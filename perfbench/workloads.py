"""The workloads. Each one generates its inputs from the seed,
warms up, runs timed passes against the public ``roll_spark`` API, and
checks its outputs once, untimed, against an independent computation.

A pass returns its wall time, the output points it produced, the input
rows it consumed, its per-batch latencies and its operation counts.
Every call into an engine layer sits in a ``Tracer`` span named after
the engine module it enters.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import inputs


def _noop(df) -> int:
    """Materialize ``df`` without a sink; returns its column count."""
    df.write.format("noop").mode("overwrite").save()
    return len(df.columns)


def _digest_equal(a, b) -> bool:
    """Order-insensitive equality of two pandas frames over the same
    columns: the registry's stringified-row digest."""
    from tools.crosscheck import normalize

    return sorted(a.columns) == sorted(b.columns) and normalize(a) == normalize(b)


class Op:
    """Counts of one pass: operations attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted toward fail_ratio, run continues
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {e}"[:300])
            return None


# ---------------------------------------------------------------------------
# short_series
# ---------------------------------------------------------------------------


class ShortSeries:
    """Many short series: per-series Python dispatch dominates the
    Arrow-routed queries, so the batched executor should move this one."""

    name = "short_series"
    tier_points = 0
    scales = True  # carries the N -> 4N scaling pair
    n_series = 200
    warm_series = 8
    # registry query -> engine layer it enters
    QUERIES = {
        "roll_var_w10": "window_ops",
        "roll_skew_kurt_w20": "window_ops",
        "roll_mean_exp_w10": "arrow_ops",
        "roll_lm2_w20": "arrow_ops",
    }

    def prepare(self, work: str, seed: int) -> dict:
        self.sf = os.path.join(work, "sf")
        self.warm_sf = os.path.join(work, "warm")
        self.table = inputs.events(seed, self.n_series)
        inputs.write(self.table, os.path.join(self.sf, "events.parquet"))
        inputs.write(inputs.events(seed + 1, self.warm_series),
                     os.path.join(self.warm_sf, "events.parquet"))
        self.rows = self.table.num_rows
        return {"rows": self.rows, "series": self.n_series}

    def _queries(self):
        import __spark_entry__ as entry

        qs = entry.queries()
        return {q: qs[q] for q in self.QUERIES}

    def warm(self, spark) -> None:
        for fn in self._queries().values():
            _noop(fn(spark, self.warm_sf))

    def run_pass(self, spark, tracer) -> dict:
        op = Op()
        points = 0
        t0 = time.perf_counter()
        for q, fn in self._queries().items():
            with tracer.span(self.QUERIES[q], q):
                stats = op.run(q, lambda fn=fn: _noop(fn(spark, self.sf)) - 2)
            points += self.rows * (stats or 0)  # one row per input row
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "points": points, "rows_in": self.rows,
                "batch_ms": [wall * 1000.0], "op": op}

    def check(self, spark) -> list[tuple[str, bool, str]]:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(self.sf, 'events.parquet')}'"
        )
        out = []
        for q, fn in self._queries().items():
            try:
                got = fn(spark, self.sf).toPandas()
                want = con.sql(oracles[q]).df()
                ok = _digest_equal(got, want)
                out.append((q, ok, "" if ok else f"rows {len(got)} vs {len(want)}"))
            except Exception as e:
                out.append((q, False, f"{type(e).__name__}: {e}"[:300]))
        con.close()
        return out

    def kernel_time(self) -> float:
        """The Arrow-routed queries' numpy kernels, timed in this process
        on the same per-series arrays the workers receive."""
        from roll_spark.operators import kernels as K

        import __spark_entry__ as entry

        t = self.table.select(["user_id", "ts", "value"]).to_pandas()
        t = t.sort_values(["user_id", "ts"], kind="stable")
        series = [g["value"].to_numpy(np.float64) for _, g in t.groupby("user_id")]
        t0 = time.perf_counter()
        for x in series:
            K.conv_mean(x, 10, weights=np.asarray(entry._EXP10), min_obs=5)
            lag = np.concatenate([[np.nan], x[:-1]])
            X = np.column_stack([np.arange(1, len(x) + 1, dtype=np.float64), lag])
            K.conv_lm_k(X, x, 20, min_obs=20)
        return time.perf_counter() - t0

    def arrow_groups(self) -> int:
        arrow = sum(1 for layer in self.QUERIES.values() if layer == "arrow_ops")
        return arrow * self.n_series


# ---------------------------------------------------------------------------
# stream_retention
# ---------------------------------------------------------------------------


class StreamRetention:
    """The write path: event-time ordered files drained one per trigger
    through the stateful rolling variance and the 1m tier store, then
    the retention lifecycle on the drained store."""

    name = "stream_retention"
    n_series = 200
    n_files = 3
    warm_series = 8
    cutoff = "2024-01-16"  # day 16 of 30: half the store expires
    width = 10
    min_obs = 5

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.table = inputs.events(seed, self.n_series).select(
            ["event_id", "ts", "user_id", "value"])
        self.src = os.path.join(work, "stream", "src")
        inputs.write_stream_files(self.table, self.src, self.n_files)
        warm = inputs.events(seed + 1, self.warm_series).select(
            ["event_id", "ts", "user_id", "value"])
        self.warm_src = os.path.join(work, "warm", "src")
        inputs.write_stream_files(warm, self.warm_src, 1)
        self.rows = self.table.num_rows
        self.n1m = inputs.tier_rows(self.table, "user_id", 60_000_000)
        self.n1h = inputs.tier_rows(self.table, "user_id", 3_600_000_000)
        self.tier_points = self.n1m + self.n1h
        self.passes = 0
        return {"rows": self.rows, "series": self.n_series, "files": self.n_files,
                "tier_1m_rows": self.n1m, "tier_1h_rows": self.n1h}

    def _schema(self, spark, src) -> str:
        ev = spark.read.parquet(src)
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in ev.schema)

    def _one_pass(self, spark, src, base, tracer, op) -> dict:
        from roll_spark.plans.chunks import compress_policy, tiered_read
        from roll_spark.streaming.rolling import stream_roll
        from roll_spark.streaming.rollup import (
            TierStore, cascade_from_store, run_stream_to_tier,
        )

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        schema = self._schema(spark, src)
        mem = f"roll_{os.path.basename(base)}"
        r = {"mem": mem, "base": base}

        def drain_roll():
            sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
            out = stream_roll(sdf, "value", "user_id", "ts", self.width, op="var",
                              min_obs=self.min_obs, out="m")
            q = (out.writeStream.format("memory").queryName(mem).outputMode("append")
                 .option("checkpointLocation", os.path.join(base, "ck_roll"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            return str(q.id)

        before = set(self.progress.query_ids())
        t0 = time.perf_counter()
        with tracer.span("rolling", "stream_roll_var_w10"):
            r["roll_id"] = op.run("stream_roll", drain_roll)
        t1 = time.perf_counter()
        with tracer.span("rollup", "run_stream_to_tier_1m"):
            op.run("stream_to_tier", lambda: run_stream_to_tier(
                spark, src, schema, "value", "ts", "user_id", tier="1m",
                store_path=os.path.join(base, "t1m"),
                checkpoint_dir=os.path.join(base, "ck_tier"),
                max_files_per_trigger=1))
        t2 = time.perf_counter()
        new = [q for q in self.progress.query_ids() if q not in before]
        r["tier_id"] = next((q for q in new if q != r["roll_id"]), None)

        store = TierStore(spark, os.path.join(base, "t1m"), "user_id", "1m")
        cov = TierStore(spark, os.path.join(base, "t1h"), "user_id", "1h")
        with tracer.span("rollup", "cascade_from_store_1h"):
            op.run("cascade_from_store", lambda: cov.upsert(cascade_from_store(
                spark, store.path, "user_id", tiers=("1h",))["1h"]))
        with tracer.span("chunks", "compress_policy"):
            def compress():
                chunks, hot = compress_policy(spark.read.parquet(src), "value", "ts",
                                              "user_id", before=self.cutoff, bucket="month")
                chunks.write.parquet(os.path.join(base, "cold"))
                hot.write.parquet(os.path.join(base, "hot"))
            op.run("compress_policy", compress)
        with tracer.span("rollup", "expire"):
            r["dropped"] = op.run("expire", lambda: store.expire(self.cutoff, coverage=cov))
        with tracer.span("chunks", "tiered_read"):
            op.run("tiered_read", lambda: _noop(tiered_read(
                spark.read.parquet(os.path.join(base, "cold")),
                spark.read.parquet(os.path.join(base, "hot")),
                "value", "ts", "user_id")))
        t3 = time.perf_counter()
        r.update(drain_roll_s=t1 - t0, drain_tier_s=t2 - t1, lifecycle_s=t3 - t2,
                 wall_s=t3 - t0)
        return r

    def warm(self, spark) -> None:
        from perfbench.harness import ProgressLog, Tracer

        self.spark = spark
        self.progress = ProgressLog(spark)
        self._one_pass(spark, self.warm_src, os.path.join(self.work, "warm", "pass"),
                       Tracer(False), Op())

    def run_pass(self, spark, tracer) -> dict:
        op = Op()
        self.passes += 1
        base = os.path.join(self.work, "stream", f"pass{self.passes}")
        r = self._one_pass(spark, self.src, base, tracer, op)
        roll = [p for p in self.progress.batches(r["roll_id"]) if p["numInputRows"] > 0] \
            if r.get("roll_id") else []
        tier = [p for p in self.progress.batches(r["tier_id"]) if p["numInputRows"] > 0] \
            if r.get("tier_id") else []
        # one input file's latency through the ingest path: its
        # micro-batch in the rolling query plus its micro-batch in the
        # tier drain
        batch_ms = [a["durationMs"]["triggerExecution"] + b["durationMs"]["triggerExecution"]
                    for a, b in zip(roll, tier)] or [r["wall_s"] * 1000.0]  # failed drain
        drained = sum(p["numInputRows"] for p in roll + tier)
        r.update(roll_progress=roll, tier_progress=tier)
        self.last = r
        return {"wall_s": r["wall_s"], "points": self.rows + self.tier_points,
                "rows_in": drained, "ingest_s": r["drain_roll_s"] + r["drain_tier_s"],
                "batch_ms": batch_ms, "op": op, "detail": r}

    def check(self, spark) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        from roll_spark import roll_var
        from roll_spark.plans import tiers as T
        from roll_spark.streaming.rollup import TierStore

        import __spark_entry__ as entry

        r = self.last
        raw = spark.read.parquet(self.src)
        out = []

        def r3(c):
            return F.round(F.col(c) + F.lit(1.2345e-4), 3).alias("v")

        def tier_cols(df):
            return T.finalize(df).select(
                "user_id", "bucket_ts", "n", entry._r6("sum_x").alias("sum_x"),
                entry._r6("mean_x").alias("mean_x"), "min_x", "max_x",
                entry._r6("sd_x").alias("sd_x"))

        def check(name, fn):
            try:
                ok, detail = fn()
            except Exception as e:
                ok, detail = False, f"{type(e).__name__}: {e}"[:300]
            out.append((name, ok, detail))

        def streamed_var():
            got = spark.table(r["mem"]).select("user_id", "ts", r3("m")).toPandas()
            want = roll_var(raw, "value", "user_id", "ts", self.width,
                            min_obs=self.min_obs, out="m").select(
                "user_id", "ts", r3("m")).toPandas()
            return _digest_equal(got, want), f"rows {len(got)} vs {len(want)}"

        def store_1m():
            got = tier_cols(TierStore(spark, os.path.join(r["base"], "t1m"),
                                      "user_id", "1m").read()).toPandas()
            want = tier_cols(T.rollup_raw(raw, "value", "ts", "user_id", "1m").filter(
                F.col("bucket_ts") >= F.lit(self.cutoff).cast("timestamp"))).toPandas()
            return _digest_equal(got, want), f"rows {len(got)} vs {len(want)}"

        def store_1h():
            got = tier_cols(TierStore(spark, os.path.join(r["base"], "t1h"),
                                      "user_id", "1h").read()).toPandas()
            want = tier_cols(T.rollup_raw(raw, "value", "ts", "user_id", "1h")).toPandas()
            return _digest_equal(got, want), f"rows {len(got)} vs {len(want)}"

        def tiered():
            from roll_spark.plans.chunks import tiered_read

            got = tiered_read(spark.read.parquet(os.path.join(r["base"], "cold")),
                              spark.read.parquet(os.path.join(r["base"], "hot")),
                              "value", "ts", "user_id").toPandas()
            want = raw.select("user_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
                              "value").toPandas()
            return _digest_equal(got, want), f"rows {len(got)} vs {len(want)}"

        def expired():
            days = np.unique(self.table["ts"].cast("int64").to_numpy()
                             // inputs.DAY_US) * inputs.DAY_US
            want = [str(np.datetime64(int(d), "us").astype("datetime64[D]")) for d in days]
            want = [d for d in want if d < self.cutoff]
            return r["dropped"] == want, f"dropped {r['dropped']} vs {want}"

        check("stream_var_vs_batch_roll_var", streamed_var)
        check("store_1m_vs_batch_rollup_raw", store_1m)
        check("store_1h_vs_batch_rollup_raw", store_1h)
        check("tiered_read_vs_raw", tiered)
        check("expire_days_before_cutoff", expired)
        return out

    def kernel_time(self) -> float:
        """The streamed fold's kernel (Welford rolling variance), timed in
        this process on the same per-series arrays, one call per file."""
        from roll_spark.operators import kernels as K

        t = self.table.select(["user_id", "ts", "value"]).to_pandas()
        bounds = np.linspace(0, len(t), self.n_files + 1).astype(int)
        chunks = []
        for i in range(self.n_files):
            part = t.iloc[bounds[i]:bounds[i + 1]]
            chunks.append([g["value"].to_numpy(np.float64) for _, g in part.groupby("user_id")])
        t0 = time.perf_counter()
        for series in chunks:
            for x in series:
                K.online_var(x, self.width, min_obs=self.min_obs)
        return time.perf_counter() - t0

    def arrow_groups(self) -> int:
        return 0  # the stateful fold is not the grouped-map executor

    def summary(self, passes) -> dict:
        """Per-query micro-batch figures of the untraced passes."""
        from statistics import median

        def med(key, field):
            xs = [b["durationMs"][field] for p in passes for b in p["detail"][key]]
            return median(xs) if xs else None

        return {"stream": {
            "lifecycle_s": median(p["detail"]["lifecycle_s"] for p in passes),
            "rolling.batch_ms": med("roll_progress", "triggerExecution"),
            "rolling.add_batch_ms": med("roll_progress", "addBatch"),
            "rollup.batch_ms": med("tier_progress", "triggerExecution"),
            "rollup.add_batch_ms": med("tier_progress", "addBatch"),
        }}

    def layer_extra(self) -> dict:
        from pyspark.sql import functions as F

        r = self.last
        state = r["roll_progress"][-1]["stateOperators"] if r["roll_progress"] else []
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(os.path.join(r["base"], "t1m"))
                   for f in fs if f.endswith(".parquet"))
        blob, pts = self.spark.read.parquet(os.path.join(r["base"], "cold")).agg(
            F.sum(F.length("blob")), F.sum("n")).first()
        return {
            "rolling.state_bytes": (sum(s["memoryUsedBytes"] for s in state), "B"),
            "rollup.store_bytes": (size, "B"),
            "compression.bytes_per_pt": (blob / pts, "B"),
        }


WORKLOADS = {w.name: w for w in (ShortSeries, StreamRetention)}
