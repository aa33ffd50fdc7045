"""Stateful streaming rolling stats must equal the batch kernels row for
row: the state store carries each series' raw window tail across
micro-batches, and each batch runs the batch kernel over tail + batch,
so an incrementally-delivered transcript yields the numbers a cold
batch pass produces."""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pytest

from roll_spark.operators import kernels as K

N_CONVS = 6
N_TURNS = 90
WIDTH = 10


@pytest.fixture(scope="module")
def ordered_stream_dir(spark, tmp_path_factory):
    """Three parquet files per turn-range with ascending mtimes: every
    conversation's turns arrive in order across micro-batches — the
    append-only transcript-tail delivery stream_roll's contract needs."""
    base = tmp_path_factory.mktemp("roll_stream")
    rng = np.random.default_rng(77)
    rows = []
    for c in range(N_CONVS):
        vals = np.round(rng.normal(100, 20, N_TURNS), 2)
        vals[rng.random(N_TURNS) < 0.15] = np.nan
        lats = np.round(rng.normal(5, 2, N_TURNS), 2)
        lats[rng.random(N_TURNS) < 0.15] = np.nan
        for t in range(N_TURNS):
            rows.append((f"c{c}", t, t * 3600.0,
                         None if np.isnan(vals[t]) else float(vals[t]),
                         None if np.isnan(lats[t]) else float(lats[t])))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "ts_s", "text_len", "lat"])
    src = base / "src"
    os.makedirs(src)
    now = time.time()
    for i, (lo, hi) in enumerate(((0, 30), (30, 60), (60, 90))):
        part = pdf[(pdf.turn_idx >= lo) & (pdf.turn_idx < hi)]
        d = base / f"w{i}"
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite").parquet(str(d))
        f = glob.glob(str(d / "part-*.parquet"))[0]
        dst = str(src / f"turns_{i}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (now - 100 + i, now - 100 + i))
    return str(src), pdf


@pytest.mark.parametrize("op,kw", [
    ("mean", {}),
    ("sum", {}),
    ("var", {}),
    ("quantile", {"p": 0.5}),
    ("cov", {"y": "lat"}),
    ("ewma", {"halflife_s": 6 * 3600.0}),
    ("min", {}),
    ("max", {}),
    ("idxmin", {}),
    ("idxmax", {}),
    ("scale", {}),
    ("prod", {}),
])
def test_stream_roll_equals_batch(spark, ordered_stream_dir, tmp_path, op, kw):
    from roll_spark.streaming.rolling import stream_roll

    src, pdf = ordered_stream_dir
    sdf = spark.readStream.schema(
        "conv_id string, turn_idx long, ts_s double, text_len double, lat double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    # ewma orders by EVENT TIME — a numeric SECONDS column, the engine-wide
    # _epoch_micros convention; window ops order by turn
    order_col = "ts_s" if op == "ewma" else "turn_idx"
    out = stream_roll(sdf, "text_len", "conv_id", order_col, WIDTH,
                      op=op, min_obs=2, out="r", **kw)
    qname = f"roll_{op}"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / f"ck_{op}"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = (spark.table(qname).toPandas()
           .sort_values(["conv_id", order_col]).reset_index(drop=True))
    assert len(got) == N_CONVS * N_TURNS

    for c in range(N_CONVS):
        sub = pdf[pdf.conv_id == f"c{c}"].sort_values("turn_idx")
        series = sub["text_len"].to_numpy(dtype=np.float64)
        want = _batch_want(op, sub, series, min_obs=2, **kw)
        g = got[got.conv_id == f"c{c}"]["r"].to_numpy(dtype=np.float64)
        same = (g == want) | (np.isnan(g) & np.isnan(want))
        if op in _CONV_SUM_OPS:
            same |= np.isclose(g, want, rtol=0, atol=1e-9)
        assert same.all(), (op, c, np.where(~same)[0][:5])


# mean/sum sum by np.convolve, whose summation order follows memory
# alignment, and ewma rebases its decay scan at every batch: these may
# differ from the whole-series value in the last bits; every other op
# must match exactly
_CONV_SUM_OPS = ("mean", "sum", "ewma")


def _batch_want(op, sub, series, *, min_obs, p=0.5, y=None, halflife_s=None):
    """The whole-series batch kernel for ``op`` over one conversation."""
    if op == "ewma":
        t_us = np.round(sub["ts_s"].to_numpy(dtype=np.float64) * 1e6).astype(np.int64)
        return K.conv_ewma_time(series, t_us, halflife_s, min_obs=min_obs)
    if op == "cov":
        yv = sub[y].to_numpy(dtype=np.float64)
        return K.conv_cov(series, yv, WIDTH, min_obs=min_obs)
    if op == "quantile":
        return K.conv_quantile(series, WIDTH, p, min_obs=min_obs)
    kernel = {"mean": K.conv_mean, "sum": K.conv_sum, "var": K.conv_var,
              "min": K.conv_min, "max": K.conv_max, "prod": K.conv_nanprod,
              "idxmin": K.conv_idxmin, "idxmax": K.conv_idxmax,
              "scale": K.conv_scale}[op]
    return kernel(series, WIDTH, min_obs=min_obs)


@pytest.mark.parametrize("op,kw", [
    ("var", {}),
    ("quantile", {"p": 0.5}),
    ("cov", {"y": "lat"}),
    ("idxmax", {}),
])
def test_stream_roll_checkpoint_resume(spark, ordered_stream_dir, tmp_path, op, kw):
    """Crash/resume seam: drain file 1 to a parquet sink, stop, then
    restart the query on the SAME checkpoint after files 2-3 land. The
    second run starts from the state-store copy of each series' tail,
    and the union of both runs' output equals the batch kernel."""
    from roll_spark.streaming.rolling import stream_roll

    src, pdf = ordered_stream_dir
    live = tmp_path / "live"
    os.makedirs(live)
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")

    def drain(files):
        for f in files:
            shutil.copy(os.path.join(src, f), live / f)
            os.utime(live / f, os.stat(os.path.join(src, f))[7:9])
        sdf = spark.readStream.schema(
            "conv_id string, turn_idx long, ts_s double, text_len double, lat double"
        ).option("maxFilesPerTrigger", 1).parquet(str(live))
        out = stream_roll(sdf, "text_len", "conv_id", "turn_idx", WIDTH,
                          op=op, min_obs=2, out="r", **kw)
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()
        return spark.read.parquet(sink).count()

    assert drain(["turns_0.parquet"]) == N_CONVS * 30
    assert drain(["turns_1.parquet", "turns_2.parquet"]) == N_CONVS * N_TURNS
    got = (spark.read.parquet(sink).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    for c in range(N_CONVS):
        sub = pdf[pdf.conv_id == f"c{c}"].sort_values("turn_idx")
        series = sub["text_len"].to_numpy(dtype=np.float64)
        want = _batch_want(op, sub, series, min_obs=2, **kw)
        g = got[got.conv_id == f"c{c}"]["r"].to_numpy(dtype=np.float64)
        assert np.array_equal(g, want, equal_nan=True), (op, c)


def test_stream_sessionize_equals_batch(spark, tmp_path):
    """Streamed session ids == batch sessionize over the union, with
    session boundaries landing both inside micro-batches and exactly ON
    the batch seams, plus an exact-gap tie (gap == threshold => SAME
    session, the batch strict-> rule)."""
    import glob
    import os
    import shutil
    import time as _time

    import numpy as np
    import pandas as pd

    from roll_spark.plans.sessions import sessionize
    from roll_spark.streaming.sessions import stream_sessionize

    rng = np.random.default_rng(11)
    rows = []
    for c in range(6):
        t = 0.0
        for k in range(40):
            # mix: small gaps, exact-threshold gaps, and big jumps
            t += float(rng.choice([60.0, 1800.0, 3600.0, 3601.0, 20000.0]))
            rows.append((f"c{c}", t))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts_s"])
    df = spark.createDataFrame(pdf)

    want = {(r.conv_id, r.ts_s): r.session_id for r in
            sessionize(df, "conv_id", "ts_s", 3600.0).collect()}

    # four time-split files, drained one per micro-batch
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = _time.time()
    qs = pdf.ts_s.quantile([0.25, 0.5, 0.75]).tolist()
    bounds = [-np.inf] + qs + [np.inf]
    for i in range(4):
        part = pdf[(pdf.ts_s > bounds[i]) & (pdf.ts_s <= bounds[i + 1])]
        d = str(tmp_path / f"w{i}")
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite").parquet(d)
        dst = f"{src}/t{i}.parquet"
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0], dst)
        os.utime(dst, (now - 60 + i, now - 60 + i))

    sdf = spark.readStream.schema("conv_id string, ts_s double") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stream_sessionize(sdf, "conv_id", "ts_s", 3600.0)
    q = (out.writeStream.format("memory").queryName("sess_stream_t")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.conv_id, r.ts_s): r.session_id
           for r in spark.table("sess_stream_t").collect()}
    assert got == want


def test_numeric_order_seconds_guard():
    """Numeric order columns are epoch-SECONDS since 0.4.0; a caller
    still passing epoch-microseconds must get a loud ValueError, not
    int64-overflowed garbage event times (round-4 ADVICE item)."""
    import pandas as pd
    import pytest as _pt
    from roll_spark.streaming.rolling import _numeric_order_to_us

    secs = pd.Series([0.0, 1.5, 1.7e9])  # plausible epoch-seconds
    assert _numeric_order_to_us(secs).tolist() == [0, 1_500_000,
                                                   1_700_000_000_000_000]
    micros = pd.Series([1.7e15, 1.7e15 + 1e6])  # epoch-µs smell
    with _pt.raises(ValueError, match="epoch-SECONDS"):
        _numeric_order_to_us(micros)
    # a NaN order value would pass a NaN-skipping max and cast to int64 min
    with _pt.raises(ValueError, match="NaN"):
        _numeric_order_to_us(pd.Series([1.0, np.nan, 2.0]))
