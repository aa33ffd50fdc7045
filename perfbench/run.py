"""Engine benchmark: one workload per run, closed loop, one job or
micro-batch in flight at a time, on ``local[nproc]``.

    python3 perfbench/run.py --workload short_series --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` under ``.perfbench_work/`` (removed when the run ends);
the full record of the run (machine, sizes, every pass, every check and,
with ``--trace 1``, every span and layer figure) is written to
``.perfbench_out/``. The last line of standard output is one JSON object:
with ``--trace 0`` it carries the end-to-end metrics, with ``--trace 1``
the per-layer metrics (see ``perfbench/PREDICTIONS.md``).
"""

from __future__ import annotations

import argparse
import faulthandler
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(driver_mem: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and let
    Python workers import ``roll_spark`` whatever their working directory."""
    for d in ("tmp", "local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["ROLL_SPARK_DRIVER_MEM"] = driver_mem
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _spark_conf(driver_mem: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={WORK / 'tmp'} "
            f"-Dderby.system.home={WORK / 'tmp'}",
        "spark.executorEnv.PYTHONPATH": str(ROOT),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _start(cpus: int, tag: str):
    from roll_spark.session import get_spark

    spark = get_spark(cpus=cpus, app_name=f"perfbench_{tag}", extra_conf=_spark_conf(os.environ["ROLL_SPARK_DRIVER_MEM"]))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit (its Python
    workers are stopped with the context)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _scaling(wl, spark, cpus, untraced):
    """Wall of one pass at local[N] against local[4N], N from the core
    count; a configuration equal to the measured one reuses its passes."""
    from perfbench.harness import Tracer, scale_pair

    n, n4 = scale_pair(cpus)
    walls = {}
    for c in (n4, n):
        if c == cpus:
            walls[c] = median(p["wall_s"] for p in untraced)
            continue
        spark.stop()
        spark = _start(c, f"{wl.name}_local{c}")
        wl.warm(spark)
        walls[c] = wl.run_pass(spark, Tracer(False))["wall_s"]
    eff = (walls[n] / walls[n4]) / (n4 / n)
    return spark, {"n": n, "4n": n4, "t_n_s": walls[n], "t_4n_s": walls[n4], "eff": eff}


def _layers(wl, tracer, sql, stages, traced, untraced, setup):
    """Per-layer figures of the traced passes, each per pass."""
    npass = len(traced)
    t_lo = min(s["t0_ms"] for s in tracer.spans if s["layer"] == "pass")
    pass_wall = sum(p["wall_s"] for p in traced)

    def span_of(t_ms):
        s = tracer.innermost(t_ms)
        return None if s is None else s["layer"]

    def sql_sum(key, layers=None):
        tot = 0.0
        for e in sql:
            if e["t_ms"] < t_lo:
                continue
            layer = span_of(e["t_ms"])
            if layer is None or (layers is not None and layer not in layers):
                continue
            tot += e["metrics"].get(key, 0.0)
        return tot / npass

    def share(layer):
        return tracer.wall_s(layer) / pass_wall

    py_nodes = [e["metrics"] for e in sql if e["t_ms"] >= t_lo
                and e["metrics"].get("python_run_s_med", 0.0) > 0]
    skews = [m["python_run_s_max"] / m["python_run_s_med"] for m in py_nodes]
    pass_stages = [s for s in stages if s["t_ms"] >= t_lo]
    run_s = sum(s["run_s"] for s in pass_stages)
    python_run = sql_sum("python_run_s")
    kernel_s = wl.kernel_time()
    d = {
        "session.start_s": (setup["start_s"], "s"),
        "python.start_s": (
            sum(e["metrics"].get("python_start_s", 0.0)
                + e["metrics"].get("python_init_s", 0.0) for e in sql), "s"),
        "python.run_s": (python_run, "s"),
        "sources.scan_s": (sql_sum("scan_s"), "s"),
        "kernels.kernel_s": (kernel_s, "s"),
        "trace.overhead_s": (
            median(p["wall_s"] for p in traced) - median(p["wall_s"] for p in untraced), "s"),
        "kernels.kernel_share": (kernel_s / python_run if python_run else 0.0, "ratio"),
        "python.task_skew": (max(skews) if skews else 0.0, "ratio"),
        "arrow_ops.groups": (wl.arrow_groups(), "count"),
        "arrow_ops.bytes_to_python": (sql_sum("bytes_to_python", {"arrow_ops"}), "B"),
        "window_ops.share": (share("window_ops"), "ratio"),
        "arrow_ops.share": (share("arrow_ops"), "ratio"),
        "chunks.share": (share("chunks"), "ratio"),
        "rolling.share": (share("rolling"), "ratio"),
        "rollup.share": (share("rollup"), "ratio"),
        "spark.tasks": (sum(s["tasks"] for s in pass_stages) / npass, "count"),
        "spark.gc_share": (sum(s["gc_s"] for s in pass_stages) / run_s if run_s else 0.0,
                           "ratio"),
        "scaling.eff": (0.0, "ratio"),
        "rolling.state_bytes": (0, "B"),
        "rollup.store_bytes": (0, "B"),
        "compression.bytes_per_pt": (0.0, "B"),
    }
    if hasattr(wl, "layer_extra"):
        d.update(wl.layer_extra())
    detail = {
        "window_ops.wall_s": tracer.wall_s("window_ops") / npass,
        "window_ops.sort_s": sql_sum("sort_s", {"window_ops"}),
        "window_ops.shuffle_bytes": sql_sum("shuffle_bytes", {"window_ops"}),
        "arrow_ops.wall_s": tracer.wall_s("arrow_ops") / npass,
        "arrow_ops.python_run_s": sql_sum("python_run_s", {"arrow_ops"}),
        "arrow_ops.bytes_from_python": sql_sum("bytes_from_python", {"arrow_ops"}),
        "rolling.python_run_s": sql_sum("python_run_s", {"rolling"}),
        "tiers.agg_s": sql_sum("agg_s"),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in pass_stages) / npass,
        "tiers.points": wl.tier_points,
    }
    for s in tracer.spans:
        if s["layer"] in ("rollup", "chunks", "rolling"):
            key = f"{s['layer']}.{s['name']}_s"
            detail[key] = detail.get(key, 0.0) + (s["t1_ms"] - s["t0_ms"]) / 1000.0 / npass
    return d, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a run that hangs fails loudly (stack dump, non-zero exit) before the
    # 180 s limit; the JVM exits when this process's pipe to it closes
    faulthandler.dump_traceback_later(170, exit=True)

    for mod in ("roll_spark", "__spark_entry__", "pyspark"):
        if importlib.util.find_spec(mod) is None:
            _fail(f"cannot import {mod!r}: run from the root of a checkout")

    from perfbench import harness as H
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()

    machine = H.machine_record()
    cpus = machine["nproc"]
    machine["driver_memory"] = H.driver_memory(H.mem_total_bytes())
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(machine["driver_memory"])
    sizes = wl.prepare(str(WORK), args.seed)

    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "machine": machine, "sizes": sizes}
    tracer = H.Tracer(bool(args.trace))
    off = H.Tracer(False)
    untraced, traced, checks, scaling = [], [], [], None
    spark = None
    try:
        with H.RssSampler() as rss:
            # one cold set-up per run: JVM launch, session start and a
            # warm-up pass on a small input (Python workers, imports, JIT)
            t0 = time.perf_counter()
            with tracer.span("session", "setup"):
                spark = _start(cpus, wl.name)
                t1 = time.perf_counter()
                wl.warm(spark)
            setup = {"start_s": t1 - t0, "setup_s": time.perf_counter() - t0}
            t_end = time.perf_counter() + args.seconds
            while not untraced or time.perf_counter() < t_end:
                untraced.append(wl.run_pass(spark, off))
            peak_rss = rss.peak_bytes
            if args.trace:
                t_end = time.perf_counter() + args.seconds / 2
                while not traced or time.perf_counter() < t_end:
                    with tracer.span("pass", f"pass{len(traced)}"):
                        traced.append(wl.run_pass(spark, tracer))

        checks = wl.check(spark)

        if args.trace:
            H.wait_listener_idle(spark)
            sql, stages = H.harvest_sql(spark), H.harvest_stages(spark)
            layer, layer_detail = _layers(wl, tracer, sql, stages, traced, untraced, setup)
            if getattr(wl, "scales", False):
                spark, scaling = _scaling(wl, spark, cpus, untraced)
                layer["scaling.eff"] = (scaling["eff"], "ratio")
    finally:
        if spark is not None:
            _shutdown(spark)

    ops = untraced + traced
    attempted = sum(p["op"].attempted for p in ops) + len(checks)
    failed = sum(p["op"].failed for p in ops) + sum(1 for c in checks if not c[1])
    correct = failed == 0

    batch = [b for p in untraced for b in p["batch_ms"]]
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "points_per_s": (median(p["points"] / p["wall_s"] for p in untraced), "points/s"),
        "ingest_rows_per_s": (
            median(p["rows_in"] / p.get("ingest_s", p["wall_s"]) for p in untraced), "rows/s"),
        "batch_p50_ms": (median(batch), "ms"),
        "peak_rss_mb": (peak_rss / 2 ** 20, "MB"),
    }
    tail = H.tail_percentile(len(batch))
    record.update(
        setup=setup, checks=checks, attempted=attempted, failed=failed,
        fail_ratio=failed / attempted,
        errors=[e for p in ops for e in p["op"].errors],
        passes=[{k: v for k, v in p.items() if k not in ("op", "detail")} for p in untraced],
        batch_samples=len(batch),
        batch_tail={f"p{tail:g}_ms": H.quantile(batch, tail / 100)} if tail else {},
        end_to_end={k: v[0] for k, v in e2e.items()},
    )
    if hasattr(wl, "summary"):
        record.update(wl.summary(untraced))
    metrics = e2e
    if args.trace:
        record.update(spans=tracer.spans, scaling=scaling,
                      per_layer={k: v[0] for k, v in layer.items()},
                      per_layer_detail=layer_detail)
        metrics = layer

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if declared != {k: u for k, (_, u) in metrics.items()}:
        _fail(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(declared)}")

    OUT.mkdir(exist_ok=True)
    out_file = OUT / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    out_file.write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(WORK, ignore_errors=True)

    print(f"workload {wl.name} seed {args.seed}: nproc {cpus}, "
          f"mem {machine['mem_total_gb']} GB, load {machine['loadavg'][0]:.2f}, "
          f"driver memory {machine['driver_memory']}, sizes {json.dumps(sizes)}")
    print(f"passes {len(untraced)} untraced, {len(traced)} traced; batch samples "
          f"{len(batch)}; fail_ratio {failed}/{attempted}; detail {out_file.relative_to(ROOT)}")
    for c in checks:
        if not c[1]:
            print(f"CHECK FAILED {c[0]}: {c[2]}")
    for e in record["errors"]:
        print(f"ERROR {e}")
    for key in ("batch_tail", "stream", "scaling"):
        if record.get(key):
            print(f"{key} {json.dumps(record[key])}")
    for k, (v, u) in metrics.items():
        print(f"  {k:28s} {v:14.6g} {u}")
    print(H.result_line(correct, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
