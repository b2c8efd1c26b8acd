"""Layered local[4] benchmark of geo_index_spark.

    python3 layerbench/run.py --workload geojoin --seed 1 --seconds 10 --trace 0

Runs one workload (geojoin, webgeo or textdedup) in a fresh local[4]
Spark session from a single process: one client calls the workload's
operations in order, each after the previous one returned (a closed
loop), and repeats the whole pass until ``--seconds`` have passed (at
least one pass). Every operation's output is checked against an
independent numpy reference.

Output: human-readable lines, then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the run enables the
Spark UI, makes one pass with spans around every operation, then the
extra per-layer calls, and reports per-layer metrics and span self
times. Its tracing overhead is ``trace.overhead_s``, the time spent in
span bookkeeping during the pass, and ``trace.pass_s``, the traced pass
time, to set against ``pass_s`` of an untraced run of the same seed.

The benchmark imports the package from the checkout it sits in and
exits with code 2 when it is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid
from pathlib import Path

PROCESS_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# end-to-end metrics every workload reports (BENCHMARK.json end_to_end)
E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "ok_ops_ratio": "ratio",
}
# per-layer metrics every workload's traced run reports
# (BENCHMARK.json per_layer)
PER_LAYER = {
    "peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_ms": "ms",
    "trace.overhead_s": "s",
    "trace.pass_s": "s",
    "trace.spans": "count",
    "hilbert.numpy_keys_per_s": "keys/s",
    "localindex.flatbush_build_items_per_s": "items/s",
    "localindex.kdbush_build_items_per_s": "items/s",
    "localindex.flatbush_search_per_s": "queries/s",
    "localindex.flatbush_neighbors_per_s": "queries/s",
    "localindex.from_bytes_ms": "ms",
    "localindex.blob_bytes_per_item": "bytes",
}
SPARK_FIELDS = ("jobs", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb", "gc_ms")


def fail(msg: str) -> None:
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def locate_package() -> None:
    """Put the checkout on the driver's and the Python workers' path."""
    if not (ROOT / "geo_index_spark" / "__init__.py").is_file():
        fail(f"no geo_index_spark package next to {HERE.name}/ - run from a full checkout")
    sys.path[:0] = [str(ROOT), str(HERE)]
    # Python workers are launched by the JVM, which inherits this
    # environment; executorEnv below covers non-local masters
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


def start_spark(tmp: Path, trace: bool, extra: dict):
    from geo_index_spark.benchwork import BENCH_CONF
    from geo_index_spark.session import get_spark

    conf = {k: v for k, v in BENCH_CONF.items() if k != "spark.local.dir"}
    conf.update(
        {
            # spill and shuffle files go to disk in this run's temp dir
            "spark.local.dir": str(tmp / "spark-local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.memory": "3g",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.checkpointLocation": str(tmp / "stream-ckpt"),
        }
    )
    conf.update(extra)
    spark = get_spark("layerbench", master="local[4]", shuffle_partitions=8, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure the JVM goes
            proc.kill()
            proc.wait(timeout=30)


def disk_free_gb(p: Path) -> float:
    return shutil.disk_usage(p).free / 1e9


class Ctx:
    def __init__(self, spark, seed: int, tmp: Path, runner, tracer):
        self.spark = spark
        self.seed = seed
        self.tmp = tmp
        self.runner = runner
        self.tracer = tracer
        self._engine = None

    def engine_for(self, group: str | None) -> dict:
        from harness import EngineStats

        if group is None:
            return {}
        if self._engine is None:
            self._engine = EngineStats(self.spark.sparkContext)
        return self._engine.for_group(group)


def engine_per_op(ctx, ops) -> tuple[dict, dict]:
    """Spark figures per operation name and in total, read after the
    pass so that the reads stay out of its timing."""
    total = dict.fromkeys(SPARK_FIELDS, 0.0)
    per_op: dict[str, dict] = {}
    for r in ops:
        st = ctx.engine_for(r.group)
        op = per_op.setdefault("probe" if r.name.startswith("probe_") else r.name, dict.fromkeys(SPARK_FIELDS, 0.0))
        for f in SPARK_FIELDS:
            total[f] += st.get(f, 0.0)
            op[f] += st.get(f, 0.0)
    return total, per_op


def fmt(v) -> str:
    return "failed" if v is None else f"{v:.6g}"


def run(args, tmp: Path) -> dict:
    import harness
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:8]
    tracer = harness.Tracer(run_id, enabled=False)
    with harness.RssSampler() as rss:
        spark = start_spark(tmp, bool(args.trace), cls.conf())
        try:
            runner = harness.OpRunner(spark.sparkContext, tracer)
            ctx = Ctx(spark, args.seed, tmp, runner, tracer)
            w = cls(ctx)
            session_s = time.perf_counter() - PROCESS_START
            w.setup()
            setup_s = time.perf_counter() - PROCESS_START
            passes, pass_s = [], []
            tracer.enabled = bool(args.trace)
            root = tracer.start(args.workload)
            t0 = time.perf_counter()
            while not passes or (not args.trace and time.perf_counter() - t0 < args.seconds):
                tp = time.perf_counter()
                passes.append(w.run_pass())
                pass_s.append(time.perf_counter() - tp)
            tracer.finish(root)
            if args.trace:
                pass_overhead = tracer.overhead_s
                lay = tracer.start("layers")
                w.layers(passes)
                tracer.finish(lay)
                spark_tot, per_op = engine_per_op(ctx, passes[-1])
                per_op.update(engine_per_op(ctx, w.extra_ops)[1])
            results = list(runner.results)
        finally:
            stop_spark(spark)
    attempted = len(results)
    failed = sum(not r.ok for r in results)
    correct = not any(r.error and r.error.startswith("output check") for r in results)
    for r in results:
        if not r.ok:
            print(f"FAILED {r.name} after {r.seconds:.2f} s: {r.error}")
    if not args.trace:
        summary = w.summary(passes)
        print(f"workload {args.workload}: {len(passes)} pass(es), {attempted} operations, {failed} failed")
        print(f"  {'failed_ops_ratio':34s} {failed / attempted:>14.6g} ratio")
        for name, (v, unit) in summary.items():
            print(f"  {name:34s} {fmt(v):>14s} {unit}")
        print(f"  setup {setup_s:.2f} s (session up at {session_s:.2f} s); pass times " + " ".join(f"{t:.2f}" for t in pass_s))
        for name in dict.fromkeys(r.name for r in results):
            ts = [r.seconds for r in results if r.name == name]
            print(f"  {name:20s} n={len(ts):3d} median {harness.median(ts):.3f} s  " + " ".join(f"{t:.2f}" for t in ts[:8]))
        print(f"  peak_rss_mb {rss.peak / 1e6:.1f} MB")
        metrics = {
            "setup_s": setup_s,
            "pass_s": harness.median(pass_s),
            "ok_ops_ratio": (attempted - failed) / attempted,
        }
        units = E2E
    else:
        L = w.layer
        for f in SPARK_FIELDS:
            L[f"spark.{f}"] = (spark_tot[f], PER_LAYER[f"spark.{f}"])
        for op, st in per_op.items():
            for f in SPARK_FIELDS:
                L[f"{op}.spark.{f}"] = (st[f], PER_LAYER[f"spark.{f}"])
        L["peak_rss_mb"] = (rss.peak / 1e6, "MB")
        L["trace.overhead_s"] = (pass_overhead, "s")
        L["trace.pass_s"] = (pass_s[0], "s")
        L["trace.spans"] = (float(len(tracer.spans)), "count")
        selfs = tracer.self_times()
        print(f"workload {args.workload} traced: pass {pass_s[0]:.3f} s, of it {pass_overhead:.6f} s in span bookkeeping")
        print(f"spans of run {tracer.run_id} (start and end in s from process start):")
        for sp in tracer.spans:
            print(
                f"  #{sp.span_id:<3d} {sp.name:18s} parent={sp.parent!s:5s} start={sp.start - PROCESS_START:9.3f}"
                f" end={sp.end - PROCESS_START:9.3f} self={selfs[sp.span_id]:.4f} s"
            )
        print("per-layer metrics:")
        for name in sorted(L):
            v, unit = L[name]
            print(f"  {name:44s} {fmt(v):>14s} {unit}")
        metrics = {k: L[k][0] if k in L else None for k in PER_LAYER}
        units = PER_LAYER
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("geojoin", "webgeo", "textdedup", "knnjoin"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    locate_package()
    tmp = ROOT / ".layerbench_tmp" / uuid.uuid4().hex[:12]
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # every JVM of the run (launcher and driver) keeps its files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    print(f"disk free before: {disk_free_gb(tmp):.2f} GB")
    try:
        out = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass
        print(f"disk free after: {disk_free_gb(ROOT):.2f} GB; run took {time.perf_counter() - PROCESS_START:.1f} s")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
