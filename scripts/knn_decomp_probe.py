"""One-rep GEO_KNN_DEBUG stage decomposition of knn_join at a given
shape and parallelism. Runs ONE warm rep then ONE timed rep inside a
single Spark session (solo protocol: caller must ensure no other JVM is
resident), printing the per-round prep / top-job / transition split so
@8-vs-@32 scaling loss can be attributed to a stage instead of guessed.

Usage: python scripts/knn_decomp_probe.py <cpus> [n_points] [k] [left_every]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

os.environ["GEO_KNN_DEBUG"] = "1"

from pyspark.sql import functions as F

from geo_index_spark.benchwork import (
    BENCH_CONF,
    CALIB_MT_REF_SEC,
    SYNTH_BOUNDS,
    cpu_calibration_mt_sec,
    synth_points,
)
from geo_index_spark.operators.knn import knn_join
from geo_index_spark.session import get_spark

CPUS = int(sys.argv[1])
N_PTS = int(sys.argv[2]) if len(sys.argv) > 2 else 32_000_000
KNN_K = int(sys.argv[3]) if len(sys.argv) > 3 else 3
LEFT_EVERY = int(sys.argv[4]) if len(sys.argv) > 4 else 64

conf = dict(BENCH_CONF)
if not os.environ.get("KNN_RAM_SHUFFLE"):
    # default: production disk-shuffle conf; KNN_RAM_SHUFFLE=1 keeps
    # BENCH_CONF's RAM dir to separate disk-IO-bound from CPU-bound
    # stage scaling
    for k_ in (
        "spark.local.dir",
        "spark.shuffle.compress",
        "spark.shuffle.spill.compress",
    ):
        conf.pop(k_, None)
conf["spark.ui.showConsoleProgress"] = "false"
if os.environ.get("KNN_EVENTLOG"):
    conf["spark.eventLog.enabled"] = "true"
    conf["spark.eventLog.dir"] = "/tmp/spark-events"
    conf["spark.eventLog.compress"] = "false"
spark = get_spark(
    f"knn-decomp-{CPUS}",
    master=f"local[{CPUS}]",
    shuffle_partitions=CPUS * 8,
    extra_conf=conf,
)
spark.sparkContext.setLogLevel("ERROR")

right = synth_points(spark, N_PTS).persist()
right.count()
left = right.filter(F.col("row_id") % LEFT_EVERY == 0).persist()
left.count()

pre = cpu_calibration_mt_sec() / CALIB_MT_REF_SEC
print(f"[decomp {CPUS}] pre-probe {pre:.2f}", file=sys.stderr, flush=True)

t0 = time.perf_counter()
n = knn_join(left, right, KNN_K, bounds=SYNTH_BOUNDS, right_count=N_PTS).count()
print(
    f"[decomp {CPUS}] WARM rep: {time.perf_counter() - t0:.1f}s rows={n}",
    file=sys.stderr,
    flush=True,
)

t0 = time.perf_counter()
n = knn_join(left, right, KNN_K, bounds=SYNTH_BOUNDS, right_count=N_PTS).count()
dt = time.perf_counter() - t0
post = cpu_calibration_mt_sec() / CALIB_MT_REF_SEC
print(
    f"[decomp {CPUS}] TIMED rep: {dt:.1f}s rows={n} pre={pre:.2f} post={post:.2f}",
    file=sys.stderr,
    flush=True,
)
spark.stop()
