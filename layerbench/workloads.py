"""The three workloads. Each has a ``setup`` that generates its inputs
from the seed and hands them to the engine, a ``run_pass`` that calls
its operations in order through the ``OpRunner`` (one client, closed
loop), a ``summary`` that turns the passes into end-to-end figures and
a ``layers`` that makes the traced run's extra per-layer calls.

Sizes are scaled down from the full-size shapes so that one run of each
timed workload stays under a minute on a 4-core host. Every operation
stays on the same side of the engine's size gates as at full size (the
broadcast threshold is scaled with the input, and the two kNN joins sit
on either side of ``CERT_UPFRONT_MAX_LEFTS``).
"""

from __future__ import annotations

import contextlib
import io
import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geo_index_spark import hilbert
from geo_index_spark.localindex.flatbush import Flatbush
from geo_index_spark.localindex.kdbush import KDBush
from geo_index_spark.operators import localbuild, partitioning, tiling
from geo_index_spark.operators.join import spatial_join
from geo_index_spark.operators.knn import CERT_UPFRONT_MAX_LEFTS, knn_join
from geo_index_spark.pipeline.catalog import ParquetSnapshotCatalog
from geo_index_spark.pipeline.checkpoint import CheckpointedPipeline
from geo_index_spark.pipeline.webgeo import run_webgeo_pipeline
from geo_index_spark.streaming import stream_tile_rollup
from geo_index_spark.textops import ann, dedup
from geo_index_spark.webtext.extract import extract_text_col, geotag_col
from geo_index_spark.webtext.generate import gen_points, web_pages_pdf

import gen
import refs
from harness import median, tail_percentile

# a full-size input of 4M points ran with the session's default 64 MB
# broadcast threshold; the benchmark scales the threshold with its input
# so the self-join stays on the partitioned path and the 20k-box join on
# the broadcast path, as at full size
FULL_SIZE_POINTS = 4_000_000
FULL_SIZE_BROADCAST_BYTES = 64 * 1024 * 1024

# every operation gets at least this long before it is cancelled
DEADLINE_FLOOR_S = 5.0
DEADLINE_S = 20.0
# kNN joins get a per-left budget: the large-left call needs about
# 0.8 ms per left on a 4-core host, and the small-left call gets the same
# budget per left
KNN_DEADLINE_PER_LEFT_S = 1.5e-3

STRATEGY_CODES = {"BroadcastHashJoin": 1, "ShuffledHashJoin": 2, "SortMergeJoin": 3, "BroadcastNestedLoopJoin": 4}


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def join_strategy(df) -> int:
    """Code of the first physical join node in ``df.explain()``."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    for name, code in STRATEGY_CODES.items():
        if name in buf.getvalue():
            return code
    return 0


def pair_agg(df, lcol: str, rcol: str, mod: int, rem: int):
    """(pairs, window pairs, window checksum) of a pair table in one
    job; the window is the lefts with ``left % mod == rem``."""
    win = F.col(lcol) % F.lit(mod) == F.lit(rem)
    term = F.pmod(F.col(lcol) * F.lit(refs.CHECK_K) + F.col(rcol), F.lit(refs.CHECK_P))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(win, 1)).alias("wn"),
        F.sum(F.when(win, term)).alias("cs"),
    ).first()
    return int(row["n"]), int(row["wn"]), int(row["cs"] or 0)


def knn_deadline(n_lefts: int) -> float:
    return max(DEADLINE_FLOOR_S, KNN_DEADLINE_PER_LEFT_S * n_lefts)


class Workload:
    name = ""
    # operation name -> (end-to-end metric, unit, work units per call)
    ops: dict = {}
    # operations the traced run made for another workload's layers
    extra_ops: list = []

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.tmp = ctx.tmp
        self.layer: dict[str, tuple[float, str]] = {}

    @classmethod
    def conf(cls) -> dict:
        """Session settings the workload needs."""
        return {}

    def op(self, name, fn, check=None, deadline=DEADLINE_S):
        return self.ctx.runner.run(name, fn, deadline, check)

    def summary(self, passes: list[list]) -> dict[str, tuple[float, str]]:
        """Per operation: work per second from the median call time."""
        out = {}
        for name, (metric, unit, work) in self.ops.items():
            times = [r.seconds for p in passes for r in p if r.name == name and r.ok]
            out[metric] = (work / median(times), unit) if times else (None, unit)
        return out


class GeoJoin(Workload):
    """Spatial operators on skewed points: nearly all the work is in
    Catalyst, with almost no Python UDFs and no table writes. Covers
    both sides of the broadcast choice and the small-left side of the
    kNN left-size gate; ``KnnJoin`` adds the large-left side."""

    name = "geojoin"
    spatial = True
    knn_ops = ("knn_join_small",)
    n_points = 1_000_000
    n_boxes = 20_000
    box_half = 1e-4
    right_box_half = 0.002
    grid_level = 18
    # above and below CERT_UPFRONT_MAX_LEFTS
    n_lefts = CERT_UPFRONT_MAX_LEFTS + 1024
    n_small_lefts = 4096
    knn_k = 3
    knn_sample = 32
    # join outputs are checked pair by pair for a seeded 1/16 of the lefts
    window_mod = 16

    @classmethod
    def conf(cls) -> dict:
        thr = int(FULL_SIZE_BROADCAST_BYTES * cls.n_points / FULL_SIZE_POINTS)
        return {"spark.sql.autoBroadcastJoinThreshold": str(thr)}

    def setup(self) -> None:
        assert self.n_small_lefts <= CERT_UPFRONT_MAX_LEFTS < self.n_lefts
        ids, x, y = gen.geo_points(self.seed, self.n_points)
        self.ids, self.x, self.y = ids, x, y
        e = self.box_half
        self.boxes_np = np.stack([x - e, y - e, x + e, y + e], axis=1)
        self.pts = self._table("points", ids)
        self.boxes = self.pts.select(
            "row_id",
            (F.col("x") - e).alias("minx"),
            (F.col("y") - e).alias("miny"),
            (F.col("x") + e).alias("maxx"),
            (F.col("y") + e).alias("maxy"),
        )
        rid, rbox = gen.small_boxes(self.seed, self.n_boxes, self.right_box_half)
        self.rid, self.rbox = rid, rbox
        path = str(self.tmp / "right_boxes.parquet")
        pq.write_table(
            pa.table({"row_id": rid, "minx": rbox[:, 0], "miny": rbox[:, 1], "maxx": rbox[:, 2], "maxy": rbox[:, 3]}), path
        )
        self.rboxes = self.spark.read.parquet(path).persist()
        # (left ids, cached left table, sampling stream of the check)
        self.knn_lefts = {}
        for name, n, stream in (("knn_join", self.n_lefts, 6), ("knn_join_small", self.n_small_lefts, 7)):
            if name in self.knn_ops:
                ids_ = gen.sample_ids(self.seed, stream, self.n_points, n)
                self.knn_lefts[name] = (ids_, self._table(name, ids_), stream + 2)
        for df in [self.pts, self.rboxes] + [t for _, t, _ in self.knn_lefts.values()]:
            df.count()
        ops = {
            "hilbert_build": ("hilbert_build_rows_per_s", "rows/s", self.n_points),
            "self_join": ("self_join_rows_per_s", "rows/s", 2 * self.n_points),
            "broadcast_join": ("broadcast_join_rows_per_s", "rows/s", self.n_points + self.n_boxes),
            "knn_join": ("knn_join_lefts_per_s", "lefts/s", self.n_lefts),
            "knn_join_small": ("knn_join_small_lefts_per_s", "lefts/s", self.n_small_lefts),
        }
        self.ops = {k: v for k, v in ops.items() if k in self.knn_ops or (self.spatial and "knn" not in k)}
        self._self_ref = None
        self._bcast_ref = None
        self.window_rem = int(gen.sample_ids(self.seed, 10, self.window_mod, 1)[0])

    def _table(self, name: str, ids: np.ndarray):
        """The points with these ids, written to Parquet, read and cached."""
        path = str(self.tmp / f"{name}.parquet")
        pq.write_table(pa.table({"row_id": ids, "x": self.x[ids], "y": self.y[ids]}), path)
        return self.spark.read.parquet(path).persist()

    # -- checks (references are computed once, on first use) ----------------

    def _window_pairs(self, rid, rbox):
        w = self.ids % self.window_mod == self.window_rem
        return refs.box_pairs(self.ids[w], self.boxes_np[w], rid, rbox)

    def _check_self(self, got):
        if self._self_ref is None:
            self._self_ref = self._window_pairs(self.ids, self.boxes_np)
        return refs.check_pairs(got[1:], *self._self_ref)

    def _check_bcast(self, got):
        if self._bcast_ref is None:
            self._bcast_ref = self._window_pairs(self.rid, self.rbox)
        return refs.check_pairs(got[1:], *self._bcast_ref)

    def _check_knn(self, lefts: np.ndarray, stream: int):
        def check(pdf):
            pick = np.sort(gen.sample_ids(self.seed, stream, len(lefts), min(self.knn_sample, len(lefts))))
            sample = [(int(lefts[i]), float(self.x[lefts[i]]), float(self.y[lefts[i]])) for i in pick]
            return refs.check_knn(
                pdf["left_id"].to_numpy(np.int64),
                pdf["right_id"].to_numpy(np.int64),
                pdf["dist"].to_numpy(np.float64),
                len(lefts),
                self.knn_k,
                sample,
                self.x,
                self.y,
                self.ids,
            )

        return check

    # -- the pass ------------------------------------------------------------

    def run_pass(self) -> list:
        B = gen.BOUNDS
        out = [] if not self.spatial else [
            self.op(
                "hilbert_build",
                lambda: noop(partitioning.hilbert_partition(self.pts, 8, bounds=B, cols=("x", "y"))),
            ),
            self.op(
                "self_join",
                lambda: pair_agg(
                    spatial_join(self.boxes, self.boxes, bounds=B, grid_level=self.grid_level),
                    "left_id", "right_id", self.window_mod, self.window_rem,
                ),
                self._check_self,
            ),
            self.op(
                "broadcast_join",
                lambda: pair_agg(
                    spatial_join(self.boxes, self.rboxes), "left_id", "right_id", self.window_mod, self.window_rem
                ),
                self._check_bcast,
            ),
        ]
        for name, (ids, lefts_df, stream) in self.knn_lefts.items():
            out.append(
                self.op(
                    name,
                    lambda lefts_df=lefts_df: knn_join(
                        lefts_df, self.pts, self.knn_k, bounds=B, right_count=self.n_points
                    ).toPandas(),
                    self._check_knn(ids, stream),
                    deadline=knn_deadline(len(ids)),
                )
            )
        return out

    def layers(self, passes) -> None:
        last = {r.name: r for r in passes[-1]}
        L = self.layer
        for op, metric in (("hilbert_build", "partitioning.hilbert_partition_s"), ("self_join", "join.self_join_s"),
                           ("broadcast_join", "join.broadcast_join_s"), ("knn_join", "knn.join_s"),
                           ("knn_join_small", "knn.small_join_s")):
            if op in last:
                L[metric] = (last[op].seconds if last[op].ok else None, "s")
        if "knn_join_small" in last:
            spill = self.ctx.engine_for(last["knn_join_small"].group)
            L["knn.small_spill_mb"] = (spill.get("spill_mb", 0.0), "MB")
        kernels(self, self.x[:100_000], self.y[:100_000])
        if not self.spatial:
            return
        B = gen.BOUNDS
        ext = (B[2] - B[0], B[3] - B[1])
        keyed = self.pts.withColumns(
            {
                "gx": hilbert.grid_coord_col(F.col("x"), B[0], ext[0]),
                "gy": hilbert.grid_coord_col(F.col("y"), B[1], ext[1]),
            }
        )
        r = self.op("hilbert_key", lambda: noop(hilbert.with_hilbert_key(keyed, "gx", "gy")))
        if r.ok:
            L["hilbert.key_rows_per_s"] = (self.n_points / r.seconds, "rows/s")
        r = self.op(
            "partition_counts",
            lambda: partitioning.hilbert_partition(self.pts, 8, bounds=B, cols=("x", "y"))
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .toPandas(),
        )
        if r.ok:
            c = r.value["count"].to_numpy()
            L["partitioning.max_over_median_rows"] = (float(c.max() / np.median(c)), "ratio")
        if last["self_join"].ok:
            L["join.self_join_pairs"] = (float(last["self_join"].value[0]), "count")
        L["join.self_join_strategy"] = (
            float(join_strategy(spatial_join(self.boxes, self.boxes, bounds=B, grid_level=self.grid_level))),
            "code",
        )
        L["join.broadcast_join_strategy"] = (float(join_strategy(spatial_join(self.boxes, self.rboxes))), "code")
        # webgeo is not among the timed workloads (its run-to-run spread is
        # wider than its bound allows), so its layers are measured here
        web = WebGeo(self.ctx)
        web.setup()
        self.extra_ops = web.run_pass()
        web.layers([self.extra_ops])
        L.update({k: v for k, v in web.layer.items() if k not in L})


class WebGeo(Workload):
    """The web pipeline: checkpoint buckets, catalog snapshots and index
    blobs are written, then streamed and probed. localindex kernels and
    mapInArrow dominate; no spatial join runs."""

    name = "webgeo"
    n_pages = 2_000
    n_partitions = 4
    n_buckets = 4
    tile_level = 8
    window = "1 minute"
    n_probes = 21
    n_warm_pages = 200

    def setup(self) -> None:
        # the coordinates the generator writes into each page's geo tag
        self.lon, self.lat = gen_points(self.n_pages, self.seed)
        self.minute = (np.arange(self.n_pages) // 60).astype(np.int64)
        self.pages_path = self._write_pages(self.n_pages, "pages.parquet")
        self.input_bytes = os.path.getsize(self.pages_path)
        self.pages = self.spark.read.parquet(self.pages_path)
        self.pages.count()
        self.ops = {
            "pipeline": ("pipeline_pages_per_s", "pages/s", self.n_pages),
            "stream_tiles": ("stream_tiles_rows_per_s", "rows/s", self.n_pages),
        }
        cells = tiling.quad_cell_np(self.lon, self.lat, self.tile_level)
        self.want_tiles = refs.tile_counts(cells)
        self.want_windows = {}
        for m, c in zip(self.minute, cells):
            self.want_windows[(int(m), int(c))] = self.want_windows.get((int(m), int(c)), 0) + 1
        self.queries = gen.probe_queries(self.seed, self.n_probes, self.lon, self.lat)
        self.n_pass = 0
        self.stream_progress = []
        self._warm_up()

    def _write_pages(self, n: int, name: str) -> str:
        path = str(self.tmp / name)
        tbl = pa.Table.from_pandas(web_pages_pdf(n, self.seed), preserve_index=False)
        ts = tbl.schema.get_field_index("warc_ts")
        pq.write_table(tbl.set_column(ts, "warc_ts", tbl.column(ts).cast(pa.timestamp("us", tz="UTC"))), path)
        return path

    def _pipeline(self, pages, wd: str, n_buckets: int):
        return run_webgeo_pipeline(
            self.spark, pages, wd, num_partitions=self.n_partitions, tile_level=self.tile_level, n_buckets=n_buckets
        )

    def _stream(self, wd: str, qname: str):
        """stream_tile_rollup over the extracted stage, availableNow,
        into a memory sink; returns the sink's rows."""
        src = f"{wd}/stages/extract/data/bucket=*"
        s = self.spark.readStream.schema(self.spark.read.parquet(src).schema).parquet(src)
        q = (
            stream_tile_rollup(s, level=self.tile_level, window=self.window)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", f"{wd}/stream_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        self.stream_progress = q.recentProgress
        return self.spark.sql(f"SELECT * FROM {qname}").toPandas()

    def _warm_up(self) -> None:
        """A small pipeline, stream and one probe of each kind, so that
        the timed pass does not pay the engine's first-call costs, whose
        spread across runs is wider than the work itself."""
        wd = str(self.tmp / "webgeo_warm")
        self._pipeline(self.spark.read.parquet(self._write_pages(self.n_warm_pages, "warm_pages.parquet")), wd, 1)
        self._stream(wd, "tiles_warm")
        index = ParquetSnapshotCatalog(f"{wd}/catalog").read(self.spark, "point_index")
        for q in self.queries[:3]:
            probe(index, q)

    def _check_pipeline(self, res):
        wd = res["workdir"]
        r = res["result"]
        if r.pages != self.n_pages or r.points != self.n_pages:
            return f"pipeline counted {r.pages} pages / {r.points} points, generated {self.n_pages}"
        cat = ParquetSnapshotCatalog(f"{wd}/catalog")
        tiles = cat.read(self.spark, "tiles").toPandas()
        got = dict(zip(tiles["cell_id"].astype(np.uint64).tolist(), tiles["n_pages"].astype(int).tolist()))
        problem = refs.check_counts(got, self.want_tiles, "tile snapshot")
        if problem:
            return problem
        # the committed point table maps back onto the generated points
        pts = cat.read(self.spark, "points").select("row_id", "url", "x", "y").toPandas()
        k = pts["url"].str.rsplit("/", n=1).str[1].astype(np.int64).to_numpy()
        if not (np.array_equal(pts["x"].to_numpy(), self.lon[k]) and np.array_equal(pts["y"].to_numpy(), self.lat[k])):
            return "committed points differ from the generated geotags"
        ids = np.empty(self.n_pages, np.int64)
        ids[k] = pts["row_id"].to_numpy(np.int64)
        self.ids = ids
        self.batch_tiles = got
        return None

    def _check_stream(self, pdf):
        got = {}
        got_cells = {}
        m = ((pdf["window_start"] - pd.Timestamp("2025-01-01")) // pd.Timedelta(minutes=1)).astype(np.int64)
        for mm, c, n in zip(m, pdf["cell_id"].astype(np.uint64), pdf["n"].astype(int)):
            got[(int(mm), int(c))] = n
            got_cells[int(c)] = got_cells.get(int(c), 0) + n
        return refs.check_counts(got, self.want_windows, "stream windows") or refs.check_counts(
            got_cells, self.batch_tiles, "stream vs batch tiles"
        )

    def run_pass(self) -> list:
        self.n_pass += 1
        wd = str(self.tmp / f"webgeo_{self.n_pass}")
        out = [
            self.op(
                "pipeline",
                lambda: {"workdir": wd, "result": self._pipeline(self.pages, wd, self.n_buckets)},
                self._check_pipeline,
                deadline=60.0,
            )
        ]
        self.workdir = wd
        if not out[0].ok:
            return out
        out.append(self.op("stream_tiles", lambda: self._stream(wd, f"tiles_{self.n_pass}"), self._check_stream))
        index = ParquetSnapshotCatalog(f"{wd}/catalog").read(self.spark, "point_index")
        for q in self.queries:
            out.append(self.op(f"probe_{q[0]}", lambda q=q: probe(index, q), lambda got, q=q: refs.check_probe(
                q, got, self.lon, self.lat, self.ids)))
        return out

    def summary(self, passes) -> dict:
        out = super().summary(passes)
        lat = [r.seconds * 1e3 for p in passes for r in p if r.name.startswith("probe_") and r.ok]
        out["probe_p50_ms"] = (median(lat), "ms")
        p, v = tail_percentile(lat)
        out["probe_tail_ms"] = (v, "ms")
        out["probe_tail_percentile"] = (p, "pct")
        out["probe_samples"] = (float(len(lat)), "count")
        return out

    def layers(self, passes) -> None:
        L = self.layer
        last = passes[-1]
        for kind in ("search", "within", "knn"):
            xs = [r.seconds * 1e3 for r in last if r.name == f"probe_{kind}" and r.ok]
            L[f"localbuild.{kind}_ms"] = (median(xs), "ms")
        cat = ParquetSnapshotCatalog(f"{self.workdir}/catalog")
        pts = cat.read(self.spark, "points").select("row_id", "x", "y").persist()
        pts.count()
        r = self.op("index_build", lambda: noop(localbuild.build_partition_indexes(pts, self.n_partitions, cols=("x", "y"))))
        if r.ok:
            L["localbuild.build_s"] = (r.seconds, "s")
        index = cat.read(self.spark, "point_index")
        q = self.queries[0]
        pruned = index.filter(
            (F.col("minx") <= q[3]) & (F.col("maxx") >= q[1]) & (F.col("miny") <= q[4]) & (F.col("maxy") >= q[2])
        )
        times = []
        for _ in range(5):
            r = self.op("arrow_identity", lambda: pruned.mapInArrow(lambda it: it, pruned.schema).count())
            if r.ok:
                times.append(r.seconds * 1e3)
        L["localbuild.arrow_identity_ms"] = (median(times), "ms")
        r = self.op(
            "quad_cell_rollup",
            lambda: pts.groupBy(tiling.quad_cell_col(F.col("x"), F.col("y"), self.tile_level).alias("c")).count().collect(),
        )
        if r.ok:
            L["tiling.quad_cell_rows_per_s"] = (self.n_pages / r.seconds, "rows/s")
        r = self.op(
            "extract",
            lambda: noop(self.pages.select(extract_text_col(F.col("html")).alias("t"), *geotag_col(F.col("html")))),
        )
        if r.ok:
            L["extract.rows_per_s"] = (self.n_pages / r.seconds, "rows/s")
        lin = CheckpointedPipeline(self.spark, f"{self.workdir}/stages").metrics("extract").toPandas()
        L["checkpoint.bucket_p50_s"] = (float(np.median(lin["finished"] - lin["started"])), "s")
        L["checkpoint.buckets"] = (float(len(lin)), "count")
        scratch = ParquetSnapshotCatalog(str(self.tmp / "catalog_probe"))
        tiles = cat.read(self.spark, "tiles")
        r = self.op("catalog_write", lambda: scratch.write(tiles, "tiles"))
        if r.ok:
            L["catalog.write_s"] = (r.seconds, "s")
        written = sum(f.stat().st_size for f in Path(self.workdir).rglob("*") if f.is_file())
        L["pipeline.bytes_written_per_input_byte"] = (written / self.input_bytes, "ratio")
        prog = [p for p in self.stream_progress if p.get("durationMs")]
        if prog:
            L["stream.trigger_ms"] = (float(np.median([p["durationMs"].get("triggerExecution", 0) for p in prog])), "ms")
            L["stream.state_rows"] = (
                float(max(sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])) for p in prog)),
                "count",
            )
        blob = index.orderBy(F.col("num_items").desc()).first()
        xy = np.stack([self.lon, self.lat], axis=1)
        L["localindex.blob_bytes_per_item"] = (len(blob["tree"]) / blob["num_items"], "bytes")
        L["localindex.from_bytes_ms"] = (median_time(lambda: Flatbush.from_bytes(blob["tree"])) * 1e3, "ms")
        pts.unpersist()
        kernels(self, xy[:, 0], xy[:, 1])


def probe(index, q):
    """One probe against the committed index table, collected."""
    if q[0] == "search":
        rows = localbuild.search_partition_indexes(index, *q[1:]).toPandas()
        return set(rows["row_id"].tolist())
    if q[0] == "within":
        rows = localbuild.within_partition_indexes(index, *q[1:]).toPandas()
        return set(rows["row_id"].tolist())
    rows = localbuild.knn_partition_indexes(index, q[1], q[2], q[3]).toPandas()
    return rows["row_id"].to_numpy(np.int64), rows["dist"].to_numpy(np.float64)


class TextDedup(Workload):
    """Hashing, aggregation and shuffle plus one Arrow kernel; no
    spatial layer runs. Planted near-duplicates make every refine step
    emit pairs."""

    name = "textdedup"
    n_docs = 1_000
    doc_dup_share = 0.1
    shingle_n = 4
    tau_num, tau_den = 1, 2
    n_vectors = 20_000
    dim = 32
    vec_dup_share = 0.02
    tau = 0.95

    def setup(self) -> None:
        ids, texts, self.doc_planted = gen.documents(self.seed, self.n_docs, self.doc_dup_share)
        self.texts = dict(zip(ids.tolist(), texts))
        vid, self.vecs, self.vec_planted = gen.vectors(self.seed, self.n_vectors, self.dim, self.vec_dup_share)
        docs_path = str(self.tmp / "documents.parquet")
        vec_path = str(self.tmp / "vectors.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": texts}), docs_path)
        pq.write_table(
            pa.table({"vec_id": vid, "embedding": pa.array(list(self.vecs), pa.list_(pa.float64()))}), vec_path
        )
        self.docs = self.spark.read.parquet(docs_path)
        self.emb = self.spark.read.parquet(vec_path)
        self.docs.count()
        self.emb.count()
        self.ops = {
            "minhash": ("minhash_docs_per_s", "docs/s", self.n_docs),
            "minhash_fast": ("minhash_fast_docs_per_s", "docs/s", self.n_docs),
            "lsh": ("lsh_vectors_per_s", "vectors/s", self.n_vectors),
        }

    def _pairs(self, df, a="a_id", b="b_id") -> list[tuple[int, int]]:
        pdf = df.toPandas()
        return list(zip(pdf[a].astype(int).tolist(), pdf[b].astype(int).tolist()))

    def _check_jaccard(self, pairs):
        if not pairs:
            return "no pairs emitted"
        return refs.check_jaccard_pairs(pairs, self.texts, self.shingle_n, self.tau_num, self.tau_den)

    def _check_cosine(self, pairs):
        if not pairs:
            return "no pairs emitted"
        return refs.check_cosine_pairs(pairs, self.vecs, self.tau)

    def run_pass(self) -> list:
        kw = dict(n=self.shingle_n, num_hashes=16, tau_num=self.tau_num, tau_den=self.tau_den)
        return [
            self.op("minhash", lambda: self._pairs(dedup.minhash_near_dup_pairs(self.docs, **kw)), self._check_jaccard),
            self.op(
                "minhash_fast",
                lambda: self._pairs(dedup.minhash_near_dup_pairs_fast(self.docs, **kw)),
                self._check_jaccard,
            ),
            self.op(
                "lsh",
                lambda: self._pairs(
                    ann.lsh_cosine_near_dup_pairs_fast(self.emb, tau=self.tau, dim=self.dim, n_bands=4, n_planes=16)
                ),
                self._check_cosine,
            ),
        ]

    def layers(self, passes) -> None:
        L = self.layer
        last = {r.name: r for r in passes[-1]}
        for op, metric in (("minhash", "dedup.minhash_s"), ("minhash_fast", "dedup.minhash_fast_s"), ("lsh", "ann.lsh_s")):
            if last[op].ok:
                L[metric] = (last[op].seconds, "s")
        if last["minhash"].ok:
            L["dedup.pairs_out"] = (float(len(last["minhash"].value)), "count")
            L["dedup.planted_recall"] = (refs.recall(last["minhash"].value, self.doc_planted), "ratio")
        if last["lsh"].ok:
            L["ann.pairs_out"] = (float(len(last["lsh"].value)), "count")
            L["ann.planted_recall"] = (refs.recall(last["lsh"].value, self.vec_planted), "ratio")
        r = self.op("band_keys", lambda: noop(ann.with_lsh_band_keys_fast(self.emb, self.dim, n_bands=4, n_planes=16)))
        if r.ok:
            L["ann.band_keys_s"] = (r.seconds, "s")
        r = self.op("arrow_identity", lambda: noop(self.emb.mapInArrow(lambda it: it, self.emb.schema)))
        if r.ok:
            L["ann.arrow_identity_s"] = (r.seconds, "s")
        _, x, y = gen.geo_points(self.seed, 100_000)
        kernels(self, x, y)


def kernels(w: Workload, x: np.ndarray, y: np.ndarray) -> None:
    """Driver-side index kernels on the workload's own points (a seeded
    point sample where the workload has none). Throughputs are medians
    of five calls."""
    L = w.layer
    xy = np.stack([x, y], axis=1)
    boxes = np.concatenate([xy, xy], axis=1)
    B = gen.BOUNDS
    gx = hilbert.grid_coord(x, B[0], B[2] - B[0])
    gy = hilbert.grid_coord(y, B[1], B[3] - B[1])
    L["hilbert.numpy_keys_per_s"] = (len(x) / median_time(lambda: hilbert.hilbert_u32(gx, gy)), "keys/s")
    L["localindex.flatbush_build_items_per_s"] = (len(x) / median_time(lambda: Flatbush(boxes)), "items/s")
    L["localindex.kdbush_build_items_per_s"] = (len(x) / median_time(lambda: KDBush(xy)), "items/s")
    fb = Flatbush(boxes)
    qs = xy[:: max(1, len(xy) // 200)][:200]
    L["localindex.flatbush_search_per_s"] = (
        len(qs) / median_time(lambda: [fb.search(a - 0.05, b - 0.05, a + 0.05, b + 0.05) for a, b in qs]),
        "queries/s",
    )
    L["localindex.flatbush_neighbors_per_s"] = (
        50 / median_time(lambda: [fb.neighbors(a, b, max_results=10) for a, b in qs[:50]]),
        "queries/s",
    )
    if "localindex.from_bytes_ms" not in L:
        blob = fb.to_bytes()
        L["localindex.blob_bytes_per_item"] = (len(blob) / len(x), "bytes")
        L["localindex.from_bytes_ms"] = (median_time(lambda: Flatbush.from_bytes(blob)) * 1e3, "ms")


def median_time(fn, reps: int = 5) -> float:
    """Median seconds of ``reps`` calls of ``fn()``."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


class KnnJoin(GeoJoin):
    """Both sides of the kNN left-size gate on the geojoin points: the
    large-left call takes the density-estimate path, the small-left call
    the up-front ring-seeding path. One run takes about 75 s on a 4-core
    host, so it is runnable but not among the timed workloads."""

    name = "knnjoin"
    spatial = False
    knn_ops = ("knn_join", "knn_join_small")


WORKLOADS = {w.name: w for w in (GeoJoin, WebGeo, TextDedup, KnnJoin)}
