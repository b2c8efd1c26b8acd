"""k-nearest-neighbors with geo-index ordering semantics.

Reference contract (src/rtree/trait.rs:198-302): results ascend by
distance; ``max_distance`` prunes (inclusive); ``max_results`` caps.
Tie order in the reference is heap-internal, so we pin the deterministic
tiebreak ``(dist, row_id)`` (SURVEY.md §2.3.3).

Spark plan: distance is a pure Catalyst expression (hypot / haversine
built from JVM math functions — no Python), then
``orderBy(dist, row_id).limit(k)`` which Catalyst executes as
``TakeOrderedAndProject``: each partition computes a local top-k
map-side and only k rows per partition reach the driver-side merge.
That is exactly the reference's best-first "local candidates, global
merge" shape, and it scales linearly with partition count. On
Hilbert-clustered storage, an optional ``prefilter_radius`` turns the
scan into a pushed-down bbox filter first.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6378137.0  # reference src/rtree/distance.rs (WGS84 semi-major)


def euclidean_dist_col(x: Column, y: Column, qx: float, qy: float) -> Column:
    dx = x - F.lit(float(qx))
    dy = y - F.lit(float(qy))
    return F.sqrt(dx * dx + dy * dy)


def haversine_dist_col(lon: Column, lat: Column, qlon: float, qlat: float) -> Column:
    """Great-circle meters, same formula as reference
    src/rtree/distance.rs:84-114 — all JVM built-ins."""
    lat1 = F.radians(F.lit(float(qlat)))
    lat2 = F.radians(lat)
    dlat = F.radians(lat - F.lit(float(qlat)))
    dlon = F.radians(lon - F.lit(float(qlon)))
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin(dlon / 2), 2)
    h = F.least(h, F.lit(1.0))
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(h))


def box_distance_col(
    minx: Column, miny: Column, maxx: Column, maxy: Column, qx: float, qy: float
) -> Column:
    """Euclidean distance from point (qx, qy) to a box, 0 inside —
    the reference's axis_dist composition (src/rtree/trait.rs:570-579)."""
    dx = F.greatest(F.lit(0.0), F.greatest(minx - F.lit(float(qx)), F.lit(float(qx)) - maxx))
    dy = F.greatest(F.lit(0.0), F.greatest(miny - F.lit(float(qy)), F.lit(float(qy)) - maxy))
    return F.sqrt(dx * dx + dy * dy)


def knn_boxes(
    df: DataFrame,
    qx: float,
    qy: float,
    k: int,
    max_distance: float | None = None,
    cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    id_col: str = "row_id",
) -> DataFrame:
    """Q3/Q5 over a BOX table: top-k boxes by point-to-box distance
    (the reference's native kNN operates on leaf boxes; geometry
    queries refine the same lower bound, src/rtree/trait.rs:397-500)."""
    mnx, mny, mxx, mxy = (F.col(c) for c in cols)
    out = df.withColumn("dist", box_distance_col(mnx, mny, mxx, mxy, qx, qy))
    if max_distance is not None:
        out = out.filter(F.col("dist") <= F.lit(float(max_distance)))
    return out.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(int(k))


# ---------------------------------------------------------------------------
# Q5 full: kNN by query GEOMETRY (reference neighbors_geometry,
# src/rtree/trait.rs:397-500 + GeometryAccessor trait.rs:43-52)
# ---------------------------------------------------------------------------


def _geom_edges(vertices: list[list[float]], geom_type: str) -> list[tuple[float, float, float, float]]:
    """(x1, y1, x2, y2) edge list; polygons close the ring (dropping a
    duplicated closing vertex first), polylines don't."""
    v = [(float(p[0]), float(p[1])) for p in vertices]
    if geom_type == "polygon" and len(v) >= 2 and v[0] == v[-1]:
        v = v[:-1]
    n = len(v)
    if n < 2:
        raise ValueError("geometry needs at least 2 vertices")
    last = n if geom_type == "polygon" else n - 1
    return [(v[i][0], v[i][1], v[(i + 1) % n][0], v[(i + 1) % n][1]) for i in range(last)]


def geom_bounds(vertices: list[list[float]]) -> tuple[float, float, float, float]:
    xs = [float(p[0]) for p in vertices]
    ys = [float(p[1]) for p in vertices]
    return (min(xs), min(ys), max(xs), max(ys))


def point_to_geom_np(px, py, vertices: list[list[float]], geom_type: str):
    """Vectorized exact point-to-geometry distance (numpy twin of
    :func:`geom_distance_col`; also the >32-edge Arrow fast path).
    Polyline: min point-to-segment distance. Polygon: 0 inside
    (even-odd ray cast), else min distance to the ring."""
    import numpy as np

    px = np.asarray(px, np.float64)[:, None]
    py = np.asarray(py, np.float64)[:, None]
    e = np.array(_geom_edges(vertices, geom_type), dtype=np.float64)
    x1, y1, x2, y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / l2
    t = np.where(l2 == 0.0, 0.0, np.clip(t, 0.0, 1.0))
    cx = x1 + t * dx
    cy = y1 + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    d = np.sqrt(d2.min(axis=1))
    if geom_type == "polygon":
        from geo_index_spark.operators.pip import ray_cast_np

        ring = np.array([[p[0], p[1]] for p in vertices], dtype=np.float64)
        inside = ray_cast_np(px[:, 0], py[:, 0], ring)
        d = np.where(inside, 0.0, d)
    return d


def geom_distance_col(x: Column, y: Column, vertices: list[list[float]], geom_type: str = "polyline") -> Column:
    """Exact point-to-geometry distance as a PURE CATALYST expression —
    the geometry is a literal, so every edge's dx/dy/l2 folds to a
    Python-computed double and the whole thing stays in whole-stage
    codegen. Per edge: t = clamp(((p-a).(b-a))/|b-a|^2, 0, 1),
    d2 = |p - (a + t(b-a))|^2; distance = sqrt(min over edges);
    polygons short-circuit to 0 when the even-odd ray cast says inside.
    Use :func:`point_to_geom_np` via mapInPandas for geometries with
    thousands of edges (a flat least() over ~1e3 subtrees stops being
    a reasonable codegen unit)."""
    edges = _geom_edges(vertices, geom_type)
    d2s = []
    for (x1, y1, x2, y2) in edges:
        dx, dy = x2 - x1, y2 - y1
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d2s.append((x - F.lit(x1)) * (x - F.lit(x1)) + (y - F.lit(y1)) * (y - F.lit(y1)))
            continue
        t_raw = ((x - F.lit(x1)) * F.lit(dx) + (y - F.lit(y1)) * F.lit(dy)) / F.lit(l2)
        t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
        cx = F.lit(x1) + t * F.lit(dx)
        cy = F.lit(y1) + t * F.lit(dy)
        d2s.append((x - cx) * (x - cx) + (y - cy) * (y - cy))
    d = F.sqrt(F.least(*d2s) if len(d2s) > 1 else d2s[0])
    if geom_type == "polygon":
        # even-odd crossing parity, same test as pip.ray_cast_np
        crossings = None
        for (x1, y1, x2, y2) in edges:
            if y1 == y2:
                continue
            xin = F.lit(x2 - x1) * (y - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
            c = F.when(
                ((F.lit(y1) > y) != (F.lit(y2) > y)) & (x < xin), F.lit(1)
            ).otherwise(F.lit(0))
            crossings = c if crossings is None else crossings + c
        inside = (crossings % 2 == 1) if crossings is not None else F.lit(False)
        d = F.when(inside, F.lit(0.0)).otherwise(d)
    return d


MAX_CODEGEN_EDGES = 64


def _geom_dist_arrow(vertices: list[list[float]], geom_type: str):
    """Arrow-batched exact distance (pandas_udf over point_to_geom_np)
    for geometries too large to inline as one codegen expression."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def dist(px: pd.Series, py: pd.Series) -> pd.Series:
        return pd.Series(point_to_geom_np(px.to_numpy(), py.to_numpy(), vertices, geom_type))

    return dist


def knn_geometry(
    df: DataFrame,
    vertices: list[list[float]],
    k: int,
    geom_type: str = "polyline",
    max_distance: float | None = None,
    cols: tuple[str, str] = ("x", "y"),
    id_col: str = "row_id",
    two_phase: bool = True,
) -> DataFrame:
    """Exact top-k rows by distance to a query geometry — the
    reference's ``neighbors_geometry`` (candidate lower bound by bbox,
    exact geom refine on candidates; src/rtree/trait.rs:397-500).

    Two-phase exact plan: (1) seed top-k by the bbox lower bound
    (TakeOrderedAndProject — k rows to the driver) and read their MAX
    exact distance D; any true top-k row has exact <= D and bbox lower
    bound <= exact, so (2) ``filter(lb <= D)`` is a complete candidate
    set — the exact distance is then computed only on candidates and
    merged with the same (dist, id) tiebreak. The phase-1 collect is k
    SCALARS (not data rows) — driver-tiny at any scale — but it does
    serialize two jobs per query; ``two_phase=False`` trades the prune
    for a single full-scan job when query latency matters more than
    scan cost. Both phases are pure
    Catalyst for geometries up to ``MAX_CODEGEN_EDGES`` edges; larger
    geometries switch the exact distance to the Arrow-batched numpy
    kernel (same formula, so results agree to IEEE-double exactness —
    pytest-pinned), while the lower-bound prune stays Catalyst."""
    x, y = (F.col(c) for c in cols)
    gb = geom_bounds(vertices)
    # bbox lower bound: geometry is inside its bbox, so
    # dist(p, bbox) <= dist(p, geom) — the same axis_dist composition
    # as box_distance_col with the box literal and the point a column
    ddx = F.greatest(F.lit(0.0), F.greatest(F.lit(gb[0]) - x, x - F.lit(gb[2])))
    ddy = F.greatest(F.lit(0.0), F.greatest(F.lit(gb[1]) - y, y - F.lit(gb[3])))
    lb = F.sqrt(ddx * ddx + ddy * ddy)
    if len(_geom_edges(vertices, geom_type)) <= MAX_CODEGEN_EDGES:
        exact = geom_distance_col(x, y, vertices, geom_type)
    else:
        exact = _geom_dist_arrow(vertices, geom_type)(x, y)
    out = df
    if two_phase:
        seeds = (
            df.withColumn("_lb", lb)
            .withColumn("dist", exact)
            .orderBy(F.col("_lb").asc(), F.col(id_col).asc())
            .limit(int(k))
            .select("dist")
            .collect()
        )
        if len(seeds) >= int(k) and seeds:
            D = max(r["dist"] for r in seeds)
            if max_distance is not None:
                D = min(D, float(max_distance))
            out = out.filter(lb <= F.lit(float(D)))
    out = out.withColumn("dist", exact)
    if max_distance is not None:
        out = out.filter(F.col("dist") <= F.lit(float(max_distance)))
    return out.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(int(k))


# fragment count for the tail-round salted two-stage top-k: each giant
# left group is sorted as this many parallel fragments (stage A), then
# the <= TAIL_SALT * k survivors per left merge in stage B. 64 keeps
# every fragment sort comfortably sub-second at ~10^6-candidate lefts
# while the stage-B input stays small (lefts * 64 * k rows max).
TAIL_SALT = 64

# levels to shift tail-round buckets FINER than the cell >= box
# quantization (clamped at level 16): box/cell lands in (4, 16], i.e.
# ~36-324 exploded cells per left — tightly covering the box so dense
# cells are no longer swept whole. Post-refinement tail radii are small
# enough that the per-bucket 2M exploded-row estimate cap (which
# demotes a bucket to a partitioned join) keeps the broadcast bounded
# even at the 65,536-left tail ceiling.
TAIL_LVL_EXTRA = 4

# tail ring-refinement fine grid: 2^TAIL_RING_EXTRA x finer cells than
# the coarse density grid, counted ONLY over the tail neighborhoods
# (the coarse-cellset semi join), so the near-singleton-group hazard of
# a global fine grid never applies. Collect cap bounds driver memory.
TAIL_RING_EXTRA = 4
TAIL_RING_MAX_CELLS = 2_000_000

# biggest per-left in-box candidate group a single window task sorts
# comfortably; above it the tail top-k goes salted two-stage
TAIL_SALT_MIN_GROUP = 65_536

# a round is a TAIL round (driver-side cellset prefilter + fine-grid
# ring refinement + finer bucket levels + salted two-stage top-k) when
# its radii are certified ring bounds (every round after round 0) and
# this few lefts remain.
TAIL_MAX_LEFTS = 65_536
CERT_UPFRONT_MAX_LEFTS = TAIL_MAX_LEFTS  # old name, imported by layerbench/workloads.py


def _sparse_ring_refine(
    fx,
    fy,
    fcnt,
    nc_f: int,
    cell_f: float,
    bounds: tuple[float, float, float, float],
    px,
    py,
    r_old,
    k: int,
    metric: str,
    r_floor: float,
):
    """Sparse-grid twin of :func:`_ring_certified_radii` for tail
    survivors: per-left smallest Chebyshev ring j of FINE cells whose
    box holds >= k counted rights, bounded by the box's farthest-corner
    distance, returned as ``min(r_old, bound)`` — never looser than the
    already-certified ``r_old``. The counts (fx, fy, fcnt) need only
    cover each left's r_old box (the tail cellset region): missing
    cells UNDERCOUNT, which inflates j and the bound, never breaks it
    (the box still holds >= k real rights). Coarse-grid ring bounds are
    the certified-radius overshoot hazard in person — a 0.7-degree cell
    ring around a void next to a 0.2-degree city cluster certifies at
    ~1 degree and its ball swallows the whole cluster (measured 137k
    in-ball candidates per tail left, a 69M-pair window sort at the 32M
    probe); 16x finer cells certify at ~the true kth-NN scale.

    Returns ``(radii, boxcnt)`` where ``boxcnt[i]`` is an EXACT count
    of counted rights inside left i's final-radius box (the region
    covers every r_old box and the final box is a subset, so nothing
    is missed) — or ``2**62`` where refinement could not fire. The
    caller uses ``boxcnt.max()`` to decide whether any tail group is
    big enough to need the salted two-stage top-k."""
    import numpy as np

    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    r_old = np.asarray(r_old, np.float64)
    n = len(px)
    out = r_old.copy()
    boxcnt = np.full(n, 2**62, np.int64)
    if n == 0 or len(fx) == 0:
        return out, boxcnt
    lox, loy = bounds[0], bounds[1]
    order = np.argsort(fx, kind="stable")
    fx = np.asarray(fx, np.int64)[order]
    fy = np.asarray(fy, np.int64)[order]
    fcnt = np.asarray(fcnt, np.int64)[order]
    cx = np.clip(((px - lox) / cell_f).astype(np.int64), 0, nc_f - 1)
    cy = np.clip(((py - loy) / cell_f).astype(np.int64), 0, nc_f - 1)
    # per-left Chebyshev search window: must contain ball(r_old), whose
    # lat half-extent is r_old degrees (euclidean) or the meridian arc
    # (haversine) — enough for termination: the window box covers the
    # ball, which holds >= k (r_old is certified), so cum >= k fires
    # unless clipping/wrap dropped cells, in which case keep r_old.
    if metric == "haversine":
        # lon half-extent exceeds the meridian arc by 1/cos(lat) — the
        # same correction jb applies below; without it a high-latitude
        # window misses part of the r_old ball, the refinement silently
        # no-ops and the boxcnt probe undercounts (ADVICE r6)
        half_deg = np.degrees(r_old / EARTH_RADIUS_M)
        half_deg = half_deg / np.maximum(np.cos(np.radians(py)), 1e-6)
    else:
        half_deg = r_old
    jmax = np.ceil(half_deg / cell_f).astype(np.int64) + 1
    for i in range(n):
        lo_i = np.searchsorted(fx, cx[i] - jmax[i], side="left")
        hi_i = np.searchsorted(fx, cx[i] + jmax[i], side="right")
        if hi_i <= lo_i:
            continue
        sel_fy = fy[lo_i:hi_i]
        m = np.abs(sel_fy - cy[i]) <= jmax[i]
        if not m.any():
            continue
        d = np.maximum(
            np.abs(fx[lo_i:hi_i][m] - cx[i]), np.abs(sel_fy[m] - cy[i])
        )
        c = fcnt[lo_i:hi_i][m]
        if c.sum() < k:
            continue
        ds = np.argsort(d, kind="stable")
        cum = np.cumsum(c[ds])
        j = int(d[ds][np.searchsorted(cum, k)])
        x0 = max(0, int(cx[i]) - j)
        x1 = min(nc_f - 1, int(cx[i]) + j)
        y0 = max(0, int(cy[i]) - j)
        y1 = min(nc_f - 1, int(cy[i]) + j)
        dx = max(px[i] - (lox + x0 * cell_f), (lox + (x1 + 1) * cell_f) - px[i])
        dy = max(py[i] - (loy + y0 * cell_f), (loy + (y1 + 1) * cell_f) - py[i])
        if metric == "haversine":
            rb = EARTH_RADIUS_M * (np.radians(dy) + np.radians(dx))
        else:
            rb = float(np.sqrt(dx * dx + dy * dy))
        rb *= 1.0 + 1e-9
        out[i] = min(out[i], max(rb, r_floor))
        if metric == "haversine":
            # lon half-extent exceeds the meridian arc by 1/cos(lat);
            # overcounting only biases the caller toward salting (safe)
            hd = np.degrees(out[i] / EARTH_RADIUS_M)
            hd = hd / max(np.cos(np.radians(py[i])), 1e-6)
        else:
            hd = out[i]
        jb = int(np.ceil(hd / cell_f)) + 1
        boxcnt[i] = int(c[d <= jb].sum())
    return out, boxcnt


def _ring_certified_radii(
    P,
    nc_d: int,
    cell_d: float,
    bounds: tuple[float, float, float, float],
    px,
    py,
    k: int,
    metric: str,
    cover_r: float,
    r_floor: float,
):
    """Vectorized CERTIFIED-COMPLETE kth-NN radius bounds from the
    coarse 2-D prefix sum ``P`` ((nc_d+1)^2 int64) over the right-point
    cell counts: for each left, the smallest Chebyshev cell ring ``j``
    whose (grid-clamped) box holds >= k rights bounds the kth-NN
    distance by the farthest-corner distance of that box — euclidean
    ``sqrt(dx^2 + dy^2)``, haversine the meridian+parallel path bound
    ``R * (radians(dy) + radians(dx))`` (a parallel arc at latitude phi
    has length R*cos(phi)*dlon <= R*dlon, and a great circle is never
    longer than any path, so the bound is valid at every latitude).
    Grid clamping only LOOSENS the bound for antimeridian-adjacent
    lefts (their true ring wraps, ours doesn't — j comes out larger),
    never breaks it. Lefts whose full grid holds < k rights get
    ``cover_r`` (the unconditional-certify radius). Requires every
    right within ``bounds`` — the same contract cover-radius
    certification already relies on."""
    import numpy as np

    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    n = len(px)
    if n == 0:
        return np.empty(0, np.float64)
    lox, loy = bounds[0], bounds[1]
    cx = np.clip(((px - lox) / cell_d).astype(np.int64), 0, nc_d - 1)
    cy = np.clip(((py - loy) / cell_d).astype(np.int64), 0, nc_d - 1)

    def boxsum(j):
        x0 = np.maximum(0, cx - j)
        x1 = np.minimum(nc_d - 1, cx + j)
        y0 = np.maximum(0, cy - j)
        y1 = np.minimum(nc_d - 1, cy + j)
        return P[x1 + 1, y1 + 1] - P[x0, y1 + 1] - P[x1 + 1, y0] + P[x0, y0]

    hi = np.full(n, nc_d - 1, dtype=np.int64)
    covered = boxsum(hi) < k  # < k rights anywhere: full-cover certify
    lo = np.zeros(n, dtype=np.int64)
    while True:  # vectorized lower-bound binary search over ring j
        active = lo < hi
        if not active.any():
            break
        mid = (lo + hi) // 2
        ge = boxsum(mid) >= k
        hi = np.where(active & ge, mid, hi)
        lo = np.where(active & ~ge, mid + 1, lo)
    j = lo
    x0 = np.maximum(0, cx - j)
    x1 = np.minimum(nc_d - 1, cx + j)
    y0 = np.maximum(0, cy - j)
    y1 = np.minimum(nc_d - 1, cy + j)
    dx = np.maximum(px - (lox + x0 * cell_d), (lox + (x1 + 1) * cell_d) - px)
    dy = np.maximum(py - (bounds[1] + y0 * cell_d), (bounds[1] + (y1 + 1) * cell_d) - py)
    if metric == "haversine":
        rb = EARTH_RADIUS_M * (np.radians(dy) + np.radians(dx))
    else:
        rb = np.sqrt(dx * dx + dy * dy)
    rb = rb * (1.0 + 1e-9)  # headroom over Catalyst double rounding
    rb = np.where(covered, cover_r, rb)
    return np.clip(rb, r_floor, cover_r)


def _knn_point_candidates(
    rem: DataFrame,
    rpts: DataFrame,
    bounds: tuple[float, float, float, float],
    level: int,
    metric: str,
    shuffle_hash: bool = True,
) -> DataFrame:
    """Candidate (left_id, right_id, dist, r) pairs for one knn_join
    round: every right point lying in a grid cell touched by the left's
    per-row radius box. Point-specialized: the right side ships only
    (id, x, y, cell) — 1 cell per point, no box columns — roughly
    halving the shuffled bytes of the join's big side vs the generic
    box-box :func:`~geo_index_spark.operators.join.spatial_join`, and
    pair uniqueness is structural (a point is in exactly one cell) so
    no reference-cell dedup predicate is needed. Candidates are a
    SUPERSET of the box (whole touched cells) — harmless, the top-k
    window keeps the closest and certification only needs completeness.
    Haversine boxes may wrap into 2 disjoint lon segments; a
    lon-containment residual keeps a pair in its own segment's cells so
    it cannot be emitted once per segment."""
    from geo_index_spark.operators.join import (
        _cell_coord,
        haversine_candidate_boxes,
        haversine_pair_col,
    )

    nc = 1 << level
    lox, loy, hix, hiy = bounds
    inv_wx = nc / (hix - lox) if hix > lox else 0.0
    inv_wy = nc / (hiy - loy) if hiy > loy else 0.0

    residual = None
    if metric == "haversine":
        lb = haversine_candidate_boxes(
            rem, F.col("r"), id_col="lid", lon_col="px", lat_col="py", keep=("r",)
        )
        le = lb.select(
            F.col("row_id").alias("left_id"),
            "px",
            "py",
            "r",
            "minx",
            "maxx",
            _cell_coord(F.col("minx"), lox, inv_wx, nc).alias("cx0"),
            _cell_coord(F.col("maxx"), lox, inv_wx, nc).alias("cx1"),
            _cell_coord(F.col("miny"), loy, inv_wy, nc).alias("cy0"),
            _cell_coord(F.col("maxy"), loy, inv_wy, nc).alias("cy1"),
        )
        # segment-containment residual (lon only — the lat band is the
        # same for both wrap segments, so lon alone kills cross-segment
        # duplicates when the inter-segment gap fits inside one cell)
        residual = (F.col("qx") >= F.col("minx")) & (F.col("qx") <= F.col("maxx"))
    else:
        le = rem.select(
            F.col("lid").alias("left_id"),
            "px",
            "py",
            "r",
            _cell_coord(F.col("px") - F.col("r"), lox, inv_wx, nc).alias("cx0"),
            _cell_coord(F.col("px") + F.col("r"), lox, inv_wx, nc).alias("cx1"),
            _cell_coord(F.col("py") - F.col("r"), loy, inv_wy, nc).alias("cy0"),
            _cell_coord(F.col("py") + F.col("r"), loy, inv_wy, nc).alias("cy1"),
        )
    le = (
        le.select("*", F.explode(F.sequence(F.col("cx0"), F.col("cx1"))).alias("cx"))
        .select("*", F.explode(F.sequence(F.col("cy0"), F.col("cy1"))).alias("cy"))
        .withColumn("cell", F.col("cx") * F.lit(nc) + F.col("cy"))
        .drop("cx0", "cx1", "cy0", "cy1", "cx", "cy")
    )
    re = rpts.select(
        F.col("rid").alias("right_id"),
        "qx",
        "qy",
        (
            _cell_coord(F.col("qx"), lox, inv_wx, nc) * F.lit(nc)
            + _cell_coord(F.col("qy"), loy, inv_wy, nc)
        ).alias("cell"),
    )
    # SHUFFLE_HASH on the exploded-lefts side: the partitioned-bucket
    # join's build side is the exploded lefts (~9 cells/left), far
    # smaller than the right table per partition — a sort-merge join
    # would SORT all of right by cell, the single most expensive part of
    # the round-0 job (measured ~1/3 of the 32M top job). The hint is
    # per-join, so no session-wide preferSortMergeJoin change leaks to
    # other operators. ``shuffle_hash=False`` (caller estimated the
    # exploded lefts too big for an unspillable per-partition hash
    # relation, ADVICE r6) falls back to the planner's sort-merge.
    j = (le.hint("SHUFFLE_HASH") if shuffle_hash else le).join(re, "cell", "inner")
    if residual is not None:
        j = j.filter(residual)
    if metric == "haversine":
        d = haversine_pair_col(F.col("px"), F.col("py"), F.col("qx"), F.col("qy"))
    else:
        dx = F.col("px") - F.col("qx")
        dy = F.col("py") - F.col("qy")
        d = F.sqrt(dx * dx + dy * dy)
    return j.select("left_id", "right_id", d.alias("dist"), "r")


def _knn_point_candidates_multi(
    rem: DataFrame,
    rpts: DataFrame,
    bounds: tuple[float, float, float, float],
    levels: list[int],
    metric: str,
    lvl_col: Column,
) -> DataFrame:
    """Multilevel variant of :func:`_knn_point_candidates` for the
    all-broadcast case: every level bucket joins in ONE pass by keying
    on (level, cell) — the broadcast side holds each left exploded at
    its OWN quantized level, and the right side explodes each point
    once per PRESENT level (a literal array, so |levels| <= 7 rows per
    point) instead of being scanned once per bucket."""
    from geo_index_spark.operators.join import (
        haversine_candidate_boxes,
        haversine_pair_col,
    )

    lox, loy, hix, hiy = bounds
    nc_l = F.pow(F.lit(2.0), F.col("_lvl"))  # exact in doubles up to 2^16
    inv_x = nc_l * F.lit(1.0 / (hix - lox)) if hix > lox else F.lit(0.0)
    inv_y = nc_l * F.lit(1.0 / (hiy - loy)) if hiy > loy else F.lit(0.0)

    def _cc(v, lo, inv):
        g = F.floor((v - F.lit(lo)) * inv)
        return F.greatest(F.lit(0), F.least(nc_l - 1, g)).cast("long")

    residual = None
    if metric == "haversine":
        lb = haversine_candidate_boxes(
            rem.withColumn("_lvl", lvl_col),
            F.col("r"),
            id_col="lid",
            lon_col="px",
            lat_col="py",
            keep=("r", "_lvl"),
        )
        le = lb.select(
            F.col("row_id").alias("left_id"),
            "px",
            "py",
            "r",
            "_lvl",
            "minx",
            "maxx",
            _cc(F.col("minx"), lox, inv_x).alias("cx0"),
            _cc(F.col("maxx"), lox, inv_x).alias("cx1"),
            _cc(F.col("miny"), loy, inv_y).alias("cy0"),
            _cc(F.col("maxy"), loy, inv_y).alias("cy1"),
        )
        residual = (F.col("qx") >= F.col("minx")) & (F.col("qx") <= F.col("maxx"))
    else:
        le = rem.withColumn("_lvl", lvl_col).select(
            F.col("lid").alias("left_id"),
            "px",
            "py",
            "r",
            "_lvl",
            _cc(F.col("px") - F.col("r"), lox, inv_x).alias("cx0"),
            _cc(F.col("px") + F.col("r"), lox, inv_x).alias("cx1"),
            _cc(F.col("py") - F.col("r"), loy, inv_y).alias("cy0"),
            _cc(F.col("py") + F.col("r"), loy, inv_y).alias("cy1"),
        )
    le = (
        le.select("*", F.explode(F.sequence(F.col("cx0"), F.col("cx1"))).alias("cx"))
        .select("*", F.explode(F.sequence(F.col("cy0"), F.col("cy1"))).alias("cy"))
        .withColumn("cell", F.col("cx") * nc_l.cast("long") + F.col("cy"))
        .drop("cx0", "cx1", "cy0", "cy1", "cx", "cy")
    )
    re = rpts.select(
        F.col("rid").alias("right_id"),
        "qx",
        "qy",
        F.explode(F.array(*[F.lit(int(l)) for l in levels])).alias("_lvl"),
    ).withColumn(
        "cell", _cc(F.col("qx"), lox, inv_x) * nc_l.cast("long") + _cc(F.col("qy"), loy, inv_y)
    )
    j = F.broadcast(le).join(re, ["_lvl", "cell"], "inner")
    if residual is not None:
        j = j.filter(residual)
    if metric == "haversine":
        d = haversine_pair_col(F.col("px"), F.col("py"), F.col("qx"), F.col("qy"))
    else:
        dx = F.col("px") - F.col("qx")
        dy = F.col("py") - F.col("qy")
        d = F.sqrt(dx * dx + dy * dy)
    return j.select("left_id", "right_id", d.alias("dist"), "r")


def _split_buckets(
    buckets: list[tuple[int, int, float]], ext_u: float
) -> tuple[list[list], list[tuple[int, float]], dict[int, int]]:
    """Plan one round's candidate joins from its (level, count, max r)
    buckets. Returns ``(small, big_parts, lvl_remap)``: ``small`` holds
    ``[lvl, cnt, rmx, est]`` for the buckets that share ONE broadcast
    multilevel join (a single pass over right keyed on (level, cell)),
    ``big_parts`` holds ``(lvl, est)`` for the buckets that each get a
    partitioned join, and ``lvl_remap`` maps folded levels to the level
    whose join serves them. ``est`` is the estimated EXPLODED left row
    count — quantization keeps boxes <= ~3x3 cells except at the
    level-4 clamp (near-cover radii), where the factor grows.

    A bucket broadcasts when it has <= 200k lefts (the candidate join
    then streams right instead of re-shuffling it) and <= 2M exploded
    rows. LEVEL MERGE: the multilevel join explodes EVERY right point
    once per present level, so each extra level is a full extra probe
    pass over right; a coarser broadcast bucket folds into the next
    finer one when the COMBINED re-estimate stays under the same 2M cap
    — finer cells still cover the box (any level is correct), the only
    cost is more broadcast rows (measured: 4 present levels -> 2 at the
    16M bench shape). If the broadcast total still exceeds
    4M rows, the largest buckets are demoted to partitioned joins."""
    small: list[list] = []
    big_parts: list[tuple[int, float]] = []
    for lvl, cnt, rmx in buckets:
        cell_u = ext_u / (1 << int(lvl))
        explode_factor = (2.0 * float(rmx) / cell_u + 2.0) ** 2
        if cnt <= 200_000 and cnt * explode_factor <= 2_000_000:
            small.append([int(lvl), cnt, float(rmx), cnt * explode_factor])
        else:
            big_parts.append((int(lvl), cnt * explode_factor))
    small.sort()
    lvl_remap: dict[int, int] = {}
    i = 0
    while i < len(small) - 1:
        lvl_s, cnt_s, rmx_s, _ = small[i]
        lvl_t, cnt_t, rmx_t, est_t = small[i + 1]
        cell_t = ext_u / (1 << int(lvl_t))
        ef_t = (2.0 * float(rmx_s) / cell_t + 2.0) ** 2
        est = est_t + cnt_s * ef_t
        if est <= 2_000_000:
            for s_, d_ in list(lvl_remap.items()):
                if d_ == lvl_s:
                    lvl_remap[s_] = lvl_t
            lvl_remap[lvl_s] = lvl_t
            small[i + 1] = [lvl_t, cnt_s + cnt_t, max(rmx_s, rmx_t), est]
            small.pop(i)
        else:
            i += 1
    small_rows = sum(e for _, _, _, e in small)
    while small_rows > 4_000_000 and len(small) > 1:
        # demote the bucket with the largest estimated exploded row
        # count, keeping the broadcast savings for the rest (ADVICE r4)
        worst = max(range(len(small)), key=lambda i: small[i][3])
        lvl_w, _, _, est_w = small.pop(worst)
        big_parts.append((lvl_w, est_w))
        small_rows -= est_w
    return small, big_parts, lvl_remap


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "row_id",
    right_id: str = "row_id",
    left_cols: tuple[str, str] = ("x", "y"),
    right_cols: tuple[str, str] = ("x", "y"),
    bounds: tuple[float, float, float, float] | None = None,
    init_radius: float | None = None,
    max_rounds: int = 16,
    metric: str = "euclidean",
    max_distance: float | None = None,
    right_count: int | None = None,
) -> DataFrame:
    """EXACT distributed kNN join: for every left point, its ``k``
    nearest right points — (left_id, right_id, dist), per-left ascending
    (dist, right_id); left ids must be unique. ``max_distance`` prunes
    INCLUSIVELY like the reference's ``neighbors``
    (src/rtree/trait.rs:261): each left gets up to k rows with
    dist <= max_distance (possibly fewer, possibly zero). Internally it
    caps the certification radius — once the candidate box covers the
    max_distance ball, every eligible right is a candidate and all
    remaining lefts certify unconditionally. The workhorse the reference
    runs as a per-query loop over ``neighbors``
    (src/rtree/trait.rs:198-302), re-expressed as a bulk operator.

    Plan — PER-LEFT certified radii, AT MOST TWO ROUNDS at any scale
    (the Simba/Sedona candidate-join family, pure Catalyst). Each left
    carries its own radius column ``r``; a round candidate-joins the
    unsatisfied lefts against right within their +-r boxes
    (point-specialized grid join, :func:`_knn_point_candidates`), takes
    per-left top-k by window, and CERTIFIES a left exact when it has k
    candidates with kth distance <= its r — no right outside the box
    can beat them. Survivors do NOT double-and-retry (round 4's x4/x8
    escalation, whose straggler rounds were pure fixed overhead): every
    survivor's next radius is CERTIFIED-COMPLETE up front, so round 1
    certifies everyone by construction —

    * every survivor takes the ring-count bound of
      :func:`_ring_certified_radii` — the smallest coarse cell ring
      holding >= k rights, a true kth-NN upper bound — evaluated as a
      vectorized pandas_udf over the broadcast (nc_d+1)^2 prefix sum,
      no driver collect of lefts. (A ``dist <= r`` prefilter runs
      before every round's window — candidates beyond r cannot beat a
      certified kth and only bloat the sort — so a survivor provably
      saw < k candidates and the round-5 kth-candidate-``dk``
      transition branch is vacuous; round 6 removed it.)
    * a left whose r reaches the cover radius certifies
      unconditionally.

    Every left table, small or large, starts from the density estimate
    below: seeding small left tables with up-front coarse ring radii was
    measured ~15x slower warm on city-clustered data (1M rights, 4,096
    lefts, k=3, local[4]: 170-183 s vs 9-12 s) because coarse cells
    certify radii that sweep whole cities. ``bounds`` plus
    ``right_count`` skip the min/max/count pass over right.

    The start radius is PER-LEFT density-adaptive, from two grid
    counts over right: a coarse grid (~64 rows/cell) dilated to a
    3x3-neighborhood sum S (r0 = cell_edge * min(1, sqrt(3k / S))),
    refined by the left's own FINE-cell count when that cell holds
    >= 9k points (r0 = fine_edge * sqrt(3k / count) — the fine
    level is sized for the densest region, so sub-coarse-cell clusters
    read their TRUE density instead of a diluted average; measured
    ~20x radius overshoot -> ~400x candidate blow-up without it). The
    round-3 global densest-cell start made SPARSE-area lefts begin at
    the city NN scale and double ~a dozen times, each round a driver
    barrier plus a full pass over right; per-left density radii plus
    the certified transition pin that at <= 2 rounds.

    Every round buckets lefts by a QUANTIZED per-left grid level (cell
    edge >= the left's box, even levels, <= 7 buckets) — one level
    cannot serve mixed radii: tiny boxes joined at a coarse level
    cross-product whole dense cells, big boxes at a fine level explode
    to thousands of cells. One candidate join runs per occupied
    bucket; minority buckets broadcast their (exploded) lefts so right
    is scanned, not re-shuffled — in the common case that is ONE
    partitioned join (rights shuffle once) plus cheap scans. Once the
    whole tail is < ~200k lefts every bucket broadcasts. The skinny
    right projection is persisted MEMORY_AND_DISK up front, so the
    bounds pass, both density counts, and every broadcast-bucket scan
    read one materialization.

    ``metric="haversine"``: radius in METERS over (lon, lat) degrees;
    candidate boxes use the provably-containing degree expansion of
    :func:`geo_index_spark.operators.join.haversine_candidate_boxes`
    (per-row Column radius), WITH antimeridian wrap — a window crossing
    +-180 becomes two disjoint lon segments — so the certification
    argument (outside the box union implies haversine distance > r)
    holds for any data in [-180, 180] x [-90, 90], and the full-cover
    radius (pi*R -> dlat = dlon = 180) genuinely covers the domain.
    Out-of-range latitudes raise (row-level check in the expansion)."""
    import math
    import os
    import sys
    import time as _time

    from pyspark.sql import Window

    from geo_index_spark.operators.join import choose_grid_level

    debug = bool(os.environ.get("GEO_KNN_DEBUG"))
    t_init = _time.perf_counter()

    def _dbg(msg: str) -> None:
        if debug:
            print(
                f"[knn_join]   init+{_time.perf_counter() - t_init:.1f}s {msg}",
                file=sys.stderr,
                flush=True,
            )

    if metric not in ("euclidean", "haversine"):
        raise ValueError(f"metric must be euclidean|haversine, got {metric!r}")
    R_EARTH = 6378137.0
    # meters per degree at the equator — only a SCALE GUESS for start
    # radii / level choices; certification never depends on it
    DEG_M = 111320.0
    unit = DEG_M if metric == "haversine" else 1.0

    lx, ly = left_cols
    rx, ry = right_cols
    from pyspark import StorageLevel as _SL

    lpts = left.select(
        F.col(left_id).alias("lid"), F.col(lx).alias("px"), F.col(ly).alias("py")
    )
    # persisted up front: the bounds pass, both density counts, and
    # every per-bucket candidate join (broadcast buckets SCAN right)
    # all read this skinny projection — one materialization serves all
    rpts = right.select(
        F.col(right_id).alias("rid"), F.col(rx).alias("qx"), F.col(ry).alias("qy")
    ).persist(_SL.MEMORY_AND_DISK)
    try:
        n_shuffle = int(lpts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_shuffle = 200  # conf may be "auto" on some platforms

    def _empty_result() -> DataFrame:
        rpts.unpersist(blocking=False)
        return (
            lpts.limit(0)
            .crossJoin(rpts.limit(0))
            .select(
                F.col("lid").alias("left_id"),
                F.col("rid").alias("right_id"),
                F.lit(0.0).alias("dist"),
            )
        )

    if right_count is not None and bounds is None:
        # the metadata fast path needs BOTH; surface the miss instead of
        # silently recomputing the full min/max/count agg (ADVICE r6)
        import warnings

        warnings.warn(
            "knn_join: right_count is only used together with bounds — "
            "pass bounds too to skip the min/max/count pass over right",
            stacklevel=2,
        )
    if bounds is not None and right_count is not None and right_count > 0:
        # metadata fast path: when the caller knows the domain AND the
        # right cardinality (at production scale both come free from
        # table metadata), the min/max/count pass over right is skipped
        # — the density-count groupBy below becomes the first full pass
        # and materializes the cache while doing useful work. The value
        # only SIZES the density grid (gd is a ~64-rows/cell heuristic);
        # correctness never depends on it — an overstated count just
        # picks a finer grid, an understated one a coarser grid, and an
        # actually-empty right converges to zero rows through the
        # normal cover-radius round.
        n_right = int(right_count)
    else:
        ragg = rpts.agg(
            F.min("qx"), F.min("qy"), F.max("qx"), F.max("qy"), F.count(F.lit(1))
        ).first()
        n_right = ragg[4]
        if n_right == 0:
            # k nearest of nothing is nothing — every left yields zero rows
            return _empty_result()
        if bounds is None:
            lagg = lpts.agg(
                F.min("px"), F.min("py"), F.max("px"), F.max("py")
            ).first()
            if lagg[0] is None:  # empty left table
                return _empty_result()
            bounds = (
                min(ragg[0], lagg[0]),
                min(ragg[1], lagg[1]),
                max(ragg[2], lagg[2]),
                max(ragg[3], lagg[3]),
            )
    bounds = tuple(float(b) for b in bounds)
    ext = max(bounds[2] - bounds[0], bounds[3] - bounds[1], 1e-12)

    # radius covering the whole domain: every right point is a candidate.
    # With max_distance, covering the max_d ball is just as final: the
    # dist <= max_d residual makes the candidate set complete, so the
    # cover radius shrinks to max_distance (same unconditional certify).
    cover_r = math.pi * R_EARTH if metric == "haversine" else ext
    if max_distance is not None:
        cover_r = min(cover_r, float(max_distance))
    r_floor = cover_r / (1 << 20)

    # coarse density grid over right (~64 rows/cell on average)
    gd = min(12, max(2, round(math.log2(max(n_right, 1) / 64.0) / 2.0)))
    nc_d = 1 << gd
    cell_d = ext / nc_d

    def _coarse_cell(c, lo):
        return F.least(
            F.lit(nc_d - 1),
            F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(cell_d))),
        ).cast("long")

    C_df = None  # coarse per-cell counts, when materialized below

    def _cell_prefix_np():
        # (nc_d+1)^2 2-D prefix sum of the coarse per-cell right counts
        # — reuses the checkpointed density table when it exists, else
        # one tiny count job on the cached skinny right projection. The
        # array is BOUNDED by the gd <= 12 cap ((4097)^2 int64 =
        # 134 MB worst, ~8 MB at the 64M shape) independent of |right|.
        import numpy as np

        src = C_df
        if src is None:
            src = rpts.groupBy(
                _coarse_cell(F.col("qx"), bounds[0]).alias("ccx"),
                _coarse_cell(F.col("qy"), bounds[1]).alias("ccy"),
            ).agg(F.count(F.lit(1)).alias("cnt"))
        G = np.zeros((nc_d, nc_d), dtype=np.int64)
        pdf = src.toPandas()  # Arrow path: ~1M cells at gd=10 in <1 s
        G[pdf["ccx"].to_numpy(), pdf["ccy"].to_numpy()] = pdf["cnt"].to_numpy()
        P = np.zeros((nc_d + 1, nc_d + 1), dtype=np.int64)
        P[1:, 1:] = G.cumsum(axis=0).cumsum(axis=1)
        return P

    if init_radius is not None:
        r0 = F.lit(min(max(float(init_radius), r_floor), cover_r))
        remaining = lpts.select("lid", "px", "py", r0.alias("r"))
        dense_r = float(init_radius)
    else:
        # per-cell right counts, materialized once (reused by the max
        # agg AND the neighborhood dilation — one pass over right, and
        # the table is bounded by 4^12 cells regardless of |right|)
        C = (
            rpts.groupBy(
                _coarse_cell(F.col("qx"), bounds[0]).alias("ccx"),
                _coarse_cell(F.col("qy"), bounds[1]).alias("ccy"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint()
        )
        C_df = C
        _dbg("coarse density counts checkpointed")
        # ONE tiny job on checkpointed C serves both the max-count
        # (densest-cell radius scale) and the dense-cell count that
        # previously ran as a second job
        crow = C.agg(
            F.max("cnt").alias("mx"),
            F.sum((F.col("cnt") >= 512).cast("long")).alias("nd"),
        ).first()
        mx = crow["mx"] or 1
        n_dense = int(crow["nd"] or 0)
        _dbg("density-grid stats aggregated")
        dense_r = cell_d * math.sqrt(float(k) / max(float(mx), 1.0)) * unit
        # 3x3-neighborhood sum: dilate C by the 9 offsets, re-aggregate,
        # then each left looks up its OWN cell — lefts stay un-exploded
        offs = F.array(
            *[
                F.struct(
                    (F.col("ccx") + F.lit(dx)).alias("ncx"),
                    (F.col("ccy") + F.lit(dy)).alias("ncy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
        N = (
            C.select("cnt", F.explode(offs).alias("_o"))
            .groupBy(F.col("_o.ncx").alias("ncx"), F.col("_o.ncy").alias("ncy"))
            .agg(F.sum("cnt").alias("S"))
        )
        if nc_d <= 1024:
            # <= (1026)^2 dilated cells = a few MB — broadcast so the
            # per-left density lookup below never shuffles the lefts
            # (the planner has no row estimate for a post-explode
            # aggregate and falls back to a sort-merge join)
            N = F.broadcast(N)
        # FINE refinement: the coarse estimate dilutes clusters much
        # smaller than a coarse cell (a 0.2-degree city inside a
        # 1.4-degree cell reads ~20x too sparse -> radii ~20x too big ->
        # ~400x candidate blow-up, measured). A second count at the
        # fine level sized for the densest region fixes exactly that
        # case: when the left's OWN fine cell holds enough points the
        # fine-scale estimate wins; otherwise the dilated coarse
        # neighborhood estimate stands.
        f_level = choose_grid_level(bounds, 2 * dense_r / unit, 2 * dense_r / unit)
        nc_f = 1 << f_level
        cell_f = ext / nc_f

        def _fine_cell(c, lo):
            return F.least(
                F.lit(nc_f - 1),
                F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(cell_f))),
            ).cast("long")

        # only DENSE coarse cells feed the fine count: elsewhere the
        # fine grid (sized for the densest region) holds ~0-1 points
        # per cell, and aggregating those would shuffle one near-
        # singleton group per right row (~13M groups at 64M, measured
        # as the dominant pre-loop cost and a poorly-scaling one). A
        # coarse cell averaging 64 rows by construction, 512+ marks a
        # genuine cluster; the mildly-dense cells this skips lose only
        # a mildly-diluted coarse estimate (one extra round for a small
        # cohort at worst).
        dense_cells = C.filter(F.col("cnt") >= 512).select("ccx", "ccy")
        if n_dense <= 500_000:
            dense_cells = F.broadcast(dense_cells)
        Cf = None
        # the fine count is a density HINT only (radius sizing —
        # certification never reads it), so at large |right| an
        # eighth-rate deterministic sample with counts scaled back
        # up gives the same radii to within a few percent while the
        # fine-count aggregation hashes 8x fewer rows (the dense
        # regions are >= 512 rows/coarse cell by construction, so a
        # trusted fine cell still samples >= ~100 rows). Small
        # rights keep exact counts — fixture-scale estimates would
        # otherwise be noise.
        cf_rate = 0.125 if n_right >= 4_000_000 else 1.0
        cf_src = rpts if cf_rate >= 1.0 else rpts.sample(
            fraction=cf_rate, seed=7
        )
        if n_dense:  # no dense cells -> skip the fine pass entirely
            Cf = (
                cf_src.join(
                    dense_cells,
                    (_coarse_cell(F.col("qx"), bounds[0]) == F.col("ccx"))
                    & (_coarse_cell(F.col("qy"), bounds[1]) == F.col("ccy")),
                    "left_semi",
                )
                .groupBy(
                    (
                        _fine_cell(F.col("qx"), bounds[0]) * F.lit(nc_f)
                        + _fine_cell(F.col("qy"), bounds[1])
                    ).alias("fcell")
                )
                .agg((F.count(F.lit(1)) / F.lit(cf_rate)).alias("fcnt"))
            )
        lcell = lpts.select(
            "lid",
            "px",
            "py",
            _coarse_cell(F.col("px"), bounds[0]).alias("_lcx"),
            _coarse_cell(F.col("py"), bounds[1]).alias("_lcy"),
            (
                _fine_cell(F.col("px"), bounds[0]) * F.lit(nc_f)
                + _fine_cell(F.col("py"), bounds[1])
            ).alias("_lfc"),
        )
        joined = lcell.join(
            N,
            (F.col("_lcx") == F.col("ncx")) & (F.col("_lcy") == F.col("ncy")),
            "left",
        )
        if Cf is not None:
            joined = joined.join(Cf, F.col("_lfc") == F.col("fcell"), "left")
        else:
            joined = joined.withColumn("fcnt", F.lit(None).cast("long"))
        # sizing math (Poisson): a radius r has expected ball count
        # m = rho*pi*r^2; certifying needs >= k in the ball, so aim for
        # m ~ pi*k (P(<k) < 1% at k=3) while keeping box candidates
        # (4/pi*m per left) small. fine: r = cell_f*sqrt(3k/S_f) gives
        # m = 3*pi*k (~28 at k=3, certifies, ~36 candidates/left).
        # coarse (S = 3x3 neighborhood sum, rho = S/(9*cell^2)):
        # r = cell*sqrt(9k/S) gives m = pi*k — the earlier sqrt(3k/S)
        # read m = pi*k/3 ~ 3 and FAILED ~60% of uniform lefts.
        s = F.coalesce(F.col("S"), F.lit(0)).cast("double")
        sf = F.coalesce(F.col("fcnt"), F.lit(0)).cast("double")
        three_k = F.lit(3.0 * float(k))
        r0_coarse = F.lit(cell_d) * F.least(
            F.lit(1.0), F.sqrt(F.lit(9.0 * float(k)) / F.greatest(s, F.lit(1.0)))
        )
        # trust the fine cell only from 9k points up: cells in the
        # 3k..9k band are mostly cluster EDGES, where the cell's count
        # is real but the left's k-th neighbor lies outside the cluster
        # — the tiny fine radius then fails 2 extra rounds (measured)
        r0_fine = F.lit(cell_f) * F.sqrt(three_k / sf)
        r0 = F.when(
            sf >= F.lit(9.0 * float(k)), F.least(r0_fine, r0_coarse)
        ).otherwise(r0_coarse)
        r0 = F.least(F.greatest(r0 * F.lit(unit), F.lit(r_floor)), F.lit(cover_r))
        remaining = joined.select("lid", "px", "py", r0.alias("r"))
    # lazy checkpoint: the first bucket-stats job below materializes it,
    # so init costs ONE barrier (checkpoint+stats fused), not two.
    # The skinny (lid, px, py, r) frame is coalesced to the scheduler's
    # default parallelism first: the density plan inherits the full
    # shuffle width from its exchanges, and every later consumer
    # (bucket stats, transition anti join + ring udf, tail collects)
    # would otherwise launch that many near-empty tasks per job —
    # measured ~2 s/round of pure task launch at 256 partitions for a
    # 250k-row frame. defaultParallelism scales with the cluster, so
    # this is not a local-mode constant.
    dp = max(1, lpts.sparkSession.sparkContext.defaultParallelism)
    remaining = remaining.coalesce(dp).localCheckpoint(eager=False)

    # PER-LEFT grid level, every round: one level cannot serve mixed
    # radii (tiny boxes in a coarse cell cross-product the whole cell's
    # cluster; big boxes at a fine level explode to thousands of
    # cells). Quantize each left's level (cell edge >= its box, even
    # levels only -> <= 7 buckets), run one candidate join per OCCUPIED
    # bucket, union. In practice one bucket is big (partitioned join —
    # rights shuffle once) and the rest broadcast their lefts, so right
    # is scanned, not re-shuffled, for every minority scale.
    ext_u = ext * unit
    lvl_col = F.least(
        F.lit(16),
        F.greatest(
            F.lit(4),
            F.lit(2)
            * F.floor(F.log2(F.lit(ext_u) / (F.col("r") * 2.0)) / F.lit(2.0)),
        ),
    ).cast("int")
    # lvl_active: the per-row level the CURRENT round's filters and
    # joins read. Normally the lvl_col expression; when `remaining` was
    # just built from a driver-resident pandas frame the level is
    # materialized as a `_lvl` column instead (numpy twin of lvl_col),
    # so bucket stats come from the same numpy array with NO Spark job
    # and the filters can never drift from the stats (any level is
    # correct — touched cells cover the box at every resolution — so an
    # ulp difference between numpy log2 and JVM log2 is harmless once
    # both read the same materialized value).
    lvl_active = lvl_col

    def _lvl_np(r_arr):
        import numpy as np

        r_arr = np.asarray(r_arr, np.float64)
        with np.errstate(divide="ignore"):
            lv = 2.0 * np.floor(np.log2(ext_u / (r_arr * 2.0)) / 2.0)
        lv = np.where(np.isfinite(lv), lv, 16.0)
        return np.clip(lv, 4.0, 16.0).astype("int64")

    def _buckets_np(pdf) -> list[tuple[int, int, float]]:
        out: dict[int, tuple[int, float]] = {}
        for lv, r_ in zip(pdf["_lvl"].to_numpy(), pdf["r"].to_numpy()):
            c, m = out.get(int(lv), (0, 0.0))
            out[int(lv)] = (c + 1, max(m, float(r_)))
        return sorted((lv, c, m) for lv, (c, m) in out.items())

    def _remaining_from_pdf(pdf):
        from pyspark.sql.types import DoubleType, LongType, StructField, StructType

        pdf = pdf.assign(_lvl=_lvl_np(pdf["r"].to_numpy()))
        df = lpts.sparkSession.createDataFrame(
            pdf,
            schema=StructType(
                list(lpts.schema.fields)
                + [
                    StructField("r", DoubleType(), False),
                    StructField("_lvl", LongType(), False),
                ]
            ),
        )
        return df, _buckets_np(pdf)

    def _bucket_stats() -> list[tuple[int, int, float]]:
        # one tiny job on the checkpointed tail doubles as the
        # round-end count barrier: n_rem = sum of bucket counts
        return sorted(
            (row["_lvl"], row["cnt"], row["rmx"])
            for row in remaining.groupBy(lvl_active.alias("_lvl"))
            .agg(F.count(F.lit(1)).alias("cnt"), F.max("r").alias("rmx"))
            .collect()
        )

    buckets = _bucket_stats()
    n_rem = sum(c for _, c, _ in buckets)
    if debug:
        print(
            f"[knn_join] init: {_time.perf_counter() - t_init:.1f}s "
            f"n_right={n_right} gd={gd} cell_d={cell_d:.6g} "
            f"dense_r={dense_r} n_rem={n_rem}",
            file=sys.stderr,
            flush=True,
        )

    parts: list[DataFrame] = []
    w_ord = Window.partitionBy("left_id").orderBy(
        F.col("dist").asc(), F.col("right_id").asc()
    )
    w_all = Window.partitionBy("left_id")

    def _ring_rb_udf():
        # survivor ring bounds: the prefix sum is broadcast once and
        # each Arrow batch runs the vectorized ring search — survivor
        # counts can be anything (no driver collect)
        from pyspark.sql.types import DoubleType

        bc = rpts.sparkSession.sparkContext.broadcast(_cell_prefix_np())

        @F.pandas_udf(DoubleType())
        def rb(pxs: pd.Series, pys: pd.Series) -> pd.Series:
            return pd.Series(
                _ring_certified_radii(
                    bc.value,
                    nc_d,
                    cell_d,
                    bounds,
                    pxs.to_numpy(),
                    pys.to_numpy(),
                    k,
                    metric,
                    cover_r,
                    r_floor,
                )
            )

        return rb

    tail_region = None  # tracked here so an exception mid-round cannot
    # leak the persisted tail neighborhood (ADVICE r6) — the finally
    # block unpersists whatever is still live
    try:
        for round_idx in range(max_rounds):
            if n_rem == 0:
                break
            t_round = _time.perf_counter()
            if debug:
                print(
                    f"[knn_join] round {round_idx} level buckets: {buckets}",
                    file=sys.stderr,
                    flush=True,
                )
            # a TAIL round needs certified radii, i.e. round > 0:
            # _sparse_ring_refine only tightens an already-certified
            # r_old, and round 0's density or init_radius guesses are
            # not certified.
            tail = round_idx > 0 and n_rem <= TAIL_MAX_LEFTS
            # straggler-tail prefilter: once the tail is tiny, collect
            # it driver-side and push an isin() over the coarse cells
            # its boxes touch into the cached right scan — tail rounds
            # then read ~the straggler neighborhoods instead of
            # streaming |right| x |levels| exploded rows. Safe because
            # certification only needs completeness INSIDE each box,
            # and the coarse cellset covers every box. Haversine builds
            # its cellset from the wrapped geo_query_window degree
            # segments — the SAME min-cos identity haversine_box_expand
            # uses for the candidate boxes, so the cellset covers every
            # box the candidate join will emit, dateline wrap included
            # (VERDICT r5 Next #4; euclidean-only before round 6).
            rpts_src = rpts
            tail_region = None
            # salting defaults ON for tail rounds; the fine-grid counts
            # switch it off when no left's final box can hold a giant
            # candidate group (stage A is then two wasted shuffles)
            tail_salt = tail
            t_sub = _time.perf_counter()
            if tail:
                from geo_index_spark.operators.search import geo_query_window

                def _tail_cellset(rows) -> set[int] | None:
                    # coarse cells touched by the (px, py, r) boxes, or
                    # None when the set is too big to ship as a filter
                    cs: set[int] = set()
                    for t in rows:
                        if metric == "euclidean":
                            boxes = [
                                (t[0] - t[2], t[1] - t[2], t[0] + t[2], t[1] + t[2])
                            ]
                        else:
                            dlat, segs = geo_query_window(t[0], t[1], t[2])
                            boxes = [
                                (lo, t[1] - dlat, hi, t[1] + dlat) for lo, hi in segs
                            ]
                        for mnx, mny, mxx, mxy in boxes:
                            x0 = max(0, min(nc_d - 1, int((mnx - bounds[0]) / cell_d)))
                            x1 = max(0, min(nc_d - 1, int((mxx - bounds[0]) / cell_d)))
                            y0 = max(0, min(nc_d - 1, int((mny - bounds[1]) / cell_d)))
                            y1 = max(0, min(nc_d - 1, int((mxy - bounds[1]) / cell_d)))
                            if (x1 - x0 + 1) * (y1 - y0 + 1) > 60_000:
                                # one near-cover-radius left alone blows
                                # the cap — abort before sweeping up to
                                # nc_d^2 Python loop steps (ADVICE r6)
                                return None
                            for cx_ in range(x0, x1 + 1):
                                if len(cs) > 60_000:
                                    return None
                                for cy_ in range(y0, y1 + 1):
                                    cs.add(cx_ * nc_d + cy_)
                        if len(cs) > 60_000:
                            return None
                    return cs

                def _tail_semi(cs: set[int], src: DataFrame) -> DataFrame:
                    # broadcast SEMI JOIN, not isin(): a >1k-element InSet
                    # probes a boxed scala HashSet per row — measured ~10 s
                    # of the tail round's 12 s scan over 32M cached rights.
                    # BroadcastHashJoin probes a native long-keyed relation
                    # inside whole-stage codegen instead.
                    ccell = (
                        _coarse_cell(F.col("qx"), bounds[0]) * F.lit(nc_d)
                        + _coarse_cell(F.col("qy"), bounds[1])
                    )
                    cells_df = src.sparkSession.createDataFrame(
                        [(int(c),) for c in sorted(cs)], "ccell long"
                    )
                    return src.join(
                        F.broadcast(cells_df), ccell == F.col("ccell"), "left_semi"
                    )

                tail_pdf = remaining.select("lid", "px", "py", "r").toPandas()
                tail_rows = list(zip(tail_pdf["px"], tail_pdf["py"], tail_pdf["r"]))
                cells = _tail_cellset(tail_rows)
                if cells is not None:
                    # persist the neighborhood ONCE: the fine-count job
                    # below and the candidate join both need the semi-
                    # filtered rights, and each would otherwise re-scan
                    # the full |right| cache (a host-floor-bound full
                    # pass; at 100 TB, a full re-read). The region is
                    # box-cover-sized — cheap to cache, dropped after
                    # the round's top job materializes.
                    tail_region = _tail_semi(cells, rpts).persist()
                    # FINE-GRID RING REFINEMENT: re-certify every tail
                    # radius on a 2^TAIL_RING_EXTRA x finer grid counted
                    # over just this region (one groupBy job on the
                    # semi-filtered rights; occupied-cell output is tiny
                    # because the region is). min(r_old, fine bound)
                    # stays certified; the payoff is quadratic — see
                    # _sparse_ring_refine.
                    nc_f2 = nc_d << TAIL_RING_EXTRA
                    cell_f2 = cell_d / (1 << TAIL_RING_EXTRA)

                    def _fine2(c, lo):
                        return F.least(
                            F.lit(nc_f2 - 1),
                            F.greatest(
                                F.lit(0), F.floor((c - F.lit(lo)) / F.lit(cell_f2))
                            ),
                        ).cast("long")

                    cnts_pdf = (
                        tail_region.groupBy(
                            _fine2(F.col("qx"), bounds[0]).alias("fx"),
                            _fine2(F.col("qy"), bounds[1]).alias("fy"),
                        )
                        .agg(F.count(F.lit(1)).alias("fcnt"))
                        .limit(TAIL_RING_MAX_CELLS + 1)
                        .toPandas()
                    )
                    if len(cnts_pdf) <= TAIL_RING_MAX_CELLS:
                        r_new, tail_boxcnt = _sparse_ring_refine(
                            cnts_pdf["fx"].to_numpy(),
                            cnts_pdf["fy"].to_numpy(),
                            cnts_pdf["fcnt"].to_numpy(),
                            nc_f2,
                            cell_f2,
                            bounds,
                            tail_pdf["px"].to_numpy(),
                            tail_pdf["py"].to_numpy(),
                            tail_pdf["r"].to_numpy(),
                            k,
                            metric,
                            r_floor,
                        )
                        # exact in-box counts: when even the biggest
                        # final box holds a modest group, the plain
                        # one-exchange window beats stage A's two extra
                        # shuffles (each a flat job-launch cost)
                        tail_salt = bool(tail_boxcnt.max() > TAIL_SALT_MIN_GROUP)
                        if debug and not tail_salt:
                            print(
                                f"[knn_join] round {round_idx} salt skipped: "
                                f"max in-box group {int(tail_boxcnt.max())}",
                                file=sys.stderr,
                                flush=True,
                            )
                        if (r_new < tail_pdf["r"].to_numpy()).any():
                            if debug:
                                print(
                                    f"[knn_join] round {round_idx} ring refine: "
                                    f"max r {tail_pdf['r'].max():.4g} -> "
                                    f"{r_new.max():.4g} over {len(cnts_pdf)} "
                                    "fine cells",
                                    file=sys.stderr,
                                    flush=True,
                                )
                            tail_pdf = tail_pdf.assign(r=r_new)
                            # driver-resident rebuild: materialized _lvl
                            # column + numpy bucket stats — no Spark job
                            remaining, buckets = _remaining_from_pdf(tail_pdf)
                            lvl_active = F.col("_lvl")
                            tail_rows = list(
                                zip(tail_pdf["px"], tail_pdf["py"], tail_pdf["r"])
                            )
                            cells = _tail_cellset(tail_rows) or cells
                if cells is not None:
                    if debug:
                        print(
                            f"[knn_join] round {round_idx} tail prefilter: "
                            f"{len(tail_rows)} lefts -> {len(cells)}/"
                            f"{nc_d * nc_d} coarse cells",
                            file=sys.stderr,
                            flush=True,
                        )
                    # post-refinement boxes shrink, so the new cellset is
                    # a subset of the persisted region's — re-filter the
                    # CACHE, never re-scan the full right table
                    rpts_src = _tail_semi(cells, tail_region)
            # tail rounds: shift every bucket TAIL_LVL_EXTRA levels FINER
            # (clamped at 16). The cell >= box quantization rule protects
            # the big rounds' explode counts, but it makes a tail left
            # cross-product whole coarse cells: a ~1-degree ring-bound
            # radius lands at level 6 (5.6-degree cells), so each void
            # left sweeps entire dense-city cells — measured ~260 CPU-s
            # of pure pair emission for 77k final candidates at the 32M
            # probe (ALL tasks CPU-bound, zero skew). At <= 5000 lefts,
            # exploding each box into ~100-300 fine cells is a trivial
            # broadcast (<= ~1.6M rows) and the emitted pairs collapse to
            # ~the box contents. Correctness is level-independent:
            # touched cells cover the box at ANY resolution, which is all
            # certification needs.
            lvl_eff = lvl_active
            buckets_eff = buckets
            if tail:
                lvl_eff = F.least(F.lit(16), lvl_active + F.lit(TAIL_LVL_EXTRA))
                merged: dict[int, tuple[int, float]] = {}
                for lvl, cnt, rmx in buckets:
                    l2 = min(16, int(lvl) + TAIL_LVL_EXTRA)
                    c0, r0_ = merged.get(l2, (0, 0.0))
                    merged[l2] = (c0 + cnt, max(r0_, float(rmx)))
                buckets_eff = sorted((l, c, r_) for l, (c, r_) in merged.items())
            small, big_parts, lvl_remap = _split_buckets(buckets_eff, ext_u)
            lvl_mapped = lvl_eff
            if lvl_remap:
                lvl_mapped = F.coalesce(
                    *[
                        F.when(lvl_eff == F.lit(int(s_)), F.lit(int(d_)))
                        for s_, d_ in lvl_remap.items()
                    ],
                    lvl_eff,
                )
            small_lvls = [lvl for lvl, *_ in small]
            cand = None
            if small_lvls:
                sub = remaining.filter(lvl_mapped.isin([int(l) for l in small_lvls]))
                cand = _knn_point_candidates_multi(
                    sub, rpts_src, bounds, small_lvls, metric, lvl_mapped
                )
            for lvl, est in big_parts:
                sub = remaining.filter(lvl_mapped == F.lit(int(lvl)))
                # SHUFFLE_HASH builds the exploded lefts into an
                # unspillable per-partition hash relation — gate it on
                # the estimated exploded rows per shuffle partition
                # (~50k rows / ~2.5 MB per partition, the budget the
                # round-7 spatial_join A/B put on unspillable builds;
                # ADVICE r6); oversized buckets fall back to the
                # spill-safe sort-merge join
                c = _knn_point_candidates(
                    sub,
                    rpts_src,
                    bounds,
                    int(lvl),
                    metric,
                    shuffle_hash=est <= 50_000 * n_shuffle,
                )
                cand = c if cand is None else cand.unionAll(c)
            scored = cand
            if max_distance is not None:
                scored = scored.filter(F.col("dist") <= F.lit(float(max_distance)))
            # dist <= r prefilter, EVERY round (round 6: was certified
            # rounds only). Certified radii guarantee kth-NN <= r, so the
            # true top-k all survive and c == k still fires. For DENSITY-
            # GUESS rounds the filter is also safe: a left that certifies
            # has dk <= r (its top-k all survive, c == k unchanged); a
            # left that doesn't gets its next radius from the transition
            # either way — the only change is that c==k-but-dk>r lefts
            # now read c < k and take the ring bound instead of dk (both
            # are valid certified radii; the handful of such lefts —
            # n_rem-sized — is absorbed by the tail round's own prefilter
            # and salted two-stage window). Payoff measured at 32M: the
            # round-0 window input drops from 163M candidate rows (~326
            # per left — box cells hold ~10x the ball) to ~the in-ball
            # counts, cutting the round-0 window sort from ~8 s to ~2 s.
            # Full-cover lefts are exempt: their true kth-NN may exceed
            # r = cover_r (e.g. the domain diagonal), and their box
            # already holds everything.
            scored = scored.filter(
                (F.col("r") >= F.lit(cover_r)) | (F.col("dist") <= F.col("r"))
            )
            if tail_salt:
                # tail rounds: SALTED TWO-STAGE top-k. A tail left's ball
                # can genuinely hold ~10^5-10^6 rights (ring-bound radii
                # reach into dense cells), and one-exchange-per-left still
                # sorts each left's candidates in ONE task — measured as a
                # ~18-20 s serial straggler at BOTH local[8] and local[32]
                # (the dominant fixed cost of the 32M whole-op scaling
                # probe). Stage A windows over (left_id, salt) — a
                # deterministic hash of right_id — so every giant group is
                # sorted as TAIL_SALT parallel fragments of which only the
                # per-fragment top-k survive; stage B re-windows the
                # <= n_rem * TAIL_SALT * k survivors. Correctness: the
                # global top-k is a subset of the fragment top-ks, and the
                # certification count is unchanged — stage B's c =
                # min(k, survivors) and survivors >= k iff the true
                # candidate count >= k (sum of min(k, c_i) >= k whenever
                # sum(c_i) >= k); dk = kth of the true top-k either way.
                w_frag = Window.partitionBy("left_id", "_salt").orderBy(
                    F.col("dist").asc(), F.col("right_id").asc()
                )
                scored = (
                    scored.withColumn(
                        "_salt", F.pmod(F.xxhash64("right_id"), F.lit(TAIL_SALT))
                    )
                    .withColumn("_frn", F.row_number().over(w_frag))
                    .filter(F.col("_frn") <= F.lit(int(k)))
                    .drop("_salt", "_frn")
                )
            # one window shuffle does top-k AND certification: rn for
            # the top-k cut, then count/kth-dist over the same
            # partitioning (no extra exchange), certify row-local
            top = (
                scored.withColumn("rn", F.row_number().over(w_ord))
                .filter(F.col("rn") <= F.lit(int(k)))
                .withColumn("c", F.count(F.lit(1)).over(w_all))
                .withColumn("dk", F.max("dist").over(w_all))
            )
            certified = (
                (F.col("c") == F.lit(int(k))) & (F.col("dk") <= F.col("r"))
            ) | (F.col("r") >= F.lit(cover_r))
            if debug:
                print(
                    f"[knn_join]   round {round_idx} prep: "
                    f"{_time.perf_counter() - t_sub:.1f}s",
                    file=sys.stderr,
                    flush=True,
                )
                t_sub = _time.perf_counter()
                if os.environ.get("GEO_KNN_DEBUG") == "2":
                    # level-2 diagnostic: materialize the candidate set to
                    # split "join+filter" from "window" time (re-runs the
                    # join, so level-2 debug reps are NOT bench numbers)
                    n_cand = scored.count()
                    print(
                        f"[knn_join]   round {round_idx} candidates: {n_cand} "
                        f"(count job {_time.perf_counter() - t_sub:.1f}s)",
                        file=sys.stderr,
                        flush=True,
                    )
                    t_sub = _time.perf_counter()
            top = top.localCheckpoint()  # the round's ONE heavy job
            if tail_region is not None:
                tail_region.unpersist(blocking=False)
                tail_region = None
            if debug:
                print(
                    f"[knn_join]   round {round_idx} top job: "
                    f"{_time.perf_counter() - t_sub:.1f}s",
                    file=sys.stderr,
                    flush=True,
                )
                t_sub = _time.perf_counter()
            parts.append(top.filter(certified).select("left_id", "right_id", "dist"))
            # one row per certified left (its rn == 1 row; row-local, no
            # exchange), so the id list is bounded by the round's live
            # lefts
            done = top.filter(certified & (F.col("rn") == 1)).select("left_id")
            if n_rem <= 2_000_000:
                # broadcast it so the anti join below probes a hash
                # relation instead of exchanging BOTH remaining and done
                # across the full shuffle width (two 256-task exchanges
                # measured ~2.7 s of the 16M round-0 transition for
                # ~250k-row inputs)
                done = F.broadcast(done)
            # full-cover lefts certify even with < k (or zero) candidates
            # — the r < cover filter drops them whether or not they
            # produced rows; everyone else leaves via the anti join.
            # Survivors get CERTIFIED radii, so the next round is the
            # last: the prefix-sum ring bound — the smallest coarse-cell
            # ring holding >= k rights (a true kth-NN upper bound). The
            # dist <= r prefilter above makes c == k imply dk <= r, so
            # an uncertified survivor ALWAYS has c < k and the old
            # kth-candidate (dk) transition branch is provably empty —
            # dropped in round 6 (one groupBy + join per round saved).
            # No doubling, no straggler rounds: <= 2 rounds total.
            if round_idx > 0:
                # a certified round cannot leave survivors — this
                # transition plan only runs as the round-end emptiness
                # verification. Skip the ring-bound pandas_udf stage
                # (broadcast + Arrow worker spin-up for zero rows): if a
                # float-edge survivor ever did appear, cover_r certifies
                # it unconditionally next round.
                ring_fallback = F.lit(float(cover_r))
            else:
                ring_fallback = _ring_rb_udf()(F.col("px"), F.col("py"))
            remaining = (
                remaining.filter(F.col("r") < F.lit(cover_r))
                .join(done, F.col("lid") == F.col("left_id"), "left_anti")
                .withColumn(
                    "r",
                    F.least(
                        F.greatest(ring_fallback, F.lit(r_floor)),
                        F.lit(cover_r),
                    ),
                )
                .select("lid", "px", "py", "r")
                # lazy: materialized by the bucket-stats job right below
                # — transition + round-end count share ONE barrier
                .localCheckpoint(eager=False)
            )
            lvl_active = lvl_col  # rebuilt frame has no _lvl column
            buckets = _bucket_stats()
            n_rem = sum(c for _, c, _ in buckets)
            if debug:
                print(
                    f"[knn_join]   round {round_idx} transition: "
                    f"{_time.perf_counter() - t_sub:.1f}s",
                    file=sys.stderr,
                    flush=True,
                )
                print(
                    f"[knn_join] round {round_idx}: {_time.perf_counter() - t_round:.1f}s"
                    f" -> n_rem={n_rem}",
                    file=sys.stderr,
                    flush=True,
                )
        if n_rem:
            raise RuntimeError("knn_join did not converge within max_rounds")
    finally:
        rpts.unpersist(blocking=False)
        if tail_region is not None:
            tail_region.unpersist(blocking=False)
    if not parts:  # empty left table: no rounds ran
        return _empty_result()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def knn_join_sql(
    k: int,
    left_sql: str,
    right_sql: str,
    left_id: str = "left_id",
    right_id: str = "right_id",
    metric: str = "euclidean",
    max_distance: float | None = None,
) -> str:
    """DuckDB mirror of :func:`knn_join` (brute-force cross join +
    window — oracle scale only). ``left_sql``/``right_sql`` must yield
    (id, x, y). Same distance expression order and the same
    (dist, right_id) row_number tiebreak."""
    if metric == "haversine":
        dist = (
            "2.0 * 6378137.0 * asin(sqrt(least(1.0,"
            " pow(sin(radians(r.y - l.y)/2), 2)"
            " + cos(radians(l.y)) * cos(radians(r.y)) * pow(sin(radians(r.x - l.x)/2), 2)"
            ")))"
        )
    else:
        dist = "sqrt((l.x - r.x)*(l.x - r.x) + (l.y - r.y)*(l.y - r.y))"
    return f"""
    WITH l AS ({left_sql}), r AS ({right_sql}),
    scored AS (
      SELECT l.id AS {left_id}, r.id AS {right_id},
             {dist} AS dist,
             row_number() OVER (
               PARTITION BY l.id
               ORDER BY {dist} ASC, r.id ASC
             ) AS rn
      FROM l CROSS JOIN r
    )
    SELECT {left_id}, {right_id}, round(dist, 6) AS dist_r
    FROM scored WHERE rn <= {int(k)}{'' if max_distance is None else f' AND dist <= {float(max_distance)!r}'}
    """


def knn_geometry_sql(
    vertices: list[list[float]],
    k: int,
    points_sql: str,
    geom_type: str = "polyline",
    point_id: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`knn_geometry`: identical per-edge clamp
    distance with dx/dy/l2 pre-folded to the same Python doubles, min
    via n-ary least(), polygon inside via the same ray-cast parity —
    expression order matches :func:`geom_distance_col` term for term,
    so IEEE doubles agree exactly."""
    edges = _geom_edges(vertices, geom_type)
    d2s = []
    for (x1, y1, x2, y2) in edges:
        dx, dy = x2 - x1, y2 - y1
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d2s.append(f"((p.x - {x1!r})*(p.x - {x1!r}) + (p.y - {y1!r})*(p.y - {y1!r}))")
            continue
        t = f"least(1.0, greatest(0.0, ((p.x - {x1!r})*{dx!r} + (p.y - {y1!r})*{dy!r}) / {l2!r}))"
        cx = f"({x1!r} + {t}*{dx!r})"
        cy = f"({y1!r} + {t}*{dy!r})"
        d2s.append(f"((p.x - {cx})*(p.x - {cx}) + (p.y - {cy})*(p.y - {cy}))")
    mind2 = f"least({', '.join(d2s)})" if len(d2s) > 1 else d2s[0]
    dist = f"sqrt({mind2})"
    if geom_type == "polygon":
        cs = []
        for (x1, y1, x2, y2) in edges:
            if y1 == y2:
                continue
            xin = f"({x2 - x1!r} * (p.y - {y1!r}) / {y2 - y1!r} + {x1!r})"
            cs.append(
                f"(CASE WHEN (({y1!r} > p.y) <> ({y2!r} > p.y)) AND p.x < {xin}"
                f" THEN 1 ELSE 0 END)"
            )
        if cs:
            dist = f"(CASE WHEN ({' + '.join(cs)}) % 2 = 1 THEN 0.0 ELSE {dist} END)"
    return f"""
    WITH p AS ({points_sql})
    SELECT {point_id}, round({dist}, 6) AS dist_r
    FROM p ORDER BY {dist} ASC, {point_id} ASC LIMIT {int(k)}
    """


def knn(
    df: DataFrame,
    qx: float,
    qy: float,
    k: int,
    metric: str = "euclidean",
    max_distance: float | None = None,
    cols: tuple[str, str] = ("x", "y"),
    id_col: str = "row_id",
    prefilter_radius: float | None = None,
) -> DataFrame:
    """Top-k rows by (distance, id). Returns input columns + ``dist``.
    ``max_distance`` / ``prefilter_radius`` are in the metric's units
    (coordinate units for euclidean, METERS for haversine); either one
    turns the scan into a pushed-down window prune (haversine uses the
    antimeridian-wrapped degree box)."""
    x, y = (F.col(c) for c in cols)
    if metric == "euclidean":
        d = euclidean_dist_col(x, y, qx, qy)
    elif metric == "haversine":
        d = haversine_dist_col(x, y, qx, qy)
    else:
        raise ValueError(f"unknown metric {metric}")
    out = df
    radius = prefilter_radius
    if max_distance is not None:
        radius = max_distance if radius is None else min(radius, max_distance)
    if radius is not None:
        # pushed-down window — prunes Hilbert-clustered row groups.
        # euclidean: coordinate-unit bbox; haversine: the literal
        # degree-box (meters radius, antimeridian-wrapped OR) shared
        # with within_geo — the prune that makes radius-capped geo kNN
        # a partial scan instead of a full one.
        if metric == "euclidean":
            out = out.filter(
                (x >= F.lit(qx - radius))
                & (x <= F.lit(qx + radius))
                & (y >= F.lit(qy - radius))
                & (y <= F.lit(qy + radius))
            )
        else:
            from geo_index_spark.operators.search import geo_prefilter_pred

            out = out.filter(geo_prefilter_pred(x, y, qx, qy, radius))
    out = out.withColumn("dist", d)
    if max_distance is not None:
        out = out.filter(F.col("dist") <= F.lit(float(max_distance)))
    return out.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(int(k))
