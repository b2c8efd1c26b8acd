"""Independent numpy references and the output checks built on them.

Each ``check_*`` returns ``None`` when the engine's output agrees with
the reference and a one-line description of the first disagreement
otherwise. None of them calls into the engine.
"""

from __future__ import annotations

import numpy as np

# pair checksum: sum over pairs of (l * K + r) mod P. Each term is below
# 2^31, so the sum of up to 2^32 terms fits a signed 64-bit integer in
# Spark and numpy alike.
CHECK_K = 1_000_003
CHECK_P = 2_147_483_647


def pair_checksum(left: np.ndarray, right: np.ndarray) -> int:
    return int(((np.asarray(left, np.int64) * CHECK_K + np.asarray(right, np.int64)) % CHECK_P).sum())


def box_pairs(
    lid: np.ndarray, lbox: np.ndarray, rid: np.ndarray, rbox: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """All (left_id, right_id) with inclusively overlapping boxes. On a
    grid whose cell is the widest box edge, overlapping boxes have
    lower-left corners in the same or adjacent cells, so each left box
    is tested against the right boxes of nine cells."""
    if len(lbox) == 0 or len(rbox) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    c = max(float(np.max(b[:, 2 + i] - b[:, i])) for b in (lbox, rbox) for i in (0, 1))
    c = c if c > 0 else 1.0
    lx, ly = np.floor(lbox[:, 0] / c).astype(np.int64), np.floor(lbox[:, 1] / c).astype(np.int64)
    rx, ry = np.floor(rbox[:, 0] / c).astype(np.int64), np.floor(rbox[:, 1] / c).astype(np.int64)
    ox, oy = min(lx.min(), rx.min()) - 1, min(ly.min(), ry.min()) - 1
    ny = max(ly.max(), ry.max()) - oy + 2
    rkey = (rx - ox) * ny + (ry - oy)
    order = np.argsort(rkey, kind="stable")
    rkey = rkey[order]
    outs_l, outs_r = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            q = (lx + dx - ox) * ny + (ly + dy - oy)
            lo = np.searchsorted(rkey, q, "left")
            cnt = np.searchsorted(rkey, q, "right") - lo
            rep = np.repeat(np.arange(len(lbox)), cnt)
            cand = order[lo[rep] + np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)]
            a, b = lbox[rep], rbox[cand]
            ok = (a[:, 0] <= b[:, 2]) & (a[:, 2] >= b[:, 0]) & (a[:, 1] <= b[:, 3]) & (a[:, 3] >= b[:, 1])
            outs_l.append(np.asarray(lid, np.int64)[rep[ok]])
            outs_r.append(np.asarray(rid, np.int64)[cand[ok]])
    return np.concatenate(outs_l), np.concatenate(outs_r)


def check_pairs(got: tuple[int, int], want_l: np.ndarray, want_r: np.ndarray) -> str | None:
    """``got`` = (pair count, pair checksum) from the engine, over the
    same lefts as the reference pairs."""
    n, cs = int(got[0]), int(got[1] or 0)
    if n != len(want_l):
        return f"{n} pairs, reference has {len(want_l)}"
    want_cs = pair_checksum(want_l, want_r)
    if cs != want_cs:
        return f"pair checksum {cs} != reference {want_cs}"
    return None


def knn_brute(qx: float, qy: float, x: np.ndarray, y: np.ndarray, ids: np.ndarray, k: int):
    """k nearest (ids, dists) ascending by (dist, id) over all points."""
    dx = x - qx
    dy = y - qy
    d = np.sqrt(dx * dx + dy * dy)
    kk = min(k, len(d))
    # every point tied with the kth distance, then the (dist, id) order
    cand = np.nonzero(d <= np.partition(d, kk - 1)[kk - 1])[0]
    o = np.lexsort((ids[cand], d[cand]))[:k]
    return ids[cand][o], d[cand][o]


def check_knn(
    out_left: np.ndarray,
    out_right: np.ndarray,
    out_dist: np.ndarray,
    n_lefts: int,
    k: int,
    sample: list[tuple[int, float, float]],
    x: np.ndarray,
    y: np.ndarray,
    ids: np.ndarray,
) -> str | None:
    """Row count, then per sampled left the exact (dist, id) sequence."""
    if len(out_left) != n_lefts * k:
        return f"{len(out_left)} rows, expected {n_lefts} lefts x k={k}"
    order = np.lexsort((out_right, out_dist, out_left))
    ol, orr, od = out_left[order], out_right[order], out_dist[order]
    for lid, qx, qy in sample:
        lo, hi = np.searchsorted(ol, lid, "left"), np.searchsorted(ol, lid, "right")
        want_ids, want_d = knn_brute(qx, qy, x, y, ids, k)
        if not np.allclose(od[lo:hi], want_d, rtol=1e-12, atol=0.0):
            return f"left {lid}: dists {od[lo:hi].tolist()} != {want_d.tolist()}"
        if not np.array_equal(orr[lo:hi], want_ids):
            return f"left {lid}: ids {orr[lo:hi].tolist()} != {want_ids.tolist()}"
    return None


def tile_counts(cells: np.ndarray) -> dict[int, int]:
    u, c = np.unique(np.asarray(cells, np.uint64), return_counts=True)
    return {int(a): int(b) for a, b in zip(u, c)}


def check_counts(got: dict, want: dict, what: str) -> str | None:
    if got == want:
        return None
    diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    k = sorted(diff, key=str)[0]
    return f"{what}: {len(diff)} keys differ, e.g. {k}: got {got.get(k)}, want {want.get(k)}"


def probe_brute(q: tuple, x: np.ndarray, y: np.ndarray, ids: np.ndarray):
    """Reference answer of one probe: an id set for search/within, the
    ordered (ids, dists) for knn."""
    kind = q[0]
    if kind == "search":
        _, a, b, c, d = q
        return set(ids[(x >= a) & (x <= c) & (y >= b) & (y <= d)].tolist())
    if kind == "within":
        _, qx, qy, r = q
        return set(ids[(x - qx) ** 2 + (y - qy) ** 2 <= r * r].tolist())
    _, qx, qy, k = q
    return knn_brute(qx, qy, x, y, ids, k)


def check_probe(q: tuple, got, x: np.ndarray, y: np.ndarray, ids: np.ndarray) -> str | None:
    want = probe_brute(q, x, y, ids)
    if q[0] == "knn":
        (gi, gd), (wi, wd) = got, want
        if len(gi) != len(wi) or not np.allclose(gd, wd, rtol=1e-9, atol=1e-12):
            return f"{q}: dists {list(gd)[:3]}... != {wd.tolist()[:3]}..."
        # the index measures distance with hypot, the reference with
        # sqrt; only a tie at the kth distance may pick another point
        kth_tied = len(wd) > 1 and np.isclose(wd[-1], wd[-2])
        if set(gi) != set(wi.tolist()) and not kth_tied:
            return f"{q}: ids differ"
        return None
    if got != want:
        return f"{q}: {len(got)} ids, reference {len(want)} ({len(got ^ want)} differ)"
    return None


def char_shingles(text: str, n: int) -> set[str]:
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def check_jaccard_pairs(
    pairs: list[tuple[int, int]], texts: dict[int, str], n: int, tau_num: int, tau_den: int
) -> str | None:
    """Every emitted pair must reach exact shingle Jaccard >= tau."""
    for a, b in pairs:
        sa, sb = char_shingles(texts[a], n), char_shingles(texts[b], n)
        inter = len(sa & sb)
        union = len(sa | sb)
        if inter * tau_den < tau_num * union:
            return f"pair ({a}, {b}) has Jaccard {inter}/{union} < {tau_num}/{tau_den}"
    return None


def check_cosine_pairs(pairs: list[tuple[int, int]], vecs: np.ndarray, tau: float) -> str | None:
    """Every emitted pair must reach cosine >= tau (at the operator's
    six-decimal rounding)."""
    if not pairs:
        return None
    p = np.asarray(pairs, np.int64)
    a, b = vecs[p[:, 0]], vecs[p[:, 1]]
    cos = (a * b).sum(1) / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1))
    bad = np.nonzero(np.round(cos, 6) < tau)[0]
    if bad.size:
        i = int(bad[0])
        return f"pair {tuple(p[i])} has cosine {cos[i]:.6f} < {tau}"
    return None


def recall(found: list[tuple[int, int]], planted: list[tuple[int, int]]) -> float:
    got = {(min(a, b), max(a, b)) for a, b in found}
    hit = sum((min(a, b), max(a, b)) in got for a, b in planted)
    return hit / len(planted) if planted else 1.0
