"""Seeded input generators. Every input the engine sees is built here
(or by ``webtext.generate.web_pages_pdf``) from the run's seed; the same
seed gives the same arrays. Each generator draws from its own stream,
``default_rng([seed, stream])``, so resizing one input leaves the others
unchanged."""

from __future__ import annotations

import numpy as np

# the skew of benchwork.synth_points: 80% of points within +-0.1 degree
# of 50 city centres, 20% uniform. The centres are those of
# benchwork.synth_points and do not change with the seed; the seed draws
# the points.
N_CITIES = 50
CITY_HALF = 0.1
CLUSTERED = 0.8
BOUNDS = (-180.0, -85.0, 180.0, 85.0)

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    return h ^ (h >> 32)


def xxhash64_long(v: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one LongType value, as a signed int."""
    h = (seed + _P5 + 8) & _M64
    h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
    h = _fmix((_rotl(h, 27) * _P1 + _P4) & _M64)
    return h - (1 << 64) if h >> 63 else h


def xxhash64_long_int(v: int, w: int, seed: int = 42) -> int:
    """Spark's ``xxhash64(long_col, int_literal)``."""
    h = (xxhash64_long(v, seed) + _P5 + 4) & _M64
    h ^= ((w & 0xFFFFFFFF) * _P1) & _M64
    h = _fmix((_rotl(h, 23) * _P2 + _P3) & _M64)
    return h - (1 << 64) if h >> 63 else h


# benchwork.synth_points: cx = pmod(xxhash64(city), 360000) / 1000 - 180,
# cy = pmod(xxhash64(city, 7), 130000) / 1000 - 60
_CENTRES = np.array(
    [
        (xxhash64_long(c) % 360_000 / 1000.0 - 180.0, xxhash64_long_int(c, 7) % 130_000 / 1000.0 - 60.0)
        for c in range(N_CITIES)
    ]
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _skewed_xy(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    cx, cy = _CENTRES[:, 0], _CENTRES[:, 1]
    n_c = int(n * CLUSTERED)
    city = rng.integers(0, N_CITIES, n_c)
    x = np.concatenate(
        [cx[city] + rng.uniform(-CITY_HALF, CITY_HALF, n_c), rng.uniform(-180.0, 180.0, n - n_c)]
    )
    y = np.concatenate(
        [cy[city] + rng.uniform(-CITY_HALF, CITY_HALF, n_c), rng.uniform(-85.0, 85.0, n - n_c)]
    )
    perm = rng.permutation(n)
    return x[perm], y[perm]


def geo_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(row_id, x, y) skewed geotag points."""
    x, y = _skewed_xy(_rng(seed, 1), n)
    return np.arange(n, dtype=np.int64), x, y


def small_boxes(seed: int, n: int, half: float) -> tuple[np.ndarray, np.ndarray]:
    """(row_id, boxes[n, 4]) centred on the same city mixture as the
    points, so that they hit data."""
    x, y = _skewed_xy(_rng(seed, 2), n)
    boxes = np.stack([x - half, y - half, x + half, y + half], axis=1)
    return np.arange(n, dtype=np.int64), boxes


def sample_ids(seed: int, stream: int, n_from: int, n: int) -> np.ndarray:
    """``n`` distinct ids from ``range(n_from)``, sorted."""
    return np.sort(_rng(seed, stream).choice(n_from, size=n, replace=False)).astype(np.int64)


_SYLLABLES = np.array(
    ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "da", "ve", "xo", "bu", "ge", "fi", "ha", "ju"]
)


def documents(
    seed: int, n_docs: int, dup_share: float, words: tuple[int, int] = (40, 70), edits: float = 0.04
) -> tuple[np.ndarray, list[str], list[tuple[int, int]]]:
    """(doc_id, text, planted pairs). A ``dup_share`` of documents is a
    copy of an earlier document with a few words replaced; each planted
    pair is (source id, copy id)."""
    rng = _rng(seed, 3)
    vocab = [
        "".join(_SYLLABLES[rng.integers(0, len(_SYLLABLES), rng.integers(2, 5))]) for _ in range(3000)
    ]
    n_dup = int(n_docs * dup_share)
    n_src = n_docs - n_dup
    texts: list[list[str]] = []
    for _ in range(n_src):
        texts.append([vocab[i] for i in rng.integers(0, len(vocab), rng.integers(*words))])
    planted = []
    for j in range(n_dup):
        src = int(rng.integers(0, n_src))
        toks = list(texts[src])
        for pos in rng.choice(len(toks), size=max(1, int(len(toks) * edits)), replace=False):
            toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(toks)
        planted.append((src, n_src + j))
    ids = np.arange(n_docs, dtype=np.int64)
    return ids, [" ".join(t) for t in texts], planted


def vectors(
    seed: int, n: int, dim: int, dup_share: float, noise: float = 0.05
) -> tuple[np.ndarray, np.ndarray, list[tuple[int, int]]]:
    """(vec_id, vectors[n, dim], planted pairs): Gaussian vectors, of
    which a ``dup_share`` are a noisy copy of an earlier one (cosine
    about 0.999 at the default noise)."""
    rng = _rng(seed, 4)
    n_dup = int(n * dup_share)
    n_src = n - n_dup
    v = rng.standard_normal((n, dim))
    src = rng.integers(0, n_src, n_dup)
    v[n_src:] = v[src] + noise * rng.standard_normal((n_dup, dim))
    planted = [(int(s), n_src + j) for j, s in enumerate(src)]
    return np.arange(n, dtype=np.int64), v, planted


def probe_queries(seed: int, n: int, x: np.ndarray, y: np.ndarray) -> list[tuple]:
    """Closed-loop point queries around seeded data points, cycling
    through bbox search, radius and kNN probes:
    ("search", minx, miny, maxx, maxy) | ("within", qx, qy, r) |
    ("knn", qx, qy, k)."""
    rng = _rng(seed, 5)
    at = rng.integers(0, len(x), n)
    jx = rng.uniform(-0.05, 0.05, n)
    jy = rng.uniform(-0.05, 0.05, n)
    out = []
    for i in range(n):
        qx, qy = float(x[at[i]] + jx[i]), float(y[at[i]] + jy[i])
        kind = i % 3
        if kind == 0:
            h = float(rng.uniform(0.01, 0.2))
            out.append(("search", qx - h, qy - h, qx + h, qy + h))
        elif kind == 1:
            out.append(("within", qx, qy, float(rng.uniform(0.01, 0.2))))
        else:
            out.append(("knn", qx, qy, 10))
    return out
