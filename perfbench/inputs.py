"""Seeded input generators. Everything the engine receives is built here.

Two kinds of randomness:

* the **dataset** (the lineitem key table the point tables derive from, and
  the base embeddings) uses the fixed ``DATASET_SEED``, so every run indexes
  the same tables, as a benchmark over fixed sf tables would;
* the **workload** inputs (query points, boxes, update batches, replica
  rotations, query choice) come from the ``--seed`` argument.

The key table mirrors the sf lineitem tables' key distribution
(``l_orderkey`` uniform over ``n/4`` orders, ``l_linenumber`` uniform in
1..7, duplicates kept), at ``N_POINTS`` rows. Coordinates are derived from
keys by the engine (``pkd_tree_spark.documents``); ``point_coords`` below is
an independent numpy derivation of the same formulas, used only by the
checker.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DATASET_SEED = 42
N_POINTS = 30_000
COORD_BOUND = 1_000_001  # the engine's coordinate domain [0, 1e6]
D = 2

# the numbers the engine derives coordinates with (pkd_tree_spark.config),
# restated so the checker does not read them from the code under test
_MULTS = (2_654_435_761, 2_246_822_519)
_ADDS = (12_345, 54_321)
_VARDEN_CLUSTERS = 64
_VARDEN_CENTER_MULT = 48_271 * 7_919
_VARDEN_SIGMA_BASE, _VARDEN_SIGMA_MULT, _VARDEN_SIGMA_MOD = 50, 5_077, 20_000

INSERT_KEY_BASE = 3_000_000_000  # fresh keys, far above every table key


def lineitem_keys(n: int = N_POINTS) -> pd.DataFrame:
    """(l_orderkey, l_linenumber) rows, the shape the point tables derive from."""
    rng = np.random.default_rng(DATASET_SEED)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n // 4, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int64),
        }
    )


def point_keys(li: pd.DataFrame) -> np.ndarray:
    return (li["l_orderkey"].to_numpy() * 10 + li["l_linenumber"].to_numpy()).astype(np.int64)


def point_coords(keys: np.ndarray, dist: str) -> np.ndarray:
    """(n, 2) int64 coordinates of the points with these keys."""
    k = keys.astype(np.int64)
    out = np.empty((len(k), D), dtype=np.int64)
    for j in range(D):
        uni = (k * _MULTS[j] + _ADDS[j]) % COORD_BOUND
        if dist == "uniform":
            out[:, j] = uni
            continue
        c = k % _VARDEN_CLUSTERS
        sigma = _VARDEN_SIGMA_BASE + (c * c * _VARDEN_SIGMA_MULT) % _VARDEN_SIGMA_MOD
        center = ((c + 1) * (_VARDEN_CENTER_MULT + j * 1_000_003)) % COORD_BOUND
        off = (k * _MULTS[j] + _ADDS[j]) % (2 * sigma + 1) - sigma
        clustered = np.clip(center + off, 0, COORD_BOUND - 1)
        out[:, j] = np.where(k % 100 == 0, uni, clustered)
    return out


def knn_batch(rng: np.random.Generator, pts: np.ndarray, m: int, ood_frac: float = 0.01) -> pd.DataFrame:
    """m queries: indexed points drawn with replacement, plus an
    ``ood_frac`` share of uniform out-of-distribution positions."""
    q = pts[rng.integers(0, len(pts), m)].copy()
    n_ood = max(1, int(round(m * ood_frac)))
    q[:n_ood] = rng.integers(0, COORD_BOUND, (n_ood, D))
    rng.shuffle(q)
    return pd.DataFrame({"qid": np.arange(m, dtype=np.int64), "q0": q[:, 0], "q1": q[:, 1]})


def box_batch(rng: np.random.Generator, nq: int, n_points: int, btype: int) -> pd.DataFrame:
    """Boxes in the reference's selectivity bracket ``btype`` (expected
    result count in [1, n^1/4), [n^1/4, n^1/2) or [n^1/2, n/100] under
    uniformity, as ``fixtures.box_fixtures_bracketed``), seeded centres."""
    n = max(n_points, 16)
    m_lo, m_hi = {0: (1.0, n**0.25), 1: (n**0.25, n**0.5), 2: (n**0.5, n / 100.0)}[btype]
    m = m_lo * (m_hi / m_lo) ** rng.random(nq)
    hw = np.maximum(1, ((COORD_BOUND / 2.0) * (m / n) ** (1.0 / D)).astype(np.int64))
    cols = {"qid": np.arange(nq, dtype=np.int64)}
    c = rng.integers(0, COORD_BOUND, (nq, D))
    for j in range(D):
        cols[f"lo{j}"] = np.maximum(0, c[:, j] - hw)
        cols[f"hi{j}"] = np.minimum(COORD_BOUND - 1, c[:, j] + hw)
    return pd.DataFrame(cols)


# side of a PersistentIndex bucket (Morton cell at its bucket_level 3)
BUCKET_SIDE = 1 << 17


def update_batch(rng: np.random.Generator, m: int, key_start: int, local: bool = False) -> pd.DataFrame:
    """m fresh rows in the index's column layout: uniform positions, or
    with ``local`` all inside one seeded bucket-sized square (a localised
    update that touches one bucket of the persistent layout)."""
    keys = np.arange(key_start, key_start + m, dtype=np.int64)
    if local:
        lo = rng.integers(0, COORD_BOUND // BUCKET_SIDE, D) * BUCKET_SIDE
        xy = lo + rng.integers(0, BUCKET_SIDE, (m, D))
    else:
        xy = rng.integers(0, COORD_BOUND, (m, D))
    return pd.DataFrame(
        {
            "doc_id": [f"doc_{k:012d}" for k in keys],
            "span_idx": np.zeros(m, dtype=np.int32),
            "key": keys,
            "x0": xy[:, 0],
            "x1": xy[:, 1],
        }
    )


# --- embeddings ------------------------------------------------------------

EMB_BASE_ROWS = 2_000
EMB_DIM = 64
EMB_LABELS = 10
EMB_REPLICAS = 6
# one vector repeated this many times: its LSH bucket holds every copy in
# every table, well above similarity.LSH_BUCKET_TARGET_ROWS
EMB_HOT_ROWS = 1_500


def base_embeddings() -> np.ndarray:
    """(2000, 64) float32 unit vectors around 10 label centroids."""
    rng = np.random.default_rng(DATASET_SEED)
    cent = rng.standard_normal((EMB_LABELS, EMB_DIM))
    lab = rng.integers(0, EMB_LABELS, EMB_BASE_ROWS)
    e = cent[lab] + 0.8 * rng.standard_normal((EMB_BASE_ROWS, EMB_DIM))
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return e.astype(np.float32)


def ann_corpus(rng: np.random.Generator) -> np.ndarray:
    """Base rows, ``EMB_REPLICAS - 1`` rotated replicas (seeded distinct
    rotations: norm-preserving, so the LSH geometry stays honest) and the
    hot duplicate slice. Row i gets vec_id i before per-call relabelling."""
    base = base_embeddings()
    rots = rng.choice(np.arange(1, EMB_DIM), EMB_REPLICAS - 1, replace=False)
    parts = [base] + [np.roll(base, -int(r), axis=1) for r in rots]
    parts.append(np.repeat(base[rng.integers(0, EMB_BASE_ROWS)][None, :], EMB_HOT_ROWS, axis=0))
    return np.concatenate(parts).astype(np.float32)


def relabel(rng: np.random.Generator, n: int) -> tuple[int, int]:
    """(a, b) with gcd(a, n) == 1: vec_id -> (vec_id * a + b) % n is a
    bijection, so ``vec_id < n_queries`` picks a fresh seeded query set."""
    while True:
        a = int(rng.integers(1, n))
        if np.gcd(a, n) == 1:
            return a, int(rng.integers(0, n))
