"""Independent numpy answers for every timed call. They run outside the
timed region and never read the engine's tables back as their source: the
points come from ``inputs.point_coords``, the embeddings from
``inputs.ann_corpus``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class PointSet:
    """The reference point table, sorted by x0 for box counts."""

    def __init__(self, keys: np.ndarray, xy: np.ndarray):
        order = np.argsort(xy[:, 0], kind="stable")
        self.keys = keys[order]
        self.x = xy[order, 0]
        self.y = xy[order, 1]
        self.xy = xy

    def __len__(self) -> int:
        return len(self.keys)

    def box_counts(self, boxes: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        """Per box (in qid order): points inside, and the sum of their keys."""
        lo0, hi0 = boxes["lo0"].to_numpy(), boxes["hi0"].to_numpy()
        lo1, hi1 = boxes["lo1"].to_numpy(), boxes["hi1"].to_numpy()
        i0 = np.searchsorted(self.x, lo0, "left")
        i1 = np.searchsorted(self.x, hi0, "right")
        cnt = np.zeros(len(boxes), dtype=np.int64)
        ksum = np.zeros(len(boxes), dtype=np.int64)
        for b in range(len(boxes)):
            y = self.y[i0[b] : i1[b]]
            m = (y >= lo1[b]) & (y <= hi1[b])
            cnt[b] = int(m.sum())
            ksum[b] = int(self.keys[i0[b] : i1[b]][m].sum())
        return cnt, ksum

    def knn_dist2(self, q: np.ndarray, k: int) -> np.ndarray:
        """(len(q), k) sorted smallest squared distances, by brute force."""
        out = np.empty((len(q), k), dtype=np.int64)
        for i, p in enumerate(q):
            d2 = ((self.xy - p) ** 2).sum(axis=1)
            out[i] = np.sort(np.partition(d2, k - 1)[:k])
        return out


def check_counts(got: pd.DataFrame, boxes: pd.DataFrame, ref: list[PointSet]) -> str | None:
    """``got`` = (qid, cnt) from range_count_boxes; ``ref`` point sets are
    summed (base table plus an inserted batch). None when correct."""
    want = sum(r.box_counts(boxes)[0] for r in ref)
    g = got.set_index("qid")["cnt"].reindex(boxes["qid"].to_numpy())
    if len(got) != len(boxes) or g.isna().any():
        return f"range_count returned {len(got)} rows for {len(boxes)} boxes"
    bad = np.flatnonzero(g.to_numpy().astype(np.int64) != want)
    if len(bad):
        return f"range_count wrong on {len(bad)} boxes (first qid {int(boxes['qid'].iloc[bad[0]])})"
    return None


def check_report(got: pd.DataFrame, boxes: pd.DataFrame, ref: PointSet) -> str | None:
    """``got`` = (qid, key) rows of range_report_boxes: rows per box and
    key checksum per box."""
    want_c, want_k = ref.box_counts(boxes)
    agg = got.groupby("qid")["key"].agg(["size", "sum"]).reindex(boxes["qid"].to_numpy(), fill_value=0)
    if not np.array_equal(agg["size"].to_numpy(), want_c):
        return "range_report row count per box differs"
    if not np.array_equal(agg["sum"].to_numpy().astype(np.int64), want_k):
        return "range_report key checksum per box differs"
    return None


def check_knn(got: pd.DataFrame, queries: pd.DataFrame, ref: PointSet, k: int, sample: np.ndarray) -> str | None:
    """``got`` = (qid, dist2) rows of a kNN batch: k rows per query, and the
    k smallest dist2 multiset on the sampled queries."""
    per = got.groupby("qid").size()
    if len(per) != len(queries) or (per != min(k, len(ref))).any():
        return f"knn returned {len(got)} rows for {len(queries)} queries"
    q = queries.iloc[sample]
    want = ref.knn_dist2(q[["q0", "q1"]].to_numpy(), k)
    by_q = got[got["qid"].isin(q["qid"])].sort_values(["qid", "dist2"])
    have = by_q["dist2"].to_numpy().reshape(len(q), k)
    order = np.argsort(q["qid"].to_numpy())
    if not np.array_equal(have, want[order]):
        return "knn dist2 multiset differs from brute force"
    return None


def quantize(emb: np.ndarray) -> np.ndarray:
    """The engine's fixed-point quantisation, floor(double(e) * 1000)."""
    return np.floor(emb.astype(np.float64) * 1000.0)


def check_ann(got: pd.DataFrame, qv: np.ndarray, vec_ids: np.ndarray, n_queries: int, k: int) -> tuple[str | None, float]:
    """``got`` = (qid, rn, vec_id, dot) from ann_lsh over the corpus whose
    quantised rows are ``qv`` with labels ``vec_ids``. Returns (error,
    recall@k). Every returned dot must equal the exact dot; recall counts a
    returned neighbour as a hit when its dot reaches the exact k-th best
    (ties at the k-th dot are interchangeable)."""
    pos = np.empty(len(vec_ids), dtype=np.int64)
    pos[vec_ids] = np.arange(len(vec_ids))
    Q = qv[pos[np.arange(n_queries)]]
    dots = Q @ qv.T  # float64 is exact here: |dot| <= 64 * 1000^2 << 2^53
    dots[np.arange(n_queries), pos[np.arange(n_queries)]] = -np.inf  # self
    kth = -np.sort(-dots, axis=1)[:, k - 1]
    qid = got["qid"].to_numpy()
    vid = got["vec_id"].to_numpy()
    if len(got) and (qid.min() < 0 or qid.max() >= n_queries or (vid == qid).any()):
        return "ann_lsh returned a query outside the batch or the query itself", 0.0
    if got.duplicated(["qid", "vec_id"]).any() or (got.groupby("qid").size() > k).any():
        return "ann_lsh returned duplicate or more than k neighbours", 0.0
    exact = dots[qid, pos[vid]]
    if not np.array_equal(exact, got["dot"].to_numpy().astype(np.float64)):
        return "ann_lsh dot differs from the exact dot", 0.0
    hits = int((exact >= kth[qid]).sum())
    return None, hits / float(n_queries * k)


# the engine's hyperplane constants (pkd_tree_spark.config A1, A2) and
# table count, restated so the layout below is computed independently
_PLANE_A1, _PLANE_A2 = 2_654_435_761, 2_246_822_519
LSH_TABLES = 8


class LshLayout:
    """numpy replica of ann_lsh's bucket layout over one corpus: every
    vector's key in each of the 8 tables (random-hyperplane bits of the
    norm-augmented vector), and the buckets a query batch probes (its own
    key and every Hamming-1 and Hamming-2 flip, per table)."""

    def __init__(self, qv: np.ndarray, n_planes: int):
        self.qv = qv.astype(np.int64)
        self.n_planes = n_planes
        norm2 = (self.qv * self.qv).sum(axis=1)
        self.m2 = int(norm2.max())
        aug = np.floor(np.sqrt(np.maximum(0.0, float(self.m2) - norm2.astype(np.float64)))).astype(np.int64)
        self.keys, self.rows = np.unique(self._keys(aug), return_counts=True)
        self.max_bucket_rows = int(self.rows.max())
        p = range(n_planes)
        self.masks = np.array([0] + [1 << a for a in p] + [(1 << a) | (1 << b) for a in p for b in p if b > a],
                              dtype=np.int64)

    def _keys(self, aug: np.ndarray, rows: np.ndarray | None = None) -> np.ndarray:
        v = self.qv if rows is None else self.qv[rows]
        va = np.concatenate([v, aug[:, None]], axis=1)
        planes = np.arange(self.n_planes * LSH_TABLES, dtype=np.int64)
        dims = np.arange(va.shape[1], dtype=np.int64)
        sign = np.where(((dims[:, None] * _PLANE_A1 + planes[None, :] * _PLANE_A2) >> 7) % 2 == 0, 1, -1)
        bits = ((va @ sign) >= 0).reshape(len(va), LSH_TABLES, self.n_planes).astype(np.int64)
        key = (bits << np.arange(self.n_planes, dtype=np.int64)).sum(axis=2)
        return key | (np.arange(LSH_TABLES, dtype=np.int64) << self.n_planes)

    def probed_row_share(self, vec_ids: np.ndarray, n_queries: int) -> float:
        """Share of the corpus's (vector, table) rows that sit in a bucket
        the batch ``vec_id < n_queries`` probes."""
        pos = np.empty(len(vec_ids), dtype=np.int64)
        pos[vec_ids] = np.arange(len(vec_ids))
        rows = pos[np.arange(n_queries)]
        qkeys = self._keys(np.zeros(len(rows), dtype=np.int64), rows)
        probed = np.unique((qkeys[:, :, None] ^ self.masks[None, None, :]).ravel())
        return float(self.rows[np.isin(self.keys, probed)].sum()) / float(self.rows.sum())


def duckdb_self_test(lineitem: pd.DataFrame, ref: PointSet) -> str | None:
    """The checker's box counts agree with the repository's DuckDB oracle on
    ``fixtures.box_fixtures(1000)`` over the uniform points."""
    import duckdb

    from pkd_tree_spark import fixtures, oracle

    boxes = fixtures.box_fixtures(1000)
    con = duckdb.connect()
    try:
        con.register("lineitem", lineitem)
        res = con.execute(oracle.range_count_box_sql(1000, 2, "uniform")).df()
    finally:
        con.close()
    want = res.set_index("qid")["cnt"].reindex(boxes["qid"].to_numpy()).to_numpy()
    if not np.array_equal(ref.box_counts(boxes)[0], want.astype(np.int64)):
        return "checker box counts disagree with the DuckDB oracle"
    return None
