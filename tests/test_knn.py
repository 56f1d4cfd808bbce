"""kNN vs brute-force numpy oracle (checkCorrectParallel.cpp:316-326 analog:
kth-distance equality — exact here, since all arithmetic is int64)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.knn import auto_knn_level, knn


def _kth_oracle(pts: pd.DataFrame, queries: pd.DataFrame, k: int) -> dict[int, int]:
    px = pts[["x0", "x1"]].to_numpy()
    out = {}
    for r in queries.itertuples():
        d2 = ((px - np.array([r.q0, r.q1])) ** 2).sum(axis=1)
        out[r.qid] = int(np.partition(d2, k - 1)[k - 1])
    return out


@pytest.mark.parametrize("which,k", [("uniform", 1), ("uniform", 10), ("varden", 10), ("varden", 100)])
def test_knn_kth_distance(request, which, k):
    idx = request.getfixturevalue(f"index_{which}")
    pts = request.getfixturevalue(f"points_{which}")
    queries = FX.knn_fixtures(16, 2)
    res = knn(idx, queries, k=k, level=auto_knn_level(len(pts), 2)).toPandas()
    got = res[res.rn == k].set_index("qid")["dist2"].to_dict()
    want = _kth_oracle(pts, queries, k)
    assert got == want


def test_knn_ood(index_varden, points_varden):
    """OOD variant (tests/test.cpp:494-509): query points far from the
    clusters — forces multi-round ring expansion through sparse cells."""
    queries = pd.DataFrame({"qid": [0, 1, 2], "q0": [0, 999_999, 500_001], "q1": [0, 999_999, 1]})
    res = knn(index_varden, queries, k=5).toPandas()
    got = res[res.rn == 5].set_index("qid")["dist2"].to_dict()
    want = _kth_oracle(points_varden, queries.rename(columns={"q0": "q0", "q1": "q1"}), 5)
    assert got == want


def test_knn_k_exceeds_candidates_in_home_cell(index_uniform, points_uniform):
    """k larger than any single cell's population — termination must come
    from the ring bound, not luck."""
    queries = FX.knn_fixtures(4, 2)
    k = 200
    res = knn(index_uniform, queries, k=k, level=6).toPandas()
    got = res[res.rn == k].set_index("qid")["dist2"].to_dict()
    assert got == _kth_oracle(points_uniform, queries, k)


def test_knn_duplicate_points_multiset(index_uniform, points_uniform):
    """Duplicate lineitem rows produce duplicate points; they must count as
    distinct neighbors (dummy-leaf multiplicity semantics)."""
    dup_counts = points_uniform.groupby(["x0", "x1"]).size()
    assert (dup_counts > 1).any(), "fixture should contain duplicates"
    x0, x1 = dup_counts[dup_counts > 1].index[0]
    queries = pd.DataFrame({"qid": [0], "q0": [int(x0)], "q1": [int(x1)]})
    res = knn(index_uniform, queries, k=2).toPandas().sort_values("rn")
    assert res.iloc[0]["dist2"] == 0 and res.iloc[1]["dist2"] == 0


def test_knn_offgrid_shell_still_terminates(spark):
    """Regression (r4): a coarse-level boundary query whose round-2+ shell
    falls ENTIRELY off-grid must still finish via the covered-mesh rule.
    r3 broke the round loop when no shell cells survived, silently losing
    still-pending queries (and leaking the persisted empty cells frame)."""
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.index import SpatialIndex

    cfg = EngineConfig(dims=2, index_level=3, knn_level=1, partitions=4)
    pts = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(5)],
            "span_idx": [0] * 5,
            "key": list(range(5)),
            "x0": [0, 1, 2, 3, 4],
            "x1": [0, 1, 2, 3, 4],
        }
    )
    idx = SpatialIndex.build(spark.createDataFrame(pts), cfg)
    # far-corner query at level 1: round 1 scans the whole 2x2 grid but the
    # kth distance exceeds (r*w)^2, so round 2's shell is fully off-grid
    q = pd.DataFrame({"qid": [0], "q0": [999_999], "q1": [999_999]})
    res = knn(idx, q, k=3, level=1, adaptive=False).toPandas()
    assert len(res) == 3
    assert res.sort_values("rn")["key"].tolist() == [4, 3, 2]


# ---------------------------------------------------------------------------
# round 5: large-meta Spark-side resolution, duplicate collapse, empty index
# ---------------------------------------------------------------------------

_RESCOLS = ["qid", "rn", "key", "span_idx", "dist2"]


def _sorted(res) -> pd.DataFrame:
    return res.toPandas().sort_values(["qid", "rn"]).reset_index(drop=True)[_RESCOLS]


def test_knn_large_meta_fallback_no_points_explode(spark, cfg, index_uniform, points_uniform):
    """When the meta exceeds the driver memo (META_MEMO_CELLS), kNN must
    resolve shells via the meta-side join — NOT revert to the full points
    explode (VERDICT r4 'What's wrong' #2). Coarse shells resolve to
    lvl==-1 leaf rows, which take the no-generate leaf equi-join."""
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    idx = SpatialIndex.build(load_points(spark, "/root/testdata/sf0.001", dims=2, dist="uniform"), cfg)
    object.__setattr__(idx, "_meta_np", {"cells": None})  # memo refusal
    assert idx.meta_np() is None
    queries = FX.knn_fixtures(16, 2)
    plans: list = []
    got = _sorted(knn(idx, queries, k=10, level=4, adaptive=False, plan_log=plans))
    want = _sorted(knn(index_uniform, queries, k=10, level=4, adaptive=False))
    pd.testing.assert_frame_equal(got, want)
    assert plans, "plan probe should capture at least one round"
    for p in plans:
        # every resolved shell cell is a leaf row (lvl==-1): the candidate
        # join is the single-scan leaf equi-join, no points-side explode
        assert set(p["lvl_counts"]) <= {-1}, p["lvl_counts"]


def test_knn_large_meta_fallback_adaptive(spark, cfg, index_varden):
    """Adaptive (mixed coarse/fine level) queries through the Spark-side
    resolution path must match the memoized path exactly."""
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    idx = SpatialIndex.build(load_points(spark, "/root/testdata/sf0.001", dims=2, dist="varden"), cfg)
    object.__setattr__(idx, "_meta_np", {"cells": None})
    queries = FX.knn_fixtures(16, 2)
    got = _sorted(knn(idx, queries, k=10))
    want = _sorted(knn(index_varden, queries, k=10))
    pd.testing.assert_frame_equal(got, want)


def test_knn_pruned_duplicate_collapse(spark, cfg):
    """Dummy-leaf duplicate collapse (build_tree.hpp:183-186): on a
    duplicate-heavy lattice the pruned candidate table must engage, shrink
    the scan, and stay multiset-exact vs the raw path — including after a
    cap upgrade (second call with larger k rebuilds the pruned table)."""
    from pyspark.sql import functions as F
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    pts = load_points(spark, "/root/testdata/sf0.001", dims=2, dist="uniform")
    lattice = pts.select(
        "doc_id", "span_idx", "key",
        *[(F.col(f"x{j}") % 10 * 99_991).alias(f"x{j}") for j in range(2)],
    )
    idx = SpatialIndex.build(lattice, cfg)
    raw = SpatialIndex.build(lattice, cfg)
    object.__setattr__(raw, "_pruned", "refused")
    queries = FX.knn_fixtures(16, 2)
    got = _sorted(knn(idx, queries, k=10))
    assert isinstance(idx._pruned, tuple), "pruned table should engage on the lattice"
    n_full, n_pruned = idx.points.count(), idx._pruned[0].count()
    assert n_pruned < n_full
    # the collapse must be the JVM window form with the map-side partial
    # top-cap (r5's Arrow pass pd.concat'ed whole partitions and
    # anti-scaled); Partial = at most cap rows per position cross the
    # exchange, since duplicate groups are partition-local after build
    plan = idx._pruned[0]._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    pd.testing.assert_frame_equal(got, _sorted(knn(raw, queries, k=10)))
    # cap upgrade: k=20 > PRUNE_CAP_MIN forces a rebuild with cap=20
    got20 = _sorted(knn(idx, queries, k=20))
    assert idx._pruned[1] >= 20
    pd.testing.assert_frame_equal(got20, _sorted(knn(raw, queries, k=20)))


def test_knn_empty_index_fine_level(spark, cfg):
    """ADVICE r4 (knn.py:323): a query at level > index_level against an
    EMPTY index must produce zero rows, not IndexError inside mapInPandas."""
    from pyspark.sql import functions as F
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    pts = load_points(spark, "/root/testdata/sf0.001", dims=2, dist="uniform")
    empty = SpatialIndex.build(pts.where(F.lit(False)), cfg)
    res = knn(empty, FX.knn_fixtures(4, 2), k=3, level=cfg.index_level + 2, adaptive=False)
    assert res.count() == 0


def test_knn_driver_loop_window_reduction_matches_raw(index_varden, monkeypatch):
    """r7 driver ring loop: rounds whose estimated candidate volume exceeds
    DRIVER_COLLECT_MAX_ROWS reduce per-query top-k in Spark before the
    collect. Forcing the reduction (cap=0 after the exact-count downgrade
    is also disabled) must give byte-identical results to the raw path."""
    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(16, 2)
    want = _sorted(knn(index_varden, queries, k=10))
    monkeypatch.setattr(K, "DRIVER_COLLECT_MAX_ROWS", 0)
    got = _sorted(knn(index_varden, queries, k=10))
    pd.testing.assert_frame_equal(got, want)


def test_knn_spark_vs_driver_loop_equivalence(spark, cfg, index_uniform):
    """The small-batch driver loop and the distributed loop must return the
    same rows AND the same per-query (rounds, cand_rows) stats."""
    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(32, 2)
    res_a, st_a = knn(index_uniform, queries, k=10, return_stats=True)
    a, sa = _sorted(res_a), st_a.toPandas().sort_values("qid").reset_index(drop=True)
    import unittest.mock as mock

    with mock.patch.object(K, "DRIVER_CELLS_MAX_QUERIES", -1):
        res_b, st_b = knn(index_uniform, queries, k=10, return_stats=True)
        b, sb = _sorted(res_b), st_b.toPandas().sort_values("qid").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(sa, sb)


def test_knn_cells_join_over_gate_equivalence(spark, cfg, index_varden):
    """r7: cell relations over CELLS_BCAST_ROWS take a shuffled join
    instead of a driver-built broadcast (the broadcast relation build is
    serial and was the 38.4M varden round-1 bottleneck). Forcing the
    shuffled path at a tiny size must give byte-identical rows AND stats
    to the broadcast path."""
    import unittest.mock as mock

    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(32, 2)
    with mock.patch.object(K, "DRIVER_CELLS_MAX_QUERIES", -1):
        res_a, st_a = knn(index_varden, queries, k=10, return_stats=True)
        a, sa = _sorted(res_a), st_a.toPandas().sort_values("qid").reset_index(drop=True)
        with mock.patch.object(K, "CELLS_BCAST_ROWS", 0):
            res_b, st_b = knn(index_varden, queries, k=10, return_stats=True)
            b, sb = _sorted(res_b), st_b.toPandas().sort_values("qid").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(sa, sb)


# ---------------------------------------------------------------------------
# bound-driven rings: two rounds per query, and the distributed loop's
# hand-off to the driver loop
# ---------------------------------------------------------------------------

_EDGE = (1 << 20) - 1  # last grid coordinate (coord_bits = 20)


def _adversarial_queries() -> pd.DataFrame:
    """In-distribution fixtures plus out-of-distribution and off-grid
    queries (grid corners and edges beyond the data domain, whose outer
    shells fall off the grid)."""
    extra = pd.DataFrame(
        {
            "qid": [1000, 1001, 1002, 1003, 1004, 1005],
            "q0": [0, _EDGE, 0, _EDGE, 500_001, 999_999],
            "q1": [0, _EDGE, _EDGE, 3, 1, 0],
        }
    )
    return pd.concat([FX.knn_fixtures(24, 2), extra], ignore_index=True)


def _dist2_lists(pts: pd.DataFrame, queries: pd.DataFrame, k: int) -> dict[int, list[int]]:
    px = pts[["x0", "x1"]].to_numpy(dtype=np.int64)
    return {
        int(r.qid): np.sort(((px - np.array([r.q0, r.q1])) ** 2).sum(axis=1))[:k].tolist()
        for r in queries.itertuples()
    }


@pytest.fixture(scope="module")
def dup_index(spark, cfg):
    """All-duplicate index: every point at one position."""
    from pyspark.sql import functions as F
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    pts = load_points(spark, "/root/testdata/sf0.001", dims=2, dist="uniform").select(
        "doc_id", "span_idx", "key", F.lit(123_457).cast("long").alias("x0"),
        F.lit(654_321).cast("long").alias("x1"),
    )
    return SpatialIndex.build(pts, cfg), pts.select("x0", "x1").toPandas()


@pytest.mark.parametrize("loop", ["driver", "distributed"])
@pytest.mark.parametrize("which", ["varden", "uniform", "dup"])
def test_knn_rounds_at_most_two(request, loop, which):
    """Every query finishes within two ring rounds — the next ring is the
    one the round-1 evidence proves sufficient — on both loops, and the
    per-query neighbor distances equal a numpy brute force."""
    import unittest.mock as mock

    import pkd_tree_spark.knn as K

    if which == "dup":
        idx, pts = request.getfixturevalue("dup_index")
    else:
        idx = request.getfixturevalue(f"index_{which}")
        pts = request.getfixturevalue(f"points_{which}")
    queries = _adversarial_queries()
    k = 10
    cap = K.DRIVER_CELLS_MAX_QUERIES if loop == "driver" else -1
    with mock.patch.object(K, "DRIVER_CELLS_MAX_QUERIES", cap):
        res, st = knn(idx, queries, k=k, return_stats=True)
        got = res.toPandas().sort_values(["qid", "rn"])
        stats = st.toPandas()
    assert len(stats) == len(queries)
    assert stats["rounds"].max() <= 2, stats.sort_values("rounds").tail()
    got_d2 = {int(q): g["dist2"].tolist() for q, g in got.groupby("qid")}
    assert got_d2 == _dist2_lists(pts, queries, k)


def test_knn_handoff_equivalence(spark, cfg, index_varden):
    """A distributed batch whose pending tail fits DRIVER_CELLS_MAX_QUERIES
    hands it to the driver loop: round 1 runs distributed, round 2 on the
    driver. Rows and per-query (rounds, cand_rows) equal both the pure
    driver run and the pure distributed run."""
    import unittest.mock as mock

    import pkd_tree_spark.knn as K

    queries = _adversarial_queries()

    def run():
        res, st = knn(index_varden, queries, k=10, return_stats=True)
        return _sorted(res), st.toPandas().sort_values("qid").reset_index(drop=True)

    a, sa = run()
    pending_after_r1 = int((sa["rounds"] >= 2).sum())
    assert 0 < pending_after_r1 < len(queries)
    with mock.patch.object(K, "DRIVER_CELLS_MAX_QUERIES", -1):
        b, sb = run()
    with mock.patch.object(K, "DRIVER_CELLS_MAX_QUERIES", pending_after_r1), mock.patch.object(
        K, "_knn_driver", wraps=K._knn_driver
    ) as drv:
        c, sc = run()
    assert drv.call_count == 1 and drv.call_args.kwargs["first_round"] == 2
    for rows, stats in ((b, sb), (c, sc)):
        pd.testing.assert_frame_equal(rows, a)
        pd.testing.assert_frame_equal(stats, sa)


def test_knn_distributed_releases_broadcasts(spark, index_varden):
    """The distributed loop's skeleton broadcast is destroyed once the
    round loop ends (its consumers all run inside eager checkpoints), and
    the returned result still evaluates afterwards."""
    import unittest.mock as mock

    import pkd_tree_spark.knn as K

    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def spy(value):
        bc = real(value)
        made.append(bc)
        return bc

    with mock.patch.object(K, "DRIVER_CELLS_MAX_QUERIES", -1), mock.patch.object(sc, "broadcast", spy):
        res = knn(index_varden, FX.knn_fixtures(16, 2), k=5)
    assert made, "the distributed loop should broadcast the skeleton"
    assert not any(bc._jbroadcast.isValid() for bc in made)
    assert res.count() == 16 * 5
