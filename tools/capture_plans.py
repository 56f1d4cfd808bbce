"""Capture .explain('formatted') plans of the engine's touched queries into
<out>/<query>_{before,after}.txt (default out: plans/r07).

'after' runs against the working tree; 'before' runs the SAME capture
against another checkout (git archive of <sha> into a temp dir prepended
to sys.path). Usage:

    python tools/capture_plans.py after [--out DIR] [--only NAME ...]
    python tools/capture_plans.py before <sha> [--out DIR] [--only NAME ...]

NAME is one of the CAPTURES keys below; without --only every entry runs.
Plans are captured lazily (no jobs beyond tiny metadata actions and the
small driver collects an operator does before it returns its frame), at
sf0.1 shapes. For kNN the ring loop runs per-round jobs, so the file
carries the round-1 candidate-join optimized plan (plan_log hook) plus the
final result frame's formatted plan.
"""

from __future__ import annotations

import argparse
import functools
import io
import os
import subprocess
import sys
import tempfile
from contextlib import redirect_stdout

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
ap.add_argument("mode", choices=("before", "after"))
ap.add_argument("sha", nargs="?", help="commit to capture in 'before' mode")
ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r07"))
ap.add_argument("--only", nargs="+", metavar="NAME")
ARGS = ap.parse_args()
MODE = ARGS.mode

if MODE == "before":
    if not ARGS.sha:
        ap.error("'before' needs a commit")
    tmp = tempfile.mkdtemp(prefix="pkd_before_checkout_")
    subprocess.run(f"git -C {ROOT} archive {ARGS.sha} | tar -x -C {tmp}", shell=True, check=True)
    sys.path.insert(0, tmp)
else:
    sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from pkd_tree_spark.config import EngineConfig  # noqa: E402
from pkd_tree_spark.documents import load_points  # noqa: E402
from pkd_tree_spark.index import SpatialIndex  # noqa: E402
from pkd_tree_spark.knn import auto_knn_level, knn  # noqa: E402
from pkd_tree_spark.ranges import range_count_boxes  # noqa: E402
from pkd_tree_spark.session import get_spark  # noqa: E402
from pkd_tree_spark.updates import merge_delete, merge_insert  # noqa: E402
from pkd_tree_spark import fixtures as FX  # noqa: E402

SF = "/root/testdata/sf0.1"
os.makedirs(ARGS.out, exist_ok=True)


def dump(name: str, text: str):
    with open(os.path.join(ARGS.out, f"{name}_{MODE}.txt"), "w") as f:
        f.write(text)
    print(f"wrote {name}_{MODE}.txt ({len(text)} bytes)")


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


spark = get_spark(app="plan-capture", cpus=8)
spark.sparkContext.setLogLevel("ERROR")

cfg = EngineConfig(dims=2, index_level=7, knn_level=6, partitions=32)


@functools.cache
def _pts():
    return load_points(spark, SF, dims=2, dist="uniform")


@functools.cache
def _ix():
    ix = SpatialIndex.build(_pts(), cfg)
    ix.points.count()
    ix.meta.count()
    return ix


@functools.cache
def _batch_and_ins():
    ix = _ix()
    batch = ix.points.where(F.col("key") % 100 == 7).select(
        "doc_id", "span_idx", (F.col("key") + 3_000_000_000).alias("key"), "x0", "x1"
    )
    return batch, merge_insert(ix, batch, persist=False)


def range_count_uniform():
    """range count (1000 mixed boxes, the bench entry)"""
    dump("range_count_uniform", formatted(range_count_boxes(_ix(), FX.box_fixtures(1000, 2))))


def range_count_d3():
    """d=3 range count (budget change)"""
    cfg3 = EngineConfig(dims=3, index_level=6, knn_level=5, partitions=32)
    ix3 = SpatialIndex.build(load_points(spark, SF, dims=3, dist="uniform"), cfg3)
    ix3.points.count()
    ix3.meta.count()
    dump("range_count_d3", formatted(range_count_boxes(ix3, FX.box_fixtures(256, 3))))
    ix3.release()


def knn10_uniform():
    """kNN (bench query sample): round plans via plan_log + result frame"""
    ix = _ix()
    qdf = (
        ix.points.where(F.col("key") % 100 == 3)
        .select(F.col("key").alias("qid"), F.col("x0").alias("q0"), F.col("x1").alias("q1"))
        .dropDuplicates(["qid"])
    )
    plans: list = []
    res = knn(ix, qdf, k=10, level=auto_knn_level(600_000, 2), plan_log=plans)
    txt = formatted(res.groupBy().agg(F.sum("dist2")))
    for i, p in enumerate(plans):
        txt += f"\n\n===== round {i+1} candidate-join optimized plan =====\n"
        txt += p["plan"]
        txt += f"\nlvl_counts: {p['lvl_counts']}\n"
    dump("knn10_uniform", txt)


def batch_delete_1pct():
    """batch delete 1% (broadcast anti-join path)"""
    batch, ins = _batch_and_ins()
    dump("batch_delete_1pct", formatted(merge_delete(ins, batch, exact_rows=True, persist=False).points))


def batch_delete_large():
    """oversized delete: shrink the broadcast gate so the 60k-key batch
    exercises the large-batch plan shape at sf0.1"""
    import pkd_tree_spark.updates as U

    batch, ins = _batch_and_ins()
    orig = U.DELETE_BCAST_ROWS
    U.DELETE_BCAST_ROWS = 1000
    try:
        dump("batch_delete_large", formatted(merge_delete(ins, batch, exact_rows=True, persist=False).points))
    finally:
        U.DELETE_BCAST_ROWS = orig


def dedup_collapse():
    """duplicate collapse (pruned table build probe + window)"""
    lattice = _pts().select(
        "doc_id", "span_idx", "key", *[(F.col(f"x{j}") % 20 * 52_631).alias(f"x{j}") for j in range(2)]
    )
    ixl = SpatialIndex.build(lattice, cfg)
    ixl.points.count()
    ixl.meta.count()
    p = ixl.pruned_points(10)
    dump("dedup_collapse", formatted(p) if p is not None else "refused (no pruned table)\n")
    ixl.release()


def ann_lsh():
    """ann_lsh, 16 queries over the sf0.1 embeddings (the bench entry);
    the plan shows whether the corpus crosses an Exchange"""
    from pkd_tree_spark.pipeline.similarity import ann_lsh as ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dump("ann_lsh", formatted(ann(emb, n_queries=16, k=10)))


CAPTURES = {
    f.__name__: f
    for f in (
        range_count_uniform, range_count_d3, knn10_uniform, batch_delete_1pct,
        batch_delete_large, dedup_collapse, ann_lsh,
    )
}

for name in ARGS.only or CAPTURES:
    CAPTURES[name]()

print("done")
