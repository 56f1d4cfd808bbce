"""The two closed-loop workloads. One client issues the next call only
after the previous one returned and its result was collected; the answer
is checked after the clock stops.

Each workload drives two operation families (``op1``, ``op2``). After its
set-up (``setup_s``) it runs a fixed schedule that puts calls on both sides
of every size gate it covers, then repeats a light cycle of small calls
until ``--seconds`` have passed since the first timed call (the fixed
schedule always runs in full).

A family's rate is the geometric mean, over its call classes (one class
per side of a size gate, or per kind of call), of the class's median
items per second. Every class weighs the same whatever its batch size, so
a change on either side of a gate moves the rate by the same share.
"""

from __future__ import annotations

import gc
import math
import os
import signal
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import check, inputs

K = 10
CALL_TIMEOUT_S = 90
KNN_SMALL = inputs.N_POINTS // 100  # 1% of n: the driver ring loop
KNN_SMALL_CALLS = 5
KNN_LARGE = 21_000  # above knn.DRIVER_CELLS_MAX_QUERIES: the distributed loop
KNN_CHECK_SAMPLE = 32
BOXES_SMALL = 1_000  # driver covers
BOXES_LARGE = 10_000  # above ranges.DISTRIBUTED_COVER_THRESHOLD: executor covers
ANN_SMALL = 16
ANN_LARGE = 512
UPDATE_SCHEMA = "doc_id string, span_idx int, key long, x0 long, x1 long"

# engine size gates, named by the constant each is read from at run time
GATE_KNN = "knn.DRIVER_CELLS_MAX_QUERIES"
GATE_COVER = "ranges.DISTRIBUTED_COVER_THRESHOLD"
GATE_DELETE = "updates.DELETE_LAZY_PERSIST_FRAC"
GATE_ANN_BUCKET = "similarity.LSH_BUCKET_TARGET_ROWS"  # rows of the largest LSH bucket


@dataclass
class Call:
    span: str
    wall: float


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    deadline: float  # perf_counter time after which no new cycle starts
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    calls: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)  # call class -> [items per second]
    gates: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    steady: dict = field(default_factory=dict)
    t_window: float = 0.0

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)

    # -- bookkeeping --------------------------------------------------------

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def setup(self, span: str, fn):
        """A set-up step: timed into setup_s, never retried."""
        with self.tracer.span(span):
            t0 = time.perf_counter()
            out = fn()
            self.setup_s += time.perf_counter() - t0
        return out

    def call(self, span: str, fn, check_fn=None, cls: str | None = None, items: int = 0, warmup: bool = False):
        """One timed call. ``fn`` materialises or collects its result inside
        the timed region; ``check_fn(result)`` runs after it and returns an
        error string or None. Exceptions and timeouts count as failed. With
        ``cls`` the call is one sample of that class (``items`` per wall).
        A ``warmup`` call runs before the first timed call: its wall is set-up
        time (the first call of a kind pays Python-worker, codegen and JIT
        warm-up that later calls do not) and it is no sample."""
        self.attempted += 1
        try:
            with self.tracer.span(span, cls=cls, items=items), _timeout(CALL_TIMEOUT_S):
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — a failed call is a measured outcome
            self.fail(f"{span}: {type(e).__name__}: {str(e)[:300]}")
            return None
        self.calls.append(Call(span, wall))
        if warmup:
            self.setup_s += wall
            cls = None
        if check_fn is not None:
            try:
                err = check_fn(out)
            except Exception as e:  # noqa: BLE001 — a check that cannot run is a failure
                err = f"check raised {type(e).__name__}: {str(e)[:300]}"
            if err:
                self.fail(f"{span}: {err}")
        if cls is not None:
            self.sample(cls, items, wall)
        return out

    def sample(self, cls: str, items: int, wall: float) -> None:
        self.samples.setdefault(cls, []).append(items / wall)

    def gate(self, name: str, size: float, threshold: float) -> None:
        """Which side of an engine size gate a call fell on (the engine
        takes its small path when size <= threshold)."""
        g = self.gates.setdefault(name, {"threshold": threshold, "below": 0, "above": 0})
        g["below" if size <= threshold else "above"] += 1

    def start_window(self) -> None:
        self.t_window = time.perf_counter()

    def more(self, cycle_estimate_s: float) -> bool:
        now = time.perf_counter()
        return now - self.t_window < self.seconds and now + cycle_estimate_s < self.deadline

    # -- end-to-end metrics -------------------------------------------------

    def e2e(self) -> dict:
        """Classes are named ``op1_*`` / ``op2_*``. Per family: geometric
        mean over its classes of the class's median items per second. The
        run record also gets each class's median rate and sample count."""
        out = {"setup_s": self.setup_s}
        for op in ("op1", "op2"):
            rates = [statistics.median(v) for c, v in self.samples.items() if c.startswith(op + "_")]
            out[f"{op}_items_per_s"] = (
                math.exp(statistics.fmean(math.log(r) for r in rates)) if rates else float("nan")
            )
        for c in sorted(self.samples):
            out[f"{c}_per_s"] = statistics.median(self.samples[c])
            out[f"{c}_n"] = len(self.samples[c])
        return out

    def problems(self, required_gates: dict) -> list[str]:
        """Gate sides left without calls, and failed steady-state checks."""
        out = []
        for gate, sides in required_gates.items():
            g = self.gates.get(gate, {})
            for side in sides:
                if not g.get(side):
                    out.append(f"gate {gate}: no call on the {side} side")
        for name, ok in self.steady.items():
            if ok is False:
                out.append(f"steady state: {name}")
        return out


class _Timeout(Exception):
    pass


class _timeout:
    """SIGALRM-based per-call time limit (main thread only)."""

    def __init__(self, seconds: float):
        self.seconds = seconds

    def _raise(self, *_):
        raise _Timeout(f"call exceeded {self.seconds}s")

    def __enter__(self):
        self.prev = signal.signal(signal.SIGALRM, self._raise)
        signal.setitimer(signal.ITIMER_REAL, self.seconds)

    def __exit__(self, *exc):
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, self.prev)
        return False


# -- shared pieces ------------------------------------------------------------


def _build_index(ctx: Ctx, li: pd.DataFrame, dist: str):
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.documents import doc_key_col, load_points
    from pkd_tree_spark.index import SpatialIndex

    cfg = EngineConfig(dims=2, index_level=7, knn_level=6, partitions=4)

    def build():
        keys_df = ctx.spark.createDataFrame(li).select(doc_key_col().alias("k"))
        ix = SpatialIndex.build(load_points(ctx.spark, "", dims=2, dist=dist, keys_df=keys_df), cfg)
        ix.points.count()
        ix.meta.count()
        ix.release_staged()
        return ix

    return ctx.setup("index.build", build)


def _table_state(ix) -> tuple[int, int]:
    """(rows, key checksum) of an index's points."""
    from pyspark.sql import functions as F

    r = ix.points.agg(F.count(F.lit(1)).alias("n"), F.sum("key").alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def _check_build(ctx: Ctx, ix, ref: check.PointSet) -> None:
    ctx.counts["index.meta_cells"] = ix.meta_n_cells()
    ctx.attempted += 1
    want = (len(ref), int(ref.keys.sum()))
    got = _table_state(ix)
    if got != want:
        ctx.fail(f"index.build: (rows, key sum) {got} != {want}")


def _overhead(ctx: Ctx, probe) -> None:
    """trace.overhead_frac: the same small call with tracing (and its stats
    pass) off and on, in off-on-on-off order so a steady drift of the
    machine's speed cancels; relative difference of the summed walls."""
    walls = {False: 0.0, True: 0.0}
    enabled = ctx.tracer.enabled
    try:
        for traced in (False, True, True, False):
            ctx.tracer.enabled = traced
            t0 = time.perf_counter()
            with ctx.tracer.span("trace.probe"):
                probe(traced)
            walls[traced] += time.perf_counter() - t0
    finally:
        ctx.tracer.enabled = enabled
    ctx.counts["trace.overhead_frac"] = walls[True] / walls[False] - 1.0


# -- knn_ann: exact kNN over varden points (op1), ann_lsh over embeddings (op2)


def knn_ann(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from pkd_tree_spark import knn as knn_mod
    from pkd_tree_spark.pipeline import similarity

    spark = ctx.spark
    li = inputs.lineitem_keys()
    keys = inputs.point_keys(li)
    ref = check.PointSet(keys, inputs.point_coords(keys, "varden"))
    ix = _build_index(ctx, li, "varden")

    def prune():
        p = ix.pruned_points(K)  # None when the duplicate factor is too low to pay
        return p.count() if p is not None else 0

    ctx.setup("index.prune", prune)
    corpus = inputs.ann_corpus(ctx.rng)
    n_vec = len(corpus)
    pdf = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(corpus),
        "label": np.zeros(n_vec, dtype=np.int32),
    })
    emb = ctx.setup(
        "similarity.corpus",
        lambda: spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>, label int")
        .localCheckpoint(eager=True),
    )
    _check_build(ctx, ix, ref)
    qv = check.quantize(corpus)
    n_planes = similarity.auto_planes(n_vec)
    lsh = check.LshLayout(qv, n_planes)
    ctx.counts["similarity.n_planes"] = n_planes
    ctx.counts["similarity.max_bucket_rows"] = lsh.max_bucket_rows
    ctx.gate(GATE_ANN_BUCKET, lsh.max_bucket_rows, similarity.LSH_BUCKET_TARGET_ROWS)
    level = knn_mod.auto_knn_level(len(ref), 2)
    stats = []
    recall = [0.0, 0]
    probed = {"small": [], "large": []}

    def run_knn(q: pd.DataFrame, traced: bool):
        if traced:  # per-query ring stats: traced runs only
            res, st = knn_mod.knn(ix, q, k=K, level=level, return_stats=True)
            return res.select("qid", "dist2").toPandas(), st
        return knn_mod.knn(ix, q, k=K, level=level).select("qid", "dist2").toPandas(), None

    def knn_batch(m: int, warmup: bool = False) -> None:
        q = inputs.knn_batch(ctx.rng, ref.xy, m)
        sample = ctx.rng.choice(m, KNN_CHECK_SAMPLE, replace=False)
        side = "large" if m > knn_mod.DRIVER_CELLS_MAX_QUERIES else "small"
        if not warmup:
            ctx.gate(GATE_KNN, m, knn_mod.DRIVER_CELLS_MAX_QUERIES)
        out = ctx.call(
            "knn.warmup" if warmup else f"knn.{side}", lambda: run_knn(q, ctx.trace),
            lambda o: check.check_knn(o[0], q, ref, K, sample), cls=f"op1_{side}", items=m, warmup=warmup,
        )
        if out is not None and out[1] is not None:
            stats.append((out[1].toPandas(), len(out[0])))

    def ann(nq: int, warmup: bool = False) -> None:
        a, b = inputs.relabel(ctx.rng, n_vec)
        ids = (np.arange(n_vec, dtype=np.int64) * a + b) % n_vec
        df = emb.select(((F.col("vec_id") * F.lit(a) + F.lit(b)) % F.lit(n_vec)).alias("vec_id"),
                        "embedding", "label")

        def check_fn(got):
            err, r = check.check_ann(got, qv, ids, nq, K)
            recall[0] += r * nq
            recall[1] += nq
            return err

        side = "small" if nq == ANN_SMALL else "large"
        if not warmup:
            probed[side].append(lsh.probed_row_share(ids, nq))
        ctx.call("similarity.warmup" if warmup else f"similarity.ann_{side}",
                 lambda: similarity.ann_lsh(df, n_queries=nq, k=K).toPandas(),
                 check_fn, cls=f"op2_{side}", items=nq, warmup=warmup)

    ctx.start_window()
    # the first small batch runs cold (about 1.5x the later ones); the
    # median of five leaves it out
    for _ in range(KNN_SMALL_CALLS):
        knn_batch(KNN_SMALL)
    knn_batch(KNN_LARGE)
    # ann_lsh has too few calls per class for that, so its first call is a
    # warm-up (the first ann_lsh of a session, and the first after a
    # 21,000-query kNN batch, run one to two seconds slower than the next)
    ann(ANN_SMALL, warmup=True)
    ann(ANN_SMALL)
    ann(ANN_LARGE)
    ann(ANN_SMALL)
    while ctx.more(8.0):
        knn_batch(KNN_SMALL)
        ann(ANN_SMALL)

    if stats:
        st = pd.concat([s for s, _ in stats])
        ctx.counts.update({
            "knn.ring_rounds_avg": float(st["rounds"].mean()),
            "knn.ring_rounds_max": float(st["rounds"].max()),
            "knn.cand_rows_per_query": float(st["cand_rows"].mean()),
            "knn.cand_per_result": float(st["cand_rows"].sum()) / sum(n for _, n in stats),
        })
    if recall[1]:
        ctx.counts["similarity.recall_at_10"] = recall[0] / recall[1]
    for side, v in probed.items():
        if v:
            ctx.counts[f"similarity.probed_row_frac_{side}"] = statistics.median(v)
    if ctx.trace:
        q = inputs.knn_batch(ctx.rng, ref.xy, KNN_SMALL)
        _overhead(ctx, lambda traced: run_knn(q, traced))
    emb.unpersist()
    ix.release()
    return ctx.e2e()


# -- range_churn: range queries (op1) and batch updates (op2) on a uniform index


def range_churn(ctx: Ctx) -> dict:
    from pkd_tree_spark import ranges, updates

    spark = ctx.spark
    sc = spark.sparkContext
    n = inputs.N_POINTS
    li = inputs.lineitem_keys()
    keys = inputs.point_keys(li)
    ref = check.PointSet(keys, inputs.point_coords(keys, "uniform"))
    ix = _build_index(ctx, li, "uniform")
    pi = updates.PersistentIndex(os.path.join(ctx.work_dir, "persistent_index"), ix.cfg)
    ctx.setup("updates.persist_write", lambda: pi.write(ix))
    _check_build(ctx, ix, ref)
    ctx.attempted += 1
    err = check.duckdb_self_test(li, ref)
    if err:
        ctx.fail(f"checker self-test: {err}")
    base = (n, int(keys.sum()))
    next_key = [inputs.INSERT_KEY_BASE]
    rdds_at_cycle_start: list[int] = []
    report_rows: list[float] = []

    def persisted() -> int:
        """Persisted RDDs once unreachable Python references are gone."""
        gc.collect()
        return int(sc._jsc.getPersistentRDDs().size())

    def count(boxes: pd.DataFrame, span: str = "ranges.count", cls=None, on=None, extra=None, warmup=False):
        on = ix if on is None else on
        if not warmup:
            ctx.gate(GATE_COVER, len(boxes), ranges.DISTRIBUTED_COVER_THRESHOLD)
        refs = [ref] + ([extra] if extra is not None else [])
        return ctx.call(
            span, lambda: ranges.range_count_boxes(on, boxes).toPandas(),
            lambda got: check.check_counts(got, boxes, refs), cls=cls, items=len(boxes), warmup=warmup,
        )

    def report(btype: int) -> None:
        boxes = inputs.box_batch(ctx.rng, BOXES_SMALL, n, btype)
        out = ctx.call(
            "ranges.report", lambda: ranges.range_report_boxes(ix, boxes).select("qid", "key").toPandas(),
            lambda got: check.check_report(got, boxes, ref), cls="op1_report", items=len(boxes),
        )
        if out is not None:
            report_rows.append(len(out) / len(boxes))

    def new_batch(m: int, local: bool = False):
        pdf = inputs.update_batch(ctx.rng, m, next_key[0], local)
        next_key[0] += m
        return pdf, spark.createDataFrame(pdf, schema=UPDATE_SCHEMA)

    def expect(ix_, want, what):
        got = _table_state(ix_)
        return None if got == want else f"{what}: (rows, key sum) {got} != {want}"

    def materialise(ix_):
        ix_.points.count()
        ix_.meta.count()
        return ix_

    def churn(frac: float, with_checkpoint: bool) -> None:
        """insert -> read -> delete the same rows -> read; the index is back
        at its base rows at the end. One sample of its class: rows inserted
        plus deleted over the wall of all the cycle's calls, reads included,
        so work a write defers to its readers still counts."""
        m = int(round(frac * n))
        rdds_at_cycle_start.append(persisted())
        n_calls, n_failed = len(ctx.calls), ctx.failed
        pdf, bdf = new_batch(m)
        bref = check.PointSet(pdf["key"].to_numpy(), pdf[["x0", "x1"]].to_numpy())
        grown = (n + m, base[1] + int(pdf["key"].sum()))
        ins = ctx.call("updates.insert", lambda: materialise(updates.merge_insert(ix, bdf)),
                       lambda o: expect(o, grown, "insert"))
        if ins is None:
            return
        cur = ins
        if with_checkpoint:
            cur = ctx.call("updates.checkpoint", lambda: updates.checkpoint_index(ins),
                           lambda o: expect(o, grown, "checkpoint")) or ins
        count(inputs.box_batch(ctx.rng, BOXES_SMALL, n, 1), "updates.read", on=cur, extra=bref)
        ctx.gate(GATE_DELETE, m / (n + m), updates.DELETE_LAZY_PERSIST_FRAC)
        dels = ctx.call("updates.delete", lambda: materialise(updates.merge_delete(cur, bdf, exact_rows=True)),
                        lambda o: expect(o, base, "delete"))
        if dels is not None:
            count(inputs.box_batch(ctx.rng, BOXES_SMALL, n, 1), "updates.read", on=dels)
            dels.release()
        if cur is not ins:
            cur.release()
        ins.release()
        if ctx.failed == n_failed:
            ctx.sample("op2_churn_large" if with_checkpoint else "op2_churn_small", 2 * m,
                       sum(c.wall for c in ctx.calls[n_calls:]))

    def pi_state():
        from pyspark.sql import functions as F

        r = pi.load(spark).points.agg(F.count(F.lit(1)).alias("n"), F.sum("key").alias("s")).collect()[0]
        return int(r["n"]), int(r["s"] or 0)

    def pi_files() -> dict:
        out = {}
        for root, _, files in os.walk(pi.points_path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def cow_pair() -> None:
        """merge_insert_cow then merge_delete_cow of the same rows, inside
        one bucket-sized square; one sample: rows changed over both walls."""
        m = int(round(0.01 * n))
        pdf, bdf = new_batch(m, local=True)
        before = pi_files()
        n_calls, n_failed = len(ctx.calls), ctx.failed
        r = ctx.call("updates.cow_insert", lambda: pi.merge_insert_cow(spark, bdf),
                     lambda o: None if pi_state() == (n + m, base[1] + int(pdf["key"].sum()))
                     else "merge_insert_cow: persistent index rows or key sum wrong")
        if r is not None:
            after = pi_files()
            written = sum(s for p, (s, t) in after.items() if before.get(p) != (s, t))
            ctx.counts["updates.cow_bytes_written_per_row"] = written / m
            ctx.counts["updates.cow_buckets_touched"] = r["buckets_touched"]
        back = [False]

        def check_delete(o):
            back[0] = pi_state() == base
            return None if back[0] and o["rows_deleted"] == m else \
                "merge_delete_cow: persistent index did not return to its base rows"

        ctx.call("updates.cow_delete", lambda: pi.merge_delete_cow(spark, bdf.select("key", "span_idx", "x0", "x1")),
                 check_delete)
        ctx.steady["persistent_index_rows_back_at_base"] = back[0]
        if ctx.failed == n_failed and len(ctx.calls) == n_calls + 2:
            ctx.sample("op2_cow", 2 * m, sum(c.wall for c in ctx.calls[n_calls:]))

    count(inputs.box_batch(ctx.rng, BOXES_SMALL, n, 1), "ranges.warmup", warmup=True)
    ctx.start_window()
    if ctx.trace:
        covers = ctx.call("index.cover", lambda: ranges.range_cover_stats(
            ix, inputs.box_batch(ctx.rng, BOXES_SMALL, n, 1)))
        if covers:
            ctx.counts["index.cover_cells_per_box"] = covers["avg_cells_per_query"]
            ctx.counts["index.interior_cell_frac"] = covers["avg_interior_cells"] / covers["avg_cells_per_query"]
    # reads: every selectivity bracket at 1,000 boxes, a report, and one
    # 10,000-box count on the executor-cover side
    for btype in (0, 1, 2):
        count(inputs.box_batch(ctx.rng, BOXES_SMALL, n, btype), cls="op1_count_small")
    report(0)
    rdds = persisted()
    count(inputs.box_batch(ctx.rng, BOXES_LARGE, n, 1), cls="op1_count_large")
    # observation, not a check: what one executor-cover count leaves
    # registered until a later call releases it
    ctx.counts["ranges.rdds_left_by_large_count"] = persisted() - rdds
    # writes: churn cycles on both sides of the delete-persist gate, a
    # checkpoint, and a COW pair on the persistent copy
    churn(0.01, with_checkpoint=False)
    churn(0.10, with_checkpoint=True)
    cow_pair()

    def light_cycle(i: int) -> None:
        count(inputs.box_batch(ctx.rng, BOXES_SMALL, n, i % 3), cls="op1_count_small")
        report(1 - i % 2)
        churn(0.01, with_checkpoint=False)

    i = 0
    while ctx.more(10.0):
        light_cycle(i)
        i += 1
    rdds_at_cycle_start.append(persisted())

    ctx.counts["updates.persisted_rdds"] = max(rdds_at_cycle_start)
    ctx.steady["persisted_rdds_at_each_churn_start_and_end"] = rdds_at_cycle_start
    # the count must not grow from cycle to cycle: a leak raises every later
    # point above the first. One raised point alone is the engine holding
    # its last call's localCheckpoint RDDs, which later calls release
    ctx.steady["persisted_rdds_not_growing"] = min(rdds_at_cycle_start[1:]) <= rdds_at_cycle_start[0]
    ctx.steady["base_index_unchanged"] = _table_state(ix) == base
    ctx.counts["ranges.report_rows_per_box"] = statistics.median(report_rows) if report_rows else 0.0
    if ctx.trace:
        boxes = inputs.box_batch(ctx.rng, BOXES_SMALL, n, 1)
        _overhead(ctx, lambda traced: ranges.range_count_boxes(ix, boxes).toPandas())
    ix.release()
    return ctx.e2e()


@dataclass(frozen=True)
class Workload:
    run: object  # (Ctx) -> end-to-end metrics
    gates: dict  # gate name -> the sides the workload must put calls on


WORKLOADS = {
    "knn_ann": Workload(knn_ann, {GATE_KNN: ("below", "above"), GATE_ANN_BUCKET: ("above",)}),
    "range_churn": Workload(range_churn, {GATE_COVER: ("below", "above"), GATE_DELETE: ("below", "above")}),
}
