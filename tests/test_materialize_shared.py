"""util.materialize, the one persist primitive, and the reliable-checkpoint
dial.

Repeat calls that rebuild the same subtree (bench reps, repeated driver
checks, suite legs and per-row indexes constructed per call) must not
stack a fresh persisted copy per call: Spark's CacheManager matches the
fresh plan to the live cache, and materialize returns it without a job.
Every new persist joins one bounded list whose oldest entries are
unpersisted past the cap. Every materialize site also takes the
checkpoint_dir dial.

Plan matching ignores alias names, so each test tags its plans with
literal VALUES of its own: a plan another test left cached would
otherwise be served instead of persisted.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark import StorageLevel

from global_market_index_etl_spark.operators import util
from global_market_index_etl_spark.operators.util import (
    materialize,
    truncate_lineage,
)

from .conftest import SF_SMALL


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_materialize_returns_one_table_for_identical_plans(spark):
    base = _docs(spark).select("doc_id", F.length("text").alias("n"))
    first = materialize(base)
    n_after_first = _n_persistent_rdds(spark)
    # a structurally identical but FRESHLY BUILT plan must hit the cache
    again = materialize(
        _docs(spark).select("doc_id", F.length("text").alias("n"))
    )
    assert again.storageLevel == StorageLevel.MEMORY_AND_DISK, (
        "identical plan did not reuse the cached table"
    )
    assert _n_persistent_rdds(spark) == n_after_first, (
        "repeat materialize persisted a second copy"
    )
    assert first.count() == again.count() == base.count()


def test_materialize_distinguishes_different_plans(spark, monkeypatch):
    # a cap with room for both, so no earlier test's entry is evicted here
    monkeypatch.setattr(util, "_MATERIALIZED_MAX", len(util._MATERIALIZED) + 2)
    before = _n_persistent_rdds(spark)
    a = materialize(
        _docs(spark).select("doc_id", F.lit("distinct_a").alias("tag"))
    )
    b = materialize(
        _docs(spark).select("doc_id", "lang", F.lit("distinct_b").alias("tag"))
    )
    assert _n_persistent_rdds(spark) == before + 2, "expected two caches"
    assert set(a.columns) == {"doc_id", "tag"}
    assert set(b.columns) == {"doc_id", "lang", "tag"}


def test_span_suite_repeat_invocations_do_not_stack_persists(spark):
    """Calling duplicate_span_suite N times (bench reps, repeated driver
    checks) must not accumulate N persisted copies of the (window, doc)
    reduction."""
    from global_market_index_etl_spark.operators.spans import (
        duplicate_span_suite,
    )

    docs = _docs(spark)
    first = duplicate_span_suite(docs, k=8)
    first.count()
    n = _n_persistent_rdds(spark)
    second = duplicate_span_suite(docs, k=8)
    second.count()
    assert _n_persistent_rdds(spark) == n, (
        "second duplicate_span_suite invocation stacked another persisted "
        "copy of the shared reduction"
    )


def test_span_suite_checkpoint_dir_dial(spark, tmp_path):
    """The newly-wired reliable-checkpoint dial on the span suite: values
    identical to the default persist path, checkpoint data actually lands
    under the directory (executor-loss-safe at cluster scale)."""
    from global_market_index_etl_spark.operators.spans import (
        duplicate_span_suite,
    )

    docs = _docs(spark).limit(200)
    ckpt = str(tmp_path / "span_ckpt")
    default = sorted(
        map(tuple, duplicate_span_suite(docs, k=8).collect())
    )
    reliable = sorted(
        map(
            tuple,
            duplicate_span_suite(docs, k=8, checkpoint_dir=ckpt).collect(),
        )
    )
    assert default == reliable
    written = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing under checkpoint_dir"


def test_materialize_checkpoint_dir_dial(spark, tmp_path):
    ckpt = str(tmp_path / "mat_ckpt")
    df = materialize(_docs(spark).select("doc_id"), checkpoint_dir=ckpt)
    assert df.count() > 0
    written = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written


def test_reliable_checkpoint_is_always_eager(spark, tmp_path):
    """eager=False must NOT leave a reliable checkpoint pending: a lazy
    one could materialize after another caller re-points the process-
    global checkpoint directory and land in the wrong place (round-11
    advice). The data must be on disk when the call returns, before any
    action on the result."""
    ckpt = str(tmp_path / "eager_ckpt")
    truncate_lineage(
        _docs(spark).select("doc_id"), checkpoint_dir=ckpt, eager=False
    )
    written = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, (
        "reliable checkpoint was deferred — the lazy-repoint race is open"
    )


def test_sequential_callers_may_use_distinct_checkpoint_dirs(spark, tmp_path):
    """Re-pointing between fully-materialized checkpoints is safe (each
    checkpoint records its own absolute path) and must keep working —
    different operators legitimately pass their own directories."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df_a = truncate_lineage(_docs(spark).select("doc_id"), checkpoint_dir=a)
    df_b = truncate_lineage(_docs(spark).select("lang"), checkpoint_dir=b)
    # both remain readable after the global dir moved on
    assert df_a.count() > 0 and df_b.count() > 0
    for d in (a, b):
        assert any(fs for _, _, fs in os.walk(d)), f"no checkpoint under {d}"


def test_shared_cache_eviction_at_cap_unpersists(spark, monkeypatch):
    """The list of persisted tables is BOUNDED: beyond the cap, the oldest
    entries are unpersisted and dropped, so switching datasets releases
    the old dataset's blocks instead of pinning them for the process
    lifetime (the sf0.1 → sf1 bench-degradation lesson, round 12)."""
    monkeypatch.setattr(util, "_MATERIALIZED_MAX", 3)
    base = _docs(spark)
    before = _n_persistent_rdds(spark)

    def plan(i):
        return base.select("doc_id", F.lit(f"evict{i}").alias("evict_tag"))

    dfs = [materialize(plan(i)) for i in range(6)]
    # at most 3 of the 6 remain persisted; the rest were unpersisted
    assert _n_persistent_rdds(spark) <= before + 3
    assert len(util._MATERIALIZED) == 3
    assert [d.storageLevel for d in dfs] == (
        [StorageLevel.NONE] * 3 + [StorageLevel.MEMORY_AND_DISK] * 3
    )
    # evicted plans still compute correctly (just no longer cached), and
    # a repeat call re-materializes rather than erroring
    assert dfs[0].count() == base.count()
    again = materialize(plan(0))
    assert again.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert again.count() == base.count()


def test_eviction_tolerates_caches_cleared_behind_its_back(spark, monkeypatch):
    """bench.py's session trim clears every Dataset cache without touching
    the list; evicting such an entry later is a no-op, not an error."""
    monkeypatch.setattr(util, "_MATERIALIZED_MAX", 1)
    base = _docs(spark)
    materialize(base.select("doc_id", F.lit("cleared0").alias("tag")))
    spark.catalog.clearCache()
    n = _n_persistent_rdds(spark)
    fresh = materialize(base.select("doc_id", F.lit("cleared1").alias("tag")))
    assert _n_persistent_rdds(spark) == n + 1
    assert len(util._MATERIALIZED) == 1
    assert fresh.count() == base.count()


def test_shared_cache_concurrent_callers_one_persist(spark):
    """Threads racing the SAME subtree converge on one persisted table:
    Spark's CacheManager registers the plan once however many callers
    persist it, and every caller reads the same rows."""
    import threading

    results = []
    before = _n_persistent_rdds(spark)

    def worker():
        results.append(
            materialize(
                _docs(spark).select("doc_id", F.lit("race").alias("tag"))
            )
        )

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 4
    assert _n_persistent_rdds(spark) <= before + 1
    rows = [sorted(map(tuple, r.collect())) for r in results]
    assert all(r == rows[0] for r in rows), (
        "racing callers read different rows"
    )


def test_shared_cache_different_plans_not_serialized(spark, monkeypatch):
    """Concurrent callers materializing DIFFERENT subtrees must not queue
    behind one long count (round-12 advice): the list lock is taken only
    for the append and eviction, so a fast plan completes while a slow
    one is still counting."""
    import threading
    import time

    slow_started = threading.Event()
    fast_finished = threading.Event()
    lock_free_during_slow_count = []

    def gated(self):
        # stub: no Spark job — isolates the locking behavior under test.
        if "slow_tag" in self.columns:
            lock_free_during_slow_count.append(
                not util._MATERIALIZED_LOCK.locked()
            )
            slow_started.set()
            # the slow count only returns once the fast caller has
            # completed: under lock-held-across-count semantics the fast
            # caller could never complete first → 15 s timeout.
            fast_finished.wait(15)
        return 0

    base = _docs(spark)
    monkeypatch.setattr(type(base), "count", gated)
    slow = base.select("doc_id", F.lit("slow").alias("slow_tag"))
    fast = base.select("doc_id", F.lit("fast").alias("fast_tag"))

    def slow_worker():
        materialize(slow)

    def fast_worker():
        slow_started.wait(10)
        materialize(fast)
        fast_finished.set()

    t0 = time.monotonic()
    ts = threading.Thread(target=slow_worker)
    tf = threading.Thread(target=fast_worker)
    ts.start()
    tf.start()
    tf.join(timeout=30)
    ts.join(timeout=30)
    slow.unpersist()
    fast.unpersist()
    assert fast_finished.is_set(), "fast caller never finished"
    assert lock_free_during_slow_count == [True]
    # if the fast caller had to wait out the slow count's 15 s gate, the
    # old serialized behavior is back.
    assert time.monotonic() - t0 < 12.0, (
        "different-plan caller appears serialized behind the slow "
        "materialize"
    )


def test_failed_count_leaves_nothing_persisted(spark, tmp_path):
    """A count that raises unpersists its table and records nothing; the
    next call over the same plan persists it and succeeds."""
    marker = str(tmp_path / "fail")
    open(marker, "w").close()

    @F.udf("long")
    def gate(x):
        if os.path.exists(marker):
            raise RuntimeError("planted count failure")
        return x

    base = _docs(spark)
    plan = base.select(gate("doc_id").alias("doc_id"), F.lit("failed"))
    before = _n_persistent_rdds(spark)
    entries = list(util._MATERIALIZED)
    with pytest.raises(Exception, match="planted count failure"):
        materialize(plan)
    assert _n_persistent_rdds(spark) == before
    assert util._MATERIALIZED == entries
    assert plan.storageLevel == StorageLevel.NONE

    os.remove(marker)
    got = materialize(plan)
    assert got.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert got.count() == base.count()


def test_materialize_sees_a_source_overwritten_through_spark(spark, tmp_path):
    """Spark refreshes a cache when its source is overwritten through its
    own writer, so a fresh read materialized after the overwrite returns
    the new value. (The handle-returning LRU this primitive replaced
    answered 6 here: it handed back the first, already-executed handle.)"""
    path = str(tmp_path / "src")

    def write(v):
        spark.range(3).select(F.lit(v).alias("v")).write.mode(
            "overwrite"
        ).parquet(path)

    def total():
        return spark.read.parquet(path).agg(F.sum("v").alias("s"))

    write(2)
    assert materialize(total()).collect()[0].s == 6
    write(20)
    assert materialize(total()).collect()[0].s == 60


@pytest.mark.parametrize(
    "row",
    [
        "dedup_incremental_minhash",
        "dedup_incremental_embedding",
        "dedup_incremental_phash",
        "decon_fuzzy_overlap",
    ],
)
def test_index_rows_reuse_their_persisted_index(spark, row):
    """A second registry call over the same data reuses the live index
    cache: no persisted RDD is added and no list entry is recorded."""
    from global_market_index_etl_spark.plans import REGISTRY

    first = REGISTRY[row].spark(spark, SF_SMALL)
    n, entries = _n_persistent_rdds(spark), len(util._MATERIALIZED)
    second = REGISTRY[row].spark(spark, SF_SMALL)
    assert _n_persistent_rdds(spark) == n
    assert len(util._MATERIALIZED) == entries
    assert sorted(map(tuple, second.collect())) == sorted(
        map(tuple, first.collect())
    )
