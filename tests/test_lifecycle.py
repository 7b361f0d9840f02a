"""Stage-table lifecycle contract (VERDICT r4 item 6): operators register
every persist()/localCheckpoint via lifecycle.track(), callers release
after their consuming action, and assert_no_cached_rdds catches anything
that slipped through — including RDD-level localCheckpoint storage that
spark.catalog.clearCache() cannot free."""

import os

import pytest
from pyspark.sql import functions as F

from lswms_forage_etl_spark import lifecycle
from lswms_forage_etl_spark.operators.dedup import (
    duplicate_clusters,
    minhash_dedup,
)


def _docs(spark, n=60):
    rows = [(i, f"tok{i % 7} common words here doc {i} " * 3)
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_release_after_minhash_dedup_leaves_no_cache(spark):
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    out = minhash_dedup(_docs(spark), threshold=0.5)
    out.write.format("noop").mode("overwrite").save()
    assert lifecycle.persistent_rdd_ids(spark)  # persists were live
    assert lifecycle.release_tracked() > 0
    lifecycle.assert_no_cached_rdds(spark, context="minhash_dedup")


def test_release_frees_cc_checkpoint_storage(spark):
    """duplicate_clusters is checkpoint-backed: DataFrame.unpersist and
    clearCache cannot free its blocks, only the tracked cleanup can —
    and superseded rounds must already be freed inside the loop."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long")
    # the size-gated union-find path frees everything before returning;
    # this test pins the DISTRIBUTED loop's storage lifecycle
    out = duplicate_clusters(pairs, small_graph_edges=0)
    rows = {r["doc_id"]: r["rep_id"] for r in out.collect()}
    assert rows[3] == 1 and rows[23] == 20
    live = lifecycle.persistent_rdd_ids(spark)
    # only the final label table's checkpoint storage may remain live —
    # superseded rounds were freed in-loop (at most a couple of RDD ids,
    # never one per round)
    assert 0 < len(live) <= 2
    spark.catalog.clearCache()          # must NOT free checkpoint blocks
    assert lifecycle.persistent_rdd_ids(spark) == live
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="duplicate_clusters")


def test_untracked_persist_trips_the_gate(spark):
    """A persist that skips track() must fail assert_no_cached_rdds —
    the property that makes the oracle gate a real lifecycle check."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    leak = spark.range(100).select(F.col("id") * 2).persist()
    leak.write.format("noop").mode("overwrite").save()
    lifecycle.release_tracked()          # knows nothing about `leak`
    with pytest.raises(AssertionError, match="cached RDDs leaked"):
        lifecycle.assert_no_cached_rdds(spark, context="leak-test")
    leak.unpersist()
    lifecycle.assert_no_cached_rdds(spark, context="leak-test-cleaned")


def test_chained_stage_counts_and_await(spark):
    """Counts chain per thread: the child's async count runs AFTER the
    parent's (so the child reads the parent's materialized cache), and
    the argument-free await_staged barrier blocks until the chain
    tail's count has landed — consumers of the returned frame always
    find warm blocks."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("k"))
    parent = lifecycle.stage_table(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n")), sync=False)
    child = lifecycle.stage_table(
        parent.groupBy((F.col("k") % 2).alias("p"))
        .agg(F.sum("n").alias("s")), sync=False)
    lifecycle.await_staged()
    # after await, BOTH caches must hold live blocks (the chain ran
    # parent-first, and the barrier covers the whole chain)
    live = lifecycle.persistent_rdd_ids(spark)
    assert len(live) >= 2
    got = {r["p"]: r["s"] for r in child.collect()}
    assert got == {0: 1143, 1: 857}
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="chain-test")
    # the barrier with nothing in flight is a no-op
    lifecycle.await_staged()


def test_stage_lazy_chain_tail_materializes_parents(spark):
    """r15 batch 6: `stage_lazy` interior links carry no counting job
    of their own — ONE count of the chain tail (a normal stage_table)
    must materialize every lazy parent's cache as a side effect, and
    release_tracked must still free all of them."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(3000).select(
        F.col("id"), (F.col("id") % 11).alias("k"))
    parent = lifecycle.stage_lazy(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    mid = lifecycle.stage_lazy(
        parent.groupBy((F.col("k") % 3).alias("m"))
        .agg(F.sum("n").alias("s")))
    tail = lifecycle.stage_table(
        mid.groupBy((F.col("m") % 2).alias("p"))
        .agg(F.sum("s").alias("t")), sync=False)
    lifecycle.await_staged()
    # the tail's single count job must have populated ALL THREE caches
    live = lifecycle.persistent_rdd_ids(spark)
    assert len(live) >= 3
    got = {r["p"]: r["t"] for r in tail.collect()}
    assert got == {0: 1909, 1: 1091}
    # r16 backstop: the tail's landed count COVERED both lazy links,
    # so the misuse assertion passes
    lifecycle.assert_no_unresolved_lazy(context="stage-lazy-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="stage-lazy-test")


def test_async_chain_evaluates_parent_once(spark):
    """Two chained async stage_table counts, no ordering argument: the
    child's count waits for the parent's (same thread), so the parent's
    subtree — a slow UDF that counts its calls in an accumulator — runs
    exactly once per row across both counts and the consuming action."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def slow_twice(x):
        import time
        time.sleep(0.002)
        calls.add(1)
        return x * 2

    n = 400
    parent = lifecycle.stage_table(
        spark.range(n, numPartitions=4)
        .select("id", slow_twice("id").alias("v")), sync=False)
    child = lifecycle.stage_table(
        parent.groupBy((F.col("v") % 3).alias("r"))
        .agg(F.count(F.lit(1)).alias("c")), sync=False)
    lifecycle.await_staged()
    assert calls.value == n
    assert sum(r["c"] for r in child.collect()) == n
    assert calls.value == n
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="single-eval-test")


def test_lazy_link_is_not_covered_from_another_thread(spark):
    """A stage_lazy link is covered only by the next count staged on
    its OWN thread: a count landing on another thread leaves it
    pending, so the backstop fails the query."""
    import threading

    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(200).select((F.col("id") % 5).alias("k"))
    t = threading.Thread(target=lambda: lifecycle.stage_lazy(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n"))))
    t.start()
    t.join(timeout=60)
    assert not t.is_alive()
    lifecycle.stage_table(base.groupBy("k").agg(F.max("k").alias("m")),
                          sync=False)
    with pytest.raises(AssertionError, match="never covered"):
        lifecycle.assert_no_unresolved_lazy(context="cross-thread-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="cross-thread-test")


def test_concurrent_staging_keeps_every_link(spark):
    """Stress: more staging threads than cores, interleaving stage_lazy
    appends with landing counts' coverage under a tiny switch interval.
    Every link of a thread with a counted tail is covered; every link
    of a thread without one stays pending — a lost update would drop
    or resurrect one."""
    import sys
    import threading

    lifecycle.release_tracked()
    spark.catalog.clearCache()
    n_threads, n_links = 8, 3
    start = threading.Barrier(n_threads)

    def stage(i: int) -> None:
        start.wait(timeout=60)
        for j in range(n_links):
            lifecycle.stage_lazy(spark.range(10 + i * n_links + j))
        if i % 2 == 0:
            lifecycle.stage_table(spark.range(100 + i), sync=False)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=stage, args=(i,))
                   for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    lifecycle.await_staged()
    assert len(lifecycle._LAZY) == n_threads // 2 * n_links
    with pytest.raises(AssertionError, match="never covered"):
        lifecycle.assert_no_unresolved_lazy(context="stress-test")
    assert lifecycle.release_tracked() == (
        n_threads * n_links + n_threads // 2)
    lifecycle.assert_no_cached_rdds(spark, context="stress-test")


def test_hung_count_raises_in_flight_and_keeps_evidence(spark,
                                                        monkeypatch):
    """A count that has not landed when the barrier's timeout runs out
    raises a distinct "count still in flight" error (an AssertionError,
    so gates count it as a failure) — not "never covered" — and the
    pending stage_lazy evidence survives it."""
    lifecycle.release_tracked()
    spark.catalog.clearCache()

    @F.udf("long")
    def sleepy(x):
        import time
        time.sleep(1.0)
        return x

    lifecycle.stage_table(
        spark.range(4, numPartitions=1).select(sleepy("id").alias("v")),
        sync=False)
    # staged AFTER the slow count on this thread, so nothing covers it
    lifecycle.stage_lazy(spark.range(10).groupBy().count())
    monkeypatch.setattr(lifecycle, "COUNT_TIMEOUT_S", 0.2)
    with pytest.raises(lifecycle.CountInFlight,
                       match="count still in flight"):
        lifecycle.await_staged()
    with pytest.raises(AssertionError, match="count still in flight"):
        lifecycle.assert_no_unresolved_lazy(context="hang-test")
    monkeypatch.setattr(lifecycle, "COUNT_TIMEOUT_S", 600.0)
    # the in-flight errors left the pending link in place
    with pytest.raises(AssertionError, match="never covered"):
        lifecycle.assert_no_unresolved_lazy(context="hang-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="hang-test")


def test_registry_query_returns_with_no_job_in_flight(spark):
    """Every registry entry ends construction with the staging barrier:
    right after ann_ivfpq_topk returns, none of its staging counts (the
    probed `lists` table's among them) is still running."""
    import __spark_entry__ as entrymod
    from test_testdata_schema import SF_DIR

    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    lifecycle.release_tracked()
    spark.catalog.clearCache()
    sc = spark.sparkContext
    df = entrymod.queries()["ann_ivfpq_topk"](spark, SF_DIR)
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # job-end events seen
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert len(df.collect()) == 10
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="ann_ivfpq_topk")


def test_uncovered_stage_lazy_trips_the_backstop(spark):
    """r16 (VERDICT r15 item 7): a stage_lazy link with NO downstream
    counted stage_table is exactly the misuse that re-exposes the
    round-5 stats-lie broadcast — assert_no_unresolved_lazy (called by
    the oracle gate after every query) must fail it loudly, and
    release_tracked must clear the pending registry so one offender
    cannot poison later queries."""
    import pytest

    lifecycle.release_tracked()
    spark.catalog.clearCache()
    base = spark.range(100).select((F.col("id") % 5).alias("k"))
    lifecycle.stage_lazy(
        base.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    with pytest.raises(AssertionError, match="stage_lazy"):
        lifecycle.assert_no_unresolved_lazy(context="backstop-test")
    # the failed assertion cleared the registry; a second call passes
    lifecycle.assert_no_unresolved_lazy(context="backstop-test")
    lifecycle.release_tracked()
    lifecycle.assert_no_cached_rdds(spark, context="backstop-test")


def test_local_df_matches_tuple_path(spark):
    """local_df (r15, guide §4): the Arrow/pandas driver-rows path must
    be value- and schema-identical to the plain-tuples createDataFrame
    it replaces — including None handling, dates, and the float-NaN
    fallback (Arrow would map NaN -> null; the helper must detect the
    NaN and take the exact tuple path instead)."""
    import datetime as dt

    cases = [
        ([(1, "a", 2.5), (None, None, None), (3, "c", 0.125)],
         "x long, s string, d double"),
        ([(1, dt.date(2024, 1, 2)), (2, None)], "i int, dte date"),
        ([("tok", 5)], "token string, hops int"),
        ([], "x long, s string"),
        # NaN forces the fallback path; repr-compare pins NaN stays NaN
        ([(1, float("nan")), (2, 0.5)], "i int, d double"),
    ]
    for rows, schema in cases:
        a = spark.createDataFrame(rows, schema)
        b = lifecycle.local_df(spark, rows, schema)
        assert a.schema == b.schema, schema
        assert repr(a.collect()) == repr(b.collect()), schema
