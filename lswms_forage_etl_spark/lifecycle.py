"""Stage-table lifecycle: staging rules and deterministic release of
persisted intermediates.

Operators that self-join a derived table MUST materialize it first (the
measured double-eval hazards in `operators/dedup.py` / `similarity.py`),
but a lazily-returned result means the operator cannot unpersist before
the caller's consuming action. The release contract (VERDICT r4 item 6):

- every operator/query persist() (and localCheckpoint cleanup) is
  registered with `track(...)` at the call site;
- the caller runs its consuming action, then calls `release_tracked()`;
- `assert_no_cached_rdds(spark)` verifies nothing leaked — the oracle
  gate calls it after every query, so a persist that skipped track()
  fails the gate, not a long-lived production session.

A module-level registry (not per-DataFrame attachment) is deliberate:
attachments on a DataFrame are lost by ANY derivation (`.where`,
`.select`), which is exactly how persists leak. The registry is scoped
to "since the last release" — callers interleaving independent
pipelines should release at their own pipeline boundaries.

Staging (`stage_table`, `stage_lazy`) follows two rules, enforced here:

1. Counts chain per thread. Every `stage_table` count, async or sync,
   waits for the previous count staged on the same thread, so a stage
   table derived from an earlier one reads its parent's cache (racing
   counts were measured by the r15 stage probe as four duplicate ~8 s
   5-gram explode stages behind kn5). A
   `stage_lazy` link is covered only by the next count staged on its
   own thread. Count threads are unbounded (a chained wait inside a
   bounded pool can deadlock) and inherit the job group of the thread
   that staged them.
2. One barrier before every action. `await_staged()` waits for every
   in-flight count; the query registry (`__spark_entry__.queries`)
   ends each query's construction with it, so no action starts against
   a cold cache (r15 measured ten broadcast builds racing one cold
   cache behind kn5), and `release_tracked()` awaits before it
   unpersists. A count still running after `COUNT_TIMEOUT_S` raises
   `CountInFlight`: a hang is reported as a hang, and the pending lazy
   links stay in place as evidence.

At 100 TB scale these persists become parquet stage tables with explicit
TTLs; this module is the local-mode equivalent of that discipline.
"""

from __future__ import annotations

import threading
import time
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

_TRACKED: list = []
# since the last release: (staging thread, count thread) per async
# count, and (staging thread, plan description) per stage_lazy link no
# landed count has covered yet (matched by identity)
_COUNTS: list[tuple[threading.Thread, threading.Thread]] = []
_LAZY: list[tuple[threading.Thread, str]] = []
_LOCK = threading.Lock()
COUNT_TIMEOUT_S = 600.0

H = TypeVar("H")


def track(handle: H) -> H:
    """Register a persisted DataFrame (or a zero-arg cleanup callable)
    for release at the caller's next release_tracked(). Returns the
    handle so persists chain inline:  sig = track(df.persist())."""
    _TRACKED.append(handle)
    return handle


def release_tracked() -> int:
    """Await in-flight counts, then unpersist every tracked stage table /
    run every tracked cleanup, oldest first. Returns the number of
    handles released. Idempotent — unpersisting an already-released
    table is a no-op. Never raises (release must not mask results): a
    hung count is the barrier's to report."""
    try:
        await_staged()
    except CountInFlight:
        pass
    n = 0
    for h in _TRACKED:
        try:
            if isinstance(h, DataFrame):
                h.unpersist()
            elif callable(h):
                h()
            n += 1
        except Exception:  # noqa: BLE001 — release must never mask results
            pass
    _TRACKED.clear()
    # counts and pending links die with their query's lifecycle window —
    # without this, bench runs (which never assert) would accumulate
    # them across queries
    with _LOCK:
        _COUNTS.clear()
        _LAZY.clear()
    return n


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of RDDs currently holding cached blocks (covers BOTH
    DataFrame-level persist() and RDD-level localCheckpoint storage,
    which `spark.catalog.clearCache()` does NOT touch)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Drop cached blocks for the given RDD ids (no-op for ids already
    cleaned). Used to free superseded localCheckpoint rounds, which have
    no DataFrame-level unpersist handle."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in list(jmap.keySet().toArray()):
        if int(k) in ids:
            jmap.get(k).unpersist(False)


def assert_no_cached_rdds(spark: SparkSession, context: str = "") -> None:
    """Raise if any RDD still holds cached blocks — the gate-side check
    that every operator registered its persists via track()."""
    left = persistent_rdd_ids(spark)
    if left:
        raise AssertionError(
            f"cached RDDs leaked{' after ' + context if context else ''}: "
            f"rdd ids {sorted(left)} — a persist()/localCheckpoint was not "
            f"registered via lifecycle.track()")


EAGER_STATS_THRESHOLD_BYTES = 8 << 20
"""Estimated-size gate for eager materialization (round-7 adaptive rule).

Both eager-materialization hazards are SCALE hazards, so the decision is
made from the subtree's Catalyst size estimate instead of a constant:

- a lazily-persisted stage table reports its CHILD plan's estimate to
  the join planner, and for expression-expanded derivations that lie
  planned a ~2 GB broadcast at the 100x slice (round-5 lesson) — but a
  lie about a table that is genuinely tiny picks the same plan eager
  stats would;
- AQE's concurrently-submitted exchange stages race a lazy cache's
  first materialization and each re-evaluate the subtree (13 parquet
  re-scans measured) — dominant at 100x (text_contamination 27.4 s lazy
  vs 12.5 s eager) yet cheaper than the serialized eager construction
  job at sf0.1, where the round-6 A/B put lazy AHEAD by ~0.2 s.

Measured estimates for the LSH base table: 255 KB at sf0.1, 2.6 MB at
the 10x slice, 30.6 MB at 100x. 8 MiB splits the regimes with margin on
both sides; Catalyst's unknown-size default (spark.sql.defaultSizeInBytes
= Long.MaxValue, e.g. LogicalRDD-rooted lineage) lands on eager, the
safe at-scale choice."""


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes (file-scan sizes
    scaled through projections/filters; Long.MaxValue when unknown)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def should_materialize_eagerly(df: DataFrame) -> bool:
    """The round-7 adaptive eager/lazy rule (see
    EAGER_STATS_THRESHOLD_BYTES)."""
    return plan_size_estimate(df) >= EAGER_STATS_THRESHOLD_BYTES


class CountInFlight(AssertionError):
    """A staged count that had not landed when a barrier's timeout ran
    out: a hang, not an uncovered stage_lazy link. An AssertionError so
    gates that count assertion failures count this one too."""


def _describe(df: DataFrame) -> str:
    try:
        return df._jdf.queryExecution().logical().nodeName()
    except Exception:  # noqa: BLE001 — description is best-effort
        return "?"


def _await(counts: list[threading.Thread]) -> None:
    deadline = time.monotonic() + COUNT_TIMEOUT_S
    for t in counts:
        t.join(max(0.0, deadline - time.monotonic()))
    late = [t.name for t in counts if t.is_alive()]
    if late:
        raise CountInFlight(
            f"count still in flight after {COUNT_TIMEOUT_S:g} s: {late}")


def _cover(links: list) -> None:
    with _LOCK:
        _LAZY[:] = [x for x in _LAZY if not any(x is c for c in links)]


def stage_table(df: DataFrame, sync: bool | None = None) -> DataFrame:
    """Persist + EAGERLY materialize + track a stage table.

    Eager, not lazy, because materialization points must carry accurate
    statistics: a lazily-persisted table's InMemoryRelation reports its
    CHILD plan's estimate at planning time, and for expression-expanded
    derivations (banded LSH signatures: small parquet text -> millions
    of hash rows) that estimate is far below the real size — measured at
    the 100x slice, the banded self-join chose a broadcast whose build
    side needed ~2 GB and aborted the job. After an eager materialize
    the join planner sees the cached table's REAL size and picks
    broadcast vs shuffle correctly at every scale, which is exactly how
    a parquet/Delta stage table behaves on a cluster (written once,
    stats known). The extra action costs one job whose work would have
    run anyway at first consumption.

    Unlike `_ckpt_tracked` (operators/dedup.py), this stays eager at
    EVERY scale: lazy stage tables LOST even at sf0.1 in the round-7
    A/B (text_contamination 1.1 s eager vs 2.3 s lazy) — the 255 KB
    child estimate made the planner broadcast a ~50 MB-real table.

    Whether the count BLOCKS is scale-adaptive (same estimate gate as
    `_ckpt_tracked`): below the threshold it runs on a BACKGROUND
    thread — cluster-side work while the caller's next ~0.5 s is
    driver-side py4j plan construction, so overlapping hides the count
    entirely (measured: dedup_lsh_pairs 1.28 s sync vs ~1.0 s async at
    sf0.1). Above the threshold it blocks: there the count is LONG
    (the subtree is the expensive part) and the caller's consumers
    reach their action while the cache is still materializing — the
    racing evaluations cost more than the serialization (measured:
    text_eval_overlap at the 100x slice, 12.0 s sync vs 20.9 s async).
    Either way the count first waits for the previous count staged on
    this thread, and covers this thread's pending stage_lazy links when
    it lands (module docstring, rule 1)."""
    out = track(df.persist())
    if sync is None:
        sync = should_materialize_eagerly(df)
    me = threading.current_thread()
    with _LOCK:
        covers = [x for x in _LAZY if x[0] is me]
        prev = [t for s, t in _COUNTS if s is me][-1:]

    def _count() -> None:
        _await(prev)
        out.count()
        _cover(covers)

    if sync:
        _count()
        return out
    t = threading.Thread(
        target=inheritable_thread_target(out.sparkSession)(_count),
        name=f"stage_table {_describe(df)}", daemon=True)
    with _LOCK:
        _COUNTS.append((me, t))
    t.start()
    return out


def stage_lazy(df: DataFrame) -> DataFrame:
    """Persist + track WITHOUT a counting job — for the INTERIOR links
    of a staged derivation chain whose TAIL is a counted `stage_table`
    (r15): computing any InMemoryRelation partition caches it as a side
    effect, so one count of the chain tail materializes every parent
    cache in the SAME job (4 count jobs → 1 for the kn5
    c5→cont4→cont3→cont2 chain). Safe ONLY when (a) a downstream
    stage_table's count covers this table before any consumer action
    plans against it (its stats are then real), and (b) no join is
    planned against it in between (the round-5 lazy stats-lie hazard).
    Misuse of (a) is caught programmatically: the link stays PENDING
    until the next count staged on this thread lands, and the oracle
    gate fails any query that leaves a lazy link uncovered
    (`assert_no_unresolved_lazy`)."""
    out = track(df.persist())
    with _LOCK:
        _LAZY.append((threading.current_thread(), _describe(df)))
    return out


def await_staged() -> None:
    """The barrier: block until every in-flight stage_table count has
    landed; raise `CountInFlight` if one has not within
    `COUNT_TIMEOUT_S`. The query registry calls it at the end of every
    query's construction (module docstring, rule 2)."""
    with _LOCK:
        counts = [t for _, t in _COUNTS]
    _await(counts)


def assert_no_unresolved_lazy(context: str = "") -> None:
    """Raise if any stage_lazy link was never covered by a counted
    stage_table on its own thread (r16, VERDICT r15 item 7). Awaits
    in-flight counts first (`CountInFlight` if one hangs, links left in
    place), so a tail count that WILL cover a link gets to land. The
    oracle gate calls this after every query, so an interior link
    persisted without a counted tail fails the gate instead of
    re-exposing the round-5 stats-lie broadcast at 100x."""
    await_staged()
    with _LOCK:
        descs = sorted(d for _, d in _LAZY)
        _LAZY.clear()
    if descs:
        raise AssertionError(
            f"stage_lazy link(s) never covered by a counted stage_table"
            f"{' after ' + context if context else ''}: {descs} — chain "
            f"a stage_table tail on the same thread (its count "
            f"materializes the link) or use stage_table directly")


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows -> DataFrame via the Arrow path (guide §4 —
    eliminate the Python boundary). A plain-tuples createDataFrame
    executes as a pickled RDD: every downstream task spawns a Python
    worker just to unpickle its slice (measured r15: 8.1 executor-
    seconds / 0.3-1.3 s wall for a 500-row table under the noop sink);
    feeding the SAME rows through a pandas DataFrame serializes them
    ONCE via Arrow on the driver and executes as a pure JVM scan
    (~0.05 s). Value-identical except float NaN (Arrow maps NaN ->
    null where pickle keeps NaN), so any row containing a float NaN
    falls back to the tuple path; results are otherwise bit-identical
    (pinned by the oracle gate for every converted call site).

    Use for every size-gated driver-computed result (union-find
    clusters, pagerank/BFS driver paths, trainer vocabularies, period
    tables): these are exactly the tables small enough that per-task
    Python worker spawn dominates their execution."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)

    def _has_nan(r) -> bool:
        return any(isinstance(v, float) and v != v for v in r)

    try:
        if any(_has_nan(r) for r in rows):
            return spark.createDataFrame(rows, schema)
        import pandas as pd
        ncols = len(rows[0])
        pdf = pd.DataFrame({str(i): pd.Series([r[i] for r in rows],
                                              dtype=object)
                            for i in range(ncols)})
        return spark.createDataFrame(pdf, schema)
    except Exception:
        # semantics over speed: any Arrow/pandas conversion surprise
        # (exotic element type, version drift) degrades to the exact
        # tuple path rather than failing the query
        return spark.createDataFrame(rows, schema)
