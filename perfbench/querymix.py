"""The `query_mix` workload: registry queries from `__spark_entry__`, run
one at a time in a seed-permuted order over seeded tables.

Each query is one operation: `q(spark, data_dir)` (construction) then
`collect()` (the action, which also hands the rows to the check). The
rows are hashed outside the timed section and compared with the query's
DuckDB oracle on the same tables, using the oracle gate's own `canon`
and `table_hash` from `tools/check_oracle.py`.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys

import numpy as np

import corpus
import __spark_entry__ as entry
from lswms_forage_etl_spark import lifecycle

# Construction (plan building and the jobs it runs) outweighs the action.
CONSTRUCTION_BOUND = ("dedup_clusters", "ann_ivfpq_topk")
# The action, and in it the similarity-join candidate exchange, dominates
# at scale.
EXCHANGE_BOUND = ("dedup_prefix_filter", "text_contamination")
QUERIES = CONSTRUCTION_BOUND + EXCHANGE_BOUND
N_DOCS = 500
N_VECS = 500


def _oracle_gate(root: str):
    """`tools/check_oracle.py` as a module. Loading it prepends a fixed
    checkout path to sys.path; that is undone so imports keep resolving
    to this checkout."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class QueryMix:
    name = "query_mix"
    nominal_s = 9.0

    def __init__(self, spark, work_dir: str, seed: int, root: str):
        self.spark = spark
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "tables")
        self.gate = _oracle_gate(root)
        order = np.random.default_rng(seed).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]
        self.registry = entry.queries()
        self.expected: dict[str, tuple] | None = None

    def generate(self) -> dict:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        corpus.write_tables(self.data_dir, self.seed, N_DOCS, N_VECS)
        return {"documents": N_DOCS, "embeddings": N_VECS,
                "queries": list(self.order)}

    def oracles(self) -> None:
        """Row count, sorted columns and value hash of each query's DuckDB
        oracle over the generated tables."""
        import duckdb
        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data_dir}/{t}.parquet'")
            self.expected = {}
            for q in QUERIES:
                res = con.execute(sql[q])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.expected[q] = (len(rows), sorted(cols),
                                    self.gate.table_hash(cols, rows))
        finally:
            con.close()

    def iteration(self, meter, tracer) -> list[tuple[str, list[str]]]:
        outcomes = []
        for q in self.order:
            try:
                with meter.timed():
                    with tracer.span(f"q.{q}.construct"):
                        df = self.registry[q](self.spark, self.data_dir)
                    with tracer.span(f"q.{q}.action"):
                        rows = df.collect()
                problems = self.check(q, df.columns, rows)
            except Exception as exc:            # counted, then isolated
                problems = [f"{type(exc).__name__}: {exc}"]
            outcomes.append((q, problems + self.isolate(q)))
        return outcomes

    def check(self, q: str, cols: list[str], rows: list) -> list[str]:
        if not rows:
            return ["empty result"]
        if self.expected is None:
            self.oracles()
        n, want_cols, want_hash = self.expected[q]
        rows = [tuple(r) for r in rows]
        if len(rows) != n:
            return [f"{len(rows)} rows, oracle {n}"]
        if sorted(cols) != want_cols:
            return [f"columns {sorted(cols)}, oracle {want_cols}"]
        if self.gate.table_hash(cols, rows) != want_hash:
            return ["value hash differs from the oracle"]
        return []

    def isolate(self, q: str) -> list[str]:
        """The oracle gate's per-query lifecycle checks, then release."""
        problems = []
        try:
            lifecycle.assert_no_unresolved_lazy(context=q)
        except AssertionError as exc:
            problems.append(str(exc))
        lifecycle.release_tracked()
        self.spark.catalog.clearCache()
        try:
            lifecycle.assert_no_cached_rdds(self.spark, context=q)
        except AssertionError as exc:
            problems.append(str(exc))
        return problems

    def layers(self, facts: dict) -> dict[str, float]:
        m = {}
        for part in ("construct", "action"):
            mine = [facts[f"q.{q}.{part}"] for q in QUERIES
                    if f"q.{q}.{part}" in facts]
            m[f"query.{part}_s"] = sum(f.wall for f in mine)
            if part == "construct":
                m["query.construct_jobs"] = sum(f.jobs for f in mine)
            else:
                m["query.shuffle_mb"] = sum(f.shuffle_mb for f in mine)
                m["query.spill_mb"] = sum(f.spill_mb for f in mine)
        for q in QUERIES:
            m[f"q.{q}.unattributed_jobs"] = sum(
                facts[n].unattributed for n in (f"q.{q}.construct",
                                                f"q.{q}.action")
                if n in facts)
        return m
