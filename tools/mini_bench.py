"""Best-of-3 noop-sink timings for NAMED queries, with the same
warmup + cache-release methodology as bench.py — for A/B measurement
of individual optimizations without paying for the full 102-query run.

Usage: python tools/mini_bench.py <sf_dir> <query ...>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as entrymod
    from lswms_forage_etl_spark import get_spark, lifecycle

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("mini_bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long").write.format("noop").mode(
        "overwrite").save()
    for name in names:
        try:
            qs[name](spark, "/root/testdata/sf0.001").write.format(
                "noop").mode("overwrite").save()
        except Exception:
            pass
    out = {}
    for name in names:
        runs = []
        for _ in range(3):
            lifecycle.release_tracked()
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            runs.append(time.time() - t0)
        runs.sort()
        out[name] = [round(r, 3) for r in runs]
        print(f"{name:28} min={runs[0]:7.3f} med={runs[1]:7.3f} "
              f"max={runs[2]:7.3f}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
