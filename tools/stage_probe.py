"""Per-stage EXECUTED task-count probe for one query: runs the query to
the noop sink with the UI enabled and prints every stage's task count,
name, and input/shuffle bytes — the stage-level complement to
tools/runtime_metrics.py's per-query totals. Built for the r15
optimization round to answer "which stage is under-parallelized"
(e.g. an AQE-coalesced applyInPandas synth stage running compute-dense
work on one core — the round-6 skew lesson, synth-side variant).

Usage: python tools/stage_probe.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    import __spark_entry__ as entrymod
    from lswms_forage_etl_spark import get_spark, lifecycle

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("stage_probe", extra_conf={
        "spark.ui.enabled": "true", "spark.ui.port": "4050"})
    spark.sparkContext.setLogLevel("ERROR")
    base = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':')[-1]}" \
        if spark.sparkContext.uiWebUrl else "http://localhost:4050"
    app_id = spark.sparkContext.applicationId
    qs = entrymod.queries()
    for name in names:
        # warm once at the smallest sf so codegen/Arrow cold cost doesn't
        # distort the probed run's walls (task counts unaffected either way)
        try:
            qs[name](spark, "/root/testdata/sf0.001").write.format(
                "noop").mode("overwrite").save()
        except Exception:
            pass
        lifecycle.release_tracked()
        spark.catalog.clearCache()
        before = {s["stageId"] for s in _api(
            base, f"/api/v1/applications/{app_id}/stages")}
        spark.sparkContext.setJobDescription(f"probe:{name}")
        qs[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        lifecycle.release_tracked()
        stages = [s for s in _api(
            base, f"/api/v1/applications/{app_id}/stages")
            if s["stageId"] not in before]
        stages.sort(key=lambda s: s["stageId"])
        print(f"=== {name}: {len(stages)} stages")
        for s in stages:
            ms = s.get("executorRunTime", 0)
            print(f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>4} "
                  f"runtime_ms={ms:>8} input_mb={s.get('inputBytes', 0)/1e6:8.2f} "
                  f"shuf_r_mb={s.get('shuffleReadBytes', 0)/1e6:7.2f} "
                  f"shuf_w_mb={s.get('shuffleWriteBytes', 0)/1e6:7.2f}  "
                  f"{s['name'][:70]}")


if __name__ == "__main__":
    main()
