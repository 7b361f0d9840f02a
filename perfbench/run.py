"""The repository benchmark: one workload per run, closed loop, checked.

    python3 perfbench/run.py --workload forage_period --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1

Workloads (see forage.py and querymix.py):
  forage_period  the forage pipeline on one seeded production run, every
                 hand-off written, the GeoTIFFs read back into zone means
  query_mix      four registry queries over seeded tables, two bound by
                 plan construction and two by their exchange

Works from any directory: it finds the checkout as this file's parent's
parent and keeps everything it writes under `<checkout>/.perfbench/`.

A run starts one local Spark session with `local[<cpus>]` and as many
shuffle partitions, generates the workload's inputs from the seed (three
times; set-up reports the median generation), runs one warm-up
iteration, then runs about `--seconds` worth of iterations one after
another. Every operation's outputs are checked outside the timed
sections, and operations are isolated from each other (tracked persists
released, cache cleared, sink outputs deleted, leaks counted).

`--trace 0` reports the end-to-end metrics named in BENCHMARK.json:
  wall_s       median timed wall of one iteration
  cpu_s        median CPU of the process tree (this process, JVM, Python
               workers) over one iteration's timed sections
  peak_rss_mb  peak combined resident memory of that tree (PSS of the
               Python processes, RSS of the JVM)
               while timed iterations ran
  setup_s      session start + median input generation + warm-up
`--trace 1` measures with spans around each library layer and Spark's
event log on, and reports the per-layer metrics named in BENCHMARK.json;
each is the median over traced iterations. `trace.overhead_s` is traced
minus untraced `wall_s`: the median of the untraced runs of the same
workload and length recorded in this checkout, or, if there are none,
of an untraced run made first in a child process.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The record, with a
header of cpus, git sha, versions, seed and input sizes, also goes to
`.perfbench/records.jsonl`.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("forage_period", "query_mix")
SETUP_REPEATS = 3
# The JVM heap is fixed (-Xms = -Xmx), so peak RSS does not follow
# the JVM's timing-dependent heap growth; heap pressure shows as GC time.
HEAP = "2g"
MB = 2 ** 20


def _checkout_problem() -> str | None:
    for rel in ("BENCHMARK.json", "__spark_entry__.py",
                "lswms_forage_etl_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"not a checkout of the repository: {rel} is missing"
    return None


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _declared() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _session(work: str, cpus: int, trace: bool):
    """The run's Spark session; its temporary files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
            f"-Xms{HEAP} "
            f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from lswms_forage_etl_spark import get_spark
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for both to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _make_workload(name: str, spark, work: str, seed: int):
    if name == "query_mix":
        from querymix import QueryMix
        return QueryMix(spark, work, seed, ROOT)
    from forage import ForagePeriod
    return ForagePeriod(spark, work, seed)


def _iterate(wl, meter, tracer, log) -> list[tuple[str, list[str]]]:
    try:
        return wl.iteration(meter, tracer)
    except Exception:                    # counted as a failed operation
        log(traceback.format_exc())
        return [(wl.name, ["exception"] + wl.isolate())]


def measure(args, work: str, log) -> tuple[dict, list, dict]:
    """Set up, warm up and run the timed loop; returns (metrics, operation
    outcomes, header)."""
    from proctree import PeakRss
    from spans import Meter, Tracer, iteration_metrics, read_event_log

    cpus = _cpus()
    pid = os.getpid()
    t0 = time.perf_counter()
    spark = _session(work, cpus, args.trace)
    session_s = time.perf_counter() - t0
    try:
        wl = _make_workload(args.workload, spark, work, args.seed)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            sizes = wl.generate()
            gen_s.append(time.perf_counter() - t0)
        tracer = Tracer(spark.sparkContext, args.trace)
        rss = PeakRss(pid)
        warm = Meter(pid, rss)
        outcomes = _iterate(wl, warm, tracer, log)
        setup_s = session_s + statistics.median(gen_s) + warm.wall

        # closed loop: each iteration starts when the previous one and its
        # checks are done. The count comes from --seconds and the
        # workload's nominal iteration time on a 4-core host, so a change
        # that speeds the program up is timed over the same iterations; at
        # least two.
        meters = []
        with rss:
            for i in range(max(2, round(args.seconds / wl.nominal_s))):
                meter = Meter(pid, rss)
                tracer.iteration = i if args.trace else -1
                outcomes += _iterate(wl, meter, tracer, log)
                meters.append(meter)
        walls = [m.wall for m in meters]
        metrics = {"wall_s": statistics.median(walls),
                   "cpu_s": statistics.median(m.cpu for m in meters),
                   "peak_rss_mb": rss.peak / MB,
                   "setup_s": setup_s}
        header = {"cpus": cpus, "sizes": sizes, "iterations": len(meters),
                  "walls_s": [round(w, 4) for w in walls],
                  "cpus_s": [round(m.cpu, 2) for m in meters],
                  "session_s": round(session_s, 4),
                  "input_gen_s": [round(g, 4) for g in gen_s],
                  "warmup_s": round(warm.wall, 4)}
    finally:
        _stop_session(spark)

    if args.trace:
        logs = glob.glob(os.path.join(work, "tmp", "eventlog", "*"))
        jobs = read_event_log(logs[0]) if len(logs) == 1 else []
        if len(logs) != 1:
            outcomes.append(("event log", [f"{len(logs)} event logs"]))
        per_iter = [iteration_metrics(
            [s for s in tracer.spans if s.iteration == i], m.sections,
            m.wall, jobs, wl.layers) for i, m in enumerate(meters)]
        keys = {k for d in per_iter for k in d}
        metrics.update({k: statistics.median(d.get(k, 0.0) for d in per_iter)
                        for k in keys})
    return metrics, outcomes, header


def _recorded_wall(args) -> float | None:
    """Median `wall_s` of the correct untraced runs of the same workload
    and length in this checkout's records, or None if there are none."""
    walls = []
    try:
        with open(os.path.join(ROOT, ".perfbench", "records.jsonl")) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                    h = rec["header"]
                    if (h["workload"], h["seconds"], h["trace"]) == \
                            (args.workload, args.seconds, 0) and rec["correct"]:
                        walls.append(rec["metrics"]["wall_s"]["value"])
                except (ValueError, KeyError, TypeError):
                    continue
    except OSError:
        return None
    return statistics.median(walls) if walls else None


def _untraced_wall(args, log) -> float | None:
    """`wall_s` of an untraced run of the same workload, seed and length,
    made in a child process that this waits for."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds",
           str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log(proc.stderr[-4000:])
        return None
    result = json.loads(lines[-1])
    if not result["correct"]:
        return None
    return result["metrics"]["wall_s"]["value"]


def run_one(args) -> int:
    import pyspark
    import numpy

    log = lambda msg: print(msg, file=sys.stderr, flush=True)  # noqa: E731
    end_to_end, per_layer = _declared()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # every JVM, the launcher's too: no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        untraced = None
        if args.trace:
            untraced = _recorded_wall(args)
            if untraced is None:
                untraced = _untraced_wall(args, log)
        metrics, outcomes, header = measure(args, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [(op, p) for op, p in outcomes if p]
    if args.trace:
        if untraced is None:
            failed.append(("untraced run", ["failed"]))
        else:
            metrics["trace.overhead_s"] = metrics["wall_s"] - untraced
    declared = per_layer if args.trace else end_to_end
    out = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
           for name, unit in declared.items()}
    header.update({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": int(args.trace),
                   "git_sha": _git_sha(), "spark": pyspark.__version__,
                   "python": platform.python_version(),
                   "numpy": numpy.__version__})
    for op, problems in failed:
        log(f"FAILED {op}: {'; '.join(problems)}")
    print(json.dumps({"header": header}))
    print(f"error_rate {len(failed) / len(outcomes):.4f} ratio "
          f"({len(failed)} of {len(outcomes)} operations)")
    for name, m in out.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    result = {"correct": not failed, "attempted": len(outcomes),
              "failed": len(failed), "metrics": out}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "records.jsonl"), "a") as fh:
        fh.write(json.dumps({"header": header, **result}) + "\n")
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Each workload in turn, each in its own child process."""
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(int(args.trace))]
        print(f"== {name}", flush=True)
        code |= subprocess.run(cmd, timeout=900).returncode
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    problem = _checkout_problem()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
