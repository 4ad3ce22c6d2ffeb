"""Benchmark of the doctr_spark extraction job.

    python3 perfbench/run.py --workload docs_html --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. A run makes the workload's inputs from
``--seed`` (cached under ``perfbench/.work``), starts one local[N] Spark
session with N = the usable cores, runs the docs job twice to warm up,
then repeats the docs job (``jobs.py``) until ``--seconds`` have passed, at
least once, checking every output against its oracle. The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a report with the inputs' row counts and hashes, the
environment and every job time. A run whose outputs differ from the
oracles exits with code 3.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` runs the docs job once untraced, restarts the session with
Spark's event log on, runs every job of the workload once with spans
around each, replays the fused docs kernel's per-turn layers in this
process, and reports the per-layer metrics. The spans are written to
``perfbench/.work/trace``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The timed runs repeat the docs job, whose turns/s is the headline
# number; the other jobs of a workload run once, in the traced run. Per
# workload: those traced jobs, the ones the traced session warms up first
# (docs twice, as in the timed session, so that the traced docs time
# differs from the untraced one only by the event log; kie and staged
# showed no cold cost once the docs job had warmed the Python workers;
# topk and simhash about 0.5 s, lsh_pairs 2-4 s), and the
# input sizes. A warm-up run costs about as much on a tiny input as on the
# real one (both are dominated by per-task and first-run costs), so the
# warm-up uses the real input.
WORKLOADS = {
    "docs_html": {
        "traced": ("docs", "lsh_pairs", "topk", "simhash"),
        "traced_warm": ("docs", "docs", "lsh_pairs"),
        "sizes": {"docs_per_source": 250, "embeddings": 2000, "ocr_docs_per_source": 50},
    },
    "transcripts_mixed": {
        "traced": ("docs", "kie", "staged"),
        "traced_warm": ("docs", "docs"),
        "sizes": {"payload_turns": 400},
    },
}
RSS_POLL_S = 0.1


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _worker_module_files(batches):
    import doctr_spark
    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"file": [doctr_spark.__file__]})


def session(cores: int, eventlog_dir: str | None = None):
    """A fresh local[cores] session whose Python workers import
    ``doctr_spark`` from this tree, and only from it."""
    from doctr_spark.session import get_spark

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # keep every file Spark and its JVMs write (shuffle blocks, temp files,
    # perf data) inside the tree; the launcher JVM only sees the environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData"
    conf = {
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })  # fmt: skip
    # the program's own shuffle partition count, as it ships
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # ask the Arrow UDF workers, the ones that run the extraction kernels
    files = spark.range(0, cores, 1, cores).mapInPandas(_worker_module_files, "file string").collect()
    stray = sorted({r.file for r in files if not os.path.abspath(r.file).startswith(ROOT + os.sep)})
    if stray:
        raise RuntimeError(f"Python workers import doctr_spark from outside {ROOT}: {stray}")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it and the Python
    workers it forked have exited."""
    from pyspark import SparkContext

    from tracing import python_descendants

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    workers = python_descendants(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on EOF, and its Python daemons with it
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run_pass(spark, names, inp, oracle, times: dict, cpu: dict | None = None, tracer=None,
             out_dir: str = "out") -> tuple[int, int]:  # fmt: skip
    """Run each job once, appending its wall time to ``times`` (and the CPU
    seconds of the JVM and its Python workers to ``cpu``), and check its
    output. Returns the oracle's (attempted, failed) totals."""
    from contextlib import nullcontext

    from jobs import after_job, run_job
    from tracing import tree_cpu_s

    sc = spark.sparkContext
    attempted = failed = 0
    for name in names:
        out = os.path.join(WORK, out_dir, name)
        sc.setJobGroup(name if out_dir == "out" else out_dir, name)
        with tracer.span(name, job=name) if tracer else nullcontext():
            c = tree_cpu_s(jvm_pid()) if cpu is not None else 0.0
            t = time.perf_counter()
            run_job(spark, name, inp, out)
            times.setdefault(name, []).append(time.perf_counter() - t)
            if cpu is not None:
                cpu.setdefault(name, []).append(tree_cpu_s(jvm_pid()) - c)
        sc.setJobGroup("untimed", "untimed")
        after_job(spark, name)
        a, f = oracle.check(name, out)
        attempted, failed = attempted + a, failed + f
    return attempted, failed


def warm_up(spark, names, inp, oracle) -> None:
    attempted, failed = run_pass(spark, names, inp, oracle, {}, out_dir="warm")
    if failed:
        raise RuntimeError(f"warm-up: {failed} of {attempted} outputs differ from the oracle")


def measure(spark, inp, oracle, seconds: float, max_passes: int | None = None) -> dict:
    """Repeat the docs job until ``seconds`` have passed (at least once),
    sampling the Python workers' RSS meanwhile."""
    from tracing import WorkerRss, steal_ticks

    times: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    attempted = failed = passes = 0
    steal0, total0 = steal_ticks()
    deadline = time.perf_counter() + seconds
    with WorkerRss(jvm_pid(), RSS_POLL_S) as rss:
        while True:
            a, f = run_pass(spark, ["docs"], inp, oracle, times, cpu)
            attempted, failed, passes = attempted + a, failed + f, passes + 1
            if time.perf_counter() >= deadline or passes == max_passes:
                break
    steal1, total1 = steal_ticks()
    return {
        "times": times["docs"], "median": statistics.median(times["docs"]),
        "cpu_s": cpu["docs"], "cpu_median": statistics.median(cpu["docs"]),
        "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        "passes": passes, "attempted": attempted, "failed": failed,
        "worker_rss_mb": rss.peak_mb, "rss_polls": rss.polls, "rss_workers": len(rss.workers),
    }  # fmt: skip


def tree_hash() -> str:
    """sha256 of the program's sources, so a report names the tree it measured."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, dirs, files in os.walk(os.path.join(ROOT, "doctr_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def environment(spark, cores: int) -> dict:
    import pyspark

    try:
        git = ["git", "-C", ROOT, "rev-parse", "HEAD"]
        commit = subprocess.run(git, capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "commit": commit,
        "tree_sha256": tree_hash(),
    }


def e2e_metrics(m: dict, turns: int, setup_s: float) -> dict:
    return {
        "turns_per_s": (turns / m["median"], "turns/s"),
        "job_s": (m["median"], "s"),
        "cpu_ms_per_turn": (1000 * m["cpu_median"] / turns, "ms"),
        "setup_s": (setup_s, "s"),
        "worker_rss_mb": (m["worker_rss_mb"], "MB"),
    }


def _spark_group(ev: dict, names, walls: dict, cores: int) -> dict:
    """SPARK_KEYS summed over the jobs ``names``; busy fraction over their
    summed wall time, task tail as the worst job's."""
    from tracing import SPARK_KEYS

    got = [ev.get(n, {}) for n in names]
    out = {k: sum(g.get(k, 0.0) for g in got) for k in SPARK_KEYS}
    out["core_busy_frac"] = out["task_s"] / (cores * sum(walls[n] for n in names))
    out["task_tail_s"] = max(g.get("task_tail_s", 0.0) for g in got)
    return out


def layer_metrics(spark, cfg: dict, inp, oracle, cores: int, untraced: dict, turns: int,
                  trace_path: str) -> tuple[dict, int, int, dict]:  # fmt: skip
    """The traced half of a --trace 1 run: restart the session with the
    event log on, make one traced pass, replay the docs kernel, and turn
    event log and spans into the per-layer metrics. Stops the session."""
    from pyspark.sql import functions as F  # noqa: N812

    from doctr_spark.config import ARROW_MAX_RECORDS
    from doctr_spark.fixtures.payloads import PAYLOAD_MARK
    from jobs import transcripts
    from tracing import SPARK_KEYS, Tracer, eventlog_metrics, read_eventlog, replay_docs

    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    spark.stop()
    spark = session(cores, eventlog_dir=log_dir)
    warm_up(spark, cfg["traced_warm"], inp, oracle)
    tracer = Tracer()
    times: dict[str, list[float]] = {}
    names = cfg["traced"]
    attempted, failed = run_pass(spark, names, inp, oracle, times, tracer=tracer)
    walls = {n: v[0] for n, v in times.items()}
    # the docs job's payload turns, in the Arrow partitions its fused stage sees
    src = transcripts(spark, inp).where(F.col("text").contains(PAYLOAD_MARK))
    parts = spark.sparkContext.defaultParallelism * 8  # extract_documents' default
    turns_df = (
        src.repartition(parts, F.xxhash64("conv_id", "turn_idx"))
        .select(F.spark_partition_id().alias("pid"), "conv_id", "turn_idx", "text")
        .toPandas()
    )
    spark.stop()
    ev = eventlog_metrics(read_eventlog(log_dir), walls, cores)

    counts, rows = replay_docs(turns_df, tracer, ARROW_MAX_RECORDS)
    a, f = oracle.check_replay(rows)
    attempted, failed = attempted + a, failed + f
    tracer.dump(trace_path)
    selfs = tracer.self_seconds()
    replay_s = next(s["end"] - s["start"] for s in tracer.spans if s["name"] == "replay")

    out: dict[str, tuple[float, str]] = {}
    unit = {"jobs": "count", "stages": "count", "exchanges": "count", "core_busy_frac": "ratio"}
    others = [n for n in names if n != "docs"]
    for prefix, group_names in (("spark", names), ("docs.spark", ["docs"]), ("other.spark", others)):
        group = _spark_group(ev, group_names, walls, cores)
        for k in SPARK_KEYS:
            out[f"{prefix}.{k}"] = (group[k], unit.get(k, "MB" if k.endswith("_mb") else "s"))
    for key, name, u in (
        ("to_python_mb", "arrow.to_python_mb", "MB"), ("from_python_mb", "arrow.from_python_mb", "MB"),
        ("python_run_s", "python.run_s", "s"), ("python_start_s", "python.start_s", "s"),
    ):  # fmt: skip
        out[name] = (sum(ev.get(n, {}).get(key, 0.0) for n in names), u)
    out["scan.input_mb"] = (ev["docs"]["input_mb"], "MB")
    out["scan.task_max_s"] = (ev["docs"]["scan_task_max_s"], "s")
    out["decode.s"] = (selfs.get("decode", 0.0), "s")
    out["decode.turns"] = (counts["decoded"], "count")
    out["decode.pages"] = (counts["pages"], "count")
    out["decode.failed"] = (counts["failed"], "count")
    out["detect.s"] = (selfs.get("detect", 0.0), "s")
    out["detect.pages"] = (counts["pages"], "count")
    out["detect.boxes"] = (counts["boxes"], "count")
    out["crop.s"] = (selfs.get("crop", 0.0), "s")
    out["crop.crops"] = (counts["crops"], "count")
    out["crop.mb"] = (counts["crop_bytes"] / 2**20, "MB")
    out["recognize.s"] = (selfs.get("recognize", 0.0), "s")
    out["recognize.crops"] = (counts["crops"], "count")
    out["recognize.upright_frac"] = (counts["upright"] / max(counts["crops"], 1), "ratio")
    out["recognize.batch_crops_max"] = (counts["batch_crops_max"], "count")
    out["build.s"] = (selfs.get("build", 0.0), "s")
    out["build.words"] = (counts["words"], "count")
    replay_tps = counts["turns"] / replay_s
    layers_s = sum(selfs.get(x, 0.0) for x in ("decode", "detect", "crop", "recognize", "build"))
    out["replay.turns_per_s"] = (replay_tps, "turns/s")
    out["replay.coverage"] = (layers_s / replay_s, "ratio")
    out["parallel_eff"] = (turns / untraced["median"] / (cores * replay_tps), "ratio")
    out["docs.job_s"] = (walls["docs"], "s")
    out["other.job_s"] = (sum(walls[n] for n in others), "s")
    out["trace.overhead_s"] = (walls["docs"] - untraced["median"], "s")
    return out, attempted, failed, {"traced_job_times_s": walls, "spark_by_job": ev}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # measure this tree: the program is imported from ROOT, never from an
    # installed copy; session() checks the Python workers the same way
    sys.path.insert(0, ROOT)
    import doctr_spark

    if not os.path.abspath(doctr_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"doctr_spark imported from {doctr_spark.__file__}, not from {ROOT}")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    import inputs
    from jobs import Inputs, Oracle

    cores = len(os.sched_getaffinity(0))
    cfg = WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    made = inputs.build(os.path.join(WORK, "inputs"), args.workload, args.seed, cfg["sizes"])
    inp = Inputs(**{
        k: f"{made['dir']}/{k}" for k in ("ocr_docs", "analytics", "transcripts", "ground_truth")
        if os.path.isdir(f"{made['dir']}/{k}")
    })  # fmt: skip
    oracle = Oracle(inp)
    gen_s = time.perf_counter() - t_gen

    spark = None
    extra: dict = {}
    try:
        spark = session(cores)
        # twice: the first run after a single warm-up was still 5-25% slower
        warm_up(spark, ["docs", "docs"], inp, oracle)
        setup_s = process_age_s() - gen_s
        env = environment(spark, cores)
        untraced = measure(spark, inp, oracle, args.seconds, max_passes=1 if args.trace else None)
        turns = len(oracle.text)
        attempted, failed = untraced["attempted"], untraced["failed"]
        if args.trace:
            trace_path = os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}-{os.getpid()}.json")
            metrics, a, f, extra = layer_metrics(spark, cfg, inp, oracle, cores, untraced, turns, trace_path)
            attempted, failed = attempted + a, failed + f
        else:
            metrics = e2e_metrics(untraced, turns, setup_s)
    finally:
        shutdown(spark)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "inputs": {"rows": made["rows"], "sha256": made["sha256"], "payload_turns": turns},
        "environment": env, "input_gen_s": gen_s, "setup_s": setup_s, "passes": untraced["passes"],
        "job_times_s": untraced["times"], "job_cpu_s": untraced["cpu_s"], "steal_frac": untraced["steal_frac"],
        "worker_rss_mb": untraced["worker_rss_mb"], "worker_rss_poll_s": RSS_POLL_S,
        "rss_polls": untraced["rss_polls"], "rss_workers": untraced["rss_workers"],
        "failed_frac": failed / max(attempted, 1), **extra,
    }  # fmt: skip
    print(json.dumps({"report": report}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    if failed:
        print(f"FAILED: {failed} of {attempted} outputs differ from the oracle", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
