"""Measurement tools of the benchmark: spans, the Python-worker RSS
sampler, the Spark event-log reader and the single-process replay of the
per-turn layers. All of it lives outside ``doctr_spark``: spans are taken
around calls into the layers' public functions, never inside them."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """In-memory spans (name, start, end, parent, job), written out once
    at the end. Times are seconds since the tracer was made."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, "job": job}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Python worker peak RSS, read from /proc (psutil is not available)
# ---------------------------------------------------------------------------


def _status_kb(pid: int, keys: tuple[str, ...]) -> dict[str, int]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                if k in keys:
                    out[k] = int(v.split()[0])
    except (FileNotFoundError, ProcessLookupError, ValueError):
        pass
    return out


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, CPU ticks of itself and its reaped children)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(d)] = (int(fields[1]), comm, sum(map(int, fields[11:15])))  # utime stime cutime cstime
    return table


def _descendants(root: int, table: dict) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _comm, _cpu) in table.items():
        children[ppid].append(pid)
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def python_descendants(root: int) -> list[int]:
    """Python processes below ``root``: the PySpark daemons and the
    workers they fork."""
    table = _proc_table()
    return [p for p in _descendants(root, table) if table[p][1].startswith("python")]


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` (the JVM) and every process below
    it (its Python workers), counting exited workers through the process
    that reaped them. Time the hypervisor steals is not in it."""
    table = _proc_table()
    return sum(table[p][2] for p in [root, *_descendants(root, table)]) / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class WorkerRss:
    """Polls VmRSS of every Python worker below ``root`` (the JVM) while active,
    and reads each worker's VmHWM (kernel-kept peak) at every poll. The
    result is the larger of the two, in MB."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_kb = 0
        self.polls = 0
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def poll(self) -> None:
        for pid in python_descendants(self.root):
            st = _status_kb(pid, ("VmRSS", "VmHWM"))
            if st:
                self.workers.add(pid)
                self.peak_kb = max(self.peak_kb, *st.values())
        self.polls += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.poll()

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.poll()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# Spark event log -> per-job-group metrics
# ---------------------------------------------------------------------------

SPARK_KEYS = (
    "jobs", "stages", "exchanges", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "gc_s", "task_s", "core_busy_frac", "task_tail_s",
)  # fmt: skip
_PY_METRICS = {
    "data sent to Python workers": "to_python",
    "data returned from Python workers": "from_python",
    "time to run Python workers": "run",
    "time to start Python workers": "start",
    "time to initialize Python workers": "start",
}
_EXCHANGES = ("Exchange", "BroadcastExchange")


def _plan_nodes(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _plan_nodes(c)


def read_eventlog(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "appstatus")):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def eventlog_metrics(events: list[dict], walls: dict[str, float], cores: int) -> dict[str, dict]:
    """Per job group (the benchmark tags every job with its name): the
    ``SPARK_KEYS`` metrics plus Arrow/Python boundary totals and the scan
    stages' longest task. ``walls`` holds each group's measured wall time."""
    group_of_stage: dict[int, str] = {}
    jobs = defaultdict(int)
    execs = defaultdict(set)
    metric_type: dict[int, tuple[str, str]] = {}
    final_plan: dict[int, dict] = {}
    completed: set[int] = set()
    tasks = defaultdict(list)  # stage id -> its TaskEnd events
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            jobs[group] += 1
            if props.get("spark.sql.execution.id") is not None:
                execs[group].add(int(props["spark.sql.execution.id"]))
            for sid in e["Stage IDs"]:
                group_of_stage.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            completed.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            tasks[e["Stage ID"]].append(e)
        elif "sparkPlanInfo" in e:
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
            for node in _plan_nodes(e["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    metric_type[m["accumulatorId"]] = (m["name"], m["metricType"])

    out: dict[str, dict] = {}
    for group in jobs:
        stages = sorted(s for s, g in group_of_stage.items() if g == group and s in completed)
        m = dict.fromkeys(SPARK_KEYS, 0.0)
        m.update({"to_python_mb": 0.0, "from_python_mb": 0.0, "python_run_s": 0.0,
                  "python_start_s": 0.0, "input_mb": 0.0, "scan_task_max_s": 0.0})  # fmt: skip
        m["jobs"] = jobs[group]
        m["stages"] = len(stages)
        m["exchanges"] = sum(
            n["nodeName"] in _EXCHANGES for x in execs[group] if x in final_plan
            for n in _plan_nodes(final_plan[x])
        )  # fmt: skip
        heaviest, heaviest_s = None, -1.0
        py_stage = None
        for sid in stages:
            run = []
            for t in tasks[sid]:
                tm = t["Task Metrics"]
                run.append(tm["Executor Run Time"] / 1000)
                m["gc_s"] += tm["JVM GC Time"] / 1000
                m["spill_mb"] += tm["Disk Bytes Spilled"] / MB
                m["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                rd = tm["Shuffle Read Metrics"]
                m["shuffle_read_mb"] += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / MB
                m["input_mb"] += tm["Input Metrics"]["Bytes Read"] / MB
                for acc in t["Task Info"].get("Accumulables", []):
                    name, mtype = metric_type.get(acc.get("ID"), (acc.get("Name"), None))
                    key = _PY_METRICS.get(name)
                    if key is None:
                        continue
                    if py_stage is None:
                        py_stage = sid
                    v = float(acc["Update"])  # SQL metric updates are logged as strings
                    if mtype == "size":
                        m[f"{key}_mb"] += v / MB
                    else:
                        m[f"python_{key}_s"] += v / (1e9 if mtype == "nsTiming" else 1e3)
            m["task_s"] += sum(run)
            if run and sum(run) > heaviest_s:
                heaviest, heaviest_s = run, sum(run)
            if py_stage is None and run:  # stages upstream of the Python stage
                m["scan_task_max_s"] = max(m["scan_task_max_s"], max(run))
        if heaviest:
            m["task_tail_s"] = max(heaviest) - statistics.median(heaviest)
        wall = walls.get(group, 0.0)
        m["core_busy_frac"] = m["task_s"] / (cores * wall) if wall else 0.0
        out[group] = m
    return out


# ---------------------------------------------------------------------------
# single-process replay of the fused per-turn kernel
# ---------------------------------------------------------------------------


def replay_docs(turns, tracer: Tracer, batch_rows: int) -> tuple[dict, list]:
    """Run the per-turn layers of ``operators.pipeline``'s fused docs
    kernel over ``turns`` (pandas: pid, conv_id, turn_idx, text), one Arrow
    partition at a time in batches of ``batch_rows``, with a span around
    every layer call. Uses the kernel's default settings. Returns counts
    and the (conv_id, turn_idx, extracted_text) rows."""
    import numpy as np

    from doctr_spark.fixtures.payloads import decode_payload
    from doctr_spark.kernels.builder import PAGE_BREAK
    from doctr_spark.kernels.detection import extract_crops
    from doctr_spark.operators.build import build_page_record
    from doctr_spark.operators.detect import make_page_processor
    from doctr_spark.operators.recognize import recognize_crop_arrays

    c = dict.fromkeys(
        ("turns", "decoded", "pages", "failed", "boxes", "crops", "crop_bytes", "upright", "batch_crops_max", "words"),
        0,
    )
    rows = []
    process_page = make_page_processor(None, False, "db_like", False, None, True, True)
    batches = []
    for _pid, part in turns.groupby("pid", sort=True):
        for i in range(0, len(part), batch_rows):
            batches.append(part.iloc[i : i + batch_rows])
    with tracer.span("replay"):
        for pdf in batches:
            with tracer.span("replay.batch"):
                pending, all_crops = [], []
                for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                    c["turns"] += 1
                    try:
                        with tracer.span("decode"):
                            pages = decode_payload(text)
                    except NotImplementedError:
                        raise  # as in the kernel: a disclosed codec gate fails loudly
                    except Exception:  # noqa: BLE001 - the kernel skips a turn that fails to decode
                        c["failed"] += 1
                        continue
                    c["decoded"] += 1
                    recs = []
                    for page_idx, img in enumerate(pages):
                        with tracer.span("detect"):
                            img, orient, oconf, _rg, tables, abs_boxes, rel_boxes, scores = process_page(img)
                        with tracer.span("crop"):
                            crops = [np.ascontiguousarray(x) for x in extract_crops(img, abs_boxes)]
                        c["pages"] += 1
                        c["boxes"] += len(abs_boxes)
                        c["crop_bytes"] += sum(x.nbytes for x in crops)
                        start = len(all_crops)
                        recs.append(
                            (page_idx, img.shape, orient, oconf, tables, rel_boxes, scores, start, len(crops))
                        )
                        all_crops.extend(crops)
                    if recs:
                        pending.append((conv_id, int(turn_idx), recs))
                c["crops"] += len(all_crops)
                c["batch_crops_max"] = max(c["batch_crops_max"], len(all_crops))
                with tracer.span("recognize"):
                    values, confs, orients, oconfs = recognize_crop_arrays(all_crops, True, "ctc", "french")
                c["upright"] += sum(1 for a, s in zip(orients, oconfs) if a == 0 and s == 1.0)
                for conv_id, turn_idx, recs in pending:
                    texts = []
                    for page_idx, shape, orient, oconf, tables, rel_boxes, scores, start, n in recs:
                        with tracer.span("build"):
                            n_words, text, _json = build_page_record(
                                rel_boxes, scores, values[start : start + n], confs[start : start + n],
                                list(zip(orients[start : start + n], oconfs[start : start + n])),
                                (int(shape[0]), int(shape[1])), page_idx,
                                json.loads(json.dumps(tables)) if tables else [], None,
                                {"value": int(orient), "confidence": float(oconf)},
                                resolve_lines=True, resolve_blocks=False, paragraph_break=0.035,
                            )  # fmt: skip
                        c["words"] += n_words
                        texts.append(text)
                    rows.append((conv_id, turn_idx, PAGE_BREAK.join(texts)))
    return c, rows
