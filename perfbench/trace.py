"""Measurement from outside the program: process-tree memory from /proc,
Spark's own event log, and an in-process replay of the extraction kernel
with timers around the calls into each of its layers."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

# ------------------------------------------------------------- memory
def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                text = fh.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(text[text.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(stat.split("/")[2]))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process ended
    return 0


class MemorySampler:
    """Samples, every ``interval`` seconds, the summed proportional set size
    (PSS) of every process this one started -- the Spark JVM and its Python
    workers -- minus the processes in ``exclude``. PSS, not RSS: forked
    Python workers share the daemon's pages and the JVM's short-lived forked
    children briefly share all of its pages, which a sum of RSS counts twice.
    ``peak_mb`` is the largest sample since the last ``reset``; ``peaks``
    collects the peaks a caller chooses to keep."""

    interval = 0.1

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak = 0
        self.peaks: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids = children_map()
        todo = list(kids.get(os.getpid(), []))
        total = 0
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_bytes(pid)
            todo.extend(kids.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak = self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return max(self.peak, self.sample()) / 2**20


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> list[dict]:
    """Events of the most recently started application under ``log_dir``
    (rolling ``eventlog_v2_*`` directories or single files)."""
    apps = sorted(
        glob.glob(os.path.join(log_dir, "*")), key=lambda p: os.path.getmtime(p)
    )
    if not apps:
        return []
    app = apps[-1]
    files = (
        sorted(glob.glob(os.path.join(app, "events_*")),
               key=lambda p: int(os.path.basename(p).split("_")[1]))
        if os.path.isdir(app) else [app]
    )
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
KERNEL_FN = "fused_extract_stage"  # kernels_spark's extraction kernel


class EventLog:
    """Per-label totals from one application's event log. A label is the
    job description the benchmark set before the work ran."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[str, int] = defaultdict(int)
        self.tasks: dict[str, int] = defaultdict(int)
        self.tasks_failed: dict[str, int] = defaultdict(int)
        self.shuffle_bytes: dict[str, int] = defaultdict(int)
        # task-summed seconds: shuffle write plus fetch wait, and run time
        self.shuffle_s: dict[str, float] = defaultdict(float)
        self.task_s: dict[str, float] = defaultdict(float)
        self.spill_bytes: dict[str, int] = defaultdict(int)
        self.peak_mem: dict[str, int] = defaultdict(int)
        self.python: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        # label -> [(wall seconds, physical plan text)] of root SQL executions
        self.executions: dict[str, list[tuple[float, str]]] = defaultdict(list)
        stage_label: dict[int, str] = {}
        run_times: dict[int, list[int]] = defaultdict(list)
        kernel_acc: dict[int, tuple[str, str]] = {}
        starts: dict[int, dict] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                label = (e.get("Properties") or {}).get("spark.job.description") or ""
                self.jobs[label] += 1
                for sid in e["Stage IDs"]:
                    stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(e["Stage ID"], "")
                self.tasks[label] += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    self.tasks_failed[label] += 1
                m = e.get("Task Metrics") or {}
                write = m.get("Shuffle Write Metrics", {})
                self.shuffle_bytes[label] += write.get("Shuffle Bytes Written", 0)
                self.shuffle_s[label] += write.get("Shuffle Write Time", 0) * 1e-9 + m.get(
                    "Shuffle Read Metrics", {}
                ).get("Fetch Wait Time", 0) * 1e-3
                self.task_s[label] += m.get("Executor Run Time", 0) * 1e-3
                self.spill_bytes[label] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                self.peak_mem[label] = max(self.peak_mem[label], m.get("Peak Execution Memory", 0))
                run_times[e["Stage ID"]].append(m.get("Executor Run Time", 0))
                for acc in e["Task Info"].get("Accumulables", []):
                    hit = kernel_acc.get(acc["ID"])
                    if hit:
                        key, mtype = hit
                        self.python[label][key] += float(acc.get("Update") or 0) * _TIME_SCALE.get(mtype, 1)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                for node in _plan_nodes(e.get("sparkPlanInfo") or {}):
                    if node.get("nodeName", "").startswith("MapInPandas") and KERNEL_FN in node.get(
                        "simpleString", ""
                    ):
                        for met in node.get("metrics", []):
                            if met["name"] in PY_METRICS:
                                kernel_acc[met["accumulatorId"]] = (
                                    PY_METRICS[met["name"]], met["metricType"]
                                )
                if kind.endswith("SQLExecutionStart") and e.get("rootExecutionId", e["executionId"]) == e["executionId"]:
                    starts[e["executionId"]] = e
            elif kind.endswith("SQLExecutionEnd"):
                s = starts.pop(e["executionId"], None)
                if s is not None:
                    self.executions[s.get("description") or ""].append(
                        ((e["time"] - s["time"]) / 1000.0, s.get("physicalPlanDescription", ""))
                    )
        self.task_skew: dict[str, float] = defaultdict(float)
        for sid, times in run_times.items():
            if len(times) >= 2 and statistics.median(times) > 0:
                label = stage_label.get(sid, "")
                self.task_skew[label] = max(self.task_skew[label], max(times) / statistics.median(times))

    def labels(self, prefix: str) -> list[str]:
        seen = set(self.jobs) | set(self.executions)
        return sorted(lbl for lbl in seen if lbl.startswith(prefix))

    def total(self, table: dict, prefix: str) -> float:
        return sum(table.get(lbl, 0) for lbl in self.labels(prefix))

    def python_total(self, prefix: str, key: str) -> float:
        return sum(self.python[lbl][key] for lbl in self.labels(prefix) if lbl in self.python)

    def sql_wall(self, prefix: str) -> float:
        return sum(w for lbl in self.labels(prefix) for w, _ in self.executions.get(lbl, []))


def count_exchanges(plan: str) -> int:
    """Exchange operators in the final (post-AQE) section of a plan string."""
    final = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"\b(?:Shuffle|Broadcast|Reused)?Exchange\b", final))


# ------------------------------------------------------- kernel replay
class _Timed:
    """Wraps one function: counts calls and accumulates wall time."""

    def __init__(self, fn):
        self.fn = fn
        self.calls = 0
        self.seconds = 0.0

    def __call__(self, *args):
        t0 = time.perf_counter()
        out = self.fn(*args)
        self.seconds += time.perf_counter() - t0
        self.calls += 1
        return out


def replay_kernel(htmls: list[bytes]) -> dict[str, float]:
    """Run ``htmls`` through ``kernel.detect_document`` and
    ``kernel.correct_document`` in this process, with timers around the
    kernel's calls into ``extract.extract_blocks``,
    ``detect.flag_spans_counted`` and ``correct.correct_token``. Both token
    caches start empty, as in a fresh Python worker."""
    from sbb_ocr_postcorrection_spark import correct, detect, kernel

    detect.is_noisy_token.cache_clear()
    correct.best_correction.cache_clear()
    saved = (kernel.extract_blocks, kernel.flag_spans_counted, kernel.correct_token)
    ext, flag, cor = (_Timed(f) for f in saved)
    changed = 0

    def correct_token(token):
        nonlocal changed
        out = cor(token)
        changed += out != token
        return out

    kernel.extract_blocks, kernel.flag_spans_counted, kernel.correct_token = ext, flag, correct_token
    blocks = content = spans = flagged = 0
    assemble = 0.0
    try:
        for html in htmls:
            dets, n_blocks, _ = kernel.detect_document(html)
            t0 = time.perf_counter()
            kernel.correct_document(dets)
            assemble += time.perf_counter() - t0
            blocks += n_blocks
            content += len(dets)
            spans += sum(len(d.spans) for d in dets)
            flagged += sum(d.n_flagged for d in dets)
    finally:
        kernel.extract_blocks, kernel.flag_spans_counted, kernel.correct_token = saved
    det_ci = detect.is_noisy_token.cache_info()
    cor_ci = correct.best_correction.cache_info()
    kdocs = len(htmls) / 1000.0

    def ratio(a, b):
        return a / b if b else 0.0

    return {
        "extract.s_per_kdoc": ext.seconds / kdocs,
        "extract.blocks_per_doc": blocks / len(htmls),
        "extract.content_block_ratio": ratio(content, blocks),
        "detect.s_per_kdoc": flag.seconds / kdocs,
        "detect.spans_per_doc": spans / len(htmls),
        "detect.flag_rate": ratio(flagged, spans),
        "detect.cache_hit_ratio": ratio(det_ci.hits, det_ci.hits + det_ci.misses),
        "correct.s_per_kdoc": cor.seconds / kdocs,
        "correct.tokens": cor.calls,
        "correct.changed_ratio": ratio(changed, cor.calls),
        "correct.cache_hit_ratio": ratio(cor_ci.hits, cor_ci.hits + cor_ci.misses),
        "kernel.assemble_s_per_kdoc": (assemble - cor.seconds) / kdocs,
    }
