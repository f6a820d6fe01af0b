"""Outside-in tracing for the traced benchmark run.

Three sources, none of them inside the package:

- `Spans`: timers wrapped around calls into the layers' public
  functions (`Stream.run_until_idle`, `Stream.emit`,
  `StateTable.upsert`/`get`, `dedup_index.minhash_index_admit`,
  `dedup_index.compact_index`). Each span records name, start, end,
  parent and the round id; spans stay in memory and are written out
  when the run ends.
- `ProgressListener`: a `StreamingQueryListener` that keeps every
  query-started and progress event.
- `parse_event_log`: the Spark event log, enabled through
  `get_spark(extra_conf=...)`, read after the session stops.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import statistics
import threading
import time
from pathlib import Path


class Spans:
    """In-memory span recorder. A span's parent is the innermost span
    open on the same thread, else the current round's span (calls made
    from foreachBatch run on Spark's callback threads)."""

    def __init__(self):
        self.records: list[dict] = []
        self.round_id: int | None = None
        self.round_span: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def open(self, name: str) -> dict:
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1]["id"] if stack else self.round_span
        span = {"id": next(self._ids), "name": name, "parent": parent,
                "round": self.round_id, "start": time.time(), "end": None}
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._local.stack.remove(span)
        with self._lock:
            self.records.append(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return timed

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.records if s["name"] == name]

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.records) + "\n")


def make_listener():
    """Build the listener lazily: pyspark is imported only in the
    system process, never in the load process or the checker."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.started: list[dict] = []
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802 - Spark API
            with self._lock:
                self.started.append(
                    {"id": str(event.id), "run": str(event.runId),
                     "ts": event.timestamp}
                )

        def onQueryProgress(self, event):  # noqa: N802
            with self._lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return ProgressListener()


def iso_s(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def pct(values, q: float) -> float:
    """Nearest-rank percentile; 0.0 for no samples."""
    vals = sorted(values)
    if not vals:
        return 0.0
    return float(vals[min(len(vals), max(1, math.ceil(q * len(vals)))) - 1])


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def progress_metrics(started: list[dict], progress: list[dict]) -> dict:
    """`streaming.*`, `state.*` and the listener-side `sources.*` numbers."""
    dur = [p.get("durationMs", {}) for p in progress]
    first_end: dict[str, float] = {}
    for p in progress:
        end = iso_s(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000
        first_end.setdefault(p["runId"], end)
    start_ms = [
        (first_end[s["run"]] - iso_s(s["ts"])) * 1000
        for s in started if s["run"] in first_end
    ]
    rows = [p.get("numInputRows", 0) for p in progress]
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    last_ops: dict[str, list] = {}
    for p in progress:  # state size: the latest progress of each query
        if p.get("stateOperators"):
            last_ops[p["id"]] = p["stateOperators"]
    return {
        "sources.latest_offset_ms_p50": median(d.get("latestOffset", 0) for d in dur),
        "streaming.query_starts": float(len(started)),
        "streaming.query_start_ms_p50": median(start_ms),
        "streaming.microbatches": float(len(progress)),
        "streaming.empty_batch_frac": (
            sum(1 for r in rows if not r) / len(rows) if rows else 0.0
        ),
        "streaming.planning_ms_p50": median(d.get("queryPlanning", 0) for d in dur),
        "streaming.add_batch_ms_p50": median(d.get("addBatch", 0) for d in dur),
        "streaming.commit_ms_p50": median(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        ),
        "state.rows_total": float(
            sum(op.get("numRowsTotal", 0) for v in last_ops.values() for op in v)
        ),
        "state.memory_bytes": float(
            sum(op.get("memoryUsedBytes", 0) for v in last_ops.values() for op in v)
        ),
        "state.commit_ms_p50": median(op.get("commitTimeMs", 0) for op in ops),
        "state.update_ms_p50": median(op.get("allUpdatesTimeMs", 0) for op in ops),
        "state.partitions": float(
            max((op.get("numShufflePartitions", 0) for op in ops), default=0)
        ),
    }


PY_SENT = "data sent to Python workers"
PY_TIME = "time to run Python workers"


def files_per_batch(checkpoints: Path) -> float:
    """Mean input files per micro-batch over every file-source query,
    from the source logs in the checkpoints (`sources/0/<batch>`; a
    `.compact` file repeats earlier entries, hence the de-duplication)."""
    batches: dict[str, dict[str, int]] = {}
    for log in checkpoints.glob("*/sources/0/*"):
        if log.name.startswith("."):
            continue
        entries = batches.setdefault(log.parent.parent.parent.name, {})
        for line in log.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                entries[e["path"]] = e["batchId"]
    per = [len(e) / len(set(e.values())) for e in batches.values() if e]
    return sum(per) / len(per) if per else 0.0


def parse_event_log(log_dir: Path, since_s: float, microbatches: int) -> dict:
    """`session.*` numbers from the Spark event log, for jobs submitted
    and tasks finished from `since_s` on."""
    since_ms = since_s * 1000
    jobs = tasks = 0
    cpu_ns = run_ms = gc_ms = spill = sh_w = sh_r = py_sent = py_ms = 0
    stage_times: dict[tuple, list[int]] = {}
    for path in sorted(p for p in log_dir.iterdir() if p.is_file()):
        if path.name.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += ev.get("Submission Time", 0) >= since_ms
                elif kind == "SparkListenerTaskEnd":
                    if (ev.get("Task Info") or {}).get("Finish Time", 0) < since_ms:
                        continue
                    tasks += 1
                    m = ev.get("Task Metrics") or {}
                    cpu_ns += m.get("Executor CPU Time", 0)
                    run_ms += m.get("Executor Run Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sh_w += sw.get("Shuffle Bytes Written", 0)
                    sh_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                    stage_times.setdefault(key, []).append(m.get("Executor Run Time", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if not isinstance(upd, (int, float, str)):
                            continue
                        if name == PY_SENT:
                            py_sent += int(upd)
                        elif name == PY_TIME:
                            py_ms += int(upd)
    skew = [
        max(ts) / statistics.median(ts)
        for ts in stage_times.values()
        if len(ts) >= 2 and statistics.median(ts) > 0
    ]
    per = max(microbatches, 1)
    return {
        "session.jobs_per_batch": jobs / per,
        "session.tasks_per_batch": tasks / per,
        "session.task_cpu_s": cpu_ns / 1e9,
        "session.task_run_s": run_ms / 1e3,
        "session.shuffle_write_bytes": float(sh_w),
        "session.shuffle_read_bytes": float(sh_r),
        "session.task_skew_max": max(skew, default=0.0),
        "session.python_exec_ms": float(py_ms),
        "session.python_bytes_sent": float(py_sent),
        "session.gc_s": gc_ms / 1e3,
        "session.spill_bytes": float(spill),
    }
