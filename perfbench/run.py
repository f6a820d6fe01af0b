"""Stream-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload events_live --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of this repository. The system under
test runs in its own process (perfbench/sut.py); for events_live a
separate load process (perfbench/load.py) drives it in an open loop.
After the run every output topic is checked against the reference that
workloads.py computes from the generated inputs. The last line of
standard output is `{"correct", "attempted", "failed", "metrics"}`:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`
(an untraced and a traced run, plus a local[1] drain on corpus_dedupe).
Design notes and the metric map are in perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import tracing
import workloads as W

BENCH = Path(__file__).resolve().parent
PACKAGE = "python_stream_processing_framework_spark"
WORKLOADS = ("events_live", "corpus_dedupe")
SETUPS = 3  # setup_s takes their median, a warm one; the first is cold
RUN_TIMEOUT_S = 175

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "events_per_s": "events/s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "sources.emit_us_per_event": "us",
    "sources.backlog_events_max": "count",
    "sources.latest_offset_ms_p50": "ms",
    "sources.files_per_batch": "count",
    "streaming.round_s_p50": "s",
    "streaming.round_s_p99": "s",
    "streaming.query_starts": "count",
    "streaming.query_start_ms_p50": "ms",
    "streaming.microbatches": "count",
    "streaming.empty_batch_frac": "ratio",
    "streaming.planning_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.dlq_events": "count",
    "streaming.retries": "count",
    "streaming.handler_useful_ratio": "ratio",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms_p50": "ms",
    "state.update_ms_p50": "ms",
    "state.partitions": "count",
    "state_table.upsert_s_p50": "s",
    "state_table.get_s_p50": "s",
    "state_table.files": "count",
    "api.error_responses": "count",
    "api.lookup_p50_s": "s",
    "api.lookup_p90_s": "s",
    "operators.admit_call_s_p50": "s",
    "operators.compact_s_p50": "s",
    "operators.index_files": "count",
    "operators.index_bytes": "bytes",
    "operators.admitted_ratio": "ratio",
    "session.jobs_per_batch": "count",
    "session.tasks_per_batch": "count",
    "session.task_cpu_s": "s",
    "session.task_run_s": "s",
    "session.shuffle_write_bytes": "bytes",
    "session.shuffle_read_bytes": "bytes",
    "session.task_skew_max": "ratio",
    "session.python_exec_ms": "ms",
    "session.python_bytes_sent": "bytes",
    "session.gc_s": "s",
    "session.spill_bytes": "bytes",
    "session.speedup_vs_local1": "ratio",
    "loadgen.late_s_max": "s",
    "loadgen.events": "count",
    "trace.overhead_frac": "ratio",
}


class BenchError(RuntimeError):
    pass


# ------------------------------------------------------------------ processes
def _tree_pss_bytes(root_pid: int) -> int:
    """Proportional resident memory (PSS) of a process and all its
    descendants: pages shared between forked Python workers count once
    in total, so the sum does not swing with the worker count. A JVM
    child still running the JVM's own image is one caught between vfork
    and exec (the JVM spawns shell helpers); it shares the JVM's address
    space and is not counted twice."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [(root_pid, "")]
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
        except OSError:  # exited, or a kernel thread
            exe = ""
        todo.extend((child, exe) for child in children.get(pid, []))
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class Proc:
    """A child process in its own session, killed with its whole group
    on close; a sampler thread tracks the tree's peak memory once a
    second."""

    def __init__(self, script: str, cfg_path: Path, log: Path, env: dict,
                 sample_rss: bool):
        self.log = open(log, "w")
        self.p = subprocess.Popen(
            [sys.executable, str(BENCH / script), str(cfg_path)],
            cwd=env["PERFBENCH_ROOT"], env=env, stdout=self.log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        self.peak = 0
        self._done = threading.Event()
        self._sampler = None
        if sample_rss:
            self._sampler = threading.Thread(target=self._sample, daemon=True)
            self._sampler.start()

    def _sample(self) -> None:
        while not self._done.wait(1.0):  # PSS of a large heap is not free to read
            self.peak = max(self.peak, _tree_pss_bytes(self.p.pid))

    def alive(self) -> bool:
        return self.p.poll() is None

    def wait(self, deadline: float, what: str) -> None:
        try:
            self.p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{what} did not finish in time") from None
        if self.p.returncode != 0:
            raise BenchError(f"{what} exited with {self.p.returncode}")

    def close(self) -> None:
        self._done.set()
        if self.p.poll() is None:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.p.wait()
        # stop what is left of the group (the JVM, Python workers) and wait
        # until it has gone
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        if self._sampler is not None:
            self._sampler.join()
        self.log.close()


def _wait_for(path: Path, proc: Proc, deadline: float, what: str) -> None:
    while not path.exists():
        if not proc.alive():
            raise BenchError(f"system process exited before {what}")
        if time.time() > deadline:
            raise BenchError(f"timed out waiting for {what}")
        time.sleep(0.05)


def run_system(root: Path, work: Path, workload: str, seed: int, seconds: int,
               trace: bool, cpus: int, deadline: float, setups: int, rounds: int,
               local1: bool = False) -> dict:
    """One system process (plus the load process on events_live)."""
    work.mkdir(parents=True)
    cfg = {
        "root": str(root), "work": str(work), "workload": workload, "seed": seed,
        "seconds": seconds, "trace": trace, "cpus": cpus, "setups": setups,
        "rounds": rounds, "driver_memory": "2g",
        "local1": local1, "deadline": deadline, "spawned_at": time.time(),
    }
    cfg_path = work / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    env = dict(os.environ)
    env.update(
        PERFBENCH_ROOT=str(root), TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "tmp"), PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(root), env.get("PYTHONPATH")])),
    )
    (work / "tmp").mkdir()
    procs = []
    try:
        sut = Proc("sut.py", cfg_path, work / "sut.log", env, sample_rss=True)
        procs.append(sut)
        load = None
        if workload == "events_live":
            _wait_for(work / "ready.json", sut, deadline, "set-up")
            cfg["broker"] = str(work / f"app{setups - 1}" / "broker")
            load_cfg = work / "load-config.json"
            load_cfg.write_text(json.dumps(cfg))
            load = Proc("load.py", load_cfg, work / "load.log", env, sample_rss=False)
            procs.append(load)
        try:
            sut.wait(deadline, "system process")
        finally:
            (work / "stop").write_text("")
            (work / "stop_watch").write_text("")
        if load is not None:
            load.wait(deadline, "load process")
    except BenchError as exc:
        tail = (work / "sut.log").read_text(errors="replace")[-3000:]
        raise BenchError(f"{exc}\n--- system log tail ---\n{tail}") from None
    finally:
        for p in procs:
            p.close()
    out = {"sut": json.loads((work / "sut.json").read_text()),
           "peak_rss": sut.peak, "work": work, "cfg": cfg}
    if workload == "events_live":
        out["load"] = json.loads((work / "load.json").read_text())
    return out


# -------------------------------------------------------------------- checks
def _read_rows(topic_dir: Path) -> list[tuple[str, dict]]:
    rows = []
    if not topic_dir.exists():
        return rows
    for p in sorted(topic_dir.iterdir()):
        if p.suffix != ".json" or p.name.startswith((".", "_")):
            continue
        for line in p.read_text().splitlines():
            if line.strip():
                rows.append((p.name, json.loads(line)))
    return rows


def _weighted_pct(pairs: list[tuple[float, int]], q: float) -> float:
    """Percentile of values each repeated `weight` times."""
    total = sum(w for _, w in pairs)
    need, acc = q * total, 0
    for v, w in sorted(pairs):
        acc += w
        if acc >= need:
            return v
    return sorted(pairs)[-1][0] if pairs else 0.0


class Outcome:
    def __init__(self):
        self.attempted = self.failed = self.wrong = 0
        self.notes: list[str] = []

    def op(self, ok: bool, wrong: bool = True, note: str = "") -> None:
        """Count one operation; a failed one is a wrong answer unless
        `wrong` is False (an error, such as an HTTP 500)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.wrong += wrong
            if note and len(self.notes) < 10:
                self.notes.append(note)


def check_live(run: dict, seed: int, out: Outcome) -> dict:
    sut, load = run["sut"], run["load"]
    broker = Path(sut["broker"])
    events: dict[str, dict] = {}
    file_events = []  # (emit_start, emit_end, [keys])
    for w in range(W.LIVE_WARMUP_FILES):
        for ev in W.live_warmup_file(w):
            events[ev["event_id"]] = ev
        file_events.append((0.0, 0.0, [ev["key"] for ev in W.live_warmup_file(w)]))
    for k, due, t_s, t_e in load["emits"]:
        evs = W.live_file(seed, k, due)
        for ev in evs:
            events[ev["event_id"]] = ev
        file_events.append((t_s, t_e, [ev["key"] for ev in evs]))

    sink: dict[str, list] = {}
    lat = []
    for fname, row in _read_rows(broker / "out"):
        sink.setdefault(row["event_id"], []).append(row)
        ev = events.get(row["event_id"])
        if ev is not None and row["event_id"].startswith("e"):
            lat.append(load["visible"][fname] - ev["due"])
    dlq: dict[str, list] = {}
    for _, row in _read_rows(broker / "in-dlq"):
        dlq.setdefault(row["event_id"], []).append(row)
    for eid, ev in events.items():
        if ev["poison"]:
            rows = dlq.get(eid, [])
            ok = (len(rows) == 1 and rows[0].get("_error")
                  and rows[0].get("_attempt") == W.LIVE_MAX_RETRIES and eid not in sink)
            out.op(bool(ok), note=f"poison event {eid}: dlq={len(rows)}")
        else:
            rows = sink.get(eid, [])
            ok = len(rows) == 1 and rows[0]["value"] == 2 * ev["value"]
            out.op(ok, note=f"event {eid}: sink rows={len(rows)}")
    for eid in set(sink) - set(events):
        out.op(False, note=f"unknown sink event {eid}")

    rounds = sut["rounds"]
    lookups_ok = []
    errors, error_notes = 0, []
    for key, t_s, t_e, status, count, err in load["lookups"]:
        before = [r for r in rounds if r[1] <= t_s]
        after = [r for r in rounds if r[1] >= t_e]
        lo_t = max(r[0] for r in before) if before else None
        hi_t = min(r[1] for r in after) if after else float("inf")
        lo = sum(keys.count(key) for s, e, keys in file_events
                 if lo_t is not None and e <= lo_t)
        hi = sum(keys.count(key) for s, e, keys in file_events if s <= hi_t)
        if status != 200:
            # the known StateTable read/upsert race (perfbench/NOTES.md):
            # whether a lookup meets it depends on thread timing, so it is
            # reported beside `failed`, not in it
            errors += 1
            if len(error_notes) < 10:
                error_notes.append(f"lookup {key}: HTTP {status} {err[:80]}")
            continue
        out.op(lo <= count <= hi, note=f"lookup {key}: {count} not in [{lo}, {hi}]")
        lookups_ok.append(t_e - t_s)

    measured = [e for e in events if e.startswith("e")]
    first_due = min(d for _, d, _, _ in load["emits"])
    last_visible = max(load["visible"].values())
    return {
        "latency_p50_s": tracing.pct(lat, 0.50),
        "latency_p99_s": tracing.pct(lat, 0.99),
        "events_per_s": len(measured) / (last_visible - first_due),
        "detail": {
            "events": len(measured), "latency_samples": len(lat),
            "lookups": len(load["lookups"]), "lookup_errors": errors,
            "lookup_error_notes": error_notes,
            "failed_frac_incl_lookup_errors":
                (out.failed + errors) / (out.attempted + errors),
            "lookup_p50_s": tracing.pct(lookups_ok, 0.50),
            "lookup_p90_s": tracing.pct(lookups_ok, 0.90),
            "rounds": len(rounds),
            "round_s": [round(e - s, 3) for s, e in rounds],
        },
    }


def _drain_latency(sut: dict) -> dict:
    """Backlog workloads: every input of a chunk is due when its round
    starts and visible when that round returns."""
    chunks = sut["chunks"]
    measured = sut["rounds"][-len(chunks):]
    durs = [e - s for s, e in measured]
    pairs = list(zip(durs, chunks))
    return {
        "latency_p50_s": _weighted_pct(pairs, 0.50),
        "latency_p99_s": _weighted_pct(pairs, 0.99),
        "events_per_s": sum(chunks) / sum(durs),
        "detail": {"events": sum(chunks), "rounds": len(durs),
                   "round_s": [round(d, 3) for d in durs]},
    }


def check_corpus(run: dict, seed: int, out: Outcome) -> dict:
    sut = run["sut"]
    feed = W.CorpusFeed(seed)
    docs = [d for _ in range(sut["files"]) for d in feed.next_file()]
    admitted: dict[str, int] = {}
    for _, r in _read_rows(Path(sut["broker"]) / "docs-unique"):
        admitted[r["doc_id"]] = admitted.get(r["doc_id"], 0) + 1
    known = {d["doc_id"] for d in docs}
    for d in docs:
        n = admitted.get(d["doc_id"], 0)
        if d["dup"]:  # a recall loss: counted, but not a wrong answer
            out.op(n == 0, wrong=False, note=f"near-dup {d['doc_id']} admitted")
        else:
            out.op(n == 1, note=f"original {d['doc_id']} admitted {n} times")
    for doc_id in set(admitted) - known:
        out.op(False, note=f"unknown doc {doc_id} admitted")
    res = _drain_latency(sut)
    res["detail"].update(input_docs=len(docs),
                         admitted=sum(admitted.values()),
                         near_dups=sum(d["dup"] for d in docs))
    return res


CHECKS = {"events_live": check_live, "corpus_dedupe": check_corpus}


def end_to_end(run: dict, res: dict) -> dict:
    sut = run["sut"]
    return {
        "setup_s": sut["session_s"] + statistics.median(sut["setups_s"]),
        "latency_p50_s": res["latency_p50_s"],
        "latency_p99_s": res["latency_p99_s"],
        "events_per_s": res["events_per_s"],
        "peak_rss_mb": run["peak_rss"] / 2**20,
    }


# ----------------------------------------------------------------- per-layer
def _dir_stats(path: Path, suffix: str) -> tuple[int, int]:
    files = [p for p in path.rglob(f"*{suffix}") if p.is_file()] if path.exists() else []
    return len(files), sum(p.stat().st_size for p in files)


def per_layer(workload: str, base_res: dict, traced: dict, traced_res: dict) -> dict:
    sut = traced["sut"]
    m = {name: 0.0 for name in LAYER_UNITS}
    t_measure = sut["measure_start"]  # set-up and warm-up rounds excluded
    lst = sut["listener"]
    started = [s for s in lst["started"] if tracing.iso_s(s["ts"]) >= t_measure]
    progress = [p for p in lst["progress"]
                if tracing.iso_s(p["timestamp"]) >= t_measure]
    m.update(tracing.progress_metrics(started, progress))
    m.update(tracing.parse_event_log(traced["work"] / "eventlog", t_measure,
                                     len(progress)))
    broker = Path(sut["broker"])
    m["sources.files_per_batch"] = tracing.files_per_batch(broker / "_checkpoints")
    spans = [json.loads(line) for line in Path(sut["spans"]).read_text().splitlines()]

    def durs(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    if workload == "events_live":  # from the first due event on
        first_due = min(d for _, d, _, _ in traced["load"]["emits"])
        rounds = [e - s for s, e in sut["rounds"] if e >= first_due]
    else:  # the measured chunks
        rounds = [e - s for s, e in sut["rounds"][-len(sut["chunks"]):]]
    m["streaming.round_s_p50"] = tracing.median(rounds)
    m["streaming.round_s_p99"] = tracing.pct(rounds, 0.99)
    m["state_table.upsert_s_p50"] = tracing.median(durs("state_table.upsert"))
    m["state_table.get_s_p50"] = tracing.median(durs("state_table.get"))
    m["operators.admit_call_s_p50"] = tracing.median(durs("operators.minhash_index_admit"))
    m["operators.compact_s_p50"] = tracing.median(durs("operators.compact_index"))
    if workload == "events_live":
        load = traced["load"]
        emit_s = load.get("emit_s", [])
        m["sources.emit_us_per_event"] = (
            tracing.median(emit_s) * 1e6 / W.LIVE_EVENTS_PER_FILE)
        m["loadgen.late_s_max"] = max((t_s - due for _, due, t_s, _ in load["emits"]),
                                      default=0.0)
        m["loadgen.events"] = float(len(load["emits"]) * W.LIVE_EVENTS_PER_FILE)
        visible = sorted(load["visible"].values())
        emitted = sorted(e for _, _, _, e in load["emits"])
        per_sink_file = {}
        for fname, row in _read_rows(broker / "out"):
            per_sink_file[fname] = per_sink_file.get(fname, 0) + 1
        vis = sorted((load["visible"][f], n) for f, n in per_sink_file.items())
        backlog = 0.0
        for s, _ in sut["rounds"]:
            done = sum(n for t, n in vis if t <= s)
            sent = sum(W.LIVE_EVENTS_PER_FILE for t in emitted if t <= s)
            backlog = max(backlog, sent * (1 - W.LIVE_POISON_RATE) - done)
        m["sources.backlog_events_max"] = max(backlog, 0.0) if visible else 0.0
        m["streaming.dlq_events"] = float(len(_read_rows(broker / "in-dlq")))
        m["streaming.retries"] = float(len(_read_rows(broker / "in--retry--audit")))
        calls = sut["calls"]
        m["streaming.handler_useful_ratio"] = (
            calls["delivered"] / calls["handler"] if calls["handler"] else 0.0)
        m["state_table.files"] = float(_dir_stats(Path(sut["state"]), ".parquet")[0])
        m["api.error_responses"] = float(traced_res["detail"]["lookup_errors"])
        m["api.lookup_p50_s"] = traced_res["detail"]["lookup_p50_s"]
        m["api.lookup_p90_s"] = traced_res["detail"]["lookup_p90_s"]
        m["trace.overhead_frac"] = (
            traced_res["latency_p50_s"] / base_res["latency_p50_s"] - 1)
    else:  # corpus_dedupe
        emit_s = durs("sources.emit")
        m["sources.emit_us_per_event"] = tracing.median(emit_s) * 1e6 / W.DOCS_PER_FILE
        m["sources.backlog_events_max"] = float(max(sut["chunks"]))
        m["loadgen.events"] = float(sum(sut["chunks"]))
        m["trace.overhead_frac"] = (
            1 - traced_res["events_per_s"] / base_res["events_per_s"])
        files, size = _dir_stats(Path(sut["index"]), ".parquet")
        m["operators.index_files"] = float(files)
        m["operators.index_bytes"] = float(size)
        d = traced_res["detail"]
        m["operators.admitted_ratio"] = d["admitted"] / d["input_docs"]
    if sut.get("local1"):
        local1 = _drain_latency(sut["local1"])
        m["session.speedup_vs_local1"] = base_res["events_per_s"] / local1["events_per_s"]
    return m


# ---------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its child process groups (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"error: no {PACKAGE} package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("error: --seconds must be at least 1", file=sys.stderr)
        return 2
    cpus = min(4, os.cpu_count() or 1)
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    deadline = time.time() + RUN_TIMEOUT_S
    check = CHECKS[args.workload]
    outcome = Outcome()
    try:
        # a traced run reports no setup_s, and its corpus_dedupe processes
        # drain half the rounds (two at least, so two at --seconds 15): one
        # set-up per process and the shorter drain keep the untraced, traced
        # and local[1] phases inside the time limit at longer --seconds
        setups = 1 if args.trace else SETUPS
        rounds = W.corpus_rounds(args.seconds / 2 if args.trace else args.seconds)
        base = run_system(root, work / "base", args.workload, args.seed,
                          args.seconds, False, cpus, deadline, setups, rounds)
        base_res = check(base, args.seed, outcome)
        detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                  "session_s": round(base["sut"]["session_s"], 3),
                  "setups_s": [round(t, 3) for t in base["sut"]["setups_s"]],
                  **base_res["detail"], "failures": outcome.notes}
        if args.trace:
            traced = run_system(root, work / "traced", args.workload, args.seed,
                                args.seconds, True, cpus, deadline, setups, rounds,
                                local1=args.workload != "events_live")
            traced_res = check(traced, args.seed, outcome)
            values = per_layer(args.workload, base_res, traced, traced_res)
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
        else:
            values = end_to_end(base, base_res)
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    except BenchError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": outcome.wrong == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
