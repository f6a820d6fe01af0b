"""Load process for events_live. No SparkSession, three threads:

- producer: `Stream.emit` of one 100-event file every 200 ms on a due-time
  schedule that never waits on the system (open loop, 500 events/s);
  each event carries its due time;
- client: one closed-loop HTTP client doing `GET /state/{key}`;
- watcher: polls the pipeline's sink topic and records when each sink
  file became visible.

Run by run.py as `python3 perfbench/load.py <config.json>` from the
checkout root; writes `<work>/load.json`.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path

import tracing
import workloads as W


def produce(stream, cfg: dict, log: list, done: threading.Event) -> None:
    n_files = int(cfg["seconds"] * W.LIVE_FILES_PER_S)
    t0 = time.time() + 0.2
    try:
        for k in range(n_files):
            due = t0 + k / W.LIVE_FILES_PER_S
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            t_s = time.time()
            stream.emit("in", *W.live_file(cfg["seed"], k, due))
            log.append([k, due, t_s, time.time()])
            if k == 0:  # the system starts its round loop with the feed
                (Path(cfg["work"]) / "feed_started").write_text("")
    finally:
        done.set()


def lookups(port: int, cfg: dict, log: list, done: threading.Event) -> None:
    rng = random.Random(cfg["seed"] * 31 + 7)
    while not done.is_set():
        key = W.live_key(rng.randrange(W.LIVE_KEYS))
        t_s = time.time()
        status, count, err = 0, None, ""
        try:
            url = f"http://127.0.0.1:{port}/state/{key}"
            with urllib.request.urlopen(url, timeout=30) as resp:
                status = resp.status
                count = json.loads(resp.read())["value"]["count"]
        except urllib.error.HTTPError as exc:
            status, err = exc.code, exc.read().decode(errors="replace")[:200]
        except OSError as exc:  # refused or timed out: an errored lookup
            err = repr(exc)[:200]
        log.append([key, t_s, time.time(), status, count, err])


def watch(sink: Path, seen: dict, stop: Path) -> None:
    while True:
        last = stop.exists()
        now = time.time()
        if sink.exists():
            for p in sink.iterdir():
                if p.suffix == ".json" and p.name not in seen:
                    seen[p.name] = now
        if last:
            return
        time.sleep(0.02)


def main() -> None:
    cfg = json.loads(Path(sys.argv[1]).read_text())
    sys.path.insert(0, cfg["root"])
    from python_stream_processing_framework_spark.streaming.stream import Stream

    work = Path(cfg["work"])
    ready = json.loads((work / "ready.json").read_text())
    stream = Stream(None, cfg["broker"], name="live")
    spans = tracing.Spans() if cfg["trace"] else None
    if spans is not None:
        stream.emit = spans.wrap("sources.emit", stream.emit)
    emits, gets, seen = [], [], {}
    done = threading.Event()
    threads = [
        threading.Thread(target=produce, args=(stream, cfg, emits, done)),
        threading.Thread(target=lookups, args=(ready["port"], cfg, gets, done)),
        threading.Thread(target=watch,
                         args=(Path(cfg["broker"]) / "out", seen, work / "stop_watch")),
    ]
    for t in threads:
        t.start()
    threads[0].join()
    (work / "stop").write_text("")  # producer finished: the system drains
    threads[1].join()
    threads[2].join()
    out = {"emits": emits, "lookups": gets, "visible": seen}
    if spans is not None:
        out["emit_s"] = spans.durations("sources.emit")
    (work / "load.json").write_text(json.dumps(out))


if __name__ == "__main__":
    main()
