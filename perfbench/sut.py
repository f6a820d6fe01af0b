"""System-under-test process: one SparkSession running one workload.

Started by run.py as `python3 perfbench/sut.py <config.json>` from the
checkout root. It builds the session with `get_spark`, sets the
workload's application up several times (fresh broker each time, the
last one is measured), runs the measured phase, and writes what it
observed to `<work>/sut.json`. The checker in run.py compares the
topics it leaves behind with the references in workloads.py.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import tracing
import workloads as W


def double_value(ev):
    """Pipeline map: poison events are dropped here (they go to the DLQ
    through the subscribe consumer), the rest leave with value x 2."""
    if ev["poison"]:
        return None
    out = dict(ev)
    out["value"] = ev["value"] * 2
    return out


def strip(events: list[dict], labels: tuple[str, ...]) -> list[dict]:
    """Drop the generator's answer labels before the program sees them."""
    return [{k: v for k, v in e.items() if k not in labels} for e in events]


class App:
    """Shared round bookkeeping; subclasses register the consumers."""

    def __init__(self, spark, cfg: dict, spans: tracing.Spans | None):
        self.spark, self.cfg, self.spans = spark, cfg, spans
        self.work = Path(cfg["work"])
        self.rounds: list[list[float]] = []
        self.emitted_files = 0

    def traced(self, obj, attr: str, name: str) -> None:
        if self.spans is not None:
            setattr(obj, attr, self.spans.wrap(name, getattr(obj, attr)))

    def run_round(self) -> None:
        t0 = time.time()
        if self.spans is not None:
            self.spans.round_id = len(self.rounds)
            span = self.spans.open("bench.round")
            self.spans.round_span = span["id"]
        try:
            self.drive()
        finally:
            if self.spans is not None:
                self.spans.close(span)
                self.spans.round_span = None
        self.rounds.append([t0, time.time()])

    def drive(self) -> None:
        self.stream.run_until_idle()

    def emit(self, topic: str, events: list[dict]) -> None:
        self.stream.emit(topic, *events)
        self.emitted_files += 1
        # distinct file mtimes keep the file source's arrival order equal
        # to emission order (mtime granularity is a clock tick)
        time.sleep(0.005)


class LiveApp(App):
    """events_live: pipeline map, driver-serial subscribe with poison
    events, keyed count into a StateTable served over HTTP."""

    def setup(self, i: int) -> None:
        from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                       StringType, StructField, StructType)

        from python_stream_processing_framework_spark.api import StateApiServer
        from python_stream_processing_framework_spark.streaming import Stream
        from python_stream_processing_framework_spark.streaming.state_table import StateTable

        if getattr(self, "server", None) is not None:
            self.server.stop()
        d = self.work / f"app{i}"
        self.broker = d / "broker"
        self.rounds, self.emitted_files = [], 0
        self.calls = {"handler": 0, "delivered": 0}
        schema = StructType([
            StructField("event_id", StringType()), StructField("key", StringType()),
            StructField("value", LongType()), StructField("poison", BooleanType()),
            StructField("due", DoubleType()), StructField("timestamp", DoubleType()),
        ])
        self.stream = Stream(self.spark, str(self.broker), name="live")
        self.traced(self.stream, "run_until_idle", "streaming.run_until_idle")
        self.traced(self.stream, "emit", "sources.emit")
        self.stream.pipeline("in", schema, group="double").map(double_value).sink("out")
        calls = self.calls

        @self.stream.subscribe("in", schema, max_retries=W.LIVE_MAX_RETRIES, group="audit")
        def audit(ev):
            calls["handler"] += 1
            if ev["poison"]:
                raise ValueError(f"poison event {ev['event_id']}")
            calls["delivered"] += 1

        self.table = StateTable(self.spark, str(d / "state"), "key", buckets=4)
        self.traced(self.table, "upsert", "state_table.upsert")
        self.traced(self.table, "get", "state_table.get")
        self.counts = self.stream.stream_topic("in", schema).groupBy("key").count()
        self.counts_ckpt = str(d / "counts-ckpt")
        for w in range(W.LIVE_WARMUP_FILES):
            self.emit("in", W.live_warmup_file(w))
        for _ in range(W.LIVE_MAX_RETRIES + 1):  # through to the DLQ
            self.run_round()
        self.server = StateApiServer(self.table).start()
        self.port = self.server.port

    def drive(self) -> None:
        q = (
            self.counts.writeStream.outputMode("update")
            .foreachBatch(self.table.writer())
            .option("checkpointLocation", self.counts_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            self.stream.run_until_idle()
        finally:
            q.awaitTermination()

    def measure(self) -> None:
        # the first round starts once the first file of the feed is in the
        # topic: rounds of an idle loop would otherwise put a random phase
        # between the feed and the round cycle, and with four or five
        # loaded rounds in a run that phase moves every latency figure
        started = self.work / "feed_started"  # written by the load process
        stop = self.work / "stop"  # written by the load process
        while not (started.exists() or stop.exists()):
            time.sleep(0.005)
        while not stop.exists():
            self.run_round()
        # drain: the last files, then the retry hop to the DLQ
        for _ in range(W.LIVE_MAX_RETRIES + 1):
            self.run_round()
        self.server.stop()

    def result(self) -> dict:
        return {"broker": str(self.broker), "state": self.table.path,
                "calls": self.calls}


class CorpusApp(App):
    """corpus_dedupe: near-duplicate admission over micro-batches of
    ~1,000 documents, with index compaction during the run."""

    def setup(self, i: int) -> None:
        from pyspark.sql.types import StringType, StructField, StructType

        from python_stream_processing_framework_spark.operators import dedup_index
        from python_stream_processing_framework_spark.streaming import Stream

        if self.spans is not None and i == 0:
            for fn in ("minhash_index_admit", "compact_index"):
                setattr(dedup_index, fn, self.spans.wrap(f"operators.{fn}",
                                                         getattr(dedup_index, fn)))
        d = self.work / f"app{i}"
        self.broker = d / "broker"
        self.index = d / "index"
        self.rounds, self.emitted_files, self.chunks = [], 0, []
        schema = StructType([StructField("doc_id", StringType()),
                             StructField("text", StringType())])
        self.stream = Stream(self.spark, str(self.broker), name="docs",
                             max_files_per_trigger=W.DOC_FILES_PER_TRIGGER)
        self.traced(self.stream, "run_until_idle", "streaming.run_until_idle")
        self.traced(self.stream, "emit", "sources.emit")
        self.stream.dedupe_near(
            "docs", schema, target="docs-unique", index_path=str(self.index),
            threshold=0.8, compact_every=W.DOC_COMPACT_EVERY,
        )
        self.feed = W.CorpusFeed(self.cfg["seed"])
        for _ in range(W.DOC_WARMUP_FILES):
            self.emit("docs", strip(self.feed.next_file(), ("dup",)))
        self.run_round()

    def measure(self) -> None:
        for _ in range(self.cfg["rounds"]):
            for _ in range(W.DOC_FILES_PER_TRIGGER):
                self.emit("docs", strip(self.feed.next_file(), ("dup",)))
            self.run_round()
            self.chunks.append(W.DOC_FILES_PER_TRIGGER * W.DOCS_PER_FILE)

    def result(self) -> dict:
        return {"broker": str(self.broker), "files": self.emitted_files,
                "chunks": self.chunks, "index": str(self.index)}


LOCAL1_BUDGET_S = 40  # the local[1] drain took 25 s on a busy 4-core machine

APPS = {"events_live": LiveApp, "corpus_dedupe": CorpusApp}


def main() -> None:
    cfg = json.loads(Path(sys.argv[1]).read_text())
    work = Path(cfg["work"])
    sys.path.insert(0, cfg["root"])
    from python_stream_processing_framework_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        # get_spark's default heap limit (24g) exceeds what a small shared
        # machine has; the heap still grows as the JVM chooses up to this cap
        "spark.driver.memory": cfg["driver_memory"],
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.ui.enabled": "false",
    }
    if cfg["trace"]:
        (work / "eventlog").mkdir(exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", cpus=cfg["cpus"], extra_conf=conf)
    session_s = time.time() - cfg["spawned_at"]
    spans = listener = None
    if cfg["trace"]:
        spans = tracing.Spans()
        listener = tracing.make_listener()
        spark.streams.addListener(listener)
    app = APPS[cfg["workload"]](spark, cfg, spans)
    setups = []
    for i in range(cfg["setups"]):
        t0 = time.time()
        app.setup(i)
        setups.append(time.time() - t0)
    (work / "ready.json").write_text(json.dumps({"port": getattr(app, "port", 0)}))
    measure_start = time.time()
    app.measure()
    out = {"session_s": session_s, "setups_s": setups, "rounds": app.rounds,
           "measure_start": measure_start,
           **app.result()}
    if cfg["trace"]:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(listener)
        out["listener"] = {"started": listener.started, "progress": listener.progress}
        spans.dump(work / "spans.jsonl")
        out["spans"] = str(work / "spans.jsonl")
    spark.stop()
    # single-threaded baseline: a fresh local[1] context in this JVM, no
    # listener, no event log; one set-up, then a drain of two rounds (one of
    # them compacts, the same share as the measured drain). Skipped when it
    # could not finish inside the run's time limit.
    if cfg["local1"] and time.time() + LOCAL1_BUDGET_S < cfg["deadline"]:
        conf["spark.eventLog.enabled"] = "false"
        spark = get_spark("perfbench-local1", cpus=1, extra_conf=conf)
        base = APPS[cfg["workload"]](
            spark, {**cfg, "work": str(work / "local1"), "rounds": 2}, None)
        base.setup(0)
        base.measure()
        out["local1"] = {"rounds": base.rounds, "chunks": base.chunks}
        spark.stop()
    (work / "sut.json").write_text(json.dumps(out))


if __name__ == "__main__":
    main()
