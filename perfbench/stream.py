"""The two stream workloads: fqueue → enrichment with chaos → main/DLQ sink.

``enrich_open_5k`` (open loop, 5,000 messages/s): a separate generator
process publishes a 10,000-message segment every two seconds while the
pipeline consumes with the default trigger; the first ``OPEN_WARM_TICKS``
segments warm the trigger and only the window after them is measured.
Latency runs from each segment's due time to the end of the trigger that
committed it. Each segment is one read task, and a trigger costs about
0.4-1.0 s on a shared 4-core machine almost whatever its size, so the
pipeline idles more than half of each tick even when the machine runs
at half speed, and the latency is the fixed cost of one micro-batch. At
one-second ticks a slow spell pushes a trigger past the next tick and
latency then measures queueing; at one 5,000-message segment every
250 ms (the rate the reference's paced source suggests) the machine
saturates outright.

``enrich_backlog`` (closed loop): a 300,000-message backlog is published
before timing and drained repeatedly in 100,000-row batches, each drain
by a fresh query with its own checkpoint, consumer group and output
tables. The first drain only warms the JVM; the rest are measured, and
their figures are medians over batches and drains.

Setup (``setup_s``) is the session start plus the median of three
pipeline set-ups on a small warm queue. Progress comes from a
``StreamingQueryListener``: ``recentProgress`` keeps only the last 100
updates, which drops the early batches of a long window.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from labs_stream_processing_examples_scala_spark import get_spark
from labs_stream_processing_examples_scala_spark.plans.enrichment import enrichment_with_errors
from labs_stream_processing_examples_scala_spark.sources import queue_source as QS
from labs_stream_processing_examples_scala_spark.streaming.pipeline import StreamingEnrichmentPipeline
from labs_stream_processing_examples_scala_spark.streaming.sinks import idempotent_write

from perfbench import oracle, stats
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

OPEN_ROWS_PER_TICK = 10_000
OPEN_TICK_S = 2.0
# ticks before the window: the JVM is still compiling the trigger's hot
# paths after the set-up legs, and their batches would be slow outliers
OPEN_WARM_TICKS = 2
LAG_SAMPLE_S = 0.25
OPEN_ROWS_PER_BATCH = 100_000_000  # admit everything that is due
# three batches per drain: the weighted p50 of the pooled drains is then
# the median of the drains' second commits, not a max over drains
BACKLOG_ROWS = 300_000
BACKLOG_ROWS_PER_BATCH = 100_000
BACKLOG_SEGMENT_ROWS = 25_000  # one read task per segment: 4 per batch
ROWS_PER_PARTITION = 65_536
MIN_DRAINS = 2
SETUPS = 3
WARM_SEGMENTS = 1
# the order in which a trigger runs its legs, used to lay the
# durationMs legs out as spans inside the trigger
LEGS = (
    ("latestOffset", "queue_source.latest_offset"),
    ("walCommit", "pipeline.wal_commit"),
    ("getBatch", "queue_source.get_batch"),
    ("queryPlanning", "pipeline.query_planning"),
    ("addBatch", "pipeline.add_batch"),
    ("commitOffsets", "pipeline.commit_offsets"),
)


def _offset(raw) -> tuple[int, int] | None:
    # the first batch of a query reports its start offset as "None"
    if raw is None or raw == "None":
        return None
    o = json.loads(raw)
    return int(o["seg"]), int(o["row"])


class ProgressLog(StreamingQueryListener):
    """Every progress update of every query, kept in order of arrival."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        if p.numInputRows == 0:
            return
        src = p.sources[0]
        rec = {
            "run": str(p.runId),
            "batch_id": p.batchId,
            "ts": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "dur": dict(p.durationMs),
            "rows": p.numInputRows,
            "start": _offset(src.startOffset),
            "end": _offset(src.endOffset),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def of_run(self, run_id: str, end: tuple[int, int], timeout: float = 30.0) -> list[dict]:
        """The run's progress updates, once the one for the batch that
        ended at offset ``end`` has arrived (the bus delivers them late)."""
        deadline = time.time() + timeout
        while True:
            with self._lock:
                events = [e for e in self.events if e["run"] == run_id]
            if any(e["end"] >= end for e in events) or time.time() > deadline:
                return events
            time.sleep(0.02)


def batches_of(events: list[dict]) -> list[stats.Batch]:
    return [
        stats.Batch(e["batch_id"], e["start"], e["end"], e["ts"] + e["dur"]["triggerExecution"] / 1000.0)
        for e in events
    ]


@dataclass
class WriteLog:
    """``on_write`` wrapper around ``idempotent_write``: times every call."""

    calls: list[tuple[int, str, float, float]] = field(default_factory=list)

    def __call__(self, df, path, batch_id):
        t0 = time.time()
        try:
            idempotent_write(df, path, batch_id)
        finally:
            self.calls.append((batch_id, path, t0, time.time()))


@dataclass
class Leg:
    tag: str
    out: str
    dlq: str
    run_id: str
    started: float
    writes: WriteLog | None


def run_generator(cfg: dict, timeout: float) -> dict:
    """Run the generator process to completion and return its log."""
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "generator.py"), json.dumps(cfg)])
    try:
        rc = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"generator exited with {rc}")
    with open(cfg["log"], encoding="utf-8") as f:
        return json.load(f)


def _messages(spark, queue_dir: str, rows_per_batch: int, group: str):
    return (
        spark.readStream.format("fqueue")
        .option("path", queue_dir)
        .option("rows_per_batch", rows_per_batch)
        .option("rows_per_partition", ROWS_PER_PARTITION)
        .option("columns", "key,value")
        .option("group", group)
        .load()
        .select(F.col("key").cast("long").alias("id"), F.col("value"))
    )


def start_leg(spark, work: str, tag: str, queue_dir: str, rows_per_batch: int, traced: bool):
    """Start the pipeline on a queue with a fresh checkpoint and tables."""
    writes = WriteLog() if traced else None
    pipe = StreamingEnrichmentPipeline(
        output_path=f"{work}/{tag}/out",
        dlq_path=f"{work}/{tag}/dlq",
        checkpoint_path=f"{work}/{tag}/ckpt",
        chaos=True,
    )
    kwargs = {"on_write": writes} if traced else {}
    started = time.time()
    q = pipe.start(_messages(spark, queue_dir, rows_per_batch, group=tag), **kwargs)
    return q, Leg(tag, pipe.output_path, pipe.dlq_path, str(q.runId), started, writes)


def finish(q) -> int:
    """Drain what is available, stop; 1 if the query raised, else 0."""
    try:
        q.processAllAvailable()
    except Exception as exc:  # noqa: BLE001 — a raising query is a counted failure
        print(f"query raised: {exc}", file=sys.stderr)
    q.stop()
    return 1 if q.exception() is not None else 0


class Session:
    """The Spark session of a run, with the listener that logs progress."""

    def __init__(self):
        self.spark = None
        self.progress = ProgressLog()

    def start(self) -> None:
        self.spark = get_spark(app_name="perfbench")
        QS.register(self.spark)
        self.spark.streams.addListener(self.progress)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def set_up(sess: Session, work: str, seed: int) -> tuple[float, dict]:
    """Set-up seconds: starting the session, plus the median of ``SETUPS``
    pipeline set-ups (query start to the first batch committed and the
    query stopped, each on a fresh checkpoint). The session starts once
    per run, since a second start in one process skips the JVM launch.
    The first pipeline set-up also warms the JVM; the median leaves it out
    unless the later ones are as slow."""
    warm_q = f"{work}/warm_q"
    os.makedirs(warm_q)
    run_generator(
        {"queue": warm_q, "log": f"{work}/warm_gen.json", "seed": seed, "start_id": 0,
         "rows_per_segment": OPEN_ROWS_PER_TICK, "segments": WARM_SEGMENTS},
        timeout=60,
    )
    t0 = time.perf_counter()
    sess.start()
    session_s = time.perf_counter() - t0
    legs = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        q, _ = start_leg(sess.spark, work, f"warm{i}", warm_q, OPEN_ROWS_PER_BATCH, traced=False)
        if finish(q):
            raise RuntimeError("warm-up leg raised")
        legs.append(time.perf_counter() - t0)
    return session_s + statistics.median(legs), {"session_s": session_s, "pipeline_setups_s": legs}


def _start_id(seed: int) -> int:
    # a seed-chosen id range; a multiple of 10 keeps the DLQ share exact
    return 10 * (1 + (seed * 2_654_435_761) % 100_000_000)


def _p(values, q):
    return stats.weighted_percentile([(v, 1) for v in values], q)


@dataclass
class StreamResult:
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failures: dict[str, int]  # keyword arguments of stats.failed_frac
    context: dict
    info: dict[str, tuple[float, str]]


def _leg_layers(events: list[dict], legs: list[Leg]) -> dict[str, float]:
    """Per-layer figures from progress legs and the write log."""
    dur = [e["dur"] for e in events]
    out = {
        "pipeline.batches": len(events),
        "pipeline.rows_per_batch_p50": _p([e["rows"] for e in events], 50),
        "pipeline.trigger_ms_p50": _p([d["triggerExecution"] for d in dur], 50),
        "queue_source.latest_offset_ms_p50": _p([d.get("latestOffset", 0) for d in dur], 50),
        "queue_source.get_batch_ms_p50": _p([d.get("getBatch", 0) for d in dur], 50),
        "pipeline.query_planning_ms_p50": _p([d.get("queryPlanning", 0) for d in dur], 50),
        "pipeline.wal_commit_ms_p50": _p([d.get("walCommit", 0) for d in dur], 50),
        "pipeline.commit_offsets_ms_p50": _p([d.get("commitOffsets", 0) for d in dur], 50),
        "pipeline.add_batch_ms_p50": _p([d.get("addBatch", 0) for d in dur], 50),
    }
    main_ms, dlq_ms, split_ms = [], [], []
    calls = 0
    distinct = set()
    for leg in legs:
        per_batch: dict[int, dict[str, float]] = {}
        for batch_id, path, t0, t1 in leg.writes.calls:
            kind = "main" if path == leg.out else "dlq"
            per_batch.setdefault(batch_id, {}).setdefault(kind, 0.0)
            per_batch[batch_id][kind] += (t1 - t0) * 1000
            calls += 1
            distinct.add((leg.tag, batch_id, kind))
        # time only the measured batches (``events``), not the warm-up's
        adds = {e["batch_id"]: e["dur"].get("addBatch", 0) for e in events if e["run"] == leg.run_id}
        for batch_id, w in per_batch.items():
            if batch_id in adds:
                main_ms.append(w.get("main", 0.0))
                dlq_ms.append(w.get("dlq", 0.0))
                split_ms.append(adds[batch_id] - w.get("main", 0.0) - w.get("dlq", 0.0))
    out["sinks.main_write_ms_p50"] = _p(main_ms, 50)
    out["sinks.dlq_write_ms_p50"] = _p(dlq_ms, 50)
    out["sinks.split_overhead_ms_p50"] = _p(split_ms, 50)
    out["retry.write_attempts_per_write"] = calls / max(len(distinct), 1)
    return out


def _trace_batches(tracer: Tracer, root: int, events: list[dict], legs: list[Leg]) -> None:
    """Batch spans from progress, legs laid out in trigger order, and the
    sink writes as children of the batch's addBatch leg."""
    writes = {}
    for leg in legs:
        for batch_id, path, t0, t1 in leg.writes.calls:
            name = "sinks.write_main" if path == leg.out else "sinks.write_dlq"
            writes.setdefault((leg.run_id, batch_id), []).append((name, t0, t1))
    for e in events:
        end = e["ts"] + e["dur"]["triggerExecution"] / 1000.0
        bid = tracer.add("pipeline.batch", e["ts"], end, root)
        t = e["ts"]
        for key, name in LEGS:
            ms = e["dur"].get(key, 0)
            sid = tracer.add(name, t, t + ms / 1000.0, bid)
            if key == "addBatch":
                for wname, w0, w1 in writes.get((e["run"], e["batch_id"]), []):
                    tracer.add(wname, w0, w1, sid)
            t += ms / 1000.0


def _batch_reads(spark, tracer: Tracer, queue_dir: str) -> dict[str, float]:
    """Traced-only: a batch read of the queue to noop, then the same read
    through ``enrichment_with_errors(chaos=True)``; the enrichment's share
    is the difference."""
    msgs = (
        spark.read.format("fqueue").option("path", queue_dir)
        .option("columns", "key,value").load()
        .select(F.col("key").cast("long").alias("id"), F.col("value"))
    )
    ms = {}
    for name, df in (
        ("queue_source.batch_read", msgs),
        ("enrichment.batch_read_enrich", enrichment_with_errors(msgs, chaos=True)),
    ):
        with tracer.span(name):
            df.write.format("noop").mode("overwrite").save()
        ms[name] = (tracer.spans[-1]["end"] - tracer.spans[-1]["start"]) * 1000
    read_ms = ms["queue_source.batch_read"]
    return {"queue_source.batch_read_ms": read_ms, "enrichment.noop_ms": ms["enrichment.batch_read_enrich"] - read_ms}


def run_open(sess: Session, work: str, seed: int, seconds: int, tracer: Tracer | None) -> StreamResult:
    """``OPEN_WARM_TICKS`` segments to warm the trigger, then one segment
    per tick for ``seconds``. Only the window's batches count in the
    figures; every message is checked."""
    spark = sess.spark
    qdir = f"{work}/open_q"
    os.makedirs(qdir)
    start_id = _start_id(seed)
    ticks = OPEN_WARM_TICKS + int(seconds / OPEN_TICK_S)
    q, leg = start_leg(spark, work, "open", qdir, OPEN_ROWS_PER_BATCH, tracer is not None)
    start_at = time.time() + 1.0
    gen = run_generator(
        {"queue": qdir, "log": f"{work}/open_gen.json", "seed": seed, "start_id": start_id,
         "rows_per_segment": OPEN_ROWS_PER_TICK, "ticks": ticks, "tick_s": OPEN_TICK_S,
         "start_at": start_at, "group": leg.tag},
        timeout=ticks * OPEN_TICK_S + 60,
    )
    raised = finish(q)
    segs = [stats.Segment(s["seg"], s["rows"], s["due"]) for s in gen["segments"]]
    warm_end = (segs[OPEN_WARM_TICKS - 1].seg, segs[OPEN_WARM_TICKS - 1].rows)
    events = [
        e for e in sess.progress.of_run(leg.run_id, (segs[-1].seg, segs[-1].rows))
        if e["end"] > warm_end
    ]
    total = sum(s.rows for s in segs)
    window = gen["segments"][OPEN_WARM_TICKS:]
    return _stream_result(
        spark, [leg], events, start_id, total, raised, tracer, qdir,
        context={
            "generator_late_ms_max": max((s["start"] - s["due"]) * 1000 for s in gen["segments"]),
            "tail_drain_s": (max(b.committed for b in batches_of(events)) - segs[-1].due) if events else None,
        },
        lag=gen["lag_rows"][OPEN_WARM_TICKS:],
        publish_ms=[(s["end"] - s["start"]) * 1000 for s in window],
        per_leg_segments=[(leg, segs[OPEN_WARM_TICKS:])],
    )


def _sample_lag(queue_dir: str, group: str, stop: threading.Event, out: list) -> None:
    """Backlog rows not yet acknowledged by ``group``, every tick."""
    while not stop.wait(LAG_SAMPLE_S):
        off = QS.read_group_offset(queue_dir, group)
        acked = 0 if off is None else int(off["seg"]) * BACKLOG_SEGMENT_ROWS + int(off["row"])
        out.append(BACKLOG_ROWS - acked)


def publish_backlog(work: str, seed: int) -> dict:
    """Publish the backlog before any timing; returns the generator log."""
    qdir = f"{work}/backlog_q"
    os.makedirs(qdir)
    return run_generator(
        {"queue": qdir, "log": f"{work}/backlog_gen.json", "seed": seed, "start_id": _start_id(seed),
         "rows_per_segment": BACKLOG_SEGMENT_ROWS, "segments": BACKLOG_ROWS // BACKLOG_SEGMENT_ROWS},
        timeout=120,
    )


def run_backlog(sess: Session, work: str, seed: int, seconds: int, tracer: Tracer | None, gen: dict) -> StreamResult:
    """One warm-in drain, then measured drains while they fit in
    ``seconds`` (at least ``MIN_DRAINS``). Each drain is a fresh query, so
    its start-up is set-up work: a drain's clock starts at its first
    trigger, when the whole backlog is due. The rate is the median over
    the measured batches of rows per second from the previous commit (or
    the first trigger's start) to the batch's own commit."""
    spark = sess.spark
    qdir = f"{work}/backlog_q"
    last_seg = gen["segments"][-1]
    legs, events, per_leg_segments, rates, lag, checked = [], [], [], [], [], []
    raised = 0
    deadline = None
    drain_s = 0.0
    while deadline is None or len(legs) < MIN_DRAINS or time.time() + drain_s < deadline:
        t0 = time.time()
        warm = deadline is None
        tag = "drain_warm" if warm else f"drain{len(legs)}"
        stop = threading.Event()
        sampler = threading.Thread(target=_sample_lag, args=(qdir, tag, stop, [] if warm else lag))
        q, leg = start_leg(spark, work, tag, qdir, BACKLOG_ROWS_PER_BATCH, tracer is not None)
        sampler.start()
        try:
            failed = finish(q)
        finally:
            stop.set()
            sampler.join()
        if warm:
            checked.append((leg, failed))
            deadline = time.time() + seconds
            continue
        raised += failed
        ev = sorted(sess.progress.of_run(leg.run_id, (last_seg["seg"], last_seg["rows"])), key=lambda e: e["batch_id"])
        legs.append(leg)
        events.extend(ev)
        first = min((e["ts"] for e in ev), default=leg.started)
        prev = first
        for e, b in zip(ev, batches_of(ev)):
            rates.append(e["rows"] / (b.committed - prev))
            prev = b.committed
        per_leg_segments.append((leg, [stats.Segment(s["seg"], s["rows"], first) for s in gen["segments"]]))
        drain_s = time.time() - t0
    return _stream_result(
        spark, legs, events, _start_id(seed), BACKLOG_ROWS, raised, tracer, qdir,
        context={"drains": len(legs), "batch_rows_per_s": [round(r) for r in rates]},
        lag=lag,
        publish_ms=[(s["end"] - s["start"]) * 1000 for s in gen["segments"]],
        per_leg_segments=per_leg_segments,
        rate=statistics.median(rates),
        checked=checked,
    )


def _stream_result(spark, legs, events, start_id, total, raised, tracer, qdir,
                   context, lag, publish_ms, per_leg_segments, rate=None, checked=()):
    """Check every leg's output, then the metrics of the measured ``legs``.
    ``checked`` holds (leg, raised) of unmeasured legs, checked too."""
    pieces = []
    for leg, lsegs in per_leg_segments:
        pieces += stats.join_latency(lsegs, batches_of([e for e in events if e["run"] == leg.run_id]))
    failures = {"lost": 0, "duplicated": 0, "wrong": 0, "raised": raised + sum(r for _, r in checked)}
    rows_main, rows_dlq = 0, 0
    measured = {leg.tag for leg in legs}
    with oracle.DeliveryOracle(start_id, total) as expected:
        for leg in list(legs) + [leg for leg, _ in checked]:
            v = expected.check(leg.out, leg.dlq)
            failures["lost"] += v.lost
            failures["duplicated"] += v.duplicated
            failures["wrong"] += v.wrong
            if leg.tag in measured:
                rows_main += v.rows_main
                rows_dlq += v.rows_dlq
            if v.lost or v.duplicated or v.wrong:
                print(f"delivery check failed for {leg.tag}: {v}", file=sys.stderr)
    attempted = total * (len(legs) + len(checked))
    samples = [(lat, rows) for lat, rows, _ in pieces]
    if rate is None:  # open loop: delivered rows over first due to last commit
        first_due = min(seg.due for _, lsegs in per_leg_segments for seg in lsegs)
        last = max((b.committed for b in batches_of(events)), default=time.time())
        rate = sum(r for _, r in samples) / (last - first_due)
    e2e = {
        "ack_latency_p50_s": stats.weighted_percentile(samples, 50),
        "drain_rows_per_s": rate,
    }
    p90 = stats.weighted_percentile(samples, 90)
    context.update({
        "batches_beyond_p90": stats.batches_beyond(pieces, p90),
        "supported_percentile": stats.supported_percentile(pieces),
        "batches": len(events),
    })
    layers = {}
    if tracer is not None:
        root = tracer.add("workload.measure", min(l.started for l in legs), time.time())
        _trace_batches(tracer, root, events, legs)
        layers = _leg_layers(events, legs)
        layers.update({
            "queue_source.publish_ms_p50": _p(publish_ms, 50),
            "queue_source.consumer_lag_rows_p90": _p(lag, 90) if lag else 0,
            "sinks.rows_main": rows_main,
            "sinks.rows_dlq": rows_dlq,
        })
        layers.update(_batch_reads(spark, tracer, qdir))
    # too few batches lie beyond the p90 for a gate: printed, never compared
    info = {"ack_latency_p90_s": (p90, "s")}
    return StreamResult(e2e, layers, attempted, failures, context, info)


def run(workload: str, work: str, seed: int, seconds: int, tracer: Tracer | None) -> StreamResult:
    sess = Session()
    try:
        gen = publish_backlog(work, seed) if workload == "enrich_backlog" else None
        setup_s, setups = set_up(sess, work, seed)
        if gen is None:
            res = run_open(sess, work, seed, seconds, tracer)
        else:
            res = run_backlog(sess, work, seed, seconds, tracer, gen)
    finally:
        sess.stop()
    res.e2e["setup_s"] = setup_s
    res.context.update(setups)
    return res
