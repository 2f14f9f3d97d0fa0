"""Sinks — SURVEY §2.6 (K1-K5).

K1 (`Output.save`, Services.scala:83-88): the engine's main sink is
``foreachBatch`` with an **idempotent** write — each micro-batch lands in
its own ``_batch_id=<epoch>`` partition with overwrite mode, so a
replayed batch (at-least-once, README.md:14) overwrites instead of
duplicating. Batch success → offsets commit → ack (S3/K5); crash before
commit → replay (nack).

K2 (connection lifecycle): ForeachWriter's open/process/close is the
exact per-partition analogue of the OutputWriter actor's
preStart/postStop (AkkaEnrichmentPipeline.scala:204-212); represented
here by :class:`RecordSink`'s contract and exercised in tests.

K3 (dead-letter): failed rows (F2 split) go to a second parquet sink,
and — matching "DLQ'd and then ACKed", ErrorHandlingRx….scala:60-63 —
the DLQ write happens inside the SAME foreachBatch, so the batch commits
(acks) only after both main and DLQ writes succeed. The two writes run
concurrently, as two Spark jobs over one persisted batch: the source is
read once (the jobs share the cached blocks), and a core one job leaves
idle runs the other's tasks.

K4 (null sink): ``format("noop")`` (also bench.py's materializer).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.functions.errors import split_ok_err
from labs_stream_processing_examples_scala_spark.streaming.retry import with_retry


def idempotent_write(df: DataFrame, path: str, batch_id: int) -> None:
    """Write one micro-batch to ``path/_batch_id=<id>/`` with overwrite:
    replays of the same epoch are no-ops in content (exactly-once-ish
    output from at-least-once processing)."""
    df.write.mode("overwrite").parquet(os.path.join(path, f"_batch_id={batch_id}"))


def read_batched_output(spark, path: str) -> DataFrame:
    """Read everything the idempotent sink produced (all epochs)."""
    return spark.read.option("basePath", path).parquet(path + "/_batch_id=*").drop("_batch_id")


def main_and_dlq_sink(
    output_path: str,
    dlq_path: str,
    err_col: str = "err",
    retry_times: int = 3,
    on_write: Callable[[DataFrame, str, int], None] = idempotent_write,
) -> Callable[[DataFrame, int], None]:
    """The reliable-delivery sink: F2 split inside foreachBatch.

    Per micro-batch: ok rows → main table, err rows (flattened) → DLQ,
    both idempotent, both wrapped in R3 retry for transient write
    failures. The two retried writes run at the same time on two
    threads that inherit the batch's local properties (job group, tags),
    so cancelling the query cancels both jobs; ``on_write`` may
    therefore be called concurrently for one batch's two paths. The
    sink waits for both writes even when one fails, then re-raises the
    main write's error first, else the DLQ write's. Offsets commit only
    after this function returns — the ack-after-processing guarantee
    (README.md:13). A permanent write error raises and stops the query
    rather than dropping data.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df = df.persist()
        try:
            ok, bad = split_ok_err(df, err_col)
            # flatten the err fields INCLUDING origin when the struct
            # carries it: origin records WHICH enrichment step failed —
            # the datum merge_errors' first-error-wins precedence
            # exists to produce; dropping it made the persisted DLQ
            # untriageable by stage (round-12 self-review). Callers may
            # classify with a minimal (cls, msg) struct — the fqueue
            # malformed-guard does — so origin stays optional.
            dlq = bad.withColumn("err_cls", F.col(f"{err_col}.cls")).withColumn(
                "err_msg", F.col(f"{err_col}.msg")
            )
            err_fields = {f.name for f in bad.schema[err_col].dataType.fields}
            if "origin" in err_fields:
                dlq = dlq.withColumn("err_origin", F.col(f"{err_col}.origin"))
            dlq = dlq.drop(err_col)

            def retried_write(out: DataFrame, path: str) -> None:
                with_retry(lambda: on_write(out, path, batch_id), times=retry_times)

            # wrapped before either write starts: the wrapper captures
            # this thread's local properties (job group) and tags then
            write = inheritable_thread_target(df.sparkSession)(retried_write)
            # leaving the block waits for both writes, failed or not
            with ThreadPoolExecutor(max_workers=2) as pool:
                done = [pool.submit(write, ok, output_path), pool.submit(write, dlq, dlq_path)]
            for d in done:
                d.result()
        finally:
            df.unpersist()

    return write_batch


class RecordSink:
    """K2 — per-record sink with connection lifecycle, pluggable into
    ``writeStream.foreach(...)``. open/close mirror the OutputWriter
    actor's preStart/postStop (AkkaEnrichmentPipeline.scala:204-212).

    This is the slow path (row-at-a-time, like the reference); the
    engine's default is :func:`main_and_dlq_sink`. Subclass and override
    :meth:`save`.
    """

    def __init__(self):
        self.connected = False

    def open(self, partition_id: int, epoch_id: int) -> bool:  # noqa: ARG002
        self.connected = True
        return True

    def save(self, row) -> None:  # pragma: no cover - override point
        raise NotImplementedError

    def process(self, row) -> None:
        if not self.connected:
            raise RuntimeError("process() before open()")
        self.save(row)

    def close(self, error) -> None:  # noqa: ARG002
        self.connected = False
