"""Tests of the benchmark's own code: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import glob
import os
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import oracle, stats  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402


def _pieces(latencies_per_batch):
    """One 100-row piece per batch, with the given latencies."""
    return [(lat, 100, bid) for bid, lat in enumerate(latencies_per_batch)]


def test_percentile_needs_ten_batches_beyond():
    # 40 equal batches: p75 leaves exactly 10 batches beyond, p90 only 4
    pieces = _pieces([float(i) for i in range(40)])
    samples = [(lat, rows) for lat, rows, _ in pieces]
    assert stats.batches_beyond(pieces, stats.weighted_percentile(samples, 75)) == 10
    assert stats.batches_beyond(pieces, stats.weighted_percentile(samples, 90)) == 4
    assert stats.supported_percentile(pieces) == 75
    # 100 batches support p90 but not p95
    assert stats.supported_percentile(_pieces([float(i) for i in range(100)])) == 90


def test_percentile_counts_batches_not_messages():
    # one huge slow batch is one sample, however many messages it holds
    pieces = [(1.0, 100, b) for b in range(30)] + [(9.0, 10_000, 99)]
    assert stats.weighted_percentile([(l, r) for l, r, _ in pieces], 90) == 9.0
    assert stats.supported_percentile(pieces) == 50


def test_weighted_percentile_nearest_rank():
    assert stats.weighted_percentile([(3.0, 1), (1.0, 1), (2.0, 2)], 50) == 2.0
    assert stats.weighted_percentile([(1.0, 9), (5.0, 1)], 90) == 1.0
    assert stats.weighted_percentile([(1.0, 9), (5.0, 1)], 91) == 5.0
    with pytest.raises(ValueError):
        stats.weighted_percentile([], 50)


def test_latency_join_due_time_to_commit():
    segs = [stats.Segment(0, 10, due=100.0), stats.Segment(1, 10, due=100.25), stats.Segment(2, 10, due=100.5)]
    batches = [
        # first batch of a query has no start offset; it takes seg 0 and half of seg 1
        stats.Batch(0, None, (1, 5), committed=101.0),
        stats.Batch(1, (1, 5), (2, 10), committed=102.0),
    ]
    got = sorted(stats.join_latency(segs, batches))
    assert got == sorted([(1.0, 10, 0), (0.75, 5, 0), (1.75, 5, 1), (1.5, 10, 1)])
    assert sum(rows for _, rows, _ in got) == 30


def test_latency_join_leaves_unconsumed_rows_out():
    segs = [stats.Segment(4, 10, due=0.0), stats.Segment(5, 10, due=1.0)]
    got = stats.join_latency(segs, [stats.Batch(0, None, (4, 10), committed=2.0)])
    assert got == [(2.0, 10, 0)]


def test_failed_frac_arithmetic():
    assert stats.failed_frac(1000, 0, 0, 0, 0) == 0.0
    assert stats.failed_frac(1000, lost=1, duplicated=2, wrong=3, raised=4) == 0.01
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0, 0, 0)


def test_self_time_subtracts_children():
    t = Tracer("r")
    root = t.add("pipeline.batch", 0.0, 10.0)
    t.add("pipeline.add_batch", 1.0, 6.0, root)
    child = t.add("sinks.write_main", 2.0, 4.0, 2)
    assert child == 3
    st = self_times(t.spans)
    assert st == {"pipeline.batch": 5.0, "pipeline.add_batch": 3.0, "sinks.write_main": 2.0}


@pytest.fixture(scope="module")
def real_output(tmp_path_factory):
    """Main and DLQ tables written by the real pipeline for 5,000 messages."""
    from pyspark.sql import functions as F

    from labs_stream_processing_examples_scala_spark import get_spark
    from labs_stream_processing_examples_scala_spark.sources import queue_source as QS
    from labs_stream_processing_examples_scala_spark.streaming.pipeline import StreamingEnrichmentPipeline

    work = tmp_path_factory.mktemp("out")
    qdir = str(work / "q")
    os.makedirs(qdir)
    start_id = 1000
    QS.publish(qdir, ((str(i), f"Input Data: {i}") for i in range(start_id, start_id + 5000)))
    spark = get_spark(app_name="perfbench-test", master="local[2]", extra_conf={"spark.driver.memory": "2g"})
    QS.register(spark)
    msgs = (
        spark.readStream.format("fqueue").option("path", qdir).option("rows_per_batch", 100_000)
        .option("columns", "key,value").load()
        .select(F.col("key").cast("long").alias("id"), F.col("value"))
    )
    pipe = StreamingEnrichmentPipeline(str(work / "out"), str(work / "dlq"), str(work / "ckpt"), chaos=True)
    pipe.run_bounded(msgs)
    return work, start_id


def test_oracle_char_sort_forms_agree():
    # the digit-counting char sort the oracle uses is the p4 split-and-sort
    import duckdb

    con = duckdb.connect()
    ids = "SELECT range AS id FROM range(0, 200000) UNION ALL SELECT range * 7919 + 10 FROM range(0, 200000)"
    (n, differ) = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE {oracle.CSORT_COUNT} <> {oracle.CSORT_SPLIT}) FROM ({ids})"
    ).fetchone()
    con.close()
    assert (n, differ) == (400000, 0)


def _rewrite(table_dir: str, fn) -> None:
    """Apply ``fn`` to the first parquet file of the first batch partition."""
    path = sorted(glob.glob(os.path.join(table_dir, "_batch_id=0", "*.parquet")))[0]
    t = pq.read_table(path)
    pq.write_table(fn(t), path)


def test_oracle_accepts_real_output(real_output):
    work, start_id = real_output
    v = oracle.check_delivery(str(work / "out"), str(work / "dlq"), start_id, 5000)
    assert (v.rows_main, v.rows_dlq, v.lost, v.duplicated, v.wrong) == (4000, 1000, 0, 0, 0)


def test_oracle_rejects_drop_duplicate_and_misroute(real_output, tmp_path):
    work, start_id = real_output
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    shutil.copytree(work / "out", out)
    shutil.copytree(work / "dlq", dlq)
    moved = {}

    def drop_dup_move(t: pa.Table) -> pa.Table:
        rows = t.to_pylist()
        rows = rows[1:]  # drop one message
        rows.append(dict(rows[0]))  # duplicate another
        moved.update(rows.pop(1))  # take a third out, to go to the DLQ
        return pa.Table.from_pylist(rows, schema=t.schema)

    _rewrite(out, drop_dup_move)

    def add_misrouted(t: pa.Table) -> pa.Table:
        row = {c: None for c in t.schema.names}
        row.update({"id": moved["id"], "value": moved["value"], "err_cls": "Exception",
                    "err_msg": f"chaos failure for id {moved['id']}", "err_origin": "enrich1"})
        return pa.concat_tables([t, pa.Table.from_pylist([row], schema=t.schema)])

    _rewrite(dlq, add_misrouted)
    v = oracle.check_delivery(out, dlq, start_id, 5000)
    assert (v.lost, v.duplicated, v.wrong) == (1, 1, 1)
    assert stats.failed_frac(v.attempted, v.lost, v.duplicated, v.wrong, 0) == 3 / 5000
