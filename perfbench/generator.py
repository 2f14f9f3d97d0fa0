"""Load generator: the only producer of the messages the pipeline sees.

Runs as its own process so that its schedule never waits on the system
under test. Each message is ``(id, "Input Data: {id}")``; ids are the
contiguous range ``start_id .. start_id + total - 1``, shuffled within
each segment by the seed.

Usage: python3 perfbench/generator.py '<json config>'

Config keys: ``queue`` (queue directory), ``log`` (where the JSON log is
written), ``seed``, ``start_id``, ``rows_per_segment``, and either
``segments`` (backlog: publish them as fast as possible) or ``ticks``
plus ``tick_s`` and ``start_at`` and ``group`` (open loop: segment k is due at
``start_at + k * tick_s`` wall-clock seconds). In open-loop mode the
generator also samples consumer lag after every publish: published rows
minus the rows the consumer group has acknowledged.
"""

from __future__ import annotations

import json
import random
import sys
import time

from labs_stream_processing_examples_scala_spark.sources import queue_source as QS


def segment_ids(rng: random.Random, start_id: int, k: int, rows: int) -> list[int]:
    ids = list(range(start_id + k * rows, start_id + (k + 1) * rows))
    rng.shuffle(ids)
    return ids


def acked_rows(queue_dir: str, group: str, seg_rows: dict[int, int]) -> int:
    """Rows at or before the consumer group's ACK offset."""
    off = QS.read_group_offset(queue_dir, group)
    if off is None:
        return 0
    s, r = int(off["seg"]), int(off["row"])
    return sum(n for seg, n in seg_rows.items() if seg < s) + r


def main(cfg: dict) -> None:
    rng = random.Random(cfg["seed"])
    rows = cfg["rows_per_segment"]
    open_loop = "ticks" in cfg
    n_segments = cfg["ticks"] if open_loop else cfg["segments"]
    log = {"segments": [], "lag_rows": []}
    seg_rows: dict[int, int] = {}
    for k in range(n_segments):
        due = cfg["start_at"] + k * cfg["tick_s"] if open_loop else time.time()
        if open_loop:
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
        ids = segment_ids(rng, cfg["start_id"], k, rows)
        t0 = time.time()
        seg = QS.publish(cfg["queue"], ((str(i), f"Input Data: {i}") for i in ids))
        t1 = time.time()
        seg_rows[seg] = rows
        log["segments"].append({"seg": seg, "rows": rows, "due": due, "start": t0, "end": t1})
        if open_loop:
            log["lag_rows"].append((k + 1) * rows - acked_rows(cfg["queue"], cfg["group"], seg_rows))
    with open(cfg["log"], "w", encoding="utf-8") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
