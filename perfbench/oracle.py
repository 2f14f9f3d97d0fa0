"""Delivery oracle for the stream workloads, recomputed in DuckDB.

For the published id range ``[start_id, start_id + total)`` the pipeline
with ``chaos=True`` must deliver every message exactly once: ids with
``id % 5 == 0`` to the dead-letter queue with the error class, message and
origin ``functions/errors.py chaos_err`` assigns, every other id to the
main table with the three enrichments and the transform. The expected
main rows are the ``p4_errors_main`` oracle SQL applied to the generated
ids instead of the events table. The expected tables depend only on the
id range, so a run builds them once and compares every leg with them.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import duckdb

_V = "('Input Data: ' || CAST(id AS VARCHAR))"
#: the characters of the value, sorted: the p4 oracle's own form
CSORT_SPLIT = f"array_to_string(list_sort(string_split({_V}, '')), '')"
# The same string without splitting: digits sort between ' ' and ':', so
# the sorted value is the prefix's two spaces, the id's digits counted
# out in order, then the rest of the prefix. Splitting costs seconds per
# million rows; tests check that both forms agree.
_ID = "CAST(id AS VARCHAR)"
CSORT_COUNT = (
    "'  ' || "
    + " || ".join(f"repeat('{d}', length({_ID}) - length(replace({_ID}, '{d}', '')))" for d in range(10))
    + " || ':DIaanpttu'"
)

_EXPECTED_MAIN = f"""
    SELECT id, {_V} AS value, reverse({_V}) AS extra1, upper({_V}) AS extra2,
           {CSORT_COUNT} AS extra3_name, 'transformed ' || CAST(id AS VARCHAR) AS additional
    FROM ids WHERE id % 5 <> 0
"""

# chaos_err with step i fails iff floor(id / 5) % 3 < i; first error wins
_EXPECTED_DLQ = f"""
    SELECT id, {_V} AS value,
           CASE WHEN id % 10 = 0 THEN 'IOException' ELSE 'Exception' END AS err_cls,
           'chaos failure for id ' || CAST(id AS VARCHAR) AS err_msg,
           'enrich' || CAST(CAST(floor(id / 5) AS BIGINT) % 3 + 1 AS VARCHAR) AS err_origin
    FROM ids WHERE id % 5 = 0
"""


@dataclass(frozen=True)
class Verdict:
    attempted: int  # messages published
    rows_main: int
    rows_dlq: int
    lost: int  # published ids in neither table
    duplicated: int  # extra copies of delivered ids
    wrong: int  # misrouted, foreign, or with values that differ from the oracle


def _table(path: str) -> str | None:
    files = glob.glob(os.path.join(path, "_batch_id=*", "*.parquet"))
    return f"read_parquet({files!r})" if files else None


class DeliveryOracle:
    """The expected main and DLQ tables of the id range
    ``[start_id, start_id + total)``, built once in DuckDB."""

    def __init__(self, start_id: int, total: int):
        self.total = total
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW ids AS SELECT range AS id FROM range({start_id}, {start_id + total})")
        self.con.execute(f"CREATE TABLE exp_main AS {_EXPECTED_MAIN}")
        self.con.execute(f"CREATE TABLE exp_dlq AS {_EXPECTED_DLQ}")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.con.close()

    def check(self, out_path: str, dlq_path: str) -> Verdict:
        """Compare the main and DLQ tables a run wrote with the oracle."""
        con = self.con
        for name, path, cols in (
            ("main", out_path, "id, value, extra1, extra2, extra3_name, additional"),
            ("dlq", dlq_path, "id, value, err_cls, err_msg, err_origin"),
        ):
            src = _table(path)
            if src is None:  # nothing written: an empty table of the right shape
                src = f"(SELECT * FROM exp_{name} WHERE false)"
            con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT {cols} FROM {src}")
        con.execute("CREATE OR REPLACE TEMP VIEW got AS SELECT id FROM main UNION ALL SELECT id FROM dlq")
        (rows_main,) = con.execute("SELECT count(*) FROM main").fetchone()
        (rows_dlq,) = con.execute("SELECT count(*) FROM dlq").fetchone()
        (distinct,) = con.execute("SELECT count(DISTINCT id) FROM got").fetchone()
        (lost,) = con.execute("SELECT count(*) FROM ids ANTI JOIN got USING (id)").fetchone()
        # rows whose content the oracle does not produce: misrouted ids
        # land here too, since the expected table for their side lacks them
        (bad_main,) = con.execute("SELECT count(*) FROM (SELECT DISTINCT * FROM main EXCEPT SELECT * FROM exp_main)").fetchone()
        (bad_dlq,) = con.execute("SELECT count(*) FROM (SELECT DISTINCT * FROM dlq EXCEPT SELECT * FROM exp_dlq)").fetchone()
        # a misrouted message is delivered (not lost) but wrong, and so is a
        # foreign id: neither side's expected table holds it
        return Verdict(
            attempted=self.total,
            rows_main=rows_main,
            rows_dlq=rows_dlq,
            lost=lost,
            duplicated=rows_main + rows_dlq - distinct,
            wrong=bad_main + bad_dlq,
        )


def check_delivery(out_path: str, dlq_path: str, start_id: int, total: int) -> Verdict:
    """Compare one leg's main and DLQ tables with the oracle."""
    with DeliveryOracle(start_id, total) as o:
        return o.check(out_path, dlq_path)
