"""Errors-as-data algebra — SURVEY §2.8 (E1–E3), §2.4 (F1–F2), §2.7 (R7).

The reference reifies failures into values (``Result[T] =
Either[Throwable, T]``, ErrorHandlingRxEnrichmentPipeline.scala:23) so a
bad record can never kill the stream (the Rx pipeline that didn't do this
is documented as broken — README.md:53). The Spark-native form is an
``err`` struct column: null on success, ``(cls, msg, origin)`` on failure.
Catalyst's lazy ``when`` evaluation gives the short-circuit ("downstream
steps skip failed records", E3) for free, and the main/DLQ split (F2) is
two filters off one cached micro-batch, whose two writes the sink runs
concurrently.

Chaos (R7): the reference injects random failures (20% fail, 50% of those
temporary — Services.scala:16-23,100-121). For oracle-checkable tests the
engine uses the seeded arithmetic predicate from FIXTURES.md P-Q4:
fail iff ``id % 5 == 0``; temporary iff ``id % 10 == 0`` — same rates,
fully deterministic, computable by both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# F1 — temporary-failure classification (FuturesProcessor.scala:76:
# IOException | TimeoutException ⇒ retry; else dead-letter).
TEMPORARY_ERROR_CLASSES = ("IOException", "TimeoutException")

ERR_SCHEMA = "struct<cls:string,msg:string,origin:string>"


def err_struct(cls: Column, msg: Column, origin: str) -> Column:
    return F.struct(cls.alias("cls"), msg.alias("msg"), F.lit(origin).alias("origin"))


def chaos_err(
    id_col: Column | str, origin: str = "enrich", step: int | None = None
) -> Column:
    """R7 deterministic chaos: null for ok rows, an err struct otherwise.

    ``id % 5 == 0`` fails (20%, Services.scala:20); of those,
    ``id % 10 == 0`` is temporary (50%, Services.scala:23) and surfaces as
    ``IOException`` (Services.scala:107-111), the rest permanent
    (``Exception``).

    ``step`` (1-based) makes a MULTI-STEP pipeline's failures
    per-step: with f = ⌊id/5⌋ % 3, step i fails iff f < i — so f=0
    rows fail all three steps (first-error-wins → enrich1), f=1 rows
    fail steps 2-3 (→ enrich2), f=2 rows fail step 3 only (→ enrich3).
    The UNION of failing rows stays exactly ``id % 5 == 0`` (every
    downstream count/oracle unchanged), every origin is reachable, and
    the E2 precedence still has multi-failure rows to act on. Without
    ``step``, the predicate made all three origins fire on the same
    rows and the merged origin could only ever be the first (round-12
    self-review)."""
    id_c = F.col(id_col) if isinstance(id_col, str) else id_col
    fails = id_c % 5 == 0
    if step is not None:
        fails = fails & (F.pmod(F.floor(id_c / F.lit(5)), F.lit(3)) < step)
    return F.when(
        fails,
        err_struct(
            F.when(id_c % 10 == 0, F.lit("IOException")).otherwise(F.lit("Exception")),
            F.concat(F.lit("chaos failure for id "), id_c.cast("string")),
            origin,
        ),
    ).otherwise(F.lit(None).cast(ERR_SCHEMA))


def merge_errors(*errs: Column) -> Column:
    """E2 ``merge`` — first error wins (ErrorHandlingRx….scala:31-36):
    coalesce order is the reference's left-to-right precedence."""
    return F.coalesce(*errs)


def guard(err: Column, expr: Column) -> Column:
    """E3 ``fold`` — evaluate ``expr`` only for non-failed rows; failed
    rows carry null downstream (ErrorHandlingRx….scala:50-52)."""
    return F.when(err.isNull(), expr)


def is_temporary(err: Column) -> Column:
    """F1 — routes retry vs dead-letter (FuturesProcessor.scala:76)."""
    return err.isNotNull() & err["cls"].isin(*TEMPORARY_ERROR_CLASSES)


def parse_json_strict(col: Column | str, schema: str) -> Column:
    """F3 — malformed-input guard (the reference drops-and-logs
    unrecognized messages, AkkaPipelineActors.scala:55,79-81; the engine
    enforces schema at the source instead, SURVEY §2.4).

    Returns ``struct<...schema fields, _corrupt_record string>``:
    fields null + _corrupt_record populated for rows that don't parse —
    feed `_corrupt_record IS NOT NULL` into the F2 split to dead-letter
    them. PERMISSIVE from_json alone can't distinguish malformed input
    from valid-but-null fields.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(
        c,
        f"{schema}, _corrupt_record string",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )


def split_ok_err(df: DataFrame, err: str = "err") -> tuple[DataFrame, DataFrame]:
    """F2 — success/failure stream split (ErrorHandlingRx….scala:50-65):
    one plan, two filters; main rows drop the err column, DLQ rows keep it
    flattened for the dead-letter table (K3, Services.scala:93-95)."""
    ok = df.filter(F.col(err).isNull()).drop(err)
    bad = df.filter(F.col(err).isNotNull())
    return ok, bad
