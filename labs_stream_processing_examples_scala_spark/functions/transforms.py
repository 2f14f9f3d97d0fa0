"""Scalar transform library — SURVEY §2.2 (P1–P6).

The reference's entire scalar-function surface is four string transforms
plus payload synthesis, each run record-at-a-time as a ``Future`` with a
fake-latency harness (reference Services.scala:40-65,116-121). Here each
is a pure Catalyst column expression — JVM-side, whole-stage-codegen'd,
vectorized over a whole micro-batch / partition at once, which is the
Spark-native answer to the reference's per-record parallelism
(SimpleRxEnrichmentPipeline.scala:22-24): independent expressions in one
projection evaluate in one pass with zero shuffles.

Parity notes:
- P3 char-sort (Services.scala:56-59, Scala ``value.sorted``): Spark 4's
  ``split(v, '')`` yields exactly one element per character (no trailing
  empty, never a NULL element), and ``sort_array`` orders strings by
  UTF-8 binary order, i.e. by code point — matches Scala ``sorted`` on
  the ASCII fixture payloads. Verified equal to DuckDB
  ``list_sort(string_split(v, ''))``. ``sort_array``, not ``array_sort``:
  Spark plans ``array_sort`` with a lambda comparator, which has no
  generated code and would force the whole enclosing projection into
  interpreted evaluation; ``sort_array`` keeps it in whole-stage codegen.
  The two differ only in where NULL elements go, and ``split`` yields
  none.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def synth_payload(id_col: Column | str) -> Column:
    """P5 — tick → ``"Input Data: $tick"`` (MessageProcessor.scala:22)."""
    return F.concat(F.lit("Input Data: "), _col(id_col).cast("string"))


def reverse_value(value: Column | str) -> Column:
    """P1 ``Reverser`` — reverse the string (Services.scala:47-49)."""
    return F.reverse(_col(value))


def upper_value(value: Column | str) -> Column:
    """P2 ``UpperCaser`` — uppercase (Services.scala:51-53)."""
    return F.upper(_col(value))


def char_sort(value: Column | str) -> Column:
    """P3 ``Sorter`` — sort the characters by code point
    (Services.scala:56-59; Scala ``value.sorted``). The reference wraps
    the result in ``Widget(name)``; the engine keeps the flat string and
    offers :func:`as_widget` for struct parity.
    """
    return F.concat_ws("", F.sort_array(F.split(_col(value), "")))


def as_widget(sorted_value: Column | str) -> Column:
    """Struct-parity projection of P3's result (Widget, Services.scala:29)."""
    return F.struct(_col(sorted_value).alias("name"))


def transform_additional(id_col: Column | str) -> Column:
    """P4 ``DataTransformer`` — ``additional = "transformed $id"``
    (Services.scala:62-65)."""
    return F.concat(F.lit("transformed "), _col(id_col).cast("string"))


def transform_additional_py(msg_id) -> str:
    """The Python-side twin of :func:`transform_additional` for
    pandas-batch stateful operators — ONE definition of the P4 format
    (round-12 self-review: the two J3 gather implementations each
    hardcoded the f-string)."""
    return f"transformed {msg_id}"


def enrich(id_col: Column | str = "id", value: Column | str = "value") -> list[Column]:
    """J1/J4 select-form fan-in: the three parallel enrichments plus the
    transform, as one flat projection (SURVEY §2.3). The reference's
    ``EnrichedData``/``OutputData`` nesting (Services.scala:32-35) is
    flattened — the Spark-native shape; use :func:`as_output_struct`
    for nested parity.
    """
    id_c, v = _col(id_col), _col(value)
    return [
        id_c.alias("id"),
        v.alias("value"),
        reverse_value(v).alias("extra1"),
        upper_value(v).alias("extra2"),
        char_sort(v).alias("extra3_name"),
        transform_additional(id_c).alias("additional"),
    ]


def as_output_struct() -> Column:
    """Nested-parity projection: rebuild ``OutputData(data=EnrichedData(
    input=Data(id,value), extra1, extra2, extra3=Widget(name)), additional)``
    (Services.scala:26-35) from the flat columns of :func:`enrich`."""
    return F.struct(
        F.struct(
            F.struct(F.col("id"), F.col("value")).alias("input"),
            F.col("extra1"),
            F.col("extra2"),
            F.struct(F.col("extra3_name").alias("name")).alias("extra3"),
        ).alias("data"),
        F.col("additional"),
    )


# P6 — the reference's Transformer trait (Services.scala:40-45) is the UDF
# extension point. The engine equivalent is a registry of named
# Column-expression builders; users add pure functions (preferred) or
# pandas_udf-backed ones (slow path).
TRANSFORMS: dict[str, Callable[[Column | str], Column]] = {
    "reverse": reverse_value,
    "upper": upper_value,
    "char_sort": char_sort,
    "additional": transform_additional,
}


def register_transform(name: str, fn: Callable[[Column | str], Column]) -> None:
    TRANSFORMS[name] = fn
