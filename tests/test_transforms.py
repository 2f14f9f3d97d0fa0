"""P1-P5 scalar transforms + E1-E3 errors-as-data (SURVEY §2.2, §2.8).

Parity target: the pure semantics of reference Services.scala:47-65
(reverse / toUpperCase / sorted / "transformed $id") and the Either
algebra of ErrorHandlingRxEnrichmentPipeline.scala:23-36.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from labs_stream_processing_examples_scala_spark.functions import errors as E
from labs_stream_processing_examples_scala_spark.functions import transforms as X
from labs_stream_processing_examples_scala_spark.plans import enrichment as P


def _one(spark, value: str, col):
    df = spark.createDataFrame([(value,)], ["v"])
    return df.select(col.alias("r")).head()[0]


def test_reverse_upper_charsort_additional(spark):
    df = spark.createDataFrame([(7, "Input Data: 7")], ["id", "value"])
    row = df.select(*X.enrich()).head()
    assert row.extra1 == "7 :ataD tupnI"
    assert row.extra2 == "INPUT DATA: 7"
    assert row.extra3_name == "".join(sorted("Input Data: 7"))
    assert row.additional == "transformed 7"


def test_empty_string(spark):
    assert _one(spark, "", X.char_sort("v")) == ""
    assert _one(spark, "", X.reverse_value("v")) == ""


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40))
def test_charsort_matches_python_sorted(spark, s):
    # Scala .sorted == Python sorted() for ASCII (code-point order)
    assert _one(spark, s, X.char_sort("v")) == "".join(sorted(s))


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40))
def test_reverse_matches_python(spark, s):
    assert _one(spark, s, X.reverse_value("v")) == s[::-1]


@settings(max_examples=20, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0xFFFF, exclude_categories=("Cs",)),
        max_size=20,
    )
)
def test_charsort_unicode_bmp(spark, s):
    """BMP parity: Scala .sorted sorts UTF-16 code units, Python sorted
    sorts code points — identical within the BMP (1 unit = 1 point).
    Astral chars would diverge (Scala: surrogate order); fixtures and the
    declared contract are BMP-only."""
    assert _one(spark, s, X.char_sort("v")) == "".join(sorted(s))


def test_output_struct_parity(spark):
    """Nested OutputData shape (Services.scala:26-35) is reconstructable."""
    df = spark.createDataFrame([(3, "abc")], ["id", "value"])
    row = P.enrichment_output(df).head()
    out = row.output
    assert out.data.input.id == 3
    assert out.data.input.value == "abc"
    assert out.data.extra1 == "cba"
    assert out.data.extra3.name == "abc"
    assert out.additional == "transformed 3"


def test_gather_form_equals_select_form(spark):
    """J3 (scatter/gather as groupBy) ≡ J1 (single projection)."""
    msgs = spark.range(0, 50).select(
        F.col("id"), X.synth_payload("id").alias("value")
    )
    a = P.enrichment_pipeline(msgs).orderBy("id").collect()
    b = P.gather_groupby_form(msgs).orderBy("id").collect()
    assert a == b


def test_errors_split_and_classification(spark):
    msgs = spark.range(0, 100).select(F.col("id"), X.synth_payload("id").alias("value"))
    df = P.enrichment_with_errors(msgs, chaos=True)
    ok, bad = E.split_ok_err(df)
    assert ok.count() == 80  # 20% chaos failure rate (Services.scala:20)
    assert bad.count() == 20
    tmp = bad.filter(E.is_temporary(F.col("err"))).count()
    assert tmp == 10  # 50% of failures temporary (Services.scala:23)
    # E3 guard: failed rows never compute downstream transform
    assert bad.filter(F.col("additional").isNotNull()).count() == 0
    # E2 merge: first error wins, and every step's origin is reachable
    # (round-12 self-review: all three steps used to fail the SAME rows,
    # so the merged origin could only ever be enrich1). With
    # f = floor(id/5) % 3: f=0 rows fail steps 1-3 (merge -> enrich1),
    # f=1 rows fail 2-3 (-> enrich2), f=2 rows fail 3 only (-> enrich3).
    got = {
        r.id: r.origin
        for r in bad.select("id", F.col("err.origin").alias("origin")).collect()
    }
    assert set(got.values()) == {"enrich1", "enrich2", "enrich3"}
    for i, origin in got.items():
        assert origin == f"enrich{(i // 5) % 3 + 1}", (i, origin)


def test_error_rows_do_not_kill_query(spark):
    """R5 negative requirement (README.md:53): data errors are values,
    the query itself always completes."""
    msgs = spark.range(0, 10).select(F.col("id"), X.synth_payload("id").alias("value"))
    total = P.enrichment_with_errors(msgs, chaos=True).count()
    assert total == 10


def test_enrichment_projection_is_whole_stage_codegen(spark):
    """The enrichment projection compiles in whole-stage codegen: no
    lambda comparator (``array_sort``'s default has no generated code,
    which would force the whole ``Project`` into interpreted evaluation), and
    every ``Project`` sits inside a ``*(n)`` codegen stage."""
    msgs = spark.range(0, 10).select(F.col("id"), X.synth_payload("id").alias("value"))
    for df in (P.enrichment_with_errors(msgs, chaos=True), P.enrichment_pipeline(msgs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lambdafunction" not in plan, plan
        projects = [ln for ln in plan.splitlines() if "Project [" in ln]
        assert projects, plan
        for ln in projects:
            assert ln.lstrip(" :+-").startswith("*("), plan


@settings(max_examples=20, deadline=None)
@given(st.one_of(st.none(), st.text(max_size=20)))
def test_charsort_is_binary_order_for_any_text(spark, s):
    """``sort_array`` orders by UTF-8 bytes — code-point order for any
    text, astral characters included; ``concat_ws`` reads a NULL input
    as an empty list, so NULL sorts to the empty string."""
    df = spark.createDataFrame([(s,)], "v string")
    got = df.select(X.char_sort("v").alias("r")).head()[0]
    assert got == "".join(sorted(s or ""))
