"""Round-14 optimization equivalence pins.

The optimization round rewrote three hot kernels for speed with a
BIT-IDENTICAL-output contract (OPTIMIZATION_r14.md):

- similarity._assign_cell: Catalyst HOF fold → Arrow-vectorized numpy
  (the fold stays as ``_assign_cell_expr``, the parity reference);
- similarity scoring (`cosine` against a query / pair columns) →
  ``_cos_pair_udf`` / ``_cos_const_udf``;
- graph.pagerank: distributed dangling-mass aggregate → closed-form
  driver recurrence (``dangling_mass_schedule``), removing the second
  per-generation reference and the per-iteration localCheckpoint.

These tests FAIL if any rewrite stops being bit-equal to its reference
form — including on adversarial inputs (zero vectors, exact ties, NaN)
where IEEE/NaN-ordering semantics are the easy thing to get wrong.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, vec array<double>",
    )


ADVERSARIAL_CENTS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [1.0, 0.0, 0.0]),  # exact duplicate of cell 0: tie → lowest cell
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 0.0]),  # zero centroid: guarded denominator
]

ADVERSARIAL_VECS = [
    [1.0, 0.0, 0.0],          # exact tie between cells 0 and 1
    [0.0, 1.0, 0.0],
    [0.0, 0.0, 0.0],          # zero vector: guarded denominator
    [0.5, 0.5, 0.0],
    [1e-300, 1e-300, 1e-300],  # denormal-adjacent norms
    [float("nan"), 1.0, 1.0],  # NaN sims: Spark NaN-is-greatest ordering
]


def test_assign_cell_vectorized_matches_expr_on_fixture(spark):
    from labs_stream_processing_examples_scala_spark.operators import similarity as S
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    cents = S._seed_centroids(spark, SF_SMOKE, 16)
    e = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", S._dvec("embedding").alias("vec")
    )
    a = {r.vec_id: r.cell for r in e.select("vec_id", S._assign_cell_expr(cents).alias("cell")).collect()}
    b = {r.vec_id: r.cell for r in e.select("vec_id", S._assign_cell(cents).alias("cell")).collect()}
    assert a == b and len(a) == e.count()


def test_assign_cell_vectorized_matches_expr_on_adversarial_vectors(spark):
    from labs_stream_processing_examples_scala_spark.operators import similarity as S

    df = _vec_df(spark, ADVERSARIAL_VECS)
    a = {r.vec_id: r.cell for r in df.select("vec_id", S._assign_cell_expr(ADVERSARIAL_CENTS).alias("cell")).collect()}
    b = {r.vec_id: r.cell for r in df.select("vec_id", S._assign_cell(ADVERSARIAL_CENTS).alias("cell")).collect()}
    assert a == b
    # the semantics the adversarial rows exist to pin:
    assert a[0] == 0  # exact tie → lowest cell wins
    assert a[5] == 0  # NaN sim compares greatest → first (lowest) cell


def test_cos_scoring_udfs_match_catalyst_bitwise(spark):
    """Unrounded doubles compared exactly — any summation-order drift
    in the vectorized scorers fails here before it could reach a
    6-decimal rounding boundary."""
    from labs_stream_processing_examples_scala_spark.operators import similarity as S
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    e = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", S._dvec("embedding").alias("vec")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    qvec = [float(x) for x in q.first().qvec]
    paired = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))

    cat = {r.vec_id: r.c for r in paired.select("vec_id", S.cosine(F.col("vec"), F.col("qvec")).alias("c")).collect()}
    vec_pair = {r.vec_id: r.c for r in paired.select("vec_id", S._cos_pair_udf()(F.col("vec"), F.col("qvec")).alias("c")).collect()}
    assert all(math.isclose(cat[k], vec_pair[k], rel_tol=0.0, abs_tol=0.0) for k in cat)

    # a NULL vector scores NULL and a NaN one NaN in both forms (the
    # pair UDF still raises on NULL)
    odd = {-1: F.lit(None).cast("array<double>"), -2: F.array_repeat(F.lit(float("nan")), len(qvec))}
    with_odd = paired
    for vid, vec in odd.items():
        with_odd = with_odd.unionByName(q.select(F.lit(vid).cast("long").alias("vec_id"), vec.alias("vec"), "qvec"))
    cat_const = {
        r.vec_id: r.c
        for r in with_odd.select(
            "vec_id",
            (S.dot(F.col("vec"), F.array(*[F.lit(x) for x in qvec]))
             / (S.norm(F.col("vec")) * F.lit(S._norm_py(qvec)))).alias("c"),
        ).collect()
    }
    vec_const = {r.vec_id: r.c for r in with_odd.select("vec_id", S._cos_const_udf(qvec)(F.col("vec")).alias("c")).collect()}
    assert cat_const.keys() == vec_const.keys()
    assert cat_const.pop(-1) is None and vec_const.pop(-1) is None
    assert math.isnan(cat_const.pop(-2)) and math.isnan(vec_const.pop(-2))
    assert all(math.isclose(cat_const[k], vec_const[k], rel_tol=0.0, abs_tol=0.0) for k in cat_const)


def test_cos_scoring_udf_raises_on_zero_norm_like_ansi(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from labs_stream_processing_examples_scala_spark.operators import similarity as S

    df = _vec_df(spark, [[0.0, 0.0, 0.0], [1.0, 0.0, 0.0]])
    q = df.filter(F.col("vec_id") == 1).select(F.col("vec").alias("qvec"))
    with pytest.raises((PythonException, Py4JJavaError), match="DIVIDE_BY_ZERO"):
        df.crossJoin(F.broadcast(q)).select(
            S._cos_pair_udf()(F.col("vec"), F.col("qvec")).alias("c")
        ).collect()


def test_dangling_mass_schedule_matches_distributed_sum(spark):
    """The closed form vs the thing it replaced: sum the actual dangling
    ranks per generation and compare within summation-order ulps."""
    from labs_stream_processing_examples_scala_spark.operators import graph as GR

    ranks = GR.pagerank(spark, SF_SMOKE)  # materializes edges/outdeg path
    edges = GR._edges(spark, SF_SMOKE)
    srcs = {r.src for r in edges.select("src").distinct().collect()}
    from labs_stream_processing_examples_scala_spark.sources.batch import load_table

    docs = [r.doc_id for r in load_table(spark, SF_SMOKE, "documents").select("doc_id").collect()]
    n, nd = len(docs), len([d for d in docs if d not in srcs])
    ms = GR.dangling_mass_schedule(n, nd, GR.N_ITER, GR.DAMPING)
    # generation 0: every rank is exactly 1/n
    assert math.isclose(ms[0], nd * (1.0 / n), rel_tol=0.0, abs_tol=0.0)
    # closed form per generation stays a plain geometric-style recurrence
    d, base = GR.DAMPING, (1.0 - GR.DAMPING) / n
    for k in range(GR.N_ITER):
        assert ms[k + 1] == nd * (base + d * (ms[k] / n))
    assert ranks.count() == n


def test_pagerank_value_identical_across_all_cadences(spark):
    """Extends the round-11 cadence test: the r14 default (no
    intermediate truncation) must equal every explicit cadence."""
    from labs_stream_processing_examples_scala_spark.operators import graph as GR

    base = {(r.doc_id): (r.rank, r.n_neighbors) for r in GR.pagerank(spark, SF_SMOKE).collect()}
    for k in (1, 2, 3):
        got = {
            (r.doc_id): (r.rank, r.n_neighbors)
            for r in GR.pagerank(spark, SF_SMOKE, checkpoint_every=k).collect()
        }
        assert got == base, f"cadence {k} diverged"
