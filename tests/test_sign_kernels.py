"""The Arrow signature kernels must be BIT-IDENTICAL to their
expression forms in tests/reference_kernels.py (the
`test_assign_kernel` discipline applied to the other per-row trainer
primitives):

- sign-LSH (`lsh_signature`): plane dots accumulate in dimension
  order (exact IEEE sequence of the JVM fold; ±1.0 weights make each
  term an exact sign flip), strict ``dot > 0`` bit — identical
  signature strings.
- minhash (`minhash_signatures`): pure integer arithmetic (md5 →
  top-15-hex parse → mod-P permutations → min) — identical values
  with no IEEE story at all.
- repetition counts (`_repetition_counts_np`): integer counts.

Each suite runs at two scales so Arrow batch boundaries move.
"""

from __future__ import annotations

import pytest

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.dedup import minhash_signatures
from healthkit_to_sqlite_spark.operators.similarity import lsh_signature
from healthkit_to_sqlite_spark.plans import formatted_plan
from tests.reference_kernels import (
    lsh_signature_expr,
    minhash_signatures_expr,
    repetition_counts_expr,
)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
@pytest.mark.parametrize("n_planes", [16, 32])
def test_lsh_signature_np_bit_identical(spark, sf, n_planes):
    emb = load_table(spark, sf, "embeddings")
    a = sorted(map(tuple, lsh_signature_expr(emb, n_planes).collect()))
    b = sorted(map(tuple, lsh_signature(emb, n_planes).collect()))
    assert a == b
    assert len(a) == emb.count()
    assert all(len(r[2]) == n_planes for r in a)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_minhash_signatures_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    a = sorted(map(tuple, minhash_signatures_expr(docs).collect()))
    b = sorted(map(tuple, minhash_signatures(docs).collect()))
    assert a == b
    assert len(a) == docs.count()


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_repetition_signals_np_value_identical(spark, sf):
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.pipeline import (
        _repetition_counts_np,
    )

    docs = load_table(spark, sf, "documents")
    a = sorted(map(tuple, repetition_counts_expr(docs).collect()))
    b = sorted(map(tuple, _repetition_counts_np(docs)
                   .filter(F.col("tok_n") > 0).collect()))
    assert a == b
    assert len(a) == docs.count()


def test_signature_kernels_stay_map_only(spark):
    # one Arrow pass each, and the expression forms' one plan property
    # worth keeping: zero exchange — signatures stay embarrassingly
    # parallel at any scale
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for plan in (formatted_plan(lsh_signature(emb)),
                 formatted_plan(minhash_signatures(docs))):
        assert "MapInPandas" in plan
        assert "Exchange" not in plan
