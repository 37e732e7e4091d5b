"""The Arrow-vectorized assignment kernels must be BIT-IDENTICAL to the
broadcast-join reference forms in tests/reference_kernels.py.

Why the kernels exist: the join form evaluates ``_l2sq`` through
``zip_with``/``aggregate`` — Catalyst higher-order functions are
CodegenFallback (interpreted per element) — over n·K exploded
candidate rows, and with corpus-derived K (∝ n) that term was the one
superlinear cpu_sec in the tracked sf1 set (q_proto_prune 51× CPU for
10× data, SCALE.md round 14).  The numpy kernels do the same fold
fused; these tests pin that "same" means same bits, not same-ish:

- raw distances: float64 accumulation in dimension order reproduces
  the JVM fold's IEEE operation sequence exactly;
- the argmin contract: HALF_UP-rounded-9dp distance, ties → lowest
  cid, via exact shortest-repr decimal rounding on the few candidates
  within 2e-9 of the unrounded minimum (rounding is monotone, so no
  other centroid can win).
"""

from __future__ import annotations

import pytest

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.similarity import (
    _assign_cells,
    embedding_covariance,
    kmeans_centroids,
    pq_codes,
)
from healthkit_to_sqlite_spark.plans import formatted_plan
from tests.reference_kernels import (
    assign_cells_join,
    assign_sub_join,
    cells_and_residuals_join,
    codes_wide,
    kmeans_centroids_join,
    pq_codes_staged,
    subspace_rows,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def cent(emb):
    return kmeans_centroids(emb).localCheckpoint(eager=True)


def test_np_kernel_bit_identical_with_dist(emb, cent):
    # cell AND the 9dp-rounded distance (the prototypicality score
    # consumers keep) must match the join form bit for bit
    a = sorted((r.vec_id, r.cell, r.dist)
               for r in assign_cells_join(emb, cent, keep_dist=True).collect())
    b = sorted((r.vec_id, r.cell, r.dist)
               for r in _assign_cells(emb, cent, keep_dist=True).collect())
    assert a == b
    assert len(a) == emb.count()


def test_np_kernel_bit_identical_without_dist(emb, cent):
    a = sorted((r.vec_id, r.cell)
               for r in assign_cells_join(emb, cent).collect())
    b = sorted((r.vec_id, r.cell)
               for r in _assign_cells(emb, cent).collect())
    assert a == b


def test_np_plan_has_no_join_and_no_exchange(emb, cent):
    # the kernel's reason to exist: no n·K candidate rows (no
    # BroadcastNestedLoopJoin) and no exchange at all — the join
    # form's map-side-combined shuffle of n rows is gone too
    plan = formatted_plan(_assign_cells(emb, cent, keep_dist=True))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_sub_assignment_np_bit_identical(spark, emb):
    # the per-(vector, subspace) argmin inside the wide-codes kernel
    # must agree bit-for-bit with the staged join + pivot form on
    # every code, against an arbitrary (seed-vector) codebook
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.similarity import _encode_codes

    staged = subspace_rows(emb)
    book = (staged.filter(F.col("vec_id") < 8)
            .select("j", F.col("vec_id").cast("int").alias("cid"),
                    F.transform("sub", lambda x: x.cast("double"))
                    .alias("cemb")).localCheckpoint(eager=True))
    a = sorted(map(tuple, codes_wide(assign_sub_join(staged, book)).collect()))
    b = sorted(map(tuple, _encode_codes(emb, book).collect()))
    assert a == b
    assert len(a) == emb.count()


def test_residual_fusion_bit_identical(spark, emb, cent):
    # r15 (VERDICT r14 item 2): cells AND residuals from ONE Arrow
    # pass must equal the two-pass join form bit for bit — the
    # elementwise float64 subtraction is the JVM zip_with's exact
    # operation on the same widened operands
    from healthkit_to_sqlite_spark.operators.similarity import (
        _cells_and_residuals,
    )

    cells_n, res_n = _cells_and_residuals(emb, cent)
    cn = sorted(map(tuple, cells_n.collect()))
    rn = sorted((r.vec_id, tuple(r.embedding)) for r in res_n.collect())
    cells_j, res_j = cells_and_residuals_join(emb, cent)
    cj = sorted(map(tuple, cells_j.collect()))
    rj = sorted((r.vec_id, tuple(r.embedding)) for r in res_j.collect())
    assert cn == cj
    assert rn == rj
    assert len(rn) == emb.count()


def test_fused_lloyd_means_bit_identical(spark, emb):
    # r15: the fused assign+mean-partials kernel must train the SAME
    # centroids as the join + posexplode + decimal-aggregate reference
    # — per-value decimal(30,10) quantization + exact integer partials
    # make the means order/batch-boundary independent
    def rows(df):
        return sorted((r.cid, tuple(r.cemb)) for r in df.collect())

    assert rows(kmeans_centroids(emb)) == rows(kmeans_centroids_join(emb))


def test_fused_lloyd_means_plan_shape(spark, emb, cent):
    # the kernel's reason to exist: per iteration the corpus crosses
    # ONE MapInPandas with a ≤K·D-row partial exchange — no join of
    # the n-row assignment back onto the corpus, no posexplode
    # Generate over n·D rows.  A Lloyd step is the PQ partials kernel
    # over one subspace spanning all D dimensions.
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.similarity import (
        _sub_mean_partials_np,
    )

    book = cent.select(F.lit(0).alias("j"), "cid", "cemb")
    plan = formatted_plan(
        _sub_mean_partials_np(emb, book, "kmeans mean-partials")[0])
    assert "MapInPandas" in plan
    assert "Generate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # the partial-sum aggregate only


def test_fused_pq_means_and_codes_bit_identical(spark, emb):
    # r15: fused PQ training (subspace slicing + sub-argmin + partial
    # sums in one pass, wide codes map-only) must equal the staged
    # explode/join/pivot reference end to end — codes AND codebook
    codes_f, book_f = pq_codes(emb)
    cf = sorted(map(tuple, codes_f.collect()))
    bf = sorted((r.j, r.cid, tuple(r.cemb)) for r in book_f.collect())
    codes_r, book_r = pq_codes_staged(emb)
    cr = sorted(map(tuple, codes_r.collect()))
    br = sorted((r.j, r.cid, tuple(r.cemb)) for r in book_r.collect())
    assert cf == cr
    assert bf == br
    assert len(cf) == emb.count()


def test_fused_codes_plan_is_map_only(spark, emb):
    # wide codes: no pivot exchange, no Generate — one Arrow pass
    from healthkit_to_sqlite_spark.operators.similarity import _encode_codes

    _, book = pq_codes(emb)
    plan = formatted_plan(_encode_codes(emb, book.localCheckpoint(eager=True)))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Generate" not in plan


@pytest.mark.parametrize("guard, build", [
    pytest.param("kmeans mean-partials",
                 lambda emb: kmeans_centroids(emb, 2), id="kmeans"),
    pytest.param("PQ sub-mean-partials",
                 lambda emb: pq_codes(emb, k=2)[1], id="pq"),
    pytest.param("covariance", embedding_covariance, id="covariance"),
])
def test_int64_headroom_guards_raise_overflow(spark, guard, build):
    # the exact-decimal kernels sum 1e-10-scaled values in int64; a
    # magnitude that would wrap must fail loudly (and not vanish under
    # python -O, as the old bare asserts did)
    big = spark.createDataFrame(
        [(i, "x", [1e12 * (i + 1)] * 64) for i in range(4)],
        "vec_id bigint, label string, embedding array<float>")
    with pytest.raises(Exception, match=f"OverflowError.*{guard}"):
        build(big).collect()


def test_lloyd_unpersists_each_iteration_broadcast(spark, emb, monkeypatch):
    # each Lloyd round ships its centroids as a broadcast; once the
    # round's eager localCheckpoint holds the new codebook the
    # broadcast is released — one unpersist per iteration, in both
    # trainers
    from pyspark.broadcast import Broadcast

    released = []
    unpersist = Broadcast.unpersist

    def counting(self, blocking=False):
        released.append(self._jbroadcast.id())
        unpersist(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", counting)
    kmeans_centroids(emb, 4, iters=3)
    assert len(released) == len(set(released)) == 3
    released.clear()
    pq_codes(emb, k=4, iters=2)
    assert len(released) == len(set(released)) == 2
