"""The r14 second-wave Arrow kernels must be VALUE-IDENTICAL to their
expression forms in tests/reference_kernels.py (the
`test_sign_kernels` discipline applied to the remaining
interpreted-HOF / per-element-md5 hot paths):

- word shingles (`word_shingles`): pure string arithmetic —
  Python ``text.split(" ")`` == Spark ``split(text, ' ')`` including
  empty-token runs, first-occurrence distinct == ``array_distinct``,
  short-doc truncated shingle == the ``greatest(.., 1)`` floor.
- SimHash (`simhash`): integer-only (md5 → top-15-hex parse →
  signed per-bit counts → strict ``> 0`` majority) — no IEEE story.
- winnowing grams (`_winnow_grams_np`): integer-only (md5 → top-8-hex
  parse), same rows as the posexplode form.
- Count-Min partials (`_cms_partials_np`): exact integer partial
  counts that SUM to the same d×w matrix at any batch boundary.
- paragraphs and the BPE encode rollup: string slicing and integer
  piece counts.

Each suite runs at two fixture scales (Arrow batch boundaries move)
plus a constructed edge set, and pins the map-only plan property the
kernels were built for.
"""

from __future__ import annotations

import pytest

from healthkit_to_sqlite_spark.catalog import load_table
from healthkit_to_sqlite_spark.operators.dedup import (
    paragraphs,
    simhash,
    word_shingles,
)
from healthkit_to_sqlite_spark.operators.pipeline import cms_sketch
from healthkit_to_sqlite_spark.operators.text import (
    WINNOW_K,
    _winnow_grams_np,
    bpe_apply,
)
from healthkit_to_sqlite_spark.plans import formatted_plan
from tests.reference_kernels import (
    bpe_apply_expr,
    cms_sketch_expr,
    paragraphs_expr,
    simhash_expr,
    winnow_grams_expr,
    word_shingles_expr,
)

SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _edge_docs(spark):
    # the shared tokenizer edge set: short docs (truncated shingle /
    # no gram), space runs → empty tokens, null text → no rows,
    # repeated tokens (SimHash weights, distinct dedup), non-ASCII
    return spark.createDataFrame(
        [(0, "a b a b a"), (1, "x"), (2, "a  b"), (3, None),
         (4, "héllo wörld héllo wörld"), (5, " lead"), (6, "trail "),
         (7, ""), (8, "w x y z w x y z w x y z")],
        "doc_id bigint, text string")


@pytest.mark.parametrize("sf", SCALES)
@pytest.mark.parametrize("k", [2, 4])
def test_word_shingles_np_value_identical(spark, sf, k):
    docs = load_table(spark, sf, "documents")
    a = sorted(map(tuple, word_shingles_expr(docs, k=k).collect()))
    b = sorted(map(tuple, word_shingles(docs, k=k).collect()))
    assert a == b
    assert len(a) > 0


@pytest.mark.parametrize("k", [2, 4])
def test_word_shingles_np_edge_set(spark, k):
    # k parametrized (ADVICE r14): the k=2 path hits a different
    # greatest(.., 1) truncation boundary than the default k=4
    docs = _edge_docs(spark)
    a = sorted(map(tuple, word_shingles_expr(docs, k=k).collect()))
    b = sorted(map(tuple, word_shingles(docs, k=k).collect()))
    assert a == b
    # the conventions the kernel must reproduce, pinned explicitly:
    got = dict()
    for did, sh in a:
        got.setdefault(did, []).append(sh)
    if k == 4:
        assert got[1] == ["x"]        # <k tokens → one truncated shingle
        assert got[2] == ["a  b"]     # empty token BETWEEN words kept
    else:
        assert got[1] == ["x"]        # 1 token < k=2 → truncated
        assert got[2] == [" b", "a "]  # 3 tokens → two 2-shingles (sorted)
    assert got[3] == [""]             # null text → concat_ws-swallowed ""
    assert got[7] == [""]             # empty text → [""] token → "" shingle


@pytest.mark.parametrize("sf", SCALES)
def test_simhash_np_value_identical(spark, sf):
    # bits < 60 votes on the low bits of the same 60-bit token hash
    # (ADVICE r15: both widths pinned)
    docs = load_table(spark, sf, "documents")
    for bits in (32, 60):
        a = sorted(map(tuple, simhash_expr(docs, bits).collect()))
        b = sorted(map(tuple, simhash(docs, bits).collect()))
        assert a == b, bits
        assert len(a) == docs.count()


def test_simhash_np_edge_set(spark):
    docs = _edge_docs(spark)
    a = sorted(map(tuple, simhash_expr(docs).collect()))
    b = sorted(map(tuple, simhash(docs).collect()))
    assert a == b
    ids = {r[0] for r in a}
    assert 3 not in ids and 7 in ids  # null drops; "" hashes the empty tok
    # md5's top 15 hex digits carry 60 bits; there is nothing to vote
    # on beyond them
    with pytest.raises(ValueError, match="60 bits"):
        simhash(docs, bits=61)


@pytest.mark.parametrize("sf", SCALES)
def test_winnow_grams_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    a = sorted(map(tuple, winnow_grams_expr(docs, WINNOW_K).collect()))
    b = sorted(map(tuple, _winnow_grams_np(docs, WINNOW_K).collect()))
    assert a == b
    assert len(a) > 0


def test_winnow_grams_np_edge_set(spark):
    # the empty-token filter and the <k-token drop are the
    # conventions under test
    docs = _edge_docs(spark)
    a = sorted(map(tuple, winnow_grams_expr(docs, WINNOW_K).collect()))
    b = sorted(map(tuple, _winnow_grams_np(docs, WINNOW_K).collect()))
    assert a == b
    ids = {r[0] for r in a}
    assert 1 not in ids and 7 not in ids      # <k tokens → no grams
    assert 2 not in ids                       # empties dropped → 2 toks < k
    assert 0 in ids and 8 in ids


@pytest.mark.parametrize("sf", SCALES)
def test_cms_partials_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    a = sorted(map(tuple, cms_sketch_expr(docs).collect()))
    b = sorted(map(tuple, cms_sketch(docs).collect()))
    assert a == b
    assert sum(r[2] for r in a) == sum(r[2] for r in b)


def test_cms_partials_np_edge_set(spark):
    docs = _edge_docs(spark)
    a = sorted(map(tuple, cms_sketch_expr(docs).collect()))
    b = sorted(map(tuple, cms_sketch(docs).collect()))
    assert a == b
    # total mass = d × token occurrences (null drops, empties count)
    n_toks = sum(len(t.split(" ")) for _, t in
                 [(0, "a b a b a"), (1, "x"), (2, "a  b"),
                  (4, "héllo wörld héllo wörld"), (5, " lead"),
                  (6, "trail "), (7, ""), (8, "w x y z w x y z w x y z")])
    assert sum(r[2] for r in a) == 4 * n_toks


@pytest.mark.parametrize("sf", SCALES)
@pytest.mark.parametrize("wpp", [3, 16])
def test_paragraphs_np_value_identical(spark, sf, wpp):
    docs = load_table(spark, sf, "documents")
    a = sorted(map(tuple, paragraphs_expr(docs, wpp).collect()))
    b = sorted(map(tuple, paragraphs(docs, wpp).collect()))
    assert a == b
    assert len(a) > 0


def test_paragraphs_np_edge_set(spark):
    docs = _edge_docs(spark)
    a = sorted(map(tuple, paragraphs_expr(docs, 4).collect()))
    b = sorted(map(tuple, paragraphs(docs, 4).collect()))
    assert a == b
    got = {}
    for did, idx, t in a:
        got.setdefault(did, []).append(t)
    assert got[1] == ["x"]               # short doc → one short para
    assert 3 not in got                  # null text → no rows
    assert got[7] == [""]                # empty text → one "" para
    assert got[8] == ["w x y z"] * 3     # exact multiple → full paras
    assert got[0] == ["a b a b", "a"]    # remainder tail para


@pytest.mark.parametrize("sf", SCALES)
def test_bpe_apply_np_value_identical(spark, sf):
    docs = load_table(spark, sf, "documents")
    # a hand model exercising rank order, the odd-self-run straggler
    # (aaa → aa a), and merges that only fire after earlier merges
    model = [("e", "r"), ("a", "a"), ("aa", "a"), ("t", "h"),
             ("th", "er")]
    a = sorted(map(tuple, bpe_apply_expr(docs, model).collect()))
    b = sorted(map(tuple, bpe_apply(docs, model).collect()))
    assert a == b
    assert len(a) > 0


def test_bpe_apply_np_edge_set(spark):
    docs = _edge_docs(spark)
    model = [("a", "b"), ("ab", "a"), ("w", "x"), ("y", "z"),
             ("wx", "yz")]
    a = sorted(map(tuple, bpe_apply_expr(docs, model).collect()))
    b = sorted(map(tuple, bpe_apply(docs, model).collect()))
    assert a == b
    ids = {r[0] for r in a}
    assert 3 not in ids and 7 not in ids  # null/empty text → no words


def test_batch_kernels_defaults_and_map_only(spark):
    # every default build is one Arrow pass, and the shingle/simhash/
    # bpe builds stay exchange-free — the map-only property the
    # kernels were built for (the winnow gram build's exchange budget
    # is owned by the downstream window, pinned via the full
    # _winnow_select plan in test_plans)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    shingle_plan = formatted_plan(word_shingles(docs))
    assert "MapInPandas" in shingle_plan and "Exchange" not in shingle_plan
    sim_plan = formatted_plan(simhash(docs))
    assert "MapInPandas" in sim_plan and "Exchange" not in sim_plan
    assert "MapInPandas" in formatted_plan(cms_sketch(docs))
    bpe_plan = formatted_plan(bpe_apply(docs, [("a", "b")]))
    assert "MapInPandas" in bpe_plan and "Exchange" not in bpe_plan
