"""Independent reference forms of the production kernels, for the
bit- and value-identity pins.

Each production operator in ``healthkit_to_sqlite_spark`` has one
kernel (mostly an Arrow ``mapInPandas`` pass).  The forms below compute
the same contract another way — JVM expressions, joins, or plain
Python — and share no code with the kernel they check, so a drift in
either fails a pin.  They may import the package's small shared
primitives (tokenizer, hash, weight matrix, distance fold), which the
DuckDB oracles reproduce as well.  Where float bit-identity is the
point (assignment, sign-LSH, Lloyd means) the reference keeps the JVM
expression form, whose IEEE operation order the kernels reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthkit_to_sqlite_spark.functions import one_slice_df, ws_tokens
from healthkit_to_sqlite_spark.operators.dedup import (N_HASHES, P, SHINGLE,
                                                       hash60,
                                                       minhash_lsh_pairs)
from healthkit_to_sqlite_spark.operators.pipeline import (CMS_D, CMS_W,
                                                          _cms_cell)
from healthkit_to_sqlite_spark.operators.similarity import (
    IVF_ITERS, K_CENTERS, PQ_K, PQ_M, PQ_SUB_DIM, _l2sq, _plane_weights,
    _pq_subspaces, derived_n_centroids)

# --- similarity: sign-LSH, assignment, Lloyd, PQ, k-center, covariance -----


def lsh_signature_expr(embeddings: DataFrame, n_planes: int) -> DataFrame:
    """Sign-LSH signature as literal-array ``zip_with``/``aggregate``
    folds, one per plane."""
    weights = _plane_weights(n_planes)

    def bit(p: int):
        w = F.array(*[F.lit(x) for x in weights[p]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), w,
                       lambda v, wv: v.cast("double") * wv),
            F.lit(0.0), lambda acc, x: acc + x)
        return F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))

    sig = F.concat_ws("", *[bit(p).cast("string") for p in range(n_planes)])
    return embeddings.select("vec_id", "label", sig.alias("bucket"))


def assign_cells_join(embeddings: DataFrame, cent: DataFrame,
                      keep_dist: bool = False) -> DataFrame:
    """Nearest-centroid assignment as a broadcast cross join: n·K
    candidate rows, 9dp-rounded ``_l2sq``, argmin = ``min(struct(dist,
    cid))`` (lexicographic struct order is the ties → lowest cid
    rule)."""
    d = (embeddings.select("vec_id", "embedding")
         .crossJoin(F.broadcast(cent))
         .select("vec_id", "cid",
                 F.round(_l2sq(F.col("embedding"), F.col("cemb")), 9)
                 .alias("dist")))
    assigned = (d.groupBy("vec_id")
                .agg(F.min(F.struct("dist", "cid")).alias("m"))
                .select("vec_id", F.col("m.cid").alias("cell"),
                        F.col("m.dist").alias("dist")))
    return assigned if keep_dist else assigned.drop("dist")


def cells_and_residuals_join(vectors: DataFrame, cent: DataFrame):
    """Two-pass residual build: assign, then join each vector to its
    centroid and subtract elementwise with ``zip_with``."""
    cells = assign_cells_join(vectors, cent)
    res = (vectors.select("vec_id", "embedding")
           .join(cells, "vec_id")
           .join(F.broadcast(cent), F.col("cell") == F.col("cid"))
           .select("vec_id",
                   F.zip_with("embedding", "cemb",
                              lambda x, c: x.cast("double") - c)
                   .alias("embedding")))
    return cells, res


def _rebuild(means: DataFrame, keys: list[str]) -> DataFrame:
    # (keys…, cell, pos, m) → (keys…, cid, cemb), pos-ordered
    return (means.groupBy(*keys, "cell")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m).alias("cemb"))
            .select(*keys, F.col("cell").alias("cid"), "cemb")
            .localCheckpoint(eager=True))


def kmeans_centroids_join(embeddings: DataFrame,
                          iters: int = IVF_ITERS) -> DataFrame:
    """Lloyd k-means with join assignment and posexplode means in
    decimal(30,10) — the expression pipeline before the fused kernel."""
    k = derived_n_centroids(embeddings.count())
    cent = (embeddings.filter(F.col("vec_id") < k)
            .select(F.col("vec_id").cast("int").alias("cid"),
                    F.transform("embedding",
                                lambda x: x.cast("double")).alias("cemb")))
    for _ in range(iters):
        assign = assign_cells_join(embeddings, cent)
        exploded = (embeddings.select("vec_id", "embedding")
                    .join(assign, "vec_id")
                    .select("cell",
                            F.posexplode("embedding").alias("pos", "val")))
        cent = _rebuild(
            exploded.groupBy("cell", "pos")
            .agg((F.sum(F.col("val").cast("double").cast("decimal(30,10)"))
                  .cast("double") / F.count(F.lit(1))).alias("m")), [])
    return cent


def subspace_rows(vectors: DataFrame, m: int = PQ_M,
                  sub_dim: int = PQ_SUB_DIM) -> DataFrame:
    """(vec_id, j, sub) — one row per vector and subspace."""
    return (vectors.select("vec_id",
                           F.explode(_pq_subspaces(m, sub_dim)).alias("s"))
            .select("vec_id", "s.j", "s.sub"))


def assign_sub_join(staged: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per (vector, subspace), as
    :func:`assign_cells_join` keyed by the subspace id."""
    d = (staged.join(F.broadcast(cent), "j")
         .select("vec_id", "j", "cid",
                 F.round(_l2sq(F.col("sub"), F.col("cemb")), 9).alias("dist")))
    return (d.groupBy("vec_id", "j")
            .agg(F.min(F.struct("dist", "cid")).alias("m"))
            .select("vec_id", "j", F.col("m.cid").alias("cell")))


def codes_wide(codes_long: DataFrame, m: int = PQ_M) -> DataFrame:
    """(vec_id, j, cell) → (vec_id, code0..code{m-1}) by pivot."""
    codes = (codes_long.groupBy("vec_id")
             .pivot("j", list(range(m))).agg(F.first("cell")))
    return codes.select("vec_id", *[F.col(str(j)).alias(f"code{j}")
                                    for j in range(m)])


def pq_codes_staged(embeddings: DataFrame, k: int = PQ_K,
                    iters: int = IVF_ITERS):
    """PQ training over the exploded subspace relation: join
    assignment, posexplode decimal means, pivoted codes.  Returns
    ``(codes, codebook)`` like ``pq_codes``."""
    staged = subspace_rows(embeddings)
    cent = (staged.filter(F.col("vec_id") < k)
            .select("j", F.col("vec_id").cast("int").alias("cid"),
                    F.transform("sub",
                                lambda x: x.cast("double")).alias("cemb")))
    for _ in range(iters):
        exploded = (staged.join(assign_sub_join(staged, cent), ["vec_id", "j"])
                    .select("j", "cell",
                            F.posexplode("sub").alias("pos", "val")))
        cent = _rebuild(
            exploded.groupBy("j", "cell", "pos")
            .agg((F.sum(F.col("val").cast("double").cast("decimal(30,10)"))
                  .cast("double") / F.count(F.lit(1))).alias("m")), ["j"])
    return codes_wide(assign_sub_join(staged, cent)), cent


def kcenter_scan(embeddings: DataFrame, k: int = K_CENTERS) -> DataFrame:
    """Greedy k-center as k corpus scans: a running ``dmin`` column
    updated against each new pick, argmax by TakeOrdered(1)."""
    spark = embeddings.sparkSession
    base = embeddings.select("vec_id", "embedding")

    def dist_to(vec):
        lits = F.array(*[F.lit(float(v)) for v in vec])
        return F.round(_l2sq(F.col("embedding"), lits), 9)

    seed = base.orderBy("vec_id").limit(1).collect()[0]
    d = base.select("vec_id", "embedding",
                    dist_to(seed.embedding).alias("dmin"))
    picks = [(0, int(seed.vec_id), None)]
    for i in range(1, k):
        d = d.localCheckpoint(eager=True)
        far = d.orderBy(F.col("dmin").desc(), "vec_id").limit(1).collect()[0]
        picks.append((i, int(far.vec_id), float(far.dmin)))
        d = d.select("vec_id", "embedding",
                     F.least(F.col("dmin"),
                             dist_to(far.embedding)).alias("dmin"))
    return one_slice_df(spark, picks,
                        "sel_order int, vec_id bigint, radius double")


def embedding_covariance_exploded(embeddings: DataFrame) -> DataFrame:
    """Covariance upper triangle by two chained ``posexplode``s (the
    second over ``slice(embedding, d1+1, D−d1)``, so only the upper
    triangle is generated) feeding a decimal(30,10) ``groupBy(d1,
    d2)`` SUM; per-dimension sums ride a second scan and broadcast-join
    back.  The covariance combines the sums in one fixed double
    expression."""
    prods = (embeddings
             .select("embedding", F.posexplode("embedding").alias("d1", "x1"))
             .select("d1", "x1",
                     F.posexplode(F.slice(F.col("embedding"),
                                          F.col("d1") + 1,
                                          F.size("embedding")
                                          - F.col("d1")))
                     .alias("off", "x2"))
             .select("d1", (F.col("d1") + F.col("off")).alias("d2"),
                     (F.col("x1").cast("double")
                      * F.col("x2").cast("double")).alias("p"))
             .groupBy("d1", "d2")
             .agg(F.sum(F.col("p").cast("decimal(30,10)"))
                  .cast("double").alias("sxy")))
    dims = (embeddings.select(F.posexplode("embedding").alias("d0", "x"))
            .groupBy("d0")
            .agg(F.sum(F.col("x").cast("double").cast("decimal(30,10)"))
                 .cast("double").alias("sx"),
                 F.count(F.lit(1)).alias("n")))
    m1 = dims.select(F.col("d0").cast("int").alias("d1"),
                     F.col("sx").alias("sx1"), "n")
    m2 = dims.select(F.col("d0").cast("int").alias("d2"),
                     F.col("sx").alias("sx2"))
    cov = (F.col("sxy") - F.col("sx1") * F.col("sx2") / F.col("n")) \
        / F.col("n")
    # + 0.0 canonicalizes IEEE negative zero, as the kernel does
    return (prods.join(F.broadcast(m1), "d1")
            .join(F.broadcast(m2), "d2")
            .select("d1", "d2",
                    (F.round(cov, 6) + F.lit(0.0)).alias("cov")))


# --- dedup: shingles, minhash, paragraphs, simhash ---------------------------


def _shingle_array(k: int):
    toks = ws_tokens("text")
    pos = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.transform(pos, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


def word_shingles_expr(documents: DataFrame, k: int = SHINGLE) -> DataFrame:
    return documents.select(
        "doc_id", F.explode(F.array_distinct(_shingle_array(k))).alias("shingle"))


def minhash_signatures_expr(documents: DataFrame) -> DataFrame:
    hmods = F.transform(F.array_distinct(_shingle_array(SHINGLE)),
                        lambda s: hash60(s) % P)
    staged = documents.select("doc_id", hmods.alias("hmods"))

    def perm(i):
        # closure factory: a 2-arg lambda would be read by transform()
        # as (element, index)
        a, b = i * 2 + 1, i * 7 + 13
        return lambda h: (F.lit(a) * h + F.lit(b)) % P

    return staged.select("doc_id", *[
        F.array_min(F.transform(F.col("hmods"), perm(i))).alias(f"mh{i}")
        for i in range(N_HASHES)])


def paragraphs_expr(documents: DataFrame, words_per_para: int) -> DataFrame:
    ws = F.split(F.col("text"), " ")
    n_para = F.floor((F.size(ws) + words_per_para - 1)
                     / F.lit(float(words_per_para))).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_para - 1),
        lambda i: F.struct(
            i.cast("int").alias("para_idx"),
            F.array_join(F.slice(ws, i * words_per_para + 1,
                                 words_per_para), " ").alias("ptext")))
    return (documents.select("doc_id", F.explode(paras).alias("p"))
            .select("doc_id", "p.para_idx", F.col("p.ptext").alias("text")))


def simhash_expr(documents: DataFrame, bits: int = 60) -> DataFrame:
    """explode(tokens) → groupBy(doc_id) with one ±1 sum per bit."""
    tok = (documents
           .select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
           .withColumn("h", hash60(F.col("tok"))))
    bit_sums = [
        F.sum(F.when(F.expr(f"shiftright(h, {b}) & 1") == 1, 1).otherwise(-1))
        .alias(f"s{b}") for b in range(bits)]
    folded = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        folded = term if folded is None else folded + term
    return (tok.groupBy("doc_id").agg(*bit_sums)
            .select("doc_id", folded.alias("simhash")))


# --- text: bigrams, winnowing grams, trigrams, BPE, suffix ranks -------------


def ngram_counts_expr(documents: DataFrame, k: int) -> DataFrame:
    toks = ws_tokens("text")
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    bigrams = F.when(F.size(toks) >= 2, F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(toks, i),
                                   F.element_at(toks, i + 1)))) \
        .otherwise(F.array().cast("array<string>"))
    return (documents.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "bigram").limit(k))


def winnow_grams_expr(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_grams, pos, h) — k-token grams of the non-empty
    tokens by posexplode, hashed as the top 8 hex of a salted md5."""
    toked = (documents
             .select("doc_id",
                     F.filter(ws_tokens("text"), lambda x: x != "").alias("toks"))
             .filter(F.size("toks") >= k))
    gram_terms = ", ".join(f"toks[i + {j}]" for j in range(k))
    gram_expr = F.expr(f"transform(sequence(0, size(toks) - {k}), "
                       f"i -> concat_ws(' ', {gram_terms}))")
    grams = toked.select(
        "doc_id", (F.size("toks") - F.lit(k - 1)).cast("bigint").alias("n_grams"),
        F.posexplode(gram_expr).alias("pos", "gram"))
    h = F.conv(F.substring(F.md5(F.concat(F.lit("winnow:"), F.col("gram"))),
                           1, 8), 16, 10).cast("bigint")
    return grams.select("doc_id", "n_grams", "pos", h.alias("h"))


def rare_trigrams_expr(documents: DataFrame) -> DataFrame:
    """Distinct (doc_id, tri) character trigrams of lower(text)."""
    base = (documents.select("doc_id", F.lower(F.col("text")).alias("t"))
            .filter(F.length("t") >= 3))
    return (base.select("doc_id", "t",
                        F.explode(F.sequence(F.lit(1), F.length("t") - 2))
                        .alias("i"))
            .select("doc_id", F.col("t").substr(F.col("i"), F.lit(3)).alias("tri"))
            .distinct())


def bpe_apply_expr(documents: DataFrame,
                   merge_list: list[tuple[str, str]]) -> DataFrame:
    words = (documents.select("doc_id",
                              F.explode(ws_tokens("text")).alias("word"))
             .filter(F.col("word") != ""))
    s = F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 "))
    for lhs, rhs in merge_list:
        s = F.replace(s, F.lit(f" {lhs} {rhs} "), F.lit(f" {lhs}{rhs} "))
    return (words.select("doc_id", F.size(F.split(F.trim(s), " ")).alias("np"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("np").cast("bigint").alias("n_pieces")))


def suffix_ranks_py(texts: dict[int, str], w: int) -> dict[tuple, int]:
    """{(doc_id, pos): rank} — RANK of each suffix's first ``w`` tokens
    among all suffixes, by sorting the token tuples in Python (a
    shorter tuple sorts before its extensions, as the '' / 0 sentinels
    encode)."""
    keys = {(d, p): tuple(t.split(" ")[p:p + w])
            for d, t in texts.items() for p in range(len(t.split(" ")))}
    ordered = sorted(keys.values())
    first = {}
    for i, key in enumerate(ordered):
        first.setdefault(key, i + 1)
    return {dp: first[key] for dp, key in keys.items()}


# --- pipeline: repetition counts, Count-Min, min-label components -----------


def repetition_counts_expr(documents: DataFrame) -> DataFrame:
    """(doc_id, tok_n, tok_distinct, tok_top, tok_chars, bg_n, bg_top)
    for docs with ≥1 token, by array_sort + struct-state folds."""
    toks = ws_tokens("text")
    pos = F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1)))
    bigrams = F.transform(pos, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))

    def top_run(arr):
        # longest run of equal values in sorted(arr)
        state = F.struct(F.lit(None).cast("string").alias("prev"),
                         F.lit(0).cast("bigint").alias("run"),
                         F.lit(0).cast("bigint").alias("best"))

        def step(acc, x):
            run = F.when(acc.prev.isNotNull() & (x == acc.prev),
                         acc.run + 1).otherwise(F.lit(1).cast("bigint"))
            return F.struct(x.alias("prev"), run.alias("run"),
                            F.greatest(acc.best, run).alias("best"))
        return F.aggregate(F.array_sort(arr), state, step, lambda acc: acc.best)

    char_sum = F.aggregate(toks, F.lit(0).cast("bigint"),
                           lambda acc, t: acc + F.length(t).cast("bigint"))
    return (documents
            .select("doc_id", toks.alias("toks"), bigrams.alias("bgs"),
                    char_sum.alias("tok_chars"))
            .filter(F.size("toks") > 0)
            .select("doc_id",
                    F.size("toks").cast("bigint").alias("tok_n"),
                    F.size(F.array_distinct("toks")).cast("bigint")
                    .alias("tok_distinct"),
                    top_run(F.col("toks")).alias("tok_top"),
                    "tok_chars",
                    F.size("bgs").cast("bigint").alias("bg_n"),
                    top_run(F.col("bgs")).alias("bg_top")))


def cms_sketch_expr(documents: DataFrame, d: int = CMS_D,
                    w: int = CMS_W) -> DataFrame:
    """Every token exploded d ways, hashed to its cell, counted."""
    toks = documents.select(F.explode(ws_tokens("text")).alias("token"))
    rows = toks.select(
        "token", F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r"))
    return (rows.select("r", _cms_cell(F.col("r"), F.col("token"), w).alias("c"))
            .groupBy("r", "c")
            .agg(F.count(F.lit(1)).alias("n")))


def dedup_clusters_minlabel(documents: DataFrame) -> DataFrame:
    """``dedup_clusters`` by iterative min-label propagation: each
    round every node takes min(own label, neighbours' labels) until
    the label sum stops falling — O(diameter) rounds where the star
    kernel needs O(log n).  Singletons never enter the loop and are
    restored by the final left join."""
    pairs = minhash_lsh_pairs(documents).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst")))
             .localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("cluster_id", F.col("doc_id"))
              .localCheckpoint(eager=True))
    prev_sum = None
    for _ in range(30):
        msgs = (edges.join(labels, edges.src == labels.doc_id)
                .select(F.col("dst").alias("doc_id"), "cluster_id"))
        labels = (labels.union(msgs)
                  .groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
                  .localCheckpoint(eager=False))
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError("min-label propagation did not converge "
                           "within 30 rounds")
    return (documents.select("doc_id")
            .join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"))
            .withColumn("is_keeper", F.col("cluster_id") == F.col("doc_id")))

