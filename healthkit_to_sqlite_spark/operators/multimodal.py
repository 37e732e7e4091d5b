"""Multimodal columns: opaque binary payloads + typed metadata.

Driver north star (SURVEY.md §2.C): image/audio/video travel as
``binary`` columns with a typed metadata struct; decode / feature
extraction / resize / frame-sample run as Arrow-batched Pandas
functions over ``mapInPandas``.

The container has no image/audio codecs, so the *decode kernels* are
deterministic fakes behind the real Spark plumbing (schema, Arrow
batch shape, partitioning) — swap the byte-histogram ``feats`` in
`decode_features` for a real `PIL/torchaudio` call and nothing else
changes.  ``decode_real`` IS
that swap for images: a real Pillow decode kernel gated behind an
import-try (NotImplementedError when Pillow is absent; its test is
``importorskip``-gated, so codec-equipped environments run it).

Scale notes: binary payloads ride the columnar path (parquet binary +
Arrow); mapInPandas streams batches so one task never materializes a
partition of blobs; metadata-only queries never touch the payload
column (column pruning — verified in tests/test_plans.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..spec import Spec


def with_blob(documents: DataFrame) -> DataFrame:
    """Attach a binary payload + typed metadata struct.  (Synthetic
    stand-in for reading real media: the utf-8 bytes of `text` are the
    payload, exactly as an image column would carry encoded JPEG.)"""
    blob = F.col("text").cast("binary")
    meta = F.struct(
        F.octet_length("text").alias("n_bytes"),
        F.lit("text/plain").alias("mime"),
        F.md5("text").alias("checksum_md5"))
    return documents.select("doc_id", blob.alias("payload"), meta.alias("media_meta"))


def media_metadata(documents: DataFrame) -> DataFrame:
    """Metadata-only projection — must not read payload bytes at scan
    time (column pruning makes this metadata-cheap at 100 TB)."""
    d = with_blob(documents)
    return d.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.checksum_md5").alias("checksum_md5"))


def decode_features(documents: DataFrame) -> DataFrame:
    """mapInPandas decode: binary payload → fixed-width feature vector.

    The batch iterator shape is the real contract: each pandas
    DataFrame is one Arrow batch; we emit matching-length batches with
    the declared schema.  At scale this is the pattern for any
    per-item media kernel (decode, resize, frame-sample)."""
    src = with_blob(documents)

    # NB: the kernel must be closure-complete (no references to this
    # module) — cloudpickle ships it by value, so executors need neither
    # this package on sys.path nor an addPyFile.
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def feats(payload):
            if payload is None or len(payload) == 0:
                return [0.0, 0.0, 0.0, 0.0]
            n = float(len(payload))
            return [n, float(sum(payload)) / n,
                    float(max(payload)), float(min(payload))]

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(lambda b: 0 if b is None else len(b)),
                "features": pdf["payload"].map(feats),
            })

    return src.mapInPandas(
        kernel, schema="doc_id long, n_bytes long, features array<double>")


THUMB_SIZE = 16     # fixed output width of the "resize" kernel
FRAME_BYTES = 64    # bytes per synthetic "frame"
FRAME_STRIDE = 4    # keep every 4th frame


def resize_thumbnail(documents: DataFrame) -> DataFrame:
    """The *resize* media kernel shape: variable-size payload in →
    fixed-size vector out.  Deterministic stand-in: sample THUMB_SIZE
    bytes at stride ``max(1, n // THUMB_SIZE)`` (an image resize has
    exactly this contract — the real kernel swaps byte-sampling for
    PIL.Image.resize; schema/batching/plumbing identical).

    mapInPandas, map-only, payload read once; output is fixed-width so
    downstream ops (e.g. similarity over thumbnails) are vector
    kernels, never blob scans.

    The thumbnail is emitted as a CSV string, not array<int>: the
    driver's comparator canonicalizes through a pandas sort, where a
    list-typed cell is unhashable (r02 failure mode).  A scalar column
    keeps the contract driver-checkable; downstream vector kernels can
    re-split cheaply (F.split + cast)."""
    src = with_blob(documents)
    thumb_size = THUMB_SIZE  # captured by value — kernel stays closure-complete

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def thumb(payload):
            if payload is None or len(payload) == 0:
                return []
            n = len(payload)
            s = max(1, n // thumb_size)
            return [int(payload[i * s]) for i in range(thumb_size) if i * s < n]

        for pdf in batches:
            th = pdf["payload"].map(thumb)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "thumb_csv": th.map(lambda t: ",".join(map(str, t))),
                "thumb_len": th.map(len),
                "thumb_sum": th.map(sum),
            })

    return src.mapInPandas(
        kernel,
        schema="doc_id long, thumb_csv string, thumb_len int, thumb_sum bigint")


def frame_sample(documents: DataFrame) -> DataFrame:
    """The *frame-sample* media kernel shape: one payload row →
    several frame rows (video frame extraction's contract).  The
    payload splits into FRAME_BYTES-wide frames; every FRAME_STRIDE-th
    frame is kept with per-frame stats.  mapInPandas legitimately
    changes cardinality (unlike a scalar UDF); at scale the explode
    happens inside the Arrow batch — no shuffle, no blob duplication."""
    src = with_blob(documents)
    fb, stride = FRAME_BYTES, FRAME_STRIDE  # by value — kernel stays closure-complete

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, lens, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                n = len(payload)
                for fno in range(0, (n + fb - 1) // fb, stride):
                    fr = payload[fno * fb:(fno + 1) * fb]
                    ids.append(doc_id)
                    frames.append(fno)
                    lens.append(len(fr))
                    sums.append(int(sum(fr)))
            yield pd.DataFrame({"doc_id": ids, "frame_no": frames,
                                "frame_len": lens, "frame_sum": sums})

    return src.mapInPandas(
        kernel,
        schema="doc_id long, frame_no int, frame_len int, frame_sum bigint")


def embed_search(documents: DataFrame, query_doc_id: int = 0,
                 k: int = 10) -> DataFrame:
    """The multimodal retrieval composite end to end: decode payloads
    to feature vectors (the Python-kernel stage), then similarity
    search over the vectors (pure JVM) — media in, neighbors out.

    This is the pipeline shape that matters at 100 TB: Python touches
    each payload exactly ONCE (Arrow-batched mapInPandas decode);
    everything downstream — broadcast of the 1-row query vector, the
    cosine fold, TakeOrdered top-k — runs whole-stage-codegen'd on the
    4-float vectors, never on blobs.  Swapping the fake byte-moment
    features for a real encoder changes one kernel, no plan shape."""
    feats = decode_features(documents).select("doc_id", "features")
    # the query side filters BEFORE decode: a filter above mapInPandas
    # cannot push below the Python node, so building q from `feats`
    # would re-decode the whole corpus for one row (review finding)
    q = (decode_features(documents.filter(F.col("doc_id") == query_doc_id))
         .select(F.col("features").alias("q_f")))
    dot = F.aggregate(
        F.zip_with(F.col("features"), F.col("q_f"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x))
    sim = dot / (nrm(F.col("features")) * nrm(F.col("q_f")))
    return (feats.crossJoin(F.broadcast(q))
            .filter(F.col("doc_id") != query_doc_id)
            .select("doc_id", F.round(sim, 6).alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col("doc_id"))
            .limit(k))


def decode_real(media: DataFrame) -> DataFrame:
    """Real image decode — the optional-dependency half of the decode
    boundary (r6 VERDICT item 7: decided as *gated*, not permanent
    stub).  When Pillow is importable the kernel is real: payload
    bytes → PIL.Image.open → (width, height, mode, mean_pixel), the
    same mapInPandas shape as `decode_features` — Arrow-batched,
    payload read exactly once, fixed-width typed output so nothing
    downstream touches blobs.  Without Pillow it raises
    NotImplementedError at plan-construction time (fail loud, never a
    silent fake); tests/test_pipeline.py gates the round-trip test
    behind ``pytest.importorskip("PIL")`` so any environment with
    codecs exercises the real path.

    ``media`` must carry (doc_id, payload) — e.g. `with_blob`'s
    output with a real encoded-image payload column."""
    try:
        import PIL.Image  # noqa: F401 — availability probe only
    except ImportError as e:
        raise NotImplementedError(
            "decode_real needs Pillow, unavailable in this environment; "
            "use decode_features (deterministic fake) for plumbing "
            "tests") from e

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        def dec(payload):
            if payload is None or len(payload) == 0:
                return (0, 0, "", 0.0)
            with Image.open(io.BytesIO(payload)) as im:
                px = list(im.convert("L").getdata())
                return (im.width, im.height, im.mode,
                        float(sum(px)) / max(len(px), 1))

        for pdf in batches:
            decoded = pdf["payload"].map(dec)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": decoded.map(lambda t: t[0]),
                "height": decoded.map(lambda t: t[1]),
                "mode": decoded.map(lambda t: t[2]),
                "mean_pixel": decoded.map(lambda t: t[3]),
            })

    return media.select("doc_id", "payload").mapInPandas(
        kernel,
        schema="doc_id long, width int, height int, mode string, "
               "mean_pixel double")


def decoded_feature_stats(documents: DataFrame) -> DataFrame:
    """Aggregate over decoded features: oracle-checkable because the
    fake decode is just byte arithmetic DuckDB can reproduce."""
    feats = decode_features(documents)
    return feats.select(
        "doc_id", "n_bytes",
        F.round(F.col("features")[1], 6).alias("mean_byte"),
        F.col("features")[2].cast("int").alias("max_byte"),
        F.col("features")[3].cast("int").alias("min_byte"))


# The decode oracle works because the synthetic corpus is ASCII-safe:
# unicode code points == utf-8 bytes, so DuckDB reproduces the byte
# moments without a binary type.
_DECODE_ORACLE = """
WITH cp AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         list_transform(string_split(text, ''), c -> ord(c)) AS bs
  FROM documents)
SELECT doc_id, n_bytes,
       ROUND(list_aggregate(bs, 'sum') / CAST(n_bytes AS DOUBLE), 6) AS mean_byte,
       CAST(list_aggregate(bs, 'max') AS INT) AS max_byte,
       CAST(list_aggregate(bs, 'min') AS INT) AS min_byte
FROM cp
"""

# Both oracles are f-strings over the SAME module constants the Spark
# kernels capture — changing THUMB_SIZE/FRAME_BYTES/FRAME_STRIDE can no
# longer desync kernel and oracle (round-2 advisor finding).
_RESIZE_ORACLE = f"""
WITH cp AS (
  SELECT doc_id, list_transform(string_split(text, ''), c -> ord(c)) AS bs
  FROM documents),
t AS (
  SELECT doc_id,
         list_filter(
           list_transform(range({THUMB_SIZE}),
             i -> CASE WHEN i * greatest(len(bs) // {THUMB_SIZE}, 1) < len(bs)
                       THEN bs[i * greatest(len(bs) // {THUMB_SIZE}, 1) + 1] END),
           x -> x IS NOT NULL) AS thumb
  FROM cp)
SELECT doc_id, COALESCE(array_to_string(thumb, ','), '') AS thumb_csv,
       CAST(len(thumb) AS INT) AS thumb_len,
       CAST(COALESCE(list_aggregate(thumb, 'sum'), 0) AS BIGINT) AS thumb_sum
FROM t
"""

# Frame range derives from len(bs) per row (correlated range unnest) —
# no payload-size cap to silently diverge past (round-2 advisor: the
# old range(0, 4096, 4) form broke for payloads over 256 KiB).
_FRAMES_ORACLE = f"""
WITH cp AS (
  SELECT doc_id, list_transform(string_split(text, ''), c -> ord(c)) AS bs
  FROM documents),
fr AS (
  SELECT doc_id, bs,
         unnest(range(0, (len(bs) + {FRAME_BYTES - 1}) // {FRAME_BYTES},
                      {FRAME_STRIDE})) AS fno
  FROM cp)
SELECT doc_id, CAST(fno AS INT) AS frame_no,
       CAST(len(bs[fno * {FRAME_BYTES} + 1 : (fno + 1) * {FRAME_BYTES}]) AS INT)
         AS frame_len,
       CAST(list_aggregate(bs[fno * {FRAME_BYTES} + 1 : (fno + 1) * {FRAME_BYTES}],
                           'sum') AS BIGINT) AS frame_sum
FROM fr
"""

def media_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup over BINARY payloads: group by (mime,
    payload-md5), keep the lowest doc_id, report copies and bytes
    reclaimable — the media analog of `q_dedup_exact` (image/audio
    stores dedupe encoded bytes before any decode).

    Scale shape: the hash groupBy shuffles (mime, 32-byte hash,
    doc_id, n_bytes) — payload BYTES never shuffle (Spark's md5 runs
    map-side over the binary column); at 100 TB the checksum is
    usually precomputed at landing (`media_meta.checksum_md5` here —
    the same value, pinned equal in tests), making this metadata-only.
    """
    d = with_blob(documents)
    return (d.select("doc_id",
                     F.col("media_meta.mime").alias("mime"),
                     F.col("media_meta.n_bytes").alias("n_bytes"),
                     F.md5("payload").alias("payload_md5"))
            .groupBy("mime", "payload_md5")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies"),
                 (F.sum("n_bytes") - F.max("n_bytes"))
                 .cast("bigint").alias("bytes_reclaimable")))


SPECS: dict[str, Spec] = {
    "q_media_dedup": Spec(
        lambda spark, sf: media_dedup(load_table(spark, sf,
                                                 "documents")),
        """
        SELECT 'text/plain' AS mime, md5(text) AS payload_md5,
               MIN(doc_id) AS keep_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(SUM(octet_length(encode(text)))
                    - MAX(octet_length(encode(text))) AS BIGINT)
                 AS bytes_reclaimable
        FROM documents
        GROUP BY md5(text)
        """,
        "exact binary-payload dedup per mime (media analog of "
        "q_dedup_exact): payload bytes hash map-side and never "
        "shuffle; reports copies + reclaimable bytes"),
    "q_multimodal_meta": Spec(
        lambda spark, sf: media_metadata(load_table(spark, sf, "documents")),
        """
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               'text/plain' AS mime, md5(text) AS checksum_md5
        FROM documents
        """,
        "multimodal metadata projection (payload never scanned)"),
    "q_multimodal_decode": Spec(
        lambda spark, sf: decoded_feature_stats(load_table(spark, sf, "documents")),
        _DECODE_ORACLE,
        "multimodal decode via mapInPandas (fake kernel, byte moments)"),
    "q_multimodal_resize": Spec(
        lambda spark, sf: resize_thumbnail(load_table(spark, sf, "documents")),
        _RESIZE_ORACLE,
        "resize kernel shape: payload → fixed-width thumbnail (mapInPandas)"),
    "q_multimodal_frames": Spec(
        lambda spark, sf: frame_sample(load_table(spark, sf, "documents")),
        _FRAMES_ORACLE,
        "frame-sample kernel shape: payload → strided frame rows (mapInPandas)"),
    "q_multimodal_embed": Spec(
        lambda spark, sf: embed_search(load_table(spark, sf, "documents")),
        """
        WITH cp AS (
          SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                 list_transform(string_split(text, ''), c -> ord(c)) AS bs
          FROM documents),
        f AS (
          SELECT doc_id,
                 [CAST(n_bytes AS DOUBLE),
                  list_aggregate(bs, 'sum') / CAST(n_bytes AS DOUBLE),
                  CAST(list_aggregate(bs, 'max') AS DOUBLE),
                  CAST(list_aggregate(bs, 'min') AS DOUBLE)] AS features
          FROM cp),
        q AS (SELECT features AS qf FROM f WHERE doc_id = 0)
        SELECT doc_id,
               ROUND(list_aggregate(list_transform(list_zip(features, q.qf),
                         x -> x[1] * x[2]), 'sum') /
                     (sqrt(list_aggregate(list_transform(features, v -> v * v), 'sum'))
                      * sqrt(list_aggregate(list_transform(q.qf, v -> v * v), 'sum'))),
                     6) AS cosine_sim
        FROM f, q
        WHERE doc_id <> 0
        ORDER BY cosine_sim DESC, doc_id LIMIT 10
        """,
        "multimodal retrieval composite: mapInPandas decode → JVM cosine "
        "top-k (Python touches each payload once; search never sees blobs)"),
}
