"""Multimodal-column operators (mandated tier, BASELINE.json:6).

Media (image/audio/video) is modeled as opaque `binary` payloads with typed
metadata — the standard lakehouse layout for multimodal training data.  The
container has no image/audio codecs, so the DECODE step is a clearly-marked
deterministic fake (see `_fake_decode`); everything Spark-side — schema,
binary columns, Arrow batch plumbing through mapInPandas, partitioning — is
real and tested.

- multimodal_cols   text ⋈ embeddings ⋈ JSON-derived + numeric in one frame
                    (SQL oracle)
- mm_binary_meta    binary payload + typed metadata struct, columnar stats
                    (SQL oracle — payload synthesized from text, so DuckDB
                    can reproduce it with encode())
- mm_decode_stub    mapInPandas Arrow-batched "decode" of binary payloads
                    (SQL oracle: the fake decoder is a deterministic
                    polynomial over the payload bytes, recomputed in DuckDB)

Scale notes: binary payloads at 100 TB dominate row size — the decode
pipeline uses mapInPandas so payload bytes stream through Arrow in batches
and are never materialized driver-side; metadata-only queries prune the
binary column entirely at the parquet scan (columnar projection).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import SQL_FINITE_EMBEDDINGS, table


def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DataFrame mixing text, array<float>, JSON-derived and numerics:
    documents ⋈ embeddings (doc_id = vec_id) ⋈ per-user event JSON values."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    ev = table(spark, sf_dir, "events")
    kvals = ev.groupBy("user_id").agg(
        F.max(F.get_json_object("props", "$.k").cast("int")).alias("max_k")
    )
    return (
        d.join(e, d.doc_id == e.vec_id)
        .join(kvals, d.doc_id == kvals.user_id, "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.size("embedding").alias("dim"),
            F.element_at("embedding", 1).alias("e0"),
            "label",
            "max_k",
        )
    )


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload column + typed metadata, metadata-level stats.

    Payload = utf8 bytes of `text` (stands in for image bytes); metadata =
    struct(modality, byte length, source).  The aggregation touches only
    metadata — the plan prunes the payload column (verified in tests).
    """
    d = table(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("modality"),
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )
    return media.groupBy(F.col("meta.modality").alias("modality"), F.col("meta.origin").alias("origin")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# DECODE STUB — the container ships no media codecs (PIL/ffmpeg absent).
# A real deployment swaps `_fake_decode` for the codec call; the Spark-side
# contract (Arrow batches in, typed rows out, schema below) is unchanged.
# ---------------------------------------------------------------------------
_DECODE_SCHEMA = (
    "doc_id long, n_bytes int, checksum long, width int, height int, ok boolean"
)


def _fake_decode(payload: bytes) -> dict:
    """Deterministic fake 'image decode': derives pseudo width/height and a
    checksum from the bytes.  NOT a real decoder (no codecs in container)."""
    n = len(payload)
    checksum = 0
    for b in payload[:64]:
        checksum = (checksum * 131 + b) % 1_000_000_007
    return {
        "n_bytes": n,
        "checksum": checksum,
        "width": 16 + checksum % 240,
        "height": 16 + (checksum // 240) % 240,
        "ok": n > 0,
    }


def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode pipeline over binary payloads via mapInPandas.

    Real plumbing: binary column streams through Arrow record batches into
    pandas, per-batch vectorized work, typed schema out.  The decode itself
    is `_fake_decode` (deterministic stub; see module docstring).
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    # a NULL payload decodes to NULL metrics (not a crash, not a dropped
    # row) — the same row the SQL fold yields on NULL text; dtype=object
    # keeps the Nones intact through the Arrow conversion (nulls
    # degenerate corpus, round 6)
    _null_decode = {k: None for k in ("n_bytes", "checksum", "width", "height", "ok")}

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                _fake_decode(bytes(p)) if p is not None else dict(_null_decode)
                for p in pdf["payload"]
            ]
            out = pd.DataFrame(decoded, dtype="object")
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return d.mapInPandas(decode_batches, schema=_DECODE_SCHEMA)


_FEATURE_CLASSES = [
    ("f_lower", r"[a-z]"),
    ("f_upper", r"[A-Z]"),
    ("f_digit", r"[0-9]"),
    ("f_space", r" "),
    ("f_punct", r"[^A-Za-z0-9 ]"),
]


def mm_feature_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via mapInPandas:
    a fixed-width byte-class histogram per item (the deterministic stand-in
    for an image/audio embedding model — no codecs/models in the container;
    a real deployment swaps the histogram for the model forward pass, the
    Spark-side contract is identical: binary in, fixed-width typed vector
    out, one Arrow batch at a time).  Counts are exact integers, so the
    DuckDB oracle recomputes them with regexp_extract_all.
    """
    import re

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    patterns = [(name, re.compile(rx)) for name, rx in _FEATURE_CLASSES]

    # NULL payload => NULL feature vector (same as the SQL regexp fold on
    # NULL text); dtype=object preserves the Nones through Arrow
    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [
                bytes(p).decode("utf-8") if p is not None else None
                for p in pdf["payload"]
            ]
            out = {"doc_id": pdf["doc_id"].values}
            for name, rx in patterns:
                out[name] = [
                    len(rx.findall(t)) if t is not None else None for t in texts
                ]
            yield pd.DataFrame(out, dtype="object")

    schema = "doc_id long, " + ", ".join(f"{n} long" for n, _ in _FEATURE_CLASSES)
    return d.mapInPandas(featurize, schema=schema)


_RESIZE_BYTES = 256


def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched 'resize' over binary payloads via mapInPandas: every
    payload truncated-or-zero-padded to a fixed 256 bytes — the stand-in
    for image resize-to-fixed-resolution (no codecs in container; a real
    deployment swaps the slice for the resample call, keeping the
    bytes-in/fixed-bytes-out contract and batch shape).  Verified by exact
    integers: output length is constant and the byte-sum checksum equals
    the SQL fold over the first 256 payload bytes (zero padding adds 0).
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    # NULL payload: nothing to resize — NULL orig/checksum; the target
    # size stays the constant the contract promises (oracle: literal 256)
    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None:
                    rows.append((int(doc_id), None, _RESIZE_BYTES, None))
                    continue
                b = bytes(p)
                resized = b[:_RESIZE_BYTES].ljust(_RESIZE_BYTES, b"\0")
                rows.append((int(doc_id), len(b), len(resized), sum(resized)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "orig_bytes", "resized_bytes", "byte_sum"],
                dtype="object",
            )

    return d.mapInPandas(
        resize,
        schema="doc_id long, orig_bytes int, resized_bytes int, byte_sum long",
    )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: slice each payload into fixed
    256-byte 'frames' (stands in for video frame extraction — no codecs in
    container), keep every 4th frame.  Fully columnar, no Python: ONE
    regexp_extract_all chunk scan per doc below the Generate, then the
    generator explodes (idx, frame) struct pairs zipped from the strided
    index sequence (r13 linear shape — see the inline note).  At 100 TB
    the explode multiplies rows by frames-per-item, so the frame stride
    (sampling rate) is the knob that keeps output bounded."""
    frame, stride = 256, 4
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.encode("text", "utf-8").alias("payload")
    )
    # frames sliced via the string (testdata text is pure ASCII, so
    # char offsets == byte offsets; a real video payload would slice
    # the BLOB directly — DuckDB's oracle dialect lacks blob substring,
    # hence the string route for the differential).  r13 scale fix (the
    # dedup_chunk O(len²) disease, strided flavor): per-exploded-row
    # substring(text, frame_idx*256+1, 256) seeks O(frame_idx) code
    # points from the string start per frame — O(len²/stride) per doc.
    # Linear shape: ALL char chunks in ONE regexp scan (computed below
    # the Generate, once per doc), then the generator zips the strided
    # byte-count-based index sequence with O(1) array element access —
    # (idx, frame) struct pairs exploded together so the chunk array is
    # consumed by the generator, never carried per-row.  The frame COUNT
    # stays byte-based (ceil(n_bytes/256)) while chunks are char-based,
    # exactly the original mixed semantics: strided indexes past the
    # char-chunk array (non-ASCII payloads) yield '' frames, matching
    # substring-beyond-length.
    base = d.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.expr(f"regexp_extract_all(text, '(?s).{{1,{frame}}}', 0)").alias(
            "fr"
        ),
    )
    # empty-payload guard (ADVICE r13): ceil(0/256)-1 = -1 makes
    # sequence(0, -1, 4) throw 'Illegal sequence boundaries', so the upper
    # bound is floored at 0 and the spurious index is filtered by the
    # i*frame < n_bytes predicate (for n_bytes > 0 the predicate is
    # equivalent to i <= ceil(n_bytes/frame)-1, so non-empty docs are
    # untouched; an empty doc yields zero frames, matching the oracle's
    # empty generate_series)
    pairs = F.expr(
        f"transform(filter(sequence(0, greatest(cast(ceil(n_bytes /"
        f" {frame}) as int) - 1, 0), {stride}),"
        f" i -> i * {frame} < n_bytes), i -> struct(i AS frame_idx,"
        f" coalesce(try_element_at(fr, i + 1), '') AS f))"
    )
    return (
        base.select(
            "doc_id", "n_bytes", F.explode(pairs).alias("s")
        ).select(
            "doc_id",
            "n_bytes",
            F.col("s.frame_idx").alias("frame_idx"),
            F.octet_length(F.encode(F.col("s.f"), "utf-8")).alias(
                "frame_bytes"
            ),
        )
    )


def mm_clip_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair alignment gate — the CLIP-score filter of a
    LAION-style multimodal curation pipeline: each pair is an (image
    embedding, caption embedding) couple, and pairs below the alignment
    threshold are flagged for drop.  Pairing is modeled on the embeddings
    table (even vec_id = image, odd vec_id = caption, pair_id = vec_id/2)
    since the container has no CLIP model; the join/score/gate plumbing is
    the production shape.

    Plan: one equi-join on pair_id (both sides derive from the same scan;
    at 100 TB image and caption embedding tables are bucketed on pair_id
    so the join is shuffle-free), cosine folded JVM-side (_expr.cosine),
    gate evaluated on the UNROUNDED cosine.  Emits every pair with its
    kept flag rather than filtering, so the driver verifies both sides of
    the gate.
    """
    from ._expr import cosine

    e = table(spark, sf_dir, "embeddings")
    img = e.filter(F.col("vec_id") % 2 == 0).select(
        F.expr("vec_id DIV 2").alias("pair_id"),
        F.col("vec_id").alias("img_id"),
        F.col("embedding").alias("img_vec"),
    )
    txt = e.filter(F.col("vec_id") % 2 == 1).select(
        F.expr("vec_id DIV 2").alias("pair_id"),
        F.col("vec_id").alias("txt_id"),
        F.col("embedding").alias("txt_vec"),
    )
    cos = F.expr(cosine("img_vec", "txt_vec"))
    return (
        img.join(txt, "pair_id")
        .select(
            "pair_id",
            "img_id",
            "txt_id",
            F.round(cos, 4).alias("clip_sim"),
            (cos >= 0.0).alias("kept"),
        )
    )


def mm_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sample manifest — the gather step before multimodal
    training: align every sample id's modalities (caption text,
    embedding vector, raw blob) via outer joins, flag what is present,
    and assign complete samples to md5-drawn shards.  Simulated
    incompleteness: captions missing for id ≡ 0 (mod 9), vectors for
    id ≡ 0 (mod 11); blob presence follows scan_binary_files' fixture
    rule (id ≡ 0 mod 13) so the manifest agrees with the blob store.

    This is the completeness ledger a dataloader consumes: `complete`
    requires caption + vector (blob optional metadata here), shard is
    the deterministic md5 bucket (split_train_holdout's draw).

    Scale: two outer joins on the sample id (bucket all modality tables
    on it and they are zero-exchange), one map-side projection after —
    no aggregate at all, linear at any corpus size.
    """
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 != 0)
        .select(F.col("doc_id").alias("sample_id"), "n_chars")
    )
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 11 != 0)
        .select(F.col("vec_id").alias("sample_id"), "label")
    )
    ids = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("sample_id"))
        .unionByName(
            table(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("sample_id")
            )
        )
        .distinct()
    )
    j = ids.join(d, "sample_id", "left").join(e, "sample_id", "left")
    has_text = F.col("n_chars").isNotNull()
    has_vec = F.col("label").isNotNull()
    complete = has_text & has_vec
    # first md5 hex char -> 0..15 -> 8 shards; strpos-based so both
    # engines share the exact same string-to-int path (no conv()/from_hex
    # dialect divergence)
    shard = F.expr(
        "(instr('0123456789abcdef',"
        " substring(md5(cast(sample_id as string)), 1, 1)) - 1) DIV 2"
    ).cast("long")
    return j.select(
        "sample_id",
        has_text.alias("has_text"),
        has_vec.alias("has_embedding"),
        (F.col("sample_id") % 13 == 0).alias("has_blob"),
        complete.alias("complete"),
        F.when(complete, shard).alias("shard"),
    )


# (name, rw, rh, tie_order, 144/(rw*rh)) — D = 144 is the lcm of the
# ratio denominators, so every score is an exact integer
_ASPECTS = [
    ("square_1_1", 1, 1, 0, 144),
    ("landscape_4_3", 4, 3, 1, 12),
    ("portrait_3_4", 3, 4, 2, 12),
    ("wide_16_9", 16, 9, 3, 1),
    ("tall_9_16", 9, 16, 4, 1),
]


def mm_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing — the multimodal batching step that groups
    images of similar shape so a batch shares one resize target (the
    SDXL-style bucketed-resolution recipe).  Dimensions are synthetic
    columnar integers (the codec-less container's stand-in, like
    mm_decode_stub's fake decode, but expressed portably so the bucket
    assignment is FULL-hash verifiable); the nearest of five standard
    aspects is an exact integer argmin — |w·rh − h·rw| rescaled by
    144/(rw·rh) puts all five scores over one common denominator, so no
    float or log ever picks a bucket.

    Scale: pure projection + a bounded 5-way argmin per row; the
    bucket-level batch counts downstream are one map-side aggregate.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = (16 + (F.col("n_chars") * 131) % 240).alias("w")
    h = (16 + (F.col("doc_id") * 37) % 240).alias("h")
    t = d.select("doc_id", w, h)
    scored = F.array(
        *[
            F.struct(
                (
                    F.abs(F.col("w") * rh - F.col("h") * rw) * scale
                ).alias("score"),
                F.lit(order).alias("ord"),
                F.lit(name).alias("bucket"),
            )
            for name, rw, rh, order, scale in _ASPECTS
        ]
    )
    best = F.array_min(scored)
    return t.select(
        "doc_id",
        "w",
        "h",
        best["bucket"].alias("aspect_bucket"),
        best["score"].cast("long").alias("score_144"),
    )


QUERIES = {
    "mm_aspect_bucket": mm_aspect_bucket,
    "mm_dataset_manifest": mm_dataset_manifest,
    "mm_clip_filter": mm_clip_filter,
    "multimodal_cols": multimodal_cols,
    "mm_binary_meta": mm_binary_meta,
    "mm_decode_stub": mm_decode_stub,
    "mm_feature_stub": mm_feature_stub,
    "mm_resize_stub": mm_resize_stub,
    "mm_frame_sample": mm_frame_sample,
}

def _clip_oracle() -> str:
    from ._expr import sql_cosine

    c = sql_cosine("a.embedding", "b.embedding")
    return f"""
        SELECT a.vec_id // 2 AS pair_id,
               a.vec_id AS img_id, b.vec_id AS txt_id,
               round({c}, 4) AS clip_sim,
               ({c} >= 0.0) AS kept
        FROM {SQL_FINITE_EMBEDDINGS} a JOIN {SQL_FINITE_EMBEDDINGS} b
          ON a.vec_id // 2 = b.vec_id // 2
        WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
    """


ORACLE = {
    "mm_aspect_bucket": """
        WITH t AS (
            SELECT doc_id,
                   16 + (n_chars * 131) % 240 AS w,
                   16 + (doc_id * 37) % 240 AS h
            FROM documents
        ),
        s AS (
            SELECT doc_id, w, h, a.bucket, a.ord,
                   abs(w * a.rh - h * a.rw) * a.scale AS score
            FROM t, (VALUES
                ('square_1_1', 1, 1, 0, 144),
                ('landscape_4_3', 4, 3, 1, 12),
                ('portrait_3_4', 3, 4, 2, 12),
                ('wide_16_9', 16, 9, 3, 1),
                ('tall_9_16', 9, 16, 4, 1)
            ) AS a(bucket, rw, rh, ord, scale)
        )
        SELECT doc_id, w, h, bucket AS aspect_bucket,
               CAST(score AS BIGINT) AS score_144
        FROM s
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY score, ord
        ) = 1
    """,
    "mm_dataset_manifest": f"""
        WITH ids AS (
            SELECT doc_id AS sample_id FROM documents
            UNION SELECT vec_id FROM {SQL_FINITE_EMBEDDINGS} embeddings
        ),
        d AS (
            SELECT doc_id AS sample_id, n_chars FROM documents
            WHERE doc_id % 9 <> 0
        ),
        e AS (
            SELECT vec_id AS sample_id, label FROM {SQL_FINITE_EMBEDDINGS} embeddings
            WHERE vec_id % 11 <> 0
        )
        SELECT i.sample_id,
               (d.n_chars IS NOT NULL) AS has_text,
               (e.label IS NOT NULL) AS has_embedding,
               (i.sample_id % 13 = 0) AS has_blob,
               (d.n_chars IS NOT NULL AND e.label IS NOT NULL) AS complete,
               CASE WHEN d.n_chars IS NOT NULL AND e.label IS NOT NULL
                    THEN CAST((strpos('0123456789abcdef', substring(
                             md5(CAST(i.sample_id AS VARCHAR)), 1, 1)) - 1)
                             // 2 AS BIGINT)
               END AS shard
        FROM ids i
        LEFT JOIN d USING (sample_id)
        LEFT JOIN e USING (sample_id)
    """,
    "mm_clip_filter": _clip_oracle(),
    "multimodal_cols": f"""
        SELECT d.doc_id, d.lang, d.n_chars,
               CAST(len(e.embedding) AS INT) AS dim,
               e.embedding[1] AS e0,
               e.label,
               k.max_k
        FROM documents d
        JOIN {SQL_FINITE_EMBEDDINGS} e ON d.doc_id = e.vec_id
        LEFT JOIN (
            SELECT user_id,
                   MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
            FROM events GROUP BY user_id
        ) k ON d.doc_id = k.user_id
    """,
    "mm_frame_sample": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               CAST(i AS INT) AS frame_idx,
               CAST(octet_length(encode(substring(text, CAST(i * 256 + 1 AS INT), 256))) AS INT) AS frame_bytes
        FROM documents,
             UNNEST(generate_series(0,
                 CAST(ceil(octet_length(encode(text)) / 256.0) AS INT) - 1, 4)) AS t(i)
    """,
    # the fake decode is pure integer arithmetic over the payload bytes, so
    # DuckDB reproduces checksum/width/height exactly.  The oracle folds
    # per UTF-8 BYTE, matching _fake_decode: bytes come from hex(encode())
    # expanded nibble-by-nibble (strpos into the hex alphabet), so the
    # contract survives non-ASCII text (round 7's unicode corpus broke the
    # previous per-CHARACTER ascii(substr()) fold on multibyte input)
    "mm_decode_stub": """
        WITH c AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes
            FROM documents
        ),
        f AS (
            SELECT doc_id, n_bytes,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(generate_series(1, least(64, n_bytes)),
                               i -> CAST(16*(strpos('0123456789ABCDEF', substr(h, 2*i-1, 1))-1)
                                       +    (strpos('0123456789ABCDEF', substr(h, 2*i,   1))-1)
                                    AS BIGINT))),
                       (acc, b) -> (acc * 131 + b) % 1000000007) AS checksum
            FROM c
        )
        SELECT doc_id, n_bytes, checksum,
               CAST(16 + checksum % 240 AS INT) AS width,
               CAST(16 + (checksum // 240) % 240 AS INT) AS height,
               n_bytes > 0 AS ok
        FROM f
    """,
    # byte-sum fold over the first 256 payload BYTES (hex-expanded, same
    # technique as mm_decode_stub); zero padding contributes nothing, so
    # the resized checksum equals the truncated fold
    "mm_resize_stub": """
        WITH c AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) AS nb
            FROM documents
        )
        SELECT doc_id,
               CAST(nb AS INT) AS orig_bytes,
               CAST(256 AS INT) AS resized_bytes,
               CAST(CASE WHEN h IS NULL THEN NULL
                    ELSE coalesce(list_aggregate(
                        list_transform(generate_series(1, least(256, nb)),
                            i -> CAST(16*(strpos('0123456789ABCDEF', substr(h, 2*i-1, 1))-1)
                                    +    (strpos('0123456789ABCDEF', substr(h, 2*i,   1))-1)
                                 AS BIGINT)),
                        'sum'), 0) END AS BIGINT) AS byte_sum
        FROM c
    """,
    "mm_feature_stub": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z]')) AS BIGINT) AS f_lower,
               CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS f_upper,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS f_digit,
               CAST(len(regexp_extract_all(text, ' ')) AS BIGINT) AS f_space,
               CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS f_punct
        FROM documents
    """,
    "mm_binary_meta": """
        SELECT 'text/plain' AS modality, source AS origin,
               COUNT(*) AS n_items,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MAX(octet_length(encode(text))) AS INT) AS max_bytes
        FROM documents GROUP BY source
    """,
}
