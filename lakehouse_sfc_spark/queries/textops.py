"""Text-analysis and multimodal operators over ``documents`` — the
quality/filtering stages of a training-data pipeline (language ID, quality
scoring, token counting, fingerprinting, multimodal decode plumbing).

Everything except the multimodal decode is pure built-in expressions
(JVM-side, codegen-friendly); the decode stage demonstrates the Arrow
``mapInPandas`` path with a deterministic fake codec
(see operators/multimodal.py).

Cross-engine notes: token counts cast to BIGINT on both sides (Spark ``size``
is INT, DuckDB ``len`` is BIGINT); ratios are computed with the identical
expression tree in both engines so doubles are bit-equal; regex patterns stay
within the ASCII subset where Java regex and RE2 agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_sfc_spark.operators.multimodal import (
    AUDIO_REAL_SCHEMA,
    AUDIO_SCHEMA,
    FLAC_REAL_SCHEMA,
    PDF_META_SCHEMA,
    TARGZ_REAL_SCHEMA,
    ZIP_REAL_SCHEMA,
    DECODED_SCHEMA,
    DECODED_STATS_SCHEMA,
    RESIZED_SCHEMA,
    audio_features_stub_batches,
    audio_real_stats_batches,
    decode_stub_batches,
    decode_real_stats_batches,
    resize_stub_batches,
    synth_audio_batches,
    synth_flac_batches,
    flac_real_stats_batches,
    synth_pdf_batches,
    pdf_meta_batches,
    synth_targz_batches,
    targz_real_stats_batches,
    synth_zip_batches,
    zip_real_stats_batches,
    synth_gif_batches,
    synth_image_batches,
    synth_png_batches,
)
from lakehouse_sfc_spark.queries.registry import register
from lakehouse_sfc_spark.sources.loader import load_table, materialize_once

# shared normalized tokenization (same as datapipe)
_SQL_TOKENS = (
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)


def _tokens(c: Column) -> Column:
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


# --- T1: token counting -----------------------------------------------------

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_SQL_TOKENS})::BIGINT AS ws_tokens,
           len(regexp_extract_all(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                 '{_BPE_RE}'))::BIGINT AS bpe_tokens,
           strlen(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))::BIGINT
             AS n_bytes_norm
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword proxy (letter runs, digit
    runs, single punctuation — the standard pre-tokenizer split) counted with
    ``regexp_count`` so the whole thing stays in codegen."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        F.size(F.split(norm, " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(norm, F.lit(_BPE_RE)).cast("bigint").alias("bpe_tokens"),
        F.octet_length(norm).cast("bigint").alias("n_bytes_norm"),
    )


# --- T2: quality scoring ----------------------------------------------------

_EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS w FROM documents
    ), m AS (
      SELECT doc_id,
             len(w)::BIGINT AS n_words,
             list_sum(list_transform(w, x -> strlen(x)))::DOUBLE / len(w)
               AS mean_wlen,
             len(list_intersect(list_distinct(w),
                 ['the','a','of','and','to','in','is','for','on','with']
               ))::DOUBLE / len(list_distinct(w)) AS stop_ratio
      FROM t WHERE len(w) > 0
    )
    SELECT doc_id, n_words,
           floor(mean_wlen * 10000) / 10000 AS mean_wlen,
           floor(stop_ratio * 10000) / 10000 AS stop_ratio,
           floor((0.5 * stop_ratio
                  + 0.5 * (least(n_words, 200) / 200.0)) * 10000) / 10000
             AS quality
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length credit + stopword-density credit
    (the classic Gopher/C4-style cheap filters).  Pure rational arithmetic in
    an identical expression tree on both engines ⇒ bit-equal doubles."""
    d = load_table(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    t = d.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    n_words = F.size("w").cast("bigint")
    sum_len = F.aggregate(
        F.transform(F.col("w"), lambda x: F.octet_length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_wlen = sum_len.cast("double") / F.size("w")
    distinct_w = F.array_distinct(F.col("w"))
    stop_ratio = (
        F.size(
            F.array_intersect(distinct_w, F.array(*[F.lit(s) for s in _EN_STOP]))
        ).cast("double")
        / F.size(distinct_w)
    )
    m = t.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        stop_ratio.alias("stop_ratio"),
    )
    def fl4(c: Column) -> Column:
        # floor-truncation instead of round(): Spark rounds the decimal
        # rendering HALF_UP while DuckDB rounds the binary double, so values
        # landing on a .5 boundary (easy with /200-style rationals) diverge.
        return F.floor(c * 10000) / 10000

    return m.select(
        "doc_id",
        "n_words",
        fl4(F.col("mean_wlen")).alias("mean_wlen"),
        fl4(F.col("stop_ratio")).alias("stop_ratio"),
        fl4(
            F.lit(0.5) * F.col("stop_ratio")
            + F.lit(0.5) * (F.least(F.col("n_words"), F.lit(200)) / F.lit(200.0))
        ).alias("quality"),
    )


# --- T3: language ID --------------------------------------------------------

_LANG_STOPS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
}


def _sql_hits(lang: str) -> str:
    lst = ", ".join(f"'{s}'" for s in _LANG_STOPS[lang])
    return f"len(list_intersect(dw, [{lst}]))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, list_distinct({_SQL_TOKENS}) AS dw FROM documents
    ), p AS (
      SELECT lang,
             CASE
               WHEN {_sql_hits("en")} >= {_sql_hits("es")}
                AND {_sql_hits("en")} >= {_sql_hits("de")}
                AND {_sql_hits("en")} >= {_sql_hits("fr")} THEN 'en'
               WHEN {_sql_hits("es")} >= {_sql_hits("de")}
                AND {_sql_hits("es")} >= {_sql_hits("fr")} THEN 'es'
               WHEN {_sql_hits("de")} >= {_sql_hits("fr")} THEN 'de'
               ELSE 'fr'
             END AS pred_lang
      FROM t
    )
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM p GROUP BY lang, pred_lang
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram-heuristic family) with a fixed
    tie-break priority en>es>de>fr, reported as a truth×prediction confusion
    table.  One narrow projection + one small groupBy — scales as a scan."""
    d = load_table(spark, sf_dir, "documents")
    dw = F.array_distinct(_tokens(F.col("text")))
    t = d.select("doc_id", "lang", dw.alias("dw"))

    def hits(lang: str) -> Column:
        return F.size(
            F.array_intersect(
                F.col("dw"), F.array(*[F.lit(s) for s in _LANG_STOPS[lang]])
            )
        )

    en, es, de, fr = (hits(x) for x in ("en", "es", "de", "fr"))
    pred = (
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return (
        t.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- T4: fingerprinting -----------------------------------------------------


@register(
    "text_fingerprint",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_SQL_TOKENS})), ' '))
               AS fp
      FROM documents WHERE text IS NOT NULL
    )
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM f GROUP BY fp HAVING COUNT(*) >= 2
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint (md5 of the sorted distinct vocabulary):
    groups word-set-identical documents regardless of word order — the cheap
    middle ground between exact dedup and MinHash.  Shuffles 32-byte
    fingerprints only.  NULL text is excluded both sides (Spark concat_ws
    silently maps a NULL token array to '', DuckDB array_to_string keeps
    NULL — the fingerprint of nothing is defined as absent, not '')."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens(F.col("text"))))))
    return (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )


# --- T5/T6: multimodal decode plumbing --------------------------------------


def _with_payload(d: DataFrame) -> DataFrame:
    """Attach the opaque binary payload + typed metadata a multimodal table
    carries (here a deterministic fake derived from the text bytes).
    NULL-text rows carry no payload and are excluded — a decoder has
    nothing to decode; every stub oracle mirrors ``WHERE text IS NOT
    NULL``.  (Empty payloads stay: zero-byte blobs are decodable.)"""
    d = d.filter(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        (F.pmod(F.col("doc_id") * 37, F.lit(640)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id") * 53, F.lit(480)) + 16).cast("int").alias("height"),
    )


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           strlen(text)::BIGINT AS n_bytes,
           md5(text) AS checksum,
           ((doc_id * 37) % 640 + 16)::INTEGER AS width,
           ((doc_id * 53) % 480 + 16)::INTEGER AS height,
           (strlen(text) % 7 + 1)::INTEGER AS frames
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode via Arrow ``mapInPandas`` (deterministic stub
    codec — see operators/multimodal.py for the real-decode seam).  Exercises
    the full multimodal plumbing: binary payload column, typed metadata,
    Python batch iteration, stable output schema."""
    d = load_table(spark, sf_dir, "documents")
    return _with_payload(d).mapInPandas(decode_stub_batches, DECODED_SCHEMA)


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           ((doc_id * 37) % 640 + 16)::INTEGER AS width,
           ((doc_id * 53) % 480 + 16)::INTEGER AS height,
           GREATEST(1, FLOOR(((doc_id * 37) % 640 + 16)
             * (224.0 / GREATEST((doc_id * 37) % 640 + 16,
                                 (doc_id * 53) % 480 + 16))))::INTEGER AS out_w,
           GREATEST(1, FLOOR(((doc_id * 53) % 480 + 16)
             * (224.0 / GREATEST((doc_id * 37) % 640 + 16,
                                 (doc_id * 53) % 480 + 16))))::INTEGER AS out_h
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize-to-fit-224: the pixel interpolation is
    stubbed (no codec in this container) but the geometry arithmetic and the
    Arrow mapInPandas stage are the production shape.  Embarrassingly
    parallel — no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return _with_payload(d).mapInPandas(resize_stub_batches, RESIZED_SCHEMA)


@register(
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id,
           strlen(text)::BIGINT AS n_samples,
           strlen(text) / 16000.0 AS duration_s,
           (strlen(text) - strlen(replace(text, ' ', '')))::BIGINT AS crossings
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over binary payloads (PCM-ish stub: sample
    count, 16 kHz duration, threshold-crossing count standing in for
    zero-crossing rate).  Swapping in a real codec + DSP kernel changes only
    the pandas function body, not the Spark plumbing."""
    d = load_table(spark, sf_dir, "documents")
    return _with_payload(d).mapInPandas(
        audio_features_stub_batches, AUDIO_SCHEMA
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, f.frame_idx::INTEGER AS frame_idx
    FROM (SELECT doc_id, (strlen(text) % 7 + 1) AS frames FROM documents
          WHERE text IS NOT NULL),
         LATERAL (SELECT unnest(range(0, frames)) AS frame_idx) f
    WHERE f.frame_idx % 2 = 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over decoded video metadata: explode per-doc frame
    indices, keep every 2nd frame.  Explode-then-filter is collapsed by
    Catalyst into a single generate; no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    decoded = _with_payload(d).mapInPandas(decode_stub_batches, DECODED_SCHEMA)
    return (
        decoded.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("frames") - 1)
            ).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % 2 == 0)
        .select("doc_id", F.col("frame_idx").cast("int").alias("frame_idx"))
    )


@register(
    "multimodal_decode_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 17)::INTEGER AS width,
             (8 + doc_id % 13)::INTEGER AS height
      FROM documents WHERE doc_id % 7 = 0
    ),
    g AS (
      SELECT p.doc_id, p.width, p.height, x.r AS x, y.r AS y
      FROM p, LATERAL (SELECT unnest(range(0, p.width)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.height)) AS r) y
    )
    SELECT doc_id,
           (54 + ((MIN(width)*3 + 3) - ((MIN(width)*3 + 3) % 4))
                 * MIN(height))::BIGINT AS n_bytes,
           MIN(width)::INTEGER AS width,
           MIN(height)::INTEGER AS height,
           1::INTEGER AS frames,
           SUM(3 * ((3*x + 7*y + doc_id) % 251))::BIGINT AS pixel_sum
    FROM g GROUP BY doc_id
    """,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end-to-end: deterministic RGB grids derived from
    doc_id are encoded as genuine 24-bit BMPs (``encode_bmp``), pushed
    through the production ``decode_real_batches`` kernel, and content-
    checked via ``pixel_sum`` over the decoded array.  Every output column
    is a closed-form function of doc_id, so the oracle verifies the actual
    byte-level encode→decode round trip (header layout, bottom-up rows, BGR
    order, 4-byte row padding) — not a stub.  Two Arrow mapInPandas stages,
    no shuffle; at 100 TB this is the same embarrassingly-parallel decode
    lane as ``multimodal_decode`` with a real codec plugged in."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(17)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_image_batches, "doc_id bigint, payload binary, width int, height int"
    )
    return encoded.mapInPandas(decode_real_stats_batches, DECODED_STATS_SCHEMA)


@register(
    "multimodal_audio_real",
    oracle="""
    WITH p AS (
      SELECT doc_id, (400 + doc_id % 257)::BIGINT AS n
      FROM documents WHERE doc_id % 7 = 0
    ),
    g AS (
      SELECT p.doc_id, p.n, i.r AS i
      FROM p, LATERAL (SELECT unnest(range(0, p.n)) AS r) i
    )
    SELECT doc_id,
           16000::INTEGER AS sample_rate,
           MIN(n)::BIGINT AS n_samples,
           MIN(n) / 16000.0 AS duration_s,
           SUM((7*doc_id + 13*i) % 4001 - 2000)::BIGINT AS sum_samples
    FROM g GROUP BY doc_id
    """,
)
def multimodal_audio_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec end-to-end: deterministic int16 waveforms are
    encoded as genuine RIFF/WAVE PCM-16 payloads (``encode_wav_pcm16``),
    decoded back with ``decode_wav`` (RIFF chunk walk), and checked on
    sample count, rate, duration, and the exact integer sample sum — a
    closed-form function of doc_id the oracle reproduces.  No shuffle."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(257)) + 400).cast("long").alias("n_samples"),
    )
    encoded = params.mapInPandas(
        synth_audio_batches, "doc_id bigint, payload binary"
    )
    return encoded.mapInPandas(audio_real_stats_batches, AUDIO_REAL_SCHEMA)


@register(
    "multimodal_png_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 17)::INTEGER AS width,
             (8 + doc_id % 13)::INTEGER AS height
      FROM documents WHERE doc_id % 7 = 0
    ),
    g AS (
      SELECT p.doc_id, p.width, p.height, x.r AS x, y.r AS y
      FROM p, LATERAL (SELECT unnest(range(0, p.width)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.height)) AS r) y
    )
    SELECT doc_id,
           MIN(width)::INTEGER AS width,
           MIN(height)::INTEGER AS height,
           1::INTEGER AS frames,
           SUM(3 * ((3*x + 7*y + doc_id) % 251))::BIGINT AS pixel_sum
    FROM g GROUP BY doc_id
    """,
)
def multimodal_png_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED image codec end-to-end: the same deterministic grids
    as ``multimodal_decode_real``, but encoded as genuine zlib-DEFLATE PNGs
    (``encode_png``) and decoded back through the production kernel
    (``decode_png``: chunk walk, CRC checks, scanline unfilter).  n_bytes is
    excluded from the contract — DEFLATE output size is library-version-
    dependent — but geometry and the full pixel content check are closed-
    form.  Proves the 'compressed codecs need external libs' boundary only
    holds for JPEG/MP3: PNG's DEFLATE is in the Python stdlib."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(17)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_png_batches, "doc_id bigint, payload binary, width int, height int"
    )
    return encoded.mapInPandas(
        decode_real_stats_batches, DECODED_STATS_SCHEMA
    ).drop("n_bytes")


@register(
    "multimodal_jpeg_real",
    oracle="""
    SELECT doc_id,
           (16 + doc_id % 17)::INTEGER AS width,
           (8 + doc_id % 13)::INTEGER AS height,
           1::INTEGER AS frames,
           TRUE AS fidelity_ok
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def multimodal_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG end-to-end: deterministic grids encoded with the
    pure-numpy DCT + canonical-Huffman encoder (operators/jpeg.py), decoded
    back through the production image-decode path.  JPEG is lossy, so the
    oracle checks closed-form geometry plus ``fidelity_ok`` — PSNR of the
    decoded pixels against the re-synthesized source grid >= 30 dB, a
    threshold the codec clears by ~20 dB so float wobble can never flip the
    row (the exact-PSNR distribution is asserted in pytest, and the
    bit-exact content contracts live with the lossless codecs
    multimodal_decode_real / multimodal_png_real)."""
    import numpy as np
    import pandas as pd

    from lakehouse_sfc_spark.operators.jpeg import decode_jpeg
    from lakehouse_sfc_spark.operators.multimodal import (
        _synth_pixels,
        synth_jpeg_batches,
    )

    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(17)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_jpeg_batches, "doc_id bigint, payload binary, width int, height int"
    )

    def _check(batches):
        for pdf in batches:
            rows = {"doc_id": [], "width": [], "height": [],
                    "frames": [], "fidelity_ok": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_jpeg(bytes(payload))
                src = _synth_pixels(
                    int(doc_id), px.shape[1], px.shape[0]
                )
                mse = float(np.mean((px.astype(np.float64) - src) ** 2))
                psnr = 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(px.shape[1])
                rows["height"].append(px.shape[0])
                rows["frames"].append(1)
                rows["fidelity_ok"].append(bool(psnr >= 30.0))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int32"),
                    "height": pd.Series(rows["height"], dtype="int32"),
                    "frames": pd.Series(rows["frames"], dtype="int32"),
                    "fidelity_ok": pd.Series(rows["fidelity_ok"], dtype="bool"),
                }
            )

    return encoded.mapInPandas(
        _check,
        "doc_id bigint, width int, height int, frames int, fidelity_ok boolean",
    )


@register(
    "multimodal_frames_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (3 + doc_id % 5)::INTEGER AS n_frames,
             (16 + doc_id % 9)::INTEGER AS width,
             (12 + doc_id % 7)::INTEGER AS height
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT doc_id, f.fi::INTEGER AS frame_idx, (f.fi * 100)::BIGINT AS ts_ms,
           width, height, TRUE AS fidelity_ok
    FROM p, LATERAL (SELECT unnest(range(0, n_frames)) AS fi) f
    WHERE f.fi % 2 = 0
    """,
)
def multimodal_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end-to-end: deterministic per-frame RGB
    grids are encoded as genuine MJPEG-in-AVI containers (RIFF chunk
    layout + per-frame baseline JPEG, ``operators/avi.py``), demuxed and
    decoded back through the production chunk walker + JPEG decoder, and
    every 2nd frame is kept — replacing ``multimodal_frame_sample``'s
    metadata stub with the full container→codec→sample path (reference
    video ingestion parity; completes the BMP/WAV/PNG/JPEG real-codec
    family).  Frame count, geometry, and integer timestamps (fps=10 →
    ts_ms = 100·frame_idx) are closed-form in doc_id; pixel content is
    PSNR-checked per frame against the re-synthesized grid with a unique
    seed per (doc, frame) so a demuxer that repeated or reordered frames
    would fail fidelity_ok.

    Plan shape: two Arrow mapInPandas stages (encode, demux+decode) and a
    JVM-side sample filter — embarrassingly parallel, no shuffle; at
    100 TB this is the standard frame-extraction lane with the container
    parser swapped for ffmpeg bindings."""
    from lakehouse_sfc_spark.operators.multimodal import (
        VIDEO_FRAMES_SCHEMA,
        avi_frames_stats_batches,
        synth_avi_batches,
    )

    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(5)) + 3).cast("int").alias("n_frames"),
        (F.pmod(F.col("doc_id"), F.lit(9)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(7)) + 12).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_avi_batches, "doc_id bigint, payload binary"
    )
    return encoded.mapInPandas(
        avi_frames_stats_batches, VIDEO_FRAMES_SCHEMA
    ).filter(F.col("frame_idx") % 2 == 0)


# --- training-batch preparation ---------------------------------------------

_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (W - S = 16 tokens of overlap)


@register(
    "text_chunk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS w FROM documents
    ), c AS (
      SELECT doc_id, len(w) AS n, k.k AS chunk_idx,
             w[1 + k.k * {_CHUNK_S} :
               LEAST(1 + k.k * {_CHUNK_S} + {_CHUNK_W} - 1, len(w))] AS chunk
      FROM t, LATERAL (
        SELECT unnest(range(0, ((len(w) - 1) // {_CHUNK_S}) + 1)) AS k
      ) k
      WHERE len(w) > 0
    )
    SELECT doc_id, chunk_idx,
           len(chunk)::BIGINT AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM c
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 64, stride 48) — the
    pre-training document splitter.  Pure built-ins: one sequence explode
    per doc + array slice + md5 content hash, no shuffle (embarrassingly
    parallel over docs); the hash gives the oracle an exact content check
    on every chunk.  At 100 TB chunking is a map-only stage — exactly this
    plan."""
    d = load_table(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    t = d.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    k = F.explode(
        F.sequence(
            F.lit(0), F.floor((F.size("w") - 1) / _CHUNK_S).cast("long")
        )
    ).alias("chunk_idx")
    c = t.select("doc_id", F.size("w").alias("n"), "w", k)
    chunk = F.slice(F.col("w"), F.col("chunk_idx").cast("int") * _CHUNK_S + 1, _CHUNK_W)
    return c.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


_PACK_BUDGET = 4096  # tokens per packed sequence


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_SQL_TOKENS})::BIGINT AS n FROM documents
    ), o AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM t
    )
    SELECT CAST(before // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           SUM(n)::BIGINT AS n_tokens
    FROM o GROUP BY 1
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-quantized sequence packing: documents in doc_id order are
    assigned to fixed token-budget packs by exclusive-prefix-sum division —
    the deterministic, fully-parallel cousin of greedy first-fit packing
    (whose boundaries depend sequentially on every earlier pack; the
    quantized rule overpacks a pack by at most one document, which training
    pipelines handle by truncation).

    The prefix sum is DISTRIBUTED (operators/prefix.py): range-partition on
    doc_id, per-partition offsets to the driver, in-partition running sums
    under a partition-id window — no Exchange SinglePartition anywhere
    (plan-guarded), unlike the bare global-order window the oracle uses."""
    from lakehouse_sfc_spark.operators.prefix import exclusive_prefix_sum

    d = load_table(spark, sf_dir, "documents")
    n = F.size(_tokens(F.col("text"))).cast("bigint")
    t = d.select("doc_id", n.alias("n"))
    o = exclusive_prefix_sum(t, "doc_id", "n", "before")
    return (
        o.select(
            F.floor(F.col("before") / _PACK_BUDGET).cast("bigint").alias("pack_id"),
            "n",
        )
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "sample_split",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           SUM(doc_id)::BIGINT AS id_checksum
    FROM b GROUP BY 1
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (80/10/10): the
    assignment depends only on the document text, so it is stable across
    runs, engines, and re-shards — the property a leakage-free split needs
    (row-number splits reshuffle membership whenever upstream order
    changes).  Map-only + one tiny groupBy; the checksum pins the exact
    membership, not just the counts."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


# --- TF-IDF keyword extraction ---------------------------------------------


@register(
    "text_tfidf",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, UNNEST({_SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM terms WHERE term <> '' GROUP BY 1, 2
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * n.n / df.df AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
        WHERE tf.doc_id % 199 = 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rk
        FROM scored
    )
    SELECT doc_id, term, tf, df, score, rk
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 highest-scoring terms per sampled
    document (doc_id % 199), with document frequencies computed over the
    FULL corpus.  The idf factor is the linear ratio N/df rather than
    ln(N/df): ln is evaluated by different libm implementations across
    engines (not reproducible bit-for-bit), the ratio preserves the exact
    same per-document ranking for single-term scores, and (tf·N)/df is an
    all-integer numerator with ONE double division — cross-engine exact.

    Scale shape: tf is one shuffle on (doc, term); df re-aggregates the
    already-reduced tf relation (term key); the corpus size joins in as a
    broadcast 1-row frame; ranking is a per-doc window after the sample
    filter has cut the fact side.  No driver-side loops, no collects."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.filter(F.col("doc_id") % 199 == 0)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tf") * F.col("n") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rk")
        .orderBy("doc_id", "rk")
    )


# --- T6: BM25 keyword search -------------------------------------------------

_BM25_TERMS = ("spark", "join", "scan")

# Rational BM25 (k1 = 6/5, b = 3/4), cleared of fractions so every factor is
# an exact BIGINT:  idf_lin = (2N - 2df + 1)/(2df + 1)  [Robertson idf with
# the log dropped — ln is libm-dependent across engines and the per-term doc
# ranking is unchanged by a monotone transform];  tf-norm multiplied through
# by 10L:  22·tf·L / (10·L·tf + 3·L + 9·dl·N).  Two correctly-rounded double
# divisions and one multiply — bit-identical in Spark and DuckDB.


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, UNNEST({_SQL_TOKENS}) AS term FROM documents
    ),
    toks AS (SELECT doc_id, term FROM terms WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    corpus AS (
        SELECT COUNT(*) AS n, SUM(dl) AS l
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term IN {tuple(_BM25_TERMS)!r} GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.term, tf.doc_id, tf.tf, dl.dl,
               (CAST(2 * c.n - 2 * df.df + 1 AS DOUBLE) / (2 * df.df + 1))
               * (CAST(22 * tf.tf * c.l AS DOUBLE)
                  / (10 * c.l * tf.tf + 3 * c.l + 9 * dl.dl * c.n))
                 AS score
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN corpus c
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY term ORDER BY score DESC, doc_id
        ) AS rk
        FROM scored
    )
    SELECT term, doc_id, tf, dl, score, rk
    FROM ranked WHERE rk <= 10
    ORDER BY term, rk
    """,
    headline=True,  # r11 verdict task 3: text family under the bench gate
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: top-10 documents per query term, scored with
    length normalization (k1=1.2, b=0.75) against full-corpus statistics.

    Cross-engine exactness: the score is evaluated as (a/b)·(c/d) where
    a,b,c,d are exact BIGINT polynomials in (tf, df, dl, N, L) — see the
    derivation above.  IEEE division and multiplication are correctly
    rounded, so identical integer inputs + identical expression shape =>
    identical doubles; only transcendental idf (ln) would break that, and
    it is deliberately replaced by the monotone linear idf.

    Scale shape (round 12, guide §2.3/§2.4): the tokenized corpus is
    materialized ONCE (repartition to width + materialize_once — the
    single-row-group scan otherwise tokenizes on one task, three times:
    dl, corpus and tf each re-derived the explode).  Per-doc length is
    ``size()`` on the token array — no explode and no full-corpus shuffle
    for dl at all (the old shape shuffled every token to count them;
    docs with zero non-empty tokens never entered dl there, hence the
    ``dl > 0`` filter here).  tf explodes only the array_filter'd query
    terms, so the one remaining wide shuffle carries |terms|·|matching
    docs| rows.  df re-aggregates tf; corpus stats broadcast as a 1-row
    frame; the final ranking windows over |query terms| partitions.  At
    true 100 TB the BIGINT products approach 2^63 — route them through
    DECIMAL(38,0) at that point (documented, not needed at bench scale)."""
    from lakehouse_sfc_spark.sources.loader import compute_width

    docs = load_table(spark, sf_dir, "documents")
    tok = materialize_once(
        docs.repartition(compute_width(spark)).select(
            "doc_id",
            F.filter(_tokens(F.col("text")), lambda t: t != "").alias("w"),
        )
    )
    # Round 13 (§2.3/§2.4): dl rides the tf rows instead of joining back.
    # Both derive from the SAME token row, so attaching size(w) before the
    # query-term explode removes the old tf ⋈ dl equi-join — which shuffled
    # the FULL per-doc length relation by doc_id to reach the few
    # |terms|·|matching docs| tf rows.  Two exchanges gone (tf side +
    # all-docs dl side); corpus stats stay a map-side global aggregate.
    base = tok.select(
        "doc_id",
        F.size("w").alias("dl"),
        F.filter("w", lambda t: t.isin(*_BM25_TERMS)).alias("qt"),
    ).filter(F.col("dl") > 0)
    corpus = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("l")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("qt").alias("term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.first("dl").alias("dl"),  # constant within the group
        )
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            (
                (
                    (2 * F.col("n") - 2 * F.col("df") + 1).cast("double")
                    / (2 * F.col("df") + 1)
                )
                * (
                    (22 * F.col("tf") * F.col("l")).cast("double")
                    / (
                        10 * F.col("l") * F.col("tf")
                        + 3 * F.col("l")
                        + 9 * F.col("dl") * F.col("n")
                    )
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("term", "doc_id", "tf", "dl", "score", "rk")
        .orderBy("term", "rk")
    )


# --- T7: PII detection / redaction ------------------------------------------

_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"

# The synthetic corpus is word-salad with no real PII, so the query embeds a
# deterministic PII payload derived from doc_id (same construction in both
# engines) — the detection/redaction kernels then have real positives to
# find, the same way multimodal_*_real derives payloads from doc_id.
_SQL_PII_TEXT = """
    text || CASE
      WHEN doc_id % 3 = 0
        THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      WHEN doc_id % 5 = 0
        THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE ''
    END
"""


@register(
    "text_pii_scan",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id, source, ({_SQL_PII_TEXT}) AS t FROM documents
    ),
    hits AS (
      SELECT source,
             len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_email,
             len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phone,
             length(regexp_replace(regexp_replace(t, '{_EMAIL_RE}',
                      '[EMAIL]', 'g'), '{_PHONE_RE}', '[PHONE]', 'g'))
               AS redacted_len
      FROM pii
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE n_email > 0) AS docs_with_email,
           COUNT(*) FILTER (WHERE n_phone > 0) AS docs_with_phone,
           CAST(SUM(n_email) AS BIGINT) AS n_emails,
           CAST(SUM(n_phone) AS BIGINT) AS n_phones,
           CAST(SUM(redacted_len) AS BIGINT) AS redacted_len_sum
    FROM hits
    GROUP BY source
    ORDER BY source
    """,
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit per source: email/phone pattern
    counts and the total length of the redacted corpus (a cheap exact
    checksum that the redaction rewrote precisely the matched spans).

    The regexes stick to explicit character classes and bounded
    quantifiers — the subset where Java regex (Spark) and RE2 (DuckDB)
    agree exactly; no backreferences, no shorthand classes.  Everything is
    JVM-side codegen (regexp_count / regexp_replace); one shuffle on the
    20-value source key.  At 100 TB this is the map-side-heavy shape you
    want: the scan dominates, the aggregate is tiny."""
    docs = load_table(spark, sf_dir, "documents")
    pii_t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.lit("")),
    )
    hits = docs.select(
        "source",
        F.regexp_count(pii_t, F.lit(_EMAIL_RE)).alias("n_email"),
        F.regexp_count(pii_t, F.lit(_PHONE_RE)).alias("n_phone"),
        F.length(
            F.regexp_replace(
                F.regexp_replace(pii_t, _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE,
                "[PHONE]",
            )
        ).alias("redacted_len"),
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("n_email") > 0, 1)).alias("docs_with_email"),
            F.count(F.when(F.col("n_phone") > 0, 1)).alias("docs_with_phone"),
            F.sum("n_email").alias("n_emails"),
            F.sum("n_phone").alias("n_phones"),
            F.sum("redacted_len").alias("redacted_len_sum"),
        )
        .orderBy("source")
    )


# --- T8: n-gram statistics ---------------------------------------------------


@register(
    "text_ngram_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_SQL_TOKENS}) AS term,
             generate_subscripts({_SQL_TOKENS}, 1) AS pos
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id, term,
             LEAD(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM toks WHERE term <> ''
    ),
    counted AS (
      SELECT term || ' ' || nxt AS bigram, COUNT(*) AS cnt
      FROM bigrams WHERE nxt IS NOT NULL AND nxt <> ''
      GROUP BY 1
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rk
      FROM counted
    )
    SELECT bigram, cnt, rk FROM ranked WHERE rk <= 20 ORDER BY rk
    """,
)
def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics: the 20 most frequent adjacent token pairs
    — the building block of n-gram language models, collocation mining,
    and the phrase tables quality classifiers are trained on.

    Pairing uses posexplode + a per-document LEAD window (one shuffle on
    doc_id, the natural text-processing partitioning) instead of a
    position self-join — at 100 TB a (doc, pos)⋈(doc, pos+1) join would
    shuffle the token stream twice and build a billion-row hash table;
    the window streams each document's tokens once in sorted order.  The
    global top-20 is a TakeOrdered over the counted relation (bounded by
    vocabulary², reduced map-side first).  Ties break lexically; counts
    are exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "term")
    ).filter(F.col("term") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        "term", F.lead("term").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull() & (F.col("nxt") != ""))
    counted = (
        bigrams.select(
            F.concat_ws(" ", "term", "nxt").alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Take the global top-20 with TakeOrderedAndProject FIRST (partial
    # per-partition top-k, no global sort of the counted relation), then
    # rank the 20 survivors — the rank window runs on 20 rows, not on the
    # vocabulary²-sized count table.
    top = counted.orderBy(F.desc("cnt"), "bigram").limit(20)
    w_rank = Window.orderBy(F.desc("cnt"), "bigram")
    return top.withColumn("rk", F.row_number().over(w_rank)).orderBy("rk")


# --- T9: Python UDTF surface -------------------------------------------------

_UDTF_SAMPLE_MOD = 199


@register(
    "text_tokenize_udtf",
    oracle=f"""
    WITH sampled AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_UDTF_SAMPLE_MOD} = 0
    ),
    terms AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS}) AS term FROM sampled
    )
    SELECT doc_id, term, COUNT(*) AS tf
    FROM terms WHERE term <> ''
    GROUP BY 1, 2
    ORDER BY doc_id, term
    """,
)
def text_tokenize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 table-valued functions, SURVEY §2.10):
    a LATERAL tokenizer UDTF expands each sampled document into its
    (term, tf) vocabulary — the flatMap-with-schema shape UDTFs exist for
    — and must agree with the pure-SQL tokenization the oracle runs.

    The Python split-on-whitespace is semantically identical to the JVM
    ``_tokens`` expression (collapse whitespace runs, drop empties), so
    the UDTF row set hash-matches.  The sample filter runs BEFORE the
    lateral join (pushed into the scan), keeping the Python-side row
    volume tiny; the production tokenizer stays the codegen'd JVM path
    (text_tfidf/text_token_count) — this entry proves the UDTF plumbing,
    Arrow-serialized, end to end."""
    from pyspark.sql.functions import udtf

    import re

    ws = re.compile(r"\s+", re.ASCII)  # Python .split() would also break on
    # Unicode whitespace (\u00a0, \u2028) that Java/RE2 \s+ does NOT treat
    # as a boundary — the ASCII regex is the exact common semantics

    @udtf(returnType="term: string, tf: bigint")
    class Tokenize:
        def eval(self, text: str):
            counts: dict[str, int] = {}
            for t in ws.split((text or "").lower().strip()):
                if t:
                    counts[t] = counts.get(t, 0) + 1
            for term in sorted(counts):
                yield term, counts[term]

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _UDTF_SAMPLE_MOD == 0
    )
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.term, t.tf
        FROM _udtf_docs d, LATERAL tokenize_udtf(d.text) t
        ORDER BY d.doc_id, t.term
        """
    )


# --- T10: vocabulary construction -------------------------------------------

_VOCAB_CAP = 1000


@register(
    "text_vocab_encode",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS}) AS term FROM documents
    ),
    counts AS (
      SELECT term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1
    ),
    ranked AS (
      SELECT term, tf,
             ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS vocab_id
      FROM counts
    )
    SELECT COUNT(*) AS vocab_size,
           CAST(SUM(tf) AS BIGINT) AS total_tokens,
           COUNT(*) FILTER (WHERE vocab_id <= {_VOCAB_CAP})
             AS in_vocab_terms,
           CAST(SUM(CASE WHEN vocab_id > {_VOCAB_CAP} THEN tf ELSE 0 END)
                AS BIGINT) AS oov_tokens,
           MIN(CASE WHEN vocab_id = 1 THEN term END) AS top_term,
           CAST(MIN(CASE WHEN vocab_id = 1 THEN tf END) AS BIGINT)
             AS top_term_tf
    FROM ranked
    """,
)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction — the tokenizer-building step of a training
    pipeline: every distinct token gets a stable integer id by (frequency
    DESC, term) rank, the id table is capped at {cap}, and the audit
    reports coverage: how many tokens the capped vocabulary explains and
    how many fall out-of-vocabulary.  All integer counts; the id
    assignment rank runs on the REDUCED term-count relation (vocabulary-
    sized, not corpus-sized — the only data-sized work is the one
    (doc, term) count shuffle).  At 100 TB the ranked vocab is written
    once as a broadcastable mapping table; this query is its build +
    coverage audit.""".format(cap=_VOCAB_CAP)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(_tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.orderBy(F.desc("tf"), "term")
    ranked = counts.withColumn("vocab_id", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("tf").alias("total_tokens"),
        F.count(
            F.when(F.col("vocab_id") <= _VOCAB_CAP, 1)
        ).alias("in_vocab_terms"),
        F.sum(
            F.when(F.col("vocab_id") > _VOCAB_CAP, F.col("tf")).otherwise(0)
        ).alias("oov_tokens"),
        F.min(F.when(F.col("vocab_id") == 1, F.col("term"))).alias(
            "top_term"
        ),
        F.min(F.when(F.col("vocab_id") == 1, F.col("tf"))).alias(
            "top_term_tf"
        ),
    )


@register(
    "multimodal_resize_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 17)::INTEGER AS w,
             (8 + doc_id % 13)::INTEGER AS h,
             greatest((16 + doc_id % 17) // 2, 1)::INTEGER AS nw,
             greatest((8 + doc_id % 13) // 2, 1)::INTEGER AS nh
      FROM documents WHERE doc_id % 7 = 0
    ),
    g AS (
      SELECT p.doc_id, p.w, p.h, p.nw, p.nh, x.r AS x2, y.r AS y2
      FROM p, LATERAL (SELECT unnest(range(0, p.nw)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.nh)) AS r) y
    )
    SELECT doc_id,
           (54 + ((MIN(nw)*3 + 3) - ((MIN(nw)*3 + 3) % 4))
                 * MIN(nh))::BIGINT AS n_bytes,
           MIN(nw)::INTEGER AS width,
           MIN(nh)::INTEGER AS height,
           1::INTEGER AS frames,
           SUM(3 * ((3 * ((x2 * w) // nw) + 7 * ((y2 * h) // nh) + doc_id)
                    % 251))::BIGINT AS pixel_sum
    FROM g GROUP BY doc_id
    """,
)
def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize end-to-end: the deterministic BMP grid is decoded,
    nearest-neighbor downsampled to half size (``resize_bmp``:
    src = dst·size_src // size_dst index sampling), re-encoded, decoded
    again, and content-checked — the oracle recomputes the resized pixel
    sum closed-form from the same index mapping, so any off-by-one in the
    sampling grid, row order, or padding shows up in pixel_sum.  Two Arrow
    mapInPandas stages, no shuffle — the embarrassingly-parallel media
    lane with a real transform in the middle."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(17)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_image_batches,
        "doc_id bigint, payload binary, width int, height int",
    )
    from lakehouse_sfc_spark.operators.multimodal import (
        resize_real_stats_batches,
    )

    return encoded.mapInPandas(resize_real_stats_batches, DECODED_STATS_SCHEMA)


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
      FROM (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents)
      WHERE len(w) >= 3
    ),
    c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
    SELECT doc_id,
           SUM(cnt)::BIGINT AS n_grams,
           COUNT(*) AS n_distinct,
           MAX(cnt) AS max_cnt,
           MAX(cnt)::DOUBLE / SUM(cnt)::DOUBLE AS rep_ratio,
           COUNT(*)::DOUBLE / SUM(cnt)::DOUBLE AS distinct_ratio
    FROM c GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scoring (the Gopher/RefinedWeb-style
    'repetitive documents are low quality' filter): per document, the share
    of 3-gram OCCURRENCES taken by the single most frequent 3-gram
    (rep_ratio — boilerplate and keyword-stuffed docs score high) and the
    distinct/total 3-gram ratio (low = repetitive).  All-integer counts
    with one exact int→double division, so bit-identical across engines.

    Scale shape: occurrences shuffle once on (doc_id, gram) for the count,
    then reduce per doc — both key-equality aggregations; no windows over
    raw text, no Python."""
    d = load_table(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    # tokens materialized in their own projection before the gram lambda:
    # referencing the inline split per element makes codegen re-split the
    # text per position (O(tokens²) per doc)
    # slice + zip_with, not per-position element_at: if the optimizer ever
    # inlines w's defining split (InferFiltersFromGenerate does exactly that
    # for the explode below), indexing re-splits the text PER ELEMENT
    # (O(tokens²)/doc) while each slice evaluates w once (see
    # datapipe._ngrams, the same round-12 fix).
    wa = F.col("w")
    _m = F.greatest(F.size(wa) - 2, F.lit(0))
    grams = F.zip_with(
        F.zip_with(
            F.slice(wa, 1, _m),
            F.slice(wa, 2, _m),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        F.slice(wa, 3, _m),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    # The 3-gram projection is the heavy work; a small-file scan (one row
    # group) would run ALL of it on one core before the first shuffle, so
    # exchange the pruned raw rows to full width first (no-op at 100 TB
    # where the scan is already wide).  Measured 10 s -> ~1 s at sf0.1.
    d = d.filter(F.size(w) >= 3)
    from lakehouse_sfc_spark.sources.loader import compute_width

    width = compute_width(spark)
    if d.rdd.getNumPartitions() < width:
        d = d.repartition(width)
    g = d.select("doc_id", w.alias("w")).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    c = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_cnt"),
            (
                F.max("cnt").cast("double") / F.sum("cnt").cast("double")
            ).alias("rep_ratio"),
            (
                F.count(F.lit(1)).cast("double") / F.sum("cnt").cast("double")
            ).alias("distinct_ratio"),
        )
        .orderBy("doc_id")
    )


# --- batch padding efficiency -----------------------------------------------

_LB_MIN_B = 4  # smallest bucket 2^4 = 16 tokens
_LB_MAX_B = 12  # largest bucket 2^12 = 4096 tokens

_SQL_LB_CASE = (
    "CASE "
    + " ".join(
        f"WHEN n <= {1 << b} THEN {1 << b}"
        for b in range(_LB_MIN_B, _LB_MAX_B)
    )
    + f" ELSE {1 << _LB_MAX_B} END"
)


@register(
    "pack_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_SQL_TOKENS})::BIGINT AS n FROM documents
    ),
    b AS (SELECT doc_id, n, {_SQL_LB_CASE} AS bucket FROM t)
    SELECT bucket, COUNT(*) AS n_docs,
           SUM(n)::BIGINT AS sum_tokens,
           (bucket * COUNT(*) - SUM(n))::BIGINT AS padding_tokens,
           CAST(SUM(n) AS DOUBLE) / (bucket * COUNT(*)) AS fill_ratio
    FROM b GROUP BY bucket
    ORDER BY bucket
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch efficiency — the padding-waste analysis behind
    bucketed batching (pad each doc to the next power-of-two token length,
    16..4096): per bucket, document count, real tokens, padding tokens,
    and fill ratio.  The bucket function is an integer CASE ladder in both
    engines (no log2 — transcendentals are cross-engine poison), and
    fill_ratio divides two exact integers.

    Scale shape: one narrow projection + one tiny groupBy; the per-doc
    token count is the only real work and rides the scan."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(_tokens(F.col("text"))).cast("bigint")
    bucket = F.lit(1 << _LB_MAX_B)
    for b in range(_LB_MAX_B - 1, _LB_MIN_B - 1, -1):
        bucket = F.when(n <= (1 << b), F.lit(1 << b)).otherwise(bucket)
    t = d.select("doc_id", n.alias("n"), bucket.alias("bucket"))
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            (F.col("bucket") * F.col("n_docs") - F.col("sum_tokens"))
            .cast("bigint")
            .alias("padding_tokens"),
            (
                F.col("sum_tokens").cast("double")
                / (F.col("bucket") * F.col("n_docs"))
            ).alias("fill_ratio"),
        )
        .orderBy("bucket")
    )


# --- GPT-style sequence packing (concatenate-and-chunk) ----------------------

_PK_C = 256  # context length in tokens


@register(
    "pack_chunk_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len(w)::BIGINT AS n, (len(w) + 1)::BIGINT AS m
      FROM (SELECT doc_id, source, {_SQL_TOKENS} AS w
            FROM documents WHERE text IS NOT NULL)
    ),
    c AS (
      SELECT source, doc_id, n, m,
             (SUM(m) OVER (PARTITION BY source ORDER BY doc_id) - m)
               AS cum_before,
             SUM(m) OVER (PARTITION BY source) AS total_tokens
      FROM t
    ),
    s AS (
      SELECT source, doc_id, n, total_tokens,
             cum_before // {_PK_C} AS first_chunk,
             (cum_before + n) // {_PK_C} AS last_chunk
      FROM c
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(MAX(total_tokens) AS BIGINT) AS total_tokens,
           CAST((MAX(total_tokens) + {_PK_C} - 1) // {_PK_C} AS BIGINT)
             AS n_chunks,
           CAST(SUM(CASE WHEN last_chunk > first_chunk THEN 1 ELSE 0 END)
                AS BIGINT) AS boundary_docs,
           CAST(MAX(last_chunk - first_chunk + 1) AS BIGINT) AS max_span,
           CAST(MAX(total_tokens) AS DOUBLE)
             / (((MAX(total_tokens) + {_PK_C} - 1) // {_PK_C}) * {_PK_C})
             AS packed_fill
    FROM s GROUP BY source ORDER BY source
    """,
)
def pack_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence PACKING (concatenate-and-chunk): per source,
    documents are concatenated in doc_id order with one EOD token each and
    sliced into fixed 256-token context windows — the packed-dataset layout
    LLM pretraining actually trains on (no padding, documents straddle
    chunk boundaries).  Per source: document count, total tokens (incl.
    EOD), chunk count, how many documents STRADDLE a boundary (they need
    cross-chunk attention masking), the widest straddle, and the packed
    fill ratio (waste is only the final chunk's tail — compare
    pack_length_buckets' padding waste and pack_sequences' budget-quantized
    pack assignment, which bounds docs per pack instead of slicing).

    Everything is integer arithmetic on a running token cumsum — the one
    window — so both engines agree bit-exactly; the fill ratio divides two
    exactly-agreed integers once.

    Scale shape: one window cumsum partitioned by source (the packing
    order key), one groupBy — both shuffle on the same key, and AQE
    coalesces; no per-chunk explosion (chunk spans come from two integer
    divisions on the cumsum, never from materializing chunks).  At 100 TB
    the packing order key would be (source, shard) so each shard packs
    independently — same plan."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    n = F.size(_tokens(F.col("text"))).cast("bigint")
    t = d.select("doc_id", "source", n.alias("n"), (n + 1).alias("m"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    c = t.select(
        "source",
        "doc_id",
        "n",
        (F.sum("m").over(w_cum) - F.col("m")).alias("cum_before"),
        F.sum("m").over(w_all).alias("total_tokens"),
    )
    s = c.select(
        "source",
        "n",
        "total_tokens",
        F.floor(F.col("cum_before") / _PK_C).alias("first_chunk"),
        F.floor((F.col("cum_before") + F.col("n")) / _PK_C).alias(
            "last_chunk"
        ),
    )
    n_chunks = F.floor(
        (F.max("total_tokens") + F.lit(_PK_C - 1)) / _PK_C
    ).cast("bigint")
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("total_tokens").cast("bigint").alias("total_tokens"),
            n_chunks.alias("n_chunks"),
            F.sum(
                (F.col("last_chunk") > F.col("first_chunk")).cast("int")
            )
            .cast("bigint")
            .alias("boundary_docs"),
            F.max(F.col("last_chunk") - F.col("first_chunk") + 1)
            .cast("bigint")
            .alias("max_span"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_chunks",
            "boundary_docs",
            "max_span",
            (
                F.col("total_tokens").cast("double")
                / (F.col("n_chunks") * F.lit(_PK_C))
            ).alias("packed_fill"),
        )
        .orderBy("source")
    )


# --- shared-boilerplate prefix detection ------------------------------------

_BP_K = 8  # leading tokens that define the boilerplate key


@register(
    "text_boilerplate_prefix",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, source,
             md5(array_to_string(w[1:{_BP_K}], ' ')) AS prefix_key
      FROM (SELECT doc_id, source, {_SQL_TOKENS} AS w FROM documents)
      WHERE len(w) >= {_BP_K}
    )
    SELECT prefix_key,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           MIN(doc_id) AS min_doc_id
    FROM p GROUP BY 1 HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, prefix_key
    """,
)
def text_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-boilerplate detection by leading-token prefix: documents whose
    first {k} tokens are identical (site headers, license banners, template
    intros) cluster on the hashed prefix — the cheap first pass a corpus
    cleaner runs before any expensive near-dup join, since stripping a
    shared prefix fixes whole families at once.

    Scale shape: one narrow projection (hash of the first tokens only — the
    full token array is never materialized past the slice) and one
    map-side-combinable groupBy; HAVING >= 2 keeps only real clusters."""
    d = load_table(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    p = d.filter(F.size(w) >= _BP_K).select(
        "doc_id",
        "source",
        F.md5(F.array_join(F.slice(w, 1, _BP_K), " ")).alias("prefix_key"),
    )
    return (
        p.groupBy("prefix_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "prefix_key")
    )


@register(
    "multimodal_gif_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 17)::INTEGER AS width,
             (8 + doc_id % 13)::INTEGER AS height
      FROM documents WHERE doc_id % 7 = 0
    ),
    g AS (
      SELECT p.doc_id, p.width, p.height, x.r AS x, y.r AS y
      FROM p, LATERAL (SELECT unnest(range(0, p.width)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.height)) AS r) y
    )
    SELECT doc_id,
           MIN(width)::INTEGER AS width,
           MIN(height)::INTEGER AS height,
           1::INTEGER AS frames,
           SUM(3 * ((3*x + 7*y + doc_id) % 251))::BIGINT AS pixel_sum
    FROM g GROUP BY doc_id
    """,
)
def multimodal_gif_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW codec end-to-end: the deterministic grids encoded as genuine
    GIF87a (variable-width LZW, 256-entry palette, sub-block framing —
    operators/gif.py) and decoded back through the production image kernel,
    completing the classic-compression coverage: DEFLATE (PNG), DCT+Huffman
    (JPEG), and now LZW.  The grid is grayscale so the palette-index image
    IS the value plane; geometry and the full pixel content check are
    closed-form, and n_bytes is excluded (LZW output length is an encoder
    implementation detail, though THIS encoder is deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(17)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_gif_batches, "doc_id bigint, payload binary, width int, height int"
    )
    return encoded.mapInPandas(
        decode_real_stats_batches, DECODED_STATS_SCHEMA
    ).drop("n_bytes")


@register(
    "multimodal_tiff_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 15)::INTEGER AS width,
             (8 + doc_id % 11)::INTEGER AS height
      FROM documents WHERE doc_id % 11 = 0
    ),
    g AS (
      SELECT p.doc_id, p.width, p.height, x.r AS x, y.r AS y
      FROM p, LATERAL (SELECT unnest(range(0, p.width)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.height)) AS r) y
    )
    SELECT doc_id,
           MIN(width)::INTEGER AS width,
           MIN(height)::INTEGER AS height,
           1::INTEGER AS frames,
           (CASE WHEN doc_id % 5 = 4 THEN -1
                 ELSE SUM(3 * ((3*x + 7*y + doc_id) % 251))
            END)::BIGINT AS pixel_sum,
           TRUE AS fidelity_ok
    FROM g GROUP BY doc_id
    """,
)
def multimodal_tiff_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF end-to-end: deterministic RGB grids encoded as genuine
    multi-strip TIFF with per-doc ROTATING compression — uncompressed /
    PackBits / LZW+predictor / Deflate+predictor / new-style JPEG (tag 7,
    alternating standalone and JPEGTables layouts) — and decoded back
    through the production image kernel (operators/tiff.py — the
    scanned-document master format).  Lossless docs carry the closed-form
    exact pixel_sum; JPEG docs (doc_id % 5 = 4) are lossy, so they carry
    the -1 sentinel and the same PSNR >= 30 dB fidelity gate as
    multimodal_jpeg_real (cleared by ~20 dB, pinned in pytest).  n_bytes
    excluded like the other codec rows (framing overhead is an encoder
    detail, though THIS encoder is deterministic)."""
    from lakehouse_sfc_spark.operators.multimodal import (
        synth_tiff_batches,
        tiff_stats_fidelity_batches,
    )

    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(15)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(11)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_tiff_batches,
        "doc_id bigint, payload binary, width int, height int",
    )
    return encoded.mapInPandas(
        tiff_stats_fidelity_batches,
        "doc_id bigint, width int, height int, frames int, "
        "pixel_sum bigint, fidelity_ok boolean",
    )


@register(
    "multimodal_ico_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 14)::INTEGER AS width,
             (8 + doc_id % 9)::INTEGER AS height
      FROM documents WHERE doc_id % 13 = 0
    ),
    g AS (
      SELECT p.doc_id, p.width, p.height, x.r AS x, y.r AS y
      FROM p, LATERAL (SELECT unnest(range(0, p.width)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.height)) AS r) y
    )
    SELECT doc_id,
           MIN(width)::INTEGER AS width,
           MIN(height)::INTEGER AS height,
           1::INTEGER AS frames,
           SUM(3 * ((3*x + 7*y + doc_id) % 251))::BIGINT AS pixel_sum
    FROM g GROUP BY doc_id
    """,
)
def multimodal_ico_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ICO container end-to-end: deterministic grids packed into
    two-entry icons (half-size thumbnail FIRST + full-size entry, so the
    kernel's largest-entry selection is load-bearing on every row), with
    the entry storage rotating per doc across 24-bpp DIB, 32-bpp BGRA DIB
    and PNG-in-ICO (operators/ico.py — PNG entries re-enter the repo's own
    PNG decoder, the same codec-reuse pattern as JPEG-in-TIFF), then
    decoded back through the production image dispatch.  Every storage is
    lossless, so the full closed-form pixel_sum contract holds; geometry
    comes from the directory's LARGEST entry.  n_bytes excluded like the
    other codec rows."""
    from lakehouse_sfc_spark.operators.multimodal import (
        DECODED_STATS_SCHEMA,
        decode_real_stats_batches,
        synth_ico_batches,
    )

    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(14)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(9)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_ico_batches,
        "doc_id bigint, payload binary, width int, height int",
    )
    return encoded.mapInPandas(
        decode_real_stats_batches, DECODED_STATS_SCHEMA
    ).drop("n_bytes")


@register(
    "multimodal_webp_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 19)::INTEGER AS width,
             (8 + doc_id % 7)::INTEGER AS height
      FROM documents WHERE doc_id % 17 = 0
    ),
    g AS (
      SELECT p.doc_id, p.width, p.height, x.r AS x, y.r AS y
      FROM p, LATERAL (SELECT unnest(range(0, p.width)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.height)) AS r) y
    )
    SELECT doc_id,
           MIN(width)::INTEGER AS width,
           MIN(height)::INTEGER AS height,
           1::INTEGER AS frames,
           SUM(3 * ((3*x + 7*y + doc_id) % 251))::BIGINT AS pixel_sum
    FROM g GROUP BY doc_id
    """,
)
def multimodal_webp_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless WebP (VP8L) end-to-end: deterministic grids entropy-
    coded with per-channel canonical prefix codes (operators/webp.py —
    full code-length-code machinery, subtract-green transform on even
    docs, plain literals on odd docs so both decode paths run every
    sweep), decoded back through the production image dispatch.  VP8L is
    lossless, so the full closed-form pixel_sum contract holds; the
    decoder's extra surface (color cache, LZ77 absolute distances, simple
    codes) is pinned by pytest incl. a hand-assembled golden bitstream,
    and lossy VP8 / plane-coded distances / untranscribable transforms
    refuse loudly by name.  n_bytes excluded like the other codec rows."""
    from lakehouse_sfc_spark.operators.multimodal import (
        DECODED_STATS_SCHEMA,
        decode_real_stats_batches,
        synth_webp_batches,
    )

    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(19)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(7)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_webp_batches,
        "doc_id bigint, payload binary, width int, height int",
    )
    return encoded.mapInPandas(
        decode_real_stats_batches, DECODED_STATS_SCHEMA
    ).drop("n_bytes")


@register(
    "multimodal_qoi_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (16 + doc_id % 21)::INTEGER AS width,
             (8 + doc_id % 13)::INTEGER AS height
      FROM documents WHERE doc_id % 19 = 0
    ),
    g AS (
      SELECT p.doc_id, p.width, p.height, x.r AS x, y.r AS y
      FROM p, LATERAL (SELECT unnest(range(0, p.width)) AS r) x,
              LATERAL (SELECT unnest(range(0, p.height)) AS r) y
    )
    SELECT doc_id,
           MIN(width)::INTEGER AS width,
           MIN(height)::INTEGER AS height,
           1::INTEGER AS frames,
           SUM(3 * ((3*x + 7*y + doc_id) % 251))::BIGINT AS pixel_sum
    FROM g GROUP BY doc_id
    """,
)
def multimodal_qoi_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI (qoiformat.org spec 1.0) end-to-end: deterministic grids
    byte-packed through the full QOI op set (operators/qoi.py — RUN /
    INDEX / 2-bit DIFF / LUMA / RGB literals with the 64-slot rolling
    hash table), then decoded back through the production image dispatch.
    The gradient grids keep the encoder mostly in 2-byte LUMA ops (the
    +3 gray step exceeds DIFF's 2-bit range) while the mod-251 wrap and
    revisited colors force RGB / INDEX on every document; DIFF decode is
    pinned by the golden fixture and encoder test in pytest.
    QOI is lossless, so the full closed-form pixel_sum contract holds; a
    hand-assembled golden bitstream pins the wire format in pytest and
    malformed streams (bad magic/channels, truncation, missing end
    marker, run overflow) refuse loudly by name.  n_bytes excluded like
    the other codec rows."""
    from lakehouse_sfc_spark.operators.multimodal import (
        DECODED_STATS_SCHEMA,
        decode_real_stats_batches,
        synth_qoi_batches,
    )

    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 19 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(21)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(13)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_qoi_batches,
        "doc_id bigint, payload binary, width int, height int",
    )
    return encoded.mapInPandas(
        decode_real_stats_batches, DECODED_STATS_SCHEMA
    ).drop("n_bytes")


@register(
    "multimodal_tiff_metadata",
    oracle="""
    SELECT doc_id,
           CASE WHEN (doc_id // 11) % 3 = 0 THEN 'MM' ELSE 'II' END
               AS byteorder,
           (16 + doc_id % 15)::INTEGER AS width,
           (8 + doc_id % 11)::INTEGER AS height,
           (CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 32773 WHEN 2 THEN 5
                 WHEN 3 THEN 8 ELSE 7 END)::INTEGER AS compression,
           (CASE WHEN doc_id % 5 IN (2, 3) THEN 2 ELSE 1 END)::INTEGER
               AS predictor,
           (((8 + doc_id % 11) + 7) // 8)::INTEGER AS n_strips,
           (doc_id % 5 = 4 AND (doc_id // 11) % 2 = 1) AS has_jpeg_tables
    FROM documents WHERE doc_id % 11 = 0
    """,
)
def multimodal_tiff_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-ONLY scan of the TIFF corpus — the curation fast path: an
    IFD walk per document (operators/tiff.py::tiff_metadata) surfaces
    byte order, geometry, compression tag, predictor, strip count and
    JPEGTables presence WITHOUT paying strip-decode CPU, which is how a
    real lake filters scanned-document masters before routing them to the
    decode kernel (`multimodal_tiff_real` is the decode side of the same
    rotating corpus).  The oracle is the closed form of the encoder's
    deterministic per-doc rotation — so the row also proves the encoder
    wrote exactly the tags it was asked to."""
    import pandas as pd

    from lakehouse_sfc_spark.operators.multimodal import synth_tiff_batches
    from lakehouse_sfc_spark.operators.tiff import tiff_metadata

    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(15)) + 16).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(11)) + 8).cast("int").alias("height"),
    )
    encoded = params.mapInPandas(
        synth_tiff_batches,
        "doc_id bigint, payload binary, width int, height int",
    )

    def _meta(batches):
        for pdf in batches:
            rows = [
                {"doc_id": int(doc_id), **tiff_metadata(bytes(payload))}
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
            ]
            out = pd.DataFrame(rows)
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"].astype("int64"),
                    "byteorder": out["byteorder"].astype("object"),
                    "width": out["width"].astype("int32"),
                    "height": out["height"].astype("int32"),
                    "compression": out["compression"].astype("int32"),
                    "predictor": out["predictor"].astype("int32"),
                    "n_strips": out["n_strips"].astype("int32"),
                    "has_jpeg_tables": out["has_jpeg_tables"].astype("bool"),
                }
            )

    return encoded.mapInPandas(
        _meta,
        "doc_id bigint, byteorder string, width int, height int, "
        "compression int, predictor int, n_strips int, "
        "has_jpeg_tables boolean",
    )


@register(
    "text_token_df_score",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, source, {_SQL_TOKENS} AS w FROM documents
    ),
    occ AS MATERIALIZED (
      SELECT doc_id, source, unnest(w) AS tok FROM t WHERE len(w) >= 1
    ),
    dfc AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfc FROM occ GROUP BY tok),
    per_doc AS (
      SELECT o.doc_id, o.source,
             COUNT(*) AS n_tokens,
             CAST(SUM(d.dfc) AS BIGINT) AS sum_df
      FROM occ o JOIN dfc d ON o.tok = d.tok
      GROUP BY 1, 2
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(CAST(sum_df AS DOUBLE) / n_tokens) AS min_commonness,
           MAX(CAST(sum_df AS DOUBLE) / n_tokens) AS max_commonness
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def text_token_df_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality signal (the log-free cousin of CCNet's
    LM-perplexity filter): a document's COMMONNESS is the mean document
    frequency of its token occurrences — machine-generated keyword soup
    and OCR garbage score low (rare/garbled tokens), boilerplate scores
    abnormally high, natural prose sits in a tight band.  Unlike
    text_quality_score's per-document heuristics this is a CORPUS
    statistic, so it adapts to the corpus's own language mix.  Integer
    sums + one per-doc division reduced by MIN/MAX (order-free exact).

    Scale shape: token df is one hash aggregation (the shared shape of
    every inverted-index build here); the join back is key-equality on
    the token, partial-aggregated before the per-doc reduce."""
    d = load_table(spark, sf_dir, "documents")
    tok = _tokens(F.col("text"))
    pruned = d.filter(F.size(tok) >= 1)
    from lakehouse_sfc_spark.sources.loader import compute_width

    width = compute_width(spark)
    if pruned.rdd.getNumPartitions() < width:
        pruned = pruned.repartition(width)
    occ = materialize_once(
        pruned.select(
            "doc_id", "source", F.explode(_tokens(F.col("text"))).alias("tok")
        )
        .repartition("tok")
    )
    dfc = occ.groupBy("tok").agg(F.count_distinct("doc_id").alias("dfc"))
    per_doc = (
        occ.join(dfc, "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("dfc").alias("sum_df"),
        )
    )
    commonness = F.col("sum_df").cast("double") / F.col("n_tokens")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min(commonness).alias("min_commonness"),
            F.max(commonness).alias("max_commonness"),
        )
        .orderBy("source")
    )


@register(
    "text_ttr",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(w) AS n_tokens,
             len(list_distinct(w)) AS n_types
      FROM (SELECT doc_id, lang, {_SQL_TOKENS} AS w FROM documents)
      WHERE len(w) >= 1 AND w <> ['']
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(n_tokens)::BIGINT AS total_tokens,
           SUM(n_types)::BIGINT AS total_types,
           MIN(CAST(n_types AS DOUBLE) / n_tokens) AS min_ttr,
           MAX(CAST(n_types AS DOUBLE) / n_tokens) AS max_ttr
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio (lexical diversity) per language — the vocabulary-
    richness quality signal that separates natural prose from keyword
    stuffing and template spam (low TTR) at a glance.  Integer counts with
    per-doc single divisions aggregated by MIN/MAX (order-free — the only
    reductions over doubles are min/max, which are associative and exact).

    Scale shape: one narrow projection + one tiny groupBy on lang."""
    d = load_table(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    t = (
        d.filter((F.size(w) >= 1) & (w != F.array(F.lit(""))))
        .select(
            "lang",
            F.size(w).alias("n_tokens"),
            F.size(F.array_distinct(w)).alias("n_types"),
        )
    )
    ttr = F.col("n_types").cast("double") / F.col("n_tokens")
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_types").cast("bigint").alias("total_types"),
            F.min(ttr).alias("min_ttr"),
            F.max(ttr).alias("max_ttr"),
        )
        .orderBy("lang")
    )


# --- T15: BPE tokenizer induction -------------------------------------------


@register(
    "text_bpe_pair_merge",
    oracle=f"""
    WITH words AS (
      SELECT unnest({_SQL_TOKENS}) AS w FROM documents
    ),
    wcnt AS (
      SELECT w, COUNT(*)::BIGINT AS wcnt
      FROM words WHERE w <> ''
      GROUP BY 1 HAVING length(w) >= 2
    ),
    pairs AS (
      SELECT w, wcnt, substring(w, i.r::INTEGER, 2) AS pair
      FROM wcnt, LATERAL (SELECT unnest(range(1, length(w))) AS r) i
    ),
    counted AS (
      SELECT pair,
             SUM(wcnt)::BIGINT AS cnt,
             COUNT(DISTINCT w)::BIGINT AS n_types
      FROM pairs GROUP BY 1
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rk
      FROM counted
    )
    SELECT pair, cnt, n_types, rk FROM ranked WHERE rk <= 20 ORDER BY rk
    """,
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction, the core training kernel: corpus-frequency-
    weighted adjacent symbol-pair counts ranked into the merge table (the
    top row IS the first BPE merge; repeating this kernel over re-segmented
    vocabularies is the whole training loop).

    Scale shape — the classic BPE-training trick: pairs are generated over
    the DISTINCT-WORD table weighted by word count, never over the raw
    token stream.  At 100 TB the corpus→vocabulary step is one map-side-
    combinable shuffle that collapses ~10^12 tokens to a ~10^7-row
    vocabulary; the pair explosion then costs |vocab|·avg_len rows, ~5
    orders of magnitude less than exploding the corpus.  Pair extraction is
    pure codegen (``transform(sequence(...), i -> substring(w, i, 2))`` —
    codepoint-indexed identically in both engines, pinned by the
    substring_multibyte row of tests/test_engine_semantics.py), the pair
    aggregation is a second map-side-combined shuffle, and the top-20 is
    TakeOrderedAndProject with the rank window running on 20 survivors
    only.  Ties break on the pair's UTF-8 byte order, identical in both
    engines.  Guard: ``length(w) >= 2`` keeps Spark's descending
    ``sequence(1, 0)`` surprise out of the transform (DuckDB's
    ``range(1, 1)`` is empty, Spark's sequence would count DOWN)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(_tokens(F.col("text"))).alias("w")).filter(
        F.col("w") != ""
    )
    wcnt = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .filter(F.length("w") >= 2)
    )
    pairs = wcnt.select(
        "w",
        "wcnt",
        F.explode(
            F.expr("transform(sequence(1, length(w)-1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(
        F.sum("wcnt").alias("cnt"),
        F.count_distinct("w").alias("n_types"),
    )
    top = counted.orderBy(F.desc("cnt"), "pair").limit(20)
    w_rank = Window.orderBy(F.desc("cnt"), "pair")
    return top.withColumn("rk", F.row_number().over(w_rank)).orderBy("rk")


# --- Heaps'-law vocabulary growth curve --------------------------------------

_VG_CHECKPOINTS = 10


@register(
    "text_vocab_growth",
    oracle=f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    occ AS MATERIALIZED (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM d),
    fst AS (SELECT w, MIN(doc_id) AS fd FROM occ GROUP BY w),
    nv AS (SELECT fd AS doc_id, COUNT(*) AS nv FROM fst GROUP BY fd),
    nt AS (SELECT doc_id, COUNT(*) AS nt FROM occ GROUP BY doc_id),
    bk AS (SELECT doc_id, NTILE({_VG_CHECKPOINTS}) OVER (ORDER BY doc_id)
               AS cp
           FROM (SELECT DISTINCT doc_id FROM d)),
    per AS (SELECT bk.cp, COUNT(*) AS n_docs,
                   MAX(bk.doc_id) AS boundary_id,
                   CAST(SUM(nt.nt) AS BIGINT) AS toks,
                   CAST(SUM(COALESCE(nv.nv, 0)) AS BIGINT) AS voc
            FROM bk JOIN nt ON nt.doc_id = bk.doc_id
            LEFT JOIN nv ON nv.doc_id = bk.doc_id
            GROUP BY bk.cp)
    SELECT cp AS checkpoint,
           boundary_id,
           CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(SUM(toks) OVER w AS BIGINT) AS cum_tokens,
           CAST(SUM(voc) OVER w AS BIGINT) AS cum_vocab
    FROM per
    WINDOW w AS (ORDER BY cp ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY checkpoint
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct-token count vs
    cumulative token count at {_VG_CHECKPOINTS} ingestion checkpoints
    (doc_id = ingestion order).  The curve V(n) ~ K·n^β is the standard
    corpus-health screen — a flattening curve means the crawl is
    re-reading itself (duplicate mass), a super-Heaps curve means noisy
    tokenization.  Vocabulary is attributed by FIRST occurrence (one hash
    agg on the token key — the same inverted-index shuffle as
    text_ngram_novelty), so cumulative vocab at checkpoint k is a plain
    SUM over buckets ≤ k — exact integers end to end, no distinct-count
    re-scan per checkpoint (the naive form re-counts the whole prefix
    {_VG_CHECKPOINTS} times).

    Scale note: checkpoint assignment uses NTILE over the DISTINCT doc-id
    relation — a global sort, single-reducer on the id list.  At 100 TB
    the same curve uses precomputed boundary quantiles (approx_percentile
    on doc_id, then a width_bucket join) so assignment is map-only; the
    first-occurrence aggregation — the data-sized stage — is unchanged."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    occ = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("w"))
    fst = occ.groupBy("w").agg(F.min("doc_id").alias("fd"))
    nv = fst.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    nt = occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    bk = (
        d.select("doc_id")
        .distinct()
        .withColumn(
            "cp",
            F.ntile(_VG_CHECKPOINTS).over(Window.orderBy("doc_id")),
        )
    )
    per = (
        bk.join(nt, "doc_id")
        .join(nv, "doc_id", "left")
        .groupBy("cp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("doc_id").alias("boundary_id"),
            F.sum("nt").cast("bigint").alias("toks"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0)))
            .cast("bigint")
            .alias("voc"),
        )
    )
    wc = Window.orderBy("cp").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        F.col("cp").alias("checkpoint"),
        "boundary_id",
        F.sum("n_docs").over(wc).cast("bigint").alias("cum_docs"),
        F.sum("toks").over(wc).cast("bigint").alias("cum_tokens"),
        F.sum("voc").over(wc).cast("bigint").alias("cum_vocab"),
    ).orderBy("checkpoint")


@register(
    "multimodal_flac_real",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 165 = 0 THEN 5000
                   ELSE 400 + doc_id % 257 END)::BIGINT AS n,
             (CASE WHEN doc_id % 22 = 0 THEN 2 ELSE 1 END)::INTEGER AS ch
      FROM documents WHERE doc_id % 11 = 0
    ),
    g AS (
      SELECT p.doc_id, p.n, p.ch, i.r AS i
      FROM p, LATERAL (SELECT unnest(range(0, p.n)) AS r) i
    )
    SELECT doc_id,
           16000::INTEGER AS sample_rate,
           MIN(n)::BIGINT AS n_samples,
           MIN(ch)::INTEGER AS n_channels,
           CAST((MIN(n) + 4095) // 4096 AS BIGINT) AS n_frames,
           MIN(n) / 16000.0 AS duration_s,
           CAST(SUM((7*doc_id + 13*i) % 4001 - 2000
                + CASE WHEN ch = 2
                       THEN (11*doc_id + 17*i) % 4001 - 2000
                       ELSE 0 END) AS BIGINT) AS sum_samples
    FROM g GROUP BY doc_id
    """,
)
def multimodal_flac_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED audio codec end-to-end: deterministic int16
    waveforms (mono and 2-channel) are encoded as genuine FLAC streams —
    fixed predictors 0–4, Rice-coded residuals, UTF-8-coded frame
    numbers, CRC-8/CRC-16, STREAMINFO MD5 (operators/flac.py, RFC 9639
    subset) — then decoded back with every integrity check verified, and
    the exact integer sample sum over all channels is pinned against the
    closed form.  One doc in several spans two 4096-sample frames so the
    multi-frame path is exercised; LPC / wasted bits / mid-side refuse
    loudly by name.  Extends the 'compressed codecs need external libs'
    refutation from PNG/JPEG/GIF/TIFF/WebP/QOI to audio.

    Scale shape: pure map — synth → encode → decode → stats inside two
    Arrow-batched mapInPandas kernels, no shuffle; codec CPU tracks the
    selected-document count exactly like multimodal_gif_real."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 165 == 0, F.lit(5000))
        .otherwise(F.pmod(F.col("doc_id"), F.lit(257)) + 400)
        .cast("long")
        .alias("n_samples"),
        F.when(F.col("doc_id") % 22 == 0, F.lit(2))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("n_channels"),
    )
    encoded = params.mapInPandas(
        synth_flac_batches, "doc_id bigint, payload binary"
    )
    return encoded.mapInPandas(flac_real_stats_batches, FLAC_REAL_SCHEMA)


@register(
    "multimodal_zip_real",
    oracle="""
    WITH p AS (
      SELECT doc_id, (2 + doc_id % 3)::INTEGER AS k
      FROM documents WHERE doc_id % 9 = 0
    ),
    m AS (
      SELECT p.doc_id, j.r AS j,
             (100 + (p.doc_id + j.r) % 97)::BIGINT AS n
      FROM p, LATERAL (SELECT unnest(range(0, p.k)) AS r) j
    ),
    g AS (
      SELECT m.doc_id, m.j, i.r AS i
      FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS r) i
    ),
    per AS (
      SELECT doc_id, COUNT(*)::INTEGER AS n_members,
             CAST(SUM(n) AS BIGINT) AS total_bytes
      FROM m GROUP BY doc_id
    ),
    cs AS (
      SELECT doc_id,
             CAST(SUM((doc_id*3 + j*5 + i) % 251) AS BIGINT) AS content_sum
      FROM g GROUP BY doc_id
    )
    SELECT per.doc_id, per.n_members, per.total_bytes, cs.content_sum
    FROM per JOIN cs ON per.doc_id = cs.doc_id
    """,
)
def multimodal_zip_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ZIP container end-to-end (operators/zipc.py, PKWARE APPNOTE
    struct level): per document a genuine multi-member archive — local
    headers, central directory, EOCD, store AND raw-DEFLATE members —
    is written, then extracted back through the central-directory walk
    with per-member CRC-32 and size verification; the exact content-byte
    sum is pinned against the closed form.  The pytest suite pins the
    wire format against the independent stdlib ``zipfile`` in both
    directions; encryption, data descriptors, ZIP64 and exotic methods
    refuse loudly by name.  Archives-as-rows is the standard shape for
    shipping grouped small files (shards, WARC-adjacent bundles) through
    a table engine.

    Scale shape: pure map, two Arrow-batched mapInPandas kernels, no
    shuffle; container CPU tracks selected-document count."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 9 == 0).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(3)) + 2).cast("int").alias("k"),
    )
    encoded = params.mapInPandas(
        synth_zip_batches, "doc_id bigint, payload binary"
    )
    return encoded.mapInPandas(zip_real_stats_batches, ZIP_REAL_SCHEMA)


@register(
    "multimodal_targz_real",
    oracle="""
    WITH p AS (
      SELECT doc_id, (2 + doc_id % 4)::INTEGER AS k
      FROM documents WHERE doc_id % 10 = 5
    ),
    m AS (
      SELECT p.doc_id, j.r AS j,
             (80 + (p.doc_id*2 + j.r*7) % 120)::BIGINT AS n
      FROM p, LATERAL (SELECT unnest(range(0, p.k)) AS r) j
    ),
    g AS (
      SELECT m.doc_id, m.j, i.r AS i
      FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS r) i
    ),
    per AS (
      SELECT doc_id, COUNT(*)::INTEGER AS n_members,
             CAST(SUM(n) AS BIGINT) AS total_bytes
      FROM m GROUP BY doc_id
    ),
    cs AS (
      SELECT doc_id,
             CAST(SUM((doc_id*5 + j*11 + i) % 241) AS BIGINT)
                 AS content_sum
      FROM g GROUP BY doc_id
    )
    SELECT per.doc_id, per.n_members, per.total_bytes, cs.content_sum
    FROM per JOIN cs ON per.doc_id = cs.doc_id
    """,
)
def multimodal_targz_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ``.tar.gz`` shards end-to-end (operators/tarc.py): per
    document a genuine gzip-wrapped POSIX ustar archive — the WebDataset
    /CommonCrawl-derivative shard shape — is written, then extracted back
    with gzip CRC-32/ISIZE and ustar header checksums verified, pinning
    the exact content-byte sum against the closed form.  The pytest
    suite pins the wire format against the independent stdlib tarfile +
    gzip in both directions; PAX/GNU-longname/symlink/sparse/multi-
    member-gzip refuse loudly by name.  Completes the container family:
    ZIP (random access, per-member compression) vs tar.gz (streaming,
    whole-archive compression) — the two shapes grouped small files
    actually arrive in.

    Scale shape: pure map, two Arrow-batched mapInPandas kernels, no
    shuffle; container CPU tracks selected-document count."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 10 == 5).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(4)) + 2).cast("int").alias("k"),
    )
    encoded = params.mapInPandas(
        synth_targz_batches, "doc_id bigint, payload binary"
    )
    return encoded.mapInPandas(targz_real_stats_batches, TARGZ_REAL_SCHEMA)


@register(
    "multimodal_pdf_metadata",
    oracle="""
    WITH p AS (
      SELECT doc_id, (1 + doc_id % 4)::INTEGER AS np
      FROM documents WHERE doc_id % 12 = 3
    ),
    m AS (
      SELECT p.doc_id, p.np, j.r AS j,
             (60 + (p.doc_id + j.r) % 50)::BIGINT AS n
      FROM p, LATERAL (SELECT unnest(range(0, p.np)) AS r) j
    ),
    g AS (
      SELECT m.doc_id, m.j, i.r AS i
      FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS r) i
    ),
    per AS (
      SELECT doc_id, MIN(np)::INTEGER AS n_pages,
             (2 + 2 * MIN(np))::INTEGER AS n_objects,
             CAST(SUM(n) AS BIGINT) AS content_bytes
      FROM m GROUP BY doc_id
    ),
    cs AS (
      SELECT doc_id,
             CAST(SUM((doc_id*7 + j*13 + i) % 95 + 32) AS BIGINT)
                 AS content_sum
      FROM g GROUP BY doc_id
    )
    SELECT per.doc_id, per.n_objects, per.n_pages, per.content_bytes,
           cs.content_sum
    FROM per JOIN cs ON per.doc_id = cs.doc_id
    """,
)
def multimodal_pdf_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF containers, metadata-only (the curation fast path for the
    web's dominant document format): per document a genuine multi-page
    classic-xref PDF — catalog → page tree → Page objects → FlateDecode
    content streams, byte-offset-exact xref table — is written by
    operators/pdf.py, then parsed WITHOUT rendering: startxref located
    from the tail, every object offset validated against the actual
    bytes, /Count checked against /Kids, each stream Flate-decoded and
    length-checked, and the exact content-byte sum pinned against the
    closed form.  Encrypted PDFs, xref streams, object streams,
    incremental updates and non-Flate filters refuse loudly by name —
    the features that silently corrupt naive PDF scrapers.

    Scale shape: pure map, two Arrow-batched mapInPandas kernels, no
    shuffle; parse CPU is O(objects), never O(render)."""
    d = load_table(spark, sf_dir, "documents")
    params = d.filter(F.col("doc_id") % 12 == 3).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int").alias("n_pages"),
    )
    encoded = params.mapInPandas(
        synth_pdf_batches, "doc_id bigint, payload binary"
    )
    return encoded.mapInPandas(pdf_meta_batches, PDF_META_SCHEMA)


# --- truncation-vs-chunking loss accounting ------------------------------------

_TRUNC_WINDOWS = (128, 256, 512)


@register(
    "pack_truncation_loss",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({_SQL_TOKENS})::BIGINT AS n
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    )
    SELECT * FROM (
      {" UNION ALL ".join(
        f'''SELECT {w} AS window_size,
               (SELECT COUNT(*) FROM d) AS n_docs,
               (SELECT COUNT(*) FROM d WHERE n > {w}) AS docs_truncated,
               (SELECT CAST(SUM(n) AS BIGINT) FROM d) AS total_tokens,
               (SELECT CAST(COALESCE(SUM(n - {w}), 0) AS BIGINT)
                FROM d WHERE n > {w}) AS tokens_lost,
               (SELECT CAST(SUM(CASE WHEN n > {w}
                        THEN n - (n // {w}) * {w}
                        ELSE 0 END) AS BIGINT) FROM d) AS tail_waste'''
        for w in _TRUNC_WINDOWS
      )}
    ) ORDER BY window_size
    """,
)
def pack_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRUNCATE-vs-CHUNK policy table every pretraining data pipeline
    decides from: for each candidate context window, how many documents
    overflow it, how many tokens a truncate-at-window policy DELETES
    (tokens_lost — the documents' tails, which skews long-form content
    out of the corpus), and how many tokens a chunk-everything policy
    leaves as sub-window tail fragments (tail_waste — paid in padding or
    packing complexity instead).  The difference between those two
    columns at your window size IS the cost of the lazy policy; exact
    integers end to end.

    Scale shape: ONE token-count aggregation over the corpus feeds every
    window size (the sweep adds CASE columns, not passes); map-side
    combinable, no join, no window function."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select(
            F.size(_tokens(F.col("text"))).cast("bigint").alias("n")
        )
    )
    rows = []
    for w in _TRUNC_WINDOWS:
        over = F.col("n") > w
        rows.append(
            d.agg(
                F.lit(w).alias("window_size"),
                F.count(F.lit(1)).alias("n_docs"),
                F.count(F.when(over, 1)).alias("docs_truncated"),
                F.sum("n").cast("bigint").alias("total_tokens"),
                F.coalesce(
                    F.sum(F.when(over, F.col("n") - w)), F.lit(0)
                )
                .cast("bigint")
                .alias("tokens_lost"),
                F.sum(
                    F.when(
                        over,
                        F.col("n") - F.floor(F.col("n") / w) * w,
                    ).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias("tail_waste"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("window_size")


@register(
    "text_sentence_dedup",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             trim(unnest(string_split(lower(text), '.'))) AS sent
      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    f AS (SELECT doc_id, sent FROM s WHERE len(sent) >= 20),
    g AS (
      SELECT sent, COUNT(*) AS n_occurrences,
             COUNT(DISTINCT doc_id) AS n_docs,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM f GROUP BY sent HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT md5(sent) AS sent_hash,
           CAST(len(sent) AS BIGINT) AS sent_len,
           n_occurrences, n_docs, first_doc
    FROM g
    ORDER BY n_docs DESC, n_occurrences DESC, sent_hash
    LIMIT 20
    """,
)
def text_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-DOCUMENT boilerplate detection: exact dedup at SENTENCE
    granularity — the curation pass that catches repeated disclaimers,
    navigation crumbs and license blurbs that document-level dedup
    (dedup_exact) and prefix detection (text_boilerplate_prefix) both
    miss because the surrounding documents differ.  Sentences are
    period-split, lowercased, trimmed, and floored at 20 chars (drops
    abbreviation fragments); the top 20 cross-document repeats ship as
    md5 hashes + occurrence/document counts + first-seen doc — exactly
    the removal list a cleaning pass consumes.  Lee et al. 2022 measure
    this sub-document duplication as the dominant repeated-text mass in
    web corpora.

    Scale shape: one explode, one hash aggregation on the sentence key
    (map-side combinable; the 32-byte md5 could shuffle instead of the
    raw sentence at 100 TB — here the raw key keeps the oracle simple),
    TakeOrderedAndProject top-20."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    s = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\.", -1)).alias(
                "raw"
            ),
        )
        .select("doc_id", F.trim("raw").alias("sent"))
        .filter(F.length("sent") >= 20)
    )
    g = (
        s.groupBy("sent")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return (
        g.select(
            F.md5("sent").alias("sent_hash"),
            F.length("sent").cast("bigint").alias("sent_len"),
            "n_occurrences",
            "n_docs",
            "first_doc",
        )
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), "sent_hash"
        )
        .limit(20)
    )


# --- skip-gram window co-occurrence --------------------------------------------

_COOC_WIN = 5  # forward window (tokens)
_COOC_TOPK = 20


@register(
    "text_window_cooccurrence",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, w, pos FROM (
        SELECT doc_id,
               unnest({_SQL_TOKENS}) AS w,
               unnest(range(0, len({_SQL_TOKENS}))) AS pos
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
      ) WHERE len(w) >= 3
    ),
    p AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_cooc,
             COUNT(DISTINCT a.doc_id) AS n_docs
      FROM t a JOIN t b
        ON a.doc_id = b.doc_id
       AND b.pos > a.pos AND b.pos <= a.pos + {_COOC_WIN}
       AND a.w <> b.w
      GROUP BY a.w, b.w
    )
    SELECT md5(w1 || ':' || w2) AS pair_hash,
           CAST(len(w1) + len(w2) AS BIGINT) AS pair_len,
           n_cooc, n_docs
    FROM p
    ORDER BY n_cooc DESC, n_docs DESC, pair_hash
    LIMIT {_COOC_TOPK}
    """,
)
def text_window_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram WINDOW CO-OCCURRENCE — the counting pass word2vec/GloVe
    style embedding training and collocation mining start from: ordered
    token pairs within a forward {_COOC_WIN}-token window, aggregated to
    the corpus co-occurrence matrix, top-{_COOC_TOPK} by raw count (PMI
    needs log(); raw counts + document frequencies are the exact-integer
    form both engines agree on bit-for-bit).  Pairs ship as md5 hashes
    because ORDER BY on raw multi-byte tokens hits the non-ASCII
    collation divergence (engine-semantics matrix class); token length
    ≥ 3 drops stopword-ish debris identically on both sides.

    Scale shape: the positional self-join is per-document key-equality
    with a bounded window predicate — fanout ≤ {_COOC_WIN} per token by
    construction, so the pair volume is O(tokens·window), never O(n²);
    one hash aggregation on the pair key, TakeOrderedAndProject top-k.
    At 100 TB the standard refinement is hashing the pair to a 64-bit
    key before the shuffle (graph_common_neighbors' packing trick)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    t = materialize_once(
        d.select(
            "doc_id",
            F.posexplode(_tokens(F.col("text"))).alias("pos", "w"),
        )
        .filter(F.length("w") >= 3)
    )
    a, b = t.alias("a"), t.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") <= F.col("a.pos") + _COOC_WIN)
            & (F.col("a.w") != F.col("b.w")),
        )
        .groupBy(
            F.col("a.w").alias("w1"), F.col("b.w").alias("w2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cooc"),
            F.count_distinct(F.col("a.doc_id")).alias("n_docs"),
        )
    )
    return (
        p.select(
            F.md5(F.concat_ws(":", "w1", "w2")).alias("pair_hash"),
            (F.length("w1") + F.length("w2"))
            .cast("bigint")
            .alias("pair_len"),
            "n_cooc",
            "n_docs",
        )
        .orderBy(F.desc("n_cooc"), F.desc("n_docs"), "pair_hash")
        .limit(_COOC_TOPK)
    )


_OOV_VOCAB_K = 1000  # corpus vocabulary = top-1000 tokens by frequency


@register(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_SQL_TOKENS}) AS w
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    t AS (SELECT doc_id, source, w FROM tok WHERE w <> ''),
    vocab AS (
      SELECT w FROM (
        SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, md5(w)) AS rk
        FROM t GROUP BY w
      ) r WHERE rk <= {_OOV_VOCAB_K}
    ),
    per_doc AS (
      SELECT t.doc_id, t.source,
             COUNT(*) AS n_tok,
             SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM t LEFT JOIN vocab v ON v.w = t.w
      GROUP BY t.doc_id, t.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_oov) AS BIGINT) AS total_oov,
           MIN(CAST(n_oov AS DOUBLE) / n_tok) AS min_oov_ratio,
           MAX(CAST(n_oov AS DOUBLE) / n_tok) AS max_oov_ratio
    FROM per_doc GROUP BY source ORDER BY source NULLS LAST
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary RATE against the corpus's own top-1000 token
    vocabulary — the tokenizer-budget curation metric (a document whose
    tokens mostly fall outside the head vocabulary fragments into long
    byte-level sequences and burns context window; gibberish and
    wrong-language text score high).  Vocabulary ranking tie-breaks by
    md5(token), NOT the raw token, so multi-byte strings never hit the
    cross-engine collation divergence (engine-semantics matrix).  Exact
    integer counts; the only doubles are per-doc single divisions reduced
    by MIN/MAX (order-free).

    Scale shape: one token explode feeding a map-side-combinable
    frequency aggregate, a bounded top-K vocabulary that BROADCASTS to
    the membership join (the big exploded side never shuffles for it),
    then per-doc and per-source key-equality aggregations."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    t = (
        d.select("doc_id", "source", _tokens(F.col("text")).alias("ws"))
        .select("doc_id", "source", F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
    )
    wv = Window.orderBy(F.desc("cnt"), F.md5(F.col("w")))
    vocab = (
        t.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") <= _OOV_VOCAB_K)
        .select(F.col("w").alias("vw"))
    )
    per_doc = (
        t.join(F.broadcast(vocab), t.w == vocab.vw, "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(
                F.when(F.col("vw").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("n_oov").cast("bigint").alias("total_oov"),
            F.min(F.col("n_oov").cast("double") / F.col("n_tok")).alias(
                "min_oov_ratio"
            ),
            F.max(F.col("n_oov").cast("double") / F.col("n_tok")).alias(
                "max_oov_ratio"
            ),
        )
        .orderBy(F.col("source").asc_nulls_last())
    )
