"""Multimodal + export catalog entries (OP-X-MULTIMODAL, OP-UDF-ZIP,
OP-UDF-URL).

The documents table's text bytes stand in for media content (the container
ships no image/audio codecs — see operators/multimodal.py for the stub
policy).  The decode/featurize stubs are md5/sha256-derived, so even the
Arrow-batched ``mapInPandas`` paths are oracle-checkable: DuckDB recomputes
the same hashes in SQL.  Zip assembly is genuinely non-SQL-expressible →
rows-only check + pytest unzip round-trip (tests/test_media.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agf_data_ingestion_spark.operators.export import export_zip_groups, presigned_url
from agf_data_ingestion_spark.operators.multimodal import (
    attach_media,
    decode_image_meta,
    extract_features,
    sample_frames,
)
from agf_data_ingestion_spark.plans.base import QuerySpec, t

_FEAT_DIM = 16


def _media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return attach_media(
        d.select("doc_id", "text"),
        path=F.concat(F.lit("media/doc_"), F.col("doc_id"), F.lit(".png")),
        mime=F.lit("image/png"),
        content=F.encode("text", "UTF-8"),
    ).drop("text")


def docs_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_image_meta(_media_docs(spark, sf_dir)).select(
        "doc_id", "path", "mime", "size_bytes", "width", "height", "n_channels"
    )


_MULTIMODAL_META_SQL = """
SELECT doc_id,
       'media/doc_' || CAST(doc_id AS VARCHAR) || '.png' AS path,
       'image/png' AS mime,
       CAST(strlen(text) AS BIGINT) AS size_bytes,
       1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 1024 AS width,
       1 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 1024 AS height,
       CAST(3 AS BIGINT) AS n_channels
FROM documents
"""


def docs_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(_media_docs(spark, sf_dir), dim=_FEAT_DIM)
    cols = [
        F.element_at("features", i + 1).cast("double").alias(f"f{i}") for i in range(_FEAT_DIM)
    ]
    return feats.select("doc_id", *cols)


_MEDIA_FEATURES_SQL = "SELECT doc_id, " + ", ".join(
    # (uint16 - 32768)/32768 is a dyadic rational with <= 16 significant
    # bits -> exact in FLOAT, so no cross-engine rounding gap exists.
    f"(('0x' || substr(sha256(text), {4 * i + 1}, 4))::BIGINT - 32768) / 32768.0 AS f{i}"
    for i in range(_FEAT_DIM)
) + " FROM documents"


def docs_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(_media_docs(spark, sf_dir), every_n_bytes=64, max_frames=8)


_FRAME_SAMPLES_SQL = """
SELECT 'media/doc_' || CAST(doc_id AS VARCHAR) || '.png' AS path,
       CAST(i AS BIGINT) AS frame_index,
       CAST(i * 64 AS BIGINT) AS byte_offset
FROM documents, unnest(range(0, least(8, greatest(1, (strlen(text) + 63) // 64)))) AS u(i)
"""


def docs_presigned_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    key = F.concat(F.lit("exports/doc_"), F.col("doc_id"), F.lit(".txt"))
    return d.select(
        "doc_id", presigned_url(F.lit("agf-lake"), key).alias("url")
    )


_PRESIGNED_SQL = """
SELECT doc_id,
       'https://agf-lake.s3.example/exports/doc_' || CAST(doc_id AS VARCHAR)
         || '.txt?X-Amz-Expires=3600&X-Amz-Signature='
         || substr(md5('agf-lake' || '|' || 'exports/doc_' || CAST(doc_id AS VARCHAR)
                       || '.txt' || '|' || '3600'), 1, 16) AS url
FROM documents
"""


def _zip_members(d: DataFrame) -> DataFrame:
    """The export's member rows: one per document, UNIQUE full path but a
    COLLISION-BEARING basename (``doc_{doc_id % 100}.txt``) so the
    archive's duplicate-name numbering (reference
    agf_zip_generator_lambda.py:95,106-114) is actually exercised at
    every scale factor."""
    return d.select(
        F.col("source").alias("export_group"),
        F.concat(
            F.lit("docs/"),
            F.col("doc_id").cast("string"),
            F.lit("/doc_"),
            (F.col("doc_id") % F.lit(100)).cast("string"),
            F.lit(".txt"),
        ).alias("path"),
        F.encode("text", "UTF-8").alias("content"),
    )


def docs_export_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zip assembly itself — byte digests are pytest-pinned (archives
    are not SQL-expressible); the predicted entry table is the
    oracle-checked :func:`docs_export_zip_manifest`."""
    d = t(spark, sf_dir, "documents")
    m = _zip_members(d)
    return export_zip_groups(
        m, group=F.col("export_group"), path=F.col("path"), content=F.col("content")
    )


def docs_export_zip_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted entry table of every archive ``docs_export_zip`` builds:
    per entry its collision-numbered name (the OP-WIN-DEDUPNAME window —
    occurrence index over the group's sorted-path write order), its
    uncompressed size, write position, and the group's files-count tag
    (reference :151-158).  Cross-validated against the REAL archive bytes
    in tests/test_media.py::test_zip_manifest_matches_archive; plain SQL,
    so the driver oracle-checks it (the byte digest stays pytest-only).

    SKEW-ROUTED (operators/skew.py ``route_salted``): export_group IS
    `source` renamed, 20 values, so at scale both ranks run through the
    string-prefix salted rank (salted_rank_hexkey with k=8 — paths share
    the constant 'docs/' head, so the salt buckets on the id's leading
    digits; a string prefix is monotone in string order for ANY key)."""
    from pyspark.sql.window import Window

    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_rank_hexkey,
    )

    d = t(spark, sf_dir, "documents")
    e = d.select(
        F.col("source").alias("export_group"),
        (F.col("doc_id") % F.lit(100)).alias("k"),
        F.concat(
            F.lit("docs/"),
            F.col("doc_id").cast("string"),
            F.lit("/doc_"),
            (F.col("doc_id") % F.lit(100)).cast("string"),
            F.lit(".txt"),
        ).alias("path"),
        F.octet_length("text").cast("long").alias("entry_bytes"),
    )
    # paths are unique (doc_id embedded), so every window order is total
    if route_salted(d):
        e = e.cache()  # narrow; both decompositions + their cell tables
        seq = salted_rank_hexkey(
            e, ["export_group"], "path", "path",
            out_rank="_seq", out_n="_ngrp", k=8,
        )
        dup = salted_rank_hexkey(
            e.select("export_group", "k", "path"),
            ["export_group", "k"], "path", "path",
            out_rank="_dupr", k=8,
        ).select("export_group", "k", "path", "_dupr")
        ranked = seq.join(
            dup.hint("shuffle_hash"), ["export_group", "k", "path"]
        )
        seq_col = F.col("_seq")
        dup_idx = F.col("_dupr") - F.lit(1)
        cnt_col = F.col("_ngrp")
    else:
        w_dup = Window.partitionBy("export_group", "k").orderBy("path")
        w_seq = Window.partitionBy("export_group").orderBy("path")
        ranked = e
        seq_col = F.row_number().over(w_seq)
        dup_idx = F.row_number().over(w_dup) - F.lit(1)
        cnt_col = F.count(F.lit(1)).over(Window.partitionBy("export_group"))
    return ranked.select(
        "export_group",
        seq_col.cast("long").alias("entry_seq"),
        F.when(
            dup_idx == 0,
            F.concat(F.lit("doc_"), F.col("k").cast("string"), F.lit(".txt")),
        )
        .otherwise(
            F.concat(
                F.lit("doc_"),
                F.col("k").cast("string"),
                F.lit("_"),
                dup_idx.cast("string"),
                F.lit(".txt"),
            )
        )
        .alias("entry_name"),
        "entry_bytes",
        cnt_col.cast("long").alias("group_file_count"),
    )


_ZIP_MANIFEST_SQL = """
WITH e AS (
  SELECT source AS export_group,
         doc_id % 100 AS k,
         'docs/' || CAST(doc_id AS VARCHAR) || '/doc_'
           || CAST(doc_id % 100 AS VARCHAR) || '.txt' AS path,
         CAST(octet_length(encode(text)) AS BIGINT) AS entry_bytes
  FROM documents
)
SELECT export_group,
       CAST(ROW_NUMBER() OVER (PARTITION BY export_group ORDER BY path) AS BIGINT)
         AS entry_seq,
       CASE WHEN ROW_NUMBER() OVER (PARTITION BY export_group, k ORDER BY path) = 1
            THEN 'doc_' || CAST(k AS VARCHAR) || '.txt'
            ELSE 'doc_' || CAST(k AS VARCHAR) || '_'
                 || CAST(ROW_NUMBER() OVER (PARTITION BY export_group, k ORDER BY path) - 1
                         AS VARCHAR) || '.txt'
       END AS entry_name,
       entry_bytes,
       CAST(COUNT(*) OVER (PARTITION BY export_group) AS BIGINT) AS group_file_count
FROM e
"""


# ---------------------------------------------------------------------------
# Perceptual-hash media near-dup (OP-X-PHASH): the image-dedup pipeline —
# per-item 60-bit content hash, band-blocked candidate join, exact Hamming
# verify.  The hash here is md5-derived (the container has no codecs), so
# only byte-identical media collide; the REAL numpy 2D-DCT pHash backend
# (operators/multimodal.py dct_phash_media + banded_hamming_pairs, r4)
# drops into the same plumbing and the banding then finds SMALL Hamming
# distances too — cross-validated on seeded fixtures in
# tests/test_media.py (perceptual dups: DCT <= 10 bits, SimHash misses).
# ---------------------------------------------------------------------------

_PHASH_BITS = 60  # stays inside signed BIGINT
_PHASH_BANDS = 4  # 15 bits per band
_PHASH_BAND_MOD = 1 << 15
_PHASH_MAX_HAM = 12  # near-dups land ≤ 7, random collisions ≥ 18 (bimodal)
_PHASH_GRAM = 3  # words per content shingle feature


def media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media pairs by banded perceptual-hash blocking —
    the image-dedup pipeline shape (pHash → LSH bands → Hamming verify).

    The hash is a 60-bit SimHash over the decoded content's distinct
    ``_PHASH_GRAM``-gram features — the defining pHash property holds:
    similar content → small Hamming distance (a real DCT-based pHash
    drops into the same sign-aggregation).  A pair is a candidate when
    ANY of the ``_PHASH_BANDS`` 15-bit bands match (guaranteed for
    Hamming ≤ bands-1 by pigeonhole, probabilistic above), then verified
    with an exact ``bit_count(xor)`` ≤ ``_PHASH_MAX_HAM``.

    Scale: content bytes never shuffle — the vote aggregation reduces
    map-side to ≤ 60 longs/item, then ONE long/item; bands explode to 4
    short rows/item; the band self-join is corpus × corpus on the bucket
    key → pinned shuffle-hash, never broadcast; band arithmetic is div/%
    only (CLAUDE.md: &/<< precedence is a cross-engine trap)."""
    from agf_data_ingestion_spark.plans.text import simhash_votes

    # the media content IS the document text's bytes (attach_media above
    # encodes it); decoding the struct back would round-trip every row
    # through encode→decode for no semantic effect, so feature-extract
    # from the text column directly — byte-identical input either way
    # repartition raw doc rows by doc_id first (r4 shuffle economy): the
    # partitioning survives the gram explode, so the nibble counts, vote
    # sums, and per-item hash fold below all aggregate exchange-free
    media = (
        t(spark, sf_dir, "documents")
        .repartition("doc_id")
        .select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= _PHASH_GRAM)
    )
    idx = F.sequence(F.lit(1), F.size("w") - (_PHASH_GRAM - 1))
    # hash ONCE per gram, before the ×60 bit fan-out (an inline md5 in
    # the vote expression would re-hash per bit row — 60× per gram).
    # r5: explode positions THEN build each gram with codegen slice/
    # array_join and dedupe as an (exchange-free) aggregate — the
    # transform+array_distinct form evaluated interpreted and O(n²) per
    # array (measured 0.71 → 0.52 s for the gram stage at sf0.1)
    grams = (
        media.select("doc_id", "w", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            F.expr(f"array_join(slice(w, i, {_PHASH_GRAM}), ' ')").alias("g"),
        )
        .distinct()
        .select("doc_id", F.md5("g").alias("gh"))
    )
    # shared nibble-count vote aggregation (plans/text.py simhash_votes)
    items = (
        simhash_votes(grams, "gh", _PHASH_BITS)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), CAST(b AS INT))")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("ph")
        )
    )
    bands = items.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(ph div {_PHASH_BAND_MOD**b}L) % {_PHASH_BAND_MOD}"
                        ).alias("key"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "ph", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ph").alias("ha"),
            F.col("b.ph").alias("hb"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
        )
        .filter(F.col("hamming") <= _PHASH_MAX_HAM)
        .select("doc_a", "doc_b", "hamming")
    )


def _phash_sql() -> str:
    """Oracle with the shared SimHash vote fragment injected (single
    source of truth for the nibble/shift construction: plans/text.py)."""
    from agf_data_ingestion_spark.plans.text import simhash_vote_sql

    return _PHASH_SQL_TEMPLATE.replace("{VOTE}", simhash_vote_sql("gh"))


_PHASH_SQL_TEMPLATE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {_PHASH_GRAM}
),
grams AS (
  SELECT md5(g) AS gh, doc_id FROM (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+{_PHASH_GRAM - 1}], ' ') AS g
    FROM w, unnest(range(1, len(w) - {_PHASH_GRAM - 2})) AS t(i)
  )
),
votes AS (
  SELECT doc_id, b, SUM({{VOTE}}) AS v
  FROM grams CROSS JOIN (SELECT unnest(range(0, {_PHASH_BITS})) AS b)
  GROUP BY doc_id, b
),
items AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END)
              AS BIGINT) AS ph
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, ph, b AS band,
         (ph // power({_PHASH_BAND_MOD}, b)::BIGINT) % {_PHASH_BAND_MOD} AS key
  FROM items, unnest(range(0, {_PHASH_BANDS})) AS t(b)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ph AS ha, b.ph AS hb
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cands WHERE bit_count(xor(ha, hb)) <= {_PHASH_MAX_HAM}
"""


# -- audio fingerprint (r8, VERDICT r7 ask #8) --------------------------------
#: synthetic waveform: 64 md5-derived 12-bit samples per item; the
#: fingerprint is the chromaprint-shaped temporal-gradient bitmap —
#: bit j = (sample[j] > sample[j+4]), 60 bits (frame stride = 4 samples,
#: i.e. "did band b's energy rise from frame f to f+1").  Every doc with
#: doc_id % 29 == 1 is a PLANTED near-duplicate of doc_id - 1: same base
#: waveform plus a small md5 jitter (< _AFP_JITTER of the 4096 amplitude
#: range), flipping only near-tie gradient bits.
_AFP_SAMPLES = 64
_AFP_STRIDE = 4
_AFP_BITS = _AFP_SAMPLES - _AFP_STRIDE  # 60: the banded machinery's width
_AFP_AMP = 4096
_AFP_JITTER = 48
_AFP_MAX_HAM = 10  # planted twins land <= ~6; random pairs center at 30


def media_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by banded spectral-gradient
    fingerprints — the chromaprint/AcoustID pipeline shape re-expressed
    exact-integer (the audio twin of ``media_phash_neardup``; the
    container ships no audio codecs, so the waveform is the documented
    md5-derived synthetic and the DECODE step alone is the stub —
    operators/multimodal.py policy).

    Every quantity is an integer derived from md5, so the full pipeline
    (waveform → gradient bits → 60-bit fingerprint → 4×15-bit LSH bands
    → exact ``bit_count(xor)`` verify) hash-matches the DuckDB oracle,
    and planted-twin recovery is pinned in tests/test_media.py.

    Scale: samples never shuffle — the 60 gradient bits aggregate
    map-side to ONE long per item; bands explode to 4 short rows/item;
    the band self-join is corpus × corpus on the bucket key → pinned
    shuffle-hash, never broadcast; band arithmetic is div/%% only (the
    cross-engine precedence rule)."""
    base = (
        "CASE WHEN doc_id % 29 = 1 THEN doc_id - 1 ELSE doc_id END"
    )

    def amp(j: str) -> str:
        return (
            f"CAST(conv(substring(md5(concat('wav:', CAST({base} AS STRING),"
            f" ':', CAST({j} AS STRING))), 1, 4), 16, 10) AS BIGINT)"
            f" % {_AFP_AMP}"
        )

    def jit(j: str) -> str:
        return (
            f"CASE WHEN doc_id % 29 = 1 THEN"
            f" CAST(conv(substring(md5(concat('pw:', CAST(doc_id AS STRING),"
            f" ':', CAST({j} AS STRING))), 1, 2), 16, 10) AS BIGINT)"
            f" % {_AFP_JITTER} ELSE 0 END"
        )

    items = (
        t(spark, sf_dir, "documents")
        .repartition("doc_id")
        .select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(_AFP_BITS - 1))).alias("j"))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN ({amp('j')} + {jit('j')})"
                f" > ({amp(f'j + {_AFP_STRIDE}')} + {jit(f'j + {_AFP_STRIDE}')})"
                f" THEN shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"
                f" ELSE CAST(0 AS BIGINT) END"
            ).alias("bit"),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit").alias("fp"))
    )
    bands = items.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(fp div {_PHASH_BAND_MOD**b}L) % {_PHASH_BAND_MOD}"
                        ).alias("key"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("ha"),
            F.col("b.fp").alias("hb"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
        )
        .filter(F.col("hamming") <= _AFP_MAX_HAM)
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            ((F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 29 == 0)).alias(
                "planted"
            ),
        )
    )


_AFP_BASE_SQL = "CASE WHEN doc_id % 29 = 1 THEN doc_id - 1 ELSE doc_id END"


def _afp_amp_sql(j: str) -> str:
    return (
        f"('0x' || substr(md5('wav:' || CAST({_AFP_BASE_SQL} AS VARCHAR)"
        f" || ':' || CAST({j} AS VARCHAR)), 1, 4))::BIGINT % {_AFP_AMP}"
    )


def _afp_jit_sql(j: str) -> str:
    return (
        f"CASE WHEN doc_id % 29 = 1 THEN"
        f" ('0x' || substr(md5('pw:' || CAST(doc_id AS VARCHAR)"
        f" || ':' || CAST({j} AS VARCHAR)), 1, 2))::BIGINT % {_AFP_JITTER}"
        f" ELSE 0 END"
    )


_AUDIO_FP_SQL = f"""
WITH bits AS (
  SELECT doc_id, j,
         CASE WHEN ({_afp_amp_sql('j')} + {_afp_jit_sql('j')})
                 > ({_afp_amp_sql(f'j + {_AFP_STRIDE}')} + {_afp_jit_sql(f'j + {_AFP_STRIDE}')})
              THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END AS bit
  FROM documents, unnest(range(0, {_AFP_BITS})) AS u(j)
),
items AS (
  SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS fp FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, fp, b AS band,
         (fp // power({_PHASH_BAND_MOD}, b)::BIGINT) % {_PHASH_BAND_MOD} AS key
  FROM items, unnest(range(0, {_PHASH_BANDS})) AS t(b)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS ha, b.fp AS hb
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming,
       (doc_b = doc_a + 1) AND (doc_a % 29 = 0) AS planted
FROM cands WHERE bit_count(xor(ha, hb)) <= {_AFP_MAX_HAM}
"""


QUERIES: dict[str, QuerySpec] = {
    "media_audio_fingerprint": QuerySpec(
        media_audio_fingerprint,
        _AUDIO_FP_SQL,
        ("OP-X-AUDIOFP", "OP-X-MULTIMODAL", "OP-X-PHASH"),
    ),
    "media_phash_neardup": QuerySpec(
        media_phash_neardup,
        _phash_sql(),
        ("OP-X-PHASH", "OP-X-MULTIMODAL", "OP-X-DEDUP-NEAR"),
    ),
    "docs_multimodal_meta": QuerySpec(
        docs_multimodal_meta, _MULTIMODAL_META_SQL, ("OP-X-MULTIMODAL",)
    ),
    "docs_media_features": QuerySpec(
        docs_media_features, _MEDIA_FEATURES_SQL, ("OP-X-MULTIMODAL", "OP-X-SIM-TOPK")
    ),
    "docs_frame_samples": QuerySpec(
        docs_frame_samples, _FRAME_SAMPLES_SQL, ("OP-X-MULTIMODAL",)
    ),
    "docs_presigned_urls": QuerySpec(docs_presigned_urls, _PRESIGNED_SQL, ("OP-UDF-URL",)),
    "docs_export_zip_manifest": QuerySpec(
        docs_export_zip_manifest,
        _ZIP_MANIFEST_SQL,
        ("OP-UDF-ZIP", "OP-SINK-FILE", "OP-FIL-SIZE", "OP-WIN-DEDUPNAME"),
    ),
}
