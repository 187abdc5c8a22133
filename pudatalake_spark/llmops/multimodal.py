"""Multimodal column handling (SURVEY §2.10, BASELINE.json:6).

Modality payloads are opaque ``binary`` columns wrapped in a typed
struct: struct(modality, content binary, meta struct). Decode /
feature-extraction runs as Arrow-batched pandas over mapInPandas.

Decode is REAL for WAV / PNG / netpbm payloads via the pure-stdlib
codecs in ``codecs.py`` (q_multimodal_decode_real encodes actual
PNG/WAV bytes and decodes them back, oracle-verified). Formats that
need absent codec libs (JPEG/MP3/MP4) remain the declared stub:
_extract_features takes the payload's byte values as its samples, so
the plumbing (schema, batching, partitioning, UDF signatures) still
runs.

100 TB posture: binary payloads dominate bytes - keep them OUT of
shuffles (extract features first, shuffle features only), store
payloads in their own column so parquet column pruning skips them
for metadata-only queries, and size partitions by bytes not rows
(maxPartitionBytes), since one row can be megabytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..loaders import table
from ..registry import register


def _modality():
    return (
        F.when(F.col("doc_id") % 3 == 0, "text")
        .when(F.col("doc_id") % 3 == 1, "image")
        .otherwise("audio")
    )


@register(
    "q_multimodal_struct",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'text'
                WHEN doc_id % 3 = 1 THEN 'image'
                ELSE 'audio' END AS modality,
           octet_length(encode(text)) AS payload_bytes,
           n_chars AS meta_size,
           lang AS meta_lang
    FROM documents
    WHERE doc_id % 3 = 1
    """,
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed multimodal column: struct(modality, content: binary,
    meta: struct) built from documents (text bytes stand in for the
    raw payload); filter by modality, project per-type fields."""
    d = table(spark, sf_dir, "documents")
    mm = d.select(
        "doc_id",
        F.struct(
            _modality().alias("modality"),
            F.encode(F.col("text"), "UTF-8").alias("content"),
            F.struct(
                F.col("n_chars").alias("size"),
                F.col("lang").alias("lang"),
            ).alias("meta"),
        ).alias("media"),
    )
    return (
        mm.filter(F.col("media.modality") == "image")
        .select(
            "doc_id",
            F.col("media.modality").alias("modality"),
            F.octet_length("media.content").alias("payload_bytes"),
            F.col("media.meta.size").alias("meta_size"),
            F.col("media.meta.lang").alias("meta_lang"),
        )
    )


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("feat_mean", T.DoubleType()),
    ]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batches in, feature rows out."""
    for pdf in batches:
        samples = [list(c) for c in pdf["content"]]  # the declared stub
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "modality": pdf["modality"].values,
                "n_bytes": [len(s) for s in samples],
                "checksum": [int(sum(s) % 1_000_000_007) for s in samples],
                "feat_mean": [
                    float(sum(s)) / len(s) if s else 0.0 for s in samples
                ],
            }
        )


@register(
    "q_multimodal_decode",
    oracle="""
    WITH bytes AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'text'
                  WHEN doc_id % 3 = 1 THEN 'image'
                  ELSE 'audio' END AS modality,
             unnest([ord(substr(text, i + 1, 1)) FOR i IN range(0, length(text))]) AS b
      FROM documents
    )
    SELECT doc_id, modality,
           count(*) AS n_bytes,
           CAST(sum(b) % 1000000007 AS BIGINT) AS checksum,
           CAST(sum(b) AS DOUBLE) / count(*) AS feat_mean
    FROM bytes
    GROUP BY doc_id, modality
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over mapInPandas (Arrow batches). The
    decode itself is a deterministic stub (ASCII text -> payload bytes
    == character codes), which is what makes the oracle expressible:
    it recomputes the same byte statistics in SQL."""
    d = table(spark, sf_dir, "documents")
    mm = d.select(
        "doc_id",
        _modality().alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return mm.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA)


_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("dim1", T.LongType()),
        T.StructField("dim2", T.LongType()),
        T.StructField("n_units", T.LongType()),
        T.StructField("value_sum", T.LongType()),
    ]
)


def _real_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: synthesize a REAL media payload per doc
    (PNG image for doc_id%3==1, WAV audio for doc_id%3==2) from a
    closed-form sample function of doc_id, then decode it back with
    the actual codec and report stats FROM THE DECODED output. The
    oracle recomputes the same closed form in SQL, so a codec bug
    (wrong unfiltering, byte-order, header math) breaks the match.
    """
    import numpy as np

    from . import codecs

    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "fmt", "dim1", "dim2", "n_units", "value_sum")}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            if doc_id % 3 == 1:
                w, h = 16 + doc_id % 16, 8 + doc_id % 8
                idx = np.arange(w * h * 3, dtype=np.int64)
                img = ((doc_id * 3 + idx) % 256).astype(np.uint8).reshape(h, w, 3)
                d = codecs.decode(codecs.encode_png(img))
                rows["fmt"].append("png")
                rows["dim1"].append(d["width"])
                rows["dim2"].append(d["height"])
                rows["n_units"].append(int(d["pixels"].size))
                rows["value_sum"].append(int(d["pixels"].astype(np.int64).sum()))
            else:
                n = 256 + doc_id % 128
                idx = np.arange(n, dtype=np.int64)
                samples = (((doc_id * 7 + idx * 13) % 4096) - 2048).astype(np.int16)
                d = codecs.decode(codecs.encode_wav(samples, rate=8000))
                rows["fmt"].append("wav")
                rows["dim1"].append(d["rate"])
                rows["dim2"].append(d["channels"])
                rows["n_units"].append(int(d["n_samples"]))
                rows["value_sum"].append(int(d["samples"].sum()))
            rows["doc_id"].append(doc_id)
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_decode_real",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 1 THEN 'png' ELSE 'wav' END AS fmt,
             CASE WHEN doc_id % 3 = 1 THEN 16 + doc_id % 16 ELSE 8000 END AS dim1,
             CASE WHEN doc_id % 3 = 1 THEN 8 + doc_id % 8 ELSE 1 END AS dim2,
             CASE WHEN doc_id % 3 = 1
                  THEN (16 + doc_id % 16) * (8 + doc_id % 8) * 3
                  ELSE 256 + doc_id % 128 END AS n_units
      FROM documents
      WHERE doc_id % 3 <> 0
    ),
    b AS (
      SELECT doc_id, fmt, dim1, dim2, n_units,
             unnest(range(n_units)) AS i
      FROM dims
    )
    SELECT doc_id, fmt,
           CAST(dim1 AS BIGINT) AS dim1,
           CAST(dim2 AS BIGINT) AS dim2,
           CAST(n_units AS BIGINT) AS n_units,
           CAST(sum(CASE WHEN fmt = 'png' THEN (doc_id * 3 + i) % 256
                         ELSE ((doc_id * 7 + i * 13) % 4096) - 2048 END)
                AS BIGINT) AS value_sum
    FROM b
    GROUP BY doc_id, fmt, dim1, dim2, n_units
    """,
)
def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec roundtrip over mapInPandas: PNG (zlib inflate + PNG
    predictor unfiltering) for image docs, RIFF/PCM WAV for audio
    docs, both encoded and decoded with pudatalake_spark.llmops.codecs
    (pure stdlib + numpy — no PIL/torchaudio needed). Every reported
    column comes from the DECODED artifact; the DuckDB oracle
    recomputes the closed-form payload stats, so the match proves the
    codecs reconstruct the raster/samples bit-exactly.

    100 TB posture: decode runs Arrow-batched on executors; only the
    per-doc feature row (6 scalars) ever shuffles, never the payload.
    """
    d = table(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 3 != 0).select("doc_id")
    return docs.mapInPandas(_real_roundtrip, schema=_REAL_SCHEMA)


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("w_in", T.LongType()),
        T.StructField("h_in", T.LongType()),
        T.StructField("w_out", T.LongType()),
        T.StructField("h_out", T.LongType()),
        T.StructField("pixel_sum", T.LongType()),
    ]
)


def _resize_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode a real PNG per image doc, decode it, 2x nearest-neighbor
    downsample the DECODED raster (arr[::2, ::2]), report stats from
    the resized pixels."""
    import numpy as np

    from . import codecs

    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "w_in", "h_in", "w_out", "h_out", "pixel_sum")}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            w, h = 16 + doc_id % 16, 8 + doc_id % 8
            idx = np.arange(w * h * 3, dtype=np.int64)
            img = ((doc_id * 3 + idx) % 256).astype(np.uint8).reshape(h, w, 3)
            dec = codecs.decode(codecs.encode_png(img))["pixels"]
            small = dec[::2, ::2, :]
            rows["doc_id"].append(doc_id)
            rows["w_in"].append(w)
            rows["h_in"].append(h)
            rows["h_out"].append(small.shape[0])
            rows["w_out"].append(small.shape[1])
            rows["pixel_sum"].append(int(small.astype(np.int64).sum()))
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_resize",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             16 + doc_id % 16 AS w,
             8 + doc_id % 8 AS h,
             CAST(ceil((16 + doc_id % 16) / 2.0) AS BIGINT) AS w_out,
             CAST(ceil((8 + doc_id % 8) / 2.0) AS BIGINT) AS h_out
      FROM documents
      WHERE doc_id % 3 = 1
    ),
    px AS (
      SELECT doc_id, w, h, w_out, h_out,
             unnest(range(h_out)) AS r
      FROM dims
    ),
    px2 AS (
      SELECT doc_id, w, h, w_out, h_out, r,
             unnest(range(w_out)) AS c
      FROM px
    ),
    px3 AS (
      SELECT doc_id, w, h, w_out, h_out, r, c,
             unnest(range(3)) AS ch
      FROM px2
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS w_in,
           CAST(h AS BIGINT) AS h_in,
           w_out, h_out,
           CAST(sum((doc_id * 3 + ((2 * r * w + 2 * c) * 3 + ch)) % 256)
                AS BIGINT) AS pixel_sum
    FROM px3
    GROUP BY doc_id, w, h, w_out, h_out
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: decode an actual PNG (codecs.py), 2x
    nearest-neighbor downsample the decoded raster, report dimensions
    and pixel sum OF THE RESIZED image. The oracle recomputes the kept
    pixels (even rows/cols) from the closed-form raster, so both the
    codec roundtrip and the sampling arithmetic are hash-verified.

    Scale shape: map-only Arrow-batched mapInPandas; payloads never
    shuffle, only the 6-scalar feature row does."""
    d = table(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    return docs.mapInPandas(_resize_worker, schema=_RESIZE_SCHEMA)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def _audio_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode real WAV audio per doc, decode it, compute RMS and
    zero-crossing count from the DECODED samples."""
    import numpy as np

    from . import codecs

    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "n_samples", "rms", "zero_crossings")}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            n = 256 + doc_id % 128
            idx = np.arange(n, dtype=np.int64)
            samples = (((doc_id * 7 + idx * 13) % 4096) - 2048).astype(np.int16)
            s = codecs.decode(codecs.encode_wav(samples, rate=8000))["samples"]
            sign = np.sign(s)
            nz = sign[sign != 0]
            rows["doc_id"].append(doc_id)
            rows["n_samples"].append(int(s.size))
            rows["rms"].append(round(float(np.sqrt((s.astype(np.float64) ** 2).mean())), 6))
            rows["zero_crossings"].append(int((nz[1:] != nz[:-1]).sum()))
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_audio_features",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 256 + doc_id % 128 AS n
      FROM documents
      WHERE doc_id % 3 = 2
    ),
    samp AS (
      SELECT doc_id, n, i,
             ((doc_id * 7 + i * 13) % 4096) - 2048 AS s
      FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM dims)
    ),
    signs AS (
      SELECT doc_id, n, s,
             lag(sign(s)) OVER (PARTITION BY doc_id ORDER BY i) AS prev_sign,
             sign(s) AS cur_sign
      FROM samp
      WHERE s <> 0
    )
    SELECT doc_id,
           CAST(any_value(n) AS BIGINT) AS n_samples,
           round(sqrt(sum(CAST(s AS DOUBLE) * s) / any_value(n)), 6) AS rms,
           CAST(count(*) FILTER (WHERE prev_sign IS NOT NULL
                                 AND cur_sign <> prev_sign) AS BIGINT)
             AS zero_crossings
    FROM signs
    GROUP BY doc_id
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction: decode actual RIFF/PCM WAV
    payloads (codecs.py) and compute RMS amplitude + zero-crossing
    count from the decoded int16 samples. Oracle recomputes both from
    the closed-form sample function (zero samples excluded from the
    crossing count on both sides), hash-verifying the codec and the
    feature math together.

    Scale shape: map-only Arrow-batched mapInPandas, feature rows
    only ever shuffle."""
    d = table(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 3 == 2).select("doc_id")
    return docs.mapInPandas(_audio_worker, schema=_AUDIO_SCHEMA)


@register("q_multimodal_framesample")  # plumbing demo -> rows-only
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: split each
    payload into fixed-size 'frames' (64-byte windows), keep every
    4th frame, one output row per kept frame. Deterministic stub for
    the decode; the explode/partitioning shape is the real thing."""
    frame_len, stride = 64, 4

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_no": [], "frame_bytes": [], "frame_sum": []}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                buf = bytes(content)
                n_frames = max(1, len(buf) // frame_len)
                for fno in range(0, n_frames, stride):
                    chunk = buf[fno * frame_len : (fno + 1) * frame_len]
                    rows["doc_id"].append(doc_id)
                    rows["frame_no"].append(fno)
                    rows["frame_bytes"].append(len(chunk))
                    rows["frame_sum"].append(int(sum(chunk)))
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("frame_bytes", T.IntegerType()),
            T.StructField("frame_sum", T.LongType()),
        ]
    )
    d = table(spark, sf_dir, "documents")
    mm = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content"))
    return mm.mapInPandas(sample, schema=schema)


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("bits_set", T.IntegerType()),
    ]
)


def phash_from_pixels(pixels) -> int:
    """64-bit blockmean average hash (aHash) of an RGB raster: gray =
    channel mean, 8x8 block means over integer block edges, bit k set
    iff block k's mean > the global block mean. Pure numpy; shared by
    the operator worker and the pinned test."""
    import numpy as np

    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    re = (np.arange(9) * h) // 8
    ce = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8), dtype=np.float64)
    for r in range(8):
        for c in range(8):
            blocks[r, c] = gray[re[r]:re[r + 1], ce[c]:ce[c + 1]].mean()
    mean = blocks.mean()
    bits = (blocks > mean).reshape(-1)
    v = 0
    for k in range(64):
        if bits[k]:
            v |= 1 << k
    return v - (1 << 64) if v >= (1 << 63) else v  # two's-complement bigint


def _phash_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from . import codecs

    for pdf in batches:
        rows = {"doc_id": [], "phash": [], "bits_set": []}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            w, h = 16 + doc_id % 16, 8 + doc_id % 8
            idx = np.arange(w * h * 3, dtype=np.int64)
            img = ((doc_id * 3 + idx) % 256).astype(np.uint8).reshape(h, w, 3)
            dec = codecs.decode(codecs.encode_png(img))["pixels"]
            ph = phash_from_pixels(dec)
            rows["doc_id"].append(doc_id)
            rows["phash"].append(ph)
            rows["bits_set"].append(bin(ph & ((1 << 64) - 1)).count("1"))
        yield pd.DataFrame(rows)


@register("q_multimodal_phash")  # hash-valued -> rows-only + pinned test
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (64-bit blockmean aHash) computed from
    the REAL decoded raster: encode the closed-form PNG, decode it
    with codecs.py, grayscale, 8x8 block means, threshold against the
    global mean. The image fingerprint that makes image near-dup
    dedup a q_dedup_simhash problem - band the 64-bit phash exactly
    as that operator bands SimHash (4x16-bit pigeonhole for
    hamming<=3) and the whole text-dedup machinery transfers to
    images unchanged.

    Rows-only (hash-valued); tests/test_codecs.py pins the hash
    against a pure-numpy recomputation from the closed-form raster,
    so a codec or blocking bug flips the pin, not just the bench.

    Scale shape: map-only Arrow-batched decode+hash on executors;
    only (doc_id, 64-bit hash) rows ever shuffle - the payload-never-
    moves rule multimodal.py's header declares."""
    d = table(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    return docs.mapInPandas(_phash_worker, schema=_PHASH_SCHEMA)


@register("q_multimodal_phash_dedup")  # hash-derived -> rows-only
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection: perceptual hashes from
    q_multimodal_phash's real decode path, paired at hamming <= 3 by
    the SAME 4x16-bit pigeonhole banding as text SimHash dedup
    (dedup.hamming_pairs_64) - the multimodal half of the dedup
    family: resized/re-encoded/lightly-edited copies keep their
    blockmean hash within a few bits, so the text near-dup machinery
    transfers to images with zero new join logic.

    Rows-only (hash-derived; on this synthetic corpus the planted
    rasters are distinct, so correctness is pinned by the planted-
    pair unit test in tests/test_pipeline_props.py, which feeds
    controlled signatures through the shared banding and checks
    recall=1 at hamming<=3 and exclusion beyond).

    Scale shape: decode+hash stays map-only on executors (payloads
    never shuffle); banding explodes 4 rows per image; the bucket
    join is equi on (band, chunk); exact bit_count verify runs on
    candidates only. Identical cost profile to q_dedup_simhash.
    """
    from .dedup import hamming_pairs_64

    d = table(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    sig = docs.mapInPandas(_phash_worker, schema=_PHASH_SCHEMA).select(
        "doc_id", "phash"
    )
    return hamming_pairs_64(sig, "doc_id", "phash", max_hamming=3)


VAD_FRAME = 64  # samples per VAD frame (8 ms at the 8 kHz fixture rate)
VAD_RMS_THRESH = 1150.0  # active-frame energy cut (median RMS ~1042)

_VAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_active", T.LongType()),
        T.StructField("n_segments", T.LongType()),
        T.StructField("active_ratio", T.DoubleType()),
    ]
)


def _vad_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode+decode real WAV per doc, frame the DECODED samples, flag
    energy-active frames, count frames / active frames / segments."""
    import numpy as np

    from . import codecs

    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "n_frames", "n_active", "n_segments", "active_ratio")}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            n = 256 + doc_id % 128
            idx = np.arange(n, dtype=np.int64)
            samples = (((doc_id * 7 + idx * 13) % 4096) - 2048).astype(np.int16)
            s = codecs.decode(codecs.encode_wav(samples, rate=8000))["samples"]
            nf = s.size // VAD_FRAME
            fr = s[: nf * VAD_FRAME].astype(np.float64).reshape(nf, VAD_FRAME)
            rms = np.sqrt((fr * fr).mean(axis=1))
            active = rms > VAD_RMS_THRESH
            starts = int(active[0]) + int((active[1:] & ~active[:-1]).sum())
            rows["doc_id"].append(doc_id)
            rows["n_frames"].append(nf)
            rows["n_active"].append(int(active.sum()))
            rows["n_segments"].append(starts)
            rows["active_ratio"].append(round(float(active.sum()) / nf, 6))
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_audio_vad",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, 256 + doc_id % 128 AS n
      FROM documents
      WHERE doc_id % 3 = 2
    ),
    samp AS (
      SELECT doc_id, i // {VAD_FRAME} AS frame,
             CAST(((doc_id * 7 + i * 13) % 4096) - 2048 AS DOUBLE) AS s
      FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM dims)
      WHERE i < (n // {VAD_FRAME}) * {VAD_FRAME}
    ),
    frames AS (
      SELECT doc_id, frame,
             CASE WHEN sqrt(sum(s * s) / {VAD_FRAME}) > {VAD_RMS_THRESH}
                  THEN 1 ELSE 0 END AS active
      FROM samp GROUP BY doc_id, frame
    ),
    runs AS (
      SELECT doc_id, active,
             lag(active, 1, 0) OVER (
               PARTITION BY doc_id ORDER BY frame) AS prev_active
      FROM frames
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(active) AS BIGINT) AS n_active,
           CAST(count(*) FILTER (WHERE active = 1 AND prev_active = 0)
                AS BIGINT) AS n_segments,
           round(CAST(sum(active) AS DOUBLE) / count(*), 6) AS active_ratio
    FROM runs
    GROUP BY doc_id
    """,
)
def q_multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based VOICE-ACTIVITY segmentation over real RIFF/PCM
    WAV payloads: decode (codecs.py), frame into 64-sample (8 ms)
    windows, flag frames whose RMS exceeds the energy cut, and count
    active frames and contiguous active SEGMENTS - the
    silence-trimming / utterance-splitting pass an audio training
    pipeline runs before transcription or feature extraction. The
    oracle recomputes everything from the closed-form sample
    function, hash-verifying codec, framing, and run-length logic
    together (frame RMS derives from exact int16 squares, so both
    engines compare identical doubles against the threshold).

    Scale shape: map-only Arrow-batched mapInPandas - decode and
    framing happen where the payload row lives, only the 5-column
    summary ever shuffles. Per-clip state is one frame vector
    (bounded by clip length); segments come from one vectorized
    shift-compare, no per-sample Python loop.
    """
    d = table(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 3 == 2).select("doc_id")
    return docs.mapInPandas(_vad_worker, schema=_VAD_SCHEMA)


_IMGSTATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("std_all", T.DoubleType()),
    ]
)


def _image_stats_worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode a real PNG per image doc, decode it, report per-channel
    means and the all-channel std FROM THE DECODED raster (integer
    sums -> one double division, so the oracle's closed-form
    recomputation is bit-identical)."""
    import numpy as np

    from . import codecs

    for pdf in batches:
        rows = {
            k: []
            for k in ("doc_id", "n_pixels", "mean_r", "mean_g", "mean_b", "std_all")
        }
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            w, h = 16 + doc_id % 16, 8 + doc_id % 8
            idx = np.arange(w * h * 3, dtype=np.int64)
            img = ((doc_id * 3 + idx) % 256).astype(np.uint8).reshape(h, w, 3)
            dec = codecs.decode(codecs.encode_png(img))["pixels"].astype(np.int64)
            n = w * h
            s = dec.reshape(-1, 3).sum(axis=0)  # exact int per channel
            tot = int(dec.sum())
            tot2 = int((dec.astype(np.int64) ** 2).sum())
            nn = 3 * n
            var = tot2 / nn - (tot / nn) * (tot / nn)
            rows["doc_id"].append(doc_id)
            rows["n_pixels"].append(n)
            rows["mean_r"].append(int(s[0]) / n)
            rows["mean_g"].append(int(s[1]) / n)
            rows["mean_b"].append(int(s[2]) / n)
            rows["std_all"].append(round(float(np.sqrt(var)), 6))
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_image_stats",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
      FROM documents WHERE doc_id % 3 = 1
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS idx
      FROM docs
    ),
    vals AS (
      SELECT doc_id, w * h AS n, idx % 3 AS ch,
             (doc_id * 3 + idx) % 256 AS v
      FROM px
    )
    SELECT doc_id,
           CAST(any_value(n) AS BIGINT) AS n_pixels,
           CAST(sum(v) FILTER (ch = 0) AS DOUBLE) / any_value(n) AS mean_r,
           CAST(sum(v) FILTER (ch = 1) AS DOUBLE) / any_value(n) AS mean_g,
           CAST(sum(v) FILTER (ch = 2) AS DOUBLE) / any_value(n) AS mean_b,
           round(sqrt(CAST(sum(v * v) AS DOUBLE) / (3 * any_value(n))
                 - (CAST(sum(v) AS DOUBLE) / (3 * any_value(n)))
                   * (CAST(sum(v) AS DOUBLE) / (3 * any_value(n)))), 6)
               AS std_all
    FROM vals GROUP BY doc_id
    """,
)
def q_multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL per-image channel statistics: decode an actual PNG
    (codecs.py), report per-channel means and the all-channel
    population std FROM THE DECODED raster - the
    brightness/colorfulness gate of an image-curation pipeline. The
    DuckDB oracle recomputes every stat from the closed-form raster,
    so the match proves decode exactness AND the stats arithmetic
    (integer pixel sums -> one identical division; only the
    irrational std is rounded).

    Scale shape: map-only Arrow-batched mapInPandas; payloads never
    shuffle, only the 6-scalar stat row does - the
    q_multimodal_resize discipline.
    """
    d = table(spark, sf_dir, "documents")
    docs = d.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    return docs.mapInPandas(_image_stats_worker, schema=_IMGSTATS_SCHEMA)
