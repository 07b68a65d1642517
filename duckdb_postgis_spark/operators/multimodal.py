"""Multimodal (image/audio/video) binary-column operators.

North-star surface (BASELINE.json: "multimodal columns") absent from the
reference — the closest reference analogue is its treatment of geometry as an
opaque BLOB probed by encodings (``geo_strategy.rs:135-183``): bytes in a
relational column, interpreted by scalar functions.  We generalize that to
media: an opaque ``payload: binary`` column plus a typed metadata struct,
processed by Arrow-batched ``mapInPandas`` stages.

Container constraint: no PIL/librosa/av are installed, so there is no codec
step: the pipelines read each batch's payload bytes as an (n_rows,
PAYLOAD_BYTES) uint8 matrix (``_payload_matrix``) and compute their features
from those bytes.  Everything Spark-side is real and load-bearing: binary
schema, Arrow batch shapes, partition balance, per-batch vectorized NumPy,
explode of variable-length frame samples.

Scale design (100 TB of media):
- payloads live in parquet binary columns (or file pointers); the synth here
  stands in for ``spark.read.format("binaryFile")``;
- decode/feature-extract is a *narrow* mapInPandas — no shuffle, scales
  linearly with executors; ``spark.sql.execution.arrow.maxRecordsPerBatch``
  bounds decoder memory (a real 4K frame batch would otherwise OOM);
- per-media-type stats are a partial-agg groupBy on a low-cardinality key —
  shuffle volume is O(media types), not O(rows).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from duckdb_postgis_spark.catalog import table
from duckdb_postgis_spark.registry import query

# --------------------------------------------------------------------------
# Synthetic media table (deterministic on BOTH engines → oracle-able)
# --------------------------------------------------------------------------
#: number of 32-byte sha256 chunks concatenated into each payload
_CHUNKS = 4
PAYLOAD_BYTES = 32 * _CHUNKS


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents dressed as media rows: opaque ``payload`` binary + typed
    metadata, the schema a ``binaryFile``-sourced corpus would carry.

    payload = unhex(sha256(text) ‖ sha256(text‖'1') ‖ …) — deterministic
    bytes derivable identically in DuckDB (``from_hex(sha256(..))``), so
    metadata queries keep a value-level oracle despite fake media.
    """
    docs = table(spark, sf_dir, "documents")
    hex_chunks = F.concat(
        *[F.sha2(F.concat(F.col("text"), F.lit(str(i) if i else "")), 256) for i in range(_CHUNKS)]
    )
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.unhex(hex_chunks).alias("payload"),
        F.struct(
            (16 * (1 + F.col("doc_id") % 8)).cast("int").alias("width"),
            (16 * (1 + F.col("doc_id") % 6)).cast("int").alias("height"),
            (1 + F.col("doc_id") % 15).cast("int").alias("n_frames"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"),
    )


#: DuckDB twin of media_table (CTE text), kept in lockstep with the above.
_HEX_EXPR = " || ".join(
    "sha256(text || '" + (str(i) if i else "") + "')" for i in range(_CHUNKS)
)
_MEDIA_CTE = f"""
    WITH media AS (
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
             lower({_HEX_EXPR}) AS hex,
             from_hex({_HEX_EXPR}) AS payload,
             CAST(16 * (1 + doc_id % 8) AS INT) AS width,
             CAST(16 * (1 + doc_id % 6) AS INT) AS height,
             CAST(1 + doc_id % 15 AS INT) AS n_frames
      FROM documents
    )
"""


def _payload_matrix(pdf: pd.DataFrame):
    """Stack one Arrow batch's fixed-width payloads into an (n_rows,
    PAYLOAD_BYTES) uint8 matrix — the whole-batch view the vectorized
    feature kernels below operate on (guide §4.2: one NumPy pass per
    batch, never a Python loop per row).  media_table pins every payload
    to exactly PAYLOAD_BYTES, which is what makes the reshape lossless;
    the assert turns a violated assumption into a loud task error
    instead of silent misalignment."""
    import numpy as np

    buf = b"".join(pdf["payload"].tolist())
    flat = np.frombuffer(buf, dtype=np.uint8)
    assert flat.size == len(pdf) * PAYLOAD_BYTES, (
        f"payload width drifted: {flat.size} bytes for {len(pdf)} rows"
    )
    return flat.reshape(len(pdf), PAYLOAD_BYTES)


# --------------------------------------------------------------------------
# metadata / byte-level stats (exact oracle — no decode involved)
# --------------------------------------------------------------------------
@query(
    "multimodal_meta_stats",
    oracle=_MEDIA_CTE
    + """
    SELECT media_type,
           COUNT(*) AS n,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
           CAST(SUM(width * height) AS BIGINT) AS total_pixels,
           CAST(SUM(n_frames) AS BIGINT) AS total_frames
    FROM media
    GROUP BY media_type
    ORDER BY media_type
    """,
)
def multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality corpus stats over binary payloads + typed metadata.
    All JVM-side built-ins (octet_length on binary, struct field access);
    partial agg on a 3-value key → negligible shuffle at any scale."""
    m = media_table(spark, sf_dir)
    return (
        m.groupBy("media_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.sum((F.col("meta.width") * F.col("meta.height")).cast("long")).alias(
                "total_pixels"
            ),
            F.sum(F.col("meta.n_frames").cast("long")).alias("total_frames"),
        )
        .orderBy("media_type")
    )


# --------------------------------------------------------------------------
# image: decode → feature-extract → resize (pooled grid)
# --------------------------------------------------------------------------
_IMG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_intensity", DoubleType()),
        StructField("std_intensity", DoubleType()),
        # 2x2 pooled grid as four scalars: the driver's result canon cannot
        # hash array cells (round-1 harness crash) — no array columns may
        # appear in any query's FINAL output (lint: test_plan_lint.py)
        StructField("g00", DoubleType()),
        StructField("g01", DoubleType()),
        StructField("g10", DoubleType()),
        StructField("g11", DoubleType()),
    ]
)


@query(
    "multimodal_image_features",
    oracle=_MEDIA_CTE
    + """
    , px AS (
      SELECT doc_id, width, height,
             CAST(u.i AS BIGINT) AS i,
             (strpos('0123456789abcdef',
                     substring(hex, CAST(u.i % octet_length(payload) AS INT) * 2 + 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substring(hex, CAST(u.i % octet_length(payload) AS INT) * 2 + 2, 1)) - 1) AS v
      FROM media, LATERAL unnest(range(0, CAST(width AS BIGINT) * height)) AS u(i)
      WHERE media_type = 'image'
    ),
    q AS (
      SELECT doc_id, width, height, v,
             i // width AS r, i % width AS c
      FROM px
    ),
    s AS (
      SELECT doc_id, width, height,
             COUNT(*) AS n,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(v * v) AS BIGINT) AS svv,
             CAST(SUM(CASE WHEN r < height // 2 AND c < width // 2 THEN v ELSE 0 END) AS BIGINT) AS s00,
             CAST(SUM(CASE WHEN r < height // 2 AND c >= width // 2 THEN v ELSE 0 END) AS BIGINT) AS s01,
             CAST(SUM(CASE WHEN r >= height // 2 AND c < width // 2 THEN v ELSE 0 END) AS BIGINT) AS s10,
             CAST(SUM(CASE WHEN r >= height // 2 AND c >= width // 2 THEN v ELSE 0 END) AS BIGINT) AS s11
      FROM q GROUP BY doc_id, width, height
    )
    SELECT doc_id, width, height,
           CAST(sv AS DOUBLE) / n AS mean_intensity,
           sqrt(CAST(n * svv - sv * sv AS DOUBLE) / CAST(n * n AS DOUBLE))
               AS std_intensity,
           CAST(s00 AS DOUBLE) / (n // 4) AS g00,
           CAST(s01 AS DOUBLE) / (n // 4) AS g01,
           CAST(s10 AS DOUBLE) / (n // 4) AS g10,
           CAST(s11 AS DOUBLE) / (n // 4) AS g11
    FROM s ORDER BY doc_id
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image pipeline: binary payload → (fake) decode to HxW uint8 → global
    mean/std features → 2x2 average-pool 'resize'.  mapInPandas, narrow, one
    NumPy pass per Arrow batch; this is the shape a real thumbnailer takes at
    100 TB (decode cost dominates, so it must sit executor-side, batched).

    Value-level oracle despite the fake codec: the fake decode is cyclic
    byte tiling (pixel i = payload[i % len]), so DuckDB replays it from the
    hex text.  All features are exact-integer moments surfaced through one
    double division (std via (n·Σv² − (Σv)²)/n² then sqrt — both engines
    IEEE-correctly-rounded), never order-dependent float accumulation, and
    never ROUND()ed: n is a power-of-two multiple so means land on exact
    binary ties where Python (half-even) and DuckDB (half-away) disagree."""
    m = media_table(spark, sf_dir).filter(F.col("media_type") == "image")
    cols = m.select("doc_id", "payload", "meta.width", "meta.height")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # r13 (guide §4.2): the decode is cyclic tiling of the 128-byte
        # payload into h·w pixels (h·w is always a multiple of 128), so
        # every tiled aggregate collapses to payload-space arithmetic:
        # Σ pixels = (h·w/128)·Σ payload, and each quadrant sum is
        # payload @ u_q where u_q[j] counts the quadrant's positions
        # with i % 128 == j (one bincount per (w, h) shape, cached per
        # task across batches — guide §4.5 — never per row).  Per-row
        # work drops from an h·w-pixel materialization to a 128-element
        # dot.  Bit-identical: every aggregate is an exact int64 moment
        # (order-free), all intermediates < 2^53 so int→float64
        # conversions are exact, and np.sqrt == math.sqrt (both IEEE
        # correctly rounded).
        ucache: dict = {}

        def uquad(w: int, h: int):
            if (w, h) not in ucache:
                i = np.arange(h * w)
                quad = ((i // w) // (h // 2)) * 2 + (i % w) // (w // 2)
                ucache[(w, h)] = np.bincount(
                    (i % PAYLOAD_BYTES) * 4 + quad, minlength=PAYLOAD_BYTES * 4
                ).reshape(PAYLOAD_BYTES, 4)
            return ucache[(w, h)]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            P = _payload_matrix(pdf).astype("int64")
            doc = pdf["doc_id"].to_numpy()
            W = pdf["width"].to_numpy().astype("int64")
            H = pdf["height"].to_numpy().astype("int64")
            psum = P.sum(axis=1)
            psqsum = (P * P).sum(axis=1)
            # the W*1024+H packing and the payload-space collapse both
            # encode dims assumptions — fail loudly if a future media
            # lattice breaks them (r13 ADVICE)
            assert H.max() < 1024, f"height {H.max()} overflows W*1024+H key"
            frames = []
            for key in np.unique(W * 1024 + H):
                sel = np.nonzero(W * 1024 + H == key)[0]
                w, h = int(W[sel[0]]), int(H[sel[0]])
                n = h * w
                assert n % PAYLOAD_BYTES == 0, (
                    f"h*w={n} not a multiple of {PAYLOAD_BYTES}: the tiled-sum "
                    "collapse needs whole payload repeats (np.resize truncates)"
                )
                sv = (n // PAYLOAD_BYTES) * psum[sel]
                svv = (n // PAYLOAD_BYTES) * psqsum[sel]
                quads = P[sel] @ uquad(w, h)
                frames.append(
                    pd.DataFrame(
                        {
                            "doc_id": doc[sel],
                            "width": np.full(sel.size, w, dtype="int32"),
                            "height": np.full(sel.size, h, dtype="int32"),
                            "mean_intensity": sv / n,
                            "std_intensity": np.sqrt(
                                (n * svv - sv * sv) / float(n * n)
                            ),
                            "g00": quads[:, 0] / (n // 4),
                            "g01": quads[:, 1] / (n // 4),
                            "g10": quads[:, 2] / (n // 4),
                            "g11": quads[:, 3] / (n // 4),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return cols.mapInPandas(extract, schema=_IMG_SCHEMA).orderBy("doc_id")


# --------------------------------------------------------------------------
# video: frame-sample (explode variable-length samples)
# --------------------------------------------------------------------------
_FRAME_BYTES = 8
_FRAME_STRIDE = 2  # sample every 2nd frame

_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_mean", DoubleType()),
    ]
)


@query(
    "multimodal_frame_sample",
    oracle=_MEDIA_CTE
    + f"""
    , frames AS (
      SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
             substring(hex, CAST(u.i AS INT) * {2 * _FRAME_BYTES} + 1,
                       {2 * _FRAME_BYTES}) AS fh
      FROM media, LATERAL unnest(range(0, n_frames)) AS u(i)
      WHERE media_type = 'video' AND u.i % {_FRAME_STRIDE} = 0
    )
    SELECT doc_id, frame_idx,
           ROUND(list_sum(list_transform(range(0, {_FRAME_BYTES}),
                 j -> CAST((strpos('0123456789abcdef', substring(fh, CAST(j AS INT)*2+1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substring(fh, CAST(j AS INT)*2+2, 1)) - 1)
                      AS DOUBLE))) / {_FRAME_BYTES}, 6)
               AS frame_mean
    FROM frames ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pipeline: payload treated as n_frames x 8-byte frames; sample
    every 2nd frame (fake keyframe extraction) and emit per-frame mean byte.
    mapInPandas explodes one row → ceil(n/2) rows inside the Arrow batch —
    the row-amplifying shape of real frame sampling, still shuffle-free."""
    m = media_table(spark, sf_dir).filter(F.col("media_type") == "video")
    cols = m.select("doc_id", "payload", "meta.n_frames")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # r13 (guide §4.2): all 16 candidate frame means per row in one
        # reshape + mean(axis=2), then a boolean mask picks the sampled
        # frames.  Bit-identical: each frame is the same 8 contiguous
        # float64 values reduced in the same order (NumPy's pairwise
        # summation degenerates to the plain loop below 128 elements in
        # both the 1-D and the axis form), /8 is exact, and the final
        # Python round(·, 6) is unchanged.
        n_slots = PAYLOAD_BYTES // _FRAME_BYTES
        fidx = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if fidx is None:
                fidx = np.arange(n_slots)
            P = _payload_matrix(pdf)
            doc = pdf["doc_id"].to_numpy()
            nf = pdf["n_frames"].to_numpy().astype("int64")
            fm = P.reshape(len(pdf), n_slots, _FRAME_BYTES).astype(
                "float64"
            ).mean(axis=2)
            mask = (fidx[None, :] < nf[:, None]) & (
                fidx[None, :] % _FRAME_STRIDE == 0
            )
            rows, cols = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "doc_id": doc[rows],
                    "frame_idx": cols.astype("int32"),
                    "frame_mean": [round(float(v), 6) for v in fm[rows, cols]],
                }
            )

    return cols.mapInPandas(sample, schema=_FRAME_SCHEMA).orderBy("doc_id", "frame_idx")


# --------------------------------------------------------------------------
# audio: windowed energy over fake PCM
# --------------------------------------------------------------------------
_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_windows", IntegerType()),
        StructField("rms_energy", DoubleType()),
        StructField("peak", DoubleType()),
    ]
)


@query(
    "multimodal_audio_energy",
    oracle=_MEDIA_CTE
    + f"""
    , smp AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substring(hex, CAST(u.i AS INT) * 2 + 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(hex, CAST(u.i AS INT) * 2 + 2, 1)) - 1)
             - 128 AS d
      FROM media, LATERAL unnest(range(0, {PAYLOAD_BYTES})) AS u(i)
      WHERE media_type = 'audio'
    ),
    a AS (
      SELECT doc_id, COUNT(*) AS n,
             CAST(SUM(d * d) AS BIGINT) AS ss,
             MAX(ABS(d)) AS mx
      FROM smp GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n // 16 AS INT) AS n_windows,
           sqrt(CAST(ss AS DOUBLE) / CAST(n * 16384 AS DOUBLE)) AS rms_energy,
           CAST(mx AS DOUBLE) / 128 AS peak
    FROM a ORDER BY doc_id
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline: payload as fake 8-bit PCM → 16-sample windows → RMS
    energy + peak. Same mapInPandas decode shape as image/video; per-row
    output (no amplification).

    Value-level oracle (was rows-only): rms² = Σ(b−128)² / (n·128²) is an
    exact-integer ratio, peak = max|b−128|/128 an exact power-of-two
    division — one correctly-rounded divide + sqrt on both engines, no
    float accumulation, no ROUND (see image features for the tie hazard)."""
    m = media_table(spark, sf_dir).filter(F.col("media_type") == "audio")
    cols = m.select("doc_id", "payload")

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # r13 (guide §4.2): whole-batch int64 moments (exact, order-free)
        # replace the per-row loop; ss < 2^53 so ss/(n·16384) is the same
        # single IEEE division, np.sqrt == math.sqrt.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            P = _payload_matrix(pdf)
            d = P.astype("int64") - 128
            n = PAYLOAD_BYTES
            ss = (d * d).sum(axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_windows": np.full(len(pdf), n // 16, dtype="int32"),
                    "rms_energy": np.sqrt(ss / float(n * 16384)),
                    "peak": np.abs(d).max(axis=1) / 128.0,
                }
            )

    return cols.mapInPandas(energy, schema=_AUDIO_SCHEMA).orderBy("doc_id")


# --------------------------------------------------------------------------
# video: scene-cut detection (frame-mean jumps)
# --------------------------------------------------------------------------
_CUT_THRESHOLD = 32.0


@query(
    "multimodal_scene_cut",
    oracle=_MEDIA_CTE
    + f"""
    , frames AS (
      SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
             CAST(list_sum(list_transform(range(0, {_FRAME_BYTES}),
                   j -> (strpos('0123456789abcdef',
                                substring(hex, CAST(u.i AS INT) * {2 * _FRAME_BYTES} + CAST(j AS INT) * 2 + 1, 1)) - 1) * 16
                        + (strpos('0123456789abcdef',
                                  substring(hex, CAST(u.i AS INT) * {2 * _FRAME_BYTES} + CAST(j AS INT) * 2 + 2, 1)) - 1)
             )) AS DOUBLE) / {_FRAME_BYTES} AS frame_mean
      FROM media, LATERAL unnest(range(0, n_frames)) AS u(i)
      WHERE media_type = 'video'
    )
    SELECT doc_id, frame_idx, frame_mean,
           abs(frame_mean - LAG(frame_mean) OVER w) AS delta,
           CAST(CASE WHEN abs(frame_mean - LAG(frame_mean) OVER w) >= {_CUT_THRESHOLD}
                THEN 1 ELSE 0 END AS INT) AS is_cut
    FROM frames
    WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection: a cut is a frame whose mean intensity
    jumps >= 32 vs the previous frame — the keyframe-selection signal a
    video training pipeline samples around.

    Unlike the other media ops this one is ENTIRELY JVM-side: the frame
    bytes decode from hex with conv() inside explode(sequence) (one codegen
    span), frame means are exact eighth-fractions, and the temporal diff is
    one lag window per doc — zero Python, shuffle only on doc_id."""
    m = media_table(spark, sf_dir).filter(F.col("media_type") == "video")
    hexcol = F.lower(F.hex("payload"))
    i = F.explode(F.sequence(F.lit(0), F.col("meta.n_frames") - 1)).alias("frame_idx")
    frames = m.select("doc_id", hexcol.alias("hx"), i)
    byte_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(_FRAME_BYTES - 1)),
            lambda j: F.conv(
                F.substring(
                    F.col("hx"),
                    (F.col("frame_idx") * (2 * _FRAME_BYTES) + j * 2 + 1).cast("int"),
                    2,
                ),
                16,
                10,
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql.window import Window

    per_frame = frames.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        (byte_sum.cast("double") / _FRAME_BYTES).alias("frame_mean"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = F.abs(F.col("frame_mean") - F.lag("frame_mean").over(w))
    return per_frame.select(
        "doc_id",
        "frame_idx",
        "frame_mean",
        delta.alias("delta"),
        F.when(delta >= _CUT_THRESHOLD, 1).otherwise(0).cast("int").alias("is_cut"),
    )


# --------------------------------------------------------------------------
# Exact media dedup by payload hash (round 5)
# --------------------------------------------------------------------------
@query(
    "multimodal_dedup_exact",
    oracle=_MEDIA_CTE
    + """
    SELECT sha256(hex) AS content_sha256,
           MIN(doc_id) AS survivor_doc_id,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT media_type) AS n_modalities
    FROM media
    GROUP BY sha256(hex)
    ORDER BY survivor_doc_id
    """,
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup: sha256 over the opaque payload bytes' canonical
    lowercase-hex form (DuckDB 1.0's sha256 only binds VARCHAR, so both
    engines hash the hex — same content-addressing), survivor =
    min(doc_id) — the first dedup pass of every multimodal corpus build,
    catching byte-identical re-uploads across modal labels
    (n_modalities > 1 means the same bytes were ingested under different
    media types — a labeling bug worth surfacing).  Emits EVERY group
    (duplicates distinguishable by n_copies > 1), matching dedup_exact_hash:
    the survivor map IS the dedup output a downstream join consumes, and it
    keeps the oracle value-bearing at scale factors with no duplicate media.

    Scale: the canonical hash-shuffle dedup on a uniform 32-byte key —
    the hash computes per-partition in the scan stage, so the shuffle
    moves (hash, doc_id, media_type), never the payload bytes."""
    media = media_table(spark, sf_dir)
    return (
        media.select(
            F.sha2(F.lower(F.hex("payload")), 256).alias("content_sha256"),
            "doc_id",
            "media_type",
        )
        .groupBy("content_sha256")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct("media_type").alias("n_modalities"),
        )
        .orderBy("survivor_doc_id")
    )


# --------------------------------------------------------------------------
# perceptual-hash near-dup (round 7): content-similarity dedup over media
# --------------------------------------------------------------------------
_PH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
    ]
)
_PH_HAMMING_MAX = 8


@query(
    "multimodal_phash_dedup",
    oracle=_MEDIA_CTE
    + """
    , px AS (
      SELECT doc_id, width, height,
             CAST(u.i AS BIGINT) AS i,
             (strpos('0123456789abcdef',
                     substring(hex, CAST(u.i % octet_length(payload) AS INT) * 2 + 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                       substring(hex, CAST(u.i % octet_length(payload) AS INT) * 2 + 2, 1)) - 1) AS v
      FROM media, LATERAL unnest(range(0, CAST(width AS BIGINT) * height)) AS u(i)
      WHERE media_type = 'image'
    ),
    cells AS (
      SELECT doc_id,
             ((i // width) // (height // 8)) * 8 + (i % width) // (width // 8) AS cell,
             CAST(SUM(v) AS BIGINT) AS cs
      FROM px GROUP BY doc_id, width, height,
             ((i // width) // (height // 8)) * 8 + (i % width) // (width // 8)
    ),
    tot AS (SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS tv FROM cells GROUP BY doc_id),
    bits AS (
      SELECT c.doc_id, CAST(cell // 16 AS INT) AS band, CAST(cell % 16 AS INT) AS pos,
             CASE WHEN cs * 64 > tv THEN 1 ELSE 0 END AS b
      FROM cells c JOIN tot t ON c.doc_id = t.doc_id
    ),
    bands AS (
      SELECT doc_id, band, CAST(SUM(b * (1 << pos)) AS INT) AS code
      FROM bits GROUP BY doc_id, band
    ),
    ph AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN code END) AS b0,
             MAX(CASE WHEN band = 1 THEN code END) AS b1,
             MAX(CASE WHEN band = 2 THEN code END) AS b2,
             MAX(CASE WHEN band = 3 THEN code END) AS b3
      FROM bands GROUP BY doc_id
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM ph a JOIN ph b
        ON a.doc_id < b.doc_id
       AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    )
    SELECT c.a_id, c.b_id,
           CAST(bit_count(xor(CAST(pa.b0 AS BIGINT), CAST(pb.b0 AS BIGINT)))
              + bit_count(xor(CAST(pa.b1 AS BIGINT), CAST(pb.b1 AS BIGINT)))
              + bit_count(xor(CAST(pa.b2 AS BIGINT), CAST(pb.b2 AS BIGINT)))
              + bit_count(xor(CAST(pa.b3 AS BIGINT), CAST(pb.b3 AS BIGINT))) AS INT)
               AS hamming
    FROM cand c
    JOIN ph pa ON pa.doc_id = c.a_id
    JOIN ph pb ON pb.doc_id = c.b_id
    WHERE bit_count(xor(CAST(pa.b0 AS BIGINT), CAST(pb.b0 AS BIGINT)))
        + bit_count(xor(CAST(pa.b1 AS BIGINT), CAST(pb.b1 AS BIGINT)))
        + bit_count(xor(CAST(pa.b2 AS BIGINT), CAST(pb.b2 AS BIGINT)))
        + bit_count(xor(CAST(pa.b3 AS BIGINT), CAST(pb.b3 AS BIGINT))) <= 8
    ORDER BY a_id, b_id
    """,
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over the image corpus — the
    content-similarity dedup that byte-hash dedup (M6) cannot do: aHash
    over the (fake-)decoded pixels.  Each image average-pools to an 8x8
    grid; bit(cell) = 64*cell_sum > total_sum (the exact integer form of
    cell_mean > global_mean — no division, replayable bit-for-bit from
    the hex in DuckDB); the 64 bits split into four 16-bit bands.
    Candidates = pairs agreeing on ANY band (the simhash/LSH banding);
    exact Hamming re-rank keeps pairs <= 8.  Banding guarantee, stated
    honestly (r8 correction; the fuzz family in tests/test_fuzz_phash_
    bands.py pins both directions): pigeonhole makes 4 bands LOSSLESS
    for Hamming <= 3 (3 differing bits cannot touch all 4 bands), and
    for Hamming 4-8 a pair is missed only when its differing bits
    spread across ALL four 16-bit bands — possible in the abstract
    (e.g. a 2-2-2-2 spread), never on this corpus, where near-dup
    pairs are byte-identical payloads at Hamming 0 (recall exactly 1).
    A deployment needing lossless radius-8 grows the band count to 9
    (pigeonhole again) or multi-probes neighboring codes — the standard
    simhash-index trade of candidate volume for radius.

    Scale: phash extraction is a narrow mapInPandas (decode cost sits
    executor-side, as in M2); the candidate join shuffles (band, code)
    keys — |images|x4 rows — never pixels, never all pairs.  On this
    corpus only byte-identical texts produce equal payloads, so the
    expected output is the exact-dup pairs at Hamming 0; random-content
    pairs sit at ~32 of 64 bits and cannot leak through the <=8 gate."""
    m = media_table(spark, sf_dir).filter(F.col("media_type") == "image")
    cols = m.select("doc_id", "payload", "meta.width", "meta.height")

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # r13 (guide §4.2): same payload-space collapse as the image
        # features — cell sums are payload @ U (U from one bincount per
        # (w, h) shape, cached per task across batches), the global sum
        # is (h·w/128)·Σ payload — pure integer arithmetic end to end
        # (cell sums, the 64·cell > total comparison, bit packing), so
        # the codes are exactly the per-row form's regardless of
        # reduction order.
        ucache: dict = {}

        def ucell(w: int, h: int):
            if (w, h) not in ucache:
                i = np.arange(h * w)
                cell = ((i // w) // (h // 8)) * 8 + (i % w) // (w // 8)
                ucache[(w, h)] = np.bincount(
                    (i % PAYLOAD_BYTES) * 64 + cell, minlength=PAYLOAD_BYTES * 64
                ).reshape(PAYLOAD_BYTES, 64)
            return ucache[(w, h)]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            P = _payload_matrix(pdf).astype("int64")
            doc = pdf["doc_id"].to_numpy()
            W = pdf["width"].to_numpy().astype("int64")
            H = pdf["height"].to_numpy().astype("int64")
            psum = P.sum(axis=1)
            shifts = np.arange(16, dtype="int64")
            # same dims-assumption guards as multimodal_image_features
            # (r13 ADVICE): the packed key and the payload-space collapse
            # must fail loudly, not drift, if the media lattice changes
            assert H.max() < 1024, f"height {H.max()} overflows W*1024+H key"
            frames = []
            for key in np.unique(W * 1024 + H):
                sel = np.nonzero(W * 1024 + H == key)[0]
                w, h = int(W[sel[0]]), int(H[sel[0]])
                assert (h * w) % PAYLOAD_BYTES == 0, (
                    f"h*w={h * w} not a multiple of {PAYLOAD_BYTES}: the "
                    "tiled-sum collapse needs whole payload repeats"
                )
                cells = P[sel] @ ucell(w, h)
                total = (h * w // PAYLOAD_BYTES) * psum[sel]
                bits = (cells * 64 > total[:, None]).astype("int64")
                bands = (bits.reshape(-1, 4, 16) << shifts).sum(axis=2)
                frames.append(
                    pd.DataFrame(
                        {
                            "doc_id": doc[sel],
                            "b0": bands[:, 0].astype("int32"),
                            "b1": bands[:, 1].astype("int32"),
                            "b2": bands[:, 2].astype("int32"),
                            "b3": bands[:, 3].astype("int32"),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    ph = cols.mapInPandas(phash, schema=_PH_SCHEMA)
    banded = ph.select(
        "doc_id",
        "b0", "b1", "b2", "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "code"),
    )
    a = banded.select(
        "band", "code", F.col("doc_id").alias("a_id"),
        F.col("b0").alias("a0"), F.col("b1").alias("a1"),
        F.col("b2").alias("a2"), F.col("b3").alias("a3"),
    )
    b = banded.select(
        "band", "code", F.col("doc_id").alias("b_id"),
        F.col("b0").alias("c0"), F.col("b1").alias("c1"),
        F.col("b2").alias("c2"), F.col("b3").alias("c3"),
    )
    hamming = sum(
        F.bit_count(
            F.col(f"a{k}").cast("long").bitwiseXOR(F.col(f"c{k}").cast("long"))
        )
        for k in range(4)
    )
    return (
        a.join(b, ["band", "code"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= _PH_HAMMING_MAX)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# M8: bitrate / compression-ratio outlier screen (round 10 continuation)
# --------------------------------------------------------------------------
@query(
    "multimodal_bitrate_outliers",
    oracle=_MEDIA_CTE
    + """
    , ratios AS (
        SELECT doc_id, media_type, CAST(width * height AS BIGINT) AS pixels,
               CAST(octet_length(payload) * 1000000 // (width * height)
                    AS BIGINT) AS ratio_ppm
        FROM media
    ),
    med AS (
        SELECT media_type,
               quantile_cont(ratio_ppm, 0.5) * 2 AS med_x2
        FROM ratios GROUP BY media_type
    )
    SELECT r.doc_id, r.media_type, r.pixels, r.ratio_ppm,
           CAST(m.med_x2 AS DOUBLE) AS type_median_x2
    FROM ratios r JOIN med m ON m.media_type = r.media_type
    WHERE r.ratio_ppm * 2 > 3 * m.med_x2 OR r.ratio_ppm * 6 < m.med_x2
    ORDER BY r.doc_id
    """,
)
def multimodal_bitrate_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-per-pixel OUTLIER screen — the media-QA pass that flags
    corrupt or mislabeled assets (a 'video' with 50 bytes/frame, an
    'image' 10x denser than its peers) before they poison a training mix.
    Each row's ratio is fixed-point ppm (bytes*1e6 DIV pixels, exact
    integers); a row is an outlier when it exceeds 3x or falls under
    1/3 of its OWN media type's median (ratio*2 > 3*med_x2 with
    med_x2 = 2*median, i.e. ratio > 3*median) — both comparisons
    cross-multiplied against the doubled median so the odd/even-median
    fraction never materializes as a rounded float.

    Scale: one in-row ratio projection, one exact-percentile partial agg
    to a |media_types|-row broadcast, one broadcast join + codegen flag —
    points never shuffle.  At billions of assets the exact per-type median
    hands to approx_percentile exactly like `events_rfm_segments`."""
    m = media_table(spark, sf_dir)
    ratios = m.select(
        "doc_id",
        "media_type",
        (F.col("meta.width").cast("long") * F.col("meta.height")).alias("pixels"),
        F.expr(
            "CAST(octet_length(payload) * 1000000L"
            " DIV (meta.width * CAST(meta.height AS LONG)) AS BIGINT)"
        ).alias("ratio_ppm"),
    )
    med = ratios.groupBy("media_type").agg(
        (F.expr("percentile(ratio_ppm, 0.5)") * 2).alias("med_x2")
    )
    return (
        ratios.join(F.broadcast(med), "media_type")
        .filter(
            (F.col("ratio_ppm") * 2 > 3 * F.col("med_x2"))
            | (F.col("ratio_ppm") * 6 < F.col("med_x2"))
        )
        .select(
            "doc_id",
            "media_type",
            "pixels",
            "ratio_ppm",
            F.col("med_x2").cast("double").alias("type_median_x2"),
        )
        .orderBy("doc_id")
    )
