"""Multimodal (binary) column operators (north-star §7.2.8).

The engine models image/audio/video as **opaque ``BINARY`` payloads with
a typed metadata struct** — the lakehouse-standard layout for multimodal
training data. The container has no image/audio codecs, so *decode* is a
clearly marked stub (:func:`decode_image`), while everything Spark-side —
binary columns, metadata structs, Arrow-batched ``mapInPandas`` feature
extraction, frame-sampling expansion, partitioning — is real and tested.

The synthetic asset table is derived deterministically from
``documents``: ``payload = unhex(md5(text))`` (16 opaque bytes standing
in for encoded media) plus doc_id-derived mime/width/height/n_frames.
Both engines build it identically, so every query below is oracle-checked
— including the ``mapInPandas`` one, whose byte-level features the oracle
recomputes from hex digits in SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..session import finalize_unpersist, read_table_parallel
from .graph import fixpoint, min_step

MIMES = ("image/png", "image/jpeg", "audio/wav", "video/mp4")
FRAME_STEP = 5  # sample every 5th frame

#: asset-table CTE shared by every oracle (DuckDB side of the contract)
_ASSETS_CTE = """
    assets AS (
        SELECT doc_id AS asset_id,
               unhex(md5(text)) AS payload,
               md5(text) AS payload_hex,
               ['image/png', 'image/jpeg', 'audio/wav', 'video/mp4']
                 [CAST(doc_id % 4 AS INT) + 1] AS mime,
               CAST(32 + doc_id % 97 AS INT) AS width,
               CAST(32 + doc_id % 53 AS INT) AS height,
               CAST(10 + doc_id % 20 AS INT) AS n_frames
        FROM documents
    )
"""


def assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal asset table: opaque binary payload + typed metadata.

    Schema: ``asset_id BIGINT, payload BINARY, meta STRUCT<mime STRING,
    width INT, height INT, n_frames INT>`` — payload is never parsed by
    the engine (opaque bytes), metadata is first-class and prunable.
    """
    d = F.col("doc_id")
    mime = F.element_at(
        F.array(*[F.lit(m) for m in MIMES]), (d % 4).cast("int") + 1
    )
    return read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        d.alias("asset_id"),
        F.unhex(F.md5("text")).alias("payload"),
        F.struct(
            mime.alias("mime"),
            (F.lit(32) + d % 97).cast("int").alias("width"),
            (F.lit(32) + d % 53).cast("int").alias("height"),
            (F.lit(10) + d % 20).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def decode_image(payload: bytes) -> tuple[int, int]:
    """Decode an encoded image payload to ``(width, height)``.

    Real and wired when a codec is present: uses Pillow, which reads the
    header lazily — cheap even for large payloads. This container ships
    no codec (documented boundary, README "Known boundary"), so here the
    call raises ``NotImplementedError`` and the engine treats payloads
    as opaque bytes; `tests/test_scale_ops.py::test_decode_image_via_pillow`
    exercises the real path wherever Pillow exists (importorskip).
    """
    try:
        import PIL.Image
    except ImportError as exc:  # pragma: no cover - no codec in container
        raise NotImplementedError(
            "image decode needs Pillow/libvips; payloads are opaque here"
        ) from exc
    import io

    with PIL.Image.open(io.BytesIO(payload)) as im:
        return im.size


@query(
    "mm_asset_catalog",
    oracle=f"""
    WITH {_ASSETS_CTE}
    SELECT asset_id, mime, width, height,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           payload_hex,
           CAST(width * height AS BIGINT) AS n_pixels
    FROM assets
    """,
)
def mm_asset_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset catalog: binary payload size + metadata projection. The
    binary column round-trips through the plan (unhex → octet_length →
    hex) proving BINARY-type plumbing; metadata fields project without
    touching payload bytes (column pruning keeps payloads unread when
    only metadata is queried — the property that matters at 100 TB of
    media)."""
    a = assets(spark, sf_dir)
    return a.select(
        "asset_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.lower(F.hex("payload")).alias("payload_hex"),
        (F.col("meta.width").cast("bigint") * F.col("meta.height")).alias(
            "n_pixels"
        ),
    )


@query(
    "mm_frame_sample",
    oracle=f"""
    WITH {_ASSETS_CTE}
    SELECT asset_id,
           CAST(f AS INT) AS frame_idx,
           CAST(f * octet_length(payload) AS BIGINT) AS byte_offset
    FROM assets, unnest(range(0, n_frames, {FRAME_STEP})) AS t(f)
    WHERE mime = 'video/mp4'
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video assets: expand each video into every
    {FRAME_STEP}th frame index with its byte offset — the generate/
    explode shape a real frame extractor hangs off (the per-frame decode
    itself is the :func:`decode_image`-class stub). Metadata-only filter
    runs before the explode, so non-video payloads are never expanded."""
    a = assets(spark, sf_dir).filter(F.col("meta.mime") == "video/mp4")
    frames = F.sequence(
        F.lit(0), F.col("meta.n_frames") - 1, F.lit(FRAME_STEP)
    )
    return a.select(
        "asset_id",
        F.explode(frames).alias("frame_idx"),
        (F.col("frame_idx").cast("bigint") * F.length("payload")).alias(
            "byte_offset"
        ),
    )


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("max_byte", T.IntegerType()),
        T.StructField("head_byte", T.IntegerType()),
    ]
)


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched byte-level feature extraction (runs on executors).

    This is the real multimodal hot path shape: payload bytes arrive as
    Arrow binary arrays, features are computed per batch in numpy — the
    same signature a true pixel/audio featurizer would use, with the
    codec call swapped in where :func:`decode_image` is stubbed.
    """
    import numpy as np

    for pdf in batches:
        feats = []
        for asset_id, mime, payload in zip(
            pdf["asset_id"], pdf["mime"], pdf["payload"]
        ):
            b = np.frombuffer(payload, dtype=np.uint8)
            feats.append(
                (
                    asset_id,
                    mime,
                    round(float(b.mean()), 4),
                    int(b.max()),
                    int(b[0]),
                )
            )
        yield pd.DataFrame(
            feats, columns=["asset_id", "mime", "mean_byte", "max_byte", "head_byte"]
        )


@query(
    "mm_feature_extract",
    oracle=f"""
    WITH {_ASSETS_CTE},
    bytes_expl AS (
        SELECT asset_id, mime, j,
               (instr('0123456789abcdef', substring(payload_hex, 2*j + 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substring(payload_hex, 2*j + 2, 1)) - 1)
               AS byte_val
        FROM assets, unnest(range(0, 16)) AS t(j)
    )
    SELECT asset_id, any_value(mime) AS mime,
           round(avg(byte_val), 4) AS mean_byte,
           CAST(max(byte_val) AS INT) AS max_byte,
           CAST(max(CASE WHEN j = 0 THEN byte_val END) AS INT) AS head_byte
    FROM bytes_expl
    GROUP BY asset_id
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas`` — the
    one deliberate Python hot path in the engine, because byte/pixel
    featurization has no JVM expression. Arrow moves payloads in columnar
    batches (never per-row pickling); the UDF is stateless per batch so
    it scales with partitions. The oracle recomputes the same features
    from hex digits in SQL, so even the Pandas-UDF path is hash-checked.
    """
    a = assets(spark, sf_dir).select(
        "asset_id", F.col("meta.mime").alias("mime"), "payload"
    )
    return a.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA)


RESIZE_MAX_EDGE = 64  # target max edge for thumbnailing


@query(
    "mm_resize_spec",
    oracle=f"""
    WITH {_ASSETS_CTE}
    SELECT asset_id, width, height,
           CAST(CASE WHEN width >= height
                THEN {RESIZE_MAX_EDGE}
                ELSE CAST(floor(width * {RESIZE_MAX_EDGE}.0 / height) AS INT)
                END AS INT) AS target_w,
           CAST(CASE WHEN width >= height
                THEN CAST(floor(height * {RESIZE_MAX_EDGE}.0 / width) AS INT)
                ELSE {RESIZE_MAX_EDGE}
                END AS INT) AS target_h,
           round(CAST(width AS DOUBLE) / height, 4) AS aspect_ratio
    FROM assets
    WHERE mime IN ('image/png', 'image/jpeg')
      AND (width > {RESIZE_MAX_EDGE} OR height > {RESIZE_MAX_EDGE})
    """,
)
def mm_resize_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning for image assets (north-star 'resize'): compute
    aspect-preserving target dimensions (max edge {RESIZE_MAX_EDGE}) for
    every oversized image — pure metadata arithmetic, payloads never
    read (column pruning keeps the binary column out of the scan). The
    pixel-level resample this spec drives is the :func:`decode_image`-
    class stub: it needs a codec, and belongs in the same mapInPandas
    slot as :func:`_extract_features`."""
    a = assets(spark, sf_dir)
    w = F.col("meta.width")
    h = F.col("meta.height")
    landscape = w >= h
    target_w = F.when(landscape, F.lit(RESIZE_MAX_EDGE)).otherwise(
        F.floor(w * float(RESIZE_MAX_EDGE) / h).cast("int")
    )
    target_h = F.when(landscape, F.floor(h * float(RESIZE_MAX_EDGE) / w).cast("int")).otherwise(
        F.lit(RESIZE_MAX_EDGE)
    )
    return (
        a.filter(
            F.col("meta.mime").isin("image/png", "image/jpeg")
            & ((w > RESIZE_MAX_EDGE) | (h > RESIZE_MAX_EDGE))
        )
        .select(
            "asset_id",
            w.alias("width"),
            h.alias("height"),
            target_w.cast("int").alias("target_w"),
            target_h.cast("int").alias("target_h"),
            F.round(w.cast("double") / h, 4).alias("aspect_ratio"),
        )
    )


@query(
    "mm_modality_mix",
    oracle=f"""
    WITH {_ASSETS_CTE}
    SELECT mime,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
           round(avg(width * height), 4) AS avg_pixels,
           CAST(sum(CASE WHEN mime LIKE 'video%' THEN n_frames ELSE 0 END)
                AS BIGINT) AS total_video_frames
    FROM assets
    GROUP BY mime
    """,
)
def mm_modality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality mix report — the first question against a multimodal
    lake: how many assets per mime type, how many payload bytes, what
    image geometry, how many video frames to sample. Metadata-only
    aggregation: column pruning keeps the binary payloads unread except
    for the byte-length, which parquet answers from column statistics at
    scale. avg_pixels is an exact integer ratio rounded once.
    """
    a = assets(spark, sf_dir)
    return (
        a.select(
            F.col("meta.mime").alias("mime"),
            F.length("payload").cast("bigint").alias("nb"),
            (
                F.col("meta.width").cast("bigint") * F.col("meta.height")
            ).alias("px"),
            F.when(
                F.col("meta.mime").startswith("video"), F.col("meta.n_frames")
            )
            .otherwise(0)
            .cast("bigint")
            .alias("vf"),
        )
        .groupBy("mime")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
            F.round(F.avg("px"), 4).alias("avg_pixels"),
            F.sum("vf").cast("bigint").alias("total_video_frames"),
        )
    )


@query(
    "mm_payload_integrity",
    oracle="""
    WITH a AS (
        SELECT doc_id AS asset_id,
               unhex(md5(text)) AS payload,
               md5(text) AS payload_hex,
               doc_id % 37 = 0 AS simulate_corrupt
        FROM documents
    ),
    checked AS (
        SELECT asset_id,
               CASE WHEN simulate_corrupt
                    THEN md5(concat('corrupt:', payload_hex))
                    ELSE md5(lower(hex(payload))) END AS observed_hex,
               md5(lower(hex(payload))) AS expected_hex
        FROM a
    )
    SELECT CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(CASE WHEN observed_hex = expected_hex THEN 1 ELSE 0 END)
                AS BIGINT) AS n_intact,
           CAST(sum(CASE WHEN observed_hex <> expected_hex THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt
    FROM checked
    """,
)
def mm_payload_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload integrity audit — the checksum sweep every blob
    store runs before a training job trusts its shards: recompute
    the content hash over the BINARY column (md5 of its canonical
    lowercase hex — DuckDB's md5 is VARCHAR-only, so the portable form
    hashes the hex encoding) and compare to the stored value, reporting intact/corrupt counts. A 1-in-37
    slice simulates bit-rot (its observed hash is perturbed) so the
    audit provably DETECTS corruption rather than vacuously passing.
    md5-over-binary is engine-portable (both engines hash the same
    bytes), and the scan is one narrow pass — no shuffle until the
    3-number aggregate.
    """
    a = assets(spark, sf_dir).withColumn(
        "simulate_corrupt", F.col("asset_id") % 37 == 0
    )
    hex_payload = F.lower(F.hex(F.col("payload")))
    observed = F.when(
        F.col("simulate_corrupt"),
        F.md5(F.concat(F.lit("corrupt:"), hex_payload)),
    ).otherwise(F.md5(hex_payload))
    checked = a.select((observed == F.md5(hex_payload)).alias("intact"))
    return checked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum(F.when(F.col("intact"), 1).otherwise(0)).cast("bigint").alias(
            "n_intact"
        ),
        F.sum(F.when(~F.col("intact"), 1).otherwise(0)).cast("bigint").alias(
            "n_corrupt"
        ),
    )


@query(
    "mm_byte_uniformity",
    oracle=f"""
    WITH {_ASSETS_CTE},
    per_asset AS (
        SELECT mime,
               CAST(len(list_distinct(
                   list_transform(range(1, 17),
                                  i -> substr(payload_hex, 2 * i - 1, 2))))
                    AS BIGINT) AS n_distinct_bytes
        FROM assets
    ),
    agg AS (
        SELECT mime, CAST(count(*) AS BIGINT) AS n_assets,
               CAST(sum(n_distinct_bytes) AS BIGINT) AS s,
               CAST(min(n_distinct_bytes) AS BIGINT) AS min_distinct,
               CAST(max(n_distinct_bytes) AS BIGINT) AS max_distinct
        FROM per_asset GROUP BY 1
    )
    SELECT mime, n_assets, min_distinct, max_distinct,
           CAST((20000 * s + n_assets) // (2 * n_assets) AS DOUBLE) / 10000
               AS avg_distinct_bytes
    FROM agg
    """,
)
def mm_byte_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-uniformity screen over binary payloads: distinct-byte counts
    per asset, summarized per mime type — the codec-free corruption
    detector (an all-zero or constant-padded payload collapses to 1-2
    distinct bytes, far below the ~15.5 expected of 16 random bytes;
    truncated uploads skew the minimum). Byte extraction is pure hex
    substring arithmetic on both engines — the payload is never decoded,
    so the audit runs on ANY modality at full scan speed; the mean is
    the usual half-up integer rounding.
    """
    a = assets(spark, sf_dir).select(
        F.col("meta.mime").alias("mime"),
        F.hex(F.col("payload")).alias("ph"),
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.expr("ph").substr(i * 2 + 1, F.lit(2)),
    )
    per_asset = a.select(
        "mime",
        F.size(F.array_distinct(pairs)).cast("bigint").alias(
            "n_distinct_bytes"
        ),
    )
    agg = per_asset.groupBy("mime").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("n_distinct_bytes").cast("bigint").alias("s"),
        F.min("n_distinct_bytes").cast("bigint").alias("min_distinct"),
        F.max("n_distinct_bytes").cast("bigint").alias("max_distinct"),
    )
    return agg.select(
        "mime",
        "n_assets",
        "min_distinct",
        "max_distinct",
        (
            F.expr("(20000 * s + n_assets) div (2 * n_assets)").cast("double")
            / 10000
        ).alias("avg_distinct_bytes"),
    )


PHASH_BITS = 16
PHASH_MAX_HAMMING = 3


def _byte_sql_duck(h: str, i: int) -> str:
    """Byte i (0-based) of a 32-char md5 hex string, as 0..255 (DuckDB)."""
    n1 = f"(strpos('0123456789abcdef', substring({h}, {2 * i + 1}, 1)) - 1)"
    n2 = f"(strpos('0123456789abcdef', substring({h}, {2 * i + 2}, 1)) - 1)"
    return f"(16 * {n1} + {n2})"


def _phash_sql_duck(h: str) -> str:
    """Average-hash over the 16 payload bytes: bit i set iff byte i is
    above the payload mean (16·bᵢ > Σb — integer cross-multiplication,
    no division). Generated from one loop for both dialects."""
    total = " + ".join(_byte_sql_duck(h, i) for i in range(PHASH_BITS))
    bits = " + ".join(
        f"(CASE WHEN 16 * {_byte_sql_duck(h, i)} > ({total}) "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(PHASH_BITS)
    )
    return f"({bits})"


def _phash_col_spark(hexcol: str):
    from pyspark.sql import functions as F

    def byte(i: int):
        return F.conv(F.substring(F.col(hexcol), 2 * i + 1, 2), 16, 10).cast(
            "int"
        )

    total = byte(0)
    for i in range(1, PHASH_BITS):
        total = total + byte(i)
    acc = F.lit(0)
    for i in range(PHASH_BITS):
        acc = acc + F.when(16 * byte(i) > total, F.lit(1 << i)).otherwise(0)
    return acc


#: Shared oracle CTEs for the phash near-dup pair stage: one definition
#: feeds BOTH the pairs query and the clusters query so candidate and
#: threshold semantics cannot drift between them.
_PHASH_PAIRS_CTES = f"""
    assets AS (
        SELECT doc_id AS asset_id, md5(text) AS payload_hex
        FROM documents
    ),
    hashed AS (
        SELECT asset_id,
               {_phash_sql_duck("payload_hex")} AS phash
        FROM assets
    ),
    nibbles AS (
        SELECT asset_id, phash, n.i AS nibble_idx,
               (phash >> (4 * n.i)) & 15 AS nibble_val
        FROM hashed, (SELECT unnest(range(4)) AS i) n
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS a1, b.asset_id AS a2,
               a.phash AS h1, b.phash AS h2
        FROM nibbles a JOIN nibbles b
          ON a.nibble_idx = b.nibble_idx
         AND a.nibble_val = b.nibble_val
         AND a.asset_id < b.asset_id
    )
"""


@query(
    "mm_phash_neardup_pairs",
    oracle=f"""
    WITH {_PHASH_PAIRS_CTES}
    SELECT a1, a2,
           CAST(bit_count(CAST(xor(h1, h2) AS BIGINT)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(CAST(xor(h1, h2) AS BIGINT)) <= {PHASH_MAX_HAMMING}
    """,
)
def mm_phash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate ASSET pairs — the image-dedup
    analog of SimHash text dedup: an average-hash (aHash) summarizes
    each binary payload as 16 bits (bit i set iff byte i exceeds the
    payload mean — on a real image these are mean-thresholded grayscale
    blocks; the engine-side contract is identical), and near-dups are
    pairs within Hamming distance ``PHASH_MAX_HAMMING``. Candidate
    generation is nibble-blocked exactly like ``dd_simhash_pairs`` —
    Hamming ≤ 3 over 16 bits guarantees ≥ 1 of 4 equal nibbles, so the
    self-join runs on (nibble_idx, value) buckets and the full pair
    space never materializes. The hash arithmetic (byte extraction,
    mean threshold, bit assembly) is generated from ONE loop for both
    dialects — integer comparisons only, no float anywhere.
    """
    from pyspark.sql import functions as F

    from ..session import read_table

    hashed = (
        read_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("asset_id"),
            F.md5("text").alias("payload_hex"),
        )
        .select(
            "asset_id", _phash_col_spark("payload_hex").alias("phash")
        )
    )
    nib = hashed.select(
        "asset_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("nibble_idx"),
    ).withColumn(
        "nibble_val", F.expr("(phash >> (4 * nibble_idx)) & 15")
    )
    a = nib.select(
        F.col("asset_id").alias("a1"),
        F.col("phash").alias("h1"),
        "nibble_idx",
        "nibble_val",
    )
    b = nib.select(
        F.col("asset_id").alias("a2"),
        F.col("phash").alias("h2"),
        "nibble_idx",
        "nibble_val",
    )
    cand = (
        a.join(b, ["nibble_idx", "nibble_val"])
        .filter(F.col("a1") < F.col("a2"))
        .select("a1", "a2", "h1", "h2")
        .distinct()
    )
    return cand.select(
        "a1",
        "a2",
        F.bit_count(
            F.expr("CAST(h1 ^ h2 AS BIGINT)")
        ).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= PHASH_MAX_HAMMING)


#: VLM tiling: tile edge (px) and visual tokens per tile (a 32-px tile
#: at 16-px patches = 4 tokens).
TILE_EDGE = 32
TOKENS_PER_TILE = 4


@query(
    "mm_tile_grid",
    oracle=f"""
    WITH {_ASSETS_CTE}
    SELECT asset_id, width, height,
           CAST((width + {TILE_EDGE} - 1) // {TILE_EDGE} AS INT) AS n_tiles_x,
           CAST((height + {TILE_EDGE} - 1) // {TILE_EDGE} AS INT)
               AS n_tiles_y,
           CAST(((width + {TILE_EDGE} - 1) // {TILE_EDGE})
                * ((height + {TILE_EDGE} - 1) // {TILE_EDGE}) + 1 AS BIGINT)
               AS n_tiles_with_thumb,
           CAST((((width + {TILE_EDGE} - 1) // {TILE_EDGE})
                 * ((height + {TILE_EDGE} - 1) // {TILE_EDGE}) + 1)
                * {TOKENS_PER_TILE} AS BIGINT) AS visual_tokens,
           CAST((CAST(2000000 AS BIGINT) * (((width + {TILE_EDGE} - 1) // {TILE_EDGE})
                            * {TILE_EDGE}
                            * (((height + {TILE_EDGE} - 1) // {TILE_EDGE})
                               * {TILE_EDGE})
                            - width * height)
                 + (((width + {TILE_EDGE} - 1) // {TILE_EDGE}) * {TILE_EDGE}
                    * ((height + {TILE_EDGE} - 1) // {TILE_EDGE})
                    * {TILE_EDGE}))
                // (2 * ((width + {TILE_EDGE} - 1) // {TILE_EDGE})
                    * {TILE_EDGE}
                    * ((height + {TILE_EDGE} - 1) // {TILE_EDGE})
                    * {TILE_EDGE}) AS DOUBLE) / 1000000 AS pad_fraction
    FROM assets
    WHERE mime IN ('image/png', 'image/jpeg')
    """,
)
def mm_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VLM tiling plan (the LLaVA-NeXT / 'anyres' preprocessing math):
    per image, the {TILE_EDGE}-px tile grid that covers it, plus one
    thumbnail tile, the visual-token budget that implies
    ({TOKENS_PER_TILE}/tile at 16-px patches), and the padding
    fraction wasted by snapping to whole tiles — the numbers a
    multimodal data pipeline needs to budget sequence lengths and to
    decide resize-vs-tile per asset (pair with ``mm_resize_spec``).
    Pure metadata arithmetic: ceil-division in integers, padding
    half-up micro-rounded, payloads never read (column pruning keeps
    the binary column out of the scan).
    """
    a = assets(spark, sf_dir)
    w = F.col("meta.width").cast("bigint")
    h = F.col("meta.height").cast("bigint")
    ntx = F.expr(f"(meta.width + {TILE_EDGE} - 1) div {TILE_EDGE}")
    nty = F.expr(f"(meta.height + {TILE_EDGE} - 1) div {TILE_EDGE}")
    padded = ntx * TILE_EDGE * nty * TILE_EDGE
    return (
        a.filter(F.col("meta.mime").isin("image/png", "image/jpeg"))
        .select(
            "asset_id",
            w.cast("int").alias("width"),
            h.cast("int").alias("height"),
            ntx.cast("int").alias("n_tiles_x"),
            nty.cast("int").alias("n_tiles_y"),
            (ntx * nty + 1).cast("bigint").alias("n_tiles_with_thumb"),
            ((ntx * nty + 1) * TOKENS_PER_TILE)
            .cast("bigint")
            .alias("visual_tokens"),
            (
                F.expr(
                    f"CAST((2000000 * (((meta.width + {TILE_EDGE} - 1)"
                    f" div {TILE_EDGE}) * {TILE_EDGE}"
                    f" * ((meta.height + {TILE_EDGE} - 1) div {TILE_EDGE})"
                    f" * {TILE_EDGE} - meta.width * meta.height)"
                    f" + ((meta.width + {TILE_EDGE} - 1) div {TILE_EDGE})"
                    f" * {TILE_EDGE}"
                    f" * ((meta.height + {TILE_EDGE} - 1) div {TILE_EDGE})"
                    f" * {TILE_EDGE})"
                    f" div (2 * ((meta.width + {TILE_EDGE} - 1)"
                    f" div {TILE_EDGE}) * {TILE_EDGE}"
                    f" * ((meta.height + {TILE_EDGE} - 1) div {TILE_EDGE})"
                    f" * {TILE_EDGE}) AS BIGINT)"
                ).cast("double")
                / 1000000
            ).alias("pad_fraction"),
        )
    )


#: Scene-cut threshold: successive-frame fingerprint distance (bits of a
#: 32-bit signature) at or above this is a cut. Random signatures differ
#: in ~16 bits, so 22 flags only far-above-chance changes.
SCENE_CUT_BITS = 22


@query(
    "mm_scene_cut_detect",
    oracle=f"""
    WITH {_ASSETS_CTE},
    frames AS (
        SELECT asset_id, n_frames, CAST(f AS INT) AS frame_idx,
               CAST(('0x' || substr(md5(CAST(asset_id AS VARCHAR) || ':' ||
                                        CAST(f AS VARCHAR)), 1, 8))
                    AS BIGINT) AS fp
        FROM assets, unnest(range(0, n_frames)) AS t(f)
        WHERE mime = 'video/mp4'
    ),
    diffs AS (
        SELECT asset_id, n_frames, frame_idx, fp,
               lag(fp) OVER (PARTITION BY asset_id ORDER BY frame_idx)
                   AS prev_fp
        FROM frames
    ),
    scored AS (
        SELECT asset_id, n_frames, frame_idx,
               CAST(bit_count(xor(fp, prev_fp)) AS INT) AS diff_bits
        FROM diffs WHERE prev_fp IS NOT NULL
    )
    SELECT asset_id,
           CAST(max(n_frames) AS INT) AS n_frames,
           CAST(count(CASE WHEN diff_bits >= {SCENE_CUT_BITS} THEN 1 END)
                AS BIGINT) AS n_cuts,
           CAST(count(CASE WHEN diff_bits >= {SCENE_CUT_BITS} THEN 1 END) + 1
                AS BIGINT) AS n_segments,
           CAST(max(diff_bits) AS INT) AS max_diff_bits,
           CAST(min(CASE WHEN diff_bits >= {SCENE_CUT_BITS}
                         THEN frame_idx END) AS INT) AS first_cut_idx
    FROM scored
    GROUP BY asset_id
    """,
)
def mm_scene_cut_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over video assets — the temporal-analysis
    shape the mm_ family lacked (frame_sample slices frames; this
    compares SUCCESSIVE frames): per video, a per-frame visual
    fingerprint, a lag-window distance between consecutive fingerprints,
    and a cut wherever the distance clears {SCENE_CUT_BITS} of 32 bits.
    Emits the per-video cut census (cuts, segments = cuts+1, max
    inter-frame distance, first cut).

    The fingerprint is the engine's deterministic stand-in (md5 of
    (asset, frame) — this container ships no video codec; the decode
    boundary is documented at `decode_image`): what is REAL and tested
    is the Spark-side plumbing production scene detection needs — the
    frame explosion bounded by per-asset n_frames, the per-asset
    ordered lag window (shuffles on asset_id, sorts only each video's
    own frames), bit-level distance in the JVM (`bit_count(a ^ b)`,
    no UDF), and the map-side-combinable census. Swapping the md5 for
    a real pHash-per-frame UDF changes one column expression, not the
    plan.
    """
    a = assets(spark, sf_dir)
    frames = (
        a.filter(F.col("meta.mime") == "video/mp4")
        .select(
            "asset_id",
            F.col("meta.n_frames").alias("n_frames"),
            F.explode(
                F.sequence(F.lit(0), F.col("meta.n_frames") - 1)
            ).alias("frame_idx"),
        )
        .withColumn(
            "fp",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("asset_id").cast("string"),
                            F.col("frame_idx").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    scored = (
        frames.withColumn("prev_fp", F.lag("fp").over(w))
        .filter(F.col("prev_fp").isNotNull())
        .withColumn(
            "diff_bits", F.expr("CAST(bit_count(fp ^ prev_fp) AS INT)")
        )
    )
    is_cut = F.when(F.col("diff_bits") >= SCENE_CUT_BITS, 1)
    return scored.groupBy("asset_id").agg(
        F.max("n_frames").cast("int").alias("n_frames"),
        F.count(is_cut).cast("bigint").alias("n_cuts"),
        (F.count(is_cut) + 1).cast("bigint").alias("n_segments"),
        F.max("diff_bits").cast("int").alias("max_diff_bits"),
        F.min(F.when(F.col("diff_bits") >= SCENE_CUT_BITS, F.col("frame_idx")))
        .cast("int")
        .alias("first_cut_idx"),
    )


#: Aspect-ratio bucket ladder (w:h), SDXL-style anyres buckets.
ASPECT_BUCKETS: tuple[tuple[int, int], ...] = (
    (1, 2), (3, 4), (1, 1), (4, 3), (2, 1)
)
#: Images per padded batch within an aspect bucket.
ASPECT_BATCH_N = 8


def _aspect_bucket_sql() -> str:
    """DuckDB VALUES list for the ladder: (bucket_idx, a, b)."""
    return ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(ASPECT_BUCKETS)
    )


@query(
    "mm_aspect_bucket_batches",
    oracle=f"""
    WITH {_ASSETS_CTE},
    ladder(bucket_idx, a, b) AS (VALUES {_aspect_bucket_sql()}),
    imgs AS (
        SELECT asset_id, width, height
        FROM assets WHERE mime LIKE 'image/%'
    ),
    scored AS (
        SELECT i.asset_id, i.width, i.height, l.bucket_idx, l.a, l.b,
               round(abs(ln((i.width * l.b) * 1.0 / (i.height * l.a))), 6)
                   AS dist,
               row_number() OVER (
                   PARTITION BY i.asset_id
                   ORDER BY round(abs(ln((i.width * l.b) * 1.0
                                         / (i.height * l.a))), 6),
                            l.bucket_idx) AS rn
        FROM imgs i CROSS JOIN ladder l
    ),
    assigned AS (
        SELECT asset_id, width, height, bucket_idx, a, b,
               CAST(round(1000000.0 * width / height) AS BIGINT)
                   AS aspect_micro
        FROM scored WHERE rn = 1
    ),
    batched AS (
        SELECT *,
               CAST((row_number() OVER (PARTITION BY bucket_idx
                                        ORDER BY asset_id) - 1)
                    // {ASPECT_BATCH_N} AS BIGINT) AS batch_id
        FROM assigned
    )
    SELECT bucket_idx,
           CAST(max(a) AS INT) AS ratio_w,
           CAST(max(b) AS INT) AS ratio_h,
           batch_id,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(aspect_micro) AS BIGINT) AS min_aspect_micro,
           CAST(max(aspect_micro) AS BIGINT) AS max_aspect_micro,
           CAST((1000000 * max(aspect_micro)) // min(aspect_micro)
                - 1000000 AS BIGINT) AS spread_micro
    FROM batched
    GROUP BY bucket_idx, batch_id
    """,
)
def mm_aspect_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio BUCKETED batching for vision training — the image
    counterpart of ``pack_length_grouped_batches`` (and the SDXL/anyres
    preprocessing convention): every image snaps to the nearest rung of
    a fixed w:h ladder {ASPECT_BUCKETS} (nearest in log-aspect space —
    scale-free, so 2:1 vs 1:1 misfit weighs the same as 1:1 vs 1:2;
    ties to the smaller rung), then batches of {ASPECT_BATCH_N} fill
    per bucket in asset order. Per (bucket, batch): the census plus the
    within-batch aspect SPREAD (max/min − 1, micro-units) — the number
    that tells you how much cropping/padding the bucket ladder saved.

    Plan shape: the ladder is a {len(ASPECT_BUCKETS)}-row literal
    broadcast against image METADATA only (payload column pruned —
    never read); the argmin is a per-asset window over
    {len(ASPECT_BUCKETS)} rows; batching is one shuffle on the bucket
    key. ln-double rounded at 6 dp per the repo's transcendental rule.
    """
    a = assets(spark, sf_dir)
    ladder = spark.createDataFrame(
        [(i, ab[0], ab[1]) for i, ab in enumerate(ASPECT_BUCKETS)],
        "bucket_idx int, a int, b int",
    )
    imgs = a.filter(F.col("meta.mime").startswith("image/")).select(
        "asset_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    dist = F.round(
        F.abs(
            F.log(
                (F.col("width") * F.col("b"))
                / (F.col("height") * F.col("a")).cast("double")
            )
        ),
        6,
    )
    scored = imgs.crossJoin(F.broadcast(ladder)).withColumn("dist", dist)
    w_pick = Window.partitionBy("asset_id").orderBy("dist", "bucket_idx")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .withColumn(
            "aspect_micro",
            F.round(1000000.0 * F.col("width") / F.col("height"))
            .cast("bigint"),
        )
    )
    batched = assigned.withColumn(
        "batch_id",
        F.expr(
            f"(row_number() OVER (PARTITION BY bucket_idx ORDER BY asset_id)"
            f" - 1) div {ASPECT_BATCH_N}"
        ).cast("bigint"),
    )
    return batched.groupBy("bucket_idx", "batch_id").agg(
        F.max("a").cast("int").alias("ratio_w"),
        F.max("b").cast("int").alias("ratio_h"),
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.min("aspect_micro").cast("bigint").alias("min_aspect_micro"),
        F.max("aspect_micro").cast("bigint").alias("max_aspect_micro"),
        F.expr(
            "CAST((1000000 * max(aspect_micro)) div min(aspect_micro)"
            " - 1000000 AS BIGINT)"
        ).alias("spread_micro"),
    ).select(
        "bucket_idx", "ratio_w", "ratio_h", "batch_id", "n_images",
        "min_aspect_micro", "max_aspect_micro", "spread_micro",
    )


#: Hash-to-min rounds for phash dup clusters: near-dup clusters are
#: shallow (pair chains, not long paths), but rounds are pinned with
#: headroom and the invariant test proves one extra round is the
#: identity at the tested SFs.
MM_CC_ROUNDS = 4

#: Per-asset edge budget for the cluster graph: a replica clique of n
#: copies otherwise contributes Θ(n²) edges (round-5 probe: 2.70× at 8×
#: data — the pair GRAPH, not the plan, grew quadratically). Each asset
#: keeps its ``MM_PAIR_BUDGET`` nearest pairs (Hamming ASC, partner id
#: ASC — within a 0-distance clique every anchor keeps its next-id
#: neighbors, a banded graph that stays CONNECTED, so clique clustering
#: is unaffected while the edge mass drops from quadratic to linear);
#: the suppressed-edge count is surfaced as a constant
#: ``edges_truncated`` column so a 100 TB dup storm shows up as a
#: counted truncation, not an unbounded intermediate.
MM_PAIR_BUDGET = 32


def _mm_cc_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT n.node, least(n.label, coalesce(m.minl, n.label)) AS label
        FROM {prev} n LEFT JOIN (
            SELECT e.dst AS node, min(c.label) AS minl
            FROM medges e JOIN {prev} c ON c.node = e.src
            GROUP BY e.dst
        ) m ON m.node = n.node
    )"""


@query(
    "mm_phash_dup_clusters",
    oracle=f"""
    WITH {_PHASH_PAIRS_CTES},
    prs_all AS MATERIALIZED (
        SELECT a1, a2,
               bit_count(CAST(xor(h1, h2) AS BIGINT)) AS hamming
        FROM cand
        WHERE bit_count(CAST(xor(h1, h2) AS BIGINT)) <= {PHASH_MAX_HAMMING}
    ),
    ranked AS MATERIALIZED (
        SELECT a1, a2,
               row_number() OVER (PARTITION BY a1
                                  ORDER BY hamming, a2) AS prn
        FROM prs_all
    ),
    prs AS MATERIALIZED (
        SELECT a1, a2 FROM ranked WHERE prn <= {MM_PAIR_BUDGET}
    ),
    trunc AS (
        SELECT CAST(count(*) AS BIGINT) AS edges_truncated
        FROM ranked WHERE prn > {MM_PAIR_BUDGET}
    ),
    medges AS MATERIALIZED (
        SELECT a1 AS src, a2 AS dst FROM prs
        UNION ALL
        SELECT a2 AS src, a1 AS dst FROM prs
    ),
    -- label seed = the UNCAPPED pair node set: an asset whose every edge
    -- hangs off saturated anchors keeps a singleton row instead of
    -- vanishing when the budget truncates all its edges
    m0 AS (
        SELECT DISTINCT node, node AS label FROM (
            SELECT a1 AS node FROM prs_all
            UNION ALL
            SELECT a2 AS node FROM prs_all
        )
    ),
    {",".join(_mm_cc_round_sql(f"m{i}", f"m{i + 1}") for i in range(MM_CC_ROUNDS))}
    SELECT label AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(min(node) AS BIGINT) AS min_asset,
           t.edges_truncated
    FROM m{MM_CC_ROUNDS} CROSS JOIN trunc t
    GROUP BY 1, t.edges_truncated
    """,
)
def mm_phash_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash duplicate CLUSTERS — the step after
    `mm_phash_neardup_pairs` that an asset-dedup pipeline actually
    consumes (the `dd_duplicate_clusters` endgame applied to the
    multimodal catalog): pairwise near-dups are closed into connected
    components by hash-to-min label propagation, so transitive chains
    (A≈B≈C with A,C beyond the Hamming threshold) land in ONE cluster
    and keep-best selection can run per cluster. Only assets appearing
    in some QUALIFYING pair are clustered — and the label seed is the
    UNCAPPED pair node set, so an asset whose every edge hangs off
    budget-saturated anchors degrades to a singleton cluster row rather
    than disappearing (the cluster output covers exactly the uncapped
    pair-node mass by construction, at every scale).

    Determinism: the pair stage is the registered pairs query verbatim
    (one shared definition both engines); label updates are pure min.
    The oracle runs exactly {MM_CC_ROUNDS} synchronous rounds; Spark
    runs ``graph.min_step`` under ``graph.fixpoint`` with the same cap
    and stops early only at a fixed point, which returns exactly what
    the remaining rounds would (near-dup chains are shallow).

    Scale shape: pair generation stays nibble-blocked (never corpus²),
    and the pair GRAPH is edge-budgeted per asset (``MM_PAIR_BUDGET``
    nearest pairs by Hamming, then partner id — clique-connectivity-
    preserving; ``edges_truncated`` counts the suppressed edges), so a
    replica-clique dup storm contributes linear, not quadratic, edge
    mass; the CC rounds are |cluster-members|-sized label vectors
    joining that bounded pair list — the same Pregel-as-joins shape as
    `graph_connected_components`, on a far smaller graph.
    """
    ranked = (
        mm_phash_neardup_pairs(spark, sf_dir)
        .withColumn(
            "prn",
            F.row_number().over(
                Window.partitionBy("a1").orderBy("hamming", "a2")
            ),
        )
        # three consumers (budgeted edges, truncation census, label seed)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prs = ranked.filter(F.col("prn") <= MM_PAIR_BUDGET).select("a1", "a2")
    trunc = ranked.filter(F.col("prn") > MM_PAIR_BUDGET).agg(
        F.count(F.lit(1)).cast("bigint").alias("edges_truncated")
    )
    edges = (
        prs.select(F.col("a1").alias("src"), F.col("a2").alias("dst"))
        .unionByName(
            prs.select(F.col("a2").alias("src"), F.col("a1").alias("dst"))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # label seed from the UNCAPPED pair node set (see docstring): nodes
    # orphaned by the edge budget survive as singleton clusters
    seed = (
        ranked.select(F.col("a1").alias("node"))
        .unionByName(ranked.select(F.col("a2").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    labels = fixpoint(seed, lambda v: min_step(edges, v), MM_CC_ROUNDS)
    out = (
        labels.groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.min("node").cast("bigint").alias("min_asset"),
        )
        # 1-row truncation census broadcast onto every cluster row (the
        # bounded-BNLJ pattern; allowlisted in the plan audit)
        .crossJoin(trunc)
    )
    return finalize_unpersist(out, edges, ranked)


#: Synthetic audio frame count: the 16 payload bytes, read as 16 frame
#: energies (0..255). On real audio these would be per-window RMS values
#: from the decoder; the engine-side contract — windowed energy, a
#: strictly-above-mean activity gate, gaps-and-islands segmentation — is
#: identical (same convention as the phash bit threshold).
AUDIO_N_FRAMES = 16


def _audio_byte_duck(h: str) -> str:
    """Byte at exploded position ``i`` (0-based) of a 32-char md5 hex
    string, 0..255 — the dynamic-position twin of `_byte_sql_duck`."""
    n1 = f"(strpos('0123456789abcdef', substring({h}, CAST(2 * i + 1 AS INT), 1)) - 1)"
    n2 = f"(strpos('0123456789abcdef', substring({h}, CAST(2 * i + 2 AS INT), 1)) - 1)"
    return f"(16 * {n1} + {n2})"


@query(
    "mm_audio_energy_segments",
    oracle=f"""
    WITH au AS (
        SELECT doc_id AS asset_id, md5(text) AS payload_hex
        FROM documents WHERE doc_id % 4 = 2
    ),
    frames AS (
        SELECT asset_id, n.i,
               {_audio_byte_duck("payload_hex")} AS energy
        FROM au, (SELECT unnest(range({AUDIO_N_FRAMES})) AS i) n
    ),
    gated AS (
        SELECT asset_id, i, energy,
               {AUDIO_N_FRAMES} * energy
                 > sum(energy) OVER (PARTITION BY asset_id) AS active
        FROM frames
    ),
    act AS (
        SELECT asset_id, i,
               i - row_number() OVER (PARTITION BY asset_id ORDER BY i) AS seg
        FROM gated WHERE active
    ),
    runs AS (
        SELECT asset_id, seg, count(*) AS run_len
        FROM act GROUP BY asset_id, seg
    ),
    per_asset AS (
        SELECT asset_id,
               count(*) AS n_segments,
               max(run_len) AS longest_segment,
               sum(run_len) AS n_active_frames
        FROM runs GROUP BY asset_id
    )
    SELECT a.asset_id,
           CAST(coalesce(p.n_active_frames, 0) AS BIGINT) AS n_active_frames,
           CAST(coalesce(p.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(coalesce(p.longest_segment, 0) AS BIGINT) AS longest_segment
    FROM au a LEFT JOIN per_asset p USING (asset_id)
    """,
)
def mm_audio_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio activity segmentation (VAD-shaped) over opaque payloads:
    each audio asset's payload is read as {AUDIO_N_FRAMES} frame
    energies; frames strictly above the asset's mean energy
    ({AUDIO_N_FRAMES}·e > Σe — integer cross-multiplication, no
    division) are "active", and maximal runs of consecutive active
    frames become segments (gaps-and-islands: run id = i − row_number
    over active frames). Per asset: active-frame count, segment count,
    longest segment — the stats an audio-curation pass uses to drop
    silence-only clips and pick training windows. On real audio the
    energies come from the decoder; every Spark-side mechanism
    (explode, windowed gate, island grouping) is unchanged.

    Scale shape: all windows partition by asset_id over exactly
    {AUDIO_N_FRAMES} rows per asset — per-key bounded, embarrassingly
    parallel; one hash shuffle on asset_id end to end. Nothing is
    corpus-grain.
    """
    au = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .filter(F.col("doc_id") % 4 == 2)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.md5("text").alias("payload_hex"),
        )
    )
    frames = au.select(
        "asset_id",
        F.explode(F.sequence(F.lit(0), F.lit(AUDIO_N_FRAMES - 1))).alias("i"),
        "payload_hex",
    ).select(
        "asset_id",
        "i",
        F.expr(
            "CAST(conv(substring(payload_hex, 2 * i + 1, 2), 16, 10) AS INT)"
        ).alias("energy"),
    )
    w_asset = Window.partitionBy("asset_id")
    gated = frames.withColumn(
        "active",
        F.lit(AUDIO_N_FRAMES) * F.col("energy") > F.sum("energy").over(w_asset),
    )
    act = gated.filter("active").withColumn(
        "seg",
        F.col("i")
        - F.row_number().over(Window.partitionBy("asset_id").orderBy("i")),
    )
    runs = act.groupBy("asset_id", "seg").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    per_asset = runs.groupBy("asset_id").agg(
        F.sum("run_len").cast("bigint").alias("n_active_frames"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.max("run_len").cast("bigint").alias("longest_segment"),
    )
    return au.select("asset_id").join(per_asset, "asset_id", "left").select(
        "asset_id",
        F.coalesce("n_active_frames", F.lit(0)).cast("bigint").alias(
            "n_active_frames"
        ),
        F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
        F.coalesce("longest_segment", F.lit(0)).cast("bigint").alias(
            "longest_segment"
        ),
    )


#: Transcode-target ladder for video assets: (label, pixel budget) rungs
#: sized to the synthetic metadata range (widths 32–128, heights 32–84 →
#: 1 024–10 752 px); on production video these would be the 240p/360p/…
#: ABR rungs — the selection rule (highest rung whose pixel budget fits
#: the source) is the standard one. A pure literal: the per-asset pick
#: compiles to a CASE expression — no join at all.
VIDEO_LADDER: tuple[tuple[str, int], ...] = (
    ("r0_1024", 1024),
    ("r1_2304", 2304),
    ("r2_4096", 4096),
    ("r3_9216", 9216),
)


def _ladder_case_sql() -> str:
    """Highest rung whose pixel budget ≤ source pixels (shared SQL text
    for both engines; VIDEO_LADDER is ascending so the CASE scans from
    the top)."""
    whens = " ".join(
        f"WHEN px >= {p} THEN '{lbl}'"
        for lbl, p in reversed(VIDEO_LADDER)
    )
    return f"(CASE {whens} END)"


def _ladder_px_case_sql() -> str:
    whens = " ".join(
        f"WHEN px >= {p} THEN {p}" for _, p in reversed(VIDEO_LADDER)
    )
    return f"(CASE {whens} END)"


@query(
    "mm_video_bitrate_ladder",
    oracle=f"""
    WITH vids AS (
        SELECT doc_id AS asset_id,
               CAST(32 + doc_id % 97 AS BIGINT) * CAST(32 + doc_id % 53 AS BIGINT) AS px,
               CAST(10 + doc_id % 20 AS BIGINT) AS n_frames
        FROM documents WHERE doc_id % 4 = 3
    ),
    assigned AS (
        SELECT asset_id, px, n_frames,
               {_ladder_case_sql()} AS rung,
               {_ladder_px_case_sql()} AS rung_px
        FROM vids
    )
    SELECT rung,
           CAST(max(rung_px) AS BIGINT) AS rung_pixels,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(n_frames) AS BIGINT) AS total_frames,
           CAST(sum(n_frames * rung_px) AS BIGINT) AS transcode_pixel_cost,
           CAST((1000000 * sum(rung_px)) // sum(px) AS BIGINT) AS fill_ratio_micro
    FROM assigned
    GROUP BY rung
    """,
)
def mm_video_bitrate_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcode-ladder planning for video assets — the ABR-encode
    scheduling census: each video snaps to the highest ladder rung whose
    pixel budget fits its source resolution (never upscale), and the
    per-rung report carries asset/frame counts, the total transcode
    pixel cost Σ frames·rung_px (the cluster-hours driver), and the
    integer micro-unit fill ratio (rung pixels over source pixels — how
    much resolution the ladder discards). The ladder is a literal: the
    rung pick compiles to a CASE expression inside whole-stage codegen,
    so the whole query is one metadata-only scan + one ≤{len(VIDEO_LADDER)}-row
    aggregate. Payload bytes are never read.
    """
    vids = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .filter(F.col("doc_id") % 4 == 3)
        .select(
            F.col("doc_id").alias("asset_id"),
            (
                (F.lit(32) + F.col("doc_id") % 97).cast("bigint")
                * (F.lit(32) + F.col("doc_id") % 53).cast("bigint")
            ).alias("px"),
            (F.lit(10) + F.col("doc_id") % 20).cast("bigint").alias("n_frames"),
        )
    )
    assigned = vids.select(
        "asset_id",
        "px",
        "n_frames",
        F.expr(_ladder_case_sql()).alias("rung"),
        F.expr(_ladder_px_case_sql()).alias("rung_px"),
    )
    return assigned.groupBy("rung").agg(
        F.max("rung_px").cast("bigint").alias("rung_pixels"),
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("n_frames").cast("bigint").alias("total_frames"),
        F.sum(F.col("n_frames") * F.col("rung_px"))
        .cast("bigint")
        .alias("transcode_pixel_cost"),
        # pre-widen per the HITS-sums pattern: Spark sum(BIGINT) stays
        # int64 while DuckDB widens to HUGEINT; DECIMAL(38,0) sums keep
        # the ×1e6 numerator exact at any corpus size.
        F.expr(
            "CAST((1000000 * sum(CAST(rung_px AS DECIMAL(38,0))))"
            " div sum(CAST(px AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("fill_ratio_micro"),
    )


#: Caption-length bucket width (tokens) and top bucket for the
#: image–text pair census.
CAPTION_BUCKET_TOKENS = 16
CAPTION_MAX_BUCKET = 7


@query(
    "mm_caption_pair_stats",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_id AS asset_id,
               ['image/png', 'image/jpeg', 'audio/wav', 'video/mp4']
                 [CAST(doc_id % 4 AS INT) + 1] AS mime,
               CAST(32 + doc_id % 97 AS BIGINT) * CAST(32 + doc_id % 53 AS BIGINT)
                   AS px,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS caption_tokens
        FROM documents
        WHERE doc_id % 4 IN (0, 1)
    ),
    bucketed AS (
        SELECT mime,
               least(caption_tokens // {CAPTION_BUCKET_TOKENS},
                     {CAPTION_MAX_BUCKET}) AS len_bucket,
               px, caption_tokens
        FROM pairs
    )
    SELECT mime, CAST(len_bucket AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(caption_tokens) AS BIGINT) AS total_caption_tokens,
           CAST(sum(px) AS BIGINT) AS total_pixels,
           CAST((1000000 * sum(caption_tokens)) // sum(px) AS BIGINT)
               AS tokens_per_pixel_micro
    FROM bucketed
    GROUP BY mime, len_bucket
    """,
)
def mm_caption_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image–text pair census for vision-language training — each image
    asset pairs with its source document's text as the caption
    (CLIP/LAION-style pair curation), bucketed by caption length
    ({CAPTION_BUCKET_TOKENS}-token rungs, top-coded) per mime: pair
    counts, caption-token and pixel masses, and the integer micro
    tokens-per-pixel density — the balance a VLM data mix reads to spot
    sources whose captions are too thin for their resolution (or vice
    versa).

    Scale shape: metadata + tokenize map stage (payload bytes never
    read), one map-side-combinable aggregate on the tiny
    (mime × bucket) key space. No joins — the pairing is the identity
    on doc_id by construction of the asset table.
    """
    d = F.col("doc_id")
    pairs = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .filter(d % 4 < 2)
        .select(
            F.element_at(
                F.array(*[F.lit(m) for m in MIMES]), (d % 4).cast("int") + 1
            ).alias("mime"),
            (
                (F.lit(32) + d % 97).cast("bigint")
                * (F.lit(32) + d % 53).cast("bigint")
            ).alias("px"),
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("bigint")
            .alias("caption_tokens"),
        )
    )
    bucketed = pairs.withColumn(
        "len_bucket",
        F.least(
            F.expr(f"caption_tokens div {CAPTION_BUCKET_TOKENS}"),
            F.lit(CAPTION_MAX_BUCKET).cast("bigint"),
        ).cast("bigint"),
    )
    return bucketed.groupBy("mime", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("caption_tokens").cast("bigint").alias("total_caption_tokens"),
        F.sum("px").cast("bigint").alias("total_pixels"),
        # pre-widened ×1e6 numerator (see fill_ratio_micro note)
        F.expr(
            "CAST((1000000 * sum(CAST(caption_tokens AS DECIMAL(38,0))))"
            " div sum(CAST(px AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("tokens_per_pixel_micro"),
    )
