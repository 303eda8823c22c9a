"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, plus the Spark-side plumbing for decode /
feature-extract / frame-sample stages.

Design (per the north star; the reference is text-only):

* A media table is ``(media_id bigint, media_type string,
  payload binary, meta struct<...>)`` — the payload is never
  interpreted by the engine, only by decode UDFs at the edge.
* Cheap metadata (byte length, content hash, magic-byte sniffing) is
  pure column expressions — JVM-side, runs in the scan stage.
* Decode / feature extraction runs as ``mapInPandas`` over Arrow
  batches: one Python worker per partition, payloads streamed in
  columnar batches — the only sane shape for TB-scale binary columns
  (row-at-a-time UDFs would serialize each blob twice).
* The actual codec calls are STUBBED (no image/audio libs in this
  container): ``decode_media`` raises ``NotImplementedError`` unless
  given ``fake_decoder=True``, which produces a deterministic fake
  (dims derived from the payload hash) so the plumbing — schema,
  batching, partitioning — is fully testable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

DECODED_SCHEMA = (
    "media_id bigint, media_type string, width int, height int, "
    "n_frames int, feature_norm double"
)

_MAGIC = {
    "png": b"\x89PNG",
    "jpeg": b"\xff\xd8\xff",
    "riff": b"RIFF",  # wav/avi containers
}


def media_from_documents(df: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque payloads so the
    multimodal path has real data to flow through in this environment
    (doc_id → media_id, utf-8 bytes → payload)."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.col("source").alias("src"),
        F.octet_length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
    )


def payload_metadata(df: DataFrame) -> DataFrame:
    """JVM-side metadata extraction: size, sha256, magic-byte sniff.
    No Python, no decode — this is the cheap pass that runs over the
    full 100 TB corpus; decode only runs on the rows a filter keeps."""
    sniff = F.lit("unknown")
    for name, magic in _MAGIC.items():
        hexpat = magic.hex()
        sniff = F.when(
            F.hex(F.substring("payload", 1, len(magic))) == hexpat.upper(), F.lit(name)
        ).otherwise(sniff)
    return df.select(
        "media_id",
        "media_type",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
        sniff.alias("container_sniff"),
    )


def decode_media(
    df: DataFrame,
    fake_decoder: bool = False,
    batch_hint: int = 64,
) -> DataFrame:
    """Decode payloads to (width, height, n_frames, feature_norm) via
    ``mapInPandas`` — Arrow-batched, partition-parallel.

    Real decoding requires imaging/audio libraries; pass
    ``fake_decoder=True`` for a deterministic stand-in (dims derived
    from payload bytes) that exercises the identical plumbing. With
    ``fake_decoder=False`` the executor-side closure imports PIL *at
    run time*: if the environment has it, payloads decode as real
    images (width/height/n_frames from the codec, feature_norm = mean
    pixel intensity) — the escape hatch means real-codec coverage
    appears the day the container gains imaging libraries, with no
    code change. If PIL is absent it raises ``NotImplementedError``
    (the documented container limitation)."""

    def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
        # deterministic pseudo-dims from the payload — NOT a real codec
        h = sum(payload[:64]) if payload else 0
        width = 16 + (h % 64)
        height = 16 + ((h // 64) % 64)
        n_frames = 1 + (len(payload) % 4)
        feature_norm = round((len(payload) % 1000) / 1000.0, 3)
        return width, height, n_frames, feature_norm

    def _pil_decode(payload: bytes) -> tuple[int, int, int, float]:
        import io

        import numpy as np
        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            n_frames = int(getattr(im, "n_frames", 1))
            arr = np.asarray(im.convert("L"), dtype=np.float64)
            return (
                int(im.width),
                int(im.height),
                n_frames,
                round(float(arr.mean()) / 255.0, 3),
            )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fake_decoder:
            try:
                import PIL  # noqa: F401
            except ImportError as e:
                raise NotImplementedError(
                    "real media decoding requires imaging/audio libraries; "
                    "pass fake_decoder=True for the deterministic test stub"
                ) from e
        decode = _fake_decode if fake_decoder else _pil_decode
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "width": [],
                "height": [],
                "n_frames": [],
                "feature_norm": [],
            }
            for payload in pdf["payload"]:
                w, h, nf, fn = decode(bytes(payload) if payload is not None else b"")
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["feature_norm"].append(fn)
            yield pd.DataFrame(out)

    return df.select("media_id", "media_type", "payload").mapInPandas(
        run, schema=DECODED_SCHEMA
    )


RESIZED_SCHEMA = (
    "media_id bigint, width int, height int, target_w int, target_h int, "
    "resized_payload binary"
)


def resize_media(
    df: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
    fake_resizer: bool = False,
) -> DataFrame:
    """Resize stage over decoded media — ``mapInPandas``, same Arrow
    batch shape as ``decode_media``. The fake resizer emits a
    deterministic payload (truncated/padded source bytes) with the
    target dims; with ``fake_resizer=False`` the closure imports PIL
    at run time and uses real ``Image.resize`` (PNG-re-encoded) when
    the library exists — same escape hatch as ``decode_media`` — and
    raises ``NotImplementedError`` otherwise."""

    def _fake_resize(payload: bytes) -> bytes:
        size = (target_w * target_h) // 8  # deterministic stand-in
        return (payload * (size // max(len(payload), 1) + 1))[:size]

    def _pil_resize(payload: bytes) -> bytes:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            buf = io.BytesIO()
            im.resize((target_w, target_h)).save(buf, format="PNG")
            return buf.getvalue()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fake_resizer:
            try:
                import PIL  # noqa: F401
            except ImportError as e:
                raise NotImplementedError(
                    "real resizing requires an imaging library; pass "
                    "fake_resizer=True for the deterministic test stub"
                ) from e
        resize = _fake_resize if fake_resizer else _pil_resize
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "width": pdf["width"],
                "height": pdf["height"],
                "target_w": [target_w] * len(pdf),
                "target_h": [target_h] * len(pdf),
                "resized_payload": [
                    resize(bytes(p) if p is not None else b"")
                    for p in pdf["payload"]
                ],
            }
            yield pd.DataFrame(out)

    return df.select("media_id", "width", "height", "payload").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def frame_sample(decoded: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame sampling plan over decoded media: explode frame indices
    0..n_frames-1 and keep every Nth — pure column expressions, so
    the (expensive) per-frame work downstream sees only kept rows."""
    idx = F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx")
    return (
        decoded.select("media_id", "n_frames", idx)
        .filter(F.col("frame_idx") % every_nth == 0)
    )


# --- registry query (JVM-side metadata pass has a SQL oracle) -------


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return payload_metadata(media_from_documents(docs))


ORACLE["multimodal_meta"] = """
SELECT doc_id AS media_id,
       'text/plain' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       'unknown' AS container_sniff
FROM documents
"""


def multimodal_decode_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-path plumbing over the fake decoder. The stub is a pure
    function of the payload bytes (char-sum of the first 64 bytes +
    byte length), so the oracle recomputes every output column
    analytically in SQL — the full mapInPandas decode chain (schema,
    Arrow batching, partitioning) is value-checked end to end. When a
    real codec replaces the stub only the oracle's formulas die; the
    plumbing check moves to the pytest golden. Byte == char values
    because the testdata text is pure ASCII (asserted across SFs)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_media(media_from_documents(docs), fake_decoder=True)


ORACLE["multimodal_decode_fake"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         'text/plain' AS media_type,
         octet_length(encode(text)) AS n_bytes,
         coalesce(list_sum(list_transform(
           string_split(substring(text, 1, 64), ''), c -> ascii(c))), 0) AS h
  FROM documents
)
SELECT media_id, media_type,
       CAST(16 + h % 64 AS INT) AS width,
       CAST(16 + (h // 64) % 64 AS INT) AS height,
       CAST(1 + n_bytes % 4 AS INT) AS n_frames,
       round((n_bytes % 1000) / 1000.0, 3) AS feature_norm
FROM m
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→RESIZE chain on the deterministic stubs — the second
    Arrow stage the brief's multimodal pipeline needs. The decoded
    dims join back to the source payload on media_id (only because the
    decode schema drops the payload; a production pipeline threads the
    payload through the decode stage and needs no join), then the
    resize ``mapInPandas`` stage emits its repeated-truncated stand-in
    payload, reduced here to (length, md5) so the DuckDB oracle
    recomputes BOTH fake stages analytically — schema, batching, and
    the byte-level resize contract are value-checked end to end.
    Swapping a real PIL/ffmpeg kernel into ``_fake_resize`` changes no
    plan shape; only the oracle's closed form dies."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    media = media_from_documents(docs)
    decoded = decode_media(media, fake_decoder=True)
    withp = decoded.join(media.select("media_id", "payload"), "media_id")
    resized = resize_media(withp, fake_resizer=True)
    return resized.select(
        "media_id",
        "width",
        "height",
        "target_w",
        "target_h",
        F.octet_length("resized_payload").cast("bigint").alias("resized_bytes"),
        F.md5("resized_payload").alias("resized_md5"),
    )


ORACLE["multimodal_resize"] = """
WITH m AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) AS n_bytes,
         coalesce(list_sum(list_transform(
           string_split(substring(text, 1, 64), ''), c -> ascii(c))), 0) AS h
  FROM documents
),
r AS (
  SELECT media_id,
         CAST(16 + h % 64 AS INT) AS width,
         CAST(16 + (h // 64) % 64 AS INT) AS height,
         substring(repeat(text,
             CAST(512 // greatest(n_bytes, 1) + 1 AS INT)), 1, 512) AS rp
  FROM m
)
SELECT media_id, width, height,
       CAST(64 AS INT) AS target_w, CAST(64 AS INT) AS target_h,
       CAST(octet_length(encode(rp)) AS BIGINT) AS resized_bytes,
       md5(rp) AS resized_md5
FROM r
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the decoded stream: decode (fake stub) →
    explode frame indices → keep every 2nd. Runs the REAL mapInPandas
    decode plumbing; the oracle recomputes the stub's n_frames
    analytically (1 + octet_length % 4), so the whole
    decode→explode→filter chain is value-checked — when a real codec
    replaces the stub, only the oracle's n_frames formula dies."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    decoded = decode_media(media_from_documents(docs), fake_decoder=True)
    return frame_sample(decoded, every_nth=2).orderBy("media_id", "frame_idx")


ORACLE["multimodal_frame_sample"] = """
SELECT media_id, n_frames, frame_idx FROM (
  SELECT doc_id AS media_id, CAST(nf AS INT) AS n_frames,
         CAST(unnest(range(nf)) AS INT) AS frame_idx
  FROM (
    SELECT doc_id, 1 + octet_length(encode(text)) % 4 AS nf
    FROM documents
  ) d
) e
WHERE frame_idx % 2 = 0
ORDER BY media_id, frame_idx
"""




CHUNK_WIN = 256
CHUNK_HOP = 128


def chunk_payloads(media: DataFrame, win: int = CHUNK_WIN, hop: int = CHUNK_HOP) -> DataFrame:
    """Sliding-window chunking of binary payloads — the audio
    frame/windowing primitive (win=frame size, hop=stride; hop < win
    gives overlapping frames). Entirely JVM-side: window starts come
    from ``sequence`` + ``explode`` and the slice is a binary
    ``substring``, so the full corpus chunks inside whole-stage
    codegen with zero Python. Each chunk carries its offset and a
    sha256 so downstream stages (feature extraction, chunk-level
    dedup) can key on content."""
    starts = F.expr(
        f"sequence(0, greatest(0, cast(ceil((n_bytes - {win}) / {hop}) as bigint)))"
    )
    return (
        media.withColumn("chunk_id", F.explode(starts))
        .select(
            "media_id",
            "chunk_id",
            (F.col("chunk_id") * hop).alias("start_byte"),
            F.expr(f"substring(payload, chunk_id * {hop} + 1, {win})").alias("chunk"),
        )
        .select(
            "media_id",
            "chunk_id",
            "start_byte",
            F.octet_length("chunk").cast("bigint").alias("chunk_bytes"),
            F.sha2("chunk", 256).alias("chunk_sha"),
        )
    )


def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 256-byte windows (128-byte hop) over every payload.
    The oracle recomputes the windows with VARCHAR substrings — byte
    and character offsets coincide because the testdata text is pure
    ASCII (asserted across all SFs); on real multi-byte payloads only
    the Spark binary path applies."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_payloads(media_from_documents(docs))


_CHUNKS_SQL = f"""
  WITH media AS (
    SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n_bytes
    FROM documents
  )
  SELECT media_id, i AS chunk_id, i * {CHUNK_HOP} AS start_byte,
         substring(text, i * {CHUNK_HOP} + 1, {CHUNK_WIN}) AS chunk
  FROM media,
       unnest(generate_series(0, greatest(0, CAST(ceil((n_bytes - {CHUNK_WIN}) / {CHUNK_HOP}.0) AS BIGINT)))) AS g(i)
"""


ORACLE["multimodal_audio_chunks"] = f"""
SELECT media_id, chunk_id, CAST(start_byte AS BIGINT) AS start_byte,
       CAST(length(chunk) AS BIGINT) AS chunk_bytes,
       sha256(chunk) AS chunk_sha
FROM ({_CHUNKS_SQL}) chunks
"""


def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level content dedup across media: windows whose content
    hash appears in ≥2 DISTINCT media — the byte-level shared-content
    census (duplicated intros, boilerplate frames, re-uploads) that
    per-file hashing can't see. Runs on the chunk stream from
    chunk_payloads; one shuffle keyed on the 32-byte hash."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_payloads(media_from_documents(docs))
    return (
        chunks.groupBy("chunk_sha")
        .agg(
            F.countDistinct("media_id").alias("n_media"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_media") >= 2)
        .orderBy(F.col("n_media").desc(), F.col("n_occurrences").desc(), "chunk_sha")
    )


PHASH_BANDS = 60  # signature bits (byte-value bands mod 60)


def multimodal_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash DUPLICATE GROUPS over media payloads: a 60-bit
    signature per payload (bit b = 1 iff byte-value band b occurs
    more often than the uniform expectation — a byte-distribution
    fingerprint, robust to reordering/cropping in a way the exact
    sha/chunk census is not), then media sharing an IDENTICAL
    signature form a perceptual-duplicate group. One explode +
    two hash aggregations + one group-by on the signature — linear,
    the 100 TB-safe form (hamming-ball neighbor search over these
    signatures is ``simhash_pairs_banded``'s pigeonhole machinery,
    already shipped; on this corpus the h≤3 ball is quadratic by
    data design, so the slug reports the exact-signature groups).
    Byte values are computed through the documented ASCII equivalence
    (payload = utf-8 of pure-ASCII text, asserted by the decode
    oracle), keeping the heavy histogram pass in whole-stage
    codegen."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.length("text") > 0).select(
        F.col("doc_id").alias("media_id"),
        F.length("text").alias("nc"),
        F.explode(
            F.transform(F.split("text", ""), lambda c: F.ascii(c) % PHASH_BANDS)
        ).alias("band"),
    )
    cnts = base.groupBy("media_id", "band").agg(
        F.count(F.lit(1)).alias("cnt"), F.first("nc").alias("nc")
    )
    sig = cnts.groupBy("media_id").agg(
        F.sum(
            F.when(
                F.col("cnt") > F.col("nc") / float(PHASH_BANDS),
                # column-valued shift: the python F.shiftleft only
                # accepts a literal bit count
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(band AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("phash")
    )
    return (
        sig.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.min("media_id").alias("keep_media_id"),
        )
        .filter(F.col("n_media") >= 2)
        .orderBy(F.col("n_media").desc(), "phash")
    )


ORACLE["multimodal_phash_groups"] = f"""
WITH ch AS (
  SELECT doc_id AS media_id, length(text) AS nc,
         ascii(c) % {PHASH_BANDS} AS band
  FROM (SELECT doc_id, text, unnest(string_split(text, '')) AS c
        FROM documents)
  WHERE length(text) > 0
),
cnts AS (
  SELECT media_id, band, count(*) AS cnt, any_value(nc) AS nc
  FROM ch GROUP BY 1, 2
),
sig AS (
  SELECT media_id,
         CAST(sum(CASE WHEN cnt > nc / {float(PHASH_BANDS)}
                  THEN (1::BIGINT << band) ELSE 0 END) AS BIGINT) AS phash
  FROM cnts GROUP BY 1
)
SELECT phash, count(*) AS n_media, min(media_id) AS keep_media_id
FROM sig GROUP BY 1 HAVING count(*) >= 2
ORDER BY n_media DESC, phash
"""


ORACLE["multimodal_chunk_dedup"] = f"""
SELECT sha256(chunk) AS chunk_sha,
       count(DISTINCT media_id) AS n_media,
       count(*) AS n_occurrences
FROM ({_CHUNKS_SQL}) chunks
GROUP BY 1
HAVING count(DISTINCT media_id) >= 2
ORDER BY n_media DESC, n_occurrences DESC, chunk_sha
"""


WDS_SHARD_BYTES = 65536  # tar-shard byte budget
_TAR_HDR = 512


def multimodal_webdataset_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style TAR SHARD INDEX — the layout multimodal
    training loaders stream: samples packed in-order into fixed-budget
    tar shards, each sample costing a {hdr}-byte header plus its
    payload padded to the {hdr}-byte tar block grid. The index (per
    source × shard: item count, payload vs on-tar bytes, id range,
    in-shard byte offsets derived) is what a 1000-worker data loader
    uses to open shards independently — no central directory, no
    scan. All layout math is window prefix sums over integer sizes
    (the ``pack_shards`` shape): one shuffle keyed on source, exact
    in every engine. The padding overhead column is the storage-
    efficiency readout (tiny text samples → headers dominate — the
    reason WebDataset recommends batching small samples)."""
    docs = load_table(spark, sf_dir, "documents")
    items = media_from_documents(docs).select("media_id", "src", "n_bytes")
    entry = (
        F.lit(_TAR_HDR)
        + F.ceil(F.col("n_bytes") / _TAR_HDR).cast("bigint") * _TAR_HDR
    )
    from pyspark.sql import Window as W

    prior = (
        W.partitionBy("src")
        .orderBy("media_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    sized = items.select(
        "media_id", "src", "n_bytes", entry.alias("entry_bytes")
    ).withColumn(
        "run", F.coalesce(F.sum("entry_bytes").over(prior), F.lit(0))
    )
    sharded = sized.withColumn(
        "shard_id", F.floor(F.col("run") / WDS_SHARD_BYTES).cast("int")
    )
    return (
        sharded.groupBy("src", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").cast("bigint").alias("payload_bytes"),
            F.sum("entry_bytes").cast("bigint").alias("tar_bytes"),
            F.min("media_id").alias("first_id"),
            F.max("media_id").alias("last_id"),
        )
        .withColumn(
            "overhead_pct",
            F.floor(
                (F.col("tar_bytes") - F.col("payload_bytes"))
                * 10000
                / F.col("tar_bytes")
            ).cast("bigint"),
        )
        .orderBy("src", "shard_id")
    )


multimodal_webdataset_index.__doc__ = multimodal_webdataset_index.__doc__.format(
    hdr=_TAR_HDR
)


ORACLE["multimodal_webdataset_index"] = f"""
WITH items AS (
  SELECT doc_id AS media_id, source AS src,
         octet_length(encode(text)) AS n_bytes,
         {_TAR_HDR} + CAST(ceil(octet_length(encode(text))
                                / CAST({_TAR_HDR} AS DOUBLE))
                           AS BIGINT) * {_TAR_HDR} AS entry_bytes
  FROM documents
),
runs AS (
  SELECT media_id, src, n_bytes, entry_bytes,
         coalesce(sum(entry_bytes) OVER (
           PARTITION BY src ORDER BY media_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
  FROM items
),
sharded AS (
  SELECT *, CAST(floor(run / CAST({WDS_SHARD_BYTES} AS DOUBLE)) AS INT)
           AS shard_id
  FROM runs
)
SELECT src, shard_id, count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS payload_bytes,
       CAST(sum(entry_bytes) AS BIGINT) AS tar_bytes,
       min(media_id) AS first_id, max(media_id) AS last_id,
       CAST(floor((sum(entry_bytes) - sum(n_bytes)) * 10000
                  / CAST(sum(entry_bytes) AS DOUBLE)) AS BIGINT)
         AS overhead_pct
FROM sharded
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "multimodal_webdataset_index": multimodal_webdataset_index,
    "multimodal_meta": multimodal_meta,
    "multimodal_decode_fake": multimodal_decode_fake,
    "multimodal_resize": multimodal_resize,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_audio_chunks": multimodal_audio_chunks,
    "multimodal_chunk_dedup": multimodal_chunk_dedup,
    "multimodal_phash_groups": multimodal_phash_groups,
}
