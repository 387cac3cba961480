"""Streaming deduplication for continuous document ingestion.

The batch dedup operators (functions/dedup.py) assume the corpus is at
rest; a training-data ingestion pipeline also needs the STREAMING
shape: drop re-crawled / re-delivered documents as they arrive.  Spark
gives this natively as ``dropDuplicatesWithinWatermark`` — state is a
fingerprint set bounded by the watermark horizon, so the operator runs
forever at 100 TB/day without unbounded state (exactly the windowed
dedup discipline a crawler pipeline uses; re-deliveries are
overwhelmingly near-in-time, duplicates older than the horizon are
left to the periodic batch ``exact_dedup`` compaction pass).

No reference analog — this extends the engine's LLM-pipeline surface
(SURVEY.md §7.2 phase 6) to Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_spark.functions.text import normalize_text


def fingerprinted(stream: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Append the 64-bit content fingerprint (same normalization as the
    batch ``exact_dedup``: lowercase, collapse whitespace, strip
    non-alphanumerics — so stream and batch agree on what 'duplicate'
    means)."""
    return stream.withColumn("_fp", F.xxhash64(normalize_text(text_col)))


def stream_dedup(
    stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-seen document per content fingerprint within the
    watermark horizon.

    ``ts_col`` is epoch-millis event time (CellFrame convention).
    State size is O(distinct fingerprints inside the horizon): 8-byte
    keys, evicted as the watermark advances — the bounded-state
    requirement for an always-on ingestion job.
    """
    with_ts = fingerprinted(stream, text_col=text_col).withColumn(
        "_event_time", F.timestamp_millis(F.col(ts_col))
    )
    return (
        with_ts.withWatermark("_event_time", watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        # output schema == input schema: both internals are dropped
        .drop("_event_time", "_fp")
    )


def batch_dedup_twin(
    stream_frame: DataFrame, *, text_col: str = "text", ts_col: str = "ts"
) -> DataFrame:
    """The batch definition the streaming operator must agree with on
    any finite prefix: the first-SEEN row per fingerprint — min ts,
    ties broken by the full row's natural order (min_by over a struct,
    deterministic; a bare dropDuplicates would keep an arbitrary row).
    Output schema == input schema, like ``stream_dedup``."""
    cols = stream_frame.columns
    payload = F.struct(*[F.col(c) for c in cols])
    ordering = F.struct(F.col(ts_col), *[F.col(c) for c in cols])
    return (
        fingerprinted(stream_frame, text_col=text_col)
        .groupBy("_fp")
        .agg(F.min_by(payload, ordering).alias("_row"))
        .select(*[F.col(f"_row.{c}").alias(c) for c in cols])
    )


def stream_url_dedup(
    stream: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-level dedup — the ingestion-time twin of the batch
    ``url_dedup`` (functions/text.py): keep the first-seen document per
    CANONICAL URL within the watermark horizon, so a crawl frontier
    that re-delivers tracking-param / fragment / case variants of one
    page emits it once.

    Same state discipline as ``stream_dedup``: the dedup key is the
    xxhash64 of the canonical URL (8-byte state entries, evicted at the
    horizon); canonicalization is the identical codegen rule chain the
    batch op uses, so stream and batch agree on what 'same URL' means.
    """
    from hbase_spark.functions.text import canonical_url

    with_key = stream.withColumn(
        "_uh", F.xxhash64(canonical_url(url_col))
    ).withColumn("_event_time", F.timestamp_millis(F.col(ts_col)))
    return (
        with_key.withWatermark("_event_time", watermark)
        .dropDuplicatesWithinWatermark(["_uh"])
        .drop("_event_time", "_uh")
    )


def stream_minhash_candidates(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    watermark: str = "1 hour",
    state_ttl_ms: int = 24 * 3_600_000,
) -> DataFrame:
    """Streaming MinHash near-dup detection — the batch
    ``minhash_candidates`` banding as an ingest-time operator: a new
    document becomes a candidate pair with every document that shares
    any LSH band bucket and whose event time lies within
    ``state_ttl_ms`` of its own (``|ts_a - ts_b| <= state_ttl_ms``,
    inclusive).  This is the near-dup twin of ``stream_dedup`` (exact)
    and ``stream_url_dedup`` (URL).

    Signatures and band buckets are computed map-side with the exact
    SQL pipeline the batch path uses (``minhash_signatures`` +
    ``_band_bucket_expr``), so stream and batch agree on what "same
    bucket" means — the stream==batch law is pytest-pinned.  Pairing
    is a watermarked stream-stream inner self-join on ``_bucket``
    (one ``StreamingSymmetricHashJoin``, no Python node): each side
    keeps its (id, event time, bucket) rows until the watermark
    passes ``event time + state_ttl_ms``, so state is bounded by the
    watermark horizon, not by a per-bucket member count.

    Output: (a, b) candidate id pairs, a < b.  The same pair re-emits
    from every band bucket the two docs share, and a re-delivered doc
    id pairs again — downstream exact-Jaccard verification (join the
    doc store, ``minhash_pairs``-style) dedups.  The self-join reads
    ``stream`` twice, so the checkpoint records two sources (a Kafka
    source gets two consumers); a checkpoint written by the earlier
    single-source pandas state form refuses to restart.
    """
    from hbase_spark.functions.dedup import (
        _band_bucket_expr,
        _ident,
        minhash_signatures,
    )

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    banded = minhash_signatures(
        stream, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
        extra_cols=(ts_col,),
    ).selectExpr(
        "_id",
        f"timestamp_millis({_ident(ts_col)}) AS _event_time",
        _band_bucket_expr(num_hashes, bands),
    ).withWatermark("_event_time", watermark)
    ttl = f"INTERVAL {int(state_ttl_ms)} MILLISECONDS"
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            F.expr(
                "l._bucket = r._bucket AND l._id < r._id"
                f" AND r._event_time BETWEEN l._event_time - {ttl}"
                f" AND l._event_time + {ttl}"
            ),
        )
        .selectExpr("l._id AS a", "r._id AS b")
    )
