"""Structured-Streaming ingestion: incremental pages -> mentions.

The reference is batch-only, but its pool-by-pool consumption of an
unlabeled corpus (co_training.py:84-89 — "take the next chunk of u
sentences, select, extend") is exactly a micro-batch pattern: each
arriving batch of crawled pages flows through the SAME narrow operators
as the batch DAG (extract_text -> sentences -> tri-view tagging ->
agreement vote -> mentions), so batch and streaming share one code path
and one set of semantics. Streaming-specific pieces here:

  - file-source ingestion of new parquet page files (`readStream`), the
    Spark-idiomatic stand-in for a crawl feed / Iceberg incremental scan,
  - event-time windowed mention-rate aggregation with a watermark on
    `warc_ts` for late crawl records,
  - one sink, `start_catalog_sink`: foreachBatch appends into a
    snapshot catalog table, exactly-once by (stream identity, batch id)
    tags, next to Structured Streaming's own checkpointLocation — the
    streamed table gets the batch stages' warehouse contract,
  - stream-static near-dup matching against the persisted dedup index
    (`dedup_against_index_stream`, over plans/dedup_index.read).

At cluster scale the file source lists new files per trigger; with
maxFilesPerTrigger it back-pressures a 100TB backfill into bounded
micro-batches while keeping every stage narrow (no shuffle before the
windowed agg, which is partial-aggregated map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mentions import mentions_table
from ..operators.tagging import tag_and_vote_pages_df
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental scan of a growing pages directory (crawl feed)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def mentions_stream(
    pages: DataFrame,
    cos_threshold: float = 0.7,
    tcfd_threshold: float = 0.7,
    scfd_threshold: float = 0.6,
) -> DataFrame:
    """pages stream -> voted mentions stream (all-narrow; no state).

    Output: url, warc_ts, sent_id, beg, end, surface, tag, confidence.
    """
    # Single fused Arrow pass (extract -> split -> tag); event time
    # (warc_ts) threads through as a passthrough column — no stateful
    # stream-stream rejoin, whole path narrow and shuffle-free.
    voted = tag_and_vote_pages_df(
        pages.drop("text"), cos_threshold, tcfd_threshold, scfd_threshold,
        passthrough=["warc_ts"])
    return mentions_table(voted)


def triples_stream(
    pages: DataFrame,
    cos_threshold: float = 0.7,
    tcfd_threshold: float = 0.7,
    scfd_threshold: float = 0.6,
) -> DataFrame:
    """pages stream -> (subj, pred, obj, url, sent_id, confidence) stream.

    Same narrow fused path as mentions_stream, ending in relation
    extraction — incremental KG construction: each micro-batch of crawled
    pages appends its triples exactly-once through the catalog sink.
    """
    from ..operators.triples import extract_triples

    voted = tag_and_vote_pages_df(
        pages.drop("text"), cos_threshold, tcfd_threshold, scfd_threshold,
        passthrough=["warc_ts"])
    return extract_triples(voted.drop("warc_ts"))


def mention_rates_stream(
    mentions: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed mention counts per tag with late-data bound.

    Watermark on warc_ts drops crawl records later than `watermark`;
    counts partial-aggregate map-side before the single keyed shuffle.
    """
    return (
        mentions.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "tag")
        .agg(F.count("*").alias("n_mentions"),
             F.approx_count_distinct("url").alias("n_urls"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tag", "n_mentions", "n_urls",
        )
    )


def stream_identity(checkpoint_dir: str) -> str:
    """Stable identity of a streaming query: the UUID Spark writes to
    `<checkpoint>/metadata` at query start (constant across restarts of
    the same checkpoint, fresh for a new/reset checkpoint); falls back
    to a hash of the checkpoint path before the metadata file exists."""
    import hashlib
    import json as _json
    import os as _os

    meta = _os.path.join(checkpoint_dir, "metadata")
    try:
        with open(meta) as fh:
            return _json.load(fh)["id"][:8]
    except Exception:
        return hashlib.sha1(
            _os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]


def append_batch_to_catalog(
    batch_df: DataFrame,
    batch_id: int,
    warehouse: str,
    table: str,
    partition_by: list[str] | None = None,
    *,
    stream_id: str,
) -> dict | None:
    """Idempotent per-micro-batch append into a snapshot catalog table —
    the foreachBatch body of `start_catalog_sink`, exposed for tests.

    Exactly-once: Structured Streaming replays the last uncommitted
    batch_id after a crash, so the append is keyed by a
    `stream-<stream_id>-batch-<id>` batch_tag — a tag already present
    in the table's snapshots (or its expired-snapshot ledger) is a
    no-op. The key includes the STREAM's identity (the checkpoint
    metadata UUID, Delta's (appId, version) convention), not the bare
    batch id: batch ids restart at 0 whenever a checkpoint is reset or
    a second stream targets the same table, and a bare-id key would
    silently discard those streams' first batches as replays. A crash
    INSIDE write_table (data dir written, manifest not published) also
    replays safely: readers only see manifested snap dirs, and the
    replay claims a fresh dir; the orphan is GC'd by expire_snapshots.
    Returns the snapshot record, or None when the batch was already
    committed."""
    from ..sources import catalog

    tag = f"stream-{stream_id}-batch-{batch_id}"
    if tag in catalog.batch_tags(warehouse, table):
        return None
    return catalog.write_table(
        batch_df, warehouse, table, partition_by=partition_by,
        stage_params={"batch_tag": tag, "stream_batch_id": batch_id,
                      "stream_id": stream_id},
        mode=("append" if catalog.latest_snapshot(warehouse, table)
              is not None else "overwrite"),
        operation="stream-append",
    )


def start_catalog_sink(
    stream: DataFrame,
    warehouse: str,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
    partition_by: list[str] | None = None,
):
    """Exactly-once foreachBatch sink into a snapshot CATALOG table, so
    streamed mentions/triples get everything the batch stages get: time
    travel, `read_incremental` (downstream consumers read only the snap
    dirs new batches added — the Iceberg streaming-append contract),
    per-batch lineage/partition metrics, and compaction via table_maint.
    It is the one streaming sink: stream output is a first-class
    warehouse table, never a flat dir only the same stream can read."""
    writer = (
        stream.writeStream.foreachBatch(
            # stream_identity is resolved lazily INSIDE the batch body:
            # Spark writes <checkpoint>/metadata at query start, so by
            # the first batch the stable UUID exists (the path-hash
            # fallback only covers exotic external foreachBatch use).
            lambda df, bid: append_batch_to_catalog(
                df, bid, warehouse, table, partition_by,
                stream_id=stream_identity(checkpoint_dir)))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessions_stream(
    pages: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-domain crawl sessions via native session_window, streaming.

    events.user_sessions runs UNCHANGED on the stream (domain = the
    crawl key, warc_ts = event time); the watermark bounds session state
    and lets append mode emit each session exactly once, when the
    watermark passes its close. Batch parity on the watermark-closed
    subset is pinned by test_events.test_user_sessions_streaming_append;
    this is the spark-submit surface (jobs/run_stream.py --what
    sessions). Sessions still open at the end of an availableNow drain
    stay in the state store and emit on a later run once newer files
    advance the watermark past them.
    """
    from ..operators.events import user_sessions

    with_domain = pages.select(
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("domain"),
        "warc_ts",
    ).withWatermark("warc_ts", watermark)
    return user_sessions(with_domain, gap=gap, user_col="domain",
                         ts_col="warc_ts")


def dedup_pages_stream(pages: DataFrame, watermark: str = "2 hours",
                       canonical: bool = False) -> DataFrame:
    """Cross-micro-batch recrawl dedup on url.

    A crawl feed re-delivers pages (refetches, mirror hosts, retried
    WARCs); processing a url twice double-counts its mentions in every
    downstream table. dropDuplicatesWithinWatermark keys state by url and
    expires entries once the warc_ts watermark passes them — the state
    store holds only the horizon's urls (bounded), not crawl history,
    which is the only dedup shape that survives an unbounded stream.

    canonical=True keys the state on urlnorm.canonical_url(url) instead
    of the raw string, so syntactic refetch variants (case-shifted
    host, default port, fragment, tracking params, shuffled query) hit
    ONE state entry; the emitted row keeps its original url. The key
    column is narrow per-row JVM work — no change to the state shape.
    """
    wm = pages.withWatermark("warc_ts", watermark)
    if not canonical:
        return wm.dropDuplicatesWithinWatermark(["url"])
    from ..functions.urlnorm import canonical_url

    return (
        wm.withColumn("__canon", canonical_url(F.col("url")))
        .dropDuplicatesWithinWatermark(["__canon"])
        .drop("__canon")
    )


def dedup_against_index_stream(
    docs: DataFrame,
    index: DataFrame,
    old_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 64,
    threshold: float = 0.8,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Stream-static near-dup matching against the persisted corpus
    index — the streaming twin of operators.dedup.dedup_against_index
    and the same matcher body (dedup._index_matches), covering history
    BEYOND any watermark (dedup_pages_stream's recrawl dedup only sees
    the watermark horizon).

    `index` = minhash_bands(old corpus) and `old_shingles` =
    token_shingles(old corpus), both STATIC projections of the one
    persisted index table (plans/dedup_index.read; same num_hashes/
    bands/n/hasher — the index schema contract). Each arriving doc is banded per row (no state), its band
    rows are broadcast into the stream-static joins with the index and
    the shingles table, and jaccard_verify scores the pair (ts_col
    passes through). A watermarked dedup then drops the per-band match
    multiplicity, so state is only the (new, old) pairs inside the
    watermark horizon.

    Output: (a = new id, b = old id, jaccard round-4, ts_col) — same
    row contract as dedup_against_index, batch-parity pinned by test.
    """
    from ..operators.dedup import _index_matches, filter_index_buckets

    # The static side of a stream-static join is re-evaluated on EVERY
    # micro-batch, so the skew guard's groupBy over the whole persisted
    # index would rerun per trigger — cache the guarded index once.
    idx = filter_index_buckets(index, max_bucket).cache()
    return _index_matches(
        docs, idx, old_shingles, id_col, text_col, n, num_hashes, bands,
        threshold, hasher, keep=(ts_col,),
    ).withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["a", "b"])
