"""Structured-Streaming ingestion: a crawl feed of pages into the warehouse.

The reference consumes its unlabeled pool one chunk at a time
(co_training.py:84-89), so a stream micro-batch is one more crawl batch:
`start_kg_sink` runs each through the one stage runner
(plans/pipeline.run_pipeline_incremental), into the same pages and KG
tables as --append-pages and the crawl cycle. Event time stays in
pages.warc_ts. Streaming-specific pieces here:

  - file-source ingestion of new parquet page files (`readStream`), the
    Spark-idiomatic stand-in for a crawl feed / Iceberg incremental scan,
  - event-time operators with a watermark on `warc_ts` for late crawl
    records (windowed mention rates over `mentions_stream`, sessions,
    recrawl dedup),
  - `start_catalog_sink` for the tables the stage runner does not own:
    foreachBatch appends into a snapshot catalog table, exactly-once by
    the same batch tags (`stream_batch_tag`),
  - stream-static near-dup matching against the persisted dedup index
    (`dedup_against_index_stream`, over plans/dedup_index.read).

With maxFilesPerTrigger the file source back-pressures a backfill into
bounded micro-batches.
"""

from __future__ import annotations

from functools import partial

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
    """pages stream -> voted mentions stream (all-narrow; no state): the
    event-time source of the rate and state streams, never a table.

    Output: url, warc_ts, sent_id, beg, end, surface, tag, confidence.
    """
    # Single fused Arrow pass (extract -> split -> tag); event time
    # (warc_ts) threads through as a passthrough column — no stateful
    # stream-stream rejoin, whole path narrow and shuffle-free.
    voted = tag_and_vote_pages_df(
        pages.drop("text"), cos_threshold, tcfd_threshold, scfd_threshold,
        passthrough=["warc_ts"])
    return mentions_table(voted)


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


def stream_batch_tag(stream_id: str, batch_id: int) -> str:
    """The exactly-once key of a micro-batch in both sinks. It names the
    stream (Delta's (appId, version) convention): batch ids restart at 0
    when a checkpoint is reset or a second stream writes the same
    warehouse, and a bare-id key would drop those batches as replays."""
    return f"stream-{stream_id}-batch-{batch_id}"


def append_batch_to_catalog(
    batch_df: DataFrame,
    batch_id: int,
    warehouse: str,
    table: str,
    *,
    stream_id: str,
) -> dict | None:
    """Idempotent per-micro-batch append into a snapshot catalog table —
    the foreachBatch body of `start_catalog_sink`, exposed for tests.

    Exactly-once: Structured Streaming replays the last uncommitted
    batch_id after a crash, so the append is keyed by its
    `stream_batch_tag` — a tag already present in the table's snapshots
    (or its expired-snapshot ledger) is a no-op. A crash INSIDE
    write_table (data dir written, manifest not published) also replays
    safely: readers only see manifested snap dirs, and the replay claims
    a fresh dir; the orphan is GC'd by expire_snapshots. Returns the
    snapshot record, or None when the batch was already committed.

    Raises ValueError for a table the stage runner owns: rows appended
    beside it (mentions of pages not in `pages`) would silently enter
    the next batch's global stages."""
    from ..plans.pipeline import _DAG_ORDER
    from ..sources import catalog

    if table in _DAG_ORDER:
        raise ValueError(
            f"table {table!r} belongs to the KG stage runner; stream pages "
            "into it with start_kg_sink (jobs/run_stream.py --what kg)")
    tag = stream_batch_tag(stream_id, batch_id)
    if tag in catalog.batch_tags(warehouse, table):
        return None
    return catalog.write_table(
        batch_df, warehouse, table,
        stage_params={"batch_tag": tag, "stream_batch_id": batch_id,
                      "stream_id": stream_id},
        mode=("append" if catalog.latest_snapshot(warehouse, table)
              is not None else "overwrite"),
        operation="stream-append",
    )


def run_kg_batch(batch_df: DataFrame, batch_id: int, warehouse: str, *,
                 stream_id: str) -> dict:
    """The foreachBatch body of `start_kg_sink`, exposed for tests: the
    micro-batch is one run_pipeline_incremental batch. A replay finds
    its tag in the pages history and resumes every stage."""
    from ..plans.pipeline import run_pipeline_incremental

    return run_pipeline_incremental(
        batch_df.sparkSession, batch_df, warehouse,
        batch_tag=stream_batch_tag(stream_id, batch_id),
        pages_params={"stream_id": stream_id, "stream_batch_id": batch_id})


def _start_sink(stream: DataFrame, checkpoint_dir: str, body):
    return (
        stream.writeStream.foreachBatch(
            # resolved per batch: Spark writes <checkpoint>/metadata
            # (the stable UUID) at query start
            lambda df, bid: body(df, bid,
                                 stream_id=stream_identity(checkpoint_dir)))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_kg_sink(pages: DataFrame, warehouse: str, checkpoint_dir: str):
    """availableNow drain of a pages stream into the KG tables, one
    stage-runner batch per micro-batch (`run_kg_batch`). Run
    plans.pipeline.finish_last_batch first, as the batch jobs do: an
    unfinished earlier batch fails the first micro-batch ("batches must
    be sequential")."""
    return _start_sink(pages, checkpoint_dir,
                       partial(run_kg_batch, warehouse=warehouse))


def start_catalog_sink(stream: DataFrame, warehouse: str, table: str,
                       checkpoint_dir: str):
    """availableNow drain into a snapshot CATALOG table the stage runner
    does not own (sessions, near-dups), so the streamed table gets the
    batch stages' warehouse contract: time travel, `read_incremental`
    (downstream consumers read only the snap dirs new batches added —
    the Iceberg streaming-append contract), per-batch lineage/partition
    metrics, and compaction via table_maint."""
    return _start_sink(
        stream, checkpoint_dir,
        partial(append_batch_to_catalog, warehouse=warehouse, table=table))


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
