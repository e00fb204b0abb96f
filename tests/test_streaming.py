"""Structured-Streaming path: the KG stream as stage-runner batches
(parity with one full run), incremental pages -> mentions parity with
batch, watermarked windowed rates, exactly-once catalog sink + restart,
near-dup matching against the persisted dedup index."""

import os

import pytest
from pyspark.sql import functions as F

from thesis_ner_co_tri_training_spark.operators.mentions import (
    mentions_table, vote_mentions)
from thesis_ner_co_tri_training_spark.operators.tagging import (
    explode_sentences, tag_sentences_df)
from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df
from thesis_ner_co_tri_training_spark.streaming import (
    mention_rates_stream, mentions_stream, read_pages_stream)

N_PAGES = 24


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream"))
    # two "crawl arrivals" land as separate file batches
    gen_pages_df(spark, N_PAGES // 2, partitions=2).write.mode("append").parquet(d)
    df2 = gen_pages_df(spark, N_PAGES, partitions=2).filter(
        F.col("url").isNotNull()
    )
    # second half of the id range only (urls are deterministic per id)
    first = {r["url"] for r in gen_pages_df(spark, N_PAGES // 2, partitions=2)
             .select("url").collect()}
    df2.filter(~F.col("url").isin(list(first))).write.mode("append").parquet(d)
    return d


def _batch_mentions(spark):
    pages = gen_pages_df(spark, N_PAGES, partitions=2)
    voted = vote_mentions(tag_sentences_df(explode_sentences(pages.drop("text"))))
    return mentions_table(voted)


def test_stream_matches_batch(spark, pages_dir, tmp_path):
    stream = mentions_stream(read_pages_stream(spark, pages_dir))
    assert stream.isStreaming
    q = (stream.writeStream.format("memory").queryName("m_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {
        (r["url"], r["sent_id"], r["beg"], r["end"], r["surface"], r["tag"])
        for r in spark.sql("select * from m_stream").collect()
    }
    want = {
        (r["url"], r["sent_id"], r["beg"], r["end"], r["surface"], r["tag"])
        for r in _batch_mentions(spark).collect()
    }
    assert want
    assert got == want
    # event time must survive the Arrow passthrough
    nulls = spark.sql("select * from m_stream where warc_ts is null").count()
    assert nulls == 0


def test_windowed_rates_with_watermark(spark, pages_dir):
    # synthetic warc_ts spans ~1h at this page count -> minute windows;
    # one file per trigger so the watermark advances across micro-batches
    # and closes early windows (append mode emits only closed windows)
    rates = mention_rates_stream(
        mentions_stream(read_pages_stream(spark, pages_dir,
                                          max_files_per_trigger=1)),
        window="1 minute", watermark="0 seconds",
    )
    q = (rates.writeStream.format("memory").queryName("m_rates")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from m_rates").collect()
    # synthetic warc_ts spreads over hours -> at least one closed window
    assert rows
    for r in rows:
        assert r["n_mentions"] >= 1 and r["window_end"] > r["window_start"]


def test_stateful_domain_counts_accumulate(spark, pages_dir, tmp_path):
    from thesis_ner_co_tri_training_spark.streaming import (
        domain_mention_state_stream)

    # one file per trigger -> several micro-batches -> state must carry over
    stream = domain_mention_state_stream(
        mentions_stream(read_pages_stream(spark, pages_dir,
                                          max_files_per_trigger=1)))
    q = (stream.writeStream.format("memory").queryName("dom_state")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "state_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    rows = spark.sql("select * from dom_state").collect()
    assert rows
    # final state per domain = LAST emitted update; compare to batch truth
    final = {}
    for r in rows:
        prev = final.get(r["domain"])
        if prev is None or r["n_batches"] > prev["n_batches"]:
            final[r["domain"]] = r
    truth = {
        r["domain"]: r["n"]
        for r in _batch_mentions(spark)
        .withColumn("domain", F.regexp_extract("url", r"https?://([^/]+)/", 1))
        .groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    got = {d: r["n_mentions"] for d, r in final.items()}
    assert got == truth
    # multi-batch accumulation actually happened for at least one domain
    assert any(r["n_batches"] > 1 for r in final.values())
    for r in final.values():
        assert r["first_seen"] <= r["last_seen"]


def test_dedup_pages_stream_drops_recrawls(spark, tmp_path):
    """The same urls delivered twice (recrawl) must be processed once:
    mentions through dedup_pages_stream == single-copy batch mentions,
    while the un-deduped stream double-counts."""
    from thesis_ner_co_tri_training_spark.streaming import dedup_pages_stream

    d = str(tmp_path / "recrawl")
    gen_pages_df(spark, 8, partitions=2).write.mode("append").parquet(d)
    gen_pages_df(spark, 8, partitions=2).write.mode("append").parquet(d)  # redelivery

    def run(dedup: bool, name: str) -> int:
        pages = read_pages_stream(spark, d, max_files_per_trigger=2)
        if dedup:
            pages = dedup_pages_stream(pages)
        q = (mentions_stream(pages).writeStream.format("memory")
             .queryName(name).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.sql(f"SELECT count(*) c FROM {name}").collect()[0]["c"]

    n_batch = _batch_mentions_n(spark, 8)
    assert run(False, "m_dup") == 2 * n_batch
    assert run(True, "m_dedup") == n_batch


def _batch_mentions_n(spark, n_pages: int) -> int:
    pages = gen_pages_df(spark, n_pages, partitions=2)
    voted = vote_mentions(tag_sentences_df(explode_sentences(pages.drop("text"))))
    return mentions_table(voted).count()


def test_dedup_against_index_stream_matches_batch(spark, tmp_path):
    """Stream-static dedup vs the batch operator on the same data: the
    arriving batch matched against a static index finds exactly the
    batch-path (a, b, jaccard) rows, exactly once despite per-band
    candidate multiplicity and a restart."""
    import datetime

    from thesis_ner_co_tri_training_spark.operators.dedup import (
        dedup_against_index, minhash_bands, token_shingles)
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        dedup_against_index_stream)

    base = ("the quick brown fox jumps over the lazy dog while "
            "a very long sentence keeps adding more and more words")
    old_rows = [(1, base), (2, base + " tail"),
                (3, "completely different content about spark plans")]
    new_rows = [(10, base + " extra"),
                (11, "nothing like anything else in this corpus at all")]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    kw = dict(num_hashes=16, bands=8, hasher="md5")
    index = minhash_bands(old, **kw).localCheckpoint(eager=True)
    old_sh = token_shingles(old).localCheckpoint(eager=True)

    d = str(tmp_path / "docs_stream")
    ts = datetime.datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [(i, t, ts) for i, t in new_rows],
        "doc_id long, text string, warc_ts timestamp",
    ).write.mode("append").parquet(d)

    stream = dedup_against_index_stream(
        spark.readStream.schema(
            "doc_id long, text string, warc_ts timestamp").parquet(d),
        index, old_sh, threshold=0.5, **kw)
    assert stream.isStreaming
    out = str(tmp_path / "dups_out")
    ckpt = str(tmp_path / "dups_ckpt")
    q = (stream.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.a, r.b, r.jaccard)
           for r in spark.read.parquet(out).collect()}
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    expect = {(r.a, r.b, r.jaccard)
              for r in dedup_against_index(new, index, token_shingles(old),
                                           threshold=0.5, **kw).collect()}
    assert got == expect and got
    # exactly-once: a rerun with nothing new appended adds no rows
    q2 = (dedup_against_index_stream(
            spark.readStream.schema(
                "doc_id long, text string, warc_ts timestamp").parquet(d),
            index, old_sh, threshold=0.5, **kw)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(expect)


def test_neardups_stream_seeds_index_once(spark, tmp_path):
    """run_stream's neardups builder, twice on one warehouse: the second
    seeding of the mirror history writes nothing, and the catalog-sink
    rows equal the batch dedup_against_index of the same docs against
    the persisted index."""
    from jobs.run_stream import neardups_stream
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        dedup_against_index)
    from thesis_ner_co_tri_training_spark.plans import dedup_index
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        start_catalog_sink)

    src = str(tmp_path / "pages_in")
    wh = str(tmp_path / "wh")
    gen_pages_df(spark, 12, partitions=2).write.parquet(src)

    def drain():
        q = start_catalog_sink(
            neardups_stream(spark, read_pages_stream(spark, src), wh, 12),
            wh, "neardups", str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    drain()
    drain()
    assert [s["params"]["batch_tag"] for s in
            catalog.history(wh, dedup_index.TABLE)] == ["mirror-history"]
    got = catalog.read_table(spark, wh, "neardups")
    want = {tuple(r) for r in dedup_against_index(
        gen_pages_df(spark, 12).select("url", "text"),
        *dedup_index.read(spark, wh), id_col="url",
        **dedup_index.index_params(wh)).collect()}
    assert {tuple(r) for r in got.select("a", "b", "jaccard").collect()} \
        == want
    assert got.count() == len(want) > 0


def test_dedup_pages_stream_canonical_merges_variants(spark, tmp_path):
    """canonical=True collapses syntactic refetch variants (tracking
    params, case-shifted host, fragment) into one state entry while raw
    url dedup would keep both copies."""
    from pyspark.sql import functions as F

    from thesis_ner_co_tri_training_spark.streaming import (
        dedup_pages_stream)

    d = str(tmp_path / "variants")
    base = gen_pages_df(spark, 6, partitions=2)
    base.write.mode("append").parquet(d)
    # redelivery under a tracking-param + fragment variant of each url
    base.withColumn(
        "url", F.concat("url", F.lit("?utm_source=feed#top"))
    ).write.mode("append").parquet(d)

    def run(canonical: bool, name: str) -> int:
        pages = read_pages_stream(spark, d, max_files_per_trigger=2)
        q = (dedup_pages_stream(pages, canonical=canonical)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.sql(f"SELECT count(*) c FROM {name}").collect()[0]["c"]

    assert run(False, "v_raw") == 12       # raw urls differ -> both kept
    assert run(True, "v_canon") == 6       # canonical key merges them


def test_catalog_sink_exactly_once_incremental(spark, tmp_path):
    """Verdict r4 item 6: stream N files into a snapshot CATALOG table,
    'crash' (replayed micro-batch), resume with new files — each batch
    lands exactly once and read_incremental sees exactly the new rows.
    The table is not one the stage runner owns: the sink refuses those."""
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        append_batch_to_catalog, start_catalog_sink, stream_identity)

    src = str(tmp_path / "pages_in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    gen_pages_df(spark, 8, partitions=2).write.mode("append").parquet(src)

    def drain():
        q = start_catalog_sink(
            mentions_stream(read_pages_stream(spark, src)),
            wh, "stream_mentions", ckpt)
        q.awaitTermination(120)

    drain()
    sid = stream_identity(ckpt)
    s0 = catalog.latest_snapshot(wh, "stream_mentions")
    n0 = s0["row_count"]
    assert n0 > 0 and s0["params"]["batch_tag"] == f"stream-{sid}-batch-0"
    assert s0["params"]["stream_id"] == sid
    assert s0["operation"] == "stream-append"

    # rerun with no new files: no new snapshot (checkpoint file ledger)
    drain()
    assert catalog.latest_snapshot(wh, "stream_mentions")["snapshot_id"] == \
        s0["snapshot_id"]

    # crash replay: Structured Streaming re-invokes foreachBatch with the
    # last batch_id after an uncommitted crash — must be a no-op for the
    # SAME stream identity...
    # eager cut: the end of this test re-appends batch0 AFTER expiry
    # has deleted snapshot 0's original files
    batch0 = catalog.read_table(
        spark, wh, "stream_mentions", snapshot_id=0
    ).localCheckpoint(eager=True)
    assert append_batch_to_catalog(
        batch0, 0, wh, "stream_mentions", stream_id=sid) is None
    with pytest.raises(ValueError, match="--what kg"):
        append_batch_to_catalog(batch0, 1, wh, "mentions", stream_id=sid)
    assert catalog.latest_snapshot(wh, "stream_mentions")["row_count"] == n0

    # new crawl files arrive; resume processes ONLY them
    extra = gen_pages_df(spark, 14, partitions=2).filter(
        ~F.col("url").isin([r["url"] for r in gen_pages_df(spark, 8)
                            .select("url").collect()]))
    extra.write.mode("append").parquet(src)
    drain()
    s1 = catalog.latest_snapshot(wh, "stream_mentions")
    assert s1["params"]["stream_batch_id"] == 1
    inc = catalog.read_incremental(spark, wh, "stream_mentions",
                                   from_snapshot=0)
    assert inc.count() == s1["added_rows"] == s1["row_count"] - n0
    assert s1["added_rows"] > 0
    # exactly-once across everything: catalog table == batch replay
    want = _batch_mentions_df(spark, 14)
    got = catalog.read_table(spark, wh, "stream_mentions")
    assert got.count() == want.count()
    assert got.select("url", "sent_id", "beg", "end").exceptAll(
        want.select("url", "sent_id", "beg", "end")).isEmpty()
    # the streamed table is a first-class warehouse table: compaction
    # + expiry keep rows and the batch ledger intact
    catalog.compact_table(spark, wh, "stream_mentions", target_files=1)
    catalog.expire_snapshots(wh, "stream_mentions", keep_last=1)
    assert catalog.read_table(spark, wh, "stream_mentions").count() == \
        want.count()
    assert catalog.batch_tags(wh, "stream_mentions") == {
        f"stream-{sid}-batch-0", f"stream-{sid}-batch-1"}
    # a DIFFERENT stream (reset checkpoint / second writer) reusing
    # batch_id 0 must NOT be mistaken for a replay and must append —
    # the pre-fix bare-id key silently dropped such batches
    n_before = catalog.latest_snapshot(wh, "stream_mentions")["row_count"]
    snap_other = append_batch_to_catalog(
        batch0, 0, wh, "stream_mentions", stream_id="feedB")
    assert snap_other is not None
    assert snap_other["params"]["batch_tag"] == "stream-feedB-batch-0"
    assert catalog.latest_snapshot(wh, "stream_mentions")["row_count"] == \
        n_before + n0
    # and its replay is again a no-op for that same identity
    assert append_batch_to_catalog(
        batch0, 0, wh, "stream_mentions", stream_id="feedB") is None


def test_kg_stream_is_a_pipeline_batch(spark, tmp_path):
    """A stream drained into the KG tables runs the stage runner once
    per micro-batch: a replay of a batch and a drain with no new files
    add nothing, the crawl jobs' frontier and index repair see the
    streamed pages, and an --append-pages batch after it leaves the six
    tables row-identical to one full run over the union of the pages."""
    from collections import Counter

    from jobs.run_crawl_cycle import _pages_batches
    from thesis_ner_co_tri_training_spark.plans.pipeline import (
        _DAG_ORDER, finish_last_batch, pages_frontier, run_pipeline,
        run_pipeline_incremental)
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        run_kg_batch, start_kg_sink, stream_identity)

    src, wh, ckpt = (str(tmp_path / d) for d in ("in", "wh", "ckpt"))
    gen_pages_df(spark, N_PAGES, partitions=4).write.parquet(src)

    def drain():
        assert finish_last_batch(spark, wh) is None
        start_kg_sink(read_pages_stream(spark, src, max_files_per_trigger=2),
                      wh, ckpt).awaitTermination(120)

    def snapshots():
        return {t: len(catalog.history(wh, t)) for t in _DAG_ORDER}

    drain()
    sid = stream_identity(ckpt)
    batches = catalog.history(wh, "pages")
    assert [s["params"]["batch_tag"] for s in batches] == [
        f"stream-{sid}-batch-{b}" for b in range(len(batches))]
    assert len(batches) >= 2
    before = snapshots()
    drain()
    replay = run_kg_batch(
        catalog.read_added(spark, wh, "pages", batches[0]), 0, wh,
        stream_id=sid)
    assert all(s.get("resumed") for s in replay.values()), replay
    assert snapshots() == before

    # the crawl jobs draw past the streamed pages and index them
    start = pages_frontier(wh)
    assert start >= catalog.latest_snapshot(wh, "pages")["row_count"] \
        == N_PAGES
    assert _pages_batches(wh) == batches
    run_pipeline_incremental(spark, gen_pages_df(spark, 10, start=start),
                             wh, batch_tag=f"pages-{start}-{start + 10}")

    full = str(tmp_path / "full")
    run_pipeline(spark, gen_pages_df(spark, start + 10, partitions=4), full)
    for t in _DAG_ORDER[1:]:
        got, want = (Counter(repr(tuple(r)) for r in catalog.read_table(
            spark, w, t).collect()) for w in (wh, full))
        assert got == want and want, t


def _batch_mentions_df(spark, n):
    pages = gen_pages_df(spark, n, partitions=2)
    voted = vote_mentions(tag_sentences_df(explode_sentences(
        pages.drop("text"))))
    return mentions_table(voted)


def test_stateful_update_survives_all_nat_and_null_ts_chunks():
    """Unit test of stateful._update's NaT guards: a NON-empty chunk
    whose warc_ts are all null must not poison first/last (NaT.value is
    INT64_MIN -> OutOfBoundsDatetime / 1677-era floor), and a group that
    has ONLY seen null-ts rows emits NaT bounds instead of crashing."""
    import pandas as pd

    from thesis_ner_co_tri_training_spark.streaming.stateful import _update

    class FakeState:
        def __init__(self):
            self.exists = False
            self._t = None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t
            self.exists = True

    state = FakeState()
    all_nat = pd.DataFrame({"warc_ts": pd.to_datetime([None, None])})
    out1 = list(_update(("d.example",), iter([all_nat]), state))
    assert len(out1) == 1
    assert out1[0]["n_mentions"].iloc[0] == 2
    assert pd.isna(out1[0]["first_seen"].iloc[0])
    assert state.get == (2, 1, None, None)

    # a later batch with real timestamps sets the bounds from scratch
    real = pd.DataFrame({"warc_ts": pd.to_datetime(
        ["2024-01-01 00:00:00", None, "2024-01-02 00:00:00"])})
    out2 = list(_update(("d.example",), iter([real]), state))
    assert out2[0]["n_mentions"].iloc[0] == 5
    assert str(out2[0]["first_seen"].iloc[0]) == "2024-01-01 00:00:00"
    assert str(out2[0]["last_seen"].iloc[0]) == "2024-01-02 00:00:00"
