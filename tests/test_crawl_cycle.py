"""Closed-loop crawl cycles: budget -> dedup gate -> incremental KG.

Pins jobs/run_crawl_cycle.py's loop invariants: the frontier advances
exactly-once per cycle, the budget split is exact, the dedup gate drops
pre-indexed near-dups, yield-weighted allocation shifts budget toward
productive domains, and a crash between pipeline stages recovers.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from jobs.run_crawl_cycle import INDEX_KW, run_cycle
from thesis_ner_co_tri_training_spark.sources import catalog
from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

BUDGET = 30


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    w = str(tmp_path_factory.mktemp("crawl_wh"))
    # pre-seed the dedup index with mirror copies of frontier pages
    # 0..9 (same text, different url): cycle 1's dedup gate must drop
    # whichever of them it crawls
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        minhash_bands, token_shingles)

    mirrors = gen_pages_df(spark, 10).select(
        F.regexp_replace("url", "^https://", "https://old.mirror.")
        .alias("url"), "text")
    params = {**INDEX_KW, "batch_tag": "seed"}
    catalog.write_table(mirrors, w, "dedup_docs", stage_params=params)
    catalog.write_table(minhash_bands(mirrors, id_col="url", **INDEX_KW),
                        w, "dedup_index", stage_params=params)
    catalog.write_table(token_shingles(mirrors, id_col="url",
                                       n=INDEX_KW["n"]),
                        w, "dedup_shingles", stage_params=params)
    return w


def test_two_cycles_budget_dedup_and_growth(spark, wh):
    c1 = run_cycle(spark, wh, BUDGET)
    assert c1["cycle_tag"] == "cycle-0"
    assert c1["frontier"] == [0, 2 * BUDGET]
    # exact split: crawled <= budget (a domain's allocation can exceed
    # its frontier supply), and the gate dropped the pre-seeded mirrors
    # that were actually crawled
    assert 0 < c1["crawled"] <= BUDGET
    assert c1["near_dupes_dropped"] > 0
    assert c1["ingested"] == c1["crawled"] - c1["near_dupes_dropped"]
    assert c1["pages_total"] == c1["ingested"]
    assert c1["mentions_total"] > 0

    c2 = run_cycle(spark, wh, BUDGET)
    assert c2["cycle_tag"] == f"cycle-{2 * BUDGET}"
    assert c2["frontier"] == [2 * BUDGET, 4 * BUDGET]
    assert c2["near_dupes_dropped"] == 0  # fresh ids, nothing indexed yet
    assert c2["pages_total"] == c1["pages_total"] + c2["ingested"]
    assert c2["mentions_total"] >= c1["mentions_total"]
    # yield-weighted scheduling: cycle 2 ran with mention-yield weights;
    # allocations are an exact budget split
    assert sum(c2["top_allocations"].values()) <= BUDGET
    # index grew by exactly the ingested survivors of both cycles
    docs = catalog.read_table(spark, wh, "dedup_docs")
    assert docs.count() == 10 + c1["ingested"] + c2["ingested"]
    # every cycle tag is on all three index tables (maintenance ran)
    for t in ("dedup_docs", "dedup_index", "dedup_shingles"):
        tags = catalog.batch_tags(wh, t)
        assert {"cycle-0", f"cycle-{2 * BUDGET}"} <= tags, t


def test_crash_recovery_resumes_cycle(spark, wh):
    """Kill the last cycle's global stages + index appends; the next
    cycle must first finish the old one (pipeline resume + index
    repair), then run itself — no double appends anywhere."""
    last = [s for s in catalog.snapshots(wh, "pages")
            if s["params"].get("batch_tag", "").startswith("cycle-")][-1]
    tag = last["params"]["batch_tag"]
    # simulate crash after mentions append: drop edges' latest snapshot
    # and the index tables' newest (this cycle's) appends
    for t in ("edges",):
        s = catalog.latest_snapshot(wh, t)
        os.remove(os.path.join(wh, t, "metadata",
                               f"snapshot-{s['snapshot_id']}.json"))
        shutil.rmtree(os.path.join(wh, t, "data",
                                   f"snap-{s['snapshot_id']}"))
    for t in ("dedup_docs", "dedup_index", "dedup_shingles"):
        s = catalog.latest_snapshot(wh, t)
        assert s["params"]["batch_tag"] == tag
        os.remove(os.path.join(wh, t, "metadata",
                               f"snapshot-{s['snapshot_id']}.json"))
        shutil.rmtree(os.path.join(wh, t, "data",
                                   f"snap-{s['snapshot_id']}"))
    docs_before = catalog.read_table(spark, wh, "dedup_docs").count()

    c3 = run_cycle(spark, wh, BUDGET)
    assert c3["recovered"]["resumed_pipeline"] == tag
    assert any(x.startswith("dedup_docs:") for x in
               c3["recovered"]["repaired_index"])
    # the repaired appends restored exactly the lost batch, and cycle 3
    # appended only its own survivors on top
    docs_after = catalog.read_table(spark, wh, "dedup_docs").count()
    prev_ingested = last["added_rows"]
    assert docs_after == docs_before + prev_ingested + c3["ingested"]
    # pipeline row sets stay consistent: mentions == its own snapshot
    assert catalog.read_table(spark, wh, "mentions").count() == \
        catalog.latest_snapshot(wh, "mentions")["row_count"]


def test_cycles_survive_table_maintenance(spark, wh):
    """The review-r4 headline bug: compact + expire-keep on the pages
    (and edges) tables must not reset the frontier high-water mark or
    make the last batch look unfinished — _pages_batches and recover()
    read snapshots PLUS the expiry ledger, like run_pipeline does."""
    from jobs.run_crawl_cycle import _index_kw, _pages_batches

    before = _pages_batches(wh)
    assert before, "previous tests ran cycles"
    hwm = before[-1]["params"]["frontier_end"]
    next_tag = f"cycle-{hwm}"

    for t in ("pages", "edges"):
        catalog.compact_table(spark, wh, t, target_files=1)
        catalog.expire_snapshots(wh, t, keep_last=1)

    # the ledger keeps every cycle batch: same high-water mark, and the
    # already-appended set did not shrink
    after = _pages_batches(wh)
    assert after[-1]["params"]["frontier_end"] == hwm
    assert {b["params"]["batch_tag"] for b in before} <= \
        {b["params"]["batch_tag"] for b in after}
    # index params survive maintenance too (read from persisted state)
    assert _index_kw(wh) == {k: INDEX_KW[k] for k in INDEX_KW}

    # the next cycle advances the frontier instead of crashing on a
    # cycle-0 double-append (pre-fix failure mode)
    c = run_cycle(spark, wh, BUDGET)
    assert c["cycle_tag"] == next_tag
    assert c["frontier"][0] == hwm
    assert c["resumed"] is False
    # and a rerun of the completed set still proceeds, one further on
    c2 = run_cycle(spark, wh, BUDGET)
    assert c2["frontier"][0] == c["frontier"][1] == hwm + 2 * BUDGET


def test_mixed_warehouse_frontier_never_resets(spark, tmp_path):
    """A warehouse with run_pipeline --append-pages history ('pages-*'
    tags) must NOT restart the crawl-cycle frontier at 0 (that would
    regenerate and double-append already-ingested pages); and after a
    cycle, a subsequent append-pages batch must start past the cycle's
    frontier_end, not at row_count."""
    from thesis_ner_co_tri_training_spark.plans.pipeline import (
        pages_frontier, run_pipeline_incremental)

    w = str(tmp_path / "mixed_wh")
    # simulate run_pipeline --append-pages 40: tag pages-0-40
    run_pipeline_incremental(spark, gen_pages_df(spark, 40, start=0), w,
                             batch_tag="pages-0-40")
    assert pages_frontier(w) == 40

    c = run_cycle(spark, w, BUDGET)
    # frontier picks up after the pages- batch — nothing regenerated
    assert c["frontier"][0] == 40
    assert c["cycle_tag"] == "cycle-40"
    pages = catalog.read_table(spark, w, "pages")
    assert pages.count() == pages.select("url").distinct().count()
    # the pages- history got indexed by the cycle's repair loop, so the
    # gate now covers it
    assert "pages-0-40" in catalog.batch_tags(w, "dedup_index")

    # and the reverse direction: the generation frontier for the next
    # append-pages batch clears the cycle's frontier_end even though
    # row_count is smaller (dedup-gated candidates consumed ids)
    assert pages_frontier(w) == c["frontier"][1]
    run_pipeline_incremental(
        spark, gen_pages_df(spark, 10, start=pages_frontier(w)), w,
        batch_tag=f"pages-{pages_frontier(w)}-{pages_frontier(w) + 10}")
    pages = catalog.read_table(spark, w, "pages")
    assert pages.count() == pages.select("url").distinct().count()


def test_recover_reads_each_index_history_once(spark, tmp_path,
                                               monkeypatch):
    """recover() runs twice per cycle over EVERY pages batch ever
    appended; reading the index tables' histories once per batch made
    a cycle's catalog reads grow quadratically. With every batch already
    indexed, one recover() reads each index table's history at most
    once, however many batches there are."""
    from collections import Counter

    from jobs.run_crawl_cycle import _index_kw, recover

    w = str(tmp_path / "reads_wh")
    for i in range(3):
        snap = catalog.write_table(
            gen_pages_df(spark, 4, start=4 * i), w, "pages",
            stage_params={"batch_tag": f"pages-{4 * i}-{4 * i + 4}"},
            mode="append")
    # the last batch reached `nodes` and `edges`: no unfinished
    # pipeline batch
    for t in ("nodes", "edges"):
        catalog.write_table(
            spark.range(1), w, t,
            stage_params={"pages_snapshot": snap["snapshot_id"]})
    kw = _index_kw(w)
    first = recover(spark, w, kw)
    assert len(first["repaired_index"]) == 9  # 3 batches x 3 tables

    calls = Counter()
    history = catalog.history

    def counting(warehouse, table):
        calls[table] += 1
        return history(warehouse, table)

    monkeypatch.setattr(catalog, "history", counting)
    assert recover(spark, w, kw)["repaired_index"] == []
    for t in ("dedup_docs", "dedup_index", "dedup_shingles"):
        assert calls[t] <= 1, (t, calls)
    monkeypatch.undo()

    # Whole cycles: the index params are read once per cycle and
    # append_batch takes the tables to write from recover()'s history
    # read, so a cycle reads each index snapshot at most 7 times over
    # (dedup_docs for the params, then the three tables in each of the
    # two recover() calls), plus the gate's two table reads: 0/9/16/23
    # snapshot reads over 4 cycles (0/13/24/35 before).
    reads = Counter()
    get_snapshot = catalog.get_snapshot

    def counting_get(warehouse, table, snapshot_id=None):
        reads[table] += 1
        return get_snapshot(warehouse, table, snapshot_id)

    monkeypatch.setattr(catalog, "get_snapshot", counting_get)
    w = str(tmp_path / "cycles_wh")
    per_cycle = []
    for i in range(4):
        reads.clear()
        assert run_cycle(spark, w, 8)["indexed"]
        per_cycle.append(sum(reads[t] for t in (
            "dedup_docs", "dedup_index", "dedup_shingles")))
        assert per_cycle[-1] <= 7 * i + 2 * (i > 0), per_cycle
