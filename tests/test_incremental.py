"""Incremental (append-batch) pipeline vs one full run — row-exact.

North rule: the 10^12-document table grows by crawl appends; the engine
must process only the new batch (O(batch) for doc-local stages) while
keeping the global canonicalization stages equal to a from-scratch run.
These tests pin: (a) full-vs-incremental row-set parity on every
materialized table, (b) exactly-once per batch (rerun of a completed
batch is an all-resumed no-op), (c) append lineage shape.
"""

from __future__ import annotations

import pytest

from thesis_ner_co_tri_training_spark.plans.pipeline import (
    run_pipeline, run_pipeline_incremental)
from thesis_ner_co_tri_training_spark.sources import catalog
from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

N_FULL = 30
N_BATCH1 = 20  # pages 0..19, then 20..29 appended


def _rows(spark, wh, table):
    return sorted(map(tuple, catalog.read_table(spark, wh, table).collect()))


@pytest.fixture(scope="module")
def warehouses(spark, tmp_path_factory):
    full_wh = str(tmp_path_factory.mktemp("kg_full"))
    inc_wh = str(tmp_path_factory.mktemp("kg_inc"))
    run_pipeline(spark, gen_pages_df(spark, N_FULL, partitions=4), full_wh)
    lin1 = run_pipeline_incremental(
        spark, gen_pages_df(spark, N_BATCH1, partitions=4), inc_wh,
        batch_tag="b1")
    lin2 = run_pipeline_incremental(
        spark, gen_pages_df(spark, N_FULL - N_BATCH1, partitions=4,
                            start=N_BATCH1), inc_wh, batch_tag="b2")
    return full_wh, inc_wh, lin1, lin2


def test_full_vs_incremental_row_sets(spark, warehouses):
    full_wh, inc_wh, _, _ = warehouses
    for table in ("voted", "mentions", "triples",
                  "entities", "nodes", "edges"):
        assert _rows(spark, full_wh, table) == _rows(spark, inc_wh, table), (
            table)


def test_append_lineage_shape(spark, warehouses):
    _, inc_wh, lin1, lin2 = warehouses
    # batch 1 bootstraps (snapshot 0), batch 2 appends (snapshot 1)
    assert lin1["voted"]["snapshot_id"] == 0
    s2 = lin2["voted"]
    assert s2["snapshot_id"] == 1 and s2["operation"] == "append"
    assert s2["parent_snapshot_id"] == 0
    assert 0 < s2["added_rows"] < s2["row_count"]
    assert s2["params"]["pages_snapshot"] == lin2["pages"]["snapshot_id"] == 1
    # global stages are replaced, not appended
    assert lin2["entities"]["operation"] == "replace"
    assert lin2["entities"]["data_paths"] == [
        f"snap-{lin2['entities']['snapshot_id']}"]
    # doc-local batch-2 deltas are readable via the incremental scan
    inc = catalog.read_incremental(spark, inc_wh, "mentions",
                                   from_snapshot=0)
    assert inc.count() == lin2["mentions"]["added_rows"]


def test_rerun_of_completed_batch_is_noop(spark, warehouses):
    _, inc_wh, _, lin2 = warehouses
    again = run_pipeline_incremental(
        spark, gen_pages_df(spark, N_FULL - N_BATCH1, partitions=4,
                            start=N_BATCH1), inc_wh, batch_tag="b2")
    for name, snap in again.items():
        assert snap.get("resumed") is True, name
        assert snap["snapshot_id"] == lin2[name]["snapshot_id"], name
        assert snap["row_count"] == lin2[name]["row_count"], name


def test_skipped_batch_rejected_then_resumable_in_order(spark, tmp_path):
    """Simulate a crash after the pages append of b2: pages snapshots
    b2 and b3 exist but no stage processed them. Running b3 must refuse
    (it would silently skip b2's pages); resuming b2 by tag with
    new_pages=None (the crash-recovery path — pages are already in the
    warehouse) then b3 completes, and the table ends equal in rows to
    all three batches."""
    wh = str(tmp_path)
    run_pipeline_incremental(spark, gen_pages_df(spark, 4, partitions=2),
                             wh, batch_tag="b1")
    catalog.write_table(gen_pages_df(spark, 2, partitions=2, start=4),
                        wh, "pages", stage_params={"batch_tag": "b2"},
                        mode="append")
    catalog.write_table(gen_pages_df(spark, 2, partitions=2, start=6),
                        wh, "pages", stage_params={"batch_tag": "b3"},
                        mode="append")
    with pytest.raises(ValueError, match="sequential"):
        run_pipeline_incremental(spark, None, wh, batch_tag="b3")
    lin2 = run_pipeline_incremental(spark, None, wh, batch_tag="b2")
    assert lin2["pages"]["resumed"] is True  # no duplicate pages append
    assert lin2["voted"]["params"]["pages_snapshot"] == 1
    lin3 = run_pipeline_incremental(spark, None, wh, batch_tag="b3")
    assert lin3["voted"]["params"]["pages_snapshot"] == 2
    assert lin3["pages"]["row_count"] == 8
    n_voted = catalog.read_table(spark, wh, "voted").count()
    assert n_voted == lin3["voted"]["row_count"]


def test_resume_after_parent_manifest_expired(spark, warehouses, tmp_path):
    """Crash after b2's pages append, then expire the pages table down
    to b2's snapshot: b1's manifest (b2's parent) is gone. Resuming b2
    by tag reads the rows b2's own snapshot added, so voted ends equal,
    row for row, to the 2-batch run without the expiry."""
    _, inc_wh, _, _ = warehouses
    wh = str(tmp_path)
    run_pipeline_incremental(
        spark, gen_pages_df(spark, N_BATCH1, partitions=4), wh,
        batch_tag="b1")
    catalog.write_table(
        gen_pages_df(spark, N_FULL - N_BATCH1, partitions=4,
                     start=N_BATCH1),
        wh, "pages", stage_params={"batch_tag": "b2"}, mode="append")
    catalog.expire_snapshots(wh, "pages", keep_last=1)
    lin2 = run_pipeline_incremental(spark, None, wh, batch_tag="b2")
    assert lin2["pages"]["resumed"] is True
    assert _rows(spark, wh, "voted") == _rows(spark, inc_wh, "voted")


def test_resume_refuses_other_params(spark, tmp_path):
    """Resuming a finished batch under other params raises, as a
    full-mode resume does, instead of returning outputs built under the
    old thresholds labeled as this run's."""
    wh = str(tmp_path)
    run_pipeline_incremental(spark, gen_pages_df(spark, 4, partitions=2),
                             wh, batch_tag="b1")
    with pytest.raises(ValueError, match="params"):
        run_pipeline_incremental(spark, None, wh, "b1",
                                 params={"cos_threshold": 0.9})


def test_resume_unknown_tag_requires_pages(spark, tmp_path):
    wh = str(tmp_path)
    run_pipeline_incremental(spark, gen_pages_df(spark, 2, partitions=2),
                             wh, batch_tag="b1")
    with pytest.raises(ValueError, match="not found"):
        run_pipeline_incremental(spark, None, wh, batch_tag="nope")


def test_compaction_between_batches(spark, tmp_path):
    """Maintenance between appends must not break batch succession or
    exactly-once: ids are bumped by compaction snapshots, so succession
    is tracked by batch lineage, not snapshot-id arithmetic."""
    wh = str(tmp_path)
    run_pipeline_incremental(spark, gen_pages_df(spark, 4, partitions=2),
                             wh, batch_tag="b1")
    # maintenance: compact the pages table AND a stage table
    catalog.compact_table(spark, wh, "pages", target_files=1)
    catalog.compact_table(spark, wh, "voted", target_files=1)
    # next batch appends fine (old code: "batches must be sequential")
    lin2 = run_pipeline_incremental(
        spark, gen_pages_df(spark, 4, partitions=2, start=4), wh,
        batch_tag="b2")
    assert lin2["pages"]["row_count"] == 8
    n_voted = catalog.read_table(spark, wh, "voted").count()
    assert n_voted == lin2["voted"]["row_count"]
    # replaying b1 after stage compaction must resume, never re-append
    # (the compaction snapshot hides b1 from latest-only resume checks)
    catalog.compact_table(spark, wh, "voted", target_files=1)
    again = run_pipeline_incremental(spark, None, wh, batch_tag="b2")
    assert again["voted"].get("resumed") is True
    assert catalog.read_table(spark, wh, "voted").count() == n_voted


def test_expired_batch_refuses_replay(spark, tmp_path):
    """After expiry moved a batch to the ledger, replaying it must fail
    loudly (already appended) instead of double-appending."""
    wh = str(tmp_path)
    run_pipeline_incremental(spark, gen_pages_df(spark, 4, partitions=2),
                             wh, batch_tag="b1")
    run_pipeline_incremental(spark, gen_pages_df(spark, 4, partitions=2,
                                                 start=4), wh,
                             batch_tag="b2")
    catalog.compact_table(spark, wh, "pages", target_files=1)
    catalog.expire_snapshots(wh, "pages", keep_last=1)
    assert catalog.batch_tags(wh, "pages") == {"b1", "b2"}
    with pytest.raises(ValueError, match="already in the table"):
        run_pipeline_incremental(spark, None, wh, batch_tag="b1")
    # and a NEW batch still appends with correct succession
    lin3 = run_pipeline_incremental(
        spark, gen_pages_df(spark, 2, partitions=2, start=8), wh,
        batch_tag="b3")
    assert lin3["pages"]["row_count"] == 10


def test_full_mode_warehouse_rejected_for_append(spark, tmp_path):
    """--append-pages on a warehouse seeded by full-mode run_pipeline
    (stage tables exist, no batch-tagged pages history) must raise a
    clear error instead of appending deltas onto full-run rows."""
    wh = str(tmp_path)
    run_pipeline(spark, gen_pages_df(spark, 4, partitions=2), wh)
    with pytest.raises(ValueError, match="don't mix"):
        run_pipeline_incremental(
            spark, gen_pages_df(spark, 2, partitions=2, start=4), wh,
            batch_tag="b1")
