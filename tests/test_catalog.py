"""Snapshot semantics of the Iceberg-style catalog shim.

North rule: the engine targets "Iceberg tables ... at 10^12-document
scale" with per-partition lineage and resumability. These tests pin
the four snapshot capabilities the shim provides without runtime jars:
append, time travel, incremental scan, compaction + snapshot expiry —
plus that partition pruning survives the multi-root (one dir per
snapshot) read layout.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from thesis_ner_co_tri_training_spark.sources import catalog


def _df(spark, lo, hi, lang="en"):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("doc_id"),
                F.lit(lang).alias("lang"),
                (F.col("id") * 3).alias("v"))
    )


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_append_time_travel_incremental(spark, tmp_path):
    wh = str(tmp_path)
    s0 = catalog.write_table(_df(spark, 0, 10), wh, "t")
    s1 = catalog.write_table(_df(spark, 10, 15), wh, "t", mode="append")
    s2 = catalog.write_table(_df(spark, 15, 18), wh, "t", mode="append")

    assert (s0["snapshot_id"], s1["snapshot_id"], s2["snapshot_id"]) == (
        0, 1, 2)
    assert s1["parent_snapshot_id"] == 0 and s2["parent_snapshot_id"] == 1
    assert (s0["row_count"], s1["row_count"], s2["row_count"]) == (
        10, 15, 18)
    assert s2["added_rows"] == 3
    assert s2["data_paths"] == ["snap-0", "snap-1", "snap-2"]

    # latest read = union of all appends
    assert _ids(catalog.read_table(spark, wh, "t")) == list(range(18))
    # time travel
    assert _ids(catalog.read_table(spark, wh, "t", snapshot_id=0)) == list(
        range(10))
    assert _ids(catalog.read_table(spark, wh, "t", snapshot_id=1)) == list(
        range(15))
    with pytest.raises(ValueError, match="does not exist"):
        catalog.read_table(spark, wh, "t", snapshot_id=9)

    # incremental scan: only the appended dirs
    inc = catalog.read_incremental(spark, wh, "t", from_snapshot=0)
    assert _ids(inc) == list(range(10, 18))
    inc01 = catalog.read_incremental(spark, wh, "t", 0, 1)
    assert _ids(inc01) == list(range(10, 15))
    # from == to -> empty, schema preserved
    same = catalog.read_incremental(spark, wh, "t", 1, 1)
    assert same.count() == 0 and same.columns == ["doc_id", "lang", "v"]


def test_incremental_rejects_rewrites(spark, tmp_path):
    wh = str(tmp_path)
    catalog.write_table(_df(spark, 0, 5), wh, "t")
    catalog.write_table(_df(spark, 5, 8), wh, "t", mode="append")
    catalog.write_table(_df(spark, 0, 4), wh, "t")  # overwrite
    with pytest.raises(ValueError, match="non-append rewrite"):
        catalog.read_incremental(spark, wh, "t", from_snapshot=0)
    # but travel back across the overwrite still works
    assert _ids(catalog.read_table(spark, wh, "t", snapshot_id=1)) == list(
        range(8))
    assert _ids(catalog.read_table(spark, wh, "t")) == list(range(4))


def test_compaction_preserves_rows_and_cuts_files(spark, tmp_path):
    wh = str(tmp_path)
    # many small files: 4 appends x 4 shuffle partitions each
    catalog.write_table(_df(spark, 0, 40).repartition(4), wh, "t")
    for lo in (40, 80, 120):
        catalog.write_table(_df(spark, lo, lo + 40).repartition(4),
                            wh, "t", mode="append")
    before = catalog.latest_snapshot(wh, "t")
    assert before["total_data_files"] >= 16

    snap = catalog.compact_table(spark, wh, "t", target_files=2)
    assert snap["operation"] == "compact"
    assert snap["row_count"] == 160
    assert snap["total_data_files"] <= 2
    assert snap["data_paths"] == [f"snap-{snap['snapshot_id']}"]
    assert _ids(catalog.read_table(spark, wh, "t")) == list(range(160))
    # pre-compaction snapshot still time-travelable
    assert catalog.read_table(
        spark, wh, "t", snapshot_id=before["snapshot_id"]).count() == 160


def test_expire_snapshots_gc(spark, tmp_path):
    wh = str(tmp_path)
    catalog.write_table(_df(spark, 0, 10), wh, "t")
    catalog.write_table(_df(spark, 10, 20), wh, "t", mode="append")
    catalog.compact_table(spark, wh, "t", target_files=1)
    res = catalog.expire_snapshots(wh, "t", keep_last=1)
    assert res["expired_snapshots"] == [0, 1]
    # snap-0/snap-1 dirs are unreferenced by the compacted snapshot
    assert res["removed_dirs"] == ["snap-0", "snap-1"]
    data = os.listdir(os.path.join(wh, "t", "data"))
    # expired dirs AND their writer-claim markers are GC'd; the kept
    # snapshot keeps both
    assert sorted(d for d in data if d.startswith("snap-")) == [
        "snap-2", "snap-2.claim"]
    assert _ids(catalog.read_table(spark, wh, "t")) == list(range(20))
    assert catalog.table_complete(wh, "t")
    with pytest.raises(ValueError, match="does not exist"):
        catalog.read_table(spark, wh, "t", snapshot_id=0)


def test_expire_keeps_referenced_dirs_of_kept_appends(spark, tmp_path):
    wh = str(tmp_path)
    catalog.write_table(_df(spark, 0, 5), wh, "t")
    catalog.write_table(_df(spark, 5, 9), wh, "t", mode="append")
    # keep_last=1 keeps the append snapshot, which references BOTH dirs
    res = catalog.expire_snapshots(wh, "t", keep_last=1)
    assert res["expired_snapshots"] == [0] and res["removed_dirs"] == []
    assert _ids(catalog.read_table(spark, wh, "t")) == list(range(9))


def test_snapshot_ordering_is_numeric(spark, tmp_path):
    """11 snapshots: string sort would pick snapshot-9 over snapshot-10."""
    wh = str(tmp_path)
    catalog.write_table(_df(spark, 0, 1), wh, "t")
    for i in range(1, 11):
        catalog.write_table(_df(spark, i, i + 1), wh, "t", mode="append")
    snap = catalog.latest_snapshot(wh, "t")
    assert snap["snapshot_id"] == 10
    assert snap["row_count"] == 11


def test_partition_pruning_across_snap_dirs(spark, tmp_path):
    """Hive-style partition dirs under each snap dir: partition
    discovery and pruning must work on the multi-root read."""
    wh = str(tmp_path)
    catalog.write_table(
        _df(spark, 0, 6, "en").unionByName(_df(spark, 6, 10, "de")),
        wh, "t", partition_by=["lang"])
    catalog.write_table(
        _df(spark, 10, 12, "en").unionByName(_df(spark, 12, 16, "fr")),
        wh, "t", partition_by=["lang"], mode="append")

    df = catalog.read_table(spark, wh, "t")
    assert "lang" in df.columns
    got = df.filter(F.col("lang") == "en")
    assert _ids(got) == [0, 1, 2, 3, 4, 5, 10, 11]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan


def test_write_table_rejects_unknown_mode(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported mode"):
        catalog.write_table(_df(spark, 0, 1), str(tmp_path), "t",
                            mode="error")


def test_read_table_without_snapshot_raises(spark, tmp_path):
    """A table with no snapshot is refused with a message naming the
    warehouse and the table, also when parquet files sit in its data
    dir (write_table never leaves that layout)."""
    wh = str(tmp_path)
    with pytest.raises(ValueError, match=f"{wh}: table t has no snapshot"):
        catalog.read_table(spark, wh, "t")
    _df(spark, 0, 3).write.parquet(os.path.join(wh, "u", "data"))
    with pytest.raises(ValueError, match="table u has no snapshot"):
        catalog.read_table(spark, wh, "u")


def test_expire_preserves_batch_ledger(spark, tmp_path):
    """Expiring batch-tagged snapshots must not forget the batches: the
    exactly-once ledger of the incremental jobs moves to
    batch-ledger.json and batch_tags() still reports every tag."""
    wh = str(tmp_path)
    catalog.write_table(_df(spark, 0, 4), wh, "t",
                        stage_params={"batch_tag": "b1"})
    catalog.write_table(_df(spark, 4, 8), wh, "t", mode="append",
                        stage_params={"batch_tag": "b2"})
    catalog.compact_table(spark, wh, "t", target_files=1)
    assert catalog.batch_tags(wh, "t") == {"b1", "b2"}
    res = catalog.expire_snapshots(wh, "t", keep_last=1)
    assert res["expired_snapshots"] == [0, 1]
    assert sorted(res["ledgered_batches"]) == ["b1", "b2"]
    # live snapshots have no tags left; the ledger still has both
    assert catalog.batch_tags(wh, "t") == {"b1", "b2"}
    entries = catalog.batch_ledger(wh, "t")
    assert [e["snapshot_id"] for e in entries] == [0, 1]
    assert entries[0]["params"]["batch_tag"] == "b1"
    # a second expiry must not duplicate ledger entries: snap 3 (live
    # batch) is kept, snap 2 (compaction, untagged) is dropped unledgered
    catalog.write_table(_df(spark, 8, 9), wh, "t", mode="append",
                        stage_params={"batch_tag": "b3"})
    catalog.expire_snapshots(wh, "t", keep_last=1)
    assert [e["snapshot_id"] for e in catalog.batch_ledger(wh, "t")] == [0, 1]
    assert catalog.batch_tags(wh, "t") == {"b1", "b2", "b3"}
    # and expiring the live batch moves it over exactly once
    catalog.write_table(_df(spark, 9, 10), wh, "t", mode="append",
                        stage_params={"batch_tag": "b4"})
    catalog.expire_snapshots(wh, "t", keep_last=1)
    assert [e["snapshot_id"] for e in catalog.batch_ledger(wh, "t")] == [
        0, 1, 3]
    assert catalog.batch_tags(wh, "t") == {"b1", "b2", "b3", "b4"}


def test_concurrent_snap_id_claim_never_clobbers(spark, tmp_path):
    """A snap id already claimed by another writer must push the write
    to the NEXT id instead of overwriting; a manifest collision raises
    instead of silently replacing the other writer's snapshot. The
    claim is an exclusive-create MARKER FILE, not the dir: Spark's
    SaveMode.Overwrite deletes and recreates the data dir mid-write, so
    a dir-based claim is silently released exactly when it matters."""
    wh = str(tmp_path)
    catalog.write_table(_df(spark, 0, 3), wh, "t")
    # the first write's own claim survives its dir being rewritten —
    # this is the property the marker exists for
    assert os.path.exists(os.path.join(wh, "t", "data", "snap-0.claim"))
    # rival writer mid-write: claim marker taken, data dir in flight
    open(os.path.join(wh, "t", "data", "snap-1.claim"), "x").close()
    os.makedirs(os.path.join(wh, "t", "data", "snap-1"))
    snap = catalog.write_table(_df(spark, 3, 6), wh, "t", mode="append")
    assert snap["snapshot_id"] == 2
    assert snap["data_paths"] == ["snap-0", "snap-2"]
    assert _ids(catalog.read_table(spark, wh, "t")) == list(range(6))
    # the rival's unpublished dir is orphan-GC'd by expiry, not clobbered
    assert os.path.isdir(os.path.join(wh, "t", "data", "snap-1"))
    # ... but only once it is OLD: within the orphan grace window the
    # dir might be the rival's still-in-flight write (the exact
    # streaming-sink + maintenance-job pair the claim design protects),
    # so default expiry must leave it alone.
    res = catalog.expire_snapshots(wh, "t", keep_last=1)
    assert "snap-1" not in res["removed_dirs"]
    assert os.path.isdir(os.path.join(wh, "t", "data", "snap-1"))
    # past the grace window it is a crashed write's orphan: GC it
    res = catalog.expire_snapshots(wh, "t", keep_last=1,
                                   orphan_grace_s=0.0)
    assert "snap-1" in res["removed_dirs"]
    assert not os.path.exists(os.path.join(wh, "t", "data",
                                           "snap-1.claim"))


def test_write_table_serializes_under_table_lock(spark, tmp_path):
    """Concurrent mutators (the streaming-sink + maintenance pair) must
    serialize on the table lock: a writer entering while the lock is
    held blocks until release, then reads the true latest snapshot —
    no lost-update lineage fork."""
    import threading
    import time as _time

    from thesis_ner_co_tri_training_spark.sources.catalog import (
        _table_write_lock)

    wh = str(tmp_path)
    catalog.write_table(_df(spark, 0, 3), wh, "t")

    published = []

    def rival():
        snap = catalog.write_table(_df(spark, 3, 6), wh, "t",
                                   mode="append")
        published.append(snap)

    with _table_write_lock(wh, "t"):
        th = threading.Thread(target=rival)
        th.start()
        # the rival must NOT publish while we hold the lock
        _time.sleep(2.0)
        assert published == []
    th.join(60)
    assert len(published) == 1
    snap = published[0]
    assert snap["parent_snapshot_id"] == 0
    assert snap["data_paths"] == ["snap-0", "snap-1"]
    assert _ids(catalog.read_table(spark, wh, "t")) == list(range(6))
