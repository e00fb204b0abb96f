"""Iceberg-style table catalog shim + per-stage lineage records.

The sandbox has no iceberg-spark-runtime jars, so tables are written as
partitioned Parquet in an Iceberg-compatible layout with REAL snapshot
semantics (immutable data files, manifest-listed per snapshot):

    <warehouse>/<table>/data/snap-<n>/...(partition dirs)/part-*.parquet
    <warehouse>/<table>/metadata/snapshot-<n>.json

Each write lands in a fresh immutable `data/snap-<n>/` directory; the
snapshot JSON is the manifest: `data_paths` lists the snap dirs that
constitute the table at that snapshot. That buys the four Iceberg
capabilities the north rule's 10^12-document table needs, without jars:

- append      -> new snapshot = previous paths + the new dir
- time travel -> `read_table(..., snapshot_id=k)` reads snapshot k's
                 manifest, regardless of later writes
- incremental -> `read_incremental(from, to)` reads ONLY the dirs added
                 between two snapshots (Iceberg incremental scan;
                 raises if a non-append rewrite broke the lineage);
                 `read_added(snap)` reads the one dir a snapshot added
- compaction  -> `compact_table` rewrites the current file set into few
                 large files as a NEW snapshot (row-parity asserted);
                 `expire_snapshots` garbage-collects unreferenced dirs

If `spark.sql.catalog.*` ever points at a real Iceberg catalog, switch
`write_table` to `df.writeTo(name).using('iceberg')` — the call sites
don't change. Snapshot JSON carries the north rule's lineage
requirement: stage name, params, row count, AND per-partition row
counts/metrics (computed with spark_partition_id(), one aggregate pass
over the ADDED data only — appends never rescan the whole table, which
is what keeps the lineage write O(added) at 100 TB; totals are carried
forward arithmetically like Iceberg's snapshot summaries).

Scale note on reads: each snap dir is loaded as its own basePath and
the scans are unioned, so hive-style partition dirs (`pred=.../`)
under every snap dir are discovered and partition pruning + filter
pushdown apply per branch exactly as in the single-dir layout
(asserted in tests/test_catalog.py). Long append chains add one scan
node per snapshot — `compact_table` is the maintenance job that folds
them back to one.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def _table_write_lock(warehouse: str, table: str):
    """Advisory cross-process lock serializing table mutations (writers
    and expiry) on one host. Without it, two concurrent writers (the
    exact pair the claim marker names: streaming sink + maintenance
    job) both read the same `prev`, claim DIFFERENT snap ids, and both
    publish — the later manifest silently omits the earlier writer's
    rows from data_paths (lost update; the claim marker only prevents
    same-id clobbers, not lineage forks). flock is released by the OS
    if the holder dies, so a crashed writer never wedges the table.
    A multi-host deployment needs a real Iceberg catalog's atomic
    swap instead — same switch point as the writeTo note above."""
    import fcntl

    os.makedirs(os.path.join(warehouse, table), exist_ok=True)
    fd = os.open(os.path.join(warehouse, table, ".write.lock"),
                 os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _metadata_dir(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, table, "metadata")


def _data_dir(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, table, "data")


def _snap_meta_path(warehouse: str, table: str, snap_id: int) -> str:
    return os.path.join(_metadata_dir(warehouse, table),
                        f"snapshot-{snap_id}.json")


def _ledger_path(warehouse: str, table: str) -> str:
    return os.path.join(_metadata_dir(warehouse, table), "batch-ledger.json")


def batch_ledger(warehouse: str, table: str) -> list[dict[str, Any]]:
    """Expired-snapshot batch records. `expire_snapshots` moves every
    dropped snapshot that carries batch params here, so the
    exactly-once ledger survives snapshot expiry — a maintained
    warehouse can still prove "this batch was already appended" even
    when the snapshot JSON itself is gone. Read it through `history`."""
    path = _ledger_path(warehouse, table)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh)


def history(warehouse: str, table: str) -> list[dict[str, Any]]:
    """The table's batch history: every live snapshot plus every
    expired one recorded in `batch-ledger.json` (marked
    `"expired": True`; a ledger record has ids, counts, operation and
    params but no data paths), ordered by snapshot_id. THE reader for
    "was this batch already appended/processed" — never scan snapshots
    alone (expiry would forget batches) or the ledger alone."""
    live = snapshots(warehouse, table)
    # expiry writes the ledger before it deletes the snapshot JSON, so
    # a crash in between leaves one snapshot in both
    have = {s["snapshot_id"] for s in live}
    gone = [{**e, "expired": True} for e in batch_ledger(warehouse, table)
            if e["snapshot_id"] not in have]
    return sorted(live + gone, key=lambda s: s["snapshot_id"])


def batch_tags(warehouse: str, table: str) -> set[str]:
    """Every batch_tag ever appended to the table (its `history`) —
    THE idempotence check for incremental jobs."""
    return {s["params"]["batch_tag"] for s in history(warehouse, table)
            if s.get("params", {}).get("batch_tag")}


def _snapshot_ids(warehouse: str, table: str) -> list[int]:
    """Numerically sorted snapshot ids (string sort breaks at 10)."""
    meta = _metadata_dir(warehouse, table)
    if not os.path.isdir(meta):
        return []
    ids = []
    for f in os.listdir(meta):
        if f.startswith("snapshot-") and f.endswith(".json"):
            try:
                ids.append(int(f[len("snapshot-"):-len(".json")]))
            except ValueError:
                continue
    return sorted(ids)


def partition_metrics_from_files(out_dir: str) -> list[dict[str, Any]]:
    """Per-write-task row counts from the parquet file footers — O(files)
    driver-side metadata reads, zero executor time.

    write_table used to re-read every stage's full output through a
    distributed groupBy(spark_partition_id) just to record lineage
    counts; at 240k pages / 32 cores that second scan was ~2s per stage
    x 8 stages of pure overhead, and at 100 TB it would be a second
    pass over the corpus. The footers already carry exact row counts
    per file — the same place a real Iceberg writer gets its manifest
    stats from. For unpartitioned writes one file = one write task, so
    path-sorted file order is write-partition order; for partition_by
    writes a task fans out one file per partition dir it touches, so
    each entry also records its relative `path` (the honest unit there
    is the (task x partition-dir) file, and skew reads should group by
    the path's partition dir)."""
    import pyarrow.parquet as pq

    files: list[str] = []
    for root, _, fs in os.walk(out_dir):
        files.extend(os.path.join(root, f) for f in fs
                     if f.endswith(".parquet"))
    files.sort()
    return [
        {"partition": i, "rows": pq.ParquetFile(p).metadata.num_rows,
         "path": os.path.relpath(p, out_dir)}
        for i, p in enumerate(files)
    ]


def write_table(
    df: DataFrame,
    warehouse: str,
    table: str,
    partition_by: list[str] | None = None,
    stage_params: dict[str, Any] | None = None,
    mode: str = "overwrite",
    operation: str | None = None,
) -> dict[str, Any]:
    """Write Parquet into a fresh immutable snap dir + snapshot manifest.

    mode="overwrite": the new snapshot references ONLY the new dir
    (previous snapshots still reference their own dirs — time travel
    keeps working until `expire_snapshots`). mode="append": the new
    snapshot references previous paths + the new dir.

    Returns the snapshot record. The `_SUCCESS` marker Spark writes
    inside the snap dir is the resume gate used by plans.pipeline.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_table: unsupported mode {mode!r}")
    # The lock serializes prev-read -> data write -> manifest publish
    # against other writers AND expiry (see _table_write_lock).
    with _table_write_lock(warehouse, table):
        prev = latest_snapshot(warehouse, table)
        snap_id = (prev["snapshot_id"] + 1) if prev else 0
        # Claim the snap id: with the table lock held this can only race
        # a CRASHED writer's leftover claim (flock died with it) — the
        # loop skips past burned ids. The claim marker stays as defense
        # in depth for filesystems where flock is advisory-only.
        data_root = _data_dir(warehouse, table)
        os.makedirs(data_root, exist_ok=True)
        while True:
            rel_dir = f"snap-{snap_id}"
            out_dir = os.path.join(data_root, rel_dir)
            try:
                # Durable claim: an exclusive-create MARKER FILE beside the
                # dir, not the dir itself — Spark's SaveMode.Overwrite
                # deletes and recreates out_dir as part of the write, so a
                # claim held by the dir alone is silently released mid-write
                # and a concurrent writer's mkdir would succeed on the very
                # id being written. The marker is never touched by the
                # writer, so the claim holds for the snapshot's lifetime.
                fd = os.open(out_dir + ".claim",
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                snap_id += 1

        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        t0 = time.time()
        writer.parquet(out_dir)
        elapsed = time.time() - t0

        # Lineage metrics over the ADDED data only — O(added files) footer
        # reads on the driver, not a second distributed scan of the data
        # (see partition_metrics_from_files). The manifest schema is the
        # written DataFrame's own schema (what the old explicit-schema
        # read-back also recorded), so empty stages keep a readable schema.
        parts = partition_metrics_from_files(out_dir)
        added_rows = sum(p["rows"] for p in parts)
        # one entry per parquet file by construction — no second os.walk
        added_files = len(parts)
        if mode == "append" and prev is not None:
            data_paths = list(prev.get("data_paths", [])) + [rel_dir]
            row_count = prev["row_count"] + added_rows
            total_files = prev.get("total_data_files", 0) + added_files
        else:
            data_paths = [rel_dir]
            row_count = added_rows
            total_files = added_files
        snapshot = {
            "table": table,
            "snapshot_id": snap_id,
            "operation": operation or mode,
            "parent_snapshot_id": prev["snapshot_id"] if prev else None,
            "schema": df.schema.jsonValue(),
            "partition_by": partition_by or [],
            "data_paths": data_paths,
            "row_count": row_count,
            "added_rows": added_rows,
            "added_data_files": added_files,
            "total_data_files": total_files,
            "partitions": parts,
            "write_seconds": round(elapsed, 3),
            "params": stage_params or {},
            "snapshot_ts": int(time.time() * 1000),
        }
        meta = _metadata_dir(warehouse, table)
        os.makedirs(meta, exist_ok=True)
        # Exclusive-create ('x'): if another writer somehow published this id
        # already, fail loudly instead of overwriting its manifest.
        with open(_snap_meta_path(warehouse, table, snap_id), "x") as fh:
            json.dump(snapshot, fh, indent=2, default=str)
        return snapshot


def _resolve_paths(warehouse: str, table: str,
                   snap: dict[str, Any]) -> list[str]:
    data_dir = _data_dir(warehouse, table)
    return [os.path.join(data_dir, r) for r in snap["data_paths"]]


def _read_paths(spark: SparkSession, paths: list[str],
                schema_json: dict | None = None) -> DataFrame:
    """One scan per snap dir, unioned. Each dir is its own basePath so
    hive-style partition dirs beneath it are discovered (a single
    multi-path read refuses roots at different partition depths).
    Partition pruning + filter pushdown apply to every branch of the
    union (asserted in tests/test_catalog.py); appends therefore add
    one scan node each — `compact_table` folds them back to one.

    The manifest schema (when present) is applied explicitly: an empty
    snapshot dir has no part files to infer from."""
    schema = None
    if schema_json is not None:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(schema_json)

    def one(p: str) -> DataFrame:
        r = spark.read.option("basePath", p)
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(p)

    dfs = [one(p) for p in paths]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def read_table(spark: SparkSession, warehouse: str, table: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Read the table as of `snapshot_id` (default: latest) — time
    travel over the manifested immutable snap dirs."""
    snap = get_snapshot(warehouse, table, snapshot_id)
    if snap is None:
        raise ValueError(
            f"{warehouse}: table {table} has no snapshot (never written, "
            "or its metadata was removed)")
    return _read_paths(spark, _resolve_paths(warehouse, table, snap),
                       schema_json=snap.get("schema"))


def get_snapshot(warehouse: str, table: str,
                 snapshot_id: int | None = None) -> dict[str, Any] | None:
    if snapshot_id is None:
        return latest_snapshot(warehouse, table)
    path = _snap_meta_path(warehouse, table, snapshot_id)
    if not os.path.exists(path):
        raise ValueError(
            f"{table}: snapshot {snapshot_id} does not exist "
            f"(have {_snapshot_ids(warehouse, table)})")
    with open(path) as fh:
        return json.load(fh)


def read_incremental(spark: SparkSession, warehouse: str, table: str,
                     from_snapshot: int,
                     to_snapshot: int | None = None) -> DataFrame:
    """Rows ADDED strictly after `from_snapshot` up to `to_snapshot`
    (default latest) — the Iceberg incremental scan: reads only the
    snap dirs the appends added, never the already-processed base.
    Raises if the range contains a non-append rewrite (overwrite or
    compaction drops/replaces files, so 'the new rows' is no longer
    well-defined as a file-set difference)."""
    lo = get_snapshot(warehouse, table, from_snapshot)
    hi = get_snapshot(warehouse, table, to_snapshot)
    if hi is None or lo is None:
        raise ValueError(f"{table}: missing snapshot metadata")
    lo_paths = lo.get("data_paths", [])
    hi_paths = hi.get("data_paths", [])
    if hi["snapshot_id"] < lo["snapshot_id"]:
        raise ValueError("read_incremental: to_snapshot < from_snapshot")
    missing = [p for p in lo_paths if p not in hi_paths]
    if missing:
        raise ValueError(
            f"{table}: snapshots {from_snapshot}..{hi['snapshot_id']} "
            f"contain a non-append rewrite (paths {missing} were "
            "replaced); incremental read requires append-only history")
    new = [p for p in hi_paths if p not in lo_paths]
    if not new:
        return read_table(spark, warehouse, table,
                          hi["snapshot_id"]).limit(0)
    data_dir = _data_dir(warehouse, table)
    return _read_paths(spark, [os.path.join(data_dir, p) for p in new],
                       schema_json=hi.get("schema"))


def read_added(spark: SparkSession, warehouse: str, table: str,
               snap: dict[str, Any]) -> DataFrame:
    """The rows snapshot `snap` (a record from `history`/`write_table`)
    added: its own newest data dir, read with its manifest schema. For
    a first write or an `append` (write_table adds exactly one dir)
    this equals `read_incremental(parent, snap)`, and it needs only the
    snapshot's OWN manifest — a parent removed by `expire_snapshots`
    does not make the batch unreadable."""
    own = snap.get("data_paths")
    if not own:
        raise ValueError(
            f"{table}: snapshot {snap['snapshot_id']} was expired (only its "
            "batch-ledger record is left); the rows it added cannot be "
            "read on their own")
    return _read_paths(spark, [os.path.join(_data_dir(warehouse, table),
                                            own[-1])],
                       schema_json=snap.get("schema"))


def compact_table(spark: SparkSession, warehouse: str, table: str,
                  target_files: int = 1) -> dict[str, Any]:
    """Rewrite the current file set into `target_files` files per
    partition-dir tree as a NEW snapshot (Iceberg rewrite_data_files):
    readers of older snapshots are untouched; the latest snapshot now
    references only the compacted dir. Row parity is asserted — a
    compaction that changes row_count aborts before publishing.

    At 100 TB this is the small-files maintenance job: streaming and
    per-stage appends accumulate many small parquet files; one
    repartition pass rewrites them at full cluster parallelism, and
    every later scan pays fewer file-open/footer costs.
    """
    prev = latest_snapshot(warehouse, table)
    if prev is None:
        raise ValueError(f"{table}: nothing to compact")
    df = read_table(spark, warehouse, table)
    part_cols = prev.get("partition_by") or []
    if part_cols:
        # hash each partition value wholly into one of target_files
        # tasks -> at most target_files files per partition dir
        df = df.repartition(target_files, *part_cols)
    else:
        df = df.repartition(target_files)
    snap = write_table(
        df, warehouse, table,
        partition_by=prev.get("partition_by") or None,
        stage_params={"compacted_from": prev["snapshot_id"],
                      "target_files": target_files},
        mode="overwrite", operation="compact",
    )
    if snap["row_count"] != prev["row_count"]:
        # unpublish the bad snapshot, keep the table at prev
        os.remove(_snap_meta_path(warehouse, table, snap["snapshot_id"]))
        raise AssertionError(
            f"{table}: compaction row-count mismatch "
            f"{prev['row_count']} -> {snap['row_count']}")
    return snap


def expire_snapshots(warehouse: str, table: str,
                     keep_last: int = 1,
                     orphan_grace_s: float = 3600.0) -> dict[str, Any]:
    """Drop all but the newest `keep_last` snapshots and delete snap
    dirs no retained snapshot references (Iceberg expire_snapshots +
    orphan-file GC). Time travel to an expired snapshot then raises.

    Snapshots whose params carry a `batch_tag` are the exactly-once
    ledger of the incremental jobs (run_dedup repair, pipeline
    --append-pages resume); before their JSON is deleted, a slim record
    (ids + params) is appended to `batch-ledger.json`, which `history`
    reads back — expiry bounds storage without ever forgetting which
    batches were appended."""
    if keep_last < 1:
        raise ValueError("expire_snapshots: keep_last must be >= 1")
    # Same lock as write_table: expiry must never run against a
    # mid-write snapshot or a manifest being published.
    with _table_write_lock(warehouse, table):
        ids = _snapshot_ids(warehouse, table)
        drop, keep = ids[:-keep_last], ids[-keep_last:]
        referenced: set[str] = set()
        for sid in keep:
            snap = get_snapshot(warehouse, table, sid)
            referenced.update(snap.get("data_paths", []))
        ledgered = []
        for sid in drop:
            snap = get_snapshot(warehouse, table, sid)
            params = snap.get("params", {})
            # batch_tag: the pages/dedup batch ledger; pages_snapshot: the
            # per-stage processed-batch ledger of run_pipeline_incremental;
            # hasher: dedup-index parameters (a pre-batch_tag --init wrote
            # them without a tag — losing them unledgered bricks the index,
            # run_dedup.index_kw has nothing left to read)
            if (params.get("batch_tag")
                    or params.get("pages_snapshot") is not None
                    or "hasher" in params):
                ledgered.append({
                    "snapshot_id": snap["snapshot_id"],
                    "parent_snapshot_id": snap.get("parent_snapshot_id"),
                    "row_count": snap.get("row_count"),
                    "added_rows": snap.get("added_rows"),
                    "operation": snap.get("operation"),
                    "params": snap.get("params", {}),
                })
        if ledgered:
            entries = batch_ledger(warehouse, table)
            have = {e["snapshot_id"] for e in entries}
            entries += [e for e in ledgered if e["snapshot_id"] not in have]
            tmp = _ledger_path(warehouse, table) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(entries, fh, indent=2, default=str)
            os.replace(tmp, _ledger_path(warehouse, table))
        removed_dirs = []
        data_dir = _data_dir(warehouse, table)
        manifested = {f"snap-{sid}" for sid in ids}
        if os.path.isdir(data_dir):
            for d in os.listdir(data_dir):
                full = os.path.join(data_dir, d)
                if not (d.startswith("snap-") and d not in referenced
                        and os.path.isdir(full)):
                    continue
                if d not in manifested:
                    # UNMANIFESTED dir: either a crashed write's orphan or a
                    # concurrent writer's claimed, in-flight dir (the exact
                    # pair write_table's claim design names: streaming sink +
                    # maintenance job). Age is the only distinguisher — GC
                    # only dirs untouched for `orphan_grace_s` (Iceberg's
                    # remove_orphan_files older_than convention); a live
                    # write keeps its dir mtime fresh as tasks commit files.
                    try:
                        age = time.time() - os.path.getmtime(full)
                    except OSError:
                        continue
                    if age < orphan_grace_s:
                        continue
                shutil.rmtree(full)
                # the writer's claim marker goes with its dir (the id
                # stays burned: snap ids are allocated past the max
                # existing manifest, so no reuse either way)
                try:
                    os.remove(full + ".claim")
                except FileNotFoundError:
                    pass
                removed_dirs.append(d)
        for sid in drop:
            os.remove(_snap_meta_path(warehouse, table, sid))
        return {"table": table, "expired_snapshots": drop,
                "kept_snapshots": keep, "removed_dirs": sorted(removed_dirs),
                "ledgered_batches": [
                    e["params"].get("batch_tag")
                    or (f"pages_snapshot={e['params']['pages_snapshot']}"
                        if e["params"].get("pages_snapshot") is not None
                        else f"index_params@{e['snapshot_id']}")
                    for e in ledgered]}


def table_complete(warehouse: str, table: str) -> bool:
    """Resume gate: a latest snapshot exists and every data path it
    references was fully written (Spark's _SUCCESS marker)."""
    snap = latest_snapshot(warehouse, table)
    if snap is None:
        return False
    for path in _resolve_paths(warehouse, table, snap):
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
    return True


def snapshots(warehouse: str, table: str) -> list[dict[str, Any]]:
    """All snapshot records, oldest first (the table's history)."""
    return [get_snapshot(warehouse, table, sid)
            for sid in _snapshot_ids(warehouse, table)]


def latest_snapshot(warehouse: str, table: str) -> dict[str, Any] | None:
    ids = _snapshot_ids(warehouse, table)
    if not ids:
        return None
    with open(_snap_meta_path(warehouse, table, ids[-1])) as fh:
        return json.load(fh)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    buckets: int = 16,
    sort_by: str | None = None,
    stage_params: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Bucketed table write (`bucketBy` + `saveAsTable`) for co-located
    joins: two tables bucketed by the same key into the same bucket
    count join WITHOUT any Exchange — each task zips bucket i with
    bucket i (plus at most a sort, elided too when both sides are
    sortBy'd). That is the hash-partitioned-storage contract Iceberg's
    bucket partition transform provides on a real cluster; Spark's
    session catalog provides it locally, with spark.sql.warehouse.dir
    deciding placement. The join-side proof is
    test_pipeline_resume.test_bucketed_join_has_no_exchange.

    Use for the big fact tables that meet repeatedly on one key across
    a pipeline (edges/mentions on entity or doc id): the shuffle is
    paid ONCE at write, every downstream same-key join/agg reads it
    back pre-partitioned.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(sort_by)
    t0 = time.time()
    writer.saveAsTable(table)
    elapsed = time.time() - t0
    back = df.sparkSession.table(table)
    return {
        "table": table,
        "bucket_by": bucket_by,
        "buckets": buckets,
        "sort_by": sort_by,
        "row_count": back.count(),
        "write_seconds": round(elapsed, 3),
        "params": stage_params or {},
    }
