"""spark-submit entry: incremental KG ingestion as a streaming job.

    python jobs/package.py
    spark-submit --py-files dist/engine.zip jobs/run_stream.py \
        --input /tmp/kg_pages_in --out /tmp/kg_stream \
        [--what mentions|triples|sessions|neardups] [--pages 300] [--max-files 4]

Watches `--input` for new parquet page files and appends mentions (or
triples) exactly-once to `--out/data` with Structured Streaming's own
checkpoint in `--out/checkpoint`. With --pages N the job first seeds the
input dir with N synthetic pages (smoke mode). availableNow trigger:
drain everything currently in the directory in bounded micro-batches,
then exit — rerunning picks up only files added since (incremental
crawl-feed semantics; the checkpoint carries the file ledger).

With `--warehouse WH` the stream lands in the snapshot CATALOG table
`WH/<what>` instead (foreachBatch exactly-once appends keyed by
(stream identity, batch id) tags): streamed mentions/triples then get
time travel,
`read_incremental` for downstream consumers, per-batch lineage, and
`table_maint` compaction — the same warehouse contract as batch stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--what",
                    choices=["mentions", "triples", "sessions", "neardups"],
                    default="mentions")
    ap.add_argument("--pages", type=int, default=0,
                    help="seed the input dir with N synthetic pages first")
    ap.add_argument("--max-files", type=int, default=8)
    ap.add_argument("--warehouse", default=None,
                    help="write to a snapshot CATALOG table <what> in this "
                         "warehouse (foreachBatch exactly-once appends: "
                         "time travel + read_incremental + table_maint "
                         "compaction) instead of the flat parquet sink")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        mentions_stream, read_pages_stream, sessions_stream, triples_stream)

    spark = get_spark("kg_stream", cpus=args.cpus)

    if args.pages:
        from thesis_ner_co_tri_training_spark.sources.pages import write_pages
        if not os.path.exists(os.path.join(args.input, "_SEEDED")):
            write_pages(spark, args.pages, args.input,
                        partitions=max(args.max_files * 2, 8))
            open(os.path.join(args.input, "_SEEDED"), "w").close()

    pages = read_pages_stream(spark, args.input,
                              max_files_per_trigger=args.max_files)
    # sessions: stateful session_window with watermark — append mode
    # emits each watermark-closed session exactly once; still-open
    # sessions ride the state store into the next run.
    if args.what == "neardups":
        # Stream-static dedup against a PERSISTED corpus index: the
        # historical corpus here is a mirror-host copy of the seeded
        # pages (disjoint urls, identical text — the classic recrawl/
        # mirror case), its minhash band index + shingle table written
        # once under --out and re-read as static tables; every arriving
        # page is matched against that history with zero stream state
        # beyond the watermark horizon (ingest.dedup_against_index_stream).
        from pyspark.sql import functions as F

        from thesis_ner_co_tri_training_spark.operators.dedup import (
            minhash_bands, token_shingles)
        from thesis_ner_co_tri_training_spark.sources.pages import (
            gen_pages_df)
        from thesis_ner_co_tri_training_spark.streaming.ingest import (
            dedup_against_index_stream)

        idx_dir = os.path.join(args.out, "index")
        sh_dir = os.path.join(args.out, "old_shingles")
        # Crash-safe bootstrap: TWO writes (index + shingles) must both
        # land before the index is usable, so gate on a marker touched
        # only after the second write — not on idx_dir alone (a crash
        # between the writes would otherwise wedge every rerun on a
        # missing sh_dir). No marker => any partial dirs are stale;
        # rebuild both (the build is deterministic, so this is idempotent).
        ready = os.path.join(args.out, "_INDEX_READY")
        if not os.path.exists(ready):
            import shutil
            for d in (idx_dir, sh_dir):
                shutil.rmtree(d, ignore_errors=True)
            hist = gen_pages_df(spark, max(args.pages, 100)).select(
                F.regexp_replace(
                    "url", "^https://", "https://mirror."
                ).alias("url"),
                "text",
            )
            minhash_bands(hist, id_col="url").write.parquet(idx_dir)
            token_shingles(hist, id_col="url").write.parquet(sh_dir)
            open(ready, "w").close()
        stream = dedup_against_index_stream(
            pages.select("url", "text", "warc_ts"),
            spark.read.parquet(idx_dir),
            spark.read.parquet(sh_dir),
            id_col="url",
        )
    else:
        stream = {
            "mentions": mentions_stream,
            "triples": triples_stream,
            "sessions": sessions_stream,
        }[args.what](pages)

    t0 = time.time()
    if args.warehouse:
        from thesis_ner_co_tri_training_spark.sources import catalog
        from thesis_ner_co_tri_training_spark.streaming.ingest import (
            start_catalog_sink)

        q = start_catalog_sink(
            stream, args.warehouse, args.what,
            checkpoint_dir=os.path.join(args.warehouse, "_checkpoints",
                                        args.what))
        q.awaitTermination()
        elapsed = time.time() - t0
        snap = catalog.latest_snapshot(args.warehouse, args.what)
        print(json.dumps({
            "what": args.what,
            "seconds": round(elapsed, 2),
            "rows_in_sink": snap["row_count"] if snap else 0,
            "snapshot_id": snap["snapshot_id"] if snap else None,
            # Count batches over the table's history, expired snapshots
            # included — after table_maint --expire-keep the snapshots
            # alone under-count the exactly-once history.
            "stream_batches": len({
                s["params"]["batch_tag"]
                for s in catalog.history(args.warehouse, args.what)
                if s.get("params", {}).get("stream_batch_id") is not None
            }),
            "exactly_once": True,
            "catalog_table": f"{args.warehouse}/{args.what}",
        }))
        spark.stop()
        return 0
    q = (
        stream.writeStream.format("parquet")
        .option("path", os.path.join(args.out, "data"))
        .option("checkpointLocation", os.path.join(args.out, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    elapsed = time.time() - t0

    # A drain that admitted zero input files commits no batch and never
    # creates the sink dir (first run on an empty --input, or a rerun with
    # no new files before any data landed) — report 0 rows for THAT case
    # only; a sink dir that exists but fails to read (corrupt footer,
    # permissions) must stay fatal, not masquerade as an empty sink.
    data_dir = os.path.join(args.out, "data")
    import glob as _glob
    has_files = bool(_glob.glob(os.path.join(data_dir, "**", "*.parquet"),
                                recursive=True))
    rows = spark.read.parquet(data_dir).count() if has_files else 0
    print(json.dumps({
        "what": args.what,
        "seconds": round(elapsed, 2),
        "rows_in_sink": rows,
        "exactly_once": True,
        "checkpoint": os.path.join(args.out, "checkpoint"),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
