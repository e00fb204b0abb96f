"""spark-submit entry: incremental KG ingestion as a streaming job.

    python jobs/package.py
    spark-submit --py-files dist/engine.zip jobs/run_stream.py \
        --input /tmp/kg_pages_in --warehouse /tmp/kg_stream \
        [--what mentions|triples|sessions|neardups] [--pages 300] [--max-files 4]

Watches `--input` for new parquet page files and appends the chosen
stream exactly-once to the snapshot CATALOG table `WH/<what>` through
streaming.ingest.start_catalog_sink (foreachBatch appends keyed by
(stream identity, batch id) tags; Structured Streaming's own checkpoint
in `WH/_checkpoints/<what>`). Streamed tables get the batch stages'
warehouse contract: time travel, `read_incremental` for downstream
consumers, per-batch lineage and `table_maint` compaction. With
--pages N the job first seeds the input dir with N synthetic pages
(smoke mode). availableNow trigger: drain everything currently in the
directory in bounded micro-batches, then exit — rerunning picks up only
files added since (incremental crawl-feed semantics; the checkpoint
carries the file ledger).

`--what neardups` matches every arriving page against the persisted
dedup index in the same warehouse (plans/dedup_index, the index's one
writer; see `neardups_stream`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def neardups_stream(spark, pages, warehouse: str, n_history: int):
    """Stream-static near-dup matches (a, b, jaccard, warc_ts) of the
    `pages` stream against the persisted dedup index in `warehouse`,
    with zero stream state beyond the watermark horizon
    (ingest.dedup_against_index_stream).

    The history is a mirror-host copy of the first `n_history`
    synthetic pages (disjoint urls, identical text — the classic
    recrawl/mirror case), appended under the batch tag
    "mirror-history" by dedup_index.append_batch as one index snapshot,
    which a rerun skips: the index carries the tag or does not.
    Seeding and matching use the warehouse's recorded index params when
    it has an index."""
    from pyspark.sql import functions as F

    from thesis_ner_co_tri_training_spark.plans import dedup_index
    from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        dedup_against_index_stream)

    kw = dedup_index.index_params(warehouse) or dict(dedup_index.INDEX_PARAMS)
    hist = gen_pages_df(spark, n_history).select(
        F.regexp_replace("url", "^https://", "https://mirror.").alias("url"),
        "text",
    )
    dedup_index.append_batch(warehouse, hist,
                             {**kw, "batch_tag": "mirror-history"},
                             dedup_index.tags(warehouse))
    return dedup_against_index_stream(
        pages.select("url", "text", "warc_ts"),
        *dedup_index.read(spark, warehouse), id_col="url", **kw)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", required=True,
                    help="the stream appends to the snapshot catalog "
                         "table <what> in this warehouse")
    ap.add_argument("--what",
                    choices=["mentions", "triples", "sessions", "neardups"],
                    default="mentions")
    ap.add_argument("--pages", type=int, default=0,
                    help="seed the input dir with N synthetic pages first")
    ap.add_argument("--max-files", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        mentions_stream, read_pages_stream, sessions_stream,
        start_catalog_sink, triples_stream)

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
        stream = neardups_stream(spark, pages, args.warehouse,
                                 max(args.pages, 100))
    else:
        stream = {
            "mentions": mentions_stream,
            "triples": triples_stream,
            "sessions": sessions_stream,
        }[args.what](pages)

    t0 = time.time()
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


if __name__ == "__main__":
    sys.exit(main())
