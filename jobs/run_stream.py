"""spark-submit entry: incremental KG ingestion as a streaming job.

    python jobs/package.py
    spark-submit --py-files dist/engine.zip jobs/run_stream.py \
        --input /tmp/kg_pages_in --warehouse /tmp/kg_stream \
        [--what kg|sessions|neardups] [--pages 300] [--max-files 8]

Watches `--input` for new parquet page files and drains them exactly-once
into the warehouse, in bounded micro-batches (availableNow), then exits;
a rerun picks up only files added since (the checkpoint in
`WH/_checkpoints/<what>` carries the file ledger). With --pages N the job
first seeds the input dir with N synthetic pages (smoke mode).

`--what kg` (the default) runs each micro-batch through the stage runner
as one `stream-<stream id>-batch-<batch id>` batch
(streaming.ingest.start_kg_sink): pages land in `WH/pages` (event time
in pages.warc_ts) and the six KG tables follow, as for run_pipeline.py
--append-pages, which can continue the same warehouse. `--what
sessions` and `--what neardups` (matches against the persisted dedup
index, plans/dedup_index; see `neardups_stream`) append to the catalog
table `WH/<what>` (streaming.ingest.start_catalog_sink).
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
                    help="the KG tables (--what kg) or the snapshot "
                         "catalog table <what> in this warehouse")
    ap.add_argument("--what", choices=["kg", "sessions", "neardups"],
                    default="kg")
    ap.add_argument("--pages", type=int, default=0,
                    help="seed the input dir with N synthetic pages first")
    ap.add_argument("--max-files", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from thesis_ner_co_tri_training_spark.plans.pipeline import (
        _DAG_ORDER, finish_last_batch)
    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.streaming.ingest import (
        read_pages_stream, sessions_stream, start_catalog_sink,
        start_kg_sink)

    spark = get_spark("kg_stream", cpus=args.cpus)

    if args.pages:
        from thesis_ner_co_tri_training_spark.sources.pages import write_pages
        if not os.path.exists(os.path.join(args.input, "_SEEDED")):
            write_pages(spark, args.pages, args.input,
                        partitions=max(args.max_files * 2, 8))
            open(os.path.join(args.input, "_SEEDED"), "w").close()

    pages = read_pages_stream(spark, args.input,
                              max_files_per_trigger=args.max_files)
    checkpoint_dir = os.path.join(args.warehouse, "_checkpoints", args.what)
    out = {"what": args.what}
    t0 = time.time()
    if args.what == "kg":
        # crash recovery, as --append-pages and the crawl cycle do
        out["recovered_batch"] = finish_last_batch(spark, args.warehouse)
        q = start_kg_sink(pages, args.warehouse, checkpoint_dir)
        tables = _DAG_ORDER
    else:
        # sessions: append mode emits each watermark-closed session
        # once; open sessions ride the state store into the next run
        stream = (neardups_stream(spark, pages, args.warehouse,
                                  max(args.pages, 100))
                  if args.what == "neardups" else sessions_stream(pages))
        q = start_catalog_sink(stream, args.warehouse, args.what,
                               checkpoint_dir)
        tables = (args.what,)
    q.awaitTermination()
    out["seconds"] = round(time.time() - t0, 2)
    # Count batches over the first table's history (pages for kg),
    # expired snapshots included — after table_maint --expire-keep the
    # snapshots alone under-count the exactly-once history.
    out["stream_batches"] = len({
        s["params"]["batch_tag"]
        for s in catalog.history(args.warehouse, tables[0])
        if s.get("params", {}).get("stream_batch_id") is not None})
    out["rows"] = {t: (catalog.latest_snapshot(args.warehouse, t)
                       or {"row_count": 0})["row_count"] for t in tables}
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
