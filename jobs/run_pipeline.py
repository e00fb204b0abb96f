"""spark-submit entry: run the full KG-construction DAG.

Usage (north rule launch mode):

    python jobs/package.py                      # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/run_pipeline.py \
        --pages 2000 --warehouse /tmp/kg_wh --cpus 8

Reads or generates the `pages` table, runs voted (extract + split + tag
+ vote in one pass) -> mentions/triples -> entities -> nodes/edges with
per-stage lineage, prints a one-line JSON summary (docs/sec throughput).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2000,
                    help="generate N synthetic pages (ignored with --input)")
    ap.add_argument("--input", default=None,
                    help="existing pages parquet dir (url/warc_ts/html/text/lang)")
    ap.add_argument("--input-warc", default=None,
                    help="dir/glob of .warc/.warc.gz files (Common-Crawl-style "
                         "ingestion via sources.warc.read_warc)")
    ap.add_argument("--append-pages", type=int, default=None,
                    help="incremental mode: append N NEW synthetic pages "
                         "(ids continue after the warehouse's pages table) "
                         "and process ONLY that batch through the doc-local "
                         "stages; global stages (entities/nodes/edges) are "
                         "recomputed over the accumulated tables. Rerun of "
                         "the same batch is an all-resumed no-op.")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--eval-report", action="store_true",
                    help="emit <warehouse>/eval/dev_results.txt — the "
                         "seqeval-style P/R/F1 artifact vs the synthetic "
                         "corpus's gold plants (run_ner.py:558-571 mirror; "
                         "synthetic --pages mode only)")
    args = ap.parse_args()
    if args.eval_report and (args.input or args.input_warc):
        print("warning: --eval-report ignored (gold tables exist only for "
              "synthetic --pages corpora, not --input/--input-warc)",
              file=sys.stderr)

    from thesis_ner_co_tri_training_spark.plans.pipeline import run_pipeline
    from thesis_ner_co_tri_training_spark.session import (
        codegen_compiles, get_spark)
    from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

    spark = get_spark("kg_pipeline", cpus=args.cpus,
                      shuffle_partitions=args.shuffle_partitions)

    if args.append_pages is not None:
        from thesis_ner_co_tri_training_spark.plans.pipeline import (
            finish_last_batch, pages_frontier, run_pipeline_incremental)
        from thesis_ner_co_tri_training_spark.sources import catalog

        if (catalog.latest_snapshot(args.warehouse, "pages") is not None
                and not catalog.batch_tags(args.warehouse, "pages")):
            print(json.dumps({
                "error": "--append-pages requires an incremental "
                         "warehouse: the pages table has snapshots but "
                         "none carries a batch_tag (it was written by "
                         "full-mode run_pipeline). Start a fresh "
                         "warehouse for incremental mode."}),
                file=sys.stderr)
            return 1
        # crash recovery: finish the last appended batch first if it
        # never reached the final stage (resumed by tag, no page
        # regeneration)
        recovered = finish_last_batch(spark, args.warehouse)
        # the shared generation frontier (at least the pages row count):
        # crawl cycles advance it past row_count when their dedup gate
        # drops candidates, and starting below it would regenerate ids
        # an earlier batch already drew
        start = pages_frontier(args.warehouse)
        n = args.append_pages
        batch = gen_pages_df(spark, n, start=start)
        c0, t0 = codegen_compiles(spark), time.time()
        lineage = run_pipeline_incremental(
            spark, batch, args.warehouse,
            batch_tag=f"pages-{start}-{start + n}")
        elapsed = time.time() - t0
        print(json.dumps({
            "batch_pages": n,
            "batch_start": start,
            "recovered_batch": recovered,
            "total_pages": lineage["pages"]["row_count"],
            "seconds": round(elapsed, 2),
            "batch_docs_per_sec": round(n / elapsed, 2),
            "codegen_compiles": codegen_compiles(spark) - c0,
            "stages": {
                k: {"rows": v.get("row_count"),
                    "added": v.get("added_rows"),
                    "op": v.get("operation"),
                    "resumed": v.get("resumed", False)}
                for k, v in lineage.items()
            },
        }))
        spark.stop()
        return 0

    if args.input_warc:
        from thesis_ner_co_tri_training_spark.sources.warc import read_warc

        pages = (read_warc(spark, args.input_warc)
                 .filter("parse_error IS NULL")
                 .select("url", "warc_ts", "html"))
        n_pages = pages.count()
    elif args.input:
        pages = spark.read.parquet(args.input)
        n_pages = pages.count()
    else:
        pages = gen_pages_df(spark, args.pages)
        n_pages = args.pages

    c0, t0 = codegen_compiles(spark), time.time()
    # n_pages rides the stage params so a resume against a warehouse
    # built from a different input fails loudly instead of silently
    # returning the old corpus's tables
    lineage = run_pipeline(spark, pages, args.warehouse,
                           params={"n_pages": n_pages},
                           resume=not args.no_resume)
    elapsed = time.time() - t0

    summary = {
        "pages": n_pages,
        "seconds": round(elapsed, 2),
        "docs_per_sec": round(n_pages / elapsed, 2),
        "codegen_compiles": codegen_compiles(spark) - c0,
        "stages": {
            k: {"rows": v.get("row_count"), "resumed": v.get("resumed", False)}
            for k, v in lineage.items()
        },
    }
    # Synthetic --pages mode only: the gold tables are generated for the
    # synthetic page ids, so scoring a corpus read from --input/--input-warc
    # against them would produce an all-FP/all-FN "report".
    if args.eval_report and not args.input and not args.input_warc:
        import os

        from thesis_ner_co_tri_training_spark.plans.eval import write_prf_artifact
        from thesis_ner_co_tri_training_spark.sources import catalog
        from thesis_ner_co_tri_training_spark.sources.pages import gold_tables

        gm, _ = gold_tables(args.pages)
        gold = spark.createDataFrame(gm)
        mentions = catalog.read_table(spark, args.warehouse, "mentions")
        out = os.path.join(args.warehouse, "eval", "dev_results.txt")
        write_prf_artifact(mentions, gold,
                           keys=["url", "sent_id", "beg", "end"], out_path=out)
        summary["eval_report"] = out

    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
