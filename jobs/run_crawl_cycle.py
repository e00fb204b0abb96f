"""spark-submit entry: closed-loop crawl cycles — budget -> dedup -> KG.

    python jobs/package.py
    spark-submit --py-files dist/engine.zip jobs/run_crawl_cycle.py \
        --warehouse /tmp/kg_cycle --cycles 3 --budget 300 --cpus 8

The north star's closed loop: each cycle allocates the crawl budget
over domains from what the graph has yielded so far, fetches the batch,
near-dup-gates it against the persisted MinHash index, and appends the
survivors to the incremental KG pipeline. One cycle:

  1. SCHEDULE — per-domain weights = mention yield so far + 1 (domains
     that produced mentions earn more budget; the +1 keeps zero-yield
     domains crawlable — exploration, not just exploitation; uniform on
     cycle 0), split EXACTLY with apportion_budget (largest-remainder,
     q71's operator).
  2. CRAWL — draw candidate pages from the deterministic synthetic
     frontier (ids continue from the high-water mark recorded in the
     pages snapshot params) and keep per-domain up to its allocation,
     smallest page id first.
  3. DEDUP GATE — match candidates against the persisted index
     (dedup_index.read's two projections) with dedup_against_index
     (O(batch), q67's operator); drop near-dups.
  4. INGEST — run_pipeline_incremental(batch_tag="cycle-<start>")
     appends survivors through the fused voted stage (extract, split,
     tag, vote) -> mentions/triples and recomputes the global
     entity/graph stages; the pages snapshot records the frontier
     high-water mark.
  5. INDEX MAINT — append the survivors to the index as one snapshot
     (plans/dedup_index.append_batch, the index's one writer) so the
     NEXT cycle sees this one as history.

Crash safety, in order of what can be lost:
  - before INGEST: nothing persisted; steps 1-3 are deterministic
    functions of the warehouse state, so the rerun recomputes the
    identical batch and tag.
  - mid-INGEST: the pipeline's own per-stage resume finishes the batch
    (every cycle first runs pipeline.finish_last_batch).
  - after INGEST, before/mid INDEX MAINT: the index repair loop scans
    ALL batch-tagged pages snapshots and re-derives any batch missing
    from the index from the rows its pages snapshot added
    (catalog.read_added; idempotent by tag) — the run_dedup.py repair
    shape, but re-derived from the warehouse instead of regenerated.
    The gate runs only after this repair, so it never misses history.
A rerun of a fully completed cycle set proceeds to the NEXT cycle
(frontier advanced); rerunning mid-crash never double-appends (tags).
Prints one JSON line per cycle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from thesis_ner_co_tri_training_spark.plans import dedup_index  # noqa: E402

INDEX_KW = dedup_index.INDEX_PARAMS


def _index_kw(warehouse: str) -> dict:
    """Index params persisted with this warehouse's own index
    (dedup_index.index_params). INDEX_KW only seeds a brand-new
    warehouse: hashing new batches with drifted defaults against an
    index built under the old params would silently stop banding
    collisions, so the persisted params always win."""
    return dedup_index.index_params(warehouse) or dict(INDEX_KW)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--cycles", type=int, default=3)
    ap.add_argument("--budget", type=int, default=300,
                    help="pages fetched per cycle (before the dedup gate)")
    ap.add_argument("--frontier-factor", type=float, default=2.0,
                    help="candidate pages drawn per cycle = factor*budget")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from thesis_ner_co_tri_training_spark.session import get_spark

    spark = get_spark("kg_crawl_cycle", cpus=args.cpus)
    for _ in range(args.cycles):
        out = run_cycle(spark, args.warehouse, args.budget,
                        frontier_factor=args.frontier_factor,
                        threshold=args.threshold)
        print(json.dumps(out), flush=True)
    spark.stop()
    return 0


def _domain(col):
    from pyspark.sql import functions as F

    return F.regexp_extract(col, r"https?://([^/]+)/", 1)


def _pages_batches(warehouse):
    """ALL batch-tagged pages snapshots, oldest first, whatever job
    appended them ('cycle-*' from this job, 'pages-*' from run_pipeline
    --append-pages, 'stream-*' from run_stream --what kg): every one
    came through run_pipeline_incremental, so the index repair covers
    them all and the gate sees every ingested page. The pages
    `history`, expired snapshots included, so table maintenance
    (compact + expire-keep on the pages table) never resets the
    already-appended set or the frontier high-water mark (ledger
    entries keep the full params, including frontier_end)."""
    from thesis_ner_co_tri_training_spark.sources import catalog

    return [s for s in catalog.history(warehouse, "pages")
            if s.get("params", {}).get("batch_tag")]


def recover(spark, warehouse: str, kw: dict) -> dict:
    """Finish any half-done previous cycle: resume its pipeline batch,
    then repair the index from the warehouse (idempotent). The index
    history is read once per call, whatever the number of batches
    (recover runs twice per cycle). `kw` is the index params
    (`_index_kw`), read once by the caller."""
    from thesis_ner_co_tri_training_spark.plans.pipeline import (
        finish_last_batch)
    from thesis_ner_co_tri_training_spark.sources import catalog

    done = {"resumed_pipeline": finish_last_batch(spark, warehouse),
            "repaired_index": []}
    have = dedup_index.tags(warehouse)
    for snap in _pages_batches(warehouse):
        tag = snap["params"]["batch_tag"]
        if tag in have:
            continue
        # An UNindexed batch whose pages snapshot was already expired
        # cannot be re-derived; read_added then raises loudly (normal
        # operation indexes each batch within its own cycle, so only a
        # crash-before-step-5 + maintenance-before-rerun sequence can
        # reach that state).
        docs = catalog.read_added(spark, warehouse, "pages", snap).select(
            "url", "text")
        dedup_index.append_batch(warehouse, docs, {**kw, "batch_tag": tag},
                                 have)
        done["repaired_index"].append(tag)
    return done


def run_cycle(spark, warehouse: str, budget: int,
              frontier_factor: float = 2.0,
              threshold: float = 0.8) -> dict:
    """One closed-loop cycle; see module docstring."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from thesis_ner_co_tri_training_spark.operators.dedup import (
        dedup_against_index)
    from thesis_ner_co_tri_training_spark.operators.selection import (
        apportion_budget)
    from thesis_ner_co_tri_training_spark.plans.pipeline import (
        run_pipeline_incremental)
    from thesis_ner_co_tri_training_spark.session import codegen_compiles
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

    c0, t0 = codegen_compiles(spark), time.time()
    # the index params, read once: the gate and both repair loops
    kw = _index_kw(warehouse)
    recovered = recover(spark, warehouse, kw)

    from thesis_ner_co_tri_training_spark.plans.pipeline import (
        pages_frontier)

    # shared generation frontier across every batch family (at least
    # the pages row count): never regenerate ids an earlier batch drew
    frontier_start = pages_frontier(warehouse)
    tag = f"cycle-{frontier_start}"

    # 1. SCHEDULE
    have_mentions = catalog.latest_snapshot(warehouse, "mentions") is not None
    n_frontier = int(budget * frontier_factor)
    frontier = (gen_pages_df(spark, n_frontier, start=frontier_start)
                .withColumn("domain", _domain(F.col("url"))))
    if have_mentions:
        yields = (
            catalog.read_table(spark, warehouse, "mentions")
            .withColumn("domain", _domain(F.col("url")))
            .groupBy("domain").agg(F.count(F.lit(1)).alias("yield"))
        )
        weights = (
            frontier.select("domain").distinct()
            .join(yields, "domain", "left")
            .select("domain",
                    (F.coalesce(F.col("yield"), F.lit(0)) + F.lit(1))
                    .alias("weight"))
        )
    else:
        weights = (frontier.select("domain").distinct()
                   .withColumn("weight", F.lit(1)))
    alloc = apportion_budget(weights, budget, key_col="domain",
                             weight_col="weight")
    # one row per domain: evaluate the apportionment once; the crawl
    # join and the report both use these rows
    alloc_rows = alloc.collect()
    alloc = spark.createDataFrame(alloc_rows, alloc.schema)

    # 2. CRAWL — deterministic per-domain take (id order); a domain's
    # allocation can exceed its frontier supply, so crawled <= budget
    ranked = frontier.withColumn(
        "__rk", F.row_number().over(
            W.partitionBy("domain").orderBy(
                F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))))
    batch = (ranked.join(F.broadcast(alloc), "domain")
             .filter(F.col("__rk") <= F.col("alloc"))
             .drop("__rk", "alloc"))

    # 3. DEDUP GATE — one job collects the distinct matched new urls
    # (O(batch)); the drop count and the filter both come from that list
    n_dupes = 0
    if catalog.latest_snapshot(warehouse, dedup_index.TABLE) is not None:
        dupes = [r["a"] for r in dedup_against_index(
            batch.select("url", "text"), *dedup_index.read(spark, warehouse),
            id_col="url", threshold=threshold,
            **kw).select("a").distinct().collect()]
        n_dupes = len(dupes)
        if dupes:
            batch = batch.filter(~F.col("url").isin(dupes))

    # 4. INGEST (exactly-once; pages snapshot carries the frontier hwm).
    # The pages write evaluates the survivors once; its snapshot counts
    # them, and the batch urls are unique with the dupes a subset, so
    # crawled = ingested + dupes with no counting job.
    lineage = run_pipeline_incremental(
        spark, batch.drop("domain"), warehouse, batch_tag=tag,
        pages_params={"frontier_end": frontier_start + n_frontier})
    n_survivors = lineage["pages"]["added_rows"]

    # 5. INDEX MAINT — same repair loop; this cycle's tag is now a
    # pages batch, so the loop appends its docs to the index
    indexed = recover(spark, warehouse, kw)

    top = {r["domain"]: r["alloc"] for r in sorted(
        alloc_rows, key=lambda r: (-r["alloc"], r["domain"]))[:5]}
    return {
        "cycle_tag": tag,
        "frontier": [frontier_start, frontier_start + n_frontier],
        "budget": budget,
        "crawled": n_survivors + n_dupes,
        "near_dupes_dropped": n_dupes,
        "ingested": n_survivors,
        "top_allocations": top,
        "recovered": recovered,
        "indexed": indexed["repaired_index"],
        "pages_total": lineage["pages"]["row_count"],
        "mentions_total": catalog.latest_snapshot(
            warehouse, "mentions")["row_count"],
        "triples_total": catalog.latest_snapshot(
            warehouse, "triples")["row_count"],
        "resumed": lineage["pages"].get("resumed", False),
        "seconds": round(time.time() - t0, 2),
        "codegen_compiles": codegen_compiles(spark) - c0,
    }


if __name__ == "__main__":
    sys.exit(main())
