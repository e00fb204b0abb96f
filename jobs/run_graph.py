"""spark-submit entry: graph analytics over the materialized KG warehouse.

Usage (after jobs/run_pipeline.py has built <warehouse>/nodes + edges):

    spark-submit --py-files dist/engine.zip jobs/run_graph.py \
        --warehouse /tmp/kg_wh [--khop 2] [--pagerank-iters 10] [--cpus 8]

Runs over the edges table: per-entity degree stats, PageRank (dangling-
aware; the integer-scaled pagerank_fixedpoint, written as a double
rank = fixed / scale), a bounded k-hop neighborhood from the highest-out-degree entity
(ties broken lexicographically, same scalar rule as q35), directed
strongly connected components (mutual-reference clusters), and k-core
decomposition (coreness — densely inter-linked entity tiers, the
standard KG pruning signal). Writes the five result tables back into
the warehouse under graph_* (same catalog layout + lineage snapshots
as the pipeline stages) and prints a one-line JSON summary.

This is the "graph is queryable, not just materialized" surface: every
analytic runs as keyed joins/aggregations over the edge table the
pipeline wrote — the only driver-side values are bounded scalars
(hub id, per-round convergence counts).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--khop", type=int, default=2)
    ap.add_argument("--pagerank-iters", type=int, default=10)
    ap.add_argument("--scc-max-rounds", type=int, default=100,
                    help="SCC peeling-round cap (condensation depth)")
    ap.add_argument("--scc-max-inner", type=int, default=256,
                    help="SCC coloring/sweep iteration cap (~diameter)")
    ap.add_argument("--kcore-max-rounds", type=int, default=100,
                    help="k-core h-index fixpoint round cap "
                         "(~degeneracy-ordering depth)")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from thesis_ner_co_tri_training_spark.plans.graph import (
        degree_stats, k_hop, kcore, pagerank_fixedpoint,
        strongly_connected_components)
    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.sources import catalog

    spark = get_spark("kg_graph", cpus=args.cpus,
                      shuffle_partitions=args.shuffle_partitions)
    edges = catalog.read_table(spark, args.warehouse, "edges")
    e = edges.select("subj_id", "obj_id").localCheckpoint(eager=True)

    t0 = time.time()
    deg = degree_stats(e).localCheckpoint(eager=True)
    catalog.write_table(deg, args.warehouse, "graph_degrees",
                        stage_params={"source": "edges"})

    # localCheckpoint: pagerank_fixedpoint only cuts lineage every
    # checkpoint_every rounds, so without a cut here the top-3 summary
    # collect below would re-execute the un-checkpointed tail of the
    # iterative DAG after write_table already computed it (same pattern
    # as deg above).
    scale = 10**12
    pr = pagerank_fixedpoint(e, iterations=args.pagerank_iters, scale=scale)
    pr = pr.select("node", (F.col("rank") / scale).alias("rank")
                   ).localCheckpoint(eager=True)
    catalog.write_table(pr, args.warehouse, "graph_pagerank",
                        stage_params={"iterations": args.pagerank_iters})

    # Hub by OUT-degree: the k-hop frontier follows edge direction, so a
    # total-degree hub can be a pure sink (reachable set = itself).
    # Collected once (tiny: limit 1) — reused for k_hop AND the summary,
    # and guards the empty-edges warehouse instead of crashing after the
    # first two graph_* tables were already written.
    hub_rows = (
        deg.orderBy(F.col("out_deg").desc(), "node").limit(1)
        .select(F.col("node")).collect()
    )
    hub_id = hub_rows[0]["node"] if hub_rows else None
    hub = spark.createDataFrame(
        [(hub_id,)] if hub_rows else [], deg.select("node").schema)
    kh = k_hop(e, hub, k=args.khop)
    catalog.write_table(kh, args.warehouse, "graph_khop",
                        stage_params={"k": args.khop})

    # Directed SCC: mutual-reference clusters (circular citations, link
    # rings). On a subj->obj triple graph most components are singletons;
    # the non-trivial ones are the interesting anomaly signal.
    scc = strongly_connected_components(
        e, max_rounds=args.scc_max_rounds, max_inner=args.scc_max_inner
    ).localCheckpoint(eager=True)
    catalog.write_table(scc, args.warehouse, "graph_scc",
                        stage_params={"source": "edges"})
    scc_sizes = scc.groupBy("scc_id").count()
    scc_stats = scc_sizes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("count") > 1).cast("long")).alias("nontrivial"),
        F.max("count").alias("largest"),
    ).collect()[0]

    # k-core coreness over the undirected simple projection: the dense
    # tiers worth keeping when pruning a noisy crawl-derived KG.
    kc = kcore(e, max_rounds=args.kcore_max_rounds).localCheckpoint(
        eager=True)
    catalog.write_table(kc, args.warehouse, "graph_kcore",
                        stage_params={"source": "edges"})
    kc_stats = kc.agg(
        F.max("core").alias("max_core"),
        F.sum((F.col("core") >= 2).cast("long")).alias("core2_nodes"),
    ).collect()[0]

    elapsed = time.time() - t0
    top = pr.orderBy(F.col("rank").desc(), "node").limit(3).collect()
    print(json.dumps({
        "edges": e.count(),
        "nodes": deg.count(),
        "seconds": round(elapsed, 2),
        "hub": hub_id,
        "khop_reachable": kh.count(),
        "k": args.khop,
        "scc_components": scc_stats["n"],
        "scc_nontrivial": int(scc_stats["nontrivial"] or 0),
        "scc_largest": int(scc_stats["largest"] or 0),
        "kcore_max": int(kc_stats["max_core"] or 0),
        "kcore_2plus_nodes": int(kc_stats["core2_nodes"] or 0),
        "top_pagerank": [[r["node"], round(r["rank"], 6)] for r in top],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
