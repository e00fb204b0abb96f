"""Incremental-pipeline soak: append latency vs warehouse age, with
maintenance interleaved, plus end-state full-vs-incremental parity.

    python jobs/bench_pipeline_append.py [--batch 200] [--batches 16]
        [--maintain-every 5] [--cpus 8]

The KG twin of jobs/bench_dedup_append.py (VERDICT r4 item 4): the
dedup index proved flat appends; this job asks the same question of the
whole pipeline. Design claim: doc-local stages (voted/mentions/
triples) are O(batch) appends, so per-batch seconds should
stay near-flat as the warehouse accumulates; the global stages
(entities/nodes/edges) recompute over the accumulated mentions, so a
slow linear creep from that component is expected and measured
separately would be noise at this scale — the summary ratio uses whole
batches, the honest number a nightly operator sees. Maintenance
(compact + expire, keep_last=2) runs every K batches on every table,
timed separately, and must never break the next append (the batch
ledger preserves expired batch tags).

Per batch, prints one JSON line {batch_i, seconds, wh_bytes,
ledger_len, total_pages}; at the end, a summary with the late/early
mean ratio (last vs first quartile), the maintenance points, and the
full-vs-incremental row-set parity verdict (a from-scratch run_pipeline
over the same total page count into a fresh warehouse must produce
row-identical final tables — exceptAll in both directions over every
materialized stage). Appends a section to BENCH/EXPERIMENTS.md unless
--no-record.

One Spark session for the whole soak (per-batch JVM spin-up would
drown the curve); run in a calm window, never concurrently with other
Spark jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FINAL_TABLES = ("voted", "mentions", "triples", "entities", "nodes",
                "edges")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", type=int, default=200)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--maintain-every", type=int, default=5,
                    help="compact+expire every K appends (0 = never)")
    ap.add_argument("--warehouse", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--no-record", action="store_true",
                    help="don't append to BENCH/EXPERIMENTS.md")
    args = ap.parse_args()

    from thesis_ner_co_tri_training_spark.plans.pipeline import (
        run_pipeline, run_pipeline_incremental)
    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

    spark = get_spark("bench_pipeline_append", cpus=args.cpus)
    wh = args.warehouse or tempfile.mkdtemp(prefix="kg_soak_")

    records, maint_points = [], []
    start = 0
    for i in range(args.batches):
        batch = gen_pages_df(spark, args.batch, start=start)
        tag = f"pages-{start}-{start + args.batch}"
        t0 = time.time()
        lineage = run_pipeline_incremental(spark, batch, wh, batch_tag=tag)
        dt = time.time() - t0
        start += args.batch
        ledger_len = sum(
            len(catalog.batch_ledger(wh, t)) for t in ("pages",) + FINAL_TABLES)
        rec = {
            "batch_i": i,
            "seconds": round(dt, 2),
            "wh_bytes": _dir_bytes(wh),
            "ledger_len": ledger_len,
            "total_pages": lineage["pages"]["row_count"],
            "snapshots_pages": lineage["pages"]["snapshot_id"] + 1,
        }
        records.append(rec)
        print(json.dumps(rec), flush=True)
        if args.maintain_every and (i + 1) % args.maintain_every == 0:
            t0 = time.time()
            for t in ("pages",) + FINAL_TABLES:
                if catalog.latest_snapshot(wh, t) is not None:
                    catalog.compact_table(spark, wh, t, target_files=2)
                    catalog.expire_snapshots(wh, t, keep_last=2)
            mdt = time.time() - t0
            maint_points.append({
                "after_batch": i, "seconds": round(mdt, 2),
                "wh_bytes_after": _dir_bytes(wh)})
            print(json.dumps({"maintenance": maint_points[-1]}), flush=True)

    # late/early: mean of the last vs first quartile of per-batch seconds.
    # Batch 0 is excluded from the EARLY mean: it pays the session's
    # one-time stage warmup (observed ~2.5x its steady-state batch), and
    # counting it would flatter the ratio — the claim under test is
    # "batch 15 appends as fast as batch 1", not "as fast as spin-up".
    secs = [r["seconds"] for r in records]
    steady = secs[1:] if len(secs) > 2 else secs
    q = max(1, len(steady) // 4)
    early, late = statistics.mean(steady[:q]), statistics.mean(steady[-q:])

    # full-vs-incremental parity over the same total page count
    full_wh = tempfile.mkdtemp(prefix="kg_soak_full_")
    total = args.batch * args.batches
    run_pipeline(spark, gen_pages_df(spark, total), full_wh)
    parity = {}
    for t in FINAL_TABLES:
        a = catalog.read_table(spark, wh, t)
        b = catalog.read_table(spark, full_wh, t)
        parity[t] = (a.count() == b.count()
                     and a.exceptAll(b).isEmpty()
                     and b.exceptAll(a).isEmpty())

    summary = {
        "metric": "kg_pipeline_append_soak",
        "batch_pages": args.batch,
        "batches": args.batches,
        "total_pages": total,
        "maintain_every": args.maintain_every,
        "early_mean_sec": round(early, 2),
        "late_mean_sec": round(late, 2),
        "late_over_early": round(late / early, 3),
        "wh_bytes_first": records[0]["wh_bytes"],
        "wh_bytes_last": records[-1]["wh_bytes"],
        "ledger_len_last": records[-1]["ledger_len"],
        "maintenance": maint_points,
        "parity": parity,
        "parity_all": all(parity.values()),
        "per_batch_seconds": secs,
        "cpus": args.cpus,
    }
    print(json.dumps(summary), flush=True)

    if not args.no_record:
        md = os.path.join(REPO, "BENCH", "EXPERIMENTS.md")
        lines = [
            "",
            "## Incremental-pipeline append soak "
            f"({args.batches}x{args.batch} pages, maintenance every "
            f"{args.maintain_every})",
            "",
            f"Late/early per-batch append-time ratio: "
            f"**{summary['late_over_early']}** "
            f"(first-quartile mean {summary['early_mean_sec']}s, "
            f"last-quartile mean {summary['late_mean_sec']}s) while the "
            f"warehouse grew {records[0]['wh_bytes']:,} -> "
            f"{records[-1]['wh_bytes']:,} bytes over {total} pages; "
            f"full-vs-incremental row-set parity on every table: "
            f"**{summary['parity_all']}**.",
            "",
            "| batch | seconds | wh bytes | ledger |",
            "|---|---|---|---|",
        ]
        for r in records:
            lines.append(f"| {r['batch_i']} | {r['seconds']} | "
                         f"{r['wh_bytes']:,} | {r['ledger_len']} |")
        lines += ["", "```json", json.dumps(summary), "```", ""]
        with open(md, "a") as fh:
            fh.write("\n".join(lines))

    spark.stop()
    return 0 if summary["parity_all"] else 1


if __name__ == "__main__":
    sys.exit(main())
