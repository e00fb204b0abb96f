"""Append latency vs index size for the persisted dedup index.

    python jobs/bench_dedup_append.py [--init 1000] [--batch 200]
        [--batches 12] [--maintain-every 5] [--cpus 8]

The r3 verdict (item 5) asks: does batch 50 append as fast as batch 2?
The design claim is O(batch): each --append hashes only the batch and
runs one band join against the persisted index, so per-batch seconds
should stay near-flat while the index grows linearly — modulo the
band-join probe side scanning a growing index table, which compaction
(--maintain-every) keeps cheap by folding the per-batch snap dirs into
few files.

Prints one JSON line per append {batch_i, index_docs_before, seconds}
plus a summary with the first/last-quartile mean ratio and the
compaction points. Uses the real jobs/run_dedup.py functions in one
session (no per-batch JVM spin-up polluting the curve); the audit
(O(corpus) by design) is excluded from per-append timing and run once
at the end.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--init", type=int, default=1000)
    ap.add_argument("--batch", type=int, default=200)
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--maintain-every", type=int, default=5,
                    help="run do_maintain after every K appends "
                         "(0 = never)")
    ap.add_argument("--warehouse", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from jobs.run_dedup import audit, do_append, do_init, do_maintain
    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.sources.catalog import (
        latest_snapshot)

    spark = get_spark("bench_dedup_append", cpus=args.cpus)
    wh = args.warehouse or tempfile.mkdtemp(prefix="dedup_bench_")

    do_init(spark, wh, args.init)
    rows = []
    maint_points = []
    for i in range(args.batches):
        idx_before = latest_snapshot(wh, "dedup_index")["row_count"]
        t0 = time.time()
        out = do_append(spark, wh, args.batch)
        sec = round(time.time() - t0, 3)
        rows.append({"batch_i": i + 1,
                     "index_docs_before": idx_before,
                     "batch_tag": out["batch_tag"],
                     "seconds": sec})
        print(json.dumps(rows[-1]), file=sys.stderr)
        if args.maintain_every and (i + 1) % args.maintain_every == 0:
            t0 = time.time()
            do_maintain(spark, wh, target_files=args.cpus or 4)
            maint_points.append({"after_batch": i + 1,
                                 "seconds": round(time.time() - t0, 3)})

    secs = [r["seconds"] for r in rows]
    q = max(len(secs) // 4, 1)
    first_q, last_q = statistics.mean(secs[:q]), statistics.mean(secs[-q:])
    final = audit(spark, wh)
    print(json.dumps({
        "metric": "dedup_append_latency_vs_index_size",
        "init_docs": args.init,
        "batch_docs": args.batch,
        "batches": args.batches,
        "maintain_every": args.maintain_every,
        "loadavg": round(os.getloadavg()[0], 2),
        "appends": rows,
        "maintenance": maint_points,
        "first_quartile_mean_sec": round(first_q, 3),
        "last_quartile_mean_sec": round(last_q, 3),
        "late_over_early": round(last_q / first_q, 3),
        "final_index_rows": final["index_rows"],
        "final_index_parity": final["index_parity"],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
