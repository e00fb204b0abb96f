"""spark-submit entry: persisted-MinHash-index dedup lifecycle.

    python jobs/package.py
    spark-submit --py-files dist/engine.zip jobs/run_dedup.py \
        --warehouse /tmp/kg_dedup --init 400 --cpus 8
    spark-submit ... jobs/run_dedup.py --warehouse /tmp/kg_dedup --append 200
    spark-submit ... jobs/run_dedup.py --warehouse /tmp/kg_dedup --maintain

--init N: seed the corpus with N synthetic pages and build the
persisted index, the one catalog table `dedup_index` (plans/dedup_index
owns its format and is its one writer): one row per doc, (url, text,
distinct shingle set, array of band buckets). The index parameters
(hasher/n/num_hashes/bands) are recorded in the snapshot lineage: they
are the index schema contract, and --append reads them back rather
than trusting its own defaults.

--append N: ingest the next crawl batch — N new pages plus a recrawl
tail (mirror-host copies of N//5 existing pages: different url,
identical text, the classic case incremental dedup must catch). The
batch is matched against the CURRENT index snapshot with
dedup_against_index (O(batch) hashing + two broadcast joins — never a
corpus self-join, signature recompute or re-tokenization), matches land
in `dedup_matches` (append snapshot tagged by the batch), and the
batch's own rows are appended to the index as one snapshot so the NEXT
batch sees this one as history. Exactly-once per batch: a rerun whose
batch tag is already in both tables reports `"resumed": true` and
writes nothing.

--maintain: the index grows monotonically, one snap dir (many small
files) per batch; this is the scheduled small-files job — compact both
dedup tables to --target-files files and expire all but the newest
--keep-last snapshots. Batch tags of expired snapshots move to the
catalog's batch-ledger, so the exactly-once/repair bookkeeping is
unaffected; index parity is re-audited after compaction, and the next
--append continues where the last one stopped (params are read from
the newest snapshot that carries them, not blindly from the latest).

Crash recovery: matches are written FIRST, so a crash mid-append can
only leave the index missing a tag that matches already has. Every
--append run starts with a repair pass — each batch tag recorded in
`dedup_matches` but absent from the index is regenerated (batches are
pure functions of their recorded start/size) and appended, one
snapshot per tag. Only then does the new batch run, so the index a
batch is matched against never silently misses history.

Every run asserts index parity: the accumulated index's exploded
buckets, built per batch by the per-row minhash_docs, must equal the
aggregate minhash_bands over its `text` column row-for-row — append
maintenance and full rebuild are interchangeable (cheap at smoke
scale; at corpus scale this is an audit job, not a per-batch gate).
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

INDEX_PARAMS = dedup_index.INDEX_PARAMS

DEDUP_TABLES = (dedup_index.TABLE, "dedup_matches")


def _docs_from_pages(pages):
    return pages.select("url", "text")


def _mirror(pages, tag: str):
    from pyspark.sql import functions as F

    return pages.select(
        F.regexp_replace("url", "^https://",
                         f"https://{tag}.mirror.").alias("url"),
        "text",
    )


def index_kw(wh: str) -> dict:
    kw = dedup_index.index_params(wh)
    if kw is None:
        raise ValueError(
            f"{wh}: no dedup-index parameters found in any dedup_index "
            f"snapshot or the batch ledger — not an initialized dedup "
            f"warehouse (run --init first), or its params-bearing "
            f"snapshot was expired by a pre-ledger release. Appending "
            f"with fresh defaults would silently stop banding "
            f"collisions, so this is fatal by design.")
    return kw


def do_init(spark, wh: str, n: int) -> dict:
    from thesis_ner_co_tri_training_spark.sources.catalog import (
        latest_snapshot)
    from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

    docs = _docs_from_pages(gen_pages_df(spark, n))
    # batch_tag "init" makes the seed snapshot ledger-eligible: if
    # --maintain expires it before any --append, the index params +
    # next_start must survive in batch-ledger.json for do_append
    dedup_index.append_batch(
        wh, docs, {**INDEX_PARAMS, "next_start": n, "batch_tag": "init"},
        dedup_index.tags(wh))
    return {
        "op": "init",
        "docs": n,
        "index_docs": latest_snapshot(wh, dedup_index.TABLE)["row_count"],
    }


def do_append(spark, wh: str, n: int, threshold: float = 0.8) -> dict:
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        dedup_against_index)
    from thesis_ner_co_tri_training_spark.sources import catalog
    from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

    kw = index_kw(wh)

    def _regen_batch(b_start, n_fresh, tag):
        fresh = _docs_from_pages(
            gen_pages_df(spark, n_fresh, start=b_start))
        recrawl = _mirror(
            _docs_from_pages(gen_pages_df(spark, max(n_fresh // 5, 1))),
            tag)
        return fresh.unionByName(recrawl).localCheckpoint(eager=True)

    # repair pass: any batch recorded in matches but missing from the
    # index is replayed (batches regenerate exactly from their recorded
    # start/size). Tags come from the index's `history`, read once:
    # live snapshots + the expired-snapshot ledger, so expiry
    # (--maintain / table_maint --expire-keep) never makes a batch look
    # un-appended and repair/resume never double-appends.
    have = dedup_index.tags(wh)
    repaired = []
    match_recs = [s.get("params", {})
                  for s in catalog.history(wh, "dedup_matches")]
    for p in match_recs:
        tag = p.get("batch_tag")
        if tag and tag not in have:
            dedup_index.append_batch(
                wh, _regen_batch(p["start"], p["n_fresh"], tag), p, have)
            repaired.append(tag)

    if repaired:
        # The repair completed a crashed batch (matches were written,
        # the index was not). STOP here as the resumed run:
        # the index snapshot's params advanced next_start, so falling
        # through would ingest an additional fresh batch — an operator
        # retrying one failed `--append N` would double the intended
        # page count. Exactly-once contract: complete, then stop; the
        # next invocation appends the next batch.
        batch_tag = max((p["batch_tag"] for p in match_recs
                         if p.get("batch_tag")),
                        key=lambda t: int(t.rsplit("-", 1)[1]))
    else:
        # newest params carrying next_start: compaction snapshots carry
        # none, and expired batches live on in the ledger
        start = next(s["params"]["next_start"]
                     for s in reversed(catalog.history(wh, dedup_index.TABLE))
                     if "next_start" in s.get("params", {}))
        batch_tag = f"batch-{start}"
    if repaired or batch_tag in catalog.batch_tags(wh, "dedup_matches"):
        return {
            "op": "append", "batch_tag": batch_tag, "resumed": True,
            "repaired": repaired,
            "matches_total":
                catalog.latest_snapshot(wh, "dedup_matches")["row_count"],
        }
    batch = _regen_batch(start, n, batch_tag)
    matches = dedup_against_index(
        batch, *dedup_index.read(spark, wh), id_col="url",
        threshold=threshold, **kw)
    params = {"batch_tag": batch_tag, "start": start,
              "n_fresh": n, **kw,
              "next_start": start + n}
    # matches FIRST: the repair pass's order invariant
    m_rows = catalog.write_table(matches, wh, "dedup_matches",
                                 stage_params=params, mode="append",
                                 operation="append")["added_rows"]
    dedup_index.append_batch(wh, batch, params, have)
    return {
        "op": "append", "batch_tag": batch_tag, "resumed": False,
        "repaired": repaired,
        "batch_docs": batch.count(), "batch_matches": m_rows,
        "matches_total":
            catalog.latest_snapshot(wh, "dedup_matches")["row_count"],
    }


def do_maintain(spark, wh: str, target_files: int = 4,
                keep_last: int = 1) -> dict:
    """Compact every dedup table and expire old snapshots. Batch tags
    of expired snapshots move to the batch ledger (exactly-once and
    repair bookkeeping survive); row parity per table is asserted by
    compact_table before its snapshot publishes."""
    from thesis_ner_co_tri_training_spark.sources.catalog import (
        compact_table, expire_snapshots, latest_snapshot)

    out = {"op": "maintain", "tables": {}}
    for t in DEDUP_TABLES:
        before = latest_snapshot(wh, t)
        if before is None:
            continue
        snap = compact_table(spark, wh, t, target_files=target_files)
        exp = expire_snapshots(wh, t, keep_last=keep_last)
        out["tables"][t] = {
            "rows": snap["row_count"],
            "files_before": before.get("total_data_files"),
            "files_after": snap["total_data_files"],
            "snap_dirs_before": len(before.get("data_paths", [])),
            "snap_dirs_after": len(snap.get("data_paths", [])),
            "expired": exp["expired_snapshots"],
            "ledgered_batches": exp["ledgered_batches"],
        }
    return out


def audit(spark, wh: str) -> dict:
    """Index parity: the accumulated index's (url, band, bucket) rows
    (per-row builder, one append per batch) equal the aggregate
    minhash_bands rebuild over its own `text` column, row-for-row."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        minhash_bands)
    from thesis_ner_co_tri_training_spark.sources.catalog import read_table

    kw = index_kw(wh)
    all_docs = read_table(spark, wh, dedup_index.TABLE).select("url", "text")
    rebuilt = minhash_bands(all_docs, id_col="url", **kw)
    idx_now = dedup_index.read(spark, wh)[0]
    return {
        "index_rows": idx_now.count(),
        "index_parity": (idx_now.exceptAll(rebuilt).isEmpty()
                         and rebuilt.exceptAll(idx_now).isEmpty()),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--init", type=int, default=0)
    ap.add_argument("--append", type=int, default=0)
    ap.add_argument("--maintain", action="store_true")
    ap.add_argument("--target-files", type=int, default=4)
    ap.add_argument("--keep-last", type=int, default=1)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    if sum([bool(args.init), bool(args.append), args.maintain]) != 1:
        ap.error("exactly one of --init N / --append N / --maintain required")

    from thesis_ner_co_tri_training_spark.session import get_spark
    from thesis_ner_co_tri_training_spark.sources.catalog import (
        latest_snapshot)

    spark = get_spark("kg_dedup", cpus=args.cpus)
    wh = args.warehouse
    t0 = time.time()

    if args.init:
        out = do_init(spark, wh, args.init)
    elif latest_snapshot(wh, dedup_index.TABLE) is None:
        print(json.dumps({"error": "run --init first"}))
        return 1
    elif args.append:
        out = do_append(spark, wh, args.append, threshold=args.threshold)
    else:
        out = do_maintain(spark, wh, target_files=args.target_files,
                          keep_last=args.keep_last)

    # audit: appended/compacted index == full rebuild over the docs
    out.update(audit(spark, wh))
    out["seconds"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
