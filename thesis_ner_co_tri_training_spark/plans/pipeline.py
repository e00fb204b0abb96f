"""The staged, checkpointed, resumable KG-construction DAG.

Formalizes what the reference does with size-prefixed pickles + config
JSON between steps (co_training.py:143-167, tri_train.py:220-247,
run_ner.py:322-324 — its de-facto checkpoint/restart mechanism):

  stage         table        op
  ------------  -----------  --------------------------------------------
  voted         voted        extract_text (byte-identical) + split +
                             tri-view tagging + C1/C2 agreement vote, in
                             ONE Arrow pass (tag_and_vote_pages_df)
  mentions      mentions     BIO span extraction
  triples       triples      cue-pattern relation extraction
  entities      entities     LSH blocking + Jaccard verify + star CC
  graph         nodes/edges  canonicalized graph materialization

No table holds the split sentences or the three tag views: nothing reads
them back, so they are not worth their writes. A re-vote sweep with other
thresholds builds them with tag_pages_df + vote_mentions.

Each stage writes an Iceberg-style table with a snapshot/lineage record
(params, row count, per-partition metrics). A rerun skips stages whose
table is complete (`_SUCCESS` + snapshot) — kill the job at any stage and
rerun to resume. Skew handling: mention/triple writes are salted-
repartitioned on the Zipf-skewed domain key before the shuffle-heavy
stages (north rule requirement); the salt factor is recorded in lineage.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linking import canonicalize_entities, surface_to_entity
from ..operators.mentions import mentions_table
from ..operators.tagging import tag_and_vote_pages_df
from ..operators.triples import extract_triples
from ..sources import catalog


def salted_repartition(df: DataFrame, key: str, n: int, salt: int = 8,
                       seed: int = 42,
                       salt_cols: list[str] | None = None) -> DataFrame:
    """Explicit skew-spreading repartition on a power-law key.

    Appends a deterministic per-row salt in [0, salt) so one hot domain
    (or entity) spreads across `salt` reducers instead of one. The salt
    hashes row CONTENT (salt_cols, default: all columns), never
    monotonically_increasing_id — that id changes when a task is retried
    or speculated, which would re-salt rows nondeterministically and break
    the resume/lineage reproducibility contract.
    """
    cols = salt_cols if salt_cols is not None else df.columns
    row_hash = F.xxhash64(*[F.col(c) for c in cols], F.lit(seed))
    # pmod: abs(Long.MIN_VALUE) overflows (ANSI throws) on the one-in-2^64
    # row whose hash is the minimum long
    return df.repartition(n, F.col(key), F.pmod(row_hash, F.lit(salt)))


DEFAULT_PARAMS: dict[str, Any] = {
    "cos_threshold": 0.7,
    "tcfd_threshold": 0.7,
    "scfd_threshold": 0.6,
    "jaccard_threshold": 0.6,
    "minhash_hashes": 16,
    "lsh_bands": 4,
    "lsh_rows_per_band": 4,
    "salt": 8,
}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    params: dict[str, Any] | None = None,
    resume: bool = True,
    shuffle_partitions: int | None = None,
) -> dict[str, Any]:
    """Run (or resume) the full DAG. Returns {stage: snapshot} lineage."""
    p = {**DEFAULT_PARAMS, **(params or {})}
    n_shuffle = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    lineage: dict[str, Any] = {}

    def stage(name: str, build, partition_by=None, stage_params=None):
        if resume and catalog.table_complete(warehouse, name):
            snap = catalog.latest_snapshot(warehouse, name)
            # only resume work done under THESE params: silently
            # returning stages built with different thresholds (or a
            # different --pages input, via n_pages when the caller
            # passes it) mislabels stale outputs as this run's
            stored = {k: snap.get("params", {}).get(k) for k in p}
            if stored != p:
                raise ValueError(
                    f"run_pipeline: warehouse {warehouse!r} stage {name} "
                    f"was written with params {stored}, this run wants "
                    f"{p} — use a fresh warehouse or resume=False")
            lineage[name] = snap
            lineage[name]["resumed"] = True
            return catalog.read_table(spark, warehouse, name)
        df = build()
        lineage[name] = catalog.write_table(
            df, warehouse, name, partition_by=partition_by,
            stage_params={**p, **(stage_params or {})},
        )
        return catalog.read_table(spark, warehouse, name)

    with_domain = lambda df: df.withColumn(
        "domain", F.regexp_extract("url", r"https?://([^/]+)/", 1)
    )

    voted = stage(
        "voted",
        lambda: tag_and_vote_pages_df(
            pages.select("url", "html"), p["cos_threshold"],
            p["tcfd_threshold"], p["scfd_threshold"]),
    )
    mentions = stage(
        "mentions",
        lambda: salted_repartition(
            with_domain(mentions_table(voted)), "domain", n_shuffle, p["salt"],
            salt_cols=["url", "sent_id"],
        ).drop("domain"),
    )
    triples = stage(
        "triples",
        lambda: extract_triples(voted),
    )
    entities = stage(
        "entities",
        lambda: canonicalize_entities(
            mentions,
            num_hashes=p["minhash_hashes"],
            bands=p["lsh_bands"],
            rows_per_band=p["lsh_rows_per_band"],
            jaccard_threshold=p["jaccard_threshold"],
        ),
    )

    stage("nodes", lambda: build_nodes_df(mentions, entities))
    stage("edges", lambda: build_edges_df(triples, entities),
          partition_by=["pred"])
    return lineage


def build_nodes_df(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    # entity_type = majority tag over the entity's mentions (ties
    # break lexicographically): one keyed count over the broadcast
    # alias-map join, then the min of (-count, tag) per entity.
    tag_counts = (
        surface_to_entity(mentions, entities)
        .groupBy("entity_id", "tag")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    etype = tag_counts.groupBy("entity_id").agg(
        F.min(F.struct((-F.col("c")).alias("neg_c"), "tag"))["tag"]
        .alias("entity_type")
    )
    return entities.join(etype, "entity_id", "left").select(
        "entity_id", "canonical", "entity_type", "n_mentions"
    )


def build_edges_df(triples: DataFrame, entities: DataFrame) -> DataFrame:
    # Each surface is in exactly one entity's aliases, so the left join
    # keeps one row per triple; an unlinked subj/obj gets NULL ids.
    for side in ("subj", "obj"):
        triples = surface_to_entity(
            triples.withColumnRenamed(side, "surface"), entities
        ).withColumnsRenamed({"surface": side, "entity_id": f"{side}_id",
                              "canonical": f"{side}_canonical"})
    return triples.select(
        "subj_id", "subj_canonical", "pred", "obj_id", "obj_canonical",
        "url", "sent_id", "confidence",
    )


def pages_frontier(warehouse: str) -> int:
    """Synthetic-corpus generation frontier of an incremental warehouse:
    the first page id NOT yet drawn, across BOTH batch families that
    append pages — run_pipeline --append-pages ('pages-<start>-<end>'
    tags, end = row_count high-water mark) and run_crawl_cycle
    ('cycle-*' tags whose params carry frontier_end, which can run
    AHEAD of row_count because dedup-gated candidates consume frontier
    ids without landing in the table). Scans live snapshots plus the
    expired-snapshot ledger (maintenance must not reset the frontier).
    Both jobs derive their next batch start from this single number; a
    family-blind scan (the old per-job logic) regenerated ids the other
    job had already drawn and silently double-appended those pages."""
    end = 0
    for s in (catalog.batch_ledger(warehouse, "pages")
              + catalog.snapshots(warehouse, "pages")):
        p = s.get("params", {})
        if "frontier_end" in p:
            end = max(end, int(p["frontier_end"]))
        tag = str(p.get("batch_tag", ""))
        if tag.startswith("pages-"):
            try:
                end = max(end, int(tag.rsplit("-", 1)[1]))
            except ValueError:
                pass
    return end


def run_pipeline_incremental(
    spark: SparkSession,
    new_pages: DataFrame | None,
    warehouse: str,
    batch_tag: str,
    params: dict[str, Any] | None = None,
    shuffle_partitions: int | None = None,
    pages_params: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Process ONE new crawl batch through the DAG incrementally.

    The Iceberg-incremental twin of run_pipeline, for the 10^12-document
    north-rule table where "the crawl" arrives as appends:

    - `pages` and every doc-local stage (voted, mentions, triples)
      APPEND a new snapshot computed from the batch
      only — O(batch) work, never rescanning the already-processed
      corpus. Each appended snapshot records `pages_snapshot` (the
      pages snapshot it derives from) in its lineage params.
    - The global stages (entities, nodes, edges) are recomputed over
      the FULL appended mentions/triples as OVERWRITE snapshots:
      cross-document canonicalization is a corpus-global fixpoint (a
      new alias can merge two old entities), so per-batch work is
      O(total mentions) — the mentions table is orders of magnitude
      smaller than the pages it came from, which is what makes this
      the right split at scale. Older snapshots stay time-travelable.

    Exactly-once per batch, crash-resumable at stage granularity:
    `batch_tag` identifies the batch; if the pages table's latest
    snapshot already carries it, the pages append is skipped, and any
    doc-local stage whose latest snapshot already derives from this
    batch's pages snapshot is skipped too. A stage that crashed before
    publishing recovers its input delta from the upstream table via
    `read_incremental` — reruns of a completed batch are all-resumed
    no-ops (tests/test_incremental.py).

    Batch-vs-full parity: one full run over pages P and any batch
    partition of P replayed through this function produce identical
    row SETS in mentions/triples/nodes/edges — every stage is either
    doc-local or a deterministic function of the full accumulated
    table (pinned row-exactly in tests/test_incremental.py). Don't mix
    the two modes on one warehouse unless the page sets are disjoint.
    """
    p = {**DEFAULT_PARAMS, **(params or {})}
    n_shuffle = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    lineage: dict[str, Any] = {}

    # a batch_tag consumed by ANY earlier snapshot resumes that snapshot
    # (replaying an old batch must never append its pages twice)
    pages_snap = None
    for snap in catalog.snapshots(warehouse, "pages"):
        if snap.get("params", {}).get("batch_tag") == batch_tag:
            pages_snap = snap
            pages_snap["resumed"] = True
            break
    if pages_snap is None:
        if batch_tag in {e["params"].get("batch_tag")
                         for e in catalog.batch_ledger(warehouse, "pages")}:
            raise ValueError(
                f"batch_tag {batch_tag!r} was appended and its pages "
                "snapshot later expired (recorded in batch-ledger.json); "
                "the batch is already in the table — re-appending would "
                "double it and the expired delta cannot be replayed")
        if new_pages is None:
            raise ValueError(
                f"batch_tag {batch_tag!r} not found in the pages history "
                "and no new_pages given; pass new_pages=None only to "
                "resume an already-appended batch")
        prev_pages = catalog.latest_snapshot(warehouse, "pages")
        if prev_pages is None:
            # full-mode run_pipeline writes stage tables but no `pages`
            # table; bootstrapping a batch on top of those would append
            # batch deltas onto full-run rows (duplicates)
            if catalog.latest_snapshot(warehouse, "voted") is not None:
                raise ValueError(
                    "incremental bootstrap on a warehouse that already has "
                    "stage tables but no batch-tagged pages history (it was "
                    "written by full-mode run_pipeline); full-mode and "
                    "incremental-mode warehouses don't mix — start a fresh "
                    "warehouse for --append-pages")
        elif (not prev_pages.get("params", {}).get("batch_tag")
                and prev_pages.get("operation") not in ("compact",)):
            raise ValueError(
                "incremental append onto a pages table whose history was "
                "not written by run_pipeline_incremental (latest snapshot "
                f"op={prev_pages.get('operation')!r} has no batch_tag); "
                "full-mode and incremental-mode warehouses don't mix — "
                "start a fresh warehouse for --append-pages")
        pages_snap = catalog.write_table(
            new_pages, warehouse, "pages",
            # pages_params: caller metadata riding the batch snapshot
            # (e.g. run_crawl_cycle's crawl-frontier high-water mark) —
            # batch_tag always wins
            stage_params={**(pages_params or {}), "batch_tag": batch_tag},
            mode="append" if prev_pages is not None else "overwrite",
        )
    batch_id = pages_snap["snapshot_id"]
    lineage["pages"] = pages_snap

    # Batch succession is tracked by the pages table's BATCH lineage —
    # the snapshots carrying a batch_tag plus the expired-snapshot ledger
    # — never by snapshot-id arithmetic: compaction snapshots interleave
    # with batch appends and bump ids without adding pages.
    batch_hist = sorted(
        {s["snapshot_id"] for s in catalog.snapshots(warehouse, "pages")
         if s.get("params", {}).get("batch_tag")}
        | {e["snapshot_id"] for e in catalog.batch_ledger(warehouse, "pages")
           if e.get("params", {}).get("batch_tag")}
    )
    older = [i for i in batch_hist if i < batch_id]
    prev_batch_id = older[-1] if older else None

    def delta_of(name: str, snap: dict[str, Any]) -> DataFrame:
        """The rows a snapshot added (the batch's contribution)."""
        parent = snap.get("parent_snapshot_id")
        if parent is None:
            return catalog.read_table(spark, warehouse, name,
                                      snapshot_id=snap["snapshot_id"])
        try:
            return catalog.read_incremental(
                spark, warehouse, name,
                from_snapshot=parent, to_snapshot=snap["snapshot_id"])
        except ValueError:
            # The parent's manifest can be gone (table_maint expire-keep
            # ran between the append and its processing); the batch is
            # still recoverable from the snapshot's OWN manifest — an
            # append adds exactly one dir, data_paths[-1]. Without this
            # fallback the batch is permanently bricked: resume can't
            # derive the delta and re-append is (rightly) refused by tag.
            from ..sources.catalog import _data_dir, _read_paths
            own = snap.get("data_paths", [])
            if not own:
                raise
            return _read_paths(
                spark,
                [os.path.join(_data_dir(warehouse, name), own[-1])],
                schema_json=snap.get("schema"))

    def _stage_batches(name: str) -> set[int]:
        """pages snapshot ids this stage already processed — scanned over
        the FULL history plus the expired-snapshot ledger. A later
        compaction snapshot on the stage table must not hide a processed
        batch, or a rerun would append its delta twice."""
        ids = {s.get("params", {}).get("pages_snapshot")
               for s in catalog.snapshots(warehouse, name)}
        ids |= {e.get("params", {}).get("pages_snapshot")
                for e in catalog.batch_ledger(warehouse, name)}
        ids.discard(None)
        return ids

    def append_stage(name: str, build_delta, partition_by=None) -> DataFrame:
        """Append this batch's delta (exactly-once per batch); returns
        the DELTA rows for the next stage, never the full table."""
        done = None
        for s in catalog.snapshots(warehouse, name):
            if s.get("params", {}).get("pages_snapshot") == batch_id:
                done = s
                break
        if done is not None:
            done["resumed"] = True
            lineage[name] = done
        else:
            seen = _stage_batches(name)
            if batch_id in seen:
                raise ValueError(
                    f"{name}: batch (pages snapshot {batch_id}) was "
                    "processed and its stage snapshot later expired; the "
                    "rows are already in the table and the delta cannot "
                    "be re-derived — nothing to resume")
            got = max(seen) if seen else None
            # got None must ALSO match prev None: an EMPTY stage table
            # while an earlier pages batch exists means that batch was
            # appended but never processed here (crash between the pages
            # append and this stage) — silently starting a later batch
            # would drop the earlier batch's rows from every downstream
            # table with no error, ever.
            if got != prev_batch_id:
                raise ValueError(
                    f"{name}: last processed pages snapshot is {got}, this "
                    f"batch follows {prev_batch_id}; batches must be "
                    "sequential (resume the missing batch by its tag first)")
            last = catalog.latest_snapshot(warehouse, name)
            snap = catalog.write_table(
                build_delta(), warehouse, name, partition_by=partition_by,
                stage_params={**p, "pages_snapshot": batch_id,
                              "batch_tag": batch_tag},
                mode="append" if last is not None else "overwrite",
            )
            lineage[name] = snap
        return delta_of(name, lineage[name])

    def global_stage(name: str, build, partition_by=None) -> DataFrame:
        """Recompute over the full accumulated inputs; overwrite."""
        last = catalog.latest_snapshot(warehouse, name)
        if last and last.get("params", {}).get("pages_snapshot") == batch_id:
            last["resumed"] = True
            lineage[name] = last
        else:
            lineage[name] = catalog.write_table(
                build(), warehouse, name, partition_by=partition_by,
                stage_params={**p, "pages_snapshot": batch_id},
                mode="overwrite", operation="replace",
            )
        return catalog.read_table(spark, warehouse, name)

    pages_delta = delta_of("pages", pages_snap)
    with_domain = lambda df: df.withColumn(
        "domain", F.regexp_extract("url", r"https?://([^/]+)/", 1)
    )

    voted_d = append_stage(
        "voted",
        lambda: tag_and_vote_pages_df(
            pages_delta.select("url", "html"), p["cos_threshold"],
            p["tcfd_threshold"], p["scfd_threshold"]),
    )
    append_stage(
        "mentions",
        lambda: salted_repartition(
            with_domain(mentions_table(voted_d)), "domain", n_shuffle,
            p["salt"], salt_cols=["url", "sent_id"],
        ).drop("domain"),
    )
    append_stage(
        "triples",
        lambda: extract_triples(voted_d),
    )

    mentions_full = catalog.read_table(spark, warehouse, "mentions")
    triples_full = catalog.read_table(spark, warehouse, "triples")
    entities = global_stage(
        "entities",
        lambda: canonicalize_entities(
            mentions_full,
            num_hashes=p["minhash_hashes"],
            bands=p["lsh_bands"],
            rows_per_band=p["lsh_rows_per_band"],
            jaccard_threshold=p["jaccard_threshold"],
        ),
    )
    global_stage("nodes", lambda: build_nodes_df(mentions_full, entities))
    global_stage("edges", lambda: build_edges_df(triples_full, entities),
                 partition_by=["pred"])
    return lineage
