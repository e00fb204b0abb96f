"""The staged, checkpointed, resumable KG-construction DAG.

Formalizes what the reference does with size-prefixed pickles + config
JSON between steps (co_training.py:143-167, tri_train.py:220-247,
run_ner.py:322-324 — its de-facto checkpoint/restart mechanism):

  stage         table        kind       op
  ------------  -----------  ---------  ---------------------------------
  voted         voted        doc-local  extract_text (byte-identical) +
                                        split + tri-view tagging + C1/C2
                                        agreement vote, in ONE Arrow pass
                                        (tag_and_vote_pages_df)
  mentions      mentions     doc-local  BIO span extraction
  triples       triples      doc-local  cue-pattern relation extraction
  entities      entities     global     LSH blocking + Jaccard verify +
                                        star CC
  graph         nodes/edges  global     canonicalized graph materialization

No table holds the split sentences or the three tag views: nothing reads
them back, so they are not worth their writes. A re-vote sweep with other
thresholds builds them with tag_pages_df + vote_mentions.

Each stage writes an Iceberg-style table with a snapshot/lineage record
(params, row count, per-partition metrics). One stage runner serves two
entry points:

- `run_pipeline`, the full run: every stage overwrites, and a rerun
  resumes each stage whose table is complete (`_SUCCESS` + snapshot)
  and was built under the same params — kill the job at any stage and
  rerun to resume.
- `run_pipeline_incremental`, one crawl batch (run_pipeline.py
  --append-pages, a crawl cycle, or a micro-batch of run_stream.py
  --what kg): the batch lands in a `pages` table, doc-local stages
  append its delta, global stages recompute over the accumulated
  tables, and a stage resumes when its history holds a live snapshot
  of this batch.

Overlap: after `voted`, the DAG has two pairs of independent stages —
`triples` beside `mentions -> entities`, then `nodes` beside `edges`
(both read `entities`; `edges` also `triples`). Each pair runs at the
same time, one branch on a worker thread. At this scale a stage's time
is mostly fixed per-job and per-stage cost that leaves cores idle, so
the second branch's jobs fill them. The worker inherits the caller's
Spark local properties (job group), both branches finish before either
one's error is raised, and the returned lineage stays in DAG order.

Skew handling: mention/triple writes are salted-repartitioned on the
Zipf-skewed domain key before the shuffle-heavy stages (north rule
requirement); the salt factor is recorded in lineage.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
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
    "salt": 8,
}

# The lineage's key order: overlapped stages finish in either order.
_DAG_ORDER = ("pages", "voted", "mentions", "triples", "entities", "nodes",
              "edges")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    params: dict[str, Any] | None = None,
    resume: bool = True,
    shuffle_partitions: int | None = None,
) -> dict[str, Any]:
    """Run (or resume) the full DAG. Returns {stage: snapshot} lineage."""
    return _run(spark, pages, warehouse, params, shuffle_partitions,
                resume=resume)


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
      the FULL appended mentions/triples as OVERWRITE snapshots
      (operation "replace"): cross-document canonicalization is a
      corpus-global fixpoint (a new alias can merge two old entities),
      so per-batch work is O(total mentions) — the mentions table is
      orders of magnitude smaller than the pages it came from, which is
      what makes this the right split at scale. Older snapshots stay
      time-travelable.

    Exactly-once per batch, crash-resumable at stage granularity:
    `batch_tag` identifies the batch; if the pages history already
    carries it, the pages append is skipped, and every stage whose
    history holds a live snapshot of this batch's pages snapshot is
    resumed — under the same params only, as in run_pipeline. A stage
    that crashed before publishing rebuilds from the rows its upstream
    snapshot added (`catalog.read_added`, which needs no parent
    manifest) — reruns of a completed batch are all-resumed no-ops
    (tests/test_incremental.py). `finish_last_batch` is the crash
    recovery the jobs run before a new batch.

    Batch-vs-full parity: one full run over pages P and any batch
    partition of P replayed through this function produce identical
    row SETS in mentions/triples/nodes/edges — every stage is either
    doc-local or a deterministic function of the full accumulated
    table (pinned row-exactly in tests/test_incremental.py). Don't mix
    the two modes on one warehouse unless the page sets are disjoint.
    """
    return _run(spark, new_pages, warehouse, params, shuffle_partitions,
                batch_tag=batch_tag, pages_params=pages_params)


def _run(spark: SparkSession, pages: DataFrame | None, warehouse: str,
         params: dict[str, Any] | None, shuffle_partitions: int | None,
         resume: bool = True, batch_tag: str | None = None,
         pages_params: dict[str, Any] | None = None) -> dict[str, Any]:
    """The one stage runner. Without a batch_tag it is the full run: no
    pages copy is written and every stage overwrites. With one, the
    batch is appended to (or found in) the `pages` table first and
    `pages` becomes the rows it added."""
    p = {**DEFAULT_PARAMS, **(params or {})}
    n_shuffle = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    lineage: dict[str, Any] = {}
    batch = prev_batch = None
    if batch_tag is not None:
        lineage["pages"], prev_batch = _pages_batch(
            warehouse, pages, batch_tag, pages_params)
        batch = lineage["pages"]["snapshot_id"]
        pages = catalog.read_added(spark, warehouse, "pages",
                                   lineage["pages"])

    def stage(name: str, build, doc_local: bool = False,
              partition_by: list[str] | None = None) -> DataFrame:
        # the full run needs only the latest snapshot; a batch needs the
        # table's whole history (which batches it has already seen)
        if batch is None:
            hist = []
            done = (catalog.latest_snapshot(warehouse, name) if resume
                    and catalog.table_complete(warehouse, name) else None)
        else:
            hist = catalog.history(warehouse, name)
            done = next((s for s in hist if not s.get("expired") and
                         s.get("params", {}).get("pages_snapshot") == batch),
                        None)
        if done is not None:
            # only resume work done under THESE params: silently
            # returning stages built with different thresholds (or a
            # different --pages input, via n_pages when the caller
            # passes it) mislabels stale outputs as this run's
            stored = {k: done.get("params", {}).get(k) for k in p}
            if stored != p:
                raise ValueError(
                    f"warehouse {warehouse!r} stage {name} was written "
                    f"with params {stored}, this run wants {p} — use a "
                    "fresh warehouse"
                    + (" or resume=False" if batch is None else ""))
            done["resumed"] = True
        else:
            append = batch is not None and doc_local
            extra = {} if batch is None else {"pages_snapshot": batch}
            if append:
                seen = {s.get("params", {}).get("pages_snapshot")
                        for s in hist} - {None}
                if batch in seen:
                    raise ValueError(
                        f"{name}: batch (pages snapshot {batch}) was "
                        "processed and its stage snapshot later expired; "
                        "the rows are already in the table and the delta "
                        "cannot be re-derived — nothing to resume")
                # max(seen) None must ALSO match prev_batch None: an EMPTY
                # stage table while an earlier pages batch exists means
                # that batch was appended but never processed here (crash
                # between the pages append and this stage) — silently
                # starting a later batch would drop the earlier batch's
                # rows from every downstream table with no error, ever.
                got = max(seen, default=None)
                if got != prev_batch:
                    raise ValueError(
                        f"{name}: last processed pages snapshot is {got}, "
                        f"this batch follows {prev_batch}; batches must be "
                        "sequential (resume the missing batch by its tag "
                        "first)")
                extra["batch_tag"] = batch_tag
            done = catalog.write_table(
                build(), warehouse, name, partition_by=partition_by,
                stage_params={**p, **extra},
                mode="append" if append and hist else "overwrite",
                operation="replace" if batch is not None and not append
                else None,
            )
        lineage[name] = done
        # a doc-local stage hands the next one only this batch's rows
        if batch is not None and doc_local:
            return catalog.read_added(spark, warehouse, name, done)
        return catalog.read_table(spark, warehouse, name)

    with_domain = lambda df: df.withColumn(
        "domain", F.regexp_extract("url", r"https?://([^/]+)/", 1)
    )

    voted = stage(
        "voted",
        lambda: tag_and_vote_pages_df(
            pages.select("url", "html"), p["cos_threshold"],
            p["tcfd_threshold"], p["scfd_threshold"]),
        doc_local=True,
    )

    def link():
        mentions = stage(
            "mentions",
            lambda: salted_repartition(
                with_domain(mentions_table(voted)), "domain", n_shuffle,
                p["salt"], salt_cols=["url", "sent_id"],
            ).drop("domain"),
            doc_local=True,
        )
        if batch is not None:
            # the global stages read the accumulated table, not the delta
            mentions = catalog.read_table(spark, warehouse, "mentions")
        entities = stage(
            "entities",
            lambda: canonicalize_entities(
                mentions,
                num_hashes=p["minhash_hashes"],
                bands=p["lsh_bands"],
                jaccard_threshold=p["jaccard_threshold"],
            ),
        )
        return mentions, entities

    def relate():
        triples = stage("triples", lambda: extract_triples(voted),
                        doc_local=True)
        if batch is not None:
            triples = catalog.read_table(spark, warehouse, "triples")
        return triples

    triples, (mentions, entities) = _overlap(spark, relate, link)
    _overlap(
        spark,
        lambda: stage("nodes", lambda: build_nodes_df(mentions, entities)),
        lambda: stage("edges", lambda: build_edges_df(triples, entities),
                      partition_by=["pred"]),
    )
    return {name: lineage[name] for name in _DAG_ORDER if name in lineage}


def _overlap(spark: SparkSession, side, main):
    """Run side() on one worker thread while main() runs here; return
    (side's result, main's result). Both branches finish before either
    one's exception is raised (main's first): leaving the pool waits for
    the worker, so no Spark job of a failed run outlives the call. The
    worker's target is wrapped by inheritable_thread_target: it inherits
    this thread's Spark local properties and job tags, so its jobs carry
    the caller's job group."""
    with ThreadPoolExecutor(1, thread_name_prefix="kg-stage-overlap") as pool:
        pending = pool.submit(inheritable_thread_target(spark)(side))
        got = main()
    return pending.result(), got


def _pages_batch(warehouse: str, new_pages: DataFrame | None,
                 batch_tag: str, pages_params: dict[str, Any] | None
                 ) -> tuple[dict[str, Any], int | None]:
    """Append the batch to the `pages` table, or find it there when the
    tag was appended before (replaying a batch must never append its
    pages twice). Returns the batch's pages snapshot and the snapshot id
    of the batch before it (None for the first).

    Batch succession is tracked by the pages table's batch history —
    the batch-tagged snapshots, live or expired — never by snapshot-id
    arithmetic: compaction snapshots interleave with batch appends and
    bump ids without adding pages."""
    hist = catalog.history(warehouse, "pages")
    snap = next((s for s in hist
                 if s.get("params", {}).get("batch_tag") == batch_tag), None)
    if snap is not None and snap.get("expired"):
        raise ValueError(
            f"batch_tag {batch_tag!r} was appended and its pages "
            "snapshot later expired (recorded in batch-ledger.json); "
            "the batch is already in the table — re-appending would "
            "double it and the expired delta cannot be replayed")
    if snap is not None:
        snap["resumed"] = True
    else:
        if new_pages is None:
            raise ValueError(
                f"batch_tag {batch_tag!r} not found in the pages history "
                "and no new_pages given; pass new_pages=None only to "
                "resume an already-appended batch")
        prev = hist[-1] if hist else None
        if prev is None:
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
        elif (not prev.get("params", {}).get("batch_tag")
                and prev.get("operation") != "compact"):
            raise ValueError(
                "incremental append onto a pages table whose history was "
                "not written by run_pipeline_incremental (latest snapshot "
                f"op={prev.get('operation')!r} has no batch_tag); "
                "full-mode and incremental-mode warehouses don't mix — "
                "start a fresh warehouse for --append-pages")
        snap = catalog.write_table(
            new_pages, warehouse, "pages",
            # pages_params: caller metadata riding the batch snapshot
            # (e.g. run_crawl_cycle's crawl-frontier high-water mark) —
            # batch_tag always wins
            stage_params={**(pages_params or {}), "batch_tag": batch_tag},
            mode="append" if prev is not None else "overwrite",
        )
    older = [s["snapshot_id"] for s in hist
             if s.get("params", {}).get("batch_tag")
             and s["snapshot_id"] < snap["snapshot_id"]]
    return snap, (older[-1] if older else None)


def finish_last_batch(spark: SparkSession, warehouse: str) -> str | None:
    """Crash recovery before a new batch: if the newest batch-tagged
    pages snapshot (live or expired — compaction snapshots carry no tag
    and add no pages) never reached both final stages, `nodes` and
    `edges`, resume it by tag (its pages are already in the warehouse)
    and return the tag; else return None. Both are checked because they
    run side by side, so either can publish while the other fails.
    Reading their histories, not their snapshots alone, keeps an
    expire-keep on them from making a finished batch look unfinished."""
    last = next((s for s in reversed(catalog.history(warehouse, "pages"))
                 if s.get("params", {}).get("batch_tag")), None)
    if last is None:
        return None
    if all(last["snapshot_id"] in {s.get("params", {}).get("pages_snapshot")
                                   for s in catalog.history(warehouse, t)}
           for t in ("nodes", "edges")):
        return None
    tag = last["params"]["batch_tag"]
    run_pipeline_incremental(spark, None, warehouse, batch_tag=tag)
    return tag


def build_nodes_df(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    # entity_type = majority tag over the entity's mentions, a tie going
    # to the smaller tag: one broadcast join to the alias map (which
    # carries every node column), then one mode per entity. Each entity
    # also adds one tag-less row (mode skips NULLs), so an entity
    # without mentions keeps its node with a NULL type.
    cols = ["entity_id", "canonical", "n_mentions"]
    tagged = (surface_to_entity(mentions, entities)
              .filter(F.col("entity_id").isNotNull()).select(*cols, "tag"))
    untagged = entities.select(*cols, F.lit(None).cast("string").alias("tag"))
    return (
        tagged.unionByName(untagged)
        .groupBy(*cols)
        .agg(F.mode("tag", deterministic=True).alias("entity_type"))
        .select("entity_id", "canonical", "entity_type", "n_mentions")
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
    the first page id NOT yet drawn by any batch that appends pages.
    Its floor is the pages row count, so a batch never redraws ids 0..
    over pages a stream or any other tag family appended. Above it,
    run_pipeline --append-pages ('pages-<start>-<end>' tags) and
    run_crawl_cycle (params carry frontier_end) can run AHEAD of the
    row count: a batch can start past it, and dedup-gated candidates
    consume frontier ids without landing in the table. Scans the pages
    `history`, expired snapshots included (maintenance must not reset
    the frontier). Every job that draws pages starts its next batch
    here; a per-job scan regenerated ids another job had already drawn
    and silently double-appended those pages."""
    end = 0
    for s in catalog.history(warehouse, "pages"):
        p = s.get("params", {})
        end = max(end, s.get("row_count") or 0,
                  int(p.get("frontier_end", 0)))
        tag = str(p.get("batch_tag", ""))
        if tag.startswith("pages-"):
            try:
                end = max(end, int(tag.rsplit("-", 1)[1]))
            except ValueError:
                pass
    return end
