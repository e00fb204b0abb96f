"""Checkpoint/resume + lineage contract of the staged pipeline.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Mirrors the reference's pickle-based restart mechanism
(co_training.py:143-167, run_ner.py:322-324) formalized as Iceberg-style
tables + snapshot JSON. The kill-and-rerun test is SURVEY.md §5 (c).
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from thesis_ner_co_tri_training_spark.plans.pipeline import (
    build_edges_df, build_nodes_df, run_pipeline)
from thesis_ner_co_tri_training_spark.sources import catalog
from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

N_PAGES = 30
STAGES = ["voted", "mentions", "triples", "entities", "nodes", "edges"]


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("kg_wh"))
    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    lineage = run_pipeline(spark, pages, wh)
    return wh, lineage


def _rows(spark, wh, table):
    return sorted(map(tuple, catalog.read_table(spark, wh, table).collect()))


def test_all_stages_materialized_with_lineage(spark, warehouse):
    wh, lineage = warehouse
    for s in STAGES:
        assert catalog.table_complete(wh, s), s
        snap = lineage[s]
        assert snap["row_count"] >= 0
        # per-partition metrics must exist and reconcile with the total
        assert sum(p["rows"] for p in snap["partitions"]) == snap["row_count"]
        assert "params" in snap and "schema" in snap


def test_kill_and_resume_reproduces_identical_outputs(spark, warehouse):
    wh, _ = warehouse
    before = {s: _rows(spark, wh, s) for s in ("triples", "entities", "edges")}

    # simulate a crash mid-'triples': wipe it and everything downstream
    for s in ("triples", "entities", "nodes", "edges"):
        shutil.rmtree(os.path.join(wh, s))

    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    lineage2 = run_pipeline(spark, pages, wh)

    # upstream stages were NOT recomputed
    for s in ("voted", "mentions"):
        assert lineage2[s].get("resumed"), s
    # recomputed stages were, and snapshot ids restart at 0 for fresh dirs
    for s in ("triples", "entities", "nodes", "edges"):
        assert not lineage2[s].get("resumed"), s

    after = {s: _rows(spark, wh, s) for s in ("triples", "entities", "edges")}
    assert before == after


def test_rerun_with_resume_skips_everything(spark, warehouse):
    wh, _ = warehouse
    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    lineage = run_pipeline(spark, pages, wh)
    assert all(lineage[s].get("resumed") for s in STAGES)


def test_no_resume_overwrites_and_bumps_snapshot_id(spark, warehouse):
    wh, _ = warehouse
    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    lineage = run_pipeline(spark, pages, wh, resume=False)
    assert all(not lineage[s].get("resumed") for s in STAGES)
    assert lineage["voted"]["snapshot_id"] >= 1  # history retained


def test_graph_materialization_hand_built(spark):
    """nodes: majority mention tag per entity, a tie broken by the
    lexicographically smaller tag, NULL for an entity without mentions.
    edges: one row per triple; a subj/obj outside every alias list keeps
    its row with NULL id and canonical."""
    entities = spark.createDataFrame(
        [(1, "Acme", ["ACME", "Acme"], 4), (2, "Berlin", ["Berlin"], 3),
         (3, "Orphan", ["Orphan"], 0)],
        "entity_id long, canonical string, aliases array<string>, "
        "n_mentions long")
    mentions = spark.createDataFrame(
        [("Acme", "PER"), ("ACME", "ORG"), ("Acme", "ORG"), ("ACME", "PER"),
         ("Berlin", "LOC"), ("Berlin", "ORG"), ("Berlin", "LOC"),
         ("Nobody", "PER")],
        "surface string, tag string")
    triples = spark.createDataFrame(
        [("ACME", "based_in", "Berlin", "u1", 0, 0.9),
         ("Acme", "met", "Nobody", "u2", 1, 0.5),
         ("Ghost", "based_in", "Berlin", "u3", 2, 0.7)],
        "subj string, pred string, obj string, url string, sent_id long, "
        "confidence double")

    nodes = {r["entity_id"]: tuple(r) for r in
             build_nodes_df(mentions, entities).collect()}
    assert nodes == {1: (1, "Acme", "ORG", 4), 2: (2, "Berlin", "LOC", 3),
                     3: (3, "Orphan", None, 0)}

    edges = build_edges_df(triples, entities)
    assert edges.columns == ["subj_id", "subj_canonical", "pred", "obj_id",
                             "obj_canonical", "url", "sent_id", "confidence"]
    assert sorted(map(tuple, edges.collect()), key=lambda r: r[5]) == [
        (1, "Acme", "based_in", 2, "Berlin", "u1", 0, 0.9),
        (1, "Acme", "met", None, None, "u2", 1, 0.5),
        (None, None, "based_in", 2, "Berlin", "u3", 2, 0.7),
    ]


def test_edges_partition_pruning(spark, warehouse):
    """edges is written partitioned by pred; a pred filter must prune to
    that partition directory (PartitionFilters in the scan, one pred dir
    on disk touched) — the read pattern a 100TB graph table relies on."""
    import re

    wh, _ = warehouse
    snap = catalog.latest_snapshot(wh, "edges")
    snap_dir = os.path.join(wh, "edges", "data", snap["data_paths"][0])
    pred_dirs = [d for d in os.listdir(snap_dir) if d.startswith("pred=")]
    assert len(pred_dirs) > 1, "fixture produced a single predicate"
    one_pred = pred_dirs[0].split("=", 1)[1]
    df = catalog.read_table(spark, wh, "edges").filter(f"pred = '{one_pred}'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pred" in m.group(1), plan[:2000]
    # and the rows really are only that partition's
    assert {r["pred"] for r in df.select("pred").distinct().collect()} == {one_pred}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the same key into the same bucket count
    must join with ZERO Exchange in the physical plan (the shuffle was
    paid once at write time) and return the same rows as the plain
    shuffled join. This is the co-located-join contract write_bucketed
    exists for."""
    from thesis_ner_co_tri_training_spark.sources.catalog import (
        write_bucketed)

    # warehouse.dir is a static conf; place the tables via a database
    # with an explicit LOCATION instead
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bjoin_db LOCATION '{tmp_path / 'wh'}'")
    a = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 5000, 3).select(
        F.col("id").alias("k"), (F.col("id") + 7).alias("vb"))
    try:
        snap_a = write_bucketed(a, "bjoin_db.bjoin_a", bucket_by="k",
                                buckets=8, sort_by="k")
        snap_b = write_bucketed(b, "bjoin_db.bjoin_b", bucket_by="k",
                                buckets=8, sort_by="k")
        assert snap_a["row_count"] == 5000 and snap_b["buckets"] == 8
        ta = spark.table("bjoin_db.bjoin_a")
        tb = spark.table("bjoin_db.bjoin_b")
        # below the broadcast threshold Spark would broadcast and hide
        # the point; force the merge-join path to show bucketing works
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ta.join(tb, "k").select("k", "va", "vb")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        rows = {(r["k"], r["va"], r["vb"]) for r in joined.collect()}
        assert rows == {(k, 2 * k, k + 7) for k in range(0, 5000, 3)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP DATABASE IF EXISTS bjoin_db CASCADE")
