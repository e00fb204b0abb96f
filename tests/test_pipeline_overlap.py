"""The pipeline's overlapped stages: `triples` runs beside
`mentions -> entities`, and `nodes` beside `edges`, one branch on a
worker thread. A failing branch must surface its error only after the
other branch is done, leave no Spark job or thread running, and let a
rerun resume the stages that finished."""

import threading

import pytest

from thesis_ner_co_tri_training_spark.plans import pipeline
from thesis_ner_co_tri_training_spark.plans.pipeline import (
    build_nodes_df, finish_last_batch, run_pipeline, run_pipeline_incremental)
from thesis_ner_co_tri_training_spark.sources import catalog
from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

N_PAGES = 30
STAGES = ["voted", "mentions", "triples", "entities", "nodes", "edges"]


def _rows(spark, wh):
    return {t: sorted(map(tuple, catalog.read_table(spark, wh, t).collect()))
            for t in STAGES}


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """A full run under a job group: (warehouse, lineage, job ids
    launched with no job group while it ran, job ids in its group)."""
    sc = spark.sparkContext
    wh = str(tmp_path_factory.mktemp("overlap_ref"))
    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("kg-overlap-caller", "caller's group")
    try:
        lineage = run_pipeline(spark, pages, wh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stray = set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    grouped = sc.statusTracker().getJobIdsForGroup("kg-overlap-caller")
    return wh, lineage, stray, grouped


def test_lineage_in_dag_order(reference):
    _, lineage, _, _ = reference
    assert list(lineage) == STAGES


def test_overlapped_jobs_carry_callers_job_group(reference):
    """Jobs of the worker-thread branches (triples, nodes) inherit the
    caller's job group: no job of the run ran without one."""
    _, _, stray, grouped = reference
    assert stray == set()
    assert grouped


def test_branch_error_waits_then_rerun_resumes(spark, reference, tmp_path,
                                               monkeypatch):
    """extract_triples fails on the worker branch: run_pipeline raises
    that error once the other branch (mentions -> entities) has
    finished, with no Spark job still active and no worker thread
    alive. A rerun resumes the finished stages and reproduces the
    reference rows."""
    ref_wh = reference[0]
    wh = str(tmp_path / "wh")
    pages = gen_pages_df(spark, N_PAGES, partitions=4)

    def boom(voted):
        raise RuntimeError("extract_triples failed")

    monkeypatch.setattr(pipeline, "extract_triples", boom)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="extract_triples failed"):
        run_pipeline(spark, pages, wh)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert [t for t in threading.enumerate()
            if t not in before and t.is_alive()] == []
    for t in ("voted", "mentions", "entities"):
        assert catalog.table_complete(wh, t), t
    for t in ("triples", "nodes", "edges"):
        assert not catalog.table_complete(wh, t), t

    monkeypatch.undo()
    lineage = run_pipeline(spark, pages, wh)
    assert [s for s in STAGES if lineage[s].get("resumed")] == [
        "voted", "mentions", "entities"]
    assert _rows(spark, wh) == _rows(spark, ref_wh)


def test_batch_with_failed_nodes_is_recovered(spark, reference, tmp_path,
                                             monkeypatch):
    """nodes fails on the worker branch of a batch while edges, beside
    it, publishes: the batch still counts as unfinished, so
    finish_last_batch resumes it by tag and builds nodes, and the
    warehouse matches the full run."""
    ref_wh = reference[0]
    wh = str(tmp_path / "wh")
    pages = gen_pages_df(spark, N_PAGES, partitions=4)

    def boom(mentions, entities):
        raise RuntimeError("build_nodes_df failed")

    monkeypatch.setattr(pipeline, "build_nodes_df", boom)
    with pytest.raises(RuntimeError, match="build_nodes_df failed"):
        run_pipeline_incremental(spark, pages, wh, batch_tag="b1")
    assert catalog.table_complete(wh, "edges")
    assert catalog.history(wh, "nodes") == []

    monkeypatch.undo()
    assert finish_last_batch(spark, wh) == "b1"
    assert catalog.table_complete(wh, "nodes")
    assert finish_last_batch(spark, wh) is None
    assert _rows(spark, wh) == _rows(spark, ref_wh)


def test_nodes_type_tie_goes_to_smaller_tag(spark):
    """entity_type is the most frequent mention tag; equal counts go to
    the lexicographically smaller tag."""
    entities = spark.createDataFrame(
        [(1, "Acme", ["Acme", "ACME"], 5), (2, "Zeta", ["Zeta"], 3)],
        "entity_id long, canonical string, aliases array<string>, "
        "n_mentions long")
    mentions = spark.createDataFrame(
        [("Acme", "PER"), ("ACME", "LOC"), ("Acme", "LOC"), ("ACME", "PER"),
         ("Acme", "ORG"),
         ("Zeta", "PER"), ("Zeta", "ORG"), ("Zeta", "PER")],
        "surface string, tag string")
    got = {r["entity_id"]: r["entity_type"]
           for r in build_nodes_df(mentions, entities).collect()}
    assert got == {1: "LOC", 2: "PER"}
