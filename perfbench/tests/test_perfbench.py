"""Unit tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/tests -q

data/eventlog_v2_local-1 is an event log recorded from a Spark 4.1
local[2] session, with each event cut to the fields the parser reads:
an untagged job, then job group ``span-1`` (two jobs; one stage runs two
mapInPandas operators on two tasks) and ``span-2`` (two jobs, with a
shuffle).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, run, spans  # noqa: E402
from perfbench.workloads import QUERY_ENTRIES  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _stats():
    return eventlog.group_stats(eventlog.read_events(DATA))


def test_jobs_map_to_their_groups():
    stats = _stats()
    assert set(stats) == {None, "span-1", "span-2"}
    assert [stats[g].jobs for g in (None, "span-1", "span-2")] == [1, 2, 2]
    assert [stats[g].tasks for g in (None, "span-1", "span-2")] == [1, 3, 3]


def test_task_metrics_are_summed_per_group():
    s1, s2 = _stats()["span-1"], _stats()["span-2"]
    assert s1.run_ms == 2144 + 2145 + 61
    assert s2.run_ms == 115 + 112 + 44
    assert s2.gc_ms == 21
    assert s1.shuffle_write_bytes == 118
    assert s2.shuffle_write_bytes == 266
    assert s1.spill_bytes == s2.spill_bytes == 0


def test_python_runner_metrics_sum_every_operator():
    py = _stats()["span-1"].python
    # both mapInPandas operators of the stage report on each task
    assert py[eventlog.PY_SENT] == 24968
    assert py[eventlog.PY_RETURNED] == 92944
    assert py[eventlog.PY_INIT] == 2956
    assert py[eventlog.PY_RUN] == 5273
    assert not any(_stats()["span-2"].python.values())


def test_skew_is_max_over_median_of_the_heaviest_stage():
    assert _stats()["span-2"].skew() == 115 / median_of(115, 112)
    assert eventlog.GroupStats().skew() == 1.0


def median_of(*xs):
    xs = sorted(xs)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def test_rollup_includes_nested_groups_only():
    stats = {
        "op1/seg0": eventlog.GroupStats(jobs=2, run_ms=10),
        "op1/seg0/linking.x": eventlog.GroupStats(jobs=3, run_ms=5),
        "op1/seg01": eventlog.GroupStats(jobs=7, run_ms=70),
        None: eventlog.GroupStats(jobs=1),
    }
    got = eventlog.rollup(stats, "op1/seg0")
    assert (got.jobs, got.run_ms) == (5, 15)


def test_rolled_files_are_read_in_index_order(tmp_path):
    log = tmp_path / "eventlog_v2_app"
    log.mkdir()
    for n in (10, 2):
        (log / f"events_{n}_app").write_text(json.dumps({"n": n}) + "\n")
    (log / "appstatus_app").write_text("")
    assert [e["n"] for e in eventlog.read_events(str(tmp_path))] == [2, 10]
    single = tmp_path / "one.json"
    shutil.copy(log / "events_2_app", single)
    assert [e["n"] for e in eventlog.read_events(str(single))] == [2]


class FakeContext:
    """Records the job group that a Spark job would run under."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def _fake_engine(sc, jobs):
    """Stand-ins for plans.pipeline, sources.catalog, operators.linking
    that record the job group each simulated Spark job runs under."""
    catalog = types.ModuleType("catalog")
    linking = types.ModuleType("linking")
    pipeline = types.ModuleType("pipeline")

    def write_table(df, warehouse, table, **kw):
        jobs.append(sc.group)
        catalog.latest_snapshot(warehouse, table)  # nested: not a span
        return {"added_data_files": 2}

    catalog.write_table = write_table
    catalog.latest_snapshot = lambda warehouse, table: None
    catalog.table_complete = lambda warehouse, table: False
    catalog.snapshots = catalog.batch_ledger = lambda warehouse, table: []
    catalog.read_table = lambda spark, warehouse, table: jobs.append(sc.group)
    catalog.read_incremental = catalog.read_table
    linking.connected_components = lambda edges: jobs.append(sc.group)

    def canonicalize_entities(mentions):
        linking.connected_components(None)
        return "entities"

    linking.canonicalize_entities = canonicalize_entities

    def run_pipeline(spark, pages, warehouse):
        for t in ("sentences", "entities"):
            catalog.table_complete(warehouse, t)
            if t == "entities":
                pipeline.canonicalize_entities(None)
            catalog.write_table(None, warehouse, t)
            catalog.read_table(spark, warehouse, t)
        return {}

    pipeline.run_pipeline = run_pipeline
    pipeline.canonicalize_entities = canonicalize_entities
    return pipeline, catalog, linking


def test_tracer_segments_stages_and_tags_jobs():
    sc, jobs = FakeContext(), []
    pipeline, catalog, linking = _fake_engine(sc, jobs)
    originals = (pipeline.run_pipeline, catalog.write_table,
                 linking.connected_components)
    tracer = spans.Tracer(sc)
    tracer.install(pipeline, catalog, linking)
    assert pipeline.run_pipeline.__name__ == "run_pipeline"
    op = tracer.open("op1")
    pipeline.run_pipeline(None, None, "wh")
    tracer.close(op)
    tracer.uninstall()
    assert (pipeline.run_pipeline, catalog.write_table,
            linking.connected_components) == originals
    assert sc.group is None
    assert jobs == [
        "op1/run_pipeline/seg0/catalog.write_table",
        "op1/run_pipeline/seg1/catalog.read_table",
        "op1/run_pipeline/seg1/linking.canonicalize_entities/"
        "linking.connected_components",
        "op1/run_pipeline/seg1/catalog.write_table",
        "op1/run_pipeline/seg2/catalog.read_table",
    ]
    stages = [s.attrs["stage"] for s in tracer.spans if s.kind == "segment"]
    assert stages == ["sentences", "entities", "other"]
    stats = {"op1/run_pipeline/seg1/linking.canonicalize_entities":
             eventlog.GroupStats(jobs=4, run_ms=3000)}
    m = spans.op_metrics(tracer, stats, op, QUERY_ENTRIES)
    assert m["catalog.sentences.files"] == m["catalog.entities.files"] == 2
    assert m["catalog.meta_calls"] == 2  # the nested call is not counted
    assert m["spark.entities.jobs"] == m["linking.jobs"] == 4
    assert m["spark.entities.task_s"] == 3.0
    assert 0 < m["pipeline.attributed_frac"] <= 1


def test_rss_sampler_skips_children_that_have_not_run_exec():
    me = os.getpid()
    forked = os.fork()
    if forked == 0:  # a child that shares this process's executable
        try:
            time.sleep(30)
        finally:
            os._exit(0)
    spawned = subprocess.Popen(["sleep", "30"])  # returns after exec
    try:
        assert (forked, me) in run.process_tree()
        assert run.unexeced_spawn(forked, me)
        assert not run.unexeced_spawn(spawned.pid, me)
        # only the JVM and the harness itself are known to spawn this way
        assert not run.unexeced_spawn(forked, spawned.pid)
    finally:
        os.kill(forked, 9)
        os.waitpid(forked, 0)
        spawned.kill()
        spawned.wait()


def test_benchmark_json_names_every_metric_the_run_reports():
    from perfbench.run import END_TO_END_UNITS, unit_of

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == END_TO_END_UNITS
    layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    names = spans.per_layer_names(QUERY_ENTRIES)
    assert layer == [(n, unit_of(n)) for n in names]
    assert [w["name"] for w in bench["workloads"]] == ["kg_full", "query_mix"]
