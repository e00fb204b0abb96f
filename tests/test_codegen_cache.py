"""A warm rerun compiles no class.

The pipeline reruns the same plans in one session (benchmark ops,
append batches, crawl cycles, stream micro-batches). session.get_spark
sizes Spark's generated-code cache to hold that working set and names
whole-stage classes without their stage id, so a rerun finds every class
it needs in the cache. With Spark's defaults (100 entries, ids in class
names) a warm full run recompiled most of its classes and each append
batch recompiled more than the one before.
"""

from __future__ import annotations

from thesis_ner_co_tri_training_spark.plans.pipeline import (
    run_pipeline, run_pipeline_incremental)
from thesis_ner_co_tri_training_spark.session import codegen_compiles
from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

N_PAGES = 40
N_BATCH = 10
N_BATCHES = 5


def _compiles(spark, run) -> int:
    c0 = codegen_compiles(spark)
    run()
    return codegen_compiles(spark) - c0


def test_warm_full_run_compiles_nothing(spark, tmp_path):
    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    counts = [_compiles(spark, lambda wh=str(tmp_path / f"wh{i}"):
                        run_pipeline(spark, pages, wh))
              for i in range(2)]
    assert counts[1] == 0, counts


def test_warm_append_batch_compiles_nothing(spark, tmp_path):
    wh = str(tmp_path / "inc")
    counts = []
    for b in range(N_BATCHES):
        start = b * N_BATCH
        batch = gen_pages_df(spark, N_BATCH, partitions=4, start=start)
        counts.append(_compiles(spark, lambda: run_pipeline_incremental(
            spark, batch, wh, batch_tag=f"pages-{start}-{start + N_BATCH}")))
    # from the 4th batch on, every plan a batch runs has been seen; no
    # per-batch value (the page-id offset included) is in generated code
    assert counts[3:] == [0] * (N_BATCHES - 3), counts


def test_new_apportion_total_compiles_nothing(spark):
    # a crawl cycle apportions its budget over weights whose total grows
    # every cycle; the total must not be a literal in generated code
    from thesis_ner_co_tri_training_spark.operators.selection import (
        apportion_budget)

    def apportion(extra):
        weights = spark.createDataFrame(
            [(f"d{i}", i + 1 + (extra if i == 0 else 0)) for i in range(50)],
            "key string, weight long")
        return lambda: apportion_budget(weights, 200).collect()

    _compiles(spark, apportion(0))
    assert _compiles(spark, apportion(1)) == 0


def test_warm_minhash_queries_compile_nothing(spark, tmp_path):
    # q19 bands the aggregate signature, q67 the per-row one against an
    # in-query index: neither the `sig` metadata nor the band helper may
    # put a per-run value into generated code
    import __spark_entry__ as entry

    words = [f"w{i}" for i in range(40)]
    docs = [(i, " ".join(words[i % 7:i % 7 + 20])) for i in range(30)]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet"))
    for name in ("q19_minhash_pairs", "q67_dedup_incremental"):
        q = entry.queries()[name]
        run = lambda: q(spark, str(tmp_path)).collect()
        _compiles(spark, run)
        assert _compiles(spark, run) == 0, name
