"""The benchmark's workloads: set-up, one op, and the check of its output.

Each workload is a closed loop with one caller: the next op starts when
the previous one has returned. Inputs are made from the seed during
set-up and written as Parquet; the engine only reads finished files.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
import sys
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from . import querydata
from .spans import Tracer

KG_PAGES = 500
# Pages are written as this many files so the scan splits like
# gen_pages_df's output does (one task per file).
KG_PAGE_FILES = 8
# run_pipeline tables checked against the warm-up op's fingerprints
KG_CHECKED = ["mentions", "triples", "entities", "nodes", "edges"]

QUERY_ENTRIES = [
    "q01_pricing_summary", "q04_topn_per_pool", "q19_minhash_pairs",
    "q24_supplier_rank", "q30_components", "q81_stratified_sample",
]


def fingerprints(spark, tables: dict[str, Any]) -> dict[str, tuple]:
    """Order-insensitive fingerprint of each DataFrame, in one Spark job:
    (sorted column types, rows, sums of the high and low halves of each
    row's xxhash64)."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    aggs, schemas = [], {}
    for name, df in tables.items():
        df = df.select(*sorted(df.columns))
        schemas[name] = df.schema.simpleString()
        h = F.xxhash64(*df.columns)
        aggs.append(df.agg(
            F.count(F.lit(1)).alias(f"{name}__rows"),
            F.sum(F.shiftrightunsigned(h, 32)).alias(f"{name}__hi"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias(f"{name}__lo"),
        ))
    row = functools.reduce(DataFrame.crossJoin, aggs).collect()[0]
    return {name: (schemas[name], row[f"{name}__rows"], row[f"{name}__hi"],
                   row[f"{name}__lo"]) for name in tables}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class KgFull:
    """One op = plans.pipeline.run_pipeline over KG_PAGES synthetic pages
    into a fresh empty warehouse, with every stage write and snapshot."""

    name = "kg_full"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.start = seed * 10**6  # the seed picks a disjoint page-id range
        self.pages_dir = os.path.join(work, "input", "pages")
        self.expected: dict[str, tuple] = {}
        self.pages = None

    def sizes(self) -> str:
        return f"{KG_PAGES} pages from page id {self.start}"

    def prepare(self) -> None:
        from thesis_ner_co_tri_training_spark.sources.pages import (
            PAGES_SCHEMA, gen_page)

        shutil.rmtree(self.pages_dir, ignore_errors=True)
        os.makedirs(self.pages_dir)
        cols = [f.name for f in PAGES_SCHEMA.fields]
        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ])
        per_file = -(-KG_PAGES // KG_PAGE_FILES)
        for f in range(KG_PAGE_FILES):
            ids = range(self.start + f * per_file,
                        self.start + min(KG_PAGES, (f + 1) * per_file))
            pages = [gen_page(i) for i in ids]
            table = pa.table({c: [p[c] for p in pages] for c in cols}, schema)
            pq.write_table(table, os.path.join(self.pages_dir,
                                               f"part-{f:05d}.parquet"))
        self.pages = self.spark.read.parquet(self.pages_dir)

    def op(self, i: int, tracer: Tracer | None) -> str:
        from thesis_ner_co_tri_training_spark.plans import pipeline

        warehouse = os.path.join(self.work, "kg", f"op{i}")
        pipeline.run_pipeline(self.spark, self.pages, warehouse)
        return warehouse

    def reference(self) -> None:
        """The voted rows through an independent path: the fused
        tag+vote pass, pinned row-identical to the staged one by
        tests/test_fused_vote.py."""
        from thesis_ner_co_tri_training_spark.operators.tagging import (
            tag_and_vote_pages_df)

        self.expected["voted"] = fingerprints(self.spark, {
            "voted": tag_and_vote_pages_df(self.pages.select("url", "html"))
        })["voted"]

    def check(self, warehouse: str) -> list[str]:
        """Problems with an op's output (empty when it is correct). The
        first op checked also fixes the fingerprints later ops must
        repeat."""
        from thesis_ner_co_tri_training_spark.sources import catalog

        names = ["voted", *KG_CHECKED]
        got = fingerprints(self.spark, {
            t: catalog.read_table(self.spark, warehouse, t) for t in names})
        problems = [f"{t}: empty" for t in names if got[t][1] == 0]
        for t in names:
            want = self.expected.setdefault(t, got[t])
            if got[t] != want:
                problems.append(f"{t}: fingerprint {got[t][1:]} != {want[1:]}")
        return problems

    def layer_facts(self, warehouse: str) -> dict[str, float]:
        written = dir_bytes(warehouse)
        return {"catalog.bytes_written": written,
                "catalog.bytes_per_page": written / KG_PAGES}

    def discard(self, warehouse: str) -> None:
        shutil.rmtree(warehouse, ignore_errors=True)


def _contract_canon():
    """check_contract.canon, the contract gate's exact compare form."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "check_contract.py")
    spec = importlib.util.spec_from_file_location("_check_contract", path)
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved  # the script prepends a fixed checkout path
    return module.canon


class QueryMix:
    """One op = one pass over QUERY_ENTRIES of __spark_entry__.queries(),
    each result materialized with toPandas()."""

    name = "query_mix"

    def __init__(self, spark, work: str, seed: int) -> None:
        import __spark_entry__

        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(work, "input", "tables")
        self.entries = {q: __spark_entry__.queries()[q] for q in QUERY_ENTRIES}
        self.oracle_sql = __spark_entry__.oracle_sql()
        self.canon = _contract_canon()
        self.expected: dict[str, Any] = {}
        self.rows: dict[str, int] = {}

    def sizes(self) -> str:
        return (", ".join(f"{t} {n}" for t, n in self.rows.items())
                + f" rows; {len(self.entries)} entries")

    def prepare(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.rows = querydata.write_tables(self.sf_dir, self.seed)

    def op(self, i: int, tracer: Tracer | None) -> dict[str, Any]:
        out = {}
        for name, fn in self.entries.items():
            if tracer is None:
                out[name] = fn(self.spark, self.sf_dir).toPandas()
            else:
                df = tracer.call(f"{name}.build", fn, self.spark, self.sf_dir)
                out[name] = tracer.call(f"{name}.collect", df.toPandas)
        return out

    def reference(self) -> None:
        """Each entry's oracle_sql() result on DuckDB, in canon form."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in querydata.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            for name in self.entries:
                odf = con.execute(self.oracle_sql[name]).fetchdf()
                self.expected[name] = (self._int_dtypes(odf), self.canon(odf))
        finally:
            con.close()

    @staticmethod
    def _int_dtypes(df) -> dict[str, str]:
        return {c: str(df[c].dtype) for c in df.columns if df[c].dtype.kind in "iu"}

    def check(self, results: dict[str, Any]) -> list[str]:
        problems = []
        for name, sdf in results.items():
            dtypes, want = self.expected[name]
            got_dtypes = self._int_dtypes(sdf)
            bad = {c: (got_dtypes[c], d) for c, d in dtypes.items()
                   if c in got_dtypes and got_dtypes[c] != d}
            if bad:
                problems.append(f"{name}: integer dtypes {bad}")
            elif not self.canon(sdf).equals(want):
                problems.append(f"{name}: differs from its DuckDB oracle "
                                f"({len(sdf)} vs {len(want)} rows)")
        return problems

    def layer_facts(self, results: dict[str, Any]) -> dict[str, float]:
        return {}

    def discard(self, results: dict[str, Any]) -> None:
        pass


WORKLOADS = {KgFull.name: KgFull, QueryMix.name: QueryMix}
