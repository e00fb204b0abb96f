"""The persisted MinHash dedup index: its on-disk format and one writer.

Three catalog tables, appended per batch tag with the same params (the
index parameters + batch tag + the caller's own keys):
dedup_docs (url, text), dedup_index (url, band, bucket) and
dedup_shingles (url, shingles). A gate matches a batch against the
last two (`read` -> operators.dedup.dedup_against_index); an audit
rebuilds the index from dedup_docs. Replaying a crashed batch through
`append_batch` repairs exactly the tables that miss it, and a gate must
run after that repair: a doc missing from dedup_shingles would drop its
candidate pairs silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import minhash_bands_narrow, token_shingles
from ..sources import catalog

# The index schema contract: a batch banded under other params finds
# nothing, so a warehouse's recorded params win over these defaults.
INDEX_PARAMS = dict(n=3, num_hashes=32, bands=8, hasher="xxhash64")

TABLES = ("dedup_docs", "dedup_index", "dedup_shingles")


def index_params(warehouse: str) -> dict | None:
    """The index params of the newest dedup_docs history entry that
    carries them (compaction snapshots carry none; expired batches live
    on in the ledger), or None when the warehouse has no index."""
    for s in reversed(catalog.history(warehouse, "dedup_docs")):
        p = s.get("params", {})
        if "hasher" in p:
            return {k: p[k] for k in INDEX_PARAMS}
    return None


def read(spark: SparkSession, warehouse: str) -> tuple[DataFrame, DataFrame]:
    """(dedup_index, dedup_shingles): the `index` and `old_shingles`
    arguments of dedup_against_index."""
    return (catalog.read_table(spark, warehouse, "dedup_index"),
            catalog.read_table(spark, warehouse, "dedup_shingles"))


def append_batch(warehouse: str, docs: DataFrame, params: dict) -> list[str]:
    """Append the (url, text) batch `docs` to each index table whose
    history lacks params["batch_tag"]; the first write creates the
    table. Bands come from the per-row minhash_bands_narrow (rows
    identical to minhash_bands, no checkpoint job). Returns the tables
    written, in TABLES order."""
    tag = params["batch_tag"]
    kw = {k: params[k] for k in INDEX_PARAMS}
    build = {
        "dedup_docs": lambda: docs,
        "dedup_index": lambda: minhash_bands_narrow(docs, id_col="url", **kw),
        "dedup_shingles": lambda: token_shingles(docs, id_col="url",
                                                 n=kw["n"]),
    }
    wrote = []
    for t in TABLES:
        if tag in catalog.batch_tags(warehouse, t):
            continue
        catalog.write_table(
            build[t](), warehouse, t, stage_params=params,
            mode="append" if catalog.latest_snapshot(warehouse, t)
            else "overwrite")
        wrote.append(t)
    return wrote
