"""The persisted MinHash dedup index: its on-disk format and one writer.

One catalog table, `dedup_index`: one row per doc with at least n
tokens, (url, text, shingles, buckets) — operators.dedup.minhash_docs,
`buckets` being the array<bigint> of the doc's band hashes. Each batch
is one append snapshot carrying the params (the index parameters +
batch tag + the caller's own keys), so a batch is either in the index
or not: replaying a crashed batch through `append_batch` writes it
whole or skips it. A gate matches a batch against the table's two
projections (`read` -> operators.dedup.dedup_against_index); an audit
rebuilds the bands from its `text` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_docs
from ..sources import catalog

# The index schema contract: a batch banded under other params finds
# nothing, so a warehouse's recorded params win over these defaults.
INDEX_PARAMS = dict(n=3, num_hashes=32, bands=8, hasher="xxhash64")

TABLE = "dedup_index"


def index_params(warehouse: str) -> dict | None:
    """The index params of the newest index history entry that carries
    them (compaction snapshots carry none; expired batches live on in
    the ledger), or None when the warehouse has no index."""
    for s in reversed(catalog.history(warehouse, TABLE)):
        p = s.get("params", {})
        if "hasher" in p:
            return {k: p[k] for k in INDEX_PARAMS}
    return None


def read(spark: SparkSession, warehouse: str) -> tuple[DataFrame, DataFrame]:
    """((url, band, bucket), (url, shingles)): the `index` and
    `old_shingles` arguments of dedup_against_index, projected from the
    one index table."""
    t = catalog.read_table(spark, warehouse, TABLE)
    if "buckets" not in t.columns:
        raise ValueError(
            f"{warehouse}/{TABLE} has no `buckets` column: it was built "
            f"by the older three-table index (dedup_docs, dedup_index, "
            f"dedup_shingles). Build the index again into a fresh "
            f"warehouse.")
    return (t.select("url", F.posexplode("buckets").alias("band", "bucket")),
            t.select("url", "shingles"))


def tags(warehouse: str) -> set[str]:
    """Every batch tag in the index's history, one history read: the
    `have` argument of append_batch."""
    return catalog.batch_tags(warehouse, TABLE)


def append_batch(warehouse: str, docs: DataFrame, params: dict,
                 have: set[str]) -> bool:
    """Append the (url, text) batch `docs` as one snapshot unless `have`
    (the caller's one `tags` read) already holds params["batch_tag"];
    the first write creates the table. Rows come from the per-row
    minhash_docs (no shuffle, no checkpoint job). Returns whether it
    wrote."""
    if params["batch_tag"] in have:
        return False
    kw = {k: params[k] for k in INDEX_PARAMS}
    catalog.write_table(minhash_docs(docs, id_col="url", **kw), warehouse,
                        TABLE, stage_params=params, mode="append")
    return True
