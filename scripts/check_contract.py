"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf dir,
compare row count, sorted column names, and order-insensitive values.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from thesis_ner_co_tri_training_spark.session import get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.01"
SHUFFLE_PARTITIONS = 8


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Exact canonical form: every cell -> repr string.

    This intentionally distinguishes 5 (int64) from 5.0 (float64) and
    last-ulp double differences — the driver's value-hash does too (r01:
    DuckDB HUGEINT sums surfaced as float64 and hashed differently while a
    tolerant elementwise compare passed locally). The local gate must be
    at least as strict as the driver's.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.map(lambda v: repr(v.tolist()) if hasattr(v, "tolist")
                            else repr(v))
        else:
            df[c] = col.map(lambda v: repr(v.item() if hasattr(v, "item") else v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark, sf_dir: str) -> tuple[int, list[tuple[str, str]]]:
    """Run every queries() entry against its oracle, printing one line
    per query; returns (number of queries, failures)."""
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"{name}: SPARK ERROR {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (rows-only, no oracle)")
            if len(sdf) == 0:
                failures.append((name, "0 rows in rows-only query"))
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"{name}: DUCKDB ERROR {str(e)[:300]}")
            continue
        # dtype gate for integer columns: repr canon collapses int32 vs
        # int64 ('5' either way), but the driver's value hash is dtype-
        # sensitive — an INT-cast Spark column against a BIGINT oracle
        # must FAIL here, not at the driver. Only integer kinds are
        # gated: float/datetime unit differences are conversion-side
        # artifacts the repr compare already handles exactly.
        bad_dtype = None
        for c in sorted(set(sdf.columns) & set(odf.columns)):
            sk, ok_ = sdf[c].dtype, odf[c].dtype
            if sk.kind in "iu" and ok_.kind in "iu" and sk != ok_:
                bad_dtype = f"int dtype {c}: {sk} vs {ok_}"
                break
        if bad_dtype:
            failures.append((name, bad_dtype))
            print(f"{name}: INT DTYPE MISMATCH {bad_dtype}")
            continue
        s, o = canon(sdf), canon(odf)
        if list(s.columns) != list(o.columns):
            failures.append((name, f"cols {list(s.columns)} vs {list(o.columns)}"))
            print(f"{name}: COLUMN MISMATCH {list(s.columns)} vs {list(o.columns)}")
            continue
        if len(s) != len(o):
            failures.append((name, f"rows {len(s)} vs {len(o)}"))
            print(f"{name}: ROWCOUNT MISMATCH {len(s)} vs {len(o)}")
            continue
        if not s.equals(o):
            diff_mask = (s != o) & ~(s.isna() & o.isna())
            ndiff = int(diff_mask.any(axis=1).sum())
            if ndiff:
                idx = diff_mask.any(axis=1).idxmax()
                failures.append((name, f"{ndiff} differing rows"))
                print(f"{name}: VALUE MISMATCH {ndiff}/{len(s)} rows; first:")
                print("  spark :", s.loc[idx].to_dict())
                print("  duckdb:", o.loc[idx].to_dict())
                continue
        print(f"{name}: OK rows={len(s)}")
    return len(qs), failures


def main(sf_dir: str) -> int:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    spark = get_spark("contract_check", cpus=cpus,
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    n, failures = compare(spark, sf_dir)
    spark.stop()
    print(f"\n{n - len(failures)}/{n} OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR))
