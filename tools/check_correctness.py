"""Self-check harness replicating the driver's correctness gate:
run each queries()[name] on Spark and oracle_sql()[name] on DuckDB at a
given sf dir; compare row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).

Every run also persists per-query detail (status, row counts, both hashes,
column sets, error text, wall seconds) to CHECK_DETAIL.json at the repo
root, so an intermittent full-session failure is diagnosable post-hoc
even when stdout is truncated (r4 VERDICT "What's wrong" #1).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

DETAIL_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "CHECK_DETAIL.json")

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        s = d[c]
        if pd.api.types.is_float_dtype(s):
            d[c] = s.round(9).map(lambda x: f"{x:.9f}" if pd.notna(x) else "NULL")
        elif pd.api.types.is_datetime64_any_dtype(s):
            d[c] = s.astype("datetime64[us]").astype(str)
        else:
            d[c] = s.astype(str)
    # .apply on an EMPTY frame returns a DataFrame (no .tolist) — an empty
    # result set is legal (e.g. the 1-in-4 neardup sample at sf0.001
    # selects no conversations) and must hash as zero rows, not crash
    rows = (
        [] if d.empty
        else sorted(d.apply(lambda r: "|".join(r.values), axis=1).tolist())
    )
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from dataflow_mm_spark.session import get_spark

    spark = get_spark("check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = E.queries(), E.oracle_sql()
    # suite MEMBER queries stay individually checkable by explicit name
    # (debugging a suite mismatch) without counting toward the driver's
    # 50-entry registry window
    if only:
        from dataflow_mm_spark.plans import registry as R
        for m in only - set(qs):
            if m in R.MEMBER_QUERIES:
                qs[m] = R.MEMBER_QUERIES[m]
                os_[m] = R.MEMBER_ORACLES[m]
    failures = []
    detail: dict[str, dict] = {}

    def record(name: str, **kw) -> None:
        detail[name] = kw
        try:
            with open(DETAIL_PATH, "w") as f:
                json.dump(detail, f, indent=1)
        except OSError:
            pass

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {ex}")
            failures.append(name)
            record(name, status="spark_error", err=traceback.format_exc(limit=20),
                   sec=round(time.time() - t0, 2))
            continue
        try:
            odf = con.execute(os_[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {ex}")
            failures.append(name)
            record(name, status="duckdb_error", err=traceback.format_exc(limit=20),
                   sec=round(time.time() - t0, 2))
            continue
        ns, cs, hs = canon(sdf)
        no, co, ho = canon(odf)
        ok = (ns, cs, hs) == (no, co, ho)
        print(
            f"{'ok  ' if ok else 'FAIL'} {name}: rows {ns}/{no} "
            f"cols {'=' if cs == co else f'{cs} vs {co}'} hash {'=' if hs == ho else 'DIFF'} "
            f"{time.time()-t0:.1f}s"
        )
        rec = dict(status="ok" if ok else "mismatch",
                   spark_rows=ns, oracle_rows=no,
                   spark_hash=hs, oracle_hash=ho,
                   cols_match=cs == co, sec=round(time.time() - t0, 2))
        if cs != co:
            rec["spark_cols"], rec["oracle_cols"] = cs, co
        if not ok and ns == no and cs == co:
            # value mismatch: persist a bounded diff sample (first rows whose
            # canonical strings differ) so the flake is diagnosable post-hoc
            rec["diff_sample"] = _diff_sample(sdf, odf)
        record(name, **rec)
        if not ok:
            failures.append(name)
    # entry smoke
    n = E.entry(spark).count()
    print(f"entry rows={n}")
    record("__entry__", status="ok" if n > 0 else "zero_rows", spark_rows=int(n))
    if n <= 0:
        failures.append("entry")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


def _canon_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        s = d[c]
        if pd.api.types.is_float_dtype(s):
            d[c] = s.round(9).map(lambda x: f"{x:.9f}" if pd.notna(x) else "NULL")
        elif pd.api.types.is_datetime64_any_dtype(s):
            d[c] = s.astype("datetime64[us]").astype(str)
        else:
            d[c] = s.astype(str)
    return sorted(d.apply(lambda r: "|".join(r.values), axis=1).tolist())


def _diff_sample(sdf: pd.DataFrame, odf: pd.DataFrame, k: int = 5) -> dict:
    srows, orows = _canon_rows(sdf), _canon_rows(odf)
    sset, oset = set(srows), set(orows)
    return {
        "spark_only": sorted(sset - oset)[:k],
        "oracle_only": sorted(oset - sset)[:k],
    }


if __name__ == "__main__":
    raise SystemExit(main())
