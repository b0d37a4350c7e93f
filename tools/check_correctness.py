"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark, runs the matching
``oracle_sql()`` on DuckDB over the same parquet tables, and compares
row-count + schema + order-insensitive values (columns sorted by name,
rows sorted, values canonicalized to strings). Queries without an oracle
get a rows-only check.

``--typed`` additionally mirrors the driver's type-sensitive value hash
(VERDICT r9 #5): both sides are converted to pandas the way the driver
plausibly does (Spark ``toPandas()``, DuckDB ``.df()``) and per-column
dtype KINDS must agree. This is the layer that caught nothing locally in
r9 while the driver failed ``tpch_q12_priority_mix``: DuckDB's pandas
conversion widens HUGEINT to float64 (kind ``f``) while Spark returns
int64 (kind ``i``) — identical stringified values, different hashes.

Usage: python tools/check_correctness.py [--typed] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def df_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def dtype_kinds(pdf) -> dict[str, str]:
    """Column -> pandas dtype kind, normalized to the driver-relevant
    families: unsigned ints fold into ``i``; all-null object columns
    (pandas renders them object regardless of source type) fold into
    ``?`` so a NULL-only column never false-positives."""
    kinds = {}
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        if k == "u":
            k = "i"
        if k == "O" and pdf[c].isna().all():
            k = "?"
        kinds[c] = k
    return kinds


def typed_mismatch(s_pdf, d_pdf) -> list[str]:
    """Columns whose pandas dtype kinds differ between Spark and DuckDB."""
    sk, dk = dtype_kinds(s_pdf), dtype_kinds(d_pdf)
    return [
        f"{c}: spark={sk[c]}({s_pdf[c].dtype}) duckdb={dk[c]}({d_pdf[c].dtype})"
        for c in sorted(set(sk) & set(dk))
        if "?" not in (sk[c], dk[c]) and sk[c] != dk[c]
    ]


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mapreduce_spark.registry import get_oracles, get_queries
    from mapreduce_spark.session import get_spark

    qs = get_queries()
    oracles = get_oracles()
    argv = sys.argv[1:]
    typed = "--typed" in argv
    only = {a for a in argv if a != "--typed"}

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            rel = con.execute(oracles[name])
            d_cols = [d[0] for d in rel.description]
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL  {name}: schema mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
            n_fail += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL  {name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
            n_fail += 1
            continue
        _, s_canon = df_to_rows(s_cols, s_rows)
        _, d_canon = df_to_rows(d_cols, d_rows)
        if s_canon != d_canon:
            diffs = [(a, b) for a, b in zip(s_canon, d_canon) if a != b]
            print(
                f"FAIL  {name}: {len(diffs)}/{len(s_canon)} rows differ; "
                f"first: spark={diffs[0][0]} duckdb={diffs[0][1]}"
            )
            n_fail += 1
            continue
        if typed:
            try:
                s_pdf = sdf.toPandas()
                d_pdf = con.execute(oracles[name]).df()
            except Exception as e:
                print(f"FAIL  {name}: typed-mode error: {type(e).__name__}: {e}")
                n_fail += 1
                continue
            bad = typed_mismatch(s_pdf, d_pdf)
            if bad:
                print(f"FAIL  {name}: dtype-kind mismatch (driver hash risk): {bad}")
                n_fail += 1
                continue
        print(f"PASS  {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
