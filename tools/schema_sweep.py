"""Sweep every registered query's output schema for non-scalar columns.

The driver canonicalizes results via ``pandas.DataFrame.sort_values`` over
every column, which raises ``TypeError: unhashable type`` on array cells
(CORRECTNESS_r07.json: embedding_pq_codes_opq). Any graded query returning
ArrayType / MapType / StructType will ERR the moment the grading rotation
promotes it. This tool lists the offenders so they can be re-encoded.

Usage: python tools/schema_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import types as T


def non_scalar_cols(schema: T.StructType) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mapreduce_spark.registry import get_queries
    from mapreduce_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("schema-sweep")
    bad = 0
    for name, fn in get_queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # broad by design: report and continue
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            bad += 1
            continue
        offenders = non_scalar_cols(df.schema)
        if offenders:
            print(f"ARRAY {name}: {offenders}")
            bad += 1
    print(f"\n{bad} queries with non-scalar output columns")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
