"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry via Spark and the matching ``oracle_sql()`` via DuckDB
at sf0.01, compare row count + column names + column types +
order-insensitive values.

Usage: python scripts/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Result-column types the oracle gate's hasher cannot compare across engines.
# DuckDB widens sum() over BIGINT (window sums too) to HUGEINT, which Spark
# never returns, and both engines serialize DECIMAL differently.
TYPE_RULE = (
    "invariant: Never expose DECIMAL columns at the oracle-gate boundary; the "
    "same holds for DuckDB's HUGEINT, which sum() over BIGINT returns"
)
DUCKDB_BANNED_TYPES = ("HUGEINT", "DECIMAL")  # substring match covers UHUGEINT


def duckdb_type_problems(rel) -> list[str]:
    """``col TYPE`` for each DuckDB result column of a banned type."""
    return [
        f"{c} {t}"
        for c, t in zip(rel.columns, map(str, rel.types))
        if any(b in t.upper() for b in DUCKDB_BANNED_TYPES)
    ]


def spark_type_problems(schema) -> list[str]:
    """``col type`` for each Spark result column holding a DecimalType."""
    return [
        f"{f.name} {f.dataType.simpleString()}"
        for f in schema.fields
        if "decimal" in f.dataType.simpleString()
    ]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 6)
        return "0" if r == 0 else f"{r:.6g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def canon(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    return sorted(tuple(norm(r[c]) for c in cols) for r in rows)


def main() -> int:
    import __spark_entry__ as entry_mod
    from data_profiler_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(app_name="oracle_check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sorted(sdf.columns)
            stypes = spark_type_problems(sdf.schema)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(srows)})")
            continue
        try:
            rel = con.sql(oracles[name])
            otypes = duckdb_type_problems(rel)
            ocols = sorted(c.lower() for c in rel.columns)
            orows = [dict(zip([c.lower() for c in rel.columns], row)) for row in rel.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok = True
        if stypes or otypes:
            print(f"FAIL {name}: banned types spark={stypes} duckdb={otypes} ({TYPE_RULE})")
            ok = False
        elif [c.lower() for c in scols] != ocols:
            print(f"FAIL {name}: schema spark={scols} duckdb={ocols}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(orows)}")
            ok = False
        else:
            cs, co = canon(srows), canon(orows)
            if cs != co:
                diff = [(a, b) for a, b in zip(cs, co) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs: {diff}")
                ok = False
        if ok:
            print(f"OK   {name} ({len(srows)} rows)")
        else:
            failures += 1
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
