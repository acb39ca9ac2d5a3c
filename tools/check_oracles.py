"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given SF, then compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

# the checkout this tool belongs to, so a copy runs that copy
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    try:
        import datetime

        if isinstance(v, datetime.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
    except Exception:
        pass
    try:
        from decimal import Decimal

        if isinstance(v, Decimal):
            return repr(float(v))
    except Exception:
        pass
    return v


def _type_class_spark(dtype: str) -> str:
    t = dtype.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t.startswith("array"):
        return "list"
    if t.startswith(("struct", "map")):
        return "nested"
    if t.startswith("timestamp"):
        return "ts"
    return {"string": "str", "boolean": "bool", "date": "date", "binary": "bytes"}.get(t, t)


def _type_class_duck(dtype: str) -> str:
    t = dtype.upper()
    if t in ("HUGEINT", "UHUGEINT"):
        # Arrow maps int128 to decimal128(38,0) — the driver's type-aware
        # hash will NOT treat this as an integer (the zorder_events_roundtrip
        # r4 failure).  Classify as its own tag so it always mismatches.
        return "int128"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t.endswith("[]") or t.startswith("LIST"):
        return "list"
    if t.startswith(("STRUCT", "MAP")):
        return "nested"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return {"VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date", "BLOB": "bytes"}.get(t, t)


def type_lint(spark_dtypes, duck_types):
    """Compare column type classes; returns (hard_failures, warnings).

    int128 (DuckDB HUGEINT) in oracle output is a hard failure — the
    driver's Arrow-based hash renders it as Decimal and the row hash can
    never match an integral Spark column.  Other class mismatches are
    warnings (the driver may normalize them, but each one is a risk).
    """
    sd = {c: _type_class_spark(t) for c, t in spark_dtypes}
    hard, warn = [], []
    for col, dt in duck_types.items():
        dc = _type_class_duck(dt)
        sc = sd.get(col)
        if sc is None:
            continue
        if dc == "int128":
            hard.append(f"{col}: duck {dt} (int128) vs spark class {sc} — cast the SQL aggregate")
        elif sc != dc:
            warn.append(f"{col}: spark class {sc} vs duck {dt} ({dc})")
    return hard, warn


def compare(spark_rows, spark_cols, duck_rows, duck_cols):
    if sorted(spark_cols) != sorted(duck_cols):
        return f"COLS spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"ROWS spark={len(spark_rows)} duck={len(duck_rows)}"
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])

    # NULL-safe, type-stable row sort: (is_null, type tag, value) per cell.
    s = sorted((tuple(_norm(r[i]) for i in order) for r in spark_rows),
               key=lambda t: tuple((v is None, str(type(v)), 0 if v is None else v) for v in t))
    d = sorted((tuple(_norm(r[i]) for i in dorder) for r in duck_rows),
               key=lambda t: tuple((v is None, str(type(v)), 0 if v is None else v) for v in t))
    if s != d:
        for i, (a, b) in enumerate(zip(s, d)):
            if a != b:
                return f"VALUES first-diff row {i}:\n  spark={a}\n  duck ={b}"
        return "VALUES differ (tail)"
    return None


def main():
    argv = sys.argv[1:]
    plain = "--plain" in argv
    tz = None
    args = []
    skip = False
    for i, a in enumerate(argv):
        if skip:
            skip = False
            continue
        if a == "--plain":
            continue
        if a == "--tz":  # e.g. --tz America/New_York: regression for
            if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
                print("usage: --tz <IANA zone name>", file=sys.stderr)
                return 2
            tz = argv[i + 1]  # session-time-zone-dependent renderings
            skip = True
            continue
        args.append(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as E

    # No console progress bar: it shares stdout lines with the results, so
    # a line-anchored grep for OK/FAIL would miss some.
    quiet = {"spark.ui.showConsoleProgress": "false"}
    if plain:
        # Replicate the driver: a bare session with none of session.py's
        # defaults.  Correctness must not depend on session construction.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-plain")
            .config("spark.sql.shuffle.partitions", "8")
            .config(map=quiet)
            .getOrCreate()
        )
    else:
        from debezium_server_bigquery_spark import get_spark

        spark = get_spark("oracle-check", extra_conf=quiet)
    if tz:
        spark.conf.set("spark.sql.session.timeZone", tz)
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_rows = [tuple(r) for r in sdf.collect()]
            spark_cols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(spark_rows)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            duck_cols = [c[0] for c in cur.description]
            duck_rows = cur.fetchall()
            desc = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            duck_types = {r[0]: r[1] for r in desc}
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        diff = compare(spark_rows, spark_cols, duck_rows, duck_cols)
        hard, warn = type_lint(sdf.dtypes, duck_types)
        for w in warn:
            print(f"WARN {name}: type-class mismatch {w}")
        if hard:
            failures.append(name)
            for h in hard:
                print(f"FAIL {name}: ORACLE TYPE {h}")
        elif diff:
            failures.append(name)
            print(f"FAIL {name}: {diff}")
        else:
            print(f"OK   {name} rows={len(spark_rows)} [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
