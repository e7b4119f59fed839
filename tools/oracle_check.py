"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
arity, and an order-insensitive value hash (columns sorted by name)."""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

# the checkout this script lives in, not an installed or fixed-path copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    # type-tagged tokens: without the tags, NULL vs the string 'None' and
    # True vs the string 't' hash identically — a false pass in the exact
    # tool whose job is cross-engine equality (review r04)
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b:t" if v else "b:f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(only: list[str] | None = None):
    from pyspark.sql import SparkSession
    import __spark_entry__ as entry

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             # DuckDB reads the naive parquet timestamps as-is; any
             # NTZ->LTZ cast on the Spark side must agree (review r05c:
             # a non-UTC TZ env var shifted windowed rows and failed the
             # gate replica while the driver's UTC run stayed green)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "16g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = set(only or []) - set(qs)
    if unknown:
        # a typo'd name must not yield "FAILURES: 0" / exit 0 (review r04)
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        sys.exit(2)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            drows = cur.fetchall()
            dcols = [d[0] for d in cur.description]
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        else:
            sh = value_hash([tuple(r) for r in srows], [c.lower() for c in scols])
            dh = value_hash(drows, [c.lower() for c in dcols])
            if sh != dh:
                problems.append(f"value-hash {sh} vs {dh}")
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "--debug" in sys.argv:
                order_s = sorted(range(len(scols)), key=lambda i: scols[i].lower())
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())
                s_set = sorted("|".join(norm_cell(tuple(r)[i]) for i in order_s) for r in srows)
                d_set = sorted("|".join(norm_cell(r[i]) for i in order_d) for r in drows)
                ds, ss = set(d_set), set(s_set)  # hoisted: O(n^2) inline
                s_only = [x for x in s_set if x not in ds][:5]
                d_only = [x for x in d_set if x not in ss][:5]
                print("   spark-only:", s_only)
                print("   duck-only :", d_only)
        else:
            print(f"OK    {name}: {len(srows)} rows match")
    print("FAILURES:", failures)
    return failures


if __name__ == "__main__":
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    sys.exit(1 if main(only or None) else 0)
