"""Expected outputs computed outside Spark, with DuckDB, from the generated
parquet.

The schemas the workloads use are flat: each property carries only
``type``, ``enum``, ``minimum``, ``maximum``, ``minLength``, ``maxLength``
or ``pattern``, plus a top-level ``required``. For such a schema every
keyword yields at most one violation per row, so the per-keyword violation
counts, and the pass/fail split, are plain SQL counts. A SQL NULL is an
absent property (the engine's default), so only ``required`` sees it.
"""

from __future__ import annotations

import json
from typing import Any

# JSON Schema type -> DuckDB column types that always satisfy it
_TYPE_OK = {"string": {"VARCHAR"}, "integer": {"INTEGER", "BIGINT"}}


def _lit(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise ValueError(f"unsupported literal {v!r}")
    return repr(v)


def _ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def keyword_checks(schema: dict, column_types: dict[str, str]) -> list[tuple[str, str, str]]:
    """``(keyword, keyword_location, failing-row SQL predicate)`` per keyword."""
    out = []
    required = schema.get("required", [])
    if required:
        out.append(("required", "#/required",
                    " OR ".join(f"{_ident(c)} IS NULL" for c in required)))
    for prop, sub in schema.get("properties", {}).items():
        c = _ident(prop)
        for kw, v in sub.items():
            if kw == "type":
                if column_types[prop] not in _TYPE_OK[v]:
                    raise ValueError(f"{prop}: column type {column_types[prop]} vs {v}")
                continue
            if kw == "enum":
                pred = f"{c} NOT IN ({', '.join(_lit(x) for x in v)})"
            elif kw == "minimum":
                pred = f"{c} < {_lit(v)}"
            elif kw == "maximum":
                pred = f"{c} > {_lit(v)}"
            elif kw == "minLength":
                pred = f"length({c}) < {_lit(v)}"
            elif kw == "maxLength":
                pred = f"length({c}) > {_lit(v)}"
            elif kw == "pattern":
                pred = f"NOT regexp_matches({c}, {_lit(v)})"
            else:
                raise ValueError(f"keyword {kw!r} has no oracle")
            out.append((kw, f"#/properties/{prop}/{kw}",
                        f"({c} IS NOT NULL AND {pred})"))
    return out


def kw_key(keyword: str, location: str) -> str:
    return f"{keyword} {location}"


def schema_counts(con, table: str, schema: dict) -> dict:
    """Per-keyword violation counts and the pass/fail split of ``table``."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {table}").fetchall()}
    checks = keyword_checks(schema, types)
    exprs = [f"count(*) FILTER (WHERE {p})" for _, _, p in checks]
    any_fail = " OR ".join(f"({p})" for _, _, p in checks)
    row = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE {any_fail}), {', '.join(exprs)} "
        f"FROM {table}").fetchone()
    keywords = {kw_key(k, loc): n for (k, loc, _), n in zip(checks, row[2:]) if n}
    return {"rows": row[0], "failed_rows": row[1], "passed_rows": row[0] - row[1],
            "keywords": keywords}


def fast_oracle(table_dir: str, verdict_schema: dict, dense_schema: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{table_dir}/*.parquet')")
        verdict = schema_counts(con, "t", verdict_schema)
        dense = schema_counts(con, "t", dense_schema)
    finally:
        con.close()
    return {"rows": verdict["rows"], "verdict": verdict, "dense": dense}


def audio_oracle(clips_dir: str, ref_dir: str, schema: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW c AS SELECT * FROM read_parquet('{clips_dir}/*.parquet')")
        con.execute(f"CREATE VIEW r AS SELECT * FROM read_parquet('{ref_dir}/*.parquet')")
        counts = schema_counts(con, "c", schema)
        dup_keys = con.execute(
            "SELECT count(*) FROM (SELECT clip_id FROM c GROUP BY clip_id "
            "HAVING count(*) > 1)").fetchone()[0]
        orphans = con.execute(
            "SELECT count(*) FROM c WHERE NOT EXISTS "
            "(SELECT 1 FROM r WHERE r.clip_id = c.clip_id)").fetchone()[0]
        ref_rows = con.execute("SELECT count(*) FROM r").fetchone()[0]
    finally:
        con.close()
    return {"rows": counts["rows"], "schema": counts, "dup_keys": dup_keys,
            "orphans": orphans, "ref_rows": ref_rows}


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def diff(what: str, got: Any, want: Any) -> list[str]:
    """Mismatch descriptions, empty when ``got == want``."""
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]
