"""DuckDB oracle check for catalog_slice.

Each entry's parquet dump must equal its `SparkEntry.oracleSql` replayed in
DuckDB over the same input tables, after the canonicalisation the
repository's correctness gate uses: columns sorted by name, compared by
type class (integral / floating / other) and exact values, rows sorted.
"""
import json
import math
import pathlib

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _type_class(t):
    t = str(t)
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    return t


def _canon(rel):
    cols, types = rel.columns, [_type_class(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_norm(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], [types[i] for i in order], rows


def check(data_dir, dump_dir, oracles):
    """Return {entry: failure reason} for every entry that does not match."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    fails = {}
    for name, sql in sorted(oracles.items()):
        if sql is None:
            fails[name] = "no oracle SQL"
            continue
        try:
            got = _canon(con.sql(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'"))
            want = _canon(con.sql(sql))
        except Exception as e:  # a missing dump or a failing oracle is a failure
            fails[name] = f"exception: {str(e)[:200]}"
            continue
        if got[0] != want[0]:
            fails[name] = f"columns spark={got[0]} oracle={want[0]}"
        elif got[1] != want[1]:
            fails[name] = f"types spark={got[1]} oracle={want[1]}"
        elif got[2] != want[2]:
            fails[name] = f"rows spark={len(got[2])} oracle={len(want[2])}"
    con.close()
    return fails


def check_run(data_dir, work_dir):
    oracles = json.loads(pathlib.Path(work_dir, "oracle_sql.json").read_text())
    return check(data_dir, pathlib.Path(work_dir, "results"), oracles)


def selftest(tmp):
    """The check passes on a matching dump and fails on a planted mismatch."""
    tmp = pathlib.Path(tmp)
    data, dump = tmp / "data", tmp / "results"
    data.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"COPY (SELECT 1 AS k) TO '{data}/{t}.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT r_regionkey, r_name FROM (VALUES (0, 'AFRICA'), (1, 'ASIA')) "
                f"t(r_regionkey, r_name)) TO '{data}/region.parquet' (FORMAT PARQUET)")
    for name, rows in [("same", "(0, 'AFRICA'), (1, 'ASIA')"),
                       ("changed", "(0, 'AFRICA'), (1, 'EUROPE')"),
                       ("missing", "(0, 'AFRICA')")]:
        (dump / name).mkdir(parents=True, exist_ok=True)
        con.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(r_regionkey, r_name)) "
                    f"TO '{dump}/{name}/part-0.parquet' (FORMAT PARQUET)")
    con.close()
    sql = "SELECT r_regionkey, r_name FROM region"
    fails = check(data, dump, {"same": sql, "changed": sql, "missing": sql})
    return {"catalog_match": "ok" if "same" not in fails else "WRONG",
            "catalog_changed_row": "ok" if "changed" in fails else "WRONG",
            "catalog_missing_row": "ok" if "missing" in fails else "WRONG"}
