"""Seeded generator for the catalog_slice input tables.

Writes the ten star-schema tables the catalog entries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as parquet files named `<table>.parquet`, with the column names, physical
types and value domains of the fixture described in FIXTURES.md. Every value
is a hash of (row, column, seed), so one seed always yields the same files
regardless of DuckDB's thread count.
"""
import duckdb

SF = 0.01  # lineitem ~60k rows: the catalog is overhead-bound at this size

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
ADJ = ["small", "red", "blue", "green", "large", "metal", "plastic", "steel"]
NOUN = ["ring", "widget", "bolt", "gear", "spring", "valve", "pipe", "wheel"]


def _lit(xs):
    return "[" + ", ".join("'%s'" % x for x in xs) + "]"


def generate(out_dir, seed, sf=SF):
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_evt = int(1000000 * sf)
    n_users = int(15000 * sf)
    n_docs = max(500, int(50000 * sf))
    n_vecs = 500
    con = duckdb.connect()
    # uniform in [0, 1) from (row, salt); salts keep columns independent
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 1000000007) / 1000000007.0")
    con.execute(f"CREATE MACRO pick(xs, i, salt) AS "
                f"xs[1 + CAST(floor(u(i, salt) * len(xs)) AS BIGINT)]")
    tables = {
        "region": """SELECT CAST(i AS INTEGER) r_regionkey,
              ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name,
              CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
              CAST(floor(u(i, 'cn') * 25) AS INTEGER) c_nationkey,
              round(-999.99 + u(i, 'cb') * 10999.98, 2) c_acctbal,
              pick(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'], i, 'cm') c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
              CAST(floor(u(i, 'sn') * 25) AS INTEGER) s_nationkey,
              round(-999.99 + u(i, 'sb') * 10999.98, 2) s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i p_partkey,
              pick({_lit(ADJ)}, i, 'pa') || ' ' || pick({_lit(NOUN)}, i, 'pn') p_name,
              'Brand#' || CAST(1 + floor(u(i, 'pb') * 25) AS BIGINT) p_brand,
              pick(['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'], i, 'pt') p_type,
              CAST(1 + floor(u(i, 'ps') * 50) AS INTEGER) p_size,
              CAST(round(900 + (i % 1000) * 0.1, 1) AS DOUBLE) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i o_orderkey,
              CAST(floor(u(i, 'oc') * {n_cust}) AS BIGINT) o_custkey,
              pick(['F','O','P'], i, 'os') o_orderstatus,
              round(1000 + u(i, 'op') * 499000, 2) o_totalprice,
              TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 'od') * 2400) AS INTEGER)) o_orderdate,
              pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], i, 'oy') o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT CAST(floor(u(i, 'lo') * {n_ord}) AS BIGINT) l_orderkey,
              CAST(floor(u(i, 'lp') * {n_part}) AS BIGINT) l_partkey,
              CAST(floor(u(i, 'ls') * {n_supp}) AS BIGINT) l_suppkey,
              CAST(1 + floor(u(i, 'ln') * 7) AS INTEGER) l_linenumber,
              q l_quantity,
              round(q * (900 + u(i, 'le') * 1200), 2) l_extendedprice,
              floor(u(i, 'ld') * 11) / 100 l_discount,
              floor(u(i, 'lt') * 9) / 100 l_tax,
              pick(['A','N','R'], i, 'lr') l_returnflag,
              pick(['F','O'], i, 'll') l_linestatus,
              TIMESTAMP '1995-01-02' + to_days(CAST(floor(u(i, 'lh') * 2500) AS INTEGER)) l_shipdate
            FROM (SELECT i, CAST(1 + floor(u(i, 'lq') * 50) AS DOUBLE) q FROM range({n_line}) t(i))""",
        "events": f"""SELECT i event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor(u(i, 'et') * 2592000000000) AS BIGINT)) AS ts,
              CAST(floor(u(i, 'eu') * {n_users}) AS BIGINT) user_id,
              pick(['click','error','purchase','signup','view'], i, 'ey') event_type,
              round(0.01 + u(i, 'ev') * 490, 2) AS "value",
              '{{"k": ' || CAST(floor(u(i, 'ek') * 100) AS BIGINT) || '}}' AS props
            FROM range({n_evt}) t(i)""",
        # ~5% of documents copy an earlier one and append " dup": the
        # near-duplicate pairs the dedup and decontamination entries find
        "documents": f"""WITH base AS (
              SELECT i, array_to_string(list_transform(
                  range(CAST(8 + floor(u(i, 'dn') * 90) AS BIGINT)),
                  j -> {_lit(WORDS)}[1 + CAST(hash(i, j, 'dw', {int(seed)}) % 30 AS BIGINT)]), ' ') txt
              FROM range({n_docs}) t(i))
            SELECT b.i AS doc_id, t AS text,
              pick(['en','en','en','de','es','fr','zh'], b.i, 'dl') AS lang,
              'src' || (b.i % 20) AS source, CAST(length(t) AS BIGINT) AS n_chars
            FROM (SELECT b.i, CASE WHEN b.i > 0 AND u(b.i, 'dd') < 0.05
                    THEN s.txt || ' dup' ELSE b.txt END t
                  FROM base b LEFT JOIN base s
                    ON s.i = CAST(floor(u(b.i, 'ds') * b.i) AS BIGINT)) b""",
        "embeddings": f"""WITH g AS (
              SELECT i, list_transform(range(64), j ->
                  sqrt(-2 * ln(1 - u(i * 64 + j, 'g1'))) * cos(2 * pi() * u(i * 64 + j, 'g2'))) v
              FROM range({n_vecs}) t(i))
            SELECT i AS vec_id,
              CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) AS embedding,
              CAST(floor(u(i, 'el') * 10) AS INTEGER) AS label
            FROM g""",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    return list(tables)


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]))
