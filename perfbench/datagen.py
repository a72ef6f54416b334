"""Seeded TPC-H-shaped input data for the benchmark, generated with DuckDB.

`write(dir, seed, sf)` writes the seven TPC-H tables at the shape of the
engine's sf0.1 or sf0.01 test fixtures: the same schemas, parquet types
(int32 dimension keys, naive microsecond timestamps, 2-decimal doubles),
row counts (786,030 rows at sf0.1), value ranges and single-row-group
files.

`write(dir, seed, sf, factor)` writes `factor` replicas with disjoint key
offsets, like the engine's GenScale tool: each replica shifts every
surrogate key by r * (key span), so join fan-outs and group sizes are
those of the base while keys never collide. region and nation are fixed
dimensions and are not replicated. Rows are shuffled with the seed and
written as multi-file directories.
"""
import math
import os
import shutil

import duckdb
import pyarrow.parquet as pq

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# rows per table at sf0.1; region and nation are fixed dimensions
SF01_ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
             "part": 20000, "orders": 150000, "lineitem": 600000}


def base_rows(sf):
    """Rows per table of a base set at scale factor `sf` (0.01 or 0.1)."""
    return {t: n if t in ("region", "nation") else round(n * sf / 0.1)
            for t, n in SF01_ROWS.items()}


# one per independent column draw
SALTS = ["cn", "cb", "cm", "sn", "sb", "pa", "pn", "pb", "pt", "ps", "oc", "os",
         "op", "od", "oq", "lo", "lp", "ls", "ll", "lq", "le", "ld", "lt", "lr",
         "lf", "lh"]

# files per table in a scaled set (GenScale's layout)
FILES = {"region": 1, "nation": 1, "customer": 4, "supplier": 1, "part": 2,
         "orders": 8, "lineitem": 16}


def _sql(table, rows, seed, factor, lo, hi):
    """SELECT for rows [lo, hi) of `table` scaled by `factor`, over a base
    set with `rows` rows per table.

    Row p of the output is replica r = q // n of base row i = q % n, where
    q = (a * p + b) mod (n * factor) is a seeded permutation of the row
    positions (a is coprime to the row count), so the rows come out
    shuffled without a sort; with factor 1 the order is the base key
    order. Every value is drawn by `u(salt)`, a uniform in [0, 1)
    that depends only on the seed, the base row and the salt, so all
    replicas of a base row agree and a seed always gives the same data.
    """
    n = rows[table]
    m = n * factor
    a, b = _perm(m, seed) if factor > 1 else (1, 0)
    u = lambda salt: (f"((hash(i * 64 + {SALTS.index(salt)}, {seed}) % 1000003)"
                      " / 1000003.0)")
    pick = lambda salt, xs: (
        "([" + ", ".join(f"'{x}'" for x in xs) + "])"
        f"[1 + CAST(floor({u(salt)} * {len(xs)}) AS INT)]")
    rint = lambda salt, lo_, hi_: (
        f"({lo_} + CAST(floor({u(salt)} * {hi_ - lo_ + 1}) AS BIGINT))")
    money = lambda salt, lo_, hi_: f"round({lo_} + {u(salt)} * {hi_ - lo_}, 2)"
    day = lambda salt, start, days: (
        f"(TIMESTAMP '{start}' + to_days(CAST(floor({u(salt)} * {days + 1}) AS INT)))")
    # a key indexing table t shifts by t's key span per replica
    key = lambda expr, t: f"({expr} + r * {rows[t]})"
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
    cols = {
        "region": """CAST(i AS INT) AS r_regionkey,
            (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name""",
        "nation": """CAST(i AS INT) AS n_nationkey, 'NATION_' || i AS n_name,
            CAST(i % 5 AS INT) AS n_regionkey""",
        "customer": f"""{key('i', 'customer')} AS c_custkey,
            'Customer#' || lpad(CAST({key('i', 'customer')} AS VARCHAR), 9, '0') AS c_name,
            CAST({rint('cn', 0, 24)} AS INT) AS c_nationkey,
            {money('cb', -999.99, 9999.99)} AS c_acctbal,
            {pick('cm', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment""",
        "supplier": f"""{key('i', 'supplier')} AS s_suppkey,
            'Supplier#' || lpad(CAST({key('i', 'supplier')} AS VARCHAR), 9, '0') AS s_name,
            CAST({rint('sn', 0, 24)} AS INT) AS s_nationkey,
            {money('sb', -999.99, 9999.99)} AS s_acctbal""",
        "part": f"""{key('i', 'part')} AS p_partkey,
            {pick('pa', adj)} || ' ' || {pick('pn', noun)} AS p_name,
            'Brand#' || {rint('pb', 1, 25)} AS p_brand,
            {pick('pt', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            CAST({rint('ps', 1, 50)} AS INT) AS p_size,
            round(900 + (i % 1000) / 10.0, 1) AS p_retailprice""",
        "orders": f"""{key('i', 'orders')} AS o_orderkey,
            {key(rint('oc', 0, rows['customer'] - 1), 'customer')} AS o_custkey,
            {pick('os', ['F', 'O', 'P'])} AS o_orderstatus,
            {money('op', 1000, 500000)} AS o_totalprice,
            {day('od', '1995-01-01', 2404)} AS o_orderdate,
            {pick('oq', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority""",
        "lineitem": f"""{key(rint('lo', 0, rows['orders'] - 1), 'orders')} AS l_orderkey,
            {key(rint('lp', 0, rows['part'] - 1), 'part')} AS l_partkey,
            {key(rint('ls', 0, rows['supplier'] - 1), 'supplier')} AS l_suppkey,
            CAST({rint('ll', 1, 7)} AS INT) AS l_linenumber,
            CAST({rint('lq', 1, 50)} AS DOUBLE) AS l_quantity,
            {money('le', 900, 105000)} AS l_extendedprice,
            {rint('ld', 0, 10)} / 100.0 AS l_discount,
            {rint('lt', 0, 8)} / 100.0 AS l_tax,
            {pick('lr', ['A', 'N', 'R'])} AS l_returnflag,
            {pick('lf', ['F', 'O'])} AS l_linestatus,
            {day('lh', '1995-01-02', 2498)} AS l_shipdate""",
    }[table]
    return f"""SELECT {cols} FROM (
        SELECT q // {n} AS r, q % {n} AS i FROM (
          SELECT ({a} * p + {b}) % {m} AS q
          FROM range({lo}, {hi}) t(p)))"""


def _perm(m, seed):
    """(a, b) of the position permutation p -> (a * p + b) mod m."""
    a = 1 + (seed * 2654435761) % (m - 1)
    while math.gcd(a, m) != 1:
        a += 1
    return a, (seed * 40503) % m


def write(out, seed, sf=0.1, factor=1):
    """Write the seven tables at `factor` times the base size at scale
    factor `sf` into `out`; returns the row count per table.

    factor 1 gives one single-row-group file per table (the fixture
    layout, in base key order); a larger factor gives a directory of
    FILES[table] files per table, rows shuffled by the seed. region and
    nation are fixed dimensions and are never replicated.
    """
    rows = base_rows(sf)
    counts = {}
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TPCH:
        path = os.path.join(out, f"{t}.parquet")
        if os.path.isdir(path):
            shutil.rmtree(path)
        f = 1 if t in ("region", "nation") else factor
        counts[t] = rows[t] * f
        if factor == 1:
            pq.write_table(con.execute(_sql(t, rows, seed, 1, 0, rows[t])).arrow(),
                           path, row_group_size=rows[t])
            continue
        os.makedirs(path)
        m = rows[t] * f
        files = FILES[t]
        for k in range(files):
            lo, hi = m * k // files, m * (k + 1) // files
            pq.write_table(con.execute(_sql(t, rows, seed, f, lo, hi)).arrow(),
                           os.path.join(path, f"part-{k:05d}.parquet"))
    con.close()
    return counts


def row_counts(data):
    """Row count per TPC-H table under `data` (file or directory layout)."""
    con = duckdb.connect()
    out = {t: con.execute(f"SELECT count(*) FROM read_parquet('{glob(data, t)}')").fetchone()[0]
           for t in TPCH}
    con.close()
    return out


def glob(data, table):
    path = os.path.join(data, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path
