"""Output checks against DuckDB.

Results are rendered the way the engine's tools/check_oracle.py renders
them: Spark output read with pyarrow, the oracle with DuckDB's fetchdf,
columns sorted by name, rows sorted, every cell rendered with str() and
joined by '|', one line per row, hashed with SHA-256.
"""
import glob
import hashlib
import json
import os
import re

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings", "events"]


def render_reference(df):
    """check_oracle.py's rendering, one row at a time."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("|".join(str(c) for c in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def render(df):
    """The same hash as `render_reference`, built column-wise."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    if len(df) == 0 or len(df.columns) == 0:
        return render_reference(df)
    cols = [df[c].map(str) for c in df.columns]
    lines = cols[0].str.cat(cols[1:], sep="|") if len(cols) > 1 else cols[0]
    return hashlib.sha256(("\n".join(lines) + "\n").encode()).hexdigest()


def connect(data):
    """DuckDB with one view per input table present under `data`."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def expected(con, sql):
    """(columns, rows, hash) of the oracle query."""
    df = con.execute(sql).fetchdf()
    return sorted(df.columns), len(df), render(df)


def parquet_files(path):
    """A parquet file, or the part files of a parquet directory."""
    return [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet")))


def tables_read(sql):
    """The input tables a query names after FROM, JOIN or a comma. A table
    name in a string literal (' part one.') does not count; a false match
    would only cost a cache miss."""
    return [t for t in TABLES
            if re.search(rf"(?:\bfrom|\bjoin|,)\s+{t}\b", sql, re.IGNORECASE)]


def cache_key(sql, data):
    """SHA-256 of the query text and of the bytes of every input table it
    reads: an oracle result depends on nothing else."""
    h = hashlib.sha256(sql.encode())
    for t in tables_read(sql):
        for f in parquet_files(os.path.join(data, f"{t}.parquet")):
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected_cached(con, sql, data, cache):
    """`expected`, remembered under `cache` by `cache_key`: the documents,
    embeddings and events tables do not vary with the seed, and the
    slowest oracles read only them."""
    path = os.path.join(cache, cache_key(sql, data) + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    want = expected(con, sql)
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def compare(result_dir, want):
    """None if the parquet files under `result_dir` match `want`, else why."""
    files = parquet_files(result_dir)
    if not files:
        return "no result files"
    df = pq.ParquetDataset(files).read().to_pandas()
    cols, rows, digest = want
    if sorted(df.columns) != cols:
        return f"columns {sorted(df.columns)} vs {cols}"
    if len(df) != rows:
        return f"rows {len(df)} vs {rows}"
    if render(df) != digest:
        return "hash mismatch"
    return None


def parquet_rows(path):
    """Row count of a parquet file or directory of part files."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))
