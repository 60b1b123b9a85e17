"""Check oracle-query outputs against DuckDB, row for row, the way
tools/check_oracle.py does: sorted multisets of canonical values, -0.0
folded into 0.0, columns matched by name. DuckDB's answers are cached by
SQL text and table contents, because computing them is far slower than
running the engine on the same tables."""

import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == 0.0:
            return "0.0"
        return repr(v)
    return repr(v)


def rows_of(df):
    cols = sorted(df.columns)
    return cols, sorted(tuple(canon(v) for v in row) for row in df[cols].itertuples(index=False))


def tables_digest(data):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def connect(data):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    return con


def expected(con, sql, key, cache_dir):
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            got = json.load(f)
        return got["columns"], [tuple(r) for r in got["rows"]]
    cols, rows = rows_of(con.execute(sql).fetchdf())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"columns": cols, "rows": rows}, f)
    os.replace(tmp, path)
    return cols, rows


def check(queries, outputs, data, cache_dir):
    """Compare each query's engine output (parquet under outputs/<name>)
    with DuckDB's answer to its oracle SQL. Returns {name: None if equal,
    else a reason}."""
    con = connect(data)
    digest = tables_digest(data)
    result = {}
    for name, sql in sorted(queries.items()):
        key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()
        try:
            wcols, wrows = expected(con, sql, key, cache_dir)
            gcols, grows = rows_of(con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(outputs, name)}/*.parquet')").fetchdf())
        except Exception as e:  # a query DuckDB or the output cannot run is a failure
            result[name] = f"error: {e}"[:300]
            continue
        if gcols != wcols:
            result[name] = f"columns {gcols} vs {wcols}"
        elif len(grows) != len(wrows):
            result[name] = f"{len(grows)} rows vs {len(wrows)}"
        elif grows != wrows:
            diff = [(g, w) for g, w in zip(grows, wrows) if g != w][:2]
            result[name] = f"value mismatch, first diffs: {diff}"[:300]
        else:
            result[name] = None
    con.close()
    return result
