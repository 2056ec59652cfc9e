"""DuckDB oracle check for query_mix outputs.

Compares a query's persisted parquet output with the query's oracle SQL
(`graft.SparkEntry.oracleSql`) run by DuckDB over the same input tables, the
same way as tools/check_oracle.py: per-column type kinds must match, no
decimal column may appear, and the rows must be equal as sorted sets of
normalized cells (floats to 10 significant digits).
"""
import math
import os

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

_connections = {}
_oracle_rows = {}


def _connection(table_dir):
    con = _connections.get(table_dir)
    if con is None:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            if os.path.exists(f"{table_dir}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
        _connections[table_dir] = con
    return con


def type_kind(t):
    if pa.types.is_dictionary(t):
        return type_kind(t.value_type)
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_kind(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_kind(f.type)}" for f in t) + ">"
    if pa.types.is_map(t):
        return f"map<{type_kind(t.key_type)},{type_kind(t.item_type)}>"
    return str(t)


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(tbl):
    df = tbl.to_pandas()
    df = df[sorted(df.columns)]
    return sorted(tuple(_cell(v) for v in row) for row in df.itertuples(index=False))


def compare(table_dir, out_dir, sql):
    """None when the output matches the oracle, else the reason it does not."""
    con = _connection(table_dir)
    try:
        mine = con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").arrow()
    except Exception as e:  # no output files, unreadable output
        return f"cannot read output: {e}"
    key = (table_dir, sql)
    if key not in _oracle_rows:
        theirs = con.execute(sql).arrow()
        _oracle_rows[key] = ({f.name: type_kind(f.type) for f in theirs.schema}, _rows(theirs))
    sig_t, rows_t = _oracle_rows[key]
    sig_m = {f.name: type_kind(f.type) for f in mine.schema}
    if sig_m != sig_t:
        return f"type mismatch: {sorted(set(sig_m.items()) ^ set(sig_t.items()))}"
    if any("decimal" in k for k in sig_m.values()):
        return "decimal column in the final schema"
    rows_m = _rows(mine)
    if rows_m != rows_t:
        return f"{len(rows_m)} rows vs oracle {len(rows_t)}"
    return None
