"""Order-independent hash of a query result, read through DuckDB.

The same function hashes the DuckDB oracle's result (record_oracle.py) and
the parquet result the harness writes for each registry query (run.py), so
both sides are decoded by one engine. Columns are taken in name order and
rows are sorted, so neither column nor row order matters. Values are
canonicalized to the equality that tools/selfcheck.py applies (exact, with
NULL equal to NULL): every number becomes its exact decimal expansion, so
an INT 3, a DOUBLE 3.0 and a DECIMAL 3.00 hash alike while 0.1 as a double
and 0.1 as a decimal do not.
"""
import datetime
import decimal
import hashlib
import json
import math


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        d = decimal.Decimal(v)
        if d == 0:
            return "0"
        return format(d.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [[canon(k), canon(x)] for k, x in v.items()]
    return str(v)


def result_hash(con, relation_sql):
    """(sorted column names, row count, sha256) of `relation_sql` on `con`."""
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({relation_sql}) LIMIT 0").description]
    order = sorted(cols)
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in order)
    rows = con.execute(f"SELECT {quoted} FROM ({relation_sql})").fetchall()
    lines = sorted(json.dumps([canon(v) for v in r], ensure_ascii=False) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return order, len(lines), h.hexdigest()


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def connect(fixture_dir):
    """A DuckDB connection with one view per fixture table, clock in UTC."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
    return con
