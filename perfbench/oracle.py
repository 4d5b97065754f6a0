"""DuckDB answers for catalog entries, in the canonical form of the
repository's oracle check (`tools/check_oracle.py`): columns sorted by
name, rows compared in order, floats by repr, NaN as a string. Answers
are reduced to a digest, computed after the timed passes; answers that
read only the input tables are computed once and cached.
"""
import hashlib
import json
import math
import os

from decimal import Decimal

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
STAGED = "__GRAFT_STAGED__"


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())  # equal decimals of different scale compare equal
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def digest(cursor):
    """(row count, digest) of a result: columns by name, rows in order."""
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256(json.dumps([cols[i] for i in order]).encode())
    n = 0
    for row in cursor.fetchall():
        h.update(json.dumps([canon(row[i]) for i in order], default=str).encode())
        n += 1
    return f"{n}:{h.hexdigest()[:32]}"


def connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def cache_key(sql, data_dir):
    """Key of an answer that reads only the input tables: the SQL and the
    tables' sizes."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            h.update(f"{t}:{os.path.getsize(p)}".encode())
    return h.hexdigest()[:40]


def expected(con, sql, cache_dir, data_dir, stage_root):
    """Digest of the oracle answer. SQL over staged assets is run every time
    (staged parquet bytes differ between runs); the rest once per key."""
    if STAGED in sql:
        return digest(con.execute(sql.replace(STAGED, stage_root)))
    path = os.path.join(cache_dir, cache_key(sql, data_dir) + ".txt")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        with open(path, "w") as fh:
            fh.write(digest(con.execute(sql)))
    with open(path) as fh:
        return fh.read()


def produced(con, out_dir):
    return digest(con.execute(f"SELECT * FROM '{out_dir}/*.parquet'"))
