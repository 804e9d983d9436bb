"""Checks query results written by the benchmark against their oracle SQL.

Each query's oracle is its `SparkEntry.oracleSql` entry (for c01-c05 the
pinned `Goldens` VALUES tables), run with DuckDB over the same parquet
tables. Oracle results depend only on the SQL text and the tables, so they
are cached under perfbench/work/oracle-cache, keyed by both.
"""
import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb


def _tables(sf_dir):
    return sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))


def _connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for path in _tables(sf_dir):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _data_key(sf_dir):
    h = hashlib.sha256()
    for path in _tables(sf_dir):
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()


def _norm(v):
    """A value in a form both engines render alike."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2 ** 53:
            return int(v)
        return float(f"{v:.9g}")
    if isinstance(v, int):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return str(v)


def _rows(con, relation_sql):
    cur = con.execute(relation_sql)
    cols = [d[0].lower() for d in cur.description]
    return cols, cur.fetchall()


def _canon(cols, rows, order):
    idx = [cols.index(c) for c in order]
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=repr)


def check_all(outputs, oracle_sql, sf_dir, cache_dir):
    """Yield (query, ok, info) for every query with an oracle entry. A query
    that produced no result is a failure, never a skip.
    """
    os.makedirs(cache_dir, exist_ok=True)
    con = _connect(sf_dir)
    data_key = _data_key(sf_dir)
    for name in sorted(oracle_sql):
        if name not in outputs:
            yield name, False, "no result"
            continue
        try:
            key = hashlib.sha256((data_key + oracle_sql[name]).encode()).hexdigest()[:32]
            cached = os.path.join(cache_dir, f"{name}-{key}.parquet")
            if not os.path.exists(cached):
                tmp = cached + ".tmp"
                con.execute(f"COPY ({oracle_sql[name]}) TO '{tmp}' (FORMAT PARQUET)")
                os.replace(tmp, cached)
            ocols, orows = _rows(con, f"SELECT * FROM read_parquet('{cached}')")
            scols, srows = _rows(con, f"SELECT * FROM read_parquet('{outputs[name]}/*.parquet')")
            if sorted(ocols) != sorted(scols):
                yield name, False, f"columns differ: spark {scols} oracle {ocols}"
                continue
            a, b = _canon(scols, srows, scols), _canon(ocols, orows, scols)
            if a != b:
                only_s = [r for r in a if r not in set(b)][:2]
                only_o = [r for r in b if r not in set(a)][:2]
                yield name, False, (f"rows differ ({len(a)} vs {len(b)}): "
                                    f"spark-only {only_s} oracle-only {only_o}")
            else:
                yield name, True, f"{len(a)} rows"
        except Exception as e:  # a broken check is a failed check
            yield name, False, f"{type(e).__name__}: {e}"
