"""Expected result digests from the DuckDB oracle (`SparkEntry.oracleSql`),
computed over the same parquet tables the program reads, in the same
canonical form as `Harness.digest` / `Harness.cell` on the JVM side.

Digests are cached under .bench_build/oracle, keyed by the SQL text and the
size and mtime of every table file, so a checkout runs each oracle once.
"""
import datetime
import decimal
import hashlib
import json
import math
from pathlib import Path

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_MOD = 1 << 128


def _plain(d):
    """Exact decimal text without trailing zeros (no context rounding)."""
    if d == 0:
        return "0"
    s = format(d, "f")
    return s.rstrip("0").rstrip(".") if "." in s else s


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "n:NaN"
        if math.isinf(v):
            return "n:Inf" if v > 0 else "n:-Inf"
        return "n:" + _plain(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return "n:NaN"
        return "n:" + _plain(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        aware = v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
        return f"t:{(aware - _EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return f"o:{v}"


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "".join(f"{len(c)}:{c}" for c in (cell(r[i]) for i in order))
        total = (total + int.from_bytes(hashlib.md5(text.encode("utf-8")).digest(), "big")) % _MOD
    return ",".join(columns[i] for i in order) + f"|{len(rows)}|{total:x}"


def _dataset_key(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        for f in sorted(p.rglob("*")) if p.is_dir() else [p]:
            if f.is_file():
                st = f.stat()
                h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def expected(oracle_sql, data_dir, cache_dir):
    """{query name: digest or 'error: ...'} for every query in oracle_sql."""
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    data_key = _dataset_key(data_dir)
    out, todo = {}, {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256((data_key + "\0" + sql).encode()).hexdigest()[:24]
        f = cache_dir / f"{key}.json"
        if f.is_file():
            out[name] = json.loads(f.read_text())["digest"]
        else:
            todo[name] = (sql, f)
    if todo:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in TABLES:
            p = Path(data_dir) / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for name, (sql, f) in todo.items():
            try:
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                out[name] = digest(cols, cur.fetchall())
                f.write_text(json.dumps({"query": name, "digest": out[name]}))
            except Exception as e:  # an oracle that fails is a failed check
                out[name] = f"error: {e}"
        con.close()
    return out
