"""Output checks, run after the timed passes of a run.

Every step output of every pass is compared with DuckDB over the same
generated inputs:

* query steps (curation, iterative) against the query's
  `SparkEntry.oracleSql` entry, by the rule of tools/check.py: columns in
  name order, rows as a multiset, values exact;
* template steps against DuckDB running the step's own SQL: the JSON files
  per split key, the Avro files (decoded by the Avro library in the
  harness), the TFRecord files (decoded here), the upsert table and the
  error-branch rows.

`check` returns {(pass index, step name): reason} for each mismatch.
"""
import glob
import gzip
import os
import re
import struct

import duckdb
import pyarrow as pa

import workloads


def sql_literal(v):
    return str(v) if isinstance(v, int) else "'" + str(v).replace("'", "''") + "'"


def bind(query, params):
    """The step's SQL with its `@param`s as DuckDB literals."""
    return re.sub(r"@([A-Za-z_]\w*)", lambda m: sql_literal(params[m.group(1)]), query)


def multiset_diff(con, got, want):
    """Rows in one relation and not the other, both ways (duplicates count)."""
    return con.sql(f"SELECT (SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))) + "
                   f"(SELECT count(*) FROM (({want}) EXCEPT ALL ({got})))").fetchone()[0]


def compare(con, got, want, what):
    n_got = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
    n_want = con.sql(f"SELECT count(*) FROM ({want})").fetchone()[0]
    if n_got != n_want:
        return f"{what}: {n_got} rows, want {n_want}"
    if n_want == 0:
        return f"{what}: no rows (the check would be vacuous)"
    d = multiset_diff(con, got, want)
    return f"{what}: {d} rows differ" if d else None


def columns(con, sql):
    return [(r[0], r[1]) for r in con.sql(f"DESCRIBE ({sql})").fetchall()]


def files(pattern):
    return "[" + ", ".join(sql_literal(f) for f in sorted(glob.glob(pattern))) + "]"


# ---------------------------------------------------------------- TFRecord

def _varint(b, i):
    v = shift = 0
    while True:
        c = b[i]
        i += 1
        v |= (c & 0x7F) << shift
        if c < 0x80:
            return v, i
        shift += 7


def _int64(x):
    return x - (1 << 64) if x >= 1 << 63 else x


def _feature(b, i, end):
    """Value of one `tf.train.Feature` in b[i:end]: bytes_list (1),
    float_list (2) or int64_list (3); a one-element list gives a scalar."""
    kind = b[i] >> 3
    n, i = _varint(b, i + 1)
    stop, vals = i + n, []
    while i < stop:
        wire = b[i] & 7
        i += 1
        if kind == 1:
            n, i = _varint(b, i)
            vals.append(b[i:i + n].decode("utf-8"))
            i += n
        elif wire == 2:  # packed floats or varints
            n, i = _varint(b, i)
            if kind == 2:
                vals += struct.unpack_from(f"<{n // 4}f", b, i)
                i += n
            else:
                e = i + n
                while i < e:
                    x, i = _varint(b, i)
                    vals.append(_int64(x))
        elif kind == 2:
            vals.append(struct.unpack_from("<f", b, i)[0])
            i += 4
        else:
            x, i = _varint(b, i)
            vals.append(_int64(x))
    return vals[0] if len(vals) == 1 else vals


def read_tfrecords(path):
    """Rows of one gzip'd TFRecord file of `tf.train.Example`s: each record
    is a u64 length, a u32 CRC, the payload and a u32 CRC."""
    with gzip.open(path, "rb") as fh:
        data = fh.read()
    rows, i = [], 0
    while i < len(data):
        (n,) = struct.unpack_from("<Q", data, i)
        j, end = i + 12, i + 12 + n
        i = end + 4
        row = {}
        _, j = _varint(data, j + 1)              # Example.features
        while j < end:                            # Features.feature map entries
            m, j = _varint(data, j + 1)
            e = j + m
            k, j = _varint(data, j + 1)          # entry key
            key = data[j:j + k].decode("utf-8")
            m, j = _varint(data, j + k + 1)      # entry value: Feature
            row[key] = _feature(data, j, j + m)
            j = e
        rows.append(row)
    return rows


# ---------------------------------------------------------------- templates

def check_text(con, st, d, want):
    cols = columns(con, want)
    pattern = os.path.join(d, "out_*.json")
    if not glob.glob(pattern):
        return "no output files"
    spec = "{" + ", ".join(f"'{c}': '{'VARCHAR' if t.startswith('TIMESTAMP') else t}'"
                           for c, t in cols) + "}"
    key = "regexp_extract(filename, 'out_(.*?)(-[0-9]{5})?\\.json$', 1)"
    got = (f"SELECT {key} AS split_key, {', '.join(c for c, _ in cols)} FROM read_json("
           f"{files(pattern)}, format='newline_delimited', filename=true, columns={spec})")
    # timestamps are written as RFC 3339 text
    want_cols = ", ".join(f"strftime({c}, '%Y-%m-%dT%H:%M:%SZ') AS {c}"
                          if t.startswith("TIMESTAMP") else c for c, t in cols)
    w = f"SELECT coalesce(CAST({st['split']} AS VARCHAR), '') AS split_key, {want_cols} FROM ({want})"
    return compare(con, got, w, "rows")


def epoch_cols(cols):
    return ", ".join(f"epoch_us({c}) AS {c}" if t.startswith("TIMESTAMP") else c
                     for c, t in cols)


def check_avro(con, st, d, want):
    pattern = os.path.join(d, "out_*.avro.jsonl")
    if not glob.glob(pattern):
        return "no output files"
    cols = columns(con, want)
    spec = "{" + ", ".join(f"'{c}': '{'BIGINT' if t.startswith('TIMESTAMP') else t}'"
                           for c, t in cols) + "}"
    key = "regexp_extract(filename, 'out_(.*?)(-p[0-9]{5})?\\.avro\\.jsonl$', 1)"
    got = (f"SELECT {key} AS split_key, {', '.join(c for c, _ in cols)} FROM read_json("
           f"{files(pattern)}, format='newline_delimited', filename=true, columns={spec})")
    w = (f"SELECT coalesce(CAST({st['split']} AS VARCHAR), '') AS split_key, "
         f"{epoch_cols(cols)} FROM ({want})")
    return compare(con, got, w, "rows")


def check_tfrecord(con, st, d, want):
    names = sorted(glob.glob(os.path.join(d, "out_*.tfrecord")))
    if not names:
        return "no output files"
    cols = columns(con, want)
    rows = []
    for n in names:
        key = re.match(r"out_(.*)-p[0-9]{5}\.tfrecord$", os.path.basename(n)).group(1)
        rows += [dict(r, split_key=key) for r in read_tfrecords(n)]
    arrays = {"split_key": pa.array([r["split_key"] for r in rows], pa.string())}
    for c, t in cols:
        typ = pa.string() if t == "VARCHAR" else pa.float64() if t == "DOUBLE" else pa.int64()
        arrays[c] = pa.array([r.get(c) for r in rows], typ)
    con.register("tf_got", pa.table(arrays))
    # DOUBLE columns travel as float32 features
    sel = ", ".join(f"CAST(CAST({c} AS FLOAT) AS DOUBLE) AS {c}" if t == "DOUBLE" else c
                    for c, t in cols)
    w = f"SELECT coalesce(CAST({st['split']} AS VARCHAR), '') AS split_key, {sel} FROM ({want})"
    got = f"SELECT split_key, {', '.join(c for c, _ in cols)} FROM tf_got"
    return compare(con, got, w, "rows")


def table(d):
    return f"read_parquet({sql_literal(os.path.join(d, '*.parquet'))})"


UPSERT_KEYS = "l_orderkey, l_linenumber"


def compare_upsert(con, got, batch, what):
    """An upsert keeps one row per key. The fixtures repeat keys (600,000
    lineitem rows, 456,861 distinct (l_orderkey, l_linenumber)), and the
    writer keeps an unspecified one of a key's batch rows: so `got` must
    hold exactly one row per key of `batch`, each equal to a batch row."""
    n_got, keys_got = con.sql(f"SELECT count(*), count(DISTINCT ({UPSERT_KEYS})) "
                              f"FROM ({got})").fetchone()
    keys = con.sql(f"SELECT count(DISTINCT ({UPSERT_KEYS})) FROM ({batch})").fetchone()[0]
    if n_got != keys or keys_got != keys:
        return f"{what}: {n_got} rows with {keys_got} keys, want one row for each of {keys} keys"
    if keys == 0:
        return f"{what}: no rows (the check would be vacuous)"
    stray = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ({batch}))").fetchone()[0]
    return f"{what}: {stray} rows equal no batch row" if stray else None


def check_upserts(con, pass_dir):
    """upsert_new wrote the table, upsert_merge merged into it: each step is
    judged on the keys it owns in the final table."""
    cols = ", ".join(c for c, _ in columns(con, "SELECT * FROM want_upsert_new"))
    t = table(os.path.join(pass_dir, "upsert_new", "table"))
    if not glob.glob(os.path.join(pass_dir, "upsert_new", "table", "*.parquet")):
        return {"upsert_new": "no table", "upsert_merge": "no table"}
    batch = f"SELECT {cols} FROM want_upsert_merge"
    good = f"SELECT * FROM ({batch}) WHERE l_orderkey IS NOT NULL"
    first = f"SELECT {cols} FROM want_upsert_new"

    def keyed(rel, join):
        return f"SELECT {cols} FROM ({rel}) r {join} JOIN ({good}) g USING ({UPSERT_KEYS})"

    out = {
        "upsert_new": compare_upsert(con, keyed(f"SELECT * FROM {t}", "ANTI"), keyed(first, "ANTI"),
                                     "rows outside the merge batch"),
        "upsert_merge": compare_upsert(con, keyed(f"SELECT * FROM {t}", "SEMI"), good,
                                       "merged rows"),
    }
    err = os.path.join(pass_dir, "upsert_merge", "error", "*.avro.jsonl")
    if not out["upsert_merge"]:
        ctypes = columns(con, batch)
        spec = "{" + ", ".join(f"'{c}': '{t}'" for c, t in ctypes) + "}"
        got = (f"SELECT {cols} FROM read_json({files(err)}, format='newline_delimited', "
               f"columns={spec})") if glob.glob(err) else f"SELECT * FROM ({batch}) LIMIT 0"
        out["upsert_merge"] = compare(con, got, f"SELECT * FROM ({batch}) WHERE l_orderkey IS NULL",
                                      "error-branch rows")
    return out


# ---------------------------------------------------------------- driver

def check(workload, steps, inputs, work, result):
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": os.cpu_count() or 1,
                                 "temp_directory": os.path.join(work, "duckdb-tmp")})
    for t in workloads.TABLES[workload]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"{sql_literal(os.path.join(inputs, t + '.parquet'))})")
    # expected results do not depend on the pass: compute each once
    for st in steps:
        sql = result["oracle"][st["name"]] if st["kind"] == "query" else (
            bind(st["query"], st["params"]) if "query" in st else None)
        if sql:
            con.sql(f"CREATE TABLE want_{st['name']} AS {sql}")
    oracle = {name: sorted(c for c, _ in columns(con, f"SELECT * FROM want_{name}"))
              for name in result["oracle"]}
    bad = {}
    for p in result["passes"]:
        ran = {s["name"] for s in p["steps"] if s["ok"]}
        pass_dir = os.path.join(work, "out", f"pass-{p['index']}")
        found = {}
        if workload == "templates":
            found.update(guarded(lambda: check_upserts(con, pass_dir),
                                 ["upsert_new", "upsert_merge"]))
        for st in steps:
            name = st["name"]
            if name not in found and name in ran:
                found.update(guarded(lambda: {name: check_step(con, st, pass_dir, oracle)}, [name]))
        for name, why in found.items():
            if why and name in ran:
                bad[(p["index"], name)] = why
    return bad


def guarded(fn, names):
    """A check that crashes fails its steps rather than the run."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - any crash is a failed check
        return {n: f"check error: {type(e).__name__}: {e}"[:300] for n in names}


def check_step(con, st, pass_dir, oracle):
    name, d = st["name"], os.path.join(pass_dir, st["name"])
    kind = st["kind"]
    if kind == "query":
        got_cols = sorted(c for c, _ in columns(con, f"SELECT * FROM {table(d)}"))
        if got_cols != oracle[name]:
            return f"columns {got_cols}, want {oracle[name]}"
        sel = ", ".join(f'"{c}"' for c in oracle[name])
        return compare(con, f"SELECT {sel} FROM {table(d)}", f"SELECT {sel} FROM want_{name}",
                       "rows")
    want = f"SELECT * FROM want_{name}"
    return {"text": check_text, "avro": check_avro, "tfrecord": check_tfrecord}[kind](
        con, st, d, want)
