"""Benchmark inputs and their DuckDB reference answers.

Two stages:

* ``make_base(dir)`` writes the seed-independent base tables once per
  checkout: TPC-H ``lineitem`` (the 11 columns graft's tests use) and
  ``orders`` from DuckDB's bundled dbgen at scale factor 0.1, and a
  5,000-document ``documents`` corpus from a fixed-seed generator whose
  constants reproduce the measured shape of graft's sf0.1 ``documents``
  test table (see ``_documents``).
* ``prepare(workload, seed, base, run_dir, oracle, repo_root)`` writes
  the seed's inputs for one run: the base rows in a seed-drawn order plus
  any seed-drawn parameters, and the expected answer of every operation,
  computed by DuckDB from the same rows.

Two seeds give inputs of identical size and different bytes; one seed
always gives identical bytes.
"""
import json
import os
import random
import shutil
from decimal import Decimal

import duckdb

BASE_VERSION = "2"
SCALE_FACTOR = 0.1
N_DOCS = 5000

LINEITEM_COLS = ("l_orderkey, l_partkey, l_suppkey, "
                 "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
                 "l_quantity, l_extendedprice, l_discount, l_tax, "
                 "l_returnflag, l_linestatus, l_shipdate")
ORDERS_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               "o_orderdate, o_orderpriority")
# The corpus constants, measured with DuckDB on graft's sf0.1 test table
# documents.parquet (5,000 rows, 1,485,576 characters of text): every
# text is 10-99 words (uniform, mean 54.2) drawn uniformly from these 30
# words, separated by single spaces; lang is en for 41% of the rows and
# de, es, fr, zh for 14-15% each; source is src<doc_id % 20>; 250 rows
# (5%) are near-duplicates, the text of another row followed by " dup",
# which also makes 8 pairs of exact duplicates (two copies of one row);
# n_chars is the text's length.
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
N_NEAR_DUPLICATES = 250


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads = 4")
    return con


def _documents():
    """Deterministic corpus with the measured shape described at VOCAB:
    random texts first, then the near-duplicates, each overwriting one
    row with another row's text plus " dup" (a copy of a copy keeps
    both suffixes, as in the measured table)."""
    rng = random.Random(20260917)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 99)))
             for _ in range(N_DOCS)]
    for _ in range(N_NEAR_DUPLICATES):
        dst, src = rng.sample(range(N_DOCS), 2)
        texts[dst] = texts[src] + " dup"
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=N_DOCS)
    return [(i, t, langs[i], f"src{i % N_SOURCES}", len(t))
            for i, t in enumerate(texts)]


def make_base(base_dir):
    """Write the base tables into ``base_dir`` (idempotent per version)."""
    stamp = os.path.join(base_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == BASE_VERSION:
        return
    os.makedirs(base_dir, exist_ok=True)
    con = connect()
    con.execute(f"CALL dbgen(sf = {SCALE_FACTOR})")
    con.execute(f"COPY (SELECT {LINEITEM_COLS} FROM lineitem "
                "ORDER BY l_orderkey, l_linenumber) "
                f"TO '{base_dir}/lineitem.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT {ORDERS_COLS} FROM orders ORDER BY o_orderkey) "
                f"TO '{base_dir}/orders.parquet' (FORMAT parquet)")
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                    _documents())
    con.execute("COPY (SELECT * FROM documents ORDER BY doc_id) "
                f"TO '{base_dir}/documents.parquet' (FORMAT parquet)")
    con.close()
    with open(stamp, "w") as f:
        f.write(BASE_VERSION)


def _cell(v):
    """Expected cell: exact values as canonical strings, floats as numbers."""
    if v is None:
        return None
    if isinstance(v, float):
        return v
    if isinstance(v, Decimal):
        s = format(v.normalize(), "f")
        return "0" if s in ("-0", "0") else s
    return str(v)


def _rows(con, sql):
    return [[_cell(v) for v in row] for row in con.execute(sql).fetchall()]


def _permuted(con, src, name, keys, seed):
    """View ``name`` over the rows of ``src``; table ``name_seeded`` holds
    them numbered in the seed's order (column ``rn_``, from 0)."""
    con.execute(f"CREATE TABLE {name}_seeded AS SELECT *, row_number() OVER "
                f"(ORDER BY hash({keys}, {seed}::UBIGINT), {keys}) - 1 AS rn_ "
                f"FROM read_parquet('{src}')")
    con.execute(f"CREATE VIEW {name} AS SELECT * EXCLUDE (rn_) FROM {name}_seeded")


def _seeded_rows(name, where="TRUE"):
    return f"SELECT * EXCLUDE (rn_) FROM {name}_seeded WHERE {where} ORDER BY rn_"


def _to_parquet(con, name, path):
    con.execute(f"COPY ({_seeded_rows(name)}) TO '{path}' (FORMAT parquet)")


def _csv_bytes(con, sql):
    """Bytes of the rows as headerless CSV, the user-facing size."""
    cols = [r[0] for r in con.execute(f"DESCRIBE ({sql})").fetchall()]
    line = ", ".join(f'"{c}"::VARCHAR' for c in cols)
    return con.execute(
        f"SELECT SUM(strlen(concat_ws(',', {line})) + 1)::BIGINT "
        f"FROM ({sql})").fetchone()[0]


def _q1_sql(table, cutoff):
    return f"""
      SELECT l_returnflag, l_linestatus,
        SUM(l_quantity) AS sum_qty,
        SUM(l_extendedprice) AS sum_base_price,
        SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        SUM(l_discount) AS sum_disc,
        SUM(l_orderkey) AS sum_orderkey,
        SUM(l_partkey) AS sum_partkey,
        SUM(l_suppkey) AS sum_suppkey,
        SUM(l_linenumber) AS sum_linenumber,
        COUNT(*) AS count_order
      FROM {table}
      WHERE l_shipdate <= DATE '{cutoff}'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""


def _commit_params(rng):
    """Key residues for the table lifecycle. One MERGE residue class lies
    inside the inserted keys and one outside, and the UPDATE class misses
    both, so every seed matches, updates, deletes and inserts the same
    share of rows through the same kinds of files."""
    ins = rng.randrange(3)
    inside = rng.choice([r for r in range(30) if r % 3 == ins])
    outside = rng.choice([r for r in range(30) if r % 3 != ins])
    return {
        "insert_mod": 3, "insert_res": ins,
        "merge_mod": 30, "merge_res": [inside, outside],
        "update_mod": 10, "update_res": rng.choice(
            [r for r in range(10) if r not in (inside % 10, outside % 10)]),
        "delete_mod": 7, "delete_res": rng.randrange(7),
    }


def _commit_filters(p):
    """The INSERT, MERGE, UPDATE and DELETE key predicates on column k."""
    return (f"k % {p['insert_mod']} = {p['insert_res']}",
            " OR ".join(f"k % {p['merge_mod']} = {r}" for r in p["merge_res"]),
            f"k % {p['update_mod']} = {p['update_res']}",
            f"k % {p['delete_mod']} = {p['delete_res']}")


def _commit_expected(con, p):
    """Per-version aggregates of the table lifecycle, derived in SQL."""
    ins, mrg, upd, dele = _commit_filters(p)
    return _rows(con, f"""
      WITH src AS (SELECT o_orderkey AS k, o_orderstatus AS s,
          CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
      v2 AS (SELECT k, s, p FROM src WHERE {ins}),
      d AS (SELECT k, s, p FROM src WHERE {mrg}),
      v3 AS (
        SELECT k, s, p FROM v2 WHERE k NOT IN (SELECT k FROM d)
        UNION ALL
        SELECT v2.k, v2.s, v2.p + 100 FROM v2 JOIN d USING (k) WHERE v2.s <> 'F'
        UNION ALL
        SELECT k, s, p FROM d WHERE k NOT IN (SELECT k FROM v2)),
      v4 AS (SELECT k, s, CASE WHEN {upd} THEN p + 10 ELSE p END AS p FROM v3),
      v5 AS (SELECT k, s, p FROM v4 WHERE NOT ({dele})),
      snaps AS (
        SELECT 1 AS version, k, s, p FROM v2 WHERE false
        UNION ALL SELECT 2, k, s, p FROM v2
        UNION ALL SELECT 3, k, s, p FROM v3
        UNION ALL SELECT 4, k, s, p FROM v4
        UNION ALL SELECT 5, k, s, p FROM v5),
      versions AS (SELECT unnest([1, 2, 3, 4, 5]) AS version)
      SELECT v.version, COUNT(sn.k) AS n_rows,
        COUNT(sn.k) FILTER (sn.s = 'F') AS n_f_status,
        COALESCE(SUM(sn.p), 0) AS sum_price,
        COALESCE(SUM(sn.k), 0) AS sum_key
      FROM versions v LEFT JOIN snaps sn USING (version)
      GROUP BY v.version ORDER BY v.version""")


def prepare(workload, seed, base_dir, run_dir, oracle, repo_root):
    """Write the seed's inputs under ``run_dir``; return the run's
    parameters, expected answers and byte counts as a dict."""
    rng = random.Random(seed)
    src = os.path.join(run_dir, "source")
    os.makedirs(src, exist_ok=True)
    native_cli(repo_root, run_dir)
    con = connect()
    out = {"workload": workload, "seed": seed}
    if workload == "bro_scan":
        _permuted(con, f"{base_dir}/lineitem.parquet", "lineitem",
                  "l_orderkey, l_linenumber", seed)
        cutoff = con.execute(
            f"SELECT DATE '1998-12-01' - INTERVAL {60 + rng.randrange(61)} DAY"
        ).fetchone()[0].date().isoformat()
        out["cutoff"] = cutoff
        out["user_bytes"] = write_scan_csv(con, "lineitem", run_dir)
        out["expected"] = {"q1": _rows(con, _q1_sql("lineitem", cutoff))}
    elif workload == "llm_pipeline":
        _permuted(con, f"{base_dir}/documents.parquet", "documents", "doc_id", seed)
        out["documents"] = f"{src}/documents.parquet"
        _to_parquet(con, "documents", out["documents"])
        out["user_bytes"] = con.execute(
            "SELECT SUM(strlen(text))::BIGINT FROM documents").fetchone()[0]
        out["expected"] = {name: _rows(con, sql) for name, sql in sorted(oracle.items())}
    elif workload == "table_commit":
        _permuted(con, f"{base_dir}/orders.parquet", "orders", "o_orderkey", seed)
        out["orders"] = f"{src}/orders.parquet"
        _to_parquet(con, "orders", out["orders"])
        p = out["commit"] = _commit_params(rng)
        ins, mrg, _, _ = _commit_filters(p)
        out["user_bytes"] = _csv_bytes(
            con, "SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) "
            f"FROM (SELECT *, o_orderkey AS k FROM orders) WHERE ({ins}) OR ({mrg})")
        out["expected"] = {"versions": _commit_expected(con, p)}
    else:
        raise ValueError(f"unknown workload {workload}")
    con.close()
    return out


def native_cli(repo_root, work_dir):
    """The repository's native Brotli CLI, copied into the run directory
    (where the harness finds it) so it can be made executable whatever
    mode the checkout gave it."""
    dst = os.path.join(work_dir, "brotli_cli")
    shutil.copy(os.path.join(repo_root, "tools", "brotli_cli"), dst)
    os.chmod(dst, 0o755)
    return dst


def write_scan_csv(con, table, run_dir, parts=4):
    """The scan input: ``table`` as headerless CSV in the seed's order,
    in ``parts`` files of consecutive slices under ``<run_dir>/<table>_csv``.
    The harness compresses them into the ``.bro`` and ``.brf`` copies.
    Returns the CSV's size in bytes."""
    csv_dir = os.path.join(run_dir, f"{table}_csv")
    os.makedirs(csv_dir)
    n = con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
    size = 0
    for i in range(parts):
        path = os.path.join(csv_dir, f"part-{i:05d}.csv")
        rows = _seeded_rows(table, f"rn_ >= {n * i // parts} AND rn_ < {n * (i + 1) // parts}")
        con.execute(f"COPY ({rows}) TO '{path}' (FORMAT csv, HEADER false)")
        size += os.path.getsize(path)
    return size


def write_params(params, path):
    with open(path, "w") as f:
        json.dump(params, f)
