"""Seeded benchmark fixtures, derived with DuckDB from the read-only sf0.1
testdata tables (``$PERFBENCH_TESTDATA``, default: the ``sf0.1`` sibling of
the test suite's ``SF_CORRECT`` directory).

Every fixture is a directory of one-file parquet tables, cached per
(fixture, seed) under the checkout's ``.perfbench/fixtures``. The same
seed always gives byte-identical inputs; generation is never timed.

- ``warehouse``: the sf0.1 tables its queries read, each with its rows in a
  seed-permuted order (the values are untouched, so every registry
  oracle still applies), plus a CDC batch log against orders: per batch
  about 1% upserts, 0.2% deletes and a few fresh-key inserts, and 8
  lookup keys per batch.
- ``corpus``: the sf0.1 documents plus planted near-duplicates (a
  seeded tenth of the documents, copied with one word replaced), the
  permuted embeddings, and the MinHash-state split: two thirds of the
  documents seed the state, half of the rest arrive as an ingest batch.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb

#: The tables the warehouse workload's queries read.
WAREHOUSE_TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]
#: Fresh keys of CDC inserts start here, far above every sf0.1 key.
INSERT_KEY_BASE = 10**8
KEYED_BATCHES = 2
LOOKUPS_PER_BATCH = 8
PLANTED_COPY_OFFSET = 10**6
#: Cached fixtures kept per name; older seeds are deleted.
KEEP_PER_NAME = 4


def _source() -> str:
    """The sf0.1 testdata directory. Importing the test configuration also
    pins the process time zone to UTC, as it does for the test suite."""
    from tests.conftest import SF_CORRECT

    return os.environ.get("PERFBENCH_TESTDATA", os.path.join(os.path.dirname(SF_CORRECT), "sf0.1"))


def _permuted(con, src: str, table: str, seed: int, dest: str) -> None:
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet') t "
        f"ORDER BY hash(t, {seed})) TO '{dest}/{table}.parquet' (FORMAT PARQUET)"
    )


def _gen_warehouse(con, src: str, seed: int, dest: str) -> None:
    for t in WAREHOUSE_TABLES:
        _permuted(con, src, t, seed, dest)
    _gen_cdc_log(con, seed, dest)


def _gen_corpus(con, src: str, seed: int, dest: str) -> None:
    docs = f"read_parquet('{src}/documents.parquet')"
    # One word of a seeded tenth of the documents is replaced by a token
    # that appears nowhere else; the copy keeps every other column.
    con.execute(
        f"""CREATE TABLE planted AS
        SELECT doc_id AS id_orig, CAST(doc_id + {PLANTED_COPY_OFFSET} AS BIGINT) AS id_copy,
               list_transform(string_split(text, ' '),
                   (w, i) -> CASE WHEN i = 1 + hash(doc_id, {seed}, 1) % len(string_split(text, ' '))
                                  THEN 'edit' || CAST(hash(doc_id, {seed}, 2) % 997 AS VARCHAR)
                                  ELSE w END) AS words,
               lang, source
        FROM {docs} WHERE hash(doc_id, {seed}) % 10 = 0"""
    )
    con.execute(
        f"""CREATE TABLE docs AS
        SELECT doc_id, text, lang, source, n_chars FROM {docs}
        UNION ALL
        SELECT id_copy, array_to_string(words, ' '), lang, source,
               CAST(length(array_to_string(words, ' ')) AS BIGINT)
        FROM planted"""
    )
    con.execute(
        f"COPY (SELECT * FROM docs t ORDER BY hash(t, {seed})) "
        f"TO '{dest}/documents.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT id_orig, id_copy FROM planted ORDER BY id_orig) "
        f"TO '{dest}/planted.parquet' (FORMAT PARQUET)"
    )
    _permuted(con, src, "embeddings", seed, dest)
    # MinHash-state split: part 0 seeds the state, part 1 is the ingest
    # batch probed against (and appended to) it.
    part = f"CASE WHEN hash(doc_id, {seed}, 3) % 3 <> 0 THEN 0 ELSE 1 + CAST(hash(doc_id, {seed}, 4) % 2 AS INT) END"
    for p, name in enumerate(["state_docs", "state_batch"]):
        con.execute(
            f"COPY (SELECT doc_id, text FROM docs WHERE {part} = {p} ORDER BY hash(doc_id, {seed}, 5)) "
            f"TO '{dest}/{name}.parquet' (FORMAT PARQUET)"
        )


def _gen_cdc_log(con, seed: int, dest: str) -> None:
    orders = f"read_parquet('{dest}/orders.parquet')"
    for b in range(1, KEYED_BATCHES + 1):
        h = f"hash(o_orderkey, {seed}, {b}) % 1000"
        con.execute(
            f"""COPY (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderstatus = 'O' THEN 'F' ELSE 'O' END AS o_orderstatus,
                     round(o_totalprice + {b}, 2) AS o_totalprice, o_orderdate, o_orderpriority,
                     'upsert' AS op
              FROM {orders} WHERE {h} < 10
              UNION ALL
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                     o_orderpriority, 'delete' AS op
              FROM {orders} WHERE {h} BETWEEN 10 AND 11
              UNION ALL
              SELECT CAST({INSERT_KEY_BASE} * {b} + o_orderkey AS BIGINT), o_custkey,
                     o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, 'upsert' AS op
              FROM {orders} WHERE hash(o_orderkey, {seed}, {b}, 9) % 1500 = 0
            ) TO '{dest}/cdc_batch_{b}.parquet' (FORMAT PARQUET)"""
        )
    # Lookup keys per batch: two upserted, two deleted, two inserted and
    # two untouched keys, so every resolution path is probed.
    lookups = {}
    for b in range(1, KEYED_BATCHES + 1):
        batch = f"read_parquet('{dest}/cdc_batch_{b}.parquet')"
        keys = []
        for cond in (
            f"op = 'upsert' AND o_orderkey < {INSERT_KEY_BASE}",
            "op = 'delete'",
            f"o_orderkey >= {INSERT_KEY_BASE}",
        ):
            keys += [r[0] for r in con.execute(
                f"SELECT o_orderkey FROM {batch} WHERE {cond} ORDER BY hash(o_orderkey, {seed}) LIMIT 2"
            ).fetchall()]
        keys += [r[0] for r in con.execute(
            f"SELECT o_orderkey FROM {orders} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {batch}) "
            f"ORDER BY hash(o_orderkey, {seed}, {b}, 7) LIMIT {LOOKUPS_PER_BATCH - len(keys)}"
        ).fetchall()]
        lookups[str(b)] = keys
    with open(f"{dest}/lookups.json", "w") as fh:
        json.dump(lookups, fh)


GENERATORS = {"warehouse": _gen_warehouse, "corpus": _gen_corpus}


def fixture(root: str, name: str, seed: int) -> str:
    """Path of the (name, seed) fixture, generating it on first use."""
    src = _source()
    dest = os.path.join(root, f"{name}-{seed}")
    if os.path.exists(os.path.join(dest, "_DONE")):
        return dest
    tmp = dest + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        GENERATORS[name](con, src, seed, tmp)
    finally:
        con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    _prune(root, name)
    return dest


def _prune(root: str, name: str) -> None:
    cached = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root)
        if d.startswith(f"{name}-") and ".tmp" not in d
    )
    for _mtime, d in cached[:-KEEP_PER_NAME]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def describe(path: str) -> dict:
    """Rows and MB of every parquet table of a fixture."""
    out = {}
    con = duckdb.connect()
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            p = os.path.join(path, f)
            rows = con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
            out[f[: -len(".parquet")]] = {"rows": rows, "mb": round(os.path.getsize(p) / 2**20, 3)}
    con.close()
    return out
