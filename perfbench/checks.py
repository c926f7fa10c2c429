"""Output checks, run outside the timed section.

Spark results arrive as Arrow tables and are compared inside DuckDB as
order-insensitive multisets, after a per-type normalization: floats to
12 significant digits (the registry's float discipline), timestamps to
naive UTC, integers to one width. Each check returns a list of problem
strings; an empty list is a pass.
"""

from __future__ import annotations

import os

import duckdb

_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def connect(fixture_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(fixture_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{fixture_dir}/{f}')")
    return con


def _normalized(con, rel: str) -> tuple[list[str], str]:
    cols = con.execute(f"DESCRIBE {rel}").fetchall()
    names, exprs = [], []
    for name, typ, *_ in sorted(cols):
        c, t = f'"{name}"', typ.upper()
        if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
            e = f"printf('%.12g', {c}::DOUBLE)"
        elif t.startswith("TIMESTAMP") or t == "DATE":
            e = f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
        elif t in _INTS:
            e = f"CAST(CAST({c} AS HUGEINT) AS VARCHAR)"
        else:
            e = f"CAST({c} AS VARCHAR)"
        names.append(name)
        exprs.append(f'{e} AS "{name}"')
    return names, f"SELECT {', '.join(exprs)} FROM {rel}"


def compare(con, got, want_sql: str) -> list[str]:
    """Multiset comparison of an Arrow table against DuckDB SQL."""
    con.register("got_t", got)
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE want_t AS {want_sql}")
        gcols, gsel = _normalized(con, "got_t")
        wcols, wsel = _normalized(con, "want_t")
        if gcols != wcols:
            return [f"columns differ: got={gcols} want={wcols}"]
        extra = con.execute(f"SELECT count(*) FROM ({gsel} EXCEPT ALL {wsel})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM ({wsel} EXCEPT ALL {gsel})").fetchone()[0]
        n_got, n_want = got.num_rows, con.execute("SELECT count(*) FROM want_t").fetchone()[0]
        if extra or missing:
            return [f"{extra} unexpected and {missing} missing rows (got {n_got}, want {n_want})"]
        return []
    finally:
        con.unregister("got_t")


def _jaccard_sql(shingle_cte: str, pairs: str) -> str:
    """Exact word-3-gram Jaccard of ``pairs`` (id_a, id_b, ...), with the
    registry oracle's shingle definition."""
    return (
        shingle_cte
        + f""", pj AS (
          SELECT p.*, round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS exact
          FROM {pairs} p JOIN docs a ON a.doc_id = p.id_a JOIN docs b ON b.doc_id = p.id_b)
        """
    )


def check_pairs(
    con,
    got,
    shingle_cte: str,
    recall_min_jaccard: float,
    state_ids: str | None = None,
    batch_ids: str | None = None,
) -> tuple[list[str], dict]:
    """Near-duplicate pair output (id_a, id_b, jaccard):

    - every reported pair carries its exact Jaccard, and that is >= 0.5;
    - every planted pair whose exact Jaccard is >= ``recall_min_jaccard``
      is reported (for an incremental probe: the planted pairs with one
      side in ``state_ids`` and the other in ``batch_ids``)."""
    con.register("got_pairs", got)
    try:
        bad, n = con.execute(
            _jaccard_sql(shingle_cte, "got_pairs")
            + "SELECT count(*) FILTER (WHERE exact IS DISTINCT FROM jaccard OR exact < 0.5), count(*) FROM pj"
        ).fetchone()
        if state_ids is None:
            planted = "SELECT least(id_orig, id_copy) AS id_a, greatest(id_orig, id_copy) AS id_b FROM planted"
        else:
            planted = (
                f"SELECT id_orig AS id_a, id_copy AS id_b FROM planted "
                f"WHERE id_orig IN ({state_ids}) AND id_copy IN ({batch_ids}) "
                f"UNION ALL SELECT id_copy, id_orig FROM planted "
                f"WHERE id_copy IN ({state_ids}) AND id_orig IN ({batch_ids})"
            )
        con.execute(f"CREATE OR REPLACE TEMP TABLE planted_pairs AS {planted}")
        expected, found = con.execute(
            _jaccard_sql(shingle_cte, "planted_pairs")
            + f"""SELECT count(*), count(*) FILTER (WHERE EXISTS (
                     SELECT 1 FROM got_pairs g WHERE g.id_a = pj.id_a AND g.id_b = pj.id_b))
               FROM pj WHERE exact >= {recall_min_jaccard}"""
        ).fetchone()
    finally:
        con.unregister("got_pairs")
    problems = []
    if bad:
        problems.append(f"{bad} of {n} reported pairs have a wrong or sub-threshold Jaccard")
    if n != got.num_rows:
        problems.append(f"{got.num_rows - n} reported pairs name unknown documents")
    if found < expected:
        problems.append(f"planted-pair recall {found}/{expected}")
    return problems, {"planted_expected": expected, "planted_found": found, "pairs": got.num_rows}


class KeyedReplay:
    """DuckDB replay of the CDC batch log: the expected table after
    every batch."""

    def __init__(self, con, cols: list[str]) -> None:
        self.con, self.cols = con, ", ".join(cols)
        con.execute("CREATE OR REPLACE TEMP TABLE live AS SELECT * FROM orders")

    def apply(self, batch: int) -> None:
        self.con.execute(f"DELETE FROM live WHERE o_orderkey IN (SELECT o_orderkey FROM cdc_batch_{batch})")
        self.con.execute(f"INSERT INTO live SELECT {self.cols} FROM cdc_batch_{batch} WHERE op = 'upsert'")

    def lookup_sql(self, keys: list[int]) -> str:
        return f"SELECT {self.cols} FROM live WHERE o_orderkey IN ({', '.join(map(str, keys))})"

    def scan_sql(self) -> str:
        return f"SELECT {self.cols} FROM live"

    def compact_copy_bytes(self, dest: str) -> int:
        """Bytes of a compact zstd parquet copy of the live rows."""
        self.con.execute(f"COPY live TO '{dest}' (FORMAT PARQUET, COMPRESSION ZSTD)")
        return os.path.getsize(dest)
