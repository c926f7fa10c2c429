"""Adopting rename-era keyed tables (``migrate_keyed_table``).

Keyed tables once committed by directory rename: plain ``kb=<b>``
partition dirs, a meta without ``"commit": "marker"``, delta seq dirs
whose presence was the commit. The commit manifest is now the only
protocol, so every entry point refuses such a table with an error
naming ``migrate_keyed_table``, which adopts it in O(metadata): one
manifest referencing the existing dirs (a stranded ``_old.kb.<b>``
standing in for its missing live dir), ``_COMMITTED`` markers on the
committed seq dirs, rename-era staging cleared, then the meta flip.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K
from tests.rename_era import write_rename_era_table


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _parquet_files(path):
    """{relative path: size} of every parquet file under the table."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def _tree(path):
    return sorted(
        (os.path.relpath(os.path.join(r, f), path), os.path.getmtime(os.path.join(r, f)))
        for r, _d, fs in os.walk(path)
        for f in fs
    )


def _rename_era(spark, path):
    """A rename-era table caught mid-crash: 4 kb=<b> dirs, one of them
    stranded at _old.kb.<b> (a swap died between its two renames), one
    unmarked pending delta, and staging leftovers. Returns the rows it
    holds and the stranded bucket id."""
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
    )
    delta = spark.createDataFrame([(1, -1, "d1"), (500, 5, "ins")], "k long, v long, tag string")
    write_rename_era_table(spark, path, base, ["k"], 4, deltas=(delta,), gc_generations=8)
    b = min(int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("kb="))
    os.rename(f"{path}/kb={b}", f"{path}/_old.kb.{b}")
    os.makedirs(f"{path}/_staging/kb={b}")
    os.makedirs(f"{path}/_delta/_staging_seq")
    want = {(k, 2 * k, "base") for k in range(200) if k != 1} | {(1, -1, "d1"), (500, 5, "ins")}
    return want, b


def test_migrate_adopts_rename_era_table(spark, tmp_path):
    path = str(tmp_path / "t")
    want, stranded = _rename_era(spark, path)
    files = _parquet_files(path)
    for entry in (
        lambda: K.read_keyed_table(spark, path),
        lambda: K.upsert_keyed_table(
            spark, path, spark.createDataFrame([(2, 0, "x")], "k long, v long, tag string")
        ),
        lambda: K.recover_keyed_table(spark, path),
        lambda: K.keyed_table_history(spark, path),
    ):
        with pytest.raises(ValueError, match="migrate_keyed_table"):
            entry()

    out = K.migrate_keyed_table(spark, path)
    assert out == {
        "migrated": True, "commit": 1, "buckets": 4,
        "from_aside": [stranded], "marked_seqs": [1],
    }
    assert _rows(K.read_keyed_table(spark, path)) == want
    assert _parquet_files(path) == files, "no data file moved or rewritten"
    assert not os.path.exists(f"{path}/_staging")
    assert not os.path.exists(f"{path}/_delta/_staging_seq")
    assert K._current_commit(spark, path)["buckets"][str(stranded)] == f"_old.kb.{stranded}"

    tree = _tree(path)
    again = K.migrate_keyed_table(spark, path)
    assert again["migrated"] is False and again["commit"] == 1
    assert _tree(path) == tree, "a second run changes nothing on disk"

    # the full lifecycle runs on the adopted table
    assert _rows(K.read_keyed_table(spark, path, at_commit=1)) == want
    assert K.compact_keyed_table(spark, path)["deltas_folded"] == 1  # commit 2
    assert _rows(K.read_keyed_table(spark, path)) == want
    K.upsert_keyed_table(
        spark, path, spark.createDataFrame([(2, 222, "cow")], "k long, v long, tag string")
    )
    seq = K.upsert_keyed_table(
        spark, path,
        spark.createDataFrame([(3, 333, "mor")], "k long, v long, tag string"),
        mode="mor",
    )["seq"]
    assert seq == 2, "seq numbering continues past the migrated delta"
    K.compact_keyed_table(spark, path)
    want2 = (want - {(2, 4, "base"), (3, 6, "base")}) | {(2, 222, "cow"), (3, 333, "mor")}
    assert _rows(K.read_keyed_table(spark, path)) == want2
    assert _rows(K.read_keyed_table(spark, path, at_commit=2)) == want
    K.rollback_keyed_table(spark, path, to_commit=2)
    assert _rows(K.read_keyed_table(spark, path)) == want


def test_migrate_resumes_after_crash_before_meta_flip(spark, tmp_path, monkeypatch):
    """A crash after the manifest PUT but before the meta flip leaves
    the table refused (the flip is the commit point); the re-run reuses
    the published manifest instead of stacking a second one."""
    path = str(tmp_path / "t")
    want, _ = _rename_era(spark, path)

    def boom(*a, **kw):
        raise RuntimeError("crash before the meta flip")

    monkeypatch.setattr(K, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="meta flip"):
        K.migrate_keyed_table(spark, path)
    monkeypatch.undo()
    with pytest.raises(ValueError, match="migrate_keyed_table"):
        K.read_keyed_table(spark, path)
    out = K.migrate_keyed_table(spark, path)
    assert out["migrated"] and out["commit"] == 1
    commits = [f for f in os.listdir(f"{path}/_commits") if f.startswith("commit-")]
    assert commits == ["commit-1.json"]
    assert _rows(K.read_keyed_table(spark, path)) == want

