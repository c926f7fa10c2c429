"""Reader snapshot safety during writes and re-loads (round 13, #5).

Readers resolve bucket data ONLY through the commit manifest, and
superseded dirs survive ``gc_generations`` further commits, so a read
never observes a half-published write: pinned here with a threaded
reader-during-COW storm. A re-load that dies before its manifest flip
leaves the old generation whole, and directories no manifest
references are invisible to readers whatever their name.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def _mk(spark, rows=1_000, buckets=8):
    tmp = tempfile.mkdtemp(prefix="keyed_snap_")
    path = f"{tmp}/tab"
    base = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=buckets)
    return path


def _cleanup(path):
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def test_marker_readers_never_torn_during_cow_storm(spark):
    """Threaded done-gate: readers hammer a marker table while COW
    upserts continuously swap buckets. Every read must see a complete,
    internally-consistent snapshot: exactly 500 rows, and v uniform
    across the whole table (each batch rewrites EVERY key to the same
    new value, so a mixed-generation read shows two v values)."""
    tmp = tempfile.mkdtemp(prefix="keyed_snap_storm_")
    path = f"{tmp}/tab"
    base = spark.range(500).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=4)
    try:
        errors: list[str] = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                try:
                    rows = K.read_keyed_table(spark, path).groupBy("v").count().collect()
                    total = sum(r["count"] for r in rows)
                    if total != 500:
                        errors.append(f"saw {total} rows")
                    if len(rows) != 1:
                        errors.append(f"mixed generations: {rows}")
                except Exception as exc:  # noqa: BLE001
                    errors.append(f"reader crashed: {exc}")

        threads = [threading.Thread(target=reader) for _ in range(2)]
        for t in threads:
            t.start()
        try:
            for gen in range(1, 6):
                batch = spark.range(500).select(
                    F.col("id").alias("k"),
                    F.lit(gen * 1000).cast("long").alias("v"),
                    F.lit("s").alias("tag"),
                )
                K.upsert_keyed_table(spark, path, batch, mode="cow",
                                     assume_unique=True)
        finally:
            stop.set()
            for t in threads:
                t.join()
        assert not errors, errors[:5]
    finally:
        _cleanup(path)


def test_reload_crash_leaves_old_generation_salvageable(spark, monkeypatch):
    """A re-load that dies before its manifest flip leaves the old
    generation whole — still the table every reader resolves; the retry
    completes, and its pre-write sweep GCs the dead attempt's dirs."""
    path = _mk(spark, rows=100, buckets=2)
    try:
        def dies(*a, **kw):
            raise RuntimeError("simulated crash before the manifest flip")

        monkeypatch.setattr(K, "_write_commit", dies)
        fresh = spark.range(10).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v"),
            F.lit("g2").alias("tag"),
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            K.write_keyed_table(fresh, path, ["k"], num_buckets=2)
        monkeypatch.undo()
        tab = K.read_keyed_table(spark, path)
        assert tab.count() == 100, "old generation must survive the crash"
        assert tab.filter(F.col("k") == 3).first().v == 6
        K.write_keyed_table(fresh, path, ["k"], num_buckets=2)
        tab = K.read_keyed_table(spark, path)
        assert tab.count() == 10
        assert tab.filter(F.col("k") == 3).first().v == 7
        referenced = set()
        for f in os.listdir(os.path.join(path, K._COMMITS_DIR)):
            if f.startswith("commit-"):
                referenced |= set(K._read_commit_manifest(
                    spark, path, int(f[len("commit-"):-len(".json")])
                )["buckets"].values())
        on_disk = {d for d in os.listdir(path) if d.startswith("_b")}
        assert on_disk == referenced, "dead attempt's dirs GC'd"
    finally:
        _cleanup(path)


def test_retired_dirs_hidden_from_readers(spark):
    """Directories no manifest references are invisible whatever their
    name: rename-era leftovers (``_retired.kb.<b>``, a plain ``kb=<b>``
    partition dir) planted with decoy rows never join a read."""
    path = _mk(spark, rows=100, buckets=2)
    try:
        live = next(iter(K._current_commit(spark, path)["buckets"].values()))
        for decoy in (f"_retired.{K.BUCKET_COL}.99", f"{K.BUCKET_COL}=99"):
            shutil.copytree(os.path.join(path, live), os.path.join(path, decoy))
        assert K.read_keyed_table(spark, path).count() == 100
    finally:
        _cleanup(path)
