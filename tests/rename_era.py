"""Hand-built rename-era keyed tables: the on-disk layout written before
the commit manifest became the only keyed protocol — plain ``kb=<b>``
partition dirs, a root meta without ``"commit"``, and MOR delta seq
dirs whose presence was the commit (no ``_COMMITTED`` marker). Tests
build these to exercise :func:`migrate_keyed_table`."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def write_rename_era_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key_cols: list[str],
    num_buckets: int,
    deltas: tuple[DataFrame, ...] = (),
    **meta_extra,
) -> dict:
    """Lay down a rename-era hash-layout table at ``path``: one
    ``kb=<b>`` dir per bucket, then ``deltas`` as unmarked upsert seq
    dirs ``seq=1..``. Returns the meta written."""
    meta = {
        "key_cols": list(key_cols),
        "num_buckets": num_buckets,
        "data_cols": list(df.columns),
        "schema_json": df.schema.json(),
        "layout": "hash",
        "range_step": None,
        "sort_cols": [],
        **meta_extra,
    }
    kb = K._bucket_expr(meta)
    df.withColumn(K.BUCKET_COL, kb).repartition(num_buckets, K.BUCKET_COL).write.partitionBy(
        K.BUCKET_COL
    ).parquet(path)
    for seq, d in enumerate(deltas, start=1):
        d.select(*df.columns).withColumn(K._DEL_COL, F.lit(False)).withColumn(
            K.BUCKET_COL, kb
        ).coalesce(1).write.parquet(f"{path}/{K._DELTA_DIR}/seq={seq}")
    with open(os.path.join(path, K._META), "w") as f:
        json.dump(meta, f)
    return meta
