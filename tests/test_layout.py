"""Z-order layout clustering: key correctness and row-group pruning effect."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.operators.layout import (
    cluster_by_zorder,
    rowgroups_overlapping,
    with_zorder_key,
    zorder_key,
)


def test_zorder_key_interleaves_bits(spark):
    # x=0b11, y=0b00 -> key bits ...x1 y0 x0 = 0b0101; x=0,y=3 -> 0b1010
    df = spark.createDataFrame(
        [(3, 0), (0, 3), (3, 3), (0, 0)], ["x", "y"]
    ).withColumn(
        "k",
        zorder_key([F.col("x").cast("long"), F.col("y").cast("long")], bits=2),
    )
    got = {(r["x"], r["y"]): r["k"] for r in df.collect()}
    assert got == {(3, 0): 0b0101, (0, 3): 0b1010, (3, 3): 0b1111, (0, 0): 0}


def test_zorder_key_locality(spark):
    # Morton keys of nearby 2-D points are nearer than far points on average:
    # check that the key range covered by a small box is far smaller than the
    # full key range (that containment is exactly what min/max pruning uses).
    pts = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(pts, ["x", "y"])
    keyed = with_zorder_key(df, ["x", "y"], bits=6)
    full = keyed.agg(
        F.min("__zkey").alias("lo"), F.max("__zkey").alias("hi")
    ).collect()[0]
    box = (
        keyed.filter("x < 8 AND y < 8")
        .agg(F.min("__zkey").alias("lo"), F.max("__zkey").alias("hi"))
        .collect()[0]
    )
    assert (box["hi"] - box["lo"]) < (full["hi"] - full["lo"]) / 16


def test_zorder_prunes_rowgroups_vs_linear(spark, tmp_path):
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    bounds = li.agg(
        F.max("l_partkey").alias("hp"), F.max("l_suppkey").alias("hs")
    ).collect()[0]
    # a ~1/64 box predicate on both clustered dims
    pred = {
        "l_partkey": (0.0, bounds["hp"] / 8),
        "l_suppkey": (0.0, bounds["hs"] / 8),
    }
    root = str(tmp_path)
    z_path = os.path.join(root, "zorder")
    lin_path = os.path.join(root, "linear")
    cluster_by_zorder(li, ["l_partkey", "l_suppkey"], num_files=16, path=z_path)
    (
        li.repartitionByRange(16, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(lin_path)
    )
    z_hit, z_total = rowgroups_overlapping(z_path, pred)
    l_hit, l_total = rowgroups_overlapping(lin_path, pred)
    assert z_total >= 16 and l_total >= 16
    # the orderkey-sorted layout can't prune on (partkey, suppkey) at all;
    # the z-ordered one must skip a solid majority of row groups
    assert l_hit == l_total
    assert z_hit <= z_total // 2

    # layout must not change the data
    assert (
        spark.read.parquet(z_path).count()
        == spark.read.parquet(lin_path).count()
        == li.count()
    )
