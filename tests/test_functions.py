"""Shared helpers in ``functions``: the materialization gate rejects
unknown modes, ``fan_out_if_narrow`` reads ``maxPartitionBytes`` as
Spark does (size strings included), and the hot-key cap keeps a key at
exactly its cap."""

from __future__ import annotations

import pytest

from geniepool_etl_spark.functions import (
    MATERIALIZE_CONF,
    cap_hot_keys,
    ckpt_eager,
    ckpt_lazy,
    fan_out_if_narrow,
)


@pytest.fixture
def conf(spark):
    """Set session confs for one test; restore them afterwards."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("mode", [None, "localCheckpoint", "persist", "off"])
def test_materialize_modes_keep_rows(spark, conf, mode):
    if mode is not None:
        conf(MATERIALIZE_CONF, mode)
    df = spark.range(10)
    for barrier in (ckpt_lazy, ckpt_eager):
        out = df.transform(barrier)
        assert sorted(r.id for r in out.collect()) == list(range(10))
        out.unpersist()


def test_unknown_materialize_mode_fails_loudly(spark, conf):
    conf(MATERIALIZE_CONF, "checkpoint")
    with pytest.raises(ValueError) as err:
        spark.range(3).transform(ckpt_lazy)
    for allowed in ("localCheckpoint", "persist", "off", "'checkpoint'"):
        assert allowed in str(err.value)


def test_fan_out_reads_size_string_max_partition_bytes(spark, conf, tmp_path):
    """A single one-split parquet file is narrow; with
    ``maxPartitionBytes`` given as ``128m`` the helper still fans out."""
    target = spark.sparkContext.defaultParallelism
    assert target > 1, "needs a session with more than one core"
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    conf("spark.sql.files.maxPartitionBytes", "128m")
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1
    out = fan_out_if_narrow(df)
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_cap_hot_keys_boundary_and_composite_key(spark):
    # (a, 1) x3, (b, 1) x4, (a, 2) x4: with cap 3, a key with 3 rows
    # stays and a key with 4 rows goes
    rows = [("a", 1)] * 3 + [("b", 1)] * 4 + [("a", 2)] * 4
    df = spark.createDataFrame(rows, "k STRING, j INT")

    one = cap_hot_keys(df.where("j = 1"), ["k"], 3)
    assert one.columns == ["k", "j"]
    assert sorted(tuple(r) for r in one.collect()) == [("a", 1)] * 3

    both = cap_hot_keys(df, ["k", "j"], 3)
    assert sorted(tuple(r) for r in both.collect()) == [("a", 1)] * 3
    # on the single key 'k' over all rows, 'a' has 7 rows: nothing stays
    assert cap_hot_keys(df, ["k"], 3).count() == 0
