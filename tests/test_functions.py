"""Session-conf handling of the shared helpers in ``functions``: the
materialization gate rejects unknown modes, and ``fan_out_if_narrow``
reads ``maxPartitionBytes`` as Spark does (size strings included)."""

from __future__ import annotations

import pytest

from geniepool_etl_spark.functions import (
    MATERIALIZE_CONF,
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
