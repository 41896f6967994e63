"""``lake.read_range`` on small lakes built here: every answer equals
``read_datalake`` filtered the same way, row for row, and building the
frame lists only the covering directories and runs no Spark job.
"""

from __future__ import annotations

import os
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geniepool_etl_spark.lake import read_datalake, read_range, write_datalake

PS = 100  # partition size of these lakes: bucket = pos // 100

# (chrom, pos): chr1 fills buckets 0, 1, 2 and 5 (3 and 4 are absent);
# chr2 holds bucket 1 only; chrUn:1 is a name Spark's writer escapes.
POSITIONS = [
    ("chr1", 5), ("chr1", 42), ("chr1", 99), ("chr1", 100), ("chr1", 150),
    ("chr1", 250), ("chr1", 520), ("chr2", 120), ("chr2", 180),
    ("chrUn:1", 7), ("chrUn:1", 130),
]
SCHEMA = (
    "chrom STRING, pos INT, ref STRING, alt STRING, "
    "entries ARRAY<STRUCT<sample: STRING, gt: STRING>>"
)


def _rows(tag: str = "a") -> list[tuple]:
    return [
        (c, p, "A", "G", [(f"s{p % 3}{tag}", "0/1"), (f"t{p}", "1/1")])
        for c, p in POSITIONS
    ]


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "pos_bucket", F.floor(F.col("pos") / PS).cast("int")
    )


@pytest.fixture(scope="module")
def lake_dir(spark, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("range") / "lake")
    write_datalake(_frame(spark, _rows()), out, max_records_per_file=1)
    return out


def _expected(spark, lake, chrom, lo, hi) -> list:
    df = read_datalake(spark, lake).where(
        (F.col("chrom") == chrom) & F.col("pos").between(lo, hi)
    )
    return sorted(df.collect(), key=str)


def _assert_same(spark, lake, chrom, lo, hi) -> list:
    got = read_range(spark, lake, chrom, lo, hi, partition_size=PS)
    assert got.schema == read_datalake(spark, lake).schema
    rows = sorted(got.collect(), key=str)
    assert rows == _expected(spark, lake, chrom, lo, hi)
    return rows


@pytest.mark.parametrize(
    "chrom, lo, hi, n",
    [
        ("chr1", 150, 150, 1),  # point hit
        ("chr1", 151, 151, 0),  # miss inside an existing bucket
        ("chr1", 350, 350, 0),  # miss in an absent bucket
        ("chr1", 300, 499, 0),  # every covering bucket absent
        ("chrX", 150, 150, 0),  # absent chromosome
        ("chr1", 42, 260, 5),  # range across buckets 0..2
        ("chr1", 90, 600, 5),  # range over present and absent buckets
        ("chrUn:1", 0, 199, 2),  # chrom escaped in the directory name
        ("chr1", 10, 5, 0),  # empty range: no bucket covers it
    ],
)
def test_read_range_matches_read_datalake(spark, lake_dir, chrom, lo, hi, n):
    assert len(_assert_same(spark, lake_dir, chrom, lo, hi)) == n


def test_order_by_pos(spark, lake_dir):
    got = read_range(spark, lake_dir, "chr1", 0, 299, PS, order_by_pos=True)
    assert [r.pos for r in got.collect()] == [5, 42, 99, 100, 150, 250]


def test_input_files_are_in_covering_dirs(spark, lake_dir):
    got = read_range(spark, lake_dir, "chr1", 42, 160, partition_size=PS)
    files = got.inputFiles()
    covering = {
        os.path.join(lake_dir, "chrom=chr1", f"pos_bucket={b}") for b in (0, 1)
    }
    assert files and {os.path.dirname(urlparse(f).path) for f in files} <= covering
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_build_runs_no_spark_job(spark, lake_dir):
    """Building the frame reads one footer on the driver: no schema
    inference job, for a hit and for a miss."""
    sc = spark.sparkContext
    group = f"read-range-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_range build")
    try:
        read_range(spark, lake_dir, "chr1", 42, 260, partition_size=PS)
        read_range(spark, lake_dir, "chrX", 1, 1, partition_size=PS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_overwrite_is_seen_by_next_query(spark, tmp_path):
    out = str(tmp_path / "lake")
    write_datalake(_frame(spark, _rows("a")), out)
    first = _assert_same(spark, out, "chr1", 0, 199)
    write_datalake(_frame(spark, _rows("b")[:3] + [("chr1", 160, "C", "T", [])]), out)
    second = _assert_same(spark, out, "chr1", 0, 199)
    assert sorted(r.pos for r in second) == [5, 42, 99, 160]
    assert second != first


def test_pyarrow_written_lake(spark, tmp_path):
    """A lake written without Spark's row metadata in the footers: the
    schema comes from the parquet schema itself, REQUIRED fields read
    back nullable as in ``read_datalake``."""
    out = str(tmp_path / "lake")
    table = pa.table(
        {
            "chrom": [c for c, _ in POSITIONS],
            "pos": pa.array([p for _, p in POSITIONS], pa.int32()),
            "qual": pa.array([float(p) / 2 for _, p in POSITIONS], pa.float64()),
            "pos_bucket": [p // PS for _, p in POSITIONS],
        },
        schema=pa.schema(
            [
                pa.field("chrom", pa.string()),
                pa.field("pos", pa.int32(), nullable=False),
                pa.field("qual", pa.float64()),
                pa.field("pos_bucket", pa.int64()),
            ]
        ),
    )
    pq.write_to_dataset(table, out, partition_cols=["chrom", "pos_bucket"])
    assert len(_assert_same(spark, out, "chr1", 42, 260)) == 5
    assert len(_assert_same(spark, out, "chr2", 1, 1)) == 0


def test_merge_schema_conf_merges_covering_files(spark, tmp_path):
    """Under ``spark.sql.parquet.mergeSchema=true`` Spark infers the
    merged schema over the covering directories."""
    out = str(tmp_path / "lake")
    write_datalake(_frame(spark, _rows()).where("pos < 100"), out)
    write_datalake(
        _frame(spark, _rows()).where("pos >= 100").withColumn("extra", F.lit(1)),
        out,
        mode="append",
    )
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        got = read_range(spark, out, "chr1", 0, 199, partition_size=PS)
        assert "extra" in got.columns
        by_pos = {r.pos: r.extra for r in got.collect()}
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert by_pos == {5: None, 42: None, 99: None, 100: 1, 150: 1}


def test_integer_chrom_names_stay_string(spark, tmp_path):
    """Known divergence: when every chromosome name is an integer,
    Spark's partition inference gives ``read_datalake`` an INT ``chrom``;
    ``read_range`` keeps the STRING the writer wrote. Rows agree."""
    out = str(tmp_path / "lake")
    rows = [("1", p, "A", "G", []) for p in (5, 150)] + [("2", 120, "A", "G", [])]
    write_datalake(_frame(spark, rows), out)
    got = read_range(spark, out, "1", 0, 199, partition_size=PS)
    assert read_datalake(spark, out).schema["chrom"].dataType.simpleString() == "int"
    assert got.schema["chrom"].dataType.simpleString() == "string"
    assert sorted((r.chrom, r.pos) for r in got.collect()) == [("1", 5), ("1", 150)]


def test_missing_lake_raises_spark_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_range(spark, str(tmp_path / "nope"), "chr1", 1, 2, partition_size=PS)
