"""Range-bucketed Parquet lake: writer, reader, pruned range queries,
status log.

Physical layout (reference M:127-138; SURVEY.md §1.1): Hive-partitioned
parquet on ``(chrom, pos_bucket)``; files capped at
``MAX_RECORDS_PER_FILE`` rows; data ``repartition``-ed by the partition
columns before the write so each Hive partition is produced by one
task group (no small-file explosion at 1000 executors).

The serving-side contract is ``read_range``: a genomic point/range
query must touch only the partition directories its positions can live
in. The reader derives the covering ``pos_bucket`` ids arithmetically,
finds which ``chrom=<c>/pos_bucket=<b>`` directories exist with one
Hadoop glob, and hands only those to Spark; the schema comes from one
of their parquet footers, read on the driver. No whole-lake listing
and no Spark job happen before the query runs. The ``chrom`` /
``pos_bucket IN (...)`` / ``pos BETWEEN`` filter stays on the frame, so
the plan still shows its PartitionFilters (SURVEY.md §4 "partition
pruning").
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructType

from geniepool_etl_spark.config import MAX_RECORDS_PER_FILE, PARTITION_SIZE


def write_datalake(
    df: DataFrame,
    output_path: str,
    max_records_per_file: int = MAX_RECORDS_PER_FILE,
    mode: str = "overwrite",
    sort_within: bool = False,
) -> None:
    """Partitioned lake write (reference M:127-138).

    ``sort_within`` additionally sorts rows by ``pos`` inside each
    partition's task before writing: parquet row-group min/max stats
    then become disjoint pos ranges, so a ``pos BETWEEN`` predicate
    skips whole row groups at read time (data skipping *below* the
    directory-level partition pruning ``read_range`` already gets).
    Costs one in-task sort at write; changes no results.

    Gotcha (verified empirically): Spark's planned-write optimization
    (``spark.sql.optimizer.plannedWrite.enabled``, default on since
    3.4) REPLACES user ordering before a V1 file write with its own
    partition-column-only sort, silently discarding the pos order —
    the conf is disabled around the write when ``sort_within`` is set.
    """
    out = df.repartition(F.col("chrom"), F.col("pos_bucket"))
    conf = df.sparkSession.conf
    planned = conf.get("spark.sql.optimizer.plannedWrite.enabled", "true")
    try:
        if sort_within:
            out = out.sortWithinPartitions("chrom", "pos_bucket", "pos")
            conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
        (
            out.write.option("maxRecordsPerFile", max_records_per_file)
            .mode(mode)
            .partitionBy("chrom", "pos_bucket")
            .parquet(output_path)
        )
    finally:
        conf.set("spark.sql.optimizer.plannedWrite.enabled", planned)


def read_datalake(spark: SparkSession, lake_path: str) -> DataFrame:
    """Read the lake back (reference T:61/T:87/T:112)."""
    return spark.read.parquet(lake_path)


def buckets_for_range(
    pos_lo: int, pos_hi: int, partition_size: int = PARTITION_SIZE
) -> list[int]:
    """Bucket ids whose [lo, hi] position range intersects [pos_lo, pos_hi]."""
    if pos_hi < pos_lo:
        return []
    return list(range(pos_lo // partition_size, pos_hi // partition_size + 1))


def _covering_files(spark: SparkSession, lake_path: str, chrom: str,
                    buckets: list[int]) -> list:
    """``(path, FileStatus)`` of every parquet file in the covering
    ``chrom=<c>/pos_bucket=<b>`` directories, sorted by path: one Hadoop
    ``globStatus`` that lists only those directories. ``chrom`` is
    escaped exactly as Spark's writer names the directory."""
    if not buckets:
        return []
    jvm = spark._jvm
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(chrom)
    ids = ",".join(map(str, buckets))
    pattern = jvm.org.apache.hadoop.fs.Path(
        lake_path, f"chrom={esc}/pos_bucket={{{ids}}}/*.parquet"
    )
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    return sorted((st.getPath().toString(), st) for st in fs.globStatus(pattern) or [])


def _any_partition_file(spark: SparkSession, lake_path: str) -> list:
    """``(path, FileStatus)`` of the first parquet file met in any
    ``chrom=*/pos_bucket=*`` directory of the lake (``[]`` when there is
    none). The recursive listing is lazy and stops at that file."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(lake_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    root = fs.makeQualified(root)
    files = fs.listFiles(root, True)
    while files.hasNext():
        st = files.next()
        bucket = st.getPath().getParent()
        if (
            st.getPath().getName().endswith(".parquet")
            and bucket.getName().startswith("pos_bucket=")
            and bucket.getParent().getName().startswith("chrom=")
            and bucket.getParent().getParent().equals(root)
        ):
            return [(st.getPath().toString(), st)]
    return []


def _footer_schema(spark: SparkSession, status) -> StructType:
    """The lake schema from one file's footer, converted by Spark's own
    ``readSchemaFromFooter`` (the one-footer rule Spark's inference
    applies under ``mergeSchema=false``), plus the partition columns."""
    jvm = spark._jvm
    parquet = jvm.org.apache.parquet
    meta = parquet.hadoop.ParquetFileReader.readFooter(
        parquet.hadoop.util.HadoopInputFile.fromStatus(
            status, spark._jsc.hadoopConfiguration()
        ),
        parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    fmt = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = fmt.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    data = fmt.ParquetFileFormat.readSchemaFromFooter(
        parquet.hadoop.Footer(status.getPath(), meta), converter
    )
    return (
        StructType.fromJson(json.loads(data.json()))
        .add("chrom", StringType())
        .add("pos_bucket", IntegerType())
    )


def read_range(
    spark: SparkSession,
    lake_path: str,
    chrom: str,
    pos_lo: int,
    pos_hi: int,
    partition_size: int = PARTITION_SIZE,
    order_by_pos: bool = False,
) -> DataFrame:
    """Partition-pruned range query: all lake records for
    ``chrom ∈ [pos_lo, pos_hi]`` (the serving pattern of reference
    T:93-95 / T:118-122, with the bucket arithmetic the GeniePool
    serving layer performs done here).

    Building the frame costs what the query touches:

    - One Hadoop glob finds which covering ``chrom=<c>/pos_bucket=<b>``
      directories exist; only those are read (``basePath`` = the lake,
      so ``chrom``/``pos_bucket`` stay columns). The rest of the lake
      is never listed.
    - The schema is one covering file's footer, converted on the driver
      by Spark's own footer-to-schema code, with ``chrom STRING`` and
      ``pos_bucket INT`` appended; no inference job runs. Under
      ``spark.sql.parquet.mergeSchema=true`` Spark infers the merged
      schema itself, over the covering directories only.
    - When the chromosome or every covering bucket is absent, any one
      partition directory of the lake is read instead; the filter
      empties it, so the result is empty and keeps the lake's schema.

    The ``chrom`` / ``pos_bucket IN`` / ``pos BETWEEN`` filter stays, so
    ``.explain`` still shows PartitionFilters. Unlike ``read_datalake``,
    ``chrom`` is always STRING, also in a lake whose chromosome names
    all look like integers (where Spark's partition inference says INT).
    ``order_by_pos`` adds the serving-side ``orderBy("pos")`` the
    reference's read-back queries apply (T:93-95); it stays opt-in
    because a global sort is an extra exchange the caller may not need.
    """
    buckets = buckets_for_range(pos_lo, pos_hi, partition_size)
    files = _covering_files(spark, lake_path, chrom, buckets) or _any_partition_file(
        spark, lake_path
    )
    reader = spark.read.option("basePath", lake_path)
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    if files and merge.lower() != "true":
        reader = reader.schema(_footer_schema(spark, files[0][1]))
    # an empty or missing lake falls through to Spark's own error
    dirs = sorted({path.rsplit("/", 1)[0] for path, _ in files})
    df = reader.parquet(*(dirs or [lake_path]))
    out = df.where(
        (F.col("chrom") == chrom)
        & F.col("pos_bucket").isin(buckets)
        & F.col("pos").between(pos_lo, pos_hi)
    )
    return out.orderBy("pos") if order_by_pos else out


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sort-ordered) managed
    parquet table. Two tables bucketed identically on their join key
    sort-merge-join with ZERO exchanges — the pre-shuffled layout that
    amortizes one shuffle across every future join/aggregation on that
    key (the 100 TB co-location strategy; verified by a no-Exchange
    plan assertion in tests/test_plans.py).
    """
    spark = df.sparkSession
    # Resolve the managed location from the catalog BEFORE dropping
    # (correct for database-qualified names, whose location is
    # <warehouse>/<db>.db/<tbl>, not <warehouse>/<db>.<tbl>); for a
    # table absent from the catalog (an earlier run aborted between
    # write and commit) derive the default layout instead.
    loc: str | None = None
    if spark.catalog.tableExists(table):
        rows = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
            .where("col_name = 'Location'")
            .collect()
        )
        if rows:
            loc = rows[0]["data_type"]
    else:
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        parts = table.lower().split(".")
        if warehouse and len(parts) <= 2:
            rel = parts[-1] if len(parts) == 1 else f"{parts[0]}.db/{parts[1]}"
            loc = os.path.join(warehouse, rel)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc and loc.removeprefix("file:").startswith("/"):
        import shutil

        path = loc.removeprefix("file:")
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)

    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_status(df: DataFrame, status_path: str) -> None:
    """Append the 1-row status record as JSON (reference M:155-157).

    ``coalesce(1)`` is safe here because the input is a single
    already-aggregated row; at production scale this would be an
    append-only metadata table instead (SURVEY.md §7.3).
    """
    df.coalesce(1).write.mode("append").json(status_path)


def read_status(spark: SparkSession, status_path: str) -> DataFrame:
    return spark.read.json(status_path)


def zorder_key(cols: list, bits: int = 16) -> "F.Column":
    """Morton-interleaved (Z-order) key over non-negative integer
    columns: bit b of column i lands at key bit ``b·len(cols)+i``.

    Sorting a write by this ONE key clusters the file layout in EVERY
    participating dimension at once, so parquet min/max stats skip
    files/row groups for predicates on any of the columns — the
    multi-column generalization of ``write_datalake(sort_within=True)``
    (which buys skipping on ``pos`` only). Pure shift/mask expressions:
    codegen'd, deterministic, reproducible in any engine.

    Callers must map each dimension to a non-negative int < 2^bits
    (e.g. ``col % 2**bits``, a day number, a bucketed float); with
    ``bits·len(cols) ≤ 63`` the key fits a long.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"zorder key needs {bits * n} bits; max 63")
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def write_zordered(
    df: DataFrame,
    output_path: str,
    zcols: list,
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by the
    Z-order key of ``zcols``: range-partition on the key (contiguous,
    non-overlapping key ranges per file — one shuffle), sort within
    each task, drop the key from the stored schema. plannedWrite is
    disabled around the write for the same reason as
    :func:`write_datalake`: V1 planned-write would silently replace
    the user sort.
    """
    out = (
        df.withColumn("_zkey", zorder_key(zcols, bits))
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
    )
    conf = df.sparkSession.conf
    planned = conf.get("spark.sql.optimizer.plannedWrite.enabled", "true")
    try:
        conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
        out.drop("_zkey").write.mode(mode).parquet(output_path)
    finally:
        conf.set("spark.sql.optimizer.plannedWrite.enabled", planned)
