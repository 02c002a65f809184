"""Parquet gold sink / testdata source (SURVEY.md §2.1 S7/S8).

The reference writes one fastparquet file per view
(`pandasWrapper.py:128-135`) under a per-school-year directory. Here gold
is standard Spark parquet, partitioned by `school_year` when provided —
partition pruning then makes per-year reads free (SURVEY.md §4).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Every gold view and IVM state directory is replaced by ONE protocol:
# the new content is written beside the live directory at `<path>.next`,
# then committed by two renames (live aside to `<path>.old`, staged in).
# A partition commit displaces only the touched `<col>=<v>` directories,
# into `<path>.old-parts` — outside the live view, so a reader of the
# view never sees a displaced partition. Every name the protocol makes
# is the live path plus STAGING_MARK and a tag; no view or state name
# contains the mark, so `register_gold_views` skips such names and
# `repair` sweeps them.
STAGING_MARK = "."
_NEXT = STAGING_MARK + "next"
_OLD = STAGING_MARK + "old"
_OLD_PARTS = STAGING_MARK + "old-parts"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated testdata table (TESTDATA.md).

    The events table carries TIMESTAMP(NANOS) parquet timestamps, which
    Spark's reader rejects by default (PARQUET_TYPE_ILLEGAL). We read nanos
    as long (`spark.sql.legacy.parquet.nanosAsLong` — affects only NANOS
    columns) and rebuild a proper timestamp at microsecond precision.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def gold_path(gold_root: str, view_name: str,
              school_year: str | int | None = None) -> str:
    """Directory of one gold view: `{gold_root}/{school_year}/{view_name}`,
    or `{gold_root}/{view_name}` without a year."""
    return os.path.join(gold_root, str(school_year), view_name) \
        if school_year else os.path.join(gold_root, view_name)


def repair(path: str) -> None:
    """Heal a commit of `path` that died part-way (see STAGING_MARK).

    Crash-repair rule: a displaced directory whose replacement never
    arrived is put back — the whole `<path>.old` when `path` is missing,
    each `<path>.old-parts/<p>` when `path/<p>` is missing — and every
    other `<path>.*` leftover is deleted. The result is the old content,
    or for a partition commit a mix of old and new partitions; callers
    that splice (amt/incremental_gold.py) heal the mix by re-running the
    same splice, which is idempotent.
    """
    old = path + _OLD
    if os.path.isdir(old) and not os.path.exists(path):
        os.rename(old, path)
    parts = path + _OLD_PARTS
    if os.path.isdir(parts):
        for p in os.listdir(parts):
            if not os.path.exists(os.path.join(path, p)):
                os.rename(os.path.join(parts, p), os.path.join(path, p))
    parent, base = os.path.split(path)
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name.startswith(base + STAGING_MARK):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def write_staged(df: DataFrame, path: str,
                 partition_by: str | None = None) -> str:
    """Write `df` as the next content of `path` (nothing live changes
    until `commit`); returns the staged directory, which the caller may
    read until the commit. `partition_by` writes one file per value."""
    staged = path + _NEXT
    if partition_by:
        df = df.repartition(F.col(partition_by))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staged)
    return staged


def commit(path: str, partitions: list[str] | None = None) -> None:
    """Swap the staged content of `path` in. With `partitions`
    (directory names such as `DateKey=20231010`), only those partitions
    of a partitioned `path` are replaced; one absent from the stage is
    removed. `repair` undoes a crash at any point in between."""
    staged = path + _NEXT
    if partitions is None:
        old = path + _OLD
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(staged, path)
        shutil.rmtree(old, ignore_errors=True)
        return
    displaced = path + _OLD_PARTS
    os.makedirs(displaced, exist_ok=True)
    for p in partitions:
        if os.path.exists(os.path.join(path, p)):
            os.rename(os.path.join(path, p), os.path.join(displaced, p))
        if os.path.exists(os.path.join(staged, p)):
            os.rename(os.path.join(staged, p), os.path.join(path, p))
    shutil.rmtree(displaced)
    shutil.rmtree(staged)


def publish(df: DataFrame, path: str,
            partition_by: str | None = None) -> str:
    """Replace the parquet directory `path` by `df`: repair, stage,
    commit. Because the live directory is only renamed after `df` is
    fully written, `df` may read `path` itself."""
    repair(path)
    write_staged(df, path, partition_by)
    commit(path)
    return path


def write_view(df: DataFrame, gold_root: str, view_name: str,
               school_year: str | int | None = None,
               partition_by: str | None = None) -> str:
    """Write a gold view through `publish`. Replaces the reference's
    delete-then-write (`helper/helper.py:78-100` +
    `pandasWrapper.py:128-135`) without its window where the view is
    missing.
    """
    return publish(df, gold_path(gold_root, view_name, school_year),
                   partition_by)


def write_view_csv(df: DataFrame, gold_root: str, view_name: str,
                   school_year: str | int | None = None) -> str:
    """S9: CSV debug sink (ref `parquet/Common/pandasWrapper.py:36-44`
    toCsv) — same layout as `write_view` under `{view_name}_csv`, with a
    header row. Inspection/debug only: CSV drops types and nested
    structure, so parquet remains the canonical gold format.
    """
    path = gold_path(gold_root, f"{view_name}_csv", school_year)
    df.write.mode("overwrite").option("header", True).csv(path)
    return path


def write_view_bucketed(df: DataFrame, table_name: str,
                        bucket_cols: list[str], n_buckets: int = 32,
                        sort_cols: list[str] | None = None,
                        location: str | None = None) -> None:
    """Write a gold view hash-bucketed (and optionally sorted) on its join
    key, registered as a catalog table.

    This is the 100 TB answer to the reference's view-on-view composition
    (SURVEY.md §2.3 J11: `student_history_dim` joins 6 gold views, all on
    the student key): two views bucketed on the same key with the same
    bucket count join with ZERO exchange — each task reads matching
    buckets directly — and with `sort_cols` set the sort is free too.
    The shuffle is paid once at write time instead of once per consuming
    join.
    """
    writer = (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(table_name)


def write_view_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                         n_files: int | None = None) -> str:
    """Write a gold view range-clustered on `cluster_cols`: rows are
    range-partitioned then sorted within each file, so every output file
    covers a disjoint key range.

    This is the file-level data-skipping story for non-partition-key
    predicates at 100 TB: parquet min/max footer stats become tight under
    the sort, and a pushed range/equality filter on the cluster column
    prunes whole files (and row groups) at scan planning time — the same
    effect as Delta/Iceberg Z-ordering for the single-column case, on
    plain parquet. Partition-by-school-year handles the coarse pruning;
    this handles the fine-grained key (student key, date key) inside each
    partition.
    """
    cols = [F.col(c) for c in cluster_cols]
    part = df.repartitionByRange(n_files, *cols) if n_files \
        else df.repartitionByRange(*cols)
    part.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)
    return path


def write_view_clustered_with_manifest(
        df: DataFrame, path: str, cluster_cols: list[str],
        n_files: int | None = None) -> str:
    """`write_view_clustered` + a file-level min/max stats manifest on
    the cluster columns (`sources/manifest.py`) — the full Delta/
    Iceberg-style data-skipping story on plain parquet (VERDICT r9
    item 8): the range-clustered write makes per-file ranges disjoint,
    and the manifest lets `read_view_pruned` drop files from the LIST
    before any footer is opened — at 100 TB / millions of files the
    listing + footer round-trips ARE the cost of a selective query."""
    from api_to_amt_data_lake_spark.sources.manifest import (
        write_manifest,
    )

    write_view_clustered(df, path, cluster_cols, n_files)
    write_manifest(df.sparkSession, path, cluster_cols)
    return path


def read_view_pruned(spark: SparkSession, path: str,
                     ranges: dict) -> tuple[DataFrame, list[str]]:
    """Selective gold-view read through the stats manifest: only files
    whose tracked min/max intersect every `{col: (lo, hi)}` range are
    opened. Returns (df, kept_files); apply the row-level predicate on
    top (pruning is conservative) — `read_view_pruned(...).filter(p)`
    ≡ `spark.read.parquet(path).filter(p)` row-for-row."""
    from api_to_amt_data_lake_spark.sources.manifest import read_pruned

    return read_pruned(spark, path, ranges)


def compact_parquet(spark: SparkSession, src_path: str, dst_path: str,
                    target_file_mb: int = 128) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    output file count.

    The 100 TB small-file story: incremental refreshes and streaming
    micro-batches accrete many tiny files (one per shuffle task per
    batch), and every downstream scan then pays per-file open/footer
    costs and loses row-group-sized reads. Compaction sizes the output
    from the ACTUAL on-disk bytes (not a guess): ceil(bytes / target) →
    coalesce when shrinking (no shuffle — task-side concatenation of
    input splits), repartition only if growing. Write lands in
    `dst_path`; callers doing in-place compaction should write a new
    snapshot version (sources/incremental.py layout) and flip readers,
    since Spark cannot overwrite a directory it is reading.
    """
    import math

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src_path)
        for f in files if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    current = df.rdd.getNumPartitions()
    out = df.coalesce(n_files) if n_files <= current \
        else df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst_path)
    return len([f for f in os.listdir(dst_path) if f.endswith(".parquet")])


def export_corpus(df: DataFrame, path: str,
                  partition_cols: list[str] | None = None,
                  max_records_per_file: int | None = None) -> str:
    """Export a curated corpus for training consumption: optionally
    hive-partitioned (e.g. by lang / quality bucket, so a trainer reads
    only the slices it wants via partition pruning) and with a
    per-file record cap (`maxRecordsPerFile`) so downstream loaders get
    uniformly-sized shards regardless of upstream partition skew."""
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    return path


def zorder_key(x, y, bits: int = 16):
    """Interleave the low `bits` of two non-negative int columns into a
    Morton (Z-order) key — a pure bitwise expression, fully inside
    whole-stage codegen."""
    xc = x if not isinstance(x, str) else F.col(x)
    yc = y if not isinstance(y, str) else F.col(y)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (z
             + F.shiftleft(F.shiftright(xc.cast("long"), i)
                           .bitwiseAND(F.lit(1)), 2 * i)
             + F.shiftleft(F.shiftright(yc.cast("long"), i)
                           .bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


def write_view_zordered(df: DataFrame, path: str, col_x: str, col_y: str,
                        n_files: int = 16, bits: int = 16) -> str:
    """Write parquet Z-ordered on TWO columns: each file covers a tight
    hyper-rectangle in (x, y), so min/max footer stats prune files for
    predicates on EITHER column — the multi-column data-skipping story
    `write_view_clustered` (single-column range sort) cannot give, and
    the plain-parquet equivalent of Delta/Iceberg Z-ordering.

    Columns are first quantized to `bits`-bit ranks against their actual
    min/max (one tiny agg pass, broadcast back — no collect), then rows
    are range-partitioned and sorted by the interleaved Morton key.
    """
    minmax = df.agg(
        F.min(col_x).alias("_minx"), F.max(col_x).alias("_maxx"),
        F.min(col_y).alias("_miny"), F.max(col_y).alias("_maxy"))
    scale = (1 << bits) - 1

    def _q(c, lo, hi):
        rng = F.greatest(F.col(hi) - F.col(lo), F.lit(1)).cast("double")
        return ((F.col(c) - F.col(lo)).cast("double") / rng * scale) \
            .cast("long")

    keyed = (
        df.crossJoin(F.broadcast(minmax))
        .withColumn("_zk", zorder_key(_q(col_x, "_minx", "_maxx"),
                                      _q(col_y, "_miny", "_maxy"), bits))
        .drop("_minx", "_maxx", "_miny", "_maxy")
    )
    (keyed.repartitionByRange(n_files, F.col("_zk"))
     .sortWithinPartitions("_zk").drop("_zk")
     .write.mode("overwrite").parquet(path))
    return path


def register_gold_views(spark: SparkSession, gold_root: str,
                        school_year: str | int) -> list[str]:
    """Expose every written gold view as a Spark SQL temp view, so the
    lake is queryable with raw `spark.sql("SELECT ... FROM schoolDim
    JOIN ...")` — the analyst-facing surface of the reference's gold
    parquet folder. View names are the registry names (schoolDim,
    studentSectionDim, ...). Returns the registered names. CSV debug
    copies and staging leftovers (any name with STAGING_MARK) are not
    views and are skipped.

    Temp views are metadata only: queries read the parquet lazily with
    full pushdown/pruning, exactly like `spark.read.parquet`.
    """
    year_dir = os.path.join(gold_root, str(school_year))
    names: list[str] = []
    if not os.path.isdir(year_dir):
        return names
    for name in sorted(os.listdir(year_dir)):
        path = os.path.join(year_dir, name)
        if name.endswith("_csv") or STAGING_MARK in name \
                or not os.path.isdir(path):
            continue
        spark.read.parquet(path).createOrReplaceTempView(name)
        names.append(name)
    return names
