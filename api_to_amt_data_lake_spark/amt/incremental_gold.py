"""Gold-side incremental view maintenance.

`sources/incremental.py` keeps the SILVER layer current without full
re-extracts; this module closes the remaining loop at the GOLD layer:
when a change-version pull reports which natural keys changed (new,
updated, or tombstoned), a view can be refreshed by recomputing ONLY
the rows of those keys and splicing them with the carried-over rows of
the existing gold parquet — instead of the reference's rebuild-
everything-every-hour (`parquet/amt_parquet.py:27-36` rebuilds all 41
views unconditionally each run).

Semantics (the contract the test asserts):
    refresh(changed) == full rebuild, whenever `changed` is a superset
    of the keys whose output rows actually differ.
Deleted keys fall out naturally: the recomputed slice no longer emits
them and the anti-join removes their old rows.

Scale shape: the recomputed slice is `view ⋉ changed_keys` — the semi
join broadcasts the (small) changed-key set, and with runtime bloom
filters enabled (`session.py`) the key filter is pushed into the
silver scans feeding the view, so compute is proportional to the
change set, not the collection. The carry-over side scans the existing
gold once with a broadcast anti join.

`splice_keys` is the one splice every incremental gold writer uses
(this module, `chrab_incremental`, `ews_incremental`). It publishes
through the `sources/parquet_io.py` stage-and-swap commit: the spliced
view is staged beside the live one and swapped in by rename, because
Spark cannot overwrite a path it is reading. A `DateKey`-partitioned
view rewrites only the touched date partitions, and the displaced
partitions wait outside the live view until the swap completes.

Snapshot-maintained views (chrab, ews) derive the changed keys
themselves. Their only state is one id-keyed snapshot per source
collection, `{name}_snap` under a state root; `build_from_snapshots`
and `refresh_from_snapshots` are the one build and refresh routine for
both. A refresh diffs each current collection against its snapshot,
maps the CDF images to touched output keys, recomputes those keys from
the new snapshots, splices gold, and only then commits the snapshots.

Crash-repair rule: `parquet_io.repair` on entry puts back anything a
dead swap displaced and deletes its leftovers. Re-running the same
splice then converges, because it replaces every row of the touched
keys and never accumulates. A crash between the gold commit and any
snapshot commit leaves each snapshot old or new; the re-run re-detects
the changes of the old ones and re-splices the same rows, so no change
is applied twice or lost. The rule assumes the re-run sees the same
silver: a row changed and then reverted to its old snapshot image in
between is not re-detected, and its key keeps the crashed run's rows.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from api_to_amt_data_lake_spark.amt import registry
from api_to_amt_data_lake_spark.plans.contracts import ViewContract
from api_to_amt_data_lake_spark.sources import parquet_io
from api_to_amt_data_lake_spark.sources.incremental import frame_changes

_PART = "DateKey"


def splice_keys(spark: SparkSession, path: str, recomputed: DataFrame,
                keys: DataFrame) -> list[str] | None:
    """Replace every gold row at `path` whose `keys.columns` match a
    row of `keys` by `recomputed` (the view's rows for those keys).

    The layout is read from the directory: a flat view is rewritten
    whole (carried rows ∪ recomputed); a `DateKey`-partitioned one
    (`keys` then carries `DateKey`) rewrites only the touched dates and
    returns them. NULL keys never match the anti join, so their gold
    rows are always carried. The output keeps `recomputed`'s column
    order. The caller runs `parquet_io.repair(path)` on entry.
    """
    on = keys.columns
    keys = F.broadcast(keys)
    # the explicit schema keeps a partition column's type (inference
    # would int-ify 'yyyymmdd' DateKey values)
    live = spark.read.schema(recomputed.schema).parquet(path)
    if not any(d.startswith(f"{_PART}=") for d in os.listdir(path)):
        out = live.join(keys, on, "left_anti").unionByName(recomputed)
        parquet_io.write_staged(out.select(*recomputed.columns), path)
        parquet_io.commit(path)
        return None
    dates = sorted({r[0] for r in keys.select(_PART).distinct().collect()
                    if r[0] is not None})
    carried = live.filter(F.col(_PART).isin(dates)) \
        .join(keys, on, "left_anti")
    out = carried.unionByName(recomputed).select(*recomputed.columns)
    parquet_io.write_staged(out, path, partition_by=_PART)
    parquet_io.commit(path, [f"{_PART}={d}" for d in dates])
    return dates


def cdf_images(changes: DataFrame, cols: list[str]) -> DataFrame:
    """Both images of `cols` in a CDF: the new one of every non-delete
    row and the old one of every non-insert row (an update that moves a
    row between groups touches both groups)."""
    new_side = changes.filter(F.col("_change_type") != "delete") \
        .select(*cols)
    old_side = changes.filter(F.col("_change_type") != "insert") \
        .select(*[F.col(f"_old_{c}").alias(c) for c in cols])
    return new_side.unionAll(old_side)


def touched_rows(rows: DataFrame, touched: DataFrame | None,
                 date_col: str) -> DataFrame:
    """The rows of a snapshot-derived frame (''-sentinel group keys
    `_student _school <date_col>`) at a touched output key; all rows
    when `touched` is None (a full build)."""
    if touched is None:
        return rows
    keys = touched.select(
        F.coalesce("StudentKey", F.lit("")).alias("_student"),
        F.coalesce("SchoolKey", F.lit("")).alias("_school"),
        F.coalesce("_date", F.lit("")).alias(date_col))
    return rows.join(F.broadcast(keys), ["_student", "_school", date_col],
                     "left_semi")


def _snap_paths(state_root: str, snaps: dict) -> dict[str, str]:
    return {n: os.path.join(state_root, f"{n}_snap") for n in snaps}


def _commit_snapshots(paths: dict[str, str], snaps: dict) -> None:
    """Commit every staged snapshot; a missing collection's snapshot is
    removed. Runs only after gold is written."""
    for name, path in paths.items():
        if snaps[name] is not None:
            parquet_io.commit(path)
        else:
            shutil.rmtree(path, ignore_errors=True)


def build_from_snapshots(spark: SparkSession, view_name: str,
                         gold_root: str, school_year: str | int,
                         state_root: str, snaps: dict, recompute) -> str:
    """Full (re)build of a snapshot-maintained view: stage every
    snapshot (`snaps`: name -> id-keyed `_k` frame, None for a missing
    collection), write gold DateKey-partitioned from the staged copies
    (`recompute(snapshots, None)`), then commit the snapshots. Returns
    the gold path."""
    paths = _snap_paths(state_root, snaps)
    for p in paths.values():
        parquet_io.repair(p)
    staged = {n: spark.read.parquet(parquet_io.write_staged(df, paths[n]))
              if df is not None else None for n, df in snaps.items()}
    gold = parquet_io.write_view(recompute(staged, None), gold_root,
                                 view_name, school_year,
                                 partition_by=_PART)
    _commit_snapshots(paths, snaps)
    return gold


def refresh_from_snapshots(spark: SparkSession, view_name: str,
                           gold_root: str, school_year: str | int,
                           state_root: str, snaps: dict, touched_keys,
                           recompute) -> dict:
    """Delta-bounded refresh of a snapshot-maintained view; the one
    routine behind `chrab_incremental.refresh` and
    `ews_incremental.refresh`.

    Repairs gold and every snapshot, then falls back to
    `build_from_snapshots` when gold or a present collection's snapshot
    is missing. Otherwise each current frame in `snaps` is staged as
    the next snapshot and diffed against the live one (one CDF with old
    images per collection; the silver is scanned once).
    `touched_keys(diffs, old, new)` maps the non-empty CDFs and the
    live / staged snapshots (None where absent) to frames of
    ''-sentinel (student, school, date) columns; their distinct union,
    NULLs restored, is `touched` (`StudentKey SchoolKey _date`).
    `recompute(new, touched)` returns the view rows of those keys from
    the staged snapshots, spliced into gold by `splice_keys`. The
    snapshots commit last, so a crash anywhere leaves each snapshot
    old or new and the re-run re-splices whatever it re-detects.
    Returns `{"full_build": bool, <name>: changes, ...}` plus
    `touched_keys`/`touched_dates` when gold was spliced.
    """
    gold = parquet_io.gold_path(gold_root, view_name, school_year)
    paths = _snap_paths(state_root, snaps)
    for p in (gold, *paths.values()):
        parquet_io.repair(p)
    if not os.path.exists(gold) or any(
            df is not None and not os.path.exists(paths[n])
            for n, df in snaps.items()):
        build_from_snapshots(spark, view_name, gold_root, school_year,
                             state_root, snaps, recompute)
        return {"full_build": True}

    stats: dict = {"full_build": False}
    diffs: dict[str, DataFrame] = {}
    old: dict[str, DataFrame | None] = {}
    new: dict[str, DataFrame | None] = {}
    for name, df in snaps.items():
        path = paths[name]
        old[name] = spark.read.parquet(path) if os.path.exists(path) \
            else None
        new[name] = spark.read.parquet(parquet_io.write_staged(df, path)) \
            if df is not None else None
        stats[name] = 0
        if old[name] is None:  # neither collection nor snapshot
            continue
        cur = new[name] if df is not None else old[name].limit(0)
        changes = frame_changes(
            old[name], cur, "_k",
            compare_cols=[c for c in cur.columns if c != "_k"],
            include_old=True).localCheckpoint()
        stats[name] = changes.count()
        if stats[name]:
            diffs[name] = changes

    parts = touched_keys(diffs, old, new)
    if parts:
        touched = (reduce(DataFrame.unionAll, parts)
                   .toDF("_student", "_school", "_date").distinct()
                   .select(F.nullif("_student", F.lit("")).alias("StudentKey"),
                           F.nullif("_school", F.lit("")).alias("SchoolKey"),
                           F.nullif("_date", F.lit("")).alias("_date"))
                   .localCheckpoint())
        stats["touched_keys"] = touched.count()
        dates = splice_keys(spark, gold, recompute(new, touched),
                            touched.select(
                                "StudentKey", "SchoolKey",
                                F.substring(F.regexp_replace(
                                    "_date", "-", ""), 1, 8).alias(_PART)))
        if dates is not None:
            stats["touched_dates"] = len(dates)
    _commit_snapshots(paths, snaps)
    return stats


def read_contract_gold(spark: SparkSession, contract: ViewContract,
                       gold_root: str,
                       school_year: str | int) -> DataFrame:
    """Read a maintained gold view back in contract column order and
    types. The explicit schema keeps a DateKey PARTITION column a
    string (type inference would int-ify 'yyyymmdd' values — and the
    session-wide inference flag can't be flipped without breaking the
    bucket store's int `_bkt` reads); conform restores exact order."""
    df = spark.read.schema(contract.schema()).parquet(
        parquet_io.gold_path(gold_root, contract.name, school_year))
    return contract.conform(df, spark)


def refresh_view_incremental(
    spark: SparkSession,
    name: str,
    silver_root: str,
    gold_root: str,
    school_year: str | int,
    changed_keys: DataFrame,
    key_col: str,
    run_date: str | None = None,
) -> str:
    """Refresh one gold view for the given changed natural keys.

    `changed_keys` is a one-column DataFrame (column name = `key_col`)
    of keys to recompute. Returns the gold path. If the view has never
    been written, falls back to a full build-and-write.
    """
    path = parquet_io.gold_path(gold_root, name, school_year)
    parquet_io.repair(path)
    fresh = registry.build_view(name, spark, silver_root, school_year,
                                run_date)
    if not os.path.exists(path):
        return parquet_io.write_view(fresh, gold_root, name, school_year)
    keys = changed_keys.select(key_col).distinct()
    splice_keys(spark, path,
                fresh.join(F.broadcast(keys), key_col, "left_semi"), keys)
    return path
