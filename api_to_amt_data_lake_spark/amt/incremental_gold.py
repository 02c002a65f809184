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
Crash-repair rule: `parquet_io.repair` on entry puts back anything a
dead swap displaced and deletes its leftovers; re-running the same
splice then converges, because it replaces every row of the touched
keys and never accumulates.
"""

from __future__ import annotations

import os

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


def stage_snapshot_diff(spark: SparkSession, snap_path: str,
                        current: DataFrame | None
                        ) -> tuple[DataFrame, DataFrame] | None:
    """Stage `current` (an id-keyed `_k` image of a collection, None
    when the collection is missing) as the next snapshot at `snap_path`
    and diff it against the live snapshot. Returns (checkpointed CDF
    with old images, current rows), or None when neither exists.

    The silver JSON is scanned exactly once per refresh: the diff and
    the snapshot commit both read the staged parquet copy, which the
    caller commits with its other staged state after the gold splice.
    """
    has_snap = os.path.exists(snap_path)
    if current is None and not has_snap:
        return None
    old = spark.read.parquet(snap_path) if has_snap else current.limit(0)
    cur = (spark.read.parquet(parquet_io.write_staged(current, snap_path))
           if current is not None else old.limit(0))
    changes = frame_changes(
        old, cur, "_k", compare_cols=[c for c in cur.columns if c != "_k"],
        include_old=True).localCheckpoint()
    return changes, cur


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
