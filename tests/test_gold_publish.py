"""The one gold publish path: `sources/parquet_io.py`'s stage-and-swap
commit (`publish`, `write_staged`/`commit`, `repair`) and
`amt/incremental_gold.splice_keys`, on tiny frames so the crash-repair
rule is covered without building a view."""

from __future__ import annotations

import os
import shutil

import pytest

from api_to_amt_data_lake_spark.amt.incremental_gold import splice_keys
from api_to_amt_data_lake_spark.sources import parquet_io

SCHEMA = "StudentKey string, v int, DateKey string"
GOLD = [("s1", 1, "20231010"), ("s2", 2, "20231010"),
        ("s1", 3, "20231011"), ("s3", 4, "20231012")]


def _rows(spark, path):
    df = spark.read.schema(SCHEMA).parquet(path)
    return sorted(map(tuple, df.select("StudentKey", "v", "DateKey")
                      .collect()))


def _siblings(path):
    parent, base = os.path.split(path)
    return sorted(n for n in os.listdir(parent) if n.startswith(base + "."))


def test_publish_overwrites_its_own_input_and_repairs_on_entry(
        spark, tmp_path):
    path = parquet_io.write_view(spark.createDataFrame(GOLD, SCHEMA),
                                 str(tmp_path), "v", 2023)
    assert path == parquet_io.gold_path(str(tmp_path), "v", 2023)

    # A commit that died between its renames: live moved aside, the
    # staged copy half-written. `repair` puts the old content back.
    os.rename(path, path + ".old")
    os.makedirs(path + ".next")
    parquet_io.repair(path)
    assert _rows(spark, path) == sorted(GOLD)
    assert _siblings(path) == []

    # The plan reads the very directory it replaces.
    own = spark.read.schema(SCHEMA).parquet(path).filter("v > 2")
    parquet_io.write_view(own, str(tmp_path), "v", 2023)
    assert _rows(spark, path) == sorted(r for r in GOLD if r[1] > 2)
    assert _siblings(path) == []


def _crash_on(monkeypatch, module, name, match, nth):
    """Fail the `nth` call of `module.name` whose first argument
    contains `match`."""
    real, seen = getattr(module, name), []

    def boom(src, *a, **k):
        if match in str(src):
            seen.append(src)
            if len(seen) == nth:
                raise OSError("injected crash")
        return real(src, *a, **k)

    monkeypatch.setattr(module, name, boom)


KEYS = [("s1", "20231010"), ("s1", "20231011")]  # 20231012 untouched
RECOMPUTED = [("s1", 10, "20231010"), ("s1", 30, "20231011")]
FULL = sorted([("s1", 10, "20231010"), ("s2", 2, "20231010"),
               ("s1", 30, "20231011"), ("s3", 4, "20231012")])
# 20231010 swapped, 20231011 still old: a crash between the two swaps
MIX = sorted([("s1", 10, "20231010"), ("s2", 2, "20231010"),
              ("s1", 3, "20231011"), ("s3", 4, "20231012")])


def _partitioned_gold(spark, tmp_path):
    path = str(tmp_path / "fact")
    spark.createDataFrame(GOLD, SCHEMA).write.partitionBy("DateKey") \
        .parquet(path)
    return path


def _splice(spark, path):
    return splice_keys(
        spark, path, spark.createDataFrame(RECOMPUTED, SCHEMA),
        spark.createDataFrame(KEYS, "StudentKey string, DateKey string"))


@pytest.mark.parametrize("crash", ["rename", "rmtree"])
def test_partition_swap_crash_leaves_only_partitions_in_view(
        spark, tmp_path, monkeypatch, crash):
    path = _partitioned_gold(spark, tmp_path)
    if crash == "rename":  # second partition displaced, not replaced
        _crash_on(monkeypatch, os, "rename", ".next", 2)
    else:  # both swapped, displaced partitions not yet dropped
        _crash_on(monkeypatch, shutil, "rmtree", ".old-parts", 1)
    with pytest.raises(OSError, match="injected"):
        _splice(spark, path)
    monkeypatch.undo()

    # Nothing but whole partitions inside the live view: no row twice.
    assert all(parquet_io.STAGING_MARK not in d
               for d in os.listdir(path) if d.startswith("DateKey="))
    got = _rows(spark, path)
    assert len(got) == len(set(got))
    parquet_io.repair(path)
    assert _siblings(path) == []
    assert _rows(spark, path) == (MIX if crash == "rename" else FULL)


def test_rerun_after_partition_swap_crash_equals_full_rebuild(
        spark, tmp_path):
    path = _partitioned_gold(spark, tmp_path)
    # The state a crash between the two partitions' swaps leaves:
    # 20231010 already new, 20231011 displaced and not yet replaced.
    new_1010 = str(tmp_path / "new")
    spark.createDataFrame([r for r in MIX if r[2] == "20231010"], SCHEMA) \
        .write.partitionBy("DateKey").parquet(new_1010)
    shutil.rmtree(os.path.join(path, "DateKey=20231010"))
    os.rename(os.path.join(new_1010, "DateKey=20231010"),
              os.path.join(path, "DateKey=20231010"))
    os.makedirs(path + ".old-parts")
    os.rename(os.path.join(path, "DateKey=20231011"),
              os.path.join(path + ".old-parts", "DateKey=20231011"))

    parquet_io.repair(path)
    assert _siblings(path) == []
    assert _rows(spark, path) == MIX
    assert _splice(spark, path) == ["20231010", "20231011"]
    assert _rows(spark, path) == FULL
    assert _siblings(path) == []
