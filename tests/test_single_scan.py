"""One scan per table read: every live file that shares a write schema and
format loads in a single Spark scan rooted at ``data/`` (or ``deletes/``),
with ``__seq`` attached per commit dir instead of one scan per commit."""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_kafka_connect_spark.plans.inspect import plan_string, scan_count
from iceberg_kafka_connect_spark.sinks.table import LakehouseTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

N_COMMITS = 40


def _rows(ids, v, day=1):
    return [(i, v, dt.datetime(2024, 1, day + i % 2, 12)) for i in ids]


def _collect(df):
    return sorted((r.id, r.v) for r in df.collect())


@pytest.fixture(scope="module")
def append_table(spark, tmp_path_factory):
    """A ``day(ts)`` append table of 40 commits, each touching two days."""
    root = str(tmp_path_factory.mktemp("single_scan") / "t")
    t = LakehouseTable.create(root, SCHEMA, partition_by="day(ts)")
    for c in range(N_COMMITS):
        t.append(spark.createDataFrame(_rows([2 * c, 2 * c + 1], f"c{c}"), SCHEMA))
    return t


def test_append_table_reads_in_one_scan(spark, append_table):
    df = append_table.read(spark)
    assert scan_count(df) == 1
    assert _collect(df) == [(i, f"c{i // 2}") for i in range(2 * N_COMMITS)]


def test_read_plans_from_one_metadata_load(spark, append_table, monkeypatch):
    calls = []
    real = LakehouseTable.metadata

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(LakehouseTable, "metadata", counting)
    append_table.read(spark)
    assert len(calls) == 1
    calls.clear()
    append_table.read(spark, where="id < 10")
    assert len(calls) == 1


def test_read_starts_no_spark_job(spark, append_table):
    """More than 32 manifest-known paths must not start Spark's
    distributed file-listing job (nor any other) while planning."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = append_table.read(spark)
    assert set(tracker.getJobIdsForGroup(None)) == before
    df.count()  # the probe does see jobs once the read executes
    assert set(tracker.getJobIdsForGroup(None)) != before


def test_partition_filter_still_prunes(spark, append_table):
    df = append_table.read(spark).filter("ts_day = '2024-01-02'")
    plan = plan_string(df)
    assert re.search(r"PartitionFilters: \[[^\]]*ts_day", plan), plan
    assert _collect(df) == [
        (i, f"c{i // 2}") for i in range(2 * N_COMMITS) if i % 2
    ]


def test_upsert_table_scans_data_and_delete_keys_once_each(spark, tmp_path):
    t = LakehouseTable.create(
        str(tmp_path / "t"), SCHEMA, partition_by="day(ts)",
        identifier_fields=["id"],
    )
    for c in range(6):
        t.upsert(
            spark.createDataFrame(_rows(range(c, c + 4), f"c{c}"), SCHEMA),
            ["id"],
        )
    df = t.read(spark)
    assert scan_count(df) == 2
    assert _collect(df) == [(i, f"c{min(i, 5)}") for i in range(9)]


def test_delete_applies_only_to_earlier_sequence_numbers(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA, identifier_fields=["id"])
    t.append(spark.createDataFrame(_rows([1], "a"), SCHEMA))  # seq 1
    t.append(spark.createDataFrame(_rows([2], "b"), SCHEMA))  # seq 2
    # seq 3: deletes id 1 written before it, keeps its own id-1 row
    t.upsert(spark.createDataFrame(_rows([1], "c"), SCHEMA), ["id"])
    # seq 4: a later plain append of id 1 is not masked by the seq-3 delete
    t.append(spark.createDataFrame(_rows([1], "d"), SCHEMA))
    df = t.read(spark)
    assert scan_count(df) == 2
    assert _collect(df) == [(1, "c"), (1, "d"), (2, "b")]
    # time travel to seq 3 sees the delete's own commit but not seq 4
    seq3 = t.snapshots()[2]["snapshot_id"]
    assert _collect(t.read(spark, snapshot_id=seq3)) == [(1, "c"), (2, "b")]


def test_commit_dir_with_two_seqs_keeps_per_group_scans(spark, tmp_path):
    t = LakehouseTable.create(str(tmp_path / "t"), SCHEMA, partition_by="day(ts)")
    t.append(spark.createDataFrame(_rows([0, 1], "a"), SCHEMA))
    t.append(spark.createDataFrame(_rows([2, 3], "b"), SCHEMA))
    data_files, _ = t.live_files()
    first = data_files[0]
    # re-stamp one file of the first commit dir: that dir now maps to two
    # sequence numbers and must not join the multi-commit scan
    files = [dict(first, seq=7)] + data_files[1:]
    df = t._read_file_group(spark, files, t.read_schema())
    seq_of = {r.id: r["__seq"] for r in df.collect()}
    assert scan_count(df) > 1
    assert len(seq_of) == 4
    restamped = {i for i, s in seq_of.items() if s == 7}
    assert restamped and all(
        seq_of[i] == (1 if i < 2 else 2) for i in seq_of if i not in restamped
    )


def _to_legacy_layout(t: LakehouseTable, snap: dict) -> None:
    """Rewrite one snapshot's files into the pre-commit-dir layout
    ``data/<hex>/<partition dirs>/`` (as older versions wrote it)."""
    man = os.path.join(t.root, snap["manifest"])
    with open(man) as f:
        m = json.load(f)
    moved = {}
    for e in m["added_data_files"]:
        old = e["base"]
        new = os.path.join(os.path.dirname(old), old.split("=", 1)[1])
        moved[old] = new
        e["path"] = new + e["path"][len(old):]
        e["base"] = new
    for old, new in moved.items():
        os.rename(os.path.join(t.root, old), os.path.join(t.root, new))
    with open(man, "w") as f:
        json.dump(m, f)


def test_legacy_and_commit_dir_layouts_read_the_same_rows(spark, tmp_path):
    t = LakehouseTable.create(
        str(tmp_path / "t"), SCHEMA, partition_by="day(ts)",
        identifier_fields=["id"],
    )
    t.append(spark.createDataFrame(_rows(range(6), "old"), SCHEMA))
    t.upsert(spark.createDataFrame(_rows([1, 2], "up"), SCHEMA), ["id"])
    t.append(spark.createDataFrame(_rows([7, 8], "new"), SCHEMA))
    t.append(spark.createDataFrame(_rows([9], "newer"), SCHEMA))
    expected = _collect(t.read(spark))
    _to_legacy_layout(t, t.snapshots()[0])
    assert any(
        not os.path.basename(f["base"]).startswith("_commit=")
        for f in t.live_files()[0]
    )
    df = t.read(spark)
    assert _collect(df) == expected
    # the legacy commit scans alone; the three commit dirs share one scan;
    # the delete keys are the third
    assert scan_count(df) == 3
    parts = {p for p, _, _ in t.partition_rows()}
    assert parts == {"ts_day=2024-01-01", "ts_day=2024-01-02"}


def test_position_deletes_and_lineage_under_special_root(spark, tmp_path):
    root = tmp_path / "a b%20c+d" / "t"
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    t = LakehouseTable.create(
        str(root), schema, properties={"format-version": "3"}
    )
    for lo, hi in [(0, 50), (50, 120), (120, 160)]:
        t.append(
            spark.range(lo, hi)
            .coalesce(1)
            .sortWithinPartitions("id")
            .select("id", (F.col("id") * 10).alias("v"))
        )
    t.delete_where_positions(spark, "id % 7 = 0")
    survivors = [i for i in range(160) if i % 7]
    assert sorted(r.id for r in t.read(spark).collect()) == survivors
    got = {r.id: r._row_id for r in t.read_with_lineage(spark).collect()}
    # one sorted file per append → _row_id == id
    assert got == {i: i for i in survivors}


@pytest.mark.parametrize(
    "path, base, expected",
    [
        # native: only the dirs below the commit dir are partitions
        ("r=1/data/_commit=ab/d=2/f.parquet", "r=1/data/_commit=ab", [("d", "2")]),
        ("r=1/data/_commit=ab/f.parquet", "r=1/data/_commit=ab", []),
        # legacy per-commit dir
        ("data/0f1e/d=2/f.parquet", "data/0f1e", [("d", "2")]),
        # imported entry: base is the file's own dir, layout only in the path
        ("/src/data/_commit=ab/d=2/f.parquet", "/src/data/_commit=ab/d=2", [("d", "2")]),
        ("/src/d=2/f.parquet", None, [("d", "2")]),
    ],
)
def test_partition_segments_come_from_below_base(path, base, expected):
    from iceberg_kafka_connect_spark.sinks.spec import partition_segments

    assert partition_segments(path, base) == expected
