"""Storage-partitioned join over bucket-partitioned Lakehouse tables.

Spark's Storage-Partitioned Join (SPARK-37375) lets two v2 tables that
share a partition transform join WITHOUT shuffling either side — the
scan's physical layout IS the join distribution. This module provides the
same shape at the table layer: two tables bucket-partitioned by the same
spec-conformant ``iceberg_bucket(N, key)`` join per bucket (equal keys
are guaranteed co-bucketed — both sides hash with the identical murmur3
Appendix-B transform, ``functions/murmur3.py``), and the per-bucket joins
union. Neither table's rows ever cross the wire keyed by the join key:
each sub-join reads only its bucket's files, and broadcasting the smaller
bucket slice turns the whole join into N independent broadcast joins.

At 100 TB this is the co-located-join pattern bucketed tables exist for:
a shuffle join moves BOTH tables across the cluster; here the only data
movement is the broadcast of the small side's 1/N slices. (The same
layout also serves point lookups via bucket pruning — sinks/stats.py.)

Outer joins are supported: a key's bucket is deterministic on BOTH sides,
so every match still happens inside one bucket and unmatched rows are
preserved per bucket (buckets present on only one side, and the NULL
partition — whose keys can never equality-match — short-circuit to a
typed-null projection without running a join at all).

Merge-on-read tables join without compacting first: each side's live
delete state applies per bucket before the join (position deletes by
(file, pos) identity, equality deletes by keyset anti-join — exactly
``LakehouseTable.read``'s semantics via ``_apply_deletes``). Delete rows
targeting other buckets are anti-join no-ops, so correctness is
unconditional; cost is O(delete state) per bucket, so compact when the
delete state stops being small relative to a bucket.

Constraint, refused loudly rather than silently degraded: both tables'
partition specs must carry ``iceberg_bucket`` on the join key with the
SAME bucket count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.spec import HIVE_NULL_PARTITION, partition_dir_value
from ..sinks.table import _has_positional

_HOW = {
    "inner": "inner",
    "left": "left",
    "left_outer": "left",
    "leftouter": "left",
    "right": "right",
    "right_outer": "right",
    "rightouter": "right",
    "full": "full",
    "outer": "full",
    "full_outer": "full",
    "fullouter": "full",
}


def _bucket_field(table, key: str):
    for pf in table.partition_spec():
        if pf.transform == "iceberg_bucket" and pf.source == key:
            return pf
    raise ValueError(
        f"table at {table.root!r} is not bucket-partitioned on {key!r} "
        "(storage-partitioned join needs iceberg_bucket on the join key)"
    )


def _files_by_bucket(
    table, pf, branch: str = "main"
) -> tuple[dict[int, list[dict]], list[dict], list[dict]]:
    """Live data files keyed by bucket id, plus the NULL-partition files
    and the table's live delete files (applied per bucket by the caller)."""
    data_files, delete_files = table.live_files(branch=branch)
    out: dict[int, list[dict]] = {}
    null_files: list[dict] = []
    for f in data_files:
        raw = partition_dir_value(f["path"], pf.name, f.get("base"))
        if raw is None:
            raise ValueError(
                f"data file {f['path']!r} predates the bucket spec "
                f"(no {pf.name}=<n> directory) — compact() to rewrite it "
                "under the current spec"
            )
        if raw == HIVE_NULL_PARTITION:
            # a NULL join key can never satisfy an equality join — these
            # rows are skipped for inner joins and null-extended for the
            # preserving outer sides
            null_files.append(f)
            continue
        out.setdefault(int(raw), []).append(f)
    return out, null_files, delete_files


def _read_bucket(spark, table, files, deletes) -> DataFrame:
    """One bucket's rows with the table's merge-on-read delete state
    applied (read semantics identical to LakehouseTable.read)."""
    df = table._read_file_group(
        spark,
        files,
        table.read_schema(),
        with_position=_has_positional(deletes),
    )
    if deletes:
        df = table._apply_deletes(spark, df, deletes)
    return df.drop("__seq", "__fp", "__pos")


def _null_extend(df: DataFrame, schema, skip: set[str], rename: dict) -> DataFrame:
    """Append the other side's columns as typed nulls — the no-match
    projection for one-sided buckets and NULL partitions."""
    extra = [
        F.lit(None).cast(f.dataType).alias(rename.get(f.name, f.name))
        for f in schema.fields
        if f.name not in skip
    ]
    return df.select("*", *extra)


def storage_partitioned_join(
    spark: SparkSession,
    left,
    right,
    key: str,
    broadcast_right: bool = True,
    how: str = "inner",
    branch: str = "main",
    max_join_groups: int = 32,
) -> DataFrame:
    """Join two bucket-co-partitioned tables with no join-key shuffle: a
    union of per-bucket-group joins. ``how``: inner (default), left, right,
    or full — outer semantics match the plain shuffle join because matching
    keys always share a bucket. Output columns: join key, left columns,
    then the right table's non-key columns (suffixed ``_r`` on collision).

    Per-group broadcast hints follow Spark's build-side rules: right side
    for inner/left, left side for right; full-outer groups run unhinted
    (each group is ~1/K of the data — sort-merge locally is fine).

    ``max_join_groups`` caps plan width: with wide specs (say 512 buckets)
    a strictly per-bucket union would build a 512-way plan, so buckets fold
    into at most this many grouped sub-joins. Grouping preserves results
    exactly — equal keys hash to the same bucket on both sides, so joining
    the union of a bucket set's files on each side yields precisely the
    union of the per-bucket joins (no cross-bucket key can ever match).
    Both sides are read with matched bucket sets, so the no-shuffle
    co-location property is kept per group."""
    norm = _HOW.get(how.lower().replace("-", "_"))
    if norm is None:
        raise ValueError(f"unsupported join type {how!r} for SPJ")
    how = norm
    if max_join_groups < 1:
        raise ValueError("max_join_groups must be >= 1")
    pa, pb = _bucket_field(left, key), _bucket_field(right, key)
    if int(pa.param) != int(pb.param):
        raise ValueError(
            f"bucket counts differ: left {pa.param} vs right {pb.param} — "
            "co-location needs identical specs"
        )
    la, lnull, ldel = _files_by_bucket(left, pa, branch)
    lb, rnull, rdel = _files_by_bucket(right, pb, branch)
    lschema, rschema = left.read_schema(), right.read_schema()
    lcols = {f.name for f in lschema.fields}
    rename = {
        f.name: f"{f.name}_r"
        for f in rschema.fields
        if f.name != key and f.name in lcols
    }

    def _right_frame(files) -> DataFrame:
        db = _read_bucket(spark, right, files, rdel)
        for old, new in rename.items():
            db = db.withColumnRenamed(old, new)
        return db

    def _left_only(df: DataFrame) -> DataFrame:
        return _null_extend(df, rschema, {key}, rename)

    def _right_only(df: DataFrame) -> DataFrame:
        # key first, then left columns as nulls, then right columns —
        # unionByName aligns by name so ordering is cosmetic
        nulls = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in lschema.fields
            if f.name != key
        ]
        rest = [
            F.col(rename.get(f.name, f.name))
            for f in rschema.fields
            if f.name != key
        ]
        return df.select(F.col(key), *nulls, *rest)

    # fold buckets into at most max_join_groups grouped sub-joins per
    # class (both-sided / left-only / right-only) — matched bucket sets
    # on both sides keep the join co-located, and equal keys can never
    # cross buckets, so group results == union of per-bucket results
    both = sorted(b for b in la if b in lb)
    lonly = sorted(b for b in la if b not in lb)
    ronly = sorted(b for b in lb if b not in la)

    def _groups(ids: list[int]) -> list[list[int]]:
        if not ids:
            return []
        size = -(-len(ids) // max_join_groups)  # ceil
        return [ids[i : i + size] for i in range(0, len(ids), size)]

    parts: list[DataFrame] = []
    for grp in _groups(both):
        da = _read_bucket(
            spark, left, [f for b in grp for f in la[b]], ldel
        )
        db = _right_frame([f for b in grp for f in lb[b]])
        if broadcast_right:
            if how in ("inner", "left"):
                db = F.broadcast(db)
            elif how == "right":
                da = F.broadcast(da)
        parts.append(da.join(db, key, how))
    if how in ("left", "full"):
        for grp in _groups(lonly):
            files = [f for b in grp for f in la[b]]
            parts.append(_left_only(_read_bucket(spark, left, files, ldel)))
    if how in ("right", "full"):
        for grp in _groups(ronly):
            parts.append(_right_only(_right_frame([f for b in grp for f in lb[b]])))
    # NULL join keys never match: preserved sides emit them null-extended
    if lnull and how in ("left", "full"):
        parts.append(_left_only(_read_bucket(spark, left, lnull, ldel)))
    if rnull and how in ("right", "full"):
        parts.append(_right_only(_right_frame(rnull)))
    if not parts:
        # no live files on either relevant side → empty joined schema
        da = left.read(spark, branch=branch).limit(0)
        db = right.read(spark, branch=branch).limit(0)
        for old, new in rename.items():
            db = db.withColumnRenamed(old, new)
        return da.join(db, key, how)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
