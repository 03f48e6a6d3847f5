"""LakehouseTable — an Iceberg-semantics table over parquet + a JSON
snapshot log, written Spark-first.

This replaces the reference's Iceberg writer/committer stack (the container
has no Iceberg runtime): same *semantics*, Spark-native *mechanics*.

Parity map (reference → here):
- atomic snapshot commit, one per batch   (Coordinator.java:217-257)
  → optimistic version-file link (O_EXCL), 3-attempt retry like
    IcebergSinkConfig.java:103-104
- append path, partitioned fan-out        (PartitionedAppendWriter.java)
  → df.write.partitionBy(derived partition cols): directory pruning on read
- delta path: equality deletes + appends  (BaseDeltaTaskWriter.java:37-102)
  → merge-on-read: delete-key parquet at sequence N applies to data files
    with sequence < N; read = data ⟕ max-delete-seq per key, filtered
- snapshot summary props (offsets, VTTS, commit UUID, batch id)
  → summary dict on every snapshot (Coordinator.java:63-65)
- offset/batch idempotence by walking snapshot ancestry
  (Coordinator.java:193-202,286-303) → last_summary_value()
- branches (commit-branch config)         → named refs in table metadata
- schema evolution add/widen/make-optional (SchemaUtils.java:75-132)
  → evolve_schema() with optimistic retry; reads project every file group
    onto the current schema (convert.project_to_schema)
- time travel → read(snapshot_id=...)

Scale notes: data/delete files are only ever touched by executors through
df.read/write; the driver handles metadata JSON only (like Iceberg), and a
read plans from ONE metadata load. Each commit writes its files under a
hive-style commit dir, ``<root>/{data,deletes}/_commit=<uuid>/<partition
dirs>/part-*``, so a read loads every live file sharing a write schema,
format and partition-dir set in ONE Spark scan rooted at ``data/`` (or
``deletes/``), with the manifests naming the files (no distributed listing
job): planning and task setup follow the number of write schemas, not the
number of commits, as Iceberg plans one set of file tasks per read. Each
row's sequence number (``__seq``) comes from its commit dir: a literal when
the scan spans one sequence number, else a broadcast join of the
``_commit`` partition column against the manifests' (commit → seq) map.
Legacy ``data/<hex>`` dirs, avro, imported or cloned entries and commit
dirs carrying two sequence numbers still read through one scan per
(seq, base dir, format) group. The merge-on-read anti-join is one
broadcast-or-shuffle join on the key columns; compact() folds deletes into
data files to bound read amplification, exactly like Iceberg maintenance.
"""

from __future__ import annotations

import glob as globmod
import json
import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..convert import project_to_schema
from ..functions import local_df
from .spec import (
    COMMIT_DIR_KEY,
    HIVE_NULL_PARTITION,
    PartitionField,
    parse_partition_spec,
    partition_dir_value,
    partition_segments,
)
from .stats import collect_parquet_stats, file_may_match, split_conjuncts

COMMIT_RETRIES = 3  # IcebergSinkConfig.java:103-104 (schema/create retries)
MAIN = "main"

import contextlib


@contextlib.contextmanager
def commit_sized_caches(spark: SparkSession):
    """Let AQE right-size the cached frames a table mutation materializes
    (optimization guide §2.2 "fewer, larger reduce partitions" / §6 small
    files). The collapsed upsert batch, the MERGE mark frame and the DML
    matched frames are persisted right after a shuffle; with
    ``canChangeCachedPlanOutputPartitioning`` at its default (false) the
    cache pins the raw shuffle width (defaultParallelism), so every tiny
    commit fans into one file PER SHUFFLE PARTITION — 32 micro-files plus
    32 footer stats per commit at local widths, and downstream
    merge-on-read scans of the table pay one task per micro-file. With the
    flag on, AQE coalesces the cached plan to its data size (parallelism-
    first, so real-scale batches keep every core busy), which is exactly
    the write.distribution guidance of guide §6. Scoped to the mutation
    call rather than the session: analytics operators persist big shuffled
    intermediates whose fixed width keeps the compute wide (measured: a
    session-wide flag cost docs_span_dedup 1.23x, dedup_incremental
    1.12x), so only commit-path caches opt in."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@contextlib.contextmanager
def _listed_on_driver(spark: SparkSession, n_paths: int):
    """Keep the file listing of a load over ``n_paths`` manifest-known
    files on the driver. Past ``parallelPartitionDiscovery.threshold``
    (default 32) paths, Spark lists them with a distributed Spark job —
    for files the manifests already name, that job only stats them and
    costs more than the stats (measured on a 4-vCPU host: ``read()`` of an
    80-file table planned in 0.19-0.25 s instead of 0.64-0.67 s). Scoped
    to the load, like ``commit_sized_caches``, so directory loads
    elsewhere keep Spark's parallel listing."""
    prev = spark.conf.get(_LISTING_THRESHOLD)
    if n_paths <= int(prev):
        yield
        return
    spark.conf.set(_LISTING_THRESHOLD, str(n_paths))
    try:
        yield
    finally:
        spark.conf.set(_LISTING_THRESHOLD, prev)


def _register_codecs_by_value() -> None:
    """Make the roaring/puffin codec modules cloudpickle BY VALUE, so
    delete-vector UDF closures carry the (pure-stdlib, ~200-line) code to
    Python workers that don't have the package on their sys.path."""
    from pyspark import cloudpickle

    from ..functions import roaring
    from . import puffin

    cloudpickle.register_pickle_by_value(roaring)
    cloudpickle.register_pickle_by_value(puffin)


def _lineage_on(props: dict) -> bool:
    """True when the property set enables v3 row lineage (see
    ``LakehouseTable.lineage_enabled``)."""
    if str(props.get("row-lineage.enabled", "")).lower() == "true":
        return True
    try:
        return int(props.get("format-version", 2)) >= 3
    except (TypeError, ValueError):
        return False


def _has_positional(delete_files: list[dict]) -> bool:
    # deletion vectors are position deletes in bitmap clothing: both need
    # the scan to carry (file, ordinal) row identity
    return any(
        f.get("delete_type") in ("position", "dv") for f in delete_files
    )


def _fp_norm(col: Column) -> Column:
    """Normalize ``_metadata.file_path`` to a plain absolute path: Spark
    renders local URIs as ``file:/...`` (sometimes ``file:///...``); both
    collapse to ``/...`` so write-time relativization and read-time
    reconstruction agree regardless of the rendering.

    The rendering is also percent-ENCODED (space → ``%20``, ``%`` →
    ``%25``, non-ASCII → UTF-8 escapes), while ``os.path.abspath(root)``
    and ``fentry["path"]`` are raw filesystem strings — so the encoded form
    must be decoded or a table root / partition value containing such a
    character makes the prefix strip cut at the wrong offset and the
    position-delete anti-join silently misses (resurrecting deleted rows).
    ``url_decode`` also maps literal ``+`` to space (URLDecoder semantics),
    which URI *path* rendering never produces for a space — protect literal
    ``+`` by pre-encoding it so only genuine %XX sequences decode."""
    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(col, r"^file:/+", "/"), r"\+", "%2B"
        )
    )


def _fp_store(col: Column, prefix: str) -> Column:
    """Position-delete storage form of a scanned row's file path: root-
    relative when the data file lives under the table root, absolute
    otherwise (imported Iceberg tables reference external data files in
    place — sinks/iceberg_import.py)."""
    n = _fp_norm(col)
    return F.when(
        n.startswith(prefix),
        n.substr(F.lit(len(prefix) + 1), F.lit(1 << 30)),
    ).otherwise(n)


def _fp_load(col: Column, prefix: str) -> Column:
    """Inverse of _fp_store: reconstruct the absolute path of a stored
    position-delete file_path (relative → prefix with the table root,
    absolute → as-is)."""
    return F.when(col.startswith("/"), col).otherwise(
        F.concat(F.lit(prefix), col)
    )

_WIDENINGS = {("integer", "long"), ("float", "double")}


def _evolve_struct(
    current: T.StructType, incoming: T.StructType
) -> tuple[T.StructType, bool]:
    """Recursive add/widen merge of two struct schemas (nested structs and
    array/map element structs included)."""
    by_name = {f.name: f for f in current.fields}
    fields = []
    changed = False
    for f in current.fields:
        inc = next((g for g in incoming.fields if g.name == f.name), None)
        if inc is None:
            fields.append(f)
            continue
        new_dt, c = _evolve_type(f.dataType, inc.dataType)
        fields.append(T.StructField(f.name, new_dt, f.nullable or inc.nullable))
        changed = changed or c or (inc.nullable and not f.nullable)
    for g in incoming.fields:
        if g.name not in by_name:
            fields.append(T.StructField(g.name, g.dataType, True))
            changed = True
    return T.StructType(fields), changed


def _evolve_type(cur: T.DataType, inc: T.DataType) -> tuple[T.DataType, bool]:
    if (cur.typeName(), inc.typeName()) in _WIDENINGS:
        return inc, True
    if isinstance(cur, T.StructType) and isinstance(inc, T.StructType):
        return _evolve_struct(cur, inc)
    if isinstance(cur, T.ArrayType) and isinstance(inc, T.ArrayType):
        el, c = _evolve_type(cur.elementType, inc.elementType)
        return T.ArrayType(el, cur.containsNull or inc.containsNull), c
    if isinstance(cur, T.MapType) and isinstance(inc, T.MapType):
        vt, c = _evolve_type(cur.valueType, inc.valueType)
        return T.MapType(cur.keyType, vt, cur.valueContainsNull or inc.valueContainsNull), c
    return cur, False


def _coerce_bucket_literal(value, dtype: T.DataType | None):
    """Coerce a parsed predicate literal to the bucket SOURCE column's
    python type for spec-hash evaluation; None = not coercible → the
    caller skips pruning (conservative). A bare-number literal against a
    string column stays unprunable: Spark's comparison casts the COLUMN
    to the number ('034' = 34 matches), so no single string hash covers
    the matching rows."""
    import datetime as dt
    import decimal

    if dtype is None:
        return None
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        try:
            return int(value)
        except (TypeError, ValueError):
            return None
    if isinstance(dtype, T.StringType):
        return value if isinstance(value, str) else None
    if isinstance(dtype, T.DateType) and isinstance(value, str):
        try:
            return dt.date.fromisoformat(value)
        except ValueError:
            return None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)) and isinstance(
        value, str
    ):
        try:
            return dt.datetime.fromisoformat(value.replace(" ", "T"))
        except ValueError:
            return None
    if isinstance(dtype, T.DecimalType):
        try:
            # rescale to the column's scale: Iceberg hashes the unscaled
            # value AT THE TYPE's scale ('14.2' at scale 2 is 1420, not 142)
            # trap BOTH: a bare Context() traps Inexact only by request,
            # and leaving InvalidOperation untrapped makes quantize of a
            # >28-digit literal return NaN instead of raising
            return decimal.Decimal(str(value)).quantize(
                decimal.Decimal(1).scaleb(-dtype.scale),
                context=decimal.Context(
                    traps=[decimal.Inexact, decimal.InvalidOperation]
                ),
            )
        except (decimal.InvalidOperation, decimal.Inexact, ValueError):
            return None
    return None


class CommitConflict(Exception):
    pass


class LakehouseTable:
    def __init__(self, root: str):
        self.root = root

    # ---------------------------------------------------------------- paths
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    def _version_path(self, v: int) -> str:
        return os.path.join(self._meta_dir, f"v{v}.json")

    # ------------------------------------------------------------- metadata
    @staticmethod
    def create(
        root: str,
        schema: T.StructType,
        partition_by: list[str] | str | None = None,
        properties: dict | None = None,
        identifier_fields: list[str] | None = None,
    ) -> "LakehouseTable":
        t = LakehouseTable(root)
        os.makedirs(t._meta_dir, exist_ok=True)
        meta = {
            "table_uuid": str(uuid.uuid4()),
            "schema": json.loads(schema.json()),
            "partition_spec": [
                f.to_json() for f in parse_partition_spec(partition_by)
            ],
            "properties": properties or {},
            # Iceberg identifier-field parity: the schema's row identity,
            # used as upsert key when the sink config names none
            # (BaseDeltaTaskWriter uses the schema's identifierFieldIds)
            "identifier_fields": identifier_fields or [],
            "snapshots": [],
            "refs": {},
            "version": 0,
        }
        t._write_version(0, meta)
        return t

    def identifier_fields(self) -> list[str]:
        return self.metadata().get("identifier_fields", [])

    @staticmethod
    def exists(root: str) -> bool:
        return bool(globmod.glob(os.path.join(root, "metadata", "v*.json")))

    def current_version(self) -> int:
        versions = [
            int(os.path.basename(p)[1:-5])
            for p in globmod.glob(os.path.join(self._meta_dir, "v*.json"))
        ]
        if not versions:
            raise FileNotFoundError(f"no table at {self.root}")
        return max(versions)

    def metadata(self) -> dict:
        with open(self._version_path(self.current_version())) as f:
            return json.load(f)

    def _write_version(self, v: int, meta: dict) -> None:
        """Atomic, conflict-detecting commit: hard-link fails if vN exists."""
        meta["version"] = v
        tmp = os.path.join(self._meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        try:
            os.link(tmp, self._version_path(v))
        except FileExistsError as e:
            raise CommitConflict(f"version {v} already committed") from e
        finally:
            os.unlink(tmp)

    # The accessors below take an optional already-loaded ``meta``: a
    # caller planning one operation passes the dict it loaded, so every
    # lookup sees the same table version (and the version JSON is read
    # once, not once per lookup).
    def schema(self, meta: dict | None = None) -> T.StructType:
        return T.StructType.fromJson((meta or self.metadata())["schema"])

    def partition_spec(self, meta: dict | None = None) -> list[PartitionField]:
        return [
            PartitionField.from_json(d)
            for d in (meta or self.metadata())["partition_spec"]
        ]

    def properties(self, meta: dict | None = None) -> dict:
        return (meta or self.metadata())["properties"]

    def format_version(self) -> int:
        """Table format version (Iceberg ``format-version`` property;
        default 2). Version 3 turns on row lineage."""
        return int(self.properties().get("format-version", 2))

    def lineage_enabled(self) -> bool:
        """Row lineage is a format-v3 feature (Iceberg spec "Row Lineage":
        mandatory on v3 tables, absent on v2). Gating matters for cost:
        v2 tables skip ``next-row-id`` claiming at commit and — the
        expensive part — the lineage-column materialization every parquet
        rewrite would otherwise pay (reading with ``_metadata`` position
        columns and writing two extra BIGINT columns into every rewritten
        file). Upgrade with ``set_properties({"format-version": "3"})``:
        files committed before the upgrade carry no ``first_row_id`` and
        read NULL ids (the spec's "unknown"), files after get ranges.
        ``row-lineage.enabled=true`` is accepted as an explicit opt-in
        alias."""
        return _lineage_on(self.properties())

    def name_mapping(self, meta: dict | None = None) -> dict[str, list[str]]:
        """Parse the ``schema.name-mapping.default`` table property (the
        Iceberg NameMapping JSON: ``[{"field-id": n, "names": [...]}, ...]``)
        into {schema field name → alias names}. The reference resolves
        incoming record fields through this mapping
        (RecordConverter.java:100-103,245-271)."""
        meta = meta or self.metadata()
        raw = self.properties(meta).get("schema.name-mapping.default")
        if not raw:
            return {}
        entries = json.loads(raw)
        field_names = {f.name for f in self.schema(meta).fields}
        out: dict[str, list[str]] = {}
        for e in entries:
            names = e.get("names", [])
            canon = next((n for n in names if n in field_names), None)
            if canon is not None:
                out[canon] = [n for n in names if n != canon]
        return out

    def read_schema(self, meta: dict | None = None) -> T.StructType:
        """Table schema extended with the derived partition columns (typed),
        so partition predicates prune at the scan."""
        meta = meta or self.metadata()
        schema = self.schema(meta)
        names = {f.name for f in schema.fields}
        fields = list(schema.fields)
        for pf in self.partition_spec(meta):
            if pf.name not in names:
                rt = pf.result_type()
                if rt is not None:
                    dt = {
                        "int": T.IntegerType(),
                        "string": T.StringType(),
                        "bigint": T.LongType(),
                    }[rt]
                    fields.append(T.StructField(pf.name, dt))
        return T.StructType(fields)

    # ------------------------------------------------------------ snapshots
    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def current_snapshot(self, branch: str = MAIN) -> dict | None:
        meta = self.metadata()
        sid = meta["refs"].get(branch)
        if sid is None:
            return None
        return next(s for s in meta["snapshots"] if s["snapshot_id"] == sid)

    def _snapshot_by_id(self, meta: dict, sid: str) -> dict:
        for s in meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return s
        raise ValueError(
            f"unknown snapshot {sid!r} (expired or never existed) at {self.root}"
        )

    def last_summary_value(
        self, key: str, branch: str = MAIN, where_key: str | None = None
    ) -> str | None:
        """Walk snapshot ancestry for a summary property — the reference's
        last-committed-offset lookup (Coordinator.java:193-202,286-303).
        ``where_key`` selects the first ancestor carrying that marker
        instead (returning its ``key`` value) — e.g. a writer's batch id
        scoped to snapshots that writer stamped."""
        meta = self.metadata()
        sid = meta["refs"].get(branch)
        while sid is not None:
            snap = self._snapshot_by_id(meta, sid)
            if (where_key or key) in snap["summary"]:
                return snap["summary"].get(key)
            sid = snap["parent"]
        return None

    def _commit_snapshot(
        self,
        operation: str,
        data_files: list[dict],
        delete_files: list[dict],
        summary: dict,
        branch: str,
        replace: bool = False,
        new_schema: dict | None = None,
        preserve_seq: bool = False,
        expected_parent: str | None = None,
    ) -> dict:
        """Optimistic-retry commit of a new snapshot onto ``branch``.

        Metadata scale: each snapshot stores only its ADDED files, in a side
        manifest file (``metadata/man-<sid>.json``); the live set is
        reconstructed by ancestry walk (``_live_files``). The version JSON
        the driver rewrites per commit is therefore O(snapshots), and each
        commit writes O(files-added) — Iceberg's manifest-list shape, not
        O(snapshots × files)."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            parent_id = meta["refs"].get(branch)
            # expected_parent: REPLACE commits rewrite the full live set as
            # computed from a specific head — if the branch moved since (a
            # concurrent append), blindly re-parenting would erase the
            # concurrent snapshot's files. Iceberg's RewriteFiles fails this
            # validation the same way; the caller re-plans and retries.
            if expected_parent is not None and parent_id != expected_parent:
                raise CommitConflict(
                    f"branch {branch!r} moved from {expected_parent!r} to "
                    f"{parent_id!r} during rewrite; re-plan the rewrite"
                )
            parent = (
                self._snapshot_by_id(meta, parent_id) if parent_id else None
            )
            seq = (parent["sequence_number"] + 1) if parent else 1
            sid = uuid.uuid4().hex
            manifest_rel = os.path.join("metadata", f"man-{sid}.json")
            with open(os.path.join(self.root, manifest_rel), "w") as f:
                # preserve_seq: partial rewrites (binpack) carry files over
                # from earlier snapshots — their original sequence numbers
                # must survive so existing equality deletes keep applying
                def _seq(entry: dict) -> int:
                    if preserve_seq and "seq" in entry:
                        return entry["seq"]
                    return seq

                # v3 row lineage (format-version >= 3 only): every added
                # data file claims a first_row_id range
                # [next-row-id, next-row-id + rows); carried-over files
                # (preserve_seq rewrites) keep theirs. Files without a
                # recorded row count (avro) get None — their rows read
                # _row_id NULL, the spec's "unknown" (next-row-id only
                # ever grows, even across deletes). v2 tables skip
                # claiming entirely — lineage is a v3 feature and the
                # counter would be dead metadata.
                lineage = _lineage_on(meta.get("properties") or {})
                next_row_id = meta.get("next-row-id", 0)
                stamped_data = []
                for df_ in data_files:
                    e = {**df_, "seq": _seq(df_)}
                    if lineage and not (
                        preserve_seq and "first_row_id" in df_
                    ):
                        nrows = (df_.get("stats") or {}).get("rows")
                        if nrows is None:
                            e["first_row_id"] = None
                        else:
                            e["first_row_id"] = next_row_id
                            next_row_id += int(nrows)
                    stamped_data.append(e)
                if lineage:
                    meta["next-row-id"] = next_row_id

                json.dump(
                    {
                        "added_data_files": stamped_data,
                        "added_delete_files": [
                            {**df_, "seq": _seq(df_)} for df_ in delete_files
                        ],
                    },
                    f,
                )
            snap = {
                "snapshot_id": sid,
                "parent": parent_id,
                "sequence_number": seq,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "manifest": manifest_rel,
                "replace": replace or parent is None,
                "summary": {**summary, "commit-uuid": uuid.uuid4().hex},
            }
            meta["snapshots"].append(snap)
            meta["refs"][branch] = snap["snapshot_id"]
            if new_schema is not None:
                meta["schema"] = new_schema
            try:
                self._write_version(meta["version"] + 1, meta)
                self._maybe_merge_manifests(operation, branch)
                return snap
            except CommitConflict:
                os.unlink(os.path.join(self.root, manifest_rel))
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        raise CommitConflict("unreachable")

    def _maybe_merge_manifests(self, operation: str, branch: str) -> None:
        """Iceberg's automatic manifest merging on commit
        (``commit.manifest.min-count-to-merge``, TableProperties default
        100 — merge when the manifest count crosses the threshold): when
        the property is set on this table and the metadata walk behind
        ``branch`` is at least that deep, squash it with
        ``rewrite_manifests()`` right after the commit. Opt-in (unset =
        never), self-guarding (a rewrite-manifests commit never
        re-triggers), and never fails the data commit it piggybacks on.

        This runs AFTER ``_write_version`` succeeds, i.e. the data commit
        is already durable — so NOTHING here may raise: a caller seeing an
        exception would retry the "failed" write and double-commit. A
        malformed property value is logged and ignored (the table keeps
        accepting writes, just without auto-merge), and any unexpected
        rewrite failure — including a concurrent writer racing the squash —
        just leaves the merge for the next commit."""
        if operation == "rewrite-manifests":
            return
        raw = self.properties().get("commit.manifest.min-count-to-merge")
        if raw is None:
            return
        try:
            threshold = int(raw)
        except (ValueError, TypeError):
            logging.getLogger(__name__).warning(
                "ignoring malformed commit.manifest.min-count-to-merge=%r "
                "(must be an int); auto manifest merge skipped",
                raw,
            )
            return
        if threshold < 2:
            return
        try:
            self.rewrite_manifests(branch=branch, min_manifests=threshold)
        except Exception:  # noqa: BLE001 — post-commit: must never escape
            logging.getLogger(__name__).warning(
                "auto manifest merge failed after a durable commit; "
                "leaving the merge for the next commit",
                exc_info=True,
            )

    # ------------------------------------------------------ manifest access
    def _load_manifest(self, snap: dict) -> tuple[list[dict], list[dict]]:
        """A snapshot's ADDED (data, delete) files. Legacy snapshots stored
        full cumulative lists inline; they terminate the ancestry walk, so
        returning them here keeps old tables readable."""
        if "manifest" in snap:
            with open(os.path.join(self.root, snap["manifest"])) as f:
                m = json.load(f)
            return m["added_data_files"], m["added_delete_files"]
        return snap.get("data_files", []), snap.get("delete_files", [])

    def _live_files(
        self, meta: dict, snap: dict
    ) -> tuple[list[dict], list[dict]]:
        """Full live (data, delete) file lists at ``snap``: walk ancestry
        accumulating per-snapshot additions until a replace snapshot (or a
        legacy full-list snapshot) terminates the chain. Parents resolve
        through one id → snapshot index, so the walk is linear in its
        depth rather than quadratic in the history length."""
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        data_parts: list[list[dict]] = []
        delete_parts: list[list[dict]] = []
        cur: dict | None = snap
        while cur is not None:
            d, dl = self._load_manifest(cur)
            data_parts.append(d)
            delete_parts.append(dl)
            if cur.get("replace") or "manifest" not in cur:
                break
            pid = cur["parent"]
            # an unknown parent falls through to the lookup's error
            cur = (
                (by_id.get(pid) or self._snapshot_by_id(meta, pid))
                if pid
                else None
            )
        data = [f for part in reversed(data_parts) for f in part]
        deletes = [f for part in reversed(delete_parts) for f in part]
        return data, deletes

    # ----------------------------------------------------------- file write
    def file_format(self) -> str:
        """S6: file format from the table property ``write.format.default``
        (Utilities.java:160-167) — parquet (default), orc, or avro (avro via
        the self-contained OCF codec in sinks/avro_io.py: no spark-avro jar
        in this deployment)."""
        fmt = self.properties().get("write.format.default", "parquet").lower()
        if fmt not in ("parquet", "orc", "avro"):
            raise ValueError(f"unsupported write.format.default: {fmt}")
        return fmt

    def _write_files(self, df: DataFrame, subdir: str) -> list[dict]:
        """Write a DataFrame as data files under a fresh commit dir
        ``<subdir>/_commit=<uuid>`` (the entries' ``base``); the derived
        partition columns (if any) are appended and partitionBy'd below it
        so readers get directory pruning. The hive-shaped commit dir lets
        one scan rooted at ``<subdir>`` read many commits' files
        (``_read_file_group``). Avro keeps partition columns inline (our
        OCF reader reads explicit file lists; no directory layout to
        prune)."""
        fmt = self.file_format()
        out_dir = os.path.join(
            self.root, subdir, f"{COMMIT_DIR_KEY}={uuid.uuid4().hex}"
        )
        writer = df
        pcols = []
        if subdir == "data":
            # delete-key files carry only the key columns — never partitioned
            for f in self.partition_spec():
                if f.name not in df.columns:
                    writer = writer.withColumn(f.name, f.expr())
                if fmt != "avro":
                    pcols.append(f.name)
        # write.sort-order: cluster rows inside files so parquet min/max
        # stats prune row groups for predicates on the sort columns — the
        # Iceberg sort-order table property, Spark-native
        sort_order = self.properties().get("write.sort-order")
        sort_cols = (
            [c.strip() for c in sort_order.split(",") if c.strip()]
            if sort_order
            else []
        )
        # write.distribution-mode (Iceberg SparkWrite parity): a partitioned
        # write with no distribution emits one file per (task × partition
        # value) — the classic small-files explosion once tasks × partitions
        # grows. "hash" co-locates each partition value on one task (one
        # shuffle, one file per partition value per commit); "range"
        # additionally range-clusters on partition + sort columns so file
        # bounds are disjoint for stats pruning. Default "none" keeps the
        # upstream distribution.
        dist = self.properties().get("write.distribution-mode", "none").lower()
        if subdir == "data" and pcols and dist == "hash":
            writer = writer.repartition(*[F.col(c) for c in pcols])
        elif subdir == "data" and dist == "range" and (pcols or sort_cols):
            # unpartitioned + sort-order is a first-class range case: the
            # clustering is exactly what makes file bounds disjoint
            writer = writer.repartitionByRange(
                *[F.col(c) for c in (pcols + sort_cols)]
            )
        if sort_cols and subdir == "data":
            writer = writer.sortWithinPartitions(*sort_cols)
        if fmt == "avro":
            from . import avro_io

            paths = avro_io.write_avro_files(writer, out_dir)
            base = os.path.relpath(out_dir, self.root)
            return [
                {
                    "path": os.path.relpath(p, self.root),
                    "base": base,
                    "format": fmt,
                    "bytes": os.path.getsize(p),
                }
                for p in paths
            ]
        w = writer.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        # Iceberg parquet bloom-filter property passthrough
        # (write.parquet.bloom-filter-enabled.column.<col> — Iceberg
        # TableProperties.PARQUET_BLOOM_FILTER_PREFIX): point lookups on
        # high-cardinality columns skip row groups that min/max bounds
        # can't, via the native parquet reader's bloom check.
        if fmt == "parquet" and subdir == "data":
            bloom_prefix = "write.parquet.bloom-filter-enabled.column."
            for prop, val in self.properties().items():
                if prop.startswith(bloom_prefix):
                    col = prop[len(bloom_prefix):]
                    w = w.option(f"parquet.bloom.filter.enabled#{col}", val)
        # file-size rolling (Utilities.java:165-167 → Iceberg
        # write.target-file-size-bytes): Spark's knob is rows-per-file, so
        # the byte target is converted with the table's own observed
        # bytes/row (live manifest bytes ÷ rows — pure metadata, no scan).
        # First commit has no history and rolls by task output; explicit
        # `write.target-file-rows` overrides.
        target_rows = self.properties().get("write.target-file-rows")
        if not target_rows and subdir == "data":
            target_bytes = self.properties().get("write.target-file-size-bytes")
            if target_bytes:
                row_bytes = self._observed_row_bytes()
                if row_bytes:
                    target_rows = max(1, int(int(target_bytes) / row_bytes))
        if target_rows:
            w = w.option("maxRecordsPerFile", int(target_rows))
        w.format(fmt).save(out_dir)
        base = os.path.relpath(out_dir, self.root)
        # record the exact schema the files were written under (partition
        # columns included, in writer order): readers pass it back as the
        # user-specified schema, skipping per-load footer schema inference —
        # a driver round-trip every merge-on-read group otherwise pays on
        # every read (Iceberg parity: manifests reference a schema, scans
        # never re-infer one from data files)
        schema_json = writer.schema.json()
        files = [
            {
                "path": os.path.relpath(p, self.root),
                "base": base,
                "format": fmt,
                "spark_schema": schema_json,
            }
            for p in globmod.glob(os.path.join(out_dir, "**", f"*.{fmt}"), recursive=True)
        ]
        for entry in files:
            entry["bytes"] = os.path.getsize(os.path.join(self.root, entry["path"]))
            # record the file's in-file sort so metadata consumers
            # (iceberg_export sort_order_id) claim only files actually
            # written under the current order
            if sort_cols and subdir == "data":
                entry["sort"] = list(sort_cols)
        if fmt == "parquet" and subdir == "data":
            # Iceberg manifests carry per-column lower/upper bounds per data
            # file; scan planning skips files those bounds rule out. Fold
            # each footer's row-group stats into the manifest entry.
            # Footer reads are tiny but latency-bound (one open+seek per
            # file): a partitioned/fanned-out commit lands dozens of files,
            # so read them on a thread pool instead of serially on the
            # driver — commit latency stays flat as file count grows.
            from concurrent.futures import ThreadPoolExecutor

            paths = [os.path.join(self.root, e["path"]) for e in files]
            if len(paths) > 1:
                with ThreadPoolExecutor(
                    max_workers=min(16, len(paths))
                ) as pool:
                    stats = list(pool.map(collect_parquet_stats, paths))
            else:
                stats = [collect_parquet_stats(p) for p in paths]
            for entry, st in zip(files, stats):
                if st is not None:
                    entry["stats"] = st
        return files

    def _observed_row_bytes(self) -> float | None:
        """Mean on-disk bytes per row over live data files whose entries
        carry both sizes and row counts — the history-based estimate that
        converts a byte file-size target into Spark's rows-per-file knob."""
        try:
            data_files, _ = self.live_files()
        except Exception:
            return None
        tot_b = tot_r = 0
        for f in data_files:
            st = f.get("stats")
            if f.get("bytes") and st and st.get("rows"):
                tot_b += f["bytes"]
                tot_r += st["rows"]
        return (tot_b / tot_r) if tot_r else None

    # ---------------------------------------------------------------- write
    def _project(self, df: DataFrame, case_insensitive: bool = False) -> DataFrame:
        """Schema-directed projection with the table's name mapping applied
        (RecordConverter.java:100-103); columns the writer omitted fill
        with their ``write-default`` (v3 default values) before the
        projection NULL-fills what remains."""
        return project_to_schema(
            self._apply_write_defaults(df),
            self.schema(),
            case_insensitive=case_insensitive,
            name_mapping=self.name_mapping(),
        )

    def append(
        self,
        df: DataFrame,
        branch: str = MAIN,
        snapshot_props: dict | None = None,
        case_insensitive: bool = False,
    ) -> dict:
        """S4: append path — one atomic snapshot per call (T6)."""
        data = self._project(df, case_insensitive)
        files = self._write_files(data, "data")
        return self._commit_snapshot(
            "append", files, [], snapshot_props or {}, branch
        )

    def overwrite(
        self,
        df: DataFrame,
        branch: str = MAIN,
        snapshot_props: dict | None = None,
        case_insensitive: bool = False,
    ) -> dict:
        """Atomically replace the table's entire content with ``df`` (one
        REPLACE snapshot — Iceberg overwrite/INSERT OVERWRITE semantics).
        The new files are written before the commit, so a crash mid-call
        leaves the previous snapshot intact and only stray uncommitted
        files behind. Reading the table's own current state inside ``df``
        is safe: old files are still on disk while the new ones write."""
        head = self.current_snapshot(branch)
        data = self._project(df, case_insensitive)
        files = self._write_files(data, "data")
        return self._commit_snapshot(
            "replace",
            files,
            [],
            snapshot_props or {},
            branch,
            replace=True,
            expected_parent=head["snapshot_id"] if head else None,
        )

    def upsert(
        self,
        df: DataFrame,
        key_cols: list[str] | None = None,
        op_col: str | None = None,
        order_cols: list[str] | None = None,
        branch: str = MAIN,
        snapshot_props: dict | None = None,
        upsert_mode: bool = True,
        case_insensitive: bool = False,
        assume_unique: bool = False,
    ) -> dict:
        """S5: delta path — equality-delete keys + appended rows, one atomic
        snapshot (T7). Deletes at sequence N apply to data with sequence < N;
        each delete-file entry records its key columns so reads group
        anti-joins by key-set even if id-columns change between batches.

        Two modes, matching BaseDeltaTaskWriter.java:72-84:

        - ``upsert_mode=True`` (iceberg.tables.upsert-mode-enabled): every
          record is an upsert — delete key written for every batch key,
          within-batch duplicates collapse last-wins (the reference applies
          records sequentially; SURVEY.md §7 step 5).
        - ``upsert_mode=False`` with ``op_col``: per-op semantics — only
          UPDATE/DELETE rows contribute a delete key; INSERT rows append
          blindly, so duplicate in-batch INSERTs each land a row (exactly the
          reference's insert path, which never writes a delete).

        ``assume_unique=True`` declares the batch already has one row per
        key (e.g. the output of collapse_last_wins or a per-key-net
        changelog collapse): the within-batch collapse shuffle — and the
        per-op window pass — are skipped entirely. The caller owns the
        guarantee; duplicate keys under this flag produce duplicate rows.
        """
        from ..operators.cdc import DELETE, collapse_last_wins

        if key_cols is None:
            # BaseDeltaTaskWriter parity: the schema's identifier fields
            # are the default row identity when no id-columns are given
            key_cols = self.identifier_fields()
            if not key_cols:
                raise ValueError(
                    "upsert needs key_cols (table has no identifier fields)"
                )
        if op_col is not None and op_col in df.columns and not upsert_mode:
            return self._upsert_per_op(
                df, key_cols, op_col, order_cols, branch, snapshot_props,
                case_insensitive, assume_unique,
            )
        batch = df
        if assume_unique:
            pass
        elif order_cols:
            batch = collapse_last_wins(batch, key_cols, order_cols)
        else:
            batch = batch.dropDuplicates(key_cols)
        with commit_sized_caches(df.sparkSession):
            batch = batch.persist()
            try:
                keys = batch.select(*key_cols)
                if op_col is not None and op_col in batch.columns:
                    inserts = batch.filter(F.col(op_col) != DELETE)
                else:
                    inserts = batch
                data = self._project(inserts, case_insensitive)
                delete_files, data_files = self._write_delete_and_data(
                    keys, key_cols, data
                )
                return self._commit_snapshot(
                    "overwrite", data_files, delete_files,
                    snapshot_props or {}, branch,
                )
            finally:
                batch.unpersist()

    def _written_rows(self, entries: list[dict]) -> int | None:
        """Total rows across freshly written parquet entries, read off
        their footers (the write itself never counted them — Spark's
        writer reports nothing back). None = unknown (non-parquet or an
        unreadable footer); callers must then assume non-empty."""
        total = 0
        for e in entries:
            if e.get("format", "parquet") != "parquet":
                return None
            st = e.get("stats") or {}
            n = st.get("rows")
            if n is None:
                try:
                    import pyarrow.parquet as pq

                    n = pq.ParquetFile(
                        os.path.join(self.root, e["path"])
                    ).metadata.num_rows
                except Exception:
                    return None
            total += n
        return total

    def _discard_written(self, entries: list[dict]) -> None:
        """Remove freshly written, never-committed file groups (the
        write-first empty-result path). Only the entries' own commit dirs
        are touched — nothing referenced by any snapshot lives there."""
        for e in entries:
            try:
                os.remove(os.path.join(self.root, e["path"]))
            except OSError:
                pass
        for base in {e.get("base") for e in entries if e.get("base")}:
            shutil.rmtree(os.path.join(self.root, base), ignore_errors=True)

    def _write_delete_files(self, keys: DataFrame, key_cols: list[str]) -> list[dict]:
        """Write equality-delete key files, stamping the key column set on
        each entry (read() groups merge-on-read joins by that set)."""
        return [
            {**f, "key_cols": list(key_cols)}
            for f in self._write_files(keys, "deletes")
        ]

    def _write_delete_and_data(
        self, keys: DataFrame, key_cols: list[str], data: DataFrame
    ) -> tuple[list[dict], list[dict]]:
        """Write one commit's equality-delete key files and data files as
        two CONCURRENT Spark jobs (both independent reads of the same
        persisted batch; the DAGScheduler shares any common upstream
        stages/cached blocks between them). An upsert's wall time becomes
        max(delete write, data write) instead of their sum — the latency
        term every micro-batch of a streaming CDC sync pays per commit."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_del = pool.submit(self._write_delete_files, keys, key_cols)
            f_dat = pool.submit(self._write_files, data, "data")
            return f_del.result(), f_dat.result()

    def _upsert_per_op(
        self,
        df: DataFrame,
        key_cols: list[str],
        op_col: str,
        order_cols: list[str] | None,
        branch: str,
        snapshot_props: dict | None,
        case_insensitive: bool = False,
        assume_unique: bool = False,
    ) -> dict:
        """Per-op CDC apply (cdc-field set, upsert-mode off). Per key, in
        arrival order: an INSERT appends; an UPDATE replaces everything
        earlier (one delete key + the row); a DELETE wipes everything
        earlier. Rows surviving the batch are the last U row (if any U/D op
        is last-ish) plus every INSERT after the final U/D — computed with
        one window pass instead of the reference's sequential per-record
        apply (BaseDeltaTaskWriter.java:72-84, Operation.java:21-25).

        ``assume_unique``: one row per key already — the arrival-order
        window degenerates (every row is its key's only row), so skip it:
        U/D rows contribute their key, non-DELETE rows survive as-is. This
        is the changelog-mirror path, whose net-per-key collapse guarantees
        uniqueness (streaming/replicate.py)."""
        from pyspark.sql.window import Window

        from ..operators.cdc import DELETE, UPDATE

        if assume_unique:
            with commit_sized_caches(df.sparkSession):
                batch = df.persist()
                try:
                    keys = batch.filter(
                        F.col(op_col).isin(UPDATE, DELETE)
                    ).select(*key_cols)
                    survivors = batch.filter(F.col(op_col) != DELETE)
                    data = self._project(survivors, case_insensitive)
                    delete_files, data_files = self._write_delete_and_data(
                        keys, key_cols, data
                    )
                    return self._commit_snapshot(
                        "overwrite", data_files, delete_files,
                        snapshot_props or {}, branch,
                    )
                finally:
                    batch.unpersist()

        batch = df
        ord_cols = list(order_cols) if order_cols else []
        if not ord_cols:
            # no explicit arrival order: fall back to input order within
            # each partition (monotonically_increasing_id preserves it)
            batch = batch.withColumn("__ord", F.monotonically_increasing_id())
            ord_cols = ["__ord"]
        w_ord = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).asc() for c in ord_cols]
        )
        w_key = Window.partitionBy(*key_cols)
        is_ud = F.col(op_col).isin(UPDATE, DELETE)
        with commit_sized_caches(df.sparkSession):
            batch = (
                batch.withColumn("__rank", F.row_number().over(w_ord))
                .withColumn(
                    "__ud_rank",
                    F.max(F.when(is_ud, F.col("__rank"))).over(w_key),
                )
                .persist()
            )
            try:
                keys = (
                    batch.filter(F.col("__ud_rank").isNotNull())
                    .select(*key_cols)
                    .distinct()
                )
                survivors = batch.filter(
                    (F.col(op_col) != DELETE)
                    & (
                        F.col("__ud_rank").isNull()
                        | (F.col("__rank") >= F.col("__ud_rank"))
                    )
                ).drop("__rank", "__ud_rank", "__ord")
                data = self._project(survivors, case_insensitive)
                delete_files, data_files = self._write_delete_and_data(
                    keys, key_cols, data
                )
                return self._commit_snapshot(
                    "overwrite", data_files, delete_files,
                    snapshot_props or {}, branch,
                )
            finally:
                batch.unpersist()

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: list[str],
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
        matched_condition: str | None = None,
        branch: str = MAIN,
        snapshot_props: dict | None = None,
        assume_unique: bool = False,
        when_not_matched_by_source: str | None = None,
        not_matched_by_source_condition: str | None = None,
        not_matched_by_source_set: dict[str, str] | None = None,
    ) -> dict:
        """MERGE INTO semantics over equality deletes (the statement Iceberg
        users run for CDC; the reference's delta writer is its streaming
        specialization, BaseDeltaTaskWriter.java:37-102).

        - ``when_matched``: "update" (replace the target row), "delete", or
          None (leave matched targets untouched).
        - ``when_not_matched``: "insert" or None.
        - ``matched_condition``: extra predicate on the *source* row gating
          the matched action (MERGE's ``WHEN MATCHED AND <cond>``).
        - ``when_not_matched_by_source``: "delete", "update", or None —
          SQL:2023's ``WHEN NOT MATCHED BY SOURCE`` (Spark 3.4+ MERGE):
          target rows whose key has NO source row are deleted, or updated
          with ``not_matched_by_source_set`` ({column: SQL expression over
          the target row}); ``not_matched_by_source_condition`` gates on
          the target row. This is the full-sync clause (mirror a source
          into a target INCLUDING removals) — one atomic commit.

        Scale shape: the update+insert case never reads the target — an
        equality delete for an absent key is a no-op, so it degenerates to
        the blind upsert path (no scan, no join). Only asymmetric clauses
        need target keys, and then only the key columns are scanned and
        joined (broadcast-or-shuffle by AQE).

        Like Spark/Iceberg MERGE, raises if two source rows share a key (the
        merge would be non-deterministic). The guard never costs an extra
        pass over the source lineage: the fast path folds it into the same
        key-collapse shuffle that feeds the upsert, the slow path reads it
        off the already-persisted marked batch, and
        ``assume_unique=True`` (source provably one-row-per-key, e.g.
        collapse_last_wins output) skips it entirely.
        """
        if when_matched not in ("update", "delete", None):
            raise ValueError(f"when_matched: {when_matched!r}")
        if when_not_matched not in ("insert", None):
            raise ValueError(f"when_not_matched: {when_not_matched!r}")
        if when_not_matched_by_source not in ("delete", "update", None):
            raise ValueError(
                f"when_not_matched_by_source: {when_not_matched_by_source!r}"
            )
        if when_not_matched_by_source == "update" and not (
            not_matched_by_source_set
        ):
            raise ValueError(
                "when_not_matched_by_source='update' needs "
                "not_matched_by_source_set ({column: SQL expr})"
            )

        def _raise_dup():
            raise ValueError(
                "MERGE source has duplicate keys on "
                f"{on!r}; de-duplicate (e.g. collapse_last_wins) first"
            )

        src = source
        cond = F.expr(matched_condition) if matched_condition else F.lit(True)
        if when_matched == "update" and when_not_matched == "insert" and (
            matched_condition is None
            and when_not_matched_by_source is None
        ):
            # fast path: blind upsert, no target scan. The duplicate-key
            # guard rides the SAME groupBy shuffle that collapses the batch
            # (count carried next to the row values), so checking costs one
            # tiny job over the collapsed cache, not a second source pass.
            if assume_unique:
                return self.upsert(
                    src, on, branch=branch, snapshot_props=snapshot_props,
                    assume_unique=True,
                )
            others = [c for c in src.columns if c not in on]
            with commit_sized_caches(spark):
                grouped = src.groupBy(*on).agg(
                    F.count(F.lit(1)).alias("__n"),
                    *[F.first(c).alias(c) for c in others],
                ).persist()
                try:
                    if (
                        grouped.filter(F.col("__n") > 1).limit(1).count() > 0
                    ):
                        _raise_dup()
                    return self.upsert(
                        grouped.drop("__n"),
                        on,
                        branch=branch,
                        snapshot_props=snapshot_props,
                        assume_unique=True,
                    )
                finally:
                    grouped.unpersist()
        tgt_keys = (
            self.read(spark, branch=branch)
            .select(*on)
            .distinct()
            .withColumn("__matched", F.lit(True))
        )
        with contextlib.ExitStack() as _stack:
            _stack.enter_context(commit_sized_caches(spark))
            marked = src.join(tgt_keys, on=on, how="left").persist()
            _stack.callback(marked.unpersist)
            if not assume_unique and (
                marked.groupBy(*on)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
                > 0
            ):
                _raise_dup()
            matched = marked.filter(F.col("__matched").isNotNull() & cond)
            delete_files: list[dict] = []
            appends = None
            # skip delete files when nothing matched: an insert-only outcome
            # must commit as a plain append (no phantom delete file, no
            # "overwrite" op breaking incremental consumers). isEmpty is a
            # LIMIT 1 over the persisted marked batch.
            if when_matched in ("update", "delete") and not matched.isEmpty():
                keys = matched.select(*on)
                delete_files = self._write_delete_files(keys, on)
            if when_matched == "update":
                appends = matched.drop("__matched")
            if when_not_matched == "insert":
                inserts = marked.filter(F.col("__matched").isNull()).drop(
                    "__matched"
                )
                appends = (
                    inserts if appends is None else appends.unionByName(inserts)
                )
            if when_not_matched_by_source is not None:
                # target rows with NO source key: scan target, anti-join
                # the (distinct) source keys — key columns only reach the
                # join; the row payload is needed only for the update form
                tgt = self.read(spark, branch=branch)
                if not_matched_by_source_condition:
                    tgt = tgt.filter(not_matched_by_source_condition)
                orphan = tgt.join(
                    src.select(*on).distinct(), on=on, how="left_anti"
                ).select(*[f.name for f in self.schema().fields])
                if not orphan.isEmpty():
                    delete_files += self._write_delete_files(
                        orphan.select(*on).distinct(), on
                    )
                    if when_not_matched_by_source == "update":
                        upd = orphan
                        for c, expr_sql in not_matched_by_source_set.items():
                            if c in on:
                                raise ValueError(
                                    f"cannot SET key column {c!r}"
                                )
                            upd = upd.withColumn(c, F.expr(expr_sql))
                        appends = (
                            upd
                            if appends is None
                            else appends.unionByName(upd)
                        )
            data_files = (
                self._write_files(self._project(appends), "data")
                if appends is not None
                else []
            )
            if not data_files and not delete_files:
                raise ValueError("MERGE with no active clause")
            # an insert-only merge mutates nothing existing: commit it as an
            # append so incremental consumers (appends_between) keep working
            op = "append" if not delete_files else "overwrite"
            return self._commit_snapshot(
                op,
                data_files,
                delete_files,
                snapshot_props or {},
                branch,
            )

    def delete_where(
        self,
        spark: SparkSession,
        where: str,
        key_cols: list[str],
        branch: str = MAIN,
        snapshot_props: dict | None = None,
    ) -> dict | None:
        """Row-level ``DELETE FROM t WHERE ...`` — merge-on-read via
        equality deletes, the same delete representation the reference's
        delta writer emits (BaseDeltaTaskWriter.java:71-84) and Iceberg's
        merge-on-read DELETE uses for identifier-keyed rows.

        ``key_cols`` must uniquely identify rows (the table's id-columns);
        an equality delete removes every live row sharing the key, so
        non-unique keys would over-delete.

        Scale shape: ONE predicate-pruned scan (``read(where=...)`` skips
        files whose recorded column bounds rule the predicate out) writing
        O(matching keys) — no data-file rewrite, no full-table pass.
        Returns None (no snapshot) when nothing matches, so incremental
        consumers never see an empty overwrite.
        """
        matched = (
            self.read(spark, branch=branch, where=where)
            .select(*key_cols)
            .distinct()
        )
        if self.file_format() != "parquet":
            # avro delete files carry no cheap row count — keep the
            # check-then-write shape there
            matched = matched.persist()
            try:
                if matched.isEmpty():
                    return None
                delete_files = self._write_delete_files(matched, key_cols)
                return self._commit_snapshot(
                    "overwrite", [], delete_files, snapshot_props or {}, branch
                )
            finally:
                matched.unpersist()
        # write-first: the empty guard used to cost a FULL extra job
        # (isEmpty evaluates the pruned merge-on-read scan once, the
        # write evaluates it again). Writing directly and reading the
        # row count off the written parquet footers makes the common
        # non-empty case one job; the rare no-match case discards an
        # empty uuid dir and still returns None (no snapshot).
        delete_files = self._write_delete_files(matched, key_cols)
        if self._written_rows(delete_files) == 0:
            self._discard_written(delete_files)
            return None
        return self._commit_snapshot(
            "overwrite", [], delete_files, snapshot_props or {}, branch
        )

    def delete_where_positions(
        self,
        spark: SparkSession,
        where: str,
        branch: str = MAIN,
        snapshot_props: dict | None = None,
    ) -> dict | None:
        """Row-level DELETE WHERE via POSITION deletes (Iceberg v2's other
        delete representation): each matching row is marked by its physical
        identity — (data file path, row ordinal) — instead of a key tuple.

        Use this when no unique id-columns exist: an equality delete removes
        every live row sharing the key (``delete_where``'s documented
        over-delete hazard on non-unique keys); a position delete removes
        exactly the rows the predicate matched, duplicates included, because
        (file, ordinal) can never alias — new files always get fresh uuid
        names.

        Scale shape: ONE predicate-pruned scan (files whose recorded bounds
        rule the predicate out are never opened) emitting O(matching rows)
        of 8-byte ordinals + file-path strings; no data-file rewrite. The
        file path is stored RELATIVE to the table root so the table stays
        relocatable; reads reconstruct the absolute URI. Parquet-only
        (``_metadata.row_index``). Returns None when nothing matches.

        Changelog note: a positional delete cannot be expressed as an
        equality changelog row — ``changes_between`` refuses the snapshot
        and consumers fall back to a full diff (streaming/mv.py does this
        automatically).
        """
        meta = self.metadata()
        snap = self.current_snapshot(branch)
        if snap is None:
            return None
        data_files, delete_files = self._live_files(meta, snap)
        data_files = self._prune_bucket_partitions(
            [f for f in data_files if file_may_match(f, where)], where
        )
        if not data_files:
            return None
        target = self.read_schema()
        rows = self._read_file_group(
            spark, data_files, target, with_position=True
        )
        # apply EXISTING deletes first so already-dead rows don't bloat the
        # delete file (harmless but wasteful to re-mark them)
        rows = self._apply_deletes(spark, rows, delete_files)
        prefix = os.path.abspath(self.root) + "/"
        matched = rows.filter(where).select(
            _fp_store(F.col("__fp"), prefix).alias("file_path"),
            F.col("__pos").alias("pos"),
        )
        if self.file_format() != "parquet":
            matched = matched.persist()
            try:
                if matched.isEmpty():
                    return None
                files = [
                    {**f, "delete_type": "position"}
                    for f in self._write_files(matched, "deletes")
                ]
                return self._commit_snapshot(
                    "overwrite", [], files, snapshot_props or {}, branch
                )
            finally:
                matched.unpersist()
        # write-first (see delete_where): the written parquet footers
        # carry the row count, so the pre-write isEmpty job is pure
        # overhead in the common non-empty case
        files = [
            {**f, "delete_type": "position"}
            for f in self._write_files(matched, "deletes")
        ]
        if self._written_rows(files) == 0:
            self._discard_written(files)
            return None
        return self._commit_snapshot(
            "overwrite", [], files, snapshot_props or {}, branch
        )

    def update_where(
        self,
        spark: SparkSession,
        where: str,
        assignments: dict[str, str],
        key_cols: list[str],
        branch: str = MAIN,
        snapshot_props: dict | None = None,
    ) -> dict | None:
        """Row-level ``UPDATE t SET col = expr, ... WHERE ...`` —
        merge-on-read: one snapshot carrying equality deletes for the
        matched keys plus re-appended rows with ``assignments`` applied
        (SQL expressions evaluated against the matched row).

        Same contract and scale shape as :meth:`delete_where`: ``key_cols``
        unique, one pruned scan, O(matches) written. Assignments that
        rewrite a key column move the row to the new key (old key deleted,
        new row appended), like a delete+insert.
        """
        unknown = set(assignments) - {f.name for f in self.read_schema().fields}
        if unknown:
            raise ValueError(f"UPDATE of unknown columns: {sorted(unknown)}")
        with commit_sized_caches(spark):
            matched = self.read(spark, branch=branch, where=where).persist()
            try:
                keys = matched.select(*key_cols).distinct()
                updated = matched.withColumns(
                    {c: F.expr(e) for c, e in assignments.items()}
                )
                # write-first (see delete_where): the two concurrent writes
                # materialize the persisted scan once; the no-match case is
                # detected from the written footers instead of a prior
                # isEmpty job, discards the empty dirs, and still commits
                # nothing. Non-parquet formats keep the pre-write check.
                if self.file_format() != "parquet":
                    if matched.isEmpty():
                        return None
                delete_files, data_files = self._write_delete_and_data(
                    keys, key_cols, self._project(updated)
                )
                if (
                    self.file_format() == "parquet"
                    and self._written_rows(delete_files) == 0
                ):
                    self._discard_written(delete_files + data_files)
                    return None
                return self._commit_snapshot(
                    "overwrite",
                    data_files,
                    delete_files,
                    snapshot_props or {},
                    branch,
                )
            finally:
                matched.unpersist()

    def update_where_positions(
        self,
        spark: SparkSession,
        where: str,
        assignments: dict[str, str],
        branch: str = MAIN,
        snapshot_props: dict | None = None,
    ) -> dict | None:
        """Row-level UPDATE WHERE without unique keys: one snapshot carrying
        POSITION deletes for the matched rows' physical identities plus the
        re-appended rows with ``assignments`` applied — the positional
        sibling of :meth:`update_where`, exact on duplicate rows for the
        same reason :meth:`delete_where_positions` is. Same scale shape:
        one predicate-pruned scan, O(matches) written, no file rewrite."""
        unknown = set(assignments) - {f.name for f in self.read_schema().fields}
        if unknown:
            raise ValueError(f"UPDATE of unknown columns: {sorted(unknown)}")
        meta = self.metadata()
        snap = self.current_snapshot(branch)
        if snap is None:
            return None
        data_files, delete_files = self._live_files(meta, snap)
        data_files = self._prune_bucket_partitions(
            [f for f in data_files if file_may_match(f, where)], where
        )
        if not data_files:
            return None
        rows = self._read_file_group(
            spark, data_files, self.read_schema(), with_position=True
        )
        rows = self._apply_deletes(spark, rows, delete_files)
        prefix = os.path.abspath(self.root) + "/"
        with commit_sized_caches(spark):
            matched = rows.filter(where).persist()
            try:
                if matched.isEmpty():
                    return None
                positions = matched.select(
                    _fp_store(F.col("__fp"), prefix).alias("file_path"),
                    F.col("__pos").alias("pos"),
                )
                dfiles = [
                    {**f, "delete_type": "position"}
                    for f in self._write_files(positions, "deletes")
                ]
                updated = matched.drop("__fp", "__pos", "__seq").withColumns(
                    {c: F.expr(e) for c, e in assignments.items()}
                )
                data = self._write_files(self._project(updated), "data")
                return self._commit_snapshot(
                    "overwrite", data, dfiles, snapshot_props or {}, branch
                )
            finally:
                matched.unpersist()

    def evolve_schema(self, incoming: T.StructType) -> bool:
        """§1.3 #3: add missing columns (including nested struct fields,
        RecordConverter.java:166-229), widen int→long / float→double.
        Optimistic retry like SchemaUtils.java:85-132. Returns True if the
        table schema changed."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            current = T.StructType.fromJson(meta["schema"])
            evolved, changed = _evolve_struct(current, incoming)
            if not changed:
                return False
            meta["schema"] = json.loads(evolved.json())
            try:
                self._write_version(meta["version"] + 1, meta)
                return True
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return False

    def add_column(
        self,
        name: str,
        dtype: T.DataType,
        initial_default=None,
        write_default=None,
        doc: str | None = None,
    ) -> None:
        """Iceberg v3 default values (table-spec "Default values"): add a
        top-level column whose ``initial-default`` backfills rows written
        BEFORE the column existed (applied at READ time to files that
        lack the column — no data rewrite, the whole point at 100 TB) and
        whose ``write-default`` fills the column when an APPEND omits it.
        Both stored as field metadata in the table schema; either may be
        None (Iceberg: a required column would demand an initial-default,
        but columns here add as nullable, so NULL remains the default
        default). Optimistic-retry commit like ``evolve_schema``."""
        md: dict = {}
        if initial_default is not None:
            md["initial-default"] = initial_default
        if write_default is not None:
            md["write-default"] = write_default
        if doc:
            md["doc"] = doc
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            current = T.StructType.fromJson(meta["schema"])
            if name in {f.name for f in current.fields}:
                raise ValueError(f"column {name!r} already exists")
            evolved = T.StructType(
                list(current.fields) + [T.StructField(name, dtype, True, md)]
            )
            meta["schema"] = json.loads(evolved.json())
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def _apply_write_defaults(self, df: DataFrame) -> DataFrame:
        """Fill columns an append omitted entirely with their
        ``write-default`` (a column present under an alias counts as
        present — name mapping resolves it in the projection)."""
        mapping = self.name_mapping()
        for f in self.schema().fields:
            if not f.metadata or "write-default" not in f.metadata:
                continue
            alts = mapping.get(f.name, [])
            alts = [alts] if isinstance(alts, str) else list(alts)
            if f.name in df.columns or any(a in df.columns for a in alts):
                continue
            df = df.withColumn(
                f.name, F.lit(f.metadata["write-default"]).cast(f.dataType)
            )
        return df

    def count_rows(self, branch: str = MAIN) -> int | None:
        """Metadata-only COUNT(*): sum of per-file row counts recorded in
        the manifests (Iceberg answers SELECT COUNT(*) from manifest stats
        without scanning data). Returns None — caller falls back to a real
        scan — when any live file lacks recorded stats (e.g. avro) or when
        equality-delete files exist (deleted keys can't be counted without
        the anti-join)."""
        data_files, delete_files = self.live_files(branch=branch)
        if delete_files:
            return None
        total = 0
        for f in data_files:
            st = f.get("stats")
            if st is None:
                return None
            total += st["rows"]
        return total

    def column_bounds(
        self, col: str, branch: str = MAIN
    ) -> tuple[object, object] | None:
        """Metadata-only MIN/MAX of a column: fold of the per-file bounds
        recorded in the manifests (the same stats scan planning prunes on)
        — Iceberg answers SELECT MIN(c), MAX(c) this way. Returns None —
        caller falls back to a scan — when delete files exist (a deleted
        row may hold the extreme), any live file lacks bounds for the
        column, or the column's type isn't served EXACTLY by the recorded
        stats (decimals are float-coerced and timestamps string-coerced
        for conservative pruning — fine for planning, wrong as query
        answers; Iceberg makes the same exactness distinction on its
        lower/upper bounds)."""
        field = next(
            (f for f in self.read_schema().fields if f.name == col), None
        )
        exact = (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.BooleanType,
        )
        if field is None or not isinstance(field.dataType, exact):
            return None
        data_files, delete_files = self.live_files(branch=branch)
        if delete_files or not data_files:
            return None
        lo = hi = None
        for f in data_files:
            cols = (f.get("stats") or {}).get("cols") or {}
            st = cols.get(col)
            if st is None:
                return None
            lo = st["min"] if lo is None else min(lo, st["min"])
            hi = st["max"] if hi is None else max(hi, st["max"])
        return lo, hi

    def analyze(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        mode: str = "approx",
        branch: str = MAIN,
    ) -> dict:
        """Iceberg ``compute_table_stats`` / ANALYZE parity: one
        column-pruned pass over the table computing per-column NDV,
        null count, and min/max, persisted as a statistics file
        (``metadata/stats-<snapshot>.json``) referenced from the version
        metadata's ``statistics`` list — the same shape as Iceberg's
        puffin statistics files keyed by snapshot (Iceberg table-spec
        "Table statistics"; SparkActions.computeTableStats writes
        apache-datasketches-theta-v1 NDV blobs the same way).

        ``mode="approx"`` computes Apache Datasketches HLL sketches
        (``hll_sketch_agg`` — one pass, MERGEABLE binaries, exactly what
        the theta sketch buys Iceberg) and stores them base64 in the doc;
        ``mode="exact"`` uses ``count_distinct`` for verification-scale
        runs. ``mode="incremental"`` is the 100 TB refresh path: when the
        nearest analyzed ancestor carries sketches and the history since
        it is append-only, ONLY the newly appended files are scanned and
        the sketches are unioned — stats refresh cost is O(new data), not
        O(table). Null counts and row counts merge exactly; bounds fold
        (decimal bounds degrade to None on the merge path — their string
        rendering doesn't order). Falls back to a full approx rebuild
        when no sketch-bearing ancestor exists or the range contains a
        rewrite/delete. All aggregates run in ONE ``agg`` over one scan —
        Catalyst fuses them into a single partial/final hash aggregation,
        so cost is one pass regardless of column count.

        Consumers: join planners read ``column_stats()`` NDV to choose
        broadcast sides and pre-size shuffle partitions; ``stats_df``
        exposes the same rows as a metadata table.
        """
        import base64

        if mode not in ("approx", "exact", "incremental"):
            raise ValueError(
                f"mode must be approx|exact|incremental, got {mode!r}"
            )
        snap = self.current_snapshot(branch)
        if snap is None:
            raise ValueError(f"branch {branch!r} has no snapshot to analyze")
        atomic = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
            T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType,
        )
        fields = [
            f
            for f in self.read_schema().fields
            if isinstance(f.dataType, atomic)
            and (columns is None or f.name in columns)
        ]
        if columns is not None:
            missing = set(columns) - {f.name for f in fields}
            if missing:
                raise ValueError(
                    f"cannot analyze {sorted(missing)}: not atomic columns "
                    "of the table schema"
                )

        def _sk(f: T.StructField) -> Column:
            # hll_sketch_agg accepts int/long/string/binary; everything
            # else sketches its string rendering (distinct-preserving)
            c = F.col(f.name)
            if isinstance(f.dataType, (T.IntegerType, T.LongType, T.StringType)):
                return c
            return c.cast("string")

        prev = None
        if mode == "incremental":
            cand = self.column_stats(branch)
            usable = cand is not None and all(
                (cand["columns"].get(f.name) or {}).get("sketch") is not None
                for f in fields
            )
            if usable and cand["snapshot-id"] == snap["snapshot_id"]:
                return cand  # stats already current for this head
            if usable:
                try:
                    inc_df = self.appends_between(
                        spark, cand["snapshot-id"], branch=branch
                    )
                    prev = cand
                except ValueError:
                    prev = None  # rewrite/delete in range → full rebuild

        with_sketch = mode in ("approx", "incremental")
        if prev is not None:
            df = inc_df.select(*[f.name for f in fields])
        else:
            df = self.read(spark, branch=branch).select(
                *[f.name for f in fields]
            )
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, f in enumerate(fields):
            c = F.col(f.name)
            if with_sketch:
                aggs += [
                    F.hll_sketch_estimate(F.hll_sketch_agg(_sk(f))).alias(
                        f"__ndv{i}"
                    ),
                    F.hll_sketch_agg(_sk(f)).alias(f"__sk{i}"),
                ]
            else:
                aggs.append(F.count_distinct(c).alias(f"__ndv{i}"))
            aggs += [
                F.count(F.when(c.isNull(), 1)).alias(f"__nulls{i}"),
                F.min(c).alias(f"__lo{i}"),
                F.max(c).alias(f"__hi{i}"),
            ]
        row = df.agg(*aggs).first()

        def _render(v):
            if v is None or isinstance(v, (bool, int, float, str)):
                return v
            return str(v)  # dates/timestamps/decimals → ISO-ish strings

        def _b64(sk) -> str | None:
            return (
                base64.b64encode(bytes(sk)).decode() if sk is not None else None
            )

        if prev is None:
            doc = {
                "snapshot-id": snap["snapshot_id"],
                "mode": mode,
                "row-count": row["__rows"],
                "columns": {
                    f.name: {
                        "ndv": row[f"__ndv{i}"],
                        "null-count": row[f"__nulls{i}"],
                        "lower-bound": _render(row[f"__lo{i}"]),
                        "upper-bound": _render(row[f"__hi{i}"]),
                        **(
                            {"sketch": _b64(row[f"__sk{i}"])}
                            if with_sketch
                            else {}
                        ),
                    }
                    for i, f in enumerate(fields)
                },
            }
        else:
            # merge: union sketches (one tiny Spark job over ≤2 rows per
            # column), add counts, fold bounds
            pairs = []
            for i, f in enumerate(fields):
                psk = prev["columns"][f.name].get("sketch")
                if psk is not None:
                    pairs.append((f.name, base64.b64decode(psk)))
                nsk = row[f"__sk{i}"]
                if nsk is not None:
                    pairs.append((f.name, bytes(nsk)))
            merged: dict = {}
            if pairs:
                u = local_df(spark, pairs, "name string, sk binary")
                merged = {
                    r["name"]: (r["est"], r["sk"])
                    for r in u.groupBy("name")
                    .agg(
                        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                            "est"
                        ),
                        F.hll_union_agg("sk").alias("sk"),
                    )
                    .collect()
                }

            def _fold(a, b, pick, f):
                if isinstance(f.dataType, T.DecimalType):
                    return None  # rendered decimals don't order; degrade
                if a is None:
                    return b
                if b is None:
                    return a
                return pick(a, b)

            doc = {
                "snapshot-id": snap["snapshot_id"],
                "mode": "incremental",
                "base-snapshot": prev["snapshot-id"],
                "row-count": prev["row-count"] + row["__rows"],
                "columns": {},
            }
            for i, f in enumerate(fields):
                p = prev["columns"][f.name]
                est, sk = merged.get(f.name, (p["ndv"], None))
                doc["columns"][f.name] = {
                    "ndv": est,
                    "null-count": p["null-count"] + row[f"__nulls{i}"],
                    "lower-bound": _fold(
                        p["lower-bound"], _render(row[f"__lo{i}"]), min, f
                    ),
                    "upper-bound": _fold(
                        p["upper-bound"], _render(row[f"__hi{i}"]), max, f
                    ),
                    "sketch": _b64(sk) if sk is not None else p.get("sketch"),
                }
        rel = os.path.join(
            "metadata", f"stats-{snap['snapshot_id']}-{uuid.uuid4().hex[:8]}.json"
        )
        with open(os.path.join(self.root, rel), "w") as f:
            json.dump(doc, f)
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            stats = [
                s
                for s in meta.get("statistics", [])
                if s["snapshot-id"] != snap["snapshot_id"]
            ]
            stats.append(
                {"snapshot-id": snap["snapshot_id"], "statistics-path": rel}
            )
            meta["statistics"] = stats
            try:
                self._write_version(meta["version"] + 1, meta)
                return doc
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    os.unlink(os.path.join(self.root, rel))
                    raise
                time.sleep(0.05 * (attempt + 1))
        raise CommitConflict("unreachable")

    def column_stats(self, branch: str = MAIN) -> dict | None:
        """The analyze() stats doc for the branch head's snapshot — walks
        the ancestry to the NEAREST analyzed ancestor (Iceberg engines do
        the same: stats age gracefully until the next ANALYZE) and returns
        None when no ancestor has been analyzed."""
        meta = self.metadata()
        by_sid = {s["snapshot-id"]: s for s in meta.get("statistics", [])}
        cur = self.current_snapshot(branch)
        while cur is not None:
            entry = by_sid.get(cur["snapshot_id"])
            if entry is not None:
                if entry.get("format") == "puffin":
                    # KMV/imported Puffin stats carry NDV only — serve
                    # the same doc shape with the other fields None
                    return {
                        "snapshot-id": entry["snapshot-id"],
                        "mode": "puffin",
                        "row-count": None,
                        "columns": {
                            b["column"]: {
                                "ndv": int(b["ndv"]),
                                "null-count": None,
                                "lower-bound": None,
                                "upper-bound": None,
                            }
                            for b in entry.get("blobs", [])
                        },
                    }
                with open(
                    os.path.join(self.root, entry["statistics-path"])
                ) as f:
                    return json.load(f)
            pid = cur["parent"]
            cur = self._snapshot_by_id(meta, pid) if pid else None
        return None

    def stats_df(self, spark: SparkSession, branch: str = MAIN) -> DataFrame:
        """Metadata table over column_stats(): one row per analyzed column
        (bounds rendered as strings), empty with the right schema when the
        table was never analyzed."""
        schema = T.StructType(
            [
                T.StructField("column_name", T.StringType()),
                T.StructField("ndv", T.LongType()),
                T.StructField("null_count", T.LongType()),
                T.StructField("lower_bound", T.StringType()),
                T.StructField("upper_bound", T.StringType()),
                T.StructField("row_count", T.LongType()),
                T.StructField("mode", T.StringType()),
                T.StructField("snapshot_id", T.StringType()),
            ]
        )
        doc = self.column_stats(branch)
        if doc is None:
            return local_df(spark, [], schema)
        rows = [
            (
                name,
                st["ndv"],
                st["null-count"],
                None if st["lower-bound"] is None else str(st["lower-bound"]),
                None if st["upper-bound"] is None else str(st["upper-bound"]),
                doc["row-count"],
                doc["mode"],
                doc["snapshot-id"],
            )
            for name, st in doc["columns"].items()
        ]
        return local_df(spark, rows, schema)

    def update_partition_spec(self, partition_by: list[str] | str | None) -> None:
        """Iceberg partition-spec evolution (``updateSpec()``): the new spec
        applies to FUTURE writes only; existing data files keep their old
        directory layout, and reads recompute the current spec's derived
        partition columns from source values for files that predate it —
        metadata-only, no rewrite, matching Iceberg's spec-evolution
        contract. Source columns must exist in the schema."""
        from .spec import parse_partition_spec

        new_spec = parse_partition_spec(partition_by)
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            names = {f["name"] for f in meta["schema"]["fields"]}
            for pf in new_spec:
                if pf.source not in names:
                    raise ValueError(
                        f"partition source column {pf.source!r} not in schema"
                    )
            new_json = [f.to_json() for f in new_spec]
            if new_json == meta["partition_spec"]:
                return
            # retired specs are kept: files written under them keep their
            # layout, and the Iceberg exporter emits them as additional
            # partition-specs with per-manifest spec ids (multi-spec
            # export), exactly the spec's representation of evolution
            hist = meta.setdefault("partition_spec_history", [])
            if meta["partition_spec"] not in hist:
                hist.append(meta["partition_spec"])
            meta["partition_spec"] = new_json
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def _guard_column_ddl(self, meta: dict, col: str, action: str) -> None:
        spec_sources = {d["source"] for d in meta["partition_spec"]}
        if col in spec_sources:
            raise ValueError(
                f"cannot {action} {col!r}: it is a partition source column "
                "(this engine keys specs by name, not field id — repartition "
                "to a new table instead)"
            )
        if col in meta.get("identifier_fields", []):
            raise ValueError(
                f"cannot {action} {col!r}: it is an identifier (id-columns) "
                "field referenced by equality-delete files"
            )
        if action == "drop":
            # a live equality-delete file keyed on the column makes every
            # merge-on-read scan anti-join on it; dropping would brick reads
            for ref in meta.get("refs", {}):
                snap = self.current_snapshot(ref)
                if snap is None:
                    continue
                _, delete_files = self._live_files(meta, snap)
                for f in delete_files:
                    if col in (f.get("key_cols") or []):
                        raise ValueError(
                            f"cannot drop {col!r}: live equality-delete "
                            f"files on branch {ref!r} key on it — compact() "
                            "first to fold the delete state"
                        )

    def rename_column(self, old: str, new: str) -> None:
        """Iceberg ``updateSchema().renameColumn()`` parity. Existing data
        files keep the old physical name; reads resolve it through the
        table's ``schema.name-mapping.default`` property (the same Iceberg
        NameMapping surface the reference consumes,
        RecordConverter.java:100-103) — no file rewrite at any scale.
        Partition-source and identifier columns are refused (specs here are
        name-keyed, not field-id-keyed like real Iceberg)."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            self._guard_column_ddl(meta, old, "rename")
            schema = T.StructType.fromJson(meta["schema"])
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column already exists: {new!r}")
            # a retired physical name must not be reused: delete/data files
            # on disk still carry it, and the name mapping would then
            # ambiguously map the NEW live column back to the old canonical
            # one (silent wrong equality-delete anti-joins)
            raw0 = meta["properties"].get("schema.name-mapping.default")
            for e in json.loads(raw0) if raw0 else []:
                if new in e.get("names", []):
                    raise ValueError(
                        f"cannot rename to {new!r}: the name is retired in "
                        "the table's name mapping (files on disk still use "
                        "it); pick a fresh name"
                    )
            fields = [
                T.StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in schema.fields
            ]
            meta["schema"] = json.loads(T.StructType(fields).json())
            raw = meta["properties"].get("schema.name-mapping.default")
            entries = json.loads(raw) if raw else []
            entry = next(
                (e for e in entries if old in e.get("names", [])), None
            )
            if entry is None:
                entries.append({"names": [new, old]})
            else:
                entry["names"] = [new] + [
                    n for n in entry["names"] if n != new
                ]
            meta["properties"]["schema.name-mapping.default"] = json.dumps(
                entries
            )
            so = meta["properties"].get("write.sort-order")
            if so:
                meta["properties"]["write.sort-order"] = ",".join(
                    new if c.strip() == old else c.strip()
                    for c in so.split(",")
                )
            bloom_old = f"write.parquet.bloom-filter-enabled.column.{old}"
            if bloom_old in meta["properties"]:
                meta["properties"][
                    f"write.parquet.bloom-filter-enabled.column.{new}"
                ] = meta["properties"].pop(bloom_old)
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def drop_column(self, name: str) -> None:
        """Iceberg ``updateSchema().deleteColumn()`` parity: metadata-only —
        the column disappears from the schema and every read projects it
        away (project_to_schema drops unknown file columns); the bytes stay
        in place until files are naturally rewritten. Partition-source and
        identifier columns are refused."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            self._guard_column_ddl(meta, name, "drop")
            schema = T.StructType.fromJson(meta["schema"])
            if name not in [f.name for f in schema.fields]:
                raise ValueError(f"no such column: {name!r}")
            fields = [f for f in schema.fields if f.name != name]
            if not fields:
                raise ValueError("cannot drop the last column")
            meta["schema"] = json.loads(T.StructType(fields).json())
            raw = meta["properties"].get("schema.name-mapping.default")
            if raw:
                entries = [
                    e
                    for e in json.loads(raw)
                    if name not in e.get("names", [])
                ]
                meta["properties"]["schema.name-mapping.default"] = (
                    json.dumps(entries)
                )
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    # ----------------------------------------------------------------- read
    def read(
        self,
        spark: SparkSession,
        branch: str = MAIN,
        snapshot_id: str | None = None,
        where: str | None = None,
        tag: str | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Merge-on-read scan: data files grouped by sequence number, each
        group projected onto the current schema, minus keys equality-deleted
        at a later sequence.

        ``as_of_ms`` is timestamp time travel (Iceberg / SQL
        ``FOR SYSTEM_TIME AS OF``): reads the LATEST snapshot on
        ``branch`` committed at or before the instant — the snapshot a
        reader at that wall-clock time would have seen. Mutually
        exclusive with ``snapshot_id``/``tag``; raises when the branch
        has no snapshot that old (same contract as Iceberg's
        SnapshotUtil.snapshotIdAsOfTime).

        ``where`` is a SQL predicate applied to the result — and, first,
        evaluated against each data file's recorded column bounds so files
        that provably contain no matching row are never opened (Iceberg
        scan planning; at 100 TB this is the difference between launching
        tasks for every file and only the files a time/key range touches).
        Pruning is conservative; the predicate is always re-applied to rows.
        """
        meta = self.metadata()
        target = self.read_schema(meta)
        if as_of_ms is not None:
            if snapshot_id is not None or tag is not None:
                raise ValueError(
                    "as_of_ms is mutually exclusive with snapshot_id/tag"
                )
            sid = meta["refs"].get(branch)
            found = None
            while sid is not None:
                s = self._snapshot_by_id(meta, sid)
                if s["timestamp_ms"] <= as_of_ms:
                    found = s["snapshot_id"]
                    break
                sid = s["parent"]
            if found is None:
                raise ValueError(
                    f"branch {branch!r} has no snapshot at or before "
                    f"{as_of_ms} (oldest history may have been expired)"
                )
            snapshot_id = found
        if tag is not None:
            tagged = meta.get("tags", {})
            if tag not in tagged:
                raise ValueError(f"no such tag: {tag!r}")
            snapshot_id = tagged[tag]
        if snapshot_id is not None:
            snap = self._snapshot_by_id(meta, snapshot_id)
        else:
            sid = meta["refs"].get(branch)
            if sid is None:
                return local_df(spark, [], target)
            snap = self._snapshot_by_id(meta, sid)
        data_files, delete_files = self._live_files(meta, snap)
        if where is not None:
            data_files = self._prune_bucket_partitions(
                [f for f in data_files if file_may_match(f, where)],
                where,
                meta,
            )
            if not data_files:
                return local_df(spark, [], target)
        with_pos = _has_positional(delete_files)
        data = self._read_file_group(
            spark, data_files, target, with_position=with_pos, meta=meta
        )
        if data is None:
            return local_df(spark, [], target)
        if where is not None:
            data = data.filter(where)
        return self._apply_deletes(spark, data, delete_files, meta).drop(
            "__seq", "__fp", "__pos"
        )

    LINEAGE_FIELDS = (
        T.StructField("_row_id", T.LongType()),
        T.StructField("_last_updated_sequence_number", T.LongType()),
    )

    def read_with_lineage(
        self, spark: SparkSession, branch: str = MAIN
    ) -> DataFrame:
        """Iceberg v3 row lineage (table-spec "Row Lineage"): the normal
        merge-on-read scan plus ``_row_id`` (a table-unique id stable for
        a row's lifetime) and ``_last_updated_sequence_number``.

        Assignment is the spec's: each added data file claims
        ``[first_row_id, first_row_id + record_count)`` at commit time
        from the table-level ``next-row-id`` counter, and a row's id is
        ``first_row_id + its ordinal in the file`` — derived at read
        time, never stored, so appends pay NOTHING for lineage.
        ``compact()`` / ``rewrite_small_files()`` preserve ids across
        rewrites by materializing both fields as physical columns in the
        rewritten files (the spec's rule for engines rewriting data);
        derived values fill files that don't carry the columns. Rows
        written without a recorded row count (avro) read NULL ids.
        ``rewrite_where`` replaces rows (update semantics) — its output
        rows are new rows with fresh ids.

        Raises on v2 tables (lineage is a v3 feature; without it no
        ``first_row_id`` ranges were ever claimed and every id would read
        NULL — fail loudly instead of returning silent NULLs)."""
        meta = self.metadata()
        if not _lineage_on(meta.get("properties") or {}):
            raise ValueError(
                "row lineage requires format-version 3: create the table "
                'with properties={"format-version": "3"} or upgrade via '
                'set_properties({"format-version": "3"})'
            )
        target = T.StructType(
            list(self.read_schema(meta).fields) + list(self.LINEAGE_FIELDS)
        )
        sid = meta["refs"].get(branch)
        if sid is None:
            return local_df(spark, [], target)
        snap = self._snapshot_by_id(meta, sid)
        data_files, delete_files = self._live_files(meta, snap)
        data = self._read_file_group(
            spark, data_files, target, with_position=True, meta=meta
        )
        if data is None:
            return local_df(spark, [], target)
        data = self._derive_lineage(spark, data, data_files)
        return self._apply_deletes(spark, data, delete_files, meta).drop(
            "__seq", "__fp", "__pos"
        )

    def _derive_lineage(
        self, spark: SparkSession, data: DataFrame, data_files: list[dict]
    ) -> DataFrame:
        """Fill NULL ``_row_id`` / ``_last_updated_sequence_number`` from
        the per-file lineage map (files that materialized the columns —
        compaction output — keep their stored values). ``data`` must
        carry ``__fp``/``__pos``/``__seq``."""
        prefix = os.path.abspath(self.root) + "/"
        rows = [
            (
                f["path"] if f["path"].startswith("/") else prefix + f["path"],
                f.get("first_row_id"),
            )
            for f in data_files
        ]
        lmap = F.broadcast(
            local_df(spark, rows, "__fpn string, __frid long")
        )
        return (
            data.withColumn("__fpn", _fp_norm(F.col("__fp")))
            .join(lmap, "__fpn", "left")
            .withColumn(
                "_row_id",
                F.coalesce(F.col("_row_id"), F.col("__frid") + F.col("__pos")),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(
                    F.col("_last_updated_sequence_number"), F.col("__seq")
                ),
            )
            .drop("__fpn", "__frid")
        )

    def _apply_deletes(
        self,
        spark: SparkSession,
        data: DataFrame,
        delete_files: list[dict],
        meta: dict | None = None,
    ) -> DataFrame:
        """Merge-on-read delete application: ``data`` (carrying ``__seq``)
        minus keys equality-deleted at a later sequence. Delete files are
        grouped by their recorded key-column set: id-columns may change
        between batches, and each key-set applies as its own anti-join
        (legacy entries without key_cols get schema inference).

        Position deletes (entries stamped ``delete_type: position``) apply
        first: one anti-join on the row's physical identity (file URI, row
        ordinal) — exact regardless of key uniqueness, since new files get
        fresh uuid names a (fp, pos) pair can never alias. ``data`` must
        carry ``__fp``/``__pos`` (read with ``with_position=True``) or the
        call refuses rather than silently resurrecting deleted rows.
        ``meta`` is the table version the read planned from (default: the
        current one)."""
        if not delete_files:
            return data
        pos_files = [
            f for f in delete_files if f.get("delete_type") == "position"
        ]
        dv_files = [f for f in delete_files if f.get("delete_type") == "dv"]
        delete_files = [
            f
            for f in delete_files
            if f.get("delete_type") not in ("position", "dv")
        ]
        if pos_files or dv_files:
            if "__fp" not in data.columns:
                raise RuntimeError(
                    "positional delete files present but the scan did not "
                    "carry row identity — read with with_position=True"
                )
            prefix = os.path.abspath(self.root) + "/"
            dpos_parts = []
            if pos_files:
                dpos_parts.append(
                    self._read_file_group(spark, pos_files, None).select(
                        _fp_load(F.col("file_path"), prefix).alias("__fpn"),
                        F.col("pos").alias("__pos"),
                    )
                )
            if dv_files:
                dpos_parts.append(
                    self._dv_positions(spark, dv_files, prefix).select(
                        "__fpn", "__pos"
                    )
                )
            dpos = dpos_parts[0]
            for p in dpos_parts[1:]:
                dpos = dpos.unionByName(p)
            data = (
                data.withColumn("__fpn", _fp_norm(F.col("__fp")))
                .join(dpos, ["__fpn", "__pos"], "left_anti")
                .drop("__fpn")
            )
        if not delete_files:
            return data
        # delete files written before a rename_column carry old physical key
        # names; canonicalize through the name mapping so the anti-join
        # still lines up with the renamed data columns
        # a physical key name that is STILL a live schema column must not be
        # remapped (pre-existing tables could hold a mapping entry from a
        # rename that later had its old name reused) — only retired names
        # canonicalize
        meta = meta or self.metadata()
        live = {f.name for f in self.schema(meta).fields}
        reverse = {
            alias: canon
            for canon, aliases in self.name_mapping(meta).items()
            for alias in aliases
            if alias not in live
        }
        by_keyset: dict[tuple[str, ...], list[dict]] = {}
        for f in delete_files:
            kc = f.get("key_cols")
            if kc is None:
                kc = self._delete_key_cols(spark, f)
            by_keyset.setdefault(tuple(kc), []).append(f)
        out = data
        for phys_cols, files in sorted(by_keyset.items()):
            key_cols = [reverse.get(c, c) for c in phys_cols]
            dkeys = self._read_file_group(spark, files, None)
            for p, c in zip(phys_cols, key_cols):
                if p != c:
                    dkeys = dkeys.withColumnRenamed(p, c)
            latest = dkeys.groupBy(*key_cols).agg(
                F.max("__seq").alias("__max_dseq")
            )
            # no broadcast hint: the delete-key set grows with CDC history
            # and can exceed executor memory at warehouse scale — size
            # estimates/AQE broadcast it while small, shuffle-join once it
            # isn't
            out = (
                out.join(latest, on=list(key_cols), how="left")
                .filter(
                    F.col("__max_dseq").isNull()
                    | (F.col("__max_dseq") <= F.col("__seq"))
                )
                .drop("__max_dseq")
            )
        return out

    def _dv_positions(
        self, spark: SparkSession, dv_files: list[dict], prefix: str
    ) -> DataFrame:
        """Deleted (file, ordinal, seq) rows from deletion-vector entries
        — ONE DataFrame regardless of how many entries (a large table has
        one entry per referenced file; a per-entry frame would explode
        the plan). The driver ships only the tiny blob descriptors; the
        roaring bitmaps decode EXECUTOR-side in ``mapInPandas``, so a
        table with millions of deleted ordinals never materializes them
        on the driver."""
        rows = [
            (
                f["referenced_data_file"]
                if f["referenced_data_file"].startswith("/")
                else prefix + f["referenced_data_file"],
                os.path.join(self.root, f["path"]),
                int(f["content_offset"]),
                int(f["content_size_in_bytes"]),
                f.get("seq"),
            )
            for f in dv_files
        ]
        meta_df = local_df(spark, 
            rows,
            "__fpn string, puffin string, off long, len long, __dvseq long",
        )
        # Python workers don't share the driver's sys.path — ship the
        # (pure-stdlib, tiny) codec modules BY VALUE inside the closure
        _register_codecs_by_value()
        from ..functions.roaring import deserialize_bitmap64
        from .puffin import dv_payload, read_blob

        def _expand(batches):
            import pandas as pd

            for pdf in batches:
                for fpn, puffin, off, length, dvseq in pdf.itertuples(
                    index=False, name=None
                ):
                    positions = deserialize_bitmap64(
                        dv_payload(read_blob(puffin, int(off), int(length)))
                    )
                    yield pd.DataFrame(
                        {
                            "__fpn": fpn,
                            "__pos": positions,
                            "__dvseq": dvseq,
                        }
                    )

        return meta_df.mapInPandas(
            _expand, "__fpn string, __pos long, __dvseq long"
        )

    def rewrite_position_deletes(
        self, spark: SparkSession, branch: str = MAIN
    ) -> dict | None:
        """Iceberg v3 ``rewrite_position_delete_files``: consolidate the
        accumulated position-delete files into ONE deletion vector per
        referenced data file, stored as ``deletion-vector-v1`` blobs of a
        single Puffin file (``sinks/puffin.py``; portable 64-bit roaring
        bitmaps, ``functions/roaring.py``).

        Why it matters at 100 TB: every streaming DELETE appends another
        position-delete file, and each merge-on-read scan must read ALL
        of them forever — the v2 read-amplification spiral. After this
        rewrite a scan reads exactly one compact bitmap per touched data
        file, and the blob descriptors live in one Puffin file.

        Scale shape: position-delete rows never hit the driver — a
        map-side-combined ``applyInPandas`` per referenced file builds
        each roaring bitmap executor-side; only the per-file (path,
        blob bytes, cardinality) rows return to the driver (bounded by
        the touched-file count), which writes the Puffin file and commits
        a ``rewrite-deletes`` REPLACE snapshot carrying data files and
        equality deletes verbatim (sequence numbers preserved). Returns
        the snapshot, or None when no position deletes exist.
        """
        _register_codecs_by_value()
        from ..functions.roaring import serialize_bitmap64
        from .puffin import DV_BLOB_TYPE, PuffinWriter, frame_dv_blob

        meta = self.metadata()
        head = self.current_snapshot(branch)
        if head is None:
            return None
        data_files, delete_files = self._live_files(meta, head)
        pos_files = [
            f for f in delete_files if f.get("delete_type") == "position"
        ]
        old_dvs = [f for f in delete_files if f.get("delete_type") == "dv"]
        others = [
            f
            for f in delete_files
            if f.get("delete_type") not in ("position", "dv")
        ]
        if not pos_files:
            return None
        prefix = os.path.abspath(self.root) + "/"
        # normalize to storage form (root-relative) BEFORE the groupBy:
        # position-delete files may record the same referenced data file
        # absolute in one batch and root-relative in another, and mixed
        # forms would yield two vectors for one file — reads stay correct
        # (both apply) but the one-DV-per-referenced-file invariant breaks
        pos = self._read_file_group(spark, pos_files, None).select(
            F.regexp_replace(
                F.col("file_path"), "^" + re.escape(prefix), ""
            ).alias("file_path"),
            F.col("pos"),
        )
        if old_dvs:
            # fold previous vectors in, so repeated rewrites stay one
            # DV per file: decode to the same (file_path, pos) shape
            # (storage-form file_path: strip the root prefix again)
            prev = self._dv_positions(spark, old_dvs, prefix).select(
                F.regexp_replace(
                    F.col("__fpn"), "^" + re.escape(prefix), ""
                ).alias("file_path"),
                F.col("__pos").alias("pos"),
            )
            pos = pos.unionByName(prev)

        def _to_dv(pdf):
            import pandas as pd

            fp = pdf["file_path"].iloc[0]
            # spec framing (length | magic | vector | crc32) so the blob
            # is byte-for-byte what a conforming v3 reader expects
            blob = frame_dv_blob(
                serialize_bitmap64(int(p) for p in pdf["pos"])
            )
            return pd.DataFrame(
                {
                    "file_path": [fp],
                    "dv": [blob],
                    "cardinality": [int(pdf["pos"].nunique())],
                }
            )

        per_file = pos.groupBy("file_path").applyInPandas(
            _to_dv, "file_path string, dv binary, cardinality long"
        )
        rel_puffin = os.path.join(
            "data", f"dv-{uuid.uuid4().hex}.puffin"
        )
        # stream the vectors into ONE puffin file: toLocalIterator holds
        # one blob on the driver at a time, so a rewrite touching millions
        # of files is bounded by the largest single vector, not their sum
        dv_entries: list[dict] = []
        writer = PuffinWriter(
            os.path.join(self.root, rel_puffin),
            snapshot_id=head["snapshot_id"],
        )
        try:
            for r in per_file.toLocalIterator():
                m = writer.add_blob(
                    DV_BLOB_TYPE,
                    {
                        "referenced-data-file": r["file_path"],
                        "cardinality": str(r["cardinality"]),
                    },
                    bytes(r["dv"]),
                )
                dv_entries.append(
                    {
                        "path": rel_puffin,
                        "bytes": m.length,
                        "delete_type": "dv",
                        "format": "puffin",
                        "referenced_data_file": r["file_path"],
                        "content_offset": m.offset,
                        "content_size_in_bytes": m.length,
                        "cardinality": int(r["cardinality"]),
                    }
                )
            writer.close()
        except BaseException:
            writer._f.close()
            os.unlink(os.path.join(self.root, rel_puffin))
            raise
        dv_entries.sort(key=lambda e: e["referenced_data_file"])
        return self._commit_snapshot(
            "rewrite-deletes",
            data_files,
            others + dv_entries,
            {
                "position-delete-files-rewritten": str(
                    len(pos_files) + len(old_dvs)
                ),
                "deletion-vectors-written": str(len(dv_entries)),
            },
            branch,
            replace=True,
            preserve_seq=True,
            expected_parent=head["snapshot_id"],
        )

    def _delete_key_cols(self, spark: SparkSession, dfile: dict) -> list[str]:
        fmt = dfile.get("format", "parquet")
        path = os.path.join(self.root, dfile["path"])
        if fmt == "avro":
            from . import avro_io

            return [f.name for f in avro_io.read_header_schema(path).fields]
        return spark.read.format(fmt).load(path).columns

    @staticmethod
    def _fill_partition_tuples(
        df: DataFrame, pvals: dict[str, dict]
    ) -> DataFrame:
        """Reconstitute identity partition columns recorded only in an
        imported manifest's partition tuples (``{abs_path: {col: {t, v}}}``):
        one broadcast (path → values) join over ``_metadata.file_path``.
        Columns already present in the files are left alone. Iceberg
        single-value representations: dates are epoch days, timestamps
        epoch micros, the rest literal."""
        if not pvals:
            return df
        import datetime as _dt

        cols = sorted({c for pv in pvals.values() for c in pv})
        cols = [
            c
            for c in cols
            if c not in df.columns
            # all-null columns can't type-infer and add nothing anyway
            and any(pv.get(c) is not None for pv in pvals.values())
        ]
        if not cols:
            return df

        def _py(d):
            if d is None:
                return None
            if d["t"] == "date":
                return _dt.date(1970, 1, 1) + _dt.timedelta(days=d["v"])
            if d["t"] == "ts":
                return _dt.datetime(1970, 1, 1) + _dt.timedelta(
                    microseconds=d["v"]
                )
            return d["v"]

        spark = df.sparkSession
        rows = [
            (path, *[_py(pv.get(c)) for c in cols])
            for path, pv in pvals.items()
        ]
        # explicit DDL from the tuples' own type tags: a names-only schema
        # sends createDataFrame through RDD schema INFERENCE — one
        # rdd.first() Spark job per call (~0.2s), paid on every imported-
        # manifest read group. The mapping matches what inference produced
        # (int→bigint, str→string, date/ts from the tag), so the joined
        # column types are unchanged; an unrecognized value type falls
        # back to the inference path.
        def _ddl_of(col: str) -> str | None:
            for pv in pvals.values():
                d = pv.get(col)
                if d is None:
                    continue
                if d["t"] == "date":
                    return "date"
                if d["t"] == "ts":
                    return "timestamp"
                v = d["v"]
                if isinstance(v, bool):
                    return "boolean"
                if isinstance(v, int):
                    return "bigint"
                if isinstance(v, float):
                    return "double"
                if isinstance(v, str):
                    return "string"
                return None
            return None

        ddls = [_ddl_of(c) for c in cols]
        schema = (
            "__pv_path string, "
            + ", ".join(f"`{c}` {t}" for c, t in zip(cols, ddls))
            if all(ddls)
            else ["__pv_path", *cols]
        )
        pv_df = local_df(spark, rows, schema)
        return (
            df.withColumn(
                "__pv_path", _fp_norm(F.col("_metadata.file_path"))
            )
            .join(F.broadcast(pv_df), "__pv_path", "left")
            .drop("__pv_path")
        )

    @staticmethod
    def _commit_scan_root(f: dict) -> str | None:
        """The shared scan root (``data`` / ``deletes``) of an entry whose
        files can join a multi-commit scan, or None when the entry keeps a
        scan of its own (seq, base, format) group: legacy ``data/<hex>``
        dirs, avro, imported entries (``partition_values``), entries
        without a recorded write schema (or one naming a ``_commit``
        column), and absolute bases (``clone_to``, ``add_files``)."""
        base = f.get("base")
        sj = f.get("spark_schema")
        if (
            not base
            or os.path.isabs(base)
            or not sj
            or f'"{COMMIT_DIR_KEY}"' in sj
            or f.get("partition_values")
            or f.get("format", "parquet") == "avro"
        ):
            return None
        root, commit_dir = os.path.split(base)
        if not commit_dir.startswith(COMMIT_DIR_KEY + "="):
            return None
        return root

    def _read_file_group(
        self,
        spark: SparkSession,
        files: list[dict],
        target: T.StructType | None,
        with_position: bool = False,
        meta: dict | None = None,
    ) -> DataFrame | None:
        """Read file entries as ONE frame carrying each row's sequence
        number as ``__seq``; projected onto ``target`` when given (the
        table's read schema as of ``meta``, default the current version).

        Scan shape: entries under the commit-dir layout
        (``<data|deletes>/_commit=<uuid>/<partition dirs>/``) that share a
        recorded write schema, format and partition-directory set load in
        ONE Spark scan rooted at ``data`` (or ``deletes``). The commit id
        reads as a string partition column, so partition pruning stays
        Spark's own, and ``__seq`` is a literal when the scan spans one
        sequence number, else a broadcast join of ``_commit`` against the
        scan's (commit → seq) map. A commit dir whose live files carry two
        sequence numbers (a cherry-picked or re-stamped commit) has no such
        map and, like every entry ``_commit_scan_root`` rejects, scans per
        (seq, base dir, format) group. Scan count follows the number of
        write schemas, not the number of commits.

        ``with_position=True`` additionally carries each row's physical
        identity — ``__fp`` (absolute file URI from ``_metadata.file_path``)
        and ``__pos`` (``_metadata.row_index``) — through the projection, so
        position deletes can anti-join on it. Parquet-only: Spark's row
        ordinals don't exist for avro inputs."""
        if not files:
            return None
        if with_position and any(
            f.get("format", "parquet") != "parquet" for f in files
        ):
            raise ValueError(
                "position deletes require parquet data files "
                "(_metadata.row_index has no avro equivalent)"
            )
        if target is not None:
            meta = meta or self.metadata()
            spec = self.partition_spec(meta)
            # name mapping lets files written before a rename_column
            # resolve under their old physical column names
            reverse = {
                alias: canon
                for canon, aliases in self.name_mapping(meta).items()
                for alias in aliases
            }
            target = T.StructType(
                list(target.fields)
                + (
                    [
                        T.StructField("__fp", T.StringType()),
                        T.StructField("__pos", T.LongType()),
                    ]
                    if with_position
                    else []
                )
                + [T.StructField("__seq", T.IntegerType())]
            )
        roots = [self._commit_scan_root(f) for f in files]
        seqs_of_dir: dict[str, set[int]] = {}
        for f, root in zip(files, roots):
            if root is not None:
                seqs_of_dir.setdefault(f["base"], set()).add(f["seq"])
        # scan key (basePath, format, write schema, partition dirs, seq):
        # a multi-commit scan leaves seq None; a per-group scan leaves the
        # schema None and uses it only when every file in the group agrees
        # (entries synthesized by imports or legacy manifests have none →
        # footer inference). Imported Iceberg entries carry the manifest's
        # identity partition tuple ("partition_values"); those columns are
        # reconstituted via ONE broadcast (file path → tuple) join per
        # group — grouping by tuple value instead would degenerate to one
        # scan per file on a large imported table.
        groups: dict[tuple, list[dict]] = {}
        for f, root in zip(files, roots):
            if root is not None and len(seqs_of_dir[f["base"]]) == 1:
                dirs = tuple(
                    k for k, _ in partition_segments(f["path"], f["base"])
                )
                key = (
                    root,
                    f.get("format", "parquet"),
                    f["spark_schema"],
                    dirs,
                    None,
                )
            else:
                key = (
                    f.get("base", os.path.dirname(f["path"])),
                    f.get("format", "parquet"),
                    None,
                    None,
                    f["seq"],
                )
            groups.setdefault(key, []).append(f)
        parts = []
        for (base, fmt, sj, _dirs, seq), group in groups.items():
            paths = [os.path.join(self.root, f["path"]) for f in group]
            if fmt == "avro":
                from . import avro_io

                df = avro_io.read_avro_files(spark, paths)
            else:
                reader = spark.read.option("mergeSchema", "false").option(
                    "basePath", os.path.join(self.root, base)
                )
                schema = None
                if sj is not None:
                    schema = T.StructType.fromJson(json.loads(sj)).add(
                        COMMIT_DIR_KEY, T.StringType()
                    )
                elif len({f.get("spark_schema") for f in group}) == 1:
                    sj = group[0].get("spark_schema")
                    schema = sj and T.StructType.fromJson(json.loads(sj))
                if schema:
                    # the manifests' recorded write schema skips footer
                    # schema inference (one JVM open+read per load); the
                    # user-specified schema also pins partition-directory
                    # column types and keeps writer column order
                    reader = reader.schema(schema)
                with _listed_on_driver(spark, len(paths)):
                    df = reader.format(fmt).load(paths)
            if with_position:
                # selected on the scan itself: file metadata columns do
                # not resolve above a join
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__pos"),
                )
            if seq is None:
                df = self._attach_commit_seq(spark, df, group)
            else:
                df = df.withColumn("__seq", F.lit(seq))
            df = self._fill_partition_tuples(
                df,
                {
                    os.path.join(self.root, f["path"]): f["partition_values"]
                    for f in group
                    if f.get("partition_values")
                },
            )
            if target is not None:
                # renames apply FIRST so the spec recompute below sees
                # canonical names (a renamed partition source would
                # otherwise skip it)
                for alias, canon in reverse.items():
                    if alias in df.columns and canon not in df.columns:
                        df = df.withColumnRenamed(alias, canon)
                # spec evolution: files written under an older partition
                # spec lack the current spec's derived partition columns in
                # their directory layout — recompute them from source
                # values (deterministic transforms) instead of NULL-filling
                for pf in spec:
                    if pf.name not in df.columns and pf.source in df.columns:
                        df = df.withColumn(pf.name, pf.expr())
                # v3 default values: a file written before add_column
                # lacks the column physically — fill its initial-default
                # at read time (no data rewrite) before the projection
                # NULL-fills whatever has no default
                for tf in target.fields:
                    if (
                        tf.metadata
                        and "initial-default" in tf.metadata
                        and tf.name not in df.columns
                    ):
                        df = df.withColumn(
                            tf.name,
                            F.lit(tf.metadata["initial-default"]).cast(
                                tf.dataType
                            ),
                        )
                df = project_to_schema(df, target)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=False)
        return out

    @staticmethod
    def _attach_commit_seq(
        spark: SparkSession, df: DataFrame, group: list[dict]
    ) -> DataFrame:
        """``__seq`` for a multi-commit scan, from its ``_commit``
        partition column: the scan's one sequence number as a literal, or
        a broadcast join against the (commit → seq) map of its entries
        (each commit dir maps to one seq — ``_read_file_group`` checked)."""
        seq_of = {
            os.path.basename(f["base"]).partition("=")[2]: f["seq"]
            for f in group
        }
        if len(set(seq_of.values())) == 1:
            df = df.withColumn("__seq", F.lit(group[0]["seq"]))
        else:
            seq_map = local_df(
                spark,
                sorted(seq_of.items()),
                f"{COMMIT_DIR_KEY} string, __seq int",
            )
            df = df.join(F.broadcast(seq_map), COMMIT_DIR_KEY)
        return df.drop(COMMIT_DIR_KEY)

    def live_files(
        self, snap: dict | None = None, branch: str = MAIN
    ) -> tuple[list[dict], list[dict]]:
        """Public live-file listing: full (data, delete) file entries at a
        snapshot (default: branch head)."""
        meta = self.metadata()
        if snap is None:
            snap = self.current_snapshot(branch)
            if snap is None:
                return [], []
        return self._live_files(meta, snap)

    def scan_files(
        self, where: str, branch: str = MAIN
    ) -> tuple[list[dict], int]:
        """Scan planning without execution: (data files a predicate may
        touch, total live data files). The planner half of
        ``read(where=...)``, exposed so callers — and tests — can verify a
        predicate's pruning ratio before paying for the scan."""
        data_files, _ = self.live_files(branch=branch)
        kept = [f for f in data_files if file_may_match(f, where)]
        return self._prune_bucket_partitions(kept, where), len(data_files)

    _EQ_RE = re.compile(
        r"^\s*(?P<col>[A-Za-z_][A-Za-z_0-9]*)\s*=\s*"
        r"(?:'(?P<str>[^']*)'|(?P<num>-?\d+))\s*$"
    )
    _IN_RE = re.compile(
        r"^\s*(?P<col>[A-Za-z_][A-Za-z_0-9]*)\s+IN\s*\("
        r"(?P<items>[^()]*)\)\s*$",
        re.IGNORECASE,
    )
    _IN_ITEM_RE = re.compile(
        r"\s*(?:'(?P<str>[^']*)'|(?P<num>-?\d+))\s*(?P<sep>,|$)"
    )

    @classmethod
    def _parse_in_list(cls, items: str) -> list | None:
        """Literal atoms of an IN-list, or None when anything doesn't
        parse (conservative: unparsed → no pruning)."""
        vals: list = []
        pos = 0
        while pos < len(items):
            m = cls._IN_ITEM_RE.match(items, pos)
            if m is None:
                return None
            vals.append(
                m.group("str")
                if m.group("str") is not None
                else int(m.group("num"))
            )
            if m.group("sep") == "" and m.end() < len(items):
                return None
            pos = m.end()
            if m.group("sep") == "":
                break
        return vals or None

    def _prune_bucket_partitions(
        self, files: list[dict], where: str, meta: dict | None = None
    ) -> list[dict]:
        """Iceberg bucket-transform pruning: an equality conjunct on an
        ``iceberg_bucket(col, n)`` source keeps only the files whose
        recorded bucket dir matches murmur3(value) % n — a point lookup on
        a bucket-partitioned table opens 1/n of the files instead of all
        of them (min/max stats can't help: every bucket file spans the full
        key range). Conservative: files without a recognizable bucket dir,
        OR-predicates, and non-equality conjuncts keep everything. Only
        the spec-conformant murmur3 transform participates — the xxhash64
        ``bucket`` has no driver-side hash to evaluate."""
        meta = meta or self.metadata()
        bfields = [
            pf
            for pf in self.partition_spec(meta)
            if pf.transform == "iceberg_bucket"
        ]
        if not bfields:
            return files
        # quote-aware split (sinks/stats.py): a string literal containing
        # " AND col = 3 " must not produce a phantom equality that prunes
        # to the wrong bucket (r4 advice); None → OR or unbalanced quote →
        # keep everything
        conjuncts = split_conjuncts(where)
        if conjuncts is None:
            return files
        from ..functions.murmur3 import iceberg_bucket_value

        eqs: dict[str, list] = {}
        for conj in conjuncts:
            m = self._EQ_RE.fullmatch(conj)
            if m:
                eqs[m.group("col")] = [
                    m.group("str")
                    if m.group("str") is not None
                    else int(m.group("num"))
                ]
                continue
            # IN-list point lookups prune to the union of their buckets
            # (an eq on the same column wins — it's more selective)
            m = self._IN_RE.fullmatch(conj)
            if m and m.group("col") not in eqs:
                vals = self._parse_in_list(m.group("items"))
                if vals is not None:
                    eqs[m.group("col")] = vals
        schema_types = {f.name: f.dataType for f in self.schema(meta).fields}
        for pf in bfields:
            if pf.source not in eqs:
                continue
            # hash by the SOURCE COLUMN's type, not the literal's syntax:
            # a quoted '2020-06-01' on a date column must hash epoch-days,
            # and '34' on a long column must hash the long — hashing the
            # utf-8 string would prune to the wrong bucket and silently
            # drop matching rows
            allowed: set[int] = set()
            ok = True
            for v in eqs[pf.source]:
                lit = _coerce_bucket_literal(v, schema_types.get(pf.source))
                if lit is None:
                    ok = False  # any un-coercible atom → no pruning
                    break
                try:
                    allowed.add(iceberg_bucket_value(lit, pf.param))
                except ValueError:
                    ok = False
                    break
            if not ok:
                continue
            keep = []
            for f in files:
                raw = partition_dir_value(f["path"], pf.name, f.get("base"))
                try:
                    rec = int(raw) if raw is not None else None
                except ValueError:
                    rec = None  # hive null dir / foreign layout: keep
                if rec is None or rec in allowed:
                    keep.append(f)
            files = keep
        return files

    def appends_between(
        self,
        spark: SparkSession,
        from_snapshot_id: str | None,
        to_snapshot_id: str | None = None,
        branch: str = MAIN,
        where: str | None = None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Incremental append scan: rows added by snapshots AFTER
        ``from_snapshot_id`` up to and including ``to_snapshot_id`` (default:
        branch head) — Iceberg ``appendsBetween`` semantics. ``from=None``
        reads from the beginning. Raises if the range contains a non-append
        snapshot (replace/delta rewrite history; a consumer must fall back
        to a full diff), matching Iceberg's IncrementalDataTableScan.

        This is the cheap CDC-consumer path at scale: each poll reads only
        the new files, never rescans the table. ``where`` additionally
        prunes the new files by their recorded column bounds before any
        open (same conservative planner as ``read(where=)``) and
        re-applies the predicate to rows — a selective consumer (one
        tenant, one key range) reads only the new files that can match.
        """
        meta = self.metadata()
        target = self.read_schema()
        if with_lineage:
            # v3 row lineage: incremental consumers keying downstream
            # state on _row_id get ids that stay stable across rewrites
            if not _lineage_on(meta.get("properties") or {}):
                raise ValueError(
                    "with_lineage requires format-version 3: create the "
                    'table with properties={"format-version": "3"} or '
                    'upgrade via set_properties({"format-version": "3"})'
                )
            target = T.StructType(
                list(target.fields) + list(self.LINEAGE_FIELDS)
            )
        if to_snapshot_id is None:
            to_snapshot_id = meta["refs"].get(branch)
            if to_snapshot_id is None:
                return local_df(spark, [], target)
        snaps: list[dict] = []
        sid: str | None = to_snapshot_id
        while sid is not None and sid != from_snapshot_id:
            snap = self._snapshot_by_id(meta, sid)
            snaps.append(snap)
            sid = snap["parent"]
        if sid is None and from_snapshot_id is not None:
            raise ValueError(
                f"snapshot {from_snapshot_id!r} is not an ancestor of "
                f"{to_snapshot_id!r}"
            )
        files: list[dict] = []
        for snap in reversed(snaps):
            if (
                snap["operation"] == "rewrite-manifests"
                and snap["parent"] is not None
            ):
                # metadata-only manifest squash: adds no rows, so the
                # incremental scan streams straight across it (a parentless
                # one post-expiry IS the base state and falls through to
                # the refusal below — the increment is no longer expressible)
                continue
            if snap["operation"] != "append" or snap.get("sealed"):
                what = (
                    "sealed by snapshot expiry (its manifest is the full "
                    "live set, not an increment)"
                    if snap.get("sealed")
                    else f"a {snap['operation']!r}, not an append"
                )
                raise ValueError(
                    f"snapshot {snap['snapshot_id']!r} is {what} — "
                    "incremental scan cannot express it; read a full "
                    "snapshot, or snapshot_diff(from, to) for the net "
                    "change across the rewrite"
                )
            d, dl = self._load_manifest(snap)
            if dl:
                raise ValueError(
                    f"snapshot {snap['snapshot_id']!r} carries delete "
                    "files — incremental scan cannot express it"
                )
            files.extend(d)
        if where is not None:
            files = [f for f in files if file_may_match(f, where)]
        df = self._read_file_group(
            spark, files, target, with_position=with_lineage
        )
        if df is None:
            return local_df(spark, [], target)
        if with_lineage:
            df = self._derive_lineage(spark, df, files).drop("__fp", "__pos")
        df = df.drop("__seq")
        return df.filter(where) if where is not None else df

    def changes_between(
        self,
        spark: SparkSession,
        from_snapshot_id: str | None,
        to_snapshot_id: str | None = None,
        branch: str = MAIN,
        where: str | None = None,
        where_mode: str = "strict",
        with_lineage: bool = False,
    ) -> DataFrame:
        """Changelog scan — Iceberg ``create_changelog_view`` parity: every
        row added or equality-deleted by snapshots after ``from_snapshot_id``
        up to ``to_snapshot_id``, with ``_change_type`` ('insert'/'delete'),
        ``_change_snapshot_id`` and ``_change_ordinal`` columns appended.
        An upsert snapshot (delete files + data files committed together)
        yields its delete keys then its inserts at the same ordinal —
        consumers apply them in (ordinal, delete-before-insert) order.

        Equality-delete rows carry the key columns and NULL elsewhere (the
        delete file records keys, not full rows — same projection Iceberg's
        changelog emits for equality deletes). POSITION deletes emit the
        FULL deleted rows, reconstructed exactly by re-reading only the
        referenced files with row identity and semi-joining on (file,
        ordinal). Replace/compaction snapshots raise: they rewrite history
        rather than change data; fall back to a full-snapshot diff.

        Scale shape: reads exactly the files each snapshot added — a CDC
        consumer polls O(new data) per interval, never rescanning.

        ``where`` is the consumer's filter over the EMITTED change rows:
        added data/delete files are bounds-pruned before any open (missing
        stats keep the file — conservative), and the predicate re-applies
        to rows. Equality-delete rows carry NULL non-key columns, so a
        non-key predicate evaluates to NULL on them; ``where_mode``
        decides their fate: ``"strict"`` (default — plain row filter)
        drops them, ``"lenient"`` passes DELETE rows through when the
        predicate can't be evaluated — the right choice for a filtered
        sync, where a delete for a key outside the shard no-ops at the
        destination instead of being lost for keys inside it.

        ``with_lineage`` (v3 tables only) appends ``_row_id`` /
        ``_last_updated_sequence_number``: insert rows carry the ids they
        create and position-delete rows carry the ids they KILL — the
        CDC-consumer contract row lineage exists for (key downstream
        state on ``_row_id``, apply deletes by id). Equality-delete rows
        stay key-only with NULL lineage (the delete file names keys, not
        row identities — resolving them to ids would cost a table scan,
        which is exactly what equality deletes avoid)."""
        meta = self.metadata()
        target = self.read_schema()
        if with_lineage:
            if not _lineage_on(meta.get("properties") or {}):
                raise ValueError(
                    "with_lineage requires format-version 3: create the "
                    'table with properties={"format-version": "3"} or '
                    'upgrade via set_properties({"format-version": "3"})'
                )
            target = T.StructType(
                list(target.fields) + list(self.LINEAGE_FIELDS)
            )
        out_schema = T.StructType(
            list(target.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_change_snapshot_id", T.StringType()),
                T.StructField("_change_ordinal", T.IntegerType()),
            ]
        )
        if to_snapshot_id is None:
            to_snapshot_id = meta["refs"].get(branch)
            if to_snapshot_id is None:
                return local_df(spark, [], out_schema)
        snaps: list[dict] = []
        sid: str | None = to_snapshot_id
        while sid is not None and sid != from_snapshot_id:
            snap = self._snapshot_by_id(meta, sid)
            snaps.append(snap)
            sid = snap["parent"]
        if sid is None and from_snapshot_id is not None:
            raise ValueError(
                f"snapshot {from_snapshot_id!r} is not an ancestor of "
                f"{to_snapshot_id!r}"
            )
        parts: list[DataFrame] = []
        for ordinal, snap in enumerate(reversed(snaps)):
            if (
                snap["operation"]
                in (
                    "rewrite-manifests",
                    # delete-representation rewrites (position files → DVs)
                    # and dangling-delete pruning re-encode the SAME live
                    # row set — data-neutral by construction, so the
                    # changelog emits nothing for them either
                    "rewrite-deletes",
                    "remove-dangling-deletes",
                )
                and snap["parent"] is not None
            ):
                # metadata-only squash: zero data change, so the changelog
                # emits nothing for it (Iceberg's changelog does the same
                # for RewriteManifests commits)
                continue
            # a parentless replace is the root snapshot: its "full list" IS
            # the insert set. Any later replace (compaction, expiry seal)
            # rewrites history instead of changing data.
            if snap.get("sealed") or (
                snap.get("replace") and snap["parent"] is not None
            ):
                raise ValueError(
                    f"snapshot {snap['snapshot_id']!r} rewrites history "
                    "(replace/compaction/expiry-sealed) — changelog cannot "
                    "express it; snapshot_diff(from, to) computes the net "
                    "change across the rewrite"
                )
            d, dl = self._load_manifest(snap)
            if where is not None:
                d = [f for f in d if file_may_match(f, where)]
                dl = [f for f in dl if file_may_match(f, where)]
            stamp = [
                F.lit(snap["snapshot_id"]).alias("_change_snapshot_id"),
                F.lit(ordinal).alias("_change_ordinal"),
            ]
            pos_dl = [
                f for f in dl if f.get("delete_type") == "position"
            ]
            dl = [f for f in dl if f.get("delete_type") != "position"]
            if pos_dl:
                # position deletes name (file, ordinal) pairs; the deleted
                # ROWS are reconstructed exactly by re-reading only the
                # referenced files with row identity and semi-joining on
                # it — so the changelog emits FULL deleted rows (richer
                # than an equality delete's key-only rows). Iceberg's
                # changelog does the same for position deletes. Cost:
                # O(referenced files), never a table scan.
                prefix = os.path.abspath(self.root) + "/"
                dpos = self._read_file_group(spark, pos_dl, None).select(
                    _fp_load(F.col("file_path"), prefix).alias("__fpn"),
                    F.col("pos").alias("__pos"),
                )
                ref_paths = {
                    r["__fpn"]
                    for r in dpos.select("__fpn").distinct().collect()
                }
                live_d, _ = self._live_files(meta, snap)
                targets = [
                    f
                    for f in live_d
                    if (
                        f["path"]
                        if os.path.isabs(f["path"])
                        else os.path.join(self.root, f["path"])
                    )
                    in ref_paths
                ]
                rows = self._read_file_group(
                    spark, targets, target, with_position=True
                )
                if rows is not None:
                    if with_lineage:
                        # the deleted rows carry the ids they KILL
                        rows = self._derive_lineage(spark, rows, targets)
                    deleted = (
                        rows.withColumn("__fpn", _fp_norm(F.col("__fp")))
                        .join(dpos, ["__fpn", "__pos"], "left_semi")
                        .drop("__seq", "__fp", "__pos", "__fpn")
                    )
                    parts.append(
                        deleted.select(
                            *[F.col(f.name) for f in target.fields],
                            F.lit("delete").alias("_change_type"),
                            *stamp,
                        )
                    )
            dels = self._read_file_group(spark, dl, None)
            if dels is not None:
                # delete files written before a rename_column carry old
                # physical key names — canonicalize (same as _apply_deletes)
                # so the changelog's delete rows keep their keys
                reverse = {
                    alias: canon
                    for canon, aliases in self.name_mapping().items()
                    for alias in aliases
                }
                for alias, canon in reverse.items():
                    if alias in dels.columns and canon not in dels.columns:
                        dels = dels.withColumnRenamed(alias, canon)
                proj = [
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in dels.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target.fields
                ]
                parts.append(
                    dels.select(
                        *proj, F.lit("delete").alias("_change_type"), *stamp
                    )
                )
            rows = self._read_file_group(
                spark, d, target, with_position=with_lineage
            )
            if rows is not None:
                if with_lineage:
                    rows = self._derive_lineage(spark, rows, d).drop(
                        "__fp", "__pos"
                    )
                parts.append(
                    rows.drop("__seq").select(
                        "*", F.lit("insert").alias("_change_type"), *stamp
                    )
                )
        if not parts:
            return local_df(spark, [], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if where is not None:
            pred = F.expr(where)
            if where_mode == "lenient":
                out = out.filter(
                    F.when(
                        F.col("_change_type") == "delete",
                        F.coalesce(pred, F.lit(True)),
                    ).otherwise(pred)
                )
            elif where_mode == "strict":
                out = out.filter(pred)
            else:
                raise ValueError(
                    f"where_mode must be strict|lenient, got {where_mode!r}"
                )
        return out

    def snapshot_diff(
        self,
        spark: SparkSession,
        from_snapshot_id: str | None,
        to_snapshot_id: str | None = None,
        branch: str = MAIN,
        where: str | None = None,
    ) -> DataFrame:
        """Full-state diff between two snapshots, emitting the SAME
        ``_change_type`` / ``_change_snapshot_id`` / ``_change_ordinal``
        columns as :meth:`changes_between` — the fallback that method's
        refusal points at for ranges containing replace/compaction/
        expiry-sealed snapshots: a rewrite has no per-snapshot changelog,
        but the NET change between the endpoint states is well-defined.

        Multiset semantics via ``exceptAll``: a row with three copies
        before and one after yields two delete rows; an updated row yields
        delete(old state) + insert(new state). A pure compaction diffs to
        zero rows. ``from_snapshot_id=None`` diffs from the empty table.

        Scale: two snapshot reads + one ``exceptAll`` shuffle each way —
        O(live data at the endpoints), the honest cost of diffing across a
        history rewrite; contiguous append/delete ranges stay on the
        O(new data) ``changes_between`` fast path. ``where`` pushes into
        BOTH endpoint reads (file pruning + row filter): filtering
        commutes with the multiset difference when the same deterministic
        predicate applies to both sides, so the result is exactly the
        filtered diff — rows where the predicate is NULL drop from both
        states equally."""
        target = self.read_schema()
        out_schema = T.StructType(
            list(target.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_change_snapshot_id", T.StringType()),
                T.StructField("_change_ordinal", T.IntegerType()),
            ]
        )
        if to_snapshot_id is None:
            to_snapshot_id = self.metadata()["refs"].get(branch)
            if to_snapshot_id is None:
                return local_df(spark, [], out_schema)
        cols = [f.name for f in target.fields]
        new = self.read(
            spark, snapshot_id=to_snapshot_id, where=where
        ).select(*cols)
        old = (
            self.read(
                spark, snapshot_id=from_snapshot_id, where=where
            ).select(*cols)
            if from_snapshot_id is not None
            else local_df(spark, [], target)
        )
        stamp = [
            F.lit(to_snapshot_id).alias("_change_snapshot_id"),
            F.lit(0).alias("_change_ordinal"),
        ]
        deletes = old.exceptAll(new).select(
            "*", F.lit("delete").alias("_change_type"), *stamp
        )
        inserts = new.exceptAll(old).select(
            "*", F.lit("insert").alias("_change_type"), *stamp
        )
        return deletes.unionByName(inserts)

    # ------------------------------------------------------ metadata tables
    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg `table.snapshots` metadata-table parity — the surface the
        reference's offset-recovery walk reads (Coordinator.java:286-303)."""
        meta = self.metadata()
        # one forward pass (snapshots are append-ordered, parents first):
        # live counts = parent's counts + this snapshot's additions, reset
        # at replace/legacy-full-list snapshots. An ancestry walk per row
        # would re-open every delta manifest O(snapshots) times.
        counts: dict[str, tuple[int, int]] = {}
        rows = []
        for s in meta["snapshots"]:
            d, dl = self._load_manifest(s)
            if s.get("replace") or "manifest" not in s or s["parent"] is None:
                n_d, n_dl = len(d), len(dl)
            else:
                pd_, pdl = counts.get(s["parent"], (0, 0))
                n_d, n_dl = pd_ + len(d), pdl + len(dl)
            counts[s["snapshot_id"]] = (n_d, n_dl)
            rows.append(
                (
                    s["snapshot_id"],
                    s["parent"],
                    s["sequence_number"],
                    s["timestamp_ms"],
                    s["operation"],
                    n_d,
                    n_dl,
                    {k: str(v) for k, v in s["summary"].items()},
                )
            )
        return local_df(spark, 
            rows,
            "snapshot_id string, parent string, sequence_number long, "
            "timestamp_ms long, operation string, n_data_files int, "
            "n_delete_files int, summary map<string,string>",
        )

    def manifests_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg `table.manifests` metadata-table parity: one row per
        delta manifest (path, length, adding snapshot, entry counts) —
        driver-side metadata only. Legacy inline-list snapshots surface
        with a null path."""
        meta = self.metadata()
        rows = []
        for s in meta["snapshots"]:
            d, dl = self._load_manifest(s)
            path = s.get("manifest")
            rows.append(
                (
                    path,
                    os.path.getsize(os.path.join(self.root, path))
                    if path
                    else None,
                    s["snapshot_id"],
                    len(d),
                    len(dl),
                )
            )
        return local_df(spark, 
            rows,
            "path string, length long, added_snapshot_id string, "
            "added_data_files_count int, added_delete_files_count int",
        )

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg `table.refs` metadata-table parity: one row per named
        branch/tag with its head snapshot — what external tooling lists
        before picking a ref to read (`SELECT * FROM t.refs`)."""
        meta = self.metadata()
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        rows = [
            (
                name,
                "BRANCH",
                sid,
                by_id[sid]["sequence_number"] if sid in by_id else None,
                by_id[sid]["timestamp_ms"] if sid in by_id else None,
            )
            for name, sid in meta["refs"].items()
        ] + [
            (
                name,
                "TAG",
                sid,
                by_id[sid]["sequence_number"] if sid in by_id else None,
                by_id[sid]["timestamp_ms"] if sid in by_id else None,
            )
            for name, sid in meta.get("tags", {}).items()
        ]
        return local_df(spark, 
            rows,
            "name string, type string, snapshot_id string, "
            "sequence_number long, timestamp_ms long",
        )

    def files_df(self, spark: SparkSession, branch: str = MAIN) -> DataFrame:
        """Iceberg `table.files` parity: live files of a branch head."""
        snap = self.current_snapshot(branch)
        if snap is None:
            return local_df(spark, 
                [], "path string, content string, seq long, format string"
            )
        data_files, delete_files = self._live_files(self.metadata(), snap)
        rows = [
            (f["path"], "data", f["seq"], f.get("format", "parquet"))
            for f in data_files
        ] + [
            (f["path"], "equality-deletes", f["seq"], f.get("format", "parquet"))
            for f in delete_files
        ]
        return local_df(spark, 
            rows, "path string, content string, seq long, format string"
        )

    def history_rows(self, branch: str = MAIN) -> list[tuple]:
        """(made_current_at_ms, snapshot_id, parent_id, is_current_ancestor)
        per snapshot, newest first — driver-side metadata only."""
        meta = self.metadata()
        ancestors: set[str] = set()
        sid = meta["refs"].get(branch)
        while sid is not None:
            ancestors.add(sid)
            sid = self._snapshot_by_id(meta, sid)["parent"]
        return sorted(
            (
                (
                    s["timestamp_ms"],
                    s["snapshot_id"],
                    s["parent"],
                    s["snapshot_id"] in ancestors,
                )
                for s in meta["snapshots"]
            ),
            reverse=True,
        )

    def history_df(self, spark: SparkSession, branch: str = MAIN) -> DataFrame:
        """Iceberg `table.history` parity: the branch's snapshot lineage,
        newest first, with ancestry marked relative to the current head
        (rolled-back snapshots show is_current_ancestor=false)."""
        return local_df(spark, 
            self.history_rows(branch),
            "made_current_at_ms long, snapshot_id string, parent_id string, "
            "is_current_ancestor boolean",
        )

    def partition_rows(self, branch: str = MAIN) -> list[tuple]:
        """(partition, n_files, n_rows) per live partition — driver-side
        metadata only (rows from recorded file stats; -1 when a file
        carries none, e.g. avro)."""
        data_files, _ = self.live_files(branch=branch)
        agg: dict[tuple, list[int]] = {}
        for f in data_files:
            parts = tuple(
                f"{k}={v}"
                for k, v in partition_segments(f["path"], f.get("base"))
            )
            cur = agg.setdefault(parts, [0, 0])
            cur[0] += 1
            st = f.get("stats")
            if cur[1] >= 0:
                cur[1] = cur[1] + st["rows"] if st else -1
        return [
            ("/".join(parts) or None, n_files, n_rows)
            for parts, (n_files, n_rows) in sorted(agg.items())
        ]

    def partitions_df(self, spark: SparkSession, branch: str = MAIN) -> DataFrame:
        """Iceberg `table.partitions` parity: per-partition live file and
        row counts."""
        return local_df(spark, 
            self.partition_rows(branch),
            "partition string, n_files long, n_rows long",
        )

    def add_files(
        self, source, fmt: str = "parquet", check_schema: bool = True
    ) -> dict:
        """Register EXISTING data files in place — Iceberg's ``add_files``
        procedure / ``snapshot``-table migration (SparkActions), the only
        sane migration shape at 100 TB: zero data rewrite, one metadata
        commit. ``source`` is a directory (recursively globbed for
        ``*.{fmt}``) or an explicit list of paths; files are referenced
        absolutely, per-file column bounds come from the parquet footers
        (O(files) metadata reads) so min/max scan pruning works
        immediately, and a hive-partitioned source keeps directory-derived
        columns via the recorded base dir (Spark ``basePath``)."""
        if isinstance(source, str):
            base_dir = os.path.abspath(source)
            paths = sorted(
                globmod.glob(
                    os.path.join(base_dir, "**", f"*.{fmt}"), recursive=True
                )
            )
        else:
            paths = [os.path.abspath(p) for p in source]
            base_dir = (
                os.path.commonpath([os.path.dirname(p) for p in paths])
                if paths
                else ""
            )
        if not paths:
            raise ValueError(f"add_files: no *.{fmt} files under {source!r}")
        if check_schema and fmt == "parquet":
            import pyarrow.parquet as pq

            file_cols = set(pq.ParquetFile(paths[0]).schema_arrow.names)
            ident_sources = {
                f.source
                for f in self.partition_spec()
                if f.transform == "identity"
            }
            missing = {
                f.name for f in self.schema().fields
                if f.name not in file_cols and f.name not in ident_sources
            }
            if missing:
                raise ValueError(
                    f"add_files: source files lack table columns {sorted(missing)}"
                )
        entries = []
        for p in paths:
            e = {
                "path": p,
                "base": base_dir,
                "format": fmt,
                "bytes": os.path.getsize(p),
            }
            if fmt == "parquet":
                st = collect_parquet_stats(p)
                if st:
                    e["stats"] = st
            entries.append(e)
        return self._commit_snapshot(
            "append",
            entries,
            [],
            {
                "operation": "add-files",
                "add-files.count": str(len(entries)),
                "add-files.source": base_dir,
            },
            MAIN,
        )

    def clone_to(self, dst_root: str, branch: str = MAIN) -> "LakehouseTable":
        """Iceberg ``snapshot`` procedure parity (SparkActions
        snapshotTable / Delta shallow clone): create an INDEPENDENT table
        at ``dst_root`` whose first snapshot references this table's live
        (data, equality-delete) files IN PLACE — zero bytes copied, one
        metadata commit, the only sane way to stand up a test/staging
        twin of a 100 TB table. Schema, partition spec, properties,
        identifier fields and name mapping carry over; sequence numbers
        are preserved verbatim so equality-delete masking reads
        identically. The clone then lives its own life: appends, upserts,
        compaction and expiry on either side never touch the other
        (re-rooted entries are absolute, and this engine's orphan sweep
        never deletes absolutely-registered files outside the table
        root).

        Same caveat Iceberg documents for snapshot tables: the SOURCE's
        ``remove_orphan_files``/``expire_snapshots``+compaction can
        delete files the clone still references — treat the source as
        the owner of shared files.

        Live POSITION-delete files are refused (their row-pointer file
        paths are stored relative to the source root and cannot be
        re-rooted); ``compact()`` the source first.
        """
        if LakehouseTable.exists(dst_root):
            raise ValueError(f"table already exists at {dst_root!r}")
        meta = self.metadata()
        head = self.current_snapshot(branch)
        data, deletes = (
            ([], []) if head is None else self._live_files(meta, head)
        )
        if _has_positional(deletes):
            raise ValueError(
                "clone_to cannot re-root live position-delete files "
                "(their row pointers are source-root-relative); run "
                "compact() on the source first"
            )
        dst = LakehouseTable(dst_root)
        os.makedirs(dst._meta_dir, exist_ok=True)
        dst._write_version(
            0,
            {
                "table_uuid": str(uuid.uuid4()),
                "schema": meta["schema"],
                "partition_spec": meta["partition_spec"],
                "properties": dict(meta.get("properties", {})),
                "identifier_fields": list(meta.get("identifier_fields", [])),
                "snapshots": [],
                "refs": {},
                "version": 0,
            },
        )

        def _reroot(e: dict) -> dict:
            e = dict(e)
            if not os.path.isabs(e["path"]):
                e["path"] = os.path.join(self.root, e["path"])
            if "base" in e and not os.path.isabs(e["base"]):
                e["base"] = os.path.join(self.root, e["base"])
            return e

        if data or deletes:
            dst._commit_snapshot(
                "clone",
                [_reroot(e) for e in data],
                [_reroot(e) for e in deletes],
                {
                    "operation": "clone",
                    "source-root": os.path.abspath(self.root),
                    "source-snapshot-id": head["snapshot_id"],
                },
                MAIN,
                replace=True,
                preserve_seq=True,
            )
        return dst

    def all_files_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg `table.all_data_files`/`all_delete_files` parity in one
        frame: every file any retained snapshot ADDED, with its adding
        snapshot and sequence number — what external tooling scans to
        audit storage across history (live files of every snapshot =
        `files_df` per ref head). Metadata-only: reads the per-snapshot
        side manifests, never the data."""
        rows = []
        for s in self.snapshots():
            d, dl = self._load_manifest(s)
            for f in d:
                rows.append(
                    (
                        s["snapshot_id"],
                        s["sequence_number"],
                        "data",
                        f["path"],
                        f.get("format", "parquet"),
                        f.get("bytes"),
                    )
                )
            for f in dl:
                rows.append(
                    (
                        s["snapshot_id"],
                        s["sequence_number"],
                        "position-deletes"
                        if f.get("delete_type") in ("position", "dv")
                        else "equality-deletes",
                        f["path"],
                        f.get("format", "parquet"),
                        f.get("bytes"),
                    )
                )
        return local_df(spark, 
            rows,
            "snapshot_id string, sequence_number long, content string, "
            "path string, format string, bytes long",
        )

    def metadata_log_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg `table.metadata_log_entries` parity: one row per
        metadata version file still on disk, oldest first."""
        rows = []
        for p in sorted(
            globmod.glob(os.path.join(self._meta_dir, "v*.json")),
            key=lambda p: int(
                os.path.basename(p)[1:].split(".")[0]
            ),
        ):
            rows.append(
                (
                    int(os.path.basename(p)[1:].split(".")[0]),
                    p,
                    int(os.path.getmtime(p) * 1000),
                )
            )
        return local_df(spark, 
            rows, "version long, file string, timestamp_ms long"
        )

    def delete_files_df(
        self, spark: SparkSession, branch: str = MAIN
    ) -> DataFrame:
        """Iceberg `table.delete_files` parity: live delete files at the
        branch head — content kind (equality vs position), apply sequence,
        and the equality key columns readers anti-join on. Metadata-only."""
        snap = self.current_snapshot(branch)
        schema = (
            "path string, content string, seq long, format string, "
            "bytes long, key_cols array<string>"
        )
        if snap is None:
            return local_df(spark, [], schema)
        _, delete_files = self._live_files(self.metadata(), snap)
        rows = [
            (
                f["path"],
                "position-deletes"
                if f.get("delete_type") in ("position", "dv")
                else "equality-deletes",
                f["seq"],
                f.get("format", "parquet"),
                f.get("bytes"),
                f.get("key_cols"),
            )
            for f in delete_files
        ]
        return local_df(spark, rows, schema)

    def position_deletes_df(
        self, spark: SparkSession, branch: str = MAIN
    ) -> DataFrame:
        """Iceberg `table.position_deletes` parity: the live position-delete
        ROWS — (data file path, row ordinal) pairs with their apply
        sequence. file_path is reconstructed to the absolute form readers
        see (stored root-relative so the table stays relocatable). Scales
        as a plain scan of the delete files; no data files are opened."""
        snap = self.current_snapshot(branch)
        schema = "file_path string, pos long, seq long"
        if snap is None:
            return local_df(spark, [], schema)
        _, delete_files = self._live_files(self.metadata(), snap)
        pos_files = [
            f for f in delete_files if f.get("delete_type") == "position"
        ]
        dv_files = [
            f for f in delete_files if f.get("delete_type") == "dv"
        ]
        if not pos_files and not dv_files:
            return local_df(spark, [], schema)
        prefix = os.path.abspath(self.root) + "/"
        parts = []
        if pos_files:
            parts.append(
                self._read_file_group(spark, pos_files, None).select(
                    _fp_load(F.col("file_path"), prefix).alias("file_path"),
                    F.col("pos").cast("long").alias("pos"),
                    F.col("__seq").cast("long").alias("seq"),
                )
            )
        if dv_files:
            # deletion vectors hold the same (file, ordinal) pairs —
            # surface them through the same metadata table (one frame
            # for ALL vector entries; never a union per entry)
            parts.append(
                self._dv_positions(spark, dv_files, prefix).select(
                    F.col("__fpn").alias("file_path"),
                    F.col("__pos").cast("long").alias("pos"),
                    F.col("__dvseq").cast("long").alias("seq"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def entries_df(self, spark: SparkSession) -> DataFrame:
        """Iceberg `table.entries` parity (added/existing statuses): one
        row per manifest entry of every retained snapshot. A file listed
        by a snapshot whose own sequence number is newer than the file's
        was carried over by a replace commit (compaction) — status
        `existing`, like Iceberg's manifest-entry status 0; a file whose
        sequence matches the listing snapshot's was `added` (status 1).
        Removals are implicit in this model (a replace snapshot simply
        stops listing the file), so no `deleted` rows — audit removals by
        diffing `all_files_df` against live `files_df`. Metadata-only."""
        rows = []
        for s in self.snapshots():
            d, dl = self._load_manifest(s)
            for f, content in [(f, "data") for f in d] + [
                (
                    f,
                    "position-deletes"
                    if f.get("delete_type") in ("position", "dv")
                    else "equality-deletes",
                )
                for f in dl
            ]:
                rows.append(
                    (
                        "added"
                        if f.get("seq", s["sequence_number"])
                        == s["sequence_number"]
                        else "existing",
                        s["snapshot_id"],
                        s["sequence_number"],
                        content,
                        f["path"],
                        f.get("seq"),
                    )
                )
        return local_df(spark, 
            rows,
            "status string, snapshot_id string, snapshot_sequence long, "
            "content string, path string, file_sequence long",
        )

    # ----------------------------------------------------------- maintenance
    def compact(
        self,
        spark: SparkSession,
        branch: str = MAIN,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Fold merge-on-read state into plain data files (REPLACE snapshot):
        bounds read amplification, like Iceberg rewrite_data_files.

        ``sort_by`` additionally range-clusters the rewrite (Iceberg's
        rewrite strategy=sort): rows are range-partitioned then sorted on
        the given columns, so each output file covers a disjoint value range
        and the recorded column bounds make predicate file-pruning sharp —
        a range query then opens O(matching) files instead of all of them.

        ``zorder_by`` clusters on the Morton interleave of 2+ columns
        instead (Iceberg rewrite strategy=sort with a z-order expression):
        a lexicographic sort gives sharp bounds only on its leading column;
        the space-filling curve gives EVERY listed column tight per-file
        bounds, so pruning works for predicates on any of them. Costs one
        extra column-pruned agg scan for the global min/max of each listed
        column (row-group stats make it footer-cheap).
        """
        if sort_by and zorder_by:
            raise ValueError("pass either sort_by or zorder_by, not both")
        head = self.current_snapshot(branch)
        # v3 row lineage: a rewrite must not change row identity — the
        # lineage fields MATERIALIZE into the rewritten parquet (reads
        # prefer the stored columns over per-file derivation). Avro/orc
        # carry no row ordinals, so those rewrites re-assign. v2 tables
        # (the default) skip this entirely: materialization costs a
        # _metadata-position read plus two extra columns in every output
        # file, a pure tax when no consumer reads lineage.
        if self.file_format() == "parquet" and self.lineage_enabled():
            current = self.read_with_lineage(spark, branch=branch)
        else:
            current = self.read(spark, branch=branch)
        summary = {"compaction": "true"}
        if sort_by or zorder_by:
            # explicit partition count: an unsized repartitionByRange lets
            # AQE coalesce tiny rewrites to one file, erasing the disjoint
            # ranges the sort exists to create. Cluster-width parallelism is
            # the floor; at real scale bytes/target-file-size dominates.
            n = max(
                spark.sparkContext.defaultParallelism,
                len(self.live_files(branch=branch)[0]) // 4,
            )
        if sort_by:
            current = current.repartitionByRange(
                n, *sort_by
            ).sortWithinPartitions(*sort_by)
            summary["sort-order"] = ",".join(sort_by)
        elif zorder_by:
            from ..functions.zorder import _as_double, zorder_key

            aggs = []
            for i, c in enumerate(zorder_by):
                e = _as_double(current, c)
                aggs += [F.min(e).alias(f"__lo{i}"), F.max(e).alias(f"__hi{i}")]
            row = current.agg(*aggs).first()
            ranges = {
                c: (
                    row[f"__lo{i}"] if row[f"__lo{i}"] is not None else 0.0,
                    row[f"__hi{i}"] if row[f"__hi{i}"] is not None else 0.0,
                )
                for i, c in enumerate(zorder_by)
            }
            current = (
                current.withColumn(
                    "__z", zorder_key(current, zorder_by, ranges)
                )
                .repartitionByRange(n, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            summary["zorder"] = ",".join(zorder_by)
        files = self._write_files(current, "data")
        return self._commit_snapshot(
            "replace",
            files,
            [],
            summary,
            branch,
            replace=True,
            expected_parent=head["snapshot_id"] if head else None,
        )

    def rewrite_small_files(
        self,
        spark: SparkSession,
        min_file_size: int = 32 * 1024 * 1024,
        branch: str = MAIN,
    ) -> dict | None:
        """Iceberg rewrite_data_files strategy=binpack: coalesce only data
        files below ``min_file_size`` into target-sized files, carrying every
        other file over untouched — at 100 TB this is the difference between
        a bounded maintenance job over the small-file tail and `compact()`'s
        full-table rewrite.

        Kept files retain their sequence numbers and existing delete files
        stay in the manifest, so equality deletes keep applying to them;
        the rewritten rows have deletes FOLDED IN and land at the new (top)
        sequence, out of the deletes' reach. Returns the snapshot, or None
        when fewer than two small files exist (nothing to coalesce).
        """
        meta = self.metadata()
        snap = self.current_snapshot(branch)
        if snap is None:
            return None
        data_files, delete_files = self._live_files(meta, snap)
        # size-unknown entries (committed before sizes were recorded) are
        # NOT assumed small — treating them as 0 bytes would turn "binpack
        # the tail" into an unconditional full-table rewrite
        small = [
            f for f in data_files if 0 < f.get("bytes", 0) < min_file_size
        ]
        if len(small) < 2:
            return None
        small_paths = {f["path"] for f in small}
        kept = [f for f in data_files if f["path"] not in small_paths]
        if self.file_format() == "parquet" and self.lineage_enabled():
            # v3 rewrites preserve row lineage by materializing the fields
            # into the coalesced files (see read_with_lineage); v2 tables
            # skip the position read + extra columns
            target = T.StructType(
                list(self.read_schema().fields) + list(self.LINEAGE_FIELDS)
            )
            merged = self._read_file_group(
                spark, small, target, with_position=True
            )
            merged = self._derive_lineage(spark, merged, small)
        else:
            merged = self._read_file_group(
                spark,
                small,
                self.read_schema(),
                with_position=_has_positional(delete_files),
            )
        merged = self._apply_deletes(spark, merged, delete_files).drop(
            "__seq", "__fp", "__pos"
        )
        # position deletes aimed at the rewritten files are FOLDED IN above;
        # they dangle harmlessly afterwards (fresh uuid file names can never
        # alias a deleted (fp, pos) pair) and the kept files still need the
        # rest, so the delete set carries over untouched — same as equality
        # pack to the byte target: without this the rewrite inherits one
        # output file per input split and coalesces nothing
        target = int(
            self.properties().get(
                "write.target-file-size-bytes", 128 * 1024 * 1024
            )
        )
        n_out = max(1, -(-sum(f.get("bytes", 0) for f in small) // target))
        merged = merged.coalesce(n_out)
        new_files = self._write_files(merged, "data")
        return self._commit_snapshot(
            "replace",
            kept + new_files,
            delete_files,
            {
                "compaction": "binpack",
                "rewritten-files": str(len(small)),
                "kept-files": str(len(kept)),
            },
            branch,
            replace=True,
            preserve_seq=True,
            expected_parent=snap["snapshot_id"],
        )

    def rewrite_manifests(
        self, branch: str = MAIN, min_manifests: int = 2
    ) -> dict | None:
        """Iceberg ``rewrite_manifests`` parity: squash the metadata read
        path WITHOUT touching data. Reads reconstruct the live file set by
        walking one side manifest per ancestor snapshot (``_live_files``);
        after thousands of streaming commits that walk is thousands of
        small metadata reads per query plan. This commits a single
        ``rewrite-manifests`` snapshot whose manifest IS the full live
        (data, delete) set — entries verbatim, sequence numbers preserved
        so merge-on-read delete application is bit-identical — and marks
        it ``replace`` so the ancestry walk terminates at depth 1.

        Unlike ``compact()`` nothing is rewritten on the data plane: cost
        is O(live file entries) of JSON, zero bytes of data I/O — the
        maintenance job you can afford hourly at 100 TB. History stays
        intact (parents survive for time travel / changelog until
        ``expire_snapshots``), and because the snapshot changes no rows,
        ``appends_between`` / ``changes_between`` skip it instead of
        refusing the range, so incremental consumers stream straight
        across it (Iceberg's changelog likewise emits nothing for
        RewriteManifests commits).

        Returns the new snapshot, or None when the head already plans with
        fewer than ``min_manifests`` manifests (nothing to squash).
        Reference analogue: table maintenance is delegated to engines
        (README.md "Iceberg table maintenance"); this is that engine-side
        procedure, per Iceberg spec's manifest-list compaction story.
        """
        meta = self.metadata()
        head = self.current_snapshot(branch)
        if head is None:
            return None
        depth = 0
        cur: dict | None = head
        while cur is not None:
            depth += 1
            if cur.get("replace") or "manifest" not in cur:
                break
            pid = cur["parent"]
            cur = self._snapshot_by_id(meta, pid) if pid else None
        if depth < min_manifests:
            return None
        data, deletes = self._live_files(meta, head)
        return self._commit_snapshot(
            "rewrite-manifests",
            data,
            deletes,
            {
                "rewrite-manifests": "true",
                "manifests-squashed": str(depth),
                "data-files": str(len(data)),
                "delete-files": str(len(deletes)),
            },
            branch,
            replace=True,
            preserve_seq=True,
            expected_parent=head["snapshot_id"],
        )

    def remove_dangling_deletes(self, branch: str = MAIN) -> dict | None:
        """Iceberg's removeDanglingDeletes (a RewriteDataFiles option, also
        what rewrite_position_delete_files prunes): drop live delete files
        that can no longer mask anything — metadata-only, zero data I/O.

        A delete file is dangling when:
        - equality: no live data file has a LOWER sequence number (an
          equality delete at seq s masks only rows with seq < s — after
          compaction folded everything to the top seq, the delete is dead
          weight every scan still reads);
        - position: none of its referenced data-file paths are live (the
          files were rewritten or expired out from under it).

        Commits one ``remove-dangling-deletes`` replace snapshot carrying
        the data files verbatim and only the still-effective delete files
        (sequence numbers preserved). Returns the snapshot, or None when
        nothing dangles. Why it matters at 100 TB: dangling deletes are
        pure read amplification — every merge-on-read scan loads and
        anti-joins them forever until something prunes them.
        """
        meta = self.metadata()
        head = self.current_snapshot(branch)
        if head is None:
            return None
        data, deletes = self._live_files(meta, head)
        if not deletes:
            return None
        min_data_seq = min((f["seq"] for f in data), default=None)
        live_paths = {f["path"] for f in data}
        kept: list[dict] = []
        dropped = 0
        for d in deletes:
            if d.get("delete_type") == "position":
                alive = self._position_delete_refs([d]) & live_paths
                keep = bool(alive)
            elif d.get("delete_type") == "dv":
                # a vector names its referenced file in the manifest
                # entry itself — no file read needed to decide liveness
                keep = d["referenced_data_file"] in live_paths
            else:
                keep = min_data_seq is not None and min_data_seq < d["seq"]
            if keep:
                kept.append(d)
            else:
                dropped += 1
        if dropped == 0:
            return None
        return self._commit_snapshot(
            "remove-dangling-deletes",
            data,
            kept,
            {
                "dangling-deletes-removed": str(dropped),
                "delete-files-kept": str(len(kept)),
            },
            branch,
            replace=True,
            preserve_seq=True,
            expected_parent=head["snapshot_id"],
        )

    def truncate(self, branch: str = MAIN) -> dict:
        """SQL TRUNCATE TABLE — one metadata commit, no data I/O: a
        replace snapshot with an empty live set. History (and the data
        files) survive for time travel until ``expire_snapshots`` +
        ``remove_orphan_files``; rollback undoes it. Iceberg implements
        TRUNCATE exactly this way (a deleteAll overwrite commit)."""
        head = self.current_snapshot(branch)
        return self._commit_snapshot(
            "truncate",
            [],
            [],
            {"truncate": "true"},
            branch,
            replace=True,
            expected_parent=head["snapshot_id"] if head else None,
        )

    def rewrite_where(
        self,
        spark: SparkSession,
        where: str,
        branch: str = MAIN,
        sort_by: list[str] | None = None,
    ) -> dict | None:
        """Iceberg ``rewrite_data_files(filter=...)``: rewrite only the data
        files a predicate may touch (planned against recorded column bounds,
        conservative), leaving every other file untouched with its sequence
        number preserved — the bounded maintenance job for re-clustering a
        hot partition or folding delete state for one key range without
        paying for a full-table pass.

        Delete handling mirrors rewrite_small_files: rewritten rows get
        deletes FOLDED IN and land at the top sequence; delete files stay
        in the manifest and keep applying to the kept (lower-sequence)
        files. ``sort_by`` range-clusters the rewritten rows so their new
        bounds are disjoint. Returns the snapshot, or None when no file
        matches."""
        meta = self.metadata()
        snap = self.current_snapshot(branch)
        if snap is None:
            return None
        data_files, delete_files = self._live_files(meta, snap)
        selected = [f for f in data_files if file_may_match(f, where)]
        if not selected:
            return None
        sel_paths = {f["path"] for f in selected}
        kept = [f for f in data_files if f["path"] not in sel_paths]
        merged = self._read_file_group(
            spark,
            selected,
            self.read_schema(),
            with_position=_has_positional(delete_files),
        )
        merged = self._apply_deletes(spark, merged, delete_files).drop(
            "__seq", "__fp", "__pos"
        )
        # table-level write policy wins: when write.distribution-mode or
        # write.sort-order is set, _write_files re-clusters the rows itself
        # and a repartitionByRange here would be silently destroyed — apply
        # the ad-hoc sort_by only on tables with no policy of their own
        props = self.properties()
        table_clusters = (
            props.get("write.distribution-mode", "none").lower() != "none"
            or bool(props.get("write.sort-order"))
        )
        if sort_by and not table_clusters:
            merged = merged.repartitionByRange(*sort_by).sortWithinPartitions(
                *sort_by
            )
        new_files = self._write_files(merged, "data")
        return self._commit_snapshot(
            "replace",
            kept + new_files,
            delete_files,
            {
                "compaction": "rewrite-where",
                "filter": where,
                "rewritten-files": str(len(selected)),
                "kept-files": str(len(kept)),
            },
            branch,
            replace=True,
            preserve_seq=True,
            expected_parent=snap["snapshot_id"],
        )

    def rollback(self, snapshot_id: str, branch: str = MAIN) -> dict:
        """Point ``branch`` back at an ancestor snapshot — Iceberg
        ``manageSnapshots().rollbackTo()`` semantics
        (core/src/main/java/org/apache/iceberg/SnapshotManager.java in the
        Iceberg the reference writes to). The target must be an ancestor of
        the branch head (rollback is an undo, not an arbitrary re-point —
        use branches for that). Abandoned snapshots stay readable via time
        travel until expire_snapshots()."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            head = meta["refs"].get(branch)
            if head is None:
                raise ValueError(f"branch {branch!r} has no snapshots")
            sid = head
            found = False
            while sid is not None:
                if sid == snapshot_id:
                    found = True
                    break
                sid = self._snapshot_by_id(meta, sid)["parent"]
            if not found:
                raise ValueError(
                    f"snapshot {snapshot_id!r} is not an ancestor of "
                    f"{branch!r} head {head!r}"
                )
            if head == snapshot_id:
                return self._snapshot_by_id(meta, snapshot_id)
            meta["refs"][branch] = snapshot_id
            try:
                self._write_version(meta["version"] + 1, meta)
                return self._snapshot_by_id(meta, snapshot_id)
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        raise CommitConflict("unreachable")

    def set_ref_retention(
        self,
        name: str,
        max_ref_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
    ) -> None:
        """Iceberg per-ref retention parity (the spec's snapshot-ref
        fields): ``max-ref-age-ms`` retires the ref itself during expire
        (never ``main``); for branches, ``min-snapshots-to-keep`` and
        ``max-snapshot-age-ms`` override the global depth/age for that
        branch's chain. Stored on the ref, exported/imported in spec
        form."""
        if name == MAIN and max_ref_age_ms is not None:
            raise ValueError("main cannot carry max-ref-age-ms")
        fields = {
            "max-ref-age-ms": max_ref_age_ms,
            "min-snapshots-to-keep": min_snapshots_to_keep,
            "max-snapshot-age-ms": max_snapshot_age_ms,
        }
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            is_tag = name in meta.get("tags", {})
            if name not in meta["refs"] and not is_tag:
                raise ValueError(f"no such ref {name!r}")
            if is_tag and (
                min_snapshots_to_keep is not None
                or max_snapshot_age_ms is not None
            ):
                # Iceberg SnapshotRef: tags carry max-ref-age-ms ONLY;
                # exporting branch fields on a tag makes the whole
                # metadata.json unparseable to Java's SnapshotRefParser
                raise ValueError(
                    f"{name!r} is a tag — tags support only max-ref-age-ms"
                )
            ret = meta.setdefault("ref_retention", {}).setdefault(name, {})
            for k, v in fields.items():
                if v is None:
                    ret.pop(k, None)
                else:
                    ret[k] = int(v)
            if not ret:
                del meta["ref_retention"][name]
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def ref_retention(self) -> dict[str, dict]:
        return dict(self.metadata().get("ref_retention") or {})

    # ------------------------------------------------------ table statistics
    def compute_statistics(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        k: int = 4096,
        branch: str = MAIN,
        mode: str = "full",
    ) -> dict[str, int]:
        """Iceberg "Table statistics" parity: per-column NDV computed by
        the KMV bottom-k sketch (``operators/sketch.kmv_ndv`` — exact
        below k distinct, integer-exact estimate above, so the values
        are oracle-checkable) and stored as blobs of a Puffin statistics
        file, recorded in table metadata keyed by the snapshot they
        describe (the spec's ``statistics`` list; Trino/Spark read the
        ``ndv`` blob property for join planning, which is exactly what
        ``stats_join`` consumes here via :meth:`statistics`).

        The blob type is ``ndv-kmv-v1`` — honestly named: the payload is
        this engine's KMV serialization (k then the bottom-k 60-bit
        hashes, big-endian), NOT an Apache DataSketches theta sketch, so
        a reader is never tricked into mis-parsing it; the standard
        ``ndv`` property rides on the blob exactly where conforming
        readers look for it. Sketches are MERGEABLE (union of bottom-k
        sets, re-truncated to k), so incremental refreshes can fold new
        partitions in without a full rescan.

        Scale shape: one ``distinct().orderBy(h).limit(k)`` per column —
        TakeOrderedAndProject keeps only bottom-k per partition; the
        driver holds P·k longs, never the distinct set.

        ``mode="incremental"`` scans ONLY the rows appended since the
        nearest sketch-bearing ancestor and unions sketches (KMV
        mergeability: union-and-truncate ≡ rescan, pinned by test);
        falls back to a full rebuild across rewrites/deletes.
        """
        if mode not in ("full", "incremental"):
            raise ValueError(f"mode must be full|incremental, got {mode!r}")
        from ..operators.sketch import (
            kmv_estimate,
            kmv_serialize,
            kmv_sketch,
        )
        from .puffin import write_puffin

        snap = self.current_snapshot(branch)
        if snap is None:
            raise ValueError("no snapshot to compute statistics for")
        cols = columns or [f.name for f in self.read_schema().fields]
        sid = snap["snapshot_id"]
        sketches: dict[str, list[int]] | None = None
        if mode == "incremental":
            # the mergeability payoff: union the nearest ancestor's
            # stored sketches with sketches of ONLY the appended rows —
            # refresh cost O(new data), not O(table). Falls back to a
            # full rebuild when no sketch-bearing puffin ancestor exists
            # or the range contains a rewrite/delete (same contract as
            # analyze(mode="incremental")).
            base = self._nearest_kmv_stats(branch)
            if base is not None:
                # the stored sketches bind the column set and k: a call
                # asking for DIFFERENT columns or a different k cannot be
                # answered by unioning them — rebuild full for exactly
                # what the caller asked (silently serving the old column
                # set would drop requested columns without an error)
                base_cols = [b["column"] for b in base["blobs"]]
                base_k = {b.get("k") for b in base["blobs"]}
                # columns=None means "all schema columns" (the default
                # computed into ``cols`` above) — that request is just as
                # binding as an explicit list, so a base sketch covering
                # a narrower (or stale, post-add-column) set must also
                # trigger the full rebuild instead of silently serving
                # only the ancestor's column set
                wanted = list(columns) if columns is not None else cols
                if wanted != base_cols or base_k != {k}:
                    base = None
            if base is not None and base["snapshot-id"] == sid:
                return {
                    b["column"]: int(b["ndv"]) for b in base["blobs"]
                }
            if base is not None:
                try:
                    inc = self.appends_between(
                        spark, base["snapshot-id"], branch=branch
                    )
                except ValueError:
                    base = None
                else:
                    from .puffin import read_blob

                    from ..operators.sketch import kmv_deserialize

                    spath = os.path.join(
                        self.root, base["statistics-path"]
                    )
                    sketches, cols = {}, []
                    for b in base["blobs"]:
                        c = b["column"]
                        cols.append(c)
                        old, _bk = kmv_deserialize(
                            read_blob(spath, b["offset"], b["length"])
                        )
                        new = kmv_sketch(inc, c, k=k)
                        sketches[c] = sorted(set(old) | set(new))[:k]
        if sketches is None:
            current = self.read(spark, branch=branch)
            sketches = {c: kmv_sketch(current, c, k=k) for c in cols}
        ndv = {c: kmv_estimate(s, k) for c, s in sketches.items()}
        rel = os.path.join("metadata", f"stats-{sid}-{uuid.uuid4().hex[:8]}.puffin")
        metas = write_puffin(
            os.path.join(self.root, rel),
            [
                (
                    "ndv-kmv-v1",
                    {"ndv": str(ndv[c]), "k": str(k), "column": c},
                    kmv_serialize(sketches[c], k),
                )
                for c in cols
            ],
            snapshot_id=sid,
        )
        entry = {
            # same list and key shape as analyze()'s JSON-doc entries —
            # one ``statistics`` registry, two file formats, and the
            # replace-by-snapshot rule holds across both
            "snapshot-id": sid,
            "statistics-path": rel,
            "format": "puffin",
            "blobs": [
                {
                    "type": "ndv-kmv-v1",
                    "column": c,
                    "ndv": int(ndv[c]),
                    "k": int(k),
                    # blob location, so an incremental refresh can read
                    # the sketch back without re-parsing the footer
                    "offset": m.offset,
                    "length": m.length,
                }
                for c, m in zip(cols, metas)
            ],
        }
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            stats = [
                s
                for s in meta.get("statistics", [])
                if s["snapshot-id"] != sid
            ]
            meta["statistics"] = stats + [entry]
            try:
                self._write_version(meta["version"] + 1, meta)
                return ndv
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def _nearest_kmv_stats(self, branch: str = MAIN) -> dict | None:
        """The nearest-ancestor puffin-format statistics entry whose
        blobs carry sketch locations (written by compute_statistics —
        imported entries reference external files and may lack offsets,
        in which case incremental refresh falls back to full)."""
        meta = self.metadata()
        by_sid = {
            s["snapshot-id"]: s
            for s in meta.get("statistics", [])
            if s.get("format") == "puffin"
            and all("offset" in b for b in s.get("blobs", []))
        }
        cur = self.current_snapshot(branch)
        while cur is not None:
            if cur["snapshot_id"] in by_sid:
                return by_sid[cur["snapshot_id"]]
            pid = cur["parent"]
            cur = self._snapshot_by_id(meta, pid) if pid else None
        return None

    def statistics(self, branch: str = MAIN) -> dict[str, int] | None:
        """{column → ndv} recorded for the CURRENT snapshot of
        ``branch``, or None when no statistics entry describes it (stale
        stats from an earlier snapshot are deliberately not served here —
        ``column_stats`` is the graceful-aging accessor). Serves both
        entry formats: Puffin blob metadata and analyze() JSON docs."""
        snap = self.current_snapshot(branch)
        if snap is None:
            return None
        for s in self.metadata().get("statistics", []):
            if s["snapshot-id"] != snap["snapshot_id"]:
                continue
            if s.get("format") == "puffin":
                return {b["column"]: int(b["ndv"]) for b in s["blobs"]}
            with open(
                os.path.join(self.root, s["statistics-path"])
            ) as f:
                doc = json.load(f)
            return {
                c: int(v["ndv"])
                for c, v in doc["columns"].items()
                if v.get("ndv") is not None
            }
        return None

    # ------------------------------------------------ partition statistics
    @staticmethod
    def _file_partition_tuple(f: dict) -> tuple[tuple[str, str | None], ...]:
        """The partition tuple of one data-file entry, as sorted
        (name, string-rendered value) pairs: imported Iceberg entries
        carry the manifest's identity tuple (``partition_values``),
        native files encode it in hive-style path segments (values
        percent-escaped by the writer, ``__HIVE_DEFAULT_PARTITION__``
        for null)."""
        import urllib.parse

        pv = f.get("partition_values")
        if pv:
            return tuple(
                (k, None if v is None else str(v))
                for k, v in sorted(pv.items())
            )
        out = []
        for k, v in partition_segments(f["path"], f.get("base")):
            v = urllib.parse.unquote(v)
            out.append((k, None if v == HIVE_NULL_PARTITION else v))
        return tuple(sorted(out))

    def compute_partition_statistics(
        self, branch: str = MAIN, mode: str = "full"
    ) -> list[dict]:
        """Iceberg "Partition statistics" parity: one persisted stats
        file per snapshot with per-partition rollups of the live data
        files — the spec's required fields (``partition``, ``spec_id``,
        ``data_record_count``, ``data_file_count``,
        ``total_data_file_size_in_bytes``) plus
        ``last_updated_at``/``last_updated_snapshot_id`` — registered in
        table metadata under ``partition-statistics`` with the same
        replace-by-snapshot rule as the NDV ``statistics`` list.

        Scale shape: this is a MANIFEST walk, O(live files) driver-side
        metadata with O(partitions) output — no data is read, so the
        refresh costs the same at sf0.001 and at 100 TB with the same
        file count. The stats file is parquet (pyarrow, partition values
        string-rendered; ``data_record_count`` is -1 when a file format
        records no row counts, e.g. avro — documented sentinel, the spec
        has no unknown marker).

        ``mode="incremental"``: fold ONLY the files appended since the
        nearest stats-bearing ancestor onto its rows (pure addition —
        counts and sizes are mergeable); any replace/delete snapshot in
        the range falls back to a full rebuild, the same contract as
        compute_statistics.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        if mode not in ("full", "incremental"):
            raise ValueError(f"mode must be full|incremental, got {mode!r}")
        meta = self.metadata()
        snap = self.current_snapshot(branch)
        if snap is None:
            raise ValueError("no snapshot to compute partition stats for")
        sid = snap["snapshot_id"]

        # seq → (snapshot-id, timestamp): attributes each partition's
        # last_updated_* to the snapshot that actually last added a file
        # to it (the spec's definition), not to the computing snapshot
        seq_to_snap = {
            s["sequence_number"]: (s["snapshot_id"], s["timestamp_ms"])
            for s in meta.get("snapshots", [])
        }

        def _fold(acc: dict, files: list[dict]) -> None:
            # per partition: [rows, files, bytes, max file seq]
            for f in files:
                key = self._file_partition_tuple(f)
                cur = acc.setdefault(key, [0, 0, 0, None])
                st = f.get("stats")
                if cur[0] >= 0:
                    cur[0] = cur[0] + st["rows"] if st and st.get(
                        "rows"
                    ) is not None else -1
                cur[1] += 1
                cur[2] += int(f.get("bytes") or 0)
                fseq = f.get("seq")
                if fseq is not None and (
                    cur[3] is None or fseq > cur[3]
                ):
                    cur[3] = fseq

        acc: dict | None = None
        if mode == "incremental":
            base = self._nearest_partition_stats(branch)
            if base is not None and base["snapshot-id"] == sid:
                return self.partition_statistics(branch=branch)
            if base is not None:
                new_files: list[dict] = []
                cur = snap
                ok = True
                while cur is not None and cur["snapshot_id"] != base[
                    "snapshot-id"
                ]:
                    if cur.get("replace") or "manifest" not in cur:
                        ok = False  # rewrite/delete in range → full
                        break
                    d, dl = self._load_manifest(cur)
                    if dl:
                        ok = False  # new delete files → full
                        break
                    new_files.extend(d)
                    pid = cur["parent"]
                    cur = self._snapshot_by_id(meta, pid) if pid else None
                if ok and cur is not None:
                    acc = {}
                    base_last = {}
                    for r in self._read_partition_stats_file(base):
                        key = tuple(sorted(r["partition"].items()))
                        # seq None: untouched partitions KEEP the base
                        # entry's last_updated_* (the spec attributes
                        # them to the snapshot that last changed the
                        # partition, not to the refresh)
                        acc[key] = [
                            r["data_record_count"],
                            r["data_file_count"],
                            r["total_data_file_size_in_bytes"],
                            None,
                        ]
                        base_last[key] = (
                            r["last_updated_snapshot_id"],
                            r["last_updated_at"],
                        )
                    _fold(acc, new_files)
        if acc is None:
            base_last = {}
            data_files, _ = self._live_files(meta, snap)
            acc = {}
            _fold(acc, data_files)

        # spec ids follow the exporter's convention: 0 = current spec,
        # 2+ = retired generations (partition evolution) — resolved by
        # matching the partition tuple's field-name set
        def _spec_names(spec_json: list[dict]) -> tuple[str, ...]:
            return tuple(
                sorted(
                    PartitionField.from_json(d).name for d in spec_json
                )
            )

        cur_names = _spec_names(meta.get("partition_spec") or [])
        hist_names = [
            _spec_names(h)
            for h in meta.get("partition_spec_history") or []
        ]

        def _spec_id(key: tuple) -> int:
            names = tuple(sorted(k for k, _ in key))
            if names == cur_names:
                return 0
            for j, h in enumerate(hist_names):
                if names == h:
                    return 2 + j
            return 0

        def _last(key: tuple, v: list) -> tuple[str, int]:
            if v[3] is None:
                got = base_last.get(key)
                if got:
                    return got
                return sid, snap["timestamp_ms"]
            got = seq_to_snap.get(v[3])
            # expired adding snapshot: the head is the best attribution
            return got if got else (sid, snap["timestamp_ms"])

        rows = []
        for key, v in sorted(acc.items()):
            lsid, lts = _last(key, v)
            rows.append(
                {
                    "partition": dict(key),
                    "spec_id": _spec_id(key),
                    "data_record_count": v[0],
                    "data_file_count": v[1],
                    "total_data_file_size_in_bytes": v[2],
                    "last_updated_at": lts,
                    "last_updated_snapshot_id": lsid,
                }
            )
        rel = os.path.join(
            "metadata", f"partition-stats-{sid}-{uuid.uuid4().hex[:8]}.parquet"
        )
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "partition": pa.array(
                        [json.dumps(r["partition"], sort_keys=True)
                         for r in rows]
                    ),
                    "spec_id": pa.array(
                        [r["spec_id"] for r in rows], pa.int32()
                    ),
                    "data_record_count": pa.array(
                        [r["data_record_count"] for r in rows], pa.int64()
                    ),
                    "data_file_count": pa.array(
                        [r["data_file_count"] for r in rows], pa.int32()
                    ),
                    "total_data_file_size_in_bytes": pa.array(
                        [r["total_data_file_size_in_bytes"] for r in rows],
                        pa.int64(),
                    ),
                    "last_updated_at": pa.array(
                        [r["last_updated_at"] for r in rows], pa.int64()
                    ),
                    "last_updated_snapshot_id": pa.array(
                        [r["last_updated_snapshot_id"] for r in rows]
                    ),
                }
            ),
            path,
        )
        entry = {
            "snapshot-id": sid,
            "statistics-path": rel,
            "file-size-in-bytes": os.path.getsize(path),
        }
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            pstats = [
                s
                for s in meta.get("partition-statistics", [])
                if s["snapshot-id"] != sid
            ]
            meta["partition-statistics"] = pstats + [entry]
            try:
                self._write_version(meta["version"] + 1, meta)
                return rows
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return rows

    def _nearest_partition_stats(self, branch: str = MAIN) -> dict | None:
        meta = self.metadata()
        by_sid = {
            s["snapshot-id"]: s
            for s in meta.get("partition-statistics", [])
        }
        cur = self.current_snapshot(branch)
        while cur is not None:
            if cur["snapshot_id"] in by_sid:
                return by_sid[cur["snapshot_id"]]
            pid = cur["parent"]
            cur = self._snapshot_by_id(meta, pid) if pid else None
        return None

    def _read_partition_stats_file(self, entry: dict) -> list[dict]:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.root, entry["statistics-path"]))
        out = []
        for r in t.to_pylist():
            p = r["partition"]
            # internal files render the tuple as a JSON string; imported
            # spec-shaped files carry a real struct (→ dict already)
            if isinstance(p, str):
                p = json.loads(p)
            r["partition"] = {
                k: None if v is None else str(v)
                for k, v in (p or {}).items()
            }
            r["last_updated_snapshot_id"] = str(
                r.get("last_updated_snapshot_id")
            )
            out.append(r)
        return out

    def partition_statistics(self, branch: str = MAIN) -> list[dict] | None:
        """The recorded partition-stats rows for the CURRENT snapshot of
        ``branch`` (stale entries from earlier snapshots are not served,
        same contract as :meth:`statistics`)."""
        snap = self.current_snapshot(branch)
        if snap is None:
            return None
        for s in self.metadata().get("partition-statistics", []):
            if s["snapshot-id"] == snap["snapshot_id"]:
                return self._read_partition_stats_file(s)
        return None

    def partition_statistics_df(
        self, spark: SparkSession, branch: str = MAIN
    ) -> DataFrame:
        rows = self.partition_statistics(branch=branch) or []
        return local_df(spark, 
            [
                (
                    r["partition"],
                    r["spec_id"],
                    r["data_record_count"],
                    r["data_file_count"],
                    r["total_data_file_size_in_bytes"],
                    r["last_updated_at"],
                    r["last_updated_snapshot_id"],
                )
                for r in rows
            ],
            "partition map<string,string>, spec_id int, "
            "data_record_count long, data_file_count int, "
            "total_data_file_size_in_bytes long, last_updated_at long, "
            "last_updated_snapshot_id string",
        )

    def expire_snapshots(
        self,
        keep_last: int = 10,
        older_than_ms: int | None = None,
        now_ms: int | None = None,
    ) -> int:
        """Iceberg expire_snapshots parity: drop snapshot metadata beyond the
        last ``keep_last`` per branch-reachable chain; with ``older_than_ms``
        (expireOlderThan), snapshots at or after the cutoff are additionally
        retained even off-chain. Per-ref retention (set_ref_retention)
        applies first: refs past their max-ref-age-ms are retired, and a
        branch's min-snapshots-to-keep / max-snapshot-age-ms override the
        global depth for its chain. Returns the number of expired
        snapshots. File cleanup is remove_orphan_files' job."""
        now = int(time.time() * 1000) if now_ms is None else now_ms
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            retention = meta.get("ref_retention") or {}
            # retire aged-out refs (never main; Iceberg max-ref-age-ms)
            refs_retired = False
            for store_key in ("refs", "tags"):
                store = meta.get(store_key) or {}
                for rname in list(store):
                    age_cap = (retention.get(rname) or {}).get(
                        "max-ref-age-ms"
                    )
                    if rname == MAIN or age_cap is None:
                        continue
                    head = store[rname]
                    ts = self._snapshot_by_id(meta, head)["timestamp_ms"]
                    if now - ts > age_cap:
                        del store[rname]
                        meta["ref_retention"].pop(rname, None)
                        refs_retired = True
            keep: set[str] = set()
            for rname, sid in meta["refs"].items():
                ret = retention.get(rname) or {}
                min_keep = ret.get("min-snapshots-to-keep")
                age_cap = ret.get("max-snapshot-age-ms")
                # Iceberg semantics: min-snapshots-to-keep is a FLOOR on
                # the age-driven expire, not an exact retention depth. It
                # only SHRINKS retention below the global keep_last when
                # the ref also sets max-snapshot-age-ms (age decides, with
                # the count floor); alone it can only deepen retention
                # (r4 advice: treating it as a cap expired history users
                # expected kept).
                if min_keep is None:
                    depth = keep_last
                elif age_cap is not None:
                    depth = min_keep
                else:
                    depth = max(keep_last, min_keep)
                n = 0
                while sid is not None:
                    snap = self._snapshot_by_id(meta, sid)
                    within_depth = n < depth
                    within_age = (
                        age_cap is not None
                        and now - snap["timestamp_ms"] <= age_cap
                    )
                    if not (within_depth or within_age):
                        break
                    keep.add(sid)
                    sid = snap["parent"]
                    n += 1
            # tagged snapshots are retained regardless of age; when their
            # ancestry expires the sealing pass below rewrites them with a
            # full manifest, so the tag stays readable
            keep.update(meta.get("tags", {}).values())
            if older_than_ms is not None:
                keep.update(
                    s["snapshot_id"]
                    for s in meta["snapshots"]
                    if s["timestamp_ms"] >= older_than_ms
                )
            expired = [
                s for s in meta["snapshots"] if s["snapshot_id"] not in keep
            ]
            if not expired:
                # ref retirement must still persist even when every
                # snapshot survives (e.g. the aged-out ref shares a kept
                # chain) — an early return here would silently undo it
                if refs_retired:
                    try:
                        self._write_version(meta["version"] + 1, meta)
                        return 0
                    except CommitConflict:
                        if attempt == COMMIT_RETRIES - 1:
                            raise
                        time.sleep(0.05 * (attempt + 1))
                        continue
                return 0
            # seal the oldest kept snapshot of each chain: its ancestry (and
            # the delta manifests along it) is about to disappear, so rewrite
            # its manifest as the FULL live set and mark it a chain root
            sealed: list[str] = []
            for s in meta["snapshots"]:
                if s["snapshot_id"] not in keep or s["parent"] in keep:
                    continue
                if s["parent"] is None:
                    continue
                if "manifest" in s and not s.get("replace"):
                    full_d, full_dl = self._live_files(meta, s)
                    rel = os.path.join(
                        "metadata",
                        f"man-{s['snapshot_id']}-sealed-{uuid.uuid4().hex[:8]}.json",
                    )
                    with open(os.path.join(self.root, rel), "w") as f:
                        json.dump(
                            {
                                "added_data_files": full_d,
                                "added_delete_files": full_dl,
                            },
                            f,
                        )
                    sealed.append(rel)
                    s["manifest"] = rel
                    s["replace"] = True
                    # a sealed manifest is the FULL live set, not this
                    # snapshot's increment — incremental scans must refuse it
                    s["sealed"] = True
                s["parent"] = None
            meta["snapshots"] = [
                s for s in meta["snapshots"] if s["snapshot_id"] in keep
            ]
            if meta.get("statistics"):
                # analyze() stats of expired snapshots expire with them
                # (files are the orphan sweep's job, like manifests)
                meta["statistics"] = [
                    s for s in meta["statistics"] if s["snapshot-id"] in keep
                ]
            try:
                self._write_version(meta["version"] + 1, meta)
                return len(expired)
            except CommitConflict:
                for rel in sealed:
                    os.unlink(os.path.join(self.root, rel))
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return 0

    def remove_orphan_files(
        self,
        dry_run: bool = False,
        older_than_ms: int | None = None,
        now_ms: int | None = None,
    ) -> list[str]:
        """Iceberg ``remove_orphan_files`` parity: delete files under the
        table root that no retained snapshot references (any snapshot in
        the metadata — reachable or staged — keeps its files; only
        ``expire_snapshots`` / ``remove_snapshots`` retire references).

        Safety rules, matching Iceberg's procedure:

        - **Age threshold** (``olderThan``, default 3 days): a file whose
          mtime is within the window is kept even if unreferenced — an
          in-flight writer creates data files BEFORE its metadata commit
          lands, and sweeping those loses the commit. Pass
          ``older_than_ms=0`` only in tests / single-writer maintenance.
        - **Scope = the table root.** Externally-registered files
          (``add_files`` in-place registration) live outside the root and
          are never even listed; a registered file that happens to sit
          INSIDE the root is referenced by its absolute path in the
          manifest and is recognized live under either path form.
        """
        three_days_ms = 3 * 24 * 3600 * 1000
        cutoff = (
            (int(time.time() * 1000) if now_ms is None else now_ms)
            - (three_days_ms if older_than_ms is None else older_than_ms)
        )
        meta = self.metadata()
        live: set[str] = set()
        live_manifests: set[str] = set()
        for s in meta["snapshots"]:
            d, dl = self._load_manifest(s)
            for f in d + dl:
                # manifests store internally-written files root-relative
                # and add_files registrations absolutely — index BOTH
                # forms so an absolute registration under the root never
                # reads as an orphan of its relative twin
                live.add(f["path"])
                if os.path.isabs(f["path"]):
                    live.add(os.path.relpath(f["path"], self.root))
                else:
                    live.add(os.path.join(self.root, f["path"]))
            if "manifest" in s:
                live_manifests.add(s["manifest"])
        orphans = []

        def _sweep(p: str, rel: str):
            if os.path.getmtime(p) * 1000 > cutoff:
                return
            orphans.append(rel)
            if not dry_run:
                os.unlink(p)

        for sub in ("data", "deletes"):
            base = os.path.join(self.root, sub)
            for p in globmod.glob(os.path.join(base, "**", "*.*"), recursive=True):
                rel = os.path.relpath(p, self.root)
                if rel not in live and not os.path.basename(p).startswith("_"):
                    _sweep(p, rel)
        # manifests of expired snapshots are orphans too
        for p in globmod.glob(os.path.join(self._meta_dir, "man-*.json")):
            rel = os.path.relpath(p, self.root)
            if rel not in live_manifests:
                _sweep(p, rel)
        # statistics files whose snapshot expired (or whose entry was
        # superseded by a re-analyze) are orphans too
        live_stats = {
            s["statistics-path"] for s in meta.get("statistics", [])
        }
        for p in globmod.glob(os.path.join(self._meta_dir, "stats-*.json")):
            rel = os.path.relpath(p, self.root)
            if rel not in live_stats:
                _sweep(p, rel)
        return orphans

    def create_branch(self, name: str, from_branch: str = MAIN) -> None:
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            meta["refs"][name] = meta["refs"].get(from_branch)
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise

    def set_branch(self, name: str, snapshot_id: str) -> None:
        """Point ``name`` at an arbitrary EXISTING snapshot — Iceberg
        ``manageSnapshots().replaceBranch(name, snapshotId)`` semantics
        (also the REST catalog's ``set-snapshot-ref`` update for branches).
        Unlike :meth:`rollback` there is no ancestry requirement: this is
        the re-point primitive branches exist for; the old head stays
        readable via time travel until ``expire_snapshots``."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            self._snapshot_by_id(meta, snapshot_id)  # must exist
            if meta["refs"].get(name) == snapshot_id:
                return
            meta["refs"][name] = snapshot_id
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def drop_branch(self, name: str) -> None:
        """Iceberg ``manageSnapshots().removeBranch`` parity. ``main`` is
        protected, as in Iceberg."""
        if name == MAIN:
            raise ValueError("cannot drop the main branch")
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            if name not in meta["refs"]:
                return
            del meta["refs"][name]
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def fast_forward(self, branch: str, to_branch: str) -> dict:
        """Fast-forward ``branch`` to ``to_branch``'s head — Iceberg
        ``manageSnapshots().fastForwardBranch()``, the publish step of the
        write-audit-publish (WAP) pattern: stage commits on an audit
        branch, validate them, then publish atomically by advancing main.

        Only a true fast-forward is allowed: the current ``branch`` head
        must be an ancestor of (or equal to) the target head, so published
        history is exactly what was audited — a diverged branch raises
        instead of silently dropping commits (use rollback/branches to
        reconcile)."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            target = meta["refs"].get(to_branch)
            if target is None:
                raise ValueError(f"branch {to_branch!r} has no snapshots")
            head = meta["refs"].get(branch)
            if head is not None:
                sid, found = target, False
                while sid is not None:
                    if sid == head:
                        found = True
                        break
                    sid = self._snapshot_by_id(meta, sid)["parent"]
                if not found:
                    raise ValueError(
                        f"cannot fast-forward: {branch!r} head {head!r} is "
                        f"not an ancestor of {to_branch!r} head {target!r}"
                    )
            if head == target:
                return self._snapshot_by_id(meta, target)
            meta["refs"][branch] = target
            try:
                self._write_version(meta["version"] + 1, meta)
                return self._snapshot_by_id(meta, target)
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def _position_delete_refs(self, pos_files: list[dict]) -> set[str]:
        """Distinct data-file paths (storage form: root-relative, absolute
        for external files) referenced by position delete files. Driver-side
        local read of only the ``file_path`` column — position delete files
        are metadata-sized (one row per deleted row ordinal), never table
        data, so this stays off the Spark path."""
        refs: set[str] = set()
        for f in pos_files:
            if f.get("delete_type") == "dv":
                # a vector names its referenced file in the manifest entry
                refs.add(f["referenced_data_file"])
                continue
            p = os.path.join(self.root, f["path"])
            fmt = f.get("format", "parquet")
            if fmt == "parquet":
                import pyarrow.parquet as pq

                refs.update(
                    pq.read_table(p, columns=["file_path"])
                    .column("file_path")
                    .to_pylist()
                )
            elif fmt == "orc":
                from pyarrow import orc as pa_orc

                refs.update(
                    pa_orc.ORCFile(p)
                    .read(columns=["file_path"])
                    .column("file_path")
                    .to_pylist()
                )
            else:  # avro OCF (self-contained codec)
                from . import avro_io

                schema = avro_io.read_header_schema(p)
                idx = [fld.name for fld in schema.fields].index("file_path")
                for row in avro_io._read_container(p, schema):
                    refs.add(row[idx])
        return refs

    def cherry_pick(self, snapshot_id: str, branch: str = MAIN) -> dict:
        """Iceberg ``manageSnapshots().cherrypick(snapshotId)`` parity:
        replay ONE snapshot's added files as a NEW commit on ``branch``'s
        current head — the WAP publish path when the branch has moved past
        the staged snapshot's parent (``fast_forward`` covers the
        no-divergence case; Iceberg's WAP docs pair the two the same way).

        The picked snapshot's data files AND delete files re-commit with
        fresh sequence numbers, so replayed equality deletes apply to
        everything on the target head — the changes, not the byte state,
        are what a cherry-pick carries. Refused: replace/sealed snapshots
        (they rewrite history rather than change data — the
        ``changes_between`` rule) and a snapshot already in the branch's
        ancestry or already cherry-picked onto it (Iceberg's
        duplicate-publication check).

        Scale: one O(files-in-snapshot) metadata commit; no data IO."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            snap = self._snapshot_by_id(meta, snapshot_id)
            if snap.get("sealed") or (
                snap.get("replace") and snap.get("parent") is not None
            ):
                raise ValueError(
                    f"snapshot {snapshot_id!r} rewrites history (replace/"
                    "compaction/expiry-sealed) — cherry-pick carries "
                    "changes, not rewrites"
                )
            sid = meta["refs"].get(branch)
            while sid is not None:
                cur = self._snapshot_by_id(meta, sid)
                already = (
                    sid == snapshot_id
                    or cur.get("summary", {}).get("cherry-pick.snapshot-id")
                    == snapshot_id
                )
                if already:
                    raise ValueError(
                        f"snapshot {snapshot_id!r} is already published on "
                        f"branch {branch!r}"
                    )
                sid = cur["parent"]
            d, dl = self._load_manifest(snap)
            pos_files = [
                f
                for f in dl
                if f.get("delete_type") in ("position", "dv")
            ]
            if pos_files:
                # Iceberg's cherrypickSnapshot restricts itself to appends /
                # WAP dynamic overwrites because replayed (file, pos)
                # references can dangle: if the target head compacted or
                # never contained a referenced data file, the delete would
                # silently drop instead of applying. Allow the replay only
                # when every referenced path is live on the target head (or
                # arrives with this snapshot); refuse loudly otherwise.
                live = {f["path"] for f in d}
                head_id = meta["refs"].get(branch)
                if head_id is not None:
                    head = self._snapshot_by_id(meta, head_id)
                    live |= {f["path"] for f in self._live_files(meta, head)[0]}
                dangling = sorted(self._position_delete_refs(pos_files) - live)
                if dangling:
                    raise ValueError(
                        f"cannot cherry-pick {snapshot_id!r} onto "
                        f"{branch!r}: its position deletes reference data "
                        f"files not live on the target head (replayed "
                        f"deletes would silently drop): {dangling[:5]}"
                    )
            src_summary = dict(snap.get("summary") or {})
            # Iceberg records the staged snapshot's wap.id as
            # published-wap-id on the published copy — keeping wap.id
            # itself unique to the staged snapshot so publish_wap stays
            # unambiguous after publication
            wap = src_summary.pop("wap.id", None)
            summary = {
                **{
                    k: v
                    for k, v in src_summary.items()
                    if not k.startswith("cherry-pick.")
                },
                "cherry-pick.snapshot-id": snapshot_id,
            }
            if wap is not None:
                summary["published-wap-id"] = wap
            try:
                return self._commit_snapshot(
                    snap.get("operation", "append"),
                    d,
                    dl,
                    summary,
                    branch,
                    expected_parent=meta["refs"].get(branch),
                )
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        raise AssertionError("unreachable")  # pragma: no cover

    def publish_wap(self, wap_id: str, branch: str = MAIN) -> dict:
        """Iceberg's publish-by-``wap.id`` (the ``spark.wap.id`` flow:
        ``cherrypick_snapshot`` resolved by the staged snapshot's summary
        instead of its id). Stage with
        ``append(df, branch="audit", snapshot_props={"wap.id": ...})``,
        audit the branch, then publish here — works whether or not the
        target branch moved meanwhile (cherry-pick semantics)."""
        meta = self.metadata()
        matches = [
            s
            for s in meta["snapshots"]
            if (s.get("summary") or {}).get("wap.id") == wap_id
        ]
        if not matches:
            raise ValueError(f"no staged snapshot carries wap.id {wap_id!r}")
        if len(matches) > 1:
            raise ValueError(
                f"wap.id {wap_id!r} is ambiguous: "
                f"{[s['snapshot_id'] for s in matches]}"
            )
        return self.cherry_pick(matches[0]["snapshot_id"], branch=branch)

    # ------------------------------------------------------------------ tags
    def tags(self) -> dict[str, str]:
        return dict(self.metadata().get("tags", {}))

    def set_properties(self, props: dict[str, str | None]) -> None:
        """Iceberg ``updateProperties`` parity: set (or, with a None value,
        unset) table properties in one metadata commit. The reference's
        tables take runtime behavior from properties the same way
        (write modes, commit knobs — SchemaUtils.java applies config onto
        the live table)."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            for k, v in props.items():
                if v is None:
                    meta["properties"].pop(k, None)
                else:
                    meta["properties"][k] = str(v)
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def create_tag(
        self,
        name: str,
        snapshot_id: str | None = None,
        branch: str = MAIN,
    ) -> None:
        """Iceberg tag parity: a named IMMUTABLE pointer to a snapshot
        (``manageSnapshots().createTag()``) — releases/audit marks that
        survive snapshot expiry. Unlike a branch it can never be committed
        to; read it with ``read(tag=...)``."""
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            sid = snapshot_id or meta["refs"].get(branch)
            if sid is None:
                raise ValueError(f"branch {branch!r} has no snapshot to tag")
            self._snapshot_by_id(meta, sid)  # must exist
            tags = meta.setdefault("tags", {})
            if name in tags and tags[name] != sid:
                raise ValueError(f"tag {name!r} already exists (immutable)")
            tags[name] = sid
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def drop_tag(self, name: str) -> None:
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            if name not in meta.get("tags", {}):
                return
            del meta["tags"][name]
            try:
                self._write_version(meta["version"] + 1, meta)
                return
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def _reachable_snapshots(self, meta: dict) -> set[str]:
        """Hex ids of every snapshot reachable from any ref or tag head by
        parent links (full ancestry walk — conservative: history/time
        travel may walk past replace snapshots)."""
        out: set[str] = set()
        by_id = {s["snapshot_id"]: s for s in meta.get("snapshots", [])}
        heads = list(meta.get("refs", {}).values()) + list(
            meta.get("tags", {}).values()
        )
        for head in heads:
            cur = head
            while cur is not None and cur not in out:
                out.add(cur)
                cur = by_id.get(cur, {}).get("parent")
        return out

    def remove_snapshots(self, snapshot_ids: list[str]) -> int:
        """Remove UNREFERENCED snapshots by id — Iceberg's
        ``RemoveSnapshots`` / the REST catalog's ``remove-snapshots``
        update, scoped to orphans: a snapshot reachable from any ref or
        tag (including via ancestry) raises instead of silently breaking
        the chain — referenced history retires through
        :meth:`expire_snapshots`, which understands retention. Returns the
        number actually removed (absent ids are idempotent no-ops)."""
        targets = set(snapshot_ids)
        for attempt in range(COMMIT_RETRIES):
            meta = self.metadata()
            present = [
                s for s in meta["snapshots"] if s["snapshot_id"] in targets
            ]
            if not present:
                return 0
            reachable = self._reachable_snapshots(meta)
            bad = [
                s["snapshot_id"]
                for s in present
                if s["snapshot_id"] in reachable
            ]
            if bad:
                raise ValueError(
                    f"snapshots {bad} are referenced by a branch or tag "
                    "(directly or via ancestry); use expire_snapshots"
                )
            removed_manifests = [
                s["manifest"] for s in present if "manifest" in s
            ]
            meta["snapshots"] = [
                s
                for s in meta["snapshots"]
                if s["snapshot_id"] not in targets
            ]
            try:
                self._write_version(meta["version"] + 1, meta)
            except CommitConflict:
                if attempt == COMMIT_RETRIES - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
                continue
            for rel in removed_manifests:
                try:
                    os.unlink(os.path.join(self.root, rel))
                except OSError:
                    pass  # manifest cleanup is best-effort after the CAS
            return len(present)
        raise CommitConflict("unreachable")
