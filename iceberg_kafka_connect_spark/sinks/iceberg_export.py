"""Export a ``LakehouseTable`` as real Apache Iceberg table metadata
(format-version 2, or 3 for tables whose ``format-version`` property is 3
— v3 trees keep deletion vectors native as Puffin-blob manifest entries
with ``referenced_data_file``/``content_offset``/``content_size_in_bytes``
and carry row lineage: top-level ``next-row-id``, per-snapshot
``first-row-id``, per-file ``first_row_id`` field 142).

The reference's entire output is standard Iceberg metadata — tables it
writes are readable by every Iceberg-aware engine
(kafka-connect/src/main/java/io/tabular/iceberg/connect/data/
IcebergWriterFactory.java:51-66 loads/creates through a real Iceberg
catalog). This engine's internal snapshot model is JSON-based
(``sinks/table.py``); this module bridges the gap by writing, from that
model, the three layers of the public Iceberg v2 format
(https://iceberg.apache.org/spec/):

- ``metadata.json``: format-version 2, schemas with field-ids,
  partition-specs, snapshots, refs, ``schema.name-mapping.default``;
- a manifest list (Avro OCF, ``manifest_file`` schema, field-ids 500-517);
- a manifest (Avro OCF, ``manifest_entry``/``data_file`` schema,
  field-ids 0-4 / 100-104, 134).

The existing parquet data files are referenced in place (no copy, no
rewrite — the point of Iceberg metadata import at any scale). Spark-written
parquet carries no Iceberg field-ids, so the exported metadata includes the
``schema.name-mapping.default`` property — the standard Iceberg mechanism
for adopting id-less files (the same NameMapping surface the reference
consumes, RecordConverter.java:100-103) — letting readers resolve columns
by name.

Renamed tables export via multi-name mapping entries: retired physical
names ride the SAME field-id as their current name, so files written
before a rename resolve correctly (and delete-file key columns
canonicalize through the alias map before ``equality_ids`` resolution).

Named branches and tags export as Iceberg v2 ``refs``: every distinct
snapshot reachable from a ref gets its own manifest-list tree, shared when
refs coincide, so external readers see each branch/tag's file set.

Snapshot history exports in full: every retained ancestor of every ref
gets its own manifest-list tree with ``parent-snapshot-id`` links, and
``snapshot-log`` records the main-branch ancestry — external readers
time-travel (VERSION AS OF) to any unexpired snapshot. The
``export.history-depth`` table property caps the per-ref chain length
(continuous mirrors of long-lived tables keep per-commit export cost
flat that way); a depth-capped or expired parent is simply not linked.

Deliberate exporter limits (each a named ``IcebergExportUnsupported``):
- equality deletes export as real content=2 delete files in a content=1
  manifest: the table's delete-key parquet files are exactly Iceberg
  equality-delete files (key columns only, ``equality_ids`` resolved
  through the same name-mapping as every other id-less file), and the
  strict sequence inequality (delete at N hits data at <N) is the same
  rule this table's own merge-on-read applies;
- position deletes export as content=1 delete files REWRITTEN into spec
  form (absolute URIs, reserved field-ids 2147483546/2147483545 embedded
  in the parquet — name mapping never covers reserved columns — rows
  sorted by (path, pos)); the rewrite is O(deleted rows) per file;
- parquet data files only;
- partition specs: ``identity`` fields export faithfully — per-file
  partition tuples parse from the writer's hive-style directories, so
  external readers both prune on them and reconstitute the identity
  columns ``partitionBy`` dropped from the data files;
  ``iceberg_bucket`` fields export as real ``bucket[N]`` specs (the
  murmur3 transform in functions/murmur3.py is byte-compatible with the
  spec's Appendix B); ``year``/``month``/``day``/``hour`` fields export
  faithfully too — the writer's calendar-string directory values map
  bijectively onto Iceberg's epoch ordinals (``_time_transform_parser``,
  exact under the engine's pinned-UTC sessions) — as does ``truncate``
  on string sources (codepoint-prefix in both systems). The remaining
  transforms export as ``void`` (always-null partition value): xxhash64
  ``bucket`` and non-string ``truncate`` are deliberately not
  byte-compatible with Iceberg's (sinks/spec.py), and exporting their
  names would make external engines prune WRONGLY — void keeps
  correctness (their source columns remain in the files) at the cost of
  transform pruning on those dimensions.

Validation in this sandbox is structural (``read_exported`` independently
re-parses every layer; tests hash-compare the files it reaches against
``table.read()``). No Iceberg runtime exists in this container — pyiceberg
is not installed and DuckDB's iceberg extension cannot be downloaded — so
external-engine readability is covered by a ``pytest.importorskip``
test that runs wherever pyiceberg is available.
"""

from __future__ import annotations

import io
import json
import os
import re
import struct
import time
import uuid

from pyspark.sql import types as T

from .avro_io import MAGIC, SYNC_SIZE
from .spec import partition_segments


class IcebergExportUnsupported(Exception):
    """The table state has no faithful Iceberg v2 representation here."""


# rest_server's WAP staging convention: an add-snapshot with no ref lands
# on a hidden branch named with this prefix until a set-snapshot-ref
# publishes it. In the Iceberg spec a staged snapshot simply appends to
# the snapshots list with NO ref — so the exporter serves staged snapshots
# in ``snapshots`` but keeps the staging ref OUT of the exported ``refs``
# map (r5 advice: a leaked staging ref shows up in loadTable refs,
# snapshots=refs trimming, and remove-snapshots reachability for every
# external client).
STAGED_REF_PREFIX = "rest-staged-"


# ---------------------------------------------------------------- schema →
_PRIMITIVES = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
}


class _IdGen:
    def __init__(self):
        self.last = 0

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type(dtype: T.DataType, ids: _IdGen, v3: bool = False):
    for cls, name in _PRIMITIVES.items():
        if isinstance(dtype, cls):
            return name
    if isinstance(dtype, T.VariantType):
        # v3 spec "Schemas and Data Types": variant is a v3-only type;
        # Spark's parquet writer already emits the standard Parquet
        # VARIANT group (binary metadata + binary value), which is the
        # physical layout v3 readers expect for unshredded columns
        if not v3:
            raise IcebergExportUnsupported(
                "variant columns require format-version 3 "
                "(export with format_version=3)"
            )
        return "variant"
    if isinstance(dtype, T.DecimalType):
        return f"decimal({dtype.precision}, {dtype.scale})"
    if isinstance(dtype, T.StructType):
        return {
            "type": "struct",
            "fields": [_iceberg_field(f, ids, v3=v3) for f in dtype.fields],
        }
    if isinstance(dtype, T.ArrayType):
        eid = ids.next()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dtype.elementType, ids, v3=v3),
            "element-required": not dtype.containsNull,
        }
    if isinstance(dtype, T.MapType):
        kid, vid = ids.next(), ids.next()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dtype.keyType, ids, v3=v3),
            "value-id": vid,
            "value": _iceberg_type(dtype.valueType, ids, v3=v3),
            "value-required": not dtype.valueContainsNull,
        }
    raise IcebergExportUnsupported(
        f"no Iceberg type for Spark type {dtype.simpleString()}"
    )


def _iceberg_field(f: T.StructField, ids: _IdGen, v3: bool = False) -> dict:
    fid = ids.next()
    d = {
        "id": fid,
        "name": f.name,
        "required": not f.nullable,
        "type": _iceberg_type(f.dataType, ids, v3=v3),
    }
    if f.metadata:
        if f.metadata.get("doc"):
            d["doc"] = f.metadata["doc"]
        if v3:
            # v3 default values (spec "Default values"): initial-default
            # backfills pre-existing rows at read time, write-default
            # fills omitted columns on write. Primitive literals are
            # already in the spec's JSON single-value form. v2 exports
            # omit them (the keys are a v3 feature; a v2 reader would
            # choke or silently drop them — the internal reads still
            # apply the defaults either way).
            for k in ("initial-default", "write-default"):
                if k in f.metadata:
                    d[k] = f.metadata[k]
    return d


def iceberg_schema(
    schema: T.StructType, v3: bool = False
) -> tuple[dict, int]:
    """(Iceberg JSON schema with assigned field-ids, last-column-id).

    Ids are assigned depth-first in declaration order — parent before
    children, matching Iceberg's fresh-schema assignment."""
    ids = _IdGen()
    fields = [_iceberg_field(f, ids, v3=v3) for f in schema.fields]
    return {"type": "struct", "schema-id": 0, "fields": fields}, ids.last


def name_mapping(
    ice_schema: dict, aliases: dict[str, list[str]] | None = None
) -> list[dict]:
    """``schema.name-mapping.default`` for field-id-less parquet files.

    ``aliases`` ({current top-level name → retired physical names}, from a
    rename history) are appended as extra names on the same field-id, so
    files written under an old name resolve to the current field."""

    def entry(f: dict, extra: list[str]) -> dict:
        e = {"field-id": f["id"], "names": [f["name"], *extra]}
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "struct":
            e["fields"] = [entry(c, []) for c in t["fields"]]
        return e

    return [
        entry(f, (aliases or {}).get(f["name"], []))
        for f in ice_schema["fields"]
    ]


# ------------------------------------------------- Avro: schema-driven OCF
# The manifest formats need an encoder driven by an explicit Avro JSON
# schema with Iceberg field-id attributes — avro_io's codec is Spark-type-
# driven, so the (tiny, metadata-sized) manifest records are encoded here.


def _zigzag(buf: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _avro_encode(buf: io.BytesIO, schema, value) -> None:
    if isinstance(schema, list):  # union, always ["null", X] here
        if value is None:
            _zigzag(buf, 0)
        else:
            _zigzag(buf, 1)
            _avro_encode(buf, schema[1], value)
        return
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "record":
        for f in schema["fields"]:
            _avro_encode(buf, f["type"], value.get(f["name"]))
    elif t in ("int", "long"):
        _zigzag(buf, int(value))
    elif t == "string":
        raw = value.encode("utf-8")
        _zigzag(buf, len(raw))
        buf.write(raw)
    elif t == "bytes":
        _zigzag(buf, len(value))
        buf.write(value)
    elif t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t == "float":
        buf.write(struct.pack("<f", value))
    elif t == "double":
        buf.write(struct.pack("<d", value))
    elif t == "array":
        items = value or []
        if items:
            _zigzag(buf, len(items))
            for it in items:
                _avro_encode(buf, schema["items"], it)
        _zigzag(buf, 0)
    elif t == "map":
        items = value or {}
        if items:
            _zigzag(buf, len(items))
            for k, v in items.items():
                _avro_encode(buf, "string", k)
                _avro_encode(buf, schema["values"], v)
        _zigzag(buf, 0)
    else:
        raise IcebergExportUnsupported(f"avro encode: {t}")


class _AvroReader:
    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0

    def long(self) -> int:
        shift = acc = 0
        while True:
            b = self.d[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def raw(self, n: int) -> bytes:
        out = self.d[self.pos : self.pos + n]
        self.pos += n
        return out


def _avro_decode(r: _AvroReader, schema):
    if isinstance(schema, list):
        return None if r.long() == 0 else _avro_decode(r, schema[1])
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "record":
        return {f["name"]: _avro_decode(r, f["type"]) for f in schema["fields"]}
    if t in ("int", "long"):
        return r.long()
    if t == "string":
        return r.raw(r.long()).decode("utf-8")
    if t == "bytes":
        return r.raw(r.long())
    if t == "fixed":
        return r.raw(schema["size"])
    if t == "boolean":
        return r.raw(1) == b"\x01"
    if t == "float":
        return struct.unpack("<f", r.raw(4))[0]
    if t == "double":
        return struct.unpack("<d", r.raw(8))[0]
    if t == "array":
        out = []
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                r.long()
                n = -n
            out.extend(_avro_decode(r, schema["items"]) for _ in range(n))
    if t == "map":
        out = {}
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:
                r.long()
                n = -n
            for _ in range(n):
                # key MUST be read before the value: Python evaluates the
                # RHS of `d[k] = v` first, so a one-liner would decode the
                # value bytes as the key
                k = r.raw(r.long()).decode()
                out[k] = _avro_decode(r, schema["values"])
    raise IcebergExportUnsupported(f"avro decode: {t}")


def _write_ocf(path: str, schema: dict, rows: list[dict], meta: dict) -> int:
    """One-block Avro OCF with explicit file metadata; returns byte length.

    Manifest files are metadata-sized (one entry per data file of one
    snapshot) — driver-side single-block writes are the right shape; bulk
    DATA files go through avro_io's distributed writer instead."""
    sync = os.urandom(SYNC_SIZE)
    body = io.BytesIO()
    for row in rows:
        _avro_encode(body, schema, row)
    header = io.BytesIO()
    header.write(MAGIC)
    full_meta = {"avro.schema": json.dumps(schema), "avro.codec": "null", **meta}
    _zigzag(header, len(full_meta))
    for k, v in full_meta.items():
        raw_k = k.encode()
        _zigzag(header, len(raw_k))
        header.write(raw_k)
        raw_v = v.encode()
        _zigzag(header, len(raw_v))
        header.write(raw_v)
    _zigzag(header, 0)
    header.write(sync)
    _zigzag(header, len(rows))
    _zigzag(header, len(body.getvalue()))
    with open(path, "wb") as f:
        f.write(header.getvalue())
        f.write(body.getvalue())
        f.write(sync)
    return os.path.getsize(path)


def _read_ocf(path: str) -> tuple[dict, dict, list[dict]]:
    """(file metadata, avro schema, rows) — independent re-parse for
    validation; handles multi-block files and the null codec."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != MAGIC:
        raise ValueError(f"not an Avro OCF: {path}")
    r = _AvroReader(data)
    r.pos = 4
    meta = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            r.long()
            n = -n
        for _ in range(n):
            k = r.raw(r.long()).decode()
            meta[k] = r.raw(r.long())
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b"deflate"):
        raise IcebergExportUnsupported(
            f"unsupported OCF codec: {codec.decode('ascii', 'replace')}"
        )
    schema = json.loads(meta["avro.schema"])
    r.raw(SYNC_SIZE)
    rows = []
    while r.pos < len(data):
        count = r.long()
        size = r.long()  # block byte size
        if codec == b"deflate":
            # Avro deflate blocks are raw DEFLATE streams (RFC 1951, no
            # zlib header/checksum) — the default codec of real Iceberg
            # metadata writers, so the import path must read it
            import zlib

            block = zlib.decompressobj(-15).decompress(r.raw(size))
            br = _AvroReader(block)
            rows.extend(_avro_decode(br, schema) for _ in range(count))
        else:
            rows.extend(_avro_decode(r, schema) for _ in range(count))
        r.raw(SYNC_SIZE)
    return {k: v.decode("utf-8", "replace") for k, v in meta.items()}, schema, rows


# --------------------------------------------------------- manifest schemas
def _kv_map_schema(name: str, key_id: int, value_id: int, vtype: str) -> dict:
    """Iceberg's Avro encoding for non-string-key maps: an array of
    key/value records tagged ``logicalType: map``, field-ids on both."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": vtype, "field-id": value_id},
            ],
        },
    }


_PARTITION_AVRO = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {
        "type": "long",
        "logicalType": "timestamp-micros",
        "adjust-to-utc": False,
    },
    "timestamptz": {
        "type": "long",
        "logicalType": "timestamp-micros",
        "adjust-to-utc": True,
    },
}


def _partition_export_plan(spec_fields, col_ids, col_types, fid_base=1000):
    """Decide how the table's partition spec exports (spec appendix:
    partition field-ids start at 1000).

    ``identity`` fields export faithfully — their per-file values parse
    from the hive-style directory names the writer produced, and Iceberg
    readers then (a) prune on partition predicates and (b) reconstitute the
    identity-source columns that ``partitionBy`` dropped from the data
    files (PartitionUtil constants). That second point makes real-spec
    export a CORRECTNESS requirement whenever an identity field exists:
    with an unpartitioned spec those columns would read as null.

    ``iceberg_bucket`` (murmur3, byte-compatible), the time transforms
    (``year``/``month``/``day``/``hour`` — calendar-string directory
    values convert exactly to Iceberg's epoch ordinals via
    ``_time_transform_parser``) and string-source ``truncate``
    (codepoint-prefix in both systems) export faithfully. The rest —
    xxhash64 ``bucket``, non-string ``truncate`` — are deliberately NOT
    byte-compatible with Iceberg's transforms (see sinks/spec.py note),
    so exporting their names would make external engines prune WRONGLY.
    They export as ``void`` instead: always-null partition value, no
    pruning on that dimension, full correctness (their source columns
    remain in the data files).

    Returns (spec_json_fields, avro_fields, identity_parsers) where
    identity_parsers maps derived dir name -> (avro field name, str->value).
    """
    spec_json, avro_fields, parsers = [], [], {}
    for i, pf in enumerate(spec_fields):
        fid = fid_base + i
        if pf.source not in col_ids:
            raise IcebergExportUnsupported(
                f"partition source column {pf.source!r} not in current schema"
            )
        if pf.transform == "identity":
            ice_t = col_types.get(pf.source)
            if ice_t not in _PARTITION_AVRO:
                raise IcebergExportUnsupported(
                    f"identity partition on non-primitive type {ice_t!r}"
                )
            spec_json.append(
                {
                    "name": pf.name,
                    "transform": "identity",
                    "source-id": col_ids[pf.source],
                    "field-id": fid,
                }
            )
            avro_fields.append(
                {
                    "name": pf.name,
                    "type": ["null", _PARTITION_AVRO[ice_t]],
                    "default": None,
                    "field-id": fid,
                }
            )
            parsers[pf.name] = (pf.name, _partition_value_parser(ice_t))
        elif pf.transform == "iceberg_bucket":
            # spec-conformant murmur3 bucket (sinks/spec.py
            # _iceberg_bucket_col) — exports faithfully, external readers
            # may prune on it; per-file values parse from the hive dirs
            spec_json.append(
                {
                    "name": pf.name,
                    "transform": f"bucket[{pf.param}]",
                    "source-id": col_ids[pf.source],
                    "field-id": fid,
                }
            )
            avro_fields.append(
                {
                    "name": pf.name,
                    "type": ["null", "int"],
                    "default": None,
                    "field-id": fid,
                }
            )
            parsers[pf.name] = (pf.name, int)
        elif (
            pf.transform in ("year", "month", "day", "hour")
            and col_types.get(pf.source)
            in (
                ("timestamp", "timestamptz")
                if pf.transform == "hour"
                else ("date", "timestamp", "timestamptz")
            )
        ):
            # the writer's human-readable directory values ("1995",
            # "1995-03", "1995-03-15", "1995-03-15-07" — sinks/spec.py
            # date_format under the engine's pinned-UTC sessions) map
            # BIJECTIVELY onto Iceberg's epoch-ordinal transform values
            # (years/months/days/hours since 1970-01-01 00:00 UTC, spec
            # "Partition Transforms"), so the spec exports faithfully and
            # external engines prune time predicates on these dimensions.
            spec_json.append(
                {
                    "name": pf.name,
                    "transform": pf.transform,
                    "source-id": col_ids[pf.source],
                    "field-id": fid,
                }
            )
            avro_fields.append(
                {
                    "name": pf.name,
                    # the day transform's manifest value is date-typed per
                    # spec; year/month/hour are plain ordinals
                    "type": [
                        "null",
                        {"type": "int", "logicalType": "date"}
                        if pf.transform == "day"
                        else "int",
                    ],
                    "default": None,
                    "field-id": fid,
                }
            )
            parsers[pf.name] = (pf.name, _time_transform_parser(pf.transform))
        elif pf.transform == "truncate" and col_types.get(pf.source) == "string":
            # string truncate is codepoint-prefix in both systems
            # (Spark substring ≡ Iceberg TruncateUtil on strings), so the
            # directory value IS the Iceberg partition value. Non-string
            # sources stay void: sinks/spec.py truncates the CAST STRING,
            # Iceberg floors numerics to width multiples — different values.
            spec_json.append(
                {
                    "name": pf.name,
                    "transform": f"truncate[{pf.param}]",
                    "source-id": col_ids[pf.source],
                    "field-id": fid,
                }
            )
            avro_fields.append(
                {
                    "name": pf.name,
                    "type": ["null", "string"],
                    "default": None,
                    "field-id": fid,
                }
            )
            parsers[pf.name] = (pf.name, str)
        else:
            spec_json.append(
                {
                    "name": pf.name,
                    "transform": "void",
                    "source-id": col_ids[pf.source],
                    "field-id": fid,
                }
            )
            avro_fields.append(
                {
                    "name": pf.name,
                    "type": ["null", _PARTITION_AVRO.get(
                        col_types.get(pf.source), "string"
                    )],
                    "default": None,
                    "field-id": fid,
                }
            )
    return spec_json, avro_fields, parsers


def _partition_value_parser(ice_type: str):
    """str (unescaped hive dir value) -> typed avro value for ``ice_type``."""
    import datetime as dt

    def parse(v: str):
        if ice_type in ("int", "long"):
            return int(v)
        if ice_type == "string":
            return v
        if ice_type in ("float", "double"):
            return float(v)
        if ice_type == "boolean":
            return v.lower() == "true"
        if ice_type == "date":
            return (dt.date.fromisoformat(v) - dt.date(1970, 1, 1)).days
        if ice_type in ("timestamp", "timestamptz"):
            t = dt.datetime.fromisoformat(v)
            return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
        raise IcebergExportUnsupported(f"partition value type {ice_type!r}")

    return parse


def _time_transform_parser(transform: str):
    """Writer directory value -> Iceberg epoch-ordinal partition value.

    sinks/spec.py renders time partitions as calendar strings under the
    engine's pinned-UTC sessions (session.py); Iceberg's transforms count
    ordinals since 1970-01-01 00:00 UTC — the mapping is exact, including
    pre-epoch values (negative ordinals: 1969-12-31T23:00 is hour -1).
    """
    import datetime as dt

    epoch = dt.date(1970, 1, 1)

    def parse(v: str):
        if transform == "year":
            return int(v) - 1970
        if transform == "month":
            y, _, m = v.partition("-")
            return (int(y) - 1970) * 12 + (int(m) - 1)
        if transform == "day":
            return (dt.date.fromisoformat(v) - epoch).days
        # hour: "yyyy-MM-dd-HH"; hour-of-day is 0..23 even pre-epoch, so
        # days*24 + HH is the true hours-since-epoch for negative days too
        return (dt.date.fromisoformat(v[:10]) - epoch).days * 24 + int(v[11:13])

    return parse


def _partition_tuple(fentry: dict, parsers: dict) -> dict:
    """Parse the ``name=value`` partition directories of a data-file entry
    (``spec.partition_segments``) into the manifest's typed partition
    tuple (hive null marker -> None)."""
    from urllib.parse import unquote

    rel_path = fentry["path"]
    seen = {
        k: unquote(v)
        for k, v in partition_segments(rel_path, fentry.get("base"))
    }
    out = {}
    for dir_name, (field, parse) in parsers.items():
        if dir_name not in seen:
            raise IcebergExportUnsupported(
                f"data file {rel_path!r} lacks partition dir {dir_name!r} "
                "(written under an older spec — compact() to rewrite)"
            )
        raw = seen[dir_name]
        out[field] = (
            None if raw == "__HIVE_DEFAULT_PARTITION__" else parse(raw)
        )
    return out


def _manifest_entry_schema(
    partition_avro_fields: list | None = None, v3: bool = False
) -> dict:
    """``manifest_entry`` Avro schema (spec field-ids 0-4 / 100-140).
    ``v3`` adds the format-version-3 data_file fields: ``first_row_id``
    (142, row lineage) and the deletion-vector triple
    ``referenced_data_file``/``content_offset``/``content_size_in_bytes``
    (143/144/145) that lets a DV manifest entry point INTO a Puffin file
    instead of materializing positions."""
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": partition_avro_fields or [],
                },
                "field-id": 102,
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "equality_ids",
                "type": [
                    "null",
                    {"type": "array", "items": "int", "element-id": 136},
                ],
                "default": None,
                "field-id": 135,
            },
            {
                "name": "value_counts",
                "type": [
                    "null",
                    _kv_map_schema("k119_v120", 119, 120, "long"),
                ],
                "default": None,
                "field-id": 109,
            },
            {
                "name": "lower_bounds",
                "type": [
                    "null",
                    _kv_map_schema("k126_v127", 126, 127, "bytes"),
                ],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": [
                    "null",
                    _kv_map_schema("k129_v130", 129, 130, "bytes"),
                ],
                "default": None,
                "field-id": 128,
            },
            {
                "name": "sort_order_id",
                "type": ["null", "int"],
                "default": None,
                "field-id": 140,
            },
            *(
                [
                    {
                        "name": "first_row_id",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 142,
                    },
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                        "default": None,
                        "field-id": 143,
                    },
                    {
                        "name": "content_offset",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 144,
                    },
                    {
                        "name": "content_size_in_bytes",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 145,
                    },
                ]
                if v3
                else []
            ),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


def _manifest_list_schema(v3: bool = False) -> dict:
    f = [
        ("manifest_path", "string", 500),
        ("manifest_length", "long", 501),
        ("partition_spec_id", "int", 502),
        ("content", "int", 517),
        ("sequence_number", "long", 515),
        ("min_sequence_number", "long", 516),
        ("added_snapshot_id", "long", 503),
        ("added_files_count", "int", 504),
        ("existing_files_count", "int", 505),
        ("deleted_files_count", "int", 506),
        ("added_rows_count", "long", 512),
        ("existing_rows_count", "long", 513),
        ("deleted_rows_count", "long", 514),
    ]
    fields = [{"name": n, "type": t, "field-id": i} for n, t, i in f]
    if v3:
        # v3 row lineage: the manifest-level starting row id (the
        # inheritance base for files without an explicit first_row_id).
        # This exporter stamps EVERY data file's first_row_id explicitly,
        # so the manifest value is informational null (no inheritance).
        fields.append(
            {
                "name": "first_row_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 520,
            }
        )
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": fields,
    }


def _snapshot_id_int(sid_hex: str) -> int:
    """Stable positive int64 from the internal hex snapshot id."""
    return int(sid_hex[:15], 16)


def _export_snapshot_id(snap_x: dict) -> int:
    """Exported int snapshot id. A snapshot committed THROUGH the REST
    catalog keeps the id the external writer assigned (summary
    ``rest.assigned-id``) so the writer's subsequent loadTable /
    assert-ref-snapshot-id see exactly the id it committed; everything
    else derives deterministically from the internal hex id."""
    rid = (snap_x.get("summary") or {}).get("rest.assigned-id")
    return int(rid) if rid else _snapshot_id_int(snap_x["snapshot_id"])


# ------------------------------------------------- column-stats serialization
_EPOCH_DATE = None  # lazy: datetime import only when bounds exist


def _bound_bytes(ice_type: str, tag: str, value) -> bytes | None:
    """Iceberg single-value binary serialization (spec appendix D) for the
    stat domains our footer fold records; None = column sits out."""
    import datetime as dt

    try:
        if ice_type == "int" and tag == "i":
            return struct.pack("<i", int(value))
        if ice_type == "long" and tag == "i":
            return struct.pack("<q", int(value))
        if ice_type == "float" and tag == "f":
            return struct.pack("<f", float(value))
        if ice_type == "double" and tag == "f":
            return struct.pack("<d", float(value))
        if ice_type == "string" and tag == "s":
            return str(value).encode("utf-8")
        if ice_type == "date" and tag == "d":
            days = (dt.date.fromisoformat(value) - dt.date(1970, 1, 1)).days
            return struct.pack("<i", days)
        if ice_type in ("timestamp", "timestamptz") and tag == "ts":
            t = dt.datetime.fromisoformat(value)
            micros = int(
                (t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
            )
            return struct.pack("<q", micros)
    except (ValueError, OverflowError, struct.error):
        return None
    return None


def _file_column_stats(
    fentry: dict, col_ids: dict[str, int], col_types: dict[str, str], rows: int
) -> dict:
    """value_counts + lower/upper bounds in manifest shape (list of
    {key, value} pairs, Iceberg's array-encoded map)."""
    value_counts = [
        {"key": fid, "value": rows} for fid in col_ids.values()
    ]
    lower, upper = [], []
    for col, st in ((fentry.get("stats") or {}).get("cols") or {}).items():
        fid = col_ids.get(col)
        itype = col_types.get(col)
        if fid is None or itype is None:
            continue
        lo = _bound_bytes(itype, st["t"], st["min"])
        hi = _bound_bytes(itype, st["t"], st["max"])
        if lo is not None and hi is not None:
            lower.append({"key": fid, "value": lo})
            upper.append({"key": fid, "value": hi})
    return {
        "value_counts": value_counts,
        "lower_bounds": lower or None,
        "upper_bounds": upper or None,
    }


# ------------------------------------------------------------------ export
def _rewrite_position_delete(
    path: str, root: str, out: str
) -> tuple[str, int, int]:
    """Re-emit an internal position-delete parquet in the exact form the
    Iceberg spec mandates: ``file_path`` as absolute URIs matching the
    exported data entries, ``pos`` int64, the RESERVED field-ids
    (2147483546 / 2147483545) embedded as parquet field metadata, rows
    sorted by (file_path, pos). Returns (new_path, rows, bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    prefix = "file://" + os.path.abspath(root) + "/"
    fps = pa.array(
        [
            # absolute stored paths reference external data files in place
            # (imported tables); relative ones live under the table root
            ("file://" + v) if v.startswith("/") else (prefix + v)
            for v in t.column("file_path").to_pylist()
        ],
        type=pa.string(),
    )
    schema = pa.schema(
        [
            pa.field(
                "file_path",
                pa.string(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483546"},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483545"},
            ),
        ]
    )
    rewritten = pa.table(
        {"file_path": fps, "pos": t.column("pos")}
    ).cast(schema).sort_by([("file_path", "ascending"), ("pos", "ascending")])
    new_path = os.path.join(
        out, f"pos-delete-{uuid.uuid4().hex}.parquet"
    )
    pq.write_table(rewritten, new_path)
    return new_path, rewritten.num_rows, os.path.getsize(new_path)


def _materialize_dv_as_position_delete(
    fentry: dict, root: str, out: str
) -> tuple[str, int, int]:
    """v2-compatible export of a v3 deletion vector: decode the roaring
    blob back to (file_path, pos) rows and write them in the spec's
    position-delete parquet form (absolute URIs, reserved field-ids,
    sorted). Readers that don't speak DVs read the same deletes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.roaring import deserialize_bitmap64
    from .puffin import dv_payload, read_blob

    blob = read_blob(
        os.path.join(root, fentry["path"]),
        int(fentry["content_offset"]),
        int(fentry["content_size_in_bytes"]),
    )
    positions = deserialize_bitmap64(dv_payload(blob))
    ref = fentry["referenced_data_file"]
    uri = ("file://" + ref) if ref.startswith("/") else (
        "file://" + os.path.abspath(root) + "/" + ref
    )
    schema = pa.schema(
        [
            pa.field(
                "file_path",
                pa.string(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483546"},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2147483545"},
            ),
        ]
    )
    t = pa.table(
        {
            "file_path": pa.array([uri] * len(positions), type=pa.string()),
            "pos": pa.array(positions, type=pa.int64()),
        }
    ).cast(schema)
    new_path = os.path.join(out, f"pos-delete-{uuid.uuid4().hex}.parquet")
    pq.write_table(t, new_path)
    return new_path, t.num_rows, os.path.getsize(new_path)


def _metadata_log_keep(meta: dict, delete_after_commit: bool | None) -> int:
    """How many previous metadata versions this export will leave on disk
    (a huge number when retention is off)."""
    props = meta.get("properties") or {}
    cleanup = (
        delete_after_commit
        if delete_after_commit is not None
        else str(
            props.get("write.metadata.delete-after-commit.enabled", "")
        ).lower()
        == "true"
    )
    if not cleanup:
        return 10**9
    return int(props.get("write.metadata.previous-versions-max", 100))


def export_iceberg_metadata(
    table,
    out_dir: str | None = None,
    history_depth: int | None = None,
    delete_after_commit: bool | None = None,
) -> str:
    """Write an Iceberg v2 metadata tree for ``table``'s current main-branch
    state; returns the path of the ``metadata.json`` written.

    The metadata lands in ``<table.root>/iceberg-metadata`` (or ``out_dir``)
    and references the existing parquet data files in place via absolute
    ``file://`` URIs — export cost is O(files × exported snapshots)
    metadata, zero data IO beyond a footer read for files missing a row
    count, at any scale. ``history_depth`` overrides the
    ``export.history-depth`` table property (None → property → full
    history); callers on a per-commit cadence pass 1 to keep cost flat.
    ``delete_after_commit`` overrides
    ``write.metadata.delete-after-commit.enabled`` (None → property →
    off): when on, only the newest
    ``write.metadata.previous-versions-max`` (default 100) previous
    metadata versions — each with its tree file subdirectory — are kept.
    """
    meta = table.metadata()
    # export format version follows the table's own format-version
    # property: v3 tables export format-version 3 — deletion vectors
    # stay native (manifest entries point into the Puffin blobs, zero
    # rewrite) and row lineage crosses the boundary (next-row-id +
    # per-file first_row_id) — while v2 tables keep the byte-stable v2
    # tree (DVs materialize to spec-form position-delete parquet)
    try:
        fv = 3 if int(meta["properties"].get("format-version", 2)) >= 3 else 2
    except (TypeError, ValueError):
        fv = 2
    # {current field name -> retired physical names} from rename/DDL history
    # (table.py rename_column maintains the Iceberg NameMapping shape).
    # Exported as extra names on the same field-id: files written before a
    # rename resolve to the CURRENT field exactly as Iceberg intends —
    # multiple names per mapping entry — so renamed tables export without
    # any file rewrite.
    aliases = table.name_mapping()

    out = out_dir or os.path.join(table.root, "iceberg-metadata")
    os.makedirs(out, exist_ok=True)
    # monotone metadata version (Iceberg's NNNNN-<uuid>.metadata.json
    # convention): a reader that lists the directory — version-hint.text
    # holds an absolute path, useless once the tree is copied elsewhere —
    # picks the true latest instead of an arbitrary uuid-lexicographic one
    export_version = 1 + max(
        (
            int(m.group(1))
            for p in os.listdir(out)
            if (m := re.match(r"(\d+)-[0-9a-f]+\.metadata\.json$", p))
        ),
        default=-1,
    )
    # each export's avro manifests / rewritten pos-deletes live in their
    # own subdirectory so superseded trees can be dropped with one rmtree
    # (metadata.json references absolute paths — readers don't care)
    export_uuid = uuid.uuid4().hex
    tree_dir = os.path.join(
        out, f"tree-{export_version:05d}-{export_uuid[:8]}"
    )
    os.makedirs(tree_dir, exist_ok=True)

    ice_schema, last_col_id = iceberg_schema(table.schema(), v3=fv >= 3)
    # row identity (Iceberg identifier-field-ids): upsert key defaults
    # survive the round trip (IcebergSinkConfig uses the schema's
    # identifierFieldIds when no id-columns are configured)
    ident_ids = [
        f["id"]
        for f in ice_schema["fields"]
        if f["name"] in set(table.identifier_fields())
    ]
    if ident_ids:
        ice_schema = {**ice_schema, "identifier-field-ids": ident_ids}
    snap = table.current_snapshot()
    now_ms = int(time.time() * 1000)

    # ----- manifest: every live data file as one ADDED entry, carrying
    # value counts + typed lower/upper bounds so external scan planners
    # prune files exactly as our own stats-based planner does
    col_ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
    col_types = {
        f["name"]: f["type"]
        for f in ice_schema["fields"]
        if isinstance(f["type"], str)
    }
    spec_json, part_avro, part_parsers = _partition_export_plan(
        table.partition_spec(), col_ids, col_types
    )
    # Historical specs (partition evolution): files written before an
    # update_partition_spec keep their old directory layout. Iceberg
    # represents this natively — one partition-spec entry per generation,
    # each manifest stamped with its spec id — so each retired spec gets
    # its own export plan (ids 2+; 0 is current, 1 is the delete spec) and
    # files that don't parse under the current layout fall back through
    # the history, newest first. A retired spec whose source column was
    # since dropped simply yields no plan; its files then fail with the
    # compact() message as before.
    hist_plans: list[tuple[int, list, list, dict, frozenset]] = []
    from .spec import PartitionField as _PF

    # Iceberg v2 id rules across specs: field ids are globally unique,
    # AND equivalent fields (same source + transform) in different spec
    # generations must REUSE their id — real engines union the partition
    # type by field id, so both violations break external readers.
    assigned_fids: dict[tuple, int] = {
        (f["source-id"], f["transform"]): f["field-id"] for f in spec_json
    }
    next_fid = 1000 + len(spec_json)
    spec_history = meta.get("partition_spec_history") or []
    for j, hist in enumerate(spec_history):
        try:
            h_fields = [_PF.from_json(d) for d in hist]
            h_spec, h_avro, h_parsers = _partition_export_plan(
                h_fields, col_ids, col_types
            )
        except IcebergExportUnsupported:
            continue
        for f, av in zip(h_spec, h_avro):
            key = (f["source-id"], f["transform"])
            if key in assigned_fids:
                fid = assigned_fids[key]
            else:
                fid = next_fid
                next_fid += 1
                assigned_fids[key] = fid
            f["field-id"] = fid
            av["field-id"] = fid
        # a plan's claim on a file is decided by the spec's FULL dir-name
        # set (void-exported fields have dirs but no parser)
        h_dirs = frozenset(pf.name for pf in h_fields)
        hist_plans.append((2 + j, h_spec, h_avro, h_parsers, h_dirs))
    hist_plans.reverse()  # newest retired spec first
    used_hist_ids: set[int] = set()
    # every partition dir name any spec generation EVER used — including
    # generations whose plan failed (e.g. a since-dropped source column):
    # names come straight from the stored spec JSON, no schema needed
    cur_fields = table.partition_spec()
    cur_dirs = frozenset(pf.name for pf in cur_fields)
    known_dirs = set(cur_dirs) | {
        _PF.from_json(d).name for hist in spec_history for d in hist
    }

    def _tuple_and_spec(fentry: dict) -> tuple[dict, int, int]:
        """(partition tuple, spec id, plan flag) for a data file.

        A plan claims a file only when its parser dirs EXACTLY equal the
        known partition dirs present in the path: subset matches are
        wrong both ways (a narrowed current spec would silently drop the
        retired layout's extra dir and null-fill its identity column on
        import; an empty retired spec would swallow files of an
        unplannable generation that must fail loud). Ties — identical
        dir sets across generations — prefer the current spec, then the
        newest retired."""
        present = frozenset(
            k for k, _ in partition_segments(fentry["path"], fentry.get("base"))
        ) & frozenset(known_dirs)
        if present == cur_dirs:
            return _partition_tuple(fentry, part_parsers), 0, 0
        for hid, _sj, _av, h_parsers, h_dirs in hist_plans:
            if present == h_dirs:
                used_hist_ids.add(hid)
                return _partition_tuple(fentry, h_parsers), hid, 1
        # no generation matches (typically: the file's spec referenced a
        # since-dropped column, so its plan was skipped) — fail with the
        # current spec's compact() message rather than mis-filing it
        _partition_tuple(fentry, part_parsers)
        raise IcebergExportUnsupported(
            f"data file {fentry['path']!r} matches no exportable partition "
            "spec generation — compact() to rewrite"
        )
    def _rows_of(fentry: dict, path: str) -> int:
        rows = (fentry.get("stats") or {}).get("rows")
        if rows is None:
            try:
                import pyarrow.parquet as pq

                rows = pq.ParquetFile(path).metadata.num_rows
            except Exception:
                # files pyarrow can't parse (logical types newer than
                # the wheel, e.g. VARIANT): protocol-level footer walk
                from .parquet_footer import footer_num_rows

                rows = footer_num_rows(path)
        return rows

    # write.sort-order exports as a real Iceberg sort order (identity/asc/
    # nulls-first — exactly what sortWithinPartitions produced in the data
    # files); files stamp sort_order_id only when their RECORDED in-file
    # sort (table.py _write_files) matches, so external engines exploit
    # sortedness on exactly the files that have it.
    sort_prop = (meta.get("properties") or {}).get("write.sort-order")
    export_sort_cols = (
        [c.strip() for c in sort_prop.split(",") if c.strip()]
        if isinstance(sort_prop, str)
        else []
    )
    sort_fields_json = [
        {
            "transform": "identity",
            "source-id": col_ids[c],
            "direction": "asc",
            "null-order": "nulls-first",
        }
        for c in export_sort_cols
        if c in col_ids
    ]
    if len(sort_fields_json) != len(export_sort_cols):
        sort_fields_json = []  # a retired sort column → don't claim order

    used_delete_spec = [False]
    # internal pos-delete path → (exported path, rows, bytes); shared by
    # every snapshot tree in this export (see the rewrite call site)
    pos_rewrites: dict[str, tuple[str, int, int]] = {}
    # sequence number → exported snapshot id, for stamping EXISTING entries
    # with their ADDING snapshot. Sequence numbers are unique per chain;
    # a cross-branch collision falls back to the current tree's id (the
    # dict keeps the first writer), which readers tolerate.
    seq_to_int = {
        s["sequence_number"]: _export_snapshot_id(s)
        for s in reversed(meta.get("snapshots", []))
    }
    # internal hex id → exported int id (rest.assigned-id aware), for
    # parent links to snapshots inside OR outside this export's ref set
    hex_to_int = {
        s["snapshot_id"]: _export_snapshot_id(s)
        for s in meta.get("snapshots", [])
    }
    # v3: per-snapshot row-id high-water mark = the next-row-id that was
    # current when the snapshot committed. Claims only grow, so it is
    # max(parent's mark, this snapshot's own claims) — one forward pass
    # (snapshots are append-ordered, parents first). Needed for the
    # first-row-id of snapshots adding NO data files (delete/truncate):
    # deriving it from live files would DECREASE after a file-removing
    # snapshot, violating the spec's monotone row-id assignment.
    rowid_hw: dict[str, int] = {}
    if fv >= 3:
        for s in meta.get("snapshots", []):
            base = rowid_hw.get(s.get("parent") or "", 0)
            d_added, _ = table._load_manifest(s)
            for fe in d_added:
                fr = fe.get("first_row_id")
                nr = (fe.get("stats") or {}).get("rows")
                if fr is not None and nr is not None:
                    base = max(base, fr + int(nr))
            rowid_hw[s["snapshot_id"]] = base

    def _snapshot_tree(snap_x: dict) -> dict:
        """Export one snapshot's manifests + manifest list; returns its
        metadata.json snapshot entry. Called once per distinct snapshot
        reachable from a ref (main, named branches, tags) — each gets its
        own file tree, shared when refs point at the same snapshot."""
        seq = snap_x["sequence_number"]
        sid = _export_snapshot_id(snap_x)
        data_files, delete_files = table.live_files(snap=snap_x)
        for fentry in data_files + delete_files:
            if fentry.get("delete_type") == "dv":
                continue  # vectors materialize to parquet below
            if fentry.get("format", "parquet") != "parquet":
                raise IcebergExportUnsupported(
                    f"data file format {fentry.get('format')!r} not "
                    "exportable (Iceberg avro/orc data files need embedded "
                    "field-ids)"
                )
        commit_uuid = uuid.uuid4().hex
        entries = []
        entries_by_spec: dict[int, list] = {}
        total_rows = 0
        for fentry in data_files:
            path = os.path.join(table.root, fentry["path"])
            rows = _rows_of(fentry, path)
            total_rows += rows
            # per-file TRUE sequence numbers (not the head snapshot's): with
            # equality deletes exported alongside, a reader applies a delete at
            # sequence N to data with sequence < N — the strict inequality this
            # table's own merge-on-read uses (sinks/table.py module docstring),
            # so same-snapshot upsert inserts correctly survive their deletes.
            fseq = fentry.get("seq", seq)
            # files carried over from an ancestor are EXISTING (status 0,
            # stamped with their ADDING snapshot when resolvable): external
            # incremental consumers (changelog readers, streaming scans)
            # take each snapshot's ADDED set — every-file-ADDED in every
            # historical snapshot would double-count rows downstream
            part_tuple, part_spec_id, _plan_idx = _tuple_and_spec(fentry)
            entry = {
                "status": 1 if fseq == seq else 0,
                "snapshot_id": sid if fseq == seq else seq_to_int.get(fseq, sid),
                "sequence_number": fseq,
                "file_sequence_number": fseq,
                "data_file": {
                    "content": 0,
                    "file_path": "file://" + os.path.abspath(path),
                    "file_format": "PARQUET",
                    "partition": part_tuple,
                    "record_count": rows,
                    "file_size_in_bytes": fentry.get("bytes")
                    or os.path.getsize(path),
                    **(
                        {"sort_order_id": 1}
                        if sort_fields_json
                        and fentry.get("sort") == export_sort_cols
                        else {}
                    ),
                    # v3 row lineage: the claimed first_row_id range
                    # crosses the boundary (schema carries field 142 only
                    # on v3 exports; encoder ignores the key otherwise)
                    **(
                        {"first_row_id": fentry["first_row_id"]}
                        if fv >= 3 and fentry.get("first_row_id") is not None
                        else {}
                    ),
                    **_file_column_stats(fentry, col_ids, col_types, rows),
                },
            }
            if part_spec_id == 0:
                entries.append(entry)
            else:
                entries_by_spec.setdefault(part_spec_id, []).append(entry)

        # ----- equality-delete manifest: the table's delete-key parquet files
        # ARE Iceberg equality-delete files — they carry exactly the key columns
        # (field-id resolution via the exported schema.name-mapping.default,
        # like every other id-less file here). Deletes are written global
        # (never partitioned — table.py _write_files), so their manifest uses
        # an unpartitioned spec of its own when the table's spec isn't empty.
        del_entries = []
        for fentry in delete_files:
            path = os.path.join(table.root, fentry["path"])
            fseq = fentry.get("seq", seq)
            if fentry.get("delete_type") == "dv" and fv >= 3:
                # native v3 export: the manifest entry references the DV
                # blob inside the Puffin file (content-offset/size), no
                # materialization — the spec's deletion-vector entry shape
                ref = fentry["referenced_data_file"]
                ref_abs = (
                    ref
                    if ref.startswith("/")
                    else os.path.abspath(os.path.join(table.root, ref))
                )
                del_entries.append(
                    {
                        "status": 1 if fseq == seq else 0,
                        "snapshot_id": sid
                        if fseq == seq
                        else seq_to_int.get(fseq, sid),
                        "sequence_number": fseq,
                        "file_sequence_number": fseq,
                        "data_file": {
                            "content": 1,  # POSITION_DELETES (DV form)
                            "file_path": "file://" + os.path.abspath(path),
                            "file_format": "PUFFIN",
                            "partition": {},
                            # spec: record_count = the DV's cardinality
                            "record_count": fentry.get("cardinality", 0),
                            # field 104 is the TOTAL size of the (possibly
                            # shared) puffin file; the blob's own extent
                            # rides content_offset/content_size_in_bytes
                            "file_size_in_bytes": os.path.getsize(path),
                            # must equal the data entry's file_path exactly
                            "referenced_data_file": "file://" + ref_abs,
                            "content_offset": int(fentry["content_offset"]),
                            "content_size_in_bytes": int(
                                fentry["content_size_in_bytes"]
                            ),
                        },
                    }
                )
                continue
            if fentry.get("delete_type") == "dv":
                # v2 export: deletion vectors materialize as position-
                # delete parquet (one file per vector, memoized by blob
                # identity across ancestor snapshots)
                dv_key = (path, fentry["content_offset"])
                if dv_key not in pos_rewrites:
                    pos_rewrites[dv_key] = _materialize_dv_as_position_delete(
                        fentry, table.root, tree_dir
                    )
                new_path, rows, size = pos_rewrites[dv_key]
                del_entries.append(
                    {
                        "status": 1 if fseq == seq else 0,
                        "snapshot_id": sid
                        if fseq == seq
                        else seq_to_int.get(fseq, sid),
                        "sequence_number": fseq,
                        "file_sequence_number": fseq,
                        "data_file": {
                            "content": 1,  # POSITION_DELETES
                            "file_path": "file://" + os.path.abspath(new_path),
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": rows,
                            "file_size_in_bytes": size,
                        },
                    }
                )
                continue
            rows = _rows_of(fentry, path)
            if fentry.get("delete_type") == "position":
                # positional files REWRITE on export: the internal form stores
                # root-relative paths and id-less columns; Iceberg readers need
                # absolute URIs matching the exported data entries plus the
                # spec's RESERVED field-ids (2147483546 file_path /
                # 2147483545 pos) embedded in the parquet itself — name mapping
                # never covers reserved columns. Rows sort by (path, pos) as
                # the spec requires. Tiny files: O(deleted rows) each.
                # memoized per source file: a delete carried across N
                # exported ancestor snapshots keeps ONE rewritten path, so
                # its EXISTING entries reference the same file its ADDED
                # entry introduced (path-identity matters to external
                # incremental consumers) and the export writes O(deletes)
                # files, not O(deletes × snapshots)
                if path not in pos_rewrites:
                    pos_rewrites[path] = _rewrite_position_delete(
                        path, table.root, tree_dir
                    )
                new_path, rows, size = pos_rewrites[path]
                del_entries.append(
                    {
                        "status": 1 if fseq == seq else 0,
                        "snapshot_id": sid
                        if fseq == seq
                        else seq_to_int.get(fseq, sid),
                        "sequence_number": fseq,
                        "file_sequence_number": fseq,
                        "data_file": {
                            "content": 1,  # POSITION_DELETES
                            "file_path": "file://" + os.path.abspath(new_path),
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": rows,
                            "file_size_in_bytes": size,
                        },
                    }
                )
                continue
            key_cols = fentry.get("key_cols")
            if key_cols is None:
                raise IcebergExportUnsupported(
                    "legacy delete file lacks recorded key columns — "
                    "compact() first"
                )
            # delete files written before a rename carry retired key names —
            # canonicalize through the alias map before resolving field ids
            rev = {a: c for c, als in aliases.items() for a in als}
            try:
                eq_ids = [col_ids[rev.get(c, c)] for c in key_cols]
            except KeyError as e:
                raise IcebergExportUnsupported(
                    f"delete file keys on column {e} not in current schema"
                ) from None
            del_entries.append(
                {
                    "status": 1 if fseq == seq else 0,
                    "snapshot_id": sid
                    if fseq == seq
                    else seq_to_int.get(fseq, sid),
                    "sequence_number": fseq,
                    "file_sequence_number": fseq,
                    "data_file": {
                        "content": 2,  # EQUALITY_DELETES
                        "file_path": "file://" + os.path.abspath(path),
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": rows,
                        "file_size_in_bytes": fentry.get("bytes")
                        or os.path.getsize(path),
                        "equality_ids": eq_ids,
                    },
                }
            )
        delete_spec_id = 0 if not spec_json else 1
        if del_entries and delete_spec_id == 1:
            used_delete_spec[0] = True

        commit_uuid = uuid.uuid4().hex
        manifest_path = os.path.join(tree_dir, f"{commit_uuid}-m0.avro")
        manifest_len = _write_ocf(
            manifest_path,
            _manifest_entry_schema(part_avro, v3=fv >= 3),
            entries,
            {
                "schema": json.dumps(ice_schema),
                "schema-id": "0",
                "partition-spec": json.dumps(spec_json),
                "partition-spec-id": "0",
                "format-version": str(fv),
                "content": "data",
            },
        )

        def _counts(ents: list[dict]) -> dict:
            added = [e for e in ents if e["status"] == 1]
            existing = [e for e in ents if e["status"] == 0]
            return {
                "added_files_count": len(added),
                "existing_files_count": len(existing),
                "deleted_files_count": 0,
                "added_rows_count": sum(
                    e["data_file"]["record_count"] for e in added
                ),
                "existing_rows_count": sum(
                    e["data_file"]["record_count"] for e in existing
                ),
                "deleted_rows_count": 0,
            }

        manifest_rows = [
            {
                "manifest_path": "file://" + os.path.abspath(manifest_path),
                "manifest_length": manifest_len,
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min(
                    (e["sequence_number"] for e in entries), default=seq
                ),
                "added_snapshot_id": sid or 0,
                **_counts(entries),
            }
        ]
        # one extra manifest per retired spec with files in this snapshot —
        # a manifest holds entries of exactly one spec (Iceberg invariant)
        for hid, h_spec, h_avro, _pp, _dirs in hist_plans:
            group = entries_by_spec.get(hid)
            if not group:
                continue
            h_path = os.path.join(tree_dir, f"{commit_uuid}-mh{hid}.avro")
            h_len = _write_ocf(
                h_path,
                _manifest_entry_schema(h_avro, v3=fv >= 3),
                group,
                {
                    "schema": json.dumps(ice_schema),
                    "schema-id": "0",
                    "partition-spec": json.dumps(h_spec),
                    "partition-spec-id": str(hid),
                    "format-version": str(fv),
                    "content": "data",
                },
            )
            manifest_rows.append(
                {
                    "manifest_path": "file://" + os.path.abspath(h_path),
                    "manifest_length": h_len,
                    "partition_spec_id": hid,
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": min(
                        e["sequence_number"] for e in group
                    ),
                    "added_snapshot_id": sid or 0,
                    **_counts(group),
                }
            )
        if del_entries:
            del_manifest_path = os.path.join(tree_dir, f"{commit_uuid}-m1.avro")
            del_manifest_len = _write_ocf(
                del_manifest_path,
                _manifest_entry_schema(v3=fv >= 3),
                del_entries,
                {
                    "schema": json.dumps(ice_schema),
                    "schema-id": "0",
                    "partition-spec": "[]",
                    "partition-spec-id": str(delete_spec_id),
                    "format-version": str(fv),
                    "content": "deletes",
                },
            )
            manifest_rows.append(
                {
                    "manifest_path": "file://"
                    + os.path.abspath(del_manifest_path),
                    "manifest_length": del_manifest_len,
                    "partition_spec_id": delete_spec_id,
                    "content": 1,  # deletes manifest
                    "sequence_number": seq,
                    "min_sequence_number": min(
                        e["sequence_number"] for e in del_entries
                    ),
                    "added_snapshot_id": sid or 0,
                    **_counts(del_entries),
                }
            )

        # ----- manifest list
        list_path = os.path.join(tree_dir, f"snap-{sid}-1-{commit_uuid}.avro")
        _write_ocf(
            list_path,
            _manifest_list_schema(v3=fv >= 3),
            manifest_rows,
            {
                "format-version": str(fv),
                "snapshot-id": str(sid),
                "parent-snapshot-id": (
                    str(
                        hex_to_int.get(
                            snap_x["parent"],
                            _snapshot_id_int(snap_x["parent"]),
                        )
                    )
                    if snap_x.get("parent")
                    else "null"
                ),
                "sequence-number": str(seq),
            },
        )

        # ----- metadata.json. Summary "added-*" props count THIS
        # snapshot's additions (status=1), not the carried-over EXISTING
        # entries; total-* props cover the full reachable state.
        all_data_entries = entries + [
            e for grp in entries_by_spec.values() for e in grp
        ]
        added_data = [e for e in all_data_entries if e["status"] == 1]
        added_del = [e for e in del_entries if e["status"] == 1]
        n_added_eq = sum(
            1 for e in added_del if e["data_file"]["content"] == 2
        )
        n_added_pos = len(added_del) - n_added_eq
        # the internal snapshot's own operation, clamped to the spec's
        # vocabulary (e.g. an imported table's "import" commit reads as
        # overwrite — files + deletes landed in one go)
        op = snap_x.get("operation") or (
            "overwrite" if added_del else "append"
        )
        # maintenance operations have exact Iceberg analogues
        op = {
            "rewrite-manifests": "replace",   # metadata-only squash
            "remove-dangling-deletes": "replace",
            "truncate": "delete",             # Iceberg TRUNCATE = deleteAll
            "clone": "append",                # zero-copy registration
        }.get(op, op)
        if op not in ("append", "replace", "overwrite", "delete"):
            op = "overwrite"
        # v3: the snapshot's starting row id = the smallest range this
        # snapshot's ADDED files claimed (the spec assigns it at commit;
        # our per-file claims make it the min of their first_row_ids).
        # A snapshot adding NO data files (delete/replace-only) still
        # carries the field — the spec assigns it the next-row-id that
        # was current at commit, which under contiguous per-file claims
        # is the highest (first_row_id + record_count) among the files
        # live at this snapshot.
        frids = [
            e["data_file"]["first_row_id"]
            for e in added_data
            if e["data_file"].get("first_row_id") is not None
        ]
        if fv >= 3 and not frids:
            frids = [rowid_hw.get(snap_x["snapshot_id"], 0)]
        snapshot_json = {
            "snapshot-id": sid,
            "sequence-number": seq,
            **({"first-row-id": min(frids)} if fv >= 3 else {}),
            "timestamp-ms": snap_x["timestamp_ms"],
            "manifest-list": "file://" + os.path.abspath(list_path),
            "summary": {
                "operation": op,
                "added-data-files": str(len(added_data)),
                "added-records": str(
                    sum(e["data_file"]["record_count"] for e in added_data)
                ),
                "total-data-files": str(len(all_data_entries)),
                "total-records": str(total_rows),
                "total-delete-files": str(len(del_entries)),
                **(
                    {
                        "added-equality-delete-files": str(n_added_eq),
                        "added-equality-deletes": str(
                            sum(
                                e["data_file"]["record_count"]
                                for e in added_del
                                if e["data_file"]["content"] == 2
                            )
                        ),
                    }
                    if n_added_eq
                    else {}
                ),
                **(
                    {
                        "added-position-delete-files": str(n_added_pos),
                        "added-position-deletes": str(
                            sum(
                                e["data_file"]["record_count"]
                                for e in added_del
                                if e["data_file"]["content"] == 1
                            )
                        ),
                    }
                    if n_added_pos
                    else {}
                ),
            },
            "schema-id": 0,
        }
        return snapshot_json

    # ----- refs: main + named branches + tags (Iceberg v2 refs share one
    # namespace; a tag colliding with a branch name is skipped). Each
    # distinct target snapshot exports exactly one manifest-list tree.
    trees: dict[str, dict] = {}

    def _tree_for(shex: str) -> dict:
        if shex not in trees:
            trees[shex] = _snapshot_tree(table._snapshot_by_id(meta, shex))
        return trees[shex]

    refs_json: dict[str, dict] = {}
    if snap is not None:
        refs_json["main"] = {
            "snapshot-id": _tree_for(snap["snapshot_id"])["snapshot-id"],
            "type": "branch",
        }
    # name collisions skip WITHOUT building the loser's tree — setdefault
    # would evaluate _tree_for eagerly and export an orphan snapshot
    for bname, shex in (meta.get("refs") or {}).items():
        if bname == "main" or not shex or bname in refs_json:
            continue
        if bname.startswith(STAGED_REF_PREFIX):
            # staged snapshot: exported in `snapshots` (tree built via the
            # history walk below) but invisible as a ref, matching the
            # spec's unreferenced add-snapshot
            continue
        refs_json[bname] = {
            "snapshot-id": _tree_for(shex)["snapshot-id"],
            "type": "branch",
        }
    for tname, shex in (meta.get("tags") or {}).items():
        if not shex or tname in refs_json:
            continue
        refs_json[tname] = {
            "snapshot-id": _tree_for(shex)["snapshot-id"],
            "type": "tag",
        }
    # per-ref retention rides the ref object, spec field names verbatim;
    # tags may carry ONLY max-ref-age-ms (SnapshotRefParser refuses the
    # branch fields on a tag, which would brick the whole metadata.json)
    for rname, ret in (meta.get("ref_retention") or {}).items():
        if rname in refs_json:
            allowed = (
                ("max-ref-age-ms",)
                if refs_json[rname]["type"] == "tag"
                else (
                    "max-ref-age-ms",
                    "min-snapshots-to-keep",
                    "max-snapshot-age-ms",
                )
            )
            refs_json[rname].update(
                {k: int(v) for k, v in ret.items() if k in allowed}
            )

    # ----- snapshot history: walk each ref's parent chain so external
    # readers time-travel (VERSION AS OF any ancestor, snapshot-log
    # rollback). Every retained ancestor's files are still on disk —
    # expire_snapshots is the only thing that drops history, and expired
    # snapshots are gone from meta["snapshots"] entirely. Depth is bounded
    # by the export.history-depth table property (default: full history;
    # continuous mirrors of long-lived tables set a small depth to keep
    # per-commit export cost flat).
    depth_prop = (meta.get("properties") or {}).get("export.history-depth")
    depth = (
        history_depth
        if history_depth is not None
        else int(depth_prop)
        if depth_prop is not None
        else None
    )
    main_chain: list[str] = []
    heads = ([snap["snapshot_id"]] if snap is not None else []) + [
        shex
        for bname, shex in (meta.get("refs") or {}).items()
        if bname != "main" and shex
    ]
    known = {s["snapshot_id"] for s in meta.get("snapshots", [])}
    for i, head_hex in enumerate(heads):
        cur, n = head_hex, 0
        # a parent pointing at an expired snapshot ends the chain
        while cur in known and (depth is None or n < depth):
            _tree_for(cur)
            if i == 0 and snap is not None:
                main_chain.append(cur)
            cur = table._snapshot_by_id(meta, cur).get("parent")
            n += 1

    # parent links: the TRUE parent id always (the external id is a
    # deterministic function of the internal hex id, so it's stable even
    # for a parent outside this export). Iceberg itself keeps
    # parent-snapshot-id pointing at expired snapshots — readers handle
    # absence — and a depth-capped continuous mirror NEEDS the dangling
    # link so refresh_from_iceberg can recognize "head's parent is
    # exactly my recorded snapshot" and sync incrementally.
    for shex, tree in trees.items():
        phex = table._snapshot_by_id(meta, shex).get("parent")
        if phex is not None:
            tree["parent-snapshot-id"] = (
                trees[phex]["snapshot-id"]
                if phex in trees
                else hex_to_int.get(phex, _snapshot_id_int(phex))
            )
    prev_meta_versions = sorted(
        (int(m.group(1)), p)
        for p in os.listdir(out)
        if (m := re.match(r"(\d+)-[0-9a-f]+\.metadata\.json$", p))
    )
    snapshots_json = sorted(
        trees.values(), key=lambda s: (s["sequence-number"], s["snapshot-id"])
    )
    sid = refs_json.get("main", {}).get("snapshot-id")
    seq = max((s["sequence-number"] for s in snapshots_json), default=0)
    commit_uuid = uuid.uuid4().hex
    metadata = {
        "format-version": fv,
        "table-uuid": meta.get("table_uuid", str(uuid.uuid4())),
        "location": "file://" + os.path.abspath(table.root),
        # v3 row lineage: the table-level row-id counter crosses the
        # boundary so an importer continues claiming where we left off
        **({"next-row-id": meta.get("next-row-id", 0)} if fv >= 3 else {}),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_col_id,
        "current-schema-id": 0,
        "schemas": [ice_schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_json}]
        + ([{"spec-id": 1, "fields": []}] if used_delete_spec[0] else [])
        + [
            {"spec-id": hid, "fields": h_spec}
            for hid, h_spec, _av, _pp, _dirs in sorted(hist_plans)
            if hid in used_hist_ids
        ],
        # highest assigned partition field id across ALL specs (ids are
        # globally sequential, so the last handed out bounds them all)
        "last-partition-id": max(999 + len(spec_json), next_fid - 1),
        "default-sort-order-id": 1 if sort_fields_json else 0,
        "sort-orders": [{"order-id": 0, "fields": []}]
        + (
            [{"order-id": 1, "fields": sort_fields_json}]
            if sort_fields_json
            else []
        ),
        "properties": {
            "schema.name-mapping.default": json.dumps(
                name_mapping(ice_schema, aliases)
            ),
            # source Lakehouse metadata version at export time: lets a
            # catalog serving this tree (rest_server / jdbc_catalog)
            # decide staleness with one string compare instead of an
            # in-memory cache
            "export.source-version": str(meta["version"]),
            **{
                k: str(v)
                for k, v in meta["properties"].items()
                # the internal mapping has no field-ids — it must not
                # shadow the id-carrying one exported above
                if isinstance(v, (str, int, float))
                and k
                not in ("schema.name-mapping.default", "export.source-version")
            },
        },
        "current-snapshot-id": sid,
        "refs": refs_json,
        "snapshots": snapshots_json,
        # the spec's snapshot-log records changes to the CURRENT snapshot —
        # i.e. the main-branch ancestry oldest-first, not branch snapshots
        "snapshot-log": [
            {
                "timestamp-ms": trees[shex]["timestamp-ms"],
                "snapshot-id": trees[shex]["snapshot-id"],
            }
            for shex in reversed(main_chain)
        ],
        # previous metadata versions, oldest first, TRIMMED to the set
        # that survives this export's own retention pass (an entry citing
        # a file the cleanup below deletes would break external metadata
        # time-travel) — the same trim Iceberg applies
        "metadata-log": [
            {
                "timestamp-ms": int(
                    os.path.getmtime(os.path.join(out, p)) * 1000
                ),
                "metadata-file": "file://" + os.path.join(out, p),
            }
            for _, p in prev_meta_versions[
                len(prev_meta_versions)
                - min(
                    len(prev_meta_versions),
                    _metadata_log_keep(meta, delete_after_commit),
                ):
            ]
        ],
    }
    # ----- table statistics (spec "Table statistics"): Puffin NDV files
    # recorded for exported snapshots, referenced in place. Blob type is
    # the engine's honest ndv-kmv-v1 (NOT a theta sketch a reader could
    # mis-parse); the standard `ndv` property rides each blob exactly
    # where conforming planners look for it.
    stats_json = []
    for s in meta.get("statistics", []):
        shex = s["snapshot-id"]
        if shex not in trees:
            continue
        spath = os.path.join(table.root, s["statistics-path"])
        if not os.path.isfile(spath):
            continue
        if s.get("format") == "puffin":
            # compute_statistics (KMV) entries: the .puffin file IS the
            # spec statistics file — reference it in place
            blobs = [
                {
                    "type": b["type"],
                    "props": {
                        "ndv": str(b["ndv"]),
                        **({"k": str(b["k"])} if "k" in b else {}),
                        "column": b["column"],
                    },
                    "column": b["column"],
                }
                for b in s.get("blobs", [])
            ]
        else:
            # analyze() JSON docs materialize as a spec statistics file
            # in the export tree: one blob per column, the REAL Apache
            # DataSketches HLL binary as payload when the doc carries a
            # sketch (hll_sketch_agg output — a conforming datasketches
            # reader parses it), honest `ndv-v1` with empty payload when
            # the doc is exact-mode. `ndv` rides the blob properties
            # where planners look for it either way.
            import base64

            from .puffin import write_puffin

            with open(spath) as sf:
                doc = json.load(sf)
            blob_triples, blobs = [], []
            for cname, cst in doc.get("columns", {}).items():
                if cst.get("ndv") is None:
                    continue
                sk = cst.get("sketch")
                payload = base64.b64decode(sk) if sk else b""
                btype = (
                    "apache-datasketches-hll-v1" if sk else "ndv-v1"
                )
                props = {"ndv": str(int(cst["ndv"])), "column": cname}
                blob_triples.append((btype, props, payload))
                blobs.append(
                    {"type": btype, "props": props, "column": cname}
                )
            if not blob_triples:
                continue
            spath = os.path.join(tree_dir, f"stats-{shex[:12]}.puffin")
            write_puffin(spath, blob_triples, snapshot_id=shex)
        with open(spath, "rb") as sf:
            sf.seek(-12, 2)
            tail = sf.read(12)
        payload_size = struct.unpack("<I", tail[:4])[0]
        ext_sid = trees[shex]["snapshot-id"]
        snap_seq = trees[shex]["sequence-number"]
        stats_json.append(
            {
                "snapshot-id": ext_sid,
                "statistics-path": "file://" + os.path.abspath(spath),
                "file-size-in-bytes": os.path.getsize(spath),
                # footer magic + payload + size + flags + trailing magic
                "file-footer-size-in-bytes": payload_size + 16,
                "blob-metadata": [
                    {
                        "type": b["type"],
                        "snapshot-id": ext_sid,
                        "sequence-number": snap_seq,
                        "fields": (
                            [col_ids[b["column"]]]
                            if b["column"] in col_ids
                            else []
                        ),
                        "properties": b["props"],
                    }
                    for b in blobs
                ],
            }
        )
    if stats_json:
        metadata["statistics"] = stats_json

    # ----- partition statistics (spec "Partition statistics"): rewrite
    # each recorded file into the spec shape for exported snapshots —
    # partition as a real struct (internally it is a JSON-keyed string),
    # last_updated_snapshot_id remapped to the external int id — and
    # register under the spec's ``partition-statistics`` metadata key.
    pstats_json = []
    for s in meta.get("partition-statistics", []):
        shex = s["snapshot-id"]
        if shex not in trees:
            continue
        src = os.path.join(table.root, s["statistics-path"])
        if not os.path.isfile(src):
            continue
        rows = table._read_partition_stats_file(s)
        ext_sid = trees[shex]["snapshot-id"]
        import pyarrow as pa
        import pyarrow.parquet as pq

        pkeys = sorted({k for r in rows for k in r["partition"]})
        if not pkeys:
            # unpartitioned table: the unified partition tuple is an
            # empty struct, which parquet cannot represent — and a
            # single-row "partition stats" file carries nothing the
            # snapshot summary doesn't. Keep the internal entry, skip
            # the export (matching engines that only compute partition
            # stats for partitioned tables).
            continue
        pspath = os.path.join(
            tree_dir, f"partition-stats-{shex[:12]}.parquet"
        )
        pq.write_table(
            pa.table(
                {
                    "partition": pa.array(
                        [
                            {k: r["partition"].get(k) for k in pkeys}
                            for r in rows
                        ],
                        pa.struct([(k, pa.string()) for k in pkeys]),
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
                        [
                            r["total_data_file_size_in_bytes"]
                            for r in rows
                        ],
                        pa.int64(),
                    ),
                    "last_updated_at": pa.array(
                        [r["last_updated_at"] for r in rows], pa.int64()
                    ),
                    # per-row attribution: the snapshot that last changed
                    # THAT partition, remapped to its exported int id
                    "last_updated_snapshot_id": pa.array(
                        [
                            hex_to_int.get(
                                r["last_updated_snapshot_id"], ext_sid
                            )
                            for r in rows
                        ],
                        pa.int64(),
                    ),
                }
            ),
            pspath,
        )
        pstats_json.append(
            {
                "snapshot-id": ext_sid,
                "statistics-path": "file://" + os.path.abspath(pspath),
                "file-size-in-bytes": os.path.getsize(pspath),
            }
        )
    if pstats_json:
        metadata["partition-statistics"] = pstats_json

    metadata_path = os.path.join(
        out, f"{export_version:05d}-{export_uuid}.metadata.json"
    )
    with open(metadata_path, "w") as f:
        json.dump(metadata, f, indent=2)
    with open(os.path.join(out, "version-hint.text"), "w") as f:
        f.write(metadata_path)

    # Iceberg's own metadata retention surface: when
    # write.metadata.delete-after-commit.enabled is set, keep the newest
    # write.metadata.previous-versions-max (default 100) PREVIOUS metadata
    # versions and drop older ones together with their tree-NNNNN-* file
    # subdirectories — a continuous per-commit mirror stays bounded on
    # disk instead of accreting one full tree per batch forever. Exports
    # never share tree files across versions (each writes its own), so a
    # dropped version's subdirectory is garbage by construction.
    props = meta.get("properties") or {}
    cleanup = (
        delete_after_commit
        if delete_after_commit is not None
        else str(
            props.get("write.metadata.delete-after-commit.enabled", "")
        ).lower()
        == "true"
    )
    if cleanup:
        keep = int(props.get("write.metadata.previous-versions-max", 100))
        versions = sorted(
            (
                (int(m.group(1)), p)
                for p in os.listdir(out)
                if (m := re.match(r"(\d+)-[0-9a-f]+\.metadata\.json$", p))
            ),
            reverse=True,
        )
        import shutil

        for ver, fname in versions[keep + 1:]:
            os.unlink(os.path.join(out, fname))
            for d in os.listdir(out):
                if re.fullmatch(
                    rf"tree-{ver:05d}-[0-9a-f]{{8}}", d
                ) and os.path.isdir(os.path.join(out, d)):
                    shutil.rmtree(os.path.join(out, d))
    return metadata_path


# -------------------------------------------------------------- validation
def read_exported(
    metadata_path: str,
    ref: str | None = None,
    snapshot_id: int | None = None,
) -> dict:
    """Independently re-parse an exported metadata tree layer by layer.

    Returns {"schema", "file_paths", "record_counts", "total_rows",
    "snapshot_id"} — everything a reader needs to scan the table — using
    only the exported artifacts (never the source table's internal state),
    so tests can hash-compare the reachable data against ``table.read()``.
    ``snapshot_id`` reads a historical snapshot (external VERSION AS OF);
    ``ref`` reads a named branch/tag head.
    """
    with open(metadata_path) as f:
        md = json.load(f)
    assert md["format-version"] in (2, 3)
    target_sid = (
        snapshot_id
        if snapshot_id is not None
        else md["refs"][ref]["snapshot-id"]
        if ref
        else md["current-snapshot-id"]
    )
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == target_sid
    )
    _, _, manifests = _read_ocf(snap["manifest-list"].removeprefix("file://"))
    files: list[dict] = []
    deletes: list[dict] = []
    for m in manifests:
        fmeta, _, entries = _read_ocf(
            m["manifest_path"].removeprefix("file://")
        )
        assert fmeta["format-version"] == str(md["format-version"])
        for e in entries:
            if e["status"] not in (0, 1):
                continue
            f = dict(e["data_file"])
            f["sequence_number"] = e["sequence_number"]
            (deletes if m["content"] == 1 else files).append(f)
    return {
        "schema": md["schemas"][md["current-schema-id"]],
        "name_mapping": json.loads(
            md["properties"]["schema.name-mapping.default"]
        ),
        "file_paths": [
            f["file_path"].removeprefix("file://") for f in files
        ],
        "partition_spec": md["partition-specs"][md["default-spec-id"]],
        "partitions": [f["partition"] for f in files],
        "record_counts": [f["record_count"] for f in files],
        "data_sequence_numbers": [f["sequence_number"] for f in files],
        "delete_files": [
            {
                "path": f["file_path"].removeprefix("file://"),
                "equality_ids": f["equality_ids"],
                "sequence_number": f["sequence_number"],
                "record_count": f["record_count"],
                **(
                    {
                        "file_format": f["file_format"],
                        "referenced_data_file": f[
                            "referenced_data_file"
                        ].removeprefix("file://"),
                        "content_offset": f["content_offset"],
                        "content_size_in_bytes": f["content_size_in_bytes"],
                    }
                    if f.get("file_format") == "PUFFIN"
                    else {}
                ),
            }
            for f in deletes
        ],
        "first_row_ids": {
            f["file_path"].removeprefix("file://"): f["first_row_id"]
            for f in files
            if f.get("first_row_id") is not None
        },
        "total_rows": sum(f["record_count"] for f in files),
        "snapshot_id": target_sid,
        "refs": md.get("refs", {}),
        "snapshot_log": md.get("snapshot-log", []),
        "snapshot_parents": {
            s["snapshot-id"]: s.get("parent-snapshot-id")
            for s in md["snapshots"]
        },
    }
