"""Partition-spec DSL — the reference's config-string partition transforms.

Reference: data/SchemaUtils.java:150-199 parses strings like ``year(ts)``,
``month(ts)``, ``day(ts)``, ``hour(ts)``, ``bucket(id, 16)``,
``truncate(s, 4)`` or a bare column name (identity) with the regex
``(\\w+)\\((.+)\\)``.

Spark-first: each transform compiles to a Catalyst expression producing a
derived partition column; writes partitionBy those columns, so reads get
directory-level partition pruning for free.

Note: bucket() here is xxhash64-based — same semantics (stable hash mod n),
not byte-compatible with Iceberg's murmur3 bucket transform. For faithful
interop use ``iceberg_bucket(col, n)``: the spec's murmur3 hash
(functions/murmur3.py), which exports as a real ``bucket[n]`` spec instead
of ``void`` and prunes correctly in external engines.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRANSFORM_RE = re.compile(r"(\w+)\((.+)\)")


def _iceberg_bucket_col(c: Column, n: int) -> Column:
    """Iceberg-spec ``bucket[n]`` (murmur3 over the single-value binary
    serialization, spec Appendix B) as an Arrow-batched pandas UDF —
    byte-compatible with external Iceberg engines so exported bucket specs
    prune correctly (reference partitions through Iceberg's own transform,
    data/SchemaUtils.java:150-199). Integer-typed batches (int/long) take
    a fully vectorized numpy path; strings/dates/timestamps/decimals fall
    back to the scalar serializer. A UDF (not a builtin) is unavoidable:
    Spark's F.hash is murmur3 with seed 42 over Spark's own layout, not
    Iceberg's seed-0 hash of the serialized form."""
    from pyspark.sql.functions import pandas_udf

    from ..functions import murmur3 as _murmur3_mod
    from ..functions.murmur3 import iceberg_bucket_value, murmur3_32_long

    # The closure below captures package functions; serialize them BY VALUE
    # so Python workers never need this package importable (the driver may
    # run from any cwd — repo convention is self-contained worker closures,
    # see operators/multimodal.py).
    try:
        from pyspark import cloudpickle as _cp

        _cp.register_pickle_by_value(_murmur3_mod)
    except Exception:  # pragma: no cover — older cloudpickle without the API
        pass

    @pandas_udf("int")
    def _bucket(s: pd.Series) -> pd.Series:
        import numpy as np

        if pd.api.types.is_integer_dtype(s.dtype) and not s.isna().any():
            ids = (
                murmur3_32_long(s.to_numpy(np.int64)).astype(np.int64)
                & 0x7FFFFFFF
            ) % n
            return pd.Series(ids, index=s.index)
        if pd.api.types.is_integer_dtype(s.dtype) or pd.api.types.is_float_dtype(
            s.dtype
        ):
            # Arrow hands an int/long batch containing nulls over as
            # float64; bucket is undefined on real float/double sources
            # (Iceberg spec), so a float batch can only be a nullable
            # integer column — vectorize with a null mask.
            mask = s.isna().to_numpy()
            filled = s.fillna(0)
            fvals = filled.to_numpy(np.float64)
            if not np.all(np.mod(fvals, 1) == 0):
                raise ValueError(
                    "bucket transform on a floating-point source column"
                )
            if np.any(np.abs(fvals) >= 2.0**53):
                # the float64 handoff already rounded these — refuse to
                # hash a degraded key rather than bucket it silently wrong
                raise ValueError(
                    "bucket key beyond 2^53 in a null-containing batch "
                    "(Arrow→pandas float64 conversion loses precision)"
                )
            ids = (
                murmur3_32_long(filled.to_numpy(np.int64)).astype(np.int64)
                & 0x7FFFFFFF
            ) % n
            out = pd.Series(ids.astype("int32"), index=s.index, dtype="Int32")
            out[mask] = pd.NA
            return out
        return s.map(
            lambda v: None if v is None or pd.isna(v)
            else iceberg_bucket_value(v, n)
        )

    return _bucket(c)


@dataclass(frozen=True)
class PartitionField:
    source: str  # source column
    transform: str  # identity|year|month|day|hour|bucket|truncate
    param: int | None = None

    @property
    def name(self) -> str:
        if self.transform == "identity":
            return self.source
        if self.param is not None:
            return f"{self.source}_{self.transform}{self.param}"
        return f"{self.source}_{self.transform}"

    def expr(self) -> Column:
        c = F.col(self.source)
        if self.transform == "identity":
            return c
        if self.transform == "year":
            return F.year(c)
        if self.transform == "month":
            return F.date_format(c, "yyyy-MM")
        if self.transform == "day":
            return F.date_format(c, "yyyy-MM-dd")
        if self.transform == "hour":
            return F.date_format(c, "yyyy-MM-dd-HH")
        if self.transform == "bucket":
            return F.pmod(F.xxhash64(c), F.lit(self.param))
        if self.transform == "iceberg_bucket":
            return _iceberg_bucket_col(c, self.param)
        if self.transform == "truncate":
            return F.substring(c.cast("string"), 1, self.param)
        raise ValueError(f"unknown partition transform: {self.transform}")

    def result_type(self) -> str | None:
        """Spark type of the derived partition column (None = source type)."""
        return {
            "identity": None,
            "year": "int",
            "month": "string",
            "day": "string",
            "hour": "string",
            "bucket": "bigint",
            "iceberg_bucket": "int",
            "truncate": "string",
        }[self.transform]

    def to_json(self) -> dict:
        return {"source": self.source, "transform": self.transform, "param": self.param}

    @staticmethod
    def from_json(d: dict) -> "PartitionField":
        return PartitionField(d["source"], d["transform"], d.get("param"))


def parse_partition_spec(spec: list[str] | str | None) -> list[PartitionField]:
    """Parse config strings (SchemaUtils.createPartitionSpec semantics)."""
    if not spec:
        return []
    if isinstance(spec, str):
        # split on commas outside parentheses: "day(ts), bucket(16, id)"
        parts, depth, cur = [], 0, []
        for ch in spec:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        spec = [s.strip() for s in parts if s.strip()]
    fields = []
    for raw in spec:
        m = _TRANSFORM_RE.fullmatch(raw.strip())
        if not m:
            fields.append(PartitionField(raw.strip(), "identity"))
            continue
        fn, args = m.group(1).lower(), [a.strip() for a in m.group(2).split(",")]
        if fn in ("year", "month", "day", "hour"):
            fields.append(PartitionField(args[0], fn))
        elif fn == "bucket":
            # both bucket(col, n) and bucket(n, col) appear in the wild
            if args[0].isdigit():
                fields.append(PartitionField(args[1], "bucket", int(args[0])))
            else:
                fields.append(PartitionField(args[0], "bucket", int(args[1])))
        elif fn == "iceberg_bucket":
            if args[0].isdigit():
                fields.append(
                    PartitionField(args[1], "iceberg_bucket", int(args[0]))
                )
            else:
                fields.append(
                    PartitionField(args[0], "iceberg_bucket", int(args[1]))
                )
        elif fn == "truncate":
            if args[0].isdigit():
                fields.append(PartitionField(args[1], "truncate", int(args[0])))
            else:
                fields.append(PartitionField(args[0], "truncate", int(args[1])))
        else:
            raise ValueError(f"unknown partition transform: {fn}")
    return fields


# Spark's partitionBy writes NULL partition values under this directory
# name (Hive convention) — shared by every path-based partition parser.
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


# Each commit writes its files under ``<root>/{data,deletes}/_commit=<uuid>``
# (the entry's recorded ``base``). The directory is hive-shaped so one Spark
# scan rooted at ``data/`` can read many commits at once and see the commit
# id as a partition column; it is NOT a table partition.
COMMIT_DIR_KEY = "_commit"


def partition_segments(
    path: str, base: str | None = None
) -> list[tuple[str, str]]:
    """Raw (name, value) pairs of the hive-style partition directories of
    the file at ``path``, outermost first. Only segments BELOW ``base``
    (the entry's write directory) count: the commit directory and any
    ``=`` in the table root above it are not partitions. A file directly
    in a base that is not a commit dir (imported entries record each
    file's own directory as ``base``), or an entry without one, parses
    every directory segment but the reserved commit key. The ONE parser
    of the directory-name contract — partition listings, partition
    statistics, export tuples, bucket pruning and the storage-partitioned
    join all resolve through it."""
    rel = path
    if base:
        base = base.rstrip(os.sep)
        if path.startswith(base + os.sep):
            below = path[len(base) + 1 :]
            if os.sep in below or os.path.basename(base).startswith(
                COMMIT_DIR_KEY + "="
            ):
                rel = below
    out = []
    for seg in rel.split(os.sep)[:-1]:
        name, eq, value = seg.partition("=")
        if eq and name != COMMIT_DIR_KEY:
            out.append((name, value))
    return out


def partition_dir_value(
    path: str, field_name: str, base: str | None = None
) -> str | None:
    """The raw recorded value of the ``field_name=`` partition directory
    of the file at ``path`` (see ``partition_segments``), or None when the
    path has no such directory (file written before the spec existed)."""
    for name, value in partition_segments(path, base):
        if name == field_name:
            return value
    return None
