"""The three workloads: seeded Kafka-shaped input, the timed loop that
feeds it to ``SinkPipeline.process_batch``, and the fixed reader query.

Every workload sees only the records generated here from ``--seed``:

- ``stream_freshness`` (open loop): JSON events arrive on a fixed schedule
  of ``RATE`` records/s for ``--seconds``. Each micro-batch takes every
  record that is due when the previous commit returns, as ``foreachBatch``
  does when a batch overruns its trigger. Per-commit fixed cost dominates.
- ``cdc_upsert_read`` (closed loop): Debezium envelopes with a c/u/d mix
  over Zipf-skewed keys, unwrapped by ``debezium_transform`` and upserted
  into one keyed table; every ``READ_EVERY`` batches the reader query
  runs on ``LakehouseTable.read`` (merge-on-read).
- ``backlog_catchup`` (closed loop): a backlog of Schema-Registry-framed
  Avro records replayed in large batches through ``AvroConverter`` and
  dynamic routing on ``event_type`` into auto-created ``day(ts)``
  partitioned tables.

The closed loops replay a fixed number of batches sized from ``--seconds``
(``seconds / NOMINAL_BATCH_S``), so two builds compared on the same seed do
identical work; the open loop's work is fixed by its schedule.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

DAY_US = 86_400_000_000
BASE_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
PARTITIONS = 4
EVENT_TYPES = ("click", "view", "search", "purchase", "signup")
EVENT_WEIGHTS = (0.40, 0.25, 0.15, 0.12, 0.08)
LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)


def kafka_table(values, ts_us, partition, offset, keys=None):
    """Kafka-shaped columns: key, value (JSON text, or an Arrow binary
    array of wire bytes), topic, partition, offset, timestamp (record
    creation time, UTC)."""
    n = len(values)
    return pa.table(
        {
            "key": pa.array(keys if keys is not None else [None] * n,
                            pa.string()),
            "value": values if isinstance(values, pa.Array)
            else pa.array(values, pa.string()),
            "topic": pa.array(["events"] * n, pa.string()),
            "partition": pa.array(partition, pa.int32()),
            "offset": pa.array(offset, pa.int64()),
            "timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        }
    )


def payloads(rng, n: int, lo: int, hi: int) -> list[str]:
    """n random alphanumeric strings with lengths in [lo, hi)."""
    lens = rng.integers(lo, hi, n)
    pool = LETTERS[rng.integers(0, len(LETTERS), int(lens.sum()))].tobytes()
    pool = pool.decode()
    ends = np.cumsum(lens)
    return [pool[e - ln:e] for e, ln in zip(ends.tolist(), lens.tolist())]


def iso_ms(ts_us: np.ndarray) -> np.ndarray:
    return np.char.add(
        np.datetime_as_string(ts_us.astype("datetime64[us]"), unit="ms"), "Z"
    )


def day_col():
    from pyspark.sql import functions as F

    return F.floor(F.unix_micros("ts") / F.lit(DAY_US)).cast("long")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def quantile(values, q: float) -> float:
    return float(np.quantile(np.asarray(values, dtype=float), q))


class Workload:
    """One workload in one process. ``setup`` builds everything the timed
    phase needs (inputs, registry, warehouse, pipeline, warm-up batch) and
    may be called repeatedly; each call replaces the previous state."""

    name = ""
    loop = ""
    wrap = staticmethod(lambda name, fn: fn)  # tracer hook for lazy layers

    def __init__(self, spark, runner, seed: int, seconds: int, workdir: str):
        self.spark = spark
        self.runner = runner
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.rep = 0
        self.warehouse = ""
        self.catalog = None
        self.read_results: list[tuple[int, object]] = []  # (records, result)
        self.input_bytes = 0
        self.batch_records: list[int] = []
        self.freshness: np.ndarray = np.zeros(0)
        self.phase_s = 0.0
        self.timed_records = 0
        self.bytes_stored = 0

    # ---------------------------------------------------------- set-up
    def fresh_warehouse(self) -> None:
        from iceberg_kafka_connect_spark.sinks import Catalog

        self.rep += 1
        self.warehouse = os.path.join(self.workdir, f"wh{self.rep}")
        self.catalog = Catalog(self.warehouse)

    def discard(self) -> None:
        """Drop the state of a set-up that will not be measured."""
        if self.warehouse:
            shutil.rmtree(self.warehouse, ignore_errors=True)

    def close(self) -> None:
        pass

    def warm_up(self, df) -> None:
        """Batch 0 plus one reader query, so the timed phase starts with
        the JVM's code paths compiled and the Python workers running."""
        self.runner.batch(self.pipe, df, 0, timed=False)
        self.reader()

    # ---------------------------------------------------------- metrics
    def end_to_end(self) -> dict[str, float]:
        lat = [b["latency_s"] for b in self.runner.batches]
        reads = [r["latency_s"] for r in self.runner.reads]
        return {
            "records_per_s": self.timed_records / self.phase_s,
            "batch_latency_p50_s": statistics.median(lat),
            "freshness_p50_s": quantile(self.freshness, 0.5),
            "freshness_p90_s": quantile(self.freshness, 0.9),
            "read_latency_p50_s": statistics.median(reads),
            "bytes_stored_per_input_byte": self.bytes_stored
            / self.input_bytes,
        }

    def tables(self) -> list:
        return [self.catalog.load_table(n) for n in self.table_names()]

    def table_names(self) -> list[str]:
        raise NotImplementedError


# ======================================================= stream_freshness
class StreamFreshness(Workload):
    name = "stream_freshness"
    loop = "open"
    RATE = 1000  # records/s offered
    WARMUP = 500  # records in the set-up batch

    def generate(self):
        n = self.WARMUP + self.RATE * self.seconds
        rng = np.random.default_rng(self.seed)
        ids = np.arange(n, dtype=np.int64)
        # event time advances ~3 days over the run, so the stream crosses
        # day partitions; +-2 s jitter makes arrival slightly out of order
        step = 3 * DAY_US // n
        ts = BASE_US + ids * step + rng.integers(-2000, 2000, n) * 1000
        ts -= ts % 1000
        et = rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)
        users = rng.integers(0, 100_000, n)
        amount = rng.integers(0, 1_000_000, n)
        text = payloads(rng, n, 40, 160)
        tss = iso_ms(ts)
        values = [
            '{"id":%d,"ts":"%s","event_type":"%s","user":"u%d",'
            '"amount":%d,"payload":"%s"}'
            % (i, t, EVENT_TYPES[e], u, a, p)
            for i, t, e, u, a, p in zip(
                ids.tolist(), tss.tolist(), et.tolist(), users.tolist(),
                amount.tolist(), text,
            )
        ]
        self.input = kafka_table(
            values, ts, ids % PARTITIONS, ids // PARTITIONS,
            keys=[str(i) for i in ids.tolist()],
        )
        self.oracle_rows = pa.table(
            {"id": ids, "ts": ts, "amount": amount,
             "partition": (ids % PARTITIONS).astype(np.int32),
             "offset": ids // PARTITIONS}
        )
        self.value_bytes = np.array([len(v) for v in values])

    def setup(self) -> None:
        from pyspark.sql import types as T

        from iceberg_kafka_connect_spark.config import SinkConfig, TableConfig
        from iceberg_kafka_connect_spark.streaming import SinkPipeline

        self.generate()
        self.fresh_warehouse()
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("user", T.StringType()),
                T.StructField("amount", T.LongType()),
                T.StructField("payload", T.StringType()),
            ]
        )
        cfg = SinkConfig(
            tables=[TableConfig("default.events", partition_by=["day(ts)"])],
            auto_create=True,
        )
        self.pipe = SinkPipeline(
            self.catalog, cfg, "ingestbench-stream", value_schema=schema
        )
        warm = self.spark.createDataFrame(self.input.slice(0, self.WARMUP))
        self.warm_up(warm)

    def table_names(self):
        return ["default.events"]

    def run(self) -> None:
        n = self.RATE * self.seconds
        fresh = []
        cursor, bid = 0, 1
        lag = []
        t0 = time.perf_counter()
        while cursor < n:
            now = time.perf_counter() - t0
            due = min(n, math.floor(now * self.RATE) + 1)
            if due <= cursor:
                time.sleep(max(0.0, cursor / self.RATE - now))
                continue
            lag.append(now - cursor / self.RATE)
            df = self.spark.createDataFrame(
                self.input.slice(self.WARMUP + cursor, due - cursor)
            )
            self.runner.batch(self.pipe, df, bid)
            done = time.perf_counter() - t0
            fresh.append(done - np.arange(cursor, due) / self.RATE)
            self.batch_records.append(due - cursor)
            self.last_batch = (self.WARMUP + cursor, due - cursor, bid)
            cursor, bid = due, bid + 1
        self.phase_s = time.perf_counter() - t0
        self.timed_records = n
        self.freshness = np.concatenate(fresh)
        # how late the generator's oldest waiting record was when each
        # batch was taken (the queueing a slow commit imposes)
        self.max_wait_s = max(lag)
        self.input_bytes = int(self.value_bytes.sum())
        self.bytes_stored = dir_bytes(self.warehouse)
        self.read_results.append(
            (len(self.input), self.runner.read(self.reader, "post"))
        )

    def reader(self):
        """The fixed reader query: per-day count and sums."""
        from pyspark.sql import functions as F

        t = self.catalog.load_table("default.events")
        rows = (
            t.read(self.spark)
            .groupBy(day_col().alias("day"))
            .agg(F.count("*"), F.sum("id"), F.sum("amount"))
            .collect()
        )
        return sorted(tuple(int(v) for v in r) for r in rows)

    def properties(self) -> dict:
        return {
            "offered_rate_per_s": self.RATE,
            "record_bytes_mean": float(self.value_bytes.mean()),
            "key_skew_exponent": 0.0,
            "records_per_batch_mean": statistics.mean(self.batch_records),
            "kafka_partitions": PARTITIONS,
            "tables_per_batch": 1,
            "max_record_wait_s": self.max_wait_s,
        }


# ======================================================= cdc_upsert_read
class CdcUpsertRead(Workload):
    name = "cdc_upsert_read"
    loop = "closed"
    KEYS = 20_000
    ZIPF_S = 1.1
    BATCH = 5_000  # change events per micro-batch
    READ_EVERY = 3
    NOMINAL_BATCH_S = 1.25  # batch + amortised read, sizes the run

    def n_batches(self) -> int:
        reads = max(1, round(self.seconds / (self.READ_EVERY
                                             * self.NOMINAL_BATCH_S)))
        return reads * self.READ_EVERY

    def generate(self):
        n = self.BATCH * (1 + self.n_batches())
        rng = np.random.default_rng(self.seed)
        w = 1.0 / np.arange(1, self.KEYS + 1) ** self.ZIPF_S
        perm = rng.permutation(self.KEYS)
        keys = perm[rng.choice(self.KEYS, n, p=w / w.sum())]
        balance = rng.integers(0, 1_000_000, n).tolist()
        coin = rng.random(n).tolist()
        live: dict[int, dict] = {}
        values, ops, ids, bals, vers, names = [], [], [], [], [], []
        offsets = [0] * PARTITIONS
        part, offs = [], []
        for seq, k in enumerate(keys.tolist()):
            before = live.get(k)
            if before is None:
                op = "c"
            else:
                op = "d" if coin[seq] < 0.15 else "u"
            if op == "d":
                after = None
                del live[k]
                row = before
            else:
                after = {"id": k, "balance": balance[seq], "version": seq,
                         "name": f"n{seq % 977}"}
                live[k] = after
                row = after
            values.append(json.dumps({
                "op": op, "before": before, "after": after,
                "source": {"db": "app", "schema": None, "table": "accounts"},
                "ts_ms": BASE_US // 1000 + seq,
            }))
            ops.append(op)
            ids.append(k)
            bals.append(row["balance"])
            vers.append(row["version"])
            names.append(row["name"])
            p = k % PARTITIONS
            part.append(p)
            offs.append(offsets[p])
            offsets[p] += 1
        # the Kafka timestamp is strictly increasing, so the pipeline's
        # (timestamp, offset) arrival order is the changelog order
        ts = BASE_US + np.arange(n, dtype=np.int64) * 1000
        self.input = kafka_table(values, ts, part, offs,
                                 keys=[str(k) for k in ids])
        self.changelog = pa.table(
            {"seq": np.arange(n), "id": ids, "op": ops, "balance": bals,
             "version": vers, "name": names}
        )
        self.value_bytes = np.array([len(v) for v in values])

    def setup(self) -> None:
        from pyspark.sql import types as T

        from iceberg_kafka_connect_spark.config import SinkConfig, TableConfig
        from iceberg_kafka_connect_spark.streaming import SinkPipeline
        from iceberg_kafka_connect_spark.transforms import debezium_transform

        self.generate()
        self.fresh_warehouse()
        row = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("balance", T.LongType()),
                T.StructField("version", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        )
        envelope = T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("before", row),
                T.StructField("after", row),
                T.StructField(
                    "source",
                    T.StructType(
                        [
                            T.StructField("db", T.StringType()),
                            T.StructField("schema", T.StringType()),
                            T.StructField("table", T.StringType()),
                        ]
                    ),
                ),
                T.StructField("ts_ms", T.LongType()),
            ]
        )
        cfg = SinkConfig(
            tables=[TableConfig("default.accounts", id_columns=["id"])],
            cdc_field="_cdc.op",
            upsert_mode=True,
            auto_create=True,
        )
        self.pipe = SinkPipeline(
            self.catalog, cfg, "ingestbench-cdc",
            value_schema=envelope,
            transforms=[self.wrap("transforms.debezium", debezium_transform())],
        )
        warm = self.spark.createDataFrame(self.input.slice(0, self.BATCH))
        self.warm_up(warm)

    def table_names(self):
        return ["default.accounts"]

    def run(self) -> None:
        nb = self.n_batches()
        fresh = []
        t0 = time.perf_counter()
        for i in range(1, nb + 1):
            lo = i * self.BATCH
            df = self.spark.createDataFrame(self.input.slice(lo, self.BATCH))
            self.runner.batch(self.pipe, df, i)
            fresh.append(np.full(self.BATCH, time.perf_counter() - t0))
            self.batch_records.append(self.BATCH)
            if i % self.READ_EVERY == 0:
                self.read_results.append(
                    (lo + self.BATCH, self.runner.read(self.reader, f"b{i}"))
                )
        self.phase_s = time.perf_counter() - t0
        self.timed_records = nb * self.BATCH
        # the changelog is a backlog present when the phase starts
        self.freshness = np.concatenate(fresh)
        self.input_bytes = int(self.value_bytes.sum())
        self.bytes_stored = dir_bytes(self.warehouse)

    def reader(self):
        """The fixed reader query: count and column sums of the live
        table, through merge-on-read."""
        from pyspark.sql import functions as F

        t = self.catalog.load_table("default.accounts")
        r = (
            t.read(self.spark)
            .agg(F.count("*"), F.sum("id"), F.sum("balance"),
                 F.sum("version"))
            .collect()[0]
        )
        return tuple(int(v or 0) for v in r)

    def properties(self) -> dict:
        return {
            "record_bytes_mean": float(self.value_bytes.mean()),
            "key_skew_exponent": self.ZIPF_S,
            "key_space": self.KEYS,
            "records_per_batch_mean": float(self.BATCH),
            "kafka_partitions": PARTITIONS,
            "tables_per_batch": 1,
            "reads": len(self.read_results),
        }


# ======================================================= backlog_catchup
AVRO_SCHEMA = {
    "type": "record",
    "name": "event",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "ts",
         "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "event_type", "type": "string"},
        {"name": "user", "type": "string"},
        {"name": "amount", "type": "long"},
        {"name": "payload", "type": "string"},
    ],
}


def _varints(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Avro longs (zigzag varints) for an int64 array: a (n, 10) byte
    matrix and the byte count of each row."""
    z = ((x.astype(np.int64) << 1) ^ (x.astype(np.int64) >> 63)).view(
        np.uint64
    )
    out = np.zeros((len(x), 10), np.uint8)
    lens = np.ones(len(x), np.int64)
    for i in range(10):
        low = (z & np.uint64(0x7F)).astype(np.uint8)
        z = z >> np.uint64(7)
        more = z > 0
        out[:, i] = low | (more.astype(np.uint8) << 7)
        lens += more
    return out, lens


def _avro_strings(chars: np.ndarray, lens: np.ndarray):
    """Avro strings from a (n, w) byte matrix holding ``lens`` bytes a row:
    the length varint followed by the bytes."""
    head, head_lens = _varints(lens)
    return [(head, head_lens), (chars, lens)]


def avro_records(fields: list[tuple[np.ndarray, np.ndarray]]) -> pa.Array:
    """Concatenate per-field (byte matrix, byte count) pairs row by row
    into one Arrow binary array."""
    mats = np.hstack([m for m, _ in fields])
    mask = np.hstack(
        [np.arange(m.shape[1])[None, :] < ln[:, None] for m, ln in fields]
    )
    sizes = mask.sum(axis=1)
    offsets = np.zeros(len(sizes) + 1, np.int32)
    np.cumsum(sizes, out=offsets[1:])
    data = mats[mask]
    return pa.Array.from_buffers(
        pa.binary(), len(sizes),
        [None, pa.py_buffer(offsets), pa.py_buffer(data)],
    )


class BacklogCatchup(Workload):
    name = "backlog_catchup"
    loop = "closed"
    BATCH = 40_000
    WARMUP = 2_000
    DAYS = 5  # event-time span of the backlog
    NOMINAL_BATCH_S = 3.0

    def n_batches(self) -> int:
        return max(2, round(self.seconds / self.NOMINAL_BATCH_S))

    def generate(self, schema_id: int):
        n = self.WARMUP + self.BATCH * self.n_batches()
        rng = np.random.default_rng(self.seed)
        ids = np.arange(n, dtype=np.int64)
        ts = BASE_US + np.sort(rng.integers(0, self.DAYS * DAY_US, n))
        et = rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)
        users = rng.integers(0, 100_000, n)
        amount = rng.integers(0, 1_000_000, n)
        n_rows = np.full(n, 1, np.int64)
        header = np.frombuffer(
            b"\x00" + schema_id.to_bytes(4, "big"), np.uint8
        )
        names = [e.encode() for e in EVENT_TYPES]
        width = max(len(b) for b in names)
        vocab = np.zeros((len(names), width), np.uint8)
        for i, b in enumerate(names):
            vocab[i, : len(b)] = np.frombuffer(b, np.uint8)
        name_lens = np.array([len(b) for b in names])[et]
        digits = (users[:, None] // 10 ** np.arange(5, -1, -1)) % 10 + 48
        user = np.hstack([np.full((n, 1), ord("u")), digits]).astype(np.uint8)
        plen = rng.integers(20, 60, n)
        text = LETTERS[rng.integers(0, len(LETTERS), (n, 60))]
        values = avro_records(
            [(np.tile(header, (n, 1)), n_rows * 5), _varints(ids),
             _varints(ts)]
            + _avro_strings(vocab[et], name_lens)
            + _avro_strings(user, n_rows * 7)
            + [_varints(amount)]
            + _avro_strings(text, plen)
        )
        self.input = kafka_table(values, ts, ids % PARTITIONS,
                                 ids // PARTITIONS)
        self.oracle_rows = pa.table(
            {"event_type": np.array(EVENT_TYPES)[et], "ts": ts,
             "amount": amount}
        )
        self.value_bytes = pc.binary_length(values).to_numpy()

    def setup(self) -> None:
        from pyspark.sql import types as T

        from iceberg_kafka_connect_spark.config import SinkConfig
        from iceberg_kafka_connect_spark.sources.confluent import (
            value_converter_from_properties,
        )
        from iceberg_kafka_connect_spark.sources.registry import (
            SchemaRegistryClient,
            SchemaRegistryServer,
        )
        from iceberg_kafka_connect_spark.streaming import SinkPipeline

        self.close()
        self.registry = SchemaRegistryServer()
        self.registry_requests = 0
        handler = self.registry._httpd.RequestHandlerClass
        get = handler.do_GET

        def counted_get(h):
            self.registry_requests += 1
            return get(h)

        handler.do_GET = counted_get
        sid = SchemaRegistryClient(self.registry.uri).register(
            "events-value", AVRO_SCHEMA
        )
        self.generate(sid)
        self.fresh_warehouse()
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("user", T.StringType()),
                T.StructField("amount", T.LongType()),
                T.StructField("payload", T.StringType()),
            ]
        )
        cfg = SinkConfig(
            dynamic_enabled=True,
            route_field="event_type",
            auto_create=True,
            auto_create_partition_by=["day(ts)"],
            errors_tolerance="all",
            dlq_table="default.dlq",
        )
        conv = value_converter_from_properties(
            {
                "value.converter": "io.confluent.connect.avro.AvroConverter",
                "value.converter.schema.registry.url": self.registry.uri,
                "errors.tolerance": "all",
            }
        )
        self.pipe = SinkPipeline(
            self.catalog, cfg, "ingestbench-backlog",
            value_schema=schema,
            value_converter=self.wrap("sources.decode", conv),
        )
        warm = self.spark.createDataFrame(self.input.slice(0, self.WARMUP))
        self.warm_up(warm)

    def close(self) -> None:
        reg = getattr(self, "registry", None)
        if reg is not None:
            reg.close()
            self.registry = None

    def table_names(self):
        return [f"default.{e}" for e in EVENT_TYPES]

    def run(self) -> None:
        nb = self.n_batches()
        fresh = []
        self.registry_requests = 0
        t0 = time.perf_counter()
        for i in range(1, nb + 1):
            lo = self.WARMUP + (i - 1) * self.BATCH
            df = self.spark.createDataFrame(self.input.slice(lo, self.BATCH))
            self.runner.batch(self.pipe, df, i)
            # the whole backlog is present when the phase starts
            fresh.append(np.full(self.BATCH, time.perf_counter() - t0))
            self.batch_records.append(self.BATCH)
        self.phase_s = time.perf_counter() - t0
        self.timed_records = nb * self.BATCH
        self.freshness = np.concatenate(fresh)
        self.input_bytes = int(self.value_bytes.sum())
        self.bytes_stored = dir_bytes(self.warehouse)
        self.read_results.append(
            (len(self.input), self.runner.read(self.reader, "post"))
        )

    def reader(self):
        """The fixed reader query: per table and day, count and amount sum,
        as one query over all routed tables."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        parts = [
            self.catalog.load_table(name)
            .read(self.spark)
            .groupBy(day_col().alias("day"))
            .agg(F.count("*").alias("n"), F.sum("amount").alias("amount"))
            .select(F.lit(name.split(".")[1]).alias("table"), "day", "n",
                    "amount")
            for name in self.table_names()
        ]
        rows = functools.reduce(DataFrame.unionByName, parts).collect()
        return sorted((r[0],) + tuple(int(v) for v in r[1:]) for r in rows)

    def properties(self) -> dict:
        ts = self.oracle_rows.column("ts").to_numpy()
        et = self.oracle_rows.column("event_type").to_numpy()
        parts, tables = [], []
        for i in range(self.n_batches()):
            sl = slice(self.WARMUP + i * self.BATCH,
                       self.WARMUP + (i + 1) * self.BATCH)
            pairs = set(zip(et[sl].tolist(), (ts[sl] // DAY_US).tolist()))
            parts.append(len(pairs))
            tables.append(len({p[0] for p in pairs}))
        return {
            "record_bytes_mean": float(self.value_bytes.mean()),
            "key_skew_exponent": 0.0,
            "event_type_weights": list(EVENT_WEIGHTS),
            "records_per_batch_mean": float(self.BATCH),
            "kafka_partitions": PARTITIONS,
            "tables_per_batch": statistics.mean(tables),
            "table_day_partitions_per_batch": statistics.mean(parts),
        }


WORKLOADS = {
    w.name: w for w in (StreamFreshness, CdcUpsertRead, BacklogCatchup)
}
