"""Correctness gate: each workload's output against an oracle computed by
DuckDB from the generated input alone. Every function returns a list of
mismatches; an empty list means the output is correct."""

from __future__ import annotations

import json

import duckdb

from workloads import DAY_US

OFFSETS_PROP = "kafka.connect.offsets"


def _con(**tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return con


def _int_rows(rows) -> list[tuple]:
    return sorted(
        tuple(v if isinstance(v, str) else int(v) for v in r) for r in rows
    )


def _reads_match(w, expected_at) -> list[str]:
    errors = []
    for n_records, got in w.read_results:
        want = expected_at(n_records)
        if got != want:
            errors.append(
                f"reader query after {n_records} records: got {got!r:.200}, "
                f"oracle {want!r:.200}"
            )
    return errors


def _newest_offsets(table) -> dict[str, int]:
    """Per topic-partition next offset from the newest snapshot on the
    main ancestry that records that partition."""
    meta = table.metadata()
    by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
    sid = meta["refs"].get("main")
    out: dict[str, int] = {}
    while sid is not None:
        snap = by_id[sid]
        for tp, nxt in json.loads(
            snap["summary"].get(OFFSETS_PROP, "{}")
        ).items():
            out.setdefault(tp, int(nxt))
        sid = snap["parent"]
    return out


def check_stream(w) -> list[str]:
    con = _con(rows=w.oracle_rows)
    per_day = _int_rows(
        con.execute(
            f"SELECT ts // {DAY_US}, count(*), sum(id), sum(amount) "
            "FROM rows GROUP BY 1"
        ).fetchall()
    )
    errors = _reads_match(w, lambda n: per_day)
    t = w.catalog.load_table("default.events")
    want_offsets = {
        f"events-{p}": int(o) + 1
        for p, o in con.execute(
            'SELECT "partition", max("offset") FROM rows GROUP BY 1'
        ).fetchall()
    }
    got_offsets = _newest_offsets(t)
    if got_offsets != want_offsets:
        errors.append(f"offsets {got_offsets} != input {want_offsets}")
    # exactly-once: replaying the final batch id adds no snapshot. A read
    # sees exactly the head snapshot's files, so an unchanged head and an
    # unchanged snapshot list mean no row was added either.
    lo, n, bid = w.last_batch
    before = [s["snapshot_id"] for s in t.snapshots()]
    w.pipe.process_batch(w.spark.createDataFrame(w.input.slice(lo, n)), bid)
    after = [s["snapshot_id"] for s in t.snapshots()]
    if after != before:
        errors.append(
            f"replay of batch {bid} committed {len(after) - len(before)} "
            "snapshot(s)"
        )
    rows = sum(r[1] for r in w.read_results[-1][1] or ())
    if rows != w.oracle_rows.num_rows:
        errors.append(f"{rows} rows != {w.oracle_rows.num_rows} input")
    return errors


_CDC_STATE = """
    SELECT id, balance, version, name FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
        FROM chg WHERE seq < {n}
    ) WHERE rn = 1 AND op <> 'd'
"""


def check_cdc(w) -> list[str]:
    con = _con(chg=w.changelog)

    def aggregate(n: int) -> tuple:
        r = con.execute(
            "SELECT count(*), coalesce(sum(id), 0), coalesce(sum(balance), 0),"
            f" coalesce(sum(version), 0) FROM ({_CDC_STATE.format(n=n)})"
        ).fetchone()
        return tuple(int(v) for v in r)

    errors = _reads_match(w, aggregate)
    n_final = w.BATCH * (1 + w.n_batches())
    want = _int_rows(con.execute(_CDC_STATE.format(n=n_final)).fetchall())
    t = w.catalog.load_table("default.accounts")
    got = _int_rows(
        t.read(w.spark).select("id", "balance", "version", "name").collect()
    )
    if got != want:
        missing = len(set(want) - set(got))
        extra = len(set(got) - set(want))
        errors.append(
            f"final table differs from last-wins oracle: {len(got)} rows vs "
            f"{len(want)}, {missing} missing, {extra} unexpected"
        )
    return errors


def check_backlog(w) -> list[str]:
    con = _con(rows=w.oracle_rows)
    want = _int_rows(
        con.execute(
            f"SELECT event_type, ts // {DAY_US}, count(*), sum(amount) "
            "FROM rows GROUP BY 1, 2"
        ).fetchall()
    )
    errors = _reads_match(w, lambda n: want)
    expected_tables = sorted(w.table_names())
    got_tables = sorted(w.catalog.list_tables())
    if got_tables != expected_tables:
        errors.append(
            f"tables {got_tables} != {expected_tables} (a DLQ table means "
            "malformed records)"
        )
    return errors


CHECKS = {
    "stream_freshness": check_stream,
    "cdc_upsert_read": check_cdc,
    "backlog_catchup": check_backlog,
}
