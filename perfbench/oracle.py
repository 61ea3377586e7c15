"""Independent oracle: replay the batch files through DuckDB.

The envelopes are parsed with DuckDB's JSON functions (not Spark's),
each batch is reduced last-writer-wins by ``(ts_ms, offset)`` and
merged into a keyed state table by the same order, and tombstones are
dropped at read time.  The state after each batch answers the fixed
read; the state after the last batch is hashed and compared with what
the sink serves.
"""

from __future__ import annotations

import hashlib

import duckdb

_OPS = {
    "pg": {"c": "insert", "u": "update", "d": "delete", "r": "load"},
    "mongo": {"insert": "insert", "update": "update", "replace": "update", "delete": "delete"},
    "dms": {"load": "load", "insert": "insert", "update": "update", "delete": "delete"},
}


def _op_case(col: str, mapping: dict[str, str]) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"CASE {col} {whens} ELSE {col} END"


def _changes_sql(envelope: str, path: str) -> str:
    src = f"(SELECT value::JSON AS j, \"offset\" AS off FROM read_parquet('{path}'))"
    if envelope == "pg":
        return f"""
        SELECT j->'source'->>'db' AS db, j->'source'->>'table' AS tbl,
               CASE WHEN j->>'after' IS NOT NULL
                    THEN (j->>'after')::JSON->>'id'
                    ELSE (j->>'before')::JSON->>'id' END AS key,
               (j->'source'->>'ts_ms')::BIGINT AS ts_ms, off,
               {_op_case("j->>'op'", _OPS["pg"])} AS op,
               coalesce(j->>'after', j->>'before') AS payload
        FROM {src}"""
    if envelope == "mongo":
        return f"""
        SELECT j->'ns'->>'db' AS db, j->'ns'->>'coll' AS tbl,
               (j->>'documentKey')::JSON->>'_id' AS key,
               (j->>'ts_ms')::BIGINT AS ts_ms, off,
               {_op_case("j->>'operationType'", _OPS["mongo"])} AS op,
               j->>'fullDocument' AS payload
        FROM {src}"""
    if envelope == "dms":
        return f"""
        SELECT j->'metadata'->>'schema-name' AS db,
               j->'metadata'->>'table-name' AS tbl,
               (j->>'data')::JSON->>'id' AS key,
               epoch_us(strptime(j->'metadata'->>'timestamp',
                                 '%Y-%m-%dT%H:%M:%S.%fZ')) // 1000 AS ts_ms,
               off,
               {_op_case("j->'metadata'->>'operation'", _OPS["dms"])} AS op,
               j->>'data' AS payload
        FROM {src}
        WHERE j->'metadata'->>'record-type' = 'data'"""
    raise ValueError(envelope)


def row_hash(rows) -> tuple[int, str]:
    """Order-independent (count, hash) of (db, table, key, op, payload)."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join("" if x is None else str(x) for x in r).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


class Oracle:
    def __init__(self, envelope: str):
        self.envelope = envelope
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TABLE state (db VARCHAR, tbl VARCHAR, key VARCHAR, ts_ms BIGINT,"
            " off BIGINT, op VARCHAR, payload VARCHAR, PRIMARY KEY (db, tbl, key))"
        )

    def apply(self, paths: list[str]) -> dict[str, tuple[int, int]]:
        """Merge one micro-batch (its files); return per-table
        (survivors, survivor payload bytes) of the batch's own LWW."""
        body = " UNION ALL ".join(_changes_sql(self.envelope, p) for p in paths)
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE batch AS
            SELECT db, tbl, key, ts_ms, off, op, payload FROM (
              SELECT *, row_number() OVER (PARTITION BY db, tbl, key
                                           ORDER BY ts_ms DESC, off DESC) AS rn
              FROM ({body})) WHERE rn = 1"""
        )
        self.con.execute(
            """INSERT OR REPLACE INTO state
            SELECT b.* FROM batch b LEFT JOIN state s USING (db, tbl, key)
            WHERE s.key IS NULL OR b.ts_ms > s.ts_ms
               OR (b.ts_ms = s.ts_ms AND b.off > s.off)"""
        )
        rows = self.con.execute(
            "SELECT db || '.' || tbl, count(*), sum(length(coalesce(payload, '')))"
            " FROM batch GROUP BY 1"
        ).fetchall()
        return {t: (int(n), int(b)) for t, n, b in rows}

    def reads(self) -> dict[str, tuple]:
        """The fixed read of every table: (rows, payload chars, max ts)."""
        rows = self.con.execute(
            "SELECT db || '.' || tbl, count(*), sum(length(payload)), max(ts_ms)"
            " FROM state WHERE op IS DISTINCT FROM 'delete' GROUP BY 1"
        ).fetchall()
        return {t: (int(n), int(b or 0), int(m)) for t, n, b, m in rows}

    def live_hash(self) -> tuple[int, str]:
        return row_hash(
            self.con.execute(
                "SELECT db, tbl, key, op, payload FROM state"
                " WHERE op IS DISTINCT FROM 'delete'"
            ).fetchall()
        )
