"""Seeded envelope generators: one parquet batch file per micro-batch.

Each file holds rows of the raw stream shape ``(value, offset,
partition, timestamp)`` that ``sources.streams.file_stream`` reads; the
``value`` strings are Debezium-PG, Debezium-Mongo or DMS envelopes.
Offsets are global and strictly increasing across files, so
``(ts_ms, offset)`` is a total order for last-writer-wins.

Timestamps advance by one second per batch with 1.5 s of jitter, so
neighbouring batches overlap and some events arrive late.  The same
``(workload, seed)`` gives byte-identical rows; :func:`digest` proves it.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import itertools
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_MS = 1_700_000_000_000
_SCHEMA = pa.schema(
    [
        ("value", pa.string()),
        ("offset", pa.int64()),
        ("partition", pa.int32()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
_WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf")


def _payload(rng: random.Random, key: int) -> dict:
    return {
        "id": key,
        "qty": rng.randint(0, 10_000),
        "price": rng.randint(100, 99_999) / 100,
        "tag": rng.choice(_WORDS),
        "note": rng.choice(_WORDS) + "-" + str(rng.randint(0, 999_999)),
    }


def _pg(rng, db, table, key, op, ts_ms) -> str:
    image = json.dumps(_payload(rng, key))
    return json.dumps(
        {
            "before": json.dumps({"id": key}) if op in ("u", "d") else None,
            "after": None if op == "d" else image,
            "source": {"db": db, "table": table, "ts_ms": ts_ms, "connector": "postgresql"},
            "op": op,
            "ts_ms": ts_ms,
        }
    )


_MONGO_OPS = {"r": "insert", "c": "insert", "u": "update", "d": "delete"}


def _mongo(rng, db, table, key, op, ts_ms) -> str:
    mop = _MONGO_OPS[op]
    if mop == "update" and rng.random() < 0.3:
        mop = "replace"
    return json.dumps(
        {
            "_id": f"{table}:{key}:{ts_ms}",
            "operationType": mop,
            "fullDocument": None if op == "d" else json.dumps(_payload(rng, key)),
            "ns": {"db": db, "coll": table},
            "documentKey": json.dumps({"_id": key}),
            "ts_ms": ts_ms,
        }
    )


_DMS_OPS = {"r": "load", "c": "insert", "u": "update", "d": "delete"}


def _dms(rng, db, table, key, op, ts_ms) -> str:
    micros = ts_ms * 1000 + rng.randint(0, 999)
    stamp = dt.datetime.fromtimestamp(micros // 1_000_000, dt.timezone.utc)
    return json.dumps(
        {
            "data": json.dumps(_payload(rng, key)),
            "metadata": {
                "timestamp": stamp.strftime("%Y-%m-%dT%H:%M:%S.")
                + f"{micros % 1_000_000:06d}Z",
                "record-type": "data",
                "operation": _DMS_OPS[op],
                "partition-key-type": "schema-table",
                "schema-name": db,
                "table-name": table,
            },
        }
    )


ENVELOPES = {"pg": _pg, "mongo": _mongo, "dms": _dms}


class Generator:
    """Writes batch files for one workload spec (see ``workloads.py``)."""

    def __init__(self, spec, seed: int):
        self.spec = spec
        self.rng = random.Random(f"{spec.name}:{seed}")
        self.offset = 0
        self.batch_no = 0
        self.sha = hashlib.sha256()
        self.tables = [f"{spec.table_prefix}{i:02d}" for i in range(spec.tables)]
        self._zipf_cdf = None
        if spec.zipf_s:
            w = [1.0 / (k + 1) ** spec.zipf_s for k in range(spec.keys_per_table)]
            tot = sum(w)
            self._zipf_cdf = [c / tot for c in itertools.accumulate(w)]

    def _key(self) -> int:
        if self._zipf_cdf is None:
            return self.rng.randrange(self.spec.keys_per_table)
        # rank r -> a scattered key so hot keys are not all adjacent
        r = bisect.bisect_left(self._zipf_cdf, self.rng.random())
        return (r * 7919) % self.spec.keys_per_table

    def _op(self) -> str:
        x = self.rng.random()
        if x < self.spec.delete_share:
            return "d"
        if x < self.spec.delete_share + self.spec.insert_share:
            return "c"
        return "u"

    def _write(self, path: str, events: list[tuple[str, str, int, str]]) -> int:
        """events: (db, table, key, op); one file = one micro-batch."""
        make = ENVELOPES[self.spec.envelope]
        base = BASE_TS_MS + self.batch_no * 1000
        values, offsets = [], []
        for db, table, key, op in events:
            ts_ms = base + self.rng.randint(0, 1499)
            values.append(make(self.rng, db, table, key, op, ts_ms))
            offsets.append(self.offset)
            self.sha.update(f"{self.offset}\x00{values[-1]}\x01".encode())
            self.offset += 1
        self.batch_no += 1
        n = len(values)
        stamp = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        tbl = pa.Table.from_arrays(
            [
                pa.array(values, pa.string()),
                pa.array(offsets, pa.int64()),
                pa.array([0] * n, pa.int32()),
                pa.array([stamp] * n, pa.timestamp("us", tz="UTC")),
            ],
            schema=_SCHEMA,
        )
        tmp = path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        return n

    def seed_file(self, d: str) -> str:
        """Initial load ('r' snapshot events) of every seeded key."""
        events = [
            (self.spec.db, t, k, "r")
            for t in self.tables
            for k in range(self.spec.seed_keys)
        ]
        path = os.path.join(d, f"b{self.batch_no:06d}.parquet")
        self._write(path, events)
        return path

    def change_file(self, d: str) -> tuple[str, int]:
        """One micro-batch of changes spread over every table."""
        events = [
            (self.spec.db, self.rng.choice(self.tables), self._key(), self._op())
            for _ in range(self.spec.batch_events)
        ]
        path = os.path.join(d, f"b{self.batch_no:06d}.parquet")
        return path, self._write(path, events)

    def digest(self) -> str:
        return self.sha.hexdigest()[:16]


def stamp_order(paths: list[str]) -> None:
    """Give the files strictly increasing mtimes (1 s apart, ending
    now): the file source orders micro-batches by modification time."""
    import time

    now = int(time.time())
    for i, p in enumerate(paths):
        t = now - len(paths) + i
        os.utime(p, (t, t))
