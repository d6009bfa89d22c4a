"""Seeded DTS change-history generator for the CDC benchmark.

One generator serves every workload. It walks a global event clock: each
event picks a key (a new one, or a live one chosen uniformly), and the key's
logical state decides the operation: a key that is not live is INSERTed, a
live key is UPDATEd or DELETEd. Every record is encoded
with the package's public wire encoder (`formats/wire.encode_record`), gets a
Kafka partition from a hash of its (table, key), and a strictly increasing
Kafka timestamp, so dense per-partition offsets follow each key's history.
HEARTBEAT records (no table, no images) are mixed in on every partition.

While generating, the consumed table's history is kept in plain Python; the
`Truth` it yields is what the benchmark's checks compare the program against.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

from flink_dts_connector_spark.datamodel.envelope import (
    ObjectType,
    OperationType,
    SourceType,
    ValueKind,
)
from flink_dts_connector_spark.formats.wire import CdcRecord, FieldDef, encode_record

#: bumped whenever the generated bytes change, so stale input caches miss
GEN_VERSION = 4
TOPIC = "dts-bench"
N_PARTITIONS = 4
BASE_MS = 1_700_000_000_000
DB = "shop"
TABLE = "orders"
SELECTED = f"{DB}.{TABLE}"
STATUSES = ("NEW", "PAID", "SHIPPED", "DONE", "HOLD")

NARROW_FIELDS = [
    FieldDef("k", "BIGINT", 8, False),
    FieldDef("grp", "INT", 3, True),
    FieldDef("status", "VARCHAR", 253, True),
    FieldDef("amount", "DECIMAL", 246, True),
]
#: the consumed table's row adds text, numeric and datetime columns a real
#: orders table carries; they make decode render ~4x the values of the
#: narrow row the foreign tables carry
WIDE_FIELDS = NARROW_FIELDS + [
    FieldDef("customer", "VARCHAR", 253, True),
    FieldDef("email", "VARCHAR", 253, True),
    FieldDef("city", "VARCHAR", 253, True),
    FieldDef("note", "TEXT", 252, True),
    FieldDef("qty", "BIGINT", 8, True),
    FieldDef("unit_price", "DECIMAL", 246, True),
    FieldDef("created", "DATETIME", 12, True),
    FieldDef("updated", "DATETIME", 12, True),
    FieldDef("channel", "VARCHAR", 253, True),
    FieldDef("version", "BIGINT", 8, True),
    FieldDef("sku", "VARCHAR", 253, True),
    FieldDef("region", "VARCHAR", 253, True),
]
_CITIES = ("Hangzhou", "Beijing", "Shenzhen", "Chengdu", "Wuhan", "Xi'an", "Nanjing")
_CHANNELS = ("web", "app", "store", "partner")
_WORDS = ("gift", "express", "fragile", "bulk", "return", "priority", "standard", "eco")


GROUPS = 64  # grp = k % GROUPS
P_NEW = 0.7  # share of events that take a new key; the rest pick a live one
P_DELETE = 0.1  # share of events on a live key that delete it
HEARTBEAT_EVERY = 400  # one heartbeat per partition every n events
STEP_MS = 7  # Kafka timestamp step between records


@dataclass(frozen=True)
class Spec:
    """Make-up of one workload's input."""

    name: str
    events: int  # change events of all tables (heartbeats come on top)
    selected_share: float = 1.0  # share of events on the consumed table
    foreign_tables: int = 0


SPECS = {
    "backfill": Spec("backfill", events=10_000),
    "tenant": Spec("tenant", events=24_000, selected_share=0.05, foreign_tables=20),
}


@dataclass
class Truth:
    """Ground truth for one drain of the whole input, from plain Python."""

    live: dict[int, tuple[int, str]]  # consumed table: k -> (amount cents, status)
    groups: dict[int, tuple[int, int]]  # grp -> (SUM cents, COUNT) over live rows
    n_insert: int
    n_update: int
    n_delete: int
    records: int  # wire records in the topic, heartbeats included
    wire_bytes: int
    # partition -> (last dense offset, whole second of its newest timestamp)
    last_record: dict[int, tuple[int, int]] = field(default_factory=dict)

    @property
    def changelog_rows(self) -> int:
        return self.n_insert + self.n_delete + 2 * self.n_update

    @property
    def table_events(self) -> int:
        return self.n_insert + self.n_update + self.n_delete

    def to_json(self) -> dict:
        return {
            "live": [[k, c, s] for k, (c, s) in sorted(self.live.items())],
            "groups": [[g, s, c] for g, (s, c) in sorted(self.groups.items())],
            "n_insert": self.n_insert, "n_update": self.n_update, "n_delete": self.n_delete,
            "records": self.records, "wire_bytes": self.wire_bytes,
            "last_record": {str(p): list(v) for p, v in self.last_record.items()},
        }

    @classmethod
    def from_json(cls, d: dict) -> "Truth":
        return cls(
            live={k: (c, s) for k, c, s in d["live"]},
            groups={g: (s, c) for g, s, c in d["groups"]},
            n_insert=d["n_insert"], n_update=d["n_update"], n_delete=d["n_delete"],
            records=d["records"], wire_bytes=d["wire_bytes"],
            last_record={int(p): tuple(v) for p, v in d["last_record"].items()},
        )


def partition_of(table_id: int, k: int) -> int:
    """Key-hash partitioning: every event of one (table, key) lands on one
    partition, and keys spread evenly over the partitions."""
    h = (k * 0x9E3779B97F4A7C15 + table_id * 0xC2B2AE3D27D4EB4F) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 29
    h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    return (h >> 32) % N_PARTITIONS


def _cents_text(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def _datetime(ts: int) -> dict:
    d = dt.datetime.fromtimestamp(ts, dt.timezone.utc)
    return {"y": d.year, "mo": d.month, "d": d.day, "h": d.hour, "mi": d.minute, "s": d.second}


def _chars(s: str):
    return (ValueKind.CHARACTER, ("utf8", s.encode()))


class _Row:
    """One key's current image, as the source database holds it."""

    __slots__ = ("k", "grp", "status", "cents", "extra")

    def __init__(self, k, grp, status, cents, extra):
        self.k, self.grp, self.status, self.cents, self.extra = k, grp, status, cents, extra

    def image(self, wide: bool) -> list:
        img = [
            (ValueKind.INTEGER, self.k),
            (ValueKind.INTEGER, self.grp),
            _chars(self.status),
            (ValueKind.DECIMAL, _cents_text(self.cents)),
        ]
        if wide:
            e = self.extra
            img += [
                _chars(e["customer"]),
                _chars(e["email"]),
                _chars(e["city"]),
                (ValueKind.TEXT_OBJECT, (ObjectType.TEXT, e["note"])),
                (ValueKind.INTEGER, e["qty"]),
                (ValueKind.DECIMAL, _cents_text(e["unit_cents"])),
                (ValueKind.DATETIME, _datetime(e["created"])),
                (ValueKind.DATETIME, _datetime(e["updated"])),
                _chars(e["channel"]),
                (ValueKind.INTEGER, e["version"]),
                _chars(e["sku"]),
                _chars(e["region"]),
            ]
        return img


def generate(spec: Spec, seed: int):
    """Return (rows, truth): rows are (value bytes, partition, ts_ms) in
    Kafka append order; truth is the consumed table's ground truth."""
    rnd = random.Random(f"{spec.name}/{seed}")
    n_tables = 1 + spec.foreign_tables
    # per table: live rows, the key order for uniform live-key picks, next key
    live: list[dict[int, _Row]] = [dict() for _ in range(n_tables)]
    keys: list[list[int]] = [[] for _ in range(n_tables)]
    pos: list[dict[int, int]] = [dict() for _ in range(n_tables)]
    next_key = [1 + rnd.randrange(1000) for _ in range(n_tables)]
    pk_tags = {"pk_uk_info": '{"PRIMARY": ["k"]}'}

    rows: list[tuple[bytes, int, int]] = []
    n_ins = n_upd = n_del = 0
    wire_bytes = 0
    last: dict[int, tuple[int, int]] = {}
    counts = [0] * N_PARTITIONS
    ts_ms = BASE_MS + rnd.randrange(1000)
    rid = 1_000_000 + rnd.randrange(1_000_000)

    def emit(rec: CdcRecord, part: int) -> None:
        nonlocal wire_bytes, ts_ms
        value = encode_record(rec)
        rows.append((value, part, ts_ms))
        wire_bytes += len(value)
        off = counts[part]
        counts[part] += 1
        last[part] = (off, ts_ms // 1000)
        ts_ms += STEP_MS

    def new_row(t: int, k: int, ts: int) -> _Row:
        extra = None
        if t == 0:
            extra = {
                "customer": f"cust-{rnd.randrange(10**6):06d}",
                "email": f"user{rnd.randrange(10**7)}@example.com",
                "city": rnd.choice(_CITIES),
                "note": " ".join(rnd.choice(_WORDS) for _ in range(rnd.randrange(3, 9))),
                "qty": rnd.randrange(1, 50),
                "unit_cents": rnd.randrange(100, 100_000),
                "created": ts,
                "updated": ts,
                "channel": rnd.choice(_CHANNELS),
                "version": 1,
                "sku": f"SKU-{rnd.randrange(10**5):05d}-{rnd.choice('ABCDEFGH')}",
                "region": f"cn-{rnd.choice(('east', 'north', 'south', 'west'))}-{rnd.randrange(1, 9)}",
            }
        return _Row(k, k % GROUPS, rnd.choice(STATUSES), rnd.randrange(100, 10_000_000), extra)

    for i in range(spec.events):
        if i % HEARTBEAT_EVERY == 0:
            for p in range(N_PARTITIONS):
                rid += 1
                emit(
                    CdcRecord(
                        id=rid, ts=ts_ms // 1000, operation=OperationType.HEARTBEAT,
                        db="", tbl="", source_type=SourceType.MySQL,
                    ),
                    p,
                )
        t = 0 if rnd.random() < spec.selected_share else 1 + rnd.randrange(spec.foreign_tables)
        if not keys[t] or rnd.random() < P_NEW:
            k = next_key[t]
            next_key[t] += 1 + rnd.randrange(3)
        else:
            k = keys[t][rnd.randrange(len(keys[t]))]
        ts = ts_ms // 1000
        cur = live[t].get(k)
        wide = t == 0
        if cur is None:
            op, before = OperationType.INSERT, None
            cur = new_row(t, k, ts)
            live[t][k] = cur
            pos[t][k] = len(keys[t])
            keys[t].append(k)
            after = cur.image(wide)
        elif rnd.random() < P_DELETE:
            op, before, after = OperationType.DELETE, cur.image(wide), None
            del live[t][k]
            # swap-remove keeps uniform live-key picks O(1)
            j, moved = pos[t].pop(k), keys[t].pop()
            if moved != k:
                keys[t][j] = moved
                pos[t][moved] = j
        else:
            op, before = OperationType.UPDATE, cur.image(wide)
            cur.cents = max(1, cur.cents + rnd.randrange(-50_000, 50_000))
            if rnd.random() < 0.5:
                cur.status = rnd.choice(STATUSES)
            if cur.extra is not None:
                cur.extra["updated"] = ts
                cur.extra["version"] += 1
            after = cur.image(wide)
        rid += 1
        db, tbl = (DB, TABLE) if t == 0 else (f"tenant_{t:02d}", f"t_{t:02d}")
        emit(
            CdcRecord(
                id=rid, ts=ts, operation=op, db=db, tbl=tbl, transaction_id=f"tx-{rid}",
                source_type=SourceType.MySQL, tags=dict(pk_tags),
                fields=list(WIDE_FIELDS if wide else NARROW_FIELDS),
                before=before, after=after, source_position=f"mysql-bin.000042:{rid}",
            ),
            partition_of(t, k),
        )
        if t == 0:
            if op == OperationType.INSERT:
                n_ins += 1
            elif op == OperationType.UPDATE:
                n_upd += 1
            else:
                n_del += 1

    groups: dict[int, list[int]] = {}
    for r in live[0].values():
        g = groups.setdefault(r.grp, [0, 0])
        g[0] += r.cents
        g[1] += 1
    truth = Truth(
        live={k: (r.cents, r.status) for k, r in live[0].items()},
        groups={g: (s, c) for g, (s, c) in groups.items()},
        n_insert=n_ins, n_update=n_upd, n_delete=n_del,
        records=len(rows), wire_bytes=wire_bytes,
        last_record=last,
    )
    return rows, truth

