"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same change script, the same pgoutput transcript, the same envelope
batches and the same bootstrap tail.  The program under test only ever
sees the generated files.

A *change* is the benchmark's own record of one row-level WAL event:

    Change(lsn, op, key, old_key, row, toast)

``op`` is one of c (insert), u (update, key-only before image), u_pk
(key-changing update), d (delete) and t (truncate).  ``row`` holds every
column of the after image; ``toast`` names the columns an update left
unchanged (pgoutput's 'u' datum), whose values in ``row`` are ignored.
"""

from __future__ import annotations

import datetime as dt
import random
import struct
from dataclasses import dataclass, field
from decimal import Decimal

TABLE_NS = "public"
TABLE_NAME = "bench_items"
QNAME = f"{TABLE_NS}.{TABLE_NAME}"
KEY = "id"
# (name, pg type, typmod, key flag, pg_type OID)
COLUMNS = [
    ("id", "int4", -1, 1, 23),
    ("qty", "int8", -1, 0, 20),
    ("price", "numeric", ((12 << 16) | 2) + 4, 0, 1700),
    ("note", "text", -1, 0, 25),
    ("updated_at", "timestamptz", -1, 0, 1184),
]
COLUMN_NAMES = [c[0] for c in COLUMNS]
TOAST_COL = "note"
RELID = 16401
_PG_EPOCH = dt.datetime(2000, 1, 1)
_T0 = dt.datetime(2024, 3, 1)
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


@dataclass
class Change:
    lsn: int
    op: str
    key: int | None = None
    old_key: int | None = None
    row: dict | None = None
    toast: list[str] = field(default_factory=list)
    xid: int = 0
    ts: dt.datetime = _T0


def lsn_text(lsn: int) -> str:
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def relation_struct():
    """The Spark row schema the program derives for the benchmark table."""
    from creek_spark.types.pgtypes import PGColumn, PGRelation, pg_relation_to_struct

    rel = PGRelation(
        TABLE_NS,
        TABLE_NAME,
        [PGColumn(n, t, typmod, flags) for n, t, typmod, flags, _ in COLUMNS],
    )
    return pg_relation_to_struct(rel)


class ChangeScript:
    """Draws PG-legal changes: inserts only for absent keys, updates and
    deletes only for live keys, key changes only onto absent keys."""

    def __init__(self, seed: int, *, key_space: int, lsn0: int = 0x1000000):
        self.rng = random.Random(seed)
        self.key_space = key_space
        self.lsn = lsn0
        self.xid = 5000
        self.ts = _T0
        self.live: dict[int, dict] = {}
        # live keys as a list plus positions: O(1) uniform draw and removal
        self._keys: list[int] = []
        self._pos: dict[int, int] = {}
        self.hot = sorted(self.rng.sample(range(1, key_space + 1), max(1, key_space // 20)))

    def _row(self, key: int) -> dict:
        r = self.rng
        return {
            "id": key,
            "qty": r.randrange(-10**12, 10**12),
            "price": Decimal(r.randrange(-10**9, 10**9)).scaleb(-2),
            "note": " ".join(r.choice(_WORDS) for _ in range(r.randrange(1, 12))),
            "updated_at": self.ts + dt.timedelta(microseconds=r.randrange(10**6)),
        }

    def _next_lsn(self) -> int:
        self.lsn += self.rng.randrange(0x28, 0x200)
        return self.lsn

    def _absent_key(self) -> int:
        for _ in range(64):
            k = self.rng.randrange(1, self.key_space + 1)
            if k not in self.live:
                return k
        k = self.key_space + 1
        while k in self.live:
            k += 1
        return k

    def _live_key(self, skew: float) -> int:
        if skew and self.rng.random() < skew:
            for _ in range(8):
                k = self.rng.choice(self.hot)
                if k in self.live:
                    return k
        return self._keys[self.rng.randrange(len(self._keys))]

    def _put(self, k: int, row: dict) -> None:
        if k not in self.live:
            self._pos[k] = len(self._keys)
            self._keys.append(k)
        self.live[k] = row

    def _drop(self, k: int) -> None:
        del self.live[k]
        i = self._pos.pop(k)
        last = self._keys.pop()
        if last != k:
            self._keys[i] = last
            self._pos[last] = i

    def begin_tx(self) -> None:
        self.xid += 1
        self.ts += dt.timedelta(milliseconds=self.rng.randrange(1, 500))

    def change(self, mix: dict[str, float], *, skew: float = 0.0) -> Change:
        """One change drawn from ``mix`` (op → weight); falls back to an
        insert when the table is empty."""
        ops, weights = zip(*mix.items())
        op = self.rng.choices(ops, weights)[0]
        if not self.live or len(self.live) >= self.key_space:
            op = "c" if not self.live else "d"
        lsn = self._next_lsn()
        base = dict(lsn=lsn, xid=self.xid, ts=self.ts)
        if op == "c":
            k = self._absent_key()
            row = self._row(k)
            self._put(k, row)
            return Change(op="c", key=k, row=row, **base)
        if op in ("u", "toast"):
            k = self._live_key(skew)
            row = self._row(k)
            toast = []
            if op == "toast":
                row[TOAST_COL] = self.live[k][TOAST_COL]
                toast = [TOAST_COL]
            self._put(k, row)
            return Change(op="u", key=k, row=row, toast=toast, **base)
        if op == "u_pk":
            old = self._live_key(skew)
            k = self._absent_key()
            row = self._row(k)
            self._drop(old)
            self._put(k, row)
            return Change(op="u_pk", key=k, old_key=old, row=row, **base)
        if op == "d":
            k = self._live_key(skew)
            self._drop(k)
            return Change(op="d", key=k, **base)
        if op == "t":
            self.live.clear()
            self._keys.clear()
            self._pos.clear()
            return Change(op="t", **base)
        raise ValueError(op)


# -- pgoutput / XLogData transcript --------------------------------------

def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _text_datum(name: str, value) -> str:
    if name == "updated_at":
        return value.strftime("%Y-%m-%d %H:%M:%S.%f") + "+00"
    return str(value)


def _tuple(values: list[str | None | bytes]) -> bytes:
    out = struct.pack(">H", len(values))
    for v in values:
        if v is None:
            out += b"n"
        elif v is _UNCHANGED:
            out += b"u"
        else:
            b = v.encode()
            out += b"t" + struct.pack(">I", len(b)) + b
    return out


_UNCHANGED = object()


def _pg_micros(ts: dt.datetime) -> int:
    return (ts - _PG_EPOCH) // dt.timedelta(microseconds=1)


def relation_message() -> bytes:
    out = b"R" + struct.pack(">I", RELID) + _cstr(TABLE_NS) + _cstr(TABLE_NAME)
    out += b"d" + struct.pack(">H", len(COLUMNS))
    for name, _t, typmod, flags, oid in COLUMNS:
        out += struct.pack(">B", flags) + _cstr(name) + struct.pack(">Ii", oid, typmod)
    return out


def change_message(c: Change) -> bytes:
    def new_tuple() -> bytes:
        return _tuple([
            _UNCHANGED if n in c.toast else _text_datum(n, c.row[n])
            for n in COLUMN_NAMES
        ])

    def key_tuple(k: int) -> bytes:
        return _tuple([str(k) if n == KEY else None for n in COLUMN_NAMES])

    if c.op == "c":
        return b"I" + struct.pack(">I", RELID) + b"N" + new_tuple()
    if c.op == "u":
        return b"U" + struct.pack(">I", RELID) + b"N" + new_tuple()
    if c.op == "u_pk":
        return b"U" + struct.pack(">I", RELID) + b"K" + key_tuple(c.old_key) + b"N" + new_tuple()
    if c.op == "d":
        return b"D" + struct.pack(">I", RELID) + b"K" + key_tuple(c.key)
    if c.op == "t":
        return b"T" + struct.pack(">IB", 1, 0) + struct.pack(">I", RELID)
    raise ValueError(c.op)


def _xlog(lsn: int, payload: bytes, clock: int) -> str:
    return (b"w" + struct.pack(">QQq", lsn, lsn, clock) + payload).hex()


def _keepalive(lsn: int, clock: int) -> str:
    return (b"k" + struct.pack(">Qq?", lsn, clock, False)).hex()


REPLAY_MIX = {"c": 0.30, "u": 0.30, "toast": 0.10, "u_pk": 0.08, "d": 0.22}


@dataclass
class Transcript:
    lines: list[str]
    changes: list[Change]       # every change the primary sent, in order
    redelivered: int            # changes re-sent after the disconnect


def replay_transcript(seed: int, n_changes: int, *, key_space: int) -> Transcript:
    """A pgoutput replication session for one relation: transactions of
    1-40 changes, one truncate at ~40 %, keepalives, and a
    ``!disconnect`` after which the last transactions are re-sent."""
    s = ChangeScript(seed, key_space=key_space)
    rng = random.Random(seed ^ 0x5EED)
    lines: list[str] = []
    changes: list[Change] = []
    tx_starts: list[tuple[int, int]] = []  # (line index, change index)
    truncate_at = int(n_changes * 0.4)
    clock = 0
    first = True
    while len(changes) < n_changes:
        s.begin_tx()
        tx_starts.append((len(lines), len(changes)))
        n = min(rng.randrange(1, 41), n_changes - len(changes))
        tx: list[Change] = []
        for _ in range(n):
            if len(changes) + len(tx) == truncate_at:
                tx.append(s.change({"t": 1.0}))
            else:
                tx.append(s.change(REPLAY_MIX))
        begin_lsn = tx[0].lsn - 1
        commit_lsn = s._next_lsn()
        clock += 1_000_000
        lines.append(_xlog(begin_lsn, b"B" + struct.pack(">QqI", commit_lsn, _pg_micros(s.ts), s.xid), clock))
        if first:
            lines.append(_xlog(begin_lsn, relation_message(), clock))
            first = False
        for c in tx:
            lines.append(_xlog(c.lsn, change_message(c), clock))
        lines.append(_xlog(commit_lsn, b"C" + struct.pack(">BQQq", 0, commit_lsn, commit_lsn + 8, _pg_micros(s.ts)), clock))
        changes.extend(tx)
        if rng.random() < 0.05:
            lines.append(_keepalive(commit_lsn, clock))
    # connection drop: the server re-sends from the last ~10 % of the
    # transactions (the consumer had not acked them)
    li, ci = tx_starts[int(len(tx_starts) * 0.9)]
    tail = [ln for ln in lines[li:] if not ln.startswith("6b")]
    lines.append("!disconnect")
    lines.extend(tail)
    lines.append("!copydone")
    return Transcript(lines, changes, len(changes) - ci)


def write_transcript(path: str, t: Transcript) -> None:
    with open(path, "w") as f:
        f.write("\n".join(t.lines) + "\n")


# -- envelope files (staged-WAL batches) ---------------------------------

def _arrow_schema():
    import pyarrow as pa

    row = pa.struct([
        ("id", pa.int32()), ("qty", pa.int64()), ("price", pa.decimal128(12, 2)),
        ("note", pa.string()), ("updated_at", pa.timestamp("us", tz="UTC")),
    ])
    source = pa.struct([
        ("name", pa.string()), ("tx_at", pa.timestamp("us", tz="UTC")),
        ("db", pa.string()), ("schema", pa.string()), ("table", pa.string()),
        ("tx_id", pa.int64()), ("lsn", pa.string()),
    ])
    return pa.schema([
        ("fingerprint", pa.string()), ("source", source), ("op", pa.string()),
        ("sent_at", pa.timestamp("us", tz="UTC")),
        ("before", pa.struct([("id", pa.int32())])), ("after", row),
        ("unchanged_toast", pa.list_(pa.string())),
    ])


def envelope_record(c: Change, fingerprint: str) -> dict:
    """The envelope row the pgoutput decoder would emit for ``c``."""
    utc = dt.timezone.utc
    after = None
    if c.row is not None:
        after = {n: (None if n in c.toast else c.row[n]) for n in COLUMN_NAMES}
        after["updated_at"] = after["updated_at"].replace(tzinfo=utc)
    before = None
    if c.op in ("u", "d"):
        before = {"id": c.key}
    elif c.op == "u_pk":
        before = {"id": c.old_key}
    ts = c.ts.replace(tzinfo=utc)
    return {
        "fingerprint": fingerprint,
        "source": {"name": "creek-spark", "tx_at": ts, "db": "postgres",
                   "schema": TABLE_NS, "table": TABLE_NAME, "tx_id": c.xid,
                   "lsn": lsn_text(c.lsn)},
        "op": c.op, "sent_at": ts, "before": before, "after": after,
        "unchanged_toast": list(c.toast) or None,
    }


def write_envelope_file(path: str, changes: list[Change], fingerprint: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(
        [envelope_record(c, fingerprint) for c in changes], schema=_arrow_schema()
    )
    pq.write_table(table, path)
    return len(changes)


def preload_changes(seed: int, n_keys: int) -> tuple[ChangeScript, list[Change]]:
    """``n_keys`` inserts: the state a trickle consumer starts from."""
    s = ChangeScript(seed, key_space=n_keys * 2)
    s.begin_tx()
    return s, [s.change({"c": 1.0}) for _ in range(n_keys)]


# Batch sizes, one cycle: mostly a few to tens of changes, one in the
# thousands.  The shape is fixed (a run measures whole cycles); the seed
# draws keys, ops and values.
TRICKLE_SIZES = (3, 40, 2000)
# The first batches, applied untimed while the JIT warms up: small, since
# what warms is the per-batch path, not the data volume.
TRICKLE_WARMUP = (5, 2, 8)
TRICKLE_MIX = {"c": 0.2, "u": 0.45, "toast": 0.1, "u_pk": 0.05, "d": 0.2}


def trickle_batches(script: ChangeScript, n_batches: int, *, skew: float = 0.8) -> list[list[Change]]:
    out = []
    for i in range(n_batches):
        script.begin_tx()
        w = len(TRICKLE_WARMUP)
        size = TRICKLE_WARMUP[i] if i < w else TRICKLE_SIZES[(i - w) % len(TRICKLE_SIZES)]
        out.append([script.change(TRICKLE_MIX, skew=skew) for _ in range(size)])
    return out


# -- bootstrap: orders snapshot + Avro-framed change tail ----------------

ORDER_STATUS = ("F", "O", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def orders_rows(seed: int, n: int) -> list[tuple]:
    """TPC-H-shaped ``orders`` rows (the catalog's ``orders`` columns)."""
    rng = random.Random(seed ^ 0x0DE5)
    base = dt.datetime(1995, 1, 1)
    return [
        (
            k,
            rng.randrange(0, max(1, n // 10)),
            rng.choice(ORDER_STATUS),
            rng.randrange(100_000, 50_000_000) / 100.0,
            base + dt.timedelta(days=rng.randrange(0, 2400)),
            rng.choice(ORDER_PRIORITY),
        )
        for k in range(n)
    ]


BOOT_MIX = {"c": 0.25, "u": 0.5, "u_pk": 0.05, "d": 0.2}


def orders_tail(seed: int, rows: list[tuple], n_changes: int, lsn0: int) -> list[tuple[int, str, int | None, int | None, tuple | None]]:
    """A change stream on ``rows``' keys from ``lsn0`` on, as
    (lsn, op, key, old_key, row): inserts, updates, key changes and
    deletes.  The caller places the snapshot LSN inside it."""
    rng = random.Random(seed ^ 0x7A11)
    live = {r[0]: r for r in rows}
    live_list = list(live)
    next_key = len(rows)
    lsn = lsn0
    out = []
    ops, w = zip(*BOOT_MIX.items())
    for _ in range(n_changes):
        lsn += rng.randrange(0x28, 0x200)
        op = rng.choices(ops, w)[0]

        def fresh_row(k):
            return (k, rng.randrange(0, 15000), rng.choice(ORDER_STATUS),
                    rng.randrange(100_000, 50_000_000) / 100.0,
                    dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2400)),
                    rng.choice(ORDER_PRIORITY))

        if op == "c":
            k = next_key
            next_key += 1
            live[k] = fresh_row(k)
            live_list.append(k)
            out.append((lsn, "c", k, None, live[k]))
            continue
        while True:
            k = live_list[rng.randrange(len(live_list))]
            if k in live:
                break
        if op == "u":
            live[k] = fresh_row(k)
            out.append((lsn, "u", k, None, live[k]))
        elif op == "u_pk":
            nk = next_key
            next_key += 1
            del live[k]
            live[nk] = fresh_row(nk)
            live_list.append(nk)
            out.append((lsn, "u_pk", nk, k, live[nk]))
        else:
            del live[k]
            out.append((lsn, "d", k, None, None))
    return out
