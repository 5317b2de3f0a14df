"""In-memory reference interpreter of creek's per-op apply rules.

Every CDC workload's committed state is checked against this model:

* ``c`` / ``r``  upsert the full after image
* ``u``          upsert; columns named in ``unchanged_toast`` carry the
                 key's previous value (NULL when the key had none)
* ``u_pk``       delete the before key, insert the after image
* ``d``          delete the before key
* ``t``          clear every key
* events at or below the consumer's acked LSN are dropped (a resumed
  session never re-applies them), and a redelivered LSN applies once

Events are applied in LSN order, which is the order the applier ranks by
whatever order they arrive in.
"""

from __future__ import annotations


def apply_events(events, key: str, *, state: dict | None = None, acked_lsn: int = 0) -> dict:
    """``events``: dicts with ``lsn`` (int), ``op``, ``before`` (key dict
    or None), ``after`` (row dict or None) and ``toast`` (column names).
    Returns {key value: row dict}; ``state`` is updated in place when
    given."""
    out = {} if state is None else state
    seen: set[int] = set()
    for ev in sorted(events, key=lambda e: e["lsn"]):
        lsn = ev["lsn"]
        if lsn <= acked_lsn or lsn in seen:
            continue
        seen.add(lsn)
        op = ev["op"]
        if op in ("c", "r"):
            out[ev["after"][key]] = dict(ev["after"])
        elif op == "u":
            row = dict(ev["after"])
            prev = out.get(row[key])
            for col in ev.get("toast") or ():
                row[col] = None if prev is None else prev[col]
            out[row[key]] = row
        elif op == "u_pk":
            out.pop(ev["before"][key], None)
            out[ev["after"][key]] = dict(ev["after"])
        elif op == "d":
            out.pop(ev["before"][key], None)
        elif op == "t":
            out.clear()
        else:
            raise ValueError(f"unknown op {op!r}")
    return out


def events_from_changes(changes, key: str = "id") -> list[dict]:
    """gen.Change records → interpreter events (the envelope the decoder
    emits: a key-only before image for u/d, the old key for u_pk)."""
    out = []
    for c in changes:
        before = None
        if c.op in ("u", "d"):
            before = {key: c.key}
        elif c.op == "u_pk":
            before = {key: c.old_key}
        after = None
        if c.row is not None:
            after = {n: (None if n in c.toast else v) for n, v in c.row.items()}
        out.append({"lsn": c.lsn, "op": c.op, "before": before,
                    "after": after, "toast": list(c.toast)})
    return out
