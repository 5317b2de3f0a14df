"""Self-tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q

The first tests need no Spark session; the last one runs the benchmark
end to end in a subprocess with a corrupted read path.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, reference  # noqa: E402
from perfbench.common import percentile, tail  # noqa: E402


def _lsn_int(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def test_generators_are_deterministic_per_seed():
    a = gen.replay_transcript(5, 800, key_space=120)
    b = gen.replay_transcript(5, 800, key_space=120)
    c = gen.replay_transcript(6, 800, key_space=120)
    assert a.lines == b.lines and a.changes == b.changes
    assert a.lines != c.lines

    def batches(seed):
        script, pre = gen.preload_changes(seed, 500)
        return pre, gen.trickle_batches(script, 10)

    assert batches(3) == batches(3)
    assert batches(3) != batches(4)
    rows = gen.orders_rows(9, 300)
    assert rows == gen.orders_rows(9, 300)
    assert gen.orders_tail(9, rows, 200, 1000) == gen.orders_tail(9, rows, 200, 1000)


def test_replay_transcript_has_every_op_and_a_redelivered_tail():
    t = gen.replay_transcript(2, 2000, key_space=300)
    ops = {c.op for c in t.changes}
    assert ops == {"c", "u", "u_pk", "d", "t"}
    assert any(c.toast for c in t.changes)
    assert sum(c.op == "t" for c in t.changes) == 1
    assert "!disconnect" in t.lines and t.lines[-1] == "!copydone"
    assert t.redelivered > 0


def test_interpreter_matches_the_scripted_other_fixture():
    from tests.fixtures import OTHER_EXPECTED, other_wal_events

    events = []
    for _fp, source, op, _sent, before, after, toast in other_wal_events():
        events.append({
            "lsn": _lsn_int(source[6]), "op": op,
            "before": None if before is None else {"id": before[0]},
            "after": None if after is None else {"id": after[0], "data": after[1]},
            "toast": toast or [],
        })
    state = reference.apply_events(events, "id")
    assert {k: v["data"] for k, v in state.items()} == OTHER_EXPECTED


def test_interpreter_drops_redelivery_at_or_below_the_acked_lsn():
    ev = [
        {"lsn": 10, "op": "c", "before": None, "after": {"id": 1, "v": "a"}, "toast": []},
        {"lsn": 20, "op": "u", "before": {"id": 1}, "after": {"id": 1, "v": "b"}, "toast": []},
        {"lsn": 30, "op": "u", "before": {"id": 1}, "after": {"id": 1, "v": None}, "toast": ["v"]},
    ]
    assert reference.apply_events(ev, "id")[1]["v"] == "b"
    # a consumer that acked LSN 20 has state {1: b} and drops both replays
    resumed = reference.apply_events(ev + ev[:2], "id", state={1: {"id": 1, "v": "z"}}, acked_lsn=20)
    assert resumed[1]["v"] == "z"


def test_transcript_decodes_to_the_generated_changes(tmp_path):
    """The encoder speaks the program's pgoutput decoder: decoding the
    transcript and applying it gives the generator's own final state."""
    from creek_spark.sources.walsender import TranscriptTransport, WalSenderSession

    t = gen.replay_transcript(8, 1500, key_space=200)
    path = tmp_path / "t.transcript"
    gen.write_transcript(str(path), t)
    session = WalSenderSession(TranscriptTransport(str(path)), str(tmp_path / "s"))
    rows = [r for _, r in session.stream(stop_on_copydone=True)]
    assert len(rows) == len(t.changes) + t.redelivered
    events = [{
        "lsn": _lsn_int(r["source"]["lsn"]), "op": r["op"], "before": r["before"],
        "after": r["after"], "toast": r["unchanged_toast"] or [],
    } for r in rows]
    got = reference.apply_events(events, "id")
    want = reference.apply_events(reference.events_from_changes(t.changes), "id")
    assert got == want


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert tail(list(range(10))) is None
    q, v = tail([float(i) for i in range(100)])
    assert q == 90.0 and v == percentile([float(i) for i in range(100)], 90)


@pytest.mark.skipif(os.environ.get("PERFBENCH_SKIP_SPARK") == "1", reason="needs a Spark JVM")
def test_corrupted_output_raises_ops_failed_ratio():
    """Drop one row from every committed-state read: the run must report
    failures and ``correct: false``."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from creek_spark.streaming.tables import DynamicTables\n"
        "orig = DynamicTables.state\n"
        "def state(self, name):\n"
        "    df = orig(self, name)\n"
        "    first = df.orderBy('id').limit(1)\n"
        "    return df.exceptAll(first)\n"
        "DynamicTables.state = state\n"
        "import perfbench.run as r\n"
        "sys.exit(r.main(['--workload', 'cdc_replay', '--seed', '1', '--seconds', '0', '--trace', '0']))\n"
    ) % ROOT
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["failed"] > 0 and res["attempted"] >= res["failed"]
