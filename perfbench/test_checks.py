"""The benchmark's own tests: every kind of wrong output fails a run.

Run from the repository root: python3 -m pytest perfbench -q
(no Spark session is started).
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pandas as pd
import pytest

from kinesis_to_firehose_spark.streaming.firehose import send_batch
from perfbench import checks, gen, run
from perfbench.transport import FaultyTransport


def _run() -> run.Run:
    args = SimpleNamespace(seed=7, seconds=1)
    return run.Run(None, args, None, None)


def _deliver(root, lines, per_file=3):
    os.makedirs(root / "click", exist_ok=True)
    for i in range(0, len(lines), per_file):
        with open(root / "click" / f"f{i:04d}.jsonl", "w") as f:
            f.writelines(ln + "\n" for ln in lines[i : i + per_file])


LINES = [f'{{"env":"production","event_id":{i},"v":1}}' for i in range(40)]


@pytest.mark.parametrize(
    "mutate",
    [
        pytest.param(lambda ls: ls[:-1], id="dropped"),
        pytest.param(lambda ls: ls + ls[3:4], id="duplicated"),
        pytest.param(lambda ls: ls[:4] + [ls[4].replace('"v":1', '"v":2')] + ls[5:], id="altered"),
    ],
)
def test_wrong_delivery_fails_the_run(tmp_path, mutate):
    r = _run()
    _deliver(tmp_path / "out", mutate(list(LINES)))
    run.check_delivery(r, LINES, str(tmp_path / "out"), str(tmp_path / "dl"), "drain")
    assert r.failed == 1 and r.problems


def test_exact_delivery_passes(tmp_path):
    r = _run()
    _deliver(tmp_path / "out", list(reversed(LINES)))
    run.check_delivery(r, LINES, str(tmp_path / "out"), str(tmp_path / "dl"), "drain")
    assert (r.attempted, r.failed, r.problems) == (len(LINES), 0, [])


def test_dead_letter_fails_the_run(tmp_path):
    r = _run()
    _deliver(tmp_path / "out", LINES)
    _deliver(tmp_path / "dl", LINES[:1])
    run.check_delivery(r, LINES, str(tmp_path / "out"), str(tmp_path / "dl"), "trickle")
    assert r.failed == 1 and r.problems


def test_wrong_op_row_changes_the_digest():
    df = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 0.125]})
    same = df.iloc[::-1][["score", "doc_id"]]
    wrong = df.copy()
    wrong.loc[1, "score"] = 0.25000000000000006
    assert checks.canonical_digest(same) == checks.canonical_digest(df)
    expected = {"op": {"digest": checks.canonical_digest(df)}}
    r = _run()
    run.check_op(r, "op", same, expected)
    assert (r.attempted, r.failed) == (1, 0)
    run.check_op(r, "op", wrong, expected)
    assert (r.attempted, r.failed) == (2, 1) and r.problems


class Acc:
    """Stands in for a Spark accumulator."""

    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def test_fault_model_matches_expected_retries():
    records = [(ln + "\n").encode() for ln in LINES]
    once_at, twice_at = run.fault_thresholds(LINES, seed=7)
    delivered: list[bytes] = []
    counters = [Acc() for _ in range(4)]
    transport = FaultyTransport(
        lambda recs, stream: delivered.extend(recs), 7, once_at, twice_at, counters
    )
    send_batch(transport, records, "click", sleep=lambda s: None)
    assert sorted(delivered) == sorted(records)
    assert counters[2].value == run.FAULTS_ONCE + 2 * run.FAULTS_TWICE


def test_inputs_follow_the_seed():
    table = gen.replayed(gen.events(100), 3)
    a = [p.column("event_id").to_pylist() for p in gen.pages(table, 5, seed=1)]
    b = [p.column("event_id").to_pylist() for p in gen.pages(table, 5, seed=1)]
    c = [p.column("event_id").to_pylist() for p in gen.pages(table, 5, seed=2)]
    assert a == b and a != c
    assert sorted(sum(a, [])) == list(range(300))
    assert gen.documents().equals(gen.documents())
    assert gen.embeddings().equals(gen.embeddings())


def test_percentiles():
    values = [float(v) for v in range(1, 101)]
    assert checks.percentile(values, 50) == 50.0
    assert checks.percentile(values, 90) == 90.0
