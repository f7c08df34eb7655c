"""Output checks. Pure Python, so the benchmark's own tests can show
that each kind of wrong output fails a run."""

from __future__ import annotations

import hashlib
import json
import math
import struct
from collections import Counter


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack(">d", v).hex()
    return str(v)


def canonical_digest(pdf) -> str:
    """sha256 of a pandas frame in the oracle harness's canonical form:
    columns sorted by name, rows sorted, floats compared bit-exactly."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def delivery_errors(expected: list[str], delivered: list[str]) -> int:
    """Records missing, duplicated or altered: the size of the multiset
    difference between the two line lists, counting an altered line
    once (it is both missing and extra)."""
    want, got = Counter(expected), Counter(delivered)
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    return max(missing, extra)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]
