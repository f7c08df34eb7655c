"""Deterministic input generators.

Every value is built from integer draws of numpy's PCG64 generator and
exact arithmetic, so the same seed gives byte-identical inputs on any
host. The batch corpus uses a fixed seed (its expected digests are
committed); the run seed only reorders and pages the forwarder input
and picks its faulted records.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20261017
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
TS0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def events(n: int, first_id: int = 0) -> pa.Table:
    """`n` events shaped like the `events` table, keyed by event_id."""
    rng = np.random.default_rng(CORPUS_SEED)
    user = rng.integers(0, 150, n)
    kind = rng.integers(0, len(EVENT_TYPES), n)
    cents = rng.integers(1, 49_000, n)
    k = rng.integers(0, 100, n)
    step = rng.integers(0, 300_000_000, n)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "event_id": ids,
            "ts": pa.array(TS0_US + np.cumsum(step), pa.timestamp("us", tz="UTC")),
            "user_id": user.astype(np.int64),
            "event_type": pa.array(np.array(EVENT_TYPES)[kind]),
            "value": cents / 100.0,
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def replayed(base: pa.Table, copies: int) -> pa.Table:
    """`copies` replays of `base` with event_id shifted per copy, so
    every line of the backlog is distinct."""
    n = base.num_rows
    parts = []
    for c in range(copies):
        ids = pa.array(base.column("event_id").to_numpy() + c * n)
        parts.append(base.set_column(0, "event_id", ids))
    return pa.concat_tables(parts)


def pages(table: pa.Table, n_pages: int, seed: int) -> list[pa.Table]:
    """Equal-sized pages; the seed chooses which records share a page
    and the page order."""
    rng = np.random.default_rng([seed, 1])
    shuffled = table.take(rng.permutation(table.num_rows))
    cuts = np.linspace(0, table.num_rows, n_pages + 1).round().astype(int)
    return [shuffled.slice(s, e - s) for s, e in zip(cuts[:-1], cuts[1:])]


def write_page(page: pa.Table, src_dir: str, index: int) -> None:
    """Write one page atomically: the file stream source skips
    dot-files, so it only ever lists complete pages."""
    tmp = os.path.join(src_dir, f".page-{index:06d}.tmp")
    pq.write_table(page, tmp)
    os.rename(tmp, os.path.join(src_dir, f"page-{index:06d}.parquet"))


def fault_key(seed: int, record: bytes) -> int:
    """64-bit key of a delivered record under `seed`; the fault model
    fails the records with the smallest keys."""
    h = hashlib.blake2b(record, digest_size=8, key=seed.to_bytes(8, "little"))
    return int.from_bytes(h.digest(), "little")


def documents(n: int = 500) -> pa.Table:
    """Word-salad documents; one in twenty repeats an earlier document
    (same language) with a marker word, so the dedup ops find clusters."""
    rng = np.random.default_rng([CORPUS_SEED, 2])
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        if i >= 20 and rng.integers(0, 20) == 0:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
            langs.append(langs[j])
            continue
        length = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), length)))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(n: int = 500, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors around `labels` weak cluster centres. Components are
    integer draws scaled exactly; the norm uses math.fsum, so the float
    values do not depend on the host's SIMD reduction order."""
    rng = np.random.default_rng([CORPUS_SEED, 3])
    centres = rng.integers(-1000, 1001, (labels, dim))
    label = rng.integers(0, labels, n)
    noise = rng.integers(-1000, 1001, (n, dim))
    vecs = []
    for lab, row in zip(label.tolist(), noise.tolist()):
        raw = [c * 0.25 + x for c, x in zip(centres[lab].tolist(), row)]
        norm = math.sqrt(math.fsum(v * v for v in raw))
        vecs.append([v / norm for v in raw])
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def write_corpus(sf_dir: str) -> None:
    """The batch workload's tables, under the names sources.tables reads."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings(), os.path.join(sf_dir, "embeddings.parquet"))
