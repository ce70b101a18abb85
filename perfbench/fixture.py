"""Deterministic fixture tables for the benchmark's fixture workloads.

The engine's fixture gates read parquet tables named in ``FIXTURE_TABLES``.
This module writes the extension tables the benchmark's gates read, from a
fixed seed, so the benchmark carries its own inputs.  They follow the
fixture's documented schema and value domains (FIXTURES.md): documents
drawn from a 30-word vocabulary with 5% exact copies suffixed " dup", and
a month of events over 1.5 users per 100 events.

The data depend only on ``sf``, ``DATA_SEED`` and the table's name; the run
seed orders the gates and never reaches the data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = (["en"] * 40) + (["fr"] * 15) + (["es"] * 15) + (["zh"] * 15) + (["de"] * 15)
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(1000, int(1_000_000 * sf))
    users = max(15, int(15_000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2).clip(0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(500, int(50_000 * sf))
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(10, 100)))
             for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n - 1))) % n] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in doc_id]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


_BUILDERS = {"events": _events, "documents": _documents}


def build(out_dir: str, sf: float, tables: tuple[str, ...]) -> str:
    """Write ``tables`` to ``out_dir`` once; later calls reuse them.  Each
    table draws from its own generator, so it does not depend on which
    other tables are built.  The directory appears only when complete
    (rename of a staging directory), so an interrupted build is redone,
    never half-read."""
    if os.path.isdir(out_dir):
        return out_dir
    staging = out_dir + ".partial"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    for name in tables:
        index = list(_BUILDERS).index(name)
        table = _BUILDERS[name](np.random.default_rng([DATA_SEED, index]), sf)
        pq.write_table(table, os.path.join(staging, f"{name}.parquet"))
    os.rename(staging, out_dir)
    return out_dir
