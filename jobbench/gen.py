"""Seeded input generation for the job benchmark.

Everything here is numpy + pyarrow, so the inputs depend only on the seed and
the sizes passed in, never on the engine under test.

Corpus (the rollup/refresh input), schema as the engine expects it:

    doc_id: string, tokens: list<int32>, n_tok: int32, source: string,
    ts: timestamp[us, UTC]

* arrival rate: 60 documents per minute over all sources;
* source skew: ``s0`` takes 40 % of rows, ``s1``..``s5`` 11 % each and
  ``s6`` 5 % (the sparsest series);
* n_tok: per-source length regime, 4 + uniform[0, min(16·(k+1), 28));
* gaps: 1/30 of every source's hours (at least one) are dropped, chosen at
  random, and one of ``s1``..``s5`` is silent from the start of the second
  day for up to a day, so every tier has buckets only gap-fill can produce;
* deltas: consecutive time slices after the corpus end, each with exactly
  ``delta_rows`` rows from the same mix and no gaps, so every delta is
  append-only and every refresh absorbs the same number of rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
ROWS_PER_MINUTE = 60
SOURCE_WEIGHTS = (0.40, 0.11, 0.11, 0.11, 0.11, 0.11, 0.05)
HOUR_GAP_RATE = 1 / 30
OUTAGE_SECONDS = 86400
VOCAB = 50_000


def _rows(rng: np.random.Generator, n: int, t_lo: int, t_hi: int, id0: int,
          outage: tuple[int, int, int] | None) -> pa.Table:
    """``n`` rows uniform over [t_lo, t_hi). With ``outage`` = (source,
    start, end), gaps are cut: that source's rows in [start, end), and for
    every source a fixed share of its hours."""
    src = rng.choice(len(SOURCE_WEIGHTS), size=n, p=SOURCE_WEIGHTS)
    ts = rng.integers(t_lo, t_hi, size=n)
    n_tok = 4 + (rng.random(n) * np.minimum(16 * (src + 1), 28)).astype(np.int32)
    if outage is not None:
        # a fixed number of each source's hours (at least one), so the rows
        # kept hardly depend on the seed
        h0, hours = t_lo // 3600, (t_hi - 1) // 3600 - t_lo // 3600 + 1
        n_silent = max(1, round(hours * HOUR_GAP_RATE))
        silent = np.zeros((len(SOURCE_WEIGHTS), hours), dtype=bool)
        for k in range(len(SOURCE_WEIGHTS)):
            silent[k, rng.choice(hours, size=n_silent, replace=False)] = True
        o_src, o_lo, o_hi = outage
        keep = ~silent[src, ts // 3600 - h0] & ~((src == o_src) & (ts >= o_lo) & (ts < o_hi))
        src, ts, n_tok = src[keep], ts[keep], n_tok[keep]
    order = np.lexsort((src, ts))
    src, ts, n_tok = src[order], ts[order], n_tok[order]
    ids = np.arange(id0, id0 + len(ts))
    offsets = np.zeros(len(ts) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)),
    )
    return pa.table(
        {
            "doc_id": pa.array([f"doc-{i:012d}" for i in ids]),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array([f"s{k}" for k in src]),
            "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        }
    )


def _write(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def write_corpus(path: str, n_rows: int, seed: int, files: int = 8,
                 deltas: list[str] = (), delta_rows: int = 0) -> dict:
    """Write the corpus to ``path`` and one delta per entry of ``deltas``.
    Returns the row counts actually written (gap-punched)."""
    rng = np.random.default_rng(seed)
    span = n_rows * 60 // ROWS_PER_MINUTE
    t_end = T0 + span
    # the silent source is one of the five equal-share ones, so the rows a
    # corpus keeps do not depend on which source the seed picks
    o_src = int(rng.integers(1, 6))
    o_lo = T0 + 86400 * int(rng.integers(1, max(2, span // 86400 - 2)))
    o_lo -= o_lo % 86400
    corpus = _rows(rng, n_rows, T0, t_end, 0, (o_src, o_lo, o_lo + OUTAGE_SECONDS))
    _write(corpus, path, files)
    counts = {"corpus": corpus.num_rows, "deltas": []}
    next_id = n_rows
    dspan = delta_rows * 60 // ROWS_PER_MINUTE
    for k, dpath in enumerate(deltas):
        lo = t_end + k * dspan
        d = _rows(rng, delta_rows, lo, lo + dspan, next_id, None)
        next_id += delta_rows
        _write(d, dpath, max(1, files // 4))
        counts["deltas"].append(d.num_rows)
    return counts
