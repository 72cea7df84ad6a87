"""Seeded transcript corpora.

``bleve_spark.corpus`` generates every turn as a pure function of its
conversation index, and ``transcripts_df`` always starts at index 0.
Here a workload seed picks a disjoint block of conversation indices and
the same row function generates it, so each seed gives a different,
reproducible corpus with the engine's own content model."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bleve_spark import corpus as engine_corpus

# conversations reserved per seed; a corpus may use at most this many
SEED_SPAN = 100_000


def conv_range(seed: int, n_convs: int) -> np.ndarray:
    """Conversation indices of ``seed``'s corpus; blocks of distinct
    seeds never overlap."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    if not 0 < n_convs <= SEED_SPAN:
        raise ValueError(f"n_convs must be in 1..{SEED_SPAN}")
    start = seed * SEED_SPAN
    return np.arange(start, start + n_convs, dtype=np.int64)


def turns(seed: int, n_turns: int) -> pd.DataFrame:
    """The first ``n_turns`` turns of ``seed``'s conversations, in
    conversation order (the last conversation may be cut short). A fixed
    turn count keeps per-turn rates comparable across seeds, whose
    conversations differ in length."""
    n_convs = 1 + n_turns // 8
    while True:
        convs = conv_range(seed, min(n_convs, SEED_SPAN))
        if int(engine_corpus.turns_per_conv(convs).sum()) >= n_turns:
            break
        if n_convs >= SEED_SPAN:
            raise ValueError(f"{n_turns} turns exceed a seed's block")
        n_convs *= 2
    pdf = engine_corpus._gen_conv_rows(convs)
    return pdf.iloc[:n_turns].reset_index(drop=True)


def write_batches(pdf: pd.DataFrame, n_files: int, out_dir: str) -> list[str]:
    """Write ``pdf`` as ``n_files`` parquet files of contiguous
    conversations (arrival order), one source batch each."""
    os.makedirs(out_dir, exist_ok=True)
    convs = pdf["conv_id"].to_numpy()
    cuts = np.linspace(0, len(pdf), n_files + 1).astype(int)
    # move each cut forward to a conversation boundary
    for i in range(1, n_files):
        c = cuts[i]
        while 0 < c < len(pdf) and convs[c] == convs[c - 1]:
            c += 1
        cuts[i] = max(c, cuts[i - 1])
    paths = []
    for i in range(n_files):
        part = pdf.iloc[cuts[i]:cuts[i + 1]]
        path = os.path.join(out_dir, f"batch-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        paths.append(path)
    return paths
