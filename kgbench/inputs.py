"""Seeded benchmark inputs, written as parquet files the program only reads.

Every corpus comes from ``sources.transcripts.generate_local``; the files
are written with pyarrow so that no Spark job runs before the program's
own first operation.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from stixtoneodb_spark.sources.transcripts import generate_local

ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class Corpus:
    path: str  # a parquet file, or a directory of chunk files
    turns: int
    truth_triples: list[tuple]


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in ARROW_SCHEMA]
    return pa.table([list(c) for c in cols], schema=ARROW_SCHEMA)


def seeded_turns(n_turns: int, seed: int) -> tuple[list[tuple], list[tuple]]:
    """The first ``n_turns`` turns of the seeded corpus and the truth
    triples planted in them.

    A fixed turn count, rather than a fixed conversation count, keeps
    turns/s and bytes/turn comparable across seeds.  The generator is
    sequential, so a longer corpus starts with the same conversations; the
    last conversation is cut at a turn boundary, and a triple is planted
    in the text of its own turn, so the cut keeps the truth exact.
    """
    n_conv = n_turns // 20 + 16  # conversations average 21.5 turns
    gen = generate_local(n_conv, seed)
    while len(gen.transcripts) < n_turns:
        n_conv *= 2
        gen = generate_local(n_conv, seed)
    rows = gen.transcripts[:n_turns]
    kept = {(r[0], r[1]) for r in rows}
    return rows, [t for t in gen.truth_triples if (t[0], t[1]) in kept]


def write_corpus(out_dir: str, n_turns: int, seed: int) -> Corpus:
    """One parquet file holding ``n_turns`` seeded turns."""
    rows, truth = seeded_turns(n_turns, seed)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "transcripts.parquet")
    pq.write_table(_table(rows), path)
    return Corpus(path, len(rows), truth)


def write_chunks(out_dir: str, n_turns: int, seed: int, n_chunks: int) -> Corpus:
    """``n_turns`` seeded turns in event-time order, split into ``n_chunks``
    files.

    The file source orders files by modification time, so each chunk gets
    a strictly later mtime than the one before: chunks then arrive in
    event-time order and one micro-batch reads exactly one chunk.
    """
    rows, truth = seeded_turns(n_turns, seed)
    rows = sorted(rows, key=lambda r: (r[5], r[0], r[1]))
    os.makedirs(out_dir, exist_ok=True)
    base = os.stat(out_dir).st_mtime - 10 * n_chunks
    for k in range(n_chunks):
        part = rows[k * len(rows) // n_chunks : (k + 1) * len(rows) // n_chunks]
        path = os.path.join(out_dir, f"chunk-{k:03d}.parquet")
        pq.write_table(_table(part), path)
        os.utime(path, (base + 10 * k, base + 10 * k))
    return Corpus(out_dir, len(rows), truth)
