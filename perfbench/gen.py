"""Seeded input generator for the benchmark workloads.

Every table is built with NumPy's PCG64 generator from ``--seed`` and
written as one parquet file through pyarrow with fixed writer settings, so
the same seed gives byte-identical files.  The program under test only
ever sees these files.

Sizes live in ``SIZES`` so the workload code and the tests share them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "crypto_sink": {
        "notes_rows": 5_000,
        "notes_min_bytes": 64,
        "notes_max_bytes": 8 * 1024,
        "attachments_rows": 40,
        "attachment_bytes": 128 * 1024,
    },
    "operator_jobs": {
        "base_docs": 1_000,
        "exact_dup_share": 0.10,
        "near_dup_share": 0.10,
        "near_dup_dropout": 0.05,
        "vocab": 3_000,
        "min_words": 40,
        "max_words": 240,
        "nodes": 5_000,
        "edges": 20_000,
        "events": 2_000,
        "users": 400,
    },
}

WORDS_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so changing one table's size
    leaves the others' bytes untouched."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return path


def _letters(rng: np.random.Generator, total: int) -> np.ndarray:
    return WORDS_ALPHABET[rng.integers(0, len(WORDS_ALPHABET), size=total)]


def _binary_column(flat: np.ndarray, lengths: np.ndarray, string: bool) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    kind = pa.large_string() if string else pa.large_binary()
    arr = pa.Array.from_buffers(
        kind, len(lengths), [None, pa.py_buffer(offsets), pa.py_buffer(flat.tobytes())]
    )
    return arr.cast(pa.string() if string else pa.binary())


# -- crypto_sink -------------------------------------------------------------


def crypto_sink_tables(seed: int) -> dict[str, pa.Table]:
    s = SIZES["crypto_sink"]
    rng = _rng(seed, "notes")
    n = s["notes_rows"]
    lo, hi = np.log(s["notes_min_bytes"]), np.log(s["notes_max_bytes"])
    lengths = np.exp(rng.uniform(lo, hi, size=n)).astype(np.int64)
    body = _binary_column(_letters(rng, int(lengths.sum())), lengths, string=True)
    notes = pa.table({"note_id": pa.array(np.arange(n, dtype=np.int64)), "body": body})

    rng = _rng(seed, "attach")
    m, size = s["attachments_rows"], s["attachment_bytes"]
    blob = rng.integers(0, 256, size=m * size, dtype=np.uint8)
    attachments = pa.table(
        {
            "att_id": pa.array(np.arange(m, dtype=np.int64)),
            "blob": _binary_column(blob, np.full(m, size, dtype=np.int64), string=False),
        }
    )
    return {"notes": notes, "attachments": attachments}


# -- documents ---------------------------------------------------------------


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(2, 10, size=n)
    flat = _letters(rng, int(lengths.sum())).tobytes().decode()
    out, pos = [], 0
    for ln in lengths:
        out.append(flat[pos : pos + ln])
        pos += ln
    # the most frequent (lowest-rank) words are English stopwords, as in real text
    return ["the", "and", "is", "of", "to", "in", "that", "with"] + out


def documents_table(seed: int) -> tuple[pa.Table, dict]:
    """Base documents, then planted exact copies and word-dropout
    near-copies with fresh ids.  Returns the table and the planted
    near-copy map (copy_id -> source_id)."""
    s = SIZES["operator_jobs"]
    rng = _rng(seed, "docs")
    vocab = np.array(_vocabulary(rng, s["vocab"]), dtype=object)
    ranks = np.arange(1, len(vocab) + 1)
    zipf = 1.0 / ranks
    zipf /= zipf.sum()
    n = s["base_docs"]
    lengths = rng.integers(s["min_words"], s["max_words"] + 1, size=n)
    words = rng.choice(len(vocab), size=int(lengths.sum()), p=zipf)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln

    n_exact = int(n * s["exact_dup_share"])
    n_near = int(n * s["near_dup_share"])
    exact_src = rng.choice(n, size=n_exact, replace=False)
    near_src = rng.choice(n, size=n_near, replace=False)
    ids = list(range(n))
    for i, src in enumerate(exact_src):
        ids.append(n + i)
        texts.append(texts[src])
    near = {}
    for i, src in enumerate(near_src):
        toks = texts[src].split(" ")
        keep = rng.random(len(toks)) >= s["near_dup_dropout"]
        new_id = n + n_exact + i
        near[new_id] = int(src)
        ids.append(new_id)
        texts.append(" ".join(t for t, k in zip(toks, keep) if k))
    order = rng.permutation(len(ids))
    table = pa.table(
        {
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64)[order]),
            "text": pa.array([texts[i] for i in order], type=pa.string()),
        }
    )
    return table, {"near": near}


# -- graph and events --------------------------------------------------------


def edges_table(seed: int) -> pa.Table:
    """Directed power-law graph: sources uniform, destinations drawn by
    preferential (Zipf-like) weight; self-loops and duplicate edges
    removed, then kept as (src, dst) with src != dst."""
    s = SIZES["operator_jobs"]
    rng = _rng(seed, "edges")
    n, e = s["nodes"], s["edges"]
    weight = 1.0 / np.arange(1, n + 1) ** 0.8
    weight /= weight.sum()
    perm = rng.permutation(n)
    src = rng.integers(0, n, size=int(e * 1.1))
    dst = perm[rng.choice(n, size=len(src), p=weight)]
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    pairs = pairs[rng.permutation(len(pairs))[:e]]
    pairs = pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]
    return pa.table(
        {"src": pa.array(pairs[:, 0].astype(np.int64)), "dst": pa.array(pairs[:, 1].astype(np.int64))}
    )


EVENT_TYPES = np.array(["view", "purchase", "click", "error"], dtype=object)


def events_table(seed: int) -> pa.Table:
    """One day of events in the schema
    ``duckdb_age_spark.sources.tables.events_schema`` reads."""
    s = SIZES["operator_jobs"]
    rng = _rng(seed, "events")
    n = s["events"]
    start_us = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    ts = np.sort(rng.integers(0, 86_400_000_000, size=n)) + start_us
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n, p=[0.6, 0.15, 0.2, 0.05])]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s["users"], size=n).astype(np.int64)),
            "event_type": pa.array(etype.tolist(), type=pa.string()),
            "value": pa.array(np.round(rng.uniform(1.0, 200.0, size=n), 2)),
            "props": pa.array(["{}"] * n, type=pa.string()),
        }
    )


def write_inputs(workload: str, seed: int, root: str) -> dict:
    """Write one workload's inputs under ``root``; returns the paths plus the
    planted ground truth the checks need."""
    if workload == "crypto_sink":
        tables = crypto_sink_tables(seed)
        return {name: _write(t, f"{root}/{name}.parquet") for name, t in tables.items()}
    if workload == "operator_jobs":
        docs, planted_docs = documents_table(seed)
        return {
            "documents": _write(docs, f"{root}/documents.parquet"),
            "edges": _write(edges_table(seed), f"{root}/edges.parquet"),
            # the streaming source reads <dir>/events.parquet
            "events": os.path.dirname(_write(events_table(seed), f"{root}/events/events.parquet")),
            "planted_docs": planted_docs,
        }
    raise ValueError(f"unknown workload {workload!r}")
