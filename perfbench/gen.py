"""Seeded input generator for the HRV cohort benchmark.

Everything the engine sees is written here as parquet in the engine's
fixture schemas; the in-memory arrays returned alongside are what the
independent checks (``reference.py``) recompute from.

RR cohorts use the ``events`` schema with ``user_id`` = record id and
``value`` = RR interval in ms. Each record has its own base rate, an LF
(0.1 Hz) and an HF (0.25 Hz) oscillation, white noise, ~0.5 % ectopic
beats (premature beat + compensatory pause) and ~0.2 % artifacts
(0 ms, sub-300 ms and over-2000 ms values). Beat timestamps are the
cumulative sum of the intervals, so a 0 ms artifact ties the previous
beat's timestamp and only ``event_id`` orders it.

Run ``python3 perfbench/gen.py --seed 7 --out DIR`` to write one of
each input kind for inspection.
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
LF_HZ, HF_HZ = 0.10, 0.25
ECTOPIC_RATE = 0.005
ARTIFACT_RATE = 0.002

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMBEDDINGS_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


@dataclass
class Record:
    """One recording: beat timestamps (µs), RR values (ms) and event ids,
    in generation order (= time order, ties broken by event id)."""
    record_id: int
    ts_us: np.ndarray
    rri: np.ndarray
    event_id: np.ndarray
    clean: np.ndarray  # the series before ectopics and artifacts


def rr_series(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(observed, clean) RR intervals in ms for one recording of n beats."""
    base = rng.uniform(700.0, 1000.0)
    a_lf = rng.uniform(50.0, 70.0)
    a_hf = rng.uniform(15.0, 25.0)
    ph_lf, ph_hf = rng.uniform(0.0, 2 * np.pi, 2)
    # beat times follow the base rate; the oscillations are sampled at
    # those times, so their frequency is in Hz of recording time
    t = np.arange(n) * (base / 1000.0)
    clean = (base + a_lf * np.sin(2 * np.pi * LF_HZ * t + ph_lf)
             + a_hf * np.sin(2 * np.pi * HF_HZ * t + ph_hf)
             + rng.normal(0.0, 8.0, n))
    rri = clean.copy()
    # ectopic: premature beat then compensatory pause (sum preserved)
    ect = np.flatnonzero(rng.random(n - 1) < ECTOPIC_RATE)
    short = 0.3 * rri[ect]
    rri[ect] -= short
    rri[ect + 1] += short
    art = np.flatnonzero(rng.random(n) < ARTIFACT_RATE)
    kind = rng.integers(0, 3, len(art))
    rri[art[kind == 0]] = 0.0
    rri[art[kind == 1]] = rng.uniform(150.0, 290.0, int((kind == 1).sum()))
    rri[art[kind == 2]] = rng.uniform(2100.0, 3000.0, int((kind == 2).sum()))
    return np.round(rri, 3), clean


def cohort(seed: int, n_records: int, beats: tuple[int, int],
           spread_s: float = 0.0) -> list[Record]:
    """``n_records`` recordings with a beat count drawn from ``beats``;
    starts are spread uniformly over ``spread_s`` seconds."""
    rng = np.random.default_rng(seed)
    out, next_id = [], 0
    for r in range(n_records):
        n = int(rng.integers(beats[0], beats[1] + 1))
        rri, clean = rr_series(rng, n)
        start = EPOCH_US + int(rng.uniform(0.0, spread_s) * 1e6)
        ts = start + np.round(np.cumsum(rri) * 1000.0).astype(np.int64)
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        out.append(Record(r + 1, ts, rri, ids, clean))
    return out


def events_table(records: list[Record]) -> pa.Table:
    n = sum(len(r.rri) for r in records)
    return pa.table({
        "event_id": np.concatenate([r.event_id for r in records]),
        "ts": pa.array(np.concatenate([r.ts_us for r in records]),
                       pa.timestamp("us")),
        "user_id": np.concatenate([np.full(len(r.rri), r.record_id, np.int64)
                                   for r in records]),
        "event_type": pa.array(["rr"] * n, pa.string()),
        "value": np.concatenate([r.rri for r in records]),
        "props": pa.nulls(n, pa.string()),
    }, schema=EVENTS_SCHEMA)


def write_events(records: list[Record], sf_dir: str,
                 row_group: int = 64_000) -> int:
    """Write the cohort as ``sf_dir/events.parquet`` (time-shuffled
    across records, as a landing table would hold them)."""
    os.makedirs(sf_dir, exist_ok=True)
    t = events_table(records)
    t = t.take(np.argsort(t.column("ts").to_numpy(), kind="stable"))
    pq.write_table(t, os.path.join(sf_dir, "events.parquet"),
                   row_group_size=row_group)
    return t.num_rows


def write_time_slices(records: list[Record], feed_dir: str,
                      n_slices: int) -> list[tuple[str, int]]:
    """Write the cohort as ``n_slices`` files covering consecutive equal
    time ranges, plus a last one-row sentinel 30 days after the end
    (``user_id`` -1, one valid 1000 ms beat) whose trigger moves the
    watermark past every real window; its own window never closes. Returns (path, rows) in arrival order."""
    os.makedirs(feed_dir, exist_ok=True)
    t = events_table(records)
    ts = t.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    order = np.argsort(ts, kind="stable")
    t, ts = t.take(order), ts[order]
    lo, hi = int(ts[0]), int(ts[-1]) + 1
    edges = lo + (np.arange(n_slices + 1) * (hi - lo)) // n_slices
    cuts = np.searchsorted(ts, edges)
    out = []
    for i in range(n_slices):
        part = t.slice(cuts[i], cuts[i + 1] - cuts[i])
        path = os.path.join(feed_dir, f"slice_{i:04d}.parquet")
        pq.write_table(part, path)
        out.append((path, part.num_rows))
    sentinel = pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array([hi + 30 * 86_400_000_000], pa.timestamp("us")),
        "user_id": pa.array([-1], pa.int64()),
        "event_type": pa.array(["sentinel"]),
        # a valid beat: a filtered-out row would be skipped by the
        # parquet row-group stats and never move the watermark
        "value": pa.array([1000.0]),
        "props": pa.nulls(1, pa.string()),
    }, schema=EVENTS_SCHEMA)
    path = os.path.join(feed_dir, f"slice_{n_slices:04d}.parquet")
    pq.write_table(sentinel, path)
    out.append((path, 1))
    return out


# ------------------------------------------------------------------ text

VOCAB = ("spark stream vector hash batch part line column order small sort "
         "value filter customer fast slow query agg scan join window shuffle "
         "record beat heart rate signal peak noise model token index cache "
         "table file write read merge split group key map reduce node edge "
         "graph cluster label score rank top near dup text word doc embed "
         "shard queue state store sink source trigger watermark late").split()
N_LABELS = 10
DIM = 64


@dataclass
class Corpus:
    doc_ids: np.ndarray
    texts: list[str]
    vec_ids: np.ndarray
    vecs: np.ndarray  # float32, (n, DIM)
    labels: np.ndarray


def corpus(seed: int, n_docs: int, n_vecs: int) -> Corpus:
    """Documents of 20-80 single-space-joined tokens, a quarter of them
    edited copies of an earlier document (Jaccard spread over ~0.2-0.9),
    and 64-d embeddings around ``N_LABELS`` centroids, a fifth of them
    perturbed copies of an earlier vector."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    # Zipf-ish word frequencies, so BM25 document frequencies vary
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p = rng.permutation(p / p.sum())
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.25:
            toks = texts[int(rng.integers(0, i))].split(" ")
            n_edit = int(rng.integers(1, max(2, len(toks) // 3)))
            for j in rng.choice(len(toks), n_edit, replace=False):
                toks[j] = str(rng.choice(vocab, p=p))
        else:
            toks = list(rng.choice(vocab, int(rng.integers(20, 81)), p=p))
        texts.append(" ".join(toks))
    centroids = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    vecs = centroids[labels] * 0.5 + rng.standard_normal((n_vecs, DIM))
    for i in range(10, n_vecs):
        if rng.random() < 0.2:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(0.0, 0.3, DIM)
            labels[i] = labels[src]
    return Corpus(np.arange(n_docs, dtype=np.int64), texts,
                  np.arange(n_vecs, dtype=np.int64),
                  vecs.astype(np.float32), labels)


def write_corpus(c: Corpus, sf_dir: str) -> int:
    os.makedirs(sf_dir, exist_ok=True)
    n = len(c.texts)
    docs = pa.table({
        "doc_id": c.doc_ids,
        "text": c.texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in c.texts], np.int64),
    }, schema=DOCUMENTS_SCHEMA)
    emb = pa.table({
        "vec_id": c.vec_ids,
        "embedding": pa.array(list(c.vecs), pa.list_(pa.float32())),
        "label": c.labels,
    }, schema=EMBEDDINGS_SCHEMA)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
    return n + len(c.vec_ids)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    recs = cohort(args.seed, 8, (300, 600), spread_s=86_400.0)
    n_ev = write_events(recs, args.out)
    n_tx = write_corpus(corpus(args.seed, 500, 200), args.out)
    print(f"wrote {n_ev} beats and {n_tx} text/vector rows to {args.out}")


if __name__ == "__main__":
    main()
