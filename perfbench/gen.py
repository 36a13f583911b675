"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and returns (or writes)
plain data; the program under test only ever sees the files written
here. Input properties that the engine's behaviour depends on are
explicit parameters: key skew (Zipf exponent), out-of-order share,
stream rate and near-duplicate density.

Run as a script, this module is the open-loop stream generator: a
separate single-threaded process that drops event files into a
directory on a fixed schedule that never waits for the consumer::

    python3 perfbench/gen.py stream '<json params>'
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_SCHEMA = pa.schema([("user_id", pa.int64()),
                          ("ts", pa.timestamp("us", tz="UTC")),
                          ("amount", pa.int64())])


def zipf_probs(n: int, s: float) -> np.ndarray:
    """P(rank r) proportional to r**-s over ranks 1..n (s=0 is uniform)."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return w / w.sum()


def make_events(seed: int, n: int, *, users: int, zipf_s: float,
                disorder_share: float, disorder_max_s: float,
                span_s: float, base_s: float) -> dict:
    """``n`` events over ``span_s`` seconds from ``base_s`` (epoch s).

    Timestamps rise with position except that a ``disorder_share`` of
    events is stamped up to ``disorder_max_s`` earlier than its
    neighbours (out-of-order arrival). ``user_id`` follows Zipf(zipf_s)
    over ``users`` keys, shuffled so key id does not encode rank."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(users).astype(np.int64)
    user = ids[rng.choice(users, size=n, p=zipf_probs(users, zipf_s))]
    ts_us = (base_s * 1e6 + np.sort(rng.uniform(0, span_s * 1e6, n))).astype(np.int64)
    late = rng.random(n) < disorder_share
    ts_us[late] -= rng.integers(1, int(disorder_max_s * 1e6), late.sum())
    amount = rng.integers(1, 1000, n, dtype=np.int64)
    return {"user_id": user, "ts_us": ts_us, "amount": amount}


def events_table(ev: dict) -> pa.Table:
    return pa.table({"user_id": ev["user_id"],
                     "ts": pa.array(ev["ts_us"], pa.timestamp("us", tz="UTC")),
                     "amount": ev["amount"]}, schema=EVENT_SCHEMA)


def write_parquet_atomic(table: pa.Table, path: str) -> None:
    """Write beside ``path`` under a hidden name, then rename: a file
    stream source must never list a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def read_events(path: str) -> "pd.DataFrame":
    """Events under ``path`` (a file or directory) as user_id, ts_us, amount."""
    t = pq.read_table(path)
    return pd.DataFrame({"user_id": t.column("user_id").to_numpy(),
                         "ts_us": t.column("ts").cast(pa.int64()).to_numpy(),
                         "amount": t.column("amount").to_numpy()})


def write_events(ev: dict, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    t = events_table(ev)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        write_parquet_atomic(t.slice(i * step, step),
                             os.path.join(out_dir, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- corpus

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 9))
        words.add("".join(rng.choice(_LETTERS, n)))
    return sorted(words)


def make_corpus(seed: int, n_docs: int, *, vocab_size: int, zipf_s: float,
                dup_share: float, doc_len: tuple[int, int] = (60, 120),
                edits: tuple[int, int] = (1, 2)) -> dict:
    """Documents over a Zipf vocabulary with planted near-duplicate
    clusters. A ``dup_share`` of the documents are variants of an
    base document with ``edits`` tokens replaced, which keeps their
    3-gram Jaccard to the base high (about 0.85 to 0.97).

    Returns ``{"ids": [...], "texts": [...], "planted": [(a, b), ...]}``
    where ``planted`` lists every same-cluster pair with a < b."""
    rng = np.random.default_rng(seed)
    vocab = np.array(make_vocab(rng, vocab_size))
    p = zipf_probs(vocab_size, zipf_s)
    n_var = int(round(n_docs * dup_share))
    n_base = n_docs - n_var
    texts: list[list[str]] = []
    for _ in range(n_base):
        texts.append(list(vocab[rng.choice(vocab_size, int(rng.integers(*doc_len)), p=p)]))
    cluster = list(range(n_base))
    bases = rng.choice(n_base, size=n_var)
    for b in bases:
        toks = list(texts[b])
        for pos in rng.choice(len(toks), int(rng.integers(edits[0], edits[1] + 1)),
                              replace=False):
            toks[pos] = str(vocab[int(rng.integers(vocab_size))])
        texts.append(toks)
        cluster.append(int(b))
    order = rng.permutation(n_docs)    # ids must not reveal which docs are variants
    ids = [int(i) for i in range(n_docs)]
    docs = [" ".join(texts[j]) for j in order]
    clus = [cluster[j] for j in order]
    members: dict[int, list[int]] = {}
    for i, c in enumerate(clus):
        members.setdefault(c, []).append(i)
    planted = sorted((a, b) for m in members.values() if len(m) > 1
                     for x, a in enumerate(m) for b in m[x + 1:])
    return {"ids": ids, "texts": docs, "planted": planted}


def corpus_table(corpus: dict) -> pa.Table:
    return pa.table({"doc_id": pa.array(corpus["ids"], pa.int64()),
                     "text": pa.array(corpus["texts"], pa.string())})


# --------------------------------------------------------------- stream

def stream_file(rng: np.random.Generator, n: int, *, keys: np.ndarray,
                p: np.ndarray, now_us: int, interval_us: int,
                disorder_share: float, disorder_max_us: int) -> pa.Table:
    """One generator tick: ``n`` events created during the last
    ``interval_us`` (the newest at ``now_us``); a ``disorder_share`` of
    them were created up to ``disorder_max_us`` earlier and arrive late."""
    ts = now_us - np.sort(rng.integers(0, interval_us, n))[::-1]
    ts[-1] = now_us
    late = rng.random(n) < disorder_share
    late[-1] = False
    ts[late] -= rng.integers(1, disorder_max_us, late.sum())
    return events_table({"user_id": keys[rng.choice(len(keys), n, p=p)],
                         "ts_us": ts.astype(np.int64),
                         "amount": rng.integers(1, 1000, n, dtype=np.int64)})


def stream_keys(seed: int, users: int, zipf_s: float):
    rng = np.random.default_rng(seed)
    return rng.permutation(users).astype(np.int64), zipf_probs(users, zipf_s)


def write_backlog(seed: int, out_dir: str, *, files: int, per_file: int,
                  users: int, zipf_s: float, interval_s: float,
                  disorder_share: float, disorder_max_s: float,
                  base_s: float) -> None:
    """A pre-staged backlog: the files the stream generator would have
    written over ``files`` ticks, on a synthetic clock from ``base_s``."""
    os.makedirs(out_dir, exist_ok=True)
    keys, p = stream_keys(seed, users, zipf_s)
    rng = np.random.default_rng(seed + 1)
    iv = int(interval_s * 1e6)
    for k in range(files):
        t = stream_file(rng, per_file, keys=keys, p=p,
                        now_us=int(base_s * 1e6) + (k + 1) * iv, interval_us=iv,
                        disorder_share=disorder_share,
                        disorder_max_us=int(disorder_max_s * 1e6))
        write_parquet_atomic(t, os.path.join(out_dir, f"b-{k:05d}.parquet"))


def run_stream_generator(prm: dict) -> None:
    """Open loop: tick k is due at start + k * interval whatever the
    consumer does; a late tick is written at once, never skipped. Each
    written file is logged to the manifest as ``k due written n``
    (wall-clock seconds), which gives the consumer's input lag and how
    late the generator itself ran."""
    keys, p = stream_keys(prm["seed"], prm["users"], prm["zipf_s"])
    rng = np.random.default_rng(prm["seed"] + 1)
    iv = prm["interval_s"]
    n = int(round(prm["rate"] * iv))
    start = prm["start_wall"]
    with open(prm["manifest"], "w") as man:
        for k in range(prm["ticks"]):
            due = start + (k + 1) * iv
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            now = time.time()
            t = stream_file(rng, n, keys=keys, p=p, now_us=int(now * 1e6),
                            interval_us=int(iv * 1e6),
                            disorder_share=prm["disorder_share"],
                            disorder_max_us=int(prm["disorder_max_s"] * 1e6))
            write_parquet_atomic(t, os.path.join(prm["out_dir"], f"s-{k:05d}.parquet"))
            man.write(f"{k} {due:.6f} {now:.6f} {n}\n")
            man.flush()


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "stream":
        sys.exit("usage: gen.py stream '<json params>'")
    run_stream_generator(json.loads(sys.argv[2]))
