"""Independent reference computations and output checks.

Each reference recomputes a pipeline's result from the generated input
with pandas/numpy or plain Python, never through the package under
test. Each ``check_*`` returns a list of problems; an empty list means
the output passed.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

# ------------------------------------------------------ operator chains

JVM_AMOUNT = (3, 1, 5)       # amount -> amount * 3 + 1, keep % 5 != 0
UDF_AMOUNT = (7, 1009, 3)    # amount -> amount * 7 % 1009, keep % 3 != 0


def jvm_prefix(ev: pd.DataFrame) -> pd.DataFrame:
    mul, add, mod = JVM_AMOUNT
    out = ev.assign(amount=ev["amount"] * mul + add)
    return out[out["amount"] % mod != 0]


def ref_tumbling(ev: pd.DataFrame, size_us: int) -> pd.DataFrame:
    ev = jvm_prefix(ev)
    ws = ev["ts_us"] - ev["ts_us"] % size_us
    g = ev.assign(ws=ws).groupby(["user_id", "ws"])["amount"]
    out = pd.DataFrame({"n": g.size(), "s": g.sum()}).reset_index()
    out["we"] = out["ws"] + size_us
    return out


def ref_sliding(ev: pd.DataFrame, size_us: int, slide_us: int) -> pd.DataFrame:
    ev = jvm_prefix(ev)
    last = ev["ts_us"] - ev["ts_us"] % slide_us
    parts = [ev.assign(ws=last - k * slide_us) for k in range(size_us // slide_us)]
    g = pd.concat(parts).groupby(["user_id", "ws"])["amount"]
    out = pd.DataFrame({"n": g.size(), "s": g.sum()}).reset_index()
    out["we"] = out["ws"] + size_us
    return out


def ref_session(ev: pd.DataFrame, gap_us: int) -> pd.DataFrame:
    """Gap sessions: each event opens [ts, ts + gap); overlapping
    intervals of one key merge, so a new session starts where the next
    event is at least ``gap`` after the previous one."""
    ev = jvm_prefix(ev).sort_values(["user_id", "ts_us"], kind="stable")
    u = ev["user_id"].to_numpy()
    t = ev["ts_us"].to_numpy()
    new = np.ones(len(t), dtype=bool)
    new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] >= gap_us)
    sid = np.cumsum(new)
    g = ev.assign(sid=sid).groupby("sid")
    out = pd.DataFrame({"user_id": g["user_id"].first(), "ws": g["ts_us"].min(),
                        "we": g["ts_us"].max() + gap_us,
                        "n": g.size(), "s": g["amount"].sum()})
    return out.reset_index(drop=True)


def ref_udf(ev: pd.DataFrame) -> pd.DataFrame:
    mul, mod_in, mod = UDF_AMOUNT
    a = ev["amount"] * mul % mod_in
    ev = ev.assign(amount=a)[a % mod != 0]
    g = ev.groupby("user_id")["amount"]
    return pd.DataFrame({"n": g.size(), "s": g.sum()}).reset_index()


def _micros(col: pd.Series) -> np.ndarray:
    """Spark's ``toPandas`` timestamp column as int64 epoch micros."""
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        return col.to_numpy().astype("datetime64[us]").astype(np.int64)
    return col.to_numpy(dtype=np.int64)


def normalize_windowed(got: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"user_id": got["user_id"].to_numpy(np.int64),
                         "ws": _micros(got["window_start"]),
                         "we": _micros(got["window_end"]),
                         "n": got["n"].to_numpy(np.int64),
                         "s": got["s"].to_numpy(np.int64)})


def check_frame(got: pd.DataFrame, ref: pd.DataFrame, keys: list[str],
                what: str) -> list[str]:
    """Exact equality of two result frames, ignoring row order."""
    cols = sorted(ref.columns)
    if sorted(got.columns) != cols:
        return [f"{what}: columns {sorted(got.columns)} != {cols}"]
    if len(got) != len(ref):
        return [f"{what}: {len(got)} rows, reference has {len(ref)}"]
    a = got[cols].sort_values(keys).reset_index(drop=True).astype(np.int64)
    b = ref[cols].sort_values(keys).reset_index(drop=True).astype(np.int64)
    bad = (a != b).any(axis=1)
    if bad.any():
        i = int(np.flatnonzero(bad.to_numpy())[0])
        return [f"{what}: {int(bad.sum())} rows differ, first {a.iloc[i].to_dict()} "
                f"!= {b.iloc[i].to_dict()}"]
    return []


# -------------------------------------------------------------- stream

def ref_stream_windows(ev: pd.DataFrame, size_us: int) -> dict:
    """(user_id, window_start_us) -> (count, sum, max_ts_us) over every
    generated event, the batch recomputation of the streaming query."""
    ws = ev["ts_us"] - ev["ts_us"] % size_us
    g = ev.assign(ws=ws).groupby(["user_id", "ws"])
    agg = pd.DataFrame({"n": g.size(), "s": g["amount"].sum(),
                        "m": g["ts_us"].max()})
    return {k: tuple(int(x) for x in v)
            for k, v in zip(agg.index, agg.itertuples(index=False, name=None))}


def check_stream(last: dict, ref: dict, dropped_rows: int, what: str) -> list[str]:
    """The last update of each window equals the batch recomputation,
    net of watermark drops. Spark counts drops as rows reaching the
    state store after partial aggregation, so each counted drop can
    short at most one window: every window must be exact or short
    (never over, never unknown), and no more windows may be short than
    rows were counted as dropped."""
    extra = set(last) - set(ref)
    if extra:
        return [f"{what}: {len(extra)} windows not in the input, e.g. {sorted(extra)[0]}"]
    short = 0
    for k, want in ref.items():
        got = last.get(k)
        if got == want:
            continue
        if got is not None and (got[0] > want[0] or got[2] > want[2]):
            return [f"{what}: window {k} reads {got}, input gives {want}"]
        short += 1
    if short > dropped_rows:
        return [f"{what}: {short} windows short of the input but only "
                f"{dropped_rows} rows dropped by the watermark"]
    return []


# -------------------------------------------------------------- corpus

def words(text: str) -> list[str]:
    return [w for w in text.lower().split(" ") if w]


def bpe_replay(texts: list[str], rounds: int, min_count: int = 2) -> list[tuple]:
    """Greedy BPE in plain Python: per round the most frequent adjacent
    pair (count desc, then pair asc) merges left to right in every word.
    Returns (round, a + b, a, b, count) rows."""
    vocab: Counter = Counter()
    for t in texts:
        for w in words(t):
            vocab[tuple(w)] += 1
    merges = []
    for r in range(rounds):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((r, a + b, a, b, cnt))
        nxt: Counter = Counter()
        for syms, c in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            nxt[tuple(out)] += c
        vocab = nxt
    return merges


def check_merges(got: list[tuple], want: list[tuple]) -> list[str]:
    if got != want:
        i = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w),
                 min(len(got), len(want)))
        return [f"bpe merges differ from the replay at round {i}: "
                f"{got[i:i + 1]} != {want[i:i + 1]} ({len(got)} vs {len(want)} rounds)"]
    return []


def shingles(text: str, n: int = 3) -> frozenset:
    w = words(text)
    return frozenset(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    i = len(a & b)
    u = len(a) + len(b) - i
    return i / u if u else 0.0


def exact_pairs(sets: list[frozenset], threshold: float) -> set:
    """Every pair (a < b) with Jaccard >= threshold, by prefix filtering:
    order each set rarest shingle first; two sets reaching the threshold
    must share a shingle within their first |x| - ceil(t|x|) + 1."""
    df: Counter = Counter(s for x in sets for s in x)
    index: dict[str, list[int]] = {}
    cands: set = set()
    for i, x in enumerate(sets):
        if not x:
            continue
        order = sorted(x, key=lambda s: (df[s], s))
        k = len(x) - int(np.ceil(threshold * len(x) - 1e-9)) + 1
        for s in order[:k]:
            for j in index.get(s, ()):
                cands.add((j, i))
            index.setdefault(s, []).append(i)
    return {p for p in cands if jaccard(sets[p[0]], sets[p[1]]) >= threshold}


# the smallest share of planted near-duplicate pairs (Jaccard >= the
# threshold) that LSH blocking must recover; 4 bands of 3 rows recall
# a pair at J = 0.7 with probability 0.80
RECALL_MIN = 0.75
# Spark reports Jaccard rounded to 4 decimals
ROUND_TOL = 5e-5 + 1e-12


def check_pairs(got: list[tuple], sets: list[frozenset], planted: set,
                threshold: float) -> list[str]:
    probs = []
    for a, b, j in got:
        exact = jaccard(sets[a], sets[b])
        if exact < threshold - ROUND_TOL or abs(exact - j) > ROUND_TOL:
            probs.append(f"pair ({a}, {b}) reported J={j}, exact J={exact:.6f}")
            break
    found = {(a, b) for a, b, _ in got}
    if len(found) != len(got):
        probs.append(f"{len(got) - len(found)} duplicate pairs returned")
    want = {p for p in planted if jaccard(sets[p[0]], sets[p[1]]) >= threshold}
    if want and len(found & want) < RECALL_MIN * len(want):
        probs.append(f"recall of planted pairs {len(found & want)}/{len(want)} "
                     f"below {RECALL_MIN}")
    return probs


def check_report(rows: list[dict], truth: set) -> list[str]:
    """The method-selection report: the exact ground-truth count, and
    precision/recall consistent with each method's counts."""
    probs = []
    methods = sorted(r["method"] for r in rows)
    if methods != ["minhash_lsh", "simhash64_bands", "winnowing"]:
        return [f"report methods {methods}"]
    for r in rows:
        n_pred, n_truth, tp = r["n_pred"], r["n_truth"], r["true_pos"]
        if n_truth != len(truth):
            probs.append(f"{r['method']}: n_truth {n_truth} != exact {len(truth)}")
        if not 0 <= tp <= min(n_pred, n_truth):
            probs.append(f"{r['method']}: true_pos {tp} outside [0, {min(n_pred, n_truth)}]")
        if r["precision_micro"] != tp * 1_000_000 // max(n_pred, 1) or \
                r["recall_micro"] != tp * 1_000_000 // max(n_truth, 1):
            probs.append(f"{r['method']}: precision/recall do not follow from counts")
        if r["method"] == "minhash_lsh" and truth and tp < RECALL_MIN * len(truth):
            probs.append(f"minhash_lsh true_pos {tp} below {RECALL_MIN} of {len(truth)}")
    return probs
