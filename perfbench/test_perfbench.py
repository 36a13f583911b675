"""The benchmark's own tests: seeded generators repeat, every output
check rejects a corrupted result, and the self-time arithmetic holds.
No Spark needed::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import phases  # noqa: E402
from spans import covered, self_times  # noqa: E402


def _events(seed, n=5000, zipf_s=1.2, disorder=0.2):
    return gen.make_events(seed, n, users=50, zipf_s=zipf_s, disorder_share=disorder,
                           disorder_max_s=60, span_s=3600, base_s=1_700_000_000)


# ------------------------------------------------------------ generators

def test_events_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = _events(7), _events(7), _events(8)
    for k in a:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["user_id"], c["user_id"])


def test_event_mix_properties():
    skew = pd.Series(_events(1, 20000)["user_id"]).value_counts()
    even = pd.Series(_events(1, 20000, zipf_s=0.0)["user_id"]).value_counts()
    assert skew.iloc[0] > 5 * even.iloc[0]
    inorder = _events(1, disorder=0.0)["ts_us"]
    assert np.all(np.diff(inorder) >= 0)
    assert np.any(np.diff(_events(1)["ts_us"]) < 0)


def test_corpus_repeats_and_plants_near_duplicates():
    a = gen.make_corpus(3, 200, vocab_size=500, zipf_s=1.0, dup_share=0.3)
    b = gen.make_corpus(3, 200, vocab_size=500, zipf_s=1.0, dup_share=0.3)
    assert a == b
    assert a != gen.make_corpus(4, 200, vocab_size=500, zipf_s=1.0, dup_share=0.3)
    sets = [checks.shingles(t) for t in a["texts"]]
    js = [checks.jaccard(sets[x], sets[y]) for x, y in a["planted"]]
    assert len(js) >= 60 and min(js) >= 0.5
    assert checks.exact_pairs(sets, 0.5) == set(a["planted"])


def test_backlog_repeats(tmp_path):
    kw = dict(files=3, per_file=200, users=20, zipf_s=1.2, interval_s=0.2,
              disorder_share=0.2, disorder_max_s=2.0, base_s=1_700_000_000)
    gen.write_backlog(5, str(tmp_path / "a"), **kw)
    gen.write_backlog(5, str(tmp_path / "b"), **kw)
    pd.testing.assert_frame_equal(gen.read_events(str(tmp_path / "a")),
                                  gen.read_events(str(tmp_path / "b")))


# ---------------------------------------------------------------- checks

def _ev_frame(seed=11):
    return pd.DataFrame(_events(seed))


@pytest.mark.parametrize("name", ["tumbling", "sliding", "session", "udf_chain"])
def test_operator_checks_reject_a_corrupted_result(name):
    ev = _ev_frame()
    ref = {"tumbling": lambda: checks.ref_tumbling(ev, 600_000_000),
           "sliding": lambda: checks.ref_sliding(ev, 600_000_000, 300_000_000),
           "session": lambda: checks.ref_session(ev, 120_000_000),
           "udf_chain": lambda: checks.ref_udf(ev)}[name]()
    keys = ["user_id"] if name == "udf_chain" else ["user_id", "ws", "we"]
    got = ref.sample(frac=1.0, random_state=0)
    assert checks.check_frame(got, ref, keys, name) == []
    bad = got.copy()
    bad.iloc[3, bad.columns.get_loc("s")] += 1
    assert checks.check_frame(bad, ref, keys, name)
    assert checks.check_frame(got.iloc[1:], ref, keys, name)


def test_session_reference_splits_at_the_gap():
    ev = pd.DataFrame({"user_id": [1, 1, 1, 2], "ts_us": [0, 50, 150, 10],
                       "amount": [1, 1, 1, 1]})   # amounts 4: all kept
    # an event exactly one gap after the previous one opens a new session
    out = checks.ref_session(ev, 100).sort_values(["user_id", "ws"])
    assert out[["ws", "we", "n"]].values.tolist() == [[0, 150, 2], [150, 250, 1],
                                                      [10, 110, 1]]
    out = checks.ref_session(ev, 60).sort_values(["user_id", "ws"])
    assert out[["ws", "we", "n"]].values.tolist() == [[0, 110, 2], [150, 210, 1],
                                                      [10, 70, 1]]


def test_stream_check_nets_out_counted_drops():
    ref = {(1, 0): (3, 30, 9), (2, 0): (1, 5, 4)}
    assert checks.check_stream(dict(ref), ref, 0, "s") == []
    short = {(1, 0): (2, 20, 9), (2, 0): (1, 5, 4)}
    assert checks.check_stream(short, ref, 0, "s")
    assert checks.check_stream(short, ref, 1, "s") == []
    over = {(1, 0): (4, 40, 9), (2, 0): (1, 5, 4)}
    assert checks.check_stream(over, ref, 5, "s")
    assert checks.check_stream({**ref, (3, 0): (1, 1, 1)}, ref, 5, "s")


def test_merge_check_rejects_a_corrupted_table():
    texts = ["low lower lowest", "low low newer newest", "wider new newer"]
    want = checks.bpe_replay(texts, 5)
    assert want[0] == (0, "lo", "l", "o", 6) or want[0][4] >= 2
    assert checks.check_merges(list(want), want) == []
    bad = list(want)
    bad[1] = bad[1][:4] + (bad[1][4] + 1,)
    assert checks.check_merges(bad, want)
    assert checks.check_merges(want[:-1], want)


def test_pair_and_report_checks_reject_corruption():
    c = gen.make_corpus(9, 200, vocab_size=500, zipf_s=1.0, dup_share=0.3)
    sets = [checks.shingles(t) for t in c["texts"]]
    truth = checks.exact_pairs(sets, 0.5)
    planted = set(c["planted"])
    good = [(a, b, round(checks.jaccard(sets[a], sets[b]), 4)) for a, b in sorted(truth)]
    assert checks.check_pairs(good, sets, planted, 0.5) == []
    lo = next((a, b) for a in range(len(sets)) for b in range(a + 1, len(sets))
              if (a, b) not in truth)
    assert checks.check_pairs(good + [(*lo, 0.9)], sets, planted, 0.5)
    assert checks.check_pairs(good[: len(good) // 2], sets, planted, 0.5)

    def row(method, n_pred, tp, n_truth=len(truth)):
        return {"method": method, "n_pred": n_pred, "n_truth": n_truth, "true_pos": tp,
                "precision_micro": tp * 1_000_000 // max(n_pred, 1),
                "recall_micro": tp * 1_000_000 // max(n_truth, 1)}

    n = len(truth)
    rows = [row("minhash_lsh", n + 5, n), row("simhash64_bands", n, n // 2),
            row("winnowing", n, n)]
    assert checks.check_report(rows, truth) == []
    assert checks.check_report([row("minhash_lsh", n, n, n + 1)] + rows[1:], truth)
    assert checks.check_report([row("minhash_lsh", n, n // 2)] + rows[1:], truth)
    bad = dict(rows[1], precision_micro=rows[1]["precision_micro"] + 1)
    assert checks.check_report([rows[0], bad, rows[2]], truth)


# ------------------------------------------------------------- self time

def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(0, 10), (2, 3)], 0, 10) == 10


def test_self_time_is_duration_minus_children():
    spans = [{"id": 1, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
             {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},
             {"id": 4, "parent": 3, "start": 2.5, "end": 4.0},
             {"id": 5, "parent": 1, "start": 8.0, "end": 10.0}]
    st = self_times(spans)
    assert st == {1: 10 - 6, 2: 2.0, 3: 3.0 - 1.5, 4: 1.5, 5: 2.0}


# ------------------------------------------------------ measured loops

def test_a_call_that_always_fails_ends_the_loop_and_reads_null(tmp_path):
    run = phases.Run("corpus_curation", phases.WORKLOADS["corpus_curation"], 1, False,
                     str(tmp_path))

    def boom():
        raise RuntimeError("broken")

    ok = run.repeat(lambda: run.attempt("always_fails", lambda: boom()), 0.0, 3)
    assert ok == [] and run.attempted == run.failed == 6
    run.e2e["latency_p50_s"] = phases.median([])
    out = run.end_to_end()
    assert out["latency_p50_s"]["value"] is None and out["setup_s"]["value"] is None


def test_the_loop_runs_for_its_budget_and_to_its_minimum():
    calls = []
    assert len(phases.Run.repeat(lambda: calls.append(1) or 1, 0.0, 4)) == 4
    calls.clear()
    ok = phases.Run.repeat(lambda: calls.append(1) or (1 if len(calls) % 2 else None), 0.0, 3)
    assert len(ok) == 3 and len(calls) == 5
    ok = phases.Run.repeat(lambda: __import__("time").sleep(0.01) or 1, 0.1, 1)
    assert len(ok) >= 5


# ------------------------------------------------------- metric registry

def test_benchmark_json_lists_every_printed_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == phases.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == phases.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(phases.WORKLOADS)
