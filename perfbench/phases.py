"""The benchmark's phases, driven through public entry points only:
``session.get_spark``, ``api.Source/Flow/Sink``, ``operators``,
``streaming.file_stream_source``/``foreach_batch_sink``,
``functions.text.bpe_train_merges``, ``functions.dedup`` and
``plans.release_tracked``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from datetime import datetime
from functools import reduce
from time import perf_counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen
from spans import STAGE_FIELDS, Tracer, self_times, stage_metrics

BASE_S = 1_700_000_000          # event-time origin of the batch inputs

# Each workload runs one phase; its mix fixes the input properties the
# engine's behaviour depends on. Every seed draws different inputs of
# the same size and shape, so a workload's figures compare across seeds.
WORKLOADS = {
    # keyed windows, batch and streaming: api + operators run the closed-
    # loop chains (codegen, hash shuffle, session sort, Arrow Python
    # workers) for rows_per_s; streaming runs the same tumbling window
    # incrementally with a state store, fed by an open-loop generator
    # process, for latency_p50_s. functions does no work here. The rate
    # is a fifth of what a drain sustains on a busy 4-core host (about
    # 50k events/s), so fixed per-trigger cost, not queueing, sets the
    # latency; at 50k events/s the median rose 2-3x whenever the host
    # slowed.
    "window_pipelines": {"phases": ("ops", "stream"), "zipf_s": 1.1,
                         "disorder_share": 0.2, "rate": 10_000},
    # driver-round-trip-bound BPE training and shuffle/CPU-bound LSH
    # pairs; operators and streaming do no work here
    "corpus_curation": {"phases": ("corpus",), "dup_share": 0.2},
}

# operator chains: 400k events over two hours, 2000 users; a pass runs
# the four pipelines once each
OPS_EVENTS, OPS_USERS, OPS_SPAN_S, OPS_DISORDER_MAX_S = 400_000, 2000, 7200, 300
TUMBLE, SLIDE, GAP = "10 minutes", "5 minutes", "2 minutes"
OPS_WARMUP_PASSES, OPS_MIN_PASSES = 2, 3

# stream: one file every 0.2 s; 2 s tumbling windows, 5 s watermark; late
# events are at most 2 s late, so none should fall behind the watermark.
# Traced runs then drain a pre-staged backlog DRAINS times.
STREAM_USERS, STREAM_INTERVAL_S, STREAM_DISORDER_MAX_S = 500, 0.2, 2.0
STREAM_WINDOW, STREAM_WINDOW_US, STREAM_WATERMARK = "2 seconds", 2_000_000, "5 seconds"
STREAM_WARMUP_S = 3.0           # latency samples start this long after the first file
STREAM_MIN_OPEN_S = 6.0
STREAM_SCHEMA = "user_id long, ts timestamp, amount long"
DRAIN_FILES, DRAIN_PER_FILE, DRAIN_FILES_PER_TRIGGER, DRAINS = 10, 20_000, 2, 3
STREAM_DRAIN_TIMEOUT_S = 120

# corpus: 1000 documents, 8 BPE rounds, Jaccard threshold 0.5; an
# iteration runs BPE training and near-duplicate pairs once each.
# dedup_method_eval launches about 50 jobs whatever the corpus size (8 to
# 10 s on 4 cores), so it runs, with its output check, in traced runs only.
CORPUS_DOCS, CORPUS_VOCAB, CORPUS_ZIPF, WARM_DOCS = 1000, 3000, 1.0, 30
BPE_ROUNDS, THRESHOLD = 8, 0.5
CORPUS_WARMUP_ITERS, CORPUS_MIN_ITERS = 1, 3

# name -> unit of every metric a run prints (BENCHMARK.json lists the
# same names; test_perfbench.py holds the two together)
END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "latency_p50_s": "s"}
PER_LAYER = {
    "api.build_s": "s", "api.build_jobs": "count",
    "operators.pass_s": "s", "operators.tumbling_s": "s", "operators.sliding_s": "s", "operators.session_s": "s",
    "operators.udf_chain_s": "s", "operators.executor_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.gc_s": "s",
    "streaming.latency_p95_s": "s", "streaming.latency_samples": "count",
    "streaming.latency_triggers": "count",
    "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes", "streaming.state_commit_ms_p50": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.drain_rows_per_s": "rows/s", "streaming.drain_batches": "count",
    "streaming.drain_trigger_ms_p50": "ms",
    "sources.input_lag_s": "s", "sources.generator_late_ms_max": "ms",
    "sinks.batch_write_ms_p50": "ms",
    "text.train_s": "s", "text.jobs": "count", "text.stages": "count",
    "text.tasks": "count", "text.ms_per_job": "ms", "text.executor_busy_share": "ratio",
    "dedup.pairs_s": "s", "dedup.jobs": "count", "dedup.stages": "count",
    "dedup.shuffle_write_bytes": "bytes", "dedup.spill_bytes": "bytes",
    "dedup.executor_cpu_s": "s", "dedup.gc_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.eval_s": "s",
    "plans.pins_released": "count", "plans.persisted_left": "count",
    # the end-to-end figures as measured with tracing on; against the
    # untraced runs' figures they give the tracing overhead
    "trace.rows_per_s": "rows/s", "trace.latency_p50_s": "s",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else float("nan")


def pct(xs, q) -> float:
    return float(np.percentile(xs, q)) if len(xs) else float("nan")


def add_stats(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in STAGE_FIELDS}


class Run:
    """One benchmark process: inputs, a Spark session, the workload's phases.

    ``attempted``/``failed`` count public calls (each with its output
    check) and hygiene assertions; a call that raises or whose output
    fails its check counts as failed."""

    def __init__(self, workload: str, mix: dict, seed: int, traced: bool, work: str):
        self.workload, self.mix, self.seed, self.traced, self.work = (
            workload, mix, seed, traced, work)
        self.tracer = Tracer(False)
        self.attempted = self.failed = 0
        self.e2e: dict = {}
        self.layer: dict = {}
        self.detail: dict = {"workload": workload, "seed": seed}
        self.spark = self.sc = None
        self.queries: list = []
        self.procs: list = []

    # ------------------------------------------------------ bookkeeping

    def attempt(self, what: str, fn):
        """Run ``fn`` -> (result, problems); count it and its failure."""
        self.attempted += 1
        t0 = perf_counter()
        try:
            out, problems = fn()
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            log(f"FAILED {what}: raised\n{traceback.format_exc()}")
            self.failed += 1
            return None
        finally:
            self.detail.setdefault("calls", []).append((what, round(perf_counter() - t0, 3)))
        if problems:
            log(f"FAILED {what}: {problems}")
            self.failed += 1
        return out

    @staticmethod
    def repeat(step, budget: float, min_ok: int) -> list:
        """Call ``step`` until ``budget`` seconds are spent and ``min_ok``
        calls succeeded -> the successful results (``step`` returns None
        on failure). A step that keeps failing gives up on the minimum
        after 2 x ``min_ok`` tries, so the loop always ends."""
        ok, tries = [], 0
        end = perf_counter() + budget
        while perf_counter() < end or (len(ok) < min_ok and tries < 2 * min_ok):
            tries += 1
            r = step()
            if r is not None:
                ok.append(r)
        return ok

    def stats(self, *groups) -> dict:
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for g in groups:
            if g:
                out = add_stats(out, stage_metrics(self.sc, g))
        return out

    # -------------------------------------------------------- inputs

    def generate(self) -> None:
        """The workload's inputs and reference results, before any timing."""
        t0 = perf_counter()
        for phase in self.mix["phases"]:
            getattr(self, f"gen_{phase}")()
        self.detail["generate_s"] = perf_counter() - t0

    def gen_ops(self) -> None:
        m, s, w = self.mix, self.seed, self.work
        ev = gen.make_events(s, OPS_EVENTS, users=OPS_USERS, zipf_s=m["zipf_s"],
                             disorder_share=m["disorder_share"],
                             disorder_max_s=OPS_DISORDER_MAX_S, span_s=OPS_SPAN_S,
                             base_s=BASE_S)
        self.events_dir = os.path.join(w, "events")
        gen.write_events(ev, self.events_dir, 4)
        evdf = pd.DataFrame(ev)
        tu, su, gu = (pd.Timedelta(x).value // 1000 for x in (TUMBLE, SLIDE, GAP))
        self.ops_ref = {"tumbling": checks.ref_tumbling(evdf, tu),
                        "sliding": checks.ref_sliding(evdf, tu, su),
                        "session": checks.ref_session(evdf, gu),
                        "udf_chain": checks.ref_udf(evdf)}

    def gen_stream(self) -> None:
        m, s, w = self.mix, self.seed, self.work
        self.stream_prm = {"users": STREAM_USERS, "zipf_s": m["zipf_s"],
                           "interval_s": STREAM_INTERVAL_S,
                           "disorder_share": m["disorder_share"],
                           "disorder_max_s": STREAM_DISORDER_MAX_S}
        self.backlog_dir = os.path.join(w, "backlog")
        gen.write_backlog(s + 1, self.backlog_dir, files=DRAIN_FILES,
                          per_file=DRAIN_PER_FILE, base_s=BASE_S, **self.stream_prm)
        self.backlog_ref = checks.ref_stream_windows(gen.read_events(self.backlog_dir),
                                                     STREAM_WINDOW_US)

    def gen_corpus(self) -> None:
        m, s, w = self.mix, self.seed, self.work
        corpus = gen.make_corpus(s, CORPUS_DOCS, vocab_size=CORPUS_VOCAB,
                                 zipf_s=CORPUS_ZIPF, dup_share=m["dup_share"])
        warm = gen.make_corpus(s + 1, WARM_DOCS, vocab_size=CORPUS_VOCAB,
                               zipf_s=CORPUS_ZIPF, dup_share=m["dup_share"])
        self.corpus_path = os.path.join(w, "corpus.parquet")
        self.warm_path = os.path.join(w, "warm.parquet")
        pq.write_table(gen.corpus_table(corpus), self.corpus_path)
        pq.write_table(gen.corpus_table(warm), self.warm_path)
        self.bpe_ref = checks.bpe_replay(corpus["texts"], BPE_ROUNDS)
        self.sets = [checks.shingles(t) for t in corpus["texts"]]
        self.truth = checks.exact_pairs(self.sets, THRESHOLD)
        self.planted = set(corpus["planted"])

    # -------------------------------------------------------- set-up

    def setup(self) -> None:
        """setup_s: get_spark to the first job finished, once per process:
        JVM launch, session and first job, as a fresh process pays them.
        A set-up repeated in the same JVM takes 0.3-0.5 s against 5-11 s
        cold on a 4-core host, so it would leave the launch out; repeated
        cold set-ups cost that much each."""
        from go_streams_spark.session import get_spark
        conf = {"spark.local.dir": os.path.join(self.work, "spark"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"}
        t0 = perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.range(1).count()
        self.e2e["setup_s"] = self.detail["setup_s"] = perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.tracer.sc = self.sc

    # ----------------------------------------------------------- ops

    def chains(self) -> dict:
        from pyspark.sql import functions as F

        from go_streams_spark import operators as O

        def aggs():
            return F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")

        mul, add, mod = checks.JVM_AMOUNT
        umul, umod_in, umod = checks.UDF_AMOUNT
        prefix = [O.Map({"user_id": "user_id", "ts": "ts",
                         "amount": f"amount * {mul} + {add}"}),
                  O.Filter(f"amount % {mod} <> 0")]
        return {
            "tumbling": prefix + [O.tumbling_window("ts", TUMBLE, *aggs(), keys=["user_id"])],
            "sliding": prefix + [O.sliding_window("ts", TUMBLE, SLIDE, *aggs(),
                                                  keys=["user_id"])],
            "session": prefix + [O.session_window("ts", GAP, *aggs(), keys=["user_id"])],
            # Python callables: the Arrow pandas-UDF path. Literals ride as
            # defaults so the lambdas pickle without this module.
            "udf_chain": [O.Map(lambda v, m=umul, d=umod_in: v * m % d, column="amount",
                                output="amount", return_type="long"),
                          O.Filter(lambda v, d=umod: v % d != 0, column="amount"),
                          O.keyed(["user_id"], *aggs())],
        }

    def run_chain(self, name: str, flows: list):
        """One pipeline, source to sink, and its output check."""
        from go_streams_spark.api import Sink, Source
        tr = self.tracer
        to_pandas = Sink(lambda df: df.toPandas(), name="to_pandas")

        def call():
            with tr.span(f"operators.{name}"):
                t0 = perf_counter()
                with tr.span("api.build", group=True) as gb:
                    src = Source.from_df(self.spark.read.parquet(self.events_dir), "events")
                    for f in flows:
                        src = src.via(f)
                t1 = perf_counter()
                with tr.span("sinks.to_pandas", group=True) as ga:
                    got = src.to(to_pandas)
                t2 = perf_counter()
            if name == "udf_chain":
                got = got[["user_id", "n", "s"]].astype(np.int64)
                problems = checks.check_frame(got, self.ops_ref[name], ["user_id"], name)
            else:
                problems = checks.check_frame(checks.normalize_windowed(got),
                                              self.ops_ref[name], ["user_id", "ws", "we"], name)
            out = {"total": t2 - t0, "build": t1 - t0}
            if tr.enabled:
                built = self.stats(gb)
                out["build_jobs"] = built["jobs"]
                out["stats"] = add_stats(built, self.stats(ga))
            return out, problems

        return self.attempt(f"ops/{name}", call)

    def phase_ops(self, budget: float) -> None:
        chains = self.chains()
        # warm-up: code generation, JIT and Python workers; pass times
        # keep falling for several passes on a fresh JVM
        for _ in range(OPS_WARMUP_PASSES):
            for name, flows in chains.items():
                self.run_chain(name, flows)

        def one_pass():
            self.tracer.new_trace()
            with self.tracer.span("pass"):
                res = {n: self.run_chain(n, f) for n, f in chains.items()}
            return res if all(res.values()) else None

        self.tracer.enabled = self.traced
        passes = self.repeat(one_pass, budget, OPS_MIN_PASSES)
        self.tracer.enabled = False
        pass_s = [sum(v["total"] for v in r.values()) for r in passes]
        self.e2e["rows_per_s"] = len(chains) * OPS_EVENTS / median(pass_s)
        self.detail["ops_pass_s"] = pass_s
        L = self.layer
        L["operators.pass_s"] = median(pass_s)
        for n in chains:
            L[f"operators.{n}_s"] = median([r[n]["total"] for r in passes])
        if self.traced and passes:
            tot = [reduce(add_stats, (v["stats"] for v in r.values())) for r in passes]
            L["operators.executor_cpu_s"] = median([t["cpu_s"] for t in tot])
            L["operators.shuffle_write_bytes"] = median([t["shuffle_write_bytes"] for t in tot])
            L["operators.spill_bytes"] = median([t["spill_bytes"] for t in tot])
            L["operators.gc_s"] = median([t["gc_s"] for t in tot])
            L["api.build_s"] = median([sum(v["build"] for v in r.values()) for r in passes])
            L["api.build_jobs"] = median([sum(v["build_jobs"] for v in r.values())
                                          for r in passes])

    # -------------------------------------------------------- stream

    def stream_flow(self):
        from pyspark.sql import functions as F

        from go_streams_spark.operators import tumbling_window
        return tumbling_window("ts", STREAM_WINDOW, F.count(F.lit(1)).alias("n"),
                               F.sum("amount").alias("s"),
                               F.max(F.unix_micros("ts")).alias("m"),
                               keys=["user_id"], watermark=STREAM_WATERMARK)

    def start_query(self, path: str, ckpt: str, log_: list, *, drain: bool, **opts):
        """file_stream_source -> tumbling window -> foreachBatch sink that
        collects each update; ``log_`` gets (batch, emit wall time,
        seconds inside the sink body, rows)."""
        from pyspark.sql import functions as F

        from go_streams_spark.api import Source
        from go_streams_spark.streaming import file_stream_source, foreach_batch_sink

        def body(bdf, bid):
            t0 = time.time()
            rows = bdf.select("user_id", F.unix_micros("window_start").alias("ws"),
                              "n", "s", "m").collect()
            t1 = time.time()
            log_.append((bid, t1, t1 - t0, [tuple(r) for r in rows]))

        src = file_stream_source(self.spark, path, fmt="parquet", schema=STREAM_SCHEMA, **opts)
        sink = foreach_batch_sink(body, checkpoint=ckpt, output_mode="update",
                                  available_now=drain, await_termination=False)
        q = Source.from_df(src, "files").via(self.stream_flow()).to(sink)
        self.queries.append(q)
        return q

    @staticmethod
    def poll(q, seen: dict) -> None:
        """recentProgress keeps a bounded tail; merge it by batch id."""
        for p in q.recentProgress:
            d = json.loads(p.json)
            seen[d["batchId"]] = d

    @staticmethod
    def last_updates(log_: list) -> dict:
        last = {}
        for _, _, _, rows in sorted(log_, key=lambda b: b[0]):
            for u, ws, n, s, m in rows:
                last[(u, ws)] = (n, s, m)
        return last

    @staticmethod
    def dropped(progress: dict) -> int:
        return sum(op.get("numRowsDroppedByWatermark", 0)
                   for p in progress.values() for op in p.get("stateOperators", []))

    def phase_stream(self, budget: float) -> None:
        w = self.work
        live = os.path.join(w, "stream-in")
        os.makedirs(live)
        sink_log: list = []
        progress: dict = {}
        open_s = max(STREAM_MIN_OPEN_S, budget)
        ticks = int(open_s / STREAM_INTERVAL_S)
        per_file = int(round(self.mix["rate"] * STREAM_INTERVAL_S))
        manifest = os.path.join(w, "manifest.txt")

        def drain(i):
            drain_log: list = []
            drain_prog: dict = {}
            ckpt = os.path.join(w, f"ckpt-drain-{i}")
            self.tracer.new_trace()
            with self.tracer.span("streaming.drain"):
                t0 = perf_counter()
                q = self.start_query(self.backlog_dir, ckpt, drain_log, drain=True,
                                     maxFilesPerTrigger=str(DRAIN_FILES_PER_TRIGGER))
                if not q.awaitTermination(STREAM_DRAIN_TIMEOUT_S):
                    q.stop()
                    raise TimeoutError("drain did not finish")
                t1 = perf_counter()
                self.poll(q, drain_prog)
            shutil.rmtree(ckpt, ignore_errors=True)
            data = [p for p in drain_prog.values() if p["numInputRows"] > 0]
            return (t1 - t0, data), checks.check_stream(
                self.last_updates(drain_log), self.backlog_ref, self.dropped(drain_prog),
                "stream/drain")

        def open_loop():
            self.tracer.new_trace()
            with self.tracer.span("streaming.open_loop"):
                q = self.start_query(live, os.path.join(w, "ckpt-live"), sink_log, drain=False)
                start = time.time() + 0.5
                prm = dict(self.stream_prm, seed=self.seed + 2, rate=self.mix["rate"],
                           ticks=ticks, start_wall=start, out_dir=live, manifest=manifest)
                proc = subprocess.Popen([sys.executable, os.path.join(os.path.dirname(
                    os.path.abspath(__file__)), "gen.py"), "stream", json.dumps(prm)])
                self.procs.append(proc)
                while proc.poll() is None:
                    self.poll(q, progress)
                    time.sleep(0.25)
                if proc.returncode != 0:
                    raise RuntimeError(f"stream generator exited {proc.returncode}")
                total = ticks * per_file
                deadline = time.time() + 60
                while (sum(p["numInputRows"] for p in progress.values()) < total
                       and q.isActive and time.time() < deadline):
                    time.sleep(0.1)
                    self.poll(q, progress)
                q.stop()
                self.poll(q, progress)
            got = sum(p["numInputRows"] for p in progress.values())
            problems = [] if got == total else [f"stream read {got} of {total} rows"]
            ref = checks.ref_stream_windows(gen.read_events(live), STREAM_WINDOW_US)
            problems += checks.check_stream(self.last_updates(sink_log), ref,
                                            self.dropped(progress), "stream/open")
            return start, problems

        # the query runs its triggers on its own threads, so spans cover
        # the driver's side: the open loop and each drain as a whole
        self.tracer.enabled = self.traced
        start = self.attempt("stream/open_loop", open_loop)
        if start is not None:
            self._stream_metrics(start, sink_log, progress, manifest, per_file)

        shutil.rmtree(os.path.join(w, "ckpt-live"), ignore_errors=True)

        if not self.traced:
            return
        drains = [d for d in (self.attempt("stream/drain", lambda: drain(i))
                              for i in range(DRAINS)) if d is not None]
        self.tracer.enabled = False
        if drains:
            self.layer["streaming.drain_rows_per_s"] = DRAIN_FILES * DRAIN_PER_FILE / median(
                [dt for dt, _ in drains])
            self.detail["drain_s"] = [dt for dt, _ in drains]
            self.layer["streaming.drain_batches"] = median([len(d) for _, d in drains])
            self.layer["streaming.drain_trigger_ms_p50"] = median(
                [p["durationMs"]["triggerExecution"] for _, d in drains for p in d])

    def _stream_metrics(self, start, sink_log, progress, manifest, per_file) -> None:
        warm_until = start + STREAM_WARMUP_S
        lat, trig = [], 0
        for _, t_emit, _, rows in sink_log:
            if t_emit >= warm_until and rows:
                trig += 1
                lat.extend(t_emit - r[4] / 1e6 for r in rows)
        self.e2e["latency_p50_s"] = pct(lat, 50)
        L = self.layer
        L["streaming.latency_p95_s"] = pct(lat, 95)
        L["streaming.latency_samples"] = len(lat)
        L["streaming.latency_triggers"] = trig
        L["sinks.batch_write_ms_p50"] = 1e3 * median(
            [dt for _, t, dt, _ in sink_log if t >= warm_until])

        man = np.loadtxt(manifest, ndmin=2)
        written = man[:, 2]
        L["sources.generator_late_ms_max"] = 1e3 * float(np.max(man[:, 2] - man[:, 1]))
        data = sorted((p for p in progress.values() if p["numInputRows"] > 0),
                      key=lambda p: p["batchId"])
        cum, lags, steady = 0, [], []
        for p in data:
            cum += p["numInputRows"]
            began = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            end = began + p["durationMs"]["triggerExecution"] / 1e3
            if began < warm_until:
                continue
            steady.append(p)
            unread = int(cum // per_file)   # files are read whole, in order
            lags.append(end - written[unread] if unread < len(written)
                        and written[unread] <= end else 0.0)
        L["sources.input_lag_s"] = median(lags)
        L["streaming.batches"] = len(data)

        def dur(key):
            return median([p["durationMs"].get(key, 0) for p in steady])

        for name, key in (("trigger", "triggerExecution"), ("add_batch", "addBatch"),
                          ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets"),
                          ("latest_offset", "latestOffset"),
                          ("query_planning", "queryPlanning")):
            L[f"streaming.{name}_ms_p50"] = dur(key)
        ops = [p["stateOperators"][0] for p in steady if p.get("stateOperators")]
        L["streaming.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
        L["streaming.state_memory_bytes"] = ops[-1]["memoryUsedBytes"] if ops else 0
        L["streaming.state_commit_ms_p50"] = median([o["commitTimeMs"] for o in ops])
        L["streaming.rows_dropped_by_watermark"] = self.dropped(progress)
        self.detail["stream"] = {"latency_samples": len(lat), "latency_triggers": trig,
                                 "batches": len(data), "files": len(written)}

    # -------------------------------------------------------- corpus

    def corpus_job(self, res: dict, name: str, build, collect_check):
        """One curation job: build (the public call), collect, release
        tracked pins; ``res[name]`` gets its timings or None on failure."""
        from go_streams_spark.plans import release_tracked
        tr = self.tracer

        def call():
            with tr.span(f"corpus.{name}"):
                t0 = perf_counter()
                with tr.span("api.build", group=True) as gb:
                    out = build()
                t1 = perf_counter()
                with tr.span("sinks.collect", group=True) as ga:
                    rows = out.collect()
                t2 = perf_counter()
                with tr.span("plans.release_tracked"):
                    res["pins"] += release_tracked()
            r = {"total": t2 - t0, "build": t1 - t0, "rows": rows}
            if tr.enabled:
                built = self.stats(gb)
                r["build_jobs"] = built["jobs"]
                r["stats"] = add_stats(built, self.stats(ga))
            return r, collect_check(rows)

        res[name] = self.attempt(f"corpus/{name}", call)
        return res[name]

    def phase_corpus(self, budget: float) -> None:
        from go_streams_spark.functions import dedup as D
        from go_streams_spark.functions import text as T
        tr = self.tracer

        def tokenizer(res, df):
            return self.corpus_job(
                res, "tokenizer", lambda: T.bpe_train_merges(df, rounds=BPE_ROUNDS),
                lambda rows: checks.check_merges(
                    [(r["round"], r["pair"], r["a"], r["b"], r["cnt"]) for r in rows],
                    self.bpe_ref))

        def neardup(res, df):
            return self.corpus_job(
                res, "neardup", lambda: D.setsim_pairs(df, threshold=THRESHOLD),
                lambda rows: checks.check_pairs(
                    [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows],
                    self.sets, self.planted, THRESHOLD))

        # warm-up: on a fresh JVM the first BPE fold and setsim plans
        # compile for seconds, done here on a small corpus (unchecked),
        # then one checked iteration on the corpus; iteration times keep
        # falling for several iterations after that. In trials on a
        # 4-core host the first measured iterations ran up to 60% slower
        # without the small-corpus step.
        warm = self.spark.read.parquet(self.warm_path)
        self.corpus_job({"pins": 0}, "tokenizer",
                        lambda: T.bpe_train_merges(warm, rounds=BPE_ROUNDS), lambda rows: [])
        self.corpus_job({"pins": 0}, "neardup",
                        lambda: D.setsim_pairs(warm, threshold=THRESHOLD), lambda rows: [])
        df = self.spark.read.parquet(self.corpus_path)
        for _ in range(CORPUS_WARMUP_ITERS):
            tokenizer({"pins": 0}, df)
            neardup({"pins": 0}, df)

        def iteration():
            tr.new_trace()
            res: dict = {"pins": 0}
            with tr.span("iteration"):
                tokenizer(res, df)
                neardup(res, df)
                if tr.enabled:
                    with tr.span("dedup.candidates", group=True):
                        res["candidates"] = self.attempt(
                            "corpus/candidates",
                            lambda: (D.minhash_lsh_candidates(df).count(), []))
            ok = res["tokenizer"] and res["neardup"] and res.get("candidates", 0) is not None
            return res if ok else None

        tr.enabled = self.traced
        iters = self.repeat(iteration, budget, CORPUS_MIN_ITERS)
        ev = None
        if self.traced:
            tr.new_trace()
            res = {"pins": 0}
            with tr.span("iteration"):
                ev = self.corpus_job(res, "dedup_eval",
                                     lambda: D.dedup_method_eval(df, threshold=THRESHOLD),
                                     lambda rows: checks.check_report(
                                         [r.asDict() for r in rows], self.truth))
            if ev:
                ev["pins"] = res["pins"]
        tr.enabled = False
        # one end-to-end figure per job, so that a change to one job
        # cannot hide behind the other: BPE training latency, and the
        # corpus's documents per second through near-duplicate pairs
        train_s = [r["tokenizer"]["total"] for r in iters]
        pairs_s = [r["neardup"]["total"] for r in iters]
        self.e2e["latency_p50_s"] = median(train_s)
        self.e2e["rows_per_s"] = CORPUS_DOCS / median(pairs_s)
        self.detail["corpus_train_s"] = train_s
        self.detail["corpus_pairs_s"] = pairs_s
        self.layer["text.train_s"] = median(train_s)
        self.layer["dedup.pairs_s"] = median(pairs_s)
        if self.traced and iters:
            self._corpus_layers(iters, ev)

    def _corpus_layers(self, traced: list, ev: dict | None) -> None:
        """Per-layer figures from the traced iterations plus the one
        dedup_method_eval call: a figure covering several calls adds the
        eval call's value to the median over iterations."""
        nan = float("nan")
        ev = ev or {"build": nan, "build_jobs": nan, "total": nan, "pins": 0,
                    "stats": dict.fromkeys(STAGE_FIELDS, nan)}
        L = self.layer
        jobs = ("tokenizer", "neardup")
        L["api.build_s"] = median([sum(r[j]["build"] for j in jobs) for r in traced]) \
            + ev["build"]
        L["api.build_jobs"] = median([sum(r[j]["build_jobs"] for j in jobs)
                                      for r in traced]) + ev["build_jobs"]
        tok = [r["tokenizer"] for r in traced]
        cores = int(self.sc.defaultParallelism)
        for k in ("jobs", "stages", "tasks"):
            L[f"text.{k}"] = median([t["stats"][k] for t in tok])
        L["text.ms_per_job"] = median([1e3 * t["total"] / max(t["stats"]["jobs"], 1)
                                       for t in tok])
        L["text.executor_busy_share"] = median([t["stats"]["run_s"] / (t["total"] * cores)
                                                for t in tok])
        for k, f in (("jobs", "jobs"), ("stages", "stages"),
                     ("shuffle_write_bytes", "shuffle_write_bytes"),
                     ("spill_bytes", "spill_bytes"), ("executor_cpu_s", "cpu_s"),
                     ("gc_s", "gc_s")):
            L[f"dedup.{k}"] = median([r["neardup"]["stats"][f] for r in traced]) \
                + ev["stats"][f]
        L["dedup.eval_s"] = ev["total"]
        cand = median([r["candidates"] for r in traced])
        ver = median([len(r["neardup"]["rows"]) for r in traced])
        L["dedup.candidate_pairs"] = cand
        L["dedup.verified_pairs"] = ver
        L["dedup.verify_yield"] = ver / cand if cand else nan
        L["plans.pins_released"] = median([r["pins"] for r in traced]) + ev["pins"]

    # ----------------------------------------------------- hygiene

    def hygiene(self) -> None:
        """No stream left running; persisted RDDs and temp tables left
        behind by the package are reported as plans.persisted_left."""
        from go_streams_spark.plans import release_tracked
        active = [q.name or str(q.id) for q in self.spark.streams.active]
        self.attempt("hygiene/no_active_streams",
                     lambda: (None, [f"active streams: {active}"] if active else []))
        release_tracked()
        temp = [t.name for t in self.spark.catalog.listTables() if t.isTemporary]
        persisted = self.sc._jsc.getPersistentRDDs().size()
        self.layer["plans.persisted_left"] = persisted + len(temp)
        self.detail["persisted_left"] = {"rdds": persisted, "temp_tables": temp}

    def close(self) -> None:
        """Stop every query, the generator, Spark and its JVM; wait for each."""
        for q in self.queries:
            try:
                if q.isActive:
                    q.stop()
            except Exception:  # noqa: BLE001 - best effort on the way out
                pass
        for p in self.procs:
            if p.poll() is None:
                p.kill()
            p.wait(timeout=30)
        if self.spark is None:
            return
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    # ----------------------------------------------------- output

    def end_to_end(self) -> dict:
        """Every end-to-end metric; one whose calls all failed reads null."""
        out = {}
        for k, u in END_TO_END.items():
            v = self.e2e.get(k)
            out[k] = {"value": None if v is None or v != v else float(v), "unit": u}
        return out

    def layer_metrics(self) -> dict:
        """Every per-layer metric; a layer the workload does not reach
        did no work and reads 0."""
        for k in ("rows_per_s", "latency_p50_s"):
            self.layer[f"trace.{k}"] = self.e2e.get(k)
        out = {}
        for k, u in PER_LAYER.items():
            v = self.layer.get(k)
            out[k] = {"value": 0.0 if v is None or v != v else float(v), "unit": u}
        return out

    def report_detail(self) -> None:
        d = dict(self.detail)
        if self.tracer.spans:
            selft = self_times(self.tracer.spans)
            by_name: dict = {}
            for s in self.tracer.spans:
                by_name.setdefault(s["name"], []).append(selft[s["id"]])
            d["span_self_s"] = {k: round(sum(v), 4) for k, v in sorted(by_name.items())}
        log("perfbench detail: " + json.dumps(d, default=float))
