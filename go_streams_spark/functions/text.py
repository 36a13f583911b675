"""Text analysis for training-data pipelines: tokenization, quality
scoring, language ID, fingerprinting.

All hot-path logic is JVM-side Column expressions (split/regexp/array
lambdas) — no Python UDFs — so it stays inside whole-stage codegen and
scales linearly with input splits. Every function is deterministic and
has an exact ANSI-SQL equivalent (used by the DuckDB oracles).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual marker-word lists for the n-gram/stopword language
# heuristic. Deliberately tiny + deterministic (this is the classic
# stopword-hit langid baseline, not a model).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
}

STOPWORDS = LANG_MARKERS["en"]

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# punctuation — the standard GPT-2-style pre-split shape.
BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(t, " "), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens over lowercased text."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(t), F.lit(BPE_REGEX), 0)).cast("long")


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda x: x.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return (F.size(F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9\\s]"), 0))
            / F.greatest(F.length(t), F.lit(1)))


def avg_token_len(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(text)
    total = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score_from_tokens(toks: Column, text: Column | str) -> Column:
    """``quality_score`` computed from an ALREADY-TOKENIZED column —
    the shared-subexpression form for callers that also need the token
    array (count, selection): Catalyst does not reliably CSE the
    repeated ``split``/``filter`` trees inside lambda metrics, so
    evaluating the three sub-metrics from one materialized ``toks``
    column costs one tokenization per row instead of three (measured
    2x on the token-budget scoring pass at 1000x the gate SF)."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.size(toks), F.lit(1))
    sw = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n
    pr = (F.size(F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9\\s]"), 0))
          / F.greatest(F.length(t), F.lit(1)))
    tl = F.aggregate(F.transform(toks, F.length), F.lit(0),
                     lambda a, x: a + x) / n
    len_ok = F.when((tl >= 3) & (tl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.least(F.lit(1.0), F.greatest(
        F.lit(0.0), (F.lit(0.4) * F.least(sw * 4, F.lit(1.0))
                     + F.lit(0.4) * len_ok + F.lit(0.2) * (1 - F.least(pr * 5, F.lit(1.0))))))


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: rewards stopword presence
    and moderate token length, penalizes punctuation soup — the
    length/punct/stopword-ratio baseline used by web-scale corpus
    filters."""
    return quality_score_from_tokens(tokens(text), text)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-hit count per language over whitespace tokens."""
    toks = F.transform(tokens(text), F.lower)
    return {lang: F.size(F.filter(toks, lambda x: x.isin(*words)))
            for lang, words in LANG_MARKERS.items()}


def lang_id(text: Column | str) -> Column:
    """argmax language by marker hits; ties resolve en > de > fr
    (declaration order); zero hits -> 'und'."""
    scores = lang_scores(text)
    best_val = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in reversed(list(scores)):  # earlier langs win ties
        out = F.when((scores[lang] > 0) & (scores[lang] == best_val), F.lit(lang)).otherwise(out)
    return out


def word_ngrams(text: Column | str, n: int = 3, lowercase: bool = True) -> Column:
    """Distinct word n-gram shingles (space-joined).

    Built by zipping ``n`` shifted slices of the token array — NOT via
    element_at inside a transform lambda, which Catalyst inlines so the
    tokenization re-runs once per element per position (O(len*n) splits
    per doc; measured 5.7s -> 0.6s for the corpus shingle count at
    sf0.1). The slice/zip form evaluates the token array n times per
    ROW."""
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(t) if lowercase else t)
    m = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, 1 + j, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.when(F.size(toks) >= n, grams)
                            .otherwise(F.array()))


def fingerprint(text: Column | str, n: int = 4) -> Column:
    """Rolling-hash document fingerprint: min md5 over word n-gram
    shingles (winnowing-style 1-of-N selection; deterministic)."""
    grams = word_ngrams(text, n)
    return F.array_min(F.transform(grams, F.md5))


def bigram_rows(df, *, text_col: str = "text", id_col: str = "doc_id"):
    """(id, w1, w2) adjacent-token pairs via array lambdas — the bigram
    extraction is pure per-row JVM work (slice + indexed transform +
    explode), zero shuffle; corpus-level model counts happen in the
    caller's aggregation. The training-data use is a CCNet/KenLM-style
    LM quality filter without an external model artifact: the corpus is
    its own language model."""
    arr = tokens(F.col(text_col))
    n1 = F.size(arr) - 1
    # zip of the two shifted slices, NOT element_at inside a transform
    # lambda: Catalyst inlines the tokenization into every element_at
    # call, turning extraction O(len) per doc into O(len^2) (measured
    # 4.3s -> 0.6s for the corpus bigram count at sf0.1)
    pairs = F.zip_with(F.slice(arr, 1, n1), F.slice(arr, 2, n1),
                       lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    return (df.where(F.size(tokens(F.col(text_col))) >= 2)
            .select(F.col(id_col), F.explode(pairs).alias("bg"))
            .select(id_col, F.col("bg.w1").alias("w1"),
                    F.col("bg.w2").alias("w2")))


def bigram_lm_doc_scores(df, *, text_col: str = "text",
                         id_col: str = "doc_id"):
    """Per-document bigram-LM negative log-likelihood and perplexity,
    with the corpus itself as the model (add-1 smoothing):

        P(w2|w1) = (C(w1,w2) + 1) / (C(w1->*) + V)

    The standard perplexity-bucket stage of a web-corpus pipeline
    (CCNet trains KenLM on a reference corpus; same plumbing, model
    swap is a join target change). Plan shape at 100 TB: one bigram
    aggregation (shuffle on (w1,w2)), a first-word rollup, a scalar
    vocab count broadcast back, and one model join keyed on (w1,w2) —
    model size is vocabulary-squared-bounded, data volume passes
    through exactly one shuffle join. All arithmetic is
    integer-derived, so the rounded outputs are engine-exact."""
    from ..plans.caching import track_persist

    # persist the bigram rows: four consumers (doc scores, model, first-
    # word rollup, vocab) would otherwise re-run the corpus explode four
    # times (their pruned subtrees don't canonicalize to one scan). At
    # 100 TB this is "materialize the bigram table once" — the standard
    # LM-pipeline intermediate, same decision as the TF-IDF doc-term
    # matrix. Freed via plans.release_tracked() between queries.
    # NOT cpu_widen'd (guide §1.4 measure-first): widening the raw
    # (id, text) projection before the explode was tried and REGRESSED
    # (sf0.1: 1.91 s -> 4.91 s; consumer ccnet_ppl_buckets 1.86 -> 3.69)
    # — the round-robin exchange of full text bytes plus its
    # sort-before-repartition costs more than the single-core tokenize
    # it spreads, and the persist's four consumers parallelize fine
    # after the (w1,w2) shuffle regardless of scan width.
    bg = track_persist(bigram_rows(df.select(id_col, text_col),
                                   text_col=text_col, id_col=id_col))
    model = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    first = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # distinct words from the MODEL table (vocab-sized), not the corpus
    # bigram stream — same set by construction, orders of magnitude
    # fewer rows into the distinct
    vocab = (model.select(F.col("w1").alias("w")).union(
        model.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("v")))
    scored = (bg.join(model, ["w1", "w2"]).join(first, "w1")
              .join(F.broadcast(vocab))
              .withColumn("nll", -F.log((F.col("c12") + 1.0)
                                        / (F.col("c1") + F.col("v")))))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg("nll"), 6).alias("avg_nll"),
                 F.round(F.exp(F.avg("nll")), 4).alias("ppl")))


def token_window_chunks(df, *, text_col: str = "text", id_col: str = "doc_id",
                        size: int = 32, stride: int = 24):
    """Fixed-token-window chunking with overlap — the sample-prep stage
    that turns variable-length documents into training windows
    (overlap = size - stride). One row per chunk: (id, chunk_idx,
    chunk_text, n_tokens); the final chunk may be short. Pure per-row
    array arithmetic (sequence of starts + posexplode + slice) inside
    whole-stage codegen: rows fan out within their partition, no
    shuffle, so it scales with input splits like any flatMap."""
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    arr = tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.size(arr), F.lit(stride))
    out = (df.where(F.size(arr) >= 1)
           .select(F.col(id_col), arr.alias("__arr"),
                   F.posexplode(starts).alias("__pos", "__start")))
    chunk = F.slice(F.col("__arr"), F.col("__start"), size)
    return out.select(
        id_col,
        F.col("__pos").cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"))


def corpus_word_freq(df, *, text_col: str = "text"):
    """The (word, freq) vocabulary table every tokenizer trainer starts
    from: lowercase -> whitespace tokens -> one hash agg. Factored out
    so multi-trainer reports (``tokenizer_fertility_compare``) compute
    and persist it ONCE instead of each trainer re-scanning the raw
    corpus."""
    # NOT cpu_widen'd (guide §1.4 measure-first): the whitespace
    # tokenize + partial agg is light per row (0.4 s single-core at
    # sf0.1) and the widening shuffle of the raw text costs more than
    # it buys (same measured outcome as bigram_lm_doc_scores).
    return (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def _trainer_vocab(df, text_col: str, word_freq):
    """Trainer-side vocabulary (syms array, tok_cnt): from a caller-
    provided (word, freq) frame when given (shared-scan path), else
    derived from the corpus."""
    wf = corpus_word_freq(df, text_col=text_col) if word_freq is None \
        else word_freq.select(F.col("word"), F.col("freq"))
    return wf.select(F.split("word", "").alias("syms"),
                     F.col("freq").alias("tok_cnt"))


#: Largest trainer vocabulary (distinct words) ``bpe_train_merges``
#: trains on the driver; larger ones take the distributed loop. Basis:
#: tracemalloc peak over the capped collect plus the incremental
#: trainer's tables was 909 B per word on 200k synthetic words of 3-12
#: letters (173 MiB), so the bound caps the driver's Python heap near
#: 175 MiB.
_BPE_DRIVER_MAX_WORDS = 200_000


def bpe_train_merges(df=None, *, text_col: str = "text", rounds: int = 5,
                     min_count: int = 2, word_freq=None):
    """BPE tokenizer training: ``rounds`` merge steps over the corpus
    vocabulary (token -> count, symbols array). Each round merges the
    most frequent adjacent symbol pair (count desc, then (a, b)
    ascending) with a greedy left-to-right fold in every word, and
    training stops early when no pair reaches ``min_count``. Returns
    the merge table (round, pair, a, b, cnt) — k rows, the training
    artifact a tokenizer ships; feed the (a, b) columns to
    ``bpe_encode`` to tokenize a corpus with it.

    The vocabulary is built in Spark either way (whitespace words ->
    one hash agg -> ``split(word, "")``); then one of two paths trains:

      * driver (vocabularies up to ``_BPE_DRIVER_MAX_WORDS`` = 200k
        distinct words): ONE capped collect (``limit(bound + 1)``)
        brings the vocabulary to the driver and
        ``_bpe_train_incremental`` runs every round there, touching
        only the words that hold the merged pair. A round is then
        Python work, not a Spark job whose wall time is scheduling
        rather than compute. The bound is a driver-memory bound:
        tracemalloc measured 909 B per word (collected rows plus the
        trainer's tables) on 200k synthetic words, so a bounded
        vocabulary peaks near 175 MiB of driver Python heap.
      * distributed (larger vocabularies): per round, weighted
        adjacent-pair counts (an explode over the vocabulary, one hash
        agg), the argmax pair comes to the driver (one row), and every
        vocabulary entry rewrites its symbol array with the same fold
        in pure JVM (``_merge_fold``). The vocabulary is
        localCheckpoint'ed each round so round k+1's plan does not
        replay rounds 1..k (the connected-components lineage rule), and
        each superseded round's checkpoint is released once its
        successor is materialized. Above the bound the vocabulary is
        computed twice (the capped collect, then the loop's first
        argmax), one extra scan against one job per round.

    Both paths break ties by ascending (a, b): UTF-8 byte order in
    Spark, code-point order in Python, which agree.

    ``word_freq``: optionally start from a pre-computed (word, freq)
    frame (``corpus_word_freq``) instead of scanning the corpus — the
    shared-scan path for multi-trainer comparisons.

    No SQL oracle (iterative argmax is not one DuckDB query); exactness
    of both paths is pinned against an independent Python BPE reference
    in tests/test_functions.py::test_bpe_train_matches_python_reference."""
    import pyarrow as pa

    spark = (df if df is not None else word_freq).sparkSession
    vocab = _trainer_vocab(df, text_col, word_freq)
    rows = vocab.limit(_BPE_DRIVER_MAX_WORDS + 1).collect()
    if len(rows) <= _BPE_DRIVER_MAX_WORDS:
        merges = _bpe_train_incremental(rows, rounds, min_count)
    else:
        del rows
        merges = _bpe_train_distributed(vocab, rounds, min_count)
    # built from an Arrow table, the result is a driver-local relation
    # that reads without a Spark job; a createDataFrame over the Python
    # list would parallelize an RDD and pay one job (~0.25 s on a
    # 2-core local session) on every read
    cols = list(zip(*merges)) or [()] * 5
    types = (pa.int32(), pa.string(), pa.string(), pa.string(), pa.int64())
    return spark.createDataFrame(pa.table(
        [pa.array(c, t) for c, t in zip(cols, types)],
        names=["round", "pair", "a", "b", "cnt"]))


def _bpe_train_incremental(vocab, rounds: int, min_count: int) -> list:
    """Driver BPE trainer over collected (syms, tok_cnt) rows.

    Builds a pair -> weighted count table and a pair -> word-index
    table once; each merge rewrites only the words holding the merged
    pair, moving each word's count from its old adjacent pairs to its
    new ones. The best pair comes off a lazy max-heap of
    (-count, (a, b)) entries: an entry is live while it matches the
    table, so ties break by ascending (a, b). Returns
    (round, a + b, a, b, cnt) rows."""
    import heapq
    from collections import Counter

    words = [syms or [] for syms, _ in vocab]  # rebound, never mutated
    freq = [c for _, c in vocab]
    cnt: dict = {}
    where: dict = {}
    for i, syms in enumerate(words):
        for p in zip(syms, syms[1:]):
            cnt[p] = cnt.get(p, 0) + freq[i]
            where.setdefault(p, set()).add(i)
    heap = [(-n, p) for p, n in cnt.items()]
    heapq.heapify(heap)
    merges: list[tuple] = []
    for r in range(rounds):
        while heap and (heap[0][1] not in where
                        or cnt[heap[0][1]] != -heap[0][0]):
            heapq.heappop(heap)  # stale: the count moved or pair is gone
        if not heap or -heap[0][0] < min_count:
            break
        neg, (a, b) = heap[0]
        merges.append((r, a + b, a, b, -neg))
        touched = set()
        for i in list(where[(a, b)]):
            old, out = words[i], []
            for x in old:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[i] = out
            before = Counter(zip(old, old[1:]))
            after = Counter(zip(out, out[1:]))
            for p in before.keys() | after.keys():
                d = after[p] - before[p]
                if not d:
                    continue
                touched.add(p)
                cnt[p] = cnt.get(p, 0) + d * freq[i]
                if not after[p]:
                    holders = where[p]
                    holders.discard(i)
                    if not holders:
                        del where[p], cnt[p]
                elif not before[p]:
                    where.setdefault(p, set()).add(i)
        for p in touched:
            if p in where:
                heapq.heappush(heap, (-cnt[p], p))
    return merges


def _bpe_train_distributed(vocab, rounds: int, min_count: int) -> list:
    """The per-round Spark loop of ``bpe_train_merges`` (one argmax job
    per round, the rewrite fused into the next round's job)."""
    from ..plans.caching import release_checkpoint

    vocab = vocab.localCheckpoint(eager=False)
    merges: list[tuple] = []
    prev = None
    try:
        for r in range(rounds):
            n1 = F.greatest(F.size("syms") - 1, F.lit(0))
            pr = vocab.select(
                F.explode(F.zip_with(F.slice("syms", 1, n1),
                                     F.slice("syms", 2, n1),
                                     lambda a, b: F.struct(a.alias("a"),
                                                           b.alias("b"))))
                .alias("p"), "tok_cnt")
            best = (pr.groupBy("p").agg(F.sum("tok_cnt").alias("cnt"))
                    .orderBy(F.col("cnt").desc(), F.col("p.a"), F.col("p.b"))
                    .first())
            # this argmax materialized ``vocab``: its source can go
            if prev is not None:
                release_checkpoint(prev)
            prev = vocab
            if best is None or best["cnt"] < min_count:
                break
            a, b = best["p"]["a"], best["p"]["b"]
            # keep the pair SIDES alongside the concatenation: "the"
            # could be t+he or th+e — bpe_encode needs the unambiguous
            # (a, b)
            merges.append((r, a + b, a, b, int(best["cnt"])))
            # lazy: round r+1's argmax is the single consumer and
            # materializes this rewrite inside its own job — halves the
            # blocking jobs per round vs the eager form (the checkpoint
            # still truncates lineage exactly the same once computed)
            vocab = (vocab.select(_merge_fold("syms", a, b).alias("syms"),
                                  "tok_cnt")
                     .localCheckpoint(eager=False))
    finally:
        release_checkpoint(vocab)
        if prev is not None and prev is not vocab:
            release_checkpoint(prev)
    return merges


def _merge_fold(syms, a: str, b: str):
    """One greedy left-to-right application of merge (a, b) over a
    symbol array — the EXACT fold ``bpe_train_merges`` uses to rewrite
    its vocabulary, reused so encode mirrors training bit-for-bit."""
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(a + b)))
        ).otherwise(F.concat(acc, F.array(x))))


def bpe_apply_merges(word, merges: list[tuple[str, str]]):
    """Column expression: encode one (lowercased) word with a trained
    merge table — split to characters, then apply each (a, b) merge in
    rank order with the greedy left-to-right fold. Pure JVM (nested
    higher-order functions), no Python in the hot path; expression
    depth grows with len(merges), so this path is for the small merge
    tables the distributed trainer produces — use ``bpe_encode(...,
    vectorized=True)`` for shipped tokenizers with thousands of merges."""
    syms = F.filter(F.split(word, ""), lambda x: x != "")
    for a, b in merges:
        syms = _merge_fold(syms, a, b)
    return syms


def bpe_encode(df, *, merges, text_col: str = "text",
               out_col: str = "bpe_tokens", vectorized: bool = False):
    """Apply a trained BPE merge table to a corpus: lowercase ->
    whitespace words (the trainer's pre-tokenization) -> per-word merge
    folds -> flattened token array per document.

    ``merges`` is a list of (a, b) pairs in rank order — e.g.
    ``[(p[0], p[1:]) for p in bpe_train_merges(df)...]`` is WRONG
    (pair strings are ambiguous); pass the (a, b) tuples you trained
    with, or split the trainer's rows with the known boundary. The
    sequential-in-rank-order application contract matches
    ``bpe_train_merges``'s vocabulary rewrite exactly (tested).

    Two executions of the same semantics:
      * default: nested JVM higher-order functions — zero Python,
        whole-stage codegen, right for small trained tables;
      * ``vectorized=True``: one Arrow-batched pandas UDF applying the
        same folds in Python dicts — flat cost in len(merges), right
        for real tokenizers (32k merges would blow up expression depth
        and Catalyst analysis time JVM-side). Both paths are
        parity-tested against each other and an independent reference.
    """
    words = tokens(F.lower(F.col(text_col)))
    if not vectorized:
        enc = F.flatten(F.transform(words, lambda w: bpe_apply_merges(w, merges)))
        return df.withColumn(out_col, enc)

    from pyspark.sql.pandas.functions import pandas_udf

    merge_list = list(merges)

    @pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        def one(t):
            out = []
            for w in (t or "").lower().split(" "):
                if not w:
                    continue
                syms = list(w)
                for a, b in merge_list:
                    acc = []
                    for x in syms:
                        if acc and acc[-1] == a and x == b:
                            acc[-1] = a + b
                        else:
                            acc.append(x)
                    syms = acc
                out.extend(syms)
            return out
        return texts.map(one)

    return df.withColumn(out_col, _enc(F.col(text_col)))


def bpe_pipeline_oracle_sql(*, rounds: int, table: str = "documents",
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            head: int = 8,
                            emit: str = "encode") -> str:
    """Generate the DuckDB oracle replaying the FULL BPE loop —
    ``bpe_train_merges(rounds=N)`` then ``bpe_encode`` — as one chained
    query: vocabulary build, N unrolled (pair-count -> argmax ->
    greedy rewrite) training rounds, then encode-by-vocab-join.

    The greedy left-to-right merge fold becomes a plain string
    ``replace``: symbol arrays are serialized with DOUBLE chr(1)
    sentinels (``..|a||b|..``) and merge (a, b) rewrites
    ``|a||b|`` -> ``|ab|``. Because each symbol keeps one sentinel on
    each side, consecutive matches never share consumed characters, so
    non-overlapping leftmost replace == the trainer's F.aggregate fold
    (edge cases incl. a == b runs pinned in
    tests/test_functions.py::test_bpe_oracle_replace_fold). chr(1)
    never occurs in the corpus (asserted cheaply by the gate query's
    engine side being sentinel-free — only the oracle serializes).

    Fixed ``rounds`` means the oracle assumes training never hits the
    min_count early stop at gate SFs (it does not: pair counts are
    corpus-sized). ``emit="encode"`` (default) returns SQL producing
    (id, n_bpe, head_preview) ordered by id; ``emit="merges"`` stops
    after training and returns the merge table itself
    (round, pair, a, b, cnt) — the ``bpe_train_merge_table`` oracle."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if emit not in ("encode", "merges"):
        raise ValueError(f"emit must be 'encode' or 'merges', got {emit!r}")
    cc = "chr(1) || chr(1)"
    sql = [f"""WITH w0 AS (
  SELECT tok, count(*)::BIGINT AS tok_cnt,
         {cc} || array_to_string(string_split(tok, ''), {cc}) || {cc} AS s
  FROM (
    SELECT unnest(list_filter(string_split(lower({text_col}), ' '),
                              x -> x <> '')) AS tok
    FROM {table}
  )
  GROUP BY tok
)"""]
    for r in range(1, rounds + 1):
        p = f"w{r - 1}"
        sql.append(f""", b{r} AS (
  SELECT a, b, cnt FROM (
    SELECT syms[i] AS a, syms[i + 1] AS b, sum(tok_cnt) AS cnt
    FROM (SELECT list_filter(string_split(s, {cc}), x -> x <> '') AS syms,
                 tok_cnt
          FROM {p}),
         LATERAL (SELECT unnest(range(1, len(syms))) AS i) g
    GROUP BY 1, 2
  ) ORDER BY cnt DESC, a, b LIMIT 1
), w{r} AS (
  SELECT w.tok, w.tok_cnt,
         replace(w.s, chr(1) || b.a || {cc} || b.b || chr(1),
                      chr(1) || b.a || b.b || chr(1)) AS s
  FROM {p} w CROSS JOIN b{r} b
)""")
    if emit == "merges":
        union = "\nUNION ALL\n".join(
            f"SELECT {r - 1}::INT AS round, a || b AS pair, a, b, "
            f"cnt::BIGINT AS cnt FROM b{r}" for r in range(1, rounds + 1))
        sql.append(f"\n{union}\nORDER BY round")
        return "".join(sql)
    sql.append(f""", enc AS (
  SELECT d.{id_col}, d.wi,
         list_filter(string_split(v.s, {cc}), x -> x <> '') AS syms
  FROM (
    SELECT {id_col}, g.i AS wi, toks[g.i] AS tok
    FROM (SELECT {id_col},
                 list_filter(string_split(lower({text_col}), ' '),
                             x -> x <> '') AS toks
          FROM {table}),
         LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) g
  ) d JOIN w{rounds} v USING (tok)
), te AS (
  SELECT {id_col}, wi, g.i AS si, syms[g.i] AS sym
  FROM enc, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS i) g
)
SELECT {id_col}, count(*)::BIGINT AS n_bpe,
       array_to_string(list(sym ORDER BY wi, si)[1:{head}],
                       '|') AS head_preview
FROM te
GROUP BY {id_col}
ORDER BY {id_col}""")
    return "".join(sql)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by how much more likely
# its hashed-ngram bag is under a TARGET distribution than under the
# raw-corpus distribution, then keep the highest-weight docs. The
# standard pretraining-data selection op when you have a small trusted
# target domain and a huge raw crawl.
# ---------------------------------------------------------------------------


def hashed_feature_buckets(text: Column | str, *, buckets: int = 512) -> Column:
    """DSIR's hashed bag-of-ngrams featurizer: unigrams + adjacent
    bigrams of the lowercased whitespace tokens, each hashed into
    ``buckets`` via the md5-prefix trick (bit-identical in DuckDB, the
    count_min_freq_estimates convention). Returns the bucket-id array
    WITH multiplicity — DSIR weights are sums over feature occurrences.

    Pure per-row JVM array work (slice/zip_with/transform), zero
    shuffle; bigrams via the zip-of-shifted-slices form, never
    element_at-in-a-lambda (the O(len^2) Catalyst inlining trap,
    measured in word_ngrams)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(t))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bis = F.zip_with(F.slice(toks, 1, n1), F.slice(toks, 2, n1),
                     lambda a, b: F.concat(a, F.lit("_"), b))
    feats = F.concat(toks, bis)
    return F.transform(
        feats,
        lambda f: F.conv(F.substring(F.md5(f), 1, 13), 16, 10)
                   .cast("long") % buckets)


def dsir_importance(df, *, target: Column, text_col: str = "text",
                    id_col: str = "doc_id", buckets: int = 512,
                    keep_cols: tuple[str, ...] = ()) -> "DataFrame":
    """Per-document DSIR importance weights.

    weight(doc) = sum over the doc's hashed features of
    ln(p_target(bucket)) - ln(p_raw(bucket)), with add-1 smoothing
    (p(b) = (count_b + 1) / (total + buckets)) — the bag-of-hashed-
    ngrams importance estimator of arXiv:2302.03169 §2.2. ``target``
    is a boolean Column marking the in-domain subset (e.g.
    lang == 'en'); the raw distribution is the whole input.

    Scale shape: ONE explode into (doc, bucket) counts (doc-grain
    rows, the expensive shuffle and the only one that grows with the
    corpus); the bucket histograms for BOTH distributions roll up from
    that aggregate (``buckets`` rows — bounded); the log-ratio table
    re-joins as a broadcast. A 100 TB corpus pays one token-grain
    pass + one doc-grain aggregation, exactly like tfidf_top_terms.
    Returns (id, keep_cols..., n_feats, dsir_weight)."""
    from ..plans.caching import track_persist

    keep = [F.col(c) for c in keep_cols]
    # pinned: db feeds BOTH bucket histograms and the final per-doc
    # sum — unpinned, Catalyst recomputes the corpus-sized token
    # explode once per consumer (measured 3 Generate(explode) nodes in
    # the executed plan). The pin materializes at (doc, bucket) grain,
    # already aggregated far below token grain.
    db = track_persist(
        df.select(F.col(id_col), *keep, target.alias("is_target"),
                  F.explode(hashed_feature_buckets(
                      F.col(text_col), buckets=buckets)).alias("bucket"))
        .groupBy(id_col, *keep_cols, "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")))
    bt = (db.groupBy("bucket")
          .agg(F.sum("cnt").alias("n_raw"),
               F.sum(F.when(F.col("is_target"), F.col("cnt"))
                     .otherwise(F.lit(0))).alias("n_tgt")))
    totals = bt.agg(F.sum("n_raw").alias("t_raw"),
                    F.sum("n_tgt").alias("t_tgt"))
    lr = (bt.crossJoin(F.broadcast(totals))  # 1-row scalar metadata
          .select("bucket",
                  (F.log((F.col("n_tgt") + 1.0)
                         / (F.col("t_tgt") + float(buckets)))
                   - F.log((F.col("n_raw") + 1.0)
                           / (F.col("t_raw") + float(buckets))))
                  .alias("log_ratio")))
    return (db.join(F.broadcast(lr), "bucket")
            .groupBy(id_col, *keep_cols)
            .agg(F.sum("cnt").alias("n_feats"),
                 F.sum(F.col("cnt") * F.col("log_ratio"))
                 .alias("dsir_weight")))


def nb_classifier_scores(df, *, label: Column, train: Column,
                         text_col: str = "text", id_col: str = "doc_id",
                         buckets: int = 512,
                         keep_cols: tuple[str, ...] = ()) -> "DataFrame":
    """Supervised quality classifier over hashed bag-of-ngrams features
    — the closed-form (multinomial Naive Bayes) cousin of the fastText
    linear classifiers modern pretraining pipelines use for model-based
    quality filtering (DCLM / FineWeb-edu style). ``label`` is the
    boolean class column, ``train`` the boolean training-subset mask;
    the model (per-bucket class-conditional log-likelihood ratios +
    class prior, add-1 smoothed) is fit on the train rows and EVERY doc
    with at least one feature is scored:

      log_odds = ln((n_pos_docs+1)/(n_neg_docs+1))
               + sum_b cnt_b * (ln p(b|pos) - ln p(b|neg))

    Returns (id, keep_cols..., n_feats, log_odds, pred). Docs whose
    text yields zero features carry no evidence and are omitted (the
    dsir_importance contract).

    Scale shape (identical to dsir_importance): ONE feature explode to
    a pinned (doc, bucket) aggregate — the only corpus-sized shuffle —
    which feeds both the bucket-grain model rollup (<= ``buckets``
    rows) and the per-doc scoring join; the completed weight table
    (every bucket 0..buckets-1, so train-unseen buckets still
    contribute their smoothed ratio instead of silently dropping)
    broadcasts back. Priors are a column-pruned count over the input.
    """
    from ..plans.caching import track_persist

    if buckets < 2:
        raise ValueError("nb_classifier_scores: buckets must be >= 2")
    keep = [F.col(c) for c in keep_cols]
    db = track_persist(
        df.select(F.col(id_col), *keep, label.alias("y"),
                  train.alias("tr"),
                  F.explode(hashed_feature_buckets(
                      F.col(text_col), buckets=buckets)).alias("bucket"))
        .groupBy(id_col, *keep_cols, "y", "tr", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")))
    bt = (db.where("tr")
          .groupBy("bucket")
          .agg(F.sum(F.when(F.col("y"), F.col("cnt"))
                     .otherwise(F.lit(0))).alias("n_pos"),
               F.sum(F.when(~F.col("y"), F.col("cnt"))
                     .otherwise(F.lit(0))).alias("n_neg")))
    spark = df.sparkSession
    full = (spark.range(buckets).select(F.col("id").alias("bucket"))
            .join(bt, "bucket", "left")
            .select("bucket",
                    F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
                    F.coalesce("n_neg", F.lit(0)).alias("n_neg")))
    tot = full.agg(F.sum("n_pos").alias("t_pos"),
                   F.sum("n_neg").alias("t_neg"))
    w = (full.crossJoin(F.broadcast(tot))  # 1-row scalar metadata
         .select("bucket",
                 (F.log((F.col("n_pos") + 1.0)
                        / (F.col("t_pos") + float(buckets)))
                  - F.log((F.col("n_neg") + 1.0)
                          / (F.col("t_neg") + float(buckets))))
                 .alias("llr")))
    # empty-train degrades gracefully: coalesced zero counts give a
    # 0 prior and (with all-zero histograms) 0 evidence, never NULLs
    prior = (df.where(train)
             .agg(F.log((F.coalesce(F.sum(label.cast("long")), F.lit(0))
                         + 1.0)
                        / (F.coalesce(F.sum((~label).cast("long")),
                                      F.lit(0)) + 1.0))
                  .alias("prior")))
    scored = (db.join(F.broadcast(w), "bucket")
              .groupBy(id_col, *keep_cols)
              .agg(F.sum("cnt").alias("n_feats"),
                   F.sum(F.col("cnt") * F.col("llr")).alias("evidence"))
              .crossJoin(F.broadcast(prior)))  # 1-row scalar metadata
    return scored.select(
        id_col, *keep_cols, "n_feats",
        F.round(F.col("prior") + F.col("evidence"), 4).alias("log_odds"),
        ((F.col("prior") + F.col("evidence")) > 0).alias("pred"))


# ---------------------------------------------------------------------------
# Unicode / text normalization -- step zero of every web-corpus pipeline
# (C4, CCNet, RefinedWeb all NFC-normalize and strip control bytes before
# any dedup or quality pass; mojibake repair is the ftfy idea reduced to a
# deterministic fixed table so it stays oracle-exact).

#: Most common UTF-8-read-as-cp1252 artifacts. Fixed, ordered table: the
#: repair is a chain of exact replaces in THIS order on both engines
#: (3-byte U+00E2-led sequences first, so the punctuation fixes never
#: leave a dangling lead byte for the 2-byte rules to mangle).
MOJIBAKE_TABLE: tuple[tuple[str, str], ...] = (
    ("\u00e2\u20ac\u2122", "'"),   # \u2019 right quote seen through cp1252
    ("\u00e2\u20ac\u201c", "-"),   # \u2013 en dash seen through cp1252
    ("\u00e2\u20ac\u0153", '"'),   # \u201c left double quote
    ("\u00c3\u00a9", "\u00e9"),    # e acute
    ("\u00c3\u00a8", "\u00e8"),    # e grave
    ("\u00c3\u00bc", "\u00fc"),    # u umlaut
    ("\u00c3\u00b6", "\u00f6"),    # o umlaut
    ("\u00c3\u00b1", "\u00f1"),    # n tilde
    ("\u00c2\u00a0", " "),          # nbsp seen through cp1252
)

#: C0/C1 control characters except tab and newline; carriage returns are
#: handled separately (CRLF -> LF) before this class strips bare CRs.
_CONTROL_CLASS = "[\\x00-\\x08\\x0b-\\x1f\\x7f\\x80-\\x9f]"


def repair_mojibake(text: Column | str) -> Column:
    """Chain of exact substring replaces from MOJIBAKE_TABLE (JVM
    ``replace``, no regex). Deterministic and order-sensitive."""
    c = F.col(text) if isinstance(text, str) else text
    for bad, good in MOJIBAKE_TABLE:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def strip_controls(text: Column | str) -> Column:
    """CRLF -> LF, then drop every other C0/C1 control char (keeps tab
    and newline -- layout-bearing whitespace survives)."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.replace(c, F.lit("\r\n"), F.lit("\n"))
    return F.regexp_replace(c, _CONTROL_CLASS, "")


def collapse_whitespace(text: Column | str) -> Column:
    """Runs of spaces/tabs -> one space; space-padded newlines tighten;
    3+ newlines -> 2 (paragraph break survives); trim outer whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, "[ \\t]+", " ")
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    c = F.regexp_replace(c, "\\n{3,}", "\n\n")
    return F.trim(c)


def nfc(text: Column | str) -> Column:
    """Unicode NFC normalization. Spark has no built-in normalizer, so
    this is the one Python step of the cleaning chain -- an Arrow
    pandas_udf riding pandas' vectorized ``str.normalize`` (C-level
    loop, never per-row Python). Agrees exactly with DuckDB's
    ``nfc_normalize`` (both implement canonical composition;
    agreement test-pinned)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    c = F.col(text) if isinstance(text, str) else text
    return _nfc(c)


def normalize_text(text: Column | str, *, unicode_nfc: bool = True) -> Column:
    """The full cleaning chain: mojibake repair -> NFC -> control strip
    -> whitespace collapse. Per-row and shuffle-free; the only Python
    hop is the NFC step (skippable via ``unicode_nfc=False`` for
    ASCII-known corpora, making the whole chain JVM codegen)."""
    c = F.col(text) if isinstance(text, str) else text
    c = repair_mojibake(c)
    if unicode_nfc:
        c = nfc(c)
    return collapse_whitespace(strip_controls(c))


# ---------------------------------------------------------------------------
# HTML boilerplate stripping -- the step-zero text extractor for web
# corpora (C4 strips markup before any quality pass). Regex-chain only
# (Java-regex / RE2 common subset: inline (?is), lazy quantifiers, NO
# backreferences), so the DuckDB oracle is exact.

#: Minimal entity table. Decode order matters: &amp; LAST, so
#: double-escaped text ("&amp;lt;") decodes one level per pass instead
#: of jumping straight to "<".
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(text: Column | str) -> Column:
    """script/style blocks (content dropped), comments, then every
    remaining tag -> a space; entities decoded; whitespace collapsed.
    Per-row JVM regex work, zero shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, "(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, "<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return collapse_whitespace(c)


def compression_ratio(df, *, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6):
    """zlib compression ratio per document — the classic
    repetitive/templated-text detector (Gopher/Dolma-class quality
    signal: boilerplate compresses far below prose; ratio =
    compressed_bytes / raw_bytes, lower = more repetitive).

    One Arrow-batched mapInPandas pass (zlib is C-speed; no JVM
    equivalent exists, and DuckDB has no compressor either, so the
    registry query is rows-only, pinned EXACT against an independent
    zlib call in tests — deterministic for a fixed level). Zero
    shuffle; scales as a pure map over input splits.
    """
    if not (0 <= level <= 9):
        raise ValueError(f"level must be in [0, 9], got {level}")
    id_type = dict(df.dtypes)[id_col]
    schema = (f"{id_col} {id_type}, raw_len bigint, comp_len bigint, "
              "ratio double")

    def _score(batches):
        import zlib
        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            comp_len = raw.map(
                lambda b: len(zlib.compress(b, level))).astype("int64")
            out = pdf[[id_col]].copy()
            out["raw_len"] = raw_len
            out["comp_len"] = comp_len
            out["ratio"] = (comp_len / raw_len.clip(lower=1)).round(4)
            yield out

    return df.select(id_col, text_col).mapInPandas(_score, schema=schema)


def compression_ratio_oracle_sql(sf_dir: str, *, table: str = "documents",
                                 text_col: str = "text",
                                 id_col: str = "doc_id",
                                 level: int = 6) -> str:
    """Generate the DuckDB oracle for ``compression_ratio`` at a given
    SF. DuckDB ships no zlib, so no SQL re-derivation exists — instead
    the generator reads the parquet directly (pyarrow/pandas,
    independent of Spark's scan + Arrow-batch path), replays the
    IDENTICAL CPython-zlib computation the engine runs, and bakes the
    per-doc (raw_len, comp_len, ratio) as a VALUES table. This pins the
    Spark/Arrow execution path end-to-end against an independent read
    of the same bytes (zlib output is deterministic for a fixed level,
    so the literals are stable across runs/hosts). Ratio doubles are
    emitted via ``repr`` — shortest round-trip form, so DuckDB parses
    bit-identical IEEE values. Registered as a PER-SF generator
    callable, like the Mahalanobis/PCA oracles (the literals are
    data-dependent). Row count is corpus-catalog-sized (doc-grain),
    which the synthetic SFs keep in the hundreds-to-thousands."""
    import os
    import zlib

    import pyarrow.parquet as pq

    pdf = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"),
                        columns=[id_col, text_col]).to_pandas()
    raw = pdf[text_col].fillna("").str.encode("utf-8")
    raw_len = raw.str.len().astype("int64")
    comp_len = raw.map(lambda b: len(zlib.compress(b, level))).astype("int64")
    ratio = (comp_len / raw_len.clip(lower=1)).round(4)
    rows = ",\n".join(
        f"({i}, {r}, {c}, {float(v)!r})"
        for i, r, c, v in zip(pdf[id_col], raw_len, comp_len, ratio))
    return f"""SELECT {id_col}::BIGINT AS {id_col},
       raw_len::BIGINT AS raw_len, comp_len::BIGINT AS comp_len,
       ratio::DOUBLE AS ratio
FROM (VALUES
{rows}
) AS t({id_col}, raw_len, comp_len, ratio)"""


# ---------------------------------------------------------------------------
# URL canonicalization -- RefinedWeb/C4-class URL-level dedup runs BEFORE
# content dedup; it needs a canonical form first. Pure JVM string/array
# expressions (split, array_sort, concat) with exact SQL equivalents.

#: Tracking parameters dropped during canonicalization (the standard
#: analytics-noise set; extend per deployment).
TRACKING_PARAMS: tuple[str, ...] = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "gclid", "fbclid", "ref",
)


def canonical_url(url: Column | str,
                  tracking_params: tuple[str, ...] = TRACKING_PARAMS) -> Column:
    """Canonical URL form: lowercase scheme+host, strip a default :80/
    :443 port, drop the #fragment, drop tracking query params, SORT the
    surviving params (param order is presentation noise), drop a
    trailing '/' on a bare path, and drop an empty '?'. Deterministic,
    zero-UDF; one expression tree per row.

    Not a full RFC 3986 normalizer (no percent-decoding or path-dot
    resolution -- those need a parser); this is the dedup-key form the
    corpus pipelines use.
    """
    u = F.col(url) if isinstance(url, str) else url
    # split off fragment, then query
    no_frag = F.split(u, "#", 2)[0]
    parts = F.split(no_frag, "\\?", 2)
    base, qs = parts[0], F.get(F.split(no_frag, "\\?", 2), 1)
    # scheme://host[:port]/path  -> lowercase scheme+authority only
    m = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$", 1)
    rest = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$", 2)
    auth = F.lower(m)
    auth = F.regexp_replace(auth, ":80$", "")
    auth = F.regexp_replace(auth, ":443$", "")
    # bare trailing slash(es) on the path are noise ("/a/" == "/a",
    # "/" == ""); strip the whole run — stripping only one made
    # "//" -> "/" -> "" non-idempotent (hypothesis-found)
    path = F.regexp_replace(rest, "/+$", "")
    drop = F.array(*[F.lit(p) for p in tracking_params])
    kept = F.filter(
        F.split(F.coalesce(qs, F.lit("")), "&"),
        lambda kv: (kv != "")
        & ~F.array_contains(drop, F.split(kv, "=", 2)[0]))
    query = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        auth, path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")))


#: (marker, regex) in application order — longest/most-specific first so
#: a credit-card number is never half-eaten by the phone pattern. Every
#: pattern is RE2-safe (no lookaround, no backreferences) AND
#: Java-regex-identical, so the DuckDB oracle replays the chain exactly
#: (cross-engine parity pinned per pattern in tests).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("CCNUM", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("PHONE", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("SSN", r"\b\d{3}-\d{2}-\d{4}\b"),
)


def pii_scrub(text: Column | str,
              patterns: tuple[tuple[str, str], ...] = PII_PATTERNS
              ) -> tuple[Column, list[Column]]:
    """PII detection + redaction — the scrub stage every training-data
    pipeline runs before release (emails, card-shaped numbers, IPv4
    addresses, phone-shaped and SSN-shaped digit groups; regex-shape
    detection, the standard first line — NER-grade detection is a
    model stage out of scope).

    Returns ``(redacted, counts)``: the text with each match replaced
    by its ``<MARKER>``, plus one int Column per pattern counting the
    matches. Counting happens on the PROGRESSIVELY redacted text (type
    k counts after types 1..k-1 redacted) so overlapping shapes are
    attributed once, deterministically, and the DuckDB oracle can
    replay the exact chain. Pure per-row JVM regexp chain — zero UDF,
    zero shuffle."""
    cur = F.col(text) if isinstance(text, str) else text
    counts = []
    for marker, rx in patterns:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(rx), F.lit(0)))
            .alias(f"n_{marker.lower()}"))
        cur = F.regexp_replace(cur, rx, f"<{marker}>")
    return cur, counts


#: Default blocklist (C4's "List of Dirty, Naughty ... Words" stands in
#: for whatever per-deployment list applies; these are corpus words so
#: the gate query exercises non-trivial hits).
BLOCKLIST: tuple[str, ...] = ("slow", "error", "spam")


def blocklist_scrub(df, *, text_col: str = "text", id_col: str = "doc_id",
                    blocklist: tuple[str, ...] = BLOCKLIST,
                    max_ratio_micro: int = 0):
    """Blocklist token filter — the C4-style "remove any page containing
    a word on the blocklist" gate (C4 dropped pages on ANY hit;
    ``max_ratio_micro`` generalizes to a rate threshold, 0 = C4's
    semantics). Counts OCCURRENCES (not distinct hits) of blocklisted
    whitespace tokens, case-insensitive, exact-token match (substring
    policies belong in a regex pass like ``pii_scrub``'s).

    Pure per-row JVM array lambdas — zero UDF, zero shuffle, trivially
    linear; the SQL twin is a ``list_filter .. IN`` replay. Returns
    (id, n_tokens, n_blocked, blocked_ratio_micro, keep).
    """
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    if not 0 <= max_ratio_micro <= 1_000_000:
        raise ValueError("max_ratio_micro must be in [0, 1e6], got "
                         f"{max_ratio_micro}")
    toks = tokens(F.lower(F.col(text_col)))
    bl = F.array(*[F.lit(w) for w in blocklist])
    n_tok = F.size(toks).cast("long")
    n_blk = F.size(F.filter(toks, lambda x: F.array_contains(bl, x))) \
        .cast("long")
    ratio = F.floor(n_blk * 1_000_000 / F.greatest(n_tok, F.lit(1))) \
        .cast("long")
    return df.select(
        F.col(id_col), n_tok.alias("n_tokens"), n_blk.alias("n_blocked"),
        ratio.alias("blocked_ratio_micro"),
        (ratio <= max_ratio_micro).alias("keep"))


def winnow_fingerprints(df, *, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 3,
                        window: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every word ``ngram``-gram, slide a
    ``window``-gram window over the hash sequence, keep each window's
    MINIMUM — guaranteeing any shared run of ``window + ngram - 1``
    tokens between two documents shares at least one selected
    fingerprint (the local-sampling property a plain "every k-th hash"
    scheme lacks). The classic plagiarism/citation-detection
    fingerprint, complementary to MinHash (which samples globally and
    carries no position).

    ENGINE-EXACT selection: the windowed min runs over the single
    int64 ``h * 2^20 + pos`` (40-bit gram hash from the md5 prefix,
    20-bit position), so min-of-combined picks min-hash with
    leftmost-position tie-break identically in any engine — no
    unspecified arg-min tie rule. Caps: docs up to 2^20 grams
    (enforced by a per-row assert_true; shard longer docs upstream).
    Plan: posexplode ->
    lead-stitched grams (one shuffle on the doc id) -> two window
    passes -> distinct; fingerprint volume is ~2/(window+1) of gram
    volume by the winnowing density bound.

    Returns (id, fp_hash, fp_pos) — distinct selected fingerprints
    with the position of their first selection.
    """
    from pyspark.sql import Window as W

    if ngram < 1 or window < 1:
        raise ValueError(f"need ngram >= 1 and window >= 1, got "
                         f"{ngram}/{window}")
    toks = (df.select(F.col(id_col),
                      F.posexplode(tokens(F.lower(F.col(text_col))))
                      .alias("p", "tok")))
    w = W.partitionBy(id_col).orderBy("p")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}")
             for j in range(1, ngram)]
    grams = toks.select(F.col(id_col), F.col("p"),
                        F.col("tok").alias("t0"), *leads)
    gcol = F.concat_ws(" ", *[F.col(f"t{j}") for j in range(ngram)])
    # gram position == its first token's position: every token index
    # 0..L-ngram yields exactly one gram, so p is already dense
    g = (grams.where(F.col(f"t{ngram - 1}").isNotNull())
         .select(F.col(id_col), F.col("p").alias("pos"),
                 (F.conv(F.substring(F.md5(gcol), 1, 10), 16, 10)
                  .cast("long") * F.lit(1_048_576)
                  + F.col("p")).alias("c")))
    g = g.where(F.assert_true(F.col("pos") < F.lit(1_048_576),
                              "winnow_fingerprints: doc exceeds 2^20 "
                              "grams — shard upstream").isNull())
    wg = W.partitionBy(id_col).orderBy("pos")
    fwd = wg.rowsBetween(0, window - 1)
    sel = (g.withColumn("n_grams", F.count(F.lit(1)).over(
               W.partitionBy(id_col)))
           .withColumn("wmin", F.min("c").over(fwd))
           # valid window starts only: 0..G-window (short docs: the one
           # window at pos 0 covers every gram)
           .where(F.col("pos")
                  <= F.greatest(F.col("n_grams") - window, F.lit(0))))
    out = sel.select(
        F.col(id_col),
        F.floor(F.col("wmin") / F.lit(1_048_576)).cast("long")
        .alias("fp_hash"),
        (F.col("wmin") % F.lit(1_048_576)).cast("int").alias("fp_pos"))
    return out.groupBy(id_col, "fp_hash").agg(
        F.min("fp_pos").alias("fp_pos"))


def token_budget_select(df, *, text_col: str = "text",
                        id_col: str = "doc_id",
                        budget_frac_micro: int = 300_000,
                        bins: int = 256):
    """Quality-ranked corpus cut to a TOKEN BUDGET — "keep the best
    documents until ~30% of corpus tokens" — the selection step of a
    budgeted pretraining mix, done the reduce-first way:

      1. per doc: token count + micro-quantized quality score, bucketed
         into a fixed ``bins``-cell quality grid (integer arithmetic —
         cross-engine exact);
      2. grid-grain cumulative token sums from the top bucket down pick
         the BOUNDARY bucket (volume-independent: <= ``bins`` rows);
      3. buckets above the boundary are taken whole; within the
         boundary bucket, docs are admitted in deterministic
         md5(doc_id) order until the residual budget is spent.

    The only data-sized ordered stage is the boundary-bucket scan —
    bounded by one bucket's population (doc-grain worst case; raise
    ``bins`` to shrink it). Everything is integer counts, so the
    verdict table (id, n_tokens, qbin, selected) hash-matches a SQL
    oracle. Budget = floor(total_tokens * budget_frac_micro / 1e6).
    """
    from pyspark.sql import Window

    if not 0 < budget_frac_micro <= 1_000_000:
        raise ValueError("budget_frac_micro must be in (0, 1e6], got "
                         f"{budget_frac_micro}")
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    from ..plans.caching import track_persist

    # one tokenization per row (quality + count share the array), and
    # the scored base is persisted: three consumers (total-budget agg,
    # per-bin agg, the selection join probe) would otherwise each
    # re-run the regexp-heavy scoring scan — measured 2x the whole
    # query at 1000x the gate SF. At cluster scale the same decision
    # is "materialize the scored corpus once" (parquet instead of
    # memory), the standard first stage of a selection pipeline.
    toked = df.select(F.col(id_col), F.col(text_col),
                      tokens(text_col).alias("__toks"))
    qm = F.floor(quality_score_from_tokens(F.col("__toks"), text_col)
                 * 1_000_000 + F.lit(0.5))
    qbin = F.least(F.floor(qm * bins / F.lit(1_000_000.0)),
                   F.lit(bins - 1)).cast("int")
    base = track_persist(toked.select(
        F.col(id_col), F.size("__toks").cast("long").alias("n_tokens"),
        qbin.alias("qbin")))
    tot = base.agg(
        F.floor(F.sum("n_tokens") * budget_frac_micro
                / F.lit(1_000_000.0)).alias("budget"))
    binsum = (base.groupBy("qbin").agg(F.sum("n_tokens").alias("bt")))
    wc = Window.orderBy(F.col("qbin").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)  # <= bins rows
    cum = (binsum.withColumn("cum", F.sum("bt").over(wc))
           .crossJoin(F.broadcast(tot))
           .select("qbin", "bt", "cum", "budget",
                   (F.col("cum") <= F.col("budget")).alias("full_sel"),
                   ((F.col("cum") > F.col("budget"))
                    & (F.col("cum") - F.col("bt") <= F.col("budget")))
                   .alias("is_boundary"),
                   (F.col("budget") - (F.col("cum") - F.col("bt")))
                   .alias("residual")))
    joined = base.join(F.broadcast(cum), "qbin")
    # the ordered scan runs ONLY over the boundary bucket (the window
    # partitions on qbin and the running sum is consumed solely where
    # is_boundary, so every other bucket's sort is a per-bucket local
    # order over its own share — no global stage, no singleton-key
    # blowup; the first cut's 500k singleton window keys measured
    # exponent 1.11 at 1000x the gate SF)
    wb = Window.partitionBy("qbin") \
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (joined.withColumn("__run", F.sum("n_tokens").over(wb))
            .select(id_col, "n_tokens", "qbin",
                    (F.col("full_sel")
                     | (F.col("is_boundary")
                        & (F.col("__run") <= F.col("residual"))))
                    .alias("selected")))


# ---------------------------------------------------------------------------
# Unigram language-model tokenizer (SentencePiece-style), round 7
# ---------------------------------------------------------------------------

UNIGRAM_MAX_PIECE = 4    # candidate pieces: word substrings up to 4 chars
UNIGRAM_MAX_WORD = 24    # words longer than this are ignored (DP bound)
UNIGRAM_MIN_COUNT = 2    # multi-char pieces need corpus support
UNIGRAM_TOP_WORDS = 500  # segmentation report: most frequent words


def unigram_scores(counts: dict) -> dict:
    """Integer log-prob scores (micro-units) from exact piece counts:
    score(p) = floor(ln(count/total) * 1e6). ONE CPython source of
    truth — the driver computes this table once from the distributed
    exact counts and broadcasts it; the per-SF oracle generator calls
    the SAME function on independently-derived counts, so a drift in
    either counting path breaks the gate (the zlib-oracle convention:
    the replayed computation is identical, the READ path independent)."""
    import math
    total = sum(counts.values())
    return {p: int(math.floor(math.log(c / total) * 1_000_000))
            for p, c in counts.items()}


def viterbi_segment(word: str, scores: dict,
                    max_piece: int = UNIGRAM_MAX_PIECE):
    """Max-likelihood segmentation under the unigram LM: dp over end
    positions, candidates = in-vocab suffix pieces up to ``max_piece``
    chars. Deterministic total order on ties: higher score, then fewer
    pieces, then lexicographically smallest '|'-joined segmentation.
    Returns (pieces tuple, score_micro)."""
    n = len(word)
    dp = [None] * (n + 1)          # (score, npieces, joined)
    back = [None] * (n + 1)
    dp[0] = (0, 0, "")
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece), i):
            if dp[j] is None:
                continue
            piece = word[j:i]
            s = scores.get(piece)
            if s is None:
                continue
            sc = dp[j][0] + s
            np_ = dp[j][1] + 1
            joined = dp[j][2] + ("|" if dp[j][2] else "") + piece
            cand = (sc, np_, joined)
            if (best is None or sc > best[0]
                    or (sc == best[0] and np_ < best[1])
                    or (sc == best[0] and np_ == best[1]
                        and joined < best[2])):
                best = cand
        dp[i] = best
    if dp[n] is None:   # uncovered char (not possible for corpus words)
        return (word,), 0
    sc, np_, joined = dp[n]
    return tuple(joined.split("|")), sc


def _word_piece_counts(words_freq) -> dict:
    """Exact piece counts from (word, freq) pairs: every substring
    OCCURRENCE up to UNIGRAM_MAX_PIECE chars contributes the word's
    corpus frequency. Pure-Python twin of the Spark explode; used by
    the oracle generator."""
    counts: dict = {}
    for w, f in words_freq:
        n = len(w)
        for i in range(n):
            for ln in range(1, min(UNIGRAM_MAX_PIECE, n - i) + 1):
                p = w[i:i + ln]
                counts[p] = counts.get(p, 0) + f
    return {p: c for p, c in counts.items()
            if c >= UNIGRAM_MIN_COUNT or len(p) == 1}


def unigram_piece_scores(freq, *, spark=None) -> dict:
    """Integer log-prob piece-score table from a LENGTH-FILTERED
    (word, freq) frame: distributed substring-occurrence counts (one
    Arrow pass over DISTINCT words — vocab scale), then the shared
    ``unigram_scores`` driver computation. The vocab-bounded collect is
    index metadata (Heaps' law keeps it sublinear in corpus size) —
    the tokenizer-model analogue of a codebook. Factored out of
    ``unigram_segment_report`` so multi-trainer comparisons reuse a
    shared frequency table instead of re-scanning the corpus."""
    from typing import Iterator

    def _pieces(batches: "Iterator[pd.DataFrame]") \
            -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out_p, out_c = [], []
            for w, f in zip(pdf["word"], pdf["freq"]):
                n = len(w)
                for i in range(n):
                    for ln in range(1, min(UNIGRAM_MAX_PIECE, n - i) + 1):
                        out_p.append(w[i:i + ln])
                        out_c.append(int(f))
            yield pd.DataFrame({"piece": out_p, "c": out_c})

    pc = (freq.mapInPandas(_pieces, schema="piece string, c long")
          .groupBy("piece").agg(F.sum("c").alias("c"))
          .where((F.col("c") >= UNIGRAM_MIN_COUNT)
                 | (F.length("piece") == 1)))
    counts = {r["piece"]: r["c"] for r in pc.collect()}
    return unigram_scores(counts)


def unigram_segment_report(df, *, text_col: str = "text",
                           word_freq=None) -> "DataFrame":
    """SentencePiece-style unigram-LM tokenizer over the corpus, end to
    end: exact piece counts (distributed) -> integer log-prob scores
    (driver, vocab-bounded index metadata — the same decision class as
    an IVF codebook collect) -> Viterbi max-likelihood segmentation of
    the UNIGRAM_TOP_WORDS most frequent words. The non-greedy sibling
    of the BPE family: BPE commits to merges greedily, the unigram LM
    picks each word's globally best segmentation under the corpus
    distribution.

    Scale shape: tokenization + word counts are one scan + one
    word-grain shuffle; piece explosion runs over DISTINCT words (vocab
    scale, Heaps-sublinear) in one Arrow pass; the segmentation DP runs
    on 500 rows. Scores are exact ints; ties broken by (fewer pieces,
    lexicographic) — partitioning-independent by construction."""
    from typing import Iterator

    if word_freq is None:
        toks = (df.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                          .alias("word"))
                .where((F.col("word") != "")
                       & (F.length("word") <= UNIGRAM_MAX_WORD)))
        freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    else:
        # shared-scan path: the length filter commutes with the word-
        # grain agg (it filters on the group key), so filtering the
        # pre-computed table is exactly the scratch derivation
        freq = word_freq.where(F.length("word") <= UNIGRAM_MAX_WORD)
    from ..plans.caching import track_persist
    freq = track_persist(freq)
    scores = unigram_piece_scores(freq)

    top = (freq.orderBy(F.col("freq").desc(), "word")
           .limit(UNIGRAM_TOP_WORDS))

    def _segment(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            words, freqs, segs, nps, scs = [], [], [], [], []
            for w, f in zip(pdf["word"], pdf["freq"]):
                pieces, sc = viterbi_segment(w, scores)
                words.append(w)
                freqs.append(int(f))
                segs.append("|".join(pieces))
                nps.append(len(pieces))
                scs.append(sc)
            yield pd.DataFrame({
                "word": words, "freq": pd.Series(freqs, dtype="int64"),
                "segmentation": segs,
                "n_pieces": pd.Series(nps, dtype="int32"),
                "score_micro": pd.Series(scs, dtype="int64")})

    return top.mapInPandas(_segment, schema=(
        "word string, freq long, segmentation string, n_pieces int, "
        "score_micro long"))


def unigram_oracle_sql(sf_dir: str, *, table: str = "documents",
                       text_col: str = "text") -> str:
    """Per-SF generated oracle for unigram_segment_report: word
    frequencies come from DuckDB's own tokenizer chain (independent of
    Spark's scan/split), piece counting from the pure-Python twin, then
    the IDENTICAL score + Viterbi functions replay the segmentation and
    the results bake into a VALUES table."""
    import os

    import duckdb

    path = os.path.join(sf_dir, f"{table}.parquet")
    con = duckdb.connect()
    wf = con.execute(f"""
        SELECT word, count(*)::BIGINT AS freq FROM (
          SELECT unnest(list_filter(string_split(lower({text_col}), ' '),
                                    x -> x <> '')) AS word
          FROM read_parquet('{path}'))
        WHERE len(word) <= {UNIGRAM_MAX_WORD}
        GROUP BY word
    """).fetchall()
    counts = _word_piece_counts(wf)
    scores = unigram_scores(counts)
    top = sorted(wf, key=lambda r: (-r[1], r[0]))[:UNIGRAM_TOP_WORDS]
    rows = []
    for w, f in top:
        pieces, sc = viterbi_segment(w, scores)
        esc_w = w.replace("'", "''")
        esc_s = "|".join(pieces).replace("'", "''")
        rows.append(f"('{esc_w}', {f}, '{esc_s}', {len(pieces)}, {sc})")
    vals = ",\n".join(rows)
    return f"""SELECT word::VARCHAR AS word, freq::BIGINT AS freq,
       segmentation::VARCHAR AS segmentation, n_pieces::INT AS n_pieces,
       score_micro::BIGINT AS score_micro
FROM (VALUES
{vals}
) AS t(word, freq, segmentation, n_pieces, score_micro)"""


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (round 7)
# ---------------------------------------------------------------------------

def rake_keyphrases(df, *, text_col: str = "text", id_col: str = "doc_id",
                    stopwords: tuple = STOPWORDS, top_k: int = 3,
                    max_run: int = 4) -> "DataFrame":
    """RAKE (Rapid Automatic Keyword Extraction): candidate phrases are
    maximal stopword-free runs (runs LONGER than ``max_run`` words are
    dropped outright — with them their words' freq/deg contributions;
    over-long runs are usually broken markup, not keyphrases), each word
    scored deg/freq WITHIN ITS DOCUMENT (deg = sum of the lengths of
    the phrases it appears in — favors words that travel in long
    phrases; freq alone favors boilerplate), phrase score = sum of
    member word scores, top-``top_k`` phrases per doc. Exact integer
    micro-unit scores (one truncating division per word).

    Scale shape: run segmentation is one doc-grain window (cumulative
    stopword count); everything else is (doc, run)- or (doc, word)-
    grain hash aggregation and the final rank a doc-partitioned window
    — no corpus-global state at all, the embarrassingly-document-
    parallel shape."""
    if top_k < 1 or max_run < 1:
        raise ValueError("top_k and max_run must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.filter(F.split(F.lower(F.col(text_col)), " "),
                              lambda x: x != "")).alias("i", "t"))
    marked = toks.withColumn("stop", F.col("t").isin(*stopwords))
    wrun = Window.partitionBy(id_col).orderBy("i")
    runs = marked.withColumn(
        "run", F.sum(F.col("stop").cast("int")).over(wrun))
    words = runs.where(~F.col("stop")).select(id_col, "run", "i", "t")
    from ..plans.caching import track_persist
    words = track_persist(words)
    phr = (words.groupBy(id_col, "run")
           .agg(F.count(F.lit(1)).alias("nw"),
                F.array_join(F.transform(F.array_sort(F.collect_list(
                    F.struct("i", "t"))), lambda s: s.t), " ")
                .alias("phrase"))
           .where(F.col("nw") <= max_run))
    phr = track_persist(phr)
    wstat = (words.join(phr.select(id_col, "run", "nw"), [id_col, "run"])
             .groupBy(id_col, "t")
             .agg(F.count(F.lit(1)).alias("freq"),
                  F.sum("nw").alias("deg")))
    pscore = (phr.join(words, [id_col, "run"])
              .join(wstat, [id_col, "t"])
              .groupBy(id_col, "run", "phrase", "nw")
              .agg(F.sum(F.expr("(deg * 1000000) div freq"))
                   .alias("score_micro")))
    dedup = (pscore.groupBy(id_col, "phrase",
                            F.col("nw").cast("int").alias("n_words"))
             .agg(F.max("score_micro").alias("score_micro")))
    wr = Window.partitionBy(id_col).orderBy(
        F.col("score_micro").desc(), "phrase")
    return (dedup.withColumn("rank", F.row_number().over(wr).cast("int"))
            .where(F.col("rank") <= top_k))


# ---------------------------------------------------------------------------
# WordPiece (round 8): likelihood-scored trainer + greedy longest-match
# encoder — the third tokenizer family (BPE = frequency-merge + rank-
# order encode; unigram-LM = Viterbi; WordPiece = likelihood merge +
# maximal-munch encode, the BERT scheme).
# ---------------------------------------------------------------------------

#: fixed-point scale for the WordPiece pair-likelihood score
#: cnt(ab)/(cnt(a)*cnt(b)) — integer micro-units so argmax ordering is
#: engine-exact. int64-safe while cnt(ab) < 9.2e6 and token volume
#: < 3e9 (den = cnt(a)*cnt(b)); beyond that switch the score to
#: decimal(38) — the DECISION stays a one-row driver fetch either way.
_WP_SCORE_SCALE = 10 ** 12


def wordpiece_train_merges(df=None, *, text_col: str = "text",
                           rounds: int = 5, min_count: int = 2,
                           word_freq=None):
    """WordPiece tokenizer training, distributed: like
    ``bpe_train_merges`` (same vocabulary loop, same greedy
    left-to-right rewrite fold) but the merge DECISION maximizes the
    likelihood score cnt(ab) / (cnt(a) * cnt(b)) (Schuster & Nakajima
    2012; the BERT trainer) instead of raw pair frequency — rare-but-
    predictive pairs win over merely common ones.

    Per round: weighted pair counts AND weighted symbol counts off the
    same vocabulary (two hash aggs over the token-TYPE table, shrunk by
    the repetition factor); symbol counts broadcast back onto pair rows
    (symbol table is alphabet+rounds bounded); pairs below
    ``min_count`` are dropped BEFORE the argmax — a raw likelihood
    argmax would always pick singleton pairs, whose tiny denominators
    dominate the score; argmax on integer micro-score with
    (score desc, a, b) tie-break comes to the driver (one row — index
    metadata); vocab rewrites via the shared ``_merge_fold`` and
    localCheckpoints so round k+1 does not replay rounds 1..k. Stops
    early when no candidate remains.
    Returns (round, piece, a, b, cnt, score_micro).

    ``word_freq``: optionally start from a pre-computed (word, freq)
    frame (``corpus_word_freq``) — the shared-scan path.

    int64 SAFETY IS ENFORCED, not documented: the total symbol volume V
    bounds every cnt/ca/cb, so when V < 9.2e6 the int64 micro-score is
    provably overflow-free (cnt*1e12 <= V*1e12 < 9.2e18 and
    ca*cb <= V^2 << 9.2e18) and runs in the fast path; larger corpora
    switch the score expression to DECIMAL(38,0) arithmetic whose `div`
    matches Python big-int floor division exactly (tested) — wrong
    merges from a silent int64 wrap can no longer happen.

    No single-query SQL oracle (iterative argmax); exactness is pinned
    against an independent Python twin in tests and the
    ``wordpiece_segment_report`` gate query bakes the twin's replay
    into a generated VALUES oracle per SF."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from ..plans.caching import release_checkpoint

    spark = (df if df is not None else word_freq).sparkSession
    # lazy: the volume check below is its first job and materializes it
    vocab = _trainer_vocab(df, text_col, word_freq).localCheckpoint(eager=False)
    vol_row = vocab.agg(F.sum(F.col("tok_cnt") * F.size("syms"))
                        .alias("v")).first()
    volume = int(vol_row["v"] or 0)
    if volume < 9_200_000:
        score_expr = F.expr(f"(cnt * {_WP_SCORE_SCALE}) div (ca * cb)")
    else:
        # DECIMAL(38,0) holds cnt*1e12 (<= 9.2e30) and ca*cb
        # (<= 8.5e37); decimal `div` truncates like Python //
        score_expr = F.expr(
            f"(CAST(cnt AS DECIMAL(38,0)) * {_WP_SCORE_SCALE}) div "
            f"(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)))")
    merges: list[tuple] = []
    prev = None
    try:
        for r in range(rounds):
            n1 = F.greatest(F.size("syms") - 1, F.lit(0))
            # ONE tagged-union explode carries both the adjacent-pair
            # rows (kind 'p') and the symbol rows (kind 's') through a
            # single scan of the vocabulary and a single hash agg: a
            # two-agg form scans vocab twice per round and so needs an
            # EAGER per-round checkpoint (two concurrent consumers of a
            # lazy one double-compute the merge fold); with a single
            # consumer the checkpoint stays lazy and each round is
            # exactly one blocking job. The '' sentinel in b cannot
            # collide: '' is never a symbol.
            pair_structs = F.zip_with(
                F.slice("syms", 1, n1), F.slice("syms", 2, n1),
                lambda a, b: F.struct(F.lit("p").alias("k"), a.alias("a"),
                                      b.alias("b")))
            sym_structs = F.transform(
                "syms", lambda s: F.struct(F.lit("s").alias("k"),
                                           s.alias("a"), F.lit("").alias("b")))
            ex = vocab.select(
                F.explode(F.concat(pair_structs, sym_structs)).alias("x"),
                "tok_cnt")
            counts = ex.groupBy("x").agg(F.sum("tok_cnt").alias("n"))
            pairs = (counts.where(F.col("x.k") == "p")
                     .select(F.struct(F.col("x.a").alias("a"),
                                      F.col("x.b").alias("b")).alias("p"),
                             F.col("n").alias("cnt")))
            syms = counts.where(F.col("x.k") == "s").select(
                F.col("x.a").alias("s"), F.col("n").alias("sc"))
            cand = (pairs
                    .join(F.broadcast(syms.select(F.col("s").alias("__a"),
                                                  F.col("sc").alias("ca"))),
                          F.col("p.a") == F.col("__a"))
                    .join(F.broadcast(syms.select(F.col("s").alias("__b"),
                                                  F.col("sc").alias("cb"))),
                          F.col("p.b") == F.col("__b"))
                    .where(F.col("cnt") >= min_count)
                    .withColumn("score_micro", score_expr))
            best = (cand.orderBy(F.col("score_micro").desc(),
                                 F.col("p.a"), F.col("p.b")).first())
            # this argmax materialized ``vocab``: its source can go
            if prev is not None:
                release_checkpoint(prev)
            prev = vocab
            if best is None:
                break
            a, b = best["p"]["a"], best["p"]["b"]
            merges.append((r, a + b, a, b, int(best["cnt"]),
                           int(best["score_micro"])))
            vocab = (vocab.select(_merge_fold("syms", a, b).alias("syms"),
                                  "tok_cnt")
                     .localCheckpoint(eager=False))
    finally:
        release_checkpoint(vocab)
        if prev is not None and prev is not vocab:
            release_checkpoint(prev)
    return spark.createDataFrame(
        merges, "round int, piece string, a string, b string, cnt long, "
                "score_micro long")


def _wp_greedy(word: str, pieces: set, maxlen: int) -> list:
    """Greedy longest-match-first (maximal munch) WordPiece
    segmentation of one word: at each position take the longest piece
    in the trained vocabulary, falling back to the single character
    (every corpus character is implicitly in-vocab, so no [UNK] arises
    on the training corpus itself); continuation pieces carry the
    BERT '##' display prefix. Pure function — shared verbatim by the
    Spark encoder and the DuckDB oracle generator."""
    out, pos = [], 0
    while pos < len(word):
        ln = min(maxlen, len(word) - pos)
        while ln >= 2 and word[pos:pos + ln] not in pieces:
            ln -= 1
        piece = word[pos:pos + ln] if ln >= 2 else word[pos]
        out.append(piece if pos == 0 else "##" + piece)
        pos += len(piece)
    return out


def _wp_train_py(word_freqs, rounds: int, min_count: int = 2) -> list:
    """Independent pure-Python WordPiece trainer twin (exact big-int
    arithmetic) — the oracle generator's replay of
    ``wordpiece_train_merges``. Input: (word, freq) rows."""
    from collections import Counter
    vocab = Counter()
    for w, c in word_freqs:
        vocab[tuple(w)] += int(c)
    merges = []
    for r in range(rounds):
        pc, sc = Counter(), Counter()
        for syms, c in vocab.items():
            for s in syms:
                sc[s] += c
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        scored = {p: (c * _WP_SCORE_SCALE) // (sc[p[0]] * sc[p[1]])
                  for p, c in pc.items() if c >= min_count}
        if not scored:
            break
        (a, b), sm = min(scored.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a + b, a, b, pc[(a, b)], sm))
        new_vocab = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += c
        vocab = new_vocab
    return merges


#: report defaults shared by the gate query and its oracle generator
_WP_ROUNDS = 6
_WP_TOP_WORDS = 40


def wordpiece_segment_report(df, *, text_col: str = "text",
                             rounds: int = _WP_ROUNDS,
                             top_words: int = _WP_TOP_WORDS):
    """Train a WordPiece vocabulary on the corpus, then segment the
    ``top_words`` most frequent words with greedy longest-match —
    (word, freq, segmentation, n_pieces). Deliberately the same report
    shape as the unigram-LM segmenter so the three tokenizer families
    are directly comparable on one corpus. Note maximal munch is NOT
    merge-order replay: BPE applied to the same vocabulary can emit a
    different (sometimes longer) segmentation — that divergence is the
    reason real tokenizers ship the inference rule with the vocab.

    Plan: training as ``wordpiece_train_merges`` (the merge table is
    driver metadata, rounds rows); word frequencies are one hash agg
    over exploded tokens; top-k is a TakeOrdered (never a global
    sort); segmentation is an Arrow-batched pandas UDF over the K
    surviving rows."""
    from pyspark.sql.pandas.functions import pandas_udf

    merges = wordpiece_train_merges(df, text_col=text_col, rounds=rounds)
    pieces = {r["piece"] for r in merges.collect()}  # bounded: <= rounds
    maxlen = max((len(p) for p in pieces), default=1)

    @pandas_udf("string")
    def _seg(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: "|".join(_wp_greedy(w or "", pieces, maxlen)))

    freq = (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.col("freq").desc(), "word").limit(top_words))
    out = freq.withColumn("segmentation", _seg(F.col("word")))
    return out.withColumn(
        "n_pieces", F.size(F.split("segmentation", r"\|")).cast("int"))


def wordpiece_oracle_sql(sf_dir: str, *, table: str = "documents",
                         text_col: str = "text") -> str:
    """Per-SF generated oracle for wordpiece_segment_report: word
    frequencies come from DuckDB's own tokenizer chain, the merge table
    from the pure-Python big-int trainer twin, segmentation from the
    SAME ``_wp_greedy`` function, and the results bake into a VALUES
    table."""
    import os

    import duckdb

    path = os.path.join(sf_dir, f"{table}.parquet")
    con = duckdb.connect()
    wf = con.execute(f"""
        SELECT word, count(*)::BIGINT AS freq FROM (
          SELECT unnest(list_filter(string_split(lower({text_col}), ' '),
                                    x -> x <> '')) AS word
          FROM read_parquet('{path}'))
        GROUP BY word
    """).fetchall()
    merges = _wp_train_py(wf, rounds=_WP_ROUNDS)
    pieces = {m[1] for m in merges}
    maxlen = max((len(p) for p in pieces), default=1)
    top = sorted(wf, key=lambda r: (-r[1], r[0]))[:_WP_TOP_WORDS]
    rows = []
    for w, f in top:
        seg = "|".join(_wp_greedy(w, pieces, maxlen))
        esc_w = w.replace("'", "''")
        esc_s = seg.replace("'", "''")
        rows.append(f"('{esc_w}', {f}, '{esc_s}', {seg.count('|') + 1})")
    vals = ",\n".join(rows)
    return f"""SELECT word::VARCHAR AS word, freq::BIGINT AS freq,
       segmentation::VARCHAR AS segmentation, n_pieces::INT AS n_pieces
FROM (VALUES
{vals}
) AS t(word, freq, segmentation, n_pieces)"""


# ---------------------------------------------------------------------------
# Tokenizer selection report (round 8): BPE vs WordPiece vs unigram-LM
# frequency-weighted fertility on one corpus — the number that picks a
# tokenizer family before committing a 100 TB encode run.
# ---------------------------------------------------------------------------

def _bpe_train_py(word_freqs, rounds: int, min_count: int = 2) -> list:
    """Independent pure-Python BPE trainer twin (frequency argmax,
    count-desc/pair-asc tie-break) — mirrors ``bpe_train_merges``;
    used by the tokenizer-compare oracle generator."""
    from collections import Counter
    vocab = Counter()
    for w, c in word_freqs:
        vocab[tuple(w)] += int(c)
    merges = []
    for _ in range(rounds):
        pc = Counter()
        for syms, c in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((a, b))
        new_vocab = Counter()
        for syms, c in vocab.items():
            new_vocab[tuple(_bpe_apply_py_syms(list(syms), a, b))] += c
        vocab = new_vocab
    return merges


def _bpe_apply_py_syms(syms: list, a: str, b: str) -> list:
    """One greedy left-to-right (a, b) merge pass — the exact
    ``_merge_fold`` semantics in Python."""
    out = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _bpe_encode_py(word: str, merges: list) -> list:
    """Encode one word with a rank-ordered merge table — the
    ``bpe_apply_merges`` fold in Python."""
    syms = list(word)
    for a, b in merges:
        syms = _bpe_apply_py_syms(syms, a, b)
    return syms


#: compare-report defaults shared by the gate query and its oracle
_TKC_ROUNDS = 6
_TKC_TOP_WORDS = 40


def tokenizer_fertility_compare(df, *, text_col: str = "text",
                                rounds: int = _TKC_ROUNDS,
                                top_words: int = _TKC_TOP_WORDS):
    """Train all three tokenizer families on the corpus and price them
    on ONE shared eval set — the ``top_words`` most frequent words of
    length <= UNIGRAM_MAX_WORD (the unigram DP bound, applied to every
    family so the comparison is apples-to-apples). Emits one row per
    tokenizer: (tokenizer, n_words, weighted_pieces, fertility_micro)
    where fertility = frequency-weighted pieces per word — the
    tokens-per-word the CORPUS would pay, i.e. the context-window and
    compute cost of choosing that tokenizer.

    Plan: the corpus is scanned ONCE — the shared (word, freq) table is
    persisted and feeds all three trainers AND the eval set (each
    trainer used to re-derive it, r8's slowest-benched-query constant);
    each trainer is its own bounded loop (BPE/WordPiece:
    driver-metadata merge tables; unigram: vocab-bounded score table);
    the eval set is top_words rows, with unigram pieces computed
    DIRECTLY on those rows by the shared Viterbi (no join against the
    report's fixed top-500 table — which silently dropped eval words
    whenever top_words exceeded it). The encode-a-corpus cost this
    report predicts is NOT paid here — that is what the number is
    for."""
    from pyspark.sql.functions import pandas_udf

    from ..plans.caching import track_persist

    freq = track_persist(corpus_word_freq(df, text_col=text_col))
    freq.count()  # materialize ONCE before the concurrent trainers
    top = (freq.where(F.length("word") <= UNIGRAM_MAX_WORD)
           .orderBy(F.col("freq").desc(), "word").limit(top_words))

    # The three trainers are independent given the shared frequency
    # table, and their wall time is job LATENCY, not compute: BPE is
    # one vocabulary collect then driver-side rounds (below its vocab
    # bound), WordPiece a chain of driver-synchronous tiny jobs (one
    # argmax + lazy checkpoint per round) — so run them as concurrent
    # jobs from a small thread pool (guide §2.6: later jobs back-fill
    # executors the current job's tail leaves idle, and BPE's Python
    # rounds overlap WordPiece's jobs). Results are bit-identical: each
    # trainer reads only the materialized freq cache.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_bpe = pool.submit(
            lambda: bpe_train_merges(word_freq=freq,
                                     rounds=rounds).collect())
        f_wp = pool.submit(
            lambda: wordpiece_train_merges(word_freq=freq,
                                           rounds=rounds).collect())
        f_uni = pool.submit(
            lambda: unigram_piece_scores(
                freq.where(F.length("word") <= UNIGRAM_MAX_WORD)))
        bpe_rows = f_bpe.result()
        wp_rows = f_wp.result()
        uni_scores = f_uni.result()

    # BPE: rank-order merge replay, pure JVM on the K eval rows
    bpe_merges = [(r["a"], r["b"]) for r in bpe_rows]
    bpe_np = F.size(bpe_apply_merges(F.col("word"), bpe_merges))

    # WordPiece: likelihood-scored merges + maximal munch
    wp_pieces = {r["piece"] for r in wp_rows}
    wp_maxlen = max((len(p) for p in wp_pieces), default=1)

    @pandas_udf("int")
    def _wp_np(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: len(_wp_greedy(w or "", wp_pieces, wp_maxlen)))

    # unigram-LM: Viterbi under the exact corpus piece scores, applied
    # directly to the eval rows (scores come from the same shared
    # frequency table, length-filtered like the eval set; trained in
    # the concurrent pool above)
    scores = uni_scores

    @pandas_udf("int")
    def _uni_np(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: len(viterbi_segment(w or "", scores)[0]))

    def fert(scored, name):
        return (scored
                .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                     F.sum(F.col("freq") * F.col("np")).cast("long")
                     .alias("weighted_pieces"),
                     F.expr("(sum(freq * np) * 1000000) div sum(freq)")
                     .cast("long").alias("fertility_micro"))
                .select(F.lit(name).alias("tokenizer"), "n_words",
                        "weighted_pieces", "fertility_micro"))

    bpe_scored = top.withColumn("np", bpe_np.cast("int"))
    wp_scored = top.withColumn("np", _wp_np(F.col("word")))
    uni_scored = top.withColumn("np", _uni_np(F.col("word")))
    return (fert(bpe_scored, "bpe")
            .unionByName(fert(wp_scored, "wordpiece"))
            .unionByName(fert(uni_scored, "unigram")))


def tokenizer_compare_oracle_sql(sf_dir: str, *, table: str = "documents",
                                 text_col: str = "text") -> str:
    """Per-SF generated oracle for tokenizer_fertility_compare: word
    frequencies from DuckDB's own tokenizer chain, all three trainers
    replayed by their independent pure-Python twins, fertilities baked
    into a 3-row VALUES table."""
    import os

    import duckdb

    path = os.path.join(sf_dir, f"{table}.parquet")
    con = duckdb.connect()
    wf = con.execute(f"""
        SELECT word, count(*)::BIGINT AS freq FROM (
          SELECT unnest(list_filter(string_split(lower({text_col}), ' '),
                                    x -> x <> '')) AS word
          FROM read_parquet('{path}'))
        GROUP BY word
    """).fetchall()
    eligible = [(w, f) for w, f in wf if len(w) <= UNIGRAM_MAX_WORD]
    top = sorted(eligible, key=lambda r: (-r[1], r[0]))[:_TKC_TOP_WORDS]

    bpe_merges = _bpe_train_py(wf, rounds=_TKC_ROUNDS)
    wp_pieces = {m[1] for m in _wp_train_py(wf, rounds=_TKC_ROUNDS)}
    wp_maxlen = max((len(p) for p in wp_pieces), default=1)
    scores = unigram_scores(_word_piece_counts(eligible))

    rows = []
    for name, np_fn in (
            ("bpe", lambda w: len(_bpe_encode_py(w, bpe_merges))),
            ("wordpiece", lambda w: len(_wp_greedy(w, wp_pieces,
                                                   wp_maxlen))),
            ("unigram", lambda w: len(viterbi_segment(w, scores)[0]))):
        wp_sum = sum(f * np_fn(w) for w, f in top)
        f_sum = sum(f for _, f in top)
        fert = (wp_sum * 1_000_000) // max(f_sum, 1)
        rows.append(f"('{name}', {len(top)}, {wp_sum}, {fert})")
    vals = ",\n".join(rows)
    return f"""SELECT tokenizer::VARCHAR AS tokenizer,
       n_words::BIGINT AS n_words,
       weighted_pieces::BIGINT AS weighted_pieces,
       fertility_micro::BIGINT AS fertility_micro
FROM (VALUES
{vals}
) AS t(tokenizer, n_words, weighted_pieces, fertility_micro)"""
