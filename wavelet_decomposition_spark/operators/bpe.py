"""Distributed BPE tokenizer training (Sennrich, Haddow, Birch, ACL 2016
— public algorithm) — the missing piece between `textstats.token_count`
(a fixed regex) and a real LLM data pipeline, which TRAINS its subword
vocabulary on the corpus it curates.

Scale shape (the classic one): BPE never iterates over the corpus — it
iterates over the WORD-FREQUENCY TABLE. One corpus scan builds
(word, count) — Zipf-bounded (~10^7 distinct words at 100 TB, versus
10^12 turns), distributed, and 5-6 orders smaller than the input. Each
merge round is then (1) one Arrow pass + hash aggregate over that
compact table (weighted adjacent-pair partial counts per batch —
Python only ever touches the vocab table, never the corpus), (2) ONE
collected row
(the argmax pair under a total order: max count, then lexicographic —
engine-independent determinism), (3) one Arrow pass applying the merge
to the symbol arrays. ``localCheckpoint`` every few rounds truncates
the iterative lineage (the components.py discipline), and each
checkpointed round is released once its successor is materialized. The
corpus is touched exactly once.

Exact bookkeeping invariant: applying merge (a, b) with pair count f
shrinks the total weighted symbol count by EXACTLY f (every occurrence
replaces two symbols with one; occurrences are non-overlapping by the
leftmost-greedy count below). ``verify=True`` asserts it per round —
a miscounted pair table or a sloppy merge apply cannot keep the books
balanced. Overlap convention: within a word like "aaa", pair (a,a) is
counted leftmost-greedily (count 1, not 2) so the count equals exactly
the number of replacements the merge performs.

The reference has no text surface; this extends the engine's
LLM-pipeline inventory (SURVEY.md §2.8).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import release_checkpoint, worker_kernel
from .textstats import TOKEN_REGEX


def _pairs_nonoverlap(sym: list, a: str, b: str) -> int:
    """Leftmost-greedy count of (a, b) in sym — exactly the number of
    replacements a merge performs (handles 'aaa' correctly)."""
    n = 0
    j = 0
    while j < len(sym) - 1:
        if sym[j] == a and sym[j + 1] == b:
            n += 1
            j += 2
        else:
            j += 1
    return n


def _merge_word(sym: list, a: str, b: str, ab: str) -> list:
    out = []
    j = 0
    while j < len(sym):
        if j < len(sym) - 1 and sym[j] == a and sym[j + 1] == b:
            out.append(ab)
            j += 2
        else:
            out.append(sym[j])
            j += 1
    return out


def word_counts(docs: DataFrame) -> DataFrame:
    """The one corpus scan: ``(word, count)`` + initial character symbol
    arrays. Everything after runs on this Zipf-bounded table."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(TOKEN_REGEX), F.lit(0)
            )
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("symbols", F.split(F.col("word"), ""))
    )


def _pair_counts(
    vocab: DataFrame, pending: tuple[tuple[str, str], ...] = ()
) -> DataFrame:
    """Weighted adjacent-pair counts over the symbol arrays, leftmost-
    greedy per pair type (non-overlapping — 'aaa' counts (a,a) once),
    so every count equals EXACTLY the number of replacements the merge
    would perform. One Arrow pass over the compact vocab table emitting
    per-batch partial counts, then one hash aggregate — the same
    map-side-combine shape as the merge apply, and Python only ever
    touches the Zipf-bounded table, never the corpus.

    ``pending`` (r6): merges not yet materialized into ``vocab`` are
    applied in the SAME Arrow pass before counting — one Python stage
    per training round instead of a chain of per-merge apply stages
    (each chained eval is its own worker round trip). Bounded by the
    checkpoint cadence (<= 4 pending merges), so the re-apply work per
    round stays O(cadence * vocab) at any scale."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            counts: dict[tuple[str, str], int] = {}
            for sym, c in zip(pdf["symbols"], pdf["count"]):
                sym = list(sym)
                for a, b in pending:
                    sym = _merge_word(sym, a, b, a + b)
                for p in set(zip(sym, sym[1:])):
                    counts[p] = counts.get(p, 0) + _pairs_nonoverlap(
                        sym, *p
                    ) * int(c)
            if counts:
                yield pd.DataFrame(
                    [(a, b, n) for (a, b), n in counts.items()],
                    columns=["left", "right", "pair_count"],
                )

    partial = vocab.select("count", "symbols").mapInPandas(
        worker_kernel(gen),
        schema="left string, right string, pair_count bigint",
    )
    return partial.groupBy("left", "right").agg(
        F.sum("pair_count").alias("pair_count")
    )


def _apply_merges(
    vocab: DataFrame, pending: tuple[tuple[str, str], ...]
) -> DataFrame:
    """Materialization pass: apply ``pending`` merges in rank order to
    every symbol array (one Arrow stage for the whole batch)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            out = []
            for sym in pdf["symbols"]:
                sym = list(sym)
                for a, b in pending:
                    sym = _merge_word(sym, a, b, a + b)
                out.append(sym)
            pdf["symbols"] = out
            yield pdf

    return vocab.mapInPandas(
        worker_kernel(gen),
        schema="word string, count bigint, symbols array<string>",
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 30,
    verify: bool = False,
) -> dict:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    ``{"merges": [(left, right, pair_count), ...] in rank order,
    "bookkeeping_ok": bool (verify=True only), "n_words": int}``.
    Stops early when no pair occurs at least twice."""
    # checkpoint cadence (measured, r6): consecutive merge applies with
    # no shuffle between them FUSE into one stage of chained Arrow
    # evals, so a persist boundary every round costs more than it saves
    # (8.2 s for 24 rounds) — but LAZY checkpoints every 5 rounds let
    # the next pair-count job materialize the truncation as a side
    # effect instead of paying a dedicated eager-checkpoint job (5.9 s
    # vs 6.9 s eager, vs 11+ s with no truncation at all)
    vocab = word_counts(docs).localCheckpoint(eager=False)
    vocab0 = vocab  # checkpointed initial word table (see out dict)
    merges: list[tuple[str, str, int]] = []
    # one fused setup aggregate: vocabulary size and (for verify) the
    # initial weighted symbol count come out of the same job that
    # materializes the word table
    first = vocab.agg(
        F.count(F.lit(1)).alias("nw"),
        F.sum(F.size("symbols") * F.col("count")).alias("tot"),
    ).first()
    n_words, total_before = first["nw"], first["tot"]
    # pending = merges chosen but not yet materialized into the
    # checkpointed vocab; they ride into the NEXT round's counting pass
    # (one fused Arrow stage) and are materialized every 5 rounds
    pending: list[tuple[str, str]] = []
    # the checkpointed round the newest one superseded: released once the
    # next pair count has materialized its successor (never vocab0, which
    # the caller gets back)
    stale = None
    for _r in range(n_merges):
        top = (
            _pair_counts(vocab, tuple(pending))
            .orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            )
            .limit(1)
            .collect()
        )
        if stale is not None:
            release_checkpoint(stale)
            stale = None
        if not top or top[0]["pair_count"] < 2:
            break
        a, b, f = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((a, b, f))
        pending.append((a, b))
        if len(pending) >= 5:
            stale = vocab if vocab is not vocab0 else None
            vocab = _apply_merges(vocab, tuple(pending)).localCheckpoint(
                eager=False
            )
            pending = []
    if pending:
        vocab = _apply_merges(vocab, tuple(pending))
    # hand the checkpointed initial word table back to callers (the
    # dual-path gate in the driver query reads it instead of paying a
    # second corpus scan + word aggregate)
    out = {
        "merges": merges,
        "n_words": int(n_words),
        "word_counts_df": vocab0.select("word", "count"),
    }
    if verify:
        # telescoped bookkeeping: each merge (a, b) with pair count f
        # removes EXACTLY f symbols, so the final weighted symbol count
        # must equal the initial one minus sum(f) — one aggregate at
        # each end instead of two per round, same falsifying power (a
        # single miscounted round cannot cancel against the others
        # without a second, exactly opposite miscount)
        total_after = vocab.agg(
            F.sum(F.size("symbols") * F.col("count"))
        ).first()[0]
        out["bookkeeping_ok"] = bool(
            total_after == total_before - sum(f for _, _, f in merges)
        )
    return out


def bpe_train_reference(
    word_count: dict[str, int], n_merges: int, min_freq: int = 2
) -> list[tuple[str, str, int]]:
    """Pure-Python twin on a {word: count} dict — the dual-path oracle
    for the distributed trainer (same leftmost-greedy convention, same
    (count desc, pair lexicographic) total order)."""
    vocab = {w: list(w) for w in word_count}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, sym in vocab.items():
            c = word_count[w]
            for p in set(zip(sym, sym[1:])):
                counts[p] = counts.get(p, 0) + _pairs_nonoverlap(
                    sym, *p
                ) * c
        if not counts:
            break
        (a, b), f = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if f < min_freq:
            break
        merges.append((a, b, f))
        vocab = {
            w: _merge_word(sym, a, b, a + b) for w, sym in vocab.items()
        }
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """Tokenize every document with the learned merges (applied in rank
    order, leftmost-greedy): ``(doc_id, n_chars, n_tokens)`` — one Arrow
    pass, no shuffle. ``n_tokens <= n_chars`` always; equality iff no
    merge applies."""
    import re

    rx = re.compile(TOKEN_REGEX)
    seq = [(a, b, a + b) for a, b, _ in merges]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # token count is a pure function of the word, and word frequency
        # is Zipf — memoize per task so each distinct word pays the
        # merge cascade once, not once per occurrence (the vocabulary
        # is the bounded set the trainer already iterates; measured
        # 2.8 s -> sub-second on the documents corpus)
        memo: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            n_chars = []
            n_tokens = []
            for t in pdf["text"]:
                words = rx.findall(t or "")
                total_c = sum(len(w) for w in words)
                total_t = 0
                for w in words:
                    nt = memo.get(w)
                    if nt is None:
                        sym = list(w)
                        for a, b, ab in seq:
                            if len(sym) > 1:
                                sym = _merge_word(sym, a, b, ab)
                        nt = memo[w] = len(sym)
                    total_t += nt
                n_chars.append(total_c)
                n_tokens.append(total_t)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_chars": n_chars,
                    "n_tokens": n_tokens,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        worker_kernel(gen),
        schema="doc_id bigint, n_chars int, n_tokens int",
    )
