"""Text and training-data queries: dedup and near-dup detection,
cleaning, language ID, quality scores, chunking and packing, BPE and
DSIR, and the inverted-index retrieval surface.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from wavelet_decomposition_spark.io.transcripts import transcripts_df
from wavelet_decomposition_spark.operators import dedup
from wavelet_decomposition_spark.operators.bpe import (
    bpe_encode,
    bpe_train,
    bpe_train_reference,
)
from wavelet_decomposition_spark.operators.charlm import trigram_quality
from wavelet_decomposition_spark.operators.decontam import decontaminate
from wavelet_decomposition_spark.operators.dedup import (
    edit_distance_pairs,
    exact_dedup,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_bounded,
)
from wavelet_decomposition_spark.operators.invindex import (
    bm25_topk,
    boolean_and,
    inverted_index,
)
from wavelet_decomposition_spark.operators.langid import (
    held_out_fixture,
    lang_id_ngram,
)
from wavelet_decomposition_spark.operators.sampling import (
    assign_splits,
    domain_mix,
    pack_sequences,
)
from wavelet_decomposition_spark.operators.textclean import (
    chunk_documents,
    redact_pii,
    repetition_ratio,
    strip_html,
)
from wavelet_decomposition_spark.operators.textstats import (
    TOKEN_REGEX,
    doc_stats,
    fingerprint,
    normalized,
    token_count,
    word_count,
)
from wavelet_decomposition_spark.queries import (
    _docs,
    aqe_off,
    query,
    scratch_dir,
)


@query(bench=True)
def _q_dedup_groups(spark, sf_dir):
    """Exact dedup groups over normalized-text fingerprints."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", fingerprint().alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_id"))
    )


@query()
def _q_dedup_keep_first(spark, sf_dir):
    """Exact dedup survivors (lowest doc_id per normalized-text group) —
    the operator form of dedup_groups."""
    return exact_dedup(_docs(spark, sf_dir)).select("doc_id")


@query(bench=True)
def _q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs >= 0.1."""
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.1)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@query(bench=True)
def _q_doc_stats(spark, sf_dir):
    """Token counting + fingerprinting (text-analysis column ops)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        word_count().alias("n_words"),
        token_count().alias("n_tokens"),
        fingerprint().alias("fingerprint"),
    )


@query()
def _q_lang_marker_hits(spark, sf_dir):
    """Language-ID marker counts (the lang_id heuristic's inputs)."""
    docs = _docs(spark, sf_dir)
    padded = F.concat(F.lit(" "), normalized(), F.lit(" "))
    def hits(words):
        e = F.lit(0)
        for w in words:
            e = e + F.regexp_count(padded, F.lit(rf" {w} "))
        return e
    return docs.select(
        "doc_id",
        hits(["the", "and", "of", "to", "is"]).alias("en_hits"),
        hits(["le", "la", "et", "les", "est"]).alias("fr_hits"),
        hits(["der", "die", "und", "das", "ist"]).alias("de_hits"),
        hits(["el", "la", "de", "que", "es"]).alias("es_hits"),
    )


@query(bench=True)
def _q_stratified_split(spark, sf_dir):
    """Deterministic train/val/test assignment (80/10/10) by hash-bucket
    thresholds on doc_id — stable under reruns, repartitioning, and
    appends, unlike DataFrame.sample. The portable 31-bit LCG method runs
    bit-identically in the DuckDB oracle; the xxhash64 production path is
    property-tested in tests/test_sampling.py."""
    return assign_splits(
        _docs(spark, sf_dir).select("doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=42, method="lcg",
    )


@query()
def _q_domain_mix(spark, sf_dir):
    """Per-source sampling rates hitting a 50k-token budget under a
    uniform target mix: rate = min(1, budget*w/tokens). The one aggregate
    is n_sources rows; applying the rates stays shuffle-free."""
    return domain_mix(_docs(spark, sf_dir), budget_tokens=50_000)


@query(bench=True)
def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word 3-gram with the
    held-out set (doc_id % 37 == 0) are flagged. Benchmark gram set is
    broadcast; the corpus is scanned once with no corpus-side shuffle
    before the per-doc hit aggregate."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    return decontaminate(corpus, bench)


# designed nested-loop join: bm25_topk's 1-row broadcast corpus stats
# (N, avgdl)
@query(bench=True, designed_bnl=True)
def _q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (operators/invindex.py bm25_topk —
    Robertson/Sparck Jones, Lucene's positive idf variant) over the
    documents corpus PLUS two planted docs that make the ranking
    falsifiable.

    The query asks for ["needlehaystackzz", "spark"]: the first term
    exists ONLY in the two planted docs (df=2 against ~N corpus docs →
    dominant idf), the second is a common corpus term. Planted doc -1
    carries the rare term 5x, doc -2 carries it 3x at the SAME doc
    length. Invariants riding every row, each a window aggregate over
    the k returned rows: ``planted_top_ok`` — doc -1
    strictly outscores every other doc (rare-term idf dominance);
    ``mono_ok`` — doc -1 strictly outscores doc -2 (tf monotonicity at
    fixed dl and idf); ``pos_ok`` — all returned scores are positive
    (the +1-inside-log idf can never go negative). Rows-only (ln is
    not cross-engine bit-stable; the discrete RANKING is the checked
    artifact).
    """
    planted = spark.createDataFrame(
        [
            (-1, "needlehaystackzz " * 5 + "pad " * 10),
            (-2, "needlehaystackzz " * 3 + "pad " * 12),
        ],
        "doc_id long, text string",
    )
    corpus = (
        _docs(spark, sf_dir).select("doc_id", "text").unionByName(planted)
    )
    top = bm25_topk(corpus, ["needlehaystackzz", "spark"], k=10)
    w = Window.partitionBy()
    s1 = F.max(F.when(F.col("doc_id") == -1, F.col("score"))).over(w)
    return top.select(
        "*",
        (s1 > F.max(F.when(F.col("doc_id") != -1, F.col("score"))).over(w))
        .alias("planted_top_ok"),
        (s1 > F.max(F.when(F.col("doc_id") == -2, F.col("score"))).over(w))
        .alias("mono_ok"),
        (F.min("score").over(w) > 0.0).alias("pos_ok"),
    ).orderBy(F.desc("score"), "doc_id")


@query(bench=True)
def _q_boolean_retrieval(spark, sf_dir):
    """Conjunctive boolean retrieval (operators/invindex.py
    boolean_and): documents containing ALL of {spark, data, join} with
    per-doc term stats — the posting-intersection primitive. Map-side
    term filter, two hash aggregates, all exact integers;
    DuckDB-oracle-checked.
    """
    return boolean_and(_docs(spark, sf_dir)).orderBy("doc_id")


@query(bench=True)
def _q_inverted_index(spark, sf_dir):
    """Blocked inverted-index build (operators/invindex.py): per term,
    document frequency, collection frequency, and the posting list as
    delta-encoded doc-id gaps (Lucene's d-gap layout), sharded into
    64-posting blocks so no output row is ever unbounded — the
    stopword-posting-list OOM guard that matters at 10^9 docs.

    Fully DuckDB-oracle-checked bit-for-bit: the index is all integers
    and strings (gap/tf lists ship comma-joined in ascending doc-id
    order; identical regex tokenization `[^a-z0-9]+` both engines).
    """
    return inverted_index(_docs(spark, sf_dir), block_size=64).orderBy(
        "term", "block_id"
    )


@query(bench=True)
def _q_pii_redact(spark, sf_dir):
    """PII redaction (email/IPv4/phone -> typed placeholders) with
    per-category counts. The synthetic corpus has no organic PII, so the
    query PLANTS deterministic doc_id-derived PII in both engines first —
    the redaction regexes (common Java-regex/RE2 subset) then have real
    spans to find. Pure JVM regexp chain, zero shuffles."""
    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" u"), d.cast("string"), F.lit("@example.com 10."),
            (d % 200).cast("string"), F.lit(".0."),
            (d % 250).cast("string"), F.lit(" +1 (555) 010-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_pii(planted)


@query()
def _q_strip_html(spark, sf_dir):
    """HTML boilerplate strip + entity unescape + whitespace collapse
    (tags planted deterministically — see _q_pii_redact)."""
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("<p class=\"x\">"), F.col("text"),
            F.lit("</p> &amp; <a href=\"y\">link &lt;here&gt;</a>"),
        ).alias("text"),
    )
    return strip_html(planted)


@query(bench=True)
def _q_doc_chunks(spark, sf_dir):
    """Fixed-length overlapping character chunking (textclean.py
    chunk_documents) — the context-window prep step of a training
    pipeline: chunk i covers [i*350, i*350+400), consecutive chunks
    overlap by 50 chars, empty docs produce no chunks. Pure JVM
    (sequence + posexplode + substring, no shuffle); the DuckDB oracle is
    the equivalent lateral generate_series, so every chunk boundary and
    chunk text is value-checked cross-engine."""
    return chunk_documents(
        _docs(spark, sf_dir), chunk_len=400, stride=350
    )


# designed nested-loop join: 1-row broadcast (n_docs_in, tok_in)
# coverage-invariant join
@query(bench=True, designed_bnl=True)
def _q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing (sampling.py pack_sequences): every doc
    assigned to a 512-token training bin, metadata-only (16 bytes/doc
    rides the shuffle, text never moves), per-group first-fit-decreasing
    so the result is deterministic under any physical partitioning.
    Rows-only with the packing CONTRACT riding as invariants:
    ``budget_ok`` = every multi-doc bin's token sum <= 512 (oversize docs
    sit alone, never truncated), ``coverage_ok`` = every input doc
    packed exactly once with total tokens conserved, ``efficiency_ok`` =
    total_tokens / (n_bins * budget) >= 0.5 (FFD fills bins; a packer
    that opened a bin per doc would score ~0.11 on this corpus)."""
    budget = 512
    docs = _docs(spark, sf_dir)
    packed = pack_sequences(docs, budget=budget, n_parts=8)
    w = Window.partitionBy("bin_id")
    w_all = Window.partitionBy(F.lit(1))
    expect = docs.agg(
        F.count(F.lit(1)).alias("n_docs_in"),
        F.sum(token_count()).alias("tok_in"),
    )
    return (
        packed.withColumn("bin_tokens", F.sum("n_tokens").over(w))
        .withColumn("bin_docs", F.count(F.lit(1)).over(w))
        .crossJoin(F.broadcast(expect))
        .select(
            "doc_id",
            "n_tokens",
            "bin_id",
            "bin_tokens",
            (
                (F.col("bin_tokens") <= budget) | (F.col("bin_docs") == 1)
            ).alias("budget_ok"),
            (
                (F.count(F.lit(1)).over(w_all) == F.col("n_docs_in"))
                & (F.sum("n_tokens").over(w_all) == F.col("tok_in"))
            ).alias("coverage_ok"),
            (
                F.sum("n_tokens").over(w_all)
                >= 0.5
                * budget
                * F.size(F.collect_set("bin_id").over(w_all))
            ).alias("efficiency_ok"),
        )
        .orderBy("doc_id")
    )


@query(bench=True)
def _q_repetition_ratio(spark, sf_dir):
    """Intra-doc 3-gram repetition quality signal: repeated-gram fraction
    and single-most-frequent-gram share; one explode + one count
    aggregate + one per-doc rollup."""
    out = repetition_ratio(_docs(spark, sf_dir))
    return out.select(
        F.col("id").alias("doc_id"),
        "n_grams",
        "n_distinct",
        F.round("dup_ratio", 6).alias("dup_ratio"),
        F.round("top_gram_frac", 6).alias("top_gram_frac"),
    )


@query()
def _q_quality_score(spark, sf_dir):
    """Text-quality scoring + language ID via the textstats operator (every
    column oracle-checked, including the composite quality score and the
    greatest-struct language tie-breaking)."""
    out = doc_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_chars", "n_words", "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
        "lang_guess", "fingerprint",
    )


# designed nested-loop join: 1-row broadcast fixture-accuracy invariant join
# (no equi-key exists)
@query(bench=True, designed_bnl=True)
def _q_lang_id(spark, sf_dir):
    """Real n-gram language ID (operators/langid.py — naive-Bayes byte
    trigrams, Cavnar-Trenkle 1994 profile method, one Arrow kernel, no
    shuffle): classifies every sf document, with a labeled HELD-OUT
    fixture (50 sentences x 10 languages, disjoint from the training
    seeds) riding along — ``lang_acc_ok`` asserts fixture accuracy >= 0.9
    on every output row, so the rows-only gate cannot pass on a broken
    classifier. Replaces the round-4 six-marker-word `lang_marker_hits`
    toy as the production lang-ID path."""
    docs = lang_id_ngram(_docs(spark, sf_dir))
    fix = spark.createDataFrame(
        held_out_fixture(), "row_id int, true_lang string, text string"
    )
    acc = (
        lang_id_ngram(fix, id_col="row_id")
        .join(fix.select("row_id", "true_lang"), "row_id")
        .agg(
            F.avg(
                (F.col("lang") == F.col("true_lang")).cast("double")
            ).alias("acc")
        )
    )
    # 1-row broadcast invariant join (allowlisted tiny-BNL pattern)
    return docs.crossJoin(F.broadcast(acc)).select(
        "doc_id",
        "lang",
        "margin",
        F.round("acc", 4).alias("fixture_acc"),
        (F.col("acc") >= 0.9).alias("lang_acc_ok"),
    )


@query(bench=True)
def _q_trigram_quality(spark, sf_dir):
    """Character-trigram corpus-familiarity statistics
    (operators/charlm.py trigram_quality) — the integer-exact core of
    the CCNet/KenLM quality-filter family: per document, total trigram
    occurrences, corpus-rare occurrences (profile frequency <= 2), and
    the exact sum of corpus frequencies over its occurrences. The
    profile is self-built from the scored corpus (first-pass mode) and
    is charset-bounded (<= |alphabet|^3 rows — broadcast side forever),
    so the plan is one broadcast-hash join + two hash aggregates. A
    planted 2-char document exercises the empty-trigram path in both
    engines (it must appear with all-zero statistics).
    """
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = spark.createDataFrame(
        [(20_000_000, "ab")], "doc_id bigint, text string"
    )
    return trigram_quality(
        docs.unionByName(planted)
    ).orderBy("doc_id")


@query(bench=True)
def _q_edit_distance_pairs(spark, sf_dir):
    """Prefix-blocked exact Levenshtein near-dup pairs
    (operators/dedup.py edit_distance_pairs) — the ORDERED-corruption
    detector next to the set-based family (Jaccard/MinHash/SimHash see
    bags; edit distance sees character order — OCR noise, truncated
    tails, template field edits). Ten planted tail-perturbed copies
    (doc_id + 20,000,000, normalized text + ' zq' => distance exactly
    3 from their originals) must surface through the block join, the
    length lower-bound prune, and the DP itself; natural exact-dup
    groups surface at distance 0. Blocking is a hash equi-join on the
    24-char normalized prefix (never all-pairs; per-block fan-out is
    quadratic in near-dup family size only). Both engines run the
    identical blocking + levenshtein — integer-exact. (Spark counts
    characters, DuckDB bytes; the gate corpus is verified ASCII-only.)
    """
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = (
        docs.orderBy("doc_id").limit(10)
        .select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zq")).alias("text"),
        )
    )
    return (
        edit_distance_pairs(docs.unionByName(planted))
        .select(
            "id_a",
            "id_b",
            F.col("dist").cast("bigint").alias("dist"),
            F.col("len_a").cast("bigint").alias("len_a"),
            F.col("len_b").cast("bigint").alias("len_b"),
        )
        .orderBy("id_a", "id_b")
    )


@query(bench=True)
def _q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 — public
    method): score every document by how much its unigram distribution
    looks like a TARGET domain (sources src0-src3) versus the raw
    corpus — the weights that importance-resample a web crawl toward a
    high-quality domain. weight(doc) = sum over tokens of
    ln(p_target(w) / p_raw(w)), add-1 smoothed over the joint vocab.

    ORACLE-CHECKED end-to-end by the integer-sufficient-statistics
    discipline (the trigram_quality/winsorize pattern): the per-word
    log-ratio is quantized ONCE to micro-units (the ln argument is an
    identical left-to-right integer-division expression in both
    engines, so it is bit-identical; a 1-ulp libm ln divergence would
    have to land within ~1e-10 of a half-micro boundary to matter),
    and every per-doc weight is then an EXACT order-free BIGINT dot
    product — no float aggregation anywhere.

    Scale shape: token counts are two hash aggregates over one corpus
    scan; the log-ratio table is vocabulary-sized (Zipf-bounded) and
    broadcast back onto the per-doc counts — the corpus itself never
    joins or shuffles by anything but (doc_id, word). In production
    the vocab is hashed into a fixed bucket table (same plan shape).
    """
    targets = ("src0", "src1", "src2", "src3")
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(TOKEN_REGEX), F.lit(0)
            )
        ).alias("w"),
    )
    raw = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n_r"))
    tgt = (
        tok.filter(F.col("source").isin(*targets))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    consts = tok.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("source").isin(*targets).cast("long")).alias("n_tgt"),
        F.countDistinct("w").alias("v"),
    ).first()  # three bounded scalars
    n_raw, n_tgt, v = int(consts["n_raw"]), int(consts["n_tgt"]), int(
        consts["v"]
    )
    # identical left-to-right arithmetic in the DuckDB oracle
    arg = (
        (F.coalesce(F.col("n_t"), F.lit(0)) + 1)
        / F.lit(n_tgt + v)
        * F.lit(n_raw + v)
        / (F.col("n_r") + 1)
    )
    lr = raw.join(tgt, "w", "left").select(
        "w",
        F.round(F.log(arg) * 1e6).cast("bigint").alias("lr_micro"),
    )
    dw = tok.groupBy("doc_id", "source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        dw.join(F.broadcast(lr), "w")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_terms"),
            F.sum(F.col("c") * F.col("lr_micro")).alias("weight_micro"),
        )
        .select(
            "doc_id",
            "n_terms",
            "weight_micro",
            F.col("source").isin(*targets).alias("is_target"),
        )
    )


@query(bench=True)
def _q_bpe_vocab(spark, sf_dir):
    """Distributed BPE tokenizer training over the documents corpus
    (operators/bpe.py — Sennrich et al. 2016): ONE corpus scan builds
    the Zipf-bounded word-frequency table; each merge round is one
    Arrow pass + hash aggregate over that compact table and one
    collected argmax row under the engine-independent total order
    (count desc, pair lexicographic). Rows-only; invariants riding
    every row:

    ``dual_path_ok``     the distributed trainer's full merge list
                         (pairs AND counts, in rank order) equals a
                         pure-Python BPE run on the collected word-
                         count dict — collected ONLY for this gate
                         check (the table is corpus-vocabulary-sized;
                         at 10^7+ words production trusts the exact
                         bookkeeping instead);
    ``bookkeeping_ok``   per round, applying merge (a,b) with pair
                         count f shrank the total weighted symbol
                         count by EXACTLY f (leftmost-greedy counts =
                         replacements performed — a miscounted pair
                         table cannot balance these books);
    ``encode_ok``        re-tokenizing the corpus with the learned
                         merges never exceeds the character count and
                         strictly compresses the corpus total.

    Output: the learned merge table (rank, pair, merged symbol, count).
    """
    docs = _docs(spark, sf_dir)
    # size-gated iteration confs (same rationale as _q_pagerank): the
    # 24 merge rounds are one tiny job each over the Zipf-bounded word
    # table — AQE re-planning per round is pure round-trip overhead at
    # gate scale, and real corpora (gate: 10M docs) keep AQE on
    with aqe_off(spark, when=docs.count() <= 10_000_000):
        fit = bpe_train(docs, n_merges=24, verify=True)
        # dual-path gate reads the trainer's own checkpointed word table
        # (same rows word_counts(docs) would produce — it IS that
        # aggregate, materialized once) instead of a second corpus scan
        wc = {
            r["word"]: r["count"]
            for r in fit["word_counts_df"].collect()
        }
        ref = bpe_train_reference(wc, 24, 2)
        dual_ok = fit["merges"] == ref
        enc = bpe_encode(docs, fit["merges"]).agg(
            F.sum(
                (F.col("n_tokens") > F.col("n_chars")).cast("long")
            ).alias("_n_over"),
            F.sum("n_tokens").alias("_tok"),
            F.sum("n_chars").alias("_chr"),
        ).first()
    encode_ok = enc["_n_over"] == 0 and enc["_tok"] < enc["_chr"]
    rows = [
        (i + 1, a, b, a + b, f)
        for i, (a, b, f) in enumerate(fit["merges"])
    ]
    return spark.createDataFrame(
        rows,
        "rank int, left string, right string, merged string, "
        "pair_count long",
    ).select(
        "rank",
        "left",
        "right",
        "merged",
        "pair_count",
        F.lit(bool(dual_ok)).alias("dual_path_ok"),
        F.lit(bool(fit["bookkeeping_ok"])).alias("bookkeeping_ok"),
        F.lit(bool(encode_ok)).alias("encode_ok"),
    ).orderBy("rank")


@query()
def _q_text_invariant(spark, sf_dir):
    """Per-turn text-equality invariant (BASELINE.json input_hint): raw
    snapshot vs derived lineage under stable (conv_id, turn_idx) ordering;
    must return n_mismatch=0 over all turns."""
    tx = transcripts_df(spark, 200, seed=42)
    path = scratch_dir("invariant_snapshot")
    tx.write.mode("overwrite").parquet(path)
    derived = spark.read.parquet(path)
    joined = tx.alias("a").join(
        derived.alias("b"), ["conv_id", "turn_idx"], "full_outer"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(
            F.when(
                F.sha2(F.col("a.text"), 256) != F.sha2(F.col("b.text"), 256), 1
            )
            .when(F.col("a.text").isNull() | F.col("b.text").isNull(), 1)
            .otherwise(0)
        ).alias("n_mismatch"),
    ).select(
        "n_turns",
        "n_mismatch",
        ((F.col("n_turns") > 0) & (F.col("n_mismatch") == 0)).alias(
            "invariant_ok"
        ),
    )


@query(bench=True)
def _q_ngram_jaccard_bounded(spark, sf_dir):
    """The 100-TB Jaccard path: exact similarity computed ONLY on
    MinHash-LSH candidates (no shingle self-join). The unbounded exact
    self-join (``ngram_jaccard``, oracle-checked above) is its pytest
    oracle; this variant is what a real pipeline runs. Threshold 0.7 is a
    realistic dedup operating point where the auto-derived banding (16x4,
    recall ~0.99) keeps candidates sparse; asking for j>=0.1 pairs forces
    1-row bands and a near-all-pairs candidate set — inherent to the
    request, not this operator (round-2 advisory)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # planted sentinels (self-verification): 10 exact copies at
    # doc_id+10,000,000 — LSH banding, the candidate join, and the exact
    # hashed-set verification must all agree these are jaccard-1.0 pairs;
    # a dropped band, broken bucket join, or wrong set arithmetic loses
    # them. (Bounded == exact equality at the operating threshold is
    # additionally pinned in tests/test_dedup_similarity.py.)
    planted = (
        docs.orderBy("doc_id").limit(10)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    pairs = ngram_jaccard_pairs_bounded(
        docs.unionByName(planted), threshold=0.7
    )
    w = Window.partitionBy()
    planted_hits = F.sum(
        (
            (F.col("id_b") - F.col("id_a") == 10_000_000)
            & (F.col("id_a") < 10_000_000)
            & (F.col("jaccard") > 0.999)
        ).cast("long")
    ).over(w)
    return pairs.select(
        "id_a",
        "id_b",
        F.round("jaccard", 6).alias("jaccard"),
        (planted_hits == 10).alias("invariant_ok"),
    )


@query(bench=True)
def _q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs, now SELF-VERIFYING (round-3 verdict):
    every reported pair carries the exact hashed-shingle Jaccard computed
    through an INDEPENDENT path (raw xxhash64 shingle sets +
    ``array_intersect``, no permutations) next to the 64-permutation
    estimate, and ``estimate_ok`` = |est - exact| <= 0.25. The estimator is
    Binomial(64, j)/64 (sigma <= 1/16), so 0.25 is a 4-sigma bound — garbage
    signatures or a broken band join cannot satisfy it, while a correct
    implementation fails with probability < 1e-4 per pair."""
    docs = _docs(spark, sf_dir)
    # signature table materialized once (the production shape — see
    # ngram_jaccard_pairs_bounded): it feeds the band join AND both
    # sides of the estimate join, which otherwise re-ran the shingle
    # explode + 64-min aggregate (the operator's dominant stage) per
    # reference
    sigs = dedup.minhash_signatures(docs).localCheckpoint()
    pairs = dedup.minhash_lsh_pairs(sigs)
    est = dedup.minhash_jaccard_estimate(sigs, pairs).filter(
        F.col("jaccard_est") >= 0.5
    )
    sets = dedup.shingled(docs).select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("hs")
    ).localCheckpoint()  # both exact-verification sides
    a = sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    exact = inter / (F.size("hs_a") + F.size("hs_b") - inter)
    return (
        est.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard_est",
            F.round(exact, 6).alias("jaccard_exact"),
            (F.abs(F.col("jaccard_est") - exact) <= 0.25).alias("estimate_ok"),
        )
    )


@query(bench=True)
def _q_simhash_near(spark, sf_dir):
    """SimHash near-dup pairs, now SELF-VERIFYING via planted sentinels
    (round-3 verdict): the corpus is augmented with (a) 10 EXACT copies of
    the 10 lowest-id docs at doc_id+10,000,000 — a correct simhash must
    report every (orig, copy) pair at hamming 0 — and (b) 10 synthetic docs
    at doc_id>=20,000,000 with pairwise-disjoint vocabularies — a correct
    64-bit simhash leaves them ~32 bits apart, so ANY pair among them at
    hamming<=8 is a broken kernel (a constant/garbage hash collapses all
    distances to 0 and fails exactly here). ``invariant_ok`` = (all 10
    planted dup pairs found at hamming 0) AND (no planted-random pair
    reported), window-aggregated over the single result lineage."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dup = (
        docs.orderBy("doc_id").limit(10)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    rand = spark.range(10).select(
        (F.col("id") + 20_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(39)),
                lambda j: F.concat(
                    F.lit("zq"),
                    F.col("id").cast("string"),
                    F.lit("w"),
                    j.cast("string"),
                ),
            ),
        ).alias("text"),
    )
    sh = dedup.simhash(docs.unionByName(dup).unionByName(rand))
    pairs = dedup.simhash_near_pairs(sh, max_hamming=8)
    w = Window.partitionBy()
    planted_hits = F.sum(
        (
            (F.col("id_b") - F.col("id_a") == 10_000_000)
            & (F.col("id_a") < 10_000_000)
            & (F.col("hamming") == 0)
        ).cast("long")
    ).over(w)
    rand_bad = F.sum((F.col("id_a") >= 20_000_000).cast("long")).over(w)
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        ((planted_hits == 10) & (rand_bad == 0)).alias("invariant_ok"),
    )
