"""Text-analysis operators for training-data pipelines (north-star surface
beyond the reference; BASELINE.json: "add the LLM-data-pipeline operators").

All operators are pure built-in-function column expressions — no UDFs, no
shuffles, fully pipelined inside whole-stage codegen next to the Parquet
scan.  At 100 TB each of these is a map-only pass: cost = one scan,
parallelism = input partitions, no data movement at all.

Documents here are whitespace-tokenized (the driver corpus is single-space
separated); every expression has an exact DuckDB-SQL twin used by the
correctness oracle (see __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minivectordb_spark.operators.hashing import FNV_K, MERSENNE_P, md5i32

# Deterministic per-language stopword profiles for the language-ID heuristic.
# Real pipelines would use character-n-gram profiles; the operator shape
# (per-language token-overlap score -> argmax with fixed priority) is the
# same.  Lists are module constants so the oracle SQL inlines identical sets.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "fast", "slow", "big", "small"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "no"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"),
    "fr": ("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"),
    "zh": ("de5", "shi4", "bu4", "le5", "ren2", "wo3", "zai4", "you3", "ta1", "zhe4"),
}
LANG_PRIORITY = ("en", "es", "de", "fr", "zh")  # deterministic argmax tiebreak

EN_STOPWORDS = LANG_PROFILES["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty text -> empty array (not [''])."""
    return F.when(F.length(text) == 0, F.array().cast("array<string>")).otherwise(
        F.split(text, " ")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


BPE_ISH_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-style token count via a BPE-ish regex (letter runs, digit
    runs, single punctuation) — the cheap proxy for tokenizer-budget
    estimates in training-data pipelines.  Pure regexp_extract_all, JVM-side."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_REGEX), F.lit(0)))


def type_token_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens (0 for empty)."""
    toks = tokens(text)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double")
    )


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(text)
    stops = F.size(F.filter(toks, _isin_pred(tuple(stopwords))))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        stops.cast("double") / F.size(toks).cast("double")
    )


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks).cast("double")
    )


def quality_score(text: Column) -> Column:
    """Deterministic document-quality heuristic in [0, 1]:
    0.4 * min(1, tokens/100) + 0.3 * type-token-ratio + 0.3 * stopword signal
    (stopword presence indicates natural language; capped at 3x ratio)."""
    length_term = F.least(F.lit(1.0), token_count(text).cast("double") / F.lit(100.0))
    stop_term = F.least(F.lit(1.0), F.lit(3.0) * stopword_ratio(text))
    return F.lit(0.4) * length_term + F.lit(0.3) * type_token_ratio(text) + F.lit(0.3) * stop_term


def _isin_pred(words: tuple[str, ...]):
    # factory, NOT a default-arg lambda: PySpark derives higher-order-function
    # arity from the Python signature, so `lambda t, w=words:` would bind as
    # a two-argument (value, index) lambda
    return lambda t: t.isin(*words)


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, _isin_pred(words)))
        for lang, words in LANG_PROFILES.items()
    }


def predicted_lang(text: Column) -> Column:
    """Argmax over language profiles with the fixed LANG_PRIORITY tiebreak
    (earlier language wins ties) — expressed as a nested CASE so the oracle
    SQL is structurally identical."""
    scores = lang_scores(text)
    expr = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        later = [scores[l2] for l2 in LANG_PRIORITY[LANG_PRIORITY.index(lang) + 1 :]]
        cond = None
        for o in later:
            c = scores[lang] >= o
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column) -> Column:
    """Order-aware rolling document fingerprint in [0, P):

        fp = SUM_i ( (h(tok_i) mod P) * ((i+1)*K mod P) mod P ) mod P

    Position-weighted token hashes — reorderings change the fingerprint,
    unlike a bag-of-words hash.  Pure column expressions (transform with
    index + aggregate), identical arithmetic in the DuckDB oracle.  NOTE:
    Spark's transform index is 0-based, DuckDB's is 1-based — both sides
    use weight (pos1 * K) mod P where pos1 is the 1-based position.
    """
    toks = tokens(text)
    terms = F.transform(
        toks,
        lambda t, i: ((md5i32(t) % MERSENNE_P) * (((i + 1) * FNV_K) % MERSENNE_P))
        % MERSENNE_P,
    )
    return (
        F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x) % MERSENNE_P
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats frame (the headline text-analysis operator).

    The token array is staged through one Generate-node barrier so the
    split happens once per row; every stat then reads the materialized
    column (each column expression would otherwise re-inline the split —
    see operators/util.py)."""
    from minivectordb_spark.operators.util import materialize

    staged = materialize(df, tokens(F.col(text_col)), "__toks", [id_col, text_col])
    toks = F.col("__toks")
    n = F.size(toks)
    nz = n > 0
    ttr = F.when(~nz, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    )
    stops = F.size(F.filter(toks, _isin_pred(EN_STOPWORDS)))
    stop_r = F.when(~nz, F.lit(0.0)).otherwise(stops.cast("double") / n.cast("double"))
    tot_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    atl = F.when(~nz, F.lit(0.0)).otherwise(tot_len.cast("double") / n.cast("double"))
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n.cast("double") / F.lit(100.0))
        + F.lit(0.3) * ttr
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(3.0) * stop_r)
    )
    return staged.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.length(F.col(text_col)).alias("n_chars_actual"),
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_r, 6).alias("stop_ratio"),
        F.round(atl, 6).alias("avg_tok_len"),
        F.round(quality, 6).alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Language-ID over a staged token column; the per-language scores are
    materialized as one int array so the nested-CASE argmax reads cheap
    element_at references instead of re-filtering tokens per comparison."""
    from minivectordb_spark.operators.util import materialize

    staged = materialize(df, tokens(F.col(text_col)), "__toks", [id_col])
    toks = F.col("__toks")
    scores_arr = F.array(
        *[
            F.size(F.filter(toks, _isin_pred(LANG_PROFILES[lang]))).cast("long")
            for lang in LANG_PRIORITY
        ]
    )
    scored = materialize(staged, scores_arr, "__s", [id_col])
    s = {lang: F.element_at(F.col("__s"), i + 1) for i, lang in enumerate(LANG_PRIORITY)}
    expr = F.lit(LANG_PRIORITY[-1])
    for idx in range(len(LANG_PRIORITY) - 2, -1, -1):
        lang = LANG_PRIORITY[idx]
        cond = None
        for l2 in LANG_PRIORITY[idx + 1 :]:
            c = s[lang] >= s[l2]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return scored.select(F.col(id_col), expr.alias("pred_lang"))


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fp"),
        F.md5(F.col(text_col)).alias("content_md5"),
    )


def source_per_doc(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-document stage shared by ``source_report`` and the streaming
    ``stream_source_stats_ingest`` gate: (source, __h md5, __toks_n,
    __chars, __q DECIMAL(18,6)) — all map-side expressions over one
    staged token array, quality frozen to 6-dp decimal so any downstream
    sum is exact and engine-portable."""
    from minivectordb_spark.operators.util import materialize

    staged = materialize(df, tokens(F.col(text_col)), "__toks", [source_col, text_col])
    toks = F.col("__toks")
    n = F.size(toks)
    nz = n > 0
    ttr = F.when(~nz, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    )
    stop_r = F.when(~nz, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, _isin_pred(EN_STOPWORDS))).cast("double")
        / n.cast("double")
    )
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n.cast("double") / F.lit(100.0))
        + F.lit(0.3) * ttr
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(3.0) * stop_r)
    )
    return staged.select(
        F.col(source_col).alias("source"),
        F.md5(F.col(text_col)).alias("__h"),
        n.cast("long").alias("__toks_n"),
        F.length(F.col(text_col)).cast("long").alias("__chars"),
        F.round(quality, 6).cast("decimal(18,6)").alias("__q"),
    )


def source_report(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source corpus observability rollup (dataset-card shape): doc
    count, exact-duplicate rate (1 - distinct md5(text) / docs), token and
    char volume, mean quality score — the per-domain report a pipeline run
    prints after each ingest wave.

    Scale: every per-document expression is map-side; the distinct-text
    count is a two-phase hash aggregate keyed (source, md5), so the
    shuffle moves one row per (source, distinct text) and then one row
    per source — never the corpus.  Mean quality is summed as
    DECIMAL(18,6) over the per-doc 6-dp-rounded scores, so the aggregate
    is exact and engine-portable (float summation order never enters);
    dup_rate and avg_quality are then rounded on the EXACT RATIONAL via
    ``_exact_avg_micros`` — a float ``round(a/b, 6)`` legitimately flips
    between engines whenever the rational's 7th decimal digit is exactly
    5 (the bigram_lm r7 diagnosis), and a dataset-card number must be
    reproducible at any corpus size.
    """
    agg = source_per_doc(df, text_col, source_col).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("__h").alias("n_distinct_texts"),
        F.sum("__toks_n").alias("total_tokens"),
        F.sum("__chars").alias("total_chars"),
        F.sum("__q").alias("__qsum"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct_texts",
        "total_tokens",
        "total_chars",
        _exact_avg_micros("(n_docs - n_distinct_texts)", "n_docs").alias(
            "dup_rate"
        ),
        _exact_avg_micros("__qsum", "n_docs").alias("avg_quality"),
    )


def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Unigram-LM document scoring — the perplexity-style quality filter of
    CCNet (Wenzek et al., arXiv:1911.00359; their 5-gram KenLM, here the
    unigram LM fit on the corpus itself, which needs no external model):
    score each doc by the mean token log-probability under corpus-wide token
    frequencies.  Outlier-low ``avg_logp`` = rare-token soup (boilerplate,
    code dumps, mojibake); outlier-high = degenerate repetition — training
    pipelines keep the middle band.  Returns ``(id_col, n_tokens,
    avg_logp)``; empty documents carry no tokens and drop out (their score
    is undefined).

    Numerics: per-token ``logp = round(ln(c / T), 6)`` is frozen to
    DECIMAL(18,6) BEFORE the per-doc sum, so the aggregate is exact and
    order-independent — the engine-parity trick tpch_q1 uses — and the
    float round happens once per VOCAB ENTRY, not once per occurrence.
    The final per-doc average is rounded half-away-from-zero at 6dp on
    the EXACT rational (integer-micro arithmetic, ``_exact_avg_micros``)
    — a float ``round(sum/n, 6)`` sits on a .5e-6 boundary whenever n
    divides the 6dp sum into a 7th decimal digit of 5, where engines'
    double-rounding paths legitimately disagree (measured: 2 docs at
    sf0.1 flipped between Spark's exact-BigDecimal HALF_UP and DuckDB's
    scaled ``std::round``).  Exact integer division has no such boundary.

    Plan: one explode + token-keyed groupBy builds the vocab (the same
    combiner-reduced shuffle as ``prep.vocabulary``); the corpus total is
    a 1-row agg cross-joined in (broadcast, free); the per-doc pass then
    probes the vocab and partial-aggregates on the id.  With
    ``broadcast_vocab`` (default) the probe join is map-only — a natural-
    language vocab is millions of entries at any corpus size (Heaps' law),
    far under broadcast limits; set False for a shuffle join if scoring
    adversarial token soups.  Total: two shuffles (vocab build, per-doc
    agg), both with map-side partial aggregation."""
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    vocab = ex.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("T"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(F.log(F.col("c").cast("double") / F.col("T").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("logp"),
    )
    if broadcast_vocab:
        lp = F.broadcast(lp)
    agg = (
        ex.join(lp, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logp").alias("__sum"),
        )
    )
    return agg.select(
        F.col(id_col),
        F.col("n_tokens"),
        _exact_avg_micros("__sum", "n_tokens").alias("avg_logp"),
    )


def _exact_avg_micros(sum_name: str, n_name: str):
    """round-half-away-from-zero of ``sum/n`` at 6 decimals, computed on
    the EXACT rational: the DECIMAL(·,6) sum scales to integer micros
    losslessly, and ``(2*|micro| + n) div (2*n)`` adds the half before an
    integer (truncating, nonnegative-operand) division — no double ever
    carries the quotient, so the result is bit-identical on every engine
    (the float-division form differs between engines exactly when sum/n
    lands on a .5e-6 boundary).  Division is applied to nonnegative
    operands only (sign split out), where trunc == floor on every SQL
    dialect."""
    mi = f"CAST(({sum_name}) * 1000000 AS BIGINT)"
    pos = f"((({mi}) * 2 + {n_name}) div ({n_name} * 2))"
    neg = f"(-((((-({mi})) * 2) + {n_name}) div ({n_name} * 2)))"
    return F.expr(
        f"CAST((CASE WHEN {mi} >= 0 THEN {pos} ELSE {neg} END) AS DOUBLE) / 1000000.0"
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Within-document repetition stats — the Gopher repetition rules
    (Rae et al., arXiv:2112.11446, Table A1): documents dominated by
    duplicate n-grams are degenerate (keyword stuffing, boilerplate
    loops, decoding failures) and are filtered by thresholds on exactly
    these fractions.  Returns per doc:

    - ``n_ngrams``: total (overlapping) n-gram occurrences
    - ``dup_ngram_frac``: 1 - distinct/total — mass in repeated n-grams
    - ``top_ngram_frac``: occurrences of the single most frequent n-gram
      over total — the "most common n-gram" rule

    Documents shorter than ``n`` tokens have no n-grams and drop out.

    Plan: one explode of the staged n-gram array, one (doc, gram)
    groupBy, one doc groupBy — both combiner-reduced; fractions computed
    from the counts, no window.  Map-only otherwise; exact SQL twin."""
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.plans.width import ensure_parallelism

    staged = materialize(
        ensure_parallelism(df), tokens(F.col(text_col)), "__toks", [id_col]
    )
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = materialize(staged, grams, "__g", [id_col]).select(
        F.col(id_col), F.explode("__g").alias("gram")
    )
    per_gram = ex.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    agg = per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_ngrams"),
        F.count(F.lit(1)).alias("__distinct"),
        F.max("c").alias("__top"),
    )
    # exact-rational 6dp rounding (_exact_avg_micros): count ratios land
    # on .5e-6 boundaries whenever the denominator divides the numerator
    # into a trailing-5 seventh digit — integer micros have no boundary
    return agg.select(
        F.col(id_col),
        "n_ngrams",
        _exact_avg_micros("(n_ngrams - __distinct)", "n_ngrams").alias(
            "dup_ngram_frac"
        ),
        _exact_avg_micros("__top", "n_ngrams").alias("top_ngram_frac"),
    )


# ---------------- interpolated bigram LM (pruned) ----------------

BIGRAM_LM_LAMBDA = 0.75  # exact in binary, so 1-lambda is too (engine parity)
BIGRAM_LM_TOP = 50_000


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = BIGRAM_LM_LAMBDA,
    top_bigrams: int = BIGRAM_LM_TOP,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Interpolated-bigram LM document scoring — one Markov order closer to
    CCNet's 5-gram KenLM (Wenzek et al., arXiv:1911.00359) than the
    unigram ``lm_score``: each position i >= 2 scores
    ``ln(lam * p_bi(w_i | w_{i-1}) + (1-lam) * p_uni(w_i))`` under
    corpus-fit counts, averaged per doc.  Returns ``(id_col, n_bigrams,
    avg_logp)``; docs with < 2 tokens have no bigram positions and drop
    out.  Like a count-pruned KenLM, the bigram table keeps only the
    ``top_bigrams`` most frequent entries (deterministic count-desc,
    key-asc order); a pruned-away bigram backs off to the unigram term
    alone — so the broadcast model is BOUNDED BY CONSTRUCTION at any
    corpus size, the same reason production KenLMs ship pruned.

    Numerics: each position's log term is rounded to 6dp and frozen to
    DECIMAL(18,6) before the per-doc sum (exact, order-independent); the
    probabilities themselves stay exact IEEE divisions (never frozen to
    fixed decimals — linear probs underflow fixed scales at corpus sizes
    where logs do not).  The final per-doc average uses the exact
    integer-micro rounding of ``_exact_avg_micros`` (see ``lm_score``) —
    ulp-stable across engines at every corpus scale.

    Plan: the staged token pass fans out once per side; three bounded
    aggregates (bigram counts -> top-N prune, context counts derived from
    the BIGRAM TABLE not the corpus, unigram vocab) build broadcast
    tables; the scoring pass is then two map-side broadcast joins plus
    ONE id-keyed partial aggregate — corpus-sized stages are map-only
    throughout, like ``lm_score``.

    The BIGRAM table broadcast is always safe — ``top_bigrams`` caps it
    by construction.  The UNIGRAM table has no such cap: Heaps' law
    bounds a natural-language vocab far under broadcast limits, but a
    web-scale noise vocabulary (mojibake, hashes, token soup) can blow
    it — ``broadcast_vocab=False`` switches the unigram probe to a
    shuffle join (``lm_score``'s escape hatch, same flag)."""
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.plans.width import ensure_parallelism

    staged = materialize(
        ensure_parallelism(df), tokens(F.col(text_col)), "__toks", [id_col]
    )
    tk = F.col("__toks")
    n = F.size(tk)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(tk, 1, n - 1),
            F.slice(tk, 2, n - 1),
            lambda a, b: F.struct(
                F.concat(a, F.lit(" "), b).alias("bg"), b.alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bg:string,w2:string>>"))
    # the staged (toks, pairs) arrays feed THREE passes (bigram counts,
    # unigram vocab, scoring probe) — the lazy checkpoint tokenizes and
    # pairs the corpus once instead of per pass (measured ~20% of the
    # query wall; blocks freed when the caller drops the plan)
    pst = materialize(staged, pairs, "__bi", [id_col, "__toks"]).localCheckpoint(
        eager=False
    )
    ex2 = pst.select(F.col(id_col), F.explode("__bi").alias("p")).select(
        F.col(id_col), F.col("p.bg").alias("bg"), F.col("p.w2").alias("w2")
    )

    # bic feeds BOTH the prune and the context rollup — without the lazy
    # checkpoint each consumer would re-run the corpus bigram pass and its
    # bg-keyed shuffle; the frame itself is vocab-bounded (distinct
    # bigrams), cheap to hold, freed when the caller drops the plan
    bic = (
        ex2.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_bi"))
        .localCheckpoint(eager=False)
    )
    pruned = bic.orderBy(F.col("c_bi").desc(), F.col("bg").asc()).limit(top_bigrams)
    ctx = (
        bic.select(F.split(F.col("bg"), " ").getItem(0).alias("w1"), "c_bi")
        .groupBy("w1")
        .agg(F.sum("c_bi").alias("c_ctx"))
    )
    ptab = (
        pruned.withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(ctx, "w1")
        .select("bg", "c_bi", "c_ctx")
    )

    ex1 = pst.select(F.explode("__toks").alias("token"))
    uni = ex1.groupBy("token").agg(F.count(F.lit(1)).alias("c_uni"))
    tot = uni.agg(F.sum("c_uni").alias("T"))
    unit = uni.crossJoin(F.broadcast(tot))

    utab = unit.select(F.col("token").alias("w2"), "c_uni", "T")
    if broadcast_vocab:
        utab = F.broadcast(utab)
    probe = ex2.join(F.broadcast(ptab), "bg", "left").join(utab, "w2")
    p_bi = F.when(
        F.col("c_bi").isNotNull(),
        F.col("c_bi").cast("double") / F.col("c_ctx").cast("double"),
    ).otherwise(F.lit(0.0))
    p_uni = F.col("c_uni").cast("double") / F.col("T").cast("double")
    term = (
        F.round(F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni), 6)
        .cast("decimal(18,6)")
    )
    agg = (
        probe.select(F.col(id_col), term.alias("__t"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__t").alias("__sum"),
        )
    )
    return agg.select(
        F.col(id_col),
        F.col("n_bigrams"),
        _exact_avg_micros("__sum", "n_bigrams").alias("avg_logp"),
    )


# ---------------- hashed linear quality classifier ----------------

CLASSIFIER_BUCKETS = 256


def default_classifier_weights(
    n_buckets: int = CLASSIFIER_BUCKETS, seed: int = 7
) -> list[float]:
    """Deterministic literal weight vector (the NEARDUP_PLANES pattern):
    a seeded draw both engines inline identically.  Production weights
    come from ``fit_hash_classifier``; the oracle-graded query needs
    literals an external engine can replay."""
    import random

    rng = random.Random(seed)
    return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(n_buckets)]


def hash_classifier_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality classifier over hashed n-gram
    features — the model-based filter shape of DCLM / FineWeb-Edu
    pipelines (Li et al., arXiv:2406.11794), with the embedding table
    collapsed to one weight per hash bucket: score = sigmoid(bias +
    mean over feature occurrences of w[bucket]).  Features are the DSIR
    unigram+bigram hash buckets, so classifier and importance-weight
    paths share one feature definition.  Returns ``(id_col, n_feats,
    score)``; docs with no features drop out.

    Numerics: weights are frozen to integer MICROS (w * 1e6 as BIGINT
    literals), so the per-doc feature sum is exact integer arithmetic in
    both engines (the hash-cosine trick); the single sigmoid at the end
    is one rounded float op per DOC.

    Plan: staged token + bucket arrays, then the weight fold runs inside
    the same map-only pass — NO join and NO shuffle at all (the weight
    vector is an expression literal, bounded by construction).  At
    100 TB this is a pure scan: the cheapest possible model-based
    filter."""
    from pyspark.sql import types as T

    from minivectordb_spark.operators import kernels
    from minivectordb_spark.operators.util import materialize, use_arrow_kernel
    from minivectordb_spark.plans.width import ensure_parallelism

    n_buckets = len(weights)
    wi = [int(round(float(w) * 1_000_000)) for w in weights]
    W = F.array(*[F.lit(x).cast("long") for x in wi])

    # bucket arrays via the Arrow-batched kernel (kernels.dsir_bucket_
    # mapper — bit-identical twin of the retained _dsir_feature_buckets
    # chain, pinned by tests/test_kernels.py); the weight fold below
    # stays a Catalyst expression over the staged column.  Size-gated
    # (r15 item 1): below util.KERNEL_MIN_BYTES the expression chain
    # avoids the kernel's JVM<->Python crossing floor (VERDICT r14).
    if not use_arrow_kernel(df):
        from minivectordb_spark.operators.prep import _dsir_feature_buckets

        staged = materialize(
            ensure_parallelism(df), tokens(F.col(text_col)), "__toks", [id_col]
        )
        bst = materialize(
            staged, _dsir_feature_buckets(F.col("__toks"), n_buckets), "__b", [id_col]
        )
    else:
        bst = ensure_parallelism(df.select(id_col, text_col)).mapInArrow(
            kernels.dsir_bucket_mapper(text_col, id_col, n_buckets),
            T.StructType(
                [df.schema[id_col]]
                + [T.StructField("__b", T.ArrayType(T.LongType()), True)]
            ),
        )
    s = F.aggregate(
        F.col("__b"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(W, (b + 1).cast("int")),
    )
    nf = F.size(F.col("__b"))
    z = F.lit(float(bias)) + (s.cast("double") / F.lit(1000000.0)) / nf.cast(
        "double"
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return bst.filter(nf > 0).select(
        F.col(id_col), nf.cast("long").alias("n_feats"), score.alias("score")
    )


def fit_hash_classifier(
    pos: DataFrame,
    neg: DataFrame,
    n_buckets: int = CLASSIFIER_BUCKETS,
    text_col: str = "text",
    max_iter: int = 50,
    reg_param: float = 0.01,
) -> tuple[list[float], float]:
    """Fit the ``hash_classifier_score`` weights with MLlib logistic
    regression on labeled frames (pos = keep, neg = drop) — the real
    training path behind the literal-weight scoring expression.  The
    feature vector is the SAME normalized bag-of-buckets the scorer
    folds over (mean one-hot of `_dsir_feature_buckets`), so fitted
    coefficients drop straight into ``hash_classifier_score``.  Returns
    ``(weights, bias)``.

    The per-doc dense count vector is built by an O(n_feats * n_buckets)
    interpreted fold — fine for fit corpora (labeled sets are small by
    nature); the SCORING path never materializes vectors at all."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from minivectordb_spark.operators.prep import _dsir_feature_buckets
    from minivectordb_spark.operators.util import materialize

    def featurize(side: DataFrame, label: int) -> DataFrame:
        staged = materialize(side, tokens(F.col(text_col)), "__toks", [])
        bst = materialize(
            staged, _dsir_feature_buckets(F.col("__toks"), n_buckets), "__b", []
        )
        counts = F.aggregate(
            F.col("__b"),
            F.array_repeat(F.lit(0.0), n_buckets),
            lambda acc, x: F.transform(
                acc,
                lambda v, i: F.when(i == x.cast("int"), v + F.lit(1.0)).otherwise(v),
            ),
        )
        nf = F.size(F.col("__b"))
        mean_counts = F.transform(counts, lambda v: v / nf.cast("double"))
        return (
            bst.filter(nf > 0)
            .select(mean_counts.alias("__m"))
            .select(
                array_to_vector(F.col("__m")).alias("features"),
                F.lit(label).alias("label"),
            )
        )

    data = featurize(pos, 1).unionAll(featurize(neg, 0))
    model = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, standardization=False
    ).fit(data)
    return [float(c) for c in model.coefficients], float(model.intercept)


def quality_mix(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    tau: float = 0.7,
    bands: tuple[float, float] = (0.45, 0.55),
    salt: str = "q0",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-scored data mixing — the FineWeb/DCLM selection composition
    end-to-end: classifier score -> quality band (low/mid/high) ->
    temperature-scaled band mix (p_band ∝ n^tau) -> deterministic
    hash-gated keep at each band's mix fraction.  Returns the kept
    ``(id_col, band, score)`` rows.

    Every stage is an existing operator: ``hash_classifier_score`` (map-
    only), ``prep.temperature_fractions`` (one tiny band-keyed aggregate),
    and the ``prep.sample_gate`` hash gate — here with a DATA-DERIVED
    threshold (floor of round(mix_frac * SAMPLE_BUCKETS, 6)) joined in by
    broadcast, so the whole mix is ONE plan with no driver-side fraction
    collection.  At 100 TB: two map passes over the corpus + one
    band-count shuffle of |bands| groups."""
    from minivectordb_spark.operators.hashing import md5i32
    from minivectordb_spark.operators.prep import SAMPLE_BUCKETS, temperature_fractions

    scored = hash_classifier_score(df, weights, bias, text_col, id_col)
    band = (
        F.when(F.col("score") >= bands[1], F.lit("high"))
        .when(F.col("score") >= bands[0], F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    # The banded frame is read THREE times below (the band-count
    # aggregate, its total-normalization subtree, and the gated main
    # branch); without a materialization boundary each copy replays the
    # whole classifier map pass — tokenize + bucket-hash + weight fold —
    # over the corpus text.  The lazy checkpoint (the dsir_logweights
    # idiom) prices the scan once and hands every consumer a narrow
    # (id, score, band) row per doc — far smaller than the text it
    # replaces at any scale.
    banded = scored.select(
        F.col(id_col), F.col("score"), band.alias("band")
    ).localCheckpoint(eager=False)
    fracs = temperature_fractions(banded, strata_col="band", tau=tau).select(
        F.col("stratum").alias("band"),
        F.floor(F.round(F.col("mix_frac") * SAMPLE_BUCKETS, 6))
        .cast("long")
        .alias("__thr"),
    )
    key = F.concat_ws(
        "#", F.lit(salt), F.col("band"), F.col(id_col).cast("string")
    )
    return (
        banded.join(F.broadcast(fracs), "band")
        .filter(F.pmod(md5i32(key), F.lit(SAMPLE_BUCKETS)) < F.col("__thr"))
        .select(F.col(id_col), F.col("band"), F.col("score"))
    )


def tfidf_keywords(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 10,
) -> DataFrame:
    """Per-group TF-IDF keyword extraction — the dataset-card "what is this
    slice about?" rollup: for every ``group_col`` value (source, domain,
    language shard), the ``top_n`` tokens ranked by term-frequency x
    inverse-document-frequency.  Returns ``(group_col, token, tf, tfidf,
    rank)``; rank is ``row_number`` over (tfidf desc, token asc) — that
    ordering is a total order per group (token breaks every tie), so the
    numbering is deterministic 1..top_n with no gaps.

    Numerics (engine-exact): ``idf = round(ln(N / df), 6)`` is frozen to
    DECIMAL(18,6) once per VOCAB ENTRY — the lm_score trick — and the
    score ``tf * idf`` is an exact integer-x-decimal product, so ranking
    and output are bit-identical across engines at any scale.

    Plan: two token-keyed combiner-reduced groupBys (tf keyed on
    (group, token), df on token over per-doc-distinct tokens), a 1-row
    doc-count broadcast, a broadcast probe of the vocab-sized idf table,
    and a per-group top-n window.  The window input is vocab-sized (one
    row per (group, token) TYPE, Heaps'-law bounded), never the corpus;
    WindowGroupLimit forwards at most top_n rows per group per partition
    before the final exchange.  At 100 TB: cost = two scans of the token
    stream with map-side partial aggregation; no shuffle carries more
    than the (group x vocab) type table.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("__grp"),
        tokens(F.col(text_col)).alias("__tk"),
    )
    ex = base.select("__grp", F.explode("__tk").alias("token"))
    dex = base.select("__id", F.explode(F.array_distinct("__tk")).alias("token"))
    dfreq = dex.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__N"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "token",
        F.round(
            F.log(F.col("__N").cast("double") / F.col("__df").cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("__idf"),
    )
    tf = ex.groupBy("__grp", "token").agg(F.count(F.lit(1)).alias("tf"))
    # exact integer x decimal product; micros stay far under 2^53, so the
    # final decimal->double cast is exact on every engine (the tpch_q1 trick)
    scored = tf.join(F.broadcast(idf), "token").select(
        "__grp",
        "token",
        "tf",
        (F.col("tf") * F.col("__idf"))
        .cast("decimal(28,6)")
        .cast("double")
        .alias("tfidf"),
    )
    w = Window.partitionBy("__grp").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= top_n)
        .select(
            F.col("__grp").alias(group_col),
            "token",
            "tf",
            "tfidf",
            F.col("__rk").cast("long").alias("rank"),
        )
    )


def cooccurrence_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    min_count: int = 5,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Token co-occurrence with pointwise mutual information — the
    collocation / phrase-mining staple (Church & Hanks, CL 1990; the
    word2vec-era association measure): for every unordered token pair
    observed within ``window`` positions, ``pmi = ln(p(w1,w2) / (p(w1)
    p(w2)))`` estimated from pair and unigram frequencies.  High-PMI
    pairs are collocations ("new york"); corpus pipelines use them for
    phrase joining and for spotting boilerplate n-grams.  Returns
    ``(w1, w2, c12, pmi)`` for pairs with ``c12 >= min_count``; pairs
    are canonicalized ``w1 <= w2`` so each unordered pair appears once.

    Numerics: the PMI argument ``(c12 * T * T) / (P * c1 * c2)`` is
    computed with the SAME explicit association order on both engines,
    anchored by CAST(... AS DOUBLE) on the leading factor (a bare
    ``* 1.0`` parses as DECIMAL in Spark SQL — decimal arithmetic, not
    IEEE); counts convert to double exactly below 2^53, IEEE
    multiply/divide are correctly rounded, so the double is
    bit-identical given identical op order; the single ``ln`` ulp is
    absorbed by the 6dp round — the lm_score acceptance.

    Plan: pair generation is MAP-SIDE — a nested array ``transform``
    over the staged token array emits each position's ``window``
    forward partners with no join and no explode-then-self-join (the
    naive formulation shuffles the position table twice; this one
    shuffles only (pair, 1) rows into ONE combiner-reduced groupBy).
    Unigram counts reuse the same staged array (second combiner-reduced
    shuffle); T and P are 1-row aggregates broadcast-crossed in; with
    ``broadcast_vocab`` (default) both c1/c2 probes are map-only.  At
    100 TB: two keyed shuffles total, both pre-combined; nothing is
    ever quadratic in document length beyond the window factor."""
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.plans.width import ensure_parallelism

    toks_df = materialize(
        ensure_parallelism(df), tokens(F.col(text_col)), "__toks", [id_col]
    )
    pairs = toks_df.select(
        F.explode(
            F.expr(
                f"""flatten(transform(__toks, (t, i) ->
                  transform(slice(__toks, i + 2, {int(window)}), u ->
                    struct(least(t, u) AS w1, greatest(t, u) AS w2))))"""
            )
        ).alias("pr")
    ).select("pr.w1", "pr.w2")
    # the raw pair stream has exactly ONE consumer (the count aggregate);
    # P is then derived from the aggregated pair-TYPE table — vocab²-ish,
    # orders of magnitude smaller than the stream — so nothing pair-
    # stream-sized is ever checkpointed or read twice
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    uni = (
        toks_df.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("c").alias("T"))
    ptot = c12.agg(F.sum("c12").alias("P"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    if broadcast_vocab:
        u1, u2 = F.broadcast(u1), F.broadcast(u2)
    return (
        c12.filter(F.col("c12") >= F.lit(min_count))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ptot))
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(
                "round(ln((CAST(c12 AS DOUBLE) * T * T) / (CAST(P AS DOUBLE) * c1 * c2)), 6)"
            ).alias("pmi"),
        )
    )
