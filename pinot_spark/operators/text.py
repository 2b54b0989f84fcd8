"""Text-analysis operators for large-scale document pipelines: token
counting, quality scoring, language-ID heuristic, document fingerprinting.

These are first-class pipeline operators (BASELINE.json north star), all
expressed as JVM-side Column expressions — no Python UDFs in the hot
path, so they stay inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# tiny English stopword list for the language-ID / quality heuristics
STOPWORDS = ("a", "an", "the", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: str | Column) -> Column:
    """Whitespace tokenization (the analysis-path tokenizer)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


# GPT-2-style pre-tokenizer pattern (public: the BPE pre-split regex —
# contractions, letter runs, digit runs, punctuation runs, whitespace).
# Java regex and RE2 (DuckDB) agree on every construct used, so counts
# are engine-reproducible; the lookahead variant is intentionally
# dropped (trailing-space merge only shifts counts by <=1 per doc).
BPE_SPLIT_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count(text: str | Column) -> Column:
    """BPE-ish token count: number of GPT-2 pre-tokenizer segments —
    the standard quick estimate of LLM token cost per document (actual
    BPE merges only split these further, so this lower-bounds vocab
    tokens at roughly 1:1.3)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_SPLIT_PATTERN))


def token_count(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(tokens(c)))


def avg_token_length(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    no_space = F.regexp_replace(c, r"\s+", "")
    return F.length(no_space) / F.nullif(token_count(c).cast("double"), F.lit(0.0))


def stopword_ratio(text: str | Column) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(c))
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return stop / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def punct_ratio(text: str | Column) -> Column:
    """Fraction of characters that are punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return punct / F.nullif(F.length(c).cast("double"), F.lit(0.0))


def quality_score(text: str | Column) -> Column:
    """Composite [0,1] quality score: length band + stopword presence +
    low punctuation (heuristic quality classifier for pretraining data)."""
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(c)
    length_ok = (n >= 10) & (n <= 100000)
    stop = stopword_ratio(c)
    return F.round(
        F.when(length_ok, 0.4).otherwise(0.0)
        + F.least(stop * 2, F.lit(0.4))
        + F.when(punct_ratio(c) < 0.2, 0.2).otherwise(0.0),
        4,
    )


def lang_id(text: str | Column) -> Column:
    """N-gram/stopword language-ID heuristic: 'en' when English stopwords
    are frequent, 'unknown' otherwise. (A real model slots in here as a
    pandas UDF; the heuristic keeps the hot path JVM-side.)"""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(stopword_ratio(c) > 0.05, F.lit("en")).otherwise(F.lit("unknown"))


def fingerprint(text: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace/case-normalized text (content-defined identity for exact
    dedup across formatting differences)."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normalized)


def chunk_plan(
    df,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split documents into fixed-size token windows with overlap — the
    chunking step before tokenization/packing in an LLM training-data
    pipeline. One row per (doc, chunk): (id, chunk_start, chunk_len,
    chunk_text).

    Scale design: pure JVM higher-order expressions — the token array is
    built once per row, chunk starts come from ``sequence()`` and each
    chunk is a ``slice`` + ``array_join``; the explode fans out without
    any Python or shuffle (chunks stay with their document's partition).
    Tokenization here is single-space split so the operation is exactly
    reproducible by any engine (the whitespace-regex tokenizer in
    ``tokens()`` serves the analysis paths).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(step)
    )
    return (
        df.select(F.col(id_col), toks.alias("__toks"), F.explode(starts).alias("chunk_start"))
        .select(
            id_col,
            "chunk_start",
            F.least(
                F.lit(chunk_tokens), F.size("__toks") - F.col("chunk_start")
            ).alias("chunk_len"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("chunk_start") + 1, F.lit(chunk_tokens)), " "
            ).alias("chunk_text"),
        )
        .filter(F.col("chunk_len") > 0)
    )


# ---------------------------------------------------------------------------
# Training-batch sequence packing (concat-and-chunk) and PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(text: str | Column) -> Column:
    """Replace email addresses and phone numbers with typed placeholder
    tokens — the standard pre-training PII scrub. Pure Column
    expressions (two regexp_replace passes, whole-stage codegen); the
    patterns stay in the Java-regex/RE2 common subset so a SQL oracle
    reproduces them byte-for-byte."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, _EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(c, _PHONE_RE, "[PHONE]")


def pii_counts(text: str | Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts for audit metrics."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(_EMAIL_RE)), F.regexp_count(c, F.lit(_PHONE_RE))


def sequence_pack(
    df,
    tokens_col: str,
    budget: int,
    order_cols: list[str],
    shard_col: str | None = None,
):
    """Concat-and-chunk sequence packing: documents are laid end-to-end
    in ``order_cols`` order (per ``shard_col`` shard) and cut into
    fixed-``budget`` token windows — LLM pre-training's standard packing.
    Adds ``pack_start`` (token offset of the doc), ``first_pack`` and
    ``n_packs`` (how many windows the doc straddles; 0 for empty docs).

    Scale shape: one shuffle on the shard key for the running-sum
    window, no UDF, no collect. Sharding keeps the prefix-sum local —
    the global variant (shard_col=None) is a single-partition sort,
    only for small corpora."""
    part = [shard_col] if shard_col else []
    w = Window.partitionBy(*part).orderBy(*order_cols)
    start = F.coalesce(
        F.sum(tokens_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    end = start + F.col(tokens_col)
    return (
        df.withColumn("pack_start", start)
        .withColumn("first_pack", F.floor(F.col("pack_start") / budget))
        .withColumn(
            "n_packs",
            F.when(F.col(tokens_col) <= 0, F.lit(0)).otherwise(
                F.floor((end - 1) / budget) - F.floor(F.col("pack_start") / budget) + 1
            ),
        )
    )


def _token_trigrams(text_col: str | Column) -> Column:
    """Distinct token 3-gram shingles of a document (lowercased,
    whitespace-tokenized) — empty for docs under 3 tokens."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.split(F.lower(F.trim(c)), " ")
    idx = F.when(F.size(t) >= 3, F.sequence(F.lit(1), F.size(t) - F.lit(2))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
            ),
        )
    )


def ngram_decontaminate(
    train, bench, id_col: str, text_col: str, max_broadcast_docs: int = 100_000
):
    """Benchmark decontamination (the GPT-3-style n-gram overlap scrub):
    flag training documents whose token 3-grams overlap a held-out
    benchmark set, with the containment ratio |doc ∩ bench| / |doc|.

    Scale shape: the benchmark's distinct n-gram set is exploded once
    and broadcast (benchmark corpora are small next to training data);
    training docs explode their n-grams, inner-join on the n-gram, and
    partial/final count per doc — no all-pairs comparison anywhere.
    A ``bench`` side above ``max_broadcast_docs`` documents skips the
    broadcast hint (size guard: a mistakenly-huge "benchmark" should
    degrade to a shuffle join, not OOM the driver) — Catalyst/AQE then
    picks the join strategy from actual sizes.
    Returns (id, n_grams, n_hit, containment) for docs with any hit."""
    train_g = train.select(
        F.col(id_col), _token_trigrams(text_col).alias("__grams")
    ).withColumn("n_grams", F.size("__grams"))
    bench_g = (
        bench.select(F.explode(_token_trigrams(text_col)).alias("__g")).distinct()
    )
    # size guard via a cheap bounded probe: scanning at most
    # max_broadcast_docs+1 rows decides the hint without a full pass
    # over the benchmark corpus (ADVICE r7: exact count was an eager
    # full-scan job on every call).
    if bench.limit(max_broadcast_docs + 1).count() <= max_broadcast_docs:
        bench_g = F.broadcast(bench_g)
    hits = (
        train_g.select(id_col, "n_grams", F.explode("__grams").alias("__g"))
        .join(bench_g, "__g")
        .groupBy(id_col, "n_grams")
        .agg(F.count("*").alias("n_hit"))
    )
    return hits.select(
        id_col,
        "n_grams",
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.round(F.col("n_hit") / F.greatest(F.col("n_grams"), F.lit(1)), 4).alias(
            "containment"
        ),
    )


def repetition_metrics(df, id_col: str, text_col: str):
    """Gopher-style repetition filters (public heuristics from Rae et
    al. 2021 "Scaling Language Models" table A1 — counts-based variants):
    flag documents dominated by repeated content via

    - ``dup_word_frac``    — fraction of token occurrences that repeat an
      earlier token ((n - n_distinct) / n),
    - ``top_word_frac``    — frequency of the single most common token
      over all tokens,
    - ``top_bigram_frac``  — frequency of the most common 2-gram over
      all 2-grams.

    Scale shape: the distinct-count metric is pure per-row Column
    algebra (codegen); the top-frequency metrics explode tokens ONCE and
    run two map-side-combinable aggregations (per (doc, gram) count →
    per doc max) — NO quadratic per-document work, no driver collection.
    Both aggregations shuffle on doc_id-prefixed keys, so a 100 TB
    corpus spreads evenly however large individual documents get."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.size(toks).alias("__nt"),
        F.size(F.array_distinct(toks)).alias("__ndt"),
    ).filter(F.col("__nt") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.col("__nt") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("__toks", i), F.element_at("__toks", i + 1)
        ),
    )
    exploded = base.select(
        id_col, "__nt", F.explode("__toks").alias("__t")
    )
    top_word = (
        exploded.groupBy(id_col, "__t")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__topw"))
    )
    exploded_bg = base.select(
        F.col(id_col), (F.col("__nt") - 1).alias("__ng"),
        F.explode(bigrams).alias("__g"),
    )
    top_bigram = (
        exploded_bg.groupBy(id_col, "__ng", "__g")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col, "__ng")
        .agg(F.max("__c").alias("__topg"))
    )
    return (
        base.select(id_col, "__nt", "__ndt")
        .join(top_word, id_col)
        .join(top_bigram, id_col)
        .select(
            id_col,
            F.round((F.col("__nt") - F.col("__ndt")) / F.col("__nt"), 4).alias(
                "dup_word_frac"
            ),
            F.round(F.col("__topw") / F.col("__nt"), 4).alias("top_word_frac"),
            F.round(F.col("__topg") / F.col("__ng"), 4).alias("top_bigram_frac"),
        )
    )


def resample_to_distribution(
    df: DataFrame,
    bucket_col: str,
    weights: dict[str, int],
    id_col: str,
) -> DataFrame:
    """Deterministic acceptance-sampling of a corpus to a TARGET
    categorical mix (training-data quality/language balancing): keep
    ~w_b * M rows of bucket b, where M = min_b floor(count_b / w_b)
    is the largest multiplier every bucket can supply.

    Acceptance is hash-thinning on md5(id) — no RNG, no shuffle-order
    dependence, reproducible at any scale and identical across engines:
    row accepted iff its first 8 md5 hex chars (a uniform 32-bit value)
    fall below floor(2^32 * w_b * M / count_b), formatted as an 8-hex
    threshold literal so the comparison is a monotone string compare.
    (32 bits, not 16: a 16-bit threshold floors to 0 once a bucket's
    count exceeds 65536*w*M — extreme-skew corpora would silently drop
    the whole bucket.)  A threshold that still floors to 0 for a
    weighted bucket (count_b > 2^32 * w_b * M) raises rather than
    silently dropping it.  Buckets without a weight are dropped.  The
    only driver-side state is the per-bucket count (bounded by category
    cardinality)."""
    counts = {
        r[0]: r[1] for r in df.groupBy(bucket_col).count().collect()
    }
    usable = {b: w for b, w in weights.items() if counts.get(b)}
    if not usable:
        return df.filter(F.lit(False))
    m = min(counts[b] // w for b, w in usable.items())
    hex8 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    cond = F.lit(False)
    for b, w in usable.items():
        thr = ((1 << 32) * w * m) // counts[b]
        if thr >= (1 << 32):
            # the limiting bucket keeps everything — an 8-hex compare
            # cannot express "accept all" (format(2^32) is the 9-char
            # '100000000' and lexicographic < would mis-thin)
            accept = F.lit(True)
        elif thr == 0:
            raise ValueError(
                f"resample_to_distribution: bucket {b!r} count "
                f"({counts[b]}) exceeds 2^32 * weight * multiplier — "
                "acceptance threshold underflows to 0; rescale weights"
            )
        else:
            accept = hex8 < format(thr, "08x")
        cond = cond | ((F.col(bucket_col) == b) & accept)
    return df.filter(cond)


def ngram_lm_perplexity(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    reference: DataFrame | None = None,
    alpha: float = 0.5,
):
    """CCNet-style language-model quality scoring (Wenzek et al. 2019,
    arXiv:1911.00359 — train an LM on a reference corpus, bucket
    documents by perplexity): a bigram add-α model trained and applied
    entirely with DataFrame aggregations.

    Model: P(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V) over the reference
    corpus (``reference`` defaults to ``docs`` itself — in-corpus
    scoring).  The single smoothed formula doubles as the backoff: an
    unseen bigram scores α/(c(w1)+αV), an unseen context 1/V — total,
    smooth, and branch-free, so the DuckDB oracle can mirror it exactly.
    Per document: cross_entropy = −Σ log2 P / n over its n = len−1
    bigram OCCURRENCES, perplexity = 2^cross_entropy.  Documents with
    fewer than 2 tokens have no bigrams and are omitted.

    Scale shape (100 TB): token explode → groupBy(w1,w2)/groupBy(w1)
    with map-side partial aggregation builds the model in two shuffles;
    per-document grams pre-aggregate to (id,w1,w2,cnt) before joining,
    so join traffic is bounded by DISTINCT grams per doc, not token
    count; V and T ride a one-row aggregate broadcast-cross-joined in;
    model joins are plain equi-joins Catalyst/AQE sizes (broadcast when
    the vocab is small, shuffle otherwise).  No driver-side state, no
    collect, no Python in the hot path — every step is a JVM Column
    expression."""
    c = F.col(text_col)
    toks = F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")

    def with_pairs(df, keep_id: bool):
        base = df.select(
            *([F.col(id_col)] if keep_id else []), toks.alias("__t")
        ).withColumn("__n", F.greatest(F.size("__t") - 1, F.lit(0)))
        base = base.withColumn("__a", F.slice("__t", F.lit(1), F.col("__n"))).withColumn(
            "__b", F.slice("__t", F.lit(2), F.col("__n"))
        )
        pairs = base.select(
            *([id_col] if keep_id else []),
            F.explode(F.arrays_zip("__a", "__b")).alias("__p"),
        )
        return pairs.select(
            *([id_col] if keep_id else []),
            F.col("__p.__a").alias("w1"),
            F.col("__p.__b").alias("w2"),
        )

    ref = docs if reference is None else reference
    bi = with_pairs(ref, keep_id=False).groupBy("w1", "w2").agg(
        F.count("*").alias("c12")
    )
    uni = (
        ref.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    vocab = uni.agg(
        F.count("*").cast("double").alias("__V")
    )  # one row, broadcast into every partition

    doc_grams = (
        with_pairs(docs, keep_id=True).groupBy(id_col, "w1", "w2").agg(
            F.count("*").alias("cnt")
        )
    )
    scored = (
        doc_grams.join(bi, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__logp",
            F.log2(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("__V"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            (-F.sum(F.col("cnt") * F.col("__logp")) / F.sum("cnt")).alias("__H"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round("__H", 4).alias("cross_entropy"),
            F.round(F.pow(F.lit(2.0), "__H"), 4).alias("perplexity"),
        )
    )


def dsir_select(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target: DataFrame,
    k: int,
    buckets: int = 4096,
    alpha: float = 1.0,
):
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169 — "Data
    Selection for Language Models via Importance Resampling"): score
    every source document by the log importance weight of its hashed
    n-gram features under a target-vs-source bag-of-hashed-ngrams model,
    then Gumbel-top-k sample k documents (equivalent to sampling without
    replacement proportionally to the importance weights).

    Features: unigrams + bigrams hashed into ``buckets`` buckets (the
    paper's 10k-bucket hashed n-gram model) via md5 — the same
    cross-engine hash idiom the SimHash/fingerprint rows use, so a
    DuckDB oracle reproduces every weight exactly.  Per-bucket add-α
    log-ratios λ[b] = log p_target(b) − log p_source(b); per-doc
    log-weight = Σ_b n_doc[b]·λ[b]; Gumbel noise derives
    deterministically from md5(id), so selection is reproducible.

    Scale shape (100 TB): gram explode → (id, bucket) counts with
    map-side partial aggregation; the λ table is ≤ ``buckets`` rows and
    BROADCAST into the scoring join; top-k runs as
    TakeOrderedAndProject, never a full sort.  Empty documents have no
    features and are not selectable."""
    c = F.col(text_col)
    toks = F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")

    def grams(df):
        base = df.select(F.col(id_col), toks.alias("__t")).withColumn(
            "__n", F.greatest(F.size("__t") - 1, F.lit(0))
        )
        base = base.withColumn(
            "__bi",
            F.zip_with(
                F.slice("__t", F.lit(1), F.col("__n")),
                F.slice("__t", F.lit(2), F.col("__n")),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        )
        g = base.select(
            id_col, F.explode(F.concat("__t", "__bi")).alias("__g")
        )
        return g.select(
            id_col,
            (F.conv(F.substring(F.md5("__g"), 1, 8), 16, 10).cast("long") % buckets).alias(
                "__b"
            ),
        )

    def bucket_counts(df, name):
        return (
            grams(df)
            .groupBy("__b")
            .agg(F.count("*").alias(name))
        )

    src_c = bucket_counts(docs, "c_s")
    tgt_c = bucket_counts(target, "c_t")
    # totals via one-row aggregates (broadcast-cross-joined)
    t_s = src_c.agg(F.sum("c_s").cast("double").alias("t_s"))
    t_t = tgt_c.agg(F.sum("c_t").cast("double").alias("t_t"))
    lam = (
        src_c.join(tgt_c, "__b", "full_outer")
        .crossJoin(F.broadcast(t_s))
        .crossJoin(F.broadcast(t_t))
        .select(
            "__b",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(alpha))
                    / (F.col("t_t") + F.lit(alpha) * F.lit(float(buckets)))
                )
                - F.log(
                    (F.coalesce(F.col("c_s"), F.lit(0)) + F.lit(alpha))
                    / (F.col("t_s") + F.lit(alpha) * F.lit(float(buckets)))
                )
            ).alias("__lam"),
        )
    )
    doc_b = grams(docs).groupBy(id_col, "__b").agg(F.count("*").alias("cnt"))
    logw = (
        doc_b.join(F.broadcast(lam), "__b")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("__lam")).alias("__logw"))
    )
    # deterministic Gumbel: u = (md5_13hex(id)+1) / (16^13+1) ∈ (0,1)
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10).cast(
            "double"
        )
        + F.lit(1.0)
    ) / F.lit(float(16**13 + 1))
    scored = logw.withColumn("__score", F.col("__logw") - F.log(-F.log(u)))
    return (
        scored.orderBy(F.desc("__score"), id_col)
        .limit(k)
        .select(
            id_col,
            F.round("__logw", 4).alias("log_weight"),
            F.round("__score", 4).alias("score"),
        )
    )


def _hash_bucket(tok: Column, n_buckets: int) -> Column:
    """Engine-reproducible feature hashing: first 8 hex chars of md5,
    parsed base-16, mod n_buckets.  md5 exists verbatim in Spark and
    DuckDB, so oracle SQL can mirror the bucketing bit-for-bit (xxhash64
    would be Spark-only)."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    )


def _default_weight(bucket: Column) -> Column:
    """Deterministic pseudo-random weight in [-1, 1] from a bucket id —
    the Weinberger hashing-trick demo model (a real model passes
    weights_df instead): (b * 2654435761 % 2000001)/1e6 - 1."""
    return (bucket * F.lit(2654435761) % 2000001) / F.lit(1000000.0) - 1.0


def classifier_score(
    df: DataFrame,
    text_col: str,
    out_col: str = "quality_score",
    n_buckets: int = 4096,
    weights_df: DataFrame | None = None,
    id_col: str | None = None,
    bias: float = 0.0,
) -> DataFrame:
    """fastText-style linear text-classifier scoring with the hashing
    trick — the DCLM / fineweb-edu quality-filter shape: lowercase
    alnum tokens hash into ``n_buckets`` features, the mean feature
    weight (+bias) squashes through the rational sigmoid
    ``0.5 + x / (2 (1 + |x|))`` into (0, 1).  Empty docs score 0.5.

    Two execution paths, both 100 TB-shaped:

    * ``weights_df=None`` — the deterministic demo model: weights are a
      closed-form expression of the bucket id, so the WHOLE scorer is
      one Column expression (zero joins, zero Python, whole-stage
      codegen) and DuckDB can mirror it exactly for the driver oracle.
    * ``weights_df=(bucket int, weight double)`` — a real trained
      model: tokens explode, broadcast-join the (tiny) weight table,
      and re-aggregate per doc (requires ``id_col``).  One shuffle
      (the per-doc regroup); the weight side always broadcasts.

    The rational squash replaces exp-based sigmoid deliberately: it is
    monotone, bounded, and bit-reproducible across engines (libm exp
    differs in final ulps between JVMs and C++ engines)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: t != "",
    )
    if weights_df is None:
        x = F.when(
            F.size(toks) > 0,
            F.aggregate(
                toks,
                F.lit(0.0),
                lambda acc, t: acc
                + _default_weight(_hash_bucket(t, n_buckets)),
            )
            / F.size(toks)
            + F.lit(bias),
        ).otherwise(F.lit(0.0))
        score = F.lit(0.5) + x / (F.lit(2.0) * (F.lit(1.0) + F.abs(x)))
        return df.withColumn(out_col, score)
    if id_col is None:
        raise ValueError("weights_df scoring needs id_col to regroup")
    tok_rows = df.select(
        id_col, F.explode(toks).alias("__tok")
    ).withColumn("bucket", _hash_bucket(F.col("__tok"), n_buckets))
    joined = tok_rows.join(F.broadcast(weights_df), "bucket", "left").na.fill(
        {"weight": 0.0}
    )
    sums = joined.groupBy(id_col).agg(
        F.sum("weight").alias("__wsum"), F.count("*").alias("__ntok")
    )
    out = df.join(sums, id_col, "left")
    x = F.when(
        F.col("__ntok") > 0, F.col("__wsum") / F.col("__ntok") + F.lit(bias)
    ).otherwise(F.lit(0.0))
    score = F.lit(0.5) + x / (F.lit(2.0) * (F.lit(1.0) + F.abs(x)))
    return out.withColumn(out_col, score).drop("__wsum", "__ntok")


def epoch_shuffle_key(
    id_col: str | Column, seed: int = 0, epoch: int = 0
) -> Column:
    """Deterministic epoch-reshuffle key for training pipelines: a
    stable pseudo-random TOTAL order from (id, seed, epoch) via md5 —
    engine-reproducible (DuckDB mirrors it verbatim), partition-count
    independent, and different every epoch.  Scale shape: ORDER BY the
    key is one range shuffle; sharded training output uses
    repartitionByRange(key) + sortWithinPartitions(key) instead of a
    global sort."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(F.concat(c.cast("string"), F.lit(f":{seed}:{epoch}")))


def shard_training_output(
    df: DataFrame,
    id_col: str,
    num_shards: int,
    seed: int = 0,
    epoch: int = 0,
    key_col: str = "__shard_key",
) -> DataFrame:
    """Sharded, epoch-reshuffled training output — the recipe the
    epoch_shuffle_key docstring prescribes, as an operator: attach the
    deterministic md5 shuffle key, ``repartitionByRange(num_shards,
    key)`` so shard files tile the keyspace, and
    ``sortWithinPartitions(key, id)`` so rows inside each shard follow
    the epoch order.  The id tiebreak makes the order total even if two
    ids ever collided on the key.

    Scale shape: ONE range shuffle (the partitioner samples shard
    boundaries; no global sort, no SinglePartition exchange) — writing
    the result yields num_shards files whose CONCATENATION in shard
    order is exactly the epoch-(seed, epoch) total order, regardless of
    the input's partitioning or num_shards (the determinism property
    tests pin shard-count independence).  Downstream training loops
    read shards in filename order and stream rows as-is."""
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    keyed = df.withColumn(
        key_col, epoch_shuffle_key(id_col, seed=seed, epoch=epoch)
    )
    return keyed.repartitionByRange(
        num_shards, F.col(key_col)
    ).sortWithinPartitions(key_col, id_col)


def gopher_c4_flags(df: DataFrame, text_col: str, prefix: str = "qf_") -> DataFrame:
    """The Gopher + C4 document-quality rule set (the published
    repetition/format filters every large pretraining pipeline applies
    — Rae et al. 2021 §A1.1, Raffel et al. 2020 §2.2; fineweb/Dolma
    call these gopher_quality_filter and c4_quality_filter):

    Gopher rules — word count in [50, 100000], mean word length in
    [3, 10], >=80% of words contain an alphabetic character,
    symbol-to-word ratio (# and ellipsis) <= 0.1, <=90% of lines start
    with a bullet, <=30% of lines end with an ellipsis.
    C4 rules — no '{' (code), no 'lorem ipsum', no 'javascript' token.

    Everything is a JVM Column expression over one split — zero Python,
    zero shuffles, engine-reproducible (the driver oracle recomputes
    every flag in DuckDB).  Adds ``<prefix>n_words``,
    ``<prefix>mean_word_len``, the individual rule booleans, and the
    conjunction ``<prefix>keep``."""
    c = F.col(text_col)
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    sum_len = F.aggregate(
        words, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
    )
    mean_len = F.when(n_words > 0, sum_len / n_words).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    frac_alpha = F.when(
        n_words > 0, n_alpha.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    ) + (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit(""))))
        / F.lit(3)
    )
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ell).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    lines = F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).rlike("^[\\u2022\\-\\*]"),
            )
        ).cast("double")
        / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                lines,
                lambda l: F.rtrim(l).rlike("(\\u2026|\\.\\.\\.)$"),
            )
        ).cast("double")
        / n_lines,
    ).otherwise(F.lit(0.0))
    lc = F.lower(c)
    rules = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (mean_len >= 3.0) & (mean_len <= 10.0),
        "alpha_words_ok": frac_alpha >= 0.8,
        "symbol_ratio_ok": symbol_ratio <= 0.1,
        "bullet_lines_ok": bullet_frac <= 0.9,
        "ellipsis_lines_ok": ellipsis_frac <= 0.3,
        "no_curly_brace": ~lc.contains("{"),
        "no_lorem_ipsum": ~lc.contains("lorem ipsum"),
        "no_javascript": ~lc.contains("javascript"),
    }
    out = df.withColumn(f"{prefix}n_words", n_words).withColumn(
        f"{prefix}mean_word_len", F.round(mean_len, 4)
    )
    keep = F.lit(True)
    for name, expr in rules.items():
        out = out.withColumn(f"{prefix}{name}", expr)
        keep = keep & expr
    return out.withColumn(f"{prefix}keep", keep)


def save_classifier_weights(weights_df: DataFrame, path: str) -> None:
    """Persist a trained (bucket, weight) classifier table next to the
    data it scores: parquet for the table, an underscore-prefixed JSON
    sidecar for the schema contract — written through the Hadoop FS API
    (sources/fsutil) so HDFS/S3A model paths work like local ones."""
    import json

    from pinot_spark.sources.fsutil import sidecar_path, write_text

    weights_df.select("bucket", "weight").write.mode("overwrite").parquet(path)
    write_text(
        weights_df.sparkSession,
        sidecar_path(path, "_classifier_meta.json"),
        json.dumps({"format": "hashed-linear", "columns": ["bucket", "weight"]}),
    )


def load_classifier_weights(spark, path: str) -> DataFrame:
    from pinot_spark.sources.fsutil import exists, read_parquet, read_text, sidecar_path
    import json

    side = sidecar_path(path, "_classifier_meta.json")
    if exists(spark, side):
        meta = json.loads(read_text(spark, side))
        if meta.get("format") != "hashed-linear":
            raise ValueError(f"unknown classifier format {meta.get('format')!r}")
    return read_parquet(spark, path)
