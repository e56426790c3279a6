"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs.  Each operator is a narrow, per-row
transformation: at 100 TB these run inside the scan stage with zero shuffles.

Operators: tokenization, token/char counting (whitespace + a BPE-ish regex),
stopword/alpha ratios, quality scoring, n-gram-heuristic language ID, and
document fingerprinting (md5 canonical + polynomial rolling hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import fan_out

#: tiny per-language stopword lists for the n-gram/stopword language
#: heuristic.  Deliberately small + deterministic (this is a heuristic
#: operator, not a model); extend per corpus.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "les", "des", "est", "une"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
}

#: BPE-ish token pattern: alpha runs, digit runs, or single non-space symbol.
#: Character classes only — identical semantics in Java regex and RE2, so the
#: DuckDB oracle can use the same pattern.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


def stopword_hits(text: Column | str, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(words)))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length saturation, stopword ratio,
    alpha ratio.  Pure double arithmetic per row (deterministic)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c).cast("double")
    stop_ratio = stopword_hits(c).cast("double") / F.greatest(n_tok, F.lit(1.0))
    alpha_chars = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    alpha_ratio = alpha_chars / F.greatest(F.length(c).cast("double"), F.lit(1.0))
    len_sat = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * len_sat + F.lit(0.3) * stop_ratio + F.lit(0.3) * alpha_ratio, 6
    )


def lang_guess(text: Column | str) -> Column:
    """Stopword-vote language heuristic: the language whose stopword list hits
    the most tokens wins; ties broken by language code order; 'und' if no
    hits anywhere."""
    c = F.col(text) if isinstance(text, str) else text
    best = F.lit("und")
    best_hits = F.lit(0)
    for code in sorted(STOPWORDS):  # deterministic tie-break: first max wins
        hits = stopword_hits(c, code)
        is_better = hits > best_hits
        best = F.when(is_better, F.lit(code)).otherwise(best)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best


def fingerprint_md5(text: Column | str) -> Column:
    """Canonical-form fingerprint: lowercase, whitespace-collapsed, md5."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(c), "\\s+", " ")))


_ROLL_P = 1_000_000_007  # prime modulus keeps the fold inside bigint range


def fingerprint_rolling(text: Column | str) -> Column:
    """Polynomial rolling hash over tokens: ``h = (h*31 + hash(tok)) mod p``.

    A JVM-side left fold (``aggregate`` higher-order function) — order
    sensitive by construction, so reordered documents fingerprint
    differently, unlike a bag-of-words hash."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * 31 + F.pmod(F.xxhash64(t), F.lit(_ROLL_P)), F.lit(_ROLL_P)),
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Standard per-document stat block used by filtering pipelines.

    Two-stage projection: tokens and per-language stopword hits are
    materialized once in the first select, then every metric reads the
    materialized columns — instead of re-deriving ``split(text)`` + four
    list-filters inside each of the six output expressions (codegen CSE
    doesn't reliably collapse nested higher-order functions)."""
    c = F.col(text_col)
    others = [x for x in df.columns if x != text_col]
    def hits_col(words: list[str]):
        # NB: the lambda must be unary — pyspark treats a 2-arg lambda as
        # (element, index), so a bound default arg would become the index col
        return F.size(F.filter(tokens(c), lambda t: t.isin(words)))

    staged = df.select(
        *others,
        c.alias(text_col),
        tokens(c).alias("_toks"),
        *[hits_col(words).alias(f"_h_{code}") for code, words in sorted(STOPWORDS.items())],
    )
    n_tok = F.size(F.col("_toks")).cast("double")
    stop_ratio = F.col("_h_en").cast("double") / F.greatest(n_tok, F.lit(1.0))
    alpha_chars = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    alpha_ratio = alpha_chars / F.greatest(F.length(c).cast("double"), F.lit(1.0))
    quality = F.round(
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * alpha_ratio,
        6,
    )
    guess = F.lit("und")
    best_hits = F.lit(0)
    for code in sorted(STOPWORDS):  # deterministic tie-break: first max wins
        hits = F.col(f"_h_{code}")
        is_better = hits > best_hits
        guess = F.when(is_better, F.lit(code)).otherwise(guess)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return staged.select(
        *others,
        F.size(F.col("_toks")).alias("n_tokens"),
        F.length(c).alias("n_chars_actual"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        quality.alias("quality"),
        guess.alias("lang_guess"),
        fingerprint_md5(c).alias("fp_md5"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 100,
    overlap: int = 20,
    carry_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-embedding / context-window chunking pass.

    Pure DataFrame ops (materialized token array -> ``sequence`` of chunk
    starts -> ``posexplode`` -> ``slice``), so it is a narrow codegen stage
    with no shuffle and no Python.  Output: one row per chunk with
    (id, chunk_index, chunk_start token offset, chunk_text, n_chunk_tokens)
    plus ``carry_cols`` replicated per chunk — passthrough beats a
    post-chunk re-join on id (a full extra shuffle at corpus scale).
    A document shorter than ``chunk_tokens`` yields exactly one chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    n = F.size(F.col("_toks"))
    # last start <= max(n - overlap - 1, 0): guarantees the final window
    # reaches the end without emitting a pure-overlap tail chunk
    starts = F.sequence(F.lit(0), F.greatest(n - F.lit(overlap) - 1, F.lit(0)), F.lit(step))
    carry = list(carry_cols)
    return (
        df.select(F.col(id_col), *carry, F.split(F.col(text_col), " ").alias("_toks"))
        .select(
            id_col,
            *carry,
            "_toks",
            F.posexplode(starts).alias("chunk_index", "chunk_start"),
        )
        .select(
            id_col,
            "chunk_index",
            "chunk_start",
            F.concat_ws(" ", F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(
                F.size(F.col("_toks")) - F.col("chunk_start"), F.lit(chunk_tokens)
            ).alias("n_chunk_tokens"),
            *carry,
        )
    )


#: deliberately simple, auditable patterns — a production pass plugs a
#: proper recognizer; the operator shape (single regexp projection,
#: per-kind counts) is what matters at scale.
#:
#: phone is NANP-shaped (optional country code, optional parenthesised
#: area code, 3+4 digits, -/./space separators) and structural on purpose:
#: the oracle engine's regex (RE2) has no lookahead, so "exclude dates"
#: must come from shape, not negative assertions.  It does NOT match
#: dashed ISO dates (2024-01-15) or timestamps; known false positives are
#: bare 8-10 digit runs (compact dates, long numeric IDs), and grouped
#: international formats outside NANP are missed.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """Redact PII-shaped spans and count hits per kind — the mandatory
    pre-training scrub pass.  One chained ``regexp_replace`` projection
    (narrow, codegen); per-kind counts come from ``regexp_count`` on the
    ORIGINAL text so the report is independent of replacement order."""
    patterns = patterns or PII_PATTERNS
    scrubbed = F.col(text_col)
    for pat in patterns.values():
        scrubbed = F.regexp_replace(scrubbed, pat, replacement)
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{kind}")
        for kind, pat in patterns.items()
    ]
    return df.select(
        *[c for c in df.columns if c != text_col],
        scrubbed.alias(f"{text_col}_clean"),
        *counts,
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents contain any
    k-token shingle of a benchmark/eval set (the standard n-gram-overlap
    decontamination test before training).

    The benchmark side is tiny by construction, so its distinct shingle
    hashes BROADCAST and the corpus is scanned once with a broadcast
    semi-ish join — no corpus shuffle for the probe; the per-doc hit count
    aggregates on the already-exploded corpus shingles."""
    from .dedup import _shingle_sql

    def doc_shingles(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col(id_col).alias("_did"), F.split(F.col(text_col), " ").alias("_t"))
            .selectExpr("_did", f"explode({_shingle_sql('_t', shingle_k)}) AS _sh")
        )

    bench_sh = doc_shingles(benchmark).select("_sh").distinct()
    corpus_sh = doc_shingles(corpus).dropDuplicates(["_did", "_sh"])
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "_sh")
        .groupBy("_did")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )
    return hits.select(F.col("_did").alias(id_col), "n_contaminated_shingles")


def boilerplate_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_df: int = 10,
) -> DataFrame:
    """C4-style cross-document boilerplate removal: drop every segment
    (line, by default) whose DOCUMENT frequency exceeds ``max_df`` — nav
    bars, cookie banners, license footers repeat across thousands of pages
    and survive per-document dedup — then reassemble each document from its
    surviving segments in original order.

    ``sep`` is a literal separator (regex-escaped before ``split``).

    Scale shape: explode segments once; document frequency via
    ``count(DISTINCT id)`` per segment (two-phase partial aggregation, so
    hot segments combine map-side); the boilerplate set joins back as a
    LEFT ANTI on the segment value — under AQE a skewed hot segment
    splits, and the reassembly groupBy carries only surviving segments.
    Documents whose every segment is boilerplate drop out of the result
    entirely (both engines agree: GROUP BY over zero rows).

    Output: ``(id_col, {text_col}_clean, n_segments_kept)``."""
    import re as _re

    segs = df.select(
        F.col(id_col).alias("_did"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "_pos", "_seg"
        ),
    )
    boiler = (
        segs.groupBy("_seg")
        .agg(F.countDistinct("_did").alias("_df"))
        .where(F.col("_df") > max_df)
        .select("_seg")
    )
    kept = segs.join(boiler, "_seg", "left_anti")
    return (
        kept.groupBy("_did")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_seg"))),
                    lambda s: s["_seg"],
                ),
                sep,
            ).alias(f"{text_col}_clean"),
            F.count(F.lit(1)).alias("n_segments_kept"),
        )
        .select(F.col("_did").alias(id_col), f"{text_col}_clean", "n_segments_kept")
    )


def unigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
    oov_smoothing: float = 0.5,
) -> DataFrame:
    """Corpus-trained unigram language-model scoring — the classic KenLM-style
    perplexity-proxy quality filter (CCNet / Gopher pipelines), reduced to
    the unigram order so it stays exact, deterministic, and model-free.

    Two passes, both scale-safe:

      1. TRAIN: explode tokens -> per-token counts (map-side combined), keep
         the global top ``vocab_size`` by (count desc, token asc).  The cut
         runs as TakeOrderedAndProject (per-partition top-K, bounded merge)
         so the LM side is provably <= vocab_size rows and BROADCASTS no
         matter how large the corpus vocabulary grows.
      2. SCORE: explode document tokens, broadcast-join the LM, average
         ``ln p(tok)`` per document.  Out-of-vocabulary tokens take the
         floor ``ln(oov_smoothing / N)`` where N is the corpus token count,
         so rarer-than-vocab text is penalized, not dropped.  The only
         corpus shuffle is the final per-document aggregate (partial-agg
         combined on ``id_col``).

    Token counts are localCheckpointed: TRAIN's count table feeds both the
    vocabulary cut and the corpus-total aggregate, and without truncation
    the explode+count subtree would execute twice.

    Output: ``(id_col, n_tokens, avg_logp, oov_ratio)`` — ``avg_logp``
    rounded to 6 (higher = more typical text); ``oov_ratio`` the share of
    tokens outside the LM vocabulary."""
    tok_all = df.select(F.explode(tokens(F.col(text_col))).alias("_tok"))
    counts = (
        tok_all.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    vocab = counts.orderBy(F.desc("_c"), F.asc("_tok")).limit(vocab_size)
    total = counts.agg(F.sum("_c").alias("_N"))  # one row: corpus token count
    lm = vocab.crossJoin(F.broadcast(total)).select(
        "_tok",
        F.log(F.col("_c").cast("double") / F.col("_N").cast("double")).alias("_logp"),
    )
    doc_toks = df.select(
        F.col(id_col).alias("_did"), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    scored = doc_toks.join(F.broadcast(lm), "_tok", "left")
    # the OOV floor depends on the corpus total, so it rides in as a 1-row
    # broadcast (BroadcastNestedLoopJoin against one row — free) rather than
    # a driver-side collect
    with_floor = scored.crossJoin(
        F.broadcast(
            total.select(
                F.log(
                    F.lit(float(oov_smoothing)) / F.col("_N").cast("double")
                ).alias("_oov_logp")
            )
        )
    )
    return (
        with_floor.groupBy("_did")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.coalesce(F.col("_logp"), F.col("_oov_logp"))), 6).alias("avg_logp"),
            F.round(
                F.avg(F.when(F.col("_logp").isNull(), 1.0).otherwise(0.0)), 6
            ).alias("oov_ratio"),
        )
        .select(F.col("_did").alias(id_col), "n_tokens", "avg_logp", "oov_ratio")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repetition metrics (the Gopher/C4-style repetition
    filters): distinct-token ratio, share of the most frequent token, and
    share of the most frequent 2-gram.  Boilerplate, keyword-stuffed, and
    auto-generated pages score low distinct ratios / high top-gram shares.

    Exact and shuffle-based (explode -> per-(doc, gram) counts -> per-doc
    max), NOT a per-row O(tokens²) lambda — the aggregation is map-side
    combined, and grams are counted once however long the document is."""
    toks = df.select(F.col(id_col).alias("_did"), F.split(F.col(text_col), " ").alias("_t"))
    base = toks.select(
        "_did",
        F.size(F.col("_t")).alias("_n"),
        F.size(F.array_distinct(F.col("_t"))).alias("_nd"),
    )
    uni = (
        toks.select("_did", F.explode("_t").alias("_g"))
        .groupBy("_did", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_did")
        .agg(F.max("_c").alias("_top1"))
    )
    bigrams = F.when(
        F.size(F.col("_t")) < 2, F.array(F.concat_ws(" ", F.col("_t")))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("_t")) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("_t"), i + 1), F.element_at(F.col("_t"), i + 2)
            ),
        )
    )
    bi = (
        toks.select("_did", F.explode(bigrams).alias("_g"))
        .groupBy("_did", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_did")
        .agg(F.max("_c").alias("_top2"), F.count(F.lit(1)).alias("_nbi"))
    )
    n_d = F.col("_n").cast("double")
    return (
        base.join(uni, "_did")
        .join(bi, "_did")
        .select(
            F.col("_did").alias(id_col),
            F.col("_n").alias("n_tokens"),
            F.round(F.col("_nd") / F.greatest(n_d, F.lit(1.0)), 6).alias("distinct_ratio"),
            F.round(F.col("_top1") / F.greatest(n_d, F.lit(1.0)), 6).alias("top_token_share"),
            F.round(
                F.col("_top2")
                / F.greatest(F.greatest(n_d - 1.0, F.lit(1.0)), F.lit(1.0)),
                6,
            ).alias("top_bigram_share"),
        )
    )


def hash_embed(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    dim: int = 64,
    l2_normalize: bool = True,
) -> DataFrame:
    """Hashed bag-of-words featurization: text -> dense ``array<double>``
    of token-frequency buckets (the "hashing trick"; public technique, e.g.
    scikit-learn's HashingVectorizer / Spark MLlib's HashingTF).  Bridges
    the text surface to every embedding operator (semantic_dedup, PCA, ANN)
    without a model: deterministic, engine-stable, no vocabulary state.

    All JVM-side: explode tokens -> bucket = pmod(xxhash64(token), dim) ->
    per-(doc, bucket) counts (map-side combined) -> dense vector assembled
    from a bucket->count map.  Two keyed shuffles, both on O(docs x
    distinct-buckets) rows — never a Python hop.  ``l2_normalize=True``
    yields unit vectors so downstream cosine is a plain dot.

    Row-preservation contract: EVERY distinct input id appears in the
    output — docs with NULL text get the zero vector (explode drops their
    token rows, so the vectors left-join back onto the distinct ids; both
    sides hash on the id, no extra exchange).  Empty text tokenizes to
    ``[""]`` (split semantics shared with the DuckDB oracles) and so gets
    the one-hot ''-token vector.  Pipelines that inner-join the result
    back onto the corpus must not silently lose token-less docs."""
    base = df.select(F.col(id_col).alias("_did")).distinct()
    counts = (
        df.select(F.col(id_col).alias("_did"), tokens(F.col(text_col)).alias("_t"))
        .select("_did", F.explode("_t").alias("_tok"))
        .select("_did", F.pmod(F.xxhash64("_tok"), F.lit(dim)).alias("_b"))
        .groupBy("_did", "_b")
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    )
    vec = (
        base.join(
            counts.groupBy("_did").agg(
                F.map_from_entries(F.collect_list(F.struct("_b", "_c"))).alias("_m")
            ),
            "_did",
            "left",
        )
        .select(
            F.col("_did").alias(id_col),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                # map lookup by KEY (the bucket id), not array position;
                # a NULL map (token-less doc) coalesces to the zero vector
                lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("bigint")), F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    if l2_normalize:
        from .embeddings import l2_normalize as _l2

        vec = vec.withColumn("embedding", _l2("embedding"))
    return vec


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 512,
    oov_smoothing: float = 0.5,
) -> DataFrame:
    """Corpus-trained BIGRAM language-model scoring — one order up from
    :func:`unigram_lm_score`, catching word-order anomalies (shuffled or
    templated text scores high on unigrams but low here).  Same CCNet-style
    quality-filter role, same exact/deterministic/model-free contract.

    Conditional model: ``ln P(w2 | w1) = ln(c(w1 w2) / c(w1))`` for the
    global top ``vocab_size`` bigrams (TakeOrderedAndProject cut — the LM
    side is provably bounded and broadcasts regardless of corpus size);
    context counts come from summing the bigram table, so training is ONE
    explode + count pass.  Out-of-vocabulary bigrams take the floor
    ``ln(oov_smoothing / N)`` (N = corpus bigram count) via a 1-row
    broadcast, as in the unigram scorer.

    Output: ``(id_col, n_bigrams, avg_logp, oov_ratio)``; documents with
    fewer than 2 tokens keep a row with ``n_bigrams = 0`` and NULL scores
    (they have no word order to judge).
    """
    toks = tokens(F.col(text_col))
    pairs = F.when(
        F.size(toks) >= 2,
        F.expr(
            f"transform(sequence(1, size(split({text_col}, ' ')) - 1), "
            f"i -> concat(element_at(split({text_col}, ' '), i), ' ', "
            f"element_at(split({text_col}, ' '), i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg_all = df.select(F.col(id_col).alias("_did"), F.explode(pairs).alias("_bg"))
    counts = (
        bg_all.groupBy("_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    top = counts.orderBy(F.desc("_c"), F.asc("_bg")).limit(vocab_size)
    ctx = counts.groupBy(F.split(F.col("_bg"), " ")[0].alias("_w1")).agg(
        F.sum("_c").alias("_c1")
    )
    # top is <= vocab_size rows: broadcast it into the context join so the
    # unbounded ctx side never shuffles; the result is again <= vocab_size
    lm = (
        ctx.join(
            F.broadcast(top.withColumn("_w1", F.split(F.col("_bg"), " ")[0])),
            "_w1",
        )
        .select(
            "_bg",
            F.log(F.col("_c").cast("double") / F.col("_c1").cast("double")).alias(
                "_logp"
            ),
        )
    )
    total = counts.agg(F.sum("_c").alias("_N"))
    scored = (
        bg_all.join(F.broadcast(lm), "_bg", "left")
        .crossJoin(
            F.broadcast(
                total.select(
                    F.log(
                        F.lit(float(oov_smoothing)) / F.col("_N").cast("double")
                    ).alias("_oov_logp")
                )
            )
        )
        .groupBy("_did")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.coalesce(F.col("_logp"), F.col("_oov_logp"))), 6).alias(
                "avg_logp"
            ),
            F.round(
                F.avg(F.when(F.col("_logp").isNull(), 1.0).otherwise(0.0)), 6
            ).alias("oov_ratio"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("_did", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_logp",
            "oov_ratio",
        )
    )
