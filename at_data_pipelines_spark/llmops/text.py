"""Text analysis operators: tokenization, quality scoring, language ID,
PII redaction. All built-in-function expressions (JVM-side, codegen) —
no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]

# tiny marker lexicons for the language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "in", "to", "it", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "los", "es", "una", "por"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans"],
}


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


# BPE-ish pre-tokenization: letter runs, digit runs, single non-alnum marks
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_tokens(text_col: str | Column) -> Column:
    """Regex pre-tokenization (the GPT-style split before BPE merges):
    letter runs / digit runs / punctuation marks. A cheap proxy for
    LLM token counting without a tokenizer library."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / stopword / punctuation features for corpus filtering."""
    t = tokens(text_col)
    sw = F.array([F.lit(s) for s in STOPWORDS_EN])
    n_tok = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "avg_token_len": (n_chars - (n_tok - 1)).cast("double") / n_tok,
            "stopword_ratio": n_stop.cast("double") / n_tok,
            "punct_ratio": n_punct.cast("double") / n_chars,
        }
    )


def langid(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Marker-lexicon language ID: argmax of marker-hit counts, 'und' when
    no marker fires. Deterministic tiebreak by language code."""
    t = tokens(text_col)
    scores = []
    for code in sorted(LANG_MARKERS):
        markers = F.array([F.lit(m) for m in LANG_MARKERS[code]])
        scores.append(
            F.struct(
                F.size(F.filter(t, lambda x: F.array_contains(markers, x))).alias("hits"),
                F.lit(code).alias("code"),
            )
        )
    # array_max on structs compares (hits, code) lexicographically, so hit
    # ties resolve to the lexicographically greatest code — deterministic
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out_col, F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher/RefinedWeb-style within-document repetition signals:

    - ``top_gram_frac`` — occurrences of the single most frequent word
      n-gram over all n-gram occurrences (boilerplate headers, degenerate
      loops);
    - ``dup_gram_frac`` — fraction of n-gram occurrences whose n-gram
      appears more than once in the document.

    Token-count based (not character based) so the metric is invariant to
    which of several tied most-frequent n-grams is picked. Documents with
    fewer than ``n`` tokens have no n-grams and are absent from the
    output (callers left-join if they need them).

    Scale: explode n-gram OCCURRENCES (cheap HOF over a pre-split token
    column — see ``word_shingle_array``'s CSE note), then two partial-agg
    groupBys keyed by (doc, gram) and doc — uniform keys, map-side
    combine, no joins.
    """
    from .dedup import word_shingle_array

    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_w"))
    grams = toks.select(
        F.col(id_col),
        F.explode(
            # occurrences, NOT distinct — frequency is the signal here
            F.when(
                F.size(F.col("_w")) >= n,
                word_shingle_array(F.col("_w"), n, distinct=False),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    per = grams.groupBy(id_col, "g").agg(F.count("*").alias("_c"))
    agg = per.groupBy(id_col).agg(
        F.max("_c").alias("_max_c"),
        F.sum("_c").alias("n_grams"),
        F.coalesce(F.sum(F.when(F.col("_c") > 1, F.col("_c"))), F.lit(0)).alias("_dup"),
    )
    return agg.select(
        F.col(id_col),
        "n_grams",
        F.round(F.col("_max_c").cast("double") / F.col("n_grams"), 6).alias("top_gram_frac"),
        F.round(F.col("_dup").cast("double") / F.col("n_grams"), 6).alias("dup_gram_frac"),
    )


def decontamination_overlap(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word n-grams also occur anywhere in the held-out eval set.
    Returns (id, n_eval_overlap) for documents with ≥1 overlap; a corpus
    doc absent from the output is clean.

    Scale shape: the eval side collapses to DISTINCT n-gram hashes
    (benchmarks are tiny next to a pre-training corpus — broadcastable),
    and the corpus side joins on the 8-byte hash, so the shuffle carries
    hashes, not strings. This is the industry-standard n-gram-collision
    decontamination pass run before training."""
    from .dedup import word_shingles

    cg = word_shingles(corpus, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("_h")
    )
    eg = (
        word_shingles(eval_docs, text_col, id_col, n)
        .select(F.xxhash64("shingle").alias("_h"))
        .distinct()
    )
    return (
        cg.join(F.broadcast(eg), "_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_eval_overlap"))
    )


# PII patterns: conservative, character-class-only regexes (portable
# across Java/RE2 engines, no catastrophic backtracking). Each is a
# (pattern, replacement-tag) pair applied in order.
PII_PATTERNS: list[tuple[str, str]] = [
    # emails before phones (an email's digits must not half-match a phone)
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d[ -]?){12,18}\d\b", "<CARD>"),  # 13-19 digit card-like runs
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    # trailing segment only consumes its separator when digits follow
    (r"(?:\+\d{1,3}[ -]?)?(?:\(\d{2,4}\)[ -]?)?\d{3}[ -]\d{3,4}(?:[ -]?\d{1,4})?\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def redact_pii(text_col: str | Column = "text") -> Column:
    """Scrub common PII shapes (emails, card-like digit runs, SSNs,
    phone numbers, IPv4s) into typed tags — the standard hygiene pass
    before a corpus leaves curation. Pure chained ``regexp_replace``
    (JVM, codegen); order matters and is fixed (emails before phones so
    an address's digits are not half-eaten).

    Deliberately conservative: high-precision shapes only — a recall-
    tuned PII system (NER models, checksum validation) sits outside an
    engine's scope; this is the operator it would plug into.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pattern, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, tag)
    return c


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """Corpus-LM quality score (the CCNet-style perplexity-proxy filter,
    with the LM trained on the corpus itself): per document, the mean
    log-probability of its tokens under the corpus unigram distribution
    with add-``smoothing`` (Jelinek-style) smoothing.

    Low scores flag documents full of rare/garbage tokens; unusually high
    scores flag degenerate repetition of common tokens — both standard
    pre-training cut points.

    Scale shape, two passes over the token relation:

    1. vocabulary pass — ``groupBy(token)`` counts + a scalar total
       (map-side combine; vocab is Zipf but a count aggregate, not a
       pair join, so the hot token costs one combiner cell per task);
    2. scoring pass — tokens join the vocab on the token key and
       aggregate ``avg(log p)`` per document. The vocab frame is
       vocabulary-sized, usually broadcastable; Spark picks the
       strategy from stats.

    Both passes reuse one explode of the pre-split token column.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("_tf"))
    totals = vocab.agg(
        F.sum("_tf").alias("_n"), F.count("*").alias("_v")
    )
    # p(tok) = (tf + s) / (N + s·V); log computed JVM-side
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.log(
                (F.col("_tf") + F.lit(smoothing))
                / (F.col("_n") + F.lit(smoothing) * F.col("_v"))
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.avg("_lp").alias("mean_logprob"), F.count("*").alias("n_scored_tokens")
    )
