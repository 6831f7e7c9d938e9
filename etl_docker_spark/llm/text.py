"""Text-analysis operators: tokenization, language-ID, quality, fingerprints.

All pure Column expressions (whole-stage codegen; zero Python in the hot
path). Designed so every op has a bit-identical ANSI-SQL mirror for the
DuckDB oracle harness — e.g. the fingerprint hash is a polynomial rolling
hash over code points, not a JVM-specific hash function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_docker_spark.functions.dates import _c

# BPE-ish token pattern: word runs or single non-word non-space symbols.
TOKEN_PATTERN = r"\w+|[^\w\s]"

# Tiny in-plan stopword lists for the n-gram language heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se", "del", "un"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
}


def tokens_of(col: Column | str, pattern: str = TOKEN_PATTERN) -> Column:
    """Array of tokens via regex extraction (BPE-ish wordpiece boundary)."""
    return F.regexp_extract_all(_c(col), F.lit(pattern), F.lit(0))


def token_count(col: Column | str, pattern: str = TOKEN_PATTERN) -> Column:
    """Token count as BIGINT (pinned wide so engines agree on the type)."""
    return F.size(tokens_of(col, pattern)).cast("long")


def stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens (with multiplicity) that are in `words`."""
    return F.size(F.filter(tokens, lambda t: t.isin(*words))).cast("long")


def lang_guess(tokens: Column) -> Column:
    """Language-ID heuristic: argmax of stopword hits across LANG_STOPWORDS.

    Tie-break order is the dict order (en > es > fr), stated explicitly so the
    oracle can mirror it. Returns 'und' when no list scores a hit.
    """
    hits = {lang: stopword_hits(tokens, words) for lang, words in LANG_STOPWORDS.items()}
    en, es, fr = hits["en"], hits["es"], hits["fr"]
    return (
        F.when((en >= es) & (en >= fr) & (en > 0), F.lit("en"))
        .when((es >= fr) & (es > 0), F.lit("es"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def poly_fingerprint(col: Column | str, max_chars: int = 64,
                     modulus: int = 2_147_483_647) -> Column:
    """Document fingerprint: polynomial rolling hash over code points.

    acc = (acc*31 + codepoint) % modulus, left fold over the first
    `max_chars` characters. The modulus keeps intermediates < 2^36 so the
    arithmetic never overflows a 64-bit signed int (ANSI mode safe) and the
    same fold is expressible in any SQL engine with a list reduce.
    """
    chars = F.split(F.substring(_c(col), 1, max_chars), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(modulus),
    )


def bigram_lm_scores(df, id_col: str = "doc_id", text_col: str = "text",
                     scale: int = 1_000_000):
    """Corpus bigram-LM predictability score per document — EXACT arithmetic.

    The classical per-doc log-likelihood sum(log P(w2|w1)) is not
    cross-engine verifiable (libm vs java.lang.Math differ in the last
    ulp), so the score is kept in integers: each bigram occurrence
    contributes floor(scale * c(w1,w2) / c(w1)) — the MLE transition
    probability in fixed-point — and a document's score is the sum over its
    bigram occurrences. Rankings match the linear-probability LM; the
    arithmetic is bit-identical in any engine with 64-bit integer division.

    Scale shape: one corpus pass builds per-doc bigram multiset (doc,w1,w2,k)
    — exchange-free aggregation when the input is partitioned by id, then
    localCheckpoint'ed so the two consumers (corpus counts + the scoring
    join) don't recompute it. Corpus counts shuffle on the bigram (narrow
    rows, map-side combine); the scoring join and the final per-doc rollup
    are the genuinely-required shuffles of a distributed LM scorer.

    Output: (id_col, n_bigrams BIGINT, lm_score BIGINT); docs with < 2
    tokens have no bigrams and are absent (mirrors the SQL oracle).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    df = df.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
    toks = F.split(_c(text_col), " ")
    tok_rows = df.select(F.col(id_col).alias("doc"),
                         F.posexplode(toks).alias("pos", "w1"))
    w = Window.partitionBy("doc").orderBy("pos")
    big = (tok_rows.select("doc", "w1", F.lead("w1").over(w).alias("w2"))
           .filter(F.col("w2").isNotNull()))
    db = (big.groupBy("doc", "w1", "w2")
          .agg(F.count("*").alias("k")).localCheckpoint())
    counts2 = db.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    counts1 = counts2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    probs = counts2.join(counts1, "w1")
    return (
        db.join(probs, ["w1", "w2"])
        .groupBy("doc")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * F.expr(f"({scale} * c2) div c1"))
            .cast("long").alias("lm_score"),
        )
        .select(F.col("doc").alias(id_col), "n_bigrams", "lm_score")
    )


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring feature bundle (length/stopword/uniqueness ratios).

    Returns named Column expressions; callers select the ones they need.
    Ratios are double divisions of BIGINT counts — deterministic across
    engines given identical counts.
    """
    t = _c(text)
    toks = tokens_of(t)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(t).cast("long")
    n_stop = stopword_hits(toks, LANG_STOPWORDS["en"])
    n_unique = F.size(F.array_distinct(toks)).cast("long")
    stop_ratio = n_stop / n_tokens
    unique_ratio = n_unique / n_tokens
    score = stop_ratio * 0.5 + unique_ratio * 0.5
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_stopwords": n_stop,
        "n_unique_tokens": n_unique,
        "stop_ratio": stop_ratio,
        "unique_ratio": unique_ratio,
        "quality_score": score,
    }
