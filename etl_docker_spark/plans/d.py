"""LLM data-curation queries (the d family).

Exact, MinHash/LSH, SimHash, prefix-filter and fuzzy (edit-distance,
transposition) dedup; substring-run dedup and decontamination; quality,
language, repetition and perplexity signals; BPE tokenization; sketches
(KMV, HLL, theta, count-min, bitmaps); sampling, mixing and token
budgets; trained classifiers with calibrated thresholds and drift.

Every builder sits next to the DuckDB oracle that checks it. `QUERIES`
maps each query name to its `(builder, oracle)` pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_docker_spark.llm import (exact_dup_groups, lang_guess,
                                  minhash_lsh_pairs, poly_fingerprint,
                                  tokens_of)
from etl_docker_spark.llm.dedup import MINHASH_COEFFS, MINHASH_P, simhash_table
from etl_docker_spark.llm.text import LANG_STOPWORDS, quality_features
from etl_docker_spark.plans._util import (_D47_HASHED_CTES, _D64_DOMAIN,
                                          _D67_LGK, _DOT2, _HLL_ALPHA_NUM,
                                          _HLL_M, _HLL_RHO_MAX,
                                          md5_bucket_sql,
                                          prefix_jaccard_pairs_frame, t)


# ---------------------------------------------------------------- d01


def d01_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup via digest group-by (hash-groupBy; narrow shuffle)."""
    return exact_dup_groups(t(spark, sf, "documents"), "doc_id", "text")


D01_SQL = """
SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""

# ---------------------------------------------------------------- d02


def d02_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting (BPE-ish regex) aggregated per language."""
    docs = t(spark, sf, "documents").select(
        "lang",
        F.size(tokens_of("text")).cast("long").alias("n_tokens"))
    return (docs.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.max("n_tokens").alias("max_tokens"),
                 (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens")))


# The DuckDB twin of `llm.text.tokens_of` on the `text` column: the
# oracles' one tokenizer.
_TOKENS_DUCK = r"regexp_extract_all(text, '\w+|[^\w\s]')"

D02_SQL = rf"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM (SELECT lang, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens
      FROM documents)
GROUP BY lang
"""

# ---------------------------------------------------------------- d03


def d03_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document quality features: ratios of exact integer counts."""
    feats = quality_features(F.col("text"))
    return t(spark, sf, "documents").select(
        "doc_id",
        feats["n_chars"].alias("n_chars_calc"),
        feats["n_tokens"].alias("n_tokens"),
        feats["n_stopwords"].alias("n_stopwords"),
        feats["n_unique_tokens"].alias("n_unique_tokens"),
        feats["stop_ratio"].alias("stop_ratio"),
        feats["unique_ratio"].alias("unique_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


_EN = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
D03_SQL = rf"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       n_tokens, n_stopwords, n_unique_tokens,
       n_stopwords / n_tokens AS stop_ratio,
       n_unique_tokens / n_tokens AS unique_ratio,
       (n_stopwords / n_tokens) * 0.5 + (n_unique_tokens / n_tokens) * 0.5 AS quality_score
FROM (
  SELECT doc_id, text,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, tk -> list_contains([{_EN}], tk))) AS BIGINT) AS n_stopwords,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens
  FROM (SELECT doc_id, text, {_TOKENS_DUCK} AS toks FROM documents)
)
"""

# ---------------------------------------------------------------- d04


def d04_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column (confusion matrix)."""
    docs = t(spark, sf, "documents").select(
        "lang", lang_guess(tokens_of("text")).alias("pred_lang"))
    return docs.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))


def _hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"CAST(len(list_filter(toks, tk -> list_contains([{words}], tk))) AS BIGINT)"


D04_SQL = rf"""
SELECT lang, pred_lang, COUNT(*) AS n_docs
FROM (
  SELECT lang,
    CASE WHEN en >= es AND en >= fr AND en > 0 THEN 'en'
         WHEN es >= fr AND es > 0 THEN 'es'
         WHEN fr > 0 THEN 'fr'
         ELSE 'und' END AS pred_lang
  FROM (
    SELECT lang, {_hits('en')} AS en, {_hits('es')} AS es, {_hits('fr')} AS fr
    FROM (SELECT lang, {_TOKENS_DUCK} AS toks FROM documents)
  )
)
GROUP BY lang, pred_lang
"""

# ---------------------------------------------------------------- d05


def d05_doc_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash fingerprints (first 64 chars), grouped to spot collisions."""
    fp = t(spark, sf, "documents").select(
        "doc_id", poly_fingerprint("text", 64).alias("fp"))
    return (fp.groupBy("fp")
            .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs")))


D05_SQL = """
SELECT fp, MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
FROM (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(regexp_split_to_array(substring(text, 1, 64), ''),
                                       ch -> CAST(ascii(ch) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
  FROM documents
)
GROUP BY fp
"""

# ---------------------------------------------------------------- d06


def d06_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidates verified by exact shingle Jaccard."""
    return minhash_pairs_frame(spark, sf)


def minhash_pairs_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Per-session memoized MinHash-LSH pair frame (default 16 hashes /
    4 bands / 3-shingles). d06 (pairs), d08 (clusters) and d14 (corpus
    dedup) all consume the same candidate graph; the shingle+md5 corpus
    pass — their dominant cost — runs once per session. Values are
    deterministic, so cached == rebuilt for the gate."""
    from etl_docker_spark.llm.index_cache import memo_frame

    return memo_frame(
        spark, f"minhash_pairs:{sf}",
        lambda: minhash_lsh_pairs(t(spark, sf, "documents"), "doc_id",
                                  "text", num_hashes=16, bands=4,
                                  shingle_n=3), sf_dir=sf)


_MH_COLS = ",\n         ".join(
    f"list_aggregate(list_transform(hh, h -> ({a} * h + {b}) % {MINHASH_P}), 'min') AS mh{j}"
    for j, (a, b) in enumerate(MINHASH_COEFFS)
)
_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, "
    f"concat_ws('-', mh{4 * b}, mh{4 * b + 1}, mh{4 * b + 2}, mh{4 * b + 3}) AS key FROM sig"
    for b in range(4)
)

D06_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                                      i -> array_to_string(tk[i:i+2], ' '))) AS sh
  FROM toks
),
hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS hh
  FROM sh
),
sig AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM hashed
),
bands AS (
  {_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
),
hs AS (
  SELECT doc_id, list_distinct(hh) AS hs FROM hashed
),
ver AS (
  SELECT doc_a, doc_b,
         CAST(len(list_filter(sa.hs, h -> list_contains(sb.hs, h))) AS BIGINT) AS inter_n,
         CAST(len(sa.hs) + len(sb.hs) AS BIGINT) AS total_n
  FROM cand
  JOIN hs sa ON sa.doc_id = doc_a
  JOIN hs sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, inter_n, total_n - inter_n AS union_n
FROM ver WHERE 2 * inter_n >= total_n - inter_n
"""


# ---------------------------------------------------------------- d09


def d09_token_rarity(spark: SparkSession, sf: str) -> DataFrame:
    """Two-pass corpus statistics: global term frequencies joined back onto
    documents — the rare-token-filtering primitive of a training pipeline.

    Pass 1 aggregates corpus TF; pass 2 re-joins it to each document's
    tokens. All outputs are integer-exact (BIGINT), so the oracle matches
    without float sum-order concerns.
    """
    docs = t(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    joined = toks.join(tf, "tok")
    return (joined.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.min("tf").alias("min_tf"),
                 F.max("tf").alias("max_tf"),
                 F.sum("tf").alias("sum_tf")))


D09_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok)
SELECT doc_id, COUNT(*) AS n_tokens,
       MIN(tf.tf) AS min_tf, MAX(tf.tf) AS max_tf,
       CAST(SUM(tf.tf) AS BIGINT) AS sum_tf
FROM toks JOIN tf ON toks.tok = tf.tok
GROUP BY doc_id
"""

# ---------------------------------------------------------------- d10


def d10_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM predictability score per document (fixed-point integer
    arithmetic — see llm.text.bigram_lm_scores for the determinism design)."""
    return bigram_scores_frame(spark, sf)


def bigram_scores_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Per-session memoized bigram-LM score table — the trained-LM scoring
    pass d10 (scores) and d24 (perplexity buckets) both read, like any
    quality-scorer output a curation pipeline materializes once."""
    from etl_docker_spark.llm.index_cache import memo_frame
    from etl_docker_spark.llm.text import bigram_lm_scores

    return memo_frame(spark, f"bigram_scores:{sf}",
                      lambda: bigram_lm_scores(t(spark, sf, "documents")),
                      sf_dir=sf)


D10_SQL = """
WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(a)), i -> a[i]))     AS w1,
         unnest(list_transform(range(1, len(a)), i -> a[i + 1])) AS w2
  FROM arr
),
db AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM big GROUP BY doc_id, w1, w2),
c2 AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c2 FROM db GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1)
SELECT db.doc_id,
       CAST(SUM(db.k) AS BIGINT) AS n_bigrams,
       CAST(SUM(db.k * ((1000000 * c2.c2) // c1.c1)) AS BIGINT) AS lm_score
FROM db
JOIN c2 ON db.w1 = c2.w1 AND db.w2 = c2.w2
JOIN c1 ON db.w1 = c1.w1
GROUP BY db.doc_id
"""


# ---------------------------------------------------------------- d07 simhash


def d07_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit SimHash per document (portable md5 bit source, §dedup).

    Uses the codegen-friendly explode+aggregate path (simhash_table); the
    column-expression variant (simhash64) computes the same value but folds
    a 64-lane lambda per token — 10x slower on a corpus pass.
    """
    return _simhash_frame(spark, sf)


def _simhash_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Per-session memoized (doc_id, simhash) corpus fingerprint table —
    the md5-per-token pass is the whole cost of the simhash family, and
    d07 (table) + d11 (pairs) share one artifact, like any fingerprint
    store a dedup service keeps."""
    from etl_docker_spark.llm.index_cache import memo_frame

    def build() -> DataFrame:
        docs = t(spark, sf, "documents")
        # CPU fan-out, partitioned BY ID so simhash_table's groupBy(doc_id)
        # over the exploded tokens inherits the partitioning, no shuffle
        docs = docs.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id"))
        return simhash_table(docs, "doc_id", "text")

    return memo_frame(spark, f"simhash_table:{sf}", build, sf_dir=sf)


D07_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS h0,
         CAST('0x' || substring(md5(tok), 9, 8) AS BIGINT) AS h1
  FROM toks
),
lanes AS (
  SELECT doc_id, b.i AS i,
         SUM(CASE WHEN ((h0 >> b.i) & 1) = 1 THEN 1 ELSE -1 END) AS cnt0,
         SUM(CASE WHEN ((h1 >> b.i) & 1) = 1 THEN 1 ELSE -1 END) AS cnt1
  FROM h, (SELECT unnest(generate_series(0, 31)) AS i) b
  GROUP BY doc_id, b.i
),
bits AS (
  SELECT doc_id,
         CASE WHEN cnt0 > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END AS w0,
         CASE WHEN cnt1 > 0 THEN
           CASE WHEN i = 31 THEN CAST(-9223372036854775808 AS BIGINT)
                ELSE (CAST(1 AS BIGINT) << (i + 32)) END
         ELSE 0 END AS w1
  FROM lanes
)
SELECT doc_id, CAST(SUM(w0) + SUM(w1) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""

# ---------------------------------------------------------------- d11 simhash pairs


def d11_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash hamming-band near-dup pairs — the banding/verify stage on top
    of d07's fingerprints (completeness guarantee: 3 < 4 bands, pigeonhole;
    see llm.dedup.simhash_near_dup_pairs)."""
    from etl_docker_spark.llm.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(t(spark, sf, "documents"), "doc_id", "text",
                                  sig=_simhash_frame(spark, sf))


# the D07 fingerprint pipeline (same CTEs) + banding, candidates, verify
_D07_CTES, _ = D07_SQL.strip().removeprefix("WITH").rsplit(
    "SELECT doc_id, CAST(SUM(w0) + SUM(w1) AS BIGINT) AS simhash", 1)
D11_SQL = f"""
WITH {_D07_CTES}
, sigs AS (
  SELECT doc_id, CAST(SUM(w0) + SUM(w1) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.i AS band, (simhash >> (16 * b.i)) & 65535 AS k
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS i) b
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.k = y.k AND x.doc_id < y.doc_id
)
SELECT cand.doc_a, cand.doc_b,
       CAST(bit_count(xor(sa.simhash, sc.simhash)) AS BIGINT) AS hamming
FROM cand
JOIN sigs sa ON cand.doc_a = sa.doc_id
JOIN sigs sc ON cand.doc_b = sc.doc_id
WHERE bit_count(xor(sa.simhash, sc.simhash)) <= 3
"""

# ---------------------------------------------------------------- d12 multimodal


def d12_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing under the gate: documents become opaque binary
    payloads with typed metadata; feature extraction runs through the REAL
    distributed path (mapInPandas over Arrow batches, the hook where actual
    codecs plug in) and frame sampling through the column-algebra planner.
    Outputs are integer-exact (byte count, md5-derived checksum, frame
    count), so the DuckDB oracle verifies the Python decode path
    value-for-value.
    """
    from etl_docker_spark.llm.multimodal import extract_features, sample_frames

    docs = t(spark, sf, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("video").alias("kind"),
            F.lit("video/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.col("doc_id") % 5000).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media.select("media_id", "content"))
    frames = (sample_frames(media, every_ms=1000)
              .groupBy("media_id").agg(F.count("*").alias("n_frames")))
    return feats.drop("feature").join(frames, "media_id")


D12_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(('0x' || substring(md5(text), 1, 8))::VARCHAR AS BIGINT) AS checksum,
       CAST((doc_id % 5000) // 1000 + 1 AS BIGINT) AS n_frames
FROM documents
"""


# ---------------------------------------------------------------- d08 clusters


def d08_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph (min-label propagation + pointer jumping, run to a fixed
    point — `operators/graph.py`; it raises rather than returning
    fragmented components if the round cap is ever hit).

    Output: (doc_id, cluster_id) for every doc in at least one pair,
    cluster_id = min doc_id of its component.
    """
    from etl_docker_spark.llm.index_cache import memo_frame
    from etl_docker_spark.operators.graph import connected_components

    def build() -> DataFrame:
        pairs = minhash_pairs_frame(spark, sf)
        labels = connected_components(pairs, src="doc_a", dst="doc_b")
        return labels.select(F.col("node").alias("doc_id"),
                             F.col("label").alias("cluster_id"))

    # memoized as a frame of its own: d14 consumes the cluster table, and
    # the label-propagation loop (driver-side iteration) shouldn't re-run
    # for it
    return memo_frame(spark, f"d08_clusters:{sf}", build, sf_dir=sf)


# the D06 pipeline (same CTEs) + recursive reachability for components
_D06_BODY = D06_SQL.strip().removeprefix("WITH").rsplit("SELECT doc_a, doc_b,", 1)[0]
D08_SQL = f"""
WITH RECURSIVE {_D06_BODY}
, pairs AS (
  SELECT doc_a, doc_b FROM ver WHERE 2 * inter_n >= total_n - inter_n
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a AS node, b AS other FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
)
SELECT node AS doc_id, LEAST(node, MIN(other)) AS cluster_id
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------- d13

# RE2-and-Java-compatible patterns (no lookaround, no backrefs): the same
# text runs through Spark's regexp_replace and DuckDB's (with 'g').
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^\s]+"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def scrub_pii(col, token: str = "[PII]"):
    """Redact emails, then URLs, then phone shapes (order matters: an email
    inside a URL query string must not leave a dangling host)."""
    out = F.regexp_replace(col, PII_EMAIL, token)
    out = F.regexp_replace(out, PII_URL, token)
    return F.regexp_replace(out, PII_PHONE, token)


def d13_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing over the documents table.

    The synthetic corpus has no PII, so the query plants a deterministic
    email + phone + URL per document (derived from doc_id) and then
    scrubs — the gate verifies detection counts AND the cleaned text
    byte-for-byte. Pure Column expressions, codegen, one scan, no shuffle.
    """
    docs = t(spark, sf, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or call 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" see https://ex.example.com/u/"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return dirty.select(
        "doc_id",
        (F.regexp_count("text", F.lit(PII_EMAIL))
         + F.regexp_count("text", F.lit(PII_URL))
         + F.regexp_count("text", F.lit(PII_PHONE))).cast("long")
        .alias("n_pii"),
        scrub_pii(F.col("text")).alias("clean_text"),
    )


D13_SQL = f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || ' see https://ex.example.com/u/' || CAST(doc_id AS VARCHAR)
           AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}'))
          + len(regexp_extract_all(text, '{PII_URL}'))
          + len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_pii,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{PII_EMAIL}', '[PII]', 'g'),
           '{PII_URL}', '[PII]', 'g'),
           '{PII_PHONE}', '[PII]', 'g') AS clean_text
FROM dirty
"""


# ---------------------------------------------------------------- d15


def d15_repetition_signals(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition/boilerplate quality signals per document (the
    Gopher-rule family): token count, distinct-token count, most-frequent-
    token fraction, distinct-bigram fraction. High top-token or low
    distinct-bigram fractions flag boilerplate/spam for corpus filtering.

    Fractions are fixed-point parts-per-million via integer division —
    bit-identical across engines (no float division). One corpus pass
    builds the token rows (localCheckpoint); token and bigram stats
    aggregate narrow (doc, term, count) rows with map-side combine. Docs
    with < 2 tokens have no bigram row and are absent (inner join, mirrors
    the oracle).
    """
    from pyspark.sql import Window

    docs = t(spark, sf, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    tok_rows = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split("text", " ")).alias("pos", "w1"),
    ).localCheckpoint()

    tstats = (tok_rows.groupBy("doc", "w1").agg(F.count("*").alias("c"))
              .groupBy("doc")
              .agg(F.sum("c").cast("long").alias("n_tokens"),
                   F.count("*").cast("long").alias("n_distinct_tokens"),
                   F.max("c").cast("long").alias("top")))
    w = Window.partitionBy("doc").orderBy("pos")
    bstats = (tok_rows
              .select("doc", "w1", F.lead("w1").over(w).alias("w2"))
              .filter(F.col("w2").isNotNull())
              .groupBy("doc", "w1", "w2").agg(F.count("*").alias("k"))
              .groupBy("doc")
              .agg(F.sum("k").cast("long").alias("n_bigrams"),
                   F.count("*").cast("long").alias("n_distinct_bigrams")))
    return (tstats.join(bstats, "doc")
            .select(F.col("doc").alias("doc_id"), "n_tokens",
                    "n_distinct_tokens",
                    F.expr("CAST((1000000 * top) DIV n_tokens AS BIGINT)")
                    .alias("top_token_pm"),
                    F.expr("CAST((1000000 * n_distinct_bigrams) "
                           "DIV n_bigrams AS BIGINT)")
                    .alias("distinct_bigram_pm")))


D15_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
tstats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
         CAST(MAX(c) AS BIGINT) AS top
  FROM tc GROUP BY doc_id
),
lists AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS bg
  FROM lists WHERE len(l) >= 2
),
bc AS (SELECT doc_id, bg, COUNT(*) AS k FROM big GROUP BY doc_id, bg),
bstats AS (
  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams
  FROM bc GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens,
       CAST((1000000 * t.top) // t.n_tokens AS BIGINT) AS top_token_pm,
       CAST((1000000 * b.n_distinct_bigrams) // b.n_bigrams AS BIGINT)
         AS distinct_bigram_pm
FROM tstats t JOIN bstats b USING (doc_id)
"""


# ---------------------------------------------------------------- d14


def d14_dedup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END corpus deduplication: drop every near-duplicate document
    except its cluster's canonical member (min doc_id) — the operation a
    training pipeline actually runs on 100 TB. Survivors = docs in no
    cluster, plus each cluster's canonical.

    Composition of existing verified pieces: MinHash-LSH pairs -> connected
    components (d08) -> broadcast anti-join of the loser set onto the
    corpus (the cluster table is tiny relative to the corpus — pairs only).
    """
    clusters = d08_dup_clusters(spark, sf)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")) \
        .select("doc_id")
    docs = t(spark, sf, "documents")
    return (docs.join(F.broadcast(losers), "doc_id", "left_anti")
            .select("doc_id", "lang",
                    F.length("text").cast("long").alias("n_chars")))


def _d14_sql() -> str:
    body = D08_SQL.strip().removeprefix("WITH RECURSIVE")
    head, tail = body.rsplit("SELECT node AS doc_id,", 1)
    return f"""
WITH RECURSIVE {head.strip()},
clusters AS (SELECT node AS doc_id, {tail}),
losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
SELECT d.doc_id, d.lang, CAST(len(d.text) AS BIGINT) AS n_chars
FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


# ---------------------------------------------------------------- d16

_KMV_K = 64
_KMV_RANGE = float(1 << 32)


def d16_kmv_distinct_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type:
    estimate |distinct users| from the k smallest md5 hash values.

    The deterministic, mergeable answer to approx_count_distinct: HLL
    registers are engine-private, but "the k smallest values of a shared
    hash" is engine-neutral state — estimate (k-1) * 2^32 / h_(k), exact
    when fewer than k distinct values exist. Two-stage k-smallest keeps it
    scale-shaped: per-(group, salt) top-k first (parallel windows over
    small partitions), then top-k of the <= k*salts survivors — no group
    ever sorts more than k*salts rows at once, the same merge that makes
    KMV sketches unionable across partitions. Estimator quality is
    unit-tested (tests/test_operators.py); the gate pins exactness.
    """
    du = (t(spark, sf, "events")
          .select("event_type", "user_id").distinct())
    h = du.select(
        "event_type", "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")
                                 .cast("binary")), 1, 8), 16, 10)
        .cast("long").alias("h"),
        F.pmod("user_id", F.lit(8)).alias("salt"),
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy("h", "user_id")
    stage1 = (h.withColumn("rn", F.row_number().over(w1))
              .filter(F.col("rn") <= _KMV_K).drop("rn"))
    w2 = Window.partitionBy("event_type").orderBy("h", "user_id")
    kth = (stage1.withColumn("rn", F.row_number().over(w2))
           .filter(F.col("rn") <= _KMV_K)
           .groupBy("event_type")
           .agg(F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk")))
    exact = du.groupBy("event_type").agg(
        F.count("*").cast("long").alias("exact_distinct"))
    return (exact.join(kth, "event_type")
            .select(
                "event_type", "exact_distinct",
                F.when(F.col("exact_distinct") < _KMV_K,
                       F.col("exact_distinct").cast("double"))
                .otherwise(F.lit(float(_KMV_K - 1) * _KMV_RANGE)
                           / F.col("hk"))
                .alias("est_distinct")))


D16_SQL = f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS h
  FROM du
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY h, user_id) AS rn
  FROM h
),
kth AS (
  SELECT event_type,
         MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
  FROM r GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM du GROUP BY event_type
)
SELECT e.event_type, e.exact_distinct,
       CASE WHEN e.exact_distinct < {_KMV_K}
            THEN CAST(e.exact_distinct AS DOUBLE)
            ELSE {float(_KMV_K - 1)} * {_KMV_RANGE} / k.hk
       END AS est_distinct
FROM exact e JOIN kth k USING (event_type)
"""

# ---------------------------------------------------------------- d17

# per-language keep rates in parts-per-million (integer compare — exact).
_SAMPLE_PPM = {"en": 250_000, "es": 500_000, "fr": 750_000,
               "de": 500_000, "zh": 100_000}
_SAMPLE_DEFAULT_PPM = 100_000


def d17_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: keep each document iff
    md5(doc_id) mod 1e6 falls under its language's keep-rate.

    How a training pipeline downsamples over-represented languages
    REPRODUCIBLY: the keep decision is a pure function of the stable id —
    re-runs, retries, and other engines select the identical subset (the
    gate proves it), unlike rand()-based Bernoulli sampling. Embarrassingly
    parallel: a codegen'd filter on the scan, no shuffle, no state.
    """
    rate = F.lit(_SAMPLE_DEFAULT_PPM)
    for lang, ppm in _SAMPLE_PPM.items():
        rate = F.when(F.col("lang") == lang, F.lit(ppm)).otherwise(rate)
    docs = t(spark, sf, "documents")
    return (docs.withColumn(
                "sample_key",
                F.pmod(F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                                .cast("binary")), 1, 8),
                              16, 10).cast("long"),
                       F.lit(1_000_000)))
            .filter(F.col("sample_key") < rate)
            .select("doc_id", "lang", "source", "sample_key"))


_D17_CASE = " ".join(
    f"WHEN '{lang}' THEN {ppm}" for lang, ppm in _SAMPLE_PPM.items())
D17_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, source,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 1000000 AS sample_key
  FROM documents
)
SELECT doc_id, lang, source, sample_key
FROM keyed
WHERE sample_key < CASE lang {_D17_CASE} ELSE {_SAMPLE_DEFAULT_PPM} END
"""

# ---------------------------------------------------------------- d18


def d18_token_budget_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus cut: rank documents by quality score and keep
    the best until half the corpus's token mass is spent.

    The last step of a curation pipeline — "give me the best N tokens" —
    as a distributed prefix sum (operators/prefix.py): range-partition by
    the ranking, local running sums, per-partition offsets. The naive
    `SUM OVER (ORDER BY ...)` global window is ONE task at 100 TB; this
    shape stays parallel. Budget test is `2*cum <= total` in BIGINTs —
    no float division to disagree on. Ranking ties break on doc_id, so
    the cut is a strict total order (reproducible manifest).
    """
    from etl_docker_spark.llm.text import quality_features
    from etl_docker_spark.operators.prefix import prefix_sum_ordered

    docs = t(spark, sf, "documents")
    feats = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id", feats["n_tokens"].alias("n_tokens"),
        feats["quality_score"].alias("quality_score"))
    cum = prefix_sum_ordered(
        scored, [F.desc("quality_score"), F.asc("doc_id")],
        "n_tokens", out_col="cum_tokens")
    total = scored.agg(F.sum("n_tokens").alias("__total"))
    return (cum.crossJoin(F.broadcast(total))
            .filter(F.lit(2) * F.col("cum_tokens") <= F.col("__total"))
            .select("doc_id", "n_tokens", "cum_tokens"))


_D18_EN = ", ".join(f"'{w}'" for w in
                    ("the", "and", "of", "to", "a", "in", "is", "it",
                     "that", "for"))
D18_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks
  FROM documents
),
q AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         (CAST(len(list_filter(toks, tk -> list_contains([{_D18_EN}], tk)))
               AS BIGINT) / CAST(len(toks) AS BIGINT)) * 0.5
         + (CAST(len(list_distinct(toks)) AS BIGINT)
            / CAST(len(toks) AS BIGINT)) * 0.5 AS quality_score
  FROM toks
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_tokens,
         SUM(n_tokens) OVER () AS total
  FROM q
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE 2 * cum_tokens <= total
"""


# ---------------------------------------------------------------- d19

def _ngram_ctes(n: int) -> str:
    """`toks` (doc_id, tk: the space tokens) and `sh` (doc_id, sh): each
    document's distinct word n-grams, one shingle for a shorter doc."""
    return f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - {n - 1}, 1)),
             i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS sh
  FROM toks
)"""


_CONTAM_N = 4  # n-gram order: long enough to be selective, short enough to hit


def d19_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least one
    distinct 4-gram with the held-out eval set (doc_id % 20 == 0).

    The standard pre-training hygiene pass (eval n-gram overlap). Scale
    shape: the eval set is tiny next to the corpus (benchmarks are MBs vs
    100 TB), so its distinct shingles BROADCAST and the corpus is never
    shuffled to probe them; only matching (doc_id, gram) rows — rare by
    construction — reach the per-doc count aggregation. Shingling is the
    codegen shingle_rows path (not the interpreted array lambda); the
    distinct-per-doc gram sets and their sizes aggregate exchange-free
    under its id partitioning.
    """
    from etl_docker_spark.llm.dedup import shingle_rows

    docs = t(spark, sf, "documents")
    # NOT checkpointed (unlike d22): the two consumers filter DISJOINT doc
    # subsets (eval 5% / corpus 95%), and the doc_id predicates push below
    # the shingling window — the two lazy branches together still shingle
    # each document exactly once, cheaper than forcing one materialized pass
    sh = (shingle_rows(docs, "doc_id", "text", _CONTAM_N)
          .withColumnRenamed("doc", "doc_id")
          .distinct())
    is_eval = F.pmod("doc_id", F.lit(20)) == 0
    eval_grams = sh.filter(is_eval).select(F.col("s").alias("g")).distinct()
    w = Window.partitionBy("doc_id")
    corpus = (sh.filter(~is_eval)
              .select("doc_id",
                      F.count("*").over(w).cast("long").alias("total_ngrams"),
                      F.col("s").alias("g")))
    hits = (corpus.join(F.broadcast(eval_grams), "g")
            .groupBy("doc_id", "total_ngrams")
            .agg(F.count("*").alias("shared_ngrams")))
    return hits.select(
        "doc_id", "shared_ngrams", "total_ngrams",
        F.expr("(1000000 * shared_ngrams) div total_ngrams")
        .alias("contamination_ppm"))


D19_SQL = f"""
WITH {_ngram_ctes(_CONTAM_N)},
ev AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 = 0
),
cg AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS total_ngrams, unnest(sh) AS g
  FROM sh WHERE doc_id % 20 != 0
),
hits AS (
  SELECT doc_id, total_ngrams, COUNT(*) AS shared_ngrams
  FROM cg JOIN ev USING (g)
  GROUP BY doc_id, total_ngrams
)
SELECT doc_id, shared_ngrams, total_ngrams,
       (1000000 * shared_ngrams) // total_ngrams AS contamination_ppm
FROM hits
"""

# ---------------------------------------------------------------- d20


def d20_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingest dedup: classify each document of an incoming
    batch (odd doc_id) against the already-ingested corpus (even doc_id) —
    duplicate-of-existing, duplicate-within-batch, or new — counted per
    (lang, status).

    The steady-state dedup shape: a daily batch is checked against the
    accumulated digest index, NOT by re-deduping the whole corpus. The
    digest canonicalizes to the document head (md5 of the first 64 chars
    — the d05 fingerprint idiom) so trivially-mutated copies still
    collide; swap in the full-text md5 for byte-exact policy. Every
    shuffle is digest-width (16-byte md5, never document bytes): the
    batch/index join is a narrow equi-join on digest, and within-batch
    first-wins is a digest-partitioned window. At 100 TB the digest index
    is itself a table (bucketed by digest) so this join co-locates.
    """
    docs = t(spark, sf, "documents")
    d = docs.select(
        "doc_id", "lang",
        F.md5(F.substring("text", 1, 64).cast("binary")).alias("digest"))
    incoming = d.filter(F.pmod("doc_id", F.lit(2)) == 1)
    existing = (d.filter(F.pmod("doc_id", F.lit(2)) == 0)
                .select("digest").distinct())
    w = Window.partitionBy("digest").orderBy("doc_id")
    classified = (
        incoming.withColumn("rn", F.row_number().over(w))
        .join(existing.withColumn("seen", F.lit(1)), "digest", "left")
        .select(
            "lang",
            F.when(F.col("seen").isNotNull(), F.lit("dup_of_existing"))
            .when(F.col("rn") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("new")).alias("status")))
    return (classified.groupBy("lang", "status")
            .agg(F.count("*").alias("n_docs")))


D20_SQL = """
WITH d AS (
  SELECT doc_id, lang, md5(substring(text, 1, 64)) AS digest FROM documents
),
existing AS (
  SELECT DISTINCT digest FROM d WHERE doc_id % 2 = 0
),
class AS (
  SELECT i.lang,
         CASE WHEN e.digest IS NOT NULL THEN 'dup_of_existing'
              WHEN row_number() OVER (PARTITION BY i.digest
                                      ORDER BY i.doc_id) > 1
                THEN 'dup_in_batch'
              ELSE 'new' END AS status
  FROM d i LEFT JOIN existing e USING (digest)
  WHERE i.doc_id % 2 = 1
)
SELECT lang, status, COUNT(*) AS n_docs FROM class GROUP BY lang, status
"""

# ---------------------------------------------------------------- d21

_BM25_TERMS = ("spark", "vector", "customer", "stream")
_BM25_K = 10
# k1=1.2, b=0.75 cleared of floats: score = idf * 2.2*tf / (tf + 1.2*(0.25
# + 0.75*dl/avgdl)) with avgdl=S/N becomes idf_ppm * 22*tf*S // (10*tf*S +
# 3*S + 9*dl*N) — pure BIGINT ops, identical in any engine.


def d21_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 lexical retrieval: top-10 documents for a fixed term set, in
    exact parts-per-million integer arithmetic.

    idf_ppm = floor(1e6 * (N - df + .5)/(df + .5)) = (1e6*(2N-2df+1)) div
    (2df+1); the tf saturation term is cleared of avgdl division the same
    way (see module constants). Two-stage fixed point keeps every
    intermediate under 2^63 (tfpart <= k1+1 so tfpart_ppm <= 2.2e6; at
    true 100 TB the ppm products move to DECIMAL(38,0) unchanged).
    Scale shape: one corpus pass explodes tokens pre-filtered to the query
    terms (pushdown-friendly), doc-frequency and corpus totals are tiny
    aggregates broadcast back, and the final top-k is a distributed
    TakeOrdered (per-partition heaps), with rank assigned on the k-row
    result. The 10-row result memoizes per session — e08
    fuses it with the vector ranking without re-running the corpus pass.
    """
    from etl_docker_spark.llm.index_cache import memo_frame

    return memo_frame(spark, f"d21_bm25:{sf}",
                      lambda: _d21_build(spark, sf), sf_dir=sf)


def _d21_build(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("tk"))
    dl = toks.select("doc_id", F.size("tk").cast("long").alias("dl"))
    totals = dl.agg(F.count("*").alias("n_docs_total"),
                    F.sum("dl").alias("sum_dl"))
    tf = (toks.select("doc_id", F.explode("tk").alias("tok"))
          .filter(F.col("tok").isin(*_BM25_TERMS))
          .groupBy("doc_id", "tok")
          .agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("tok").agg(
        F.count("*").cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.expr("""
              ((1000000 * (2*n_docs_total - 2*df + 1)) div (2*df + 1))
              * ((1000000 * 22 * tf * sum_dl)
                 div (10*tf*sum_dl + 3*sum_dl + 9*dl*n_docs_total))
              div 1000000
            """).alias("term_score_ppm")))
    ranked = (scored.groupBy("doc_id")
              .agg(F.sum("term_score_ppm").alias("bm25_ppm")))
    # Distributed top-k: orderBy().limit() plans TakeOrderedAndProject
    # (per-partition heaps + k-row merge), never a corpus-wide single-task
    # sort. The explicit rank is then computed on the k-row result only,
    # via the windowless bounded-frame triangle (operators/rank.py) — the
    # earlier global row_number() over ALL scored docs was the
    # single-partition WindowExec shape that dies at 100 TB (see
    # operators/prefix.py); same output, hash-gate-identical.
    from etl_docker_spark.operators.rank import rank_bounded

    topk = ranked.orderBy(F.desc("bm25_ppm"), F.asc("doc_id")).limit(_BM25_K)
    return (rank_bounded(topk, [("bm25_ppm", True), ("doc_id", False)],
                         "rank")
            .select("doc_id", "bm25_ppm", "rank"))


_BM25_IN = ", ".join(f"'{t_}'" for t_ in _BM25_TERMS)
D21_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS s FROM dl
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
  WHERE tok IN ({_BM25_IN})
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         ((1000000 * (2*t.n - 2*f.df + 1)) // (2*f.df + 1))
         * ((1000000 * 22 * tf.tf * t.s)
            // (10*tf.tf*t.s + 3*t.s + 9*dl.dl*t.n))
         // 1000000 AS term_score_ppm
  FROM tf JOIN dfreq f USING (tok) JOIN dl USING (doc_id), totals t
),
ranked AS (
  SELECT doc_id, SUM(term_score_ppm) AS bm25_ppm,
         row_number() OVER (ORDER BY SUM(term_score_ppm) DESC, doc_id)
           AS rank
  FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(bm25_ppm AS BIGINT) AS bm25_ppm,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_BM25_K}
"""


# ---------------------------------------------------------------- d22

_BP_N = 4        # boilerplate n-gram order
_BP_MIN_DOCS = 3  # gram must appear in >= this many distinct docs


def d22_boilerplate_phrases(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate-phrase contamination per document: the fraction (ppm) of
    a doc's distinct 4-grams that are corpus boilerplate — a 4-gram
    occurring in >= 3 distinct documents. Docs with no boilerplate are
    omitted (they carry no signal and at corpus scale would dominate rows).

    The CCNet/C4-style boilerplate pass (nav bars, cookie banners, license
    headers repeat verbatim across pages). Scale shape: one corpus pass
    emits distinct (doc, gram) rows via the codegen shingle_rows path (the
    distinct and the per-doc gram counts are exchange-free under its id
    partitioning); the doc-frequency aggregate shuffles gram-width rows
    once; the surviving boilerplate set is tiny by construction
    (frequency >= 3 across documents) and BROADCASTS back against the
    per-doc gram rows, so the corpus is never shuffled twice.
    """
    from etl_docker_spark.llm.dedup import shingle_rows

    docs = t(spark, sf, "documents")
    # one corpus pass: the distinct (doc, gram) frame is materialized once
    # (localCheckpoint preserves its doc-hash partitioning) and feeds BOTH
    # consumers — the doc-frequency aggregate and the hits join
    sh = (shingle_rows(docs, "doc_id", "text", _BP_N)
          .withColumnRenamed("doc", "doc_id")
          .distinct().localCheckpoint())
    w = Window.partitionBy("doc_id")
    grams = sh.select(
        "doc_id", F.count("*").over(w).cast("long").alias("n_grams"),
        F.col("s").alias("g"))
    bp = (grams.groupBy("g").agg(F.count("*").alias("df"))
          .filter(F.col("df") >= _BP_MIN_DOCS)
          .select("g"))
    hits = (grams.join(F.broadcast(bp), "g")
            .groupBy("doc_id", "n_grams")
            .agg(F.count("*").alias("n_boilerplate")))
    return hits.select(
        "doc_id", "n_boilerplate", "n_grams",
        F.expr("(1000000 * n_boilerplate) div n_grams")
        .alias("boilerplate_ppm"))


D22_SQL = f"""
WITH {_ngram_ctes(_BP_N)},
grams AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams, unnest(sh) AS g FROM sh
),
bp AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= {_BP_MIN_DOCS}
),
hits AS (
  SELECT doc_id, n_grams, count(*) AS n_boilerplate
  FROM grams JOIN bp USING (g)
  GROUP BY doc_id, n_grams
)
SELECT doc_id, n_boilerplate, n_grams,
       (1000000 * n_boilerplate) // n_grams AS boilerplate_ppm
FROM hits
"""

# ---------------------------------------------------------------- d23

_N_LANGS = 5  # uniform target share = 1/5 per language


def d23_mixing_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Language-mixing sampling weights per (lang, source): token counts,
    each language's realized share of the corpus, and the up/down-sampling
    weight (ppm) that moves the mix to a uniform 1/len(langs) target —
    the DoReMi/Pile-style domain-reweighting pass before training.

    weight_ppm = 1e6 * total_tokens div (n_langs * lang_tokens): >1e6
    up-samples under-represented languages. Scale shape: token counting is
    a map-side `size(split(...))` (no explode — counts only), one shuffle
    on (lang, source); the per-lang and corpus totals are tiny aggregates
    of THAT aggregate, broadcast back. The corpus is scanned once.
    """
    docs = t(spark, sf, "documents")
    per = (docs.select(
        "lang", "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tok"))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("tokens")))
    lang_tot = (per.groupBy("lang")
                .agg(F.sum("tokens").alias("lang_tokens")))
    total = per.agg(F.sum("tokens").alias("total_tokens"))
    return (per.join(F.broadcast(lang_tot), "lang")
            .crossJoin(F.broadcast(total))
            .select(
                "lang", "source", "n_docs", "tokens",
                F.expr("(1000000 * lang_tokens) div total_tokens")
                .alias("lang_share_ppm"),
                F.expr(f"(1000000 * total_tokens) div ({_N_LANGS} * lang_tokens)")
                .alias("weight_ppm")))


D23_SQL = f"""
WITH per AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY lang, source
),
lt AS (SELECT lang, SUM(tokens) AS lang_tokens FROM per GROUP BY lang),
tot AS (SELECT SUM(tokens) AS total_tokens FROM per)
SELECT lang, source, n_docs, tokens,
       CAST((1000000 * lang_tokens) // total_tokens AS BIGINT)
         AS lang_share_ppm,
       CAST((1000000 * total_tokens) // ({_N_LANGS} * lang_tokens) AS BIGINT)
         AS weight_ppm
FROM per JOIN lt USING (lang), tot
"""


# ---------------------------------------------------------------- d24


def d24_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style quality bucketing: documents split head/middle/tail by
    bigram-LM predictability (d10's exact scorer), using the
    length-normalized score lm_score div n_bigrams (a fixed-point
    per-bigram probability — the perplexity proxy).

    ntile(3) over (norm score desc, doc_id) gives deterministic,
    engine-identical buckets (exact rank arithmetic, no float quantile
    interpolation). The oracle stays the plain global ntile(3); the Spark
    plan computes the SAME tiling distributed: each doc's global rank is
    a two-phase prefix sum over the score order (operators/prefix.py —
    range-partition, local running count, K-row offset merge), and the
    tile follows from rank + total count by the exact ntile formula
    (first n%3 tiles hold one extra row), the q43 pattern. The earlier
    single-task ntile window over the corpus-sized per-doc frame was one
    of the three plans flagged as 100 TB scale-killers in round 3.
    """
    from etl_docker_spark.operators.prefix import prefix_sum_ordered

    scored = bigram_scores_frame(spark, sf)
    norm = F.expr("lm_score div n_bigrams")
    per_doc = (scored.select("doc_id", norm.alias("norm_score"))
               .withColumn("__one", F.lit(1)))
    ranked = prefix_sum_ordered(
        per_doc, [F.desc("norm_score"), F.asc("doc_id")], "__one", "r")
    n1 = per_doc.agg(F.count("*").alias("n"))
    # ntile(3): q = n div 3, m = n mod 3; tiles 1..m hold q+1 rows
    tile = F.expr(
        "CASE WHEN r <= (n DIV 3 + 1) * (n % 3) "
        "THEN (r - 1) DIV (n DIV 3 + 1) + 1 "
        "ELSE (n % 3) + (r - (n % 3) * (n DIV 3 + 1) - 1) DIV (n DIV 3) + 1 "
        "END")
    bucket = (F.when(tile == 1, "head")
              .when(tile == 2, "middle")
              .otherwise("tail"))
    return (ranked.crossJoin(F.broadcast(n1))
            .select("doc_id", "norm_score", bucket.alias("bucket")))


D24_SQL = f"""
WITH scored AS (
  SELECT doc_id, n_bigrams, lm_score FROM ({D10_SQL})
),
tiled AS (
  SELECT doc_id, lm_score // n_bigrams AS norm_score,
         ntile(3) OVER (ORDER BY lm_score // n_bigrams DESC, doc_id) AS tile
  FROM scored
)
SELECT doc_id, norm_score,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM tiled
"""


# ---------------------------------------------------------------- d25

_PACK_CAPACITY = 2048  # context-window token budget per packed sequence


def d25_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Training-sequence packing: documents concatenated in doc_id order
    and split into 2048-token context windows; each document lands in the
    bin where its first token falls (concat-and-split at document
    granularity). Per bin: docs, tokens, and fill ppm (can exceed 1e6 —
    a document straddling the boundary overflows its bin; the tokenizer-
    level split would cut mid-document, which is below this operator's
    granularity).

    Pure prefix-sum arithmetic: bin = exclusive-prefix-tokens div capacity
    — no greedy heuristic whose tie-breaks could diverge cross-engine.
    Scale: the ordered prefix sum runs as the two-phase distributed form
    (operators/prefix.py — range partition, local running sum, K-row
    offset merge), never a single-task global window; in a real pipeline
    shards pack independently and doc_id stands for the shard-local
    order, so the same plan serves both the global and per-shard forms.
    """
    from etl_docker_spark.operators.prefix import prefix_sum_ordered

    docs = t(spark, sf, "documents")
    toks = prefix_sum_ordered(
        docs.select("doc_id",
                    F.size(F.split(F.col("text"), " ")).cast("long")
                    .alias("tok")),
        [F.asc("doc_id")], "tok", "cum")
    binned = toks.select(
        "doc_id", "tok",
        F.expr(f"(cum - tok) div {_PACK_CAPACITY}").alias("bin"))
    return (binned.groupBy("bin")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("tok").alias("tokens"))
            .select("bin", "n_docs", "tokens",
                    F.expr(f"(1000000 * tokens) div {_PACK_CAPACITY}")
                    .alias("fill_ppm")))


D25_SQL = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
  FROM documents
),
pre AS (
  SELECT doc_id, tok,
         SUM(tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok AS before_
  FROM toks
)
SELECT CAST(before_ // {_PACK_CAPACITY} AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS tokens,
       CAST((1000000 * SUM(tok)) // {_PACK_CAPACITY} AS BIGINT) AS fill_ppm
FROM pre GROUP BY 1
"""

# ---------------------------------------------------------------- d26

_MIN_TOKENS = 30  # below this a document is 'too_short'


def d26_curation_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """The composed corpus-curation decision (C4/CCNet pipeline shape):
    one verdict per document from priority-ordered rules stacking the
    engine's own primitives —

        1. too_short      n_tokens < 30        (token_count)
        2. low_diversity  2*n_unique < n_tokens (Gopher repetition cut)
        3. exact_dup      later copy of an identical text (d01 digest,
                          keep-first by doc_id)
        4. keep

    Scale shape: rules 1-2 are per-row codegen expressions on the corpus
    scan; rule 3 is the d01 idiom — a row_number over an md5-digest
    window, the only shuffle, and digest-width at that. The verdict CASE
    is priority-ordered so each document reports the FIRST failing rule
    (what curation pipelines log for ablation accounting).
    """
    staged, verdict = _d26_rules(t(spark, sf, "documents"), "doc_id")
    return staged.select("doc_id", "n_tokens", "n_unique",
                         verdict.alias("verdict"))


def _d26_rules(docs: DataFrame, *keep: str) -> tuple[DataFrame, Column]:
    """d26's rules over `docs`: the `keep` columns with n_tokens,
    n_unique, digest and dup_rn (rank in the digest window), and the
    verdict over them, the first failing rule or "keep". Shared with
    the d60 classifier's training labels (`_labeled_docs`)."""
    from etl_docker_spark.llm.text import token_count, tokens_of

    toks = tokens_of(F.col("text"))
    wdig = Window.partitionBy("digest").orderBy("doc_id")
    staged = (docs.select(
        *keep,
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.md5(F.col("text").cast("binary")).alias("digest"))
        .withColumn("dup_rn", F.row_number().over(wdig)))
    verdict = (F.when(F.col("n_tokens") < _MIN_TOKENS, "too_short")
               .when(2 * F.col("n_unique") < F.col("n_tokens"),
                     "low_diversity")
               .when(F.col("dup_rn") > 1, "exact_dup")
               .otherwise("keep"))
    return staged, verdict


D26_SQL = rf"""
WITH staged AS (
  SELECT doc_id,
         CAST(len({_TOKENS_DUCK}) AS BIGINT)
           AS n_tokens,
         CAST(len(list_distinct({_TOKENS_DUCK}))
              AS BIGINT) AS n_unique,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
           AS dup_rn
  FROM documents
)
SELECT doc_id, n_tokens, n_unique,
       CASE WHEN n_tokens < {_MIN_TOKENS} THEN 'too_short'
            WHEN 2 * n_unique < n_tokens THEN 'low_diversity'
            WHEN dup_rn > 1 THEN 'exact_dup'
            ELSE 'keep' END AS verdict
FROM staged
"""


# ---------------------------------------------------------------- d27

_BPE_TOP = 20


def d27_bpe_pair_freqs(spark: SparkSession, sf: str) -> DataFrame:
    """Top character-pair frequencies over word TYPES weighted by type
    frequency — exactly the statistic BPE training maximizes on its first
    merge (Sennrich et al.; every adjacent symbol pair of every word,
    weighted by how often the word occurs in the corpus).

    Scale shape: the corpus collapses to word types FIRST (groupBy(word),
    map-side combined — the vocabulary is orders of magnitude smaller than
    the token stream), then pairs explode off types only. Both shuffles
    move (short-string, count) rows. Ties rank lexicographically so the
    output is total-ordered.
    """
    toks = (t(spark, sf, "documents")
            .select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w") >= 2))
    wf = toks.groupBy("w").agg(F.count("*").alias("f"))
    pairs = (wf.select(
        "f", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        F.col("w"))
        .select(F.expr("substring(w, i, 1)").alias("p1"),
                F.expr("substring(w, i + 1, 1)").alias("p2"), "f"))
    agg = pairs.groupBy("p1", "p2").agg(F.sum("f").alias("pair_count"))
    # the pair frame is charset^2-bounded (never data-sized), so rank it
    # with the windowless triangle (operators/rank.py) instead of an
    # unpartitioned window
    from etl_docker_spark.operators.rank import rank_bounded

    return (rank_bounded(agg, [("pair_count", True), ("p1", False),
                               ("p2", False)], "rank")
            .filter(F.col("rank") <= _BPE_TOP)
            .select("rank", "p1", "p2", "pair_count"))


D27_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
wf AS (
  SELECT w, COUNT(*) AS f FROM toks WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substring(w, i, 1) AS p1, substring(w, i + 1, 1) AS p2, f
  FROM wf, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i)
),
agg AS (
  SELECT p1, p2, CAST(SUM(f) AS BIGINT) AS pair_count
  FROM pairs GROUP BY p1, p2
)
SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, p1, p2) AS BIGINT)
         AS rank,
       p1, p2, pair_count
FROM agg
QUALIFY rank <= {_BPE_TOP}
"""


# ---------------------------------------------------------------- d28


def _positional_grams(docs: DataFrame, k: int, doc: str,
                      *keep: str) -> DataFrame:
    """(doc, *keep, sz, pos, g): every k-gram of each doc's space-split
    text, g the k tokens from position pos joined by spaces; doc_id is
    renamed to doc. The lead window partitions by doc, so it is bounded
    by one document."""
    toks = F.split(F.col("text"), " ")
    rows = docs.select(
        F.col("doc_id").alias(doc), *keep, F.size(toks).alias("sz"),
        F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy(doc).orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    return (rows.select(doc, *keep, "sz", "pos",
                        F.concat_ws(" ", *leads).alias("g"))
            .filter(F.col("pos") <= F.col("sz") - k))


def d28_hll_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct 3-gram estimate per language + the merged corpus sketch.

    Scale shape: the only corpus-sized work is one shingling pass; registers
    are a (lang, 64)-row frame built by ONE map-side-combined groupBy of
    (lang, bucket, rho) triples. The '*ALL*' row re-aggregates REGISTERS
    (register-wise max), not data — the mergeability that lets 1000
    executors sketch partitions independently and combine 64-number states.
    The exact_distinct column (a real distinct count, the expensive thing
    the sketch replaces) rides along so err_ppm is measured, not claimed.

    Exactness: md5-derived 60-bit hashes, integer rho via bit length,
    Z-denominator as an exact BIGINT sum of powers of two; the one double
    division happens on identical operands in both engines.
    """
    target = spark.sparkContext.defaultParallelism
    docs = t(spark, sf, "documents").select("doc_id", "lang", "text")
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, "doc_id")
    grams = _positional_grams(docs, 3, "doc_id", "lang").select("lang", "g")
    # ONE corpus-width shuffle: collapse occurrences to (lang, gram-TYPE)
    # rows first, checkpoint the vocab-sized type table, and derive
    # registers AND both exact-distinct measurements from it. The previous
    # lazy-branch form re-ran the shingling pass 3x (registers + two
    # count_distincts, each of which shuffles gram strings anyway) and
    # paid one md5 per OCCURRENCE; this pays one md5 per type and was
    # measured 2x faster at ~sf1. (Unlike the simhash dictionary-encoding
    # negative result, nothing joins back to occurrences here — every
    # downstream consumer is type-level.)
    gtypes = (grams.groupBy("lang", "g").agg(F.count("*").alias("n"))
              .localCheckpoint())
    h = F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 15), 16, 10) \
        .cast("long")
    hashed = gtypes.select("lang", "n", h.alias("hv")).select(
        "lang", "n", (F.col("hv") % _HLL_M).alias("bucket"),
        F.expr(f"hv div {_HLL_M}").alias("wv"))
    rho = (F.when(F.col("wv") == 0, F.lit(_HLL_RHO_MAX))
           .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.bin(F.col("wv")))))
    rowsr = hashed.select("lang", "n", "bucket", rho.alias("rho"))

    reg = rowsr.groupBy("lang", "bucket").agg(F.max("rho").alias("m_rho"))
    reg_all = (reg.groupBy("bucket").agg(F.max("m_rho").alias("m_rho"))
               .select(F.lit("*ALL*").alias("lang"), "bucket", "m_rho"))
    regs = reg.unionByName(reg_all)

    ex = gtypes.groupBy("lang").agg(
        F.sum("n").alias("n_grams"),
        F.count("*").alias("exact_distinct"))
    gall = gtypes.groupBy("g").agg(F.sum("n").alias("n"))
    ex_all = gall.agg(
        F.sum("n").alias("n_grams"),
        F.count("*").alias("exact_distinct")) \
        .select(F.lit("*ALL*").alias("lang"), "n_grams", "exact_distinct")
    exs = ex.unionByName(ex_all)

    # empty registers contribute 2^RHO_MAX each — the fill is arithmetic
    # (M - observed registers), no bucket-completion join
    z = (regs.groupBy("lang")
         .agg((F.expr(f"sum(shiftleft(cast(1 as bigint),"
                      f" {_HLL_RHO_MAX} - m_rho))")
               + (F.lit(_HLL_M) - F.count("*"))
               * F.lit(1 << _HLL_RHO_MAX).cast("long")).alias("z")))
    s = exs.join(z, "lang")
    est = F.floor(F.lit(float(_HLL_ALPHA_NUM)) / F.col("z")).cast("long")
    return (s.withColumn("hll_estimate", est)
            .select(
                "lang", "n_grams", "exact_distinct", "hll_estimate",
                F.expr("abs(hll_estimate - exact_distinct) * 1000000"
                       " div exact_distinct").alias("err_ppm")))


D28_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
),
grams AS (
  SELECT lang, array_to_string(tk[i:i+2], ' ') AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i)
),
hashed AS (
  SELECT lang, g,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {_HLL_M} AS bucket,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) // {_HLL_M} AS wv
  FROM grams
),
r AS (
  SELECT lang, g, bucket,
         CASE WHEN wv = 0 THEN {_HLL_RHO_MAX}
              ELSE {_HLL_RHO_MAX} - length(bin(wv)) END AS rho
  FROM hashed
),
reg AS (SELECT lang, bucket, MAX(rho) AS m_rho FROM r GROUP BY lang, bucket),
regs AS (
  SELECT * FROM reg
  UNION ALL
  SELECT '*ALL*' AS lang, bucket, MAX(m_rho) AS m_rho FROM reg GROUP BY bucket
),
ex AS (
  SELECT lang, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS exact_distinct
  FROM r GROUP BY lang
  UNION ALL
  SELECT '*ALL*', COUNT(*), COUNT(DISTINCT g) FROM r
),
z AS (
  SELECT lang,
         SUM(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - m_rho))
           + ({_HLL_M} - COUNT(*))
             * (CAST(1 AS BIGINT) << {_HLL_RHO_MAX}) AS z
  FROM regs GROUP BY lang
),
s AS (
  SELECT ex.lang, ex.n_grams, ex.exact_distinct, z.z
  FROM ex JOIN z USING (lang)
),
est AS (
  SELECT lang, n_grams, exact_distinct,
         CAST(FLOOR({_HLL_ALPHA_NUM} / z) AS BIGINT) AS hll_estimate
  FROM s
)
SELECT lang, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(exact_distinct AS BIGINT) AS exact_distinct, hll_estimate,
       CAST(abs(hll_estimate - exact_distinct) * 1000000 // exact_distinct
            AS BIGINT) AS err_ppm
FROM est
"""

# ---------------------------------------------------------------- d29

_SPAN_N = 10


def d29_dup_span_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document duplicated-span fraction: of the document's 10-token
    windows, how many occur at any OTHER position in the corpus (same doc
    included — internal repetition is also a quality signal).

    Scale shape: one shingling pass (codegen lead-window under id-hash
    partitioning), then one shuffle of 16-byte digests for the global
    occurrence count (window over the digest partitioning), then one narrow
    groupBy(doc). The document text itself is never shuffled — only
    digests, the same discipline as d01/d06.
    """
    from etl_docker_spark.llm.dedup import shingle_rows

    docs = t(spark, sf, "documents").select("doc_id", "text")
    spans = shingle_rows(docs, "doc_id", "text", n=_SPAN_N)
    hashed = spans.select("doc", F.md5(F.col("s").cast("binary")).alias("h"))
    wc = Window.partitionBy("h")
    counted = hashed.select("doc", F.count("*").over(wc).alias("occ"))
    return (counted.groupBy(F.col("doc").alias("doc_id"))
            .agg(F.count("*").alias("n_spans"),
                 F.sum(F.when(F.col("occ") >= 2, 1).otherwise(0))
                 .cast("long").alias("n_dup_spans"))
            .withColumn(
                "dup_span_ppm",
                F.expr("n_dup_spans * 1000000 div n_spans")))


D29_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
spans AS (
  SELECT doc_id,
         md5(array_to_string(tk[i:i+{_SPAN_N - 1}], ' ')) AS h
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(tk) - {_SPAN_N - 1}, 1)))
        AS i)
),
counted AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS occ FROM spans
)
SELECT doc_id, COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
       CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           * 1000000 // COUNT(*) AS dup_span_ppm
FROM counted GROUP BY doc_id
"""

# ---------------------------------------------------------------- d30

_BPE_STEPS = 3


def _bpe_spelled() -> Column:
    """The word w as a space-separated symbol string: 'low' -> ' l o w '."""
    return F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 "))


def _bpe_types(docs: DataFrame, *keys: str) -> DataFrame:
    """(*keys, sp, f): each word type of length >= 2 (per keys), spelled,
    with its frequency; checkpointed, since every merge step reads it."""
    return (docs.select(*keys, F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w") >= 2)
            .groupBy(*keys, "w").agg(F.count("*").alias("f"))
            .select(*keys, _bpe_spelled().alias("sp"), "f")
            .localCheckpoint())


def _bpe_pairs(cur: DataFrame, *keys: str) -> DataFrame:
    """(*keys, p1, p2, f): every adjacent symbol pair of each spelled
    type, weighted by the type's frequency f."""
    syms = F.split(F.trim(F.col("sp")), " ")
    return (cur.filter(F.size(syms) >= 2)
            .select(*keys, "f", F.explode(F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("p1"),
                    F.element_at(syms, i + 1).alias("p2"))))
                .alias("pr"))
            .select(*keys, F.col("pr.p1").alias("p1"),
                    F.col("pr.p2").alias("p2"), "f"))


def _bpe_merged() -> Column:
    """sp with the merge ' p1 p2 ' -> ' p1p2 ' applied; references the
    columns sp/p1/p2 by name, so it rewrites any frame joined to the
    winning pair."""
    return F.replace(
        F.col("sp"),
        F.concat(F.lit(" "), F.col("p1"), F.lit(" "),
                 F.col("p2"), F.lit(" ")),
        F.concat(F.lit(" "), F.col("p1"), F.col("p2"),
                 F.lit(" "))).alias("sp")


_BPE_WF0_DUCK = """
WITH wf0 AS (
  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sp, f
  FROM (SELECT w, COUNT(*) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY w)
)"""
_BPE_COUNT_DUCK = "\n         CAST(SUM(f) AS BIGINT)"


def _bpe_pc_duck(i: int, count: str, keys: str = "") -> str:
    """CTE pc{i}: step i's weighted pair counts over wf{i-1}, grouped by
    keys (a 'lang, ' prefix or nothing); count is the sum expression
    with its leading whitespace."""
    group = "1, 2, 3" if keys else "1, 2"
    return f"""pc{i} AS (
  SELECT {keys}t.sy[i] AS p1, t.sy[i + 1] AS p2,{count} AS pair_count
  FROM (SELECT {keys}string_split(trim(sp), ' ') AS sy, f FROM wf{i - 1}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.sy) - 1)) AS i)
  WHERE len(t.sy) >= 2
  GROUP BY {group}
)"""


def _bpe_wf_duck(i: int) -> str:
    """CTE wf{i}: wf{i-1} with the single winning pair of t{i} merged."""
    return f"""wf{i} AS (
  SELECT replace(sp,
                 ' ' || (SELECT p1 FROM t{i}) || ' '
                     || (SELECT p2 FROM t{i}) || ' ',
                 ' ' || (SELECT p1 FROM t{i})
                     || (SELECT p2 FROM t{i}) || ' ') AS sp, f
  FROM wf{i - 1}
)"""


def d30_bpe_merge_steps(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training, first 3 merge steps: (step, p1, p2,
    pair_count) for each chosen merge — the iterative loop d27's one-shot
    statistic feeds (Sennrich et al. 2016).

    Word types encode as space-separated symbol strings (' l o w '); a
    merge is a plain string replace of ' p1 p2 ' with ' p1p2 ' — leftmost
    non-overlapping in every engine, so 'a a a' under merge (a,a) yields
    ['aa','a'] exactly as reference BPE does. Each step's pair count
    aggregates over word TYPES weighted by frequency (the vocabulary frame,
    orders of magnitude smaller than the token stream — it is
    localCheckpoint'ed once and each step's merge is a broadcast of the
    single winning pair). The corpus is scanned exactly once.
    """
    steps: list[DataFrame] = []
    cur = _bpe_types(t(spark, sf, "documents"))
    for step in range(1, _BPE_STEPS + 1):
        agg = (_bpe_pairs(cur).groupBy("p1", "p2")
               .agg(F.sum("f").alias("pair_count")))
        # top-1 as a one-row min(struct(...)) aggregate (the d54 round-8
        # rewrite): same winner by lexicographic struct comparison
        # (-pair_count asc == pair_count desc, then p1, p2 asc), zero
        # WindowExec nodes
        top = (agg.agg(F.min(F.struct(
                   (-F.col("pair_count")).alias("neg"),
                   F.col("p1").alias("p1"),
                   F.col("p2").alias("p2"))).alias("w"))
               .select(F.lit(step).cast("long").alias("step"),
                       F.col("w.p1").alias("p1"),
                       F.col("w.p2").alias("p2"),
                       (-F.col("w.neg")).cast("long").alias("pair_count")))
        steps.append(top)
        cur = (cur.crossJoin(F.broadcast(top.select("p1", "p2")))
               .select(_bpe_merged(), "f"))
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def _d30_sql() -> str:
    parts = [_BPE_WF0_DUCK]
    for i in range(1, _BPE_STEPS + 1):
        parts.append(f""",
{_bpe_pc_duck(i, _BPE_COUNT_DUCK)},
t{i} AS (
  SELECT CAST({i} AS BIGINT) AS step, p1, p2, pair_count FROM pc{i}
  ORDER BY pair_count DESC, p1, p2 LIMIT 1
),
{_bpe_wf_duck(i)}""")
    union = " UNION ALL ".join(f"SELECT * FROM t{i}"
                               for i in range(1, _BPE_STEPS + 1))
    parts.append(f"\n{union}")
    return "".join(parts)


D30_SQL = _d30_sql()


# ---------------------------------------------------------------- d31

_SAMPLE_K = 25
_SAMPLE_BLOCK = 64


def d31_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted systematic sampling: ~K documents picked with probability
    proportional to n_chars by striding the cumulative-size line — a doc is
    picked iff a stride boundary falls inside its weight interval. The
    deterministic, single-pass way to draw a size-weighted corpus subset
    (the mixture-sampling primitive behind d23's weights).

    The cumulative sum never becomes one global sort task: docs bucket into
    doc_id-blocks, the running sum is per-block (parallel window), and
    block offsets come from the blocks-count frame prefix-summed via the
    two-phase operators/prefix.py form (that frame grows with the corpus
    — n_docs/block — so it must not be a global window either) and
    broadcast back. Integer arithmetic end to end.
    """
    from etl_docker_spark.operators.prefix import prefix_sum_ordered

    docs = t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    docs = docs.withColumn("blk", F.expr(f"doc_id div {_SAMPLE_BLOCK}"))
    win = Window.partitionBy("blk").orderBy("doc_id")
    cum_in = F.sum("n_chars").over(
        win.rowsBetween(Window.unboundedPreceding, 0))
    bt = docs.groupBy("blk").agg(F.sum("n_chars").alias("bsum"))
    offsets = (prefix_sum_ordered(bt, [F.asc("blk")], "bsum", "__cum")
               .select("blk", (F.col("__cum") - F.col("bsum")).alias("off")))
    total = docs.agg(F.sum("n_chars").alias("tot"))
    cum = (docs.withColumn("cum_in", cum_in)
           .join(F.broadcast(offsets), "blk")
           .crossJoin(F.broadcast(total))
           .withColumn("cum", F.col("off") + F.col("cum_in"))
           .withColumn("stride",
                       F.expr(f"greatest(tot div {_SAMPLE_K}, 1)")))
    picked = cum.filter(
        F.expr("(cum - n_chars) div stride < cum div stride"))
    return picked.select("doc_id", "lang", "n_chars",
                         F.col("cum").alias("cum_chars"))


D31_SQL = f"""
WITH cum AS (
  SELECT doc_id, lang, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             AS cum_chars,
         greatest(SUM(n_chars) OVER () // {_SAMPLE_K}, 1) AS stride
  FROM documents
)
SELECT doc_id, lang, n_chars, CAST(cum_chars AS BIGINT) AS cum_chars
FROM cum
WHERE (cum_chars - n_chars) // stride < cum_chars // stride
"""


# ---------------------------------------------------------------- d32

_CMS_W = 256
_CMS_D = 4
_CMS_TOPK = 20


def d32_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch over document tokens + heavy-hitter estimates.

    The third mergeable sketch beside KMV (d16) and HLL (d28): _CMS_D rows
    of _CMS_W integer registers, bucket = md5("cms<d>_" || token) mod W,
    register = SUM of token occurrences — registers merge across corpus
    shards by plain addition, the property that makes the sketch a
    map-side-combinable aggregate at 100 TB (4*256 cells total, no matter
    the token cardinality). The estimate for a token is the MIN over its D
    registers, >= truth by construction.

    The gate output pairs the top-20 true counts (the expensive exact
    groupBy a production sketch exists to avoid — here it doubles as the
    measurement) with their sketch estimates; the token-count frame is
    checkpointed so the corpus tokenization pass runs once for both.
    """
    toks = (t(spark, sf, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok")))
    counts = (toks.groupBy("tok").agg(F.count("*").alias("n"))
              .localCheckpoint())
    dseries = F.explode(F.array(*[F.lit(d) for d in range(_CMS_D)])).alias("d")

    def bucket(tok: F.Column, d: F.Column) -> F.Column:
        digest = F.md5(F.concat(F.lit("cms"), d.cast("string"), F.lit("_"),
                                tok).cast("binary"))
        return (F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
                % _CMS_W)

    regs = (counts.select("tok", "n", dseries)
            .select("d", bucket(F.col("tok"), F.col("d")).alias("b"), "n")
            .groupBy("d", "b").agg(F.sum("n").alias("reg")))
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(_CMS_TOPK)
    probes = (top.select("tok", "n", dseries)
              .select("tok", "n", "d",
                      bucket(F.col("tok"), F.col("d")).alias("b")))
    return (probes.join(F.broadcast(regs), ["d", "b"])
            .groupBy("tok", F.col("n").alias("true_n"))
            .agg(F.min("reg").alias("est_n")))


D32_SQL = f"""
WITH counts AS (
  SELECT tok, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
rowsd AS (
  SELECT tok, n, d
  FROM counts, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d)
),
regs AS (
  SELECT d,
         CAST('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || '_'
                                    || tok), 1, 8) AS BIGINT)
           % {_CMS_W} AS b,
         SUM(n) AS reg
  FROM rowsd GROUP BY 1, 2
),
top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {_CMS_TOPK}),
probes AS (
  SELECT tok, n, d,
         CAST('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || '_'
                                    || tok), 1, 8) AS BIGINT)
           % {_CMS_W} AS b
  FROM top, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d)
)
SELECT tok, n AS true_n, CAST(MIN(reg) AS BIGINT) AS est_n
FROM probes JOIN regs USING (d, b)
GROUP BY tok, n
"""


# ---------------------------------------------------------------- d33

_SEM_T = 0.93     # within-cluster cosine threshold
# Hot-cluster refinement cap: the within-cluster self-join is quadratic in
# occupancy, and a k=8 quantizer's cells grow linearly with the corpus —
# measured 809 s at ~sf1 (20k vectors, ~2.5k/cell) without a cap. Clusters
# above the cap sub-bucket on floor-grid dims one at a time (e02's
# _refined_cells, ONE rollup pass + broadcast hot flags). MUST stay above
# the gate corpora's max cluster occupancy (74 at sf0.001/sf0.01) so the
# oracle's plain within-cluster form stays bit-identical there; larger
# corpora trade boundary-pair recall for linear cost — the same documented
# ANN trade as e02. (At true scale you'd ALSO retrain with k ~ N/1k; the
# cap is what makes a FIXED trained quantizer safe to serve.)
_SEM_CAP = 128
_SEM_REFINE_DIMS = (1, 2, 3, 4)


def d33_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup: per k-means cluster, drop every vector that has a
    LOWER-id within-cluster neighbor with cosine >= _SEM_T; keep the rest.

    Output: (vec_id, cluster, kept) for the whole corpus — the curation
    verdict a pipeline joins back onto documents. Deterministic keep rule
    (min-id representative of the similarity relation) instead of the
    paper's random choice, so the gate can pin values.

    Scale shape: the quadratic compare is confined to k-means cells,
    sub-bucketed past _SEM_CAP occupancy (see above); assignments ride
    one id-equi join onto the vectors; the within-cell self-join shuffles
    on the effective cell key; losers (a distinct id set, tiny relative
    to the corpus) broadcast into an anti-join-shaped left join.
    """
    from etl_docker_spark.llm.similarity import (_refined_cells, bucket_expr,
                                                 dot_expr, norm2_expr)
    from etl_docker_spark.plans.e import e05_assignments

    assign = e05_assignments(spark, sf)
    e = t(spark, sf, "embeddings").select(
        "vec_id", "embedding", norm2_expr(F.col("embedding")).alias("n2"))
    keyed = (e.join(assign, "vec_id")
             .select("vec_id", "embedding", "n2", "cluster",
                     F.col("cluster").alias("b1"),
                     F.lit(0).cast("long").alias("b2"),
                     *[bucket_expr(F.col("embedding"), d).alias(f"c{i + 1}")
                       for i, d in enumerate(_SEM_REFINE_DIMS)]))
    ea = (_refined_cells(keyed, _SEM_CAP, len(_SEM_REFINE_DIMS))
          .select("vec_id", "embedding", "n2", "cluster", "cell")
          .localCheckpoint())
    a, b = ea.alias("a"), ea.alias("b")
    pairs = (a.join(b, on=[F.col("a.cell") == F.col("b.cell"),
                           F.col("a.vec_id") < F.col("b.vec_id")])
             .select(F.col("b.vec_id").alias("loser"),
                     (dot_expr(F.col("a.embedding"), F.col("b.embedding"))
                      / F.sqrt(F.col("a.n2") * F.col("b.n2")))
                     .alias("cosine")))
    losers = (pairs.filter(F.col("cosine") >= _SEM_T)
              .select("loser").distinct())
    return (ea.join(F.broadcast(losers),
                    ea.vec_id == losers.loser, "left")
            .select("vec_id", "cluster",
                    F.col("loser").isNull().alias("kept")))


def _d33_sql() -> str:
    from etl_docker_spark.plans.e import _E05_EA_CTES

    return f"""
WITH {_E05_EA_CTES},
losers AS (
  SELECT DISTINCT b.vec_id AS loser
  FROM ea a JOIN ea b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_DOT2.format(a='a.embedding', b='b.embedding')}
          / sqrt(a.n2 * b.n2) >= {_SEM_T}
)
SELECT ea.vec_id, ea.cluster, l.loser IS NULL AS kept
FROM ea LEFT JOIN losers l ON ea.vec_id = l.loser
"""


# ---------------------------------------------------------------- d34

_DSIR_TARGET_LANG = "en"


def d34_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document importance weight toward the English target domain.

    token weight_ppm = ((f_target + 1) * C_corpus * 1e6)
                       div ((f_corpus + 1) * C_target)
    (Laplace-smoothed frequency ratio in ppm — the hashed-ngram ratio
    DSIR uses, with exact integer division instead of float logs so any
    engine reproduces it). Document score = sum of its token occurrences'
    weights; avg_weight_ppm = score div n_tokens is the resampling
    signal.

    Scale shape: two fused scans of the raw corpus (frequency pass,
    scoring pass) — deliberately NOT a checkpoint of the exploded token
    table, which would persist a corpus-sized intermediate (d19's
    lazy-double-branch discipline; the raw scan is the cheap thing, the
    explosion is free inside codegen). The weight table is
    token-type-keyed (narrow) and map-side combined; scoring is a
    token-keyed equi join followed by a per-doc sum — broadcastable
    weight table at bench scale, a plain shuffle join at 100 TB. Corpus
    totals ride a 1-row broadcast.
    """
    docs = t(spark, sf, "documents").select("doc_id", "lang", "text")
    toks = docs.select("doc_id", "lang",
                       F.explode(F.split("text", " ")).alias("tok"))
    freq = (toks.groupBy("tok")
            .agg(F.count("*").alias("f_corpus"),
                 F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
                       .otherwise(0)).alias("f_target")))
    totals = freq.agg(F.sum("f_corpus").alias("c_corpus"),
                      F.sum("f_target").alias("c_target"))
    weights = (freq.crossJoin(F.broadcast(totals))
               .select("tok",
                       F.expr("((f_target + 1) * c_corpus * 1000000)"
                              " div ((f_corpus + 1) * c_target)")
                       .alias("w_ppm")))
    return (toks.join(F.broadcast(weights), "tok")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("w_ppm").alias("dsir_score"))
            .select("doc_id", "n_tokens", "dsir_score",
                    F.expr("dsir_score div n_tokens").alias("avg_weight_ppm")))


D34_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
freq AS (
  SELECT tok, COUNT(*) AS f_corpus,
         SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
           AS f_target
  FROM toks GROUP BY tok
),
totals AS (
  SELECT SUM(f_corpus) AS c_corpus, SUM(f_target) AS c_target FROM freq
),
weights AS (
  SELECT tok,
         ((f_target + 1) * c_corpus * 1000000)
           // ((f_corpus + 1) * c_target) AS w_ppm
  FROM freq, totals
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(w_ppm) AS BIGINT) AS dsir_score,
       CAST(SUM(w_ppm) // COUNT(*) AS BIGINT) AS avg_weight_ppm
FROM toks JOIN weights USING (tok)
GROUP BY doc_id
"""


# ---------------------------------------------------------------- d35

_D35_KMV_K = 256
_KMV_U = 1 << 60  # hash universe: md5 15 hex chars
_D35_SEG_A, _D35_SEG_B = "src0", "src1"


def d35_sketch_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Theta-sketch intersection/union of two segments' 3-gram sets.

    Each segment keeps its K smallest distinct gram hashes; theta = the
    smaller of the two K-th minima; any hash below theta is a uniform
    sample of the universe, so |retained ∩| * U div theta estimates the
    true intersection (likewise union). Integer end to end (DECIMAL(38,0)
    promotion for the cross-multiply), so the gate pins the estimates
    exactly; exact counts come from the same distinct-hash frames.

    Scale shape: one shingling pass per segment collapses immediately to
    distinct hashes (map-side combined); the K-th minimum is a
    TakeOrdered (no global sort); retained-set comparisons join 2K-row
    frames. At 100 TB the sketches are the only thing that crosses the
    wire — the exact columns are the bench-scale measurement.
    """
    segs = {}
    for name in (_D35_SEG_A, _D35_SEG_B):
        docs = (t(spark, sf, "documents")
                .filter(F.col("source") == name)
                .select("doc_id", "text"))
        grams = _positional_grams(docs, 3, "doc_id")
        h = (F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 15),
                    16, 10).cast("long"))
        segs[name] = grams.select(h.alias("hv")).distinct().localCheckpoint()

    a, b = segs[_D35_SEG_A], segs[_D35_SEG_B]
    kth_a = a.orderBy("hv").limit(_D35_KMV_K).agg(F.max("hv").alias("ka"))
    kth_b = b.orderBy("hv").limit(_D35_KMV_K).agg(F.max("hv").alias("kb"))
    theta = (kth_a.crossJoin(kth_b)
             .select(F.least("ka", "kb").alias("theta")))

    ra = a.crossJoin(F.broadcast(theta)).filter(F.col("hv") < F.col("theta"))
    rb = b.crossJoin(F.broadcast(theta)).filter(F.col("hv") < F.col("theta"))
    inter_r = ra.select("hv").intersect(rb.select("hv")).agg(
        F.count("*").alias("n_inter_r"))
    union_r = ra.select("hv").union(rb.select("hv")).distinct().agg(
        F.count("*").alias("n_union_r"))
    exact_inter = a.select("hv").intersect(b.select("hv")).agg(
        F.count("*").alias("exact_intersection"))
    exact_union = a.select("hv").union(b.select("hv")).distinct().agg(
        F.count("*").alias("exact_union"))

    def est(cnt: str) -> F.Column:
        return F.expr(f"CAST((CAST({cnt} AS DECIMAL(38,0)) * {_KMV_U})"
                      " div theta AS BIGINT)")

    return (theta.crossJoin(F.broadcast(inter_r))
            .crossJoin(F.broadcast(union_r))
            .crossJoin(F.broadcast(exact_inter))
            .crossJoin(F.broadcast(exact_union))
            .select(
                F.lit(_D35_KMV_K).cast("long").alias("k"),
                "theta",
                est("n_inter_r").alias("est_intersection"),
                "exact_intersection",
                est("n_union_r").alias("est_union"),
                "exact_union"))


D35_SQL = f"""
WITH ga AS (
  SELECT DISTINCT CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS hv
  FROM (
    SELECT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
    FROM (SELECT string_split(text, ' ') AS tk FROM documents
          WHERE source = '{_D35_SEG_A}'),
         LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i)
  )
),
gb AS (
  SELECT DISTINCT CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS hv
  FROM (
    SELECT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
    FROM (SELECT string_split(text, ' ') AS tk FROM documents
          WHERE source = '{_D35_SEG_B}'),
         LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i)
  )
),
theta AS (
  SELECT least(
    (SELECT MAX(hv) FROM (SELECT hv FROM ga ORDER BY hv LIMIT {_D35_KMV_K})),
    (SELECT MAX(hv) FROM (SELECT hv FROM gb ORDER BY hv LIMIT {_D35_KMV_K}))
  ) AS theta
),
ir AS (
  SELECT COUNT(*) AS n_inter_r FROM (
    SELECT hv FROM ga, theta WHERE hv < theta
    INTERSECT SELECT hv FROM gb, theta WHERE hv < theta)
),
ur AS (
  SELECT COUNT(*) AS n_union_r FROM (
    SELECT hv FROM ga, theta WHERE hv < theta
    UNION SELECT hv FROM gb, theta WHERE hv < theta)
),
ei AS (
  SELECT COUNT(*) AS exact_intersection FROM
    (SELECT hv FROM ga INTERSECT SELECT hv FROM gb)
),
eu AS (
  SELECT COUNT(*) AS exact_union FROM
    (SELECT hv FROM ga UNION SELECT hv FROM gb)
)
SELECT CAST({_D35_KMV_K} AS BIGINT) AS k, theta,
       CAST((CAST(n_inter_r AS HUGEINT) * {_KMV_U}) // theta AS BIGINT)
         AS est_intersection,
       exact_intersection,
       CAST((CAST(n_union_r AS HUGEINT) * {_KMV_U}) // theta AS BIGINT)
         AS est_union,
       exact_union
FROM theta, ir, ur, ei, eu
"""


# ---------------------------------------------------------------- d36

_D36_K = 64
_D36_SHARDS = 16
_D36_RANGE = float(1 << 32)


def d36_sketch_shard_merge(spark: SparkSession, sf: str) -> DataFrame:
    """KMV sketch union across shards == sketch of the union (per lang).

    The mergeability property that makes sketches the 100 TB answer:
    each shard (here pmod(h, 16) — in production, each partition/day/
    datacenter) keeps only its k smallest hashes; the k smallest of the
    union of those k-sets is EXACTLY the k smallest of the full corpus,
    so a tree of unions over shard sketches reproduces the global
    estimate bit-for-bit without ever re-touching raw data. The query
    computes both paths and surfaces their equality; the estimate itself
    is deterministic (shared md5 hash), so the oracle recomputes it.
    """
    du = (t(spark, sf, "documents")
          .select("lang",
                  F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
                  .cast("long").alias("h"))
          .distinct())
    sharded = du.withColumn("shard", F.pmod("h", F.lit(_D36_SHARDS)))
    w_shard = Window.partitionBy("lang", "shard").orderBy("h")
    survivors = (sharded.withColumn("rn", F.row_number().over(w_shard))
                 .filter(F.col("rn") <= _D36_K).drop("rn", "shard"))
    w_lang = Window.partitionBy("lang").orderBy("h")
    merged = (survivors.withColumn("rn", F.row_number().over(w_lang))
              .groupBy("lang")
              .agg(F.max(F.when(F.col("rn") == _D36_K, F.col("h")))
                   .alias("hk_merged")))
    global_ = (du.withColumn("rn", F.row_number().over(w_lang))
               .groupBy("lang")
               .agg(F.max(F.when(F.col("rn") == _D36_K, F.col("h")))
                    .alias("hk_global"),
                    F.count("*").cast("long").alias("exact_distinct")))
    est = (F.when(F.col("exact_distinct") < _D36_K,
                  F.col("exact_distinct").cast("double"))
           .otherwise(F.lit(float(_D36_K - 1) * _D36_RANGE)
                      / F.col("hk_global")))
    return (global_.join(merged, "lang", "left")
            .select("lang", "exact_distinct",
                    est.alias("est_distinct"),
                    ((F.col("exact_distinct") < _D36_K)
                     | (F.col("hk_merged") == F.col("hk_global")))
                    .alias("merge_matches_global")))


D36_SQL = f"""
WITH du AS (
  SELECT DISTINCT lang,
         CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS h
  FROM documents
),
r AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM du
),
g AS (
  SELECT lang,
         MAX(CASE WHEN rn = {_D36_K} THEN h END) AS hk,
         CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM r GROUP BY lang
)
SELECT lang, exact_distinct,
       CASE WHEN exact_distinct < {_D36_K}
            THEN CAST(exact_distinct AS DOUBLE)
            ELSE {float(_D36_K - 1) * _D36_RANGE} / hk
       END AS est_distinct,
       TRUE AS merge_matches_global
FROM g
"""


# ---------------------------------------------------------------- d37

_D37_TRAIN_PCT, _D37_VAL_PCT = 80, 10  # remainder = test


def d37_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split by content-free hash bucketing.

    The split a 100 TB curation pipeline actually ships: bucket =
    md5(doc_id) % 100 -> 80/10/10. Hash-of-key (not rand()) makes the
    assignment reproducible across runs, engines, and re-partitions, and
    adding documents never reassigns existing ones — the properties that
    keep eval sets uncontaminated as the corpus grows. Disjointness and
    completeness hold by construction; the gate pins the per-(lang,
    split) counts and char mass against the oracle's identical bucketing.
    """
    docs = t(spark, sf, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    bucket = F.pmod(h, F.lit(100))
    split = (F.when(bucket < _D37_TRAIN_PCT, "train")
             .when(bucket < _D37_TRAIN_PCT + _D37_VAL_PCT, "val")
             .otherwise("test"))
    return (docs.select("lang", "n_chars", split.alias("split"))
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


D37_SQL = f"""
WITH b AS (
  SELECT lang, n_chars,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < {_D37_TRAIN_PCT} THEN 'train'
            WHEN bucket < {_D37_TRAIN_PCT + _D37_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1, 2
"""

# ---------------------------------------------------------------- d38

_D38_QUOTA = 50


def d38_source_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quota sampling: keep at most K docs per source, chosen
    by deterministic hash order (uniform without replacement, stable
    under re-runs and corpus growth at the kept end).

    The anti-domination step of corpus curation — one crawl domain must
    not swamp the mixture. Hash-order top-K per group is a bounded
    per-partition heap + one shuffle on source; no global sort. The
    over-quota mass is reported, not silently dropped.
    """
    docs = t(spark, sf, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = (docs.select("source", "n_chars", "doc_id", h.alias("h"))
              .withColumn("rn", F.row_number().over(w)))
    return (ranked.groupBy("source")
            .agg(F.sum(F.when(F.col("rn") <= _D38_QUOTA, 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("rn") <= _D38_QUOTA,
                              F.col("n_chars")).otherwise(0))
                 .cast("long").alias("chars_kept"),
                 F.sum(F.when(F.col("rn") > _D38_QUOTA, 1).otherwise(0))
                 .cast("long").alias("n_dropped")))


D38_SQL = f"""
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                           1, 8) AS BIGINT), doc_id
         ) AS rn
  FROM documents
)
SELECT source,
       CAST(COUNT(*) FILTER (rn <= {_D38_QUOTA}) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(n_chars) FILTER (rn <= {_D38_QUOTA}), 0)
            AS BIGINT) AS chars_kept,
       CAST(COUNT(*) FILTER (rn > {_D38_QUOTA}) AS BIGINT) AS n_dropped
FROM r GROUP BY source
"""


# ---------------------------------------------------------------- d39

_D39_STEPS = 2


def d39_bpe_per_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language BPE training, first 2 merge steps — d30's loop with
    the winner chosen PER LANG each step (multilingual tokenizer reality:
    vocabularies diverge per language, and training them together in one
    pass is one corpus scan + per-lang broadcast merges, not one job per
    language).

    Scale shape mirrors d30: the corpus collapses to (lang, word type)
    first; each step aggregates pairs off types only and applies each
    lang's single winning merge via a broadcast join on lang.
    """
    steps: list[DataFrame] = []
    cur = _bpe_types(t(spark, sf, "documents"), "lang")
    for step in range(1, _D39_STEPS + 1):
        agg = _bpe_pairs(cur, "lang").groupBy("lang", "p1", "p2").agg(
            F.sum("f").alias("pair_count"))
        top = (agg.withColumn("rn", F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.desc("pair_count"), F.asc("p1"), F.asc("p2"))))
            .filter(F.col("rn") == 1)
            .select("lang", F.lit(step).cast("long").alias("step"),
                    "p1", "p2", "pair_count"))
        steps.append(top)
        cur = (cur.join(F.broadcast(top.select("lang", "p1", "p2")), "lang")
               .select("lang", _bpe_merged(), "f"))
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def _d39_sql() -> str:
    parts = ["""
WITH wf0 AS (
  SELECT lang, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sp, f
  FROM (SELECT lang, w, COUNT(*) AS f
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE length(w) >= 2 GROUP BY lang, w)
)"""]
    for i in range(1, _D39_STEPS + 1):
        parts.append(f""",
{_bpe_pc_duck(i, _BPE_COUNT_DUCK, "lang, ")},
t{i} AS (
  SELECT lang, CAST({i} AS BIGINT) AS step, p1, p2, pair_count FROM pc{i}
  QUALIFY row_number() OVER (PARTITION BY lang
                             ORDER BY pair_count DESC, p1, p2) = 1
),
wf{i} AS (
  SELECT w.lang,
         replace(w.sp, ' ' || t.p1 || ' ' || t.p2 || ' ',
                 ' ' || t.p1 || t.p2 || ' ') AS sp, w.f
  FROM wf{i - 1} w JOIN t{i} t USING (lang)
)""")
    union = " UNION ALL ".join(
        f"SELECT lang, step, p1, p2, pair_count FROM t{i}"
        for i in range(1, _D39_STEPS + 1))
    parts.append(f"\n{union}")
    return "".join(parts)


# ---------------------------------------------------------------- d40


def d40_video_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Re-encoded-copy video dedup via decode-invariant frame signatures —
    the multimodal dedup a byte hash CANNOT do, through the real
    distributed decode path (ONE fused Arrow mapInPandas stage:
    demux -> decode -> frame fingerprints -> per-video signature; the
    per-video work is local by definition, so fusion removes two
    shuffles and three Arrow boundaries vs chaining the composable
    single-step operators — 4.5 s -> measured below at ~sf1).

    Every document yields two byte-DISTINCT "videos": the original and a
    re-containered copy (same stream, different trailer padding —
    strip_container's fake demux models the mp4-vs-mkv case). Dedup keys
    on the demuxed stream: decode once per video (extract_features ->
    stream checksum), sample frame offsets (duration is stream-derived),
    fingerprint each frame from the decoded state, and collapse each
    video to the md5 of its ordered fingerprint sequence. Exactly the
    original+copy pairs must collide: the gate pins one group per
    document, n_videos = 2, canonical = the original id.

    Scale: content bytes are read exactly once inside the fused stage
    and never shuffle; the only exchange is the tiny signature rollup.
    """
    from etl_docker_spark.llm.multimodal import video_signatures

    docs = t(spark, sf, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    original = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"))
    reenc = docs.select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("media_id"),
        F.concat(F.encode("text", "UTF-8"),
                 F.encode(F.lit("#PAD7"), "UTF-8")).alias("content"))
    media = original.unionByName(reenc)
    sigs = video_signatures(media)
    return (sigs.groupBy("signature")
            .agg(F.count("*").cast("long").alias("n_videos"),
                 F.min("media_id").alias("canonical_id"))
            .filter(F.col("n_videos") > 1))


D40_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS cs
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS media_id,
         CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS cs
  FROM documents
),
fr AS (
  SELECT media_id, cs,
         unnest(generate_series(0, cs % 5000, 1000)) AS frame_ms
  FROM m
),
fp AS (
  SELECT media_id, frame_ms,
         md5(CAST(cs AS VARCHAR) || ':' || CAST(frame_ms AS VARCHAR)) AS fp
  FROM fr
),
sig AS (
  SELECT media_id, md5(string_agg(fp, '' ORDER BY frame_ms)) AS signature
  FROM fp GROUP BY media_id
)
SELECT signature, CAST(COUNT(*) AS BIGINT) AS n_videos,
       MIN(media_id) AS canonical_id
FROM sig GROUP BY signature HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------- d41


def d41_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus snapshot diff: crawl N vs N-1 classified per document as
    added / removed / changed / unchanged, rolled up per lang — the
    primitive that makes every downstream pass incremental (re-embed,
    re-dedup, re-score only the changed slice instead of 100 TB).

    Snapshots derive deterministically from one table: v1 drops
    doc_id%10==0, v2 drops %10==1 and revises the text of %10==2. The
    diff is a digest-based full outer join on doc_id — digests (16
    bytes), never text, are what shuffles; at scale both sides are
    digest manifests, the cheapest possible representation of "what
    changed".
    """
    docs = t(spark, sf, "documents").select(
        "doc_id", "lang", F.md5("text").alias("digest"))
    v1 = docs.filter(F.pmod("doc_id", F.lit(10)) != 0)
    v2 = (docs.filter(F.pmod("doc_id", F.lit(10)) != 1)
          .withColumn("digest",
                      F.when(F.pmod("doc_id", F.lit(10)) == 2,
                             F.md5(F.concat(F.col("digest"),
                                            F.lit(":rev2"))))
                      .otherwise(F.col("digest"))))
    j = (v1.select("doc_id", "lang", F.col("digest").alias("d1"))
         .join(v2.select("doc_id", "lang", F.col("digest").alias("d2")),
               ["doc_id", "lang"], "full_outer"))
    status = (F.when(F.col("d1").isNull(), "added")
              .when(F.col("d2").isNull(), "removed")
              .when(F.col("d1") != F.col("d2"), "changed")
              .otherwise("unchanged"))
    return (j.select("lang", status.alias("status"))
            .groupBy("lang", "status")
            .agg(F.count("*").alias("n_docs")))


D41_SQL = """
WITH d AS (
  SELECT doc_id, lang, md5(text) AS digest FROM documents
),
v1 AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
v2 AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 10 = 2 THEN md5(digest || ':rev2')
              ELSE digest END AS digest
  FROM d WHERE doc_id % 10 <> 1
),
j AS (
  SELECT COALESCE(v1.lang, v2.lang) AS lang, v1.digest AS d1,
         v2.digest AS d2
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT lang,
       CASE WHEN d1 IS NULL THEN 'added'
            WHEN d2 IS NULL THEN 'removed'
            WHEN d1 <> d2 THEN 'changed'
            ELSE 'unchanged' END AS status,
       COUNT(*) AS n_docs
FROM j GROUP BY 1, 2
"""


# ---------------------------------------------------------------- d42


def d42_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Custom aggregation through the sanctioned escape hatch: weighted
    median per event type as an Arrow-batched GROUPED_AGG pandas UDF.

    The demonstration case for semantics outside the built-in aggregate
    set (per-key custom models, business-rule accumulators): Spark plans
    AggregateInPandas — each group's (value, weight) columns arrive as
    Arrow arrays, one Python call per group, no per-row interpreter
    round-trips. Weighted median = smallest value whose cumulative weight
    reaches half the total (per-distinct-value cumulation, so within-tie
    row order cannot matter); weights derive from user_id so the oracle
    recomputes them. The SQL twin is a RANGE-frame window cumsum —
    expressible, but the UDF path is what generalizes when the
    accumulator is not.
    """
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: `from __future__ import annotations`
    # stringifies hints, so signature inference can't see pd.Series here
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmedian(v, w):
        per_val = (pd.DataFrame({"v": v, "w": w})
                   .groupby("v", sort=True)["w"].sum())
        cum = per_val.cumsum()
        total = int(cum.iloc[-1])
        return float(cum.index[(2 * cum) >= total][0])

    ev = t(spark, sf, "events").select(
        "event_type", "value",
        (F.pmod("user_id", F.lit(7)) + 1).cast("long").alias("w"))
    # a GROUPED_AGG UDF cannot mix with JVM aggregates in one agg();
    # total_weight comes from a separate JVM-side rollup joined back
    med = ev.groupBy("event_type").agg(wmedian("value", "w").alias("w_median"))
    tot = ev.groupBy("event_type").agg(F.sum("w").alias("total_weight"))
    return med.join(tot, "event_type")


D42_SQL = """
WITH t AS (
  SELECT event_type, value, (user_id % 7) + 1 AS w FROM events
),
c AS (
  SELECT event_type, value,
         SUM(w) OVER (PARTITION BY event_type ORDER BY value
                      RANGE UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY event_type) AS tot
  FROM t
)
SELECT event_type,
       MIN(value) FILTER (2 * cum >= tot) AS w_median,
       CAST((SELECT SUM((user_id % 7) + 1) FROM events e2
             WHERE e2.event_type = c.event_type) AS BIGINT)
         AS total_weight
FROM c GROUP BY event_type
"""


# ---------------------------------------------------------------- d43

_D43_N = 4           # same n-gram order as d19
_D43_PPM = 20_000    # eject from train above 2% eval-gram overlap


def d43_clean_split(spark: SparkSession, sf: str) -> DataFrame:
    """Contamination-aware corpus split: d37's hash assignment composed
    with d19's eval-overlap probe — a would-be TRAIN document whose
    eval-4-gram overlap exceeds the threshold is ejected to 'quarantine'
    instead (val/test keep their assignment; holding out eval look-alikes
    from eval would bias it the other way). The hygiene pass every
    pre-training pipeline runs between splitting and training.

    Scale shape inherited from both parents: eval grams broadcast
    (benchmarks are MBs vs 100 TB), the corpus is probed without
    shuffling, and the split is a pure per-row hash. Output: per (lang,
    final split) doc count and char mass — the gate proves the
    composition end-to-end.
    """
    from etl_docker_spark.llm.dedup import shingle_rows

    docs = t(spark, sf, "documents")
    sh = (shingle_rows(docs, "doc_id", "text", _D43_N)
          .withColumnRenamed("doc", "doc_id")
          .distinct())
    is_eval = F.pmod("doc_id", F.lit(20)) == 0
    eval_grams = sh.filter(is_eval).select(F.col("s").alias("g")).distinct()
    w = Window.partitionBy("doc_id")
    corpus_sh = (sh.filter(~is_eval)
                 .select("doc_id",
                         F.count("*").over(w).cast("long").alias("total"),
                         F.col("s").alias("g")))
    contaminated = (corpus_sh.join(F.broadcast(eval_grams), "g")
                    .groupBy("doc_id", "total")
                    .agg(F.count("*").alias("shared"))
                    .filter(F.expr("(1000000 * shared) div total")
                            >= _D43_PPM)
                    .select("doc_id"))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    bucket = F.pmod(h, F.lit(100))
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    assigned = (docs.filter(~is_eval)
                .select("doc_id", "lang", "n_chars", split.alias("split"))
                .join(F.broadcast(contaminated.withColumn(
                    "is_dirty", F.lit(True))), "doc_id", "left"))
    final = (F.when((F.col("split") == "train") & F.col("is_dirty"),
                    "quarantine").otherwise(F.col("split")))
    return (assigned.select("lang", final.alias("split"), "n_chars")
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


D43_SQL = f"""
WITH {_ngram_ctes(_D43_N)},
ev AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 = 0
),
cg AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS total, unnest(sh) AS g
  FROM sh WHERE doc_id % 20 != 0
),
dirty AS (
  SELECT doc_id FROM (
    SELECT doc_id, total, COUNT(*) AS shared
    FROM cg JOIN ev USING (g) GROUP BY doc_id, total
  ) WHERE (1000000 * shared) // total >= {_D43_PPM}
),
assigned AS (
  SELECT d.lang, d.n_chars,
         CASE WHEN CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)),
                                          1, 8) AS BIGINT) % 100 < 80
              THEN 'train'
              WHEN CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)),
                                          1, 8) AS BIGINT) % 100 < 90
              THEN 'val' ELSE 'test' END AS split,
         (dirty.doc_id IS NOT NULL) AS is_dirty
  FROM documents d LEFT JOIN dirty ON d.doc_id = dirty.doc_id
  WHERE d.doc_id % 20 != 0
)
SELECT lang,
       CASE WHEN split = 'train' AND is_dirty THEN 'quarantine'
            ELSE split END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM assigned GROUP BY 1, 2
"""


# ---------------------------------------------------------------- d44


def d44_vocab_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary concentration per language: how few token types cover
    50% / 90% of all token occurrences — the integer-exact form of the
    Zipf head/tail diagnostic (a fitted slope needs cross-engine libm
    log(), which is NOT bit-portable; coverage thresholds are pure
    integer cumulative sums and answer the same curation question:
    how head-heavy is this corpus slice).

    One scan collapses to (lang, token type, count); the cumulative sum
    runs over types ranked by (count desc, token) — total-ordered so the
    threshold crossing is engine-independent.
    """
    toks = (t(spark, sf, "documents")
            .select("lang", F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.length("tok") > 0))
    tf = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("tok"))
    ranked = (tf.withColumn("cum", F.sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, 0))))
    totals = tf.groupBy("lang").agg(
        F.sum("c").alias("total_occurrences"),
        F.count("*").alias("n_types"))
    j = ranked.join(totals, "lang")
    return (j.groupBy("lang", "total_occurrences", "n_types")
            .agg(F.sum(F.when(2 * F.col("cum")
                              < F.col("total_occurrences"), 1)
                       .otherwise(0)).alias("_below50"),
                 F.sum(F.when(10 * F.col("cum")
                              < 9 * F.col("total_occurrences"), 1)
                       .otherwise(0)).alias("_below90"))
            .select("lang",
                    F.col("total_occurrences").cast("long")
                    .alias("total_occurrences"),
                    F.col("n_types").cast("long").alias("n_types"),
                    (F.col("_below50") + 1).cast("long")
                    .alias("types_for_50pct"),
                    (F.col("_below90") + 1).cast("long")
                    .alias("types_for_90pct")))


D44_SQL = """
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (
  SELECT lang, tok, COUNT(*) AS c FROM toks
  WHERE length(tok) > 0 GROUP BY 1, 2
),
ranked AS (
  SELECT lang, c,
         SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, tok
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM tf
),
totals AS (
  SELECT lang, SUM(c) AS total_occurrences, COUNT(*) AS n_types
  FROM tf GROUP BY lang
)
SELECT r.lang,
       CAST(t.total_occurrences AS BIGINT) AS total_occurrences,
       CAST(t.n_types AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN 2 * r.cum < t.total_occurrences
                     THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS types_for_50pct,
       CAST(SUM(CASE WHEN 10 * r.cum < 9 * t.total_occurrences
                     THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS types_for_90pct
FROM ranked r JOIN totals t USING (lang)
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------- d45


def d45_dedup_method_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Detector agreement audit: the MinHash-LSH near-dup pair set (d06)
    vs the SimHash pair set (d11) as a confusion summary — how many pairs
    each method finds, how many both find, and per-method exclusives.

    The evaluation every production dedup stack runs before trusting one
    detector at 100 TB: methods have different recall surfaces (token
    shingles vs weighted-feature bits), and their OVERLAP is the
    high-confidence kill set while the exclusives price each method's
    marginal contribution. Both pair frames are memoized index artifacts
    (d06's via the pair-graph memo, d11 recomputed off the fingerprint
    table), so this audit costs two tiny set ops on a warm session.
    """
    m = minhash_pairs_frame(spark, sf).select("doc_a", "doc_b")
    s = d11_simhash_pairs(spark, sf).select("doc_a", "doc_b")
    both = m.join(s, ["doc_a", "doc_b"])
    return (m.agg(F.count("*").cast("long").alias("n_minhash"))
            .crossJoin(s.agg(F.count("*").cast("long").alias("n_simhash")))
            .crossJoin(both.agg(F.count("*").cast("long").alias("n_both")))
            .select("n_minhash", "n_simhash", "n_both",
                    (F.col("n_minhash") - F.col("n_both"))
                    .alias("minhash_only"),
                    (F.col("n_simhash") - F.col("n_both"))
                    .alias("simhash_only")))


def _d45_sql() -> str:
    # DuckDB allows WITH-bearing statements as parenthesized subqueries,
    # so each method's full oracle body nests verbatim — no duplication
    # of the pair-construction logic.
    return f"""
WITH m AS (SELECT doc_a, doc_b FROM ({D06_SQL})),
s AS (SELECT doc_a, doc_b FROM ({D11_SQL})),
b AS (SELECT m.doc_a, m.doc_b FROM m JOIN s USING (doc_a, doc_b))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_minhash,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_simhash,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_both,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM m)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS minhash_only,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM s)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS simhash_only
"""


# ---------------------------------------------------------------- d46

_D46_H = 16   # signature width (d06's default)


def d46_minhash_estimation_error(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash estimator-bias audit: for every verified near-dup pair
    (d06), the Jaccard the 16-lane signature ESTIMATES (matching lanes /
    16) against the exact hashed-shingle Jaccard — the per-pair error
    that prices the signature width. d45 audits detector AGREEMENT
    (minhash vs simhash); this audits the estimator itself: a 16-hash
    signature quantizes Jaccard to 1/16 steps, and err_ppm is the
    evidence for widening (or narrowing) the signature at 100 TB, where
    signature width IS the shuffle width of the dedup pass.

    Scale shape: the pair frame is the memoized d06 graph (no second
    corpus pass for candidates); signatures are recomputed only for
    documents that appear in a pair (left-semi pushdown before the
    shingle explode), so the audit's cost scales with the DUPLICATE
    population, not the corpus.
    """
    from etl_docker_spark.llm.dedup import (MINHASH_COEFFS, MINHASH_P,
                                            _base_hash, shingle_rows)
    from etl_docker_spark.plans._util import t

    pairs = minhash_pairs_frame(spark, sf)
    ids = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
           .distinct())
    docs = (t(spark, sf, "documents").select("doc_id", "text")
            .join(ids, "doc_id", "left_semi"))
    hashed = (shingle_rows(docs, "doc_id", "text", 3)
              .select("doc", _base_hash(F.col("s")).alias("h")))
    sig = hashed.groupBy("doc").agg(
        *[F.min((F.lit(MINHASH_COEFFS[j][0]) * F.col("h")
                 + F.lit(MINHASH_COEFFS[j][1])) % F.lit(MINHASH_P))
          .alias(f"mh{j}") for j in range(_D46_H)])
    sa = sig.select(F.col("doc").alias("doc_a"),
                    *[F.col(f"mh{j}").alias(f"a{j}") for j in range(_D46_H)])
    sb = sig.select(F.col("doc").alias("doc_b"),
                    *[F.col(f"mh{j}").alias(f"b{j}") for j in range(_D46_H)])
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(_D46_H))
    return (pairs.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .select("doc_a", "doc_b",
                    F.expr("1000000 * inter_n div union_n")
                    .alias("exact_ppm"),
                    (F.lit(1_000_000) * matches.cast("long")
                     / F.lit(_D46_H)).cast("long").alias("est_ppm"))
            .withColumn("err_ppm",
                        F.abs(F.col("est_ppm") - F.col("exact_ppm"))))


def _d46_sql() -> str:
    lanes = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(_D46_H))
    return f"""
WITH pairs AS ({D06_SQL}),
ids AS (
  SELECT DISTINCT doc_a AS doc_id FROM pairs
  UNION SELECT DISTINCT doc_b FROM pairs
),
toks2 AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS tk
  FROM documents d JOIN ids USING (doc_id)
),
sh2 AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - 2, 1)),
             i -> array_to_string(tk[i:i+2], ' '))) AS sh
  FROM toks2
),
hashed2 AS (
  SELECT doc_id,
         list_transform(sh, s -> CAST('0x' || substring(md5(s), 1, 8)
                                      AS BIGINT)) AS hh
  FROM sh2
),
sig AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM hashed2
)
SELECT p.doc_a, p.doc_b,
       1000000 * p.inter_n // p.union_n AS exact_ppm,
       CAST(1000000 * ({lanes}) / {_D46_H} AS BIGINT) AS est_ppm,
       abs(CAST(1000000 * ({lanes}) / {_D46_H} AS BIGINT)
           - 1000000 * p.inter_n // p.union_n) AS err_ppm
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
"""


# ---------------------------------------------------------------- d47


def d47_prefix_filter_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.5 dedup pairs via prefix filtering
    (AllPairs/PPJoin candidates) — the ground-truth twin of d06's
    MinHash-LSH pairs: same (doc_a, doc_b, inter_n, union_n) contract,
    but complete by construction (the oracle is the brute-force
    all-pairs join; the engine never materializes all pairs — see
    `llm/dedup.py:prefix_filter_jaccard_pairs` for the shuffle ledger
    and the rarest-token-prefix argument that keeps it subquadratic)."""
    return prefix_jaccard_pairs_frame(spark, sf)


# Every doc pair sharing a shingle hash in `hs` (doc_id, hs), with its
# intersection and union sizes: the brute-force Jaccard tail of the D47,
# D49 and d57 oracles, each of which adds its own threshold WHERE.
_HS_PAIRS_SQL = """tok AS (SELECT doc_id, unnest(hs) AS h FROM hs),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS inter_n
  FROM tok a JOIN tok b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.inter_n,
       CAST(len(sa.hs) + len(sb.hs) AS BIGINT) - p.inter_n AS union_n
FROM pair p
JOIN hs sa ON sa.doc_id = p.doc_a
JOIN hs sb ON sb.doc_id = p.doc_b"""

D47_SQL = f"""
WITH {_D47_HASHED_CTES},
hs AS (SELECT doc_id, list_distinct(hh) AS hs FROM hashed),
{_HS_PAIRS_SQL}
WHERE 2 * p.inter_n >= len(sa.hs) + len(sb.hs) - p.inter_n
"""


# ---------------------------------------------------------------- d48


def d48_dup_cluster_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-level audit of approximate vs exact dedup: connected
    components over BOTH pair graphs — d47's exact prefix-filter join
    and d06's MinHash-LSH survivors — with min-doc-id labels, so the
    labelings are directly comparable. Since LSH verification is exact
    Jaccard, the MinHash edge set is a SUBSET of the exact one; what
    banding can lose is CONNECTIVITY (a missed edge can split a true
    cluster even when most pairs survive). d45 audits pair-level
    agreement; this is the cluster-level consequence — the number that
    tells you how much corpus-dedup (d14-style keep-one-per-cluster)
    would over-retain under the approximate graph.

    Output, one row per method: docs in the pair graph, component
    count, largest component, and docs whose label matches the exact
    labeling (n_label_match == n_docs on the 'exact' row by
    construction only if the minhash graph found every doc — it's the
    shared-doc matched count on both rows, so the rows are symmetric).
    """
    from etl_docker_spark.operators.graph import connected_components

    lab_e = connected_components(
        prefix_jaccard_pairs_frame(spark, sf),
        src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    lab_m = connected_components(
        minhash_pairs_frame(spark, sf),
        src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))

    agree = (lab_e.alias("e")
             .join(lab_m.alias("m"), "doc_id")
             .filter(F.col("e.cluster_id") == F.col("m.cluster_id"))
             .count())

    def stats(lab: DataFrame, method: str) -> DataFrame:
        sizes = lab.groupBy("cluster_id").agg(F.count("*").alias("sz"))
        return (lab.agg(F.count("*").cast("long").alias("n_docs"))
                .crossJoin(sizes.agg(
                    F.count("*").cast("long").alias("n_clusters"),
                    F.max("sz").cast("long").alias("max_cluster_sz")))
                .select(F.lit(method).alias("method"), "n_docs",
                        "n_clusters", "max_cluster_sz",
                        F.lit(agree).cast("long").alias("n_label_match")))

    return stats(lab_e, "exact").unionByName(stats(lab_m, "minhash"))


D48_SQL = f"""
WITH RECURSIVE {_D06_BODY}
, mh_pairs AS (
  SELECT doc_a, doc_b FROM ver WHERE 2 * inter_n >= total_n - inter_n
),
tokx AS (SELECT doc_id, unnest(hs) AS h FROM hs),
ex_pre AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
  FROM tokx a JOIN tokx b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ex_pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM ex_pre p
  JOIN hs sa ON sa.doc_id = p.doc_a
  JOIN hs sb ON sb.doc_id = p.doc_b
  WHERE 2 * p.inter_n >= len(sa.hs) + len(sb.hs) - p.inter_n
),
eedges AS (
  SELECT doc_a AS a, doc_b AS b FROM ex_pairs
  UNION ALL SELECT doc_b, doc_a FROM ex_pairs
),
ereach AS (
  SELECT a AS node, b AS other FROM eedges
  UNION
  SELECT r.node, e.b FROM ereach r JOIN eedges e ON r.other = e.a
),
elab AS (
  SELECT node AS doc_id, LEAST(node, MIN(other)) AS cluster_id
  FROM ereach GROUP BY node
),
medges AS (
  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
  UNION ALL SELECT doc_b, doc_a FROM mh_pairs
),
mreach AS (
  SELECT a AS node, b AS other FROM medges
  UNION
  SELECT r.node, e.b FROM mreach r JOIN medges e ON r.other = e.a
),
mlab AS (
  SELECT node AS doc_id, LEAST(node, MIN(other)) AS cluster_id
  FROM mreach GROUP BY node
),
agree AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM elab e JOIN mlab m USING (doc_id)
  WHERE e.cluster_id = m.cluster_id
),
estats AS (
  SELECT 'exact' AS method,
         CAST((SELECT COUNT(*) FROM elab) AS BIGINT) AS n_docs,
         CAST((SELECT COUNT(DISTINCT cluster_id) FROM elab) AS BIGINT)
           AS n_clusters,
         CAST((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM elab
               GROUP BY cluster_id)) AS BIGINT) AS max_cluster_sz,
         (SELECT n FROM agree) AS n_label_match
),
mstats AS (
  SELECT 'minhash' AS method,
         CAST((SELECT COUNT(*) FROM mlab) AS BIGINT) AS n_docs,
         CAST((SELECT COUNT(DISTINCT cluster_id) FROM mlab) AS BIGINT)
           AS n_clusters,
         CAST((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM mlab
               GROUP BY cluster_id)) AS BIGINT) AS max_cluster_sz,
         (SELECT n FROM agree) AS n_label_match
)
SELECT * FROM estats UNION ALL SELECT * FROM mstats
"""


# ---------------------------------------------------------------- d49


def d49_positional_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.7 pairs via prefix + POSITIONAL
    filtering (PPJoin, Xiao et al. WWW'08) — d47's documented upgrade
    path, gated at the tighter threshold where the positional bound has
    teeth (at t=0.7 prefixes are ~30% of each set, and most
    prefix-collision pairs fail the first-match position bound before
    the verification joins ever run; measured reduction table in
    SCALE.md). Zero false negatives by construction: the filter only
    discards candidates whose overlap upper bound is below the Jaccard
    minoverlap, so output == the brute-force join (the oracle).

    See `llm/dedup.py:prefix_filter_jaccard_pairs(positional=True)` for
    the order-consistency argument that makes the classic single-node
    bound computable as a distributed per-pair MIN."""
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        t(spark, sf, "documents"), "doc_id", "text", shingle_n=3,
        t_num=7, t_den=10, positional=True)


D49_SQL = f"""
WITH {_D47_HASHED_CTES},
hs AS (SELECT doc_id, list_distinct(hh) AS hs FROM hashed),
{_HS_PAIRS_SQL}
WHERE 10 * p.inter_n >= 7 * (len(sa.hs) + len(sb.hs) - p.inter_n)
"""


# ---------------------------------------------------------------- d50


def d50_substring_runs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact shared-substring audit: document pairs sharing a contiguous
    run of >= 8 tokens, with the longest shared run and total 5-gram
    match volume per pair — the EXACT-SUBSTRING dedup family (Lee et
    al. '22) next to set-Jaccard (d47/d49): set similarity can't see
    that two long documents share one verbatim paragraph (Jaccard is
    diluted by the unshared remainder); substring runs are exactly that
    signal, and at training-data scale verbatim-paragraph contamination
    is what leaks benchmarks. See
    `llm/dedup.py:substring_run_pairs` for the diagonal-streak method
    and the boilerplate-gram scale hazard."""
    from etl_docker_spark.llm.dedup import substring_run_pairs

    return substring_run_pairs(
        t(spark, sf, "documents"), "doc_id", "text", k=5, min_run=8)


def _kgram_ctes(k: int) -> str:
    """`toks` (doc_id, tk: the space tokens) and `g` (doc_id, p, h): the
    md5-32 hash h of each k-token window, p its 1-based start."""
    return f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
g AS (
  SELECT doc_id, i AS p,
         CAST('0x' || substring(
           md5(array_to_string(tk[i:i+{k - 1}], ' ')), 1, 8) AS BIGINT) AS h
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - {k - 1})) AS u(i)
  WHERE len(tk) >= {k}
)"""


D50_SQL = f"""
WITH {_kgram_ctes(5)},
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, a.p - b.p AS d
  FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
),
r AS (
  SELECT doc_a, doc_b, d, pa,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, d
                                 ORDER BY pa) AS grp
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, d, grp, COUNT(*) AS s
  FROM r GROUP BY doc_a, doc_b, d, grp
)
SELECT doc_a, doc_b,
       CAST(MAX(s) + 4 AS BIGINT) AS max_run_tokens,
       CAST(SUM(s) AS BIGINT) AS n_gram_matches
FROM runs GROUP BY doc_a, doc_b
HAVING MAX(s) + 4 >= 8
"""


# ---------------------------------------------------------------- d51

_D51_MOD = 13  # benchmark slice: doc_id % 13 == 0


def d51_substring_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark DECONTAMINATION by exact substring overlap — the
    production form of d50: a held-out benchmark slice (doc_id %
    {_D51_MOD} == 0) is screened against the training corpus, and any
    training document sharing a contiguous >= 8-token run with a
    benchmark document is flagged for ejection (one row per flagged
    training doc: the worst offending benchmark doc and the longest
    run). Verbatim-run overlap is the decontamination criterion the
    dedup-training-data line of work actually ships — set-level Jaccard
    (d19/d43's screens) misses a benchmark answer pasted into a long
    document, which is precisely the leak that inflates evals.

    Composition: d50's diagonal-streak pair detector, post-filtered to
    BIPARTITE pairs (exactly one endpoint in the benchmark slice), then
    a max_by per training doc. Runs within either slice are ignored —
    dedup inside the corpus is d14's job, not decontamination's."""
    from etl_docker_spark.llm.dedup import substring_run_pairs

    pairs = substring_run_pairs(
        t(spark, sf, "documents"), "doc_id", "text", k=5, min_run=8)
    a_bench = F.col("doc_a") % _D51_MOD == 0
    b_bench = F.col("doc_b") % _D51_MOD == 0
    cross = (pairs.filter(a_bench != b_bench)
             .select(F.when(a_bench, F.col("doc_b"))
                     .otherwise(F.col("doc_a")).alias("train_doc"),
                     F.when(a_bench, F.col("doc_a"))
                     .otherwise(F.col("doc_b")).alias("bench_doc"),
                     "max_run_tokens"))
    from pyspark.sql import Window

    w = Window.partitionBy("train_doc").orderBy(
        F.desc("max_run_tokens"), F.asc("bench_doc"))
    return (cross.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("train_doc", "bench_doc", "max_run_tokens"))


def _d51_sql() -> str:
    body = D50_SQL.strip().removeprefix("WITH")
    pairs = body.rsplit("SELECT doc_a, doc_b,", 1)[0].strip()
    return f"""
WITH {pairs},
pair_runs AS (
  SELECT doc_a, doc_b, CAST(MAX(s) + 4 AS BIGINT) AS max_run_tokens
  FROM runs GROUP BY doc_a, doc_b
  HAVING MAX(s) + 4 >= 8
),
cross_pairs AS (
  SELECT CASE WHEN doc_a % {_D51_MOD} = 0 THEN doc_b ELSE doc_a END
           AS train_doc,
         CASE WHEN doc_a % {_D51_MOD} = 0 THEN doc_a ELSE doc_b END
           AS bench_doc,
         max_run_tokens
  FROM pair_runs
  WHERE (doc_a % {_D51_MOD} = 0) <> (doc_b % {_D51_MOD} = 0)
)
SELECT train_doc, bench_doc, max_run_tokens
FROM cross_pairs
QUALIFY row_number() OVER (PARTITION BY train_doc
                           ORDER BY max_run_tokens DESC, bench_doc ASC) = 1
"""


# ---------------------------------------------------------------- d52


def d52_internal_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Longest INTERNAL verbatim repeat per document — the looping-text
    pathology (a model- or template-generated doc repeating a paragraph
    dozens of times) that token-level repetition RATES (d15) can see
    but cannot size: d15 says "40% repeated 5-grams", this says "one
    61-token block occurs twice". d50's diagonal-streak machinery
    turned inward: a doc's k-gram positions self-joined on the hash
    with pa < pb; a streak of consecutive pa on diagonal pb - pa > 0
    certifies a repeated run of streak + k - 1 tokens (the diagonal
    value is the repeat DISTANCE — adjacent copies vs far-apart
    copies — carried through as the distance of the longest repeat).
    Windows partition by (doc, diagonal): bounded by one document's
    self-match volume, never corpus-sized."""
    from pyspark.sql import Window

    k, min_run = 2, 3  # synthetic corpus repeats are short; k=2 makes
    # the detector sensitive to them (real curation would run k=5+)
    df = t(spark, sf, "documents")
    df = df.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id"))
    from etl_docker_spark.llm.dedup import _base_hash
    grams = (_positional_grams(df, k, "doc")
             .select("doc", F.col("pos").cast("long").alias("p"),
                     _base_hash(F.col("g")).alias("h")))
    m = (grams.alias("a").join(grams.alias("b"),
                               (F.col("a.doc") == F.col("b.doc"))
                               & (F.col("a.h") == F.col("b.h"))
                               & (F.col("a.p") < F.col("b.p")))
         .select(F.col("a.doc").alias("doc"), F.col("a.p").alias("pa"),
                 (F.col("b.p") - F.col("a.p")).alias("d")))
    w2 = Window.partitionBy("doc", "d").orderBy("pa")
    runs = (m.withColumn("grp", F.col("pa") - F.row_number().over(w2))
            .groupBy("doc", "d", "grp")
            .agg(F.count("*").alias("s")))
    w3 = Window.partitionBy("doc").orderBy(F.desc("s"), F.asc("d"))
    return (runs.withColumn("rn", F.row_number().over(w3))
            .filter(F.col("rn") == 1)
            .select(F.col("doc").alias("doc_id"),
                    (F.col("s") + k - 1).cast("long")
                    .alias("max_repeat_tokens"),
                    F.col("d").cast("long").alias("repeat_distance"))
            .filter(F.col("max_repeat_tokens") >= min_run))


D52_SQL = f"""
WITH {_kgram_ctes(2)},
m AS (
  SELECT a.doc_id AS doc, a.p AS pa, b.p - a.p AS d
  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.h = b.h AND a.p < b.p
),
r AS (
  SELECT doc, d, pa,
         pa - row_number() OVER (PARTITION BY doc, d ORDER BY pa) AS grp
  FROM m
),
runs AS (
  SELECT doc, d, grp, COUNT(*) AS s FROM r GROUP BY doc, d, grp
),
best AS (
  SELECT doc, s, d,
         row_number() OVER (PARTITION BY doc ORDER BY s DESC, d ASC) AS rn
  FROM runs
)
SELECT doc AS doc_id, CAST(s + 1 AS BIGINT) AS max_repeat_tokens,
       CAST(d AS BIGINT) AS repeat_distance
FROM best WHERE rn = 1 AND s + 1 >= 3
"""


# ---------------------------------------------------------------- d53


def d53_suffix_filter_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.7 pairs with the FULL PPJoin+ filter
    stack: prefix + positional + suffix filtering — d49's documented
    next shrinker, for adversarial corpora where prefix collisions
    survive the positional bound (near-identical sizes, early first
    match) yet can't verify. Zero false negatives: the suffix filter
    only removes candidates whose K-bucket histogram overlap bound
    sum_k min(histA[k], histB[k]) is below the Jaccard minoverlap, so
    the output is identical to d49's (and to the brute-force oracle)
    by construction — the gate pins exactly that.

    See `llm/dedup.py:prefix_filter_jaccard_pairs(suffix_buckets=32)`
    for the distributed re-shape of Xiao's sequential divide-and-conquer
    probe (a 256-byte histogram sketch per doc replaces the recursive
    partitioning; the bound is coarser per-probe but order-free,
    joinable, and computed once per candidate). Measured at sf0.1:
    104,475 prefix candidates -> 33,316 after positional -> 257 after
    suffix (K=32) for 256 true pairs — 99.6% filter precision, with
    the full table in SCALE.md.
    """
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        t(spark, sf, "documents"), "doc_id", "text", shingle_n=3,
        t_num=7, t_den=10, positional=True, suffix_buckets=32)


# Identical ground truth: the filter stack only prunes non-qualifying
# candidates, so the brute-force all-pairs oracle is shared with d49.
D53_SQL = D49_SQL


# ---------------------------------------------------------------- d54

_D54_STEPS = 3  # same horizon as d30 — the merges d54 applies are d30's


def d54_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """BPE ENCODING — applying d30's learned merge table to the corpus,
    the other half of the tokenizer lifecycle (d27/d30/d39 learn; this
    encodes). Per document: word count, encoded token count under the
    3-merge vocab, character mass, and tokens-per-char (ppm) — the
    compression statistic that decides whether a tokenizer is paying
    for itself before a training run.

    Scale shape — encode by word TYPE, never by occurrence: the merge
    replaces run over the distinct-word frame (orders of magnitude
    smaller than the token stream), and the per-occurrence cost is one
    (word -> symbol count) equi-join. The training chain is d30's loop
    verbatim (types with length >= 2, frequency-weighted winner per
    step); each step's winning pair broadcasts into a string replace on
    BOTH the training frame and the encoding frame. The corpus is
    scanned twice in total (once for types, once for per-doc counts) —
    at 100 TB the type table join is the whole cost, and it is a plain
    shuffle-hash join on the word."""
    docs = t(spark, sf, "documents")
    wf = _bpe_types(docs)
    wt = (docs.select(F.explode(F.split("text", " ")).alias("w"))
          .distinct()
          .select("w", _bpe_spelled().alias("sp"))
          .localCheckpoint())
    for step in range(1, _D54_STEPS + 1):
        prs = _bpe_pairs(wf)
        # top-1 as a ONE-ROW aggregate, not a global row_number window:
        # min(struct(-count, p1, p2)) is lexicographic (max count, then
        # min p1, min p2) — same winner, zero WindowExec nodes, so bench
        # and oracle logs stay free of "No Partition Defined" spam and a
        # FUTURE unpartitioned window in a log is a real alarm. (The old
        # filter(rn == 1) plan was provably bounded — Catalyst rewrote
        # it to TakeOrderedAndProject — but warned 6x per sweep step.)
        top = (prs.groupBy("p1", "p2").agg(F.sum("f").alias("pair_count"))
               .agg(F.min(F.struct(
                   (-F.col("pair_count")).alias("neg_count"),
                   F.col("p1").alias("p1"),
                   F.col("p2").alias("p2"))).alias("t"))
               .select(F.col("t.p1").alias("p1"),
                       F.col("t.p2").alias("p2")))
        wf = (wf.crossJoin(F.broadcast(top)).select(_bpe_merged(), "f"))
        wt = (wt.crossJoin(F.broadcast(top)).select("w", _bpe_merged()))
    sym = wt.select(
        "w", F.size(F.split(F.trim(F.col("sp")), " "))
        .cast("long").alias("n_sym"))
    occ = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return (occ.join(sym, "w")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("n_sym").cast("long").alias("n_tokens"),
                 F.sum(F.length("w")).cast("long").alias("n_chars"))
            .select("doc_id", "n_words", "n_tokens", "n_chars",
                    F.expr("(1000000 * n_tokens)"
                           " div greatest(n_chars, 1)")
                    .alias("tok_per_char_ppm")))


def _d54_sql() -> str:
    parts = [_BPE_WF0_DUCK + """,
wt0 AS (
  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sp
  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        FROM documents)
)"""]
    for i in range(1, _D54_STEPS + 1):
        parts.append(f""",
{_bpe_pc_duck(i, " SUM(f)")},
t{i} AS (
  SELECT p1, p2 FROM pc{i} ORDER BY pair_count DESC, p1, p2 LIMIT 1
),
{_bpe_wf_duck(i)},
wt{i} AS (
  SELECT w, replace(sp,
                    ' ' || (SELECT p1 FROM t{i}) || ' '
                        || (SELECT p2 FROM t{i}) || ' ',
                    ' ' || (SELECT p1 FROM t{i})
                        || (SELECT p2 FROM t{i}) || ' ') AS sp
  FROM wt{i - 1}
)""")
    parts.append(f""",
sym AS (
  SELECT w, CAST(len(string_split(trim(sp), ' ')) AS BIGINT) AS n_sym
  FROM wt{_D54_STEPS}
),
occ AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       CAST((1000000 * SUM(n_sym)) // greatest(SUM(length(w)), 1)
            AS BIGINT) AS tok_per_char_ppm
FROM occ JOIN sym USING (w)
GROUP BY doc_id""")
    return "".join(parts)


D54_SQL = _d54_sql()


# ---------------------------------------------------------------- d55


def d55_self_dedup_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Within-doc self-dedup CURATION — d52 sizes the worst internal
    repeat; this emits the curation arithmetic: how many tokens each
    document loses when every LATER copy of a repeated run is removed
    (the within-document half of Lee et al. '22's dedup policy, which
    keeps the first occurrence). Per doc: token count, duplicate mass,
    curated token count, and duplicate ppm — the columns a token-budget
    pass (d18) would consume.

    Exactness without streak reconstruction: a token position q is
    duplicate mass iff it lies inside the LATER copy of some repeated
    k-gram (pa < pb = pa + d, q in [pb, pb+k-1]) — the union of those
    per-gram intervals IS the union of the repeated-run later copies,
    because a run's later copy is exactly the union of its grams'
    [pb, pb+k-1] windows. |union| computes with one sorted lag per doc:
    sum of min(k, pb - prev_pb) over distinct duplicate gram positions
    (first contributes k). Window partitions are bounded by one doc's
    self-match volume, as in d52.

    Every document appears (zero-loss docs report dup_tokens = 0) —
    a curation table, not an offender list."""
    from pyspark.sql import Window

    from etl_docker_spark.llm.dedup import _base_hash

    k = 2  # d52's horizon: the synthetic corpus repeats are short
    df = t(spark, sf, "documents")
    df = df.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id"))
    grams = (_positional_grams(df, k, "doc")
             .select("doc", F.col("pos").cast("long").alias("p"),
                     _base_hash(F.col("g")).alias("h")))
    dup_pos = (grams.alias("a").join(
        grams.alias("b"),
        (F.col("a.doc") == F.col("b.doc")) & (F.col("a.h") == F.col("b.h"))
        & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.doc").alias("doc"), F.col("b.p").alias("pb"))
        .distinct())
    w2 = Window.partitionBy("doc").orderBy("pb")
    cov = (dup_pos.withColumn("prev", F.lag("pb").over(w2))
           .select("doc", F.when(F.col("prev").isNull(), F.lit(k))
                   .otherwise(F.least(F.lit(k),
                                      F.col("pb") - F.col("prev")))
                   .alias("c"))
           .groupBy("doc").agg(F.sum("c").cast("long").alias("dup")))
    base = df.select(F.col("doc_id"),
                     F.size(F.split("text", " ")).cast("long")
                     .alias("n_tokens"))
    return (base.join(cov, base["doc_id"] == cov["doc"], "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("dup", F.lit(0)).cast("long")
                    .alias("dup_tokens"))
            .select("doc_id", "n_tokens", "dup_tokens",
                    (F.col("n_tokens") - F.col("dup_tokens"))
                    .alias("curated_tokens"),
                    F.expr("(1000000 * dup_tokens)"
                           " div greatest(n_tokens, 1)")
                    .alias("dup_ppm")))


D55_SQL = f"""
WITH {_kgram_ctes(2)},
dup AS (
  SELECT DISTINCT a.doc_id AS doc, b.p AS pb
  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.h = b.h AND a.p < b.p
),
cov AS (
  SELECT doc,
         CAST(SUM(least(2, pb - coalesce(prev, pb - 2))) AS BIGINT)
           AS dup_tokens
  FROM (SELECT doc, pb,
               lag(pb) OVER (PARTITION BY doc ORDER BY pb) AS prev
        FROM dup)
  GROUP BY doc
)
SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       coalesce(dup_tokens, 0) AS dup_tokens,
       CAST(len(tk) AS BIGINT) - coalesce(dup_tokens, 0)
         AS curated_tokens,
       CAST((1000000 * coalesce(dup_tokens, 0))
            // greatest(len(tk), 1) AS BIGINT) AS dup_ppm
FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc
"""


# ---------------------------------------------------------------- d56


def d56_cross_source_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source near-duplicate leakage matrix: the memoized exact
    Jaccard >= 1/2 pair graph (d47's frame, third consumer after
    d47/d48) aggregated by unordered source pair, normalized by the
    number of possible cross-pairs — the table a curation team reads to
    decide which source overlaps which (mirror sites, scrape overlap,
    benchmark bleed) before setting d38-style quotas.

    Every unordered source pair is reported, zeros included, so the
    matrix is complete and its shape is data-independent. Scale shape:
    the pair graph is the expensive object and it is built ONCE per
    session (memoized, subquadratic by prefix filtering); this query
    adds two doc_id lookups against a 2-column (doc_id, source)
    projection and a groupBy over at most |sources|^2 keys. The
    source-count matrix is |sources|^2 rows (400 here) — broadcast
    territory at any corpus size, since sources are a catalog, not
    data.
    """
    pairs = prefix_jaccard_pairs_frame(spark, sf)
    docs = t(spark, sf, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = counts.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    b = counts.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    matrix = a.crossJoin(b).filter(F.col("src_a") <= F.col("src_b"))

    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    tagged = (pairs.join(sa, "doc_a").join(sb, "doc_b")
              .select(F.least("sa", "sb").alias("src_a"),
                      F.greatest("sa", "sb").alias("src_b")))
    hits = tagged.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("pair_count"))

    possible = F.when(
        F.col("src_a") == F.col("src_b"),
        (F.col("n_a") * (F.col("n_a") - 1)) / 2,
    ).otherwise(F.col("n_a") * F.col("n_b")).cast("long")
    out = (matrix.join(hits, ["src_a", "src_b"], "left")
           .withColumn("pair_count",
                       F.coalesce(F.col("pair_count"), F.lit(0)).cast("long"))
           .withColumn("possible_pairs", possible))
    leak = F.when(F.col("possible_pairs") > 0,
                  F.expr("pair_count * 1000000 DIV possible_pairs")
                  ).otherwise(F.lit(0)).cast("long")
    return out.select("src_a", "src_b", "pair_count", "possible_pairs",
                      leak.alias("leak_ppm"))


def _d56_sql() -> str:
    return f"""
WITH pairs AS ({D47_SQL}),
ps AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
),
cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source),
mat AS (
  SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
  FROM cnt a JOIN cnt b ON a.source <= b.source
),
agg AS (
  SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM ps GROUP BY src_a, src_b
)
SELECT m.src_a, m.src_b,
       CAST(COALESCE(g.pair_count, 0) AS BIGINT) AS pair_count,
       CAST(CASE WHEN m.src_a = m.src_b THEN m.n_a * (m.n_a - 1) // 2
                 ELSE m.n_a * m.n_b END AS BIGINT) AS possible_pairs,
       CAST(CASE WHEN (CASE WHEN m.src_a = m.src_b
                            THEN m.n_a * (m.n_a - 1) // 2
                            ELSE m.n_a * m.n_b END) > 0
                 THEN COALESCE(g.pair_count, 0) * 1000000
                      // (CASE WHEN m.src_a = m.src_b
                               THEN m.n_a * (m.n_a - 1) // 2
                               ELSE m.n_a * m.n_b END)
                 ELSE 0 END AS BIGINT) AS leak_ppm
FROM mat m LEFT JOIN agg g ON g.src_a = m.src_a AND g.src_b = m.src_b
"""


# ---------------------------------------------------------------- d58

_D58_BUCKETS = 4096   # hashed feature space (fastText-style)
# Decision bias in ppm units. Must sit INSIDE the achievable score range
# or the keep branch degenerates: per-doc scores are MEAN feature weight
# (weights uniform-ish in [-1000, 1000] ppm), so raw scores concentrate
# near 0 — measured [-210, 302] ppm across the sf0.001/sf0.01 corpora.
# -50 keeps roughly the top third, so BOTH keep branches carry rows at
# every SF (the round-6 ADVICE: the old -2000 made keep constant-false).
_D58_BIAS_PPM = -50


def d58_linear_classifier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed-feature linear-classifier INFERENCE over documents — the
    fastText-style quality-classifier pass every production curation
    pipeline runs corpus-wide (CCNet/GPT-3-style quality filtering):
    unigram + bigram features hashed into a fixed bucket space, one
    weight per bucket, document score = mean feature weight + bias,
    verdict = sign.

    The weights here are a deterministic function of the bucket id
    (w_ppm(b) = (b % 2001) - 1000) so both engines share the model
    without a serialized artifact; swapping in trained weights is a
    broadcast map lookup with the identical plan. Integer ppm fixed
    point end-to-end — no float accumulation to diverge.

    Scale shape: the entire pass is PER-ROW array arithmetic
    (split -> transform(md5 % B -> w) -> aggregate-sum), no explode, no
    shuffle, no Python — inference cost is one scan, embarrassingly
    parallel at any corpus size. The only exchange is the final
    per-(lang, verdict) rollup over 4 grouping keys. A 100 TB corpus
    scores in scan time; that property is the point of hashed linear
    models (vs transformer scorers) as the first filtering tier.
    """
    docs = t(spark, sf, "documents")
    w_ppm = f"({md5_bucket_sql('f', _D58_BUCKETS)} % 2001) - 1000"
    # Tokenize ONCE per row, then build the feature array ONCE per row
    # (guide §4.1/§2.3: a non-lambda subexpression inside a HOF lambda is
    # re-evaluated per element — the old element_at(split(text), i + 2)
    # re-split the whole document per bigram, O(n_tokens^2) per doc; and
    # size()/aggregate() each rebuilt the array). Projecting tk, then fe,
    # as dedicated columns pins one evaluation each — split/concat are
    # non-cheap, so CollapseProject will not inline them into consumers.
    feated = (docs
              .select("doc_id", "lang", F.split(F.col("text"), " ")
                      .alias("tk"))
              .select("doc_id", "lang",
                      F.expr(feats_sql("tk")).alias("fe")))
    scored = feated.select(
        "doc_id", "lang",
        F.size("fe").cast("long").alias("n_feats"),
        F.expr(f"aggregate(transform(fe, f -> {w_ppm}), "
               "CAST(0 AS BIGINT), (acc, w) -> acc + w)").alias("sum_ppm"))
    # integer division on BOTH engines (Spark DIV == DuckDB //, both
    # truncate toward zero) — never CAST a float quotient (DuckDB's
    # double->BIGINT cast ROUNDS while Spark's truncates)
    score = F.expr("sum_ppm DIV n_feats") + F.lit(_D58_BIAS_PPM)
    per_doc = scored.select(
        "doc_id", "lang", "n_feats", score.alias("score_ppm"),
        (score > 0).alias("keep"))
    return (per_doc.groupBy("lang", "keep")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_feats").cast("long").alias("sum_feats"),
                 F.sum("score_ppm").cast("long").alias("sum_score_ppm"))
            .orderBy("lang", "keep"))


def feats_sql(tk: str = "split(text, ' ')") -> str:
    """Spark SQL expression for the unigram+bigram feature array, built
    from the token-array expression `tk`. Callers on a hot path should
    pre-project the token array into a column and pass its name, so the
    document is tokenized once per row instead of once per bigram (the
    HOF-lambda re-evaluation pitfall; see d58's feated comment). The
    default reproduces the original inline form byte-for-byte."""
    return (f"concat({tk}, "
            f"transform(slice({tk}, 1, "
            f"size({tk}) - 1), "
            f"(x, i) -> concat(x, '_', element_at({tk}, i + 2))))")


D58_SQL = f"""
WITH f AS (
  SELECT doc_id, lang,
         list_concat(
           string_split(text, ' '),
           list_transform(
             generate_series(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || '_'
                  || string_split(text, ' ')[i + 1])) AS feats
  FROM documents
),
s AS (
  SELECT doc_id, lang,
         CAST(len(feats) AS BIGINT) AS n_feats,
         CAST(list_reduce(
           list_transform(feats, x ->
             (CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)
              % {_D58_BUCKETS}) % 2001 - 1000),
           (a, b) -> a + b) AS BIGINT) AS sum_ppm
  FROM f
),
p AS (
  SELECT doc_id, lang, n_feats,
         sum_ppm // n_feats + {_D58_BIAS_PPM} AS score_ppm
  FROM s
)
SELECT lang, score_ppm > 0 AS keep,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_feats) AS BIGINT) AS sum_feats,
       CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm
FROM p
GROUP BY lang, keep
ORDER BY lang, keep
"""


# ---------------------------------------------------------------- d57

_D57_GROUP = 5        # docs per shared-prefix group
_D57_GTOKS = 29       # tokens in the group-shared block
_D57_TRIPLES = 60     # pool triples drawn per doc
_D57_POOL_X = 4       # pool size = 4x corpus size (keeps dfreq ~15 at any N)
_D57_CLONE_MOD = 50   # doc_id % 50 == 1 -> clone of doc_id - 1
_D57_K = 256          # the K auto-sizing must pick here: ~330-token sets,
                      # nearest pow2 in log space (pinned by
                      # tests/test_round6.py::test_d57_auto_k_matches_rule)
_D57_GATE_DOCS = 2000  # gate-corpus cap: the GATE pins exactness, which a
                       # bounded corpus fully exercises (q91's slice idiom);
                       # full-corpus candidate VOLUME is the stress
                       # harness's job (tools/stress_d57.py -> SCALE.md)


def d57_adversarial_tokens_spark() -> str:
    """Spark SQL expression for the adversarial token array, given
    columns `eid` (clone-resolved id), `gid` (group id) and `pool`
    (pool size). Layout per doc:

      g<gid>_1 .. g<gid>_29  s<r1>a s<r1>b s<r1>c x y  s<r2>a ... x y

    - the group block's 27 internal 3-shingles have dfreq = GROUP (5):
      the RAREST shingles in the doc, so they fill the front of every
      prefix — every same-group pair is forced to collide (the "heavy
      shared prefix" the round-5 verdict asked to stress);
    - each pool triple contributes 5 shingles, every one a function of
      ONE triple (the x/y separators insulate junctions), so own-content
      shingles all have dfreq ~ 60N/pool = 15: common enough to sort
      AFTER the group block, rare enough to stay subquadratic;
    - clones (doc_id % 50 == 1 reuses doc_id-1's draws) are the true
      duplicates the stack must still return exactly.
    """
    r = ("CAST(pmod(CAST(conv(substring(md5(CAST(eid * 100 + j AS STRING)), "
         "1, 8), 16, 10) AS BIGINT), pool) AS STRING)")
    return (
        "concat("
        f"transform(sequence(1, {_D57_GTOKS}), "
        "j -> concat('g', CAST(gid AS STRING), '_', CAST(j AS STRING))), "
        f"flatten(transform(sequence(1, {_D57_TRIPLES}), j -> array("
        f"concat('s', {r}, 'a'), concat('s', {r}, 'b'), "
        f"concat('s', {r}, 'c'), 'x', 'y'))))"
    )


def d57_adversarial_frame(spark: SparkSession, sf: str,
                          cap: int | None = None) -> DataFrame:
    """(doc_id, text) with the adversarial construction — shared by the
    gate query (bounded corpus) and the SCALE.md stage-count stress
    harness (full corpus: cap=None)."""
    docs = t(spark, sf, "documents").select("doc_id")
    if cap is not None:
        docs = docs.filter(F.col("doc_id") < cap)
    # spread the generator projection across the session's full width:
    # the ~0.3 ms/doc of md5 token synthesis otherwise rides however few
    # input splits survive the filter (measured: the whole 2000-doc gate
    # corpus generated in ONE 0.65 s task). Deterministic hash key, an
    # 8-byte/row exchange. (optimization r12)
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id"))
    n = docs.agg((F.count("*") * _D57_POOL_X).alias("pool"))
    base = (docs.crossJoin(F.broadcast(n))
            .withColumn("eid", F.expr(
                f"IF(doc_id % {_D57_CLONE_MOD} = 1, doc_id - 1, doc_id)"))
            .withColumn("gid", F.expr(f"doc_id DIV {_D57_GROUP}")))
    return base.select(
        "doc_id",
        F.array_join(F.expr(d57_adversarial_tokens_spark()), " ")
        .alias("text"))


def d57_shared_prefix_stress(spark: SparkSession, sf: str) -> DataFrame:
    """The PPJoin+ stack (prefix -> positional -> suffix, d47/d49/d53)
    run on an ADVERSARIAL corpus built to defeat the filters — the
    round-5 verdict's item 5. Every 5-doc group shares a 29-token block
    whose shingles are the rarest in each member (dfreq 5 vs ~15), so
    they front-load every prefix: all C(5,2) x N/5 same-group pairs are
    forced prefix candidates, their first match is at position ~0 (so
    the positional bound ~ the doc size never prunes), and their
    suffixes are equal-size disjoint-but-interleaved pool sets — the
    worst case for any COARSE counting bound: with K << |set| the two
    histograms are statistically indistinguishable from each other
    (measured: K=16 prunes 0 of 37,392 forced candidates at sf0.01).
    The measured design rule this corpus established (SCALE.md stress
    table): size K to the typical SET SIZE, so per-bucket counts are
    ~0/1 and min-summing approaches true-intersection counting — at
    K=256 (~330-token sets) the bound prunes 37,392 -> 10, exactly the
    true pairs. That K is still a fixed 256-int sketch (d53's
    fixed-width-shuffle story, one byte-width step up), NOT the full
    token array. The stack's EXACTNESS is what this query gates: output
    must be exactly the true J >= 1/2 pairs (the 1-per-50 clones) with
    every forced candidate eliminated, never returned. Candidate volume
    is linear in N by construction (group size and per-triple dfreq are
    corpus-size-invariant), so the stress table's ratios measure the
    filters, not the corpus.
    """
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    adv = d57_adversarial_frame(spark, sf, cap=_D57_GATE_DOCS) \
        .localCheckpoint()
    # "auto" resolves to _D57_K on this corpus (test-pinned): the design
    # rule this query established is now the default sizing path.
    return prefix_filter_jaccard_pairs(
        adv, "doc_id", "text", shingle_n=3, t_num=1, t_den=2,
        positional=True, suffix_buckets="auto")


def _d57_sql() -> str:
    r = ("CAST(CAST('0x' || substring(md5(CAST(eid * 100 + j AS VARCHAR)), "
         "1, 8) AS BIGINT) % pool AS VARCHAR)")
    tokens = (
        "list_concat("
        f"list_transform(generate_series(1, {_D57_GTOKS}), "
        "j -> 'g' || CAST(gid AS VARCHAR) || '_' || CAST(j AS VARCHAR)), "
        f"flatten(list_transform(generate_series(1, {_D57_TRIPLES}), "
        f"j -> ['s' || {r} || 'a', 's' || {r} || 'b', "
        f"'s' || {r} || 'c', 'x', 'y'])))"
    )
    return f"""
WITH capped AS (
  SELECT doc_id FROM documents WHERE doc_id < {_D57_GATE_DOCS}
),
base AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_D57_CLONE_MOD} = 1 THEN doc_id - 1
              ELSE doc_id END AS eid,
         doc_id // {_D57_GROUP} AS gid,
         (SELECT {_D57_POOL_X} * COUNT(*) FROM capped) AS pool
  FROM capped
),
toks AS (
  SELECT doc_id, {tokens} AS tk FROM base
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(tk[i:i+2], ' '))) AS sh
  FROM toks
),
hs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           sh, s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT))) AS hs
  FROM sh
),
{_HS_PAIRS_SQL}
WHERE 2 * p.inter_n >= len(sa.hs) + len(sb.hs) - p.inter_n
"""


# ---------------------------------------------------------------- d59

# the SAME model as d58 — aliased, not redeclared, so the two plans'
# mutual pin (test_d59_totals_agree_with_d58) can never drift
_D59_BIAS_PPM = _D58_BIAS_PPM
_D59_BUCKETS = _D58_BUCKETS


# Calibration-histogram grid: 10 fixed ppm buckets over [-300, 300],
# clamped at the edges. Scores = mean feature weight + bias concentrate
# near the bias (measured raw range [-210, 302] ppm; see the d58 bias
# comment), so a grid matched to that spread populates the full
# histogram — the old [-3000, 1000] grid left deciles 5-9 unreachable.
_D59_GRID_LO = -300
_D59_GRID_W = 601


def d59_classifier_weight_join(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier inference with the model as DATA: the same hashed
    unigram+bigram features as d58, but the per-bucket weights live in a
    (bucket, w_ppm) TABLE that is broadcast-joined, instead of being a
    closed-form expression folded per row. This is the plan you run the
    day the weights come from training instead of a formula — swapping
    the `range`-built frame for a parquet of trained weights changes
    nothing downstream.

    Plan contrast with d58 (the point of having both): d58 never leaves
    the row — transform+aggregate folds the score inside the scan
    projection, zero extra operators; here each feature occurrence is
    EXPLODED to a row, hash-bucketed, broadcast-joined to the weight
    table, and re-aggregated per doc — one shuffle by doc_id that d58
    does not pay. At 100 TB you pick by model size: a formula or a
    few-MB table fits the d58/broadcast shape; a multi-GB embedding-
    table model forces this explode+join shape with the weight table
    bucketed on the join key. The weights here are the same
    (b % 2001) - 1000 ppm values as d58, so the two plans' scores are
    mutually checkable (test-pinned).

    Output grain differs from d58's verdict rollup: per (lang, score
    decile) counts — the calibration histogram a curation team reads to
    place a keep threshold.
    """
    docs = t(spark, sf, "documents")
    weights = (spark.range(_D59_BUCKETS)
               .select(F.col("id").alias("bucket"),
                       (F.col("id") % 2001 - 1000).alias("w_ppm")))

    # tokenize once per row, then explode the one materialized feature
    # array (same HOF-lambda re-split fix as d58's feated comment)
    feat = (docs.select("doc_id", "lang",
                        F.split(F.col("text"), " ").alias("tk"))
            .select("doc_id", "lang",
                    F.explode(F.expr(feats_sql("tk"))).alias("f"))
            .select("doc_id", "lang",
                    F.expr(md5_bucket_sql("f", _D59_BUCKETS))
                    .alias("bucket")))
    scored = (feat.join(F.broadcast(weights), "bucket")
              .groupBy("doc_id", "lang")
              .agg(F.count("*").cast("long").alias("n_feats"),
                   F.sum("w_ppm").cast("long").alias("sum_ppm")))
    score = F.expr("sum_ppm DIV n_feats") + F.lit(_D59_BIAS_PPM)
    per_doc = scored.select("lang", score.alias("score_ppm"))
    # decile over a FIXED ppm grid, clamped at both edges (see the
    # _D59_GRID_* comment for the range choice) — grid bucketing, not
    # rank bucketing, so it is embarrassingly parallel
    bucket = F.floor((F.col("score_ppm") - _D59_GRID_LO) * 10
                     / _D59_GRID_W)
    return (per_doc
            .withColumn("decile",
                        F.least(F.greatest(bucket, F.lit(0)), F.lit(9))
                        .cast("long"))
            .groupBy("lang", "decile")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("score_ppm").cast("long").alias("sum_score_ppm"))
            .orderBy("lang", "decile"))


D59_SQL = f"""
WITH w AS (
  SELECT i AS bucket, CAST(i % 2001 - 1000 AS BIGINT) AS w_ppm
  FROM (SELECT unnest(generate_series(0, {_D59_BUCKETS - 1})) AS i)
),
f AS (
  SELECT doc_id, lang,
         unnest(list_concat(
           string_split(text, ' '),
           list_transform(
             generate_series(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || '_'
                  || string_split(text, ' ')[i + 1]))) AS feat
  FROM documents
),
b AS (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5(feat), 1, 8) AS BIGINT)
           % {_D59_BUCKETS} AS bucket
  FROM f
),
s AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(w.w_ppm) AS BIGINT) AS sum_ppm
  FROM b JOIN w USING (bucket)
  GROUP BY doc_id, lang
),
p AS (
  SELECT lang, sum_ppm // n_feats + {_D59_BIAS_PPM} AS score_ppm FROM s
)
SELECT lang,
       CAST(least(greatest(
         floor((score_ppm - {_D59_GRID_LO}) * 10 / {_D59_GRID_W}), 0), 9)
         AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm
FROM p
GROUP BY lang, decile
ORDER BY lang, decile
"""



# ---------------------------------------------------------------- d60

_D60_SCALE = 1_000_000  # fixed point: ppm of per-bucket label polarity


def _labeled_docs(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, lang, text, verdict, y) — d26's curation verdict as the
    training label (y = 1 for keep, 0 for any drop reason), computed
    inline on the corpus frame so the feature explode can carry the
    label without a second corpus-sized join."""
    staged, verdict = _d26_rules(t(spark, sf, "documents"),
                                 "doc_id", "lang", "text")
    return staged.select(
        "doc_id", "lang", "text", verdict.alias("verdict"),
        (verdict == "keep").cast("long").alias("y"))


def classifier_occ_frame(spark: SparkSession, sf: str) -> DataFrame:
    """THE shared feature pass of the trained-classifier family:
    (doc_id, lang, verdict, y, split, n_tokens, bucket) — one row per
    hashed unigram/bigram feature occurrence, memoized through the
    index cache.

    Before round 11 every consumer re-ran the identical corpus pass
    (documents scan -> digest window -> feats_sql explode -> md5 bucket)
    for itself: d60 weight training, d60 scoring, d63 split training,
    d63 holdout scoring, d65 calibration scoring, d68 drift scoring —
    six explode+md5 passes per cold session. This frame runs the pass
    ONCE and every consumer reduces it (filter/groupBy/broadcast-join),
    which is the guide-§8 shape: the expensive corpus-wide work happens
    exactly once, every decision derives from the small proxy table.
    All downstream arithmetic is unchanged — same features, same md5
    buckets, same labels/splits — so every gated output is bit-identical
    (the oracles retrain from scratch in SQL either way).

    Scale: row count = total feature occurrences (~2 x corpus tokens);
    at 100 TB this is the scores/feature table a production curation
    pipeline materializes once per corpus snapshot anyway.
    """
    from etl_docker_spark.llm.index_cache import memo_frame
    from etl_docker_spark.llm.text import token_count

    def build() -> DataFrame:
        # Two-step select: per-DOC scalars (token_count's regexp scan,
        # the split md5) project BEFORE the explode select. In a single
        # select-with-generator they land in the projection evaluated
        # per exploded occurrence — ~107x re-evaluation per feature row,
        # measured 12.4s -> 4.7s at sf0.1 for this frame.
        pre = (_labeled_docs(spark, sf)
               .withColumn("tk", F.split(F.col("text"), " "))
               .select(
                   "doc_id", "lang", "verdict", "y",
                   _d63_split().alias("split"),
                   token_count(F.col("text")).alias("n_tokens"),
                   # tokenize once per row: feats_sql's bigram lambda
                   # re-evaluates a non-column token expression per
                   # element (the d58 feated comment)
                   F.expr(feats_sql("tk")).alias("feats")))
        labeled = pre.select(
            "doc_id", "lang", "verdict", "y", "split", "n_tokens",
            F.explode("feats").alias("f"))
        return labeled.select(
            "doc_id", "lang", "verdict", "y", "split", "n_tokens",
            F.expr(md5_bucket_sql("f", _D58_BUCKETS)).alias("bucket"))

    return memo_frame(spark, f"classifier_occ:{sf}", build, sf_dir=sf)


def _polarity_weights(occ: DataFrame) -> DataFrame:
    """(bucket, w_ppm): per-bucket label polarity of the occurrences
    `occ` (y, bucket), (n1 - n0) / (n1 + n0) in integer ppm, minus the
    prior polarity of all of `occ` — the d60 and d63 models."""
    counts = (occ.groupBy("bucket")
              .agg(F.sum("y").cast("long").alias("n1"),
                   F.sum(1 - F.col("y")).cast("long").alias("n0")))
    prior = counts.agg(F.sum("n1").alias("g1"), F.sum("n0").alias("g0"))
    pol = f"(n1 - n0) * {_D60_SCALE} DIV (n1 + n0)"
    gpol = f"(g1 - g0) * {_D60_SCALE} DIV (g1 + g0)"
    return (counts.crossJoin(F.broadcast(prior))
            .select("bucket",
                    F.expr(f"{pol} - {gpol}").cast("long")
                    .alias("w_ppm")))


def d60_weights_frame(spark: SparkSession, sf: str) -> DataFrame:
    """The TRAINED model: (bucket, w_ppm) learned from the corpus's own
    curation verdicts (d26) — per-bucket label polarity
    (keep_n - drop_n) / (keep_n + drop_n) in integer ppm, CENTERED on
    the corpus-wide prior polarity. Centering is what keeps the verdict
    dimension non-degenerate: d26 keeps most documents, so every raw
    polarity would sit near the (positive) prior and `score > 0` would
    be constant-true — the exact failure mode the round-6 ADVICE flagged
    in d58's bias. All arithmetic is integer (sums + one truncating
    division per bucket), so Spark and the oracle reproduce the model
    bit-for-bit; no float log-odds to diverge.

    Persisted through `llm/index_cache.memo_frame`: trained at most once
    per corpus across sessions (the production shape — a quality
    classifier is trained once and served corpus-wide; at 100 TB the
    training pass is a scheduled job, inference is every ingest batch).

    Plan: one corpus pass — the d26 verdict columns fold into the scan
    projection (the digest window is the only doc-level shuffle), the
    feature explode carries the label, and the per-bucket rollup is a
    4096-key aggregate with map-side partials. The prior is a 1-row
    aggregate broadcast back over the <=4096-row weight table.
    """
    from etl_docker_spark.llm.index_cache import memo_frame

    def build() -> DataFrame:
        return _polarity_weights(
            classifier_occ_frame(spark, sf).select("y", "bucket"))

    return memo_frame(spark, f"d60_weights:{sf}", build, sf_dir=sf)


def d60_trained_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Inference with the d60-TRAINED weight table, gated as a confusion
    matrix against the training labels: per (verdict, keep_pred) doc
    counts and score mass. This closes the loop d58/d59 left open ("a
    trained table changes nothing" was asserted, not evidenced): the
    model here is genuinely learned from data, flows through the same
    broadcast-join inference plan as d59, and the oracle RE-TRAINS the
    identical model from scratch in SQL — so the gate covers training
    arithmetic, artifact persistence, and serving in one query.

    Scale shape: inference is d59's explode + broadcast-join + per-doc
    rollup (the multi-GB-model shape degrades to a bucketed join; the
    <=4096-row table here broadcasts). Scores are mean centered feature
    polarity in ppm; keep_pred = score > 0 — exercised on BOTH sides
    because the weights are prior-centered (see d60_weights_frame).
    """
    per_doc = d60_scores_frame(spark, sf)
    return (per_doc.groupBy("verdict", "keep_pred")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("score_ppm").cast("long").alias("sum_score_ppm"))
            .orderBy("verdict", "keep_pred"))


def d60_scores_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document quality scores from the d60-trained model:
    (doc_id, verdict, n_tokens, score_ppm, keep_pred) — memoized like
    the weight table, because this is the second persisted artifact of
    a production scoring pipeline: score the corpus ONCE, then every
    consumer (the confusion gate d60, the threshold sweep d61, any
    future mixing/ablation query) reads the scores table instead of
    re-running inference. The inference pass itself is d59's
    explode + broadcast-join + per-doc rollup."""
    from etl_docker_spark.llm.index_cache import memo_frame

    def build() -> DataFrame:
        weights = d60_weights_frame(spark, sf)
        occ = classifier_occ_frame(spark, sf).select(
            "doc_id", "verdict", "n_tokens", "bucket")
        scored = (occ.join(F.broadcast(weights), "bucket")
                  .groupBy("doc_id", "verdict", "n_tokens")
                  .agg(F.count("*").cast("long").alias("n_feats"),
                       F.sum("w_ppm").cast("long").alias("sum_ppm")))
        score = F.expr("sum_ppm DIV n_feats")
        return scored.select("doc_id", "verdict", "n_tokens",
                             score.alias("score_ppm"),
                             (score > 0).alias("keep_pred"))

    return memo_frame(spark, f"d60_scores:{sf}", build, sf_dir=sf)


# The oracle retrains the model from scratch: same labels, same hashed
# features, same integer polarity arithmetic, same centering — then runs
# the same inference and rollup. DuckDB `//` truncates toward zero like
# Spark DIV (verified on negative operands), so the trained weights are
# bit-identical.
_D60_FEATS_DUCK = """
list_concat(
  string_split(text, ' '),
  list_transform(
    generate_series(1, len(string_split(text, ' ')) - 1),
    i -> string_split(text, ' ')[i] || '_'
         || string_split(text, ' ')[i + 1]))
"""
# d26's verdict per document, as the d60 and d63 oracles label training
# rows (the digest window breaks exact duplicates by doc_id).
_D60_VERDICTS_DUCK = rf"""labeled AS (
  SELECT doc_id, text,
         CASE WHEN n_tokens < {_MIN_TOKENS} THEN 'too_short'
              WHEN 2 * n_unique < n_tokens THEN 'low_diversity'
              WHEN dup_rn > 1 THEN 'exact_dup'
              ELSE 'keep' END AS verdict
  FROM (
    SELECT doc_id, text,
           CAST(len({_TOKENS_DUCK}) AS BIGINT)
             AS n_tokens,
           CAST(len(list_distinct({_TOKENS_DUCK}))
                AS BIGINT) AS n_unique,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
             AS dup_rn
    FROM documents
  )
)"""
# The same verdict as 0/1 rule columns, for oracles that label by y:
# n_tokens, then the too-short and low-diversity WHENs of the y CASE.
_D60_RULES_DUCK = rf"""         CAST(len({_TOKENS_DUCK}) AS BIGINT)
           AS n_tokens,
         CASE WHEN CAST(len({_TOKENS_DUCK})
                        AS BIGINT) < {_MIN_TOKENS} THEN 0
              WHEN 2 * CAST(len(list_distinct(
                       {_TOKENS_DUCK}))
                       AS BIGINT)
                   < CAST(len({_TOKENS_DUCK})
                          AS BIGINT) THEN 0"""


def _d60_occ_cte(cols: str, src: str) -> str:
    """`occ`: one row per feature occurrence of the labeled rows `src`,
    carrying `cols` and the feature's md5 bucket (`_D58_BUCKETS`)."""
    return f"""occ AS (
  SELECT {cols},
         CAST('0x' || substring(md5(unnest(feats)), 1, 8) AS BIGINT)
           % {_D58_BUCKETS} AS bucket
  FROM {src}
)"""


def _d60_weight_ctes(occ: str) -> str:
    """counts/prior/w: d60's trained model over the occurrences `occ` —
    per-bucket label polarity in integer ppm, centered on the prior
    polarity (`d60_weights_frame`)."""
    return f"""counts AS (
  SELECT bucket,
         CAST(SUM(y) AS BIGINT) AS n1,
         CAST(SUM(1 - y) AS BIGINT) AS n0
  FROM {occ} GROUP BY bucket
),
prior AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS g1, CAST(SUM(n0) AS BIGINT) AS g0
  FROM counts
),
w AS (
  SELECT bucket,
         CAST((n1 - n0) * {_D60_SCALE} // (n1 + n0)
              - (g1 - g0) * {_D60_SCALE} // (g1 + g0) AS BIGINT) AS w_ppm
  FROM counts, prior
)"""

D60_SQL = rf"""
WITH {_D60_VERDICTS_DUCK},
lab AS (
  SELECT doc_id, verdict,
         CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END AS y,
         {_D60_FEATS_DUCK} AS feats
  FROM labeled
),
{_d60_occ_cte('doc_id, verdict, y', 'lab')},
{_d60_weight_ctes('occ')},
scored AS (
  SELECT doc_id, verdict,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(w.w_ppm) AS BIGINT) AS sum_ppm
  FROM occ JOIN w USING (bucket)
  GROUP BY doc_id, verdict
),
p AS (
  SELECT verdict, sum_ppm // n_feats AS score_ppm FROM scored
)
SELECT verdict, score_ppm > 0 AS keep_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm
FROM p
GROUP BY verdict, keep_pred
ORDER BY verdict, keep_pred
"""


# ---------------------------------------------------------------- d61

_D61_GRID_LO = -300   # same clamped ppm grid discipline as d59
_D61_GRID_W = 601
_D61_CELLS = 20


def d61_threshold_yield_curve(spark: SparkSession, sf: str) -> DataFrame:
    """The curation-economics consumer of d60's trained scores: the
    THRESHOLD SWEEP — for every candidate keep-threshold on a fixed ppm
    grid, how many documents and how much token mass survive. This is
    the table a curation team actually reads to place the knife (the
    d18/d23/d43 economics family, now driven by a LEARNED score instead
    of rule verdicts): each row answers "keep everything scoring above
    cell c" with exact cumulative counts.

    Scale shape: per-doc scores come from the memoized scores table
    (`d60_scores_frame` — score once, consume everywhere; the
    production shape for a corpus-wide quality score); the sweep
    itself is a 20-cell grid rollup (map-side partials)
    followed by a grid x histogram triangle join — the 20-row
    threshold grid (a `spark.range` literal, constant at any corpus
    size) broadcast against the 20-row histogram, LEFT so every
    candidate threshold reports a row even when nothing scores above
    it. Histogram first, order statistics second (d59's trick): the
    cumulative step never sees a data-sized frame, and unlike a
    global-window rewrite the boundedness is structural (the BNLJ's
    broadcast side is a literal range), surviving AQE replanning.
    """
    scored = d60_scores_frame(spark, sf)
    cell_w = _D61_GRID_W * 1.0 / _D61_CELLS
    cell = F.least(F.greatest(
        F.floor((F.col("score_ppm") - _D61_GRID_LO) / cell_w), F.lit(0)),
        F.lit(_D61_CELLS - 1)).cast("long")
    hist = (scored.select(cell.alias("hcell"), "n_tokens")
            .groupBy("hcell")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens")))
    # cumulative FROM THE TOP: "keep cell c and above" — every histogram
    # cell >= the threshold contributes; LEFT keeps empty thresholds
    grid = spark.range(_D61_CELLS).select(F.col("id").alias("cell"))
    return (F.broadcast(grid)
            .join(hist, F.col("hcell") >= F.col("cell"), "left")
            .groupBy("cell")
            .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long")
                 .alias("docs_kept"),
                 F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long")
                 .alias("tokens_kept"))
            .orderBy("cell"))


def _d61_labeled_ctes(cols: str) -> str:
    """CTEs labeled, occ, prior/counts/w: d60's rule labels (exact
    duplicates are 0), their feature occurrences carrying cols, and the
    weights trained on all of them."""
    return rf"""labeled AS (
  SELECT {cols}, text,
{_D60_RULES_DUCK}
              WHEN row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) > 1 THEN 0
              ELSE 1 END AS y,
         {_D60_FEATS_DUCK} AS feats
  FROM documents
),
{_d60_occ_cte(f'{cols}, n_tokens, y', 'labeled')},
{_d60_weight_ctes('occ')}"""


# Oracle: re-derives d60's trained scores end-to-end (training included),
# then the same grid histogram + top-down running totals.
D61_SQL = rf"""
WITH {_d61_labeled_ctes('doc_id')},
scored AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(w.w_ppm) AS BIGINT) AS sum_ppm
  FROM occ JOIN w USING (bucket)
  GROUP BY doc_id
),
cells AS (
  SELECT least(greatest(CAST(floor(
           ((sum_ppm // n_feats) - {_D61_GRID_LO})
           / ({_D61_GRID_W} * 1.0 / {_D61_CELLS})) AS BIGINT), 0),
           {_D61_CELLS - 1}) AS cell,
         n_tokens
  FROM scored
),
hist AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM cells GROUP BY cell
),
grid AS (
  SELECT unnest(generate_series(0, {_D61_CELLS - 1})) AS cell
)
SELECT g.cell,
       CAST(COALESCE(SUM(h.n_docs), 0) AS BIGINT) AS docs_kept,
       CAST(COALESCE(SUM(h.n_tokens), 0) AS BIGINT) AS tokens_kept
FROM grid g LEFT JOIN hist h ON h.cell >= g.cell
GROUP BY g.cell
ORDER BY g.cell
"""


# ---------------------------------------------------------------- d62

# Calibration target: per language, place the keep-threshold as HIGH as
# possible while still keeping >= this percentage of the language's token
# mass. Integer percent so the comparison is exact on both engines.
_D62_KEEP_TARGET_PCT = 60
# d62 gets its OWN grid, sized to the TRAINED score distribution: d60
# scores span roughly [-43k, +90k] ppm across the test corpora (d61's
# [-300, 301) grid was tuned for d58's formula scores and would clamp
# nearly all trained mass into the two edge cells, making every knife
# land on cell 0). 20 cells of 3000 ppm over [-30000, 30001) puts the
# bulk of the mass (p10..p90 is within +/-33k at every SF) on the
# interior, so the calibrated cell actually varies by language.
_D62_GRID_LO = -30000
_D62_GRID_W = 60001


def d62_lang_calibrated_thresholds(spark: SparkSession, sf: str) -> DataFrame:
    """PER-LANGUAGE calibrated keep-thresholds over the d60-trained
    scores — the real curation knife is per-language (a single global
    threshold under- or over-prunes whichever languages the classifier
    scores systematically lower): for each lang, the HIGHEST grid
    threshold that still keeps >= _D62_KEEP_TARGET_PCT (60%) of that
    language's token mass, with the exact docs/tokens kept at that
    knife and the kept fraction in ppm.

    Consumes the memoized per-doc scores table (`d60_scores_frame` —
    score once, consume everywhere) joined back to the corpus for lang;
    at 100 TB a production scores table would carry lang natively and
    the join disappears — here it is one co-partitioned hash join on
    doc_id. Everything after the join is tiny: a (lang x 20)-cell
    histogram with map-side partials, the d61 literal-grid triangle
    join for cumulatives (structurally bounded BNLJ — the broadcast
    side is a 20-row `spark.range`), and a per-lang `max_by` pick. No
    global windows anywhere.

    Integer discipline: the target comparison is cross-multiplied
    (`tokens_kept * 100 >= target * total_tokens`) and kept_ppm is
    `tokens_kept * 1e6 DIV total_tokens` — exact on both engines.
    (At corpora beyond ~9e12 tokens the ppm numerator would need a
    pre-scale; the comparison itself stays in range far longer.)
    """
    scored = d60_scores_frame(spark, sf)
    docs = t(spark, sf, "documents").select("doc_id", "lang")
    return _calibrated_knife(spark, scored.join(docs, "doc_id"))


def _calibrated_knife(spark: SparkSession, per_doc: DataFrame) -> DataFrame:
    """The per-language knife of d62 and d65 over `per_doc` (lang,
    score_ppm, n_tokens): a (lang x `_D61_CELLS`) histogram on the d62
    grid, cumulatives from the top through the literal-grid triangle
    join, and per lang the highest cell that keeps
    >= `_D62_KEEP_TARGET_PCT` of the language's token mass."""
    cell_w = _D62_GRID_W * 1.0 / _D61_CELLS
    cell = F.least(F.greatest(
        F.floor((F.col("score_ppm") - _D62_GRID_LO) / cell_w), F.lit(0)),
        F.lit(_D61_CELLS - 1)).cast("long")
    hist = (per_doc.select("lang", cell.alias("hcell"), "n_tokens")
            .groupBy("lang", "hcell")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens")))
    totals = (hist.groupBy("lang")
              .agg(F.sum("n_docs").cast("long").alias("total_docs"),
                   F.sum("n_tokens").cast("long").alias("total_tokens")))
    grid = spark.range(_D61_CELLS).select(F.col("id").alias("cell"))
    cum = (F.broadcast(grid)
           .join(hist, F.col("hcell") >= F.col("cell"))
           .groupBy("lang", "cell")
           .agg(F.sum("n_docs").cast("long").alias("docs_kept"),
                F.sum("n_tokens").cast("long").alias("tokens_kept")))
    ok = (cum.join(totals, "lang")
          .filter(F.col("tokens_kept") * 100
                  >= _D62_KEEP_TARGET_PCT * F.col("total_tokens")))
    return (ok.groupBy("lang")
            .agg(F.max("cell").cast("long").alias("chosen_cell"),
                 F.max_by("docs_kept", "cell").cast("long")
                 .alias("docs_kept"),
                 F.max_by("tokens_kept", "cell").cast("long")
                 .alias("tokens_kept"),
                 F.max("total_docs").cast("long").alias("total_docs"),
                 F.max("total_tokens").cast("long").alias("total_tokens"))
            .select("lang", "chosen_cell", "docs_kept", "tokens_kept",
                    "total_docs", "total_tokens",
                    F.expr("tokens_kept * 1000000 DIV total_tokens")
                    .cast("long").alias("kept_ppm"))
            .orderBy("lang"))


# `_calibrated_knife` in SQL, over `scored` (lang, n_tokens, sum_ppm,
# n_feats): the d62 and d65 oracles from the histogram to the end.
_D62_KNIFE_DUCK = f"""cells AS (
  SELECT lang,
         least(greatest(CAST(floor(
           ((sum_ppm // n_feats) - {_D62_GRID_LO})
           / ({_D62_GRID_W} * 1.0 / {_D61_CELLS})) AS BIGINT), 0),
           {_D61_CELLS - 1}) AS hcell,
         n_tokens
  FROM scored
),
hist AS (
  SELECT lang, hcell, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM cells GROUP BY lang, hcell
),
totals AS (
  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM hist GROUP BY lang
),
grid AS (
  SELECT unnest(generate_series(0, {_D61_CELLS - 1})) AS cell
),
cum AS (
  SELECT h.lang, g.cell,
         CAST(SUM(h.n_docs) AS BIGINT) AS docs_kept,
         CAST(SUM(h.n_tokens) AS BIGINT) AS tokens_kept
  FROM grid g JOIN hist h ON h.hcell >= g.cell
  GROUP BY h.lang, g.cell
),
ok AS (
  SELECT c.lang, c.cell, c.docs_kept, c.tokens_kept,
         t.total_docs, t.total_tokens
  FROM cum c JOIN totals t USING (lang)
  WHERE c.tokens_kept * 100 >= {_D62_KEEP_TARGET_PCT} * t.total_tokens
)
SELECT lang,
       CAST(MAX(cell) AS BIGINT) AS chosen_cell,
       CAST(arg_max(docs_kept, cell) AS BIGINT) AS docs_kept,
       CAST(arg_max(tokens_kept, cell) AS BIGINT) AS tokens_kept,
       CAST(MAX(total_docs) AS BIGINT) AS total_docs,
       CAST(MAX(total_tokens) AS BIGINT) AS total_tokens,
       CAST(arg_max(tokens_kept, cell) * 1000000 // MAX(total_tokens)
            AS BIGINT) AS kept_ppm
FROM ok
GROUP BY lang
ORDER BY lang
"""


# Oracle: re-derives the trained scores end-to-end (training included,
# as in D61), joins lang back, then the same histogram -> cumulative ->
# per-lang arg_max pick. All-integer arithmetic throughout.
D62_SQL = rf"""
WITH {_d61_labeled_ctes('doc_id, lang')},
scored AS (
  SELECT doc_id, any_value(lang) AS lang,
         any_value(n_tokens) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(w.w_ppm) AS BIGINT) AS sum_ppm
  FROM occ JOIN w USING (bucket)
  GROUP BY doc_id
),
{_D62_KNIFE_DUCK}"""


# ---------------------------------------------------------------- d63

# d37's content-free hash split, reused verbatim: train on buckets < 80,
# hold out the rest. Hash-of-key keeps the split reproducible across
# engines, runs, and corpus growth — the property that makes the
# generalization gap measurable at all.
_D63_TRAIN_PCT = 80


# `_d63_split` in the oracles: the split CASE column of a labeled row.
_D63_SPLIT_DUCK = f"""         CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 8) AS BIGINT) % 100
                   < {_D63_TRAIN_PCT}
              THEN 'train' ELSE 'holdout' END AS split,"""


def _d63_split() -> F.Column:
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    return (F.when(F.pmod(h, F.lit(100)) < _D63_TRAIN_PCT, "train")
            .otherwise("holdout"))


def d63_weights_frame(spark: SparkSession, sf: str) -> DataFrame:
    """d60's trained model re-fit on the TRAIN hash-split only (d37's
    bucketing, 80/20) — the held-out 20% never touches the training
    aggregate, so scoring it measures generalization, not memorization.
    Same integer-ppm prior-centered arithmetic as d60_weights_frame;
    memoized separately because it is a genuinely different artifact
    (different training set -> different weights)."""
    from etl_docker_spark.llm.index_cache import memo_frame

    def build() -> DataFrame:
        return _polarity_weights(classifier_occ_frame(spark, sf)
                                 .filter(F.col("split") == "train")
                                 .select("y", "bucket"))

    return memo_frame(spark, f"d63_weights:{sf}", build, sf_dir=sf)


def d63_holdout_generalization(spark: SparkSession, sf: str) -> DataFrame:
    """The TRAIN/HOLDOUT drift gate for the trained classifier — d60
    evidenced "the model fits its training labels"; this evidences
    "the model generalizes": weights fit on the 80% train split score
    BOTH halves, and the output is the per-(split, verdict, keep_pred)
    confusion table, so the generalization gap (holdout keep rates vs
    train keep rates, per verdict) is directly readable — and pinned,
    because the oracle retrains the split model from scratch in SQL.

    Two inference deltas vs d60, both load-bearing: the weight join is
    LEFT with COALESCE(w, 0) — a holdout document can carry feature
    buckets the train split never saw (unseen feature => no evidence
    => weight 0, the fastText convention), and every doc keeps its
    full feature count as the score denominator, so unseen features
    dilute toward 0 rather than vanish.

    Scale shape: identical to d60 — one training pass over 80% of the
    corpus into a <=4096-row broadcast model, one scoring pass over
    100%. The split predicate is a per-row hash, pushed into the scan
    projection; no extra shuffle anywhere.
    """
    weights = d63_weights_frame(spark, sf)
    occ = classifier_occ_frame(spark, sf).select(
        "doc_id", "split", "verdict", "bucket")
    scored = (occ.join(F.broadcast(weights), "bucket", "left")
              .groupBy("doc_id", "split", "verdict")
              .agg(F.count("*").cast("long").alias("n_feats"),
                   F.sum(F.coalesce(F.col("w_ppm"), F.lit(0)))
                   .cast("long").alias("sum_ppm")))
    score = F.expr("sum_ppm DIV n_feats")
    per_doc = scored.select("split", "verdict", score.alias("score_ppm"),
                            (score > 0).alias("keep_pred"))
    return (per_doc.groupBy("split", "verdict", "keep_pred")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("score_ppm").cast("long").alias("sum_score_ppm"))
            .orderBy("split", "verdict", "keep_pred"))


D63_SQL = rf"""
WITH {_D60_VERDICTS_DUCK},
lab AS (
  SELECT doc_id, verdict,
         CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END AS y,
{_D63_SPLIT_DUCK}
         {_D60_FEATS_DUCK} AS feats
  FROM labeled
),
{_d60_occ_cte('doc_id, verdict, split, y', 'lab')},
{_d60_weight_ctes("occ WHERE split = 'train'")},
scored AS (
  SELECT o.doc_id, any_value(o.verdict) AS verdict,
         any_value(o.split) AS split,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(COALESCE(w.w_ppm, 0)) AS BIGINT) AS sum_ppm
  FROM occ o LEFT JOIN w USING (bucket)
  GROUP BY o.doc_id
),
p AS (
  SELECT split, verdict, sum_ppm // n_feats AS score_ppm FROM scored
)
SELECT split, verdict, score_ppm > 0 AS keep_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm
FROM p
GROUP BY split, verdict, keep_pred
ORDER BY split, verdict, keep_pred
"""


# ---------------------------------------------------------------- d64

_D64_LGK = 13

# The one definition of the bounded token-hash domain, shared by every
# sketch-tier consumer (d64 theta, d66 approx_top_k, d67 HLL, s32
# streaming HLL) so the exactness arguments can never desynchronize.
_TOK_BUCKET_SPARK = md5_bucket_sql("tok", _D64_DOMAIN)
_TOK_BUCKET_DUCK = (f"CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) "
                    f"% {_D64_DOMAIN}")


def d64_theta_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source vocabulary overlap via NATIVE theta sketches (the
    round-8 probe find: the Apache DataSketches theta family —
    theta_sketch_agg / union / intersection / difference — is live in
    this build): one sketch per source over the token-hash domain, then
    every source pair's union, intersection, A-only difference, and
    Jaccard in ppm, computed purely by SKETCH SET-ALGEBRA — no pairwise
    data join ever happens.

    This is the sketch-tier answer to d56's exact cross-source leakage
    query: at 100 TB you don't join corpora to ask "how much does
    source A share with source B" — you sketch each source in one
    map-side-combinable pass (theta states merge associatively, so
    1000 executors sketch partitions independently), keep the 5
    fixed-size sketch states, and answer every pairwise (and any
    future multi-way) set question from the states alone. Adding a
    source re-sketches ONE source, not the corpus.

    Gate exactness: see _D64_DOMAIN — bounded domain => exact mode =>
    the oracle pins every estimate as a plain COUNT(DISTINCT ...).
    The pairwise stage is a 5x5 self-join of sketch STATES (constant
    size at any corpus scale; allowlisted BNLJ like d61's literal
    grid).
    """
    docs = t(spark, sf, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    bucket = F.expr(_TOK_BUCKET_SPARK)
    sk = (toks.select("source", bucket.alias("b"))
          .groupBy("source")
          .agg(F.expr(f"theta_sketch_agg(b, {_D64_LGK})").alias("sk")))
    a = sk.select(F.col("source").alias("src_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("source").alias("src_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    est = pairs.select(
        "src_a", "src_b",
        F.expr(f"theta_sketch_estimate(theta_union(sk_a, sk_b, "
               f"{_D64_LGK}))").alias("n_union"),
        F.expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))")
        .alias("n_common"),
        F.expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))")
        .alias("n_only_a"))
    return (est.select(
        "src_a", "src_b", "n_union", "n_common", "n_only_a",
        F.expr("n_common * 1000000 DIV n_union").alias("jaccard_ppm"))
        .orderBy("src_a", "src_b"))


D64_SQL = f"""
WITH tb AS (
  SELECT DISTINCT source,
         {_TOK_BUCKET_DUCK} AS b
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
srcs AS (SELECT DISTINCT source FROM documents),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a, srcs b WHERE a.source < b.source
),
j AS (
  SELECT pr.sa, pr.sb, t.b,
         MAX(CASE WHEN t.source = pr.sa THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN t.source = pr.sb THEN 1 ELSE 0 END) AS in_b
  FROM pairs pr JOIN tb t ON t.source IN (pr.sa, pr.sb)
  GROUP BY pr.sa, pr.sb, t.b
)
SELECT sa AS src_a, sb AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_union,
       CAST(SUM(in_a * in_b) AS BIGINT) AS n_common,
       CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_only_a,
       CAST(SUM(in_a * in_b) * 1000000 // COUNT(*) AS BIGINT)
         AS jaccard_ppm
FROM j GROUP BY sa, sb
ORDER BY sa, sb
"""


# ---------------------------------------------------------------- d65


def d65_holdout_calibrated_thresholds(spark: SparkSession,
                                      sf: str) -> DataFrame:
    """d62 x d63 composition — per-language calibrated keep-thresholds
    computed from HELD-OUT scores only: the split model (d63, trained
    on the 80% train half) scores the 20% holdout, and each language's
    knife is placed on those unseen-data scores. This is the
    production-correct calibration order — placing the knife on
    training-set scores (d62's shape, fine there because d60's model
    is the corpus-wide artifact) overstates post-deployment yield
    whenever the model memorizes (d63's gate shows train keep-rates of
    100% vs holdout 62% at sf0.01 — exactly the optimism this removes).

    Same grid and target as d62; the oracle re-derives everything
    (split training included) in SQL. Scale shape: d63's two passes
    plus d62's constant-size grid machinery; the holdout filter is a
    per-row hash pushed into the scan projection.
    """
    weights = d63_weights_frame(spark, sf)
    # lang and n_tokens ride the shared occurrence frame and the per-doc
    # groupBy (the d60_scores_frame shape) — no second documents scan
    occ = (classifier_occ_frame(spark, sf)
           .filter(F.col("split") == "holdout")
           .select("doc_id", "lang", "n_tokens", "bucket"))
    scored = (occ.join(F.broadcast(weights), "bucket", "left")
              .groupBy("doc_id", "lang", "n_tokens")
              .agg(F.count("*").cast("long").alias("n_feats"),
                   F.sum(F.coalesce(F.col("w_ppm"), F.lit(0)))
                   .cast("long").alias("sum_ppm")))
    per_doc = scored.select("lang", "n_tokens",
                            F.expr("sum_ppm DIV n_feats").alias("score_ppm"))
    return _calibrated_knife(spark, per_doc)


def _d65_split_ctes(cols: str, lab_cols: str) -> str:
    """CTEs labeled, lab, occ: d60's rule labels with d63's train/holdout
    split (exact duplicates are 0), and the feature occurrences of lab,
    which carries lab_cols."""
    return rf"""labeled AS (
  SELECT {cols}, text,
{_D60_RULES_DUCK}
              ELSE 1 END AS y0,
{_D63_SPLIT_DUCK}
         {_D60_FEATS_DUCK} AS feats
  FROM documents
),
lab AS (
  SELECT {lab_cols}, split, feats,
         CASE WHEN y0 = 0 THEN 0
              WHEN row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) > 1 THEN 0
              ELSE 1 END AS y
  FROM labeled
),
{_d60_occ_cte(f'{lab_cols}, split, y', 'lab')}"""


def _d65_sql() -> str:
    return rf"""
WITH {_d65_split_ctes('doc_id, lang', 'doc_id, lang, n_tokens')},
{_d60_weight_ctes("occ WHERE split = 'train'")},
scored AS (
  SELECT o.doc_id, any_value(o.lang) AS lang,
         any_value(o.n_tokens) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(COALESCE(w.w_ppm, 0)) AS BIGINT) AS sum_ppm
  FROM occ o LEFT JOIN w USING (bucket)
  WHERE o.split = 'holdout'
  GROUP BY o.doc_id
),
{_D62_KNIFE_DUCK}"""


# ---------------------------------------------------------------- d66

_D66_K = 40
# > _D64_DOMAIN (3000), so the sketch tracks every bucket exactly at ANY
# corpus scale and the returned counts are exact — the same bounded-domain
# argument as d64/d67 (see those docstrings).
_D66_MAXTRACK = 8192


def _lang_tok_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """(lang, b): the md5 bucket of every space-split token occurrence."""
    toks = (t(spark, sf, "documents")
            .select("lang", F.explode(F.split("text", " ")).alias("tok")))
    return toks.select("lang", F.expr(_TOK_BUCKET_SPARK).alias("b"))


def d66_heavy_hitter_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language heavy-hitter token buckets via `approx_top_k` (the
    round-8 probe find left un-queried because its k-boundary tie-break
    is hash-order): one sketch per language over the bounded token-hash
    domain, then the STRUCTURAL TIE DODGE — drop the entire boundary
    stratum (every item whose count equals the minimum returned count),
    leaving exactly the items with count STRICTLY greater than the k-th
    largest count. That set is tie-order-independent, so the oracle can
    reproduce it from plain group-by counts.

    Scale shape: approx_top_k is a map-side-combinable aggregate state
    (one fixed-size sketch per language, merged associatively across
    1000 executors); the explode + boundary filter runs over <= 5*k
    rows. At 100 TB this is the correct heavy-hitter plan — no global
    per-token count materializes, only per-partition sketch states.
    The dodge generalizes: any approx_top_k consumer that needs a
    DETERMINISTIC set (a blocklist build, a stop-token table) should
    publish the strict-majority stratum, not the raw k rows.
    """
    sk = (_lang_tok_buckets(spark, sf).groupBy("lang")
          .agg(F.expr(f"approx_top_k(b, {_D66_K}, {_D66_MAXTRACK})")
               .alias("tk")))
    bounded = sk.select(
        "lang",
        F.expr("array_min(transform(tk, x -> x.count))").alias("min_cnt"),
        F.explode("tk").alias("e"))
    return (bounded.filter(F.col("e.count") > F.col("min_cnt"))
            .select("lang",
                    F.col("e.item").cast("long").alias("bucket"),
                    F.col("e.count").cast("long").alias("cnt"))
            .orderBy("lang", "bucket"))


D66_SQL = f"""
WITH tb AS (
  SELECT lang, {_TOK_BUCKET_DUCK} AS b
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
cnt AS (
  SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tb GROUP BY lang, b
),
th AS (
  -- the k-th largest count per language (multiset order; tie-break
  -- inside the top-k is irrelevant because only MIN(cnt) is read)
  SELECT lang, MIN(cnt) AS thresh FROM (
    SELECT lang, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC) AS rn
    FROM cnt
  ) WHERE rn <= {_D66_K}
  GROUP BY lang
)
SELECT c.lang, c.b AS bucket, c.cnt
FROM cnt c JOIN th USING (lang)
WHERE c.cnt > th.thresh
ORDER BY lang, bucket
"""


# ---------------------------------------------------------------- d67


def d67_hll_lang_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-coverage curve via NATIVE Apache DataSketches HLL
    (hll_sketch_agg / hll_union_agg / hll_sketch_estimate — the round-8
    probe find left un-queried): one HLL sketch per language over the
    bounded token-hash domain, then each language's OWN bucket
    cardinality, the CUMULATIVE cardinality as corpora are added in
    language order (sketch set-algebra over a 5x5 triangle of states —
    no data re-scan per prefix), and the global total.

    This is the curation-planning question "how much new vocabulary
    does each corpus add?" answered the 100-TB way: sketch each corpus
    once (map-side-combinable state), keep the 5 fixed-size states, and
    every prefix/union question — including any FUTURE ordering of the
    same corpora — is answered from states alone. HLL differs from
    d64's theta exactly where it should: union-only algebra but a
    fraction of theta's state size; d64 remains the tier for
    intersection/difference questions.

    Gate exactness: see _D67_LGK. The triangle join is constant-size
    (5x5 sketch states) — allowlisted BNLJ like d64's pair join.
    """
    sk = (_lang_tok_buckets(spark, sf).groupBy("lang")
          .agg(F.expr(f"hll_sketch_agg(b, {_D67_LGK})").alias("sk")))
    own = sk.select("lang",
                    F.expr("hll_sketch_estimate(sk)").cast("long")
                    .alias("own_buckets"))
    a = sk.select(F.col("lang").alias("lang_a"))
    b = sk.select(F.col("lang").alias("lang_b"), F.col("sk").alias("sk_b"))
    cum = (a.join(F.broadcast(b), F.col("lang_b") <= F.col("lang_a"))
           .groupBy("lang_a")
           .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk_b, true))")
                .cast("long").alias("cum_buckets")))
    total = sk.agg(F.expr("hll_sketch_estimate(hll_union_agg(sk, true))")
                   .cast("long").alias("total_buckets"))
    return (own.join(cum, own.lang == cum.lang_a)
            .crossJoin(F.broadcast(total))
            .select("lang", "own_buckets", "cum_buckets", "total_buckets",
                    F.expr("cum_buckets * 1000000 DIV total_buckets")
                    .cast("long").alias("cum_ppm"))
            .orderBy("lang"))


D67_SQL = f"""
WITH tb AS (
  SELECT DISTINCT lang, {_TOK_BUCKET_DUCK} AS b
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
langs AS (SELECT DISTINCT lang FROM tb),
own AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS own_buckets
  FROM tb GROUP BY lang
),
cum AS (
  SELECT l.lang, CAST(COUNT(DISTINCT t.b) AS BIGINT) AS cum_buckets
  FROM langs l JOIN tb t ON t.lang <= l.lang
  GROUP BY l.lang
),
tot AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS total_buckets FROM tb)
SELECT o.lang, o.own_buckets, c.cum_buckets, tot.total_buckets,
       CAST(c.cum_buckets * 1000000 // tot.total_buckets AS BIGINT)
         AS cum_ppm
FROM own o JOIN cum c USING (lang), tot
ORDER BY lang
"""


# ---------------------------------------------------------------- d68


def d68_model_score_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Model-stability gate: the SAME-DOCUMENT score delta between the
    d60 full-corpus model and the d63 train-split model, rolled up per
    split (the round-8 NOTES' drift-metric item). Two models trained on
    nested data answering differently about the same document is the
    production early-warning for training-set sensitivity: a large
    holdout-side delta or flip rate means single-split retrains move
    the curation knife; the train-side delta isolates pure
    20%-data-removal sensitivity (both models saw those docs).

    Output per split: doc count, keep/drop FLIPS between the two
    models, signed total drift (direction: does removing 20% of
    training data make scores optimistic or pessimistic), mean and max
    absolute drift in ppm. Integer arithmetic end to end, so the
    oracle retrains BOTH models from scratch in SQL and reproduces
    every number bit-for-bit.

    Scale shape: both scoring passes are the d59/d60 broadcast-join
    shape over one shared feature explode would be ideal — here the
    full-model side reads the MEMOIZED d60 scores table (score once,
    consume everywhere; this is its third consumer after d60/d61) so
    only the split model re-scores, and the per-doc join of the two
    score tables shuffles on doc_id once.
    """
    full = d60_scores_frame(spark, sf).select(
        "doc_id", F.col("score_ppm").alias("full_ppm"),
        F.col("keep_pred").alias("full_keep"))
    weights = d63_weights_frame(spark, sf)
    occ = classifier_occ_frame(spark, sf).select(
        "doc_id", "split", "bucket")
    scored = (occ.join(F.broadcast(weights), "bucket", "left")
              .groupBy("doc_id", "split")
              .agg(F.count("*").cast("long").alias("n_feats"),
                   F.sum(F.coalesce(F.col("w_ppm"), F.lit(0)))
                   .cast("long").alias("sum_ppm")))
    split_scores = scored.select(
        "doc_id", "split", F.expr("sum_ppm DIV n_feats").alias("split_ppm"))
    per = (full.join(split_scores, "doc_id")
           .select("split",
                   (F.col("full_ppm") - F.col("split_ppm")).alias("delta"),
                   (F.col("full_keep") != (F.col("split_ppm") > 0))
                   .cast("long").alias("flip")))
    return (per.groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("flip").cast("long").alias("n_flipped"),
                 F.sum("delta").cast("long").alias("sum_delta_ppm"),
                 F.expr("sum(abs(delta)) DIV count(*)").cast("long")
                 .alias("mean_abs_delta_ppm"),
                 F.max(F.abs(F.col("delta"))).cast("long")
                 .alias("max_abs_delta_ppm"))
            .orderBy("split"))


def _d68_weight_ctes(tag: str, occ: str) -> str:
    """c<tag>/p<tag>/w<tag>: `_d60_weight_ctes` in d68's layout, the
    weight column named `w`, so one oracle holds two models."""
    return f"""c{tag} AS (
  SELECT bucket, CAST(SUM(y) AS BIGINT) AS n1,
         CAST(SUM(1 - y) AS BIGINT) AS n0
  FROM {occ} GROUP BY bucket
),
p{tag} AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS g1, CAST(SUM(n0) AS BIGINT) AS g0
  FROM c{tag}
),
w{tag} AS (
  SELECT bucket,
         CAST((n1 - n0) * {_D60_SCALE} // (n1 + n0)
              - (g1 - g0) * {_D60_SCALE} // (g1 + g0) AS BIGINT) AS w
  FROM c{tag}, p{tag}
)"""


def _d68_sql() -> str:
    return rf"""
WITH {_d65_split_ctes('doc_id', 'doc_id')},
{_d68_weight_ctes('full', 'occ')},
{_d68_weight_ctes('tr', "occ WHERE split = 'train'")},
scored AS (
  SELECT o.doc_id, any_value(o.split) AS split,
         CAST(COUNT(*) AS BIGINT) AS nf,
         CAST(SUM(wf.w) AS BIGINT) AS sfull,
         CAST(SUM(COALESCE(wt.w, 0)) AS BIGINT) AS ssplit
  FROM occ o
  JOIN wfull wf USING (bucket)
  LEFT JOIN wtr wt USING (bucket)
  GROUP BY o.doc_id
),
per AS (
  SELECT split, (sfull // nf) AS fp, (ssplit // nf) AS sp FROM scored
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN (fp > 0) != (sp > 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flipped,
       CAST(SUM(fp - sp) AS BIGINT) AS sum_delta_ppm,
       CAST(SUM(abs(fp - sp)) // COUNT(*) AS BIGINT)
         AS mean_abs_delta_ppm,
       CAST(MAX(abs(fp - sp)) AS BIGINT) AS max_abs_delta_ppm
FROM per GROUP BY split ORDER BY split
"""


# ---------------------------------------------------------------- d69


def d69_bitmap_exact_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT distinct counting via the native bitmap aggregate family
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_or_agg / bitmap_count — a NEW probe find this session; the
    round-8 probe predates it). Per event type: exact distinct users
    from segment bitmaps, plus the global exact distinct-user count
    re-aggregated from the SAME bitmap states — no second scan.

    This completes the cardinality tier ladder: d64 theta (set algebra,
    approximate beyond exact mode), d67/s32 HLL (union-only, tiny
    state), d69 bitmaps (EXACT, state = 1 bit per possible id inside
    fixed 32 KB segments — the right tier when ids are dense integers,
    e.g. user/doc ids). Unlike the sketch tiers, no bounded-domain
    trick is needed for the gate: bitmaps are exact by construction at
    any scale, so the oracle is a plain COUNT(DISTINCT user_id).

    Scale shape: two cascaded aggregates — (type, segment)-keyed
    bitmap build with map-side partial OR-merging, then a per-type
    rollup summing per-segment popcounts, re-using the level-1 states
    for the global union (grouped by segment — NOT a single-row
    collapse; the global popcount is a sum over segment popcounts, so
    state per task stays one 32 KB segment regardless of id range).
    A 10^9-dense-id corpus is ~30k segments x 32 KB = manageable state
    fanned across executors, where exact distinct via shuffle-distinct
    would move every (type, id) pair.
    """
    ev = t(spark, sf, "events")
    lvl1 = (ev.groupBy("event_type",
                       F.expr("bitmap_bucket_number(user_id)").alias("seg"))
            .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
                 .alias("bm"),
                 F.count("*").cast("long").alias("n")))
    per_type = (lvl1.groupBy("event_type")
                .agg(F.sum(F.expr("bitmap_count(bm)")).cast("long")
                     .alias("n_users"),
                     F.sum("n").cast("long").alias("n_events")))
    total = (lvl1.groupBy("seg")
             .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
             .agg(F.sum(F.expr("bitmap_count(bm)")).cast("long")
                  .alias("total_users")))
    return (per_type.crossJoin(F.broadcast(total))
            .select("event_type", "n_events", "n_users", "total_users",
                    F.expr("n_users * 1000000 DIV total_users")
                    .cast("long").alias("share_ppm"))
            .orderBy("event_type"))


D69_SQL = """
WITH per_type AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total_users
  FROM events
)
SELECT event_type, n_events, n_users, total_users,
       CAST(n_users * 1000000 // total_users AS BIGINT) AS share_ppm
FROM per_type, tot
ORDER BY event_type
"""


# ---------------------------------------------------------------- d70

# Distance bound: single-substitution typos. FastSS-style deletion
# neighborhoods (Bocek et al., "Fast Similarity Search in Large
# Dictionaries", 2007 — public) make the blocking EXACT for this bound
# on equal-length unique keys: two keys at substitution distance 1
# agree everywhere except one position p, so they collide on the
# (p, key-with-p-deleted) signature and on no other — candidate set ==
# answer set, precision 1.0, no quadratic block anywhere. (Naive
# substring blocking degenerates here: customer names share a constant
# 'Customer#000...' prefix, so any contiguous block key puts most of
# the table in one block.)
_D70_MAXDIST = 1


def d70_edit_distance_blocking(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy duplicate detection via edit distance under DELETION-
    NEIGHBORHOOD blocking — the record-linkage tier of the dedup family
    (exact d03, MinHash d06, SimHash d07, substring d50, PPJoin+
    d47/d53: none catch single-character typos in short fixed-format
    keys; levenshtein does, but only a blocking scheme keeps it
    sub-quadratic). Customer names are the fixed-format key: the pairs
    within substitution distance 1 are exactly the names differing in
    one digit.

    Each key explodes into L = len(key) signatures (position p, key
    with position p deleted); pairs joining on an identical signature
    are EXACTLY the distance-1 substitution pairs (see _D70_MAXDIST
    comment), and the levenshtein verify pins every candidate at
    distance 1 — max_dist == min_dist == 1 in the output is the
    precision-1.0 evidence, n_cand == n_pairs the recall side, both
    gated. Keys are ASCII-sanitized on both engines because Spark's
    levenshtein counts codepoints while DuckDB's counts bytes.

    Scale shape: linear L-times row expansion, one equi-join on the
    signature (shuffle join, tiny blocks — a signature collides only
    for true near-pairs plus the <= 10-way digit fan), per-candidate
    levenshtein. This is the 10^9-key production layout: output-bound
    candidate generation, verify cost proportional to matches, not to
    pairs of records.
    """
    cust = t(spark, sf, "customer")
    # length(key) > 0 guard: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0] (step defaults to -1) while DuckDB's generate_series(1, 0)
    # is empty — a key sanitized to '' would diverge (review finding)
    keys = cust.select(
        F.col("c_custkey").alias("id"),
        F.regexp_replace(F.col("c_name"), "[^\\x20-\\x7E]", "")
        .alias("key")).filter(F.length("key") > 0)
    sigs = (keys.select(
        "id", "key",
        F.explode(F.expr("sequence(1, length(key))")).alias("pos"))
        .select("id", "key", "pos",
                F.expr("concat(substring(key, 1, pos - 1), "
                       "substring(key, pos + 1))").alias("sig")))
    a = sigs.select(F.col("id").alias("id_a"), F.col("key").alias("key_a"),
                    "pos", "sig")
    b = sigs.select(F.col("id").alias("id_b"), F.col("key").alias("key_b"),
                    "pos", "sig")
    cand = (a.join(b, ["pos", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.levenshtein("key_a", "key_b").alias("dist")))
    return (cand.agg(
        F.count("*").cast("long").alias("n_cand"),
        F.sum(F.when(F.col("dist") <= _D70_MAXDIST, 1).otherwise(0))
        .cast("long").alias("n_pairs"),
        F.min("dist").cast("long").alias("min_dist"),
        F.max("dist").cast("long").alias("max_dist"),
        F.count_distinct(F.col("id_a")).cast("long")
        .alias("n_left_touched")))


D70_SQL = f"""
WITH keys AS (
  SELECT c_custkey AS id,
         regexp_replace(c_name, '[^\\x20-\\x7E]', '', 'g') AS key
  FROM customer
  WHERE length(regexp_replace(c_name, '[^\\x20-\\x7E]', '', 'g')) > 0
),
sigs AS (
  SELECT id, key, pos,
         concat(substring(key, 1, pos - 1), substring(key, pos + 1))
           AS sig
  FROM (SELECT id, key,
               unnest(generate_series(1, length(key))) AS pos
        FROM keys)
),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         levenshtein(a.key, b.key) AS dist
  FROM sigs a JOIN sigs b ON a.pos = b.pos AND a.sig = b.sig
  WHERE a.id < b.id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN dist <= {_D70_MAXDIST} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist,
       CAST(COUNT(DISTINCT id_a) AS BIGINT) AS n_left_touched
FROM cand
"""


# ---------------------------------------------------------------- d71

# d70 (substitution-1, depth-1 deletion signatures) is EXACT blocking;
# at distance 2 the FastSS guarantee (Bocek et al. 2007, public) becomes
# recall-only: keys within edit distance k share a variant in their
# depth-k DELETION neighborhoods (sub->delete both sides, del/ins->
# delete the longer side, ins+del->delete one each), but a shared
# variant only bounds the distance by d1+d2 <= 4 — so a levenshtein
# VERIFY stage prunes candidates to true ed<=2 pairs. Candidate volume
# stays output-bound because the key is HIGH-ENTROPY: a 20-hex-char
# record identifier (md5-derived — the serial-number/UUID typo-linkage
# shape of entity resolution). Low-entropy keys would break the bound:
# c_name's constant 'Customer#000' prefix is exactly why d70 had to
# argue its blocking differently, and documents.text's small word
# vocabulary makes identical prefixes collide quadratically. For THAT
# regime use d73: single-edited-token blocking
# whose block key carries the residual name, so vocabulary frequency
# cannot inflate candidates.
_D71_MAXDIST = 2
_D71_KEYLEN = 20          # variant fan is ~(KEYLEN^2)/2 per key: ~231 at 20
_D71_ALIAS_OFFSET = 10_000_000


# d71's first edit at p1, by op (substitute 'q', delete, insert 'x'):
# the CASE arms both engines evaluate (Spark through F.expr)
_D71_EDIT1_ARMS = """
           WHEN 0 THEN concat(substring(key, 1, p1 - 1), 'q',
                              substring(key, p1 + 1))
           WHEN 1 THEN concat(substring(key, 1, p1 - 1),
                              substring(key, p1 + 1))
           ELSE concat(substring(key, 1, p1 - 1), 'x',
                       substring(key, p1))
         END"""


def d71_fuzzy_dedup_depth2(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution fuzzy dedup, general edit distance <= 2:
    deterministic typo'd aliases (1 or 2 of substitute/delete/insert,
    position and op chosen by arithmetic on the key id — both engines
    rebuild the identical corrupted corpus) are injected for every 4th
    customer, then recovered by depth-2 deletion-neighborhood blocking +
    levenshtein verify. Recall evidence is IN the output: every injected
    alias is at true ed <= 2 from its source by construction, so
    n_injected_found == n_aliases; precision evidence: n_pairs counts
    only verified ed <= 2 among candidates (n_cand >= n_pairs, the gap
    is the blocking's ed-3/4 leakage that the verify prunes).

    Scale shape: linear ~KEYLEN^2/2-fold row expansion per key (bounded
    fan, no data-dependent blowup), DISTINCT on (id, sig) then one
    equi-join on the signature — block sizes are O(true matches) on
    high-entropy keys, so candidate generation is output-bound; verify
    cost is per-candidate, not per-pair-of-records. This is the
    10^9-key layout: no all-pairs stage anywhere.
    """
    cust = t(spark, sf, "customer")
    # md5 hex is ASCII on both engines, so the codepoint-vs-byte
    # levenshtein divergence can never bite; entropy makes signature
    # blocks O(true matches)
    base = cust.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.expr(f"substring(md5(c_name), 1, {_D71_KEYLEN})").alias("key"))
    # Deterministic corruption for id % 4 == 0: edit 1 at pos1 (op by
    # id div 4 mod 3), then for id % 8 == 0 a second edit — always a
    # substitution at a different position ON THE EDITED STRING, giving
    # true distance-2 pairs (sub+sub, del+sub, ins+sub).
    edit1 = f"CASE pmod(id div 4, 3){_D71_EDIT1_ARMS}"
    aliases = (base.filter(F.expr("id % 4 = 0"))
               .withColumn("p1", F.expr("pmod(id * 7, length(key)) + 1"))
               .withColumn("k1", F.expr(edit1))
               .withColumn("p2", F.expr(
                   "pmod(id * 13, greatest(length(k1) - 1, 1)) + 1"))
               .withColumn("p2", F.expr(
                   "CASE WHEN p2 = p1 THEN p2 + 1 ELSE p2 END"))
               .select(
                   (F.col("id") + F.lit(_D71_ALIAS_OFFSET)).alias("id"),
                   F.expr("CASE WHEN id % 8 = 0 THEN "
                          "concat(substring(k1, 1, p2 - 1), 'z', "
                          "substring(k1, p2 + 1)) ELSE k1 END")
                   .alias("key")))
    corpus = base.unionByName(aliases)
    # spread the ~(1 + L + C(L,2))-fold variant generation across the
    # session's full width: customer at gate scale is a one-split scan,
    # so the whole explode+substring cascade below otherwise runs in a
    # single task before the checkpoint (the d57 finding, optimization
    # r12). 8-byte ids + 16-char keys — a trivial exchange.
    corpus = corpus.repartition(
        spark.sparkContext.defaultParallelism, F.col("id"))
    # depth-<=2 deletion neighborhood, generated CANONICALLY as ordered
    # original-position pairs p < q (plus p=0 single/identity forms):
    # 1 + L + C(L,2) rows per key instead of the (L+1)^2 grid of
    # "delete-then-delete-the-result", and no dedup shuffle — the
    # sequential encoding reached each depth-2 variant twice and needed
    # a corpus-sized DISTINCT before the join (measured 12.9 s at sf0.1;
    # this form runs the same blocking in roughly half the rows and one
    # fewer shuffle). Duplicate variants from repeated characters remain
    # possible; the pair-level DISTINCT after the join absorbs them.
    sigs = (corpus
            .select("id", "key",
                    F.explode(F.expr("sequence(0, length(key))"))
                    .alias("p"))
            .select("id", "key", "p",
                    F.explode(F.expr("sequence(0, length(key))"))
                    .alias("q"))
            .filter("p = 0 OR q > p")  # codegen filter, pre-shuffle
            .select("id", "key", F.expr(
                "CASE WHEN p = 0 AND q = 0 THEN key "
                "WHEN p = 0 THEN concat(substring(key, 1, q - 1), "
                "substring(key, q + 1)) "
                "ELSE concat(substring(key, 1, p - 1), "
                "substring(key, p + 1, q - p - 1), "
                "substring(key, q + 1)) END").alias("sig"))
            # materialize ONCE: the self-join otherwise re-runs the whole
            # corpus->explode->variant subtree for each side (the plan
            # showed two identical Generate chains), and post-explode
            # size estimates are garbage (the planner broadcast a ~211x
            # exploded relation it thought was parquet-file-sized). The
            # checkpoint halves signature generation AND gives the join
            # real stats, so broadcast-vs-SMJ is decided on the true
            # signature-table size at any scale (optimization r11).
            .localCheckpoint())
    a = sigs.select(F.col("id").alias("id_a"), F.col("key").alias("key_a"),
                    "sig")
    b = sigs.select(F.col("id").alias("id_b"), F.col("key").alias("key_b"),
                    "sig")
    cand = (a.join(b, "sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "key_a", "key_b")
            .distinct()
            .select("id_a", "id_b",
                    F.levenshtein("key_a", "key_b").alias("dist")))
    return cand.agg(
        F.count("*").cast("long").alias("n_cand"),
        F.sum(F.when(F.col("dist") <= _D71_MAXDIST, 1).otherwise(0))
        .cast("long").alias("n_pairs"),
        F.sum(F.when((F.col("id_b") - F.col("id_a")
                      == _D71_ALIAS_OFFSET)
                     & (F.col("dist") <= _D71_MAXDIST), 1).otherwise(0))
        .cast("long").alias("n_injected_found"),
        F.min("dist").cast("long").alias("min_dist"),
        F.max("dist").cast("long").alias("max_dist"))


D71_SQL = f"""
WITH base AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         substring(md5(c_name), 1, {_D71_KEYLEN}) AS key
  FROM customer
),
e1 AS (
  SELECT id, key, (id * 7) % length(key) + 1 AS p1 FROM base
  WHERE id % 4 = 0
),
e1b AS (
  SELECT id, key, p1,
         CASE (id // 4) % 3{_D71_EDIT1_ARMS} AS k1
  FROM e1
),
e2 AS (
  SELECT id, p1, k1,
         (id * 13) % greatest(length(k1) - 1, 1) + 1 AS p2_raw
  FROM e1b
),
aliases AS (
  SELECT id + {_D71_ALIAS_OFFSET} AS id,
         CASE WHEN id % 8 = 0 THEN
           concat(substring(k1, 1, p2 - 1), 'z', substring(k1, p2 + 1))
         ELSE k1 END AS key
  FROM (SELECT id, k1,
               CASE WHEN p2_raw = p1 THEN p2_raw + 1 ELSE p2_raw END AS p2
        FROM e2)
),
corpus AS (SELECT id, key FROM base UNION ALL SELECT id, key FROM aliases),
sigs AS (
  -- canonical p < q original-position deletion pairs (see the Spark
  -- side): no DISTINCT here; the pair-level DISTINCT in cand absorbs
  -- duplicate variants from repeated characters
  SELECT id, key,
         CASE WHEN p = 0 AND q = 0 THEN key
              WHEN p = 0 THEN concat(substring(key, 1, q - 1),
                                     substring(key, q + 1))
              ELSE concat(substring(key, 1, p - 1),
                          substring(key, p + 1, q - p - 1),
                          substring(key, q + 1)) END AS sig
  FROM (SELECT id, key, p, unnest(generate_series(0, length(key))) AS q
        FROM (SELECT id, key, unnest(generate_series(0, length(key))) AS p
              FROM corpus))
  WHERE p = 0 OR q > p
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.key AS key_a,
                  b.key AS key_b
  FROM sigs a JOIN sigs b ON a.sig = b.sig
  WHERE a.id < b.id
),
verified AS (
  SELECT id_a, id_b, levenshtein(key_a, key_b) AS dist FROM cand
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN dist <= {_D71_MAXDIST} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN id_b - id_a = {_D71_ALIAS_OFFSET}
                      AND dist <= {_D71_MAXDIST} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_injected_found,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist
FROM verified
"""


# ---------------------------------------------------------------- d73

# pairwise edit distance >= 2, no deletion of one equals another, and no
# 'q'/'x' (the substitution/insertion characters) anywhere — so every
# injected corruption is at true token distance EXACTLY 1 and never
# lands on a vocabulary word (tests/test_plans_d.py pins all
# three properties)
_D73_VOCAB = ("alder birch cedar delta ember ferro grove helio indigo "
              "jasper kappa lemon mango nylon ocean piano river stone "
              "tulip tiger viola wheat yodel zebra").split()
_D73_V = "array(" + ", ".join(f"'{w}'" for w in _D73_VOCAB) + ")"
_D73_V_DUCK = "[" + ", ".join(f"'{w}'" for w in _D73_VOCAB) + "]"
_D73_NTOK = 4
_D73_ALIAS_OFFSET = 10_000_000

# tokens 1-3 = the base-24 digits of nid (INDEPENDENT, 13,824 reachable
# combinations — an earlier design derived all three from nid % 24,
# which made them perfectly correlated: every 24th name shared its full
# vocab prefix and true-duplicate pairs grew QUADRATICALLY, ~N^2/1200
# exact pairs, 18M at ~sf1 — the output itself was the blow-up, not the
# blocking); token 4 is a 'no'||3-digit account fragment — 1000
# distinct values corpus-wide, the deliberately DEGENERATE low-entropy
# token (at 2 digits the 10x replica corpus produced ~240k natural typo
# pairs — quadratic with a 1/72k constant; 3 digits cuts the per-class
# match probability 7x while staying low-entropy).
# Natural full-name collisions need nid agreement mod
# lcm(13824, 1000) = 1,728,000 — none below ~sf10 — so exact-duplicate
# coverage comes from LINEAR alias injection instead (every 10th id).


def _d73_spark_tokens() -> str:
    toks = [f"element_at({_D73_V}, "
            f"CAST((nid div {24 ** j}) % 24 AS INT) + 1)"
            for j in range(3)]
    toks.append("concat('no', lpad(CAST(nid % 1000 AS STRING), 3, '0'))")
    return "array(" + ", ".join(toks) + ")"


def _typo_aliases(frame: DataFrame, offset: int) -> DataFrame:
    """One-edit aliases of `frame` (id, toks), keyed id + `offset`: token
    ((id div 4) % 4) + 1 gets one char substituted ('q'), deleted or
    inserted ('x') at (id % length) + 1, the op picked by (id div 16) %
    3 — d73's typo table, shared with d75's rotated aliases."""
    return (frame
            .withColumn("ti", F.expr(
                "CAST((id div 4) % 4 AS INT) + 1"))
            .withColumn("tok", F.expr("element_at(toks, ti)"))
            .withColumn("p", F.expr(
                "CAST(id % length(tok) AS INT) + 1"))
            .withColumn("ct", F.expr("""
                CASE (id div 16) % 3
                  WHEN 0 THEN concat(substring(tok, 1, p - 1), 'q',
                                     substring(tok, p + 1))
                  WHEN 1 THEN concat(substring(tok, 1, p - 1),
                                     substring(tok, p + 1))
                  ELSE concat(substring(tok, 1, p - 1), 'x',
                              substring(tok, p))
                END"""))
            .select((F.col("id") + F.lit(offset))
                    .alias("id"),
                    F.expr("transform(toks, (t, j) -> "
                           "CASE WHEN j + 1 = ti THEN ct ELSE t END)")
                    .alias("toks")))


def _one_edit_pairs(slots: DataFrame) -> DataFrame:
    """Blocking + verify over token slots (id, tok, rest): each slot's
    signatures are `rest` joined to `tok` with no char or one char
    deleted, so two ids share a signature when their other tokens match
    and the slot tokens are within one edit; the shared pairs (id_a <
    id_b) are verified by levenshtein <= 1. d73's and d75's pair frame."""
    sigs = (slots
            .select("id", "tok", "rest",
                    F.explode(F.expr("sequence(0, length(tok))"))
                    .alias("p"))
            .select("id", "tok", F.concat(
                F.col("rest"), F.lit("|"),
                F.expr("CASE WHEN p = 0 THEN tok "
                       "ELSE concat(substring(tok, 1, p - 1), "
                       "substring(tok, p + 1)) END")).alias("sig")))
    a = sigs.select(F.col("id").alias("id_a"),
                    F.col("tok").alias("tok_a"), "sig")
    b = sigs.select(F.col("id").alias("id_b"),
                    F.col("tok").alias("tok_b"), "sig")
    return (a.join(b, "sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.levenshtein("tok_a", "tok_b").alias("dist"))
            .distinct()
            .filter(F.col("dist") <= 1))


def d73_low_entropy_fuzzy_dedup(spark: SparkSession,
                                sf: str) -> DataFrame:
    """Single-edited-token fuzzy dedup on a c_name-DERIVED 4-token
    natural key built from a 24-word vocabulary plus a 1000-value
    account fragment (heavy token sharing — the regime d71's docstring
    concedes). Deterministic typo'd aliases (one sub/del/ins inside one
    token, position and op by arithmetic on the id — both engines
    rebuild the identical corpus) are injected for every 4th customer,
    and verbatim exact-duplicate aliases for every 10th — both LINEAR,
    so the true-duplicate volume (and with it the blocking join's
    output) scales linearly with the corpus.

    Match semantics: two names are duplicates iff their token sequences
    are identical (exact duplicate, distance 0) or differ in exactly
    one position whose tokens are within edit distance 1 (typo
    duplicate). Blocking: per token position, key = (position, other
    tokens verbatim, FastSS depth-1 deletion variant) — exact recall at
    k=1; shared-variant leakage reaches token ed 2 and is pruned by a
    levenshtein verify. The ORACLE brute-forces all pairs instead of
    replaying the blocking, so the gate proves recall == 1.0 and
    precision == 1.0 against ground truth, not self-consistency.

    Scale shape: bounded fan (4 positions x (len+1) variants ~ 28 rows
    per name), one equi-join on the composite signature, pair-level
    DISTINCT, per-candidate verify. Block sizes are bounded by names
    agreeing on ALL other tokens — vocabulary frequency cannot inflate
    them; mass-identical names grow blocks only where the output itself
    grows (they ARE duplicates). No all-pairs stage anywhere; the
    brute-force exists only on the DuckDB oracle side at gate SF.
    """
    cust = t(spark, sf, "customer")
    # nid = ALL digits of the name, not a fixed offset: the 10x replica
    # corpus prefixes customer names with a replica tag
    # ('9999-Customer#000014999'), which both breaks a positional
    # substring (ANSI cast throws on 'omer#0000' — killed the first
    # round-10 sf1 bench run) and, folded into nid, keeps replica
    # name spaces disjoint instead of mass-colliding.
    base = (cust.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.expr("CAST(regexp_replace(c_name, '[^0-9]', '') AS BIGINT)")
        .alias("nid"))
        .select("id", F.expr(_d73_spark_tokens()).alias("toks")))
    # exact-duplicate aliases: every 10th id re-enters VERBATIM (linear
    # injection — the natural name space is collision-free below ~sf10
    # by design, see the token comment above)
    exacts = (base.filter("id % 10 = 5")
              .select((F.col("id") + F.lit(2 * _D73_ALIAS_OFFSET))
                      .alias("id"), "toks"))
    aliases = _typo_aliases(base.filter("id % 4 = 0"), _D73_ALIAS_OFFSET)
    corpus = base.unionByName(aliases).unionByName(exacts)
    # blocking signatures: 4 positions x (identity + per-char deletion)
    slots = (corpus
             .select("id", "toks",
                     F.explode(F.expr(f"sequence(1, {_D73_NTOK})"))
                     .alias("i"))
             .select("id",
                     F.expr("element_at(toks, i)").alias("tok"),
                     F.expr(f"concat(CAST(i AS STRING), '|', "
                            f"concat_ws(' ', slice(toks, 1, i - 1)), '|', "
                            f"concat_ws(' ', slice(toks, i + 1, "
                            f"{_D73_NTOK} - i)))").alias("rest")))
    verified = _one_edit_pairs(slots)
    stats = verified.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dist") == 0, 1).otherwise(0)).cast("long")
        .alias("n_exact_pairs"),
        F.sum(F.when(F.col("dist") == 1, 1).otherwise(0)).cast("long")
        .alias("n_typo_pairs"),
        F.sum(F.when(F.col("id_b") - F.col("id_a")
                     == _D73_ALIAS_OFFSET, 1).otherwise(0)).cast("long")
        .alias("n_injected_found"),
        F.sum(F.when(F.col("id_b") - F.col("id_a")
                     == 2 * _D73_ALIAS_OFFSET, 1).otherwise(0))
        .cast("long").alias("n_exact_injected_found"))
    counts = corpus.agg(
        F.count("*").cast("long").alias("n_names"),
        # replica corpora carry base ids >= 10^9, so alias membership
        # is a MODULAR band, not a magnitude test (within-replica keys
        # stay far below OFFSET for any corpus under ~sf60)
        F.sum(F.when(F.expr(f"pmod(id, 1000000000) >= "
                            f"{_D73_ALIAS_OFFSET}"), 1).otherwise(0))
        .cast("long").alias("n_aliases"))
    return counts.crossJoin(stats)  # two 1-row frames


def _d73_duck_tokens() -> str:
    toks = [f"{_D73_V_DUCK}[CAST((nid // {24 ** j}) % 24 AS INT) + 1] "
            f"AS t{j + 1}"
            for j in range(3)]
    toks.append("'no' || lpad(CAST(nid % 1000 AS VARCHAR), 3, '0') AS t4")
    return ", ".join(toks)


# d73/d75 oracle: the customer names as four tokens each (base, named),
# and the one-edit corruption ct of the picked token tok at position p
_D73_NAMED_CTES = f"""base AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         CAST(regexp_replace(c_name, '[^0-9]', '', 'g') AS BIGINT) AS nid
  FROM customer
),
named AS (
  SELECT id, {_d73_duck_tokens()} FROM base
)"""
_D73_CORRUPT_DUCK = """         CASE (id // 16) % 3
           WHEN 0 THEN substring(tok, 1, p - 1) || 'q'
                       || substring(tok, p + 1)
           WHEN 1 THEN substring(tok, 1, p - 1) || substring(tok, p + 1)
           ELSE substring(tok, 1, p - 1) || 'x' || substring(tok, p)
         END AS ct"""


D73_SQL = f"""
WITH {_D73_NAMED_CTES},
picked AS (
  SELECT id, t1, t2, t3, t4,
         ((id // 4) % 4) + 1 AS ti,
         CASE ((id // 4) % 4) + 1
           WHEN 1 THEN t1 WHEN 2 THEN t2 WHEN 3 THEN t3 ELSE t4
         END AS tok
  FROM named WHERE id % 4 = 0
),
edited AS (
  SELECT *, (id % length(tok)) + 1 AS p FROM picked
),
corrupted AS (
  SELECT id, t1, t2, t3, t4, ti,
{_D73_CORRUPT_DUCK}
  FROM edited
),
aliases AS (
  SELECT id + {_D73_ALIAS_OFFSET} AS id,
         CASE WHEN ti = 1 THEN ct ELSE t1 END AS t1,
         CASE WHEN ti = 2 THEN ct ELSE t2 END AS t2,
         CASE WHEN ti = 3 THEN ct ELSE t3 END AS t3,
         CASE WHEN ti = 4 THEN ct ELSE t4 END AS t4
  FROM corrupted
),
exacts AS (
  SELECT id + {2 * _D73_ALIAS_OFFSET} AS id, t1, t2, t3, t4
  FROM named WHERE id % 10 = 5
),
corpus AS (
  SELECT id, t1, t2, t3, t4 FROM named UNION ALL
  SELECT id, t1, t2, t3, t4 FROM aliases UNION ALL
  SELECT id, t1, t2, t3, t4 FROM exacts
),
-- INDEPENDENT ground truth: brute-force all pairs (gate-SF only; the
-- engine side never does this)
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(a.t1 != b.t1 AS INT) + CAST(a.t2 != b.t2 AS INT)
           + CAST(a.t3 != b.t3 AS INT) + CAST(a.t4 != b.t4 AS INT) AS nd,
         CASE WHEN a.t1 != b.t1 THEN levenshtein(a.t1, b.t1)
              WHEN a.t2 != b.t2 THEN levenshtein(a.t2, b.t2)
              WHEN a.t3 != b.t3 THEN levenshtein(a.t3, b.t3)
              WHEN a.t4 != b.t4 THEN levenshtein(a.t4, b.t4)
              ELSE 0 END AS dist
  FROM corpus a JOIN corpus b ON a.id < b.id
),
matched AS (
  SELECT * FROM pairs WHERE nd = 0 OR (nd = 1 AND dist <= 1)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_names,
       (SELECT CAST(SUM(CASE WHEN id % 1000000000
                                  >= {_D73_ALIAS_OFFSET}
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM corpus) AS n_aliases,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN nd = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_pairs,
       CAST(SUM(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_typo_pairs,
       CAST(SUM(CASE WHEN id_b - id_a = {_D73_ALIAS_OFFSET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_injected_found,
       CAST(SUM(CASE WHEN id_b - id_a = {2 * _D73_ALIAS_OFFSET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_injected_found
FROM matched
"""


# ---------------------------------------------------------------- d72

_D72_NTOK = 6
_D72_ALIAS_OFFSET = 10_000_000


def d72_token_transposition_dedup(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """Word-order-insensitive duplicate detection via SORTED-TOKEN
    signature blocking: two keys are transposition-duplicates iff their
    token MULTISETS are equal, and the sorted-token string is a perfect
    (exact, collision-free) signature for multiset equality — so unlike
    d71's recall-only depth-2 blocking, no verify join is needed at all.
    Deterministic rotated aliases (rotate the first-6-token key by
    1 + doc_id%3 positions) are injected for every 5th document; both
    engines rebuild the identical corpus.

    The whole answer is THREE HASH AGGREGATES, zero joins:
      1. (sig, raw) -> multiplicity m        [same-string collapse]
      2. sig        -> n, C(n,2)-sum C(m,2)  [cross-ordering pair count]
      3. (sig, source_id) -> role count      [injected-pair recovery]
    Pure aggregation is the 100-TB shape: one shuffle per level, no
    candidate blowup possible, block skew irrelevant because nothing is
    ever paired row-by-row — pair COUNTS fall out of the group sizes.
    """
    docs = t(spark, sf, "documents")
    base = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.expr(f"slice(split(text, ' '), 1, {_D72_NTOK})").alias("tok"))
    rot = f"1 + pmod(id, 3)"
    aliases = (base.filter(F.expr("id % 5 = 0"))
               .select((F.col("id") + F.lit(_D72_ALIAS_OFFSET))
                       .alias("id"),
                       F.expr(f"concat(slice(tok, ({rot}) + 1, "
                              f"{_D72_NTOK}), slice(tok, 1, {rot}))")
                       .alias("tok")))
    corpus = (base.unionByName(aliases)
              .select("id",
                      F.array_join(F.col("tok"), " ").alias("raw"),
                      F.array_join(F.sort_array(F.col("tok")), " ")
                      .alias("sig")))
    per_raw = (corpus.groupBy("sig", "raw")
               .agg(F.count("*").alias("m")))
    per_sig = (per_raw.groupBy("sig")
               .agg(F.sum("m").alias("n"),
                    F.sum(F.expr("m * (m - 1) div 2")).alias("same_pairs")))
    pair_stats = per_sig.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long")
        .alias("n_multi_groups"),
        F.sum(F.expr("n * (n - 1) div 2 - same_pairs")).cast("long")
        .alias("n_reorder_pairs"))
    injected = (corpus
                .select(F.expr(f"CASE WHEN id >= {_D72_ALIAS_OFFSET} "
                               f"THEN id - {_D72_ALIAS_OFFSET} "
                               f"ELSE id END").alias("src"),
                        F.expr(f"id >= {_D72_ALIAS_OFFSET}")
                        .alias("is_alias"), "sig")
                .groupBy("sig", "src")
                .agg(F.count_distinct("is_alias").alias("roles"))
                .agg(F.sum(F.when(F.col("roles") == 2, 1).otherwise(0))
                     .cast("long").alias("n_injected_found")))
    return pair_stats.crossJoin(injected)  # two 1-row frames


D72_SQL = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         string_split(text, ' ')[1:{_D72_NTOK}] AS tok
  FROM documents
),
aliases AS (
  -- rotation amount r is computed in the inner scope from the TRUE id
  -- as belt-and-braces against engine alias-resolution differences:
  -- DuckDB actually gives the BASE column precedence over a same-named
  -- lateral alias (`SELECT id+10 AS id, id % 3` uses the base id), so
  -- the flat form would also be correct — but the inner scope makes the
  -- binding explicit instead of relying on precedence rules.
  SELECT id + {_D72_ALIAS_OFFSET} AS id,
         tok[r + 1:] || tok[1:r] AS tok
  FROM (SELECT id, tok, 1 + id % 3 AS r FROM base WHERE id % 5 = 0)
),
corpus AS (
  SELECT id, array_to_string(tok, ' ') AS raw,
         array_to_string(list_sort(tok), ' ') AS sig
  FROM (SELECT id, tok FROM base UNION ALL
        SELECT id, tok FROM aliases)
),
per_raw AS (
  SELECT sig, raw, COUNT(*) AS m FROM corpus GROUP BY sig, raw
),
per_sig AS (
  SELECT sig, SUM(m) AS n, SUM(m * (m - 1) // 2) AS same_pairs
  FROM per_raw GROUP BY sig
),
pair_stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_multi_groups,
         CAST(SUM(n * (n - 1) // 2 - same_pairs) AS BIGINT)
           AS n_reorder_pairs
  FROM per_sig
),
injected AS (
  SELECT CAST(SUM(CASE WHEN roles = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_injected_found
  FROM (SELECT sig,
               CASE WHEN id >= {_D72_ALIAS_OFFSET}
                    THEN id - {_D72_ALIAS_OFFSET} ELSE id END AS src,
               COUNT(DISTINCT id >= {_D72_ALIAS_OFFSET}) AS roles
        FROM corpus GROUP BY 1, 2)
)
SELECT * FROM pair_stats, injected
"""


# ---------------------------------------------------------------- d75

_D75_NTOK = 4
_D75_ALIAS_OFFSET = 10_000_000


def _d75_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The d75 corpus: d73's 4-token natural key per customer plus two
    LINEAR alias classes — rotation-only (every 10th id, +2*OFFSET)
    and rotation+typo (every 4th id, +OFFSET). Returns (id, st) with
    st = the SORTED token array."""
    cust = t(spark, sf, "customer")
    # nid from ALL name digits — replica-safe (see d73)
    base = (cust.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.expr("CAST(regexp_replace(c_name, '[^0-9]', '') AS BIGINT)")
        .alias("nid"))
        .select("id", F.expr(_d73_spark_tokens()).alias("toks")))
    rot = "1 + pmod(id, 3)"
    rotated = (f"concat(slice(toks, ({rot}) + 1, {_D75_NTOK}), "
               f"slice(toks, 1, {rot}))")
    # rotation-only aliases: every 10th id, token order scrambled,
    # content verbatim -> true multiset-equal duplicates (dist 0)
    rot_only = (base.filter("id % 10 = 5")
                .select((F.col("id") + F.lit(2 * _D75_ALIAS_OFFSET))
                        .alias("id"),
                        F.expr(rotated).alias("toks")))
    # rotation+typo aliases: every 4th id — rotate, then corrupt one
    # char of one token (d73's op table, on the ROTATED position)
    rot_typo = _typo_aliases(
        base.filter("id % 4 = 0").select("id", F.expr(rotated).alias("toks")),
        _D75_ALIAS_OFFSET)
    return (base.unionByName(rot_typo).unionByName(rot_only)
            .select("id", F.sort_array("toks").alias("st")))


def _d75_verified_pairs(corpus: DataFrame) -> DataFrame:
    """Blocking + verify: (id_a, id_b, dist) with id_a < id_b and
    dist <= 1 — the exact-recall/exact-precision duplicate pair frame
    (see d75's docstring for the argument)."""
    # signatures: NTOK multiset slots x (identity + per-char deletion);
    # rest = the OTHER tokens of the SORTED list, verbatim
    slots = (corpus
             .select("id", "st",
                     F.explode(F.expr(f"sequence(1, {_D75_NTOK})"))
                     .alias("i"))
             .select("id",
                     F.expr("element_at(st, i)").alias("tok"),
                     F.expr(f"concat_ws(' ', concat("
                            f"slice(st, 1, i - 1), "
                            f"slice(st, i + 1, {_D75_NTOK} - i)))")
                     .alias("rest")))
    return _one_edit_pairs(slots)


def d75_transposed_typo_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Order-insensitive single-edited-token fuzzy dedup over d73's
    4-token low-entropy natural key corpus. Two alias classes are
    injected, both LINEAR in corpus size and both rebuilt identically
    by the oracle:
      - every 4th customer: ROTATE the tokens by 1 + id%3 positions,
        then corrupt one char of one token (sub 'q' / delete /
        insert 'x', position and op by arithmetic on the id) —
        transposition AND typo in one alias (the target shape);
      - every 10th customer (id%10=5): rotation only — pure
        transposition duplicates at token distance 0.

    Match semantics: duplicates iff token MULTISETS are equal
    (dist 0), or the multisets differ in exactly one token pair within
    edit distance 1 (dist 1). Word order never matters.

    Blocking: tokens sorted first (d72's unit), then per multiset slot
    i the key is (sorted rest verbatim, FastSS depth<=1 deletion
    variant of token i) (d73's unit) — ~NTOK x (len+1) ~ 26 signatures
    per name, one equi-join on the composite signature, pair-level
    DISTINCT, levenshtein verify pruning the depth-1-leakage (token
    ed 2) candidates. No all-pairs anywhere on the engine side; the
    brute force exists only in the DuckDB oracle at gate SF.

    Scale shape: bounded fan, block entropy carried by the 3-token
    residual multiset (vocabulary frequency cannot inflate candidate
    volume — names must agree on every other token, in any order), and
    the final crossJoin is 1-row x 1-row stats assembly (pinned
    no-cartesian in tests/test_plans_d.py).
    """
    corpus = _d75_corpus(spark, sf)
    verified = _d75_verified_pairs(corpus)
    stats = verified.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dist") == 0, 1).otherwise(0)).cast("long")
        .alias("n_multiset_pairs"),
        F.sum(F.when(F.col("dist") == 1, 1).otherwise(0)).cast("long")
        .alias("n_typo_pairs"),
        F.sum(F.when(F.col("id_b") - F.col("id_a")
                     == _D75_ALIAS_OFFSET, 1).otherwise(0)).cast("long")
        .alias("n_rot_typo_found"),
        F.sum(F.when(F.col("id_b") - F.col("id_a")
                     == 2 * _D75_ALIAS_OFFSET, 1).otherwise(0))
        .cast("long").alias("n_rot_only_found"))
    counts = corpus.agg(
        F.count("*").cast("long").alias("n_names"),
        F.sum(F.when(F.expr(f"pmod(id, 1000000000) >= "
                            f"{_D75_ALIAS_OFFSET}"), 1).otherwise(0))
        .cast("long").alias("n_aliases"))
    return counts.crossJoin(stats)  # two 1-row frames


# corpus + brute-force scoring CTE members
_D75_ORACLE_CTES = f"""{_D73_NAMED_CTES},
listed AS (
  SELECT id, [t1, t2, t3, t4] AS toks FROM named
),
rotated AS (
  SELECT id, toks[r + 1:] || toks[1:r] AS toks
  FROM (SELECT id, toks, 1 + id % 3 AS r FROM listed)
),
rot_only AS (
  SELECT id + {2 * _D75_ALIAS_OFFSET} AS id, toks
  FROM rotated WHERE id % 10 = 5
),
rt_picked AS (
  SELECT id, toks, ((id // 4) % 4) + 1 AS ti,
         toks[((id // 4) % 4) + 1] AS tok
  FROM rotated WHERE id % 4 = 0
),
rt_edited AS (
  SELECT *, (id % length(tok)) + 1 AS p FROM rt_picked
),
rt_corrupted AS (
  SELECT id, toks, ti,
{_D73_CORRUPT_DUCK}
  FROM rt_edited
),
rot_typo AS (
  SELECT id + {_D75_ALIAS_OFFSET} AS id,
         [CASE WHEN ti = 1 THEN ct ELSE toks[1] END,
          CASE WHEN ti = 2 THEN ct ELSE toks[2] END,
          CASE WHEN ti = 3 THEN ct ELSE toks[3] END,
          CASE WHEN ti = 4 THEN ct ELSE toks[4] END] AS toks
  FROM rt_corrupted
),
corpus AS (
  SELECT id, list_sort(toks) AS st
  FROM (SELECT id, toks FROM listed UNION ALL
        SELECT id, toks FROM rot_typo UNION ALL
        SELECT id, toks FROM rot_only)
),
-- INDEPENDENT ground truth: all pairs, aligned by trying every
-- remove-one-token combination of the two SORTED lists and keeping the
-- minimum levenshtein over exact-leftover alignments (gate-SF only;
-- the engine never does this)
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.st AS sa, b.st AS sb
  FROM corpus a JOIN corpus b ON a.id < b.id
),
scored AS (
  SELECT id_a, id_b,
         MIN(CASE WHEN list_slice(sa, 1, i - 1)
                       || list_slice(sa, i + 1, {_D75_NTOK})
                     = list_slice(sb, 1, j - 1)
                       || list_slice(sb, j + 1, {_D75_NTOK})
                  THEN levenshtein(sa[i], sb[j]) END) AS dist
  FROM pairs,
       generate_series(1, {_D75_NTOK}) g1(i),
       generate_series(1, {_D75_NTOK}) g2(j)
  GROUP BY id_a, id_b
),
matched AS (
  SELECT * FROM scored WHERE dist <= 1
)"""

D75_SQL = f"""
WITH {_D75_ORACLE_CTES}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_names,
       (SELECT CAST(SUM(CASE WHEN id % 1000000000
                                  >= {_D75_ALIAS_OFFSET}
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM corpus) AS n_aliases,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multiset_pairs,
       CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_typo_pairs,
       CAST(SUM(CASE WHEN id_b - id_a = {_D75_ALIAS_OFFSET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_rot_typo_found,
       CAST(SUM(CASE WHEN id_b - id_a = {2 * _D75_ALIAS_OFFSET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_rot_only_found
FROM matched
"""


# ---------------------------------------------------------------- d74

_D74_DOMAIN = 64          # token-hash bucket domain
_D74_K = 12
_D74_TRACK = 256          # >= domain -> the sketch is EXACT (d66 regime)

_D74_BUCKET_SPARK = md5_bucket_sql("tok", _D74_DOMAIN)
_D74_BUCKET_DUCK = (f"CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT "
                    f"% {_D74_DOMAIN} AS BIGINT)")


def d74_topk_state_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed heavy-hitter lifecycle: accumulate an approx_top_k
    STATE per source shard, COMBINE the states, estimate the global
    top-k — then d66's structural tie dodge (drop the boundary stratum)
    so the published set is tie-order-independent and the oracle can
    reproduce it from plain exact counts. maxItemsTracked >= the
    bounded bucket domain makes the whole lifecycle exact, so the gate
    pins the accumulate->combine->estimate algebra itself (one wrong
    merge and counts drift).

    Scale shape: per-shard states are fixed-size; only |sources|
    states cross the wire; the estimate explodes <= K rows. This is
    the blocklist/stop-token build at 100 TB: no global per-token
    count ever materializes.
    """
    docs = t(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok"))
    shard_states = (toks
                    .select("source",
                            F.expr(_D74_BUCKET_SPARK).alias("b"))
                    .groupBy("source")
                    .agg(F.expr(f"approx_top_k_accumulate(b, "
                                f"{_D74_TRACK})").alias("st")))
    combined = shard_states.agg(
        F.count("*").cast("long").alias("n_shards"),
        F.expr(f"approx_top_k_estimate(approx_top_k_combine(st, "
               f"{_D74_TRACK}), {_D74_K})").alias("tk"))
    bounded = combined.select(
        "n_shards",
        F.expr("array_min(transform(tk, x -> x.count))").alias("min_cnt"),
        F.explode("tk").alias("e"))
    return (bounded.filter(F.col("e.count") > F.col("min_cnt"))
            .select("n_shards",
                    F.col("e.item").cast("long").alias("bucket"),
                    F.col("e.count").cast("long").alias("cnt"))
            .orderBy("bucket"))


D74_SQL = f"""
WITH tb AS (
  SELECT {_D74_BUCKET_DUCK} AS b
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
),
cnt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM tb GROUP BY b
),
topk AS (
  SELECT b, cnt, row_number() OVER (ORDER BY cnt DESC, b ASC) AS rn
  FROM cnt
),
kth AS (
  SELECT MIN(cnt) AS min_cnt FROM topk WHERE rn <= {_D74_K}
),
shards AS (
  SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_shards
  FROM documents
)
SELECT s.n_shards, t.b AS bucket, t.cnt
FROM topk t, kth k, shards s
WHERE t.rn <= {_D74_K} AND t.cnt > k.min_cnt
ORDER BY bucket
"""


QUERIES = {
    "d01_exact_dedup": (d01_exact_dedup, D01_SQL),
    "d02_token_stats": (d02_token_stats, D02_SQL),
    "d03_quality_scores": (d03_quality_scores, D03_SQL),
    "d04_lang_confusion": (d04_lang_confusion, D04_SQL),
    "d05_doc_fingerprints": (d05_doc_fingerprints, D05_SQL),
    "d06_minhash_pairs": (d06_minhash_pairs, D06_SQL),
    "d09_token_rarity": (d09_token_rarity, D09_SQL),
    "d10_bigram_lm": (d10_bigram_lm, D10_SQL),
    "d07_simhash": (d07_simhash, D07_SQL),
    "d08_dup_clusters": (d08_dup_clusters, D08_SQL),
    "d11_simhash_pairs": (d11_simhash_pairs, D11_SQL),
    "d12_multimodal_features": (d12_multimodal_features, D12_SQL),
    "d13_pii_scrub": (d13_pii_scrub, D13_SQL),
    "d15_repetition_signals": (d15_repetition_signals, D15_SQL),
    "d14_dedup_corpus": (d14_dedup_corpus, _d14_sql()),
    "d16_kmv_distinct_sketch": (d16_kmv_distinct_sketch, D16_SQL),
    "d17_stratified_sample": (d17_stratified_sample, D17_SQL),
    "d18_token_budget_curation": (d18_token_budget_curation, D18_SQL),
    "d19_contamination": (d19_contamination, D19_SQL),
    "d20_incremental_dedup": (d20_incremental_dedup, D20_SQL),
    "d21_bm25_search": (d21_bm25_search, D21_SQL),
    "d22_boilerplate_phrases": (d22_boilerplate_phrases, D22_SQL),
    "d23_mixing_weights": (d23_mixing_weights, D23_SQL),
    "d24_perplexity_buckets": (d24_perplexity_buckets, D24_SQL),
    "d25_sequence_packing": (d25_sequence_packing, D25_SQL),
    "d26_curation_verdict": (d26_curation_verdict, D26_SQL),
    "d27_bpe_pair_freqs": (d27_bpe_pair_freqs, D27_SQL),
    "d28_hll_sketch": (d28_hll_sketch, D28_SQL),
    "d29_dup_span_stats": (d29_dup_span_stats, D29_SQL),
    "d30_bpe_merge_steps": (d30_bpe_merge_steps, D30_SQL),
    "d31_weighted_sample": (d31_weighted_sample, D31_SQL),
    "d32_cms_heavy_hitters": (d32_cms_heavy_hitters, D32_SQL),
    "d33_semdedup": (d33_semdedup, _d33_sql()),
    "d34_dsir_weights": (d34_dsir_weights, D34_SQL),
    "d35_sketch_overlap": (d35_sketch_overlap, D35_SQL),
    "d36_sketch_shard_merge": (d36_sketch_shard_merge, D36_SQL),
    "d37_hash_split": (d37_hash_split, D37_SQL),
    "d38_source_quota": (d38_source_quota, D38_SQL),
    "d39_bpe_per_lang": (d39_bpe_per_lang, _d39_sql()),
    "d40_video_near_dup": (d40_video_near_dup, D40_SQL),
    "d41_snapshot_diff": (d41_snapshot_diff, D41_SQL),
    "d42_weighted_median": (d42_weighted_median, D42_SQL),
    "d43_clean_split": (d43_clean_split, D43_SQL),
    "d44_vocab_concentration": (d44_vocab_concentration, D44_SQL),
    "d45_dedup_method_agreement": (d45_dedup_method_agreement, _d45_sql()),
    "d46_minhash_estimation_error": (d46_minhash_estimation_error, _d46_sql()),
    "d47_prefix_filter_jaccard": (d47_prefix_filter_jaccard, D47_SQL),
    "d48_dup_cluster_agreement": (d48_dup_cluster_agreement, D48_SQL),
    "d49_positional_jaccard": (d49_positional_jaccard, D49_SQL),
    "d50_substring_runs": (d50_substring_runs, D50_SQL),
    "d51_substring_decontam": (d51_substring_decontam, _d51_sql()),
    "d52_internal_repetition": (d52_internal_repetition, D52_SQL),
    "d53_suffix_filter_jaccard": (d53_suffix_filter_jaccard, D53_SQL),
    "d54_bpe_encode": (d54_bpe_encode, D54_SQL),
    "d55_self_dedup_curation": (d55_self_dedup_curation, D55_SQL),
    "d56_cross_source_leakage": (d56_cross_source_leakage, _d56_sql()),
    "d58_linear_classifier_scores": (d58_linear_classifier_scores, D58_SQL),
    "d57_shared_prefix_stress": (d57_shared_prefix_stress, _d57_sql()),
    "d59_classifier_weight_join": (d59_classifier_weight_join, D59_SQL),
    "d60_trained_classifier": (d60_trained_classifier, D60_SQL),
    "d61_threshold_yield_curve": (d61_threshold_yield_curve, D61_SQL),
    "d62_lang_calibrated_thresholds": (d62_lang_calibrated_thresholds,
                                       D62_SQL),
    "d63_holdout_generalization": (d63_holdout_generalization, D63_SQL),
    "d64_theta_source_overlap": (d64_theta_source_overlap, D64_SQL),
    "d65_holdout_calibrated_thresholds": (d65_holdout_calibrated_thresholds,
                                          _d65_sql()),
    "d66_heavy_hitter_buckets": (d66_heavy_hitter_buckets, D66_SQL),
    "d67_hll_lang_coverage": (d67_hll_lang_coverage, D67_SQL),
    "d68_model_score_drift": (d68_model_score_drift, _d68_sql()),
    "d69_bitmap_exact_distinct": (d69_bitmap_exact_distinct, D69_SQL),
    "d70_edit_distance_blocking": (d70_edit_distance_blocking, D70_SQL),
    "d71_fuzzy_dedup_depth2": (d71_fuzzy_dedup_depth2, D71_SQL),
    "d73_low_entropy_fuzzy_dedup": (d73_low_entropy_fuzzy_dedup, D73_SQL),
    "d72_token_transposition_dedup": (d72_token_transposition_dedup, D72_SQL),
    "d75_transposed_typo_dedup": (d75_transposed_typo_dedup, D75_SQL),
    "d74_topk_state_lifecycle": (d74_topk_state_lifecycle, D74_SQL),
}
