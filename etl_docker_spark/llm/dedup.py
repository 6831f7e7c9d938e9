"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- Exact dedup is a hash-groupBy — one shuffle on the digest, map-side partial
  aggregation, no text comparison beyond the digest.
- MinHash+LSH avoids the O(N^2) pair space: signatures are computed per row
  (narrow), candidate pairs come from a self-equi-join on (band, band_key) —
  a shuffle whose cost tracks the number of NEAR-duplicates, not N^2. Only
  candidates pay the exact-Jaccard verification join.
- Hash function: hex halves of md5(token/shingle) as unsigned 32-bit ints.
  Deliberately engine-portable (md5 is standard everywhere) so the DuckDB
  oracle reproduces signatures bit-for-bit; xxhash64 would be faster but
  unverifiable cross-engine.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_docker_spark.session import scoped_conf


def _release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD blocks behind a localCheckpoint()ed frame whose
    consumers are themselves materialized (the dset proxy feeds only the
    per_doc build; once per_doc is checkpointed, dset's blocks are dead
    weight on the executors for the rest of the session — ADVICE r11).
    Best-effort through the JVM plan handle (the checkpointed frame's
    analyzed plan IS the LogicalRDD holding the persisted RDD); if the
    handle shape ever changes, the blocks age out with the session and a
    warning says so."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001 — best effort, but not silent
        logging.getLogger(__name__).warning(
            "localCheckpoint blocks not released, they stay until the "
            "session ends: %s: %s", type(exc).__name__, exc)


def _hash64_halves(s: Column) -> tuple[Column, Column]:
    """Two portable 32-bit hashes from ONE md5 digest (hex halves 1-8, 9-16).

    One digest per token instead of two seeded ones — md5 is the CPU cost of
    a corpus pass, so this halves the hot loop at identical bit quality.
    """
    digest = F.md5(s.cast("binary"))
    return (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long"),
        F.conv(F.substring(digest, 9, 8), 16, 10).cast("long"),
    )


# MinHash rehash family: h_j(x) = (A_j*x + B_j) mod P over one base md5 hash.
# One md5 per shingle instead of num_hashes of them — 16x less digest work at
# identical statistical quality. P is the smallest prime > 2^32; A_j <= 2^31-1
# keeps A*h + B < 2^63 (no ANSI overflow). Constants are fixed (seeded once,
# hardcoded) so any engine can reproduce signatures exactly.
MINHASH_P = 4_294_967_311
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1941304203, 3393385155), (496568461, 2207927984), (489135735, 577375078),
    (2068958569, 2928639612), (1035124905, 999501069), (1566425064, 3339624854),
    (1106784185, 3206470118), (657764495, 2124457132), (1340440623, 271760247),
    (1760820567, 3057662807), (1023766283, 328603992), (1353225305, 2550661167),
    (1761925387, 4104353838), (535515103, 2102809563), (532414541, 3136154828),
    (1848776394, 2123806957),
)


def _base_hash(s: Column) -> Column:
    """int(md5(s)[:8], 16) as BIGINT — the single digest per shingle."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: digest -> canonical (min id) + copy count.

    Grouping on the md5 digest instead of the raw text keeps shuffle rows
    narrow (16 bytes vs document bytes) — the difference between a working
    and an impossible shuffle at 100 TB.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col).cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def shingles_of(tokens: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles of a token array (short docs yield one)."""
    count = F.greatest(F.size(tokens) - (n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.array_distinct(grams)


def shingle_rows(df: DataFrame, id_col: str, text_col: str,
                 n: int = 3) -> DataFrame:
    """Codegen-friendly shingling: one (doc, s) row per n-gram OCCURRENCE.

    Same contract as `shingles_of` minus the dedup (callers that need set
    semantics add .distinct(), which is exchange-free under the id
    partitioning this imposes): full shingles only, except docs shorter
    than n keep their single partial shingle at position 0.

    Why not `shingles_of` for corpus passes: array HOF lambdas evaluate
    interpreted with an O(n) slice per element (quadratic per doc, outside
    whole-stage codegen). This path is posexplode + window lead over an
    id-hash partitioning — linear, codegen'd, and every downstream
    groupBy(doc) runs exchange-free. ~4x faster on the documents corpus.
    """
    from pyspark.sql import Window

    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    toks = F.split(F.col(text_col), " ")
    tok_rows = df.select(
        F.col(id_col).alias("doc"), F.size(toks).alias("sz"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        tok_rows.select("doc", "sz", "pos", F.concat_ws(" ", *leads).alias("s"))
        .filter((F.col("pos") <= F.col("sz") - n) | (F.col("pos") == 0))
        .select("doc", "s")
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 3) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified by Jaccard over the hashed
    shingle sets.

    Returns (doc_a, doc_b, inter_n, union_n) for candidate pairs with
    Jaccard >= 0.5 (2*inter >= union — integer compare, no float epsilon).
    Pipeline: shingle -> 16 minhashes -> 4 banded keys -> band-key self-join
    (candidates) -> set-intersection verification on the per-doc hash sets.
    """
    rows = num_hashes // bands
    # shingling via shingle_rows (posexplode + window-lead, id-hash
    # partitioned): linear and codegen'd where the array-lambda
    # `shingles_of` is interpreted/quadratic. Dedup of repeated shingles is
    # free downstream: MIN and collect_set are both insensitive to
    # duplicates, so no distinct pass is needed, and the id partitioning
    # means both groupBy("doc") aggregations below (signature + the
    # verification sets) run exchange-free — two shuffles of the widest
    # intermediate (one row per shingle) never happen.
    shingled = shingle_rows(df, id_col, text_col, shingle_n)
    # signature via 16 partial-aggregated MINs in whole-stage codegen. The
    # SAME aggregation also collects the hashed shingle set used by the
    # verification step, and the per-doc result is materialized once
    # (localCheckpoint): the corpus pass — scan, shingle, md5 — runs exactly
    # once no matter how many downstream branches (band self-join sides +
    # both verification joins) consume it. Per-doc state is the distinct
    # hash set + 16 longs, the same order as the collect_set alone.
    hashed = shingled.select("doc", _base_hash(F.col("s")).alias("h"))
    per_doc = hashed.groupBy("doc").agg(
        F.collect_set("h").alias("hs"),
        *[
            F.min((F.lit(MINHASH_COEFFS[j][0]) * F.col("h")
                   + F.lit(MINHASH_COEFFS[j][1])) % F.lit(MINHASH_P)).alias(f"mh{j}")
            for j in range(num_hashes)
        ],
    ).localCheckpoint()
    sig = per_doc.drop("hs")

    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws("-", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("key"),
        )
        for b in range(bands)
    ])
    banded = (
        sig.select("doc", F.explode(band_structs).alias("bk"))
        .select("doc", F.col("bk.band_idx").alias("band_idx"), F.col("bk.key").alias("key"))
    )

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band_idx", "key"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )

    # verification compares HASHED shingle sets, not strings: the arrays that
    # shuffle into the two-sided join are 8-byte longs instead of ~20-byte
    # shingle strings (2-3x narrower at corpus scale), and the intersect is
    # integer compares. Identical to string Jaccard up to md5-32 collisions,
    # which the oracle mirrors exactly (it intersects the same hashes).
    sets = per_doc.select("doc", "hs")
    verified = (
        cand.join(sets.withColumnRenamed("doc", "doc_a").withColumnRenamed("hs", "hs_a"), "doc_a")
        .join(sets.withColumnRenamed("doc", "doc_b").withColumnRenamed("hs", "hs_b"), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("long").alias("inter_n"),
            (F.size("hs_a") + F.size("hs_b") - F.size(F.array_intersect("hs_a", "hs_b")))
            .cast("long").alias("union_n"),
        )
    )
    return verified.filter(F.lit(2) * F.col("inter_n") >= F.col("union_n"))


def simhash_table(df: "DataFrame", id_col: str, text_col: str,
                  sep: str = " ") -> "DataFrame":
    """SimHash at scale: (id, simhash BIGINT) for every document.

    The per-row array-fold variant (`simhash64`) evaluates a 64-lane lambda
    per token OUTSIDE whole-stage codegen — fine for ad-hoc columns, ~10x
    too slow for a corpus pass. This path stays fully codegen'd:
    explode tokens -> one md5 digest per token (two 32-bit hex halves) ->
    64 conditional SUMs in one partial-aggregated groupBy -> assemble the
    word from the lane signs. Identical output to simhash64.

    MEASURED, do not "optimize": dictionary-encoding the digests (md5 once
    per distinct token TYPE, occurrences re-join their bits) is ~2.4x
    SLOWER at ~sf1 (d07 2.8s -> 7.3s, d11 3.5s -> 8.3s): the
    distinct+join barrier breaks the single fused scan->explode->aggregate
    stage, and inline md5 inside that stage is nowhere near the bound.
    Keep the straight-line pass.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), sep)).alias("tok"))
    h0, h1 = _hash64_halves(F.col("tok"))
    hashed = toks.select("__id", h0.alias("h0"), h1.alias("h1"))
    lane_sums = [
        F.sum(F.when(F.col("h0").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1))
        .alias(f"c{i}") for i in range(32)
    ] + [
        F.sum(F.when(F.col("h1").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1))
        .alias(f"c{i + 32}") for i in range(32)
    ]
    agg = hashed.groupBy("__id").agg(*lane_sums)
    word = None
    for i in range(64):
        term = (F.when(F.col(f"c{i}") > 0,
                       F.lit(-(2 ** 63) if i == 63 else (1 << i)).cast("long"))
                .otherwise(F.lit(0).cast("long")))
        word = term if word is None else word + term
    return agg.select(F.col("__id").alias(id_col), word.alias("simhash"))


def simhash_near_dup_pairs(df: "DataFrame", id_col: str, text_col: str,
                           threshold: int = 3, bands: int = 4,
                           sep: str = " ",
                           sig: "DataFrame | None" = None) -> "DataFrame":
    """SimHash near-duplicate pairs via hamming-band LSH.

    Pipeline: 64-bit fingerprint per doc (simhash_table, one codegen corpus
    pass) -> split into `bands` equal bit-slices -> self-equi-join on
    (band, slice) -> hamming verification bit_count(xor) <= threshold.

    COMPLETENESS GUARANTEE (pigeonhole): a pair within hamming distance d
    differs in at most d of the `bands` slices, so whenever
    threshold < bands at least one slice matches exactly and the pair IS a
    candidate — banding loses nothing at the default 3 < 4.

    Scale: candidates track slice-collision counts, not N^2; the
    fingerprint table (one long per doc) is checkpointed once and feeds the
    band join and both verification sides; verification moves 8-byte
    longs. All arithmetic is integer (mask after shift makes the band
    slices sign-agnostic), so the DuckDB oracle reproduces pairs exactly.

    Output: (doc_a, doc_b, hamming BIGINT), doc_a < doc_b.
    """
    nbits = 64 // bands
    mask = (1 << nbits) - 1
    if sig is None:
        # callers holding an already-materialized fingerprint table (e.g. a
        # per-session memo shared with the plain simhash query) pass it via
        # `sig` so the corpus pass isn't re-run
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        sig = simhash_table(df, id_col, text_col, sep).localCheckpoint()
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned("simhash", nbits * b)
            .bitwiseAND(F.lit(mask)).alias("k"),
        )
        for b in range(bands)
    ])
    banded = (sig.select(F.col(id_col).alias("doc"), F.explode(band_structs).alias("bk"))
              .select("doc", F.col("bk.band").alias("band"), F.col("bk.k").alias("k")))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "k"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    sigs_a = sig.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"))
    sigs_b = sig.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        cand.join(sigs_a, "doc_a").join(sigs_b, "doc_b")
        .select("doc_a", "doc_b",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                .cast("long").alias("hamming"))
        .filter(F.col("hamming") <= threshold)
    )


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array (portable md5-based bit source).

    Per token, the two 32-bit halves of one md5 digest give 64 bits; each bit
    contributes +1/-1 to its lane; the sign of each lane's sum is the
    fingerprint bit. Returned as BIGINT (bit 63 in the high position).

    Implemented as a per-row fold over a 64-lane int array — no shuffle,
    no UDF; near-dup candidates then group on hamming bands of the result.
    """
    lane_counts = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            _token_bits(t),
            lambda a, b: a + b,
        ),
    )
    # sign -> bit; lane weights are disjoint powers of two, so plain addition
    # assembles the word. Bit 63's weight is MIN_LONG (its signed value) —
    # adding it keeps the arithmetic in range under ANSI mode.
    terms = [
        F.when(F.get(lane_counts, i) > 0,
               F.lit(-(2 ** 63) if i == 63 else (1 << i)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def _token_bits(t: Column) -> Column:
    """64-element array of +1/-1 from the two md5-half hashes of t."""
    h0, h1 = _hash64_halves(t)

    def bits(h: Column) -> list[Column]:
        return [
            F.when(h.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1).cast("long"))
            .otherwise(F.lit(-1).cast("long"))
            for i in range(32)
        ]

    return F.array(*bits(h0), *bits(h1))


def auto_suffix_buckets(median_set_size: float,
                        lo: int = 16, hi: int = 1024) -> int:
    """The d57 design rule (SCALE.md round-6 stress table), productized:
    size the suffix-filter histogram K to the corpus's TYPICAL
    shingle-set size, so per-bucket counts are ~0/1 and min-summing
    approaches true-intersection counting. K << |set| provably cannot
    prune equal-size interleaved disjoint suffixes (an o(n)-bit counting
    sketch carries too little information); K ~ |set| fully
    discriminated the adversarial corpus (37,392 candidates -> the 10
    true pairs at sf0.01).

    Returns the power of two nearest to the median in log space
    (histograms stay cache-friendly fixed-width arrays; pmod on a pow2
    is a mask), clamped to [lo, hi] — below 16 the sketch carries too
    few bits to ever bite, above 1024 the 8 KB-per-doc histogram starts
    competing with the full token array it exists to avoid."""
    import math

    if median_set_size is None or median_set_size < 1:
        return lo
    k = 2 ** round(math.log2(median_set_size))
    return max(lo, min(hi, k))


def prefix_filter_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                                shingle_n: int = 3, t_num: int = 1,
                                t_den: int = 2,
                                positional: bool = False,
                                suffix_buckets: int | str = 0) -> DataFrame:
    """EXACT Jaccard >= t (default 1/2) similarity self-join via prefix
    filtering —
    the AllPairs/PPJoin candidate scheme (Bayardo et al. WWW'07, Xiao et
    al. WWW'08), the third dedup family next to MinHash banding (d06,
    approximate) and SimHash hamming bands (d07): zero false negatives,
    no signature tuning, at the cost of verifying a provably-complete
    candidate superset.

    Principle: order every document's (hashed) shingle set by GLOBAL
    document frequency ascending (rarest first, hash tiebreak). For
    Jaccard threshold t, a pair with J(A,B) >= t must share at least one
    token within the first |X| - ceil(t*|X|) + 1 tokens of EACH side's
    ordering (if A's prefix missed every common token, the >= ceil(t*|A|)
    shared tokens would all sit in A's ceil(t*|A|)-1 suffix slots). So a
    prefix-to-prefix equi-join is a complete candidate generator, and the
    inverted lists it joins hold only each doc's RAREST tokens — list
    lengths concentrate at df ~= 1, which is what keeps the join
    subquadratic at corpus scale (a frequent token never enters a prefix
    unless a doc consists almost entirely of frequent tokens). The
    length filter 2*min(|A|,|B|) >= max(|A|,|B|) (J <= min/max) prunes
    before the distinct. Worst-case skew (one rare-ish token in MANY
    prefixes) re-creates a quadratic block; the standard refinements
    (positional filter, suffix filter) shrink candidates further without
    giving up exactness.

    `positional=True` adds PPJoin's positional filter (Xiao et al.
    WWW'08 §3.2), distributed-exact: both per-doc orderings sort by the
    SAME global (dfreq, h) key, so the common tokens of any pair appear
    in the same relative order on both sides — the earliest prefix
    match (min position in A is the same match as min position in B) is
    the pair's first common token, and overlap <= 1 + min(|A| - i,
    |B| - j) at its positions. A candidate survives only if that bound
    reaches the Jaccard minoverlap ceil(t*(|A|+|B|)/(1+t)) (integer
    cross-multiply). The pair-dedup `.distinct()` becomes a groupBy
    MIN over match positions — same shuffle shape — and every pruned
    candidate skips the two verification joins + array intersect, which
    is where the savings land (pruned candidates can never verify, so
    the output is identical by construction).

    `suffix_buckets=K` (K > 0) adds the SUFFIX-filter role (Xiao et al.
    WWW'08 §3.3); `suffix_buckets="auto"` sizes K from the corpus's
    median shingle-set size per the d57 design rule (see
    `auto_suffix_buckets` — one bounded scalar aggregate over the
    already-checkpointed per-doc frame, control flow not data). The
    distributed-exact shape: the sequential
    divide-and-conquer probe of the classic filter is replaced by a
    K-bucket hash-partition overlap bound. Each doc carries a K-int
    histogram hist[k] = |{tokens with pmod(h, K) = k}| (128 bytes at
    K=16 vs the full token array); for any pair, inter(A,B) restricted
    to bucket k is <= min(histA[k], histB[k]), so
    sum_k min(histA[k], histB[k]) is a valid upper bound on the WHOLE
    intersection — always <= the length bound min(|A|,|B|), strictly
    tighter whenever the two docs distribute their tokens differently.
    A candidate survives only if the bound reaches the Jaccard
    minoverlap (same integer cross-multiply as the positional filter);
    pruned pairs skip the two full-array verification joins and the
    array_intersect, which is where the savings land. Zero false
    negatives by construction (the bound is an upper bound), so output
    is identical with the filter on or off.

    Shuffle ledger: shingle pass (id-partitioned, exchange-free groupBys)
    -> df counts (digest-width by h) -> per-doc ordered arrays (by doc)
    -> prefix self-join (by h, prefix rows only) -> verification joins
    (candidate pairs only). Two bounded materializations
    (localCheckpoint): the 16-byte (doc, h) shingle-set proxy — feeding
    both the dfreq aggregate and the per-doc join, and released once
    per_doc exists — and the per-doc ordered-array frame every later
    stage re-reads; same discipline as minhash_lsh_pairs.

    Returns (doc_a, doc_b, inter_n, union_n) — identical contract and
    (default) threshold as minhash_lsh_pairs, so the two are directly
    comparable; this one is the ground truth. The threshold is the exact
    rational t_num/t_den (all comparisons are integer cross-multiplies —
    no float epsilon anywhere).
    """
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must satisfy 0 < t_num/t_den <= 1")
    cand, per_doc = _jaccard_candidates(
        df, id_col, text_col, shingle_n, t_num, t_den, positional,
        suffix_buckets)
    sets = per_doc.select(
        "doc", F.transform("ord", lambda x: x["h"]).alias("hs"))
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    verified = (
        cand.join(sets.select(F.col("doc").alias("doc_a"),
                              F.col("hs").alias("hs_a")), "doc_a")
        .join(sets.select(F.col("doc").alias("doc_b"),
                          F.col("hs").alias("hs_b")), "doc_b")
        .select("doc_a", "doc_b", inter.alias("inter_n"),
                (F.size("hs_a") + F.size("hs_b")).cast("long").alias("tot"))
        .select("doc_a", "doc_b", "inter_n",
                (F.col("tot") - F.col("inter_n")).alias("union_n"))
    )
    return verified.filter(
        F.lit(t_den) * F.col("inter_n") >= F.lit(t_num) * F.col("union_n"))


def _jaccard_candidates(df: DataFrame, id_col: str, text_col: str,
                        shingle_n: int, t_num: int, t_den: int,
                        positional: bool, suffix_buckets: int):
    """Candidate-pair generation for prefix_filter_jaccard_pairs,
    factored out so the filter stack's candidate counts are measurable
    (SCALE.md reduction tables) without duplicating the logic. Returns
    (cand, per_doc): cand = (doc_a, doc_b) surviving every enabled
    filter; per_doc = the checkpointed ordered-token frame verification
    re-reads."""
    shingled = shingle_rows(df, id_col, text_col, shingle_n)
    # Materialize the 16-byte (doc, h) shingle-set rows ONCE: dset feeds
    # BOTH the dfreq aggregate and the per-doc join below, and Spark
    # plans the two references as two independent subtrees — without
    # this checkpoint the whole text -> shingle -> md5 explode pass runs
    # twice (guide §8: derive the lightweight proxy from the heavy
    # payload once, then reuse it; measured 2.06 -> 1.4s for the
    # per-doc build on d57's gate corpus).
    dset = shingled.select(
        "doc", _base_hash(F.col("s")).alias("h")).distinct() \
        .localCheckpoint()
    freq = dset.groupBy("h").agg(F.count("*").cast("long").alias("dfreq"))
    per_doc = (
        dset.join(freq, "h")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list(
            F.struct(F.col("dfreq").alias("f"), F.col("h").alias("h"))))
            .alias("ord"))
        .withColumn("sz", F.size("ord").cast("long"))
    )
    # Checkpoint per_doc at the session's full shuffle width: AQE's
    # partition coalescer sizes the final groupBy exchange for SHUFFLE
    # cost (~64 MB targets), but every consumer of this checkpoint does
    # CPU-heavy array work per row (the suffix-filter fold, the
    # verification array_intersect) — measured on d57's gate corpus the
    # coalesced checkpoint came out 6 partitions and the 9 s-CPU
    # verification stage ran 6-wide on a 32-core session. Pinning the
    # conf only around this bounded materialization keeps the session's
    # scale-adaptive width (shuffle.partitions: cores locally, the
    # deliberately-high cluster number) without an extra exchange.
    # (optimization r12)
    with scoped_conf(per_doc.sparkSession,
                     "spark.sql.adaptive.coalescePartitions.enabled",
                     "false"):
        per_doc = per_doc.localCheckpoint()
    _release_local_checkpoint(dset)
    if suffix_buckets == "auto":
        # Resolve K from the corpus itself (the d57 design rule). One
        # bounded scalar aggregate over the just-checkpointed frame —
        # a model-sizing decision on the driver, not a data collect.
        med = per_doc.agg(F.median("sz").alias("m")).first()["m"]
        suffix_buckets = auto_suffix_buckets(med)
    elif isinstance(suffix_buckets, str):
        raise ValueError(
            f"suffix_buckets must be an int or 'auto', got "
            f"{suffix_buckets!r}")
    if suffix_buckets:
        # K-bucket token histogram (per-row fold, no shuffle): the
        # suffix filter's overlap bound is computed from these
        # fixed-width sketches instead of the full token arrays. Added
        # AFTER the checkpoint, so the candidate-cap self-join
        # recomputes the fold once per join side (twice per run) —
        # still cheaper than persisting K extra longs per doc in the
        # checkpoint, which every later stage would then carry.
        per_doc = per_doc.withColumn(
            "hist",
            F.aggregate(
                F.transform("ord",
                            lambda x: F.pmod(x["h"], F.lit(suffix_buckets))
                            .cast("int")),
                F.array_repeat(F.lit(0).cast("long"), suffix_buckets),
                lambda acc, b: F.transform(
                    acc,
                    lambda c, i: c + F.when(i == b, F.lit(1).cast("long"))
                    .otherwise(F.lit(0).cast("long")))))
    # prefix length = sz - ceil(t*sz) + 1, ceil in exact int arithmetic
    ceil_t_sz = F.floor((F.lit(t_num) * F.col("sz") + F.lit(t_den - 1))
                        / F.lit(t_den))
    prefix = per_doc.select(
        "doc", "sz",
        F.posexplode(F.slice("ord", 1, (F.col("sz") - ceil_t_sz + 1)
                             .cast("int"))).alias("i", "p")
    ).select("doc", "sz", (F.col("i") + 1).cast("long").alias("i"),
             F.col("p.h").alias("h"))
    # length filter: J <= min/max, so J >= t needs den*min >= num*max
    raw = (
        prefix.alias("a").join(prefix.alias("b"), "h")
        .filter((F.col("a.doc") < F.col("b.doc"))
                & (F.lit(t_den) * F.least("a.sz", "b.sz")
                   >= F.lit(t_num) * F.greatest("a.sz", "b.sz")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"),
                F.col("a.i").alias("ia"), F.col("b.i").alias("ib"))
    )
    if positional:
        # min(ia) and min(ib) are realized by the SAME match (order
        # consistency), so the per-pair mins locate the first common
        # token; overlap <= 1 + min(sz_a - ia, sz_b - ib) there, and
        # J >= t needs overlap >= t*(sz_a+sz_b)/(1+t).
        bound = (F.lit(1)
                 + F.least(F.col("sz_a") - F.col("min_ia"),
                           F.col("sz_b") - F.col("min_ib")))
        cand = (
            raw.groupBy("doc_a", "doc_b", "sz_a", "sz_b")
            .agg(F.min("ia").alias("min_ia"), F.min("ib").alias("min_ib"))
            .filter(F.lit(t_den + t_num) * bound
                    >= F.lit(t_num) * (F.col("sz_a") + F.col("sz_b")))
            .select("doc_a", "doc_b", "sz_a", "sz_b")
        )
    else:
        # sz_a/sz_b are functions of the doc ids, so the distinct is the
        # same pair-dedup with two extra carried longs.
        cand = raw.select("doc_a", "doc_b", "sz_a", "sz_b").distinct()
    if suffix_buckets:
        hists = per_doc.select("doc", "hist")
        cap = F.aggregate(
            F.zip_with("ha", "hb", lambda a, b: F.least(a, b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        cand = (
            cand.join(hists.select(F.col("doc").alias("doc_a"),
                                   F.col("hist").alias("ha")), "doc_a")
            .join(hists.select(F.col("doc").alias("doc_b"),
                               F.col("hist").alias("hb")), "doc_b")
            .withColumn("cap", cap)
            .filter(F.lit(t_den + t_num) * F.col("cap")
                    >= F.lit(t_num) * (F.col("sz_a") + F.col("sz_b")))
        )
    return cand.select("doc_a", "doc_b"), per_doc


def substring_run_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, min_run: int = 8) -> DataFrame:
    """EXACT shared-substring detection: document pairs sharing a
    contiguous token run of >= `min_run` tokens — the exact-substring
    dedup family (suffix-array dedup a la "Deduplicating Training Data
    Makes Language Models Better", Lee et al. '22, re-expressed as a
    k-gram inverted-index join instead of a monolithic suffix array,
    which does not distribute).

    Method: every k-gram occurrence becomes (doc, position, hash); an
    equi-join on the hash (doc_a < doc_b) yields match points (pa, pb);
    matches sharing a DIAGONAL d = pa - pb at consecutive positions are
    the same contiguous shared substring, so within (pair, d) a streak
    of s consecutive pa values certifies a shared run of s + k - 1
    tokens. Streaks via the classic pa - row_number() grouping — the
    window partitions by (pair, diagonal), which is bounded by the
    matched gram count of that pair, never corpus-sized.

    Scale shape: the join is an inverted-index join over k-gram hashes;
    for k ~ 5 natural-text gram frequency concentrates at 1, so match
    volume tracks true shared content, not the corpus square. The
    hazard is boilerplate grams (a header shared by millions of docs
    re-creates a quadratic block) — at 100 TB, screen those with the
    d22 boilerplate-phrase pass first (drop grams with dfreq above a
    cutoff ONLY if the cutoff exceeds the corpus dup ceiling, which
    changes reported runs for exactly the docs d22 already flags).

    Docs shorter than k tokens cannot contain a min_run-token substring
    (min_run >= k) and are excluded by construction.

    Returns (doc_a, doc_b, max_run_tokens, n_gram_matches), one row per
    pair with max_run_tokens >= min_run.
    """
    from pyspark.sql import Window

    if min_run < k:
        raise ValueError("min_run must be >= k (runs are k-gram streaks)")
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    toks = F.split(F.col(text_col), " ")
    tok_rows = df.select(
        F.col(id_col).alias("doc"), F.size(toks).alias("sz"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    grams = (
        tok_rows.select("doc", "sz", "pos",
                        F.concat_ws(" ", *leads).alias("s"))
        .filter(F.col("pos") <= F.col("sz") - k)
        .select("doc", F.col("pos").cast("long").alias("p"),
                _base_hash(F.col("s")).alias("h"))
    )
    m = (grams.alias("a").join(grams.alias("b"), "h")
         .filter(F.col("a.doc") < F.col("b.doc"))
         .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                 F.col("a.p").alias("pa"),
                 (F.col("a.p") - F.col("b.p")).alias("d")))
    w2 = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pa")
    runs = (m.withColumn("grp", F.col("pa") - F.row_number().over(w2))
            .groupBy("doc_a", "doc_b", "d", "grp")
            .agg(F.count("*").alias("s")))
    return (runs.groupBy("doc_a", "doc_b")
            .agg((F.max("s") + k - 1).cast("long").alias("max_run_tokens"),
                 F.sum("s").cast("long").alias("n_gram_matches"))
            .filter(F.col("max_run_tokens") >= min_run))
