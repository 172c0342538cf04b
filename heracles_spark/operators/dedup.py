"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup. All shuffle-aware compositions of DataFrame ops —
no cross joins on large inputs, no driver-side loops.

Scale design (100 TB):
- exact: one shuffle on the content hash (map-side combine).
- MinHash: shingles exploded once; k minhashes computed in ONE groupBy
  (k agg expressions over a single base hash — not k shuffles). LSH
  banding turns all-pairs into an equi-join on (band_id, band_hash),
  so candidate generation is a hash shuffle, never O(n²).
- hot buckets are capped (``max_bucket_size``) — the skew guard: a
  degenerate bucket (e.g. empty docs) would otherwise produce a
  quadratic pair explosion inside one task.
- n-gram Jaccard uses an inverted-index join with document-frequency
  stop-gram removal — the classic scalable set-similarity join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# -- exact dedup ----------------------------------------------------------

_PERSIST_POOL: list = []


def _persist(df: DataFrame) -> DataFrame:
    """Persist with rotation: frames persisted by PREVIOUS calls are
    unpersisted once the pool exceeds the depth one pipeline needs
    (sigs + gram arrays + a contract query's exact ground-truth
    relation). A long-lived session (the round driver runs the
    whole corpus in one process) would otherwise accumulate a cached
    relation per invocation. Unpersisting early only ever costs a
    recompute — never correctness."""
    while len(_PERSIST_POOL) > 4:
        _PERSIST_POOL.pop(0).unpersist()
    _PERSIST_POOL.append(df)
    return df.persist()


def _null_distinct(c) -> "F.Column":
    """Encode a column so NULL is distinct from every value AND from the
    empty string: NULL → 'n', value v → 'v' + v. Without this,
    concat_ws's null-skipping makes ('a', NULL, 'b'), (NULL, 'a', 'b')
    and ('a', 'b', NULL) collide into one content hash — false duplicate
    groups whenever a dedup column is nullable."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.when(col.isNull(), F.lit("n"))
             .otherwise(F.concat(F.lit("v"), col.cast("string"))))


def exact_dup_groups(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Duplicate groups by content hash: (content_hash, n_dups,
    keep_id = min id). One shuffle, map-side combinable. Each column is
    null-distinctly encoded before concatenation (see _null_distinct)."""
    h = F.md5(F.concat_ws(chr(1), *[_null_distinct(c) for c in cols]))
    return (df.withColumn("content_hash", h)
              .groupBy("content_hash")
              .agg(F.count(F.lit(1)).alias("n_dups"),
                   F.min(id_col).alias("keep_id")))


def exact_dedup(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Keep exactly one row (min id) per distinct content. Implemented as
    min-id-per-hash + semi join back — avoids carrying full rows through
    the aggregate."""
    keep = (exact_dup_groups(df, id_col, cols)
            .select(F.col("keep_id").alias(id_col)))
    return df.join(keep, on=id_col, how="left_semi")


# -- MinHash + LSH --------------------------------------------------------

def shingles(text_col, n: int = 3):
    """Word n-gram shingle array (distinct) from a text column."""
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    return F.array_distinct(
        F.when(F.array_size(toks) >= n,
               F.transform(F.sequence(F.lit(0), F.array_size(toks) - n),
                           lambda i: F.array_join(F.slice(toks, i + 1, n), " ")))
         .otherwise(F.array(F.array_join(toks, " "))))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 32,
                       shingle_size: int = 3) -> DataFrame:
    """(id, sig: array<bigint> of k minhashes). Shingles are exploded once
    and all k hashes reduce in a single aggregation.

    Hash family: xxhash64 seeded by the hash index (k independent
    64-bit hashes, all JVM-native). An earlier (a·h+b) mod p family
    needed decimal(38) modular arithmetic to avoid 64-bit overflow and
    cost ~10× in the explode hot loop.

    Shingling: posexplode tokens + element_at() against the RETAINED
    token array — fully map-side, fused into one whole-stage-codegen
    span with the scan and the partial aggregation. (Earlier designs:
    higher-order-function lambdas (transform/slice) are not whole-stage-
    codegen'd and measured 4× slower; a window lead() forced every
    exploded token through a shuffle+sort BEFORE aggregation, defeating
    map-side combine — at 100 TB that shuffle is a full-corpus token
    pass, while this formulation shuffles only per-doc partial
    signatures.) Duplicate shingles are kept: min() is
    multiset-insensitive, so the distinct would only add cost."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ex = (df.select(F.col(id_col), toks.alias("__t"))
            .select(F.col(id_col), F.col("__t"),
                    F.posexplode(F.col("__t")).alias("pos", "tok"))
            .where(F.col("pos") + shingle_size <= F.array_size("__t")))
    # element_at is 1-based; pos is 0-based → token j of the shingle sits
    # at __t[pos + 1 + j].
    rest = [F.element_at("__t", F.col("pos") + 1 + j)
            for j in range(1, shingle_size)]
    # Hash each shingle ONCE (directly over the token columns — no
    # concat allocation), then derive the k minhashes from that fixed-
    # width long. Hashing the shingle STRING k times made the agg pay
    # k string hashes per shingle row (~32M at sf0.1 — it dominated the
    # bench entry).
    sh = ex.select(F.col(id_col),
                   F.xxhash64(F.col("tok"), *rest).alias("bh"))
    # Docs shorter than the shingle size still need a signature: use the
    # whole text as their single shingle.
    short = (df.where(F.array_size(toks) < shingle_size)
               .select(F.col(id_col),
                       F.xxhash64(F.array_join(toks, " ")).alias("bh")))
    sh = sh.unionByName(short)
    # ONE expression builds the whole signature array (k aggregates
    # inside array()): a k-term Column tree costs one py4j round-trip
    # per operator (~1 s of driver time at k=32); a single F.expr is one.
    arr = ", ".join(f"min(xxhash64({i}, bh))" for i in range(k))
    return (sh.groupBy(id_col)
              .agg(F.expr(f"array({arr})").alias("sig")))


def _bucket_pairs(b: DataFrame, id_col: str,
                  max_bucket_size: int) -> DataFrame:
    """(band_id, bucket_key) rows → unordered candidate pairs
    (id_a < id_b), generated IN-ROW from per-bucket id arrays: one
    groupBy(collect_list) shuffle replaces the window-count skew guard
    + bucket self-join + global pair distinct (3 shuffles) of the
    join formulation. The skew guard is the same size cap, now a plain
    filter on the bucket array. Pairs are NOT globally deduped (a pair
    can appear once per matching band) — callers verify downstream and
    dedup the (much smaller) verified output, or only probe
    membership."""
    buckets = (b.groupBy("band_id", "bucket_key")
                .agg(F.sort_array(F.collect_list(id_col)).alias("__ids")))
    n = F.array_size("__ids")
    cond = n >= 2
    if max_bucket_size is not None:
        cond = cond & (n <= max_bucket_size)
    buckets = buckets.where(cond)
    # Two-stage explode, NOT a single flattened pair array: one row per
    # (bucket, left-position) first, then the right-side slice — both
    # explodes fuse into one map-side pipeline (no exchange between
    # them) and every intermediate value is O(bucket), so an uncapped
    # degenerate bucket streams its pairs instead of materializing all
    # n²/2 of them inside a single row.
    lefts = buckets.select(
        "__ids",
        F.posexplode(F.slice("__ids", 1, (n - 1).cast("int")))
         .alias("__i", "id_a"))
    return (lefts.select(
        F.col("id_a"),
        F.explode(F.slice("__ids", F.col("__i") + 2,
                          F.array_size("__ids")))
         .alias("id_b")))


def minhash_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                            bands: int = 8, rows_per_band: int = 4,
                            max_bucket_size: int = 200,
                            dedup_pairs: bool = True) -> DataFrame:
    """LSH banding: equal band-slices → same bucket → candidate pair.
    Buckets larger than ``max_bucket_size`` are dropped (skew guard;
    they are near-duplicates of a degenerate value and are better
    handled by exact dedup first). ``dedup_pairs=False`` skips the
    global pair distinct for callers that tolerate per-band duplicates
    (downstream verify + final dedup, or membership probes)."""
    # Band hashes as one F.expr (see minhash_signatures): xxhash64 over
    # the band index + the band's signature slice, all JVM-native.
    band_arr = ", ".join(
        "xxhash64(%d, %s)" % (i, ", ".join(
            f"sig[{i * rows_per_band + j}]" for j in range(rows_per_band)))
        for i in range(bands))
    b = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({band_arr})"))
         .alias("band_id", "bucket_key"))
    pairs = _bucket_pairs(b, id_col, max_bucket_size)
    return pairs.distinct() if dedup_pairs else pairs


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 32,
                        shingle_size: int = 3, bands: int = 8,
                        threshold: float = 0.7) -> DataFrame:
    """Full MinHash pipeline: signatures → LSH candidates → verify by
    estimated Jaccard (fraction of equal minhash components). Returns
    (id_a, id_b, est_jaccard) for pairs ≥ threshold."""
    rows_per_band = k // bands
    # The signature relation feeds three consumers (banding + both sides
    # of the verify join); persist so the explode+agg runs once. At
    # cluster scale, materialize signatures as a table instead.
    sigs = _persist(minhash_signatures(df, id_col, text_col, k, shingle_size))
    # Per-band duplicate candidates are verified redundantly (bounded
    # ×bands) and deduped AFTER the threshold filter — the verified
    # pair set is far smaller than the candidate set, so the global
    # distinct moves to the cheap side.
    cand = minhash_candidate_pairs(sigs, id_col, bands, rows_per_band,
                                   dedup_pairs=False)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    # The higher-order aggregate(zip_with(...)) form is the FAST one
    # here despite being interpreted: an A/B on 1.6M sf1 candidates
    # measured 1.2s vs 4.9s for k constant-index comparisons
    # (IF(sig_a[0]=sig_b[0],...)+...) — per-element GetArrayItem
    # null-checking and codegen method splitting cost more than one
    # tight interpreted loop over the two arrays.
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)), "
        f"0, (a, x) -> a + x) / {float(k)}D")
    # shuffle_hash hint on the signature sides (round-11 sf10 finding):
    # the signature relation is CORPUS-SIZED (k longs per doc — ~270MB
    # at 1M docs, unbounded at 100 TB), but its pre-materialization
    # Catalyst estimate can come in under the broadcast threshold, and
    # the resulting BroadcastExchange died with not-enough-memory at
    # sf10. Never broadcast a corpus-sized side: shuffle both sides on
    # the id (hash join, no sort needed), which is also the only plan
    # that survives a 1000-executor corpus.
    return (cand.join(sa.hint("shuffle_hash"), "id_a")
                .join(sb.hint("shuffle_hash"), "id_b")
                .withColumn("est_jaccard", F.round(est, 6))
                .where(F.col("est_jaccard") >= threshold)
                .select("id_a", "id_b", "est_jaccard")
                .distinct())


def minhash_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", transitive: bool = False,
                  **kw) -> DataFrame:
    """Near-dedup over MinHash pairs.

    transitive=False: drop the larger id of every pair (greedy one-pass;
    can over-drop when B~A and B~C but A≁C — acceptable for dedup).
    transitive=True: full connected-components closure, keep exactly one
    representative (min id) per duplicate cluster
    (operators.graph.connected_components)."""
    pairs = minhash_dedup_pairs(df, id_col, text_col, **kw)
    if transitive:
        from heracles_spark.operators.graph import dedup_keep_representatives

        return dedup_keep_representatives(df, pairs, id_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# -- SimHash --------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash over whitespace tokens: per bit position, sum +1/-1
    weighted votes of each token hash; sign → bit. One explode + one
    aggregation (one agg expression per bit), fully JVM-side.

    ``hash_fn``: "xxhash64" (64 bits — the fast production path) or
    "md5" (60 bits from the md5 hex prefix — engine-portable, so the
    whole signature is reproducible in any SQL engine with md5(); this
    is what gives doc_simhash_groups a full value oracle)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ex = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    if hash_fn == "md5":
        n_bits = 60                    # 15 hex chars < 2^63: exact in a long
        th = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        n_bits = 64
        th = F.xxhash64("tok")
    ex = ex.withColumn("th", th)
    # One F.expr per aggregate and ONE for the bit-fold: n_bits chained
    # Column trees cost hundreds of py4j round-trips per plan build
    # (the minhash/dot_flat lesson). shiftleft keeps bit 63 in long
    # range (a Python 1 << 63 literal overflows LongType).
    bit_aggs = [
        F.expr(f"SUM(IF((th & shiftleft(CAST(1 AS BIGINT), {i})) != 0, "
               f"1, -1)) AS b{i}")
        for i in range(n_bits)]
    votes = ex.groupBy(id_col).agg(*bit_aggs)
    sig = " | ".join(
        f"IF(b{i} > 0, shiftleft(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(n_bits))
    return votes.select(F.col(id_col), F.expr(sig).alias("simhash"))


def simhash_near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 3,
                           hash_fn: str = "xxhash64",
                           max_bucket_size: int | None = None) -> DataFrame:
    """All pairs within SimHash hamming distance ≤ k: the
    minhash_candidate_pairs banding pattern applied to signature
    slices. The signature's n_bits are split into k+1 equal-width
    bands; by pigeonhole, two signatures with ≤ k differing bits agree
    on at least one whole band, so the band equi-join has RECALL 1 —
    candidate generation is a hash shuffle on (band_id, band_bits),
    never O(n²), and the exact hamming verify (bit_count of xor) runs
    only on candidates. Returns (id_a, id_b, hamming).

    ``max_bucket_size``: optional skew guard (drop degenerate buckets,
    e.g. empty docs all hashing alike — recall on those is better
    served by exact dedup first). None = exact: with the md5 flavor the
    full result is engine-reproducible in SQL, which is what gives
    doc_simhash_hamming its value oracle."""
    n_bits = 60 if hash_fn == "md5" else 64
    n_bands = k + 1
    sigs = _persist(simhash_signatures(df, id_col, text_col, hash_fn))
    # Bands must cover EVERY bit (an uncovered differing bit would void
    # the pigeonhole guarantee), so widths round to cover the remainder.
    bounds = [i * n_bits // n_bands for i in range(n_bands + 1)]
    band_arr = ", ".join(
        f"(shiftrightunsigned(simhash, {bounds[i]}) "
        f"& {(1 << (bounds[i + 1] - bounds[i])) - 1}L)"
        for i in range(n_bands))
    b = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({band_arr})"))
         .alias("band_id", "bucket_key"))
    # In-row pair generation per bucket (see _bucket_pairs): per-band
    # duplicate candidates are verified redundantly and deduped after
    # the hamming filter, where the set is smallest.
    cand = _bucket_pairs(b, id_col, max_bucket_size)
    sa = sigs.select(F.col(id_col).alias("id_a"),
                     F.col("simhash").alias("__sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"),
                     F.col("simhash").alias("__sb"))
    ham = F.bit_count(F.expr("__sa ^ __sb")).cast("long")
    return (cand.join(sa, "id_a").join(sb, "id_b")
                .withColumn("hamming", ham)
                .where(F.col("hamming") <= k)
                .select("id_a", "id_b", "hamming")
                .distinct())


def simhash_dup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Exact-signature SimHash duplicate groups (hamming-0). Banded
    hamming-k PAIR search is simhash_near_dup_pairs."""
    sigs = simhash_signatures(df, id_col, text_col, hash_fn)
    return (sigs.groupBy("simhash")
                .agg(F.count(F.lit(1)).alias("n_dups"),
                     F.min(id_col).alias("keep_id"))
                .where(F.col("n_dups") > 1))


# -- n-gram Jaccard (set-similarity join) --------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int = 1000,
                        max_doc_frac: float | None = None,
                        unit: str = "char",
                        prefix_order: str = "df",
                        pair_filter=None) -> DataFrame:
    """All pairs with n-gram Jaccard ≥ threshold (``unit``: "char" =
    character substrings, "word" = lowercased whitespace-token windows —
    word grams have far higher diversity, which is what makes the
    inverted index selective on prose), via an
    inverted-index join with PREFIX FILTERING (the PPJoin family):
    explode distinct n-grams, drop stop-grams with document frequency >
    max_doc_freq, self-join only each doc's ⌊(1-t)·|d|⌋+1 RAREST grams
    (global (df, g) order) to find candidates, then verify candidates
    against the full filtered gram sets.

    The prefix filter is LOSSLESS: the reported score
    |F_a∩F_b| / (|S_a|+|S_b|-|F_a∩F_b|) (F = df-filtered grams, S = all
    grams) is ≤ Jaccard(F_a, F_b), so score ≥ t implies
    Jaccard(F_a, F_b) ≥ t, and the classic prefix theorem then
    guarantees the two (1-t)-prefixes share a gram. Replaces the naive
    full inverted self-join whose candidate count is Σ_g df(g)² — at
    corpus scale that term (mid-frequency grams) dominates everything
    else in the pipeline; the prefix join touches only rare grams.

    ``prefix_order``: "df" (default) orders prefixes by global gram
    rarity (needs a document-frequency pass; minimizes candidates);
    "hash" uses the hashed-gram value order — the prefix theorem holds
    for ANY fixed global order, so this stays lossless while skipping
    the df pass entirely (the right choice for EXACT mode, i.e. no
    stop-gram cap).

    ``pair_filter``: optional boolean Column over the ID COLUMN ONLY
    (e.g. a deterministic hash-sample of ids — it is re-applied to
    derived relations that carry just ``id_col``). When set, the LINEAR
    passes (gram stats, document frequencies, per-doc filtered arrays)
    still see the FULL corpus, but the QUADRATIC work (prefix
    candidate join + verification) runs only over docs matching the
    filter. Because a pair's score depends only on the two docs' own
    filtered arrays and set sizes — per-doc quantities driven by
    GLOBAL df — the output equals the full-corpus result restricted to
    filter×filter pairs EXACTLY. This is the 100 TB recall-audit
    shape: global statistics linear, all-pairs cost bounded by the
    sample."""
    # Gram generation stays codegen'd (explode an index sequence +
    # substr + xxhash64 — HOF transform lambdas are interpreted and
    # measured ~8× slower here); per-doc DEDUP happens in collect_set,
    # whose partial aggregation dedups map-side (a doc's exploded grams
    # are contiguous in one partition), so the exchange moves ONE gram
    # set per doc instead of the full gram stream — a global .distinct()
    # on the exploded pairs measured 2.2s at sf0.1 vs 0.4s for this, and
    # at corpus scale that difference is a full token pass. Grams are
    # hashed to 64-bit immediately so every downstream shuffle/join
    # moves fixed-width longs instead of strings (collision odds at
    # realistic gram cardinalities are ~G²/2⁶⁴ — negligible).
    if pair_filter is not None and prefix_order == "hash":
        # hash order uses no global statistic, so sampling the input
        # up front is exactly equivalent to sampling the pair work —
        # and skips gram generation for the unsampled docs entirely.
        df = df.where(pair_filter)
        pair_filter = None
    if unit == "word":
        toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        exd = (df.select(F.col(id_col), toks.alias("__t"))
                 .select(F.col(id_col), F.col("__t"),
                         F.posexplode("__t").alias("pos", "tok"))
                 .where(F.col("pos") + n <= F.array_size("__t")))
        rest = [F.element_at("__t", F.col("pos") + 1 + j)
                for j in range(1, n)]
        ex = exd.select(F.col(id_col),
                        F.xxhash64(F.col("tok"), *rest).alias("g"))
    else:
        ex = (df.select(F.col(id_col), F.col(text_col),
                        F.explode(F.sequence(
                            F.lit(1),
                            F.greatest(F.length(F.col(text_col)) - (n - 1),
                                       F.lit(1)))).alias("i"))
                .select(F.col(id_col),
                        F.when(F.col("i")
                               <= F.length(F.col(text_col)) - (n - 1),
                               F.xxhash64(F.col(text_col)
                                           .substr(F.col("i"), F.lit(n))))
                         .alias("g"))
                .where(F.col("g").isNotNull()))
    # Per-doc distinct gram ARRAYS (one shuffle; collect_set dedups
    # map-side). Everything downstream works on these arrays in-row:
    # the old formulation re-exploded them through a window sort (one
    # more full shuffle) and verified candidates by fanning each pair
    # out over its grams and re-aggregating (three more shuffles); both
    # are replaced by array ops inside the join row.
    docs_g = ex.groupBy(id_col).agg(F.collect_set("g").alias("__garr"))
    if prefix_order == "hash":
        # EXACT mode: the prefix theorem holds for ANY fixed global
        # order, so hashed-gram order (array_sort of the 64-bit gram
        # hashes) works without computing document frequencies at all —
        # rarity order is only a candidate-count heuristic, and when no
        # stop-gram cap is wanted the df pass is pure overhead.
        fdocs = docs_g.select(
            F.col(id_col), F.array_sort("__garr").alias("__farr"),
            F.array_size("__garr").alias("set_size"))
    else:
        docs_g = _persist(docs_g)
        sizes = docs_g.select(F.col(id_col),
                              F.array_size("__garr").alias("set_size"))
        base = docs_g.select(F.col(id_col), F.explode("__garr").alias("g"))
        dfreq = base.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
        if max_doc_frac is not None:
            # Stop-gram cap as a CORPUS FRACTION (the scale-correct
            # form: an absolute cap that is generous at one corpus size
            # is degenerate at 100× — candidate volume is Σ_g df(g)², so
            # the cap must track N). floor(frac·N), never below 2,
            # computed in-plan (one broadcast row, no driver action).
            ndocs = df.agg(F.count(F.lit(1)).alias("__nd"))
            dfreq = (dfreq.join(F.broadcast(ndocs))
                     .where(F.col("df_g") <= F.greatest(
                         F.floor(max_doc_frac * F.col("__nd")), F.lit(2)))
                     .drop("__nd"))
        else:
            dfreq = dfreq.where(F.col("df_g") <= max_doc_freq)
        # Filtered per-doc arrays sorted by global (df, g) rarity order;
        # full set_size rides along for the exact-denominator Jaccard.
        # Pair sampling slots in HERE: dfreq above is a full-corpus
        # statistic, but the join-back + per-doc array build (and all
        # quadratic work downstream) only needs the sampled docs. A
        # direct predicate (pair_filter references id_col only), not a
        # semi-join — no extra join stage, fuses into base's scan.
        if pair_filter is not None:
            base = base.where(pair_filter)
        fdocs = (base.join(dfreq, "g")
                 .groupBy(id_col)
                 .agg(F.array_sort(
                     F.collect_list(F.struct("df_g", "g"))).alias("__s"))
                 .select(F.col(id_col),
                         F.expr("transform(__s, x -> x.g)").alias("__farr"))
                 .join(sizes, id_col))
    fdocs = _persist(fdocs)
    # Prefix index, map-side: each doc's first ⌊(1-t)·|F_d|⌋+1 grams in
    # the global order — no window, no extra shuffle.
    prefix = fdocs.select(
        F.col(id_col),
        F.explode(F.slice(
            "__farr", 1,
            (F.floor((1.0 - threshold) * F.array_size("__farr")) + 1)
            .cast("int"))).alias("g"))
    cand = (prefix.select(F.col(id_col).alias("id_a"), "g")
            .join(prefix.select(F.col(id_col).alias("id_b"), "g"), "g")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    # Verify in-row: join both docs' filtered gram arrays onto the pair
    # and intersect them with array_intersect — no fan-out, no re-agg.
    fa = fdocs.select(F.col(id_col).alias("id_a"),
                      F.col("__farr").alias("__fa"),
                      F.col("set_size").alias("size_a"))
    fb = fdocs.select(F.col(id_col).alias("id_b"),
                      F.col("__farr").alias("__fb"),
                      F.col("set_size").alias("size_b"))
    n_common = F.array_size(F.array_intersect("__fa", "__fb"))
    jac = n_common / (F.col("size_a") + F.col("size_b") - n_common)
    return (cand.join(fa, "id_a").join(fb, "id_b")
                .withColumn("jaccard", F.round(jac, 6))
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))


# -- embedding near-dup ---------------------------------------------------

def hyperplane_candidate_pairs(df: DataFrame, id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               n_planes: int = 16,
                               max_bucket_size: int = 500,
                               dim: int = 64,
                               n_bands: int = 1,
                               dedup_pairs: bool = True) -> DataFrame:
    """UNVERIFIED hyperplane-LSH candidate pairs (id_a, id_b): same
    banding/bucketing as :func:`embedding_near_dup_pairs` without the
    cosine pass — for recall accounting (candidates ∩ exact ==
    verified ∩ exact, so a contract query never needs the verify) and
    for callers that verify downstream anyway.

    ``dedup_pairs=False`` skips the global ``distinct()`` (a pair can
    appear once per matching band): callers that only probe membership
    — e.g. a recall contract semi-joining the SMALL exact side against
    this relation — don't pay the full-candidate-set shuffle."""
    from heracles_spark.operators.similarity import (
        hyperplane_signature, norm_flat)
    if n_planes % n_bands:
        raise ValueError("n_planes must divide into n_bands")
    bw = n_planes // n_bands
    sigs = df.select(
        F.col(id_col), F.col(vec_col),
        hyperplane_signature(f"`{vec_col}`", n_planes, dim=dim).alias("sig"),
        norm_flat(f"`{vec_col}`", dim).alias("nrm"))
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("sig", b * bw)
                  .bitwiseAND(F.lit((1 << bw) - 1)).alias("bsig"))
        for b in range(n_bands)]
    b = (sigs.select(F.col(id_col),
                     F.explode(F.array(*band_structs)).alias("bb"))
             .select(F.col(id_col), F.col("bb.band").alias("band_id"),
                     F.col("bb.bsig").alias("bucket_key")))
    cand = _bucket_pairs(b, id_col, max_bucket_size)
    return cand.distinct() if dedup_pairs else cand


def hyperplane_band_sets(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         n_planes: int = 16,
                         max_bucket_size: int = 500,
                         dim: int = 64,
                         n_bands: int = 1) -> DataFrame:
    """(id, bands: array<struct<band, bits>>) — each vector's surviving
    LSH band buckets, with buckets over ``max_bucket_size`` REMOVED
    (same skew guard as hyperplane_candidate_pairs). Two vectors are
    LSH candidates iff their band arrays overlap, so a recall contract
    can probe candidate MEMBERSHIP for a small exact pair set with one
    broadcast join + arrays_overlap — never materializing the O(Σ n²)
    candidate pair set at all. Semantically identical to membership in
    hyperplane_candidate_pairs' output (cap included)."""
    from heracles_spark.operators.similarity import hyperplane_signature
    if n_planes % n_bands:
        raise ValueError("n_planes must divide into n_bands")
    bw = n_planes // n_bands
    # Persist the (id, sig) relation — it is tiny (one long per
    # vector), but WITHOUT the cut both sides of the bucket-count join
    # below re-inline the n_planes×dim-literal signature expression
    # into their plans (measured 3.3s vs 0.5s at 2k vectors: planning
    # + codegen of the duplicated giant expression, not data).
    sigs = _persist(df.select(
        F.col(id_col),
        hyperplane_signature(f"`{vec_col}`", n_planes, dim=dim)
         .alias("sig")))
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("sig", b * bw)
                  .bitwiseAND(F.lit((1 << bw) - 1)).alias("bsig"))
        for b in range(n_bands)]
    b = (sigs.select(F.col(id_col),
                     F.explode(F.array(*band_structs)).alias("bb"))
             .select(F.col(id_col), F.col("bb.band").alias("band"),
                     F.col("bb.bsig").alias("bsig")))
    keep = (b.groupBy("band", "bsig")
             .agg(F.count(F.lit(1)).alias("__n"))
             .where(F.col("__n") <= max_bucket_size)
             .drop("__n"))
    # Persisted: callers typically broadcast this twice (once per pair
    # endpoint), and each broadcast exchange materializes its input
    # independently.
    return _persist(
        b.join(F.broadcast(keep), ["band", "bsig"])
         .groupBy(id_col)
         .agg(F.collect_list(F.struct("band", "bsig")).alias("bands")))


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.95,
                             n_planes: int = 16,
                             max_bucket_size: int = 500,
                             dim: int = 64,
                             n_bands: int = 1) -> DataFrame:
    """Near-duplicate embeddings: random-hyperplane LSH buckets
    (:func:`hyperplane_candidate_pairs`), then exact cosine on the
    candidates. Deterministic planes (seeded). Returns
    (id_a, id_b, cosine); plan construction runs NO Spark job.

    ``n_bands`` > 1 splits the signature into bands (the minhash-LSH
    banding trick applied to hyperplane bits): a pair is a candidate if
    ANY band matches, boosting recall at moderate cosine thresholds —
    P(candidate) = 1-(1-p^(n/b))^b with p = 1-θ/π per plane.

    Candidate verification runs on the Arrow path
    (similarity.pair_dot_pandas): an expression-tree dot lands in the
    join's post-condition and is evaluated INTERPRETED per candidate
    pair; the vectorized per-dim numpy accumulation reproduces the same
    sequential f64 fold bit-for-bit, and ROUND + threshold stay
    engine-side."""
    from heracles_spark.operators.similarity import (
        norm_flat, pair_dot_pandas)

    cand = hyperplane_candidate_pairs(df, id_col, vec_col, n_planes,
                                      max_bucket_size, dim, n_bands)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                  norm_flat(f"`{vec_col}`", dim).alias("na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                  norm_flat(f"`{vec_col}`", dim).alias("nb"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    dotted = pair_dot_pandas(joined, "va", "vb", dim,
                             keep=["id_a", "id_b", "na", "nb"])
    cos = F.col("__dot") / (F.col("na") * F.col("nb"))
    return (dotted.withColumn("cosine", F.round(cos, 6))
                  .where(F.col("cosine") >= threshold)
                  .select("id_a", "id_b", "cosine"))


def bloom_bits(keys: DataFrame, key_col: str = "key",
               m: int = 1 << 18, k: int = 3) -> DataFrame:
    """Build the bit set of a RELATIONAL Bloom filter over ``keys``:
    k md5-derived positions per key in [0, m), returned as a DISTINCT
    single-column relation ``b``. The bit set is bounded by m rows
    REGARDLESS of corpus size — at 100 TB it is still a <= m-row
    broadcastable relation, which is exactly the Bloom-filter property
    expressed relationally. Deterministic (md5 of the key, no seed
    state), so downstream false-positive counts are exact reproducible
    numbers, not a probabilistic contract.

    Positions: pos_i = first-8-hex-digits of md5(key || ':' || i)
    mod m — the engine-portable uniform hash (sampling._md5_u32
    discipline; DuckDB spells it CAST(('0x' || substring(md5(...),1,8))
    AS BIGINT) % m)."""
    pos = [(F.conv(F.substring(
                F.md5(F.concat_ws(":", F.col(key_col), F.lit(str(i)))),
                1, 8), 16, 10).cast("long") % m).alias("b")
           for i in range(k)]
    return (keys.select(F.explode(F.array(*pos)).alias("b"))
                .distinct())


def bloom_prefilter(incoming: DataFrame, bits: DataFrame,
                    key_col: str = "key", m: int = 1 << 18,
                    k: int = 3) -> DataFrame:
    """Flag incoming rows whose key hits ALL k Bloom positions in
    ``bits`` (built by :func:`bloom_bits` over the historical corpus).
    No false negatives by construction; false positives are the
    deterministic md5-collision set. Plan: probe DISTINCT key values
    only (k exploded positions each, broadcast-join the <= m-row bit
    set, keep keys with k hits), then null-safe left-semi-join the hit
    keys back to ``incoming`` — row multiplicity is preserved (a
    duplicated incoming row stays duplicated) and payload columns are
    never grouped on, so non-groupable types (map, ...) pass through
    untouched (round-8 advisor fix; the old form grouped by
    *incoming.columns, collapsing duplicates and failing on map
    columns)."""
    pos = [(F.conv(F.substring(
                F.md5(F.concat_ws(":", F.col(key_col), F.lit(str(i)))),
                1, 8), 16, 10).cast("long") % m).alias("b")
           for i in range(k)]
    keys = incoming.select(key_col).distinct()
    probe = keys.withColumn("__pos", F.explode(F.array(*pos)))
    hit_keys = (probe.join(F.broadcast(bits),
                           probe["__pos"] == bits["b"])
                     .groupBy(key_col)
                     .agg(F.count(F.lit(1)).alias("__hits"))
                     .where(F.col("__hits") == k)
                     .select(F.col(key_col).alias("__hitk")))
    # no broadcast hint: hit_keys is bounded by |distinct incoming
    # keys|, not by m — AQE picks broadcast when it actually fits
    return (incoming.join(
                hit_keys,
                F.col(key_col).eqNullSafe(F.col("__hitk")),
                "left_semi"))
