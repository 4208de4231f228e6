"""Deduplication operators for training-data pipelines, each designed
for the 100 TB regime:

* exact          — group on a 128-bit content hash (shuffles 16-byte
                   keys, never the documents themselves)
* n-gram Jaccard — exact set-similarity pairs via shingle inverted
                   index, integer-threshold filtered
* MinHash + LSH  — near-dup candidate generation in O(n·bands) with
                   banded signature buckets, candidates verified on the
                   signature estimate
* SimHash        — 64-bit fingerprints, banded by 16-bit chunks,
                   verified by Hamming distance (bit_count of XOR)
* embedding      — cosine near-dup via random-hyperplane LSH buckets,
                   verified by exact cosine

Everything below is built-in Column expressions + joins: hashing,
signatures and band keys are all codegen'd JVM work; the only shuffles
are the groupBy/join on compact keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localframe import local_frame

from ..functions.text import exploded_shingles, shingles_from_tokens, tokens


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def content_key(col) -> Column:
    """128-bit content hash (md5 hex) — collision-safe grouping key that
    keeps the shuffle narrow at petabyte scale."""
    return F.md5(col if isinstance(col, Column) else F.col(col))


def exact_dedup_keep_min(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the smallest ``id_col`` per distinct ``content_col``.

    One shuffle on the 128-bit content key; min-by aggregation (no sort,
    no window over full partitions).
    """
    return (
        df.groupBy(content_key(content_col).alias("__ck"))
        .agg(F.min(id_col).alias(id_col))
        .drop("__ck")
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Return ``df`` with exact duplicates removed (smallest id wins).
    Left-semi join against the survivor set — the full rows never
    shuffle twice."""
    survivors = exact_dedup_keep_min(df, content_col, id_col)
    return df.join(survivors, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (the oracle-checkable similarity baseline)
# ---------------------------------------------------------------------------


def _doc_shingle_index(df: DataFrame, id_col: str, text_col: str, n: int):
    """Distinct (``__id``, ``__s``) posting list + per-doc shingle
    counts (``__id``, ``__n``) — the inverted-index core shared by the
    self-join and cross-corpus Jaccard operators.  Shingle rows come
    from the codegen window-lead builder; the per-doc distinct rides
    the window's id-partitioning — no extra exchange."""
    sh = exploded_shingles(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")),
        "__id",
        "__t",
        n,
    ).dropDuplicates(["__id", "__s"])
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    return sh, sizes


def _detect_hot_shingles(sh: DataFrame, max_shingle_df: int | None):
    """Detect-then-choose, like operators/skew.py hot-key handling: one
    aggregation finds shingles above the cap (the hot SET is small by
    construction — only shingles with DF > cap), and when it is EMPTY —
    the common case per corpus batch — the guard costs exactly that one
    detection pass and the caller keeps the pure uncapped plan
    (measured: 8s -> ~4s at sf0.1, where an always-on split +
    correction re-evaluated the shingle lineage four extra times).

    NB ``isEmpty()`` is an EAGER action at plan-construction time (one
    aggregation pass over the shingles) — the price of choosing the
    plan from measured hot-key volume, same as skew.py.  Returns the
    hot-shingle set, or None when the guard is disabled or no shingle
    exceeds the cap."""
    if max_shingle_df is None:
        return None
    hot_set = (
        sh.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_shingle_df)
        .select("__s")
    )
    return None if hot_set.isEmpty() else hot_set


def _split_postings(sh: DataFrame, hot_set: DataFrame):
    """(cold, hot) posting split via two BROADCAST joins against the
    tiny hot set — never a shuffle join against the full DF table."""
    return (
        sh.join(F.broadcast(hot_set), "__s", "left_anti"),
        sh.join(F.broadcast(hot_set), "__s", "left_semi"),
    )


def _hot_correction(
    inter: DataFrame,
    key_a: str,
    key_b: str,
    hot_a: DataFrame,
    hot_b: DataFrame,
) -> DataFrame:
    """Exact correction: count hot shingles present in BOTH docs of
    each surviving candidate pair and add them back to ``inter``.  Cost
    is candidates x hot-shingles-per-doc — linear in candidates, never
    quadratic in postings."""
    ha = hot_a.select(F.col("__id").alias(key_a), "__s")
    hb = hot_b.select(F.col("__id").alias(key_b), "__s")
    hot_inter = (
        inter.select(key_a, key_b)
        .join(ha, key_a)
        .join(hb, [key_b, "__s"])
        .groupBy(key_a, key_b)
        .agg(F.count(F.lit(1)).alias("__hi"))
    )
    return (
        inter.join(hot_inter, [key_a, key_b], "left")
        .withColumn("inter", F.col("inter") + F.coalesce("__hi", F.lit(0)))
        .select(key_a, key_b, "inter")
    )


def _jaccard_threshold(
    inter: DataFrame,
    sizes_a: DataFrame,
    sizes_b: DataFrame,
    key_a: str,
    key_b: str,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Join per-doc sizes back and keep pairs with Jaccard >= num/den
    (integer cross-multiplied — no floating point)."""
    na = sizes_a.select(F.col("__id").alias(key_a), F.col("__n").alias("__na"))
    nb = sizes_b.select(F.col("__id").alias(key_b), F.col("__n").alias("__nb"))
    return (
        inter.join(na, key_a)
        .join(nb, key_b)
        .withColumn("uni", F.col("__na") + F.col("__nb") - F.col("inter"))
        .filter(F.col("inter") * threshold_den >= F.col("uni") * threshold_num)
        .select(key_a, key_b, "inter", "uni")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 6,
    threshold_den: int = 10,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All pairs (a < b) with word-``n``-gram Jaccard >=
    ``threshold_num/threshold_den``, computed exactly.

    Inverted index on distinct shingles -> per-pair intersection counts
    -> integer cross-multiplied threshold (no floating point).  Returns
    (id_a, id_b, inter, uni).

    Hot-shingle guard: pair blow-up concentrates on high-frequency
    shingles — one viral boilerplate trigram with document frequency d
    puts d^2/2 rows through the self-join.  Shingles with DF >
    ``max_shingle_df`` are therefore excluded from CANDIDATE GENERATION
    (the self-join), and their contribution to the intersection is added
    back afterwards by probing only the surviving candidate pairs
    against the hot postings — so (inter, uni) stay exact for every
    pair that shares at least one sub-cap shingle.  Only pairs whose
    ENTIRE overlap is viral boilerplate are missed, which is the
    desired semantics for near-dup mining.  ``max_shingle_df=None``
    disables the guard (pure exact mode).
    """
    sh, sizes = _doc_shingle_index(df, id_col, text_col, n)
    hot_set = _detect_hot_shingles(sh, max_shingle_df)
    idx, hot = (sh, None) if hot_set is None else _split_postings(sh, hot_set)

    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if hot is not None:
        inter = _hot_correction(inter, "id_a", "id_b", hot, hot)
    return _jaccard_threshold(
        inter, sizes, sizes, "id_a", "id_b", threshold_num, threshold_den
    )


# ---------------------------------------------------------------------------
# Cross-corpus (incremental) near-dedup
# ---------------------------------------------------------------------------


def cross_corpus_jaccard_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 6,
    threshold_den: int = 10,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All (new_id, corpus_id) pairs with word-``n``-gram Jaccard >=
    ``threshold_num/threshold_den``, computed exactly ACROSS two
    corpora — the incremental-ingest shape: dedup today's batch against
    the standing corpus without re-pairing the corpus with itself.

    Same inverted-index design as :func:`ngram_jaccard_pairs`, but the
    posting join is new x corpus (never corpus x corpus): at 100 TB the
    standing corpus dominates, and this keeps the candidate volume
    proportional to the BATCH's postings.  The hot-shingle guard caps
    document frequency on the CORPUS side (where viral boilerplate
    lives) with the same exact probe-back correction.

    Caveat (same as :func:`ngram_jaccard_pairs`): the probe-back
    correction fixes the Jaccard VALUE of surviving candidates, but
    pairs sharing ONLY capped (hot) shingles never become candidates
    and are not reported.  Pass ``max_shingle_df=None`` when exact
    uncapped semantics are required (e.g. oracle-compared entries).

    Returns (new_id, corpus_id, inter, uni).
    """
    new_sh, new_sizes = _doc_shingle_index(new_df, id_col, text_col, n)
    cor_sh, cor_sizes = _doc_shingle_index(corpus_df, id_col, text_col, n)

    # the DF cap is measured on the CORPUS side (where viral
    # boilerplate lives); the split then applies to both posting lists
    hot_set = _detect_hot_shingles(cor_sh, max_shingle_df)
    if hot_set is None:
        new_idx, cor_idx, hot = new_sh, cor_sh, None
    else:
        new_idx, hot_new = _split_postings(new_sh, hot_set)
        cor_idx, hot_cor = _split_postings(cor_sh, hot_set)
        hot = (hot_new, hot_cor)

    inter = (
        new_idx.alias("a")
        .join(cor_idx.alias("b"), F.col("a.__s") == F.col("b.__s"))
        .groupBy(
            F.col("a.__id").alias("new_id"), F.col("b.__id").alias("corpus_id")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if hot is not None:
        inter = _hot_correction(inter, "new_id", "corpus_id", hot[0], hot[1])
    return _jaccard_threshold(
        inter, new_sizes, cor_sizes, "new_id", "corpus_id",
        threshold_num, threshold_den,
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 6,
    threshold_den: int = 10,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Survivors of ``new_df`` after dedup AGAINST ``corpus_df``: drop
    new docs that exactly match a corpus doc (128-bit content hash —
    catches short docs below the shingle width) or near-match one at
    n-gram Jaccard >= threshold.  The corpus itself is never modified
    and never self-joined — the incremental-ingest contract.

    Caveat: with the default ``max_shingle_df`` cap, new docs whose
    entire overlap with a corpus doc is hot (capped) shingles are NOT
    detected as near-duplicates — pass ``max_shingle_df=None`` for
    exact uncapped semantics (oracle-compared entries do)."""
    exact_hits = (
        new_df.select(F.col(id_col), content_key(text_col).alias("__ck"))
        .join(
            corpus_df.select(content_key(text_col).alias("__ck")).distinct(),
            "__ck",
            "left_semi",
        )
        .select(id_col)
    )
    near_hits = cross_corpus_jaccard_pairs(
        new_df,
        corpus_df,
        id_col,
        text_col,
        n=n,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        max_shingle_df=max_shingle_df,
    ).select(F.col("new_id").alias(id_col))
    dropped = exact_hits.union(near_hits).distinct()
    return new_df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingle_col: Column, num_perm: int = 64) -> Column:
    """MinHash signature: per permutation i, min over shingles of
    ``xxhash64(i, base)`` where ``base = xxhash64(shingle)`` is computed
    ONCE per shingle.  Permutations then re-hash 8-byte longs instead of
    re-scanning the shingle strings (string hashing dominates at 64
    permutations x ~50 shingles/doc — one string pass total makes the
    signature ~num_perm x cheaper on wide documents).  Empty shingle
    set -> NULL signature."""
    return _minhash_from_hashes(
        F.transform(shingle_col, lambda s: F.xxhash64(s)), num_perm
    )


def _minhash_from_hashes(hash_col, num_perm: int) -> Column:
    """Signature from pre-hashed shingles (array<long>).  NB callers on
    a hot path should materialize ``hash_col`` as a real column first —
    handed a raw expression, Catalyst inlines it into all ``num_perm``
    mins and the one-pass saving is lost (minhash_lsh_pairs does this)."""
    mins = [
        F.array_min(
            F.transform(hash_col, lambda x, i=i: F.xxhash64(F.lit(i), x))
        )
        for i in range(num_perm)
    ]
    return F.when(F.size(hash_col) > 0, F.array(*mins))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs by MinHash similarity >= ``threshold``.

    Banded LSH generates candidates (``bands`` buckets per doc, rows =
    num_perm/bands); a pair collides in some band with probability
    1-(1-j^r)^b.  Candidates are verified on the full signatures
    (estimated Jaccard = matching positions / num_perm) — exact shingle
    sets are never re-joined, so verification is a signature-only
    comparison.  Returns (id_a, id_b, est_jaccard).
    """
    rows = num_perm // bands
    # Stage the pipeline around two explicit exchanges:
    # 1. the window-lead shingle builder's exchange on __id (which a
    #    single parquet split needs anyway for parallelism); the hash
    #    dedup AND the num_perm codegen'd min-aggregates both ride that
    #    same partitioning — signature computation adds no exchange;
    # 2. repartition banded rows on the join keys so the self-join reuses
    #    ONE exchange (identical canonical subplans) instead of computing
    #    signatures once per side and re-shuffling.
    hashed = (
        exploded_shingles(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")),
            "__id",
            "__t",
            n,
        )
        .select("__id", F.xxhash64("__s").alias("__h"))
        .dropDuplicates(["__id", "__h"])
    )
    # the 64 permutation mins and the 16 band keys are generated SQL
    # strings through one F.expr each (r11, guide §7.3): the Column
    # form paid a py4j round-trip per operator (~200 per call, ~0.9s
    # driver wall); integer literals parse as INT, matching F.lit(i)'s
    # IntegerType so every xxhash64 seed hashes identically
    sigd = hashed.groupBy("__id").agg(
        F.expr(
            "array("
            + ", ".join(f"min(xxhash64({i}, __h))" for i in range(num_perm))
            + ")"
        ).alias("__sig")
    )

    band_keys = F.expr(
        "array("
        + ", ".join(
            "xxhash64({}, {})".format(
                bi,
                ", ".join(
                    f"element_at(__sig, {bi * rows + j + 1})"
                    for j in range(rows)
                ),
            )
            for bi in range(bands)
        )
        + ")"
    )
    banded = sigd.select(
        "__id", "__sig", F.posexplode(band_keys).alias("__band", "__bkey")
    ).repartition("__band", "__bkey")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bkey") == F.col("b.__bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sig").alias("__siga"),
            F.col("b.__sig").alias("__sigb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with("__siga", "__sigb", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = matches / F.lit(float(num_perm))
    return (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(token_col: Column) -> Column:
    """64-bit SimHash over a token array: bit j of the fingerprint is 1
    iff the sum over tokens of ±1 (sign of bit j of xxhash64(token)) is
    positive.  Pure aggregate/zip_with expression tree; shift counts are
    unrolled as literals (Spark's shiftright takes no Column bit count)
    and the vote array is referenced exactly once."""

    def _bits(h):
        # h is a bound lambda variable (already a long): the 64 unrolled
        # shiftrights reference it directly, no re-hashing
        return F.array(
            *[
                F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1).cast("long")
                ).otherwise(F.lit(-1).cast("long"))
                for j in range(64)
            ]
        )

    # hash every token ONCE in a single pass; HOF lambdas are
    # interpreted, so inlining xxhash64(t) into the 64 bit tests would
    # re-hash the string 64 times per token
    hashes = F.transform(token_col, lambda t: F.xxhash64(t))
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(acc, _bits(h), lambda a, v: a + v),
    )
    powers = F.array(
        *[F.lit(1 << j if j < 63 else -(2**63)).cast("long") for j in range(64)]
    )
    masked = F.zip_with(
        bit_votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(masked, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(__id, __fp) SimHash fingerprints via one token explode and
    LANE-PACKED vote aggregates — bit-identical to :func:`simhash64`
    but entirely whole-stage-codegen JVM work.

    Instead of 64 separate ``sum(±1)`` aggregates (whose generated
    aggregate class costs ~4-5s of janino compile the first time and
    shuffles 64 longs per doc), each token packs 3 of its hash bits
    into three 21-bit lanes of one long (lane value 0/1, so the lane
    sums are the per-bit ones counts and never carry across lanes for
    documents below 2^21 ≈ 2.1M tokens — the top lane peaks at
    (2^21−1)·2^42 < 2^63, so the packed sum can neither carry NOR
    overflow the signed long under ANSI mode at any realistic document
    size; docs beyond 2M tokens should be chunked upstream).  22
    packed ``sum`` aggregates + one token count reconstruct every
    bit's ones count: bit j is set iff ``2*ones_j > n`` ⟺ the ±1 vote
    sum is positive — the same tie-to-zero rule as the expression
    form.  ``explode_outer`` keeps tokenless documents (n = 0 →
    fingerprint 0), matching the expression form.

    The wide trees (22 packed-lane sums, the 64-term fingerprint
    reconstruction) are built as generated SQL strings through ONE
    ``F.expr`` each (r11, guide §7.3 driver-side work): the
    Column-algebra form issued a py4j round-trip per operator —
    several hundred per call, ~1.5s of driver wall at warm steady
    state — while a SQL string parses JVM-side to the identical
    resolved expressions (equivalence pinned bit-for-bit against
    ``simhash64`` by tests/test_operators.py)."""
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(tokens(text_col)).alias("__tok"),
    ).select("__id", F.xxhash64("__tok").alias("__h"), F.col("__tok").isNull().alias("__pad"))

    n_lanes, lane_bits = 3, 21
    n_cols = (64 + n_lanes - 1) // n_lanes  # 22 (last column: 1 lane)

    def packed_sql(i: int) -> str:
        # lanes k hold bit (3i+k) of the token hash, one bit per
        # 21-bit lane; pad rows contribute 0 to every lane
        lanes = [
            f"shiftleft(shiftright(__h, {n_lanes * i + k}) & 1, {lane_bits * k})"
            for k in range(min(n_lanes, 64 - n_lanes * i))
        ]
        v = " | ".join(lanes)
        return (
            f"CASE WHEN __pad THEN CAST(0 AS BIGINT) ELSE ({v}) END"
        )

    aggs = [
        F.sum(F.expr(packed_sql(i))).alias(f"__s{i}") for i in range(n_cols)
    ] + [F.sum(F.expr("CASE WHEN __pad THEN 0 ELSE 1 END")).alias("__n")]
    agg = toks.groupBy("__id").agg(*aggs)
    fp_terms = " | ".join(
        # ones_j = lane (j % 3) of packed sum j // 3
        "CASE WHEN (shiftright(__s{s}, {sh}) & {mask}) * 2 > __n "
        "THEN CAST({p} AS BIGINT) ELSE CAST(0 AS BIGINT) END".format(
            s=j // n_lanes,
            sh=lane_bits * (j % n_lanes),
            mask=(1 << lane_bits) - 1,
            p=(1 << j) if j < 63 else -(2**63),
        )
        for j in range(64)
    )
    return agg.select("__id", F.expr(fp_terms).alias("__fp"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= ``max_hamming``.

    Banded by the four 16-bit chunks (pigeonhole: any pair within
    Hamming 3 shares a chunk; larger radii trade recall) — candidates
    verified with ``bit_count(a XOR b)``.  Returns (id_a, id_b, hamming).
    """
    fp = simhash_fingerprints(df, id_col, text_col)
    chunks = F.array(
        *[
            F.shiftright("__fp", 16 * i).bitwiseAND(F.lit(0xFFFF)).cast("long")
            for i in range(4)
        ]
    )
    banded = fp.select(
        "__id", "__fp", F.posexplode(chunks).alias("__band", "__ckey")
    ).repartition("__band", "__ckey")  # one reused exchange for the self-join
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__ckey") == F.col("b.__ckey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__fp").alias("__fa"),
            F.col("b.__fp").alias("__fb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _bitstring_words(col, n_bits: int) -> list:
    """Parse a '0'/'1' bitstring column into <=32-bit integer words
    (``conv(chunk, 2, 10)`` — each chunk fits a long safely), so a
    Hamming distance evaluates as a handful of codegen
    ``bit_count(xor)`` ops instead of an ``n_bits``-iteration
    interpreted character-diff HOF (r10: the HOF verify ran ~128
    interpreted substring calls PER CANDIDATE PAIR; parsing each row's
    words once before the join makes the per-pair cost 2 xors + 2
    popcounts).  Caller contract (unchanged from the character-diff
    form): the column contains only '0'/'1' characters of the
    validated width."""
    c = col if isinstance(col, Column) else F.col(col)
    return [
        F.conv(F.substring(c, i * 32 + 1, 32), 2, 10).cast("long")
        for i in range((n_bits + 31) // 32)
    ]


def _words_hamming(a_words: list, b_words: list) -> Column:
    """Hamming distance between two parsed word lists (codegen)."""
    ham = None
    for wa, wb in zip(a_words, b_words):
        term = F.bit_count(wa.bitwiseXOR(wb))
        ham = term if ham is None else ham + term
    return ham


def bitstring_hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bits: int = 64,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs among BITSTRING fingerprints ('0'/'1' character
    strings — e.g. the image aHash of ``multimodal.ahash_bits``) with
    Hamming distance <= ``max_hamming``.

    Banded like :func:`simhash_pairs` (``n_bands`` equal substring
    chunks; pigeonhole: any pair within Hamming ``n_bands - 1`` shares
    a chunk, so the default 4x16 bands are COMPLETE for the default
    radius 3), candidates verified with an exact character-diff count.
    The caller should pass DISTINCT fingerprints with a representative
    id (dedup machinery rides the fingerprint universe, which is
    bounded by distinct imagery, not the corpus).  Returns (id_a,
    id_b, hamming)."""
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} not divisible by n_bands={n_bands}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding is only complete for max_hamming <= {n_bands - 1} "
            f"(got {max_hamming}); raise n_bands"
        )
    blen = n_bits // n_bands
    # fail LOUD if any fingerprint disagrees with n_bits: substring
    # past end returns '' on BOTH sides, so trailing bits would be
    # silently ignored and band keys would truncate — wrong duplicate
    # pairs with no error (same guard as the streaming twin
    # media_dedup_at_ingest; round-7 ADVICE finding).  The check is
    # LAZY — an assert_true folded into the fingerprint projection, so
    # it surfaces on the existing scan instead of an eager extra job
    # per call (round-8 ADVICE: per-micro-batch callers paid a full
    # fingerprint-table scan just for the guard).
    checked = F.expr(
        f"CASE WHEN assert_true(length(__h) = {int(n_bits)}, "
        f"concat('fingerprint ', CAST(__id AS STRING), ' is ', "
        f"CAST(length(__h) AS STRING), ' bits, n_bits={int(n_bits)}"
        f" — pass the matching n_bits')) IS NULL THEN __h END"
    )
    n_words = (n_bits + 31) // 32
    fp = (
        df.select(F.col(id_col).alias("__id"), F.col(hash_col).alias("__h"))
        .select("__id", checked.alias("__h"))
        # parse each fingerprint into integer words ONCE per row (see
        # _bitstring_words): the verify after the band join is then
        # pure codegen bit_count(xor) per candidate pair
        .select(
            "__id",
            "__h",
            *[
                w.alias(f"__w{i}")
                for i, w in enumerate(_bitstring_words(F.col("__h"), n_bits))
            ],
        )
    )
    bands = F.array(
        *[F.substring("__h", i * blen + 1, blen) for i in range(n_bands)]
    )
    banded = fp.select(
        "__id",
        *[f"__w{i}" for i in range(n_words)],
        F.posexplode(bands).alias("__band", "__bkey"),
    ).repartition("__band", "__bkey")  # one reused exchange for the self-join
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bkey") == F.col("b.__bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            *[F.col(f"a.__w{i}").alias(f"__wa{i}") for i in range(n_words)],
            *[F.col(f"b.__w{i}").alias(f"__wb{i}") for i in range(n_words)],
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = _words_hamming(
        [F.col(f"__wa{i}") for i in range(n_words)],
        [F.col(f"__wb{i}") for i in range(n_words)],
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine)
# ---------------------------------------------------------------------------


def _as_double(vec) -> Column:
    return F.transform(vec if isinstance(vec, Column) else F.col(vec), lambda x: x.cast("double"))


def topk_centroid_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: DataFrame,
    nprobe: int,
    keep_vec: bool = False,
) -> DataFrame:
    """Top-``nprobe`` centroid assignment — BIT-IDENTICAL to the
    expression form ``crossJoin(broadcast(cents)) + cosine_similarity
    + row_number over (csim desc, __list asc)`` but vectorized ACROSS
    ROWS and sequential ACROSS DIMS (r11, guide §4.2): the expression
    path pays one interpreted HOF fold per (row, centroid) —
    ~20-30µs/pair, and measured as a 66s SINGLE-TASK wall at synth1.0
    (20k vectors x 141 centroids collapse into one AQE-coalesced
    partition).  Sequential-across-dims numpy (acc += m[:,d]*c[d])
    reproduces the fold's exact IEEE add order per row, so every
    cosine is the same double; exact csim ties break by __list
    ascending (stable argsort over list-ordered columns).  Zero-norm /
    NULL vectors rank LAST — strictly MORE defined than the expression
    form, which raises DIVIDE_BY_ZERO under ANSI on a zero norm, so
    behavior on the shared (valid) domain is identical.  Equivalence
    is pinned by
    tests/test_r11_kernels.py::test_topk_centroid_assign_matches_window.

    ``cents`` is the (__list, __cent) DataFrame or its pre-collected
    [(list_id, [floats])] rows (a streaming caller collects once, not
    per micro-batch).  Returns (id, [vec,] __list, __rk) with __rk in
    1..nprobe.  NaN embedding values are out of contract (the window
    ranks NaN first on desc; no corpus here produces NaN cosines)."""
    import numpy as np
    import pandas as pd

    cent_rows = cents if isinstance(cents, list) else [
        (int(r["__list"]), [float(x) for x in r["__cent"]])
        for r in cents.collect()
    ]
    crows = sorted(cent_rows, key=lambda t: t[0])
    id_t = df.schema[id_col].dataType.simpleString()
    lt = (
        "bigint"
        if isinstance(cents, list)
        else cents.schema["__list"].dataType.simpleString()
    )
    vec_part = f", {vec_col} array<double>" if keep_vec else ""
    out_schema = f"{id_col} {id_t}{vec_part}, __list {lt}, __rk int"
    if not crows:
        # no centroids: the cross join of the expression form is empty
        return df.sparkSession.createDataFrame([], out_schema)
    lists = np.array([t[0] for t in crows], dtype=np.int64)
    cm = np.array([t[1] for t in crows], dtype=np.float64)  # k x dim
    k, dim = cm.shape
    nb = np.empty(k, dtype=np.float64)
    for j in range(k):
        acc = 0.0
        for x in cm[j]:
            acc += x * x  # the fold's sequential order, python doubles
        nb[j] = acc
    nb = np.sqrt(nb)
    n_keep = min(int(nprobe), k)

    def assign(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vv = pdf[vec_col].tolist()
            null_rows = np.array([x is None for x in vv])
            m = np.array(
                [([0.0] * dim if x is None else x) for x in vv],
                dtype=np.float64,
            )
            # sequential-across-dims folds: same IEEE add order as the
            # zip_with/aggregate expression, vectorized across rows
            na_acc = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                na_acc = na_acc + m[:, d] * m[:, d]
            na = np.sqrt(na_acc)
            scores = np.empty((n, k), dtype=np.float64)
            for j in range(k):
                dot = np.zeros(n, dtype=np.float64)
                c = cm[j]
                for d in range(dim):
                    dot = dot + m[:, d] * c[d]
                scores[:, j] = dot / (na * nb[j])
            # NULL cosine (zero-norm row/centroid, NULL vector): ranks
            # LAST under desc, ties by __list asc — encode as -inf and
            # let the stable argsort's column order break ties
            scores[np.isnan(scores)] = -np.inf
            if null_rows.any():
                scores[null_rows, :] = -np.inf
            order = np.argsort(-scores, axis=1, kind="stable")[:, :n_keep]
            out = {
                id_col: np.repeat(pdf[id_col].to_numpy(), n_keep),
                "__list": lists[order].ravel(),
                "__rk": np.tile(np.arange(1, n_keep + 1), n),
            }
            cols = [id_col, "__list", "__rk"]
            if keep_vec:
                out[vec_col] = [
                    v for v in vv for _ in range(n_keep)
                ]
                cols = [id_col, vec_col, "__list", "__rk"]
            yield pd.DataFrame({c: out[c] for c in cols})

    return df.select(id_col, vec_col).mapInPandas(assign, out_schema)


def cosine_similarity(a, b) -> Column:
    """Exact cosine between two array<numeric> columns (JVM fold)."""
    av, bv = _as_double(a), _as_double(b)
    dot = F.aggregate(
        F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(av, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(bv, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return dot / (na * nb)


def _all_pairs_cosine_blocked(
    v: DataFrame, threshold: float, blocks: int = 8
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, blocked for scale: rows are
    hashed into ``blocks`` blocks and replicated to every block *pair*
    (factor ~blocks/2 per row), then each of the blocks·(blocks+1)/2
    groups computes its cross-similarities as ONE BLAS matmul in an
    Arrow-batched applyInPandas.  Shuffled volume is n·(blocks+1)/2
    rows of compact vectors; no row-at-a-time O(n²) join ever exists in
    the plan.  Each unordered pair lands in exactly one group (its
    sorted block pair), so no dedup pass is needed.  The final
    round/threshold runs JVM-side so rounding semantics (HALF_UP)
    match the expression path exactly."""
    import numpy as np
    import pandas as pd

    pair_keys = [(i, j) for i in range(blocks) for j in range(i, blocks)]
    pairs_of_block = [
        [k for k, (i, j) in enumerate(pair_keys) if i == b or j == b]
        for b in range(blocks)
    ]

    grp_lists = F.array(
        *[F.array(*[F.lit(p) for p in ps]) for ps in pairs_of_block]
    )
    tagged = v.select(
        "__id",
        "__v",
        F.pmod(F.xxhash64("__id"), F.lit(blocks)).cast("int").alias("__blk"),
    ).withColumn("__grp", F.explode(F.element_at(grp_lists, F.col("__blk") + 1)))

    def cross_sim(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = pair_keys[int(pdf["__grp"].iloc[0])]
        m = np.array(pdf["__v"].tolist(), dtype=np.float64)
        ids = pdf["__id"].to_numpy()
        blk = pdf["__blk"].to_numpy()
        # zero-norm vectors have no defined cosine: drop them, matching
        # the expression path (x / 0 -> NULL -> filtered by threshold)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        nz = norms[:, 0] > 0
        if not nz.all():
            m, ids, blk, norms = m[nz], ids[nz], blk[nz], norms[nz]
        m = m / norms
        if i == j:
            sims = m @ m.T
            ai, bi = np.triu_indices(len(ids), k=1)
            cos = sims[ai, bi]
        else:
            ia, ib = np.where(blk == i)[0], np.where(blk == j)[0]
            if len(ia) == 0 or len(ib) == 0:
                return pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
            sims = m[ia] @ m[ib].T  # |block i| x |block j|
            ai = np.repeat(ia, len(ib))
            bi = np.tile(ib, len(ia))
            cos = sims.ravel()
        # pre-filter slack must exceed HALF THE ROUNDING STEP: the JVM
        # side keeps a pair iff round(cos, 4) >= threshold, so a raw
        # cos as low as threshold - 5e-5 still rounds up into the kept
        # set — a 1e-6 margin here silently dropped that band before
        # the exact filter ever saw it (round-5 review finding)
        keep = cos >= threshold - 5.1e-5  # final exact filter is JVM-side
        a_ids, b_ids = ids[ai[keep]], ids[bi[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a_ids, b_ids),
                "id_b": np.maximum(a_ids, b_ids),
                "__cos": cos[keep],
            }
        )

    # id columns inherit the caller's id type (same rule as the
    # cross-set kernels — round-6 second-review finding: the triplet
    # miner's positive leg crashes on string ids with a hardcoded long)
    id_t = v.schema["__id"].dataType.simpleString()
    out = tagged.groupBy("__grp").applyInPandas(
        cross_sim, f"id_a {id_t}, id_b {id_t}, __cos double"
    )
    return (
        out.withColumn("cos", F.round("__cos", 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _cross_block_tag(df: DataFrame, side: int, blocks: int) -> DataFrame:
    """Replicate one side of a cross-set kernel to its block-pair
    groups: an A-row (side 0) goes to the ``blocks`` groups of its
    row, a B-row (side 1) to the ``blocks`` groups of its column."""
    blk = F.pmod(F.xxhash64("__id"), F.lit(blocks)).cast("int")
    grp_ids = (
        F.transform(
            F.sequence(F.lit(0), F.lit(blocks - 1)),
            lambda k: blk * blocks + k,
        )
        if side == 0
        else F.transform(
            F.sequence(F.lit(0), F.lit(blocks - 1)),
            lambda k: k * blocks + blk,
        )
    )
    return df.select(
        "__id", "__v", F.lit(side).alias("__side"),
        F.explode(grp_ids).alias("__grp"),
    )


def _cross_hard_negative_candidates_blocked(
    a: DataFrame, b: DataFrame, neg_max: float, blocks: int = 4
) -> DataFrame:
    """Candidate rows for the per-A-row HARDEST-NEGATIVE argmax
    (highest cosine at ``round(cos,4) <= neg_max``), blocked like the
    pair kernels: each blocks² group computes its |A_i| x |B_j| sims
    as one BLAS matmul and emits, per A-row, a provable superset of
    the global rounded-argmax winner; the caller applies the exact JVM
    round/filter/argmax to the tiny candidate set.

    Retention proof (rows partitioned by raw cosine against the pass
    boundary ``neg_max + 5e-5``, above which HALF_UP rounds past
    ``neg_max``): DEFINITE passers (raw < boundary - 1e-9 — the 1e-9
    margin dwarfs the double/decimal conversion gap) anchor the
    group-local max; every definite passer whose ROUNDED value equals
    the group's best is within 1.01e-4 of that max (two half-rounding
    steps), so the 2.1e-4 window retains it.  UNCERTAIN rows (raw
    within [boundary - 1e-9, boundary + 1e-6]) are kept
    unconditionally — the sliver where numpy cannot decide the JVM
    round — and crucially NEVER anchor the max: a row that rounds
    ABOVE neg_max sitting in the window would otherwise evict the true
    winner (round-6 second-review finding).  Emitted volume is
    ~|A| x blocks² x (ties), never |A| x |B|."""
    import numpy as np
    import pandas as pd

    tagged = _cross_block_tag(a, 0, blocks).unionByName(
        _cross_block_tag(b, 1, blocks)
    )

    def cand(pdf: pd.DataFrame) -> pd.DataFrame:
        sides = pdf["__side"].to_numpy()
        ia, ib = np.where(sides == 0)[0], np.where(sides == 1)[0]
        if len(ia) == 0 or len(ib) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
        m = np.array(pdf["__v"].tolist(), dtype=np.float64)
        ids = pdf["__id"].to_numpy()
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        nz = norms[:, 0] > 0
        norms[~nz] = 1.0
        m = m / norms
        A, B = m[ia][nz[ia]], m[ib][nz[ib]]
        a_ids, b_ids = ids[ia][nz[ia]], ids[ib][nz[ib]]
        if len(A) == 0 or len(B) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
        sims = A @ B.T
        boundary = neg_max + 5e-5  # HALF_UP pass boundary at 4dp
        definite = sims < boundary - 1e-9
        uncertain = (sims >= boundary - 1e-9) & (sims <= boundary + 1e-6)
        out_a, out_b, out_c = [], [], []
        for i in range(len(A)):
            row = sims[i]
            d_i, u_i = definite[i], uncertain[i]
            keep = u_i.copy()
            if d_i.any():
                # max over DEFINITE passers only: an uncertain row that
                # rounds above neg_max must never evict the true winner
                keep |= d_i & (row >= row[d_i].max() - 2.1e-4)
            for j in np.where(keep)[0]:
                out_a.append(a_ids[i])
                out_b.append(b_ids[j])
                out_c.append(row[j])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "__cos": out_c})

    id_t = a.schema["__id"].dataType.simpleString()
    return tagged.groupBy("__grp").applyInPandas(
        cand, f"id_a {id_t}, id_b {id_t}, __cos double"
    )


def _cross_pairs_cosine_blocked(
    a: DataFrame, b: DataFrame, threshold: float, blocks: int = 4
) -> DataFrame:
    """Exact CROSS-SET cosine >= threshold between two vector sets
    (columns ``__id``, ``__v`` on both sides) — the two-input twin of
    :func:`_all_pairs_cosine_blocked`, built for the streaming ingest
    verify where every micro-batch scores against a standing index.
    Each side is hashed into ``blocks`` blocks; an A-row replicates to
    the ``blocks`` groups of its row (factor blocks), a B-row to the
    ``blocks`` groups of its column, and each of the blocks² groups
    computes its |A_i| x |B_j| similarities as ONE BLAS matmul in an
    Arrow-batched applyInPandas — no row-at-a-time pair join exists in
    the plan.  Shuffled volume is (|A| + |B|) * blocks compact vector
    rows; at 100 TB the standing side is the big one, so ``blocks``
    bounds its replication factor while every group stays matmul-sized.
    Returns (id_a, id_b, cos) with the same JVM-side HALF_UP round /
    threshold contract (and the same half-rounding-step pre-filter
    slack) as the all-pairs kernel."""
    import numpy as np
    import pandas as pd

    tagged = _cross_block_tag(a, 0, blocks).unionByName(
        _cross_block_tag(b, 1, blocks)
    )

    def cross_sim(pdf: pd.DataFrame) -> pd.DataFrame:
        sides = pdf["__side"].to_numpy()
        ia, ib = np.where(sides == 0)[0], np.where(sides == 1)[0]
        if len(ia) == 0 or len(ib) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
        m = np.array(pdf["__v"].tolist(), dtype=np.float64)
        ids = pdf["__id"].to_numpy()
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        nz = norms[:, 0] > 0  # zero-norm: no defined cosine (expression
        norms[~nz] = 1.0      # path yields NULL -> threshold-filtered)
        m = m / norms
        sims = m[ia][nz[ia]] @ m[ib][nz[ib]].T
        a_ids = np.repeat(ids[ia][nz[ia]], sims.shape[1])
        b_ids = np.tile(ids[ib][nz[ib]], sims.shape[0])
        cos = sims.ravel()
        # pre-filter slack > half the 4dp rounding step (see the
        # all-pairs kernel note: a raw cos of threshold - 5e-5 still
        # rounds UP into the kept set)
        keep = cos >= threshold - 5.1e-5
        return pd.DataFrame(
            {"id_a": a_ids[keep], "id_b": b_ids[keep], "__cos": cos[keep]}
        )

    # id columns inherit the CALLER's id type (string urls, longs, ...)
    # — a hardcoded 'long' here would break the Arrow conversion for
    # any non-integer id (round-6 review finding)
    id_t = a.schema["__id"].dataType.simpleString()
    out = tagged.groupBy("__grp").applyInPandas(
        cross_sim, f"id_a {id_t}, id_b {id_t}, __cos double"
    )
    return (
        out.withColumn("cos", F.round("__cos", 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    planes: int = 16,
    bands: int = 4,
    brute_force: bool = False,
) -> DataFrame:
    """Pairs with cosine similarity >= ``threshold``.

    Default path: random-hyperplane LSH — ``planes`` sign bits from
    seeded xxhash64-derived pseudo-random hyperplanes, banded into
    ``bands`` bucket keys; candidates sharing a band verify by exact
    cosine.  ``brute_force=True`` skips bucketing (exact recall; the
    oracle path for modest n).  Returns (id_a, id_b, cos) with cos
    rounded to 4dp.
    """
    # Norms are computed once per row (pre-join) so each of the O(n^2)
    # candidate pairs evaluates a single dot-product fold; the arithmetic
    # (dot / (na * nb)) is identical to cosine_similarity term for term.
    v = (
        df.select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v"))
        .repartition("__id")  # spread vector math across cores
        .withColumn(
            "__n",
            F.sqrt(
                F.aggregate(
                    F.transform("__v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
                )
            ),
        )
    )
    if brute_force:
        return _all_pairs_cosine_blocked(v, threshold)
    else:
        # plane p component d = a deterministic pseudo-random unit in
        # [-1, 1): xxhash64(p, d) scaled — seeded, engine-independent.
        # The sign bits materialize in their own projection (the old
        # inline form re-inlined all `planes` folds into every
        # element_at reference) and both wide trees are generated SQL
        # through one F.expr each (r11, guide §7.3 — the shared
        # builders in operators/similarity.py).
        from .similarity import _band_keys_sql, _hyperplane_bits

        with_bits = v.select(
            "__id", "__v", "__n",
            _hyperplane_bits("__v", planes).alias("__bits"),
        )
        hashed = with_bits.select(
            "__id", "__v", "__n",
            F.posexplode(_band_keys_sql("__bits", planes, bands)).alias(
                "__band", "__bkey"
            ),
        ).repartition("__band", "__bkey")  # one reused exchange for the self-join
        a, b = hashed.alias("a"), hashed.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__bkey") == F.col("b.__bkey"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(
                F.col("a.__id").alias("id_a"),
                F.col("b.__id").alias("id_b"),
                F.col("a.__v").alias("__va"),
                F.col("b.__v").alias("__vb"),
                F.col("a.__n").alias("__na"),
                F.col("b.__n").alias("__nb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("__na") * F.col("__nb"))
    return (
        cand.withColumn("cos", F.round(cos, 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------------------------------------------------------------------------
# Verbatim shared-span detection (exact substring overlap)
# ---------------------------------------------------------------------------


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 6,
    min_span_tokens: int = 10,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Pairs of documents sharing a VERBATIM token span of at least
    ``min_span_tokens`` tokens — exact substring overlap, the signal
    behind suffix-array training-data dedup (set-overlap Jaccard can't
    see it: two long documents sharing one copied paragraph have tiny
    Jaccard but a long shared span).

    Positional k-gram inverted index -> matches land on diagonals
    (pos_a - pos_b constant for a contiguous copy) -> gaps-and-islands
    per (pair, diagonal) turns consecutive matching k-grams into runs;
    a run of r k-grams certifies a span of r + k - 1 verbatim tokens.
    All codegen window/join work; one self-join shuffle on the k-gram
    key, hot-k-gram guarded like :func:`ngram_jaccard_pairs`.

    Returns (id_a, id_b, max_span_tokens, n_spans).
    """
    from pyspark.sql import Window

    sh = exploded_shingles(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")),
        "__id",
        "__t",
        k,
        keep_pos=True,
    )
    if max_shingle_df is not None:
        # true DOCUMENT frequency (distinct docs per k-gram, matching
        # ngram_jaccard_pairs' semantics — a k-gram repeated many times
        # inside ONE degenerate doc must not trip the guard)
        hot = (
            sh.groupBy("__s")
            .agg(F.countDistinct("__id").alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("__s")
        )
        if not hot.isEmpty():
            # boilerplate k-grams would quadratically blow the self-join;
            # dropping them can only SPLIT a span, never invent one
            sh = sh.join(F.broadcast(hot), "__s", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    m = a.join(
        b,
        (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")),
    ).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.col("a.__p").alias("pa"),
        F.col("b.__p").alias("pb"),
    )
    m = m.withColumn("diag", F.col("pa") - F.col("pb"))
    w2 = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = m.withColumn("grp", F.col("pa") - F.row_number().over(w2))
    spans = (
        runs.groupBy("id_a", "id_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("__run"))
        .withColumn("span_tokens", F.col("__run") + F.lit(k - 1))
        .filter(F.col("span_tokens") >= min_span_tokens)
    )
    return spans.groupBy("id_a", "id_b").agg(
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
    )



def _strip_flagged_grams(
    df: DataFrame, id_col: str, text_col: str, k: int, flagged
) -> DataFrame:
    """Shared removal tail for the span-stripping operators: expand the
    flagged positional grams (``__id``, ``__p``) into covered token
    positions, anti-join them out of the posexploded token table, and
    rebuild each document (order-pinned struct sort) — every input doc
    returns, fully-cut ones as ``n_kept = 0`` / empty text.  The
    position explode is bounded by k x flagged grams; documents shuffle
    once, for the rebuild."""
    from ..functions.text import token_count

    removed = (
        flagged.select(
            "__id",
            F.explode(F.sequence(F.col("__p"), F.col("__p") + (k - 1))).alias(
                "__rp"
            ),
        )
        .distinct()
    )
    toks = df.select(
        F.col(id_col).alias("__id"), F.posexplode(tokens(text_col)).alias("__tp", "__w")
    )
    kept = toks.join(
        removed,
        (toks["__id"] == removed["__id"]) & (toks["__tp"] == removed["__rp"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tp", "__w"))),
                lambda s: s["__w"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col), token_count(text_col).alias("__n"))
        .join(rebuilt.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("__n") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def strip_shared_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """REMOVE cross-document verbatim spans: every token covered by a
    ``k``-gram that appears in at least ``min_docs`` DISTINCT documents
    is cut, and the document is rebuilt from the surviving tokens —
    the removal step of suffix-array training-data dedup (detection is
    :func:`shared_span_pairs`), which drops the copied paragraph while
    keeping the rest of the document instead of discarding whole docs.

    Semantics: a shared span of s >= k verbatim tokens is covered by
    s - k + 1 overlapping duplicated k-grams, so exactly its s tokens
    are flagged; spans shorter than ``k`` are below the resolution and
    survive (choose ``k`` = the minimum span worth cutting).  Within-
    document repeats do NOT flag (distinct-doc frequency), and every
    input document appears in the output — fully-copied docs come back
    with ``n_kept = 0`` and an empty ``clean_text``.

    Scale shape: one k-gram groupBy (map-side combinable distinct-doc
    count), one semi-join of positional grams against the duplicated
    set, one position explode bounded by k x flagged grams, and one
    per-doc reassembly aggregation — candidate volume rides the
    DUPLICATED gram count, never all-pairs; documents themselves are
    only shuffled once, for the rebuild.

    Returns (id_col, n_kept, n_removed, clean_text) with
    whitespace-normalized ``clean_text`` (single-space joined).
    """
    from ..functions.text import exploded_shingles

    ids = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    sh = exploded_shingles(ids, "__id", "__t", k, keep_pos=True)
    dup = (
        sh.groupBy("__s")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__s")
    )
    flagged = sh.join(dup, "__s", "left_semi")
    return _strip_flagged_grams(df, id_col, text_col, k, flagged)


def strip_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    k: int = 8,
) -> DataFrame:
    """Surgical decontamination: instead of DROPPING every document
    sharing a ``k``-gram with the benchmark suite
    (``operators.prep.decontaminate``), cut only the tokens covered by
    a benchmark ``k``-gram and keep the rest of the document — the
    span-removal machinery of :func:`strip_shared_spans` pointed at an
    external reference corpus.  At web scale whole-doc dropping
    overshoots badly (one quoted eval question deletes a long
    document); this keeps the unleaked tokens in the training mix.

    Scale shape: the benchmark gram set is distinct-aggregated once
    and is usually broadcastable (eval suites are small against a
    100 TB corpus); corpus grams meet it in one semi-join, everything
    else is the same bounded position-explode + per-doc rebuild.

    Returns (id_col, n_kept, n_removed, clean_text).
    """
    from ..functions.text import bench_gram_set, exploded_shingles

    bench_text_col = bench_text_col or text_col
    bench_sh = bench_gram_set(benchmark, bench_text_col, k)
    ids = docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    sh = exploded_shingles(ids, "__id", "__t", k, keep_pos=True)
    flagged = sh.join(F.broadcast(bench_sh), "__s", "left_semi")
    return _strip_flagged_grams(docs, id_col, text_col, k, flagged)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster, then prune within clusters)
# ---------------------------------------------------------------------------


def semantic_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_centroids: int | None = 16,
    nprobe: int = 2,
    seed: int = 42,
    centroids: DataFrame | None = None,
    _force_bucketed: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs: seeded spherical
    k-means clusters (``similarity.train_ivf_centroids`` — the trained
    IVF centroid path), candidate pairs generated ONLY within shared
    clusters, then verified by exact cosine ``>= threshold``.

    Candidate rule: (x, y) is a candidate iff x's TOP-1 cluster is
    among y's ``nprobe`` nearest clusters, or vice versa.  ``nprobe=1``
    is the classic SemDeDup within-cluster prune (pairs straddling a
    centroid boundary are missed — the bet the SemDeDup paper makes
    for tight duplicates); 2+ catches boundary pairs;
    ``nprobe = n_centroids`` makes the candidate set provably ALL
    pairs (every vector probes every cluster), so the operator
    delegates that case to the blocked exact BLAS kernel
    (``_all_pairs_cosine_blocked``) instead of materializing the same
    pair set through k-fold-redundant bucket joins — output identical
    by construction (``tests/test_semantic_dedup.py`` pins the
    bucketed path against it at probe-all via ``_force_bucketed``).
    This is the same probe-all-equals-brute-force contract as
    ``ann_ivf_topk``, and it is what lets the battery entry hold the
    machine to an exact all-pairs oracle.

    Candidate volume at selective nprobe is sum over clusters of
    |top-1 members| x |probe members| — bounded by cluster sizes times
    nprobe, never all-pairs.  Candidates travel as SKINNY (id, id)
    rows; vectors re-attach by hash join after the distinct.

    ``n_centroids=None`` derives the PRODUCTION setting from the
    corpus: ~sqrt(n) centroids (one bounded count job, floored at 2).
    At fixed centroid count, 50x the vectors in the same k clusters
    grows candidates ~n²/k; scaling k ∝ sqrt(n) keeps the expected
    per-cluster size at ~sqrt(n), so total candidate volume
    k·(n/k)²·nprobe = n²·nprobe/k rides ~n^1.5 instead of n² —
    measured near-linear in SCALING.md's sqrt-n sweep: 2.3s/6.5s/16.8s
    warm across 550/2.2k/11k planted corpora (k = 23/47/105) WITH the
    planted-recall contract (exact plants 100%, scaled plants >= 99%)
    holding at every tier; the fixed-16 configuration costs 24.5s at
    the same 50x point and diverges quadratically beyond it.  Pass an
    explicit ``n_centroids`` only to pin deterministic cluster
    membership (the battery's planted-recall gate does).

    Returns (id_a, id_b, cos) with cos rounded to 4 (matching the
    DuckDB oracle's rounding), id_a < id_b, each pair exactly once.
    """
    from pyspark.sql.window import Window

    from .similarity import train_ivf_centroids

    if n_centroids is None:
        if centroids is not None:
            n_centroids = centroids.count()  # bounded: one row/centroid
        else:
            n_centroids = max(2, int(round(df.count() ** 0.5)))

    v = df.select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v"))
    if nprobe >= n_centroids and not _force_bucketed:
        return _all_pairs_cosine_blocked(v, threshold)

    cents = centroids if centroids is not None else train_ivf_centroids(
        df, vec_col, n_centroids=n_centroids, seed=seed
    )
    # top-nprobe assignment as the row-vectorized kernel (r11): the
    # old crossJoin + HOF cosine + row_number window paid an
    # interpreted fold per (row, centroid) and collapsed into ONE
    # AQE-coalesced task — a 66s serial wall at synth1.0 (SCALING.md);
    # the kernel is bit-identical on the valid domain (see
    # topk_centroid_assign)
    assign = topk_centroid_assign(v, "__id", "__v", cents, nprobe)
    # Candidate generation + verification as ONE grouped BLAS kernel
    # per cluster (the r10 swap): the old skinny-pair join + per-pair
    # HOF cosine fold ran at the documented interpreted-expression
    # floor (~0.1M pairs/s, SCALING.md) while the matmul kernels run
    # ~170M pairs/s.  At selective nprobe every candidate pair lives
    # inside one cluster's member set, so the per-cluster
    # |top-1 members| x |probe members| similarity block is one
    # matmul.  Vectors re-attach to the skinny assignment by ONE hash
    # join; shuffled volume is n x nprobe compact vector rows —
    # strictly less than the old path's candidate-pair x 2 vector
    # joins.
    import numpy as np
    import pandas as pd

    rows = assign.join(v, "__id")

    def cluster_sim(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.array(pdf["__v"].tolist(), dtype=np.float64)
        ids = pdf["__id"].to_numpy()
        rk = pdf["__rk"].to_numpy()
        # zero-norm vectors have no defined cosine: drop them, matching
        # the expression path (x / 0 -> NULL -> threshold-filtered)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        nz = norms[:, 0] > 0
        if not nz.all():
            m, ids, rk, norms = m[nz], ids[nz], rk[nz], norms[nz]
        ia = np.where(rk == 1)[0]  # this cluster is their TOP-1
        if len(ia) == 0 or len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
        m = m / norms
        sims = m[ia] @ m.T  # |top-1 members| x |probe members|
        a_ids = np.repeat(ids[ia], len(ids))
        b_ids = np.tile(ids, len(ia))
        cos = sims.ravel()
        # pre-filter slack must exceed HALF THE ROUNDING STEP (the
        # all-pairs kernel's contract): the JVM side keeps a pair iff
        # round(cos, 4) >= threshold, so a raw cos of threshold - 5e-5
        # still rounds up into the kept set
        keep = (cos >= threshold - 5.1e-5) & (a_ids != b_ids)
        a_k, b_k = a_ids[keep], b_ids[keep]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a_k, b_k),
                "id_b": np.maximum(a_k, b_k),
                "__cos": cos[keep],
            }
        )

    id_t = v.schema["__id"].dataType.simpleString()
    out = rows.groupBy("__list").applyInPandas(
        cluster_sim, f"id_a {id_t}, id_b {id_t}, __cos double"
    )
    # A pair can surface in several clusters (x top-1 in Lx with y
    # probing Lx, AND y top-1 in Ly with x probing Ly) and twice
    # inside one cluster (both top-1).  The copies are the same dot
    # product but may differ in the last ulp across matmul blockings;
    # fold with max() so the survivor is deterministic, then apply the
    # exact JVM-side HALF_UP round / threshold — the same contract as
    # the other kernels.
    return (
        out.groupBy("id_a", "id_b")
        .agg(F.max("__cos").alias("__cos"))
        .withColumn("cos", F.round("__cos", 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def pairs_to_comp_map(
    pairs: DataFrame, driver_pair_limit: int = 50_000
) -> DataFrame:
    """Close a duplicate-pair graph (id_a, id_b) into its connected
    components; returns the (node, comp) label map, ``comp`` = the
    component's minimum node id (the canonical survivor).  Only nodes
    appearing in at least one pair are labeled.

    Follows the counted-guard discipline of
    ``curate.apply_near_dedup``: the pair list is COUNTED first, and
    only a measured-small list (<= ``driver_pair_limit``) is collapsed
    by driver union–find (a dup pair list is pair-bounded, typically
    thousands of edges even on a huge corpus); above the limit the
    distributed min-label propagation
    (``graph.connected_components``) runs instead — nothing unbounded
    ever reaches the driver.  Shared by the semantic, text, and image
    (aHash) dedup families — ONE component machine across modalities."""
    from .graph import connected_components

    pairs = pairs.localCheckpoint(eager=False)
    n_pairs = pairs.count()
    if 0 < n_pairs <= driver_pair_limit:
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for row in pairs.select("id_a", "id_b").collect():
            ra, rb = find(row["id_a"]), find(row["id_b"])
            if ra != rb:  # min root wins
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # node type INHERITED from the caller's pair schema (string
        # ids must not crash at driver collapse, and the driver path
        # must agree with the distributed fallback — same pattern as
        # the cross-set cosine kernels; round-7 ADVICE finding)
        node_t = pairs.schema["id_a"].dataType.simpleString()
        return local_frame(pairs.sparkSession, 
            [(x, find(x)) for x in parent],
            f"node {node_t}, comp {node_t}",
        )
    return connected_components(pairs, "id_a", "id_b")


def component_report(comps: DataFrame) -> DataFrame:
    """(node, comp) label map -> one row per duplicate component:
    (comp, n_members, min_id, max_id, n_dropped)."""
    return comps.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_id"),
        F.max("node").alias("max_id"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


def semantic_dedup_components(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    driver_pair_limit: int = 50_000,
    **pair_kwargs,
) -> DataFrame:
    """Cluster-then-prune semantic dedup, collapsed transitively: the
    ``semantic_dup_pairs`` graph closed into connected components
    (:func:`pairs_to_comp_map` — counted driver guard with distributed
    fallback), keeping each component's minimum id as the canonical
    survivor.  Returns one row per duplicate component: (comp,
    n_members, min_id, max_id, n_dropped) — singletons (vectors in no
    pair) are implicitly kept and not reported."""
    pairs = semantic_dup_pairs(df, id_col, vec_col, threshold, **pair_kwargs)
    return component_report(pairs_to_comp_map(pairs, driver_pair_limit))


def doc_hash_embeddings(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 32,
) -> DataFrame:
    """Hashing-trick document embeddings — the model-free entry point
    to semantic dedup: each token hashes to a bucket (md5 hex -> int,
    reproducible bit-exactly in any SQL engine, unlike xxhash chains)
    with a ±1 sign from the next hex digit, and a document's vector is
    the signed token count per bucket (signed to de-bias the
    hashing-trick collisions, the standard feature-hashing trick).
    Documents with identical token multisets map to identical vectors;
    near-duplicates land at cosine ~1.  One corpus pass, one
    (doc, bucket) shuffle, dense ``vec`` arrays built JVM-side.
    Tokenization is ``bpe.corpus_word_stream`` — the one shared corpus
    tokenization rule."""
    from ..operators.bpe import corpus_word_stream

    w = F.col("w")
    bucket = (
        F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long") % dim
    ).alias("__b")
    sign = (
        F.when(
            F.conv(F.substring(F.md5(w), 5, 1), 16, 10).cast("long") % 2 == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("__s")
    )
    agg = (
        corpus_word_stream(documents, text_col, id_col)
        .select(id_col, bucket, sign)
        .groupBy(id_col, "__b")
        .agg(F.sum("__s").cast("double").alias("__v"))
    )
    return agg.groupBy(id_col).agg(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.element_at(
                    F.map_from_entries(
                        F.collect_list(F.struct(F.col("__b"), F.col("__v")))
                    ),
                    i,
                ),
                F.lit(0.0),
            ),
        ).alias("vec")
    )
