"""Battery extension, round 4: production-path promotions flagged by
the round-3 review.

* ``streak_longest_per_user`` — the all-JVM window form of the
  partitioned-TABLE UDTF entry (``udtf_partitioned_streaks``): same
  semantics, zero Python boundary, one exchange.  The UDTF entry stays
  as the Spark 4 table-function API demonstration; this is the
  operator a 100 TB job should call.
* ``weighted_median_price_sketch`` — the scale path for weighted
  quantiles: aggregate weight per (group, value) FIRST (map-side
  combinable; the shuffle carries distinct values, not rows), cumsum
  the tiny binned CDF, read the median.  Also runs the KLL
  weighted-quantile sketch path (map-side expansion, sketch-only
  shuffle) and pins its estimate inside the exact quantile band
  [Q(0.49), Q(0.51)] — the KLL estimate itself is approximate, so the
  oracle pins the band membership boolean rather than the value.
* ``hll_convert_accuracy`` — the reference's conversion-accuracy
  matrix (HLLFunctionsTest.scala:356-386 shape: p=20, n=10000) as a
  driver-gated battery entry: DS within 0.4% of exact, AGKN within
  0.5% of DS, and DS->AGKN == DS->STRM->AGKN exactly (chain equality).
* ``corpus_dup_ngram_fraction`` / ``prep_length_buckets`` — corpus
  curation signal + trainer layout report, both single narrow-shuffle
  aggregations.
* Skew-resilient ordered-window family —
  ``streak_longest_bucketed``, ``session_bucketed_stats``,
  ``asof_bucketed_last_click``, ``ewma_bucketed_daily_revenue``: the
  per-key tape splits into (key, bucket) segments whose summaries
  merge exactly (run algebra / boundary merge / carry join / linear-
  recurrence factoring), so one hot key's history never sits in one
  task.
* ``prep_decontaminate_bloom`` — benchmark-leakage guard with a
  literal word-array Bloom prefilter ahead of the exact verify
  semi-join (identical output, corpus-sized shuffle becomes
  leak-sized).
* ``dedup_strip_shared_spans`` / ``prep_strip_contaminated_spans`` —
  cross-document (resp. benchmark-targeted) verbatim-span REMOVAL:
  positional-gram coverage cut + per-doc rebuild.
* ``stream_dedup_at_ingest`` — stateless stream-static LEFT ANTI
  dedup of arriving docs against standing-corpus fingerprints.
* ``prep_mixture_plan`` — integer-pinned token-budget mixture
  planning (epochs + tail fraction + over-repetition flag).
* ``cms_join_size_estimate`` — count-min inner-product join-size
  estimation from shared-seed sketches (planning without shuffling).
* ``plan_range_partitions_price`` — KLL equi-depth split points for
  repartitionByRange/sorted writes, band-pinned vs exact percentile.
* ``prep_pipeline_report`` — composed dedup -> span-strip ->
  decontaminate chain with a per-stage lineage report.
* ``curate_winsorized_price_stats`` — per-group winsorization
  (broadcast quantile-bounds clamp).
* ``ann_int8_quantization`` / ``ann_int8_topk`` — int8 scalar-
  quantization storage tier + asymmetric serving, recall-pinned.
* ``er_blocked_near_names`` — blocked entity resolution (blocking-key
  hash join + bounded Levenshtein verify).
* ``bpe_first_merges`` — BPE merge-step pair counting over the
  distinct-word table.
* ``prep_sft_pairs_report`` — SFT pair assembly + validation audit
  (template render, ratio/floor flags, duplicate-prompt leakage).
* Evaluation tier — ``drift_ks_price_by_returnflag`` (two-sample KS in
  integer ppm, binning-free complement to PSI),
  ``text_langid_confusion`` (classifier confusion matrix vs labels),
  ``rank_mrr_bm25`` (retrieval MRR against a replayable judgment).

Same determinism conventions as queries.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import hll
from .queries import _EXACT_SD, _t, query

# ---------------------------------------------------------------------------
# Longest streak: production JVM window path
# ---------------------------------------------------------------------------


@query(
    "streak_longest_per_user",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, event_type, ts, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM s
    ),
    runs AS (
      -- run start = lexicographic min of the (ts, event_id) PAIR: the
      -- run's first row in scan order.  min(ts), min(event_id) taken
      -- separately diverges from the engine when a tied-length run has
      -- a later first row but a smaller event_id deeper inside
      SELECT user_id, event_type, grp, count(*) AS len,
             min({'t': ts, 'e': event_id}) AS s0
      FROM g GROUP BY user_id, event_type, grp
    ),
    best AS (
      SELECT user_id, event_type AS best_type, len,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, s0.t, s0.e) AS rn
      FROM runs
    ),
    n AS (SELECT user_id, count(*) AS nr FROM events GROUP BY user_id)
    SELECT b.user_id, best_type, CAST(len AS INT) AS best_streak,
           CAST(nr AS INT) AS n_rows
    FROM best b JOIN n ON n.user_id = b.user_id WHERE rn = 1
    """,
)
def streak_longest_per_user(spark, sf_dir):
    """Longest same-type event streak per user via pure window algebra
    (``operators.temporal.longest_streak``) — the production form of
    ``udtf_partitioned_streaks``: identical output, no Python
    boundary, one exchange (the run/best windows partition by
    supersets of user_id and reuse its hashpartitioning)."""
    from .operators.temporal import longest_streak

    (events,) = _t(spark, sf_dir, "events")
    return longest_streak(events, "user_id", "event_type", ["ts", "event_id"])


@query(
    "streak_longest_bucketed",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, event_type, ts, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM s
    ),
    runs AS (
      -- run start = lexicographic min of the (ts, event_id) PAIR: the
      -- run's first row in scan order.  min(ts), min(event_id) taken
      -- separately diverges from the engine when a tied-length run has
      -- a later first row but a smaller event_id deeper inside
      SELECT user_id, event_type, grp, count(*) AS len,
             min({'t': ts, 'e': event_id}) AS s0
      FROM g GROUP BY user_id, event_type, grp
    ),
    best AS (
      SELECT user_id, event_type AS best_type, len,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, s0.t, s0.e) AS rn
      FROM runs
    ),
    n AS (SELECT user_id, count(*) AS nr FROM events GROUP BY user_id)
    SELECT b.user_id, best_type, CAST(len AS INT) AS best_streak,
           CAST(nr AS INT) AS n_rows
    FROM best b JOIN n ON n.user_id = b.user_id WHERE rn = 1
    """,
)
def streak_longest_bucketed(spark, sf_dir):
    """The SKEW-RESILIENT form of ``streak_longest_per_user``
    (``operators.temporal.longest_streak_bucketed``): identical
    semantics (same oracle), but no task ever holds one user's full
    history — per-(user, hour-bucket) run summaries merge through a
    per-user suffix+prefix chain fold, so a viral key at 100 TB
    parallelizes across keys x buckets instead of pinning one sorted
    partition (ordered windows cannot be AQE-split).  Equivalence to
    the exact operator is property-tested across bucket widths."""
    from pyspark.sql import functions as F

    from .operators.temporal import longest_streak_bucketed

    (events,) = _t(spark, sf_dir, "events")
    return longest_streak_bucketed(
        events, "user_id", "event_type", "ts", "event_id",
        bucket=F.date_trunc("hour", F.col("ts")),
    )


# ---------------------------------------------------------------------------
# Weighted median: binned-CDF scale path + KLL sketch path
# ---------------------------------------------------------------------------


@query(
    "weighted_median_price_sketch",
    """
    WITH b AS (
      SELECT l_returnflag, l_extendedprice AS price,
             sum(l_quantity) AS wt
      FROM lineitem GROUP BY l_returnflag, l_extendedprice),
    c AS (
      SELECT l_returnflag, price, wt,
             sum(wt) OVER (PARTITION BY l_returnflag ORDER BY price
                           ROWS UNBOUNDED PRECEDING) AS cum,
             sum(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM b)
    SELECT l_returnflag, round(min(price), 2) AS weighted_median,
           TRUE AS kll_rank_ok
    FROM c WHERE cum * 2 >= total GROUP BY l_returnflag
    """,
)
def weighted_median_price_sketch(spark, sf_dir):
    """Quantity-weighted median price per return flag, the 100 TB way:
    aggregate weight per (flag, price) first — map-side combinable, the
    shuffle carries DISTINCT prices, not rows — then one window cumsum
    over the tiny binned CDF (``weighted_median_price`` sorts every row
    instead; its own docstring says to prefer this at 100x).

    Alongside, the KLL sketch path
    (``functions.sketches.kll_weighted_quantiles``: values offered
    weight times map-side, sketch-only shuffle) estimates the same
    median; the check pins it INSIDE the exact quantile band
    [Q(0.49), Q(0.51)].  A value-domain band, not a rank band: KLL's
    guarantee at k=8192 is ~7e-4 normalized rank error (14x inside
    1%), and comparing VALUES keeps the boolean deterministic even
    when a single heavy (flag, price) atom straddles the median — an
    inclusive-rank check would jump past 0.51 on such an atom no
    matter how exact the sketch.  k=8192 not 65535 because update cost
    grows with k and the expansion multiplies input volume by mean
    weight.

    The verification stage runs on a PINNED QUARTER-SLICE
    (``l_orderkey % 4 == 0``, deterministic), with the band read off
    that slice's own CDF: the sketch machinery is exercised end to end
    (map-side expansion, sketch-only shuffle, merged quantile read —
    still ~25x the slice's row count in offers) while the entry stops
    paying the full corpus through the sketch twice; the exact product
    path above stays full-corpus (VERDICT r4 task 5 — the cost was the
    check, not the operator)."""
    from .functions.sketches import kll_weighted_quantiles

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    binned = lineitem.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum("l_quantity").alias("wt"))
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = binned.select(
        "l_returnflag",
        "price",
        "wt",
        F.sum("wt").over(cum_w).alias("cum"),
        F.sum("wt").over(Window.partitionBy("l_returnflag")).alias("total"),
    )
    exact = (
        cdf.filter(F.col("cum") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.round(F.min("price"), 2).alias("weighted_median"))
    )

    vslice = lineitem.filter(F.col("l_orderkey") % 4 == 0)
    kll = kll_weighted_quantiles(
        vslice, ["l_returnflag"], "l_extendedprice", "l_quantity",
        ranks=[0.5], k=8192,
    ).select("l_returnflag", F.col("q_0_5").alias("kll_median"))
    slice_cdf = (
        vslice.groupBy("l_returnflag", F.col("l_extendedprice").alias("price"))
        .agg(F.sum("l_quantity").alias("wt"))
        .select(
            "l_returnflag",
            "price",
            F.sum("wt").over(cum_w).alias("cum"),
            F.sum("wt").over(Window.partitionBy("l_returnflag")).alias("total"),
        )
    )
    # exact quantile band [Q(0.49), Q(0.51)] off the slice's binned
    # CDF: the KLL estimate must land inside it (value-domain check —
    # immune to rank discontinuities at heavy atoms)
    band = slice_cdf.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("cum") * 100 >= F.col("total") * 49, F.col("price"))
        ).alias("q_lo"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("total") * 51, F.col("price"))
        ).alias("q_hi"),
    )
    kll_rank = (
        band.join(F.broadcast(kll), "l_returnflag")
        .select(
            "l_returnflag",
            F.col("kll_median")
            .between(F.col("q_lo"), F.col("q_hi"))
            .alias("kll_rank_ok"),
        )
    )
    return exact.join(kll_rank, "l_returnflag").select(
        "l_returnflag", "weighted_median", "kll_rank_ok"
    )


# ---------------------------------------------------------------------------
# hll_convert accuracy matrix (reference golden-test shape)
# ---------------------------------------------------------------------------


@query(
    "hll_convert_accuracy",
    """
    SELECT count(DISTINCT event_id) AS exact_n,
           TRUE AS ds_close, TRUE AS agkn_close, TRUE AS chain_consistent
    FROM events
    """,
)
def hll_convert_accuracy(spark, sf_dir):
    """The reference's conversion-accuracy matrix as a battery entry
    (HLLFunctionsTest.scala:356-386 shape: p=20, n=10000 —
    events.event_id is exactly 10000 distinct at the gate scale,
    _EXACT_SD=0.0015 resolves to lgConfigK=20).  Pins:

    * ``ds_close`` — DS estimate within 0.4% of exact (coupon mode at
      this n, so in practice it IS exact);
    * ``agkn_close`` — the AgKn-side estimate of the converted image
      within 0.5% of the DS estimate.  +-1 only holds for the
      seed-pinned unit test (tests/test_agkn.py:25): AgKn linear
      counting over the derived registers carries ~sqrt(n^2/2m)
      register-collision noise (~7 here), so the battery pins a 3.6
      sigma band that is deterministic for ANY driver-regenerated
      event ids;
    * ``chain_consistent`` — DS->AGKN and DS->STRM->AGKN estimates are
      EQUAL: both chains must preserve registers bit-for-bit, so this
      is the exact (not statistical) conversion check."""
    (events,) = _t(spark, sf_dir, "events")
    # two single-row aggregations + crossJoin, NOT one combined agg: a
    # distinct aggregate forces the two-phase Expand plan, which drags
    # the 1 MiB lgK-20 sketch buffer through the distinct shuffle as a
    # PartialMerge row (measured 17.5s vs 0.36s at sf0.1)
    sk = events.agg(hll.hll_init_agg("event_id", _EXACT_SD).alias("sk")).crossJoin(
        events.agg(F.countDistinct("event_id").alias("exact_n"))
    )
    ests = sk.select(
        "exact_n",
        hll.hll_cardinality("sk").alias("ds"),
        hll.agkn_cardinality(hll.hll_convert("sk", "DS", "AGKN")).alias("agkn"),
        hll.agkn_cardinality(
            hll.hll_convert(hll.hll_convert("sk", "DS", "STRM"), "STRM", "AGKN")
        ).alias("strm"),
    )
    return ests.select(
        "exact_n",
        (
            F.abs(F.col("ds") - F.col("exact_n"))
            <= F.col("exact_n") * F.lit(0.004)
        ).alias("ds_close"),
        (
            F.abs(F.col("agkn") - F.col("ds")) <= F.col("ds") * F.lit(0.005)
        ).alias("agkn_close"),
        (F.col("strm") == F.col("agkn")).alias("chain_consistent"),
    )


# ---------------------------------------------------------------------------
# Corpus-level duplicate n-gram fraction (curation signal)
# ---------------------------------------------------------------------------


@query(
    "corpus_dup_ngram_fraction",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    ng AS (
      SELECT lang,
             unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4]
                     for i in range(1, len(ws) - 3)]) AS g
      FROM toks WHERE len(ws) >= 5),
    c AS (SELECT lang, g, count(*) AS n FROM ng GROUP BY lang, g)
    SELECT lang,
           sum(n) AS total_ngrams,
           count(*) AS distinct_ngrams,
           sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS duplicated_occurrences,
           round(sum(CASE WHEN n > 1 THEN n ELSE 0 END) / sum(n), 4)
             AS dup_fraction,
           max(n) AS max_ngram_count
    FROM c GROUP BY lang
    """,
)
def corpus_dup_ngram_fraction(spark, sf_dir):
    """CORPUS-level duplicate word-5-gram fraction per language — the
    RefinedWeb-style curation signal (what share of n-gram occurrences
    are repeats of an n-gram seen elsewhere in the corpus), as opposed
    to ``prep_repetition_stats``'s WITHIN-document Gopher screen.

    Scale shape: one token-width shuffle — the (lang, 5-gram) groupBy
    is map-side combinable, and the per-language report aggregates the
    counted n-gram table, never the raw corpus.  At 100 TB the shuffle
    volume is bounded by distinct n-grams per language, and a DF cap
    is unnecessary because nothing joins back to documents."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        "lang", F.filter(F.split("text", " "), lambda w: w != "").alias("ws")
    ).filter(F.size("ws") >= 5)
    grams = toks.select(
        "lang",
        F.explode(
            F.transform(
                F.slice("ws", 1, F.size("ws") - 4),
                lambda _, i: F.concat_ws(
                    " ",
                    F.col("ws")[i],
                    F.col("ws")[i + 1],
                    F.col("ws")[i + 2],
                    F.col("ws")[i + 3],
                    F.col("ws")[i + 4],
                ),
            )
        ).alias("g"),
    )
    counted = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    dup_occ = F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0)))
    return counted.groupBy("lang").agg(
        F.sum("n").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        dup_occ.alias("duplicated_occurrences"),
        F.round(dup_occ / F.sum("n"), 4).alias("dup_fraction"),
        F.max("n").alias("max_ngram_count"),
    )


# ---------------------------------------------------------------------------
# Sequence-length bucketing (batch-inference / padding efficiency)
# ---------------------------------------------------------------------------


@query(
    "prep_length_buckets",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS tok
      FROM documents),
    b AS (
      SELECT doc_id, tok,
             CAST(CASE WHEN tok <= 1 THEN 1
                  ELSE power(2, ceil(log2(tok))) END AS BIGINT) AS bucket
      FROM t)
    SELECT bucket, count(*) AS n_docs,
           sum(tok) AS real_tokens,
           count(*) * bucket AS padded_tokens,
           round(sum(tok) * 1.0 / (count(*) * bucket), 4) AS pad_efficiency
    FROM b GROUP BY bucket
    """,
)
def prep_length_buckets(spark, sf_dir):
    """Power-of-2 sequence-length bucketing — the batch-inference /
    padded-training layout question: docs grouped into the smallest
    2^k >= token-count bucket, with per-bucket padding efficiency
    (real tokens / padded slot tokens).  One map-side-combinable
    groupBy on the bucket id; token counting is pure codegen
    (functions/text.py), so the report costs one narrow shuffle of
    (bucket, count, sum) partials at any corpus size."""
    from .functions.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select("doc_id", token_count("text").alias("tok"))
    bucket = F.when(F.col("tok") <= 1, F.lit(1)).otherwise(
        F.pow(F.lit(2.0), F.ceil(F.log2("tok")))
    ).cast("long")
    b = t.select("tok", bucket.alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("real_tokens"),
        (F.count(F.lit(1)) * F.col("bucket")).alias("padded_tokens"),
        F.round(
            F.sum("tok") / (F.count(F.lit(1)) * F.col("bucket")), 4
        ).alias("pad_efficiency"),
    )


# ---------------------------------------------------------------------------
# Skew-resilient sessionization
# ---------------------------------------------------------------------------


@query(
    "session_bucketed_stats",
    """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts)) > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    g AS (
      SELECT user_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s),
    per AS (SELECT user_id, sid, count(*) AS n FROM g GROUP BY user_id, sid)
    SELECT user_id, max(sid) AS n_sessions, max(n) AS max_session_events
    FROM per GROUP BY user_id
    """,
)
def session_bucketed_stats(spark, sf_dir):
    """Per-user session stats (30-min gap) computed through the
    SKEW-RESILIENT sessionizer
    (``operators.temporal.sessionize_bucketed``): sessions detected in
    (user, hour-bucket) partitions, boundary-merged and re-numbered by
    a per-user window over bucket SUMMARIES — identical session ids to
    the single-window ``sessionize`` (property-tested), but a viral
    user's history never sits in one task.  The oracle replays the
    classic single-window gaps-and-islands form."""
    (events,) = _t(spark, sf_dir, "events")
    from .operators.temporal import sessionize_bucketed

    ev = events.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    sess = sessionize_bucketed(
        ev, "user_id", "ts", 1800, bucket=F.date_trunc("hour", F.col("ts"))
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.max("n").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# Skew-resilient as-of join
# ---------------------------------------------------------------------------


@query(
    "asof_bucketed_last_click",
    """
    SELECT event_id, prev_click_id FROM (
      SELECT e.event_id, c.event_id AS prev_click_id,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM events e JOIN events c
        ON c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
      WHERE e.event_type = 'error') t
    WHERE rn = 1
    """,
)
def asof_bucketed_last_click(spark, sf_dir):
    """``asof_last_click_before_error`` through the SKEW-RESILIENT
    as-of join (``operators.temporal.as_of_join_bucketed``): the carry
    window partitions by (user, hour-bucket) and rows in click-less
    buckets fall back to a per-user carry over bucket summaries —
    identical matches to the single-window operator (property-tested
    across widths and directions, same oracle), but one hot user's
    tape never sits in one task."""
    from .operators.temporal import as_of_join_bucketed

    (events,) = _t(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("prev_click_id")
    )
    joined = as_of_join_bucketed(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["prev_click_id"],
        tie_break="prev_click_id",
        bucket=F.date_trunc("hour", F.col("__t")),
    )
    return joined.filter(F.col("prev_click_id").isNotNull()).select(
        "event_id", "prev_click_id"
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (scale path for prep_decontaminate)
# ---------------------------------------------------------------------------


@query(
    "prep_decontaminate_bloom",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in range(1, len(ws) - 1)]) AS s
      FROM toks WHERE len(ws) >= 3),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
    contaminated AS (
      SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s))
    SELECT count(*) AS n_clean, CAST(sum(len(ws)) AS BIGINT) AS clean_tokens
    FROM toks
    WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def prep_decontaminate_bloom(spark, sf_dir):
    """``prep_decontaminate`` through the broadcast-Bloom prefilter
    (``operators.prep.decontaminate_bloom``): corpus grams probe a
    distributed-built ``array<bigint>`` Bloom filter over the
    benchmark grams as a pure map-side bitwise expression, and only
    Bloom-positive grams reach the exact verify semi-join.  No false
    negatives, so the output — and the oracle — are IDENTICAL to the
    exact operator's; at 100 TB the shuffle carries the contamination
    tail instead of every (shingle, id) pair."""
    from .functions.text import token_count
    from .operators.prep import decontaminate_bloom

    (documents,) = _t(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") < 10)
    clean = decontaminate_bloom(
        documents, bench, "doc_id", "text", n=3, num_bits=1 << 18
    )
    return clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.sum(token_count("text")).cast("bigint").alias("clean_tokens"),
    )


# ---------------------------------------------------------------------------
# Cross-document span removal (suffix-array-dedup removal step)
# ---------------------------------------------------------------------------


@query(
    "dedup_strip_shared_spans",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(range(1, len(ws) - 8 + 2)) AS p,
             unnest([list_aggregate(ws[i:i+7], 'string_agg', ' ')
                     for i in range(1, len(ws) - 8 + 2)]) AS s
      FROM toks WHERE len(ws) >= 8),
    dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
    removed AS (
      SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS rp
      FROM sh JOIN dup USING (s)),
    tok AS (
      SELECT doc_id, unnest(range(1, len(ws) + 1)) AS tp, unnest(ws) AS w
      FROM toks),
    kept AS (
      SELECT tok.doc_id, tok.tp, tok.w FROM tok
      WHERE NOT EXISTS (SELECT 1 FROM removed
                        WHERE removed.doc_id = tok.doc_id
                          AND removed.rp = tok.tp)),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(w, ' ' ORDER BY tp) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(t.ws) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(r.clean_text, '')) AS clean_md5
    FROM toks t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_strip_shared_spans(spark, sf_dir):
    """Suffix-array-style duplicate-SPAN removal over the corpus
    (``operators.dedup.strip_shared_spans``): every token covered by an
    8-gram occurring in >= 2 distinct documents is cut and the document
    rebuilt from the survivors — the removal step behind
    ``shared_span_pairs``'s detection, which keeps the rest of a
    document instead of discarding it.  The oracle replays the exact
    positional-gram coverage in DuckDB and compares per-doc kept /
    removed counts plus md5 of the rebuilt text."""
    from .operators.dedup import strip_shared_spans

    (documents,) = _t(spark, sf_dir, "documents")
    out = strip_shared_spans(documents, "doc_id", "text", k=8, min_docs=2)
    return out.select(
        "doc_id", "n_kept", "n_removed", F.md5("clean_text").alias("clean_md5")
    )


@query(
    "prep_strip_contaminated_spans",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(range(1, len(ws) - 8 + 2)) AS p,
             unnest([list_aggregate(ws[i:i+7], 'string_agg', ' ')
                     for i in range(1, len(ws) - 8 + 2)]) AS s
      FROM toks WHERE len(ws) >= 8),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
    removed AS (
      SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS rp
      FROM sh JOIN bench USING (s)),
    tok AS (
      SELECT doc_id, unnest(range(1, len(ws) + 1)) AS tp, unnest(ws) AS w
      FROM toks),
    kept AS (
      SELECT tok.doc_id, tok.tp, tok.w FROM tok
      WHERE NOT EXISTS (SELECT 1 FROM removed
                        WHERE removed.doc_id = tok.doc_id
                          AND removed.rp = tok.tp)),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(w, ' ' ORDER BY tp) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(t.ws) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(r.clean_text, '')) AS clean_md5
    FROM toks t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def prep_strip_contaminated_spans(spark, sf_dir):
    """Surgical decontamination
    (``operators.dedup.strip_contaminated_spans``): tokens covered by
    an 8-gram of the benchmark set (docs 0-9 standing in for an eval
    suite) are cut and the documents rebuilt — the span-level
    alternative to ``prep_decontaminate``'s whole-doc drop; benchmark
    members themselves collapse to empty.  Oracle replays the
    positional coverage and compares kept/removed counts plus md5 of
    the rebuilt text per document."""
    from .operators.dedup import strip_contaminated_spans

    (documents,) = _t(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") < 10)
    out = strip_contaminated_spans(documents, bench, "doc_id", "text", k=8)
    return out.select(
        "doc_id", "n_kept", "n_removed", F.md5("clean_text").alias("clean_md5")
    )


# ---------------------------------------------------------------------------
# Streaming dedup-at-ingest (stream-static anti join on content fingerprints)
# ---------------------------------------------------------------------------


@query(
    "stream_dedup_at_ingest",
    """
    WITH fp AS MATERIALIZED (
      SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS f
      FROM documents),
    corpus AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0),
    arrivals AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
    survivors AS (
      SELECT * FROM arrivals a
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = a.f))
    SELECT lang,
           count(*) AS n_new,
           count(DISTINCT f) AS n_new_unique
    FROM survivors GROUP BY lang
    """,
)
def stream_dedup_at_ingest(spark, sf_dir):
    """Dedup-at-ingest: newly-landing documents (odd ids stand in for
    today's crawl) are deduplicated ON THE STREAM against the standing
    corpus (even ids) with a stream-static LEFT ANTI join on the
    order-insensitive content fingerprint — stateless (no state store:
    the static side is re-broadcast per microbatch), so it scales as
    per-file map work exactly like ``stream_quality_at_ingest``.
    Per-lang arrival and unique-fingerprint counts are aggregated from
    the drained sink so the result is replay-order-free; availableNow
    replay must equal the batch anti join exactly."""
    from .functions.text import doc_fingerprint
    from .queries_ext import _sink_name
    from .streaming import read_table_stream, run_to_memory

    (documents,) = _t(spark, sf_dir, "documents")
    corpus_fp = (
        documents.filter(F.col("doc_id") % 2 == 0)
        .select(doc_fingerprint("text").alias("f"))
        .distinct()
    )
    stream = read_table_stream(spark, sf_dir, "documents")
    arrivals = stream.filter(F.col("doc_id") % 2 == 1).select(
        "lang", doc_fingerprint("text").alias("f")
    )
    survivors = arrivals.join(corpus_fp, "f", "left_anti")
    rows = run_to_memory(
        survivors, _sink_name("ingest_dedup"), output_mode="append",
        # stateless anti-join rows emit in their data batch; the
        # trailing no-data batch adds nothing (see run_to_memory)
        nodata_batches=False,
    )
    return rows.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.countDistinct("f").alias("n_new_unique"),
    )


# ---------------------------------------------------------------------------
# Token-budget mixture plan
# ---------------------------------------------------------------------------


@query(
    "prep_mixture_plan",
    """
    WITH w(lang, wi) AS (VALUES
      ('en', 400000), ('de', 150000), ('es', 150000),
      ('fr', 150000), ('zh', 150000)),
    avail AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT) AS a
      FROM documents GROUP BY lang),
    plan AS (
      SELECT w.lang,
             coalesce(a.a, 0) AS available_tokens,
             CAST(CAST(1000000 AS HUGEINT) * wi // 1000000 AS BIGINT) AS target_tokens
      FROM w LEFT JOIN avail a USING (lang))
    SELECT lang, available_tokens, target_tokens,
           CASE WHEN available_tokens > 0
                THEN target_tokens // available_tokens END AS full_epochs,
           CASE WHEN available_tokens > 0
                THEN CAST(CAST(target_tokens % available_tokens AS HUGEINT)
                          * 1000000 // available_tokens AS DOUBLE) / 1000000
                END AS tail_fraction,
           CASE WHEN available_tokens > 0
                THEN target_tokens // available_tokens >= 4 END AS repeat_risk
    FROM plan
    """,
)
def prep_mixture_plan(spark, sf_dir):
    """Token-budget mixture planning
    (``operators.prep.mixture_plan``): a 1M-token training mix over the
    five corpus languages (en 40%, others 15% each) — per language the
    plan reports available tokens, the integer-pinned target, whole
    ``full_epochs`` plus the ``tail_fraction`` partial pass, and the
    over-repetition flag.  Weights scale to parts-per-million and every
    derived number is bigint floor arithmetic, so the oracle replays
    the plan bit-for-bit."""
    from .operators.prep import mixture_plan

    (documents,) = _t(spark, sf_dir, "documents")
    return mixture_plan(
        documents,
        "lang",
        "text",
        {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
        token_budget=1_000_000,
    )


# ---------------------------------------------------------------------------
# CMS inner-product join-size estimation
# ---------------------------------------------------------------------------


@query(
    "cms_join_size_estimate",
    """
    WITH ca AS (SELECT l_orderkey AS k, count(*) AS c
                FROM lineitem GROUP BY l_orderkey),
    cb AS (SELECT o_orderkey AS k, count(*) AS c
           FROM orders GROUP BY o_orderkey)
    SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS exact_pairs,
           TRUE AS upper_ok, TRUE AS eps_ok
    FROM ca JOIN cb USING (k)
    """,
)
def cms_join_size_estimate(spark, sf_dir):
    """Sketch-side join planning
    (``functions.cms.cms_inner_product``): estimate
    ``|lineitem JOIN orders|`` on the order key from two count-min
    sketches built with a shared seed — two map-side aggregates, KB
    blobs to the driver, no shuffle of either table.  The CMS inner
    product never underestimates and overshoots by at most
    eps x |A| x |B| w.p. ``confidence``; the entry pins both bound
    booleans against the exact pair count (which the oracle replays
    as the grouped-count dot product)."""
    from .functions.cms import cms_inner_product, count_min_sketch_agg, decode_cms

    eps = 0.0001
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    ska = lineitem.agg(
        count_min_sketch_agg("l_orderkey", eps=eps).alias("sk")
    ).collect()[0]["sk"]
    skb = orders.agg(
        count_min_sketch_agg("o_orderkey", eps=eps).alias("sk")
    ).collect()[0]["sk"]
    est = cms_inner_product(ska, skb)
    n_a = decode_cms(bytes(ska))[0]
    n_b = decode_cms(bytes(skb))[0]

    ca = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    return (
        ca.join(cb, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("exact_pairs"))
        .select(
            "exact_pairs",
            (F.lit(est) >= F.col("exact_pairs")).alias("upper_ok"),
            (
                F.lit(est).cast("double")
                <= F.col("exact_pairs") + F.lit(eps * n_a * n_b)
            ).alias("eps_ok"),
        )
    )


# ---------------------------------------------------------------------------
# KLL range-partition planning
# ---------------------------------------------------------------------------


@query(
    "plan_range_partitions_price",
    """
    SELECT i AS split_idx, TRUE AS within_band
    FROM range(1, 8) t(i)
    ORDER BY i
    """,
)
def plan_range_partitions_price(spark, sf_dir):
    """Range-layout planning (``sources.bucketing.plan_range_partitions``):
    7 equi-depth split points over ``l_extendedprice`` from one KLL
    aggregate — the persisted boundary plan a 100 TB sorted-write /
    compaction pipeline shares across jobs instead of re-sampling with
    RangePartitioner.  Each sketch split must land inside the exact
    quantile band [Q(r-0.02), Q(r+0.02)] (KLL rank error at k=800 is
    ~0.006 — 3x margin); the oracle pins the 7 band booleans, the
    exact side being bit-identical to Spark's exact ``percentile``
    (``exact_percentiles`` — the codegen histogram twin; its
    equivalence is test-pinned) so DuckDB only replays the index
    frame."""
    from .sources.bucketing import exact_percentiles, plan_range_partitions

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    n = 8
    splits = plan_range_partitions(lineitem, "l_extendedprice", n, k=800)
    # exact_percentiles (r11, guide §1.2): one array-of-percentages
    # ``percentile`` aggregate produced the same 14 doubles but paid
    # ~2.5-3s in its per-partition OpenHashMap buffers + one-task
    # merge at sf0.1; the histogram twin is codegen end-to-end with
    # the same distinct-bounded final task (bit-equality pinned by
    # tests/test_r11_kernels.py).  [The array form was itself the r4
    # fix for 14 scalar percentile calls buffering lineitem 14x —
    # measured 23s.]
    pcts = [max(i / n - 0.02, 0.0) for i in range(1, n)] + [
        min(i / n + 0.02, 1.0) for i in range(1, n)
    ]
    q = exact_percentiles(lineitem, "l_extendedprice", pcts)
    bands = (
        q.filter(F.col("__i") < n - 1)
        .select((F.col("__i") + 1).alias("split_idx"), F.col("__q").alias("lo"))
        .join(
            q.filter(F.col("__i") >= n - 1).select(
                (F.col("__i") - (n - 2)).alias("split_idx"),
                F.col("__q").alias("hi"),
            ),
            "split_idx",
        )
    )
    return (
        splits.join(F.broadcast(bands), "split_idx")
        .select(
            "split_idx",
            F.col("split_value").between(F.col("lo"), F.col("hi")).alias(
                "within_band"
            ),
        )
        .orderBy("split_idx")
    )


# ---------------------------------------------------------------------------
# Composed curation pipeline over the round-4 operators
# ---------------------------------------------------------------------------


@query(
    "prep_pipeline_report",
    """
    WITH fp AS MATERIALIZED (
      SELECT doc_id, text,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS f
      FROM documents),
    m AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
    s1 AS (SELECT fp.doc_id, fp.text FROM fp JOIN m USING (doc_id)),
    toks1 AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM s1),
    sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(range(1, len(ws) - 8 + 2)) AS p,
             unnest([list_aggregate(ws[i:i+7], 'string_agg', ' ')
                     for i in range(1, len(ws) - 8 + 2)]) AS s
      FROM toks1 WHERE len(ws) >= 8),
    dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
    removed AS (
      SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS rp
      FROM sh JOIN dup USING (s)),
    tok AS (
      SELECT doc_id, unnest(range(1, len(ws) + 1)) AS tp, unnest(ws) AS w
      FROM toks1),
    kept AS (
      SELECT tok.doc_id, tok.tp, tok.w FROM tok
      WHERE NOT EXISTS (SELECT 1 FROM removed
                        WHERE removed.doc_id = tok.doc_id
                          AND removed.rp = tok.tp)),
    reb AS (
      SELECT doc_id, count(*) AS nk,
             string_agg(w, ' ' ORDER BY tp) AS ct
      FROM kept GROUP BY doc_id),
    s2 AS MATERIALIZED (
      SELECT t.doc_id, coalesce(r.ct, '') AS text, coalesce(r.nk, 0) AS nk
      FROM toks1 t LEFT JOIN reb r USING (doc_id)),
    btoks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents WHERE doc_id < 10),
    bsh AS (
      SELECT DISTINCT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              for i in range(1, len(ws) - 1)]) AS s
      FROM btoks WHERE len(ws) >= 3),
    s2toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM s2),
    s2sh AS (
      SELECT DISTINCT doc_id,
             unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in range(1, len(ws) - 1)]) AS s
      FROM s2toks WHERE len(ws) >= 3),
    contaminated AS (
      SELECT DISTINCT s2sh.doc_id FROM s2sh JOIN bsh USING (s)),
    s3 AS (
      SELECT * FROM s2toks
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
    SELECT * FROM (
      SELECT 1 AS stage, 'exact_dedup' AS name, count(*) AS n_docs,
             CAST(sum(len(ws)) AS BIGINT) AS n_tokens
      FROM toks1
      UNION ALL
      SELECT 2, 'strip_spans', count(*), CAST(sum(nk) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'decontaminate', count(*), CAST(sum(len(ws)) AS BIGINT)
      FROM s3)
    ORDER BY stage
    """,
)
def prep_pipeline_report(spark, sf_dir):
    """Composed curation pipeline with per-stage lineage: exact dedup
    (order-insensitive fingerprint, min-id survivor) -> cross-document
    span REMOVAL (``dedup.strip_shared_spans``, k=8) -> benchmark
    decontamination (``prep.decontaminate``, trigrams vs the ORIGINAL
    docs 0-9) over the surviving, already-stripped text.  One report
    row per stage (docs, tokens) — the audit a 100 TB curation DAG
    emits between stages; each stage materializes once and feeds the
    next, so the oracle replays the identical three-stage chain."""
    from .functions.text import doc_fingerprint, token_count
    from .operators.dedup import strip_shared_spans
    from .operators.prep import decontaminate

    (documents,) = _t(spark, sf_dir, "documents")
    minids = (
        documents.select("doc_id", doc_fingerprint("text").alias("__f"))
        .groupBy("__f")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # s1 feeds BOTH the stage-1 report aggregate and the strip stage:
    # without the lazy checkpoint the fingerprint dedup subtree runs
    # twice inside the one report action (VERDICT r10 item 6; paired
    # A/B/C at sf0.1: base 0.66-0.81s, this 0.57-0.64s, DISK_ONLY
    # persist 0.59-0.80s — the checkpoint wins on all three reps)
    s1 = (
        documents.join(minids, "doc_id", "left_semi")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    stripped = strip_shared_spans(s1, "doc_id", "text", k=8).localCheckpoint(
        eager=False
    )
    s2 = stripped.select("doc_id", F.col("clean_text").alias("text"), "n_kept")
    bench = documents.filter(F.col("doc_id") < 10)
    s3 = decontaminate(s2.select("doc_id", "text"), bench, "doc_id", "text", n=3)

    def stage(i, name, df_, tok_col):
        return df_.agg(
            F.lit(i).alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok_col).cast("bigint").alias("n_tokens"),
        ).select("stage", "name", "n_docs", "n_tokens")

    report = (
        stage(1, "exact_dedup", s1, token_count("text"))
        .unionByName(stage(2, "strip_spans", s2, F.col("n_kept")))
        .unionByName(stage(3, "decontaminate", s3, token_count("text")))
    )
    return report.orderBy("stage")


# ---------------------------------------------------------------------------
# Per-group winsorization
# ---------------------------------------------------------------------------


@query(
    "curate_winsorized_price_stats",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag),
    w AS (
      SELECT l.l_returnflag,
             greatest(b.lo, least(b.hi, l.l_extendedprice)) AS v
      FROM lineitem l JOIN b USING (l_returnflag))
    SELECT l_returnflag,
           count(*) AS n,
           round(avg(v), 2) AS avg_wins,
           round(max(v), 2) AS max_wins,
           round(min(v), 2) AS min_wins
    FROM w GROUP BY l_returnflag
    """,
)
def curate_winsorized_price_stats(spark, sf_dir):
    """Per-group winsorization (``operators.curate.winsorize``): clamp
    ``l_extendedprice`` to each return flag's exact interpolated
    [P1, P99] before averaging — the outlier treatment feature
    pipelines apply ahead of normalization.  Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the classic
    rank*(n-1) interpolation, so bounds and clipped stats replay
    bit-for-bit (rounded at 2 decimals like the other avg entries)."""
    from .operators.curate import winsorize

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    w = winsorize(lineitem, ["l_returnflag"], "l_extendedprice", 0.01, 0.99)
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_extendedprice_wins"), 2).alias("avg_wins"),
        F.round(F.max("l_extendedprice_wins"), 2).alias("max_wins"),
        F.round(F.min("l_extendedprice_wins"), 2).alias("min_wins"),
    )


@query(
    "ann_int8_quantization",
    """
    WITH q AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, v -> abs(v))) AS s
      FROM embeddings),
    c AS (
      SELECT vec_id, embedding, s,
             CASE WHEN s > 0 THEN
               [CAST(floor(CAST(v AS DOUBLE) / s * 127 + 0.5) AS TINYINT)
                for v in embedding]
             ELSE [CAST(0 AS TINYINT) for v in embedding] END AS codes
      FROM q),
    e AS (
      SELECT vec_id, s, codes,
             list_aggregate(list_transform(codes,
                            x -> CAST(x AS BIGINT)), 'sum') AS code_sum,
             CASE WHEN s > 0 THEN
               list_max([abs(CAST(embedding[i] AS DOUBLE)
                             - CAST(codes[i] AS DOUBLE) * s / 127)
                         for i in range(1, len(embedding) + 1)])
             ELSE 0.0 END AS max_err
      FROM c)
    SELECT count(*) AS n_vectors,
           CAST(sum(code_sum) AS BIGINT) AS sum_codes,
           bool_and(s = 0 OR max_err <= s / 254 * 1.000001) AS max_err_ok
    FROM e
    """,
)
def ann_int8_quantization(spark, sf_dir):
    """Int8 embedding storage tier
    (``operators.similarity.quantize_embeddings_int8``): symmetric
    per-vector scalar quantization to ``array<tinyint>`` (4x smaller
    than float32, reconstruction bounded by scale/254 per element) —
    pure codegen, no UDF, no shuffle.  The oracle replays the exact
    floor-pinned arithmetic element-for-element and checks the same
    code sum and error bound."""
    from .operators.similarity import dequantize_int8, quantize_embeddings_int8

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(embeddings, "embedding")
    e = q.select(
        "scale",
        F.aggregate(
            F.transform(F.col("codes"), lambda c: c.cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("code_sum"),
        F.when(
            F.col("scale") > 0,
            F.array_max(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    dequantize_int8(),
                    lambda a, b: F.abs(a - b),
                )
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("max_err"),
    )
    return e.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("code_sum").cast("bigint").alias("sum_codes"),
        F.bool_and(
            (F.col("scale") == 0)
            | (F.col("max_err") <= F.col("scale") / 254 * 1.000001)
        ).alias("max_err_ok"),
    )


@query(
    "ann_int8_topk",
    """
    SELECT vec_id AS query_id, 10 AS k, true AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
)
def ann_int8_topk(spark, sf_dir):
    """Asymmetric int8 search: full-precision queries scored against
    the int8-quantized corpus
    (``quantize_embeddings_int8`` -> ``dequantize_int8``), the serving
    mode of the scalar-quantization storage tier.  Same
    recall-invariant harness as the PQ/IVFPQ entries; int8 perturbs
    cosine far less than PQ, so the bar is >= 8/10 of the exact float
    top-10 per query (measured 10/10 at sf0.01)."""
    from .operators.similarity import (
        brute_force_topk,
        dequantize_int8,
        quantize_embeddings_int8,
    )

    from .queries import _ann_exact_cached

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 5)
    exact = _ann_exact_cached(spark, sf_dir)
    corpus_q = quantize_embeddings_int8(embeddings, "embedding").select(
        "vec_id", dequantize_int8().alias("embedding")
    )
    approx = brute_force_topk(corpus_q, queries_df, "vec_id", "embedding", k=10)
    from .queries import _ann_recall_report

    return _ann_recall_report(queries_df, exact, approx, min_hits=8)


# ---------------------------------------------------------------------------
# Blocked entity resolution (scalable fuzzy matching)
# ---------------------------------------------------------------------------


@query(
    "er_blocked_near_names",
    """
    WITH k AS (
      SELECT p_partkey, p_name, p_brand,
             string_split(p_name, ' ')[1] AS w1
      FROM part),
    pairs AS (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM k a JOIN k b
        ON a.p_brand = b.p_brand AND a.w1 = b.w1
       AND a.p_partkey < b.p_partkey)
    SELECT dist, count(*) AS n_pairs,
           count(DISTINCT key_a) AS n_left
    FROM pairs WHERE dist <= 2
    GROUP BY dist ORDER BY dist
    """,
)
def er_blocked_near_names(spark, sf_dir):
    """Entity resolution at scale: BLOCKED fuzzy matching of part
    names — candidate pairs come from an equi-join on the blocking key
    (brand, first name token), then Levenshtein <= 2 verifies, so the
    all-pairs O(n^2) the bounded ``string_edit_distance_pairs`` demo
    runs never happens: pair volume rides the block sizes (hash join
    on the key, same shape as the dedup family's shingle blocking; at
    100 TB add a hot-block cap or a second blocking key the way
    ``operators.dedup`` caps hot shingles).  Levenshtein is the
    classic DP distance in both engines, so the histogram replays
    exactly."""
    part, = _t(spark, sf_dir, "part")
    k = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split(F.col("p_name"), " ").getItem(0).alias("w1"),
    )
    a = k.select(
        F.col("p_brand").alias("b1"), F.col("w1").alias("wa"),
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("na"),
    )
    b = k.select(
        F.col("p_brand").alias("b2"), F.col("w1").alias("wb"),
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("nb"),
    )
    pairs = a.join(
        b,
        (F.col("b1") == F.col("b2"))
        & (F.col("wa") == F.col("wb"))
        & (F.col("key_a") < F.col("key_b")),
    ).select(
        "key_a", F.levenshtein("na", "nb").alias("dist")
    )
    return (
        pairs.filter(F.col("dist") <= 2)
        .groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("key_a").alias("n_left"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# BPE merge-step pair counting (tokenizer training inner loop)
# ---------------------------------------------------------------------------


@query(
    "bpe_first_merges",
    """
    WITH words AS (
      SELECT lower(w) AS w, count(*) AS freq
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS w
            FROM documents)
      GROUP BY lower(w)),
    pairs AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      FROM (SELECT unnest([w[i:i+1] for i in range(1, len(w))]) AS pair, freq
            FROM words WHERE len(w) >= 2)
      GROUP BY pair)
    SELECT pair, n FROM pairs
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_first_merges(spark, sf_dir):
    """The BPE tokenizer-training inner loop, distributed: count every
    ADJACENT symbol pair weighted by word frequency and rank the merge
    candidates — the step run iteratively to learn a vocabulary.  The
    word table aggregates first (map-side combinable; pair explosion
    then rides DISTINCT words, not corpus tokens — at 100 TB the
    distinct-word table is orders of magnitude smaller than the token
    stream), pairs explode via ``sequence`` + ``substring`` inside
    codegen, and one narrow (pair, partial-sum) shuffle finishes.
    Deterministic top-20 via (count desc, pair) ordering."""
    (documents,) = _t(spark, sf_dir, "documents")
    words = (
        documents.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("w")
        )
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # length >= 2 guard matters: Spark's sequence(1, 0) DESCENDS, so a
    # 1-char word would emit two bogus single-char "pairs"
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, 2),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# SFT pair assembly report
# ---------------------------------------------------------------------------


@query(
    "prep_sft_pairs_report",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    pairs AS MATERIALIZED (
      SELECT doc_id, lang,
             array_to_string(ws[1:16], ' ') AS p,
             array_to_string(ws[17:len(ws)], ' ') AS r,
             least(len(ws), 16) AS pt,
             greatest(len(ws) - 16, 0) AS rt
      FROM toks),
    dup AS (
      SELECT md5(p) AS pk FROM pairs GROUP BY md5(p) HAVING count(*) > 1)
    SELECT lang,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN rt >= 8 AND rt <= pt * 20 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valid,
           CAST(sum(CASE WHEN md5(p) IN (SELECT pk FROM dup)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_prompt,
           CAST(sum(rt) AS BIGINT) AS sum_response_tokens
    FROM pairs GROUP BY lang
    """,
)
def prep_sft_pairs_report(spark, sf_dir):
    """Instruction-tuning assembly audit
    (``operators.prep.assemble_sft_pairs``): synthetic (prompt,
    response) pairs from each document (first 16 tokens / remainder)
    rendered through a chat template and validated — per language the
    report counts pairs, validity (response floor + integer
    cross-multiplied ratio ceiling), duplicate prompts
    (leakage/double-count risk), and the response token budget."""
    from .operators.prep import assemble_sft_pairs

    (documents,) = _t(spark, sf_dir, "documents")
    tk = documents.select(
        "doc_id",
        "lang",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("__tk"),
    )
    pairs = tk.select(
        "doc_id",
        "lang",
        F.array_join(F.slice("__tk", 1, 16), " ").alias("prompt"),
        F.array_join(
            F.slice(
                "__tk", 17, F.greatest(F.size("__tk") - 16, F.lit(0))
            ),
            " ",
        ).alias("response"),
    )
    out = assemble_sft_pairs(pairs, "doc_id", "prompt", "response")
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("valid").cast("int")).cast("bigint").alias("n_valid"),
            F.sum(F.col("dup_prompt").cast("int"))
            .cast("bigint")
            .alias("n_dup_prompt"),
            F.sum("response_tokens").cast("bigint").alias("sum_response_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample KS drift
# ---------------------------------------------------------------------------


@query(
    "drift_ks_price_by_returnflag",
    """
    WITH per_v AS MATERIALIZED (
      SELECT l_extendedprice AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_extendedprice),
    cum AS (
      SELECT sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM per_v),
    t AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM per_v)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
                        - CAST(cum_b AS HUGEINT) * n_a) * 1000000
                    // (CAST(n_a AS HUGEINT) * n_b)) AS BIGINT) AS ks_ppm
    FROM cum, t GROUP BY n_a, n_b
    """,
)
def drift_ks_price_by_returnflag(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift
    (``operators.expectations.ks_statistic_ppm``): the price
    distributions of returned (A) vs refused (R) lines compared
    binning-free —
    counts per DISTINCT value (map-side combinable), one cumsum
    window, and the max CDF gap cross-multiplied in DECIMAL(38) and
    floored to integer ppm, so the statistic replays exactly in any
    engine (no float division).  Complements the binned PSI entry."""
    from .operators.expectations import ks_statistic_ppm

    (lineitem,) = _t(spark, sf_dir, "lineitem")
    a = lineitem.filter(F.col("l_returnflag") == "A")
    b = lineitem.filter(F.col("l_returnflag") == "R")
    return ks_statistic_ppm(a, b, "l_extendedprice")


# ---------------------------------------------------------------------------
# Language-ID evaluation (confusion matrix + per-class metrics)
# ---------------------------------------------------------------------------


@query(
    "text_langid_confusion",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    scores AS (
      SELECT doc_id, lang,
        len(list_filter(ws, w -> list_contains(['the','and','of','to','in','is','that','with','for','was'], w))) AS s_en,
        len(list_filter(ws, w -> list_contains(['der','die','das','und','ist','nicht','ein','mit','sich','auf'], w))) AS s_de,
        len(list_filter(ws, w -> list_contains(['le','la','les','et','est','une','dans','que','pour','pas'], w))) AS s_fr,
        len(list_filter(ws, w -> list_contains(['el','los','las','es','una','en','por','con','para','como'], w))) AS s_es
      FROM toks),
    pred AS (
      SELECT lang,
        CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
             WHEN s_de > 0 AND s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
             WHEN s_fr > 0 AND s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
             WHEN s_es > 0 AND s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
             ELSE 'und' END AS lang_pred
      FROM scores)
    SELECT lang, lang_pred, count(*) AS n,
           CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS hit_ppm
    FROM pred GROUP BY lang, lang_pred
    """,
)
def text_langid_confusion(spark, sf_dir):
    """Classifier EVALUATION tooling: the stopword-profile language ID
    (``functions.text.lang_id``) scored against the corpus's labeled
    ``lang`` column as a (label, prediction) confusion matrix — one
    narrow two-key groupBy; the hit ratio per cell is integer ppm
    (trivially 1e6 on diagonal cells, 0 off-diagonal — pinning both
    the matrix and the arithmetic).  The evaluation loop every
    learned quality/language filter runs before deployment."""
    from .functions.text import lang_id

    (documents,) = _t(spark, sf_dir, "documents")
    pred = documents.select("lang", lang_id("text").alias("lang_pred"))
    return pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("hit_ppm"),
    )


# ---------------------------------------------------------------------------
# Ranking evaluation: MRR of the BM25 run against a replayable judgment
# ---------------------------------------------------------------------------


@query(
    "rank_mrr_bm25",
    """
    WITH ws AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id, unnest(w) AS term FROM ws
      ) WHERE term IN ('hash', 'join', 'filter') GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
    dl AS (SELECT doc_id, len(w) AS dl FROM ws),
    sc AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM ws),
    per AS (
      SELECT tf.doc_id AS doc_id,
             ln(1 + CAST(n_docs - dfreq + 0.5 AS DOUBLE)
                    / CAST(dfreq + 0.5 AS DOUBLE))
               * tf * CAST(2.2 AS DOUBLE)
               / (tf + CAST(1.2 AS DOUBLE)
                       * (1 - 0.75 + CAST(0.75 AS DOUBLE) * dl / avgdl)) AS s
      FROM tf JOIN dfq ON tf.term = dfq.term
      JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN sc),
    run AS (
      SELECT doc_id, round(round(sum(s), 6), 4) AS score
      FROM per GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
    ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM run),
    rel AS (
      SELECT doc_id FROM ws
      WHERE list_contains(w, 'hash') AND list_contains(w, 'join')
        AND list_contains(w, 'filter')),
    hit AS (
      SELECT min(rnk) AS first_rank FROM ranked
      WHERE doc_id IN (SELECT doc_id FROM rel))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM rel) AS n_relevant,
           CAST(first_rank AS BIGINT) AS first_rank,
           CAST(1000000 // first_rank AS BIGINT) AS mrr_ppm
    FROM hit
    """,
)
def rank_mrr_bm25(spark, sf_dir):
    """Retrieval EVALUATION: mean reciprocal rank of the BM25 run
    (``operators.ranking.bm25_scores``, top-50 for 'hash join filter')
    against a judgment DuckDB can replay exactly — relevant = documents
    containing ALL three query terms.  Rank order is the returned
    4-decimal score with doc-id tie-break (the same total order the
    hash-green ``text_bm25_search`` entry pins), and the reciprocal
    rank is integer ppm — the IR-metric loop (MRR/recall@k) every
    retrieval stack runs, here engine-for-engine reproducible."""
    from pyspark.sql.window import Window

    from .functions.text import tokens
    from .operators.ranking import bm25_scores

    (documents,) = _t(spark, sf_dir, "documents")
    run = bm25_scores(
        documents, "doc_id", "text", ["hash", "join", "filter"], topk=50
    )
    ranked = run.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rnk"),
    )
    tk = documents.select("doc_id", tokens("text").alias("__w"))
    rel = tk.filter(
        F.array_contains("__w", "hash")
        & F.array_contains("__w", "join")
        & F.array_contains("__w", "filter")
    ).select("doc_id")
    n_rel = rel.agg(F.count(F.lit(1)).cast("bigint").alias("n_relevant"))
    hit = (
        ranked.join(rel, "doc_id", "left_semi")
        .agg(F.min("rnk").cast("bigint").alias("first_rank"))
    )
    return n_rel.crossJoin(hit).select(
        "n_relevant",
        "first_rank",
        F.expr("CAST(1000000 DIV first_rank AS BIGINT)").alias("mrr_ppm"),
    )

from . import queries_r5  # noqa: E402,F401  (registration side effect)
