"""Query registrations: r8 batches 40-72: correlation/rank tests (Spearman/Kendall/MW/KW), bootstrap, kappa, e-values, CEM, uplift, indices, variance components, tail fits.

Mechanically split from the original single-module registry (r9);
registration order and bodies unchanged. Determinism rulebook:
the package docstring (queries/__init__.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from opc2mongodb_spark.opcmodel import OPC_VALUES_SQL_CTE, events_as_opc_values
from opc2mongodb_spark.queries._core import _t, register, sci9
from opc2mongodb_spark.queries.relational import _COS

@register(
    "q_kruskal_wallis",
    """
WITH v AS (
    SELECT event_type AS g,
           CAST(floor(value * 1000000) AS BIGINT) AS x
    FROM events WHERE value IS NOT NULL
),
ranked AS (
    SELECT g,
           2 * rank() OVER (ORDER BY x)
           + count(*) OVER (PARTITION BY x) - 1 AS r2
    FROM v
),
per_g AS (
    SELECT g, count(*) AS ng, CAST(sum(r2) AS BIGINT) AS r2g
    FROM ranked GROUP BY g
),
tt AS (
    SELECT CAST(sum(ng) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS k
    FROM per_g
),
ties AS (
    SELECT CAST(sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DOUBLE)
               AS tsum
    FROM (SELECT count(*) AS t FROM v GROUP BY x)
),
h AS (
    SELECT tt.n, tt.k, ties.tsum,
           12.0 / (CAST(tt.n AS DOUBLE) * CAST(tt.n + 1 AS DOUBLE))
           * sum((CAST(r2g AS DOUBLE) / 2.0) * (CAST(r2g AS DOUBLE) / 2.0)
                 / CAST(ng AS DOUBLE))
           - 3.0 * CAST(tt.n + 1 AS DOUBLE) AS h_raw
    FROM per_g, tt, ties
    GROUP BY tt.n, tt.k, ties.tsum
)
SELECT p.g AS event_type, CAST(p.ng AS BIGINT) AS n_rows,
       CAST(p.r2g // p.ng AS BIGINT) AS mean_rank2,
       printf('%.9e',
              h.h_raw / (1.0 - h.tsum
                         / (CAST(h.n AS DOUBLE) * CAST(h.n AS DOUBLE)
                            * CAST(h.n AS DOUBLE)
                            - CAST(h.n AS DOUBLE)))) AS h_stat
FROM per_g p CROSS JOIN h
WHERE h.n * h.n * h.n > h.n AND h.tsum
      < CAST(h.n AS DOUBLE) * CAST(h.n AS DOUBLE) * CAST(h.n AS DOUBLE)
        - CAST(h.n AS DOUBLE)
""",
)
def q_kruskal_wallis(spark, sf_dir):
    # Kruskal-Wallis H across ALL series at once — the k-sample
    # extension of q_mann_whitney: do the value distributions differ
    # anywhere, before pairwise tests?  Same no-global-sort discipline:
    # values quantize to exact micro-integers, the tied average rank is
    # a function of the VALUE-FREQUENCY SPINE, and "count below x"
    # composes a <=1024-row cross-cell cumulative with a cell-
    # PARTITIONED within-cell window.  Per-group rank sums R2_g carry
    # as exact integers (2x-rank units); H and its tie correction are
    # IEEE chains off exact sums under %.9e.  One row per series with
    # its exact mean rank — the direction readout — plus the shared H.
    # The ORACLE keeps the independent average-rank-window derivation.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("x"),
    )
    gspine = v.groupBy("x", "g").agg(F.count(F.lit(1)).alias("c"))
    spine = gspine.groupBy("x").agg(F.sum("c").alias("t"))
    stats = spine.agg(
        F.min("x").alias("__mn"),
        F.max("x").alias("__mx"),
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("double")
        .alias("tsum"),
    )
    width = (
        (F.col("__mx") - F.col("__mn")).cast("double") / F.lit(1024.0)
    )
    celled = spine.crossJoin(F.broadcast(stats)).select(
        "x",
        "t",
        F.when(F.col("__mx") == F.col("__mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("__mn")).cast("double") / width
                ),
                F.lit(1023),
            )
        )
        .cast("bigint")
        .alias("__cell"),
    )
    cellagg = celled.groupBy("__cell").agg(
        F.sum("t").cast("bigint").alias("cellt")
    )
    wcell = Window.orderBy("__cell").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cellcum = cellagg.select(
        "__cell",
        F.coalesce(F.sum("cellt").over(wcell), F.lit(0)).alias(
            "t_before_cell"
        ),
    )
    win = (
        Window.partitionBy("__cell")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rank2 = (
        celled.join(F.broadcast(cellcum), "__cell")
        .select(
            "x",
            "t",
            (
                2
                * (
                    F.col("t_before_cell")
                    + F.coalesce(F.sum("t").over(win), F.lit(0))
                )
                + F.col("t")
                + 1
            ).alias("r2"),
        )
    )
    per_g = (
        gspine.join(rank2.select("x", "r2"), "x")
        .groupBy("g")
        .agg(
            F.sum("c").alias("ng"),
            F.sum(F.col("c") * F.col("r2")).cast("bigint").alias("r2g"),
        )
    )
    tt = per_g.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    nd = F.col("n").cast("double")
    h = (
        per_g.crossJoin(F.broadcast(stats.select("n", "tsum")))
        .groupBy("n", "tsum")
        .agg(
            F.sum(
                (F.col("r2g").cast("double") / 2.0)
                * (F.col("r2g").cast("double") / 2.0)
                / F.col("ng").cast("double")
            ).alias("srsq")
        )
        .select(
            "n",
            "tsum",
            (
                F.lit(12.0) / (nd * (nd + 1).cast("double")) * F.col("srsq")
                - 3.0 * (nd + 1)
            ).alias("h_raw"),
        )
    )
    n3 = nd * nd * nd
    out = per_g.crossJoin(F.broadcast(h)).crossJoin(F.broadcast(tt))
    return out.filter(
        (n3 > nd) & (F.col("tsum") < n3 - nd)
    ).select(
        F.col("g").alias("event_type"),
        F.col("ng").cast("bigint").alias("n_rows"),
        F.expr("CAST(r2g DIV ng AS BIGINT)").alias("mean_rank2"),
        sci9(F.col("h_raw") / (1.0 - F.col("tsum") / (n3 - nd))).alias("h_stat"),
    )


# Per-bucket candidate budget for q_knn_loo: each vector scores against
# at most this many bucket-mates (the lowest vec_ids), so the bucket
# self-join is O(n x cap) instead of O(n^2/16) when the 4-bit bucket
# count stays fixed while the corpus grows — the q_hard_negatives anchor
# budget applied to the candidate side. No-op at the oracle SFs (max
# bucket ~125 members at sf0.1); binds at sf1 (~1,250 -> 128). The real
# corpus-scale lever stays more anchor bits (buckets track n, sizes stay
# bounded); the cap bounds the worst case when they don't.
KNN_LOO_CAND_CAP = 128


@register(
    "q_knn_loo",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
anch AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id IN (1, 2, 3, 4)),
bits AS (
    SELECT e.vec_id,
           string_agg(CASE WHEN list_dot_product(e.v, a.av) > 0
                           THEN '1' ELSE '0' END, '' ORDER BY a.aid)
               AS bucket
    FROM e, anch a GROUP BY e.vec_id
),
eb AS (
    SELECT e.vec_id, e.v, e.label, b.bucket
    FROM e JOIN bits b ON b.vec_id = e.vec_id
),
cand AS (
    SELECT vec_id, v, label, bucket FROM (
        SELECT eb.*, row_number() OVER (PARTITION BY bucket
                                        ORDER BY vec_id) AS crn
        FROM eb
    ) WHERE crn <= {KNN_LOO_CAND_CAP}
),
nn AS (
    SELECT a.vec_id, a.label AS a_label, b.label AS nn_label,
           row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {_COS.format(a="a.v", b="b.v")} DESC,
                        b.vec_id ASC) AS rn
    FROM eb a JOIN cand b
      ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT a_label AS label,
       CAST(count(*) AS BIGINT) AS n_scored,
       CAST(sum(CASE WHEN nn_label = a_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_match,
       sum(CASE WHEN nn_label = a_label THEN 1 ELSE 0 END)
           * 1000000000 // count(*) AS acc_ppb
FROM nn WHERE rn = 1
GROUP BY a_label
""",
)
def q_knn_loo(spark, sf_dir):
    # Leave-one-out 1-NN label agreement — the intrinsic embedding-
    # quality check run before any model training: if a vector's nearest
    # neighbor (itself excluded) usually carries the SAME label, the
    # space separates classes.  Neighbors are searched within the
    # 4-anchor sign-projection LSH bucket (the q_ann_lsh discipline —
    # bucket-bounded pair work; at corpus scale more anchor bits shrink
    # the buckets, same plan), and the candidate side is capped at
    # KNN_LOO_CAND_CAP lowest ids per bucket (the oracle pins the same
    # literal) so the bucket self-join stays O(n x cap) when bucket sizes
    # outgrow the fixed bit width.  The argmax rides the (cos, -vec_id) struct-max
    # (q_hard_negatives' tiebreak mirror of the oracle's window), and
    # per-label accuracy is exact ppb integers.
    from opc2mongodb_spark.functions.vectors import cosine
    from opc2mongodb_spark.operators.similarity import bucketize_lsh

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    bits = bucketize_lsh(
        _t(spark, sf_dir, "embeddings"), anchor_ids=[1, 2, 3, 4]
    )
    eb = e.join(bits, "vec_id")
    cw = Window.partitionBy("bucket").orderBy("vec_id")
    cand = (
        eb.withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= KNN_LOO_CAND_CAP)
        .drop("crn")
    )
    a = eb.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("a_v"),
        F.col("label").alias("a_label"),
        "bucket",
    )
    b = cand.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("b_v"),
        F.col("label").alias("b_label"),
        F.col("bucket").alias("b_bucket"),
    )
    pairs = a.join(
        b,
        (F.col("bucket") == F.col("b_bucket"))
        & (F.col("a_id") != F.col("b_id")),
    ).select(
        "a_id",
        "a_label",
        F.struct(
            cosine(F.col("a_v"), F.col("b_v")).alias("cos"),
            (-F.col("b_id")).alias("nid"),
            F.col("b_label").alias("nn_label"),
        ).alias("sc"),
    )
    best = pairs.groupBy("a_id", "a_label").agg(
        F.max("sc").alias("best")
    )
    return (
        best.select(
            F.col("a_label").alias("label"),
            F.when(
                F.col("best.nn_label") == F.col("a_label"), 1
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum("hit").cast("bigint").alias("n_match"),
            F.expr("sum(hit) * 1000000000 DIV count(*)").alias("acc_ppb"),
        )
    )


@register(
    "q_temperature_mix",
    """
WITH s AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS toks
    FROM documents GROUP BY source
),
t AS (SELECT CAST(sum(toks) AS BIGINT) AS tot FROM s),
w AS (
    SELECT source, n_docs, toks, t.tot,
           CAST(exp(0.7 * ln(CAST(toks AS DOUBLE) / CAST(t.tot AS DOUBLE)))
                AS DECIMAL(18,12)) AS wraw
    FROM s CROSS JOIN t WHERE toks > 0
),
z AS (SELECT CAST(sum(wraw) AS DECIMAL(18,12)) AS zsum FROM w)
SELECT w.source, CAST(w.n_docs AS BIGINT) AS n_docs,
       CAST(floor(1000000000.0 * CAST(w.toks AS DOUBLE)
                  / CAST(w.tot AS DOUBLE)) AS BIGINT) AS token_share_ppb,
       CAST(floor(1000000000.0
                  * CAST(w.wraw AS DOUBLE) / CAST(z.zsum AS DOUBLE))
            AS BIGINT) AS temp_weight_ppb,
       printf('%.9e',
              (CAST(w.wraw AS DOUBLE) / CAST(z.zsum AS DOUBLE))
              / (CAST(w.toks AS DOUBLE) / CAST(w.tot AS DOUBLE)))
           AS effective_epochs
FROM w CROSS JOIN z
""",
)
def q_temperature_mix(spark, sf_dir):
    # Temperature-scaled source mixing (alpha = 0.7) — the standard
    # multilingual/multi-source rebalance for training mixes: sampling
    # weight proportional to token_share^alpha upweights the tail
    # sources, and effective_epochs = weight/share says how many times
    # each source's data is (re)seen in one mixed epoch — the
    # oversampling-duplication budget the dedup suite exists to protect.
    # One |sources| rollup; p^alpha runs as exp(alpha*ln p) on EXACT
    # integer ratios (identical inputs both engines), each raw weight is
    # decimal-pinned BEFORE the normalizer sum (partial-agg order
    # discipline), shares and weights render floor-scaled ppb.
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("toks"),
    )
    t = s.agg(F.sum("toks").cast("bigint").alias("tot"))
    p = F.col("toks").cast("double") / F.col("tot").cast("double")
    w = (
        s.crossJoin(F.broadcast(t))
        .filter(F.col("toks") > 0)
        .select(
            "source",
            "n_docs",
            "toks",
            "tot",
            F.exp(F.lit(0.7) * F.log(p)).cast("decimal(18,12)").alias(
                "wraw"
            ),
        )
    )
    z = w.agg(F.sum("wraw").cast("decimal(18,12)").alias("zsum"))
    wn = F.col("wraw").cast("double") / F.col("zsum").cast("double")
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.floor(F.lit(1000000000.0) * p).cast("bigint").alias(
            "token_share_ppb"
        ),
        F.floor(F.lit(1000000000.0) * wn).cast("bigint").alias(
            "temp_weight_ppb"
        ),
        sci9(wn / p).alias("effective_epochs"),
    )


@register(
    "q_class_balance_weights",
    """
WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
w AS (
    SELECT label, n,
           (1.0 - exp(CAST(n AS DOUBLE) * -0.0010005003335835344))
           / 0.001 AS eff_n,
           CAST(0.001 / (1.0 - exp(CAST(n AS DOUBLE)
                                   * -0.0010005003335835344))
                AS DECIMAL(18,12)) AS wraw
    FROM c
),
z AS (SELECT CAST(sum(wraw) AS DECIMAL(18,12)) AS zsum,
             CAST(count(*) AS BIGINT) AS k
      FROM w)
SELECT w.label, CAST(w.n AS BIGINT) AS n_vecs,
       printf('%.9e', w.eff_n) AS effective_n,
       CAST(floor(1000000000.0 * CAST(w.k AS DOUBLE)
                  * CAST(w.wraw AS DOUBLE) / CAST(z.zsum AS DOUBLE))
            AS BIGINT) AS weight_ppb
FROM (SELECT w.*, z2.k FROM w CROSS JOIN z z2) w CROSS JOIN z
""",
)
def q_class_balance_weights(spark, sf_dir):
    # Class-balanced loss weights by EFFECTIVE number of samples (Cui et
    # al.: eff_n = (1-beta^n)/(1-beta), beta = 0.999) — the principled
    # alternative to naive 1/n reweighting when labels are imbalanced:
    # marginal value of the n-th sample decays geometrically, so huge
    # classes saturate instead of being crushed.  beta^n runs as
    # exp(n * ln_beta) with ln(0.999) embedded as the SAME literal on
    # both engines (no data-dependent ln — the q_evalue_drift lesson);
    # raw weights pin to decimal before the normalizer sum; normalized
    # weights (mean 1 across the k classes) render floor-scaled ppb.
    e = _t(spark, sf_dir, "embeddings")
    c = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    beta_pow = F.exp(
        F.col("n").cast("double") * F.lit(-0.0010005003335835344)
    )
    w = c.select(
        "label",
        "n",
        ((F.lit(1.0) - beta_pow) / F.lit(0.001)).alias("eff_n"),
        (F.lit(0.001) / (F.lit(1.0) - beta_pow))
        .cast("decimal(18,12)")
        .alias("wraw"),
    )
    z = w.agg(
        F.sum("wraw").cast("decimal(18,12)").alias("zsum"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return w.crossJoin(F.broadcast(z)).select(
        "label",
        F.col("n").cast("bigint").alias("n_vecs"),
        sci9(F.col("eff_n")).alias("effective_n"),
        F.floor(
            F.lit(1000000000.0)
            * F.col("k").cast("double")
            * F.col("wraw").cast("double")
            / F.col("zsum").cast("double")
        )
        .cast("bigint")
        .alias("weight_ppb"),
    )


@register(
    "q_markov_order_test",
    """
WITH seq AS (
    SELECT user_id, event_type AS c,
           lag(event_type) OVER w AS b,
           lag(event_type, 2) OVER w AS a
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (
    SELECT a, b, c, count(*) AS n_abc
    FROM seq WHERE a IS NOT NULL GROUP BY a, b, c
),
margins AS (
    SELECT t.a, t.b, t.c, t.n_abc,
           ab.n_ab, bc.n_bc, bm.n_b
    FROM tri t
    JOIN (SELECT a, b, CAST(sum(n_abc) AS BIGINT) AS n_ab
          FROM tri GROUP BY a, b) ab ON ab.a = t.a AND ab.b = t.b
    JOIN (SELECT b, c, CAST(sum(n_abc) AS BIGINT) AS n_bc
          FROM tri GROUP BY b, c) bc ON bc.b = t.b AND bc.c = t.c
    JOIN (SELECT b, CAST(sum(n_abc) AS BIGINT) AS n_b
          FROM tri GROUP BY b) bm ON bm.b = t.b
),
terms AS (
    SELECT CAST(2.0 * n_abc
                * (ln(CAST(n_abc AS DOUBLE)) - ln(CAST(n_ab AS DOUBLE))
                   - ln(CAST(n_bc AS DOUBLE)) + ln(CAST(n_b AS DOUBLE)))
                AS DECIMAL(26,12)) AS term
    FROM margins
),
k AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS k FROM tri)
SELECT CAST((SELECT sum(n_abc) FROM tri) AS BIGINT) AS n_trigrams,
       k.k AS n_states,
       k.k * (k.k - 1) * (k.k - 1) AS df,
       printf('%.9e', CAST((SELECT sum(term) FROM terms) AS DOUBLE))
           AS g2
FROM k
""",
)
def q_markov_order_test(spark, sf_dir):
    # Likelihood-ratio test: does user behavior have SECOND-order memory,
    # or is the first-order chain (q_markov3, q_markov_cond_entropy)
    # sufficient?  G2 = 2*sum n_abc * ln(n_abc*n_b / (n_ab*n_bc)) — the
    # order-2 vs order-1 LR with all margins taken from the SAME trigram
    # table, so the statistic is internally consistent; ~chi2 with
    # k(k-1)^2 df under H0.  One windowed lag pass per user (bounded by
    # events-per-user) folds to a <=k^3-cell trigram frame; every ln
    # takes an exact integer, each term decimal-pins before the cell
    # sum (the q_bigram_nll rule); %.9e out.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("c"),
        F.lag("event_type").over(w).alias("b"),
        F.lag("event_type", 2).over(w).alias("a"),
    )
    tri = (
        seq.filter(F.col("a").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n_abc"))
    )
    ab = tri.groupBy("a", "b").agg(
        F.sum("n_abc").cast("bigint").alias("n_ab")
    )
    bc = tri.groupBy("b", "c").agg(
        F.sum("n_abc").cast("bigint").alias("n_bc")
    )
    bm = tri.groupBy("b").agg(F.sum("n_abc").cast("bigint").alias("n_b"))
    margins = (
        tri.join(F.broadcast(ab), ["a", "b"])
        .join(F.broadcast(bc), ["b", "c"])
        .join(F.broadcast(bm), ["b"])
    )
    lnd = lambda c: F.log(F.col(c).cast("double"))
    terms = margins.select(
        (
            2.0
            * F.col("n_abc")
            * (lnd("n_abc") - lnd("n_ab") - lnd("n_bc") + lnd("n_b"))
        )
        .cast("decimal(26,12)")
        .alias("term")
    )
    g2 = terms.agg(F.sum("term").cast("double").alias("g2"))
    tot = tri.agg(F.sum("n_abc").cast("bigint").alias("n_trigrams"))
    k = tri.agg(F.countDistinct("c").cast("bigint").alias("k"))
    return (
        k.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(g2))
        .select(
            "n_trigrams",
            F.col("k").alias("n_states"),
            (F.col("k") * (F.col("k") - 1) * (F.col("k") - 1)).alias("df"),
            sci9(F.col("g2")).alias("g2"),
        )
    )


@register(
    "q_segment_migration",
    """
WITH bounds AS (
    SELECT min(epoch_us(ts)) AS t0,
           (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS tm
    FROM events
),
spend AS (
    SELECT user_id,
           CAST(sum(CASE WHEN epoch_us(e.ts) < b.tm AND value IS NOT NULL
                         AND event_type = 'purchase'
                         THEN CAST(floor(value * 1000000) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS s1,
           CAST(sum(CASE WHEN epoch_us(e.ts) >= b.tm AND value IS NOT NULL
                         AND event_type = 'purchase'
                         THEN CAST(floor(value * 1000000) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS s2
    FROM events e CROSS JOIN bounds b
    GROUP BY user_id
),
seg AS (
    SELECT user_id,
           CASE WHEN s1 = 0 THEN 'none'
                WHEN s1 < 100000000 THEN 'low'
                WHEN s1 < 1000000000 THEN 'mid'
                ELSE 'high' END AS seg_from,
           CASE WHEN s2 = 0 THEN 'none'
                WHEN s2 < 100000000 THEN 'low'
                WHEN s2 < 1000000000 THEN 'mid'
                ELSE 'high' END AS seg_to
    FROM spend
),
mat AS (
    SELECT seg_from, seg_to, count(*) AS n_users FROM seg
    GROUP BY seg_from, seg_to
),
rowtot AS (
    SELECT seg_from, CAST(sum(n_users) AS BIGINT) AS row_n FROM mat
    GROUP BY seg_from
)
SELECT m.seg_from, m.seg_to, CAST(m.n_users AS BIGINT) AS n_users,
       m.n_users * 1000000000 // r.row_n AS row_share_ppb
FROM mat m JOIN rowtot r USING (seg_from)
""",
)
def q_segment_migration(spark, sf_dir):
    # Value-segment migration matrix between the first and second half
    # of the observation window — the churn/upgrade readout behind every
    # lifecycle dashboard: where do 'high' spenders GO, and what feeds
    # them?  Halves split at the exact integer-µs midpoint (1-row
    # broadcast); per-user half-spends are exact micro-integer sums;
    # segments use FIXED literal thresholds (no ntile — the matrix stays
    # value-meaningful and the plan needs no ranking window at all);
    # row-normalized transition shares are exact ppb.  One user rollup,
    # one <=16-cell matrix fold.
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(
        F.min(us).alias("t0"),
        F.expr(
            "(min(unix_micros(CAST(ts AS TIMESTAMP)))"
            " + max(unix_micros(CAST(ts AS TIMESTAMP)))) DIV 2"
        ).alias("tm"),
    )
    xs = F.floor(F.col("value") * 1000000).cast("bigint")
    is_p = F.col("value").isNotNull() & (F.col("event_type") == "purchase")
    spend = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(is_p & (us < F.col("tm")), xs).otherwise(0)
            )
            .cast("bigint")
            .alias("s1"),
            F.sum(
                F.when(is_p & (us >= F.col("tm")), xs).otherwise(0)
            )
            .cast("bigint")
            .alias("s2"),
        )
    )

    def seg(col):
        return (
            F.when(F.col(col) == 0, "none")
            .when(F.col(col) < 100000000, "low")
            .when(F.col(col) < 1000000000, "mid")
            .otherwise("high")
        )

    mat = (
        spend.select(
            seg("s1").alias("seg_from"), seg("s2").alias("seg_to")
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    rowtot = mat.groupBy("seg_from").agg(
        F.sum("n_users").cast("bigint").alias("row_n")
    )
    return mat.join(F.broadcast(rowtot), "seg_from").select(
        "seg_from",
        "seg_to",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.expr("n_users * 1000000000 DIV row_n").alias("row_share_ppb"),
    )


@register(
    "q_fisher_price_index",
    """
WITH bounds AS (
    SELECT (min(epoch_us(l_shipdate)) + max(epoch_us(l_shipdate))) // 2
               AS tm
    FROM lineitem
),
per AS (
    SELECT l_partkey AS pk,
           CASE WHEN epoch_us(l.l_shipdate) < b.tm THEN 1 ELSE 2 END
               AS period,
           CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS q,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS v
    FROM lineitem l CROSS JOIN bounds b
    GROUP BY 1, 2
),
matched AS (
    SELECT p1.pk, p1.q AS q1, p1.v AS v1, p2.q AS q2, p2.v AS v2
    FROM per p1 JOIN per p2 ON p1.pk = p2.pk
    WHERE p1.period = 1 AND p2.period = 2 AND p1.q > 0 AND p2.q > 0
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(CAST(v2 AS DOUBLE) / q2 * q1 AS DECIMAL(28,9)))
                AS DOUBLE) AS p2q1,
           CAST(sum(CAST(v1 AS DECIMAL(28,0))) AS DOUBLE) AS p1q1,
           CAST(sum(CAST(v2 AS DECIMAL(28,0))) AS DOUBLE) AS p2q2,
           CAST(sum(CAST(CAST(v1 AS DOUBLE) / q1 * q2 AS DECIMAL(28,9)))
                AS DOUBLE) AS p1q2
    FROM matched
)
SELECT CAST(n AS BIGINT) AS n_parts_matched,
       printf('%.9e', p2q1 / p1q1) AS laspeyres,
       printf('%.9e', p2q2 / p1q2) AS paasche,
       printf('%.9e', sqrt((p2q1 / p1q1) * (p2q2 / p1q2))) AS fisher
FROM s WHERE p1q1 > 0 AND p1q2 > 0
""",
)
def q_fisher_price_index(spark, sf_dir):
    # Laspeyres / Paasche / Fisher price indices between the two halves
    # of the shipping window — the index-number machinery behind every
    # "prices rose X%" claim, done right: Laspeyres weights price
    # relatives by BASE-period quantities, Paasche by current, Fisher is
    # their geometric mean (the superlative index).  Per-part per-period
    # quantities and cent-values are exact integers off one rollup;
    # unit prices enter as v/q IEEE ratios whose p*q cross terms pin to
    # decimal BEFORE the part sum (partial-agg order discipline);
    # matched parts only (both periods, q > 0).  One fact rollup, one
    # part-keyed self-join, a 1-row fold.
    li = _t(spark, sf_dir, "lineitem")
    us = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    bounds = li.agg(
        F.expr(
            "(min(unix_micros(CAST(l_shipdate AS TIMESTAMP)))"
            " + max(unix_micros(CAST(l_shipdate AS TIMESTAMP)))) DIV 2"
        ).alias("tm")
    )
    per = (
        li.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.when(us < F.col("tm"), 1).otherwise(2).alias("period"),
        )
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("q"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("v"),
        )
    )
    p1 = per.filter((F.col("period") == 1) & (F.col("q") > 0)).select(
        "pk", F.col("q").alias("q1"), F.col("v").alias("v1")
    )
    p2 = per.filter((F.col("period") == 2) & (F.col("q") > 0)).select(
        F.col("pk").alias("pk2"),
        F.col("q").alias("q2"),
        F.col("v").alias("v2"),
    )
    matched = p1.join(p2, F.col("pk") == F.col("pk2"))
    s = matched.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                F.col("v2").cast("double") / F.col("q2") * F.col("q1")
            ).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("p2q1"),
        F.sum(F.col("v1").cast("decimal(28,0)")).cast("double").alias(
            "p1q1"
        ),
        F.sum(F.col("v2").cast("decimal(28,0)")).cast("double").alias(
            "p2q2"
        ),
        F.sum(
            (
                F.col("v1").cast("double") / F.col("q1") * F.col("q2")
            ).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("p1q2"),
    )
    L = F.col("p2q1") / F.col("p1q1")
    P = F.col("p2q2") / F.col("p1q2")
    return s.filter((F.col("p1q1") > 0) & (F.col("p1q2") > 0)).select(
        F.col("n").cast("bigint").alias("n_parts_matched"),
        sci9(L).alias("laspeyres"),
        sci9(P).alias("paasche"),
        sci9(F.sqrt(L * P)).alias("fisher"),
    )


@register(
    "q_abc_classification",
    """
WITH rev AS (
    SELECT l_partkey AS pk,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS r
    FROM lineitem GROUP BY l_partkey
),
w AS (SELECT CAST(sum(r) AS BIGINT) AS wtot FROM rev),
cum AS (
    SELECT r, sum(r) OVER (ORDER BY r, pk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
    FROM rev
),
t AS (
    SELECT (SELECT r FROM cum, w
            WHERE cw >= CAST(ceil(wtot / 20.0) AS BIGINT)
            ORDER BY cw LIMIT 1) AS t05,
           (SELECT r FROM cum, w
            WHERE cw >= CAST(ceil(wtot / 5.0) AS BIGINT)
            ORDER BY cw LIMIT 1) AS t20
),
classed AS (
    SELECT CASE WHEN rev.r < t.t05 THEN 'C'
                WHEN rev.r < t.t20 THEN 'B'
                ELSE 'A' END AS abc_class,
           rev.r
    FROM rev CROSS JOIN t
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(r) AS BIGINT) AS revenue_cents,
       CAST(floor(1000000000.0 * CAST(sum(r) AS DOUBLE)
                  / CAST(max(w.wtot) AS DOUBLE)) AS BIGINT)
           AS revenue_share_ppb
FROM classed CROSS JOIN w
GROUP BY abc_class
""",
)
def q_abc_classification(spark, sf_dir):
    # Pareto ABC inventory classes by revenue — A carries ~80% of
    # revenue, B the next ~15%, C the tail — via REVENUE-WEIGHTED rank
    # selection: the class thresholds are the revenue values where the
    # bottom-up cumulative revenue crosses 5% and 20% of the total,
    # found through the shared histogram operator's weight-expanded
    # rank path (integer cent weights keep every cumulative exact; the
    # naive weighted-window oracle cross-validates).  Whole parts
    # classify by threshold compare (tie-stable on both engines);
    # shares render floor-scaled ppb.  One fact rollup, rank selection
    # on the |parts| frame, one <=3-row fold.
    from opc2mongodb_spark.operators.histogram import rank_select

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("r")
    )
    w = rev.agg(F.sum("r").cast("bigint").alias("wtot"))
    thr = rank_select(
        rev,
        "r",
        [
            lambda n: F.ceil(n / 20.0),
            lambda n: F.ceil(n / 5.0),
        ],
        tiebreak_cols=["pk"],
        weight_col="r",
    )
    t = thr.agg(
        F.min(F.struct("rank", "r")).alias("lo"),
        F.max(F.struct("rank", "r")).alias("hi"),
    ).select(
        F.col("lo.r").alias("t05"), F.col("hi.r").alias("t20")
    )
    classed = rev.crossJoin(F.broadcast(t)).select(
        F.when(F.col("r") < F.col("t05"), "C")
        .when(F.col("r") < F.col("t20"), "B")
        .otherwise("A")
        .alias("abc_class"),
        "r",
    )
    return (
        classed.crossJoin(F.broadcast(w))
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("r").cast("bigint").alias("revenue_cents"),
            F.floor(
                F.lit(1000000000.0)
                * F.sum("r").cast("double")
                / F.max("wtot").cast("double")
            )
            .cast("bigint")
            .alias("revenue_share_ppb"),
        )
    )


@register(
    "q_burrows_delta",
    """
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
st AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok),
tots AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM st
         GROUP BY source),
top AS (
    SELECT tok FROM (
        SELECT tok, sum(n) AS n FROM st GROUP BY tok
        ORDER BY n DESC, tok ASC LIMIT 50)
),
grid AS (
    SELECT t.tok, s.source, s.tot,
           CAST(coalesce(st.n, 0) AS BIGINT) AS n
    FROM top t CROSS JOIN tots s
    LEFT JOIN st ON st.tok = t.tok AND st.source = s.source
),
f AS (
    SELECT tok, source,
           CAST(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
                AS DECIMAL(18,12)) AS f
    FROM grid
),
mz AS (
    SELECT tok,
           CAST(sum(f) AS DOUBLE) / count(*) AS mu,
           sqrt(greatest(
               CAST(sum(CAST(f * f AS DECIMAL(28,18))) AS DOUBLE)
                   / count(*)
               - (CAST(sum(f) AS DOUBLE) / count(*))
                 * (CAST(sum(f) AS DOUBLE) / count(*)), 0.0)) AS sd
    FROM f GROUP BY tok
),
z AS (
    SELECT f.tok, f.source,
           (CAST(f.f AS DOUBLE) - mz.mu) / mz.sd AS z
    FROM f JOIN mz ON mz.tok = f.tok WHERE mz.sd > 0
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(abs(a.z - b.z) AS DECIMAL(28,12)) AS term
    FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_tokens,
       printf('%.9e', CAST(sum(term) AS DOUBLE) / count(*)) AS delta
FROM pairs GROUP BY source_a, source_b
""",
)
def q_burrows_delta(spark, sf_dir):
    # Burrows' Delta between sources — the classic stylometric distance:
    # z-score each of the top-50 corpus tokens' relative frequencies
    # across sources, then Delta(a,b) = mean |z_a - z_b|.  Low Delta
    # pairs write alike (shared boilerplate/template or actual
    # same-origin content — a provenance audit the hash dedup family
    # can't see).  One token rollup is the only data-sized pass; the
    # top-50 list is a TakeOrdered broadcast; the |sources| x 50 grid
    # (zeros included — a token a source NEVER uses is maximal signal)
    # carries decimal-pinned frequencies so the per-token moments and
    # the per-pair term sums are order-stable; %.9e out.
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    tots = st.groupBy("source").agg(F.sum("n").cast("bigint").alias("tot"))
    top = (
        st.groupBy("tok")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(50)
        .select("tok")
    )
    grid = (
        top.crossJoin(tots)
        .join(st, ["tok", "source"], "left")
        .select(
            "tok",
            "source",
            "tot",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        )
    )
    f = grid.select(
        "tok",
        "source",
        (F.col("n").cast("double") / F.col("tot").cast("double"))
        .cast("decimal(18,12)")
        .alias("f"),
    )
    mz = f.groupBy("tok").agg(
        (F.sum("f").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(
                    (F.col("f") * F.col("f")).cast("decimal(28,18)")
                ).cast("double")
                / F.count(F.lit(1))
                - (F.sum("f").cast("double") / F.count(F.lit(1)))
                * (F.sum("f").cast("double") / F.count(F.lit(1))),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    z = (
        f.join(F.broadcast(mz), "tok")
        .filter(F.col("sd") > 0)
        .select(
            "tok",
            "source",
            ((F.col("f").cast("double") - F.col("mu")) / F.col("sd")).alias(
                "z"
            ),
        )
    )
    a = z.select("tok", F.col("source").alias("source_a"), F.col("z").alias("za"))
    b = z.select(
        F.col("tok").alias("tok_b"),
        F.col("source").alias("source_b"),
        F.col("z").alias("zb"),
    )
    pairs = a.join(
        b,
        (F.col("tok") == F.col("tok_b"))
        & (F.col("source_a") < F.col("source_b")),
    ).select(
        "source_a",
        "source_b",
        F.abs(F.col("za") - F.col("zb")).cast("decimal(28,12)").alias(
            "term"
        ),
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        sci9(F.sum("term").cast("double") / F.count(F.lit(1))).alias("delta"),
    )


@register(
    "q_lin_ccc",
    """
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               AS d,
           count(*) AS a
    FROM events GROUP BY 1, 2
),
feat AS (
    SELECT event_type,
           sum(a) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS x,
           count(*) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS k7,
           7 * a AS y
    FROM daily
),
s AS (
    SELECT event_type, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM feat WHERE k7 = 7 GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       printf('%.9e',
              2.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 + (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                 + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
                   * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))))
           AS ccc
FROM s
WHERE n * sxx > sx * sx OR n * syy > sy * sy OR sx <> sy
""",
)
def q_lin_ccc(spark, sf_dir):
    # Lin's concordance correlation between the trailing-week forecast
    # and the actual daily volume — the AGREEMENT metric Pearson isn't:
    # r forgives constant bias and scale drift, CCC punishes both
    # (2*cov / (var_x + var_y + bias^2)), which is what "does the
    # forecast land on the 45-degree line" actually asks.  Pairs carry
    # in x7 units so both sides are exact integers (q_rolling_backtest's
    # trick); the n^2-normalizers cancel algebraically, so CCC is one
    # IEEE chain over exact sums per series, %.9e out.  Windows run on
    # the day spine per type.
    ev = _t(spark, sf_dir, "events")
    didx = (
        F.unix_micros(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400000000)
    ).cast("bigint")
    daily = ev.groupBy("event_type", didx.alias("d")).agg(
        F.count(F.lit(1)).alias("a")
    )
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    feat = daily.select(
        "event_type",
        F.sum("a").over(w7).alias("x"),
        F.count(F.lit(1)).over(w7).alias("k7"),
        (7 * F.col("a")).alias("y"),
    )
    s = feat.filter(F.col("k7") == 7).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = nd * F.col("sxy").cast("double") - sxd * syd
    vx = nd * F.col("sxx").cast("double") - sxd * sxd
    vy = nd * F.col("syy").cast("double") - syd * syd
    return s.filter(
        (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        | (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        | (F.col("sx") != F.col("sy"))
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        sci9(2.0 * cov / (vx + vy + (sxd - syd) * (sxd - syd))).alias("ccc"),
    )


@register(
    "q_price_volume_mix",
    """
WITH bounds AS (
    SELECT (min(epoch_us(l_shipdate)) + max(epoch_us(l_shipdate))) // 2
               AS tm
    FROM lineitem
),
per AS (
    SELECT l_partkey AS pk,
           CASE WHEN epoch_us(l.l_shipdate) < b.tm THEN 1 ELSE 2 END
               AS period,
           CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS q,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS v
    FROM lineitem l CROSS JOIN bounds b
    GROUP BY 1, 2
),
w AS (
    SELECT coalesce(p1.pk, p2.pk) AS pk,
           coalesce(p1.q, 0) AS q1, coalesce(p1.v, 0) AS v1,
           coalesce(p2.q, 0) AS q2, coalesce(p2.v, 0) AS v2
    FROM (SELECT * FROM per WHERE period = 1) p1
    FULL OUTER JOIN (SELECT * FROM per WHERE period = 2) p2
      ON p1.pk = p2.pk
),
eff AS (
    SELECT
        CAST(sum(v1) AS BIGINT) AS rev1,
        CAST(sum(v2) AS BIGINT) AS rev2,
        CAST(sum(CASE WHEN q1 > 0 AND q2 > 0 THEN CAST(
            (CAST(v2 AS DOUBLE) / q2 - CAST(v1 AS DOUBLE) / q1) * q1
            AS DECIMAL(28,9)) ELSE 0 END) AS DOUBLE) AS price_eff,
        CAST(sum(CASE WHEN q1 > 0 AND q2 > 0 THEN CAST(
            CAST(v1 AS DOUBLE) / q1 * (q2 - q1)
            AS DECIMAL(28,9)) ELSE 0 END) AS DOUBLE) AS volume_eff,
        CAST(sum(CASE WHEN q1 > 0 AND q2 > 0 THEN CAST(
            (CAST(v2 AS DOUBLE) / q2 - CAST(v1 AS DOUBLE) / q1)
            * (q2 - q1) AS DECIMAL(28,9)) ELSE 0 END) AS DOUBLE)
            AS mix_eff,
        CAST(sum(CASE WHEN q1 = 0 THEN v2 ELSE 0 END) AS BIGINT)
            AS new_parts_rev,
        CAST(sum(CASE WHEN q2 = 0 THEN -v1 ELSE 0 END) AS BIGINT)
            AS lost_parts_rev
    FROM w
)
SELECT rev1, rev2, CAST(rev2 - rev1 AS BIGINT) AS delta_rev,
       printf('%.9e', price_eff) AS price_effect,
       printf('%.9e', volume_eff) AS volume_effect,
       printf('%.9e', mix_eff) AS joint_effect,
       new_parts_rev, lost_parts_rev,
       CAST(abs(CAST(rev2 - rev1 AS DOUBLE)
                - (price_eff + volume_eff + mix_eff
                   + CAST(new_parts_rev + lost_parts_rev AS DOUBLE)))
            < 1.0 AS BOOLEAN) AS bridge_closes
FROM eff
""",
)
def q_price_volume_mix(spark, sf_dir):
    # Price-volume-mix bridge between the shipping-window halves — the
    # finance-review companion to q_fisher_price_index: HOW did revenue
    # move?  delta = price effect (dp*q1) + volume effect (p1*dq) +
    # joint (dp*dq) + new-part revenue + lost-part revenue, and the
    # emitted bridge_closes flag proves the decomposition closes to
    # within one cent (the residual itself is a catastrophic
    # cancellation of two ~1e11 doubles — ulp-level noise by
    # construction, so it is asserted against a tolerance, not
    # rendered).  Per-part period totals are exact cents/units off one
    # rollup; unit-price effects pin to decimal BEFORE the part sum;
    # new/lost contributions stay exact integers.  One fact rollup, one
    # part-keyed full outer join, a 1-row fold.
    li = _t(spark, sf_dir, "lineitem")
    us = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    bounds = li.agg(
        F.expr(
            "(min(unix_micros(CAST(l_shipdate AS TIMESTAMP)))"
            " + max(unix_micros(CAST(l_shipdate AS TIMESTAMP)))) DIV 2"
        ).alias("tm")
    )
    per = (
        li.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.when(us < F.col("tm"), 1).otherwise(2).alias("period"),
        )
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("q"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("v"),
        )
    )
    p1 = per.filter(F.col("period") == 1).select(
        "pk", F.col("q").alias("q1"), F.col("v").alias("v1")
    )
    p2 = per.filter(F.col("period") == 2).select(
        F.col("pk").alias("pk2"),
        F.col("q").alias("q2"),
        F.col("v").alias("v2"),
    )
    w = p1.join(p2, F.col("pk") == F.col("pk2"), "full_outer").select(
        F.coalesce(F.col("q1"), F.lit(0)).alias("q1"),
        F.coalesce(F.col("v1"), F.lit(0)).alias("v1"),
        F.coalesce(F.col("q2"), F.lit(0)).alias("q2"),
        F.coalesce(F.col("v2"), F.lit(0)).alias("v2"),
    )
    both = (F.col("q1") > 0) & (F.col("q2") > 0)
    up1 = F.col("v1").cast("double") / F.col("q1")
    up2 = F.col("v2").cast("double") / F.col("q2")
    d9 = lambda c: c.cast("decimal(28,9)")
    eff = w.agg(
        F.sum("v1").cast("bigint").alias("rev1"),
        F.sum("v2").cast("bigint").alias("rev2"),
        F.sum(F.when(both, d9((up2 - up1) * F.col("q1"))).otherwise(F.lit(0)))
        .cast("double")
        .alias("price_eff"),
        F.sum(
            F.when(both, d9(up1 * (F.col("q2") - F.col("q1")))).otherwise(
                F.lit(0)
            )
        )
        .cast("double")
        .alias("volume_eff"),
        F.sum(
            F.when(
                both, d9((up2 - up1) * (F.col("q2") - F.col("q1")))
            ).otherwise(F.lit(0))
        )
        .cast("double")
        .alias("mix_eff"),
        F.sum(F.when(F.col("q1") == 0, F.col("v2")).otherwise(0))
        .cast("bigint")
        .alias("new_parts_rev"),
        F.sum(F.when(F.col("q2") == 0, -F.col("v1")).otherwise(0))
        .cast("bigint")
        .alias("lost_parts_rev"),
    )
    return eff.select(
        "rev1",
        "rev2",
        (F.col("rev2") - F.col("rev1")).cast("bigint").alias("delta_rev"),
        sci9(F.col("price_eff")).alias("price_effect"),
        sci9(F.col("volume_eff")).alias("volume_effect"),
        sci9(F.col("mix_eff")).alias("joint_effect"),
        "new_parts_rev",
        "lost_parts_rev",
        (
            F.abs(
                (F.col("rev2") - F.col("rev1")).cast("double")
                - (
                    F.col("price_eff")
                    + F.col("volume_eff")
                    + F.col("mix_eff")
                    + (
                        F.col("new_parts_rev") + F.col("lost_parts_rev")
                    ).cast("double")
                )
            )
            < 1.0
        ).alias("bridge_closes"),
    )


@register(
    "q_eb_return_rate",
    """
WITH r AS (
    SELECT p.p_brand AS brand,
           count(*) AS n,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS g,
           CAST(sum(CAST(CAST(k AS DOUBLE) / n AS DECIMAL(18,12)))
                AS DOUBLE) / count(*) AS m,
           CAST(sum(CAST((CAST(k AS DOUBLE) / n) * (CAST(k AS DOUBLE) / n)
                         AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS m2
    FROM r
),
prior AS (
    SELECT g, m,
           greatest(m2 - m * m, 1e-12) AS v,
           greatest(m * (1.0 - m) / greatest(m2 - m * m, 1e-12) - 1.0,
                    1.0) AS s
    FROM mom
)
SELECT r.brand, CAST(r.n AS BIGINT) AS n_lineitems,
       CAST(r.k AS BIGINT) AS n_returned,
       r.k * 1000000000 // r.n AS raw_rate_ppb,
       printf('%.9e',
              (CAST(r.k AS DOUBLE) + p.m * p.s)
              / (CAST(r.n AS DOUBLE) + p.s)) AS eb_rate,
       printf('%.9e', p.s) AS prior_strength
FROM r CROSS JOIN prior p
""",
)
def q_eb_return_rate(spark, sf_dir):
    # Empirical-Bayes shrunken return rates per brand — the right way to
    # RANK noisy segment rates (q_brand_return_rate reports them raw): a
    # beta-binomial prior is moment-matched from the between-brand rate
    # spread (strength s = m(1-m)/v - 1, floored at 1 when the variance
    # is degenerate), and each brand's rate shrinks toward the grand
    # mean in proportion to its evidence: (k + m*s)/(n + s).  Small
    # brands move a lot, big brands barely — exactly the behavior a
    # leaderboard needs.  One fact-dim rollup; per-brand rates pin to
    # decimal before the |brands| moment sums; raw rates stay exact ppb;
    # the shrunken rate is one deterministic double chain.
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    r = (
        li.join(
            F.broadcast(pt.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    rate = F.col("k").cast("double") / F.col("n")
    mom = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        (
            F.sum(rate.cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        (
            F.sum((rate * rate).cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    v = F.greatest(F.col("m2") - F.col("m") * F.col("m"), F.lit(1e-12))
    prior = mom.select(
        "g",
        "m",
        F.greatest(
            F.col("m") * (F.lit(1.0) - F.col("m")) / v - 1.0, F.lit(1.0)
        ).alias("s"),
    )
    return r.crossJoin(F.broadcast(prior)).select(
        "brand",
        F.col("n").cast("bigint").alias("n_lineitems"),
        F.col("k").cast("bigint").alias("n_returned"),
        F.expr("k * 1000000000 DIV n").alias("raw_rate_ppb"),
        sci9((F.col("k").cast("double") + F.col("m") * F.col("s"))
            / (F.col("n").cast("double") + F.col("s"))).alias("eb_rate"),
        sci9(F.col("s")).alias("prior_strength"),
    )


@register(
    "q_map_at_k",
    """
WITH pop AS (
    SELECT l_partkey AS partkey, count(DISTINCT l_orderkey) AS cnt
    FROM lineitem GROUP BY l_partkey
),
top20 AS (
    SELECT partkey,
           row_number() OVER (ORDER BY cnt DESC, partkey) AS rnk
    FROM (SELECT * FROM pop ORDER BY cnt DESC, partkey LIMIT 20)
),
last_order AS (
    SELECT o_custkey AS custkey, o_orderkey AS orderkey FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
),
hits AS (
    SELECT lo.custkey, t.rnk
    FROM last_order lo
    JOIN lineitem l ON l.l_orderkey = lo.orderkey
    JOIN top20 t ON t.partkey = l.l_partkey
    GROUP BY lo.custkey, t.rnk
),
ap AS (
    SELECT custkey, CAST(sum(term) AS BIGINT) AS ap_num,
           count(*) AS n_rel
    FROM (
        SELECT custkey,
               232792560 * (row_number() OVER (PARTITION BY custkey
                    ORDER BY rnk)) // rnk AS term
        FROM hits)
    GROUP BY custkey
),
allc AS (SELECT count(*) AS n_cust FROM last_order),
s AS (
    SELECT CAST(sum(ap_num // n_rel) AS BIGINT) AS sum_ap,
           CAST(count(*) AS BIGINT) AS n_hit
    FROM ap
)
SELECT CAST(a.n_cust AS BIGINT) AS n_customers, s.n_hit AS n_with_hits,
       CAST(floor(1000000000.0 * CAST(s.sum_ap AS DOUBLE)
                  / (232792560.0 * CAST(a.n_cust AS DOUBLE)))
            AS BIGINT) AS map_ppb
FROM s CROSS JOIN allc a
""",
)
def q_map_at_k(spark, sf_dir):
    # MAP@20 of the bestseller ranker against each customer's last order
    # — completes the ranking-eval suite (q_popularity_mrr scores only
    # the FIRST hit; MAP credits every relevant item by the precision at
    # its rank).  AP carries EXACTLY: precision at the j-th hit with
    # rank r is j/r, scaled by lcm(1..20) = 232792560 so per-customer
    # sums and the per-customer division by |relevant| are integer
    # arithmetic (truncating DIV on both engines — documented estimator
    # semantics, identical by the verified truncation rule); customers
    # with no hits contribute AP = 0.  The hit ranks per customer are a
    # <=20-row window; the candidate list is a TakeOrdered broadcast.
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    pop = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.countDistinct("l_orderkey").alias("cnt")
    )
    top20 = (
        pop.orderBy(F.desc("cnt"), F.asc("partkey"))
        .limit(20)
        .select(
            "partkey",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("partkey")))
            .alias("rnk"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy(
            F.desc("o_orderdate"), F.desc("o_orderkey")
        )
    )
    last_order = (
        od.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            rn.alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    hits = (
        last_order.join(
            li.select("l_orderkey", "l_partkey"),
            F.col("l_orderkey") == F.col("orderkey"),
        )
        .join(F.broadcast(top20), F.col("partkey") == F.col("l_partkey"))
        .select("custkey", "rnk")
        .distinct()
    )
    wj = Window.partitionBy("custkey").orderBy("rnk")
    ap = (
        hits.select(
            "custkey",
            F.expr(
                "232792560 * (row_number() OVER (PARTITION BY custkey"
                " ORDER BY rnk)) DIV rnk"
            ).alias("term"),
        )
        .groupBy("custkey")
        .agg(
            F.sum("term").cast("bigint").alias("ap_num"),
            F.count(F.lit(1)).alias("n_rel"),
        )
    )
    allc = last_order.agg(F.count(F.lit(1)).alias("n_cust"))
    s = ap.agg(
        F.sum(F.expr("ap_num DIV n_rel")).cast("bigint").alias("sum_ap"),
        F.count(F.lit(1)).cast("bigint").alias("n_hit"),
    )
    return s.crossJoin(F.broadcast(allc)).select(
        F.col("n_cust").cast("bigint").alias("n_customers"),
        F.col("n_hit").alias("n_with_hits"),
        F.floor(
            F.lit(1000000000.0)
            * F.col("sum_ap").cast("double")
            / (F.lit(232792560.0) * F.col("n_cust").cast("double"))
        )
        .cast("bigint")
        .alias("map_ppb"),
    )


@register(
    "q_iv_wald",
    """
WITH per_user AS (
    SELECT user_id,
           CASE WHEN CAST('0x' || substring(
                    md5(CAST(user_id AS VARCHAR) || '|med'), 1, 13)
                    AS BIGINT) < 2251799813685248
                THEN 1 ELSE 0 END AS z,
           count(*) AS m,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY user_id
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(z) AS BIGINT) AS sz,
           CAST(sum(m) AS BIGINT) AS sm,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(z * m) AS BIGINT) AS szm,
           CAST(sum(z * y) AS BIGINT) AS szy
    FROM per_user
)
SELECT CAST(n AS BIGINT) AS n_users,
       printf('%.9e', CAST(n * szm - sz * sm AS DOUBLE)
              / CAST(n * sz - sz * sz AS DOUBLE)) AS first_stage,
       printf('%.9e', CAST(n * szy - sz * sy AS DOUBLE)
              / CAST(n * sz - sz * sz AS DOUBLE)) AS reduced_form,
       printf('%.9e', CAST(n * szy - sz * sy AS DOUBLE)
              / CAST(n * szm - sz * sm AS DOUBLE)) AS wald_late
FROM s
WHERE n * sz > sz * sz AND n * szm <> sz * sm
""",
)
def q_iv_wald(spark, sf_dir):
    # Instrumental-variable (Wald) estimator — the encouragement-design
    # causal tool when the TREATMENT (activity) is self-selected but an
    # INSTRUMENT (the randomized md5 nudge) moves it: LATE =
    # cov(z,y)/cov(z,m), the reduced-form effect scaled by the first
    # stage.  Completes the causal suite (DiD, CUPED, CEM, mediation):
    # mediation assumes no unobserved confounding of m->y, IV does not.
    # Both covariance numerators are EXACT integers off one per-user
    # rollup + 1-row fold; three %.9e chains.  The first stage is
    # emitted so a weak instrument is visible, not silent.
    ev = _t(spark, sf_dir, "events")
    z = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit("|med"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        < 2251799813685248,
        1,
    ).otherwise(0)
    per_user = ev.groupBy("user_id").agg(
        F.max(z).alias("z"),
        F.count(F.lit(1)).alias("m"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("z") * F.col("m")).cast("bigint").alias("szm"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
    )
    n = F.col("n")
    czm = (n * F.col("szm") - F.col("sz") * F.col("sm")).cast("double")
    czy = (n * F.col("szy") - F.col("sz") * F.col("sy")).cast("double")
    vz = (n * F.col("sz") - F.col("sz") * F.col("sz")).cast("double")
    return s.filter(
        (n * F.col("sz") > F.col("sz") * F.col("sz"))
        & (n * F.col("szm") != F.col("sz") * F.col("sm"))
    ).select(
        n.cast("bigint").alias("n_users"),
        sci9(czm / vz).alias("first_stage"),
        sci9(czy / vz).alias("reduced_form"),
        sci9(czy / czm).alias("wald_late"),
    )


@register(
    "q_heavy_changers",
    """
WITH bounds AS (
    SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS tm FROM events
),
per AS (
    SELECT user_id,
           CAST(sum(CASE WHEN epoch_us(e.ts) <= b.tm THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(sum(CASE WHEN epoch_us(e.ts) > b.tm THEN 1 ELSE 0 END)
                AS BIGINT) AS c2
    FROM events e CROSS JOIN bounds b
    GROUP BY user_id
)
SELECT user_id, c1, c2, CAST(c2 - c1 AS BIGINT) AS delta,
       CAST(abs(c2 - c1) AS BIGINT) AS abs_delta
FROM per
ORDER BY abs_delta DESC, user_id ASC
LIMIT 20
""",
)
def q_heavy_changers(spark, sf_dir):
    # Heavy CHANGE detection — the ops question after heavy hitters
    # (q_heavy_hitters: who is big) is who MOVED: the 20 users whose
    # traffic changed most between the window halves, both directions
    # (a surge is a bot candidate, a collapse is churn or an outage
    # scoped to them).  One combinable per-user rollup against the
    # 1-row midpoint broadcast, then TakeOrderedAndProject on
    # (|delta| DESC, user_id) — never a global sort; all integers.
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(
        F.expr(
            "(min(unix_micros(CAST(ts AS TIMESTAMP)))"
            " + max(unix_micros(CAST(ts AS TIMESTAMP)))) DIV 2"
        ).alias("tm")
    )
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us <= F.col("tm"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(us > F.col("tm"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    return (
        per.select(
            "user_id",
            "c1",
            "c2",
            (F.col("c2") - F.col("c1")).cast("bigint").alias("delta"),
            F.abs(F.col("c2") - F.col("c1")).cast("bigint").alias(
                "abs_delta"
            ),
        )
        .orderBy(F.desc("abs_delta"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "q_reuse_gap_hist",
    """
WITH gaps AS (
    SELECT epoch_us(ts)
           - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS gap
    FROM events
),
b AS (
    SELECT (CASE WHEN gap >= 2 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 4 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 8 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 16 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 32 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 64 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 128 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 256 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 512 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 1024 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 2048 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 4096 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 8192 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 16384 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 32768 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 65536 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 131072 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 262144 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 524288 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 1048576 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 2097152 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 4194304 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 8388608 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 16777216 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 33554432 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 67108864 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 134217728 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 268435456 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 536870912 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 1073741824 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 2147483648 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 4294967296 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 8589934592 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 17179869184 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 34359738368 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 68719476736 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 137438953472 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 274877906944 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 549755813888 THEN 1 ELSE 0 END)
           + (CASE WHEN gap >= 1099511627776 THEN 1 ELSE 0 END) AS bucket
    FROM gaps WHERE gap IS NOT NULL AND gap > 0
),
h AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM h)
SELECT CAST(h.bucket AS BIGINT) AS log2_bucket,
       CAST(h.n AS BIGINT) AS n_gaps,
       h.n * 1000000000 // t.tot AS share_ppb
FROM h CROSS JOIN t
""",
)
def q_reuse_gap_hist(spark, sf_dir):
    # Inter-access gap histogram per user on a log2 time axis — the
    # temporal-locality readout behind cache/TTL sizing (a TIME-gap
    # proxy for reuse distance; true stack distance needs an LRU
    # simulation, documented honestly).  The log2 bucket is an EXACT
    # comparison ladder against power-of-two literals (floor(log2 x)
    # via libm would put a transcendental on the cross-engine path for
    # values that land exactly on powers of two); one per-user lag
    # window (bounded by events-per-user), one combinable histogram
    # rollup, exact ppb shares.
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select((us - F.lag(us).over(w)).alias("gap"))
    bucket = F.when(F.col("gap") >= 2, 1).otherwise(0) + F.when(F.col("gap") >= 4, 1).otherwise(0) + F.when(F.col("gap") >= 8, 1).otherwise(0) + F.when(F.col("gap") >= 16, 1).otherwise(0) + F.when(F.col("gap") >= 32, 1).otherwise(0) + F.when(F.col("gap") >= 64, 1).otherwise(0) + F.when(F.col("gap") >= 128, 1).otherwise(0) + F.when(F.col("gap") >= 256, 1).otherwise(0) + F.when(F.col("gap") >= 512, 1).otherwise(0) + F.when(F.col("gap") >= 1024, 1).otherwise(0) + F.when(F.col("gap") >= 2048, 1).otherwise(0) + F.when(F.col("gap") >= 4096, 1).otherwise(0) + F.when(F.col("gap") >= 8192, 1).otherwise(0) + F.when(F.col("gap") >= 16384, 1).otherwise(0) + F.when(F.col("gap") >= 32768, 1).otherwise(0) + F.when(F.col("gap") >= 65536, 1).otherwise(0) + F.when(F.col("gap") >= 131072, 1).otherwise(0) + F.when(F.col("gap") >= 262144, 1).otherwise(0) + F.when(F.col("gap") >= 524288, 1).otherwise(0) + F.when(F.col("gap") >= 1048576, 1).otherwise(0) + F.when(F.col("gap") >= 2097152, 1).otherwise(0) + F.when(F.col("gap") >= 4194304, 1).otherwise(0) + F.when(F.col("gap") >= 8388608, 1).otherwise(0) + F.when(F.col("gap") >= 16777216, 1).otherwise(0) + F.when(F.col("gap") >= 33554432, 1).otherwise(0) + F.when(F.col("gap") >= 67108864, 1).otherwise(0) + F.when(F.col("gap") >= 134217728, 1).otherwise(0) + F.when(F.col("gap") >= 268435456, 1).otherwise(0) + F.when(F.col("gap") >= 536870912, 1).otherwise(0) + F.when(F.col("gap") >= 1073741824, 1).otherwise(0) + F.when(F.col("gap") >= 2147483648, 1).otherwise(0) + F.when(F.col("gap") >= 4294967296, 1).otherwise(0) + F.when(F.col("gap") >= 8589934592, 1).otherwise(0) + F.when(F.col("gap") >= 17179869184, 1).otherwise(0) + F.when(F.col("gap") >= 34359738368, 1).otherwise(0) + F.when(F.col("gap") >= 68719476736, 1).otherwise(0) + F.when(F.col("gap") >= 137438953472, 1).otherwise(0) + F.when(F.col("gap") >= 274877906944, 1).otherwise(0) + F.when(F.col("gap") >= 549755813888, 1).otherwise(0) + F.when(F.col("gap") >= 1099511627776, 1).otherwise(0)
    b = gaps.filter(F.col("gap").isNotNull() & (F.col("gap") > 0)).select(
        bucket.alias("bucket")
    )
    h = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    t = h.agg(F.sum("n").cast("bigint").alias("tot"))
    return h.crossJoin(F.broadcast(t)).select(
        F.col("bucket").cast("bigint").alias("log2_bucket"),
        F.col("n").cast("bigint").alias("n_gaps"),
        F.expr("n * 1000000000 DIV tot").alias("share_ppb"),
    )


@register(
    "q_partial_corr",
    """
WITH r AS (
    SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
           CAST(floor(l_quantity + 0.5) AS BIGINT) AS y,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS z
    FROM lineitem
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(z) AS BIGINT) AS sz,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * z) AS BIGINT) AS sxz,
           CAST(sum(y * z) AS BIGINT) AS syz,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DOUBLE) AS szz
    FROM r
),
c AS (
    SELECT n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS rxy,
           (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS rxz,
           (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
           / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                  * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS ryz
    FROM s
)
SELECT CAST(n AS BIGINT) AS n_rows,
       printf('%.9e', rxy) AS r_xy,
       printf('%.9e', (rxy - rxz * ryz)
              / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))
           AS r_xy_given_z
FROM c
WHERE rxz * rxz < 1.0 AND ryz * ryz < 1.0
""",
)
def q_partial_corr(spark, sf_dir):
    # Partial correlation of discount vs quantity CONTROLLING for order
    # value — does the association survive once the obvious common
    # driver is netted out?  (q_discount_qty_corr reports the raw r;
    # q_simpsons_flag stratifies by brand; this is the continuous-
    # control completion.)  r_xy.z = (r_xy - r_xz*r_yz) /
    # sqrt((1-r_xz^2)(1-r_yz^2)) with all three pairwise correlations
    # off ONE combinable rollup of exact integer moments (the z*z sum
    # pins decimal(38,0) against BIGINT overflow at full scale); the
    # chain is IEEE doubles under %.9e.
    li = _t(spark, sf_dir, "lineitem")
    r = li.select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("x"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("y"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("z"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z"))
        .cast("double")
        .alias("szz"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    szd = F.col("sz").cast("double")
    rxy = (nd * F.col("sxy") - sxd * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - sxd * F.col("sx"))
        * (nd * F.col("syy") - syd * F.col("sy"))
    )
    rxz = (nd * F.col("sxz") - sxd * F.col("sz")) / F.sqrt(
        (nd * F.col("sxx") - sxd * F.col("sx"))
        * (nd * F.col("szz") - szd * szd)
    )
    ryz = (nd * F.col("syz") - syd * F.col("sz")) / F.sqrt(
        (nd * F.col("syy") - syd * F.col("sy"))
        * (nd * F.col("szz") - szd * szd)
    )
    return s.filter((rxz * rxz < 1.0) & (ryz * ryz < 1.0)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        sci9(rxy).alias("r_xy"),
        sci9((rxy - rxz * ryz)
            / F.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))).alias("r_xy_given_z"),
    )


@register(
    "q_cronbach_alpha",
    """
WITH per_user AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS i1,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS i2,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS i3,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS i4,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS i5
    FROM events GROUP BY user_id
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(i1) AS BIGINT) AS s1, CAST(sum(i1 * i1) AS BIGINT) AS q1,
           CAST(sum(i2) AS BIGINT) AS s2, CAST(sum(i2 * i2) AS BIGINT) AS q2,
           CAST(sum(i3) AS BIGINT) AS s3, CAST(sum(i3 * i3) AS BIGINT) AS q3,
           CAST(sum(i4) AS BIGINT) AS s4, CAST(sum(i4 * i4) AS BIGINT) AS q4,
           CAST(sum(i5) AS BIGINT) AS s5, CAST(sum(i5 * i5) AS BIGINT) AS q5,
           CAST(sum(i1 + i2 + i3 + i4 + i5) AS BIGINT) AS st,
           CAST(sum(CAST(i1 + i2 + i3 + i4 + i5 AS DECIMAL(38,0))
                    * (i1 + i2 + i3 + i4 + i5)) AS DOUBLE) AS qt
    FROM per_user
)
SELECT CAST(n AS BIGINT) AS n_users,
       printf('%.9e',
              ((CAST(n AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
               + (CAST(n AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
               + (CAST(n AS DOUBLE) * q3 - CAST(s3 AS DOUBLE) * s3)
               + (CAST(n AS DOUBLE) * q4 - CAST(s4 AS DOUBLE) * s4)
               + (CAST(n AS DOUBLE) * q5 - CAST(s5 AS DOUBLE) * s5))
              / (CAST(n AS DOUBLE) * qt
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))
           AS item_var_share,
       printf('%.9e',
              1.25 * (1.0
              - ((CAST(n AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                 + (CAST(n AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
                 + (CAST(n AS DOUBLE) * q3 - CAST(s3 AS DOUBLE) * s3)
                 + (CAST(n AS DOUBLE) * q4 - CAST(s4 AS DOUBLE) * s4)
                 + (CAST(n AS DOUBLE) * q5 - CAST(s5 AS DOUBLE) * s5))
                / (CAST(n AS DOUBLE) * qt
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))))
           AS alpha
FROM s
WHERE CAST(n AS DOUBLE) * qt > CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
""",
)
def q_cronbach_alpha(spark, sf_dir):
    # Cronbach's alpha of the five per-user activity counts as an
    # "engagement scale" — the measurement-reliability question behind
    # any composite metric (q_user_feature_table ships these as model
    # features; alpha says whether summing them into one engagement
    # score is internally consistent or mixes unrelated behaviors).
    # alpha = k/(k-1) * (1 - sum(var_i)/var_total) with every variance
    # numerator an EXACT integer off one per-user rollup (the total's
    # square sum pins decimal(38,0) against overflow); k = 5 fixed
    # items -> the k/(k-1) factor is the literal 1.25.  One %.9e chain.
    ev = _t(spark, sf_dir, "events")
    items = ["click", "view", "purchase", "signup", "error"]
    aggs = []
    for j, t in enumerate(items, 1):
        aggs.append(
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"i{j}")
        )
    per_user = ev.groupBy("user_id").agg(*aggs)
    tot = sum(F.col(f"i{j}") for j in range(1, 6))
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            a
            for j in range(1, 6)
            for a in (
                F.sum(f"i{j}").cast("bigint").alias(f"s{j}"),
                F.sum(F.col(f"i{j}") * F.col(f"i{j}"))
                .cast("bigint")
                .alias(f"q{j}"),
            )
        ],
        F.sum(tot).cast("bigint").alias("st"),
        F.sum(tot.cast("decimal(38,0)") * tot).cast("double").alias("qt"),
    )
    nd = F.col("n").cast("double")
    item_vars = sum(
        nd * F.col(f"q{j}")
        - F.col(f"s{j}").cast("double") * F.col(f"s{j}")
        for j in range(1, 6)
    )
    tot_var = nd * F.col("qt") - F.col("st").cast("double") * F.col(
        "st"
    ).cast("double")
    return s.filter(tot_var > 0).select(
        F.col("n").cast("bigint").alias("n_users"),
        sci9(item_vars / tot_var).alias(
            "item_var_share"
        ),
        sci9(F.lit(1.25) * (F.lit(1.0) - item_vars / tot_var)).alias("alpha"),
    )


@register(
    "q_dim_variance",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
comp AS (
    SELECT t.d AS dim,
           count(*) AS n,
           CAST(sum(CAST(v[t.d] AS DECIMAL(28,12))) AS DOUBLE) AS sx,
           CAST(sum(CAST(v[t.d] * v[t.d] AS DECIMAL(28,12))) AS DOUBLE)
               AS sxx,
           CAST(sum(CASE WHEN abs(v[t.d]) < 0.01 THEN 1 ELSE 0 END)
                AS BIGINT) AS nz
    FROM e, range(1, 65) t(d)
    GROUP BY t.d
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n_vecs,
       printf('%.9e', sxx / n - (sx / n) * (sx / n)) AS variance,
       nz * 1000000000 // n AS near_zero_ppb
FROM comp
""",
)
def q_dim_variance(spark, sf_dir):
    # Per-dimension variance and dead-weight census of the embedding
    # space — the pruning/whitening prelude: dimensions with near-zero
    # variance (or mostly near-zero activations) carry no signal and
    # inflate every cosine and index downstream (q_feature_nzv's
    # discipline applied to the vector space; q_pca_power then answers
    # how the LIVE variance concentrates).  One 64x posexplode rollup
    # with decimal-pinned moments; the near-zero share uses a literal
    # 0.01 threshold and renders exact ppb.
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    comp = (
        e.select(F.posexplode("v").alias("dim0", "x"))
        .groupBy((F.col("dim0") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(28,12)"))
            .cast("double")
            .alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sxx"),
            F.sum(F.when(F.abs(F.col("x")) < 0.01, 1).otherwise(0))
            .cast("bigint")
            .alias("nz"),
        )
    )
    return comp.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("n").cast("bigint").alias("n_vecs"),
        sci9(F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))).alias("variance"),
        F.expr("nz * 1000000000 DIV n").alias("near_zero_ppb"),
    )


@register(
    "q_dim_drift",
    """
WITH e AS (
    SELECT CAST(vec_id % 2 AS INTEGER) AS epoch,
           embedding::DOUBLE[] AS v
    FROM embeddings
),
comp AS (
    SELECT t.d AS dim, epoch,
           count(*) AS n,
           CAST(sum(CAST(v[t.d] AS DECIMAL(28,12))) AS DOUBLE) AS sx,
           CAST(sum(CAST(v[t.d] * v[t.d] AS DECIMAL(28,12))) AS DOUBLE)
               AS sxx
    FROM e, range(1, 65) t(d)
    GROUP BY t.d, epoch
),
wide AS (
    SELECT a.dim,
           a.n AS n0, a.sx AS sx0, a.sxx AS sxx0,
           b.n AS n1, b.sx AS sx1, b.sxx AS sxx1
    FROM comp a JOIN comp b ON a.dim = b.dim
    WHERE a.epoch = 0 AND b.epoch = 1
),
z AS (
    SELECT dim, n0, n1,
           (sx1 / n1 - sx0 / n0)
           / sqrt(greatest(
                 (sxx0 / n0 - (sx0 / n0) * (sx0 / n0)) / n0
                 + (sxx1 / n1 - (sx1 / n1) * (sx1 / n1)) / n1,
                 1e-300)) AS zshift
    FROM wide
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(n0 AS BIGINT) AS n_epoch0, CAST(n1 AS BIGINT) AS n_epoch1,
       printf('%.9e', zshift) AS z_shift
FROM z
ORDER BY abs(zshift) DESC, dim ASC
LIMIT 10
""",
)
def q_dim_drift(spark, sf_dir):
    # Per-DIMENSION drift attribution between embedding epochs — the
    # readout q_embedding_drift's single mean-cosine cannot give: WHICH
    # coordinates moved, as a two-sample z on each dimension's mean
    # (Welch denominator), top-10 by |z|.  A drifted dimension localizes
    # the upstream change (tokenizer, normalization, model version)
    # instead of just alarming.  Same 64x posexplode rollup with pinned
    # moments; the epoch split is the deterministic vec_id parity twin;
    # TakeOrdered with the |z| DESC, dim tiebreak.
    e = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).cast("int").alias("epoch"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    comp = (
        e.select("epoch", F.posexplode("v").alias("dim0", "x"))
        .groupBy((F.col("dim0") + 1).alias("dim"), "epoch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(28,12)"))
            .cast("double")
            .alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sxx"),
        )
    )
    a = comp.filter(F.col("epoch") == 0).select(
        "dim",
        F.col("n").alias("n0"),
        F.col("sx").alias("sx0"),
        F.col("sxx").alias("sxx0"),
    )
    b = comp.filter(F.col("epoch") == 1).select(
        F.col("dim").alias("dimb"),
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sxx").alias("sxx1"),
    )
    wide = a.join(b, F.col("dim") == F.col("dimb"))
    m0 = F.col("sx0") / F.col("n0")
    m1 = F.col("sx1") / F.col("n1")
    v0 = F.col("sxx0") / F.col("n0") - m0 * m0
    v1 = F.col("sxx1") / F.col("n1") - m1 * m1
    z = (m1 - m0) / F.sqrt(
        F.greatest(v0 / F.col("n0") + v1 / F.col("n1"), F.lit(1e-300))
    )
    return (
        wide.select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("n0").cast("bigint").alias("n_epoch0"),
            F.col("n1").cast("bigint").alias("n_epoch1"),
            z.alias("zshift"),
        )
        .orderBy(F.abs(F.col("zshift")).desc(), F.asc("dim"))
        .limit(10)
        .select(
            "dim",
            "n_epoch0",
            "n_epoch1",
            sci9(F.col("zshift")).alias("z_shift"),
        )
    )


@register(
    "q_seasonality_strength",
    """
WITH v AS (
    SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
           CAST(floor(value * 1000000) AS BIGINT) AS x
    FROM events WHERE value IS NOT NULL
),
cells AS (
    SELECT event_type, h, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx
    FROM v GROUP BY event_type, h
),
tot AS (
    SELECT event_type,
           CAST(sum(n) AS BIGINT) AS nt,
           CAST(sum(sx) AS BIGINT) AS sxt,
           CAST(sum(CAST(CAST(sx AS DOUBLE) / n * sx AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_cellmeans,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM cells GROUP BY event_type
),
sq AS (
    SELECT event_type,
           CAST(sum(CAST(CAST(x AS DECIMAL(38,0)) * x AS DECIMAL(38,0)))
                AS DOUBLE) AS sxx
    FROM v GROUP BY event_type
)
SELECT t.event_type, t.nt AS n_rows, t.n_hours,
       printf('%.9e',
              (t.sum_cellmeans
               - CAST(t.sxt AS DOUBLE) * t.sxt / t.nt)
              / (s.sxx - CAST(t.sxt AS DOUBLE) * t.sxt / t.nt))
           AS hour_variance_share
FROM tot t JOIN sq s USING (event_type)
WHERE s.sxx > CAST(t.sxt AS DOUBLE) * t.sxt / t.nt
""",
)
def q_seasonality_strength(spark, sf_dir):
    # Hour-of-day seasonality STRENGTH per series — the share of metric
    # variance explained by the hour-of-day grouping (the one-way R^2,
    # exactly q_variance_components' decomposition pointed at the clock):
    # near 0 means q_fourier_daily's harmonic is noise-fitting, near 1
    # means hour-aware baselines (q_hourly_envelope) are mandatory.
    # Exact micro-integer sums per (type, hour) cell; each cell-mean
    # term sx^2/n re-pins to decimal before the per-type fold; one
    # %.9e ratio.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("h"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("x"),
    )
    cells = v.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sx").cast("bigint").alias("sxt"),
        F.sum(
            (F.col("sx").cast("double") / F.col("n") * F.col("sx")).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sum_cellmeans"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    sq = v.groupBy("event_type").agg(
        F.sum(
            (F.col("x").cast("decimal(38,0)") * F.col("x")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("sxx")
    )
    gm = F.col("sxt").cast("double") * F.col("sxt") / F.col("nt")
    return tot.join(sq, "event_type").filter(F.col("sxx") > gm).select(
        "event_type",
        F.col("nt").alias("n_rows"),
        "n_hours",
        sci9((F.col("sum_cellmeans") - gm) / (F.col("sxx") - gm)).alias("hour_variance_share"),
    )


@register(
    "q_token_adaptation",
    """
WITH td AS (
    SELECT tok, doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    GROUP BY tok, doc_id
),
per_tok AS (
    SELECT tok,
           CAST(count(*) AS BIGINT) AS df1,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
           CAST(sum(c) AS BIGINT) AS tf
    FROM td GROUP BY tok
)
SELECT tok, df1, df2, tf,
       df2 * 1000000000 // df1 AS adaptation_ppb
FROM per_tok
ORDER BY tf DESC, tok ASC
LIMIT 30
""",
)
def q_token_adaptation(spark, sf_dir):
    # Church-Gale adaptation for the top-30 corpus tokens: P(token
    # occurs AGAIN in a document | it occurred once) = df2/df1 — the
    # burstiness law behind why document frequency beats term frequency
    # for topicality (function words adapt little, content words a lot);
    # complements q_token_dispersion (cross-doc spread) with WITHIN-doc
    # reuse.  One (tok, doc) rollup, one per-token fold, TakeOrdered
    # top-30 by total frequency with the tok tiebreak; exact ppb.
    d = _t(spark, sf_dir, "documents")
    td = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_tok = td.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df1"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("df2"),
        F.sum("c").cast("bigint").alias("tf"),
    )
    return (
        per_tok.select(
            "tok",
            "df1",
            "df2",
            "tf",
            F.expr("df2 * 1000000000 DIV df1").alias("adaptation_ppb"),
        )
        .orderBy(F.desc("tf"), F.asc("tok"))
        .limit(30)
    )


@register(
    "q_logistic_adoption",
    """
WITH s AS (
    SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               AS d,
           count(DISTINCT user_id) AS new_users
    FROM (
        SELECT user_id, min(ts) AS ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ) GROUP BY 1
),
cum AS (
    SELECT d, CAST(sum(new_users) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
    FROM s
),
tot AS (SELECT CAST(sum(new_users) AS BIGINT) AS k FROM s),
pts AS (
    SELECT d,
           CAST(ln(CAST(c AS DOUBLE) / (t.k + 1 - c)) AS DECIMAL(18,12))
               AS logit
    FROM cum CROSS JOIN tot t
    WHERE c < t.k + 1
),
reg AS (
    SELECT count(*) AS n,
           CAST(sum(d) AS BIGINT) AS sx,
           CAST(sum(logit) AS DOUBLE) AS sy,
           CAST(sum(d * logit) AS DOUBLE) AS sxy,
           CAST(sum(d * d) AS BIGINT) AS sxx
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_days, (SELECT k FROM tot) AS n_adopters,
       printf('%.9e',
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / (CAST(n AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           AS growth_rate,
       printf('%.9e',
              -(sy / n - (CAST(n AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) * sy)
                        / (CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * CAST(sx AS DOUBLE) / n)
              / ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
           AS midpoint_day
FROM reg
WHERE CAST(n AS DOUBLE) * sxx > CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
  AND CAST(n AS DOUBLE) * sxy <> CAST(sx AS DOUBLE) * sy
""",
)
def q_logistic_adoption(spark, sf_dir):
    # Logistic (S-curve) adoption fit on cumulative signups — the
    # diffusion model behind launch forecasting: with saturation pinned
    # at the observed adopter total K, ln(F/(K+1-F)) is LINEAR in time,
    # so the growth rate and inflection midpoint come from one OLS over
    # the day spine (the q_retention_curve_fit linearization discipline;
    # the +1 keeps the final day's logit finite).  Cumulative counts are
    # exact integers off the per-user first-signup rollup; each logit
    # pins to decimal before the spine sums; two %.9e outputs.
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    first = ev.groupBy("user_id").agg(F.min("ts").alias("ts"))
    didx = (
        F.unix_micros(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400000000)
    ).cast("bigint")
    s = first.groupBy(didx.alias("d")).agg(
        F.countDistinct("user_id").alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = s.select(
        "d", F.sum("new_users").over(w).cast("bigint").alias("c")
    )
    tot = s.agg(F.sum("new_users").cast("bigint").alias("k"))
    pts = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("c") < F.col("k") + 1)
        .select(
            "d",
            F.log(
                F.col("c").cast("double")
                / (F.col("k") + 1 - F.col("c"))
            )
            .cast("decimal(18,12)")
            .alias("logit"),
        )
    )
    reg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").cast("bigint").alias("sx"),
        F.sum("logit").cast("double").alias("sy"),
        F.sum(F.col("d") * F.col("logit")).cast("double").alias("sxy"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx") - sxd * sxd
    )
    intercept = F.col("sy") / F.col("n") - slope * sxd / F.col("n")
    return (
        reg.crossJoin(F.broadcast(tot))
        .filter(
            (nd * F.col("sxx") > sxd * sxd)
            & (nd * F.col("sxy") != sxd * F.col("sy"))
        )
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("k").alias("n_adopters"),
            sci9(slope).alias("growth_rate"),
            sci9(-intercept / slope).alias(
                "midpoint_day"
            ),
        )
    )


@register(
    "q_youden_cut",
    """
WITH base AS (
    SELECT event_id,
           CAST(floor(value * 1000000) AS BIGINT) AS xs,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE value IS NOT NULL
),
tt AS (SELECT count(*) AS n FROM base),
ranked AS (
    SELECT xs, row_number() OVER (ORDER BY xs, event_id) AS i FROM base
),
thr AS (
    SELECT DISTINCT xs AS thr FROM ranked, tt
    WHERE i IN (SELECT CAST(ceil(k * t2.n / 10.0) AS BIGINT)
                FROM generate_series(1, 9) AS g(k), tt AS t2)
),
cells AS (
    SELECT t.thr,
           CAST(sum(CASE WHEN b.xs >= t.thr THEN b.y ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN b.xs >= t.thr THEN 1 - b.y ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(b.y) AS BIGINT) AS pos,
           CAST(sum(1 - b.y) AS BIGINT) AS neg
    FROM base b CROSS JOIN thr t
    GROUP BY t.thr
),
j AS (
    SELECT thr, tp, fp, pos, neg,
           tp * neg - fp * pos AS jnum
    FROM cells WHERE pos > 0 AND neg > 0
)
SELECT CAST(thr AS BIGINT) AS best_thr_micro,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       tp * 1000000000 // pos AS tpr_ppb,
       fp * 1000000000 // neg AS fpr_ppb,
       CAST(jnum AS BIGINT) AS j_num,
       CAST(pos * neg AS BIGINT) AS j_den
FROM j
ORDER BY jnum DESC, thr ASC
LIMIT 1
""",
)
def q_youden_cut(spark, sf_dir):
    # Youden-J optimal operating point — WHICH of the nine decile
    # thresholds maximizes TPR - FPR (the cut q_pr_curve tabulates but
    # doesn't pick, and the argmax reading of q_auc_roc): J's numerator
    # tp*neg - fp*pos over the common denominator pos*neg is an EXACT
    # integer, so the argmax is tie-stable integer arithmetic end to
    # end (emitted as the num/den pair plus exact ppb rates).  Same
    # rank-selected thresholds and <=9-row broadcast fan-out as
    # q_pr_curve; the pick is a 9-row TakeOrdered.
    from opc2mongodb_spark.operators.histogram import (
        decile_ranks,
        rank_select,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "event_id",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("xs"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "y"
        ),
    )
    thr = (
        rank_select(
            base,
            "xs",
            decile_ranks(),
            tiebreak_cols=["event_id"],
        )
        .select(F.col("xs").alias("thr"))
        .distinct()
    )
    cells = (
        base.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when(F.col("xs") >= F.col("thr"), F.col("y")).otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when(F.col("xs") >= F.col("thr"), 1 - F.col("y")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(F.col("y")).cast("bigint").alias("pos"),
            F.sum(1 - F.col("y")).cast("bigint").alias("neg"),
        )
    )
    j = cells.filter((F.col("pos") > 0) & (F.col("neg") > 0)).select(
        "thr",
        "tp",
        "fp",
        "pos",
        "neg",
        (F.col("tp") * F.col("neg") - F.col("fp") * F.col("pos")).alias(
            "jnum"
        ),
    )
    return (
        j.orderBy(F.desc("jnum"), F.asc("thr"))
        .limit(1)
        .select(
            F.col("thr").cast("bigint").alias("best_thr_micro"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.expr("tp * 1000000000 DIV pos").alias("tpr_ppb"),
            F.expr("fp * 1000000000 DIV neg").alias("fpr_ppb"),
            F.col("jnum").cast("bigint").alias("j_num"),
            (F.col("pos") * F.col("neg")).cast("bigint").alias("j_den"),
        )
    )


@register(
    "q_jarque_bera",
    """
WITH v AS (
    SELECT event_type,
           CAST(floor(value * 100) AS BIGINT) AS x
    FROM events WHERE value IS NOT NULL
),
s AS (
    SELECT event_type, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS s1,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS s2,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x * x) AS DOUBLE) AS s3,
           CAST(sum(CAST(CAST(x AS DECIMAL(38,0)) * x AS DECIMAL(38,0))
                    * (CAST(x AS DECIMAL(38,0)) * x)) AS DOUBLE) AS s4
    FROM v GROUP BY event_type
),
m AS (
    SELECT event_type, n,
           CAST(s1 AS DOUBLE) / n AS m1, s2 / n AS r2,
           s3 / n AS r3, s4 / n AS r4
    FROM s
),
c AS (
    SELECT event_type, n,
           r2 - m1 * m1 AS mu2,
           r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS mu3,
           r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
              - 3.0 * m1 * m1 * m1 * m1 AS mu4
    FROM m
)
SELECT event_type, CAST(n AS BIGINT) AS n_rows,
       printf('%.9e', mu3 / sqrt(mu2 * mu2 * mu2)) AS skewness,
       printf('%.9e', mu4 / (mu2 * mu2) - 3.0) AS excess_kurtosis,
       printf('%.9e',
              CAST(n AS DOUBLE) / 6.0
              * ((mu3 / sqrt(mu2 * mu2 * mu2))
                 * (mu3 / sqrt(mu2 * mu2 * mu2))
                 + (mu4 / (mu2 * mu2) - 3.0)
                   * (mu4 / (mu2 * mu2) - 3.0) / 4.0)) AS jb_stat
FROM c WHERE mu2 > 0
""",
)
def q_jarque_bera(spark, sf_dir):
    # Jarque-Bera normality per series — the skewness/kurtosis test that
    # says whether the z-score machinery (q_anomaly_zscore,
    # q_peer_zscore) is even calibrated: JB = n/6 (S^2 + K^2/4) ~ chi2(2)
    # under normality.  Values quantize to EXACT centi-integers (micro
    # would push the 4th-power sums past decimal(38) at full scale —
    # documented quantization, identical on both engines); all four raw
    # power sums are exact decimal folds; central moments and the JB
    # chain are one deterministic double expression per series.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("x"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    x2 = (xd * F.col("x")).cast("decimal(38,0)")
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(xd * F.col("x")).cast("double").alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).cast("double").alias("s3"),
        F.sum(x2 * x2).cast("double").alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2") / nd
    r3 = F.col("s3") / nd
    r4 = F.col("s4") / nd
    mu2 = r2 - m1 * m1
    mu3 = r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1
    mu4 = r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 - 3.0 * m1 * m1 * m1 * m1
    skew = mu3 / F.sqrt(mu2 * mu2 * mu2)
    kurt = mu4 / (mu2 * mu2) - 3.0
    return s.filter(mu2 > 0).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_rows"),
        sci9(skew).alias("skewness"),
        sci9(kurt).alias("excess_kurtosis"),
        sci9(nd / 6.0 * (skew * skew + kurt * kurt / 4.0)).alias("jb_stat"),
    )


@register(
    "q_runs_test",
    """
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               AS d,
           count(*) AS a
    FROM events GROUP BY 1, 2
),
med AS (
    SELECT event_type, a AS m FROM (
        SELECT event_type, a,
               row_number() OVER (PARTITION BY event_type
                   ORDER BY a, d) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily) WHERE rn = (n + 1) // 2
),
signs AS (
    SELECT dy.event_type, dy.d,
           CASE WHEN dy.a > md.m THEN 1 ELSE 0 END AS s
    FROM daily dy JOIN med md USING (event_type)
    WHERE dy.a <> md.m
),
runs AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(s) AS BIGINT) AS n1,
           CAST(1 + sum(CASE WHEN s <> prev THEN 1 ELSE 0 END)
                AS BIGINT) AS r
    FROM (
        SELECT event_type, s,
               lag(s) OVER (PARTITION BY event_type ORDER BY d) AS prev
        FROM signs)
    GROUP BY event_type
)
SELECT event_type, n AS n_days, n1 AS n_above, r AS n_runs,
       printf('%.9e',
              (CAST(r AS DOUBLE)
               - (2.0 * n1 * (n - n1) / n + 1.0))
              / sqrt(greatest(
                    2.0 * n1 * (n - n1)
                    * (2.0 * n1 * (n - n1) - n)
                    / (CAST(n AS DOUBLE) * n * (n - 1)), 1e-300)))
           AS z
FROM runs
WHERE n1 > 0 AND n1 < n AND n > 1
""",
)
def q_runs_test(spark, sf_dir):
    # Wald-Wolfowitz runs test on each series' daily volume around its
    # median — the randomness check that catches REGIME structure the
    # mean-level tests miss (too few runs = sticky regimes/trends, too
    # many = oscillation; complements q_mann_kendall's monotone trend
    # and q_ljung_box's autocorrelation).  The median day comes from the
    # rank-selected spine (exact, (a, d)-tiebroken); median-equal days
    # drop (the standard convention); the run count is one lag window
    # over the day spine; counts are exact integers and z is one %.9e
    # chain.  ORACLE keeps the naive rank window.
    ev = _t(spark, sf_dir, "events")
    didx = (
        F.unix_micros(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400000000)
    ).cast("bigint")
    daily = ev.groupBy("event_type", didx.alias("d")).agg(
        F.count(F.lit(1)).alias("a")
    )
    from opc2mongodb_spark.operators.histogram import rank_select

    med = rank_select(
        daily,
        "a",
        [lambda n: F.floor((n + 1) / 2)],
        group_cols=["event_type"],
        tiebreak_cols=["d"],
    ).select("event_type", F.col("a").alias("m"))
    signs = (
        daily.join(F.broadcast(med), "event_type")
        .filter(F.col("a") != F.col("m"))
        .select(
            "event_type",
            "d",
            F.when(F.col("a") > F.col("m"), 1).otherwise(0).alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    runs = (
        signs.select(
            "event_type", "s", F.lag("s").over(w).alias("prev")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("s").cast("bigint").alias("n1"),
            (
                1
                + F.sum(
                    F.when(F.col("s") != F.col("prev"), 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("r"),
        )
    )
    nd = F.col("n").cast("double")
    n1d = F.col("n1").cast("double")
    mu = 2.0 * n1d * (nd - n1d) / nd + 1.0
    var = (
        2.0
        * n1d
        * (nd - n1d)
        * (2.0 * n1d * (nd - n1d) - nd)
        / (nd * nd * (nd - 1))
    )
    return runs.filter(
        (F.col("n1") > 0) & (F.col("n1") < F.col("n")) & (F.col("n") > 1)
    ).select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("r").alias("n_runs"),
        sci9((F.col("r").cast("double") - mu)
            / F.sqrt(F.greatest(var, F.lit(1e-300)))).alias("z"),
    )


@register(
    "q_oor_by_server",
    f"""
WITH {OPC_VALUES_SQL_CTE},
f AS (
    SELECT server,
           CASE WHEN doubleValue > 250.0 THEN 1 ELSE 0 END AS bad
    FROM opc
),
mix AS (
    SELECT server,
           CAST(sum(bad) AS BIGINT) AS o1,
           CAST(sum(1 - bad) AS BIGINT) AS o2
    FROM f GROUP BY server
),
mt AS (SELECT CAST(sum(o1) AS BIGINT) AS r1,
              CAST(sum(o2) AS BIGINT) AS r2 FROM mix),
terms AS (
    SELECT mix.server, mix.o1, mix.o2, mt.r1, mt.r2,
           CAST(
             pow(o1 - (o1 + o2) * CAST(r1 AS DOUBLE) / (r1 + r2), 2)
               / ((o1 + o2) * CAST(r1 AS DOUBLE) / (r1 + r2))
             + pow(o2 - (o1 + o2) * CAST(r2 AS DOUBLE) / (r1 + r2), 2)
               / ((o1 + o2) * CAST(r2 AS DOUBLE) / (r1 + r2))
           AS DECIMAL(26,12)) AS term
    FROM mix CROSS JOIN mt
)
SELECT CAST(count(*) AS BIGINT) AS n_servers,
       CAST(max(r1) AS BIGINT) AS n_bad,
       CAST(max(r1 + r2) AS BIGINT) AS n_rows,
       printf('%.9e', CAST(sum(term) AS DOUBLE)) AS chi2_oor,
       CAST(count(*) - 1 AS BIGINT) AS df
FROM terms
WHERE r1 > 0 AND r2 > 0
""",
)
def q_oor_by_server(spark, sf_dir):
    # Out-of-range mechanism audit on the OPC twin: are spec-limit
    # violations (doubleValue > 250, the literal sensor ceiling)
    # independent of the SERVER, or concentrated on one flaky gateway —
    # the decision between a global deadband retune and a per-server
    # escalation (the reference carries a quality code for exactly this
    # triage, Program.cs:966; on the synthetic twin quality is uniformly
    # good, so the spec-limit mask is the honest varying stand-in).
    # Same contingency chi2 discipline as q_chi2_independence pointed at
    # the (server x in/out-of-range) mask: exact integer observed counts
    # off one combinable scan, expected counts as IEEE ratios, each cell
    # term decimal-pinned before the fold.
    opc = events_as_opc_values(_t(spark, sf_dir, "events"))
    f = opc.select(
        "server",
        F.when(F.col("doubleValue") > 250.0, 1).otherwise(0).alias("bad"),
    )
    mix = f.groupBy("server").agg(
        F.sum("bad").cast("bigint").alias("o1"),
        F.sum(1 - F.col("bad")).cast("bigint").alias("o2"),
    )
    mt = mix.agg(
        F.sum("o1").cast("bigint").alias("r1"),
        F.sum("o2").cast("bigint").alias("r2"),
    )
    tot = F.col("o1") + F.col("o2")
    rt = (F.col("r1") + F.col("r2")).cast("double")
    e1 = tot.cast("double") * F.col("r1").cast("double") / rt
    e2 = tot.cast("double") * F.col("r2").cast("double") / rt
    terms = mix.crossJoin(F.broadcast(mt)).select(
        "r1",
        "r2",
        (
            (F.col("o1").cast("double") - e1) ** 2 / e1
            + (F.col("o2").cast("double") - e2) ** 2 / e2
        )
        .cast("decimal(26,12)")
        .alias("term"),
    )
    return terms.filter((F.col("r1") > 0) & (F.col("r2") > 0)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_servers"),
        F.max("r1").cast("bigint").alias("n_bad"),
        (F.max(F.col("r1") + F.col("r2"))).cast("bigint").alias("n_rows"),
        sci9(F.sum("term").cast("double")).alias("chi2_oor"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("df"),
    )


@register(
    "q_effective_dim",
    """
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
comp AS (
    SELECT t.d AS dim,
           count(*) AS n,
           CAST(sum(CAST(v[t.d] AS DECIMAL(28,12))) AS DOUBLE) AS sx,
           CAST(sum(CAST(v[t.d] * v[t.d] AS DECIMAL(28,12))) AS DOUBLE)
               AS sxx
    FROM e, range(1, 65) t(d)
    GROUP BY t.d
),
lam AS (
    SELECT dim,
           CAST(sxx / n - (sx / n) * (sx / n) AS DECIMAL(26,18)) AS lam
    FROM comp
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum(lam) AS DOUBLE) AS s1,
           CAST(sum(CAST(CAST(lam AS DOUBLE) * CAST(lam AS DOUBLE)
                         AS DECIMAL(38,24))) AS DOUBLE) AS s2
    FROM lam
)
SELECT n_dims,
       printf('%.9e', s1) AS total_variance,
       printf('%.9e', s1 * s1 / s2) AS participation_ratio
FROM s WHERE s2 > 0
""",
)
def q_effective_dim(spark, sf_dir):
    # Effective (intrinsic) dimension of the embedding space by the
    # participation ratio PR = (sum lambda)^2 / sum lambda^2 over the
    # per-dimension variances — PR << 64 means the space is anisotropic
    # and the ANN index / PCA rank (q_pca_power) should target PR, not
    # the nominal width; complements q_dim_variance (which dims) with
    # ONE number (how many effectively).  Per-dim variances come off the
    # pinned posexplode rollup; each variance and its square re-pin to
    # decimal before the 64-row folds; two %.9e outputs.
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    comp = (
        e.select(F.posexplode("v").alias("dim0", "x"))
        .groupBy((F.col("dim0") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(28,12)"))
            .cast("double")
            .alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sxx"),
        )
    )
    lam = comp.select(
        (
            F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
        )
        .cast("decimal(26,18)")
        .alias("lam")
    )
    s = lam.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum("lam").cast("double").alias("s1"),
        F.sum(
            (F.col("lam").cast("double") * F.col("lam").cast("double"))
            .cast("decimal(38,24)")
        )
        .cast("double")
        .alias("s2"),
    )
    return s.filter(F.col("s2") > 0).select(
        "n_dims",
        sci9(F.col("s1")).alias("total_variance"),
        sci9(F.col("s1") * F.col("s1") / F.col("s2")).alias("participation_ratio"),
    )


@register(
    "q_audience_turnover",
    """
WITH uw AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(date_trunc('week', ts)) // 604800000000 AS BIGINT)
               AS wk
    FROM events
),
sizes AS (SELECT wk, CAST(count(*) AS BIGINT) AS n FROM uw GROUP BY wk),
inter AS (
    SELECT a.wk AS wk, CAST(count(*) AS BIGINT) AS both
    FROM uw a JOIN uw b ON b.user_id = a.user_id AND b.wk = a.wk + 1
    GROUP BY a.wk
)
SELECT s1.wk AS week_from, s1.n AS n_users_from, s2.n AS n_users_to,
       coalesce(i.both, 0) AS n_retained,
       coalesce(i.both, 0) * 1000000000
           // (s1.n + s2.n - coalesce(i.both, 0)) AS jaccard_ppb,
       (s1.n - coalesce(i.both, 0)) * 1000000000 // s1.n AS churn_ppb
FROM sizes s1
JOIN sizes s2 ON s2.wk = s1.wk + 1
LEFT JOIN inter i ON i.wk = s1.wk
""",
)
def q_audience_turnover(spark, sf_dir):
    # Week-over-week audience turnover: the Jaccard overlap of active
    # user sets between consecutive weeks and the churned share of the
    # earlier week — the composition counterpart to q_wow_change's
    # volume read (volume can be flat while the AUDIENCE fully rotates
    # — the retention emergency WoW hides).  One distinct (user, week)
    # rollup; the week-shift join is user-keyed; overlap and churn are
    # exact ppb integers.
    ev = _t(spark, sf_dir, "events")
    wk = (
        F.unix_micros(F.date_trunc("week", F.col("ts")).cast("timestamp"))
        / F.lit(604800000000)
    ).cast("bigint")
    uw = ev.select("user_id", wk.alias("wk")).distinct()
    sizes = uw.groupBy("wk").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    b = uw.select(
        F.col("user_id").alias("ub"), F.col("wk").alias("wkb")
    )
    inter = (
        uw.join(
            b,
            (F.col("ub") == F.col("user_id"))
            & (F.col("wkb") == F.col("wk") + 1),
        )
        .groupBy("wk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("both"))
    )
    s2 = sizes.select(F.col("wk").alias("wk2"), F.col("n").alias("n2"))
    out = (
        sizes.join(s2, F.col("wk2") == F.col("wk") + 1)
        .join(inter, "wk", "left")
        .select(
            F.col("wk").alias("week_from"),
            F.col("n").alias("n_users_from"),
            F.col("n2").alias("n_users_to"),
            F.coalesce(F.col("both"), F.lit(0)).alias("n_retained"),
            F.expr(
                "coalesce(both, 0) * 1000000000"
                " DIV (n + n2 - coalesce(both, 0))"
            ).alias("jaccard_ppb"),
            F.expr(
                "(n - coalesce(both, 0)) * 1000000000 DIV n"
            ).alias("churn_ppb"),
        )
    )
    return out


@register(
    "q_wasserstein_1d",
    """
WITH u AS (
    SELECT value AS v,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
    FROM events
    WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    GROUP BY value
),
nn AS (SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2
       FROM u),
cum AS (
    SELECT v,
           sum(a) OVER w AS cu1, sum(b) OVER w AS cu2,
           lead(v) OVER (ORDER BY v) AS vnext
    FROM u WINDOW w AS (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
    SELECT CAST(CAST(abs(cu1 * nn.n2 - cu2 * nn.n1) AS DOUBLE)
                * (vnext - v) AS DECIMAL(38,12)) AS term
    FROM cum, nn WHERE vnext IS NOT NULL
)
SELECT nn.n1, nn.n2,
       printf('%.9e',
              CAST((SELECT sum(term) FROM terms) AS DOUBLE)
              / (CAST(nn.n1 AS DOUBLE) * nn.n2)) AS emd
FROM nn WHERE nn.n1 > 0 AND nn.n2 > 0
""",
)
def q_wasserstein_1d(spark, sf_dir):
    # Exact 1-D Wasserstein (earth mover's) distance between the click
    # and view value distributions — the drift metric that weighs HOW
    # FAR mass moved, which KS (max gap, q_ks_drift) and PSI (binned,
    # q_psi_drift) both discard: EMD = integral |F1 - F2| dv = sum over
    # consecutive distinct values of |cum1*n2 - cum2*n1| * gap / (n1*n2)
    # with the ECDF numerators EXACT integers.  Same no-global-sort
    # decomposition as q_ks_drift, plus the one new piece: lead(v) needs
    # the NEXT value across cell boundaries, so the last row of each
    # cell stitches to the next non-empty cell's min via a <=1024-row
    # lead over the cell table.  Each term pins to decimal before the
    # sum; the ORACLE keeps the naive global-window form,
    # cross-validating the stitch.
    from opc2mongodb_spark.operators.histogram import cell_stats, with_cells

    ev = _t(spark, sf_dir, "events")
    u = (
        ev.filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "i1"
            ),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias(
                "i2"
            ),
        )
        .groupBy("v")
        .agg(F.sum("i1").alias("a"), F.sum("i2").alias("b"))
    )
    stats = cell_stats(
        u, "v", extra_aggs=[F.sum("a").alias("n1"), F.sum("b").alias("n2")]
    )
    uc = with_cells(u, "v", stats).withColumnRenamed("__cell", "cell")
    wc = Window.orderBy("cell").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cellrow = uc.groupBy("cell").agg(
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.min("v").alias("cmin"),
    )
    wnext = Window.orderBy("cell")
    bases = cellrow.select(
        "cell",
        (F.sum("sa").over(wc) - F.col("sa")).alias("base1"),
        (F.sum("sb").over(wc) - F.col("sb")).alias("base2"),
        F.lead("cmin").over(wnext).alias("next_cell_min"),
    )
    wi = (
        Window.partitionBy("cell")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlead = Window.partitionBy("cell").orderBy("v")
    scored = (
        uc.join(F.broadcast(bases), "cell")
        .withColumn("cu1", F.col("base1") + F.sum("a").over(wi))
        .withColumn("cu2", F.col("base2") + F.sum("b").over(wi))
        .withColumn(
            "vnext",
            F.coalesce(
                F.lead("v").over(wlead), F.col("next_cell_min")
            ),
        )
    )
    terms = scored.filter(F.col("vnext").isNotNull()).select(
        (
            F.abs(
                F.col("cu1") * F.col("n2") - F.col("cu2") * F.col("n1")
            ).cast("double")
            * (F.col("vnext") - F.col("v"))
        )
        .cast("decimal(38,12)")
        .alias("term"),
        "n1",
        "n2",
    )
    return (
        terms.groupBy("n1", "n2")
        .agg(F.sum("term").cast("double").alias("s"))
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            sci9(F.col("s")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))).alias("emd"),
        )
    )


@register(
    "q_ebh_rejections",
    """
WITH daily AS (
    SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               AS d,
           event_type, count(*) AS x
    FROM events GROUP BY 1, 2
),
totals AS (SELECT d, CAST(sum(x) AS BIGINT) AS n FROM daily GROUP BY d),
fin AS (
    SELECT dy.event_type,
           CAST(sum(dy.x) AS BIGINT) AS xt,
           CAST(sum(t.n) AS BIGINT) AS nt
    FROM daily dy JOIN totals t ON t.d = dy.d
    GROUP BY dy.event_type
),
ev AS (
    SELECT event_type, xt, nt,
           CAST(xt AS DOUBLE) * 0.4054651081081644
           + CAST(nt - xt AS DOUBLE) * -0.18232155679395462 AS lne
    FROM fin
),
ranked AS (
    SELECT event_type, xt, nt, lne,
           row_number() OVER (ORDER BY lne DESC, event_type) AS rnk,
           count(*) OVER () AS m
    FROM ev
),
kstar AS (
    SELECT coalesce(max(CASE WHEN lne >= ln(CAST(m AS DOUBLE)
                                  / (0.05 * rnk))
                              THEN rnk END), 0) AS k
    FROM ranked
)
SELECT r.event_type, CAST(r.xt AS BIGINT) AS n_events,
       CAST(r.rnk AS BIGINT) AS e_rank,
       printf('%.9e', r.lne) AS log_evalue,
       CAST(r.rnk <= k.k AS BOOLEAN) AS rejected
FROM ranked r CROSS JOIN kstar k
""",
)
def q_ebh_rejections(spark, sf_dir):
    # e-BH multiple testing over the per-series e-processes — the FDR
    # procedure that stays valid under ARBITRARY dependence between the
    # series (Wang-Ramdas: reject the k largest e-values with
    # e_(k) >= m/(alpha*k); no independence assumption, unlike p-value
    # BH): q_evalue_drift monitors each series alone, this controls the
    # FAMILY error when all five are watched at once.  Final e-values
    # use the same literal LLR coefficients (share 1/4 vs 3/8); the
    # rejection boundary compares ln e against ln(m/(alpha*k)) — ln of
    # tiny exact rationals, identical inputs both engines; ranking and
    # the k* scan run on the <=|types|-row frame.
    ev0 = _t(spark, sf_dir, "events")
    didx = (
        F.unix_micros(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400000000)
    ).cast("bigint")
    daily = ev0.groupBy(didx.alias("d"), "event_type").agg(
        F.count(F.lit(1)).alias("x")
    )
    totals = daily.groupBy("d").agg(F.sum("x").cast("bigint").alias("n"))
    fin = (
        daily.join(totals, "d")
        .groupBy("event_type")
        .agg(
            F.sum("x").cast("bigint").alias("xt"),
            F.sum("n").cast("bigint").alias("nt"),
        )
    )
    lne = (
        F.col("xt").cast("double") * F.lit(0.4054651081081644)
        + (F.col("nt") - F.col("xt")).cast("double")
        * F.lit(-0.18232155679395462)
    )
    evd = fin.select("event_type", "xt", "nt", lne.alias("lne"))
    w = Window.orderBy(F.desc("lne"), F.asc("event_type"))
    ranked = evd.select(
        "event_type",
        "xt",
        "lne",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("lne")
                    >= F.log(
                        F.col("m").cast("double") / (0.05 * F.col("rnk"))
                    ),
                    F.col("rnk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        F.col("xt").cast("bigint").alias("n_events"),
        F.col("rnk").cast("bigint").alias("e_rank"),
        sci9(F.col("lne")).alias("log_evalue"),
        (F.col("rnk") <= F.col("k")).alias("rejected"),
    )


@register(
    "q_nb_overdispersion",
    """
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
               AS d,
           count(*) AS a
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT event_type, count(*) AS n,
           CAST(sum(a) AS BIGINT) AS s1,
           CAST(sum(a * a) AS BIGINT) AS s2
    FROM daily GROUP BY event_type
),
m AS (
    SELECT event_type, n,
           CAST(s1 AS DOUBLE) / n AS mu,
           CAST(n AS DOUBLE) * s2 / (CAST(n AS DOUBLE) * n)
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               AS v,
           s1, s2
    FROM s
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       printf('%.9e', mu) AS mean_daily,
       printf('%.9e', v / mu) AS dispersion_index,
       CAST(v > mu AS BOOLEAN) AS overdispersed,
       CASE WHEN v > mu THEN printf('%.9e', mu * mu / (v - mu))
            ELSE NULL END AS nb_r
FROM m WHERE mu > 0
""",
)
def q_nb_overdispersion(spark, sf_dir):
    # Negative-binomial moment fit on daily volumes — the count-model
    # counterpart to q_jarque_bera's continuous check: a Poisson model
    # (variance = mean) underestimates alert thresholds whenever the
    # dispersion index exceeds 1, and the NB shape r = mu^2/(v - mu)
    # is the corrected model's parameter (small r = heavy clumping —
    # q_arrival_dispersion's verdict, upgraded to a fitted model).
    # Exact integer count moments off the day spine; population
    # variance and the r chain are one deterministic double expression
    # per series; the overdispersed flag is a clean v > mu compare.
    ev = _t(spark, sf_dir, "events")
    didx = (
        F.unix_micros(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400000000)
    ).cast("bigint")
    daily = ev.groupBy("event_type", didx.alias("d")).agg(
        F.count(F.lit(1)).alias("a")
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").cast("bigint").alias("s1"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("s2"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    v = nd * F.col("s2").cast("double") / (nd * nd) - mu * mu
    return s.filter(mu > 0).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        sci9(mu).alias("mean_daily"),
        sci9(v / mu).alias("dispersion_index"),
        (v > mu).alias("overdispersed"),
        F.when(
            v > mu, sci9(mu * mu / (v - mu))
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("nb_r"),
    )


@register(
    "q_engagement_half_life",
    """
WITH first_d AS (
    SELECT user_id,
           CAST(min(epoch_us(ts)) // 86400000000 AS BIGINT) AS d0
    FROM events GROUP BY user_id
),
act AS (
    SELECT CAST(epoch_us(e.ts) // 86400000000 AS BIGINT) - f.d0
               AS offset_d,
           count(*) AS a
    FROM events e JOIN first_d f ON f.user_id = e.user_id
    GROUP BY 1
),
pts AS (
    SELECT offset_d AS x,
           CAST(ln(CAST(a AS DOUBLE)) AS DECIMAL(18,12)) AS y
    FROM act WHERE offset_d >= 1 AND a > 0
),
reg AS (
    SELECT count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(CAST(x AS DECIMAL(6,0)) * y) AS DOUBLE) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_offsets,
       printf('%.9e',
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / (CAST(n AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           AS decay_slope,
       printf('%.9e',
              -0.6931471805599453
              / ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
           AS half_life_days
FROM reg
WHERE CAST(n AS DOUBLE) * sxx > CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
  AND CAST(n AS DOUBLE) * sxy < CAST(sx AS DOUBLE) * sy
""",
)
def q_engagement_half_life(spark, sf_dir):
    # Exponential engagement half-life: total activity by days-since-
    # first-seen, fit ln(activity) ~ offset (the EXPONENTIAL decay
    # model; q_retention_curve_fit fits the power law — together they
    # are the model-selection pair for churn forecasting, and the
    # half-life ln2/|slope| is the number a retention review quotes).
    # One per-user first-seen rollup joined back user-keyed, one
    # offset-spine fold with pinned lns of exact integer counts, OLS on
    # the spine; the x*y cross term narrows x to decimal(6,0) so the
    # product's decimal type is identical on both engines (a 38-cap
    # precision rescale flapped the 10th digit — measured at sf0.01);
    # the guard keeps the output defined only for actual decay
    # (slope < 0).  ln(2) is an embedded literal.
    ev = _t(spark, sf_dir, "events")
    dday = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000)
    ).cast("bigint")
    first_d = ev.groupBy("user_id").agg(F.min(dday).alias("d0"))
    act = (
        ev.join(first_d, "user_id")
        .groupBy((dday - F.col("d0")).alias("offset_d"))
        .agg(F.count(F.lit(1)).alias("a"))
    )
    pts = act.filter((F.col("offset_d") >= 1) & (F.col("a") > 0)).select(
        F.col("offset_d").alias("x"),
        F.log(F.col("a").cast("double")).cast("decimal(18,12)").alias("y"),
    )
    reg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(6,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx") - sxd * sxd
    )
    return reg.filter(
        (nd * F.col("sxx") > sxd * sxd)
        & (nd * F.col("sxy") < sxd * F.col("sy"))
    ).select(
        F.col("n").cast("bigint").alias("n_offsets"),
        sci9(slope).alias("decay_slope"),
        sci9(F.lit(-0.6931471805599453) / slope).alias("half_life_days"),
    )
