"""Query registrations: r6: tolerance as-of, k-anonymity/l-diversity, changepoint/CUSUM, skew diagnostics, drift monitors (KS/PSI/chi2), BPE pair counts.

Mechanically split from the original single-module registry (r9);
registration order and bodies unchanged. Determinism rulebook:
the package docstring (queries/__init__.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from opc2mongodb_spark.queries._core import _t, dec, register, sci9
from opc2mongodb_spark.queries.relational import _COS
from opc2mongodb_spark.queries.widening import _CORR_EXPR

@register(
    "q_join_asof_tol",
    """
WITH c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
j AS (
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts, c.value AS click_value,
           p.value AS value_asof, p.ts AS ts_asof,
           row_number() OVER (PARTITION BY c.event_id
                              ORDER BY p.ts DESC, p.event_id DESC) AS rn
    FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
                      AND p.ts >= c.ts - INTERVAL 30 MINUTE
)
SELECT click_id, user_id, click_ts, click_value, value_asof, ts_asof
FROM j WHERE rn = 1
""",
)
def q_join_asof_tol(spark, sf_dir):
    # E7 extension — as-of join with a STALENESS TOLERANCE: the latest
    # purchase at-or-before each click, but only if within 30 minutes;
    # older matches read as "no current value" (the OPC sensor-alignment
    # semantics: a reading staler than the bound is not current). Same
    # merge-union single-shuffle plan as q_join_asof — the tolerance is a
    # post-fill column mask, never a widened join. The oracle pushes the
    # bound into its LEFT JOIN instead; equivalent because the latest
    # match <= ts is in-window iff ANY match is (it is the maximum).
    from opc2mongodb_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
        right_tiebreak="event_id",
        tolerance="30 MINUTE",
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
        "value_asof",
        "ts_asof",
    )


@register(
    "q_kanonymity",
    """
SELECT c_mktsegment,
       CAST(c_nationkey AS INTEGER) AS c_nationkey,
       CAST(count(*) AS BIGINT) AS n,
       count(*) < 10 AS risky
FROM customer
GROUP BY c_mktsegment, c_nationkey
""",
)
def q_kanonymity(spark, sf_dir):
    # Privacy-release audit (k-anonymity, Sweeney 2002): group sizes of the
    # quasi-identifier combination (market segment, nation) — any group
    # below k=10 re-identifies its members and must be generalized or
    # suppressed before the table ships as training data. One map-side-
    # combinable groupBy; the risky flag is derived, never a second pass.
    # At 100 TB the QI-combination cardinality (segments x nations), not
    # the row count, bounds the shuffle.
    c = _t(spark, sf_dir, "customer")
    return c.groupBy(
        "c_mktsegment", F.col("c_nationkey").cast("int").alias("c_nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) < 10).alias("risky"),
    )


@register(
    "q_cusum_changepoint",
    """
WITH base AS (
    SELECT event_type, ts, event_id, CAST(value AS DECIMAL(18,2)) AS v
    FROM events
),
c AS (
    SELECT event_type, ts, event_id,
           row_number() OVER w AS i,
           count(*) OVER (PARTITION BY event_type) AS n,
           sum(v) OVER (PARTITION BY event_type
                        ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS s,
           sum(v) OVER (PARTITION BY event_type) AS t
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
d AS (
    SELECT event_type, i, n,
           n * s - i * t AS cdev,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY abs(n * s - i * t) DESC, i ASC) AS rn
    FROM c
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(max(cdev) - min(cdev) AS DOUBLE) AS cusum_range,
       CAST(max(CASE WHEN rn = 1 THEN i END) AS BIGINT) AS cp_pos
FROM d
GROUP BY event_type
""",
)
def q_cusum_changepoint(spark, sf_dir):
    # Changepoint detection per series (Page's CUSUM statistic in its
    # non-recursive cumulative-deviation form): for series x_1..x_n the
    # deviation C_i = n*S_i - i*T (S_i prefix sum, T total) is n times the
    # centered cumsum sum_{j<=i}(x_j - mean) but stays EXACT — no mean
    # division, pure decimal-by-integer products — so both engines agree
    # bit-for-bit. The changepoint estimate is argmax |C_i| (first index
    # on ties); cusum_range = max C - min C is the drift magnitude. The
    # classic recursive CUSUM needs a running clamp (not window-
    # expressible); the deviation form is the standard offline equivalent
    # (e.g. Taylor's changepoint bootstrap). Scale shape: one event_type
    # shuffle; three windows share the same partitioning, then one
    # aggregation — per-series state is a sort, spillable.
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type", "ts", "event_id", dec(F.col("value")).alias("v")
    )
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    c = base.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("v").over(w_ord).alias("s"),
        F.sum("v").over(w_all).alias("t"),
    )
    d = c.select(
        "event_type",
        "i",
        "n",
        (F.col("n") * F.col("s") - F.col("i") * F.col("t")).alias("cdev"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("cdev")).desc(), F.col("i").asc()
            )
        ),
    )
    return d.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        (F.max("cdev") - F.min("cdev")).cast("double").alias("cusum_range"),
        F.max(F.when(F.col("rn") == 1, F.col("i"))).cast("long").alias("cp_pos"),
    )


@register(
    "q_key_skew_gini",
    """
WITH x AS (
    SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
),
r AS (
    SELECT c,
           row_number() OVER (ORDER BY c, o_custkey) AS i,
           count(*) OVER () AS n,
           sum(c) OVER () AS t,
           max(c) OVER () AS mx
    FROM x
)
SELECT CAST(max(n) AS BIGINT) AS n_keys,
       CAST(max(t) AS BIGINT) AS n_rows,
       CAST(2 * sum(i * c) - (max(n) + 1) * max(t) AS DOUBLE)
           / CAST(max(n) * max(t) AS DOUBLE) AS gini,
       CAST(max(mx) AS DOUBLE) / CAST(max(t) AS DOUBLE) AS top1_share
FROM r
""",
)
def q_key_skew_gini(spark, sf_dir):
    # Shuffle-skew diagnostic: the Gini coefficient of per-key row counts
    # (orders per customer) — 0 = perfectly uniform keys, ->1 = one key
    # owns the table. THE number to check before choosing a partition key
    # at 100 TB: gini + top1_share together predict whether a keyed
    # shuffle needs salting (operators/skew.py) or AQE skew-join handles
    # it. All-integer arithmetic (rank-weighted sum identity
    # G = (2*sum(i*x_i) - (n+1)*T) / (n*T) over ascending-sorted counts)
    # with exactly two final double divisions — bit-identical cross-engine.
    # The global sort is over KEY CARDINALITY (already aggregated), not
    # rows; r7: the extreme-cardinality guard is now IN the operator —
    # operators/skew.py::key_skew_gini md5-samples keys above
    # GINI_SAMPLE_BOUND (1e7; never triggered at gate SFs, so the oracle
    # compares the exact path; estimator bias documented there).
    from opc2mongodb_spark.operators.skew import key_skew_gini

    o = _t(spark, sf_dir, "orders")
    x = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
    return key_skew_gini(x, "o_custkey", "c")


@register(
    "q_bpe_pair_counts",
    """
WITH wf AS (
    SELECT w, count(*) AS f
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
),
pairs AS (
    SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> substring(w, i, 2))) AS pair,
           f
    FROM wf
    WHERE len(w) >= 2
)
SELECT pair, CAST(sum(f) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 50
""",
)
def q_bpe_pair_counts(spark, sf_dir):
    # Tokenizer training, phase 1 (BPE merge-candidate counting, Sennrich
    # et al. 2016): the most frequent ADJACENT SYMBOL PAIR across the
    # corpus is the next merge rule. The industrial-scale trick is
    # factoring through the word-frequency table first: pair occurrences
    # are counted once per DISTINCT word and weighted by its corpus
    # frequency, so the explode fan-out is |vocab| * avg_word_len, not
    # |corpus tokens| * avg_word_len — at 100 TB the vocab table is
    # millions of rows where the token stream is trillions. Two map-side-
    # combinable integer counts + TakeOrdered top-50 (pair text as the
    # unique tiebreaker); no Python.
    d = _t(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    idx = F.sequence(F.lit(1), F.length("w") - 1)
    pairs = wf.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(idx, lambda i: F.substring(F.col("w"), i, 2))
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(50)
    )


@register(
    "q_session_pattern",
    """
WITH marked AS (
    SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS ch,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_id, ch,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM marked
),
seq AS (
    SELECT user_id, session_no,
           count(*) AS n_events,
           string_agg(ch, '' ORDER BY ts, event_id) AS s
    FROM sess
    GROUP BY user_id, session_no
)
SELECT user_id, session_no,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, 'ee+')) AS INTEGER) AS n_error_bursts
FROM seq
""",
)
def q_session_pattern(spark, sf_dir):
    # CEP over SESSIONS — the bounded form q_event_pattern's docstring
    # prescribes for unbounded machine streams: sessionize first (30-min
    # inactivity gap, identical to q_sessionize), then pattern-match each
    # session's letter string. Per-group state is one session's events —
    # bounded by the gap by construction, so no cap is needed and a bot
    # user becomes many small groups instead of one straggler. Scale
    # shape: one user_id shuffle shared by both windows and the final
    # groupBy (same partitioning, no extra exchange).
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.when(
            lag_ts.isNull()
            | (F.col("ts") > lag_ts + F.expr("INTERVAL 30 MINUTES")),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_new"),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    seq = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
        ).alias("s"),
    )
    return seq.select(
        "user_id",
        "session_no",
        "n_events",
        F.regexp_count(F.col("s"), F.lit("ee+")).cast("int").alias(
            "n_error_bursts"
        ),
    )


@register(
    "q_mad_outliers",
    """
WITH ranked AS (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
meds AS (
    SELECT event_type, value AS med, n
    FROM ranked WHERE i = (n + 1) // 2
),
d AS (
    SELECT r.event_type, r.event_id, r.value, m.med, m.n,
           abs(r.value - m.med) AS dev
    FROM ranked r JOIN meds m USING (event_type)
),
dr AS (
    SELECT event_type, dev, med, n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY dev, event_id) AS i
    FROM d
),
mads AS (
    SELECT event_type, dev AS mad FROM dr WHERE i = (n + 1) // 2
)
SELECT d.event_type,
       CAST(max(d.n) AS BIGINT) AS n,
       max(d.med) AS med,
       max(s.mad) AS mad,
       CAST(count(CASE WHEN d.dev > 3 * s.mad THEN 1 END) AS BIGINT)
           AS n_outliers
FROM d JOIN mads s USING (event_type)
GROUP BY d.event_type
""",
)
def q_mad_outliers(spark, sf_dir):
    # Robust outlier gate per series: median absolute deviation (the scale
    # estimator that, unlike stddev, a few wild points cannot inflate —
    # the Hampel filter's core). Medians are DISCRETE (the value at rank
    # (n+1)//2, no even-count interpolation), so med and mad are CARRIED
    # values and the outlier test |x - med| > 3*mad is pure IEEE
    # subtraction/compare of identical operands — bit-deterministic
    # cross-engine, the q_iqr_outliers discipline. Scale shape (r7): both
    # medians rank-select through the shared histogram operator
    # (operators/histogram.py), so the r6 honest bound — a handful of
    # huge series capping two full per-series sorts at |types| tasks —
    # is GONE: each selection is a cell-count groupBy, a <=1024-row
    # cumulative walk, and one within-cell window (~n/1024 rows per
    # task). The ORACLE keeps the naive double-window form, so the hash
    # match cross-validates both selections. meds/mads stay |types|-row
    # broadcast frames.
    from opc2mongodb_spark.operators.histogram import rank_select

    ev = _t(spark, sf_dir, "events")
    mid = [lambda n: F.floor((n + 1) / 2)]
    meds = rank_select(
        ev.select("event_type", "event_id", "value"),
        "value",
        mid,
        group_cols=["event_type"],
        tiebreak_cols=["event_id"],
    ).select("event_type", F.col("value").alias("med"), "n")
    d = (
        ev.select("event_type", "event_id", "value")
        .join(F.broadcast(meds), "event_type")
        .withColumn("dev", F.abs(F.col("value") - F.col("med")))
    )
    mads = rank_select(
        d.select("event_type", "event_id", "dev"),
        "dev",
        mid,
        group_cols=["event_type"],
        tiebreak_cols=["event_id"],
    ).select("event_type", F.col("dev").alias("mad"))
    return (
        d.join(F.broadcast(mads), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.count(F.when(F.col("dev") > 3 * F.col("mad"), 1))
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "q_histogram_median",
    """
WITH ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN i = (n + 1) // 2 THEN value END) AS med
FROM ranked
GROUP BY event_type
""",
)
def q_histogram_median(spark, sf_dir):
    # The SCALABLE exact median, on the shared histogram rank-selection
    # operator (operators/histogram.py — r7 factored it out of the three
    # hand-rolled copies here, in q_ks_drift, and in q_psi_drift): 1024
    # equi-width cells per series off a broadcast min/max frame, a
    # <=1024-row cumulative walk locates the cell holding global rank
    # (n+1)//2 plus the residual rank inside it, and one PARTITIONED
    # row_number window (expected n/1024 rows per cell) picks the exact
    # row — never a full per-series single-task sort. The ORACLE is the
    # NAIVE single-sort discrete median — an independent method — so the
    # hash match cross-validates the histogram path, not just replays it.
    from opc2mongodb_spark.operators.histogram import rank_select

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    med = rank_select(
        ev,
        "value",
        [lambda n: F.floor((n + 1) / 2)],
        group_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    return med.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("value").alias("med"),
    )


# Anchor budget for q_hard_negatives' mining pass: at most this many
# sampled anchors (lowest vec_ids) score against the corpus, so the pair
# work is O(cap x n) — linear in the corpus — instead of O(n^2/20) when
# the %-20 sample itself grows with n. The r12 scale rotation caught the
# uncapped shape on its first cohort-0 run: 1,000 anchors x 20k vectors at
# sf1 = 20M sequential-fold cosines in one task (~100x time for 10x
# output, slope-flagged). No-op at every oracle SF (sf0.1 has 100
# anchors); binds at sf1 (1,000 -> 128). A real mining pass works the
# same way: a fixed anchor batch per pass, not a constant corpus fraction.
HARD_NEG_ANCHOR_CAP = 128


@register(
    "q_hard_negatives",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
a AS (SELECT vec_id AS a_id, v AS av, label AS a_label
      FROM e WHERE vec_id % 20 = 0
      ORDER BY vec_id LIMIT {HARD_NEG_ANCHOR_CAP}),
p AS (
    SELECT a.a_id, a.a_label, e.vec_id, e.label,
           {_COS.format(a="a.av", b="e.v")} AS cos
    FROM a JOIN e ON e.vec_id <> a.a_id
),
pos AS (
    SELECT a_id, vec_id AS pos_id, cos AS pos_cos,
           row_number() OVER (PARTITION BY a_id
                              ORDER BY cos DESC, vec_id ASC) AS rn
    FROM p WHERE label = a_label
),
neg AS (
    SELECT a_id, vec_id AS neg_id, cos AS neg_cos,
           row_number() OVER (PARTITION BY a_id
                              ORDER BY cos DESC, vec_id ASC) AS rn
    FROM p WHERE label <> a_label
)
SELECT pos.a_id, pos_id, neg_id, pos_cos, neg_cos,
       pos_cos - neg_cos AS margin
FROM pos JOIN neg ON pos.a_id = neg.a_id AND pos.rn = 1 AND neg.rn = 1
""",
)
def q_hard_negatives(spark, sf_dir):
    # Contrastive training-pair mining (the data side of embedding-model
    # training): for each sampled anchor, the most similar SAME-label
    # vector is the positive and the most similar DIFFERENT-label vector
    # is the hard negative — the pairs whose margin actually moves a
    # contrastive loss, vs random negatives that are already trivially
    # separated. Scale shape: the anchor batch is the %-20 id sample
    # CAPPED at HARD_NEG_ANCHOR_CAP lowest ids (TakeOrdered — per-split
    # partial top-k, no global window; the oracle pins the same literal)
    # and broadcast against the spread probe scan, so the scoring is
    # O(cap x n) across all cores — at corpus scale feed LSH/IVF bucket
    # candidates instead of the full table, same aggregation. Both
    # argmaxes ride ONE
    # aggregation via (cos, -vec_id)-struct max — ties break to the
    # smallest vec_id, mirroring the oracle's ORDER BY. Cosines use the
    # sequential fold (bit-identical to DuckDB's list_dot_product), so
    # margins compare as raw doubles.
    from opc2mongodb_spark.functions.vectors import cosine
    from opc2mongodb_spark.plans.spread import spread

    e = spread(_t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    anchors = (
        e.filter(F.col("vec_id") % 20 == 0)
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("v").alias("av"),
            F.col("label").alias("a_label"),
        )
        .orderBy("a_id")
        .limit(HARD_NEG_ANCHOR_CAP)
    )
    pairs = e.join(
        F.broadcast(anchors), F.col("vec_id") != F.col("a_id")
    ).withColumn("cos", cosine(F.col("av"), F.col("v")))
    pick = lambda cond: F.max(  # noqa: E731
        F.when(cond, F.struct(F.col("cos"), (-F.col("vec_id")).alias("nid")))
    )
    best = pairs.groupBy("a_id").agg(
        pick(F.col("label") == F.col("a_label")).alias("p"),
        pick(F.col("label") != F.col("a_label")).alias("n"),
    )
    return best.filter(
        F.col("p").isNotNull() & F.col("n").isNotNull()
    ).select(
        "a_id",
        (-F.col("p.nid")).alias("pos_id"),
        (-F.col("n.nid")).alias("neg_id"),
        F.col("p.cos").alias("pos_cos"),
        F.col("n.cos").alias("neg_cos"),
        (F.col("p.cos") - F.col("n.cos")).alias("margin"),
    )


@register(
    "q_ks_drift",
    """
WITH c1 AS (SELECT value AS v FROM events WHERE event_type = 'click'),
c2 AS (SELECT value AS v FROM events WHERE event_type = 'view'),
t AS (SELECT (SELECT count(*) FROM c1) AS n1, (SELECT count(*) FROM c2) AS n2),
u AS (
    SELECT v,
           count(*) FILTER (WHERE s = 1) AS a,
           count(*) FILTER (WHERE s = 2) AS b
    FROM (SELECT v, 1 AS s FROM c1 UNION ALL SELECT v, 2 AS s FROM c2)
    GROUP BY v
),
cum AS (
    SELECT v,
           sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cu1,
           sum(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cu2
    FROM u
),
scored AS (
    SELECT v, abs(cu1 * t.n2 - cu2 * t.n1) AS num,
           row_number() OVER (ORDER BY abs(cu1 * t.n2 - cu2 * t.n1) DESC,
                              v ASC) AS rn,
           t.n1, t.n2
    FROM cum, t
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d,
       v AS at_value
FROM scored WHERE rn = 1
""",
)
def q_ks_drift(spark, sf_dir):
    # Two-sample Kolmogorov-Smirnov distance between the click and view
    # value distributions — THE distribution-drift test for comparing a
    # new data batch against the corpus (covariate shift before training).
    # Exact integer form: at each distinct pooled value,
    # |cum1*n2 - cum2*n1| / (n1*n2) is the ECDF gap as a ratio of exact
    # integers (products <= ~8e12, exactly double-representable), so both
    # engines agree on D and its location bit-for-bit. SCALE: the naive
    # form needs one global ordered prefix over DISTINCT values (a
    # single-task sort when values are continuous); this implementation
    # uses the histogram-prefix decomposition instead — 1024 equi-width
    # cells off a broadcast extent (the shared operators/histogram.py
    # cell machinery, factored r7), exclusive cell-base prefixes over the
    # <=1024-row cell table, then PARALLEL within-cell prefixes — while
    # the ORACLE computes the naive global-window form, so the hash match
    # cross-validates the decomposition (the q_histogram_median
    # discipline).
    from opc2mongodb_spark.operators.histogram import cell_stats, with_cells

    ev = _t(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("i1"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("i2"),
        )
        .groupBy("v")
        .agg(F.sum("i1").alias("a"), F.sum("i2").alias("b"))
    )
    stats = cell_stats(
        u,
        "v",
        extra_aggs=[F.sum("a").alias("n1"), F.sum("b").alias("n2")],
    )
    uc = with_cells(u, "v", stats).withColumnRenamed("__cell", "cell")
    wc = (
        Window.orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bases = (
        uc.groupBy("cell")
        .agg(F.sum("a").alias("sa"), F.sum("b").alias("sb"))
        .select(
            "cell",
            (F.sum("sa").over(wc) - F.col("sa")).alias("base1"),
            (F.sum("sb").over(wc) - F.col("sb")).alias("base2"),
        )
    )
    wi = (
        Window.partitionBy("cell")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        uc.join(F.broadcast(bases), "cell")
        .withColumn("cu1", F.col("base1") + F.sum("a").over(wi))
        .withColumn("cu2", F.col("base2") + F.sum("b").over(wi))
        .withColumn(
            "num", F.abs(F.col("cu1") * F.col("n2") - F.col("cu2") * F.col("n1"))
        )
    )
    best = scored.agg(
        F.max(F.struct(F.col("num"), (-F.col("v")).alias("nv"))).alias("m"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    return best.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        (
            F.col("m.num").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
        ).alias("ks_d"),
        (-F.col("m.nv")).alias("at_value"),
    )


@register(
    "q_ldiversity",
    """
SELECT c_mktsegment,
       CAST(c_nationkey AS INTEGER) AS c_nationkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT
                CAST(floor(c_acctbal / 1000) AS INTEGER)) AS BIGINT) AS l,
       count(DISTINCT CAST(floor(c_acctbal / 1000) AS INTEGER)) < 3 AS risky
FROM customer
GROUP BY c_mktsegment, c_nationkey
""",
)
def q_ldiversity(spark, sf_dir):
    # k-anonymity's necessary companion (Machanavajjhala et al. 2007): a
    # large quasi-identifier group is still unsafe if the SENSITIVE
    # attribute is (near-)constant inside it — everyone in the group leaks
    # the value. l-diversity counts distinct sensitive values (account-
    # balance bands as the stand-in sensitive attribute) per QI group and
    # flags groups below l=3. floor(bal/1000) is one IEEE division +
    # floor, identical both engines; count(DISTINCT) rides the same
    # QI-cardinality-bounded shuffle as q_kanonymity.
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("int")
    return c.groupBy(
        "c_mktsegment", F.col("c_nationkey").cast("int").alias("c_nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct(band).cast("long").alias("l"),
        (F.countDistinct(band) < 3).alias("risky"),
    )


@register(
    "q_chi2_independence",
    """
WITH cells AS (
    SELECT event_type, CAST(user_id % 2 AS INTEGER) AS cohort,
           count(*) AS o
    FROM events
    GROUP BY event_type, user_id % 2
),
tot AS (
    SELECT event_type, cohort, o,
           sum(o) OVER (PARTITION BY event_type) AS row_t,
           sum(o) OVER (PARTITION BY cohort) AS col_t,
           sum(o) OVER () AS n
    FROM cells
),
terms AS (
    SELECT n,
           CAST(
               (o - CAST(row_t * col_t AS DOUBLE) / n)
               * (o - CAST(row_t * col_t AS DOUBLE) / n)
               / (CAST(row_t * col_t AS DOUBLE) / n)
           AS DECIMAL(26,12)) AS term,
           event_type, cohort
    FROM tot
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST((count(DISTINCT event_type) - 1)
            * (count(DISTINCT cohort) - 1) AS BIGINT) AS dof,
       CAST(sum(term) AS DOUBLE) AS chi2
FROM terms
""",
)
def q_chi2_independence(spark, sf_dir):
    # Chi-square test of independence between event type and an id-hash
    # cohort (the q_abtest_lift experimentation family completed): does
    # behavior mix differ across cohorts? Cell/marginal counts are exact
    # integers; each expected value row_t*col_t/n is ONE IEEE division of
    # identical operands (bit-deterministic), each (o-e)^2/e term is a
    # fixed IEEE chain — and the only order-sensitive step, summing the
    # |types|x|cohorts| terms, is decimal-pinned per the repo-wide rule
    # so Spark's partial-aggregation order cannot move the result. Scale:
    # one groupBy bounded by cell cardinality; the window marginals run
    # over the tiny cell table, not the facts.
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).cast("int").alias("cohort")
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = cells.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_t"),
        F.sum("o").over(Window.partitionBy("cohort")).alias("col_t"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = (F.col("row_t") * F.col("col_t")).cast("double") / F.col("n")
    term = ((F.col("o") - e) * (F.col("o") - e) / e).cast("decimal(26,12)")
    return tot.select("event_type", "cohort", "n", term.alias("term")).agg(
        F.max("n").cast("long").alias("n"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("cohort") - 1)
        ).cast("long").alias("dof"),
        F.sum("term").cast("double").alias("chi2"),
    )


@register(
    "q_psi_drift",
    """
WITH ref AS (SELECT value AS v, event_id FROM events WHERE event_type = 'click'),
cmp AS (SELECT value AS v FROM events WHERE event_type = 'view'),
t AS (SELECT (SELECT count(*) FROM ref) AS n1, (SELECT count(*) FROM cmp) AS n2),
ranked AS (
    SELECT v, row_number() OVER (ORDER BY v, event_id) AS i FROM ref
),
edges AS (
    SELECT v AS e
    FROM ranked, t
    WHERE i IN (SELECT CAST(ceil(k * t2.n1 / 10.0) AS BIGINT)
                FROM generate_series(1, 9) AS g(k), t AS t2)
),
b1 AS (
    SELECT 1 + (SELECT count(*) FROM edges WHERE e < r.v) AS bin
    FROM ref r
),
b2 AS (
    SELECT 1 + (SELECT count(*) FROM edges WHERE e < c.v) AS bin
    FROM cmp c
),
spine AS (SELECT unnest(generate_series(1, 10)) AS bin),
counts AS (
    SELECT s.bin,
           (SELECT count(*) FROM b1 WHERE b1.bin = s.bin) AS c1,
           (SELECT count(*) FROM b2 WHERE b2.bin = s.bin) AS c2
    FROM spine s
),
terms AS (
    SELECT CAST(
        ((c1 + 0.5) / (t.n1 + 5.0) - (c2 + 0.5) / (t.n2 + 5.0))
        * ln(((c1 + 0.5) / (t.n1 + 5.0)) / ((c2 + 0.5) / (t.n2 + 5.0)))
    AS DECIMAL(26,12)) AS term, t.n1, t.n2
    FROM counts, t
)
SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
       CAST(sum(term) AS DOUBLE) AS psi
FROM terms
""",
)
def q_psi_drift(spark, sf_dir):
    # Population stability index — the scorecard-monitoring drift metric
    # that complements q_ks_drift (max ECDF gap) and q_chi2_independence
    # (categorical mix): PSI = sum over reference-decile bins of
    # (p_i - q_i) * ln(p_i / q_i). Bin edges are the reference sample's
    # exact rank-selected deciles (ceil(k*n1/10), (v, event_id)-tiebroken,
    # left-inclusive upper edges), so binning is carried-value exact on
    # both engines. Jeffreys +0.5 count smoothing keeps empty comparison
    # bins finite and deterministic (no epsilon constant). Proportions are
    # IEEE divisions of exact integers; the ln is transcendental, so each
    # term is decimal-pinned to 12 places before the sum (the
    # q_bigram_nll rule — cross-engine ln ulp differences vanish below
    # the pin). Scale: the nine decile edges are rank-selected through
    # the shared 1024-cell histogram operator (operators/histogram.py) —
    # cell counts, a <=1024-row cumulative walk, and one PARTITIONED
    # within-cell window — never a single-task global sort of the
    # reference split (the r6 VERDICT #1 fix; the ORACLE keeps the naive
    # global-window form so the hash match cross-validates the
    # decomposition). The edge frame then broadcasts; binning is a pure
    # map pass; everything after runs on a 10-row spine.
    from opc2mongodb_spark.operators.histogram import (
        bin_spine,
        decile_ranks,
        edge_bin,
        rank_select,
    )

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "click").select(
        F.col("value").alias("v"), "event_id"
    )
    cmp_ = ev.filter(F.col("event_type") == "view").select(
        F.col("value").alias("v")
    )
    deciles = rank_select(
        ref,
        "v",
        decile_ranks(),
        tiebreak_cols=["event_id"],
    )
    # the 1-row edge frame feeds BOTH binned() branches; without a cut
    # the whole two-pass rank-selection subtree executes twice (verified
    # in the physical plan — no ReusedExchange match). persist() (not
    # localCheckpoint, which would hide the subtree from the plan-shape
    # tests) materializes it once at first use; the cached entry is ONE
    # row, the kmeans-centroid class of bounded state.
    edges_arr = deciles.agg(
        F.array_sort(F.collect_list("v")).alias("es")
    ).persist()
    def binned(df):
        return df.crossJoin(F.broadcast(edges_arr)).select(
            edge_bin(F.col("v"), F.col("es")).alias("bin")
        )
    c1 = binned(ref).groupBy("bin").agg(F.count(F.lit(1)).alias("c1"))
    c2 = binned(cmp_).groupBy("bin").agg(F.count(F.lit(1)).alias("c2"))
    spine = bin_spine(spark)
    totals = ev.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n2"),
    )
    counts = (
        spine.join(c1, "bin", "left")
        .join(c2, "bin", "left")
        .select(
            "bin",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
        )
        .crossJoin(F.broadcast(totals))
    )
    p = (F.col("c1") + 0.5) / (F.col("n1") + 5.0)
    q = (F.col("c2") + 0.5) / (F.col("n2") + 5.0)
    term = ((p - q) * F.log(p / q)).cast("decimal(26,12)")
    return counts.select("n1", "n2", term.alias("term")).agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
        F.sum("term").cast("double").alias("psi"),
    )


@register(
    "q_quantiles_histogram",
    """
WITH r AS (
    SELECT value,
           row_number() OVER (ORDER BY value, event_id) AS i,
           count(*) OVER () AS n
    FROM events
)
SELECT CAST(max(n) AS BIGINT) AS n_rows,
       max(CASE WHEN i = CAST(ceil(n * 0.25) AS BIGINT) THEN value END) AS p25,
       max(CASE WHEN i = CAST(ceil(n * 0.50) AS BIGINT) THEN value END) AS p50,
       max(CASE WHEN i = CAST(ceil(n * 0.75) AS BIGINT) THEN value END) AS p75,
       max(CASE WHEN i = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS p95,
       max(CASE WHEN i = CAST(ceil(n * 0.99) AS BIGINT) THEN value END) AS p99
FROM r
""",
)
def q_quantiles_histogram(spark, sf_dir):
    # The SCALE path for exact discrete quantiles over an UNBOUNDED
    # population — the counterpart q_exact_quantiles' docstring promises
    # (its percentile() aggregate buffers whole groups; fine for 3 return
    # flags, fatal for one 100 TB column). All five quantile ranks
    # (ceil(q*n), (value, event_id)-tiebroken — discrete carried values,
    # no interpolation, so cross-engine equality is exact) rank-select in
    # ONE pass through the shared 1024-cell histogram operator: cell
    # counts, a <=1024-row cumulative walk locating all five target
    # cells, one PARTITIONED within-cell window. The ORACLE is the naive
    # global-window form — an independent method — so the hash match
    # cross-validates the decomposition (the q_histogram_median
    # discipline).
    from opc2mongodb_spark.operators.histogram import rank_select

    ev = _t(spark, sf_dir, "events").select("value", "event_id")
    qs = (0.25, 0.50, 0.75, 0.95, 0.99)
    sel = rank_select(
        ev,
        "value",
        [(lambda n, q=q: F.ceil(n * q)) for q in qs],
        tiebreak_cols=["event_id"],
    )
    aggs = [F.max("n").cast("long").alias("n_rows")]
    for q in qs:
        r_q = F.ceil(F.col("n") * F.lit(q)).cast("bigint")
        aggs.append(
            F.max(F.when(F.col("rank") == r_q, F.col("value"))).alias(
                f"p{int(q * 100)}"
            )
        )
    return sel.agg(*aggs)


@register(
    "q_winsorize",
    """
WITH r AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
e AS (
    SELECT event_type,
           max(CASE WHEN i = CAST(ceil(n * 0.05) AS BIGINT)
               THEN value END) AS lo,
           max(CASE WHEN i = CAST(ceil(n * 0.95) AS BIGINT)
               THEN value END) AS hi,
           CAST(max(n) AS BIGINT) AS n
    FROM r GROUP BY event_type
)
SELECT ev.event_type, max(e.n) AS n, max(e.lo) AS lo, max(e.hi) AS hi,
       CAST(sum(CAST(least(greatest(ev.value, e.lo), e.hi)
                     AS DECIMAL(18,2))) AS DOUBLE) AS clipped_sum
FROM events ev JOIN e ON e.event_type = ev.event_type
GROUP BY ev.event_type
""",
)
def q_winsorize(spark, sf_dir):
    # Winsorized aggregation — the standard robust pre-processing step
    # before computing means over heavy-tailed telemetry (a handful of
    # wild points otherwise own the sum): clip every value into its
    # series' [p05, p95] band, then aggregate the clipped column. The
    # band edges are DISCRETE rank-selected values (ceil(q*n),
    # (value, event_id)-tiebroken) through the shared histogram operator
    # — per-series edges without a per-series full sort — so lo/hi are
    # CARRIED values, least/greatest clips are IEEE-exact on identical
    # operands, and the clipped sum decimal-pins (the float-aggregate
    # rule). The ORACLE computes edges with the naive per-series window,
    # cross-validating the decomposition. Scale: one |types|-row
    # broadcast of the edge frame onto the fact scan; everything else is
    # map-side-combinable aggregation.
    from opc2mongodb_spark.operators.histogram import rank_select

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    sel = rank_select(
        ev,
        "value",
        [(lambda n, q=q: F.ceil(n * q)) for q in (0.05, 0.95)],
        group_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    edges = sel.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rank")
                == F.ceil(F.col("n") * F.lit(0.05)).cast("bigint"),
                F.col("value"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rank")
                == F.ceil(F.col("n") * F.lit(0.95)).cast("bigint"),
                F.col("value"),
            )
        ).alias("hi"),
        F.max("n").cast("long").alias("n"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(edges), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.sum(dec(clipped)).cast("double").alias("clipped_sum"),
        )
    )


@register(
    "q_user_overlap",
    """
WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
p AS (
    SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_common
    FROM s a JOIN s b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
),
n AS (SELECT event_type, count(*) AS nu FROM s GROUP BY 1)
SELECT t1, t2,
       CAST(n1.nu AS BIGINT) AS n1,
       CAST(n2.nu AS BIGINT) AS n2,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE)
           / CAST(n1.nu + n2.nu - n_common AS DOUBLE) AS jaccard
FROM p
JOIN n n1 ON n1.event_type = p.t1
JOIN n n2 ON n2.event_type = p.t2
""",
)
def q_user_overlap(spark, sf_dir):
    # Audience-overlap matrix: pairwise Jaccard of the USER SETS behind
    # each event type — the cohort-contamination / audience-dedup
    # diagnostic (same arithmetic class as q_split_leakage, but between
    # behavioral segments). Integer-exact intersection and union sizes
    # with ONE final division per pair. Scale shape: the oracle's
    # self-join on user_id would shuffle the distinct frame twice; the
    # Spark plan instead groups each user's (distinct, sorted) type array
    # ONCE and explodes its C(k,2) in-array pairs — per-user fan-out is
    # bounded by |event types|^2 (a handful), so the pair stream is
    # |users| x O(1) and the heavy column never re-shuffles. Totals ride
    # a |types|-row broadcast.
    ev = _t(spark, sf_dir, "events")
    s = ev.select("event_type", "user_id").distinct()
    arr = s.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("ts")
    )
    pairs = arr.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ts"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ts"), i + F.lit(2), F.size(F.col("ts"))
                        ),
                        lambda y: F.struct(
                            x.alias("t1"), y.alias("t2")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.t1", "p.t2")
    counts = pairs.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    totals = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("nu"))
    return (
        counts.join(
            F.broadcast(totals.select(F.col("event_type").alias("t1"),
                                      F.col("nu").alias("_n1"))), "t1"
        )
        .join(
            F.broadcast(totals.select(F.col("event_type").alias("t2"),
                                      F.col("nu").alias("_n2"))), "t2"
        )
        .select(
            "t1",
            "t2",
            F.col("_n1").cast("long").alias("n1"),
            F.col("_n2").cast("long").alias("n2"),
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.col("n_common").cast("double")
                / (F.col("_n1") + F.col("_n2") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


@register(
    "q_benford",
    """
WITH c AS (
    SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS VARCHAR), 1, 1)
                AS INTEGER) AS digit
    FROM orders WHERE o_totalprice > 0
),
n AS (
    SELECT digit, count(*) AS n_obs FROM c GROUP BY digit
),
t AS (SELECT sum(n_obs) AS total FROM n)
SELECT digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(n_obs AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
       CAST(CAST(log10(1.0 + 1.0 / digit) AS DECIMAL(18,12)) AS DOUBLE)
           AS benford_p,
       CAST(n_obs AS DOUBLE) / CAST(t.total AS DOUBLE)
           - CAST(CAST(log10(1.0 + 1.0 / digit) AS DECIMAL(18,12)) AS DOUBLE)
           AS deviation
FROM n, t
""",
)
def q_benford(spark, sf_dir):
    # Benford's-law first-digit audit — the fraud/data-quality classic:
    # naturally occurring multi-magnitude amounts follow
    # P(d) = log10(1 + 1/d); fabricated or truncated data doesn't.
    # DETERMINISM: the first significant digit comes from the decimal
    # STRING of the exact integer cents (the q_window_range_frame
    # decimal*100 pin -> bigint -> cast varchar), never floor(log10(x))
    # whose ulp at a power-of-ten boundary could flip a digit between
    # engines. Counts are exact integers, shares one IEEE division each,
    # and the transcendental Benford expectation is decimal-pinned to 12
    # places (the q_bigram_nll rule) before the deviation subtraction.
    # Scale: one map-side-combinable groupBy onto a 9-row frame.
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    n = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    t = n.agg(F.sum("n_obs").alias("total"))
    share = F.col("n_obs").cast("double") / F.col("total").cast("double")
    benford = (
        F.log10(1.0 + 1.0 / F.col("digit"))
        .cast("decimal(18,12)")
        .cast("double")
    )
    return n.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        share.alias("share"),
        benford.alias("benford_p"),
        (share - benford).alias("deviation"),
    )


@register(
    "q_seq_length_buckets",
    r"""
WITH tok AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
)
SELECT CAST(length(CAST(n_tok AS VARCHAR)) AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(min(n_tok) AS BIGINT) AS min_tokens,
       CAST(max(n_tok) AS BIGINT) AS max_tokens
FROM tok
GROUP BY bucket
""",
)
def q_seq_length_buckets(spark, sf_dir):
    # Sequence-length histogram for context-window / packing planning
    # (the batch-shape question every training pipeline asks before
    # choosing max_seq_len and pack targets — q_pack_sequences' upstream
    # diagnostic): documents bucketed by token-count MAGNITUDE. The
    # bucket is the DECIMAL DIGIT COUNT of the integer token count
    # (length of its base-10 string) — a pure integer/string operation,
    # deliberately not floor(log10(n)) whose ulp at 10^k could flip a
    # bucket between engines. Tokenization matches q_token_count's
    # whitespace rule (split size). Scale: map-side tokenize-count (text
    # never shuffles), combinable groupBy onto a <=7-row frame.
    from opc2mongodb_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text")).cast("long")
    return (
        d.select(n_tok.alias("n_tok"))
        .groupBy(
            F.length(F.col("n_tok").cast("string")).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
            F.min("n_tok").cast("long").alias("min_tokens"),
            F.max("n_tok").cast("long").alias("max_tokens"),
        )
    )


@register(
    "q_trend_slope",
    """
WITH m AS (
    SELECT event_type, min(ts) AS t0 FROM events GROUP BY event_type
),
x AS (
    SELECT e.event_type,
           CAST(floor(epoch(e.ts)) AS BIGINT)
               - CAST(floor(epoch(m.t0)) AS BIGINT) AS x,
           e.value AS y
    FROM events e JOIN m ON m.event_type = e.event_type
),
comp AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM x GROUP BY event_type
)
SELECT event_type, CAST(nd AS BIGINT) AS n,
       printf('%.9e', (nd * sxy - sx * sy) / (nd * sxx - sx * sx))
           AS slope_per_sec
FROM comp
""",
)
def q_trend_slope(spark, sf_dir):
    # Per-series least-squares trend (value drift per second) in the
    # closed component form — the telemetry health check the reference's
    # historians run on every tag, and the q_corr_manual discipline
    # applied to regression: x is INTEGER seconds since the series' own
    # first sample (broadcast |types|-row min frame; re-zeroing keeps
    # x*x inside decimal(38,0) at any horizon), component sums are
    # decimal-exact (order-insensitive), and the final slope is one
    # fixed-shape double expression rendered at 10 significant digits
    # because its inputs pass through >2^53 decimal->double casts (the
    # measured 1-ulp cross-engine divergence). Scale: one broadcast join
    # + one combinable groupBy; no windows, no sorts.
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(F.min("ts").alias("t0"))
    x = (
        F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("t0"))
    ).alias("x")
    j = ev.join(F.broadcast(m), "event_type").select(
        "event_type", x, F.col("value").alias("y")
    )
    comp = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
        ).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (
        F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return comp.select(
        "event_type",
        F.col("nd").cast("long").alias("n"),
        sci9(slope).alias("slope_per_sec"),
    )


@register(
    "q_canonical_choice",
    r"""
WITH d AS (
    SELECT doc_id, source,
           CAST(substring(source, 4) AS INTEGER) AS prio,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
)
SELECT fp,
       min(prio * 10000000000 + doc_id) % 10000000000 AS canonical_id,
       'src' || CAST(CAST(min(prio * 10000000000 + doc_id) / 10000000000
                          AS BIGINT) AS VARCHAR) AS canonical_source,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM d
GROUP BY fp
""",
)
def q_canonical_choice(spark, sf_dir):
    # The keep-WHICH-copy policy step that follows exact dedup in every
    # corpus build: among byte-identical copies, keep the one from the
    # highest-priority SOURCE (curated beats crawled), doc_id as the
    # final tiebreaker. One struct-min aggregate per fingerprint group —
    # the q_hard_negatives single-aggregation discipline — so the policy
    # costs exactly what q_dedup_exact costs (one combinable groupBy on
    # the 16-byte fingerprint; text never shuffles). Priority is the
    # source's numeric suffix (src0 outranks src19 — a stand-in for the
    # curated>web>crawl ladder a real corpus config supplies). The ORACLE
    # encodes the same argmin as integer arithmetic (prio*1e10 + doc_id,
    # decomposed by div/mod) — an independent formulation of the
    # lexicographic min, so the hash match cross-validates the struct
    # ordering.
    from opc2mongodb_spark.functions.text import fingerprint

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.substring("source", 4, 10).cast("int").alias("prio"),
        fingerprint(F.col("text")).alias("fp"),
    )
    best = F.min(F.struct(F.col("prio"), F.col("doc_id"))).alias("b")
    return d.groupBy("fp").agg(
        best,
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    ).select(
        "fp",
        F.col("b.doc_id").cast("long").alias("canonical_id"),
        F.concat(F.lit("src"), F.col("b.prio").cast("string")).alias(
            "canonical_source"
        ),
        "n_copies",
        "n_sources",
    )


@register(
    "q_dau_wau",
    """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
    FROM events
),
dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
span AS (
    SELECT ud.user_id, ud.d AS active_d, ud.d + CAST(g.k AS INTEGER) AS d
    FROM ud, generate_series(0, 6) AS g(k)
),
wau AS (
    SELECT d, count(DISTINCT user_id) AS wau FROM span GROUP BY d
)
SELECT dau.d, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
FROM dau JOIN wau ON wau.d = dau.d
""",
)
def q_dau_wau(spark, sf_dir):
    # The engagement pair every product pipeline reports: daily active
    # users and TRAILING-7-DAY active users per day, plus the DAU/WAU
    # stickiness ratio. The rolling distinct is NOT a window over sets
    # (no distinct-over-range frame exists in either engine): each
    # (user, active day) row fans out to the 7 calendar days it keeps the
    # user "weekly active" for (a fixed 7x explode of the already-distinct
    # user-day frame — |users x days| x 7, bounded and combinable), then
    # one count-distinct per day. Integer-exact counts, one IEEE division
    # for stickiness. Days with DAU but a 7-day window reaching back
    # before the data start are still exact (both engines see the same
    # truncated history). Only days that HAVE activity appear (inner
    # join), matching the oracle.
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    span = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("d"),
    )
    wau = span.groupBy("d").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "d").select(
        "d",
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


@register(
    "q_activity_streaks",
    """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
    FROM events
),
r AS (
    SELECT user_id, d,
           d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                    AS INTEGER) AS island
    FROM ud
),
runs AS (
    SELECT user_id, island, count(*) AS len FROM r GROUP BY user_id, island
),
best AS (
    SELECT user_id, max(len) AS best_streak FROM runs GROUP BY user_id
)
SELECT CAST(best_streak AS BIGINT) AS streak_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM best
GROUP BY best_streak
""",
)
def q_activity_streaks(spark, sf_dir):
    # Gaps-and-islands: each user's longest run of CONSECUTIVE active
    # days, reported as a distribution (streak length -> user count) —
    # the retention-curve input. The island key is the classic
    # date-minus-rank trick: within a user's ascending distinct days,
    # d - row_number() is constant exactly while days are consecutive —
    # pure integer date arithmetic, identical cross-engine. Scale: the
    # only window partitions per USER over that user's distinct DAYS
    # (bounded by the calendar, naturally parallel over users); both
    # groupBys are map-side combinable; output is a <=|days|-row
    # distribution.
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    r = ud.select(
        "user_id",
        F.date_sub(
            F.col("d"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("d"))
            .cast("int"),
        ).alias("island"),
    )
    runs = r.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    best = runs.groupBy("user_id").agg(F.max("len").alias("best_streak"))
    return best.groupBy(
        F.col("best_streak").cast("long").alias("streak_days")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


@register(
    "q_latency_sla",
    """
WITH r AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN i = CAST(ceil(n * 0.50) AS BIGINT) THEN value END) AS p50,
       max(CASE WHEN i = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS p95,
       max(CASE WHEN i = CAST(ceil(n * 0.99) AS BIGINT) THEN value END) AS p99
FROM r
GROUP BY event_type
""",
)
def q_latency_sla(spark, sf_dir):
    # The SLA report every telemetry pipeline publishes: p50/p95/p99 per
    # series — the GROUPED multi-rank form of q_quantiles_histogram (one
    # shared-histogram pass selects all three ranks for EVERY series
    # simultaneously; per-series sorts never exceed ~n/1024 rows per
    # task, so a handful of huge series cannot straggle the stage the
    # way a per-group percentile sort would). Discrete carried values
    # (ceil(q*n), (value, event_id)-tiebroken); naive-window oracle
    # cross-validates the decomposition.
    from opc2mongodb_spark.operators.histogram import rank_select

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    qs = (0.50, 0.95, 0.99)
    sel = rank_select(
        ev,
        "value",
        [(lambda n, q=q: F.ceil(n * q)) for q in qs],
        group_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for q in qs:
        r_q = F.ceil(F.col("n") * F.lit(q)).cast("bigint")
        aggs.append(
            F.max(F.when(F.col("rank") == r_q, F.col("value"))).alias(
                f"p{int(q * 100)}"
            )
        )
    return sel.groupBy("event_type").agg(*aggs)


@register(
    "q_join_fanout",
    """
WITH l AS (SELECT o_custkey AS k, count(*) AS lc FROM orders GROUP BY 1),
r AS (SELECT c_custkey AS k, count(*) AS rc FROM customer GROUP BY 1),
j AS (SELECT l.k, lc, rc, lc * rc AS fanout FROM l JOIN r ON r.k = l.k)
SELECT CAST(sum(fanout) AS BIGINT) AS total_pairs,
       CAST(max(fanout) AS BIGINT) AS max_key_fanout,
       CAST(min(CASE WHEN fanout = mf THEN k END) AS BIGINT) AS worst_key,
       CAST(count(*) AS BIGINT) AS n_matched_keys
FROM (SELECT *, max(fanout) OVER () AS mf FROM j)
""",
)
def q_join_fanout(spark, sf_dir):
    # The pre-flight explosion guard for a planned join: run it on the
    # KEY HISTOGRAMS (two combinable groupBys + a |keys|-sized join of
    # count frames) instead of the join itself, and learn — before
    # shuffling a 100 TB fact — exactly how many output rows the join
    # will emit (sum lc*rc), the worst single key's fan-out (the task
    # that will straggle; feed it to operators/skew.py salting), and
    # which key it is. Integer-exact throughout; the worst key is
    # min-tiebroken so ties are deterministic. The same struct-max trick
    # as q_hard_negatives folds max and argmax into one aggregation on
    # the Spark side; the oracle takes the independent window-max form,
    # cross-validating it.
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    l = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("lc")
    )
    r = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("rc")
    )
    j = l.join(r, "k").select(
        "k", (F.col("lc") * F.col("rc")).alias("fanout")
    )
    return j.agg(
        F.sum("fanout").cast("long").alias("total_pairs"),
        F.max("fanout").cast("long").alias("max_key_fanout"),
        F.max(
            F.struct(F.col("fanout"), (-F.col("k")).alias("nk"))
        )["nk"].alias("_nk"),
        F.count(F.lit(1)).cast("long").alias("n_matched_keys"),
    ).select(
        "total_pairs",
        "max_key_fanout",
        (-F.col("_nk")).cast("long").alias("worst_key"),
        "n_matched_keys",
    )


@register(
    "q_storage_profile",
    """
WITH d AS (
    SELECT source, strlen(text) AS nbytes, n_chars FROM documents
),
t AS (SELECT sum(nbytes) AS tb FROM d)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nbytes) AS BIGINT) AS total_bytes,
       CAST(max(nbytes) AS BIGINT) AS max_doc_bytes,
       CAST(sum(nbytes) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_doc_bytes,
       CAST(sum(nbytes) AS DOUBLE) / CAST(t.tb AS DOUBLE) AS byte_share,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM d, t
GROUP BY source, t.tb
""",
)
def q_storage_profile(spark, sf_dir):
    # Storage planning input: per-source BYTE totals (octet_length — the
    # number parquet row groups, shuffle partitions, and
    # files.maxPartitionBytes actually see; n_chars is carried alongside
    # to expose the multi-byte inflation ratio). Drives the two physical
    # decisions every 100 TB layout makes: how many output files per
    # source (total_bytes / target_file_size) and whether any source's
    # byte_share makes it worth its own partition spec. Integer-exact
    # sums; the two derived ratios are IEEE divisions of exact integers.
    # One combinable groupBy + a broadcast 1-row total.
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.octet_length("text").cast("long").alias("nbytes"),
        "n_chars",
    )
    t = d.agg(F.sum("nbytes").alias("tb"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
            F.max("nbytes").cast("long").alias("max_doc_bytes"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "total_bytes",
            "max_doc_bytes",
            (
                F.col("total_bytes").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("avg_doc_bytes"),
            (
                F.col("total_bytes").cast("double") / F.col("tb").cast("double")
            ).alias("byte_share"),
            "total_chars",
        )
    )


@register(
    "q_markov3",
    """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
c AS (
    SELECT prev_type AS f, event_type AS t, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
types AS (SELECT DISTINCT f AS ty FROM c),
v0 AS (SELECT ty, CAST(1 AS BIGINT) AS m FROM types),
v1 AS (
    SELECT c.t AS ty, sum(v0.m * c.n) AS m
    FROM v0 JOIN c ON c.f = v0.ty GROUP BY c.t
),
v2 AS (
    SELECT c.t AS ty, sum(v1.m * c.n) AS m
    FROM v1 JOIN c ON c.f = v1.ty GROUP BY c.t
),
v3 AS (
    SELECT c.t AS ty, sum(v2.m * c.n) AS m
    FROM v2 JOIN c ON c.f = v2.ty GROUP BY c.t
),
tot AS (SELECT sum(m) AS tm FROM v3)
SELECT ty AS event_type,
       CAST(m AS BIGINT) AS paths3,
       CAST(m AS DOUBLE) / CAST(tot.tm AS DOUBLE) AS share3
FROM v3, tot
""",
)
def q_markov3(spark, sf_dir):
    # Three propagation steps of the user-behavior transition chain
    # (q_event_transitions' matrix) from a uniform unit start — where the
    # behavioral mass concentrates after k hops, the PageRank-style
    # fixed-point diagnostic for session models. DETERMINISM BY DESIGN:
    # the propagation runs UNNORMALIZED on the integer transition COUNTS
    # (mass3(to) = sum over 3-hop paths of the product of the three edge
    # multiplicities), so every step is exact 64-bit integer arithmetic
    # (path products <= ~1e15 at driver SFs, inside 2^53 and long range)
    # and the only float op is ONE final share division of exact
    # integers. The first drafted form propagated decimal-pinned
    # probabilities instead and flapped at the 12th digit: Spark rounds
    # decimal casts HALF_UP, DuckDB half-even, and a per-step pin samples
    # that boundary three times — the integer reframing removes the
    # boundary entirely. SCALE: one user_id window shuffle builds the
    # counts; the propagation itself runs on |types|^2 <= ~25 rows of
    # broadcast state.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    c = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("f"), F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    v = c.select(F.col("f").alias("ty")).distinct().select(
        "ty", F.lit(1).cast("long").alias("m")
    )
    for _ in range(3):
        v = (
            v.join(F.broadcast(c), v["ty"] == c["f"])
            .groupBy(F.col("t").alias("ty2"))
            .agg(F.sum(F.col("m") * F.col("n")).alias("m"))
            .withColumnRenamed("ty2", "ty")
        )
    tot = v.agg(F.sum("m").alias("tm"))
    return v.crossJoin(F.broadcast(tot)).select(
        F.col("ty").alias("event_type"),
        F.col("m").cast("long").alias("paths3"),
        (F.col("m").cast("double") / F.col("tm").cast("double")).alias(
            "share3"
        ),
    )


@register(
    "q_value_autocorr",
    f"""
WITH seq AS (
    SELECT event_type, value AS y,
           lag(value) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS x
    FROM events
),
comp AS (
    SELECT event_type,
           CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy,
           CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM seq WHERE x IS NOT NULL
    GROUP BY event_type
)
SELECT event_type, CAST(nd AS BIGINT) AS n_pairs,
       printf('%.9e', {{corr}}) AS autocorr_lag1
FROM comp
""".format(corr=_CORR_EXPR),
)
def q_value_autocorr(spark, sf_dir):
    # Lag-1 autocorrelation of each series' value stream — the
    # persistence diagnostic that tunes the compression operators (a
    # series near +1 is smooth: swinging-door/deadband will crush it; a
    # series near 0 is noise: archive raw). q_corr_manual's discipline
    # verbatim: consecutive (lag(value), value) pairs from one per-series
    # window (partitioned by event_type — scalable, no global sort),
    # decimal-exact component sums, one fixed-shape double expression
    # rendered at 10 significant digits (>2^53 decimal->double casts
    # measured 1-ulp apart across engines).
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type",
        F.col("value").alias("y"),
        F.lag("value").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    x, y = F.col("x"), F.col("y")
    comp = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(28,4)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    return comp.select(
        "event_type",
        F.col("nd").cast("long").alias("n_pairs"),
        sci9(F.expr(_CORR_EXPR)).alias("autocorr_lag1"),
    )


@register(
    "q_weekday_seasonality",
    """
SELECT isodow(ts) AS weekday,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg_value
FROM events
GROUP BY 1
""",
)
def q_weekday_seasonality(spark, sf_dir):
    # Day-of-week load profile — the seasonality baseline
    # q_seasonal_residual subtracts, exposed directly. CROSS-ENGINE TRAP,
    # documented: Spark's dayofweek() counts Sunday=1 while DuckDB's
    # dow() counts Sunday=0 — both sides use the ISO numbering instead
    # (Monday=1; DuckDB isodow, Spark derived as ((dayofweek+5) % 7)+1),
    # which is also the number an analyst expects. Decimal-pinned sum,
    # one IEEE division for the mean.
    ev = _t(spark, sf_dir, "events")
    isodow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    return (
        ev.groupBy(isodow.alias("weekday"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec(F.col("value"))).cast("double").alias("total"),
        )
        .select(
            "weekday",
            "n",
            "total",
            (F.col("total") / F.col("n").cast("double")).alias("avg_value"),
        )
    )


@register(
    "q_top100_share",
    """
WITH u AS (
    SELECT user_id, count(*) AS c FROM events GROUP BY user_id
),
top AS (
    SELECT c FROM u ORDER BY c DESC, user_id ASC LIMIT 100
),
t AS (SELECT sum(c) AS total, count(*) AS n_users FROM u)
SELECT CAST(t.n_users AS BIGINT) AS n_users,
       CAST(t.total AS BIGINT) AS n_events,
       CAST((SELECT sum(c) FROM top) AS BIGINT) AS top100_events,
       CAST((SELECT sum(c) FROM top) AS DOUBLE)
           / CAST(t.total AS DOUBLE) AS top100_share
FROM t
""",
)
def q_top100_share(spark, sf_dir):
    # Traffic concentration: what share of all events the 100 busiest
    # users produce — the one-number pareto check behind bot detection,
    # rate-limit sizing (quota_gate's burst), and the salting decision
    # (complementing q_key_skew_gini's distribution-wide view with the
    # head's absolute mass). The top-100 selection is a
    # TakeOrderedAndProject over the per-user count frame ((c, user_id)
    # tiebroken — deterministic under ties), never a global sort;
    # everything else is integer-exact with one final share division.
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    top = u.orderBy(F.col("c").desc(), F.col("user_id").asc()).limit(100)
    top_sum = top.agg(F.sum("c").alias("tc"))
    t = u.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("c").alias("total")
    )
    return t.crossJoin(F.broadcast(top_sum)).select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("total").cast("long").alias("n_events"),
        F.col("tc").cast("long").alias("top100_events"),
        (F.col("tc").cast("double") / F.col("total").cast("double")).alias(
            "top100_share"
        ),
    )


@register(
    "q_hourly_peak",
    """
WITH h AS (
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr, count(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS peak_events,
       CAST(min(CASE WHEN n = mx THEN hr END) AS INTEGER) AS peak_hour,
       CAST(max(n) AS DOUBLE) * 24.0
           / CAST(sum(n) AS DOUBLE) AS peak_to_mean
FROM (SELECT *, max(n) OVER (PARTITION BY event_type) AS mx FROM h)
GROUP BY event_type
""",
)
def q_hourly_peak(spark, sf_dir):
    # Peak-hour detection per series: the hour of day carrying the most
    # events, its volume, and the peak-to-mean ratio — the capacity
    # number a 100 TB ingest plans executor count around (a ratio near
    # 1.0 says load is flat; 3.0 says provision for bursts or lean on
    # quota_gate). One combinable (type, hour) groupBy onto a <=24-row
    # frame per series; the argmax folds into a single struct-max with a
    # min-hour tiebreak (the q_join_fanout discipline; the ORACLE takes
    # the independent window-max form). hour() agrees cross-engine under
    # the pinned UTC session.
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    best = h.groupBy("event_type").agg(
        F.max("n").cast("long").alias("peak_events"),
        F.max(F.struct(F.col("n"), (-F.col("hr")).alias("nh")))["nh"].alias(
            "_nh"
        ),
        F.sum("n").alias("tot"),
    )
    return best.select(
        "event_type",
        "peak_events",
        (-F.col("_nh")).cast("int").alias("peak_hour"),
        (
            F.col("peak_events").cast("double")
            * F.lit(24.0)
            / F.col("tot").cast("double")
        ).alias("peak_to_mean"),
    )
