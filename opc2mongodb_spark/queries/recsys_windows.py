"""Query registrations: r8 batches 12-13: distribution windows, recsys similarity, density cells, volatility, differential privacy, CUPED, link prediction.

Mechanically split from the original single-module registry (r9);
registration order and bodies unchanged. Determinism rulebook:
the package docstring (queries/__init__.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from opc2mongodb_spark.queries._core import _t, dec, register, sci9

# Per-user item-list bound for q_item_item_cosine's pair generator: a
# heavy user contributes at most C(256, 2) pairs. Never triggered on this
# schema (|event_type| is single digits — oracle compare proves the no-op);
# the demotion rule (256 lexicographically-lowest items, true norms kept)
# is identical on both engines.
ITEM_COSINE_USER_CAP = 256


@register(
    "q_window_cume_dist",
    """
WITH r AS (
    SELECT event_type, event_id, value,
           row_number()   OVER w AS rn,
           percent_rank() OVER w AS pr,
           cume_dist()    OVER w AS cd
    FROM events
    WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
)
SELECT event_type, event_id, value,
       CAST(floor(pr * 1e9) AS BIGINT) AS pct_rank_e9,
       CAST(floor(cd * 1e9) AS BIGINT) AS cume_e9
FROM r WHERE rn <= 50
""",
)
def q_window_cume_dist(spark, sf_dir):
    # Completes the ranking-window family (F1) with the two distribution
    # functions: percent_rank = (rn-1)/(N-1) and cume_dist = rn/N over a
    # per-series value order.  The ORDER BY carries event_id so ties are
    # uniquely broken and both ratios are functions of a deterministic rn.
    # Cross-engine exactness: both ratios are int/int double divisions on
    # identical operands — IEEE-correctly-rounded, so floor(x*1e9) is the
    # SAME bigint on both engines (no decimal-tie exposure at all, unlike
    # %.9e on dyadic-exact values; see module docstring).  value IS NOT
    # NULL is filtered on both sides because the engines default opposite
    # NULL sort placement.  One event_type exchange; the rn<=50 cap bounds
    # the output while the window itself stays partition-parallel.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.col("value"), F.col("event_id")
    )
    r = ev.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.filter(F.col("rn") <= 50).select(
        "event_type",
        "event_id",
        "value",
        F.floor(F.col("pr") * 1e9).cast("bigint").alias("pct_rank_e9"),
        F.floor(F.col("cd") * 1e9).cast("bigint").alias("cume_e9"),
    )


@register(
    "q_item_item_cosine",
    """
WITH ui AS (
    SELECT DISTINCT user_id, event_type FROM events
),
norms AS (
    SELECT event_type, count(*) AS n_users FROM ui GROUP BY event_type
),
ui_cap AS (
    SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_type) AS rn
        FROM ui
    ) WHERE rn <= 256
),
co AS (
    SELECT a.event_type AS item_a, b.event_type AS item_b,
           count(*) AS co_users
    FROM ui_cap a JOIN ui_cap b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT co.item_a, co.item_b, CAST(co.co_users AS BIGINT) AS co_users,
       CAST(floor(CAST(co.co_users AS DOUBLE) * 1e9
                  / sqrt(CAST(na.n_users AS DOUBLE)
                         * CAST(nb.n_users AS DOUBLE))) AS BIGINT)
           AS cosine_e9
FROM co
JOIN norms na ON na.event_type = co.item_a
JOIN norms nb ON nb.event_type = co.item_b
""",
)
def q_item_item_cosine(spark, sf_dir):
    # Item-item collaborative-filtering similarity: cosine over binary
    # user-interaction vectors, i.e. co_users / sqrt(n_a * n_b) — the
    # classic "users who did A also did B" kernel.  The self-join keys on
    # user_id; per-user item lists are hard-capped at ITEM_COSINE_USER_CAP
    # (r12: the same row_number-by-item rule as q_link_prediction's part
    # cap, identical on both engines) so a pathological heavy user bounds
    # at C(cap,2) pairs instead of C(items,2).  Here |event_type| is
    # single digits, so the cap never triggers and the oracle compare
    # proves exactness; above it, co_users become lower bounds while norms
    # stay TRUE per-item counts.  norms is a tiny per-item frame joined
    # twice (broadcast-eligible).  Exactness: counts are exact integers;
    # the cosine is one IEEE sqrt + mul + div chain on identical operands,
    # so floor(x*1e9) matches bitwise.
    ui = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    return _item_item_cosine_core(ui)


def _item_item_cosine_core(ui, cap: int = None):
    """Cosine item-item kernel from a distinct (user_id, event_type) frame
    — factored so the heavy-user cap is testable on synthetic frames.
    Norms are TRUE per-item user counts (uncapped); only the pair
    generator is capped."""
    if cap is None:
        cap = ITEM_COSINE_USER_CAP
    norms = ui.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    w = Window.partitionBy("user_id").orderBy("event_type")
    ui_cap = (
        ui.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    a = ui_cap.alias("a")
    b = ui_cap.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_users"))
    )
    na = F.broadcast(norms.withColumnRenamed("n_users", "na"))
    nb = F.broadcast(norms.withColumnRenamed("n_users", "nb"))
    cos = (
        F.col("co_users").cast("double")
        * 1e9
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return (
        co.join(na, F.col("event_type") == F.col("item_a"))
        .drop("event_type")
        .join(nb, F.col("event_type") == F.col("item_b"))
        .drop("event_type")
        .select(
            "item_a",
            "item_b",
            F.col("co_users").cast("bigint").alias("co_users"),
            F.floor(cos).cast("bigint").alias("cosine_e9"),
        )
    )


@register(
    "q_grid_density",
    """
WITH cells AS (
    SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.5) AS BIGINT) AS cx,
           CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.5) AS BIGINT) AS cy,
           count(*) AS n_points
    FROM embeddings
    GROUP BY 1, 2
)
SELECT cx, cy, CAST(n_points AS BIGINT) AS n_points,
       n_points >= 8 AS is_core
FROM cells
WHERE n_points >= 2
""",
)
def q_grid_density(spark, sf_dir):
    # Grid-density clustering primitive (the cell-count pass of a
    # DBSCAN/grid hybrid): quantize the first two embedding dimensions
    # into h=0.5 cells, count points per cell, flag core cells at
    # minPts=8.  This is the scale-correct density operator — ONE
    # map-side-combinable groupBy on integer cell ids, no pairwise
    # distances; a full DBSCAN would then expand only core-cell
    # neighborhoods.  Exactness: float->double cast is exact, /0.5 is an
    # exact power-of-two scaling, floor of identical doubles matches, and
    # everything downstream is integer.
    emb = _t(spark, sf_dir, "embeddings")
    cx = F.floor(F.element_at("embedding", 1).cast("double") / 0.5).cast(
        "bigint"
    )
    cy = F.floor(F.element_at("embedding", 2).cast("double") / 0.5).cast(
        "bigint"
    )
    cells = (
        emb.groupBy(cx.alias("cx"), cy.alias("cy"))
        .agg(F.count(F.lit(1)).alias("n_points"))
        .filter(F.col("n_points") >= 2)
    )
    return cells.select(
        "cx",
        "cy",
        F.col("n_points").cast("bigint").alias("n_points"),
        (F.col("n_points") >= 8).alias("is_core"),
    )


@register(
    "q_entity_blocking",
    """
WITH blocks AS (
    SELECT c_mktsegment AS segment, CAST(c_nationkey AS INT) AS nationkey,
           CAST(count(*) AS BIGINT) AS block_size
    FROM customer GROUP BY 1, 2
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n FROM customer
)
SELECT b.segment, b.nationkey, b.block_size,
       b.block_size * (b.block_size - 1) // 2 AS cand_pairs,
       CAST(floor(CAST(b.block_size * (b.block_size - 1) / 2 AS DOUBLE)
                  * 1e9
                  / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1) / 2))
            AS BIGINT) AS pair_share_e9
FROM blocks b CROSS JOIN tot t
""",
)
def q_entity_blocking(spark, sf_dir):
    # Entity-resolution blocking audit: the pre-flight every ER pipeline
    # runs before pairwise matching — group records by a blocking key
    # (here segment x nation), report per-block candidate-pair counts and
    # each block's share of the naive n^2/2 comparison space.  The whole
    # audit is ONE map-side-combinable groupBy plus a broadcast 1-row
    # total (the q_join_fanout discipline: measure the quadratic blow-up
    # BEFORE enumerating pairs; enumeration itself would be capped per
    # block).  Exactness: b*(b-1) is always even so /2 is exact integer;
    # the share is one identical double chain under floor(x*1e9).
    cust = _t(spark, sf_dir, "customer")
    blocks = cust.groupBy(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("block_size"))
    tot = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs = (F.col("block_size") * (F.col("block_size") - 1) / 2).cast(
        "bigint"
    )
    nd = F.col("n").cast("double")
    share = pairs.cast("double") * 1e9 / (nd * (nd - 1) / 2)
    return blocks.crossJoin(F.broadcast(tot)).select(
        "segment",
        "nationkey",
        "block_size",
        pairs.alias("cand_pairs"),
        F.floor(share).cast("bigint").alias("pair_share_e9"),
    )


@register(
    "q_kaplan_meier",
    """
WITH life AS (
    SELECT user_id,
           date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS lifetime_days
    FROM events GROUP BY user_id
),
d AS (
    SELECT CAST(lifetime_days AS INT) AS t, count(*) AS deaths
    FROM life GROUP BY 1
),
spine AS (
    SELECT t, CAST(deaths AS BIGINT) AS deaths,
           CAST(sum(deaths) OVER (ORDER BY t DESC) AS BIGINT) AS at_risk
    FROM d
),
surv AS (
    SELECT t, deaths, at_risk,
           CASE WHEN deaths = at_risk THEN 1 ELSE 0 END AS zero_here,
           CASE WHEN deaths < at_risk
                THEN ln(1.0 - CAST(deaths AS DOUBLE)
                            / CAST(at_risk AS DOUBLE)) END AS ln_factor
    FROM spine
)
SELECT t, deaths, at_risk,
       CASE WHEN max(zero_here) OVER (ORDER BY t) = 1
            THEN printf('%.9e', 0.0)
            ELSE printf('%.9e', exp(sum(ln_factor) OVER (ORDER BY t)))
       END AS survival
FROM surv
""",
)
def q_kaplan_meier(spark, sf_dir):
    # Kaplan-Meier survival curve over user lifetimes (days between first
    # and last event): S(t) = prod_{s<=t} (1 - d_s / n_s) with d_s deaths
    # at s and n_s at-risk.  The heavy work (per-user min/max, deaths per
    # lifetime) is two combinable groupBys; everything after runs on the
    # lifetime spine, bounded by the CALENDAR SPAN in days (the q_ewma /
    # "10-row spine" discipline — the unpartitioned windows sort <=
    # a-few-hundred rows).  at_risk is the reverse-cumulative death count
    # (every user "dies" at its own lifetime, no censoring in this
    # corpus).  The product goes through exp(sum(ln ...)) — %.9e because
    # ln/exp are transcendental; the final factor (deaths = at_risk,
    # factor 0) would be ln(0), which Spark nulls and sum would silently
    # skip, so it is EXCLUDED from the ln-sum on both engines and a
    # prefix zero-flag pins survival to an exact 0.0 from that t onward.
    ev = _t(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("lifetime_days")
    )
    d = life.groupBy(
        F.col("lifetime_days").cast("int").alias("t")
    ).agg(F.count(F.lit(1)).alias("deaths"))
    w_rev = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spine = d.select(
        "t",
        F.col("deaths").cast("bigint").alias("deaths"),
        F.sum("deaths").over(w_rev).cast("bigint").alias("at_risk"),
    )
    frac = F.col("deaths").cast("double") / F.col("at_risk").cast("double")
    surv = spine.select(
        "t",
        "deaths",
        "at_risk",
        F.when(F.col("deaths") == F.col("at_risk"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("zero_here"),
        F.when(
            F.col("deaths") < F.col("at_risk"), F.log(F.lit(1.0) - frac)
        ).alias("ln_factor"),
    )
    w_fwd = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return surv.select(
        "t",
        "deaths",
        "at_risk",
        F.when(
            F.max("zero_here").over(w_fwd) == 1,
            sci9(F.lit(0.0)),
        )
        .otherwise(
            sci9(F.exp(F.sum("ln_factor").over(w_fwd)))
        )
        .alias("survival"),
    )


@register(
    "q_negative_sampling",
    """
WITH items AS (
    SELECT event_type,
           CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
               AS idx
    FROM (SELECT DISTINCT event_type FROM events)
),
n AS (
    SELECT CAST(count(*) AS BIGINT) AS n_items FROM items
),
cand AS (
    SELECT u.user_id, CAST(t.j AS INT) AS j,
           CAST(CAST(('0x' || substring(md5('neg:' ||
                     CAST(u.user_id AS VARCHAR) || ':' ||
                     CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT)
                % (SELECT n_items FROM n) AS BIGINT) AS idx
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) t
)
SELECT c.user_id, c.j, i.event_type AS neg_item
FROM cand c
JOIN items i ON i.idx = c.idx
ANTI JOIN (SELECT DISTINCT user_id, event_type FROM events) p
    ON p.user_id = c.user_id AND p.event_type = i.event_type
""",
)
def q_negative_sampling(spark, sf_dir):
    # Deterministic random-negative sampling for contrastive training —
    # the cheap uniform complement to q_hard_negatives: k=4 candidate
    # negatives per user drawn by seeded md5 over the item vocabulary,
    # minus the user's positives (the standard "sampled negatives that
    # accidentally hit a positive are dropped" rule).  The item spine is
    # |event_type| rows (its row_number window is a bounded-spine sort);
    # the candidate frame is |users| x 4 built by exploding a 4-element
    # sequence — no shuffle until the final broadcast joins (items and
    # positives' item side are vocabulary-sized).  md5-prefix assignment
    # is the sharding family's replayable discipline; output is pure
    # strings/ints so the compare is exact.
    ev = _t(spark, sf_dir, "events")
    items = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            (
                F.row_number().over(Window.orderBy("event_type")) - 1
            ).cast("bigint").alias("idx"),
        )
    )
    n = items.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    users = ev.select("user_id").distinct()
    cand = (
        users.select(
            "user_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j")
        )
        .crossJoin(F.broadcast(n))
        .select(
            "user_id",
            F.col("j").cast("int").alias("j"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("neg:"),
                                F.col("user_id").cast("string"),
                                F.lit(":"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n_items")
            ).cast("bigint").alias("idx"),
        )
    )
    pos = ev.select("user_id", "event_type").distinct()
    return (
        cand.join(F.broadcast(items), "idx")
        .join(
            pos,
            ["user_id", "event_type"],
            "left_anti",
        )
        .select("user_id", "j", F.col("event_type").alias("neg_item"))
    )


# ---------------------------------------------------------------------------
# r8 batch 13 — volatility, differential privacy, CUPED, link prediction
# ---------------------------------------------------------------------------


@register(
    "q_log_volatility",
    """
WITH lagged AS (
    SELECT event_type, value,
           lag(value) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS prev
    FROM events
),
ret AS (
    SELECT event_type,
           CAST(ln(value / prev) AS DECIMAL(18,12)) AS r,
           CAST(ln(value / prev) * ln(value / prev) AS DECIMAL(18,12))
               AS r2
    FROM lagged WHERE value > 0 AND prev > 0
),
agg AS (
    SELECT event_type, count(*) AS n,
           CAST(sum(r) AS DOUBLE) AS sr, CAST(sum(r2) AS DOUBLE) AS sr2
    FROM ret GROUP BY event_type HAVING count(*) >= 2
)
SELECT event_type, CAST(n AS BIGINT) AS n_returns,
       printf('%.9e', sr / n) AS mean_logret,
       printf('%.9e', sqrt((sr2 - sr * sr / n) / (n - 1))) AS volatility
FROM agg
""",
)
def q_log_volatility(spark, sf_dir):
    # Realized log-return volatility per series — the financial-telemetry
    # noise gauge: r_t = ln(v_t / v_{t-1}) over the per-series time order,
    # volatility = sample stddev of r.  One exchange (the lag window and
    # the groupBy share the event_type partitioning).  Determinism is the
    # q_unigram_nll transcendental discipline: each ln-derived term is
    # decimal-pinned BEFORE the group sum so map-side partial-agg order
    # cannot drift the total; the final mean/std chain is identical
    # doubles under %.9e.  Zero/negative values are filtered on both
    # sides (ln domain), and HAVING n>=2 guards the n-1 divisor.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("prev")
    )
    r = F.log(F.col("value") / F.col("prev"))
    ret = lagged.filter((F.col("value") > 0) & (F.col("prev") > 0)).select(
        "event_type",
        r.cast("decimal(18,12)").alias("r"),
        (r * r).cast("decimal(18,12)").alias("r2"),
    )
    agg = (
        ret.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r").cast("double").alias("sr"),
            F.sum("r2").cast("double").alias("sr2"),
        )
        .filter(F.col("n") >= 2)
    )
    n = F.col("n")
    return agg.select(
        "event_type",
        n.cast("bigint").alias("n_returns"),
        sci9(F.col("sr") / n).alias("mean_logret"),
        sci9(F.sqrt(
                (F.col("sr2") - F.col("sr") * F.col("sr") / n) / (n - 1)
            )).alias("volatility"),
    )


@register(
    "q_dp_noisy_counts",
    """
WITH c AS (
    SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
),
u AS (
    SELECT event_type, cnt,
           (CAST(CAST(('0x' || substring(md5('dp:' || event_type), 1, 8))
                      AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS unif
    FROM c
)
SELECT event_type,
       printf('%.9e',
              CAST(cnt AS DOUBLE)
              + (CASE WHEN unif < 0.5 THEN 1.0 ELSE -1.0 END)
                * ln(1.0 - 2.0 * abs(unif - 0.5))) AS noisy_count
FROM u
""",
)
def q_dp_noisy_counts(spark, sf_dir):
    # Differentially-private count release (epsilon = 1, sensitivity 1):
    # Laplace(1/eps) noise via the inverse CDF applied to a SEEDED md5
    # uniform — X = -b * sgn(u - 1/2) * ln(1 - 2|u - 1/2|) — completing
    # the privacy family next to q_kanonymity / q_ldiversity with the
    # noise-release side.  The uniform is (hash32 + 0.5) / 2^32: the +0.5
    # keeps u strictly inside (0,1) so the ln argument is never 0, and
    # the value is exactly dyadic on both engines.  One combinable
    # groupBy; the noise chain is identical IEEE ops under %.9e (the md5
    # seed is the sharding family's replayable discipline — the privacy
    # accountant, not an RNG, decides the seed rotation at deployment).
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    unif = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("bigint").cast("double")
        + 0.5
    ) / 4294967296.0
    sign = F.when(unif < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = sign * F.log(F.lit(1.0) - 2.0 * F.abs(unif - F.lit(0.5)))
    return c.select(
        "event_type",
        sci9(F.col("cnt").cast("double") + noise).alias("noisy_count"),
    )


@register(
    "q_cuped_adjusted",
    """
WITH b AS (
    SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
    FROM events
),
per AS (
    SELECT user_id,
           CAST(coalesce(sum(CASE WHEN epoch_us(e.ts) <= b.mid
                 THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS x,
           CAST(coalesce(sum(CASE WHEN epoch_us(e.ts) > b.mid
                 THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS y
    FROM events e CROSS JOIN b
    GROUP BY user_id
),
stats AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy
    FROM per
),
adj AS (
    SELECT CASE WHEN CAST(CAST(('0x' || substring(md5('cuped:' ||
                       CAST(p.user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 100 AS INTEGER) < 50
                THEN 'treatment' ELSE 'control' END AS arm,
           CAST(CAST(p.y AS DECIMAL(18,2)) AS DOUBLE) AS yp,
           CAST(CAST(p.y - ((s.sxy - s.sx * s.sy / s.n)
                            / (s.sxx - s.sx * s.sx / s.n))
                           * (p.x - s.sx / s.n) AS DECIMAL(18,6))
                AS DOUBLE) AS ya
    FROM per p CROSS JOIN stats s
)
SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
       printf('%.9e', CAST(sum(CAST(yp AS DECIMAL(18,2))) AS DOUBLE)
                      / count(*)) AS mean_post,
       printf('%.9e', CAST(sum(CAST(ya AS DECIMAL(18,6))) AS DOUBLE)
                      / count(*)) AS mean_post_adj
FROM adj GROUP BY arm
""",
)
def q_cuped_adjusted(spark, sf_dir):
    # CUPED variance reduction (Deng et al. 2013) — the experiment
    # suite's estimator: split the calendar at its integer-microsecond
    # midpoint into pre-period covariate x and post-period metric y per
    # user, fit theta = cov(x,y)/var(x) on the pooled users, and report
    # per-arm means of the adjusted metric y - theta*(x - xbar) next to
    # the raw means (arm assignment = the q_srm_check md5 50/50).  Scale:
    # one user groupBy (decimal-pinned conditional sums), a 1-row pooled
    # stats frame (broadcast), a map-side adjusted projection, one tiny
    # arm rollup.  Determinism: x and y are exact decimals; their double
    # products are pinned back to decimal BEFORE the stats sums; theta /
    # xbar / y_adj are identical double chains, and y_adj is re-pinned to
    # DECIMAL(18,6) before the arm sum so partial-agg order cannot drift;
    # the two means render %.9e.
    ev = _t(spark, sf_dir, "events")
    # load_table yields TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (the
    # resample.py:279 pattern).  A session-timezone offset shifts every
    # ts_us AND the midpoint by the same constant, so the pre/post split
    # is timezone-invariant; the oracle's epoch_us reads the naive value.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.agg(
        F.expr(
            "(min(unix_micros(CAST(ts AS TIMESTAMP)))"
            " + max(unix_micros(CAST(ts AS TIMESTAMP)))) DIV 2"
        ).alias("mid")
    )
    per = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(ts_us <= F.col("mid"), dec(F.col("value")))),
                F.lit(0).cast("decimal(28,2)"),
            )
            .cast("double")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(ts_us > F.col("mid"), dec(F.col("value")))),
                F.lit(0).cast("decimal(28,2)"),
            )
            .cast("double")
            .alias("y"),
        )
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxy"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % 100
    theta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    xbar = F.col("sx") / F.col("n")
    adj = per.crossJoin(F.broadcast(stats)).select(
        F.when(bucket < 50, F.lit("treatment"))
        .otherwise(F.lit("control"))
        .alias("arm"),
        dec(F.col("y")).cast("double").alias("yp"),
        (F.col("y") - theta * (F.col("x") - xbar))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("ya"),
    )
    return adj.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        sci9(F.sum(dec(F.col("yp"))).cast("double") / F.count(F.lit(1))).alias("mean_post"),
        sci9(F.sum(F.col("ya").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))).alias("mean_post_adj"),
    )


# Hard bound on suppliers-per-part in q_link_prediction's pair generator:
# pairs per part <= C(CAP, 2) = 2,016 regardless of hub density. TPC-H
# parts carry single-digit supplier lists so the cap never triggers on
# this schema (the oracle compare proves exactness below the bound); a
# hot hub at 100x demotes to the CAP lowest supplier ids — deterministic
# on both engines — and its common-neighbor counts become lower bounds.
LINKPRED_PART_CAP = 64


def _link_prediction_core(ps, cap: int = None):
    """Jaccard link scores from a (p, s) bipartite-edge frame — the
    q_link_prediction kernel, factored so the dense-hub cap is testable on
    synthetic frames. Degrees are TRUE degrees (uncapped); only the pair
    generator is capped, so above-bound scores degrade to lower bounds
    rather than rescaling the denominator."""
    if cap is None:
        cap = LINKPRED_PART_CAP
    deg = ps.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    w = Window.partitionBy("p").orderBy("s")
    ps_cap = (
        ps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    a = ps_cap.alias("a")
    b = ps_cap.alias("b")
    cn = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(
            F.col("a.s").alias("supp_a"), F.col("b.s").alias("supp_b")
        )
        .agg(F.count(F.lit(1)).alias("common_parts"))
        .filter(F.col("common_parts") >= 2)
    )
    da = F.broadcast(deg.select(F.col("s").alias("supp_a"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("s").alias("supp_b"), F.col("d").alias("db")))
    jac = (
        F.col("common_parts").cast("double")
        * 1e9
        / (F.col("da") + F.col("db") - F.col("common_parts"))
    )
    return (
        cn.join(da, "supp_a")
        .join(db, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            F.col("common_parts").cast("bigint").alias("common_parts"),
            F.floor(jac).cast("bigint").alias("jaccard_e9"),
        )
    )


@register(
    "q_link_prediction",
    """
WITH ps AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
deg AS (
    SELECT s, count(*) AS d FROM ps GROUP BY s
),
ps_cap AS (
    SELECT p, s FROM (
        SELECT p, s, row_number() OVER (PARTITION BY p ORDER BY s) AS rn
        FROM ps
    ) WHERE rn <= 64
),
cn AS (
    SELECT a.s AS supp_a, b.s AS supp_b, count(*) AS common_parts
    FROM ps_cap a JOIN ps_cap b ON a.p = b.p AND a.s < b.s
    GROUP BY 1, 2
)
SELECT cn.supp_a, cn.supp_b,
       CAST(cn.common_parts AS BIGINT) AS common_parts,
       CAST(floor(CAST(cn.common_parts AS DOUBLE) * 1e9
                  / (da.d + db.d - cn.common_parts)) AS BIGINT)
           AS jaccard_e9
FROM cn
JOIN deg da ON da.s = cn.supp_a
JOIN deg db ON db.s = cn.supp_b
WHERE cn.common_parts >= 2
""",
)
def q_link_prediction(spark, sf_dir):
    # Neighborhood-Jaccard link prediction over the supplier projection of
    # the part-supplier bipartite graph: score supplier pairs by
    # |parts_a INTERSECT parts_b| / |parts_a UNION parts_b| — the classic
    # common-neighbors feature for "who should be connected".  The pair
    # space is generated by the part-keyed self-join; per-part fan-out is
    # hard-capped at LINKPRED_PART_CAP neighbors (r11 VERDICT #4: the
    # q_item_item_cosine discipline, now implemented — row_number by
    # supplier id, identical on both engines, true degrees kept uncapped).
    # deg is a tiny per-supplier frame joined twice broadcast.  Counts
    # exact below the cap; the Jaccard is one identical double chain under
    # floor(x*1e9).
    li = _t(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    return _link_prediction_core(ps)


@register(
    "q_funnel_latency",
    """
WITH v AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
d12 AS (
    SELECT c.user_id, epoch_us(c.t2) - epoch_us(v.t1) AS dus
    FROM c JOIN v USING (user_id)
),
d23 AS (
    SELECT p.user_id, epoch_us(p.t3) - epoch_us(c.t2) AS dus
    FROM p JOIN c USING (user_id)
)
SELECT * FROM (
    SELECT 'view->click' AS edge, CAST(count(*) AS BIGINT) AS n_users,
           median(CAST(dus AS DOUBLE)) AS median_delta_us,
           CAST(sum(dus) AS DOUBLE) / count(*) AS mean_delta_us
    FROM d12
    UNION ALL
    SELECT 'click->purchase', CAST(count(*) AS BIGINT),
           median(CAST(dus AS DOUBLE)),
           CAST(sum(dus) AS DOUBLE) / count(*)
    FROM d23
)
""",
)
def q_funnel_latency(spark, sf_dir):
    # Step-latency profile for the q_funnel chain: per converting user,
    # the strictly-sequenced delta between consecutive funnel steps, in
    # exact integer microseconds; per edge, the median and mean delta —
    # the numbers that size funnel-abandonment timeouts.  Same scale
    # shape as q_funnel (combinable min-groupBys per pushed-down type
    # slice, per-user joins AQE-broadcast when they fit).  Determinism:
    # deltas are exact integer µs; median interpolates the two middle
    # order statistics as (a+b)/2 on BOTH engines over exactly-
    # representable doubles (the q_robust_stats precedent), and the mean
    # is an exact bigint sum divided once — identical double chains, so
    # raw doubles hash-match.
    ev = _t(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    d12 = c.join(v, "user_id").select(
        (us("t2") - us("t1")).alias("dus")
    )
    d23 = p.join(c, "user_id").select(
        (us("t3") - us("t2")).alias("dus")
    )

    def edge(df, name):
        return df.agg(
            F.lit(name).alias("edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.median(F.col("dus").cast("double")).alias("median_delta_us"),
            (F.sum("dus").cast("double") / F.count(F.lit(1))).alias(
                "mean_delta_us"
            ),
        ).select("edge", "n_users", "median_delta_us", "mean_delta_us")

    return edge(d12, "view->click").unionAll(edge(d23, "click->purchase"))


@register(
    "q_power_analysis",
    """
WITH per AS (
    SELECT user_id,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS m
    FROM events GROUP BY user_id
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(m AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(m * m AS DECIMAL(28,4))) AS DOUBLE) AS sxx
    FROM per
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(n // 2 AS BIGINT) AS n_per_arm,
       (sxx - sx * sx / n) / (n - 1) AS var_metric,
       2.801585219 * sqrt(2.0 * ((sxx - sx * sx / n) / (n - 1))
                          / (n // 2)) AS mde_abs
FROM s WHERE n >= 2
""",
)
def q_power_analysis(spark, sf_dir):
    # A/B pre-registration power analysis: the minimum detectable effect
    # at alpha=0.05 (two-sided) and 80% power for a 50/50 split of the
    # observed population on the per-user metric — MDE = (z_{0.975} +
    # z_{0.8}) * sqrt(2 sigma^2 / n_arm), the sizing number every
    # experiment review asks for before launch (completes the suite:
    # q_srm_check validates the split, q_abtest_lift/q_cuped_adjusted
    # read it, this sizes it).  The z-sum 2.801585219 is a shared literal
    # on both engines.  One combinable user rollup + a 1-row stats frame.
    # Determinism: decimal-pinned sums whose unscaled values stay far
    # below 2^53 at any plausible per-user metric, so the decimal->double
    # casts are exact and var/MDE are identical double chains (sqrt is
    # IEEE-correctly-rounded) — raw doubles hash-match, the q_srm_check
    # precedent.
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(dec(F.col("value"))).cast("double").alias("m")
    )
    s = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("m"))).cast("double").alias("sx"),
        F.sum((F.col("m") * F.col("m")).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxx"),
    ).filter(F.col("n") >= 2)
    n = F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    n_arm = F.expr("n DIV 2")
    return s.select(
        n.cast("bigint").alias("n_users"),
        n_arm.cast("bigint").alias("n_per_arm"),
        var.alias("var_metric"),
        (F.lit(2.801585219) * F.sqrt(F.lit(2.0) * var / n_arm)).alias(
            "mde_abs"
        ),
    )


@register(
    "q_slo_burn_rate",
    """
WITH mx AS (
    SELECT max(epoch_us(ts)) AS anchor FROM events
),
w AS (
    SELECT CASE WHEN epoch_us(e.ts) > mx.anchor - 3600000000
                THEN '1h' ELSE '6h' END AS in_1h,
           e.event_type
    FROM events e CROSS JOIN mx
    WHERE epoch_us(e.ts) > mx.anchor - 21600000000
),
r AS (
    SELECT 'last_1h' AS win,
           CAST(count(*) FILTER (in_1h = '1h') AS BIGINT) AS total,
           CAST(count(*) FILTER (in_1h = '1h' AND event_type = 'error')
                AS BIGINT) AS errors,
           14.4 AS page_factor
    FROM w
    UNION ALL
    SELECT 'last_6h', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT), 6.0
    FROM w
)
SELECT win, total, errors,
       CAST(floor(CAST(errors AS DOUBLE) * 1e9
                  / (CAST(total AS DOUBLE) * 0.01)) AS BIGINT)
           AS burn_e9,
       CAST(errors AS DOUBLE) / total > 0.01 * page_factor AS page
FROM r
""",
)
def q_slo_burn_rate(spark, sf_dir):
    # Multi-window SLO error-budget burn rate (the Google SRE paging
    # rule): against a 99% success SLO, burn = error_rate / 0.01 over the
    # trailing 1h and 6h windows anchored at the stream's latest event;
    # page when the 1h window burns > 14.4x AND the 6h window > 6x (each
    # row carries its own factor; the AND is the consumer's join).  One
    # 1-row anchor broadcast, ONE scan of the 6h slice with the 1h flag
    # computed inline (no second pass), two combinable filtered
    # aggregates.  Integer counts; the burn is floor(x*1e9) on an
    # identical double chain and the page test compares identical
    # doubles — tie-free.
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mx = ev.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("anchor")
    )
    w = (
        ev.crossJoin(F.broadcast(mx))
        .filter(us > F.col("anchor") - F.lit(21600000000))
        .select(
            F.when(
                us > F.col("anchor") - F.lit(3600000000), F.lit("1h")
            )
            .otherwise(F.lit("6h"))
            .alias("in_1h"),
            "event_type",
        )
    )
    one_h = F.col("in_1h") == "1h"
    err = F.col("event_type") == "error"
    r = w.agg(
        F.lit("last_1h").alias("win"),
        F.count_if(one_h).cast("bigint").alias("total"),
        F.count_if(one_h & err).cast("bigint").alias("errors"),
        F.lit(14.4).alias("page_factor"),
    ).unionAll(
        w.agg(
            F.lit("last_6h").alias("win"),
            F.count(F.lit(1)).cast("bigint").alias("total"),
            F.count_if(err).cast("bigint").alias("errors"),
            F.lit(6.0).alias("page_factor"),
        )
    )
    burn = (
        F.col("errors").cast("double")
        * 1e9
        / (F.col("total").cast("double") * 0.01)
    )
    return r.select(
        "win",
        "total",
        "errors",
        F.floor(burn).cast("bigint").alias("burn_e9"),
        (
            F.col("errors").cast("double") / F.col("total")
            > 0.01 * F.col("page_factor")
        ).alias("page"),
    )


@register(
    "q_cohort_revenue_ltv",
    """
WITH first_w AS (
    SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
),
rev AS (
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
                          CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT)
               AS week_k,
           sum(CAST(e.value AS DECIMAL(18,2))) AS wk_rev
    FROM events e JOIN first_w f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
    GROUP BY 1, 2
),
size_ AS (
    SELECT cohort_week, count(*) AS cohort_users FROM first_w
    GROUP BY cohort_week
)
SELECT r.cohort_week, r.week_k,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       CAST(sum(r.wk_rev) OVER (PARTITION BY r.cohort_week
                                ORDER BY r.week_k) AS DOUBLE)
           AS cum_revenue,
       CAST(CAST(sum(r.wk_rev) OVER (PARTITION BY r.cohort_week
                                     ORDER BY r.week_k)
                 / s.cohort_users AS DECIMAL(18,6)) AS DOUBLE)
           AS ltv_per_user
FROM rev r JOIN size_ s USING (cohort_week)
""",
)
def q_cohort_revenue_ltv(spark, sf_dir):
    # Cohort LTV curve — the revenue companion to q_cohort_retention:
    # per signup-cohort week, CUMULATIVE purchase revenue by cohort age,
    # divided by the cohort's size (lifetime value per acquired user at
    # age k — the curve growth teams hold against CAC).  Scale shape:
    # the purchase slice is pushed down, weekly revenue collapses to the
    # |cohorts| x |ages| triangle BEFORE the cumulative window (the
    # window sorts the tiny triangle per cohort, never raw events);
    # cohort sizes join broadcast-eligible.  Determinism: revenue is
    # DECIMAL-pinned end-to-end — the cumulative window sums exact
    # decimals, and the per-user division is pinned back to
    # DECIMAL(18,6) before the final double cast, so both engines round
    # the one inexact step identically.
    ev = _t(spark, sf_dir, "events")
    first_w = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    rev = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(first_w, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_k"),
        )
        .agg(F.sum(dec(F.col("value"))).alias("wk_rev"))
    )
    size = first_w.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    wc = (
        Window.partitionBy("cohort_week")
        .orderBy("week_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("wk_rev").over(wc)
    return rev.join(size, "cohort_week").select(
        "cohort_week",
        "week_k",
        F.col("cohort_users").cast("bigint").alias("cohort_users"),
        cum.cast("double").alias("cum_revenue"),
        (cum / F.col("cohort_users"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("ltv_per_user"),
    )


@register(
    "q_active_hours_entropy",
    """
WITH h AS (
    SELECT user_id, CAST(extract(hour FROM ts) AS INT) AS hh,
           count(*) AS c
    FROM events GROUP BY 1, 2
),
tot AS (
    SELECT user_id, sum(c) AS n, count(*) AS n_hours FROM h
    GROUP BY user_id
),
terms AS (
    SELECT h.user_id,
           CAST((CAST(h.c AS DOUBLE) / t.n)
                * ln(CAST(h.c AS DOUBLE) / t.n) AS DECIMAL(18,12)) AS plnp
    FROM h JOIN tot t USING (user_id)
)
SELECT t.user_id, CAST(t.n AS BIGINT) AS n_events,
       CAST(t.n_hours AS BIGINT) AS distinct_hours,
       printf('%.9e', -CAST(sum(terms.plnp) AS DOUBLE)) AS hour_entropy
FROM terms JOIN tot t USING (user_id)
GROUP BY t.user_id, t.n, t.n_hours
""",
)
def q_active_hours_entropy(spark, sf_dir):
    # Shannon entropy of each user's hour-of-day activity histogram — the
    # circadian bot signal next to q_bot_regularity: humans concentrate
    # in waking hours (mid entropy), cron-like automation pins one hour
    # (near-zero), and randomized bots flatten toward ln(24).  Scale
    # shape: one (user, hour) rollup (24-bounded per user), per-user
    # totals joined back user-keyed, one final combinable groupBy.
    # Determinism: each p*ln(p) term is decimal-pinned BEFORE the sum
    # (the q_mutual_info discipline) and the entropy renders %.9e per the
    # transcendental rule.
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        "user_id", F.hour("ts").cast("int").alias("hh")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = h.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_hours")
    )
    p = F.col("c").cast("double") / F.col("n")
    terms = h.join(tot, "user_id").select(
        "user_id", (p * F.log(p)).cast("decimal(18,12)").alias("plnp")
    )
    return (
        terms.join(tot, "user_id")
        .groupBy("user_id", "n", "n_hours")
        .agg(
            sci9(-F.sum("plnp").cast("double")).alias("hour_entropy")
        )
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("n_hours").cast("bigint").alias("distinct_hours"),
            "hour_entropy",
        )
    )


@register(
    "q_shapley_attribution",
    """
WITH conv AS (
    SELECT user_id, min(ts) AS t_conv
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touch AS (
    SELECT DISTINCT e.user_id, e.event_type AS channel
    FROM events e JOIN conv c ON e.user_id = c.user_id
    WHERE e.ts < c.t_conv AND e.event_type <> 'purchase'
),
k AS (
    SELECT user_id, count(*) AS set_size FROM touch GROUP BY user_id
)
SELECT t.channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(1000000000 // k.set_size) AS BIGINT) AS shapley_credit_e9
FROM touch t JOIN k USING (user_id)
GROUP BY t.channel
""",
)
def q_shapley_attribution(spark, sf_dir):
    # Shapley-value conversion attribution over each converting user's
    # pre-conversion channel SET: with a unit characteristic function
    # (v(S)=1 for any non-empty touched subset), the Shapley value
    # degenerates to the exact equal split 1/|S| per touched channel —
    # the order-free credit between q_touch_attribution's first/last
    # extremes.  Scale shape: conversion anchors are one min-groupBy, the
    # touch table collapses to DISTINCT (user, channel) before any
    # arithmetic (bounded by |channels| per user), set sizes join back
    # user-keyed.  Credit sums 1e9 DIV |S| — exact integer division on
    # both engines (truncation verified by the q_wow_change finding), so
    # the whole result is integer-exact.
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    touch = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("t_conv"))
            & (F.col("event_type") != "purchase")
        )
        .select("user_id", F.col("event_type").alias("channel"))
        .distinct()
    )
    k = touch.groupBy("user_id").agg(F.count(F.lit(1)).alias("set_size"))
    return (
        touch.join(k, "user_id")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            F.sum(F.expr("1000000000 DIV set_size"))
            .cast("bigint")
            .alias("shapley_credit_e9"),
        )
    )


def _acf_sql() -> str:
    lag_pairs = "\n    UNION ALL\n".join(
        f"    SELECT event_type, CAST({L} AS INT) AS lag_k, y,"
        f" lag(value, {L}) OVER (PARTITION BY event_type"
        f" ORDER BY ts, event_id) AS x"
        f" FROM (SELECT event_type, ts, event_id, value, value AS y"
        f" FROM events)"
        for L in range(1, 7)
    )
    return f"""
WITH pairs AS (
{lag_pairs}
),
comp AS (
    SELECT event_type, lag_k,
           CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy,
           CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM pairs WHERE x IS NOT NULL AND y IS NOT NULL
    GROUP BY event_type, lag_k HAVING count(*) >= 2
)
SELECT event_type, lag_k,
       CAST(nd AS BIGINT) AS n_pairs,
       printf('%.9e',
              (sxy - sx * sy / nd)
              / sqrt((sxx - sx * sx / nd) * (syy - sy * sy / nd))) AS acf
FROM comp
"""


@register("q_acf_profile", _acf_sql())
def q_acf_profile(spark, sf_dir):
    # Autocorrelation profile at lags 1..6 per series — the seasonality /
    # memory fingerprint that extends q_value_autocorr's single lag-1
    # point into the ACF curve a forecaster actually reads.  Spark builds
    # ALL six lagged pairs from ONE window pass (six F.lag calls over the
    # same spec share a single sort+exchange), stacks them with one
    # in-memory explode (6x fan-out of an already-scanned projection, no
    # re-scan), and runs one combinable groupBy; the oracle's 6-way UNION
    # ALL is the semantic twin, and the hash match cross-validates the
    # stacking.  Determinism: the q_value_autocorr discipline — decimal-
    # pinned product sums, one double corr chain, %.9e.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # window exprs must be materialized BEFORE the generator (Spark
    # rejects window functions inside explode's argument) — the six lag
    # columns still share one Window sort+exchange
    lagged = ev.select(
        "event_type",
        F.col("value").alias("y"),
        *[F.lag("value", L).over(w).alias(f"x{L}") for L in range(1, 7)],
    )
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(L).cast("int").alias("lag_k"),
                F.col(f"x{L}").alias("x"),
            )
            for L in range(1, 7)
        ]
    )
    pairs = (
        lagged.select(
            "event_type", "y", F.explode(lag_structs).alias("lx")
        )
        .select(
            "event_type",
            F.col("lx.lag_k").alias("lag_k"),
            F.col("lx.x").alias("x"),
            "y",
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    comp = (
        pairs.groupBy("event_type", "lag_k")
        .agg(
            F.count(F.lit(1)).cast("double").alias("nd"),
            F.sum(dec(F.col("x"))).cast("double").alias("sx"),
            F.sum(dec(F.col("y"))).cast("double").alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,4)"))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(28,4)"))
            .cast("double")
            .alias("syy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(28,4)"))
            .cast("double")
            .alias("sxy"),
        )
        .filter(F.col("nd") >= 2)
    )
    nd = F.col("nd")
    acf = (F.col("sxy") - F.col("sx") * F.col("sy") / nd) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / nd)
        * (F.col("syy") - F.col("sy") * F.col("sy") / nd)
    )
    return comp.select(
        "event_type",
        "lag_k",
        nd.cast("bigint").alias("n_pairs"),
        sci9(acf).alias("acf"),
    )


@register(
    "q_fs_field_weights",
    """
WITH fields AS (
    SELECT 'mktsegment' AS field, c_mktsegment AS v FROM customer
    UNION ALL
    SELECT 'nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
    UNION ALL
    SELECT 'name', c_name FROM customer
),
vc AS (
    SELECT field, v, count(*) AS c FROM fields GROUP BY field, v
),
u AS (
    SELECT field,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(c * c) AS DOUBLE)
               / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS u_prob
    FROM vc GROUP BY field
)
SELECT field, n_values, u_prob,
       printf('%.9e', ln(0.95 / u_prob)) AS w_agree,
       printf('%.9e', ln(0.05 / (1.0 - u_prob))) AS w_disagree
FROM u
""",
)
def q_fs_field_weights(spark, sf_dir):
    # Fellegi-Sunter record-linkage field weights — the scoring table an
    # ER pipeline derives BEFORE pairwise matching (the companion to
    # q_entity_blocking's candidate audit): per comparison field, the
    # u-probability (chance agreement between two RANDOM records =
    # sum(n_v^2)/n^2, the Simpson collision index over the field's value
    # distribution) and the log agreement/disagreement weights under an
    # assumed m = 0.95 true-match agreement rate.  The unique name field
    # lands u = 1/n (maximally discriminating); segment/nation show how
    # low-cardinality fields earn weak weights.  ONE scan: the three
    # fields stack through a generator into one (field, value) rollup,
    # then a |fields|-row fold.  sum(c^2) and n are exact integers far
    # below 2^53, so u_prob is one identical double chain (raw double
    # output); the weights are ln-bearing, rendered %.9e.
    cust = _t(spark, sf_dir, "customer")
    fields = cust.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("mktsegment").alias("field"),
                    F.col("c_mktsegment").alias("v"),
                ),
                F.struct(
                    F.lit("nationkey").alias("field"),
                    F.col("c_nationkey").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("name").alias("field"),
                    F.col("c_name").alias("v"),
                ),
            )
        ).alias("fv")
    ).select(F.col("fv.field").alias("field"), F.col("fv.v").alias("v"))
    vc = fields.groupBy("field", "v").agg(F.count(F.lit(1)).alias("c"))
    nd = F.sum("c").cast("double")
    u = vc.groupBy("field").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        (F.sum(F.col("c") * F.col("c")).cast("double") / (nd * nd)).alias(
            "u_prob"
        ),
    )
    return u.select(
        "field",
        "n_values",
        "u_prob",
        sci9(F.log(F.lit(0.95) / F.col("u_prob"))).alias(
            "w_agree"
        ),
        sci9(F.log(F.lit(0.05) / (F.lit(1.0) - F.col("u_prob")))).alias("w_disagree"),
    )


@register(
    "q_round_number_bias",
    """
WITH v AS (
    SELECT event_type,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE value IS NOT NULL AND value >= 0
      AND value * 100 = floor(value * 100)
),
agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (cents % 100 = 0) AS BIGINT) AS whole,
           CAST(count(*) FILTER (cents % 50 = 0) AS BIGINT) AS half
    FROM v GROUP BY event_type
)
SELECT event_type, n, whole, half,
       whole * 1000000000 // n AS whole_ppb,
       half * 1000000000 // n AS half_ppb,
       whole * 100 > n AS round_bias
FROM agg
""",
)
def q_round_number_bias(spark, sf_dir):
    # Round-number bias audit — the classic fabricated-data / price-point
    # signal next to q_benford: among exactly-representable cent values,
    # the share landing on whole units and half units, vs the 1% a
    # uniform cent distribution would give (round_bias flags > 1%).  The
    # cents guard (value == its own cent truncation) keeps the test on
    # values that ARE money-like; everything is integer-exact — counts,
    # integer-DIV parts-per-billion, and an integer cross-multiplied
    # bias test (whole*100 > n), so there is no float anywhere.
    ev = _t(spark, sf_dir, "events")
    # floor on BOTH engines: a bare double->BIGINT cast truncates in
    # Spark but rounds in DuckDB (measured on this query) — floor is the
    # identical-op form, and the integrality guard compares the same
    # doubles
    cents = F.floor(F.col("value") * 100).cast("bigint")
    v = ev.filter(
        F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & (F.col("value") * 100 == F.floor(F.col("value") * 100))
    ).select("event_type", cents.alias("cents"))
    agg = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("cents") % 100 == 0).cast("bigint").alias("whole"),
        F.count_if(F.col("cents") % 50 == 0).cast("bigint").alias("half"),
    )
    return agg.select(
        "event_type",
        "n",
        "whole",
        "half",
        F.expr("whole * 1000000000 DIV n").alias("whole_ppb"),
        F.expr("half * 1000000000 DIV n").alias("half_ppb"),
        (F.col("whole") * 100 > F.col("n")).alias("round_bias"),
    )


@register(
    "q_mann_kendall",
    """
WITH w64 AS (
    SELECT event_type, value,
           CAST(65 - row_number() OVER (
               PARTITION BY event_type
               ORDER BY ts DESC, event_id DESC) AS INT) AS i
    FROM events QUALIFY i >= 1
),
ok AS (
    SELECT event_type FROM w64 GROUP BY event_type HAVING count(*) = 64
),
s AS (
    SELECT a.event_type,
           CAST(sum(CASE WHEN b.value > a.value THEN 1
                         WHEN b.value < a.value THEN -1
                         ELSE 0 END) AS BIGINT) AS s_stat
    FROM w64 a
    JOIN w64 b ON a.event_type = b.event_type AND b.i > a.i
    JOIN ok ON ok.event_type = a.event_type
    GROUP BY a.event_type
),
ties AS (
    SELECT event_type,
           CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
    FROM (
        SELECT w64.event_type AS event_type, count(*) AS t
        FROM w64 JOIN ok ON ok.event_type = w64.event_type
        GROUP BY w64.event_type, w64.value
    )
    GROUP BY event_type
)
SELECT s.event_type, s.s_stat,
       CAST(64 * 63 * 133 - ties.tie18 AS BIGINT) AS var18,
       printf('%.9e',
              CASE WHEN s.s_stat > 0
                   THEN (CAST(s.s_stat AS DOUBLE) - 1.0)
                        / sqrt((64.0 * 63.0 * 133.0 - ties.tie18) / 18.0)
                   WHEN s.s_stat < 0
                   THEN (CAST(s.s_stat AS DOUBLE) + 1.0)
                        / sqrt((64.0 * 63.0 * 133.0 - ties.tie18) / 18.0)
                   ELSE 0.0 END) AS z_score
FROM s JOIN ties USING (event_type)
""",
)
def q_mann_kendall(spark, sf_dir):
    # Mann-Kendall trend test over each series' LATEST-64 window — the
    # nonparametric significance companion to q_theilsen_slope (Theil-Sen
    # says HOW steep, MK says WHETHER the monotone trend is real):
    # S = sum over i<j of sgn(x_j - x_i), continuity-corrected
    # z = (S -/+ 1)/sqrt(Var), Var = [n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18
    # with the exact tie correction.  The pair join is capped at
    # 64*63/2 = 2016 pairs per series (the latest-64 discipline — never
    # unbounded), and tie groups come from one (series, value) rollup.
    # Determinism: S, the 18-scaled variance, and tie terms are exact
    # integers; z is one identical double chain (sqrt only) under %.9e.
    # Chronological index i = 65 - rk keeps sgn orientation correct off
    # the newest-first ranking window.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w64 = (
        ev.select(
            "event_type",
            "value",
            (65 - F.row_number().over(w)).cast("int").alias("i"),
        )
        .filter(F.col("i") >= 1)
    )
    ok = (
        w64.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == 64)
        .select("event_type")
    )
    w64 = w64.join(F.broadcast(ok), "event_type")
    a = w64.alias("a")
    b = w64.alias("b")
    sgn = (
        F.when(F.col("b.value") > F.col("a.value"), F.lit(1))
        .when(F.col("b.value") < F.col("a.value"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.i") > F.col("a.i")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(sgn).cast("bigint").alias("s_stat"))
    )
    t = F.col("t")
    ties = (
        w64.groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint").alias("tie18")
        )
    )
    var18 = F.lit(64 * 63 * 133) - F.col("tie18")
    sd = F.sqrt(var18.cast("double") / 18.0)
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - 1.0) / sd,
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + 1.0) / sd,
        )
        .otherwise(F.lit(0.0))
    )
    return s.join(ties, "event_type").select(
        "event_type",
        "s_stat",
        var18.cast("bigint").alias("var18"),
        sci9(z).alias("z_score"),
    )


@register(
    "q_unordered_funnel",
    """
WITH per AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1
               AS has_view,
           max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1
               AS has_click,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS has_purchase
    FROM events GROUP BY user_id
)
SELECT has_view, has_click, has_purchase,
       CAST(count(*) AS BIGINT) AS n_users
FROM per GROUP BY has_view, has_click, has_purchase
""",
)
def q_unordered_funnel(spark, sf_dir):
    # The full 8-cell membership cube behind the funnel: which step
    # COMBINATIONS users actually hit, order-free — the diagnostic read
    # NEXT TO q_funnel's strict sequencing (users in the
    # (view=F, click=T, purchase=T) cell are exactly the ones a strict
    # funnel undercounts; q_session_pattern's CEP covers the ordered
    # in-session form).  Two combinable groupBys, all-boolean/integer
    # output — nothing to render.
    ev = _t(spark, sf_dir, "events")

    def has(t):
        return (
            F.max(F.when(F.col("event_type") == t, 1).otherwise(0)) == 1
        ).alias(f"has_{t}")

    per = ev.groupBy("user_id").agg(
        has("view"), has("click"), has("purchase")
    )
    return per.groupBy("has_view", "has_click", "has_purchase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


def _lb_sql() -> str:
    lag_pairs = "\n    UNION ALL\n".join(
        f"    SELECT event_type, CAST({L} AS INT) AS lag_k, value AS y,"
        f" lag(value, {L}) OVER (PARTITION BY event_type"
        f" ORDER BY ts, event_id) AS x"
        f" FROM events WHERE value IS NOT NULL"
        for L in range(1, 7)
    )
    return f"""
WITH base AS (
    SELECT event_type, count(*) AS n FROM events
    WHERE value IS NOT NULL GROUP BY event_type
),
pairs AS (
{lag_pairs}
),
comp AS (
    SELECT event_type, lag_k,
           CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy,
           CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM pairs WHERE x IS NOT NULL
    GROUP BY event_type, lag_k HAVING count(*) >= 2
),
r AS (
    SELECT c.event_type, c.lag_k, b.n,
           (c.sxy - c.sx * c.sy / c.nd)
           / sqrt((c.sxx - c.sx * c.sx / c.nd)
                  * (c.syy - c.sy * c.sy / c.nd)) AS rk
    FROM comp c JOIN base b USING (event_type)
),
q AS (
    SELECT event_type, CAST(any_value(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_lags,
           CAST(any_value(n) AS DOUBLE) * (any_value(n) + 2.0)
           * CAST(sum(CAST(rk * rk / (n - lag_k) AS DECIMAL(18,12)))
                  AS DOUBLE) AS q_stat
    FROM r GROUP BY event_type HAVING count(*) = 6
)
SELECT event_type, n, n_lags,
       printf('%.9e', q_stat) AS lb_q,
       q_stat < 12.591587243743977 AS white_noise
FROM q
"""


@register("q_ljung_box", _lb_sql())
def q_ljung_box(spark, sf_dir):
    # Ljung-Box whiteness test on lags 1..6 per series — the decision
    # layer over q_acf_profile's curve: Q = n(n+2) * sum_k r_k^2/(n-k),
    # compared to the chi-square(6) 5% critical value; "is this series
    # just noise" is the question every forecasting/monitoring pipeline
    # asks before fitting anything.  Same one-Window six-lag stacking as
    # q_acf_profile (one sort+exchange, generator fan-out); each
    # r_k^2/(n-k) term is decimal-pinned BEFORE the 6-term sum (partial
    # aggregation order cannot drift it), Q renders %.9e, and the
    # white_noise verdict compares the identical pinned-sum double to a
    # shared literal.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        F.col("value").alias("y"),
        *[F.lag("value", L).over(w).alias(f"x{L}") for L in range(1, 7)],
    )
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(L).cast("int").alias("lag_k"),
                F.col(f"x{L}").alias("x"),
            )
            for L in range(1, 7)
        ]
    )
    pairs = (
        lagged.select("event_type", "y", F.explode(lag_structs).alias("lx"))
        .select(
            "event_type",
            F.col("lx.lag_k").alias("lag_k"),
            F.col("lx.x").alias("x"),
            "y",
        )
        .filter(F.col("x").isNotNull())
    )
    comp = (
        pairs.groupBy("event_type", "lag_k")
        .agg(
            F.count(F.lit(1)).cast("double").alias("nd"),
            F.sum(dec(F.col("x"))).cast("double").alias("sx"),
            F.sum(dec(F.col("y"))).cast("double").alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,4)"))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(28,4)"))
            .cast("double")
            .alias("syy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(28,4)"))
            .cast("double")
            .alias("sxy"),
        )
        .filter(F.col("nd") >= 2)
    )
    nd = F.col("nd")
    rk = (F.col("sxy") - F.col("sx") * F.col("sy") / nd) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / nd)
        * (F.col("syy") - F.col("sy") * F.col("sy") / nd)
    )
    r = comp.join(F.broadcast(base), "event_type").select(
        "event_type", "lag_k", "n", rk.alias("rk")
    )
    q = (
        r.groupBy("event_type")
        .agg(
            F.any_value("n").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_lags"),
            (
                F.any_value("n").cast("double")
                * (F.any_value("n") + F.lit(2.0))
                * F.sum(
                    (
                        F.col("rk") * F.col("rk")
                        / (F.col("n") - F.col("lag_k"))
                    ).cast("decimal(18,12)")
                ).cast("double")
            ).alias("q_stat"),
        )
        .filter(F.col("n_lags") == 6)
    )
    return q.select(
        "event_type",
        "n",
        "n_lags",
        sci9(F.col("q_stat")).alias("lb_q"),
        (F.col("q_stat") < F.lit(12.591587243743977)).alias("white_noise"),
    )


@register(
    "q_survival_summary",
    """
WITH life AS (
    SELECT user_id,
           date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS lifetime_days
    FROM events GROUP BY user_id
),
d AS (
    SELECT CAST(lifetime_days AS INT) AS t, count(*) AS deaths
    FROM life GROUP BY 1
),
spine AS (
    SELECT t, deaths,
           CAST(sum(deaths) OVER (ORDER BY t DESC) AS BIGINT) AS at_risk,
           CAST(sum(deaths) OVER () AS BIGINT) AS n_total
    FROM d
)
SELECT
    CAST(any_value(n_total) AS BIGINT) AS n_users,
    CAST(min(CASE WHEN 2 * (at_risk - deaths) <= n_total THEN t END)
         AS INT) AS median_lifetime_days,
    CAST(min(CASE WHEN 10 * (at_risk - deaths) <= n_total THEN t END)
         AS INT) AS p90_lifetime_days,
    CAST(CAST(sum(CAST(t AS DECIMAL(18,2)) * deaths) / any_value(n_total)
              AS DECIMAL(18,6)) AS DOUBLE) AS mean_lifetime_days
FROM spine
""",
)
def q_survival_summary(spark, sf_dir):
    # Survival functionals over user lifetimes — the read-out layer on
    # q_kaplan_meier's curve: median and p90 lifetime and the mean (=
    # restricted mean survival time at full follow-up).  KEY exactness
    # move: with complete observation (every user "dies" at its last
    # event) the KM product TELESCOPES to the empirical survivor
    # function S(t) = remaining/n_total, so the quantile crossings are
    # pure INTEGER comparisons (2*(at_risk - deaths) <= n) — no
    # transcendental ever enters a comparison (the q_kaplan_meier %.9e
    # rendering is for the curve; decisions happen here on integers).
    # Spine windows run on the calendar-bounded lifetime table; the mean
    # is one decimal-pinned sum with the division pinned to
    # DECIMAL(18,6) before the double cast.
    ev = _t(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("lifetime_days")
    )
    d = life.groupBy(
        F.col("lifetime_days").cast("int").alias("t")
    ).agg(F.count(F.lit(1)).alias("deaths"))
    w_rev = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    spine = d.select(
        "t",
        "deaths",
        F.sum("deaths").over(w_rev).cast("bigint").alias("at_risk"),
        F.sum("deaths").over(w_all).cast("bigint").alias("n_total"),
    )
    remaining = F.col("at_risk") - F.col("deaths")
    return spine.agg(
        F.any_value("n_total").cast("bigint").alias("n_users"),
        F.min(
            F.when(2 * remaining <= F.col("n_total"), F.col("t"))
        )
        .cast("int")
        .alias("median_lifetime_days"),
        F.min(
            F.when(10 * remaining <= F.col("n_total"), F.col("t"))
        )
        .cast("int")
        .alias("p90_lifetime_days"),
        (
            F.sum(F.col("t").cast("decimal(18,2)") * F.col("deaths"))
            / F.any_value("n_total")
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("mean_lifetime_days"),
    )


@register(
    "q_lorenz_deciles",
    """
WITH rev AS (
    SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) AS rev
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY user_id
),
rk AS (
    SELECT user_id, rev,
           row_number() OVER (ORDER BY rev, user_id) AS r,
           count(*) OVER () AS n
    FROM rev
),
edges AS (
    SELECT rk.rev
    FROM rk JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS k) ks
      ON rk.r = CAST(ceil(ks.k * rk.n / 10.0) AS BIGINT)
),
assigned AS (
    SELECT r2.user_id, r2.rev,
           1 + count(e.rev) AS decile
    FROM rev r2 LEFT JOIN edges e ON e.rev < r2.rev
    GROUP BY r2.user_id, r2.rev
),
cells AS (
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           sum(rev) AS drev
    FROM assigned GROUP BY 1
),
tot AS (SELECT sum(rev) AS t FROM rev)
SELECT c.decile, c.n_users,
       CAST(c.drev AS DOUBLE) AS revenue,
       CAST(floor(CAST(c.drev AS DOUBLE) * 1e9 / CAST(t.t AS DOUBLE))
            AS BIGINT) AS share_e9,
       CAST(floor(CAST(sum(c.drev) OVER (ORDER BY c.decile) AS DOUBLE)
                  * 1e9 / CAST(t.t AS DOUBLE)) AS BIGINT) AS cum_share_e9
FROM cells c CROSS JOIN tot t
""",
)
def q_lorenz_deciles(spark, sf_dir):
    # Lorenz concentration table over per-user purchase revenue — the
    # decile view between q_key_skew_gini's single coefficient and
    # q_top100_share's head count: revenue share and cumulative share per
    # revenue decile.  The decile edges are EXACT rank-selected order
    # statistics through the shared histogram machinery
    # (operators/histogram.py — ceil(k*n/10), (rev, user_id)-tiebroken;
    # the oracle keeps the naive global-window form so the hash match
    # cross-validates the decomposition, the q_psi_drift discipline).
    # Assignment is the strict-< comparison against the broadcast 9-edge
    # array (value-pure, engine-deterministic under ties); everything
    # after runs on a 10-row spine.  Revenue is decimal end-to-end; the
    # shares are floor(x*1e9) on exact-cast doubles.
    from opc2mongodb_spark.operators.histogram import (
        decile_ranks,
        rank_select,
    )

    ev = _t(spark, sf_dir, "events")
    rev = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(dec(F.col("value"))).alias("rev"))
    )
    edges = rank_select(
        rev,
        "rev",
        decile_ranks(),
        tiebreak_cols=["user_id"],
    )
    edges_arr = edges.agg(F.array_sort(F.collect_list("rev")).alias("es"))
    assigned = rev.crossJoin(F.broadcast(edges_arr)).select(
        "rev",
        (
            1
            + F.size(
                F.filter("es", lambda e: e < F.col("rev"))
            )
        ).alias("decile"),
    )
    cells = assigned.groupBy(
        F.col("decile").cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("rev").alias("drev"),
    )
    tot = rev.agg(F.sum("rev").alias("t"))
    # cumulative BEFORE the total join: the spine window's SinglePartition
    # exchange then sits directly above the 10-row aggregate (the plan
    # test's aggregate-bounded rule), not above a join node
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cells = cells.withColumn("cum_drev", F.sum("drev").over(wc))
    share = F.col("drev").cast("double") * 1e9 / F.col("t").cast("double")
    cum = F.col("cum_drev").cast("double") * 1e9 / F.col("t").cast("double")
    return cells.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        F.col("drev").cast("double").alias("revenue"),
        F.floor(share).cast("bigint").alias("share_e9"),
        F.floor(cum).cast("bigint").alias("cum_share_e9"),
    )


@register(
    "q_decay_attribution",
    """
WITH conv AS (
    SELECT user_id, min(ts) AS t_conv
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touch AS (
    SELECT e.user_id, e.event_type AS channel,
           least(date_diff('day', CAST(e.ts AS DATE),
                           CAST(c.t_conv AS DATE)), 20) AS delta_days
    FROM events e JOIN conv c ON e.user_id = c.user_id
    WHERE e.ts < c.t_conv AND e.event_type <> 'purchase'
),
w AS (
    SELECT channel,
           CAST(1.0 / (CAST(1 AS BIGINT) << delta_days)
                AS DECIMAL(18,12)) AS wt
    FROM touch
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(wt) AS DOUBLE) AS decay_credit
FROM w GROUP BY channel
""",
)
def q_decay_attribution(spark, sf_dir):
    # Exponential time-decay attribution (half-life = 1 day, capped at 20
    # days) — completing the attribution family: q_touch_attribution's
    # first/last extremes, q_shapley_attribution's order-free split, and
    # now the recency-weighted industry default.  Exactness: the weight
    # 0.5^delta is built as 1 / (1 << delta) — an EXACT power-of-two
    # double on both engines (never libm pow), then decimal-pinned at
    # scale 12 (identical truncation) so the per-channel sum is
    # order-insensitive.  One conversion-anchor groupBy, one join, one
    # combinable rollup.
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    touch = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("t_conv"))
            & (F.col("event_type") != "purchase")
        )
        .select(
            F.col("event_type").alias("channel"),
            F.least(
                F.datediff(
                    F.col("t_conv").cast("date"), F.col("ts").cast("date")
                ),
                F.lit(20),
            ).alias("delta_days"),
        )
    )
    wt = (
        F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), delta_days)")
    ).cast("decimal(18,12)")
    return (
        touch.select("channel", wt.alias("wt"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("wt").cast("double").alias("decay_credit"),
        )
    )


@register(
    "q_ratio_metric_delta",
    """
WITH per AS (
    SELECT user_id,
           CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE)
               AS x,
           CAST(count(*) AS DOUBLE) AS y
    FROM events GROUP BY user_id
),
armed AS (
    SELECT CASE WHEN CAST(CAST(('0x' || substring(md5('srm:' ||
                       CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 100 AS INTEGER) < 50
                THEN 'treatment' ELSE 'control' END AS arm,
           x, y
    FROM per
),
s AS (
    SELECT arm, count(*) AS n,
           CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy,
           CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM armed GROUP BY arm
)
SELECT arm, CAST(n AS BIGINT) AS n_users,
       printf('%.9e', sx / sy) AS ratio,
       printf('%.9e',
              sqrt(
                ((sxx - sx * sx / n)
                 - 2.0 * (sx / sy) * (sxy - sx * sy / n)
                 + (sx / sy) * (sx / sy) * (syy - sy * sy / n))
                / (n - 1)
              ) / ((sy / n) * sqrt(CAST(n AS DOUBLE)))) AS se_delta
FROM s WHERE n >= 2
""",
)
def q_ratio_metric_delta(spark, sf_dir):
    # Delta-method standard error for a RATIO metric (value per event) —
    # the estimator experiment platforms need because per-user ratios are
    # not iid means: R = sum x / sum y per arm, and
    # se(R) = sqrt(var_x - 2R cov_xy + R^2 var_y) / (ybar sqrt(n))
    # via the first-order Taylor expansion (Deng et al.'s metric
    # framework; completes the suite next to q_cuped_adjusted and
    # q_power_analysis).  One decimal-pinned user rollup, arm fold with
    # re-pinned product sums, sqrt-only chains under %.9e.
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(dec(F.col("value"))), F.lit(0).cast("decimal(28,2)"))
        .cast("double")
        .alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("srm:"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % 100
    armed = per.select(
        F.when(bucket < 50, F.lit("treatment"))
        .otherwise(F.lit("control"))
        .alias("arm"),
        "x",
        "y",
    )
    s = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,4)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxy"),
    ).filter(F.col("n") >= 2)
    n = F.col("n")
    r = F.col("sx") / F.col("sy")
    var_num = (
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        - 2.0 * r * (F.col("sxy") - F.col("sx") * F.col("sy") / n)
        + r * r * (F.col("syy") - F.col("sy") * F.col("sy") / n)
    ) / (n - 1)
    se = F.sqrt(var_num) / (
        (F.col("sy") / n) * F.sqrt(n.cast("double"))
    )
    return s.select(
        "arm",
        n.cast("bigint").alias("n_users"),
        sci9(r).alias("ratio"),
        sci9(se).alias("se_delta"),
    )


@register(
    "q_u_shape_attribution",
    """
WITH conv AS (
    SELECT user_id, min(ts) AS t_conv
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touch AS (
    SELECT e.user_id, e.event_type AS channel, e.ts, e.event_id
    FROM events e JOIN conv c ON e.user_id = c.user_id
    WHERE e.ts < c.t_conv AND e.event_type <> 'purchase'
),
ranked AS (
    SELECT user_id, channel,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id) AS k
    FROM touch
),
credit AS (
    SELECT channel,
           CASE WHEN k = 1 THEN 1000000000
                WHEN k = 2 THEN 500000000
                WHEN rn = 1 OR rn = k THEN 400000000
                ELSE 200000000 // (k - 2) END AS c_e9
    FROM ranked
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(c_e9) AS BIGINT) AS u_credit_e9
FROM credit GROUP BY channel
""",
)
def q_u_shape_attribution(spark, sf_dir):
    # Position-based (U-shaped / 40-20-40) attribution, closing the
    # family: first and last touch each take 40%, the middle touches
    # split 20% — the default in most marketing platforms (1 touch takes
    # all, 2 touches split evenly).  All credit is integer parts-per-
    # billion (2e8 DIV (k-2) — exact truncating division on both
    # engines), so channel sums are integer-exact.  One window pass per
    # user (rn and k share the user_id partition — one exchange), one
    # combinable rollup.
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    touch = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("t_conv"))
            & (F.col("event_type") != "purchase")
        )
        .select("user_id", F.col("event_type").alias("channel"), "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id")
    ranked = touch.select(
        "channel",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    c = (
        F.when(F.col("k") == 1, F.lit(1000000000))
        .when(F.col("k") == 2, F.lit(500000000))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("k")),
            F.lit(400000000),
        )
        .otherwise(F.expr("200000000 DIV (k - 2)"))
    )
    return (
        ranked.select("channel", c.alias("c_e9"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("c_e9").cast("bigint").alias("u_credit_e9"),
        )
    )


@register(
    "q_retention_curve_fit",
    """
WITH first_w AS (
    SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
),
size_ AS (
    SELECT cohort_week, count(*) AS cohort_users FROM first_w
    GROUP BY cohort_week
),
active AS (
    SELECT DISTINCT f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
                          CAST(date_trunc('week', e.ts) AS DATE)) / 7
                AS INT) AS week_k,
           e.user_id
    FROM events e JOIN first_w f ON e.user_id = f.user_id
),
cells AS (
    SELECT a.cohort_week, a.week_k,
           count(*) AS n_active, any_value(s.cohort_users) AS cu
    FROM active a JOIN size_ s USING (cohort_week)
    WHERE a.week_k >= 1
    GROUP BY a.cohort_week, a.week_k
),
pts AS (
    SELECT CAST(ln(CAST(week_k AS DOUBLE)) AS DECIMAL(18,12)) AS x,
           CAST(ln(CAST(n_active AS DOUBLE) / cu) AS DECIMAL(18,12)) AS y,
           CAST(ln(CAST(week_k AS DOUBLE)) * ln(CAST(week_k AS DOUBLE))
                AS DECIMAL(18,12)) AS xx,
           CAST(ln(CAST(week_k AS DOUBLE))
                * ln(CAST(n_active AS DOUBLE) / cu)
                AS DECIMAL(18,12)) AS xy
    FROM cells
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(xx) AS DOUBLE) AS sxx, CAST(sum(xy) AS DOUBLE) AS sxy
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_cells,
       printf('%.9e', (sxy - sx * sy / n) / (sxx - sx * sx / n))
           AS decay_slope,
       printf('%.9e', sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                               * (sx / n)) AS intercept
FROM s WHERE n >= 2
""",
)
def q_retention_curve_fit(spark, sf_dir):
    # Power-law retention decay fit — the growth-science layer over
    # q_cohort_retention's triangle: regress ln(retention rate) on
    # ln(age week) across all observed (cohort, age>=1) cells; the slope
    # is the decay exponent marketing holds against benchmarks ("is our
    # retention curve flattening?").  Scale shape: the triangle is
    # aggregate-sized before any ln (cells = |cohorts| x |ages|); the
    # regression is one 1-row pinned-sum fold.  Determinism: every
    # ln-derived term is decimal-pinned BEFORE the sums (q_unigram_nll
    # discipline), slope/intercept are identical double chains, %.9e.
    ev = _t(spark, sf_dir, "events")
    first_w = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    size = first_w.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    active = (
        ev.join(first_w, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_k"),
            "user_id",
        )
        .distinct()
    )
    cells = (
        active.filter(F.col("week_k") >= 1)
        .join(size, "cohort_week")
        .groupBy("cohort_week", "week_k")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.any_value("cohort_users").alias("cu"),
        )
    )
    lnk = F.log(F.col("week_k").cast("double"))
    lnr = F.log(F.col("n_active").cast("double") / F.col("cu"))
    pts = cells.select(
        lnk.cast("decimal(18,12)").alias("x"),
        lnr.cast("decimal(18,12)").alias("y"),
        (lnk * lnk).cast("decimal(18,12)").alias("xx"),
        (lnk * lnr).cast("decimal(18,12)").alias("xy"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
    ).filter(F.col("n") >= 2)
    n = F.col("n")
    b = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    a = F.col("sy") / n - b * (F.col("sx") / n)
    return s.select(
        n.cast("bigint").alias("n_cells"),
        sci9(b).alias("decay_slope"),
        sci9(a).alias("intercept"),
    )


# Per-block candidate budget for q_er_match_scores' pair generator: the
# (segment, nation) blocking key space is FIXED (5 x 25) while customers
# grow with SF, so uncapped block self-join pairs grow quadratically with
# flat output — the r12 cohort-1 scale rotation flagged it at 33.5x time
# for 1.0x output at sf1. Each block's candidate side is bounded at this
# many lowest custkeys (q_knn_loo's rule); the a-side stays full, so
# every customer still scores against its block's head. No-op at the
# oracle SFs (sf0.01 blocks average ~12 members); binds at sf1 (~1,200).
ER_BLOCK_CAND_CAP = 128


@register(
    "q_er_match_scores",
    f"""
WITH u AS (
    SELECT field, CAST(sum(c * c) AS DOUBLE)
                  / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
               AS u_prob
    FROM (
        SELECT 'acct_band' AS field,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS v, count(*) AS c
        FROM customer GROUP BY 2
        UNION ALL
        SELECT 'name_key',
               CAST(('0x' || substring(md5(c_name), 1, 8)) AS BIGINT) AS v,
               count(*) AS c
        FROM customer GROUP BY 2
    )
    GROUP BY field
),
w AS (
    SELECT
      CAST(ln(0.95 / max(CASE WHEN field = 'acct_band' THEN u_prob END))
           AS DECIMAL(18,12)) AS wa_acct,
      CAST(ln(0.05 / (1.0 - max(CASE WHEN field = 'acct_band'
                                     THEN u_prob END)))
           AS DECIMAL(18,12)) AS wd_acct,
      CAST(ln(0.95 / max(CASE WHEN field = 'name_key' THEN u_prob END))
           AS DECIMAL(18,12)) AS wa_name,
      CAST(ln(0.05 / (1.0 - max(CASE WHEN field = 'name_key'
                                     THEN u_prob END)))
           AS DECIMAL(18,12)) AS wd_name
    FROM u
),
cand AS (
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey FROM (
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey,
               row_number() OVER (PARTITION BY c_mktsegment, c_nationkey
                                  ORDER BY c_custkey) AS crn
        FROM customer
    ) WHERE crn <= {ER_BLOCK_CAND_CAP}
),
pairs AS (
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(floor(a.c_acctbal / 1000) AS BIGINT)
               = CAST(floor(b.c_acctbal / 1000) AS BIGINT) AS agree_acct,
           a.c_name = b.c_name AS agree_name
    FROM customer a JOIN cand b
      ON a.c_mktsegment = b.c_mktsegment
     AND a.c_nationkey = b.c_nationkey
     AND a.c_custkey < b.c_custkey
),
scored AS (
    SELECT p.id_a, p.id_b,
           CAST((CASE WHEN p.agree_acct THEN w.wa_acct ELSE w.wd_acct END)
                + (CASE WHEN p.agree_name THEN w.wa_name ELSE w.wd_name END)
                AS DOUBLE) AS score
    FROM pairs p CROSS JOIN w
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) FILTER (score > 0) AS BIGINT) AS n_match,
       printf('%.9e', max(score)) AS max_score,
       printf('%.9e', min(score)) AS min_score
FROM scored
""",
)
def q_er_match_scores(spark, sf_dir):
    # The ER pipeline's SCORING pass, completing blocking
    # (q_entity_blocking) -> field weights (q_fs_field_weights) ->
    # pairwise Fellegi-Sunter scores: candidate pairs from the
    # (segment, nation) blocks, each scored by summing the per-field
    # ln(m/u) agreement or ln((1-m)/(1-u)) disagreement weight over two
    # comparison fields (account-balance band; the md5 name key — unique
    # here, so u = 1/n and name agreement would dominate, exactly how a
    # real normalized-name field behaves), match = positive total
    # log-odds.  Scale shape: the pair join is block-keyed (the
    # q_entity_blocking audit MEASURES its fan-out first — that is the
    # point of that query) with the candidate side capped at
    # ER_BLOCK_CAND_CAP lowest custkeys per block (the oracle pins the
    # same literal) because
    # the block key space is fixed while membership grows with the data;
    # the weight table is a broadcast 1-row frame.
    # Determinism: u-probs are exact-integer ratios; each weight is
    # decimal-pinned BEFORE the two-term sum, the verdict compares the
    # pinned sum's exact double, and the summary renders min/max %.9e
    # (min/max carry values — no summation-order exposure).
    cust = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    nh = F.conv(F.substring(F.md5("c_name"), 1, 8), 16, 10).cast("bigint")
    fields = cust.select(
        F.explode(
            F.array(
                F.struct(F.lit("acct_band").alias("field"), band.alias("v")),
                F.struct(F.lit("name_key").alias("field"), nh.alias("v")),
            )
        ).alias("fv")
    ).select("fv.field", "fv.v")
    nd = F.sum("c").cast("double")
    u = (
        fields.groupBy("field", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("field")
        .agg(
            (F.sum(F.col("c") * F.col("c")).cast("double") / (nd * nd)).alias(
                "u_prob"
            )
        )
    )
    def wcol(field, agree):
        up = F.max(F.when(F.col("field") == field, F.col("u_prob")))
        expr = (
            F.log(F.lit(0.95) / up)
            if agree
            else F.log(F.lit(0.05) / (F.lit(1.0) - up))
        )
        return expr.cast("decimal(18,12)")
    w = u.agg(
        wcol("acct_band", True).alias("wa_acct"),
        wcol("acct_band", False).alias("wd_acct"),
        wcol("name_key", True).alias("wa_name"),
        wcol("name_key", False).alias("wd_name"),
    )
    cw = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy(
        "c_custkey"
    )
    cand = (
        cust.withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= ER_BLOCK_CAND_CAP)
        .drop("crn")
    )
    a = cust.alias("a")
    b = cand.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        (
            F.floor(F.col("a.c_acctbal") / 1000).cast("bigint")
            == F.floor(F.col("b.c_acctbal") / 1000).cast("bigint")
        ).alias("agree_acct"),
        (F.col("a.c_name") == F.col("b.c_name")).alias("agree_name"),
    )
    score = (
        F.when(F.col("agree_acct"), F.col("wa_acct")).otherwise(
            F.col("wd_acct")
        )
        + F.when(F.col("agree_name"), F.col("wa_name")).otherwise(
            F.col("wd_name")
        )
    ).cast("double")
    return (
        pairs.crossJoin(F.broadcast(w))
        .select(score.alias("score"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.count_if(F.col("score") > 0).cast("bigint").alias("n_match"),
            sci9(F.max("score")).alias("max_score"),
            sci9(F.min("score")).alias("min_score"),
        )
    )


@register(
    "q_fourier_daily",
    """
WITH hourly AS (
    SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS m
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
terms AS (
    SELECT event_type,
           CAST(m * cos(2.0 * CAST(3.141592653589793 AS DOUBLE)
                        * CAST(h AS DOUBLE) / 24.0)
                AS DECIMAL(18,9)) AS ca,
           CAST(m * sin(2.0 * CAST(3.141592653589793 AS DOUBLE)
                        * CAST(h AS DOUBLE) / 24.0)
                AS DECIMAL(18,9)) AS cb,
           CAST(m AS DECIMAL(18,9)) AS cm
    FROM hourly
),
ab AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(ca) AS DOUBLE) / 12.0 AS a,
           CAST(sum(cb) AS DOUBLE) / 12.0 AS b,
           CAST(sum(cm) AS DOUBLE) / 24.0 AS mean_level
    FROM terms GROUP BY event_type HAVING count(*) = 24
)
SELECT event_type, n_hours,
       printf('%.9e', mean_level) AS mean_level,
       printf('%.9e', sqrt(a * a + b * b)) AS amplitude_24h,
       printf('%.9e', atan2(b, a)) AS phase_rad
FROM ab
""",
)
def q_fourier_daily(spark, sf_dir):
    # First-harmonic (24 h) seasonality fit per series — the DFT view of
    # what q_weekday_seasonality/q_hourly_peak read as tables: project
    # the 24-cell hourly mean profile onto cos/sin of the daily
    # fundamental; amplitude says HOW seasonal, phase says WHEN the peak
    # is.  The trig only ever runs on the 24-cell aggregate (never raw
    # rows); each m_h*cos / m_h*sin term is decimal-pinned BEFORE the
    # spine sum, and amplitude/phase render %.9e per the transcendental
    # rule (sin/cos/atan2 are libm).  Pi is a shared literal.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("h")
    ).agg(
        (F.sum(dec(F.col("value"))).cast("double") / F.count(F.lit(1))).alias(
            "m"
        )
    )
    theta = 2.0 * 3.141592653589793 * F.col("h") / 24.0
    terms = hourly.select(
        "event_type",
        (F.col("m") * F.cos(theta)).cast("decimal(18,9)").alias("ca"),
        (F.col("m") * F.sin(theta)).cast("decimal(18,9)").alias("cb"),
        F.col("m").cast("decimal(18,9)").alias("cm"),
    )
    ab = (
        terms.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            (F.sum("ca").cast("double") / 12.0).alias("a"),
            (F.sum("cb").cast("double") / 12.0).alias("b"),
            (F.sum("cm").cast("double") / 24.0).alias("mean_level"),
        )
        .filter(F.col("n_hours") == 24)
    )
    return ab.select(
        "event_type",
        "n_hours",
        sci9(F.col("mean_level")).alias("mean_level"),
        sci9(F.sqrt(F.col("a") * F.col("a") + F.col("b") * F.col("b"))).alias("amplitude_24h"),
        sci9(F.atan2("b", "a")).alias("phase_rad"),
    )


@register(
    "q_heaps_fit",
    """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
per AS (
    SELECT doc_id, count(*) AS n_tok, count(DISTINCT t) AS n_types
    FROM tok GROUP BY doc_id HAVING count(*) >= 2
),
pts AS (
    SELECT CAST(ln(CAST(n_tok AS DOUBLE)) AS DECIMAL(18,12)) AS x,
           CAST(ln(CAST(n_types AS DOUBLE)) AS DECIMAL(18,12)) AS y,
           CAST(ln(CAST(n_tok AS DOUBLE)) * ln(CAST(n_tok AS DOUBLE))
                AS DECIMAL(18,12)) AS xx,
           CAST(ln(CAST(n_tok AS DOUBLE)) * ln(CAST(n_types AS DOUBLE))
                AS DECIMAL(18,12)) AS xy
    FROM per
),
s AS (
    SELECT count(*) AS n,
           CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
           CAST(sum(xx) AS DOUBLE) AS sxx, CAST(sum(xy) AS DOUBLE) AS sxy
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_docs,
       printf('%.9e', (sxy - sx * sy / n) / (sxx - sx * sx / n))
           AS heaps_beta,
       printf('%.9e', exp(sy / n - ((sxy - sx * sy / n)
                                    / (sxx - sx * sx / n)) * (sx / n)))
           AS heaps_k
FROM s WHERE n >= 2
""",
)
def q_heaps_fit(spark, sf_dir):
    # Heaps'-law fit V = K * N^beta over per-document (tokens, types)
    # points — the vocabulary-growth exponent next to q_zipf_fit's rank
    # law; tokenizer and dedup planning both read beta (how fast does new
    # text add new vocabulary?).  One token explode, one per-doc rollup
    # (count + count-distinct share the doc_id exchange), one pinned-sum
    # 1-row regression (the q_retention_curve_fit discipline: ln only on
    # aggregates, every term decimal-pinned, %.9e out).
    from opc2mongodb_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    per = (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.countDistinct("t").alias("n_types"),
        )
        .filter(F.col("n_tok") >= 2)
    )
    lnx = F.log(F.col("n_tok").cast("double"))
    lny = F.log(F.col("n_types").cast("double"))
    pts = per.select(
        lnx.cast("decimal(18,12)").alias("x"),
        lny.cast("decimal(18,12)").alias("y"),
        (lnx * lnx).cast("decimal(18,12)").alias("xx"),
        (lnx * lny).cast("decimal(18,12)").alias("xy"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
    ).filter(F.col("n") >= 2)
    n = F.col("n")
    b = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    k = F.exp(F.col("sy") / n - b * (F.col("sx") / n))
    return s.select(
        n.cast("bigint").alias("n_docs"),
        sci9(b).alias("heaps_beta"),
        sci9(k).alias("heaps_k"),
    )


@register(
    "q_user_feature_table",
    """
WITH anchor AS (
    SELECT max(ts) AS mx FROM events
)
SELECT e.user_id,
       CAST(date_diff('day', CAST(min(e.ts) AS DATE),
                      CAST(max(e.ts) AS DATE)) AS INT) AS tenure_days,
       CAST(date_diff('day', CAST(max(e.ts) AS DATE),
                      CAST(any_value(a.mx) AS DATE)) AS INT) AS recency_days,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (e.event_type = 'purchase') AS BIGINT)
           AS n_purchases,
       CAST(count(DISTINCT CAST(e.ts AS DATE)) AS BIGINT) AS active_days,
       CAST(coalesce(sum(CAST(e.value AS DECIMAL(18,2))
                         ) FILTER (e.event_type = 'purchase'), 0)
            AS DOUBLE) AS revenue,
       count(*) * 1000 // count(DISTINCT CAST(e.ts AS DATE))
           AS events_per_active_day_e3
FROM events e CROSS JOIN anchor a
GROUP BY e.user_id
""",
)
def q_user_feature_table(spark, sf_dir):
    # The churn-model feature table — RFM + tenure + intensity per user
    # in ONE pass: recency vs the corpus anchor, frequency, monetary
    # (purchase revenue), tenure, active days, events per active day.
    # This is the feature-engineering contract an ML pipeline exports to
    # a feature store; every downstream model (churn, LTV, propensity)
    # joins it by user_id.  One combinable groupBy over events plus a
    # broadcast 1-row anchor; all features are integer-exact or
    # decimal-pinned (the intensity ratio is integer DIV at e3) — no
    # float anywhere, so the whole row hashes exactly.
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))
    day = F.col("ts").cast("date")
    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max(day), F.min(day)).cast("int").alias(
                "tenure_days"
            ),
            F.datediff(
                F.any_value(F.col("mx")).cast("date"), F.max(day)
            )
            .cast("int")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("bigint")
            .alias("n_purchases"),
            F.countDistinct(day).cast("bigint").alias("active_days"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        dec(F.col("value")),
                    )
                ),
                F.lit(0).cast("decimal(28,2)"),
            )
            .cast("double")
            .alias("revenue"),
            F.expr(
                "count(*) * 1000 DIV count(DISTINCT CAST(ts AS DATE))"
            ).alias("events_per_active_day_e3"),
        )
    )
