"""Query registrations: r8: OHLC/stuck-sensor/peak telemetry rollups, association mining + attribution, Gram matrix / PCA power iteration, label noise.

Mechanically split from the original single-module registry (r9);
registration order and bodies unchanged. Determinism rulebook:
the package docstring (queries/__init__.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from opc2mongodb_spark.queries._core import _t, dec, register, sci9
from opc2mongodb_spark.queries.relational import _COS
from opc2mongodb_spark.queries.widening import _CORR_EXPR

# Per-order basket bound for q_copurchase's in-array pair expansion: a
# pathological mega-order contributes at most C(256, 2) pairs. TPC-H
# baskets hold <=7 distinct parts, so the cap never triggers here (the
# oracle compare proves the no-op); the demotion rule (256 lowest part
# ids, true part totals kept) is identical on both engines.
COPURCHASE_BASKET_CAP = 256


def _basket_pairs_arr(cap: int = None):
    """Upper-triangle pair expansion of a sorted `ps` array column, capped
    at the first `cap` elements. `ps` is ascending (array_sort), so
    slice(1, cap) == the cap lowest part ids — the same survivors as the
    oracle's row_number ORDER BY l_partkey."""
    if cap is None:
        cap = COPURCHASE_BASKET_CAP
    return F.expr(
        f"""
        flatten(transform(slice(ps, 1, {cap}), (x, i) ->
            transform(slice(slice(ps, 1, {cap}),
                            i + 2,
                            size(slice(ps, 1, {cap})) - i - 1),
                      y -> struct(x AS part_a, y AS part_b))))
        """
    )

@register(
    "q_ohlc_hourly",
    """
WITH ranked AS (
    SELECT event_type, date_trunc('hour', ts) AS hour_ts, value, ts, event_id,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts ASC, event_id ASC)  AS rn_a,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(hour_ts AS TIMESTAMP) AS hour_ts,
       CAST(count(*) AS BIGINT) AS n,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM ranked
GROUP BY event_type, hour_ts
""",
)
def q_ohlc_hourly(spark, sf_dir):
    # Candle (open/high/low/close) rollup per series-hour — the archive
    # downsample a historian serves charts from instead of raw samples.
    # ONE combinable groupBy: open/close are argmin/argmax over the
    # (ts, event_id) order folded into struct-min/struct-max (event_id
    # makes the order total, so first/last are deterministic under
    # timestamp ties — the reason this is not min_by/max_by, which give
    # no tiebreak); high/low/total are plain partial-aggregable min/max/
    # decimal-sum. No windows, no second shuffle. The ORACLE takes the
    # independent two-window row_number form, so the hash match
    # cross-validates the struct encoding. open/close/high/low are
    # CARRIED values (exact doubles), the only sum is decimal-pinned.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.struct("ts", "event_id", "value"))["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("ts", "event_id", "value"))["value"].alias("close"),
        F.sum(dec(F.col("value"))).cast("double").alias("total"),
    )
    return g.select(
        "event_type", "hour_ts", "n", "open", "high", "low", "close", "total"
    )


@register(
    "q_flatline_runs",
    """
WITH lv AS (
    SELECT event_type, ts, event_id, CAST(floor(value) AS BIGINT) AS level,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS rn
    FROM events WHERE value IS NOT NULL
),
isl AS (
    SELECT event_type, level,
           rn - row_number() OVER (PARTITION BY event_type, level
                                   ORDER BY ts, event_id) AS island
    FROM lv
),
per_run AS (
    SELECT event_type, level, island, count(*) AS run_len
    FROM isl GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(min(CASE WHEN run_len = mx THEN level END) AS BIGINT)
           AS longest_level,
       CAST(sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_runs_ge3
FROM (SELECT *, max(run_len) OVER (PARTITION BY event_type) AS mx
      FROM per_run)
GROUP BY event_type
""",
)
def q_flatline_runs(spark, sf_dir):
    # Stuck-sensor detection: the longest run of consecutive samples
    # reporting the same quantized level per series, plus how many runs
    # reach length 3 — a flatlined transmitter shows up as one giant run.
    # Gaps-and-islands via the rank-difference key (rn_overall minus
    # rn_within_level is constant exactly along a run); production
    # quantizes by the instrument deadband — floor(value) here, an exact
    # double op on both engines. Only per-series windows (single shuffle
    # on event_type, no global sort); the longest run's level is an
    # argmax folded into one struct-max with a min-level tiebreak.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    lv = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value")).cast("long").alias("level"),
    )
    w_all = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_lvl = Window.partitionBy("event_type", "level").orderBy("ts", "event_id")
    runs = lv.select(
        "event_type",
        "level",
        (F.row_number().over(w_all) - F.row_number().over(w_lvl)).alias(
            "island"
        ),
    ).groupBy("event_type", "level", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    best = runs.groupBy("event_type").agg(
        F.max("run_len").cast("long").alias("longest_run"),
        F.max(F.struct(F.col("run_len"), (-F.col("level")).alias("nl")))[
            "nl"
        ].alias("_nl"),
        F.sum((F.col("run_len") >= 3).cast("long")).cast("long").alias(
            "n_runs_ge3"
        ),
    )
    return best.select(
        "event_type",
        "longest_run",
        (-F.col("_nl")).cast("long").alias("longest_level"),
        "n_runs_ge3",
    )


@register(
    "q_peak_concurrency",
    """
WITH spans AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           min(ts) AS t0, max(ts) AS t1
    FROM events GROUP BY 1, 2
),
deltas AS (
    SELECT day, t0 AS at_ts, 1 AS delta, user_id FROM spans
    UNION ALL
    SELECT day, t1 AS at_ts, -1 AS delta, user_id FROM spans
),
running AS (
    SELECT day,
           sum(delta) OVER (PARTITION BY day
                            ORDER BY at_ts, delta DESC, user_id
                            ROWS UNBOUNDED PRECEDING) AS conc
    FROM deltas
)
SELECT s.day, CAST(s.n_spans AS BIGINT) AS n_spans,
       CAST(r.peak AS BIGINT) AS peak_concurrent
FROM (SELECT day, count(*) AS n_spans FROM spans GROUP BY day) s
JOIN (SELECT day, max(conc) AS peak FROM running GROUP BY day) r
  ON s.day = r.day
""",
)
def q_peak_concurrency(spark, sf_dir):
    # Peak concurrent active users per day — the sweep-line classic: each
    # user's daily activity span becomes a +1 at its start and a -1 at
    # its end; the running sum's maximum is the peak concurrency (the
    # session-store / connection-pool sizing number). The running sum is
    # a window PARTITIONED BY DAY — never a global single-task sort; the
    # per-day frame is at most 2x the day's distinct users. Deterministic
    # order under timestamp ties: starts before ends (delta DESC) so a
    # single-event span still counts as concurrent at its instant, then
    # user_id (unique per span). Integer-exact throughout.
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    deltas = spans.select(
        "day", F.col("t0").alias("at_ts"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        spans.select(
            "day",
            F.col("t1").alias("at_ts"),
            F.lit(-1).alias("delta"),
            "user_id",
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("at_ts").asc(), F.col("delta").desc(), F.col("user_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = deltas.select("day", F.sum("delta").over(w).alias("conc"))
    peaks = running.groupBy("day").agg(
        F.max("conc").cast("long").alias("peak_concurrent")
    )
    counts = spans.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans")
    )
    return counts.join(peaks, "day").select(
        "day", "n_spans", "peak_concurrent"
    )


# ---------------------------------------------------------------------------
# r8 — association mining + attribution (the two classic event-analytics ops
# the registry still lacked: market-basket lift over order contents, and
# conversion credit per acquisition channel).
# ---------------------------------------------------------------------------


@register(
    "q_copurchase",
    """
WITH parts AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
parts_cap AS (
    SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_partkey) AS rn
        FROM parts
    ) WHERE rn <= 256
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_pair
    FROM parts_cap a JOIN parts_cap b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
pc AS (SELECT l_partkey, count(*) AS n_part FROM parts GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM parts)
SELECT p.part_a, p.part_b,
       CAST(p.n_pair AS BIGINT) AS n_pair,
       CAST(a.n_part AS BIGINT) AS n_a,
       CAST(b.n_part AS BIGINT) AS n_b,
       CAST(t.n_orders AS BIGINT) AS n_orders,
       CAST(p.n_pair AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
           / (CAST(a.n_part AS DOUBLE) * CAST(b.n_part AS DOUBLE)) AS lift
FROM pairs p
JOIN pc a ON p.part_a = a.l_partkey
JOIN pc b ON p.part_b = b.l_partkey
CROSS JOIN tot t
ORDER BY n_pair DESC, part_a ASC, part_b ASC
LIMIT 50
""",
)
def q_copurchase(spark, sf_dir):
    # Market-basket co-purchase lift: which part pairs appear in the same
    # order more often than independence predicts. The pair explosion is
    # generated IN-ARRAY — per-order sorted distinct-part list, then a
    # nested-transform upper-triangle expansion — so the work per order
    # is C(k,2) with k = order size, and k is HARD-CAPPED at
    # COPURCHASE_BASKET_CAP before expanding (r12: the 256
    # lowest-part-id items; TPC-H baskets are <=7 so the cap never
    # triggers and the oracle compare proves the no-op — above it,
    # per-basket work bounds at C(256,2) and pair counts become lower
    # bounds while part totals and the order count stay TRUE, computed
    # off the uncapped list). The parts list never self-joins (the
    # q_user_overlap discipline; the ORACLE takes the independent
    # row_number-capped self-join form, cross-validating the expansion).
    # Part totals broadcast back onto the pair frame; lift is exact
    # integer products through one IEEE division; top-50 is
    # TakeOrderedAndProject with a full unique tiebreak.
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs_arr = _basket_pairs_arr()
    pairs = (
        baskets.select(F.explode(pairs_arr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    # part totals and the order count both re-derive from the SAME baskets
    # aggregate (explode of the per-order list / a count over it), so all
    # three branches share one exchange (ReusedExchange) instead of
    # re-scanning lineitem per branch.
    pc = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_part"))
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    out = (
        pairs.join(
            F.broadcast(pc.select(F.col("l_partkey").alias("part_a"),
                                  F.col("n_part").alias("n_a"))),
            "part_a",
        )
        .join(
            F.broadcast(pc.select(F.col("l_partkey").alias("part_b"),
                                  F.col("n_part").alias("n_b"))),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
    )
    return (
        out.select(
            "part_a",
            "part_b",
            "n_pair",
            "n_a",
            "n_b",
            "n_orders",
            (
                F.col("n_pair").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(
            F.col("n_pair").desc(), F.col("part_a").asc(), F.col("part_b").asc()
        )
        .limit(50)
    )


@register(
    "q_touch_attribution",
    """
WITH conv AS (
    SELECT user_id, min(ts) AS t_conv
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touches AS (
    SELECT e.user_id, e.event_type, e.ts, e.event_id
    FROM events e JOIN conv c ON e.user_id = c.user_id
    WHERE e.ts < c.t_conv AND e.event_type <> 'purchase'
),
ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC)  AS rn_f,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn_l
    FROM touches
)
SELECT ch.event_type AS channel,
       CAST(coalesce(f.n_first, 0) AS BIGINT) AS n_first_touch,
       CAST(coalesce(l.n_last, 0) AS BIGINT)  AS n_last_touch
FROM (SELECT DISTINCT event_type FROM ranked) ch
LEFT JOIN (SELECT event_type, count(*) AS n_first FROM ranked
           WHERE rn_f = 1 GROUP BY 1) f ON ch.event_type = f.event_type
LEFT JOIN (SELECT event_type, count(*) AS n_last FROM ranked
           WHERE rn_l = 1 GROUP BY 1) l ON ch.event_type = l.event_type
""",
)
def q_touch_attribution(spark, sf_dir):
    # First-touch vs last-touch conversion attribution: for every user
    # who converted (first 'purchase'), credit the channel of their
    # FIRST pre-conversion event and of their LAST event before the
    # purchase. Both argmins fold into ONE combinable groupBy over
    # (ts, event_id, channel) structs — no windows at all (the ORACLE
    # takes the independent two-window row_number form). The conversion
    # table joins back on user_id — co-partitioned with the events
    # shuffle, and at 100 TB the converter set is the small side (its
    # size is bounded by distinct purchasers, broadcastable in practice).
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    touches = ev.join(conv, "user_id").filter(
        (F.col("ts") < F.col("t_conv")) & (F.col("event_type") != "purchase")
    )
    per_user = touches.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "first_ch"
        ),
        F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "last_ch"
        ),
    )
    channels = touches.select(F.col("event_type").alias("channel")).distinct()
    firsts = per_user.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first")
    )
    lasts = per_user.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last")
    )
    return (
        channels.join(F.broadcast(firsts), "channel", "left")
        .join(F.broadcast(lasts), "channel", "left")
        .select(
            "channel",
            F.coalesce(F.col("n_first"), F.lit(0)).cast("long").alias(
                "n_first_touch"
            ),
            F.coalesce(F.col("n_last"), F.lit(0)).cast("long").alias(
                "n_last_touch"
            ),
        )
    )


# ---------------------------------------------------------------------------
# r8 — linear algebra on the embedding corpus: exact Gram matrix + dominant
# eigenvector by fixed-iteration power method (operators/pca.py). PCA
# whitening / first-component removal are standard embedding post-processing
# steps for training-data pipelines.
# ---------------------------------------------------------------------------

_GRAM_SQL = """
e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
g AS (
    SELECT ti.i - 1 AS i, tj.j - 1 AS j,
           sum(CAST(v[ti.i] * v[tj.j] AS DECIMAL(28,12))) AS g
    FROM e, range(1, 65) ti(i), range(1, 65) tj(j)
    GROUP BY 1, 2
)"""


def _power_sql(iters: int) -> str:
    """DuckDB replay of operators/pca.py::power_iteration — the same
    decimal-pinned matvec + signed peak-normalization + decimal(20,9)
    iterate re-quantization, unrolled as CTEs. The final component is
    string-rendered from the exact decimal (never a double round-trip:
    the decimal -> double cast was measured 1 ulp apart across engines)."""
    ctes = [_GRAM_SQL.strip() + ", gd AS (SELECT i, j, CAST(g AS DOUBLE) AS g FROM g)"]
    prev_x = None
    for k in range(1, iters + 1):
        if prev_x is None:
            ctes.append(
                f"y{k} AS (SELECT i, CAST(sum(CAST(g * 1.0 AS "
                f"DECIMAL(28,12))) AS DOUBLE) AS y FROM gd GROUP BY i)"
            )
        else:
            ctes.append(
                f"y{k} AS (SELECT gd.i, CAST(sum(CAST(gd.g * "
                f"CAST({prev_x}.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) "
                f"AS y FROM gd JOIN {prev_x} ON gd.j = {prev_x}.i "
                f"GROUP BY gd.i)"
            )
        ctes.append(
            f"m{k} AS (SELECT y AS m FROM y{k} "
            f"ORDER BY abs(y) DESC, i ASC LIMIT 1)"
        )
        ctes.append(
            f"x{k} AS (SELECT i, CAST(y / (SELECT m FROM m{k}) AS "
            f"DECIMAL(20,9)) AS x FROM y{k})"
        )
        prev_x = f"x{k}"
    return "WITH " + ",\n".join(ctes) + (
        f"\nSELECT CAST(i AS INTEGER) AS i, CAST(x AS VARCHAR) AS comp "
        f"FROM {prev_x}"
    )


@register(
    "q_gram_matrix",
    f"""
WITH {_GRAM_SQL.strip()}
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       CAST(g AS VARCHAR) AS g_str
FROM g
""",
)
def q_gram_matrix(spark, sf_dir):
    # The D x D Gram matrix X^T X of the embedding corpus, exact. The
    # Spark side accumulates it WITHOUT shuffling vectors: posexplode to
    # (dim, component) rows that carry the array, then ONE map-side-
    # combinable groupBy(i) with D decimal-sum columns — per-task state is
    # D^2 cells regardless of corpus size, shuffle volume #partitions x
    # D^2 (operators/pca.py scale contract). The ORACLE computes the same
    # sums via the naive dimension cross-product, cross-validating the
    # wide-agg + stack encoding. Sums are decimal(28,12)-pinned and
    # rendered as PLAIN DECIMAL STRINGS — %.9e over the double projection
    # flapped at the 10th digit because the decimal -> double cast itself
    # differs by 1 ulp between engines; the exact decimal has one string
    # form on both.
    from opc2mongodb_spark.operators.pca import gram_matrix

    emb = _t(spark, sf_dir, "embeddings")
    g = gram_matrix(emb, "embedding", 64, as_double=False)
    return g.select("i", "j", F.col("g").cast("string").alias("g_str"))


@register("q_pca_power", _power_sql(3))
def q_pca_power(spark, sf_dir):
    # Dominant eigenvector of the Gram matrix after exactly 3 power
    # iterations from x0 = 1 (fixed iteration count, the q_kmeans_iter
    # discipline — cross-engine convergence-test determinism is not a
    # thing). Every matvec is a broadcast join of the 64-row iterate onto
    # the D^2-row Gram frame with decimal-pinned products (summation
    # order cannot change a bit); the normalizer is the SIGNED peak-|y|
    # component with a smallest-i tiebreak, so the peak component is
    # driven to exactly 1.0 and the sign convention is deterministic.
    # The iterate re-quantizes to decimal(20,9) after each normalization
    # so the engine-visible state is EXACTLY equal every round (the
    # decimal -> double cast differs by 1 ulp across engines; without the
    # re-pin those ulps compound through the recursion) and the final
    # component renders as a plain decimal string. The ORACLE unrolls the
    # identical recursion as CTEs. Input scale touches only the Gram
    # accumulation; the iteration loop chains D/D^2-row frames.
    from opc2mongodb_spark.operators.pca import gram_matrix, power_iteration

    emb = _t(spark, sf_dir, "embeddings")
    x = power_iteration(gram_matrix(emb, "embedding", 64), iters=3)
    return x.select("i", F.col("x").cast("string").alias("comp"))


# ---------------------------------------------------------------------------
# r8 — training-data quality: label-noise detection (confident-learning-lite
# via per-label centroid margins) and funnel timing (conversion lag through
# the shared rank-selection operator).
# ---------------------------------------------------------------------------


@register(
    "q_label_noise",
    """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
sums AS (
    SELECT label, d.d AS dim,
           sum(CAST(v[d.d] AS DECIMAL(28,12))) AS s, count(*) AS cnt
    FROM e, range(1, 65) d(d)
    GROUP BY 1, 2
),
cm AS (
    SELECT label, dim,
           CAST(CAST(CAST(s AS DOUBLE) / cnt AS DECIMAL(20,9)) AS DOUBLE)
               AS m
    FROM sums
),
cents AS (SELECT label, list(m ORDER BY dim) AS cv FROM cm GROUP BY label),
dists AS (
    SELECT e.vec_id, e.label, c.label AS clabel,
           list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv) AS d2
    FROM e, cents c
),
pv AS (
    SELECT vec_id, label,
           min(CASE WHEN clabel = label THEN d2 END)  AS d_own,
           min(CASE WHEN clabel <> label THEN d2 END) AS d_other
    FROM dists GROUP BY 1, 2
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN d_other < d_own THEN 1 ELSE 0 END) AS BIGINT)
           AS n_suspect,
       CAST(sum(CASE WHEN d_other < d_own THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS suspect_share
FROM pv GROUP BY label
""",
)
def q_label_noise(spark, sf_dir):
    # Label-error detection (confident-learning-lite): a vector strictly
    # closer to ANOTHER label's centroid than to its own is a suspect —
    # the curation signal for relabel-or-drop. Centroids are the kmeans
    # two-phase form (posexplode -> decimal component sums, per-task
    # state |labels| x D); each component re-quantizes to decimal(20,9)
    # (the q_pca_power pin) so the engine-visible centroid is EXACTLY
    # equal cross-engine — without it the decimal -> double cast's 1-ulp
    # skew could flip a near-tie margin. Distances are the same
    # sequential dot-product fold as kmeans assign (bit-identical to
    # DuckDB's list_dot_product); the suspect flag compares two such
    # doubles, so it is deterministic. The vectors never shuffle: the
    # |labels|-row centroid table broadcasts onto a map-side distance
    # fold; suspect counts are one combinable groupBy.
    from opc2mongodb_spark.functions.vectors import dot

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    sums = emb.select(
        "label", F.posexplode("v").alias("dim", "val")
    ).groupBy("label", "dim").agg(
        F.sum(F.col("val").cast("decimal(28,12)")).alias("s"),
        F.count(F.lit(1)).alias("cnt"),
    )
    cm = sums.select(
        "label",
        "dim",
        (F.col("s").cast("double") / F.col("cnt"))
        .cast("decimal(20,9)")
        .cast("double")
        .alias("m"),
    )
    cents = cm.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda x: x["m"],
        ).alias("cv")
    ).select(F.col("label").alias("clabel"), "cv")
    v, cv = F.col("v"), F.col("cv")
    d2 = dot(v, v) - 2 * dot(v, cv) + dot(cv, cv)
    pv = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            F.when(F.col("clabel") == F.col("label"), d2).alias("down"),
            F.when(F.col("clabel") != F.col("label"), d2).alias("dother"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.min("down").alias("d_own"),
            F.min("dother").alias("d_other"),
        )
    )
    return pv.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("d_other") < F.col("d_own")).cast("long"))
        .cast("long")
        .alias("n_suspect"),
    ).select(
        "label",
        "n",
        "n_suspect",
        (F.col("n_suspect").cast("double") / F.col("n").cast("double")).alias(
            "suspect_share"
        ),
    )


@register(
    "q_conversion_lag",
    """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
    FROM events GROUP BY user_id
),
lags AS (
    SELECT user_id, epoch_us(t_buy) - epoch_us(t_view) AS lag_us
    FROM firsts
    WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy > t_view
),
ranked AS (
    SELECT lag_us, row_number() OVER (ORDER BY lag_us, user_id) AS rn,
           count(*) OVER () AS n
    FROM lags
)
SELECT CAST(max(n) AS BIGINT) AS n_converted,
       CAST(min(lag_us) AS BIGINT) AS min_lag_us,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lag_us END) AS BIGINT)
           AS median_lag_us,
       CAST(max(lag_us) AS BIGINT) AS max_lag_us
FROM ranked
""",
)
def q_conversion_lag(spark, sf_dir):
    # Time-to-convert: per user, the lag from first 'view' to first
    # 'purchase' (strictly after), summarized as min / exact-median /
    # max. The funnel timing number product teams pace campaigns by —
    # and the fourth consumer of the shared histogram rank-selection
    # operator: the median of the per-user lag frame (one row per
    # converted user — billions at 100 TB) comes from the 1024-cell
    # decomposition, never a single-task global sort (the ORACLE is the
    # naive global row_number form, cross-validating it). Lags are
    # integer microseconds (unix_micros both engines); min/max/count ride
    # the same combinable pass shape.
    from opc2mongodb_spark.operators.histogram import rank_select

    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_buy"
        ),
    )
    lags = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") > F.col("t_view"))
    ).select(
        "user_id",
        (
            F.unix_micros(F.col("t_buy").cast("timestamp"))
            - F.unix_micros(F.col("t_view").cast("timestamp"))
        ).alias("lag_us"),
    )
    med = rank_select(
        lags,
        "lag_us",
        [lambda n: F.floor((n + 1) / 2)],
        tiebreak_cols=["user_id"],
    ).select(F.col("lag_us").alias("median_lag_us"))
    ends = lags.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.min("lag_us").cast("long").alias("min_lag_us"),
        F.max("lag_us").cast("long").alias("max_lag_us"),
    )
    return ends.crossJoin(F.broadcast(med)).select(
        "n_converted",
        "min_lag_us",
        F.col("median_lag_us").cast("long").alias("median_lag_us"),
        "max_lag_us",
    )


@register(
    "q_pca_residual_norms",
    _power_sql(3).replace(
        "\nSELECT CAST(i AS INTEGER) AS i, CAST(x AS VARCHAR) AS comp "
        "FROM x3",
        """,
xs AS (SELECT i, CAST(x AS DOUBLE) AS x FROM x3),
e1 AS (
    SELECT list(x / sqrt(nrm) ORDER BY i) AS u
    FROM xs, (SELECT sum(CAST(x * x AS DECIMAL(28,12)))::DOUBLE AS nrm
              FROM xs) t
),
proj AS (
    SELECT emb.label,
           list_dot_product(emb.v, emb.v) AS n2_before,
           list_dot_product(emb.v, e1.u)  AS p
    FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings) emb, e1
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       printf('%.9e', CAST(sum(CAST(sqrt(n2_before) AS DECIMAL(28,12)))
                           AS DOUBLE) / count(*)) AS avg_norm_before,
       printf('%.9e', CAST(sum(CAST(sqrt(n2_before - p * p) AS
                                    DECIMAL(28,12))) AS DOUBLE) / count(*))
           AS avg_norm_after
FROM proj GROUP BY label
""",
    ),
)
def q_pca_residual_norms(spark, sf_dir):
    # The point of PCA-1: REMOVE the dominant component (the common-
    # discourse direction in text embeddings — SIF/Arora-style
    # postprocessing) and measure how much norm it carried, per label.
    # The eigvec estimate from the quantized 3-round power iteration is
    # unit-normalized (one sqrt over a decimal-pinned sum of squares) and
    # BROADCAST; the per-vector projection p = <v, u> and residual norm
    # sqrt(|v|^2 - p^2) are map-side sequential folds (bit-matching
    # DuckDB's list_dot_product), so the corpus never shuffles. Per-row
    # norms pin to decimal(28,12) before the per-label mean (sum order
    # cannot move a bit); the means render %.9e — the 1-ulp skew of the
    # broadcast eigvec's decimal -> double cast perturbs the sums ~1e-15
    # relative, far below the 10 rendered digits. |v|^2 - p^2 >= 0 by
    # Cauchy-Schwarz (u is unit), so the sqrt never sees a negative.
    from opc2mongodb_spark.functions.vectors import dot
    from opc2mongodb_spark.operators.pca import gram_matrix, power_iteration

    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    x = power_iteration(gram_matrix(emb, "v", 64), iters=3).select(
        "i", F.col("x").cast("double").alias("x")
    )
    nrm = x.agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
        .cast("double")
        .alias("nrm")
    )
    e1 = (
        x.crossJoin(F.broadcast(nrm))
        .select("i", (F.col("x") / F.sqrt(F.col("nrm"))).alias("ux"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ux"))),
                lambda s: s["ux"],
            ).alias("u")
        )
    )
    v, u = F.col("v"), F.col("u")
    proj = emb.crossJoin(F.broadcast(e1)).select(
        "label",
        dot(v, v).alias("n2_before"),
        dot(v, u).alias("p"),
    )
    return proj.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        sci9(F.sum(F.sqrt(F.col("n2_before")).cast("decimal(28,12)"))
            .cast("double")
            / F.count(F.lit(1))).alias("avg_norm_before"),
        sci9(F.sum(
                F.sqrt(F.col("n2_before") - F.col("p") * F.col("p")).cast(
                    "decimal(28,12)"
                )
            ).cast("double")
            / F.count(F.lit(1))).alias("avg_norm_after"),
    )


@register(
    "q_series_corr_matrix",
    f"""
WITH h AS (
    SELECT date_trunc('hour', ts) AS hr, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tot
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
p AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.tot AS x, b.tot AS y
    FROM h a JOIN h b ON a.hr = b.hr AND a.event_type < b.event_type
),
comp AS (
    SELECT type_a, type_b,
           CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy,
           CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM p GROUP BY 1, 2
)
SELECT type_a, type_b, CAST(nd AS BIGINT) AS n_hours,
       printf('%.9e', {{corr}}) AS corr
FROM comp
""".format(corr=_CORR_EXPR),
)
def q_series_corr_matrix(spark, sf_dir):
    # Cross-series correlation matrix: Pearson correlation of HOURLY
    # series totals for every series pair — the coupling diagnostic
    # behind sensor redundancy pruning and cross-signal anomaly rules
    # ("these two tags always move together; today they didn't"). The
    # raw stream first collapses to the (hour, series) frame — one
    # combinable decimal groupBy, after which everything runs on a frame
    # bounded by hours x |series| (~10^4 rows for years of data at ANY
    # input scale), so the pair self-join on hour is deliberately cheap
    # — the q_user_overlap "never self-join the big frame" rule doesn't
    # bite because the joined frame is the tiny rollup, not the events.
    # Pairs where both series reported that hour; q_corr_manual's
    # decimal-component + %.9e discipline.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
    ).agg(F.sum(dec(F.col("value"))).cast("double").alias("tot"))
    a = h.select(
        F.col("hr"), F.col("event_type").alias("type_a"), F.col("tot").alias("x")
    )
    b = h.select(
        F.col("hr"), F.col("event_type").alias("type_b"), F.col("tot").alias("y")
    )
    p = a.join(b, "hr").filter(F.col("type_a") < F.col("type_b"))
    x, y = F.col("x"), F.col("y")
    comp = p.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(dec(x)).cast("double").alias("sx"),
        F.sum(dec(y)).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(28,4)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    return comp.select(
        "type_a",
        "type_b",
        F.col("nd").cast("long").alias("n_hours"),
        sci9(F.expr(_CORR_EXPR)).alias("corr"),
    )


@register(
    "q_missing_hours",
    """
WITH h AS (
    SELECT DISTINCT event_type,
           epoch_us(ts) // 3600000000 AS hr
    FROM events
),
span AS (
    SELECT min(epoch_us(ts) // 3600000000) AS h0,
           max(epoch_us(ts) // 3600000000) AS h1
    FROM events
),
gaps AS (
    SELECT event_type, hr,
           hr - lag(hr) OVER (PARTITION BY event_type ORDER BY hr) AS d
    FROM h
)
SELECT g.event_type,
       CAST(s.h1 - s.h0 + 1 AS BIGINT) AS span_hours,
       CAST(count(*) AS BIGINT) AS observed_hours,
       CAST(count(*) AS DOUBLE) / CAST(s.h1 - s.h0 + 1 AS DOUBLE)
           AS completeness,
       CAST(coalesce(max(g.d) - 1, 0) AS BIGINT) AS max_gap_hours
FROM gaps g CROSS JOIN span s
GROUP BY g.event_type, s.h0, s.h1
""",
)
def q_missing_hours(spark, sf_dir):
    # Archive completeness: per series, how many of the hours in the
    # global collection span actually contain data, plus the longest
    # contiguous silent stretch — the historian-backfill planning number
    # (q_gap_report lists individual gaps; this is the per-series
    # summary). Hours are integer epoch-hour buckets (exact integer
    # division of unix_micros on both engines); the distinct
    # (series, hour) frame is bounded by |series| x span-hours at ANY
    # input scale, so the per-series lag window is cheap by construction.
    # The 1-row global span broadcasts; one division at the end.
    ev = _t(spark, sf_dir, "events")
    # exact INTEGER division (div), never float-divide-then-cast: a double
    # quotient rounding up across an integer boundary would shift the
    # bucket by one
    hr = F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
    h = ev.select("event_type", hr.alias("hr")).distinct()
    span = ev.agg(
        F.min(hr).alias("h0"),
        F.max(hr).alias("h1"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    gaps = h.select(
        "event_type", "hr", (F.col("hr") - F.lag("hr").over(w)).alias("d")
    )
    g = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("observed_hours"),
        F.coalesce(F.max("d") - 1, F.lit(0)).cast("long").alias(
            "max_gap_hours"
        ),
    )
    return g.crossJoin(F.broadcast(span)).select(
        "event_type",
        (F.col("h1") - F.col("h0") + 1).cast("long").alias("span_hours"),
        "observed_hours",
        (
            F.col("observed_hours").cast("double")
            / (F.col("h1") - F.col("h0") + 1).cast("double")
        ).alias("completeness"),
        "max_gap_hours",
    )


@register(
    "q_bitmap_distinct",
    """
WITH u AS (
    SELECT DISTINCT user_id, event_type FROM events
),
t AS (
    SELECT event_type, count(*) AS n FROM u GROUP BY event_type
),
p AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS inter
    FROM u a
    JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST(ta.n AS BIGINT) AS users_a,
       CAST(tb.n AS BIGINT) AS users_b,
       CAST(p.inter AS BIGINT) AS inter_users,
       CAST(ta.n + tb.n - p.inter AS BIGINT) AS union_users,
       CAST(p.inter AS DOUBLE) / CAST(ta.n + tb.n - p.inter AS DOUBLE)
           AS jaccard
FROM p
JOIN t ta ON ta.event_type = p.type_a
JOIN t tb ON tb.event_type = p.type_b
ORDER BY type_a, type_b
""",
)
def q_bitmap_distinct(spark, sf_dir):
    # EXACT audience set algebra via 64-bit word bitmaps — the mergeable
    # distinct-count representation OLAP engines (ClickHouse groupBitmap,
    # Doris BITMAP_UNION) use so segment overlap reports never rescan raw
    # ids. Each segment's user set becomes |users|/63 long words
    # (word = id div 63, bit = id % 63 — 63 bits per word because a
    # bit-63 shift overflows DuckDB's left shift and flips the Java sign
    # bit; the sign bit simply never carries population); bit_or is a
    # map-side-combinable aggregate, so the per-(segment, word) rollup is
    # ONE combinable groupBy over the distinct frame. All pairwise
    # overlaps then come from the word-level self-join of the TINY bitmap
    # table (|users|/63 x |segments| rows at ANY event scale), popcounts
    # summed — union = na + nb - inter off exact integers, jaccard one
    # fixed IEEE division. The oracle computes the naive
    # COUNT(DISTINCT)/id-level self-join form, so the driver's hash match
    # cross-validates the bitmap algebra against an independent method.
    # Pairs with an empty intersection are dropped on BOTH sides (the
    # naive inner join can't see them; the bitmap side filters inter > 0).
    ev = _t(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    # shiftleft's Python binding takes a literal bit count, so the
    # per-row shift goes through expr
    mask = F.expr("shiftleft(cast(1 as bigint), cast(user_id % 63 as int))")
    wb = u.groupBy(
        F.expr("user_id div 63").alias("word"), "event_type"
    ).agg(F.bit_or(mask).alias("bm"))
    # the rollup feeds THREE consumers (totals + both join sides);
    # checkpoint the |users|/63 x |segments| frame so the distinct +
    # bit_or over raw events runs exactly once at any scale (the setsim
    # prefix-checkpoint discipline; lazy — materializes with the job)
    wb = wb.localCheckpoint(eager=False)
    totals = wb.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("n")
    )
    a = wb.select(
        "word", F.col("event_type").alias("type_a"), F.col("bm").alias("bma")
    )
    b = wb.select(
        "word", F.col("event_type").alias("type_b"), F.col("bm").alias("bmb")
    )
    inter = (
        a.join(b, "word")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("bma").bitwiseAND(F.col("bmb"))))
            .cast("long")
            .alias("inter_users")
        )
        .filter(F.col("inter_users") > 0)
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("users_a")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("users_b")
    )
    un = F.col("users_a") + F.col("users_b") - F.col("inter_users")
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            "inter_users",
            un.cast("long").alias("union_users"),
            (
                F.col("inter_users").cast("double") / un.cast("double")
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "q_interval_union",
    """
WITH iv AS (
    SELECT user_id, event_id,
           epoch_us(ts) AS s,
           epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
    FROM events
    WHERE value IS NOT NULL AND value > 0
),
fl AS (
    SELECT user_id, s, e, event_id,
           CASE WHEN s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS nf
    FROM iv
),
isl AS (
    SELECT user_id, s, e,
           sum(nf) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM fl
),
per AS (
    SELECT user_id, island,
           max(e) - min(s) AS cov,
           sum(e - s) AS raw
    FROM isl GROUP BY user_id, island
)
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(cov) AS BIGINT) AS covered_us,
       CAST(sum(raw) AS BIGINT) AS raw_us,
       CAST(max(cov) AS BIGINT) AS max_island_us,
       CAST(sum(cov) AS DOUBLE) / CAST(sum(raw) AS DOUBLE) AS coverage_ratio
FROM per
""",
)
def q_interval_union(spark, sf_dir):
    # Interval union (merge-overlaps) — the activity-span coverage
    # operator: each event opens a [ts, ts + value seconds) span; per
    # user, overlapping spans merge into islands (classic gaps-and-
    # islands: a span whose start exceeds the running max-end of every
    # earlier span opens a new island), and the report compares merged
    # coverage against the raw sum — the double-counting audit that a
    # naive sum(duration) rollup gets wrong. Determinism: integer
    # microseconds end-to-end (epoch_us + floor(value*1e6) — floor, not
    # cast, because DuckDB rounds double->BIGINT casts while Spark
    # truncates); both windows share the (s, e, event_id) unique tiebreak
    # so the island ids replay identically; the one double division is
    # fixed IEEE off exact integers. Scale shape: every window partitions
    # by user_id (bounded per-user event counts), the island rollup is a
    # combinable groupBy, and the final frame is one row — no global
    # sort anywhere, any input scale.
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    s = F.expr("unix_micros(cast(ts as timestamp))")
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + F.floor(F.col("value") * 1000000.0).cast("long")).alias("e"),
    )
    order = [F.col("s"), F.col("e"), F.col("event_id")]
    wprev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fl = iv.withColumn(
        "nf",
        F.when(F.col("s") > F.max("e").over(wprev), 1).otherwise(0),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = fl.withColumn("island", F.sum("nf").over(wcum))
    per = isl.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("cov"),
        F.sum(F.col("e") - F.col("s")).alias("raw"),
    )
    return per.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("cov").cast("long").alias("covered_us"),
        F.sum("raw").cast("long").alias("raw_us"),
        F.max("cov").cast("long").alias("max_island_us"),
        (F.sum("cov").cast("double") / F.sum("raw").cast("double")).alias(
            "coverage_ratio"
        ),
    )


@register(
    "q_weighted_median",
    """
WITH r AS (
    SELECT l_returnflag AS flag, l_extendedprice AS v,
           CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber,
           sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tw
    FROM lineitem
)
SELECT flag, v AS wmedian, CAST(tw AS BIGINT) AS total_weight
FROM r
WHERE cw >= (tw + 1) // 2 AND cw - w < (tw + 1) // 2
ORDER BY flag
""",
)
def q_weighted_median(spark, sf_dir):
    # Quantity-weighted median price per return flag — the weighted
    # order statistic (each row counts l_quantity times) that a plain
    # median silently gets wrong when line sizes vary. FIFTH consumer of
    # the shared histogram rank-selection, exercising its r8 weighted
    # path: per-cell counts become integer weight sums and the
    # within-cell pick is the first row whose running weight reaches the
    # residual rank (operators/histogram.py::rank_select weight_col) —
    # no weight-expanded multiset is ever materialized, and no window
    # ever sees more than one cell's rows. Weights are exact BIGINTs
    # (l_quantity is integral), so every cumulative is exactly
    # representable and the crossing row can't flip across engines; the
    # median VALUE is carried, never derived. Oracle: the naive
    # single-window running-weight form over each full group — an
    # independent method, so the hash match cross-validates the cell
    # decomposition. Lower weighted median (rank = floor((W+1)/2)) with
    # the (price, l_orderkey, l_linenumber) unique tiebreak on both
    # sides.
    from opc2mongodb_spark.operators.histogram import rank_select

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    r = rank_select(
        li,
        "v",
        [lambda n: F.floor((n + F.lit(1)) / F.lit(2))],
        group_cols=["flag"],
        tiebreak_cols=["l_orderkey", "l_linenumber"],
        weight_col="w",
    )
    return r.select(
        "flag",
        F.col("v").alias("wmedian"),
        F.col("n").alias("total_weight"),
    ).orderBy("flag")


@register(
    "q_rrf_fusion",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
sem AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY {_COS.format(a="v", b="qv")} DESC,
                              vec_id) AS r_sem
    FROM e, q WHERE vec_id <> 0
),
sem50 AS (SELECT doc_id, r_sem FROM sem WHERE r_sem <= 50),
qt AS (
    SELECT DISTINCT unnest(list_distinct(string_split(text, ' '))) AS qtok
    FROM documents WHERE doc_id = 0
),
tk AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents WHERE doc_id <> 0
),
ov AS (
    SELECT doc_id, count(*) AS ov
    FROM tk JOIN qt ON tok = qtok GROUP BY doc_id
),
lex AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY ov DESC, doc_id) AS r_lex
    FROM ov
),
lex50 AS (SELECT doc_id, r_lex FROM lex WHERE r_lex <= 50),
f AS (
    SELECT coalesce(s.doc_id, l.doc_id) AS doc_id,
           CAST(s.r_sem AS BIGINT) AS r_sem,
           CAST(l.r_lex AS BIGINT) AS r_lex,
           coalesce(CAST(1.0 AS DOUBLE) / (60 + s.r_sem), CAST(0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / (60 + l.r_lex), CAST(0 AS DOUBLE))
               AS rrf
    FROM sem50 s FULL OUTER JOIN lex50 l ON s.doc_id = l.doc_id
)
SELECT doc_id, r_sem, r_lex, rrf
FROM f ORDER BY rrf DESC, doc_id LIMIT 20
""",
)
def q_rrf_fusion(spark, sf_dir):
    # Reciprocal-rank fusion — the hybrid-search combiner (Cormack et
    # al. SIGIR'09; what search stacks use to merge a lexical and a
    # semantic ranking without score calibration): top-50 by embedding
    # cosine to query doc 0 fused with top-50 by distinct-token overlap
    # with doc 0, score = sum of 1/(60 + rank) over the lists the doc
    # appears in. Determinism: ranks are integers from totally-ordered
    # (score, doc_id) sorts; RRF terms are single IEEE divisions off
    # small integers (identical bits on both engines); overlap counts
    # are exact integers via the explode/broadcast-join form, NOT
    # list_intersect, so both engines count identically. Scale shape:
    # each ranking is a distributed TakeOrderedAndProject top-50; the
    # only single-partition work (rank over 50 rows, final merge of
    # <=100) is limit-bounded; the query token set and the query vector
    # ride broadcasts — no unbounded window, no cartesian.
    from opc2mongodb_spark.functions.text import distinct_tokens
    from opc2mongodb_spark.functions.vectors import cosine

    emb = _t(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("_qv")
        )
    )
    sem50 = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("embedding"), F.col("_qv")).alias("cs"),
        )
        .orderBy(F.desc("cs"), F.asc("doc_id"))
        .limit(50)
    )
    sem = sem50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cs"), F.asc("doc_id")))
        .cast("long")
        .alias("r_sem"),
    )
    docs = _t(spark, sf_dir, "documents")
    q0 = F.broadcast(
        docs.filter(F.col("doc_id") == 0).select(
            F.explode(distinct_tokens(F.col("text"))).alias("qtok")
        )
    )
    tk = docs.filter(F.col("doc_id") != 0).select(
        "doc_id", F.explode(distinct_tokens(F.col("text"))).alias("tok")
    )
    ov = (
        tk.join(q0, tk.tok == q0.qtok)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    lex50 = ov.orderBy(F.desc("ov"), F.asc("doc_id")).limit(50)
    lex = lex50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("ov"), F.asc("doc_id")))
        .cast("long")
        .alias("r_lex"),
    )
    zero = F.lit(0).cast("double")
    fused = sem.join(lex, "doc_id", "full_outer").select(
        "doc_id",
        "r_sem",
        "r_lex",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_sem")), zero)
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), zero)
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


@register(
    "q_top_paths",
    """
WITH ranked AS (
    SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
           substring(event_type, 1, 1) AS ch,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts, event_id) AS rn
    FROM events
),
seq AS (
    SELECT user_id, day,
           string_agg(ch, '' ORDER BY ts, event_id) AS path
    FROM ranked WHERE rn <= 8
    GROUP BY user_id, day
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM seq
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
""",
)
def q_top_paths(spark, sf_dir):
    # Path analysis (funnel DISCOVERY, the complement of q_funnel's
    # fixed-order check): each user-day session collapses to the ordered
    # string of its FIRST 8 event-type letters (the q_event_pattern
    # injective alphabet + cap discipline — the cap is a row_number
    # window, spillable, never an unbounded per-group array), then the
    # most common journey shapes surface as a plain frequency top-k.
    # Determinism: (ts, event_id) is a unique total order within every
    # session on both engines; counts are exact integers; (count, path)
    # is a unique final ordering. Scale shape: one (user, day) shuffle
    # for the window + sequence rollup, one |distinct paths|-bounded
    # (<= 5^8) combinable groupBy, distributed top-20 — no global sort
    # of raw rows anywhere.
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    capped = (
        ev.select(
            "user_id",
            day.alias("day"),
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("ch"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
    )
    seq = capped.groupBy("user_id", "day").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "ch"))
                ),
                lambda x: x["ch"],
            ),
        ).alias("path")
    )
    return (
        seq.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


@register(
    "q_score_calibration",
    """
WITH s AS (
    SELECT user_id,
           sum(CASE WHEN event_type = 'click'
                    THEN CAST(value AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS score,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
    FROM events GROUP BY user_id
),
t AS (SELECT count(*) AS n FROM s),
ranked AS (
    SELECT score, row_number() OVER (ORDER BY score, user_id) AS i FROM s
),
edges AS (
    SELECT score AS e
    FROM ranked, t
    WHERE i IN (SELECT CAST(ceil(k * t2.n / 10.0) AS BIGINT)
                FROM generate_series(1, 9) AS g(k), t AS t2)
),
b AS (
    SELECT 1 + (SELECT count(*) FROM edges WHERE e < s.score) AS bin,
           s.pos
    FROM s
),
spine AS (SELECT unnest(generate_series(1, 10)) AS bin),
agg AS (
    SELECT s.bin,
           (SELECT count(*) FROM b WHERE b.bin = s.bin) AS n_users,
           (SELECT coalesce(sum(pos), 0) FROM b WHERE b.bin = s.bin)
               AS n_pos
    FROM spine s
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(n_pos AS BIGINT) AS n_pos,
       CASE WHEN n_users = 0 THEN NULL
            ELSE CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE) END
           AS pos_rate
FROM agg
ORDER BY bin
""",
)
def q_score_calibration(spark, sf_dir):
    # Model-calibration curve (the reliability diagram's table form):
    # score every user by decimal-exact total click value, cut the score
    # distribution at its own rank-selected deciles, and report the
    # purchase rate per decile — the monotonicity/calibration audit run
    # on every ranking model before deployment. Determinism: scores STAY
    # DECIMAL through binning (the r8 PCA finding — decimal->double
    # casts differ by 1 ulp across engines, which could flip a user
    # whose score equals an edge into the wrong bin; decimal comparisons
    # cannot), edges are carried score values, counts are exact
    # integers, and the one double division is guarded against empty
    # bins (NULL on both engines). Scale shape: the SIXTH consumer of
    # the shared histogram rank-selection — edges come from cell counts
    # + a <=1024-row cumulative walk + one partitioned within-cell
    # window, never a single-task sort of the per-user frame; the 1-row
    # edge array broadcasts; binning is a pure map pass; everything
    # after runs on a 10-row spine. The ORACLE keeps the naive
    # global-window form, cross-validating the decomposition.
    from opc2mongodb_spark.operators.histogram import (
        bin_spine,
        decile_ranks,
        edge_bin,
        rank_select,
    )

    ev = _t(spark, sf_dir, "events")
    zero = F.lit(0).cast("decimal(18,2)")
    s = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", dec(F.col("value")))
            .otherwise(zero)
        ).alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("pos"),
    )
    deciles = rank_select(
        s,
        "score",
        decile_ranks(),
        tiebreak_cols=["user_id"],
    )
    # 1-row edge frame feeds the single binning pass; persist() so the
    # rank-selection subtree executes once (the q_psi_drift discipline)
    edges_arr = deciles.agg(
        F.array_sort(F.collect_list("score")).alias("es")
    ).persist()
    binned = s.crossJoin(F.broadcast(edges_arr)).select(
        edge_bin(F.col("score"), F.col("es")).alias("bin"),
        "pos",
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("pos").alias("n_pos")
    )
    spine = bin_spine(spark)
    out = spine.join(counts, "bin", "left").select(
        F.col("bin").cast("long").alias("bin"),
        F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
        F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
    )
    return out.select(
        "bin",
        "n_users",
        "n_pos",
        F.when(F.col("n_users") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.col("n_pos").cast("double") / F.col("n_users").cast("double")
        )
        .alias("pos_rate"),
    ).orderBy("bin")
