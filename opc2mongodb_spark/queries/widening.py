"""Query registrations: coverage widening: cube/grouping sets, subqueries, hierarchy, sliding twin, having, sketches, time-series resample/gap/deadband, sampling, pivot.

Mechanically split from the original single-module registry (r9);
registration order and bodies unchanged. Determinism rulebook:
the package docstring (queries/__init__.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from opc2mongodb_spark.opcmodel import OPC_VALUES_SQL_CTE, events_as_opc_values
from opc2mongodb_spark.queries._core import _flip_sql, _t, dec, register, sci9
from opc2mongodb_spark.queries.relational import _CAND_CTES, _COS, _NEARDUP_PROBES, _SIGS_SQL, _TOK_CTE

@register(
    "q_cube",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS cnt,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


@register(
    "q_tag_hierarchy",
    f"""
WITH {OPC_VALUES_SQL_CTE}
SELECT split_part(tag, '.', 1) AS level1,
       split_part(tag, '.', 2) AS level2,
       CAST(len(string_split(tag, '.')) AS INTEGER) AS depth,
       count(*) AS n,
       CAST(sum(CAST(doubleValue AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM opc
GROUP BY 1, 2, 3
""",
)
def q_tag_hierarchy(spark, sf_dir):
    # §1.3: dotted hierarchical tag keys (US.Queens.Latitude) → level columns
    from opc2mongodb_spark.opcmodel import events_as_opc_values

    opc = events_as_opc_values(_t(spark, sf_dir, "events"))
    return (
        opc.select(
            F.split_part(F.col("tag"), F.lit("."), F.lit(1)).alias("level1"),
            F.split_part(F.col("tag"), F.lit("."), F.lit(2)).alias("level2"),
            F.size(F.split(F.col("tag"), r"\.")).alias("depth"),
            F.col("doubleValue"),
        )
        .groupBy("level1", "level2", "depth")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("doubleValue"))).cast("double").alias("total"),
        )
    )


@register(
    "q_scalar_subquery",
    """
SELECT o_orderstatus, count(*) AS n_above_avg
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
GROUP BY o_orderstatus
""",
)
def q_scalar_subquery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    avg_price = o.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )


@register(
    "q_in_subquery",
    """
SELECT c_custkey, c_name
FROM customer
WHERE c_nationkey IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000)
""",
)
def q_in_subquery(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
    return c.join(
        s.select(F.col("s_nationkey").alias("c_nationkey")).distinct(),
        "c_nationkey",
        "left_semi",
    ).select("c_custkey", "c_name")


@register(
    "q_window_sliding",
    """
SELECT win_start, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM (
    SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                   time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
               AS win_start,
           event_type, value
    FROM events
)
GROUP BY 1, 2
""",
)
def q_window_sliding(spark, sf_dir):
    # H2 batch twin: width 10m, slide 5m — each event lands in 2 windows.
    # Spark's window() generates the expansion natively (batch or stream).
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n", "total_value"
        )
    )


@register(
    "q_approx_quantile",
    """
SELECT l_returnflag, TRUE AS within_tol
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_approx_quantile(spark, sf_dir):
    # approx median vs exact, 5% relative tolerance — invariant-style oracle
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    )
    return g.select(
        "l_returnflag",
        (F.abs(F.col("approx") - F.col("exact")) <= 0.05 * F.abs(F.col("exact"))).alias(
            "within_tol"
        ),
    )


@register(
    "q_having",
    """
SELECT o_custkey, count(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 3
""",
)
def q_having(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


@register(
    "q_collect_sorted",
    """
SELECT n_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_nationkey
""",
)
def q_collect_sorted(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("names")
        )
    )


@register(
    "q_pivot",
    """
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END)    AS n_click,
       count(CASE WHEN event_type = 'error' THEN 1 END)    AS n_error,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END)   AS n_signup,
       count(CASE WHEN event_type = 'view' THEN 1 END)     AS n_view
FROM events
GROUP BY user_id
""",
)
def q_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    p = ev.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


@register(
    "q_unpivot",
    """
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount' AS measure, l_discount AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax' AS measure, l_tax AS val
FROM lineitem
""",
)
def q_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    up = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    # align measure labels with the oracle's names
    return up.withColumn(
        "measure",
        F.when(F.col("measure") == "l_quantity", "quantity")
        .when(F.col("measure") == "l_discount", "discount")
        .otherwise("tax"),
    )


# identical double-expression shape in both engines → bit-identical corr
_CORR_EXPR = (
    "(nd * sxy - sx * sy) / "
    "(sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))"
)


@register(
    "q_corr_manual",
    f"""
WITH comp AS (
    SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS nd,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy,
           CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, printf('%.9e', {_CORR_EXPR}) AS corr_qty_price
FROM comp
""",
)
def q_corr_manual(spark, sf_dir):
    # Pearson corr with decimal-exact component sums: the nondeterministic
    # part (float summation order) is eliminated, the double math after is
    # a fixed expression shape → bit-identical across engines.
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    comp = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(dec(q)).cast("double").alias("sx"),
        F.sum(dec(p)).cast("double").alias("sy"),
        F.sum((q * q).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((p * p).cast("decimal(28,4)")).cast("double").alias("syy"),
        F.sum((q * p).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    # rendered at 10 significant digits: decimal->double conversion of
    # >2^53 component sums differs by 1 ulp between engines (measured), so
    # raw doubles cannot hash-match; 10 digits absorbs that while still
    # pinning the statistic far beyond any real-data tolerance.
    return comp.select(
        "l_returnflag",
        sci9(F.expr(_CORR_EXPR)).alias("corr_qty_price"),
    )


# One SQL text, two engines: the spark.sql() entry path is ANSI enough to be
# the oracle too (TPC-H Q1 shape with decimal-pinned aggregates).
_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q_tpch_q1", _TPCH_Q1_SQL)
def q_tpch_q1(spark, sf_dir):
    from opc2mongodb_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q1_SQL)


@register(
    "q_ann_ivf",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN (5, 6, 7, 8)),
assign AS (
    SELECT e.vec_id,
           (min({{'d': list_dot_product(e.v, e.v)
                       - 2 * list_dot_product(e.v, c.cv)
                       + list_dot_product(c.cv, c.cv), 'c': c.cid}})).c AS cell
    FROM e, cent c GROUP BY e.vec_id
),
q AS (
    SELECT a.cell AS qcell, e.v AS qv
    FROM assign a JOIN e ON e.vec_id = a.vec_id WHERE a.vec_id = 0
)
SELECT e.vec_id, a.cell, {_COS.format(a="e.v", b="q.qv")} AS cos_sim
FROM e JOIN assign a ON e.vec_id = a.vec_id, q
WHERE a.cell = q.qcell AND e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def q_ann_ivf(spark, sf_dir):
    # IVF scale path: coarse-quantize to the nearest centroid (data-derived,
    # deterministic), probe only the query's cell. Centroid assignment via
    # squared-L2 = |v|^2 - 2<v,c> + |c|^2, argmin over the broadcast
    # centroid set; at 100 TB this is a broadcast join + map, no shuffle of
    # the embedding table. Multi-probe = relax to the k nearest cells.
    from opc2mongodb_spark.functions.vectors import cosine, dot

    e = _t(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        e.filter(F.col("vec_id").isin([5, 6, 7, 8])).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
    )
    v, cv = F.col("embedding"), F.col("cv")
    d2 = dot(v, v) - 2 * dot(v, cv) + dot(cv, cv)
    assign = (
        e.crossJoin(cents)
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(d2.alias("d"), F.col("cid").alias("c")))["c"].alias(
                "cell"
            )
        )
    )
    with_cell = e.join(assign, "vec_id")
    qcell = F.broadcast(
        with_cell.filter(F.col("vec_id") == 0).select(
            F.col("cell").alias("_qcell"), F.col("embedding").alias("_qv")
        )
    )
    return (
        with_cell.filter(F.col("vec_id") != 0)
        .crossJoin(qcell)
        .filter(F.col("cell") == F.col("_qcell"))
        .select(
            "vec_id",
            "cell",
            cosine(F.col("embedding"), F.col("_qv")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "q_math_transcendental",
    """
SELECT l_orderkey, l_linenumber,
       printf('%.9e', ln(l_extendedprice))        AS ln_price,
       printf('%.9e', exp(l_discount))            AS exp_disc,
       printf('%.9e', pow(l_quantity, 1.5))       AS pow_qty
FROM lineitem
""",
)
def q_math_transcendental(spark, sf_dir):
    # libm vs JVM transcendentals can differ in the last ulp — rendered at
    # 10 significant digits (same policy as q_corr_manual).
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        sci9(F.log(F.col("l_extendedprice"))).alias("ln_price"),
        sci9(F.exp(F.col("l_discount"))).alias("exp_disc"),
        sci9(F.pow(F.col("l_quantity"), F.lit(1.5))).alias(
            "pow_qty"
        ),
    )


def _opcsim_oracle_sql() -> str:
    """DuckDB replay of the opcsim batch query (q_opc_source).

    The simulator is pure md5 arithmetic (sources/opc.py::_render_value) and
    serverTimestamp increases strictly with the sweep counter, so
    last-value-per-(server, tag) over 8 sweeps is exactly the sweep-7
    snapshot (poll-only tags hold the sweep-4 value: eff = (7 // 4) * 4).
    The SQL below replays that final sweep — topology literals come from the
    same packaged example.conf the Spark side reads, and the md5-unit /
    rendering / tri-valued coercion arithmetic mirrors the simulator and
    functions/coercion.py family rules exactly.
    """
    import os

    from opc2mongodb_spark.sources.config import parse_config_file

    conf = os.path.join(os.path.dirname(os.path.dirname(__file__)), "sources", "example.conf")
    topo = parse_config_file(conf)
    rows = ",\n        ".join(
        f"('{s.name}', '{e.mongo_tag}', '{e.opc_type}', "
        f"{'TRUE' if e.subscribe else 'FALSE'}, {s.read_period})"
        for s in topo.servers
        for e in s.entries
    )
    bool_names = "'bool','boolean','system.boolean','vt_bool','state'"
    str_names = (
        "'string','expandednodeid','guid','nodeid','qualifiedname',"
        "'localizedtext','xmlelement','vt_bstr'"
    )
    dt_names = "'time','date','datetime','vt_date'"
    int_names = (
        "'int16','int32','int64','integer','byte','sbyte','uint16',"
        "'uint32','uint64','vt_i1','vt_i2','vt_i4','statuscode'"
    )
    return f"""
WITH topo(server, tag, dataType, subscribe, read_period) AS (
    VALUES {rows}
),
fam AS (
    SELECT *,
           CASE WHEN lower(trim(dataType)) IN ({bool_names}) THEN 'bool'
                WHEN lower(trim(dataType)) IN ({str_names}) THEN 'string'
                WHEN lower(trim(dataType)) IN ({dt_names}) THEN 'datetime'
                WHEN lower(trim(dataType)) IN ({int_names}) THEN 'int'
                ELSE 'float' END AS f,
           CASE WHEN subscribe THEN 7 ELSE 4 END AS eff
    FROM topo
),
unit AS (
    SELECT *,
           CAST(('0x' || substring(md5(tag || '|' || CAST(eff AS VARCHAR)),
                                   1, 12)) AS BIGINT)
               / 281474976710656.0 AS u
    FROM fam
),
raw AS (
    SELECT server, tag, dataType, f,
           CASE f
               WHEN 'bool' THEN CASE WHEN u >= 0.5 THEN 'true' ELSE 'false' END
               WHEN 'string' THEN 's_' ||
                   CAST(CAST(floor(u * 1000000.0) AS BIGINT) AS VARCHAR)
               WHEN 'datetime' THEN strftime(
                   TIMESTAMP '2024-01-01 00:00:00'
                       + to_seconds(CAST(floor(u * 86400.0) AS BIGINT)),
                   '%Y-%m-%d %H:%M:%S')
               WHEN 'int' THEN CAST(CAST(floor(u * 1000.0) AS BIGINT) AS VARCHAR)
               ELSE printf('%.4f', u * 1000.0)
           END AS raw,
           TIMESTAMP '2024-01-01 00:00:00' + to_seconds(7 * read_period)
               AS sourceTimestamp
    FROM unit
),
coerced AS (
    SELECT server, tag, dataType,
           CASE f
               WHEN 'bool' THEN CASE WHEN raw = 'true' THEN 1.0 ELSE 0.0 END
               WHEN 'string' THEN coalesce(try_cast(raw AS DOUBLE), 0.0)
               WHEN 'datetime' THEN CAST(
                   epoch_us(try_cast(raw AS TIMESTAMP)) * 10
                       + 621355968000000000 AS DOUBLE)
               ELSE try_cast(raw AS DOUBLE)
           END AS doubleValue,
           CASE f
               WHEN 'bool' THEN raw = 'true'
               WHEN 'string' THEN coalesce(try_cast(raw AS DOUBLE), 0.0) <> 0.0
               WHEN 'datetime' THEN FALSE
               ELSE try_cast(raw AS DOUBLE) <> 0.0
           END AS boolValue,
           CASE f
               WHEN 'bool' THEN raw
               WHEN 'string' THEN raw
               WHEN 'datetime' THEN CAST(try_cast(raw AS TIMESTAMP) AS VARCHAR)
               ELSE CAST(try_cast(raw AS DOUBLE) AS VARCHAR)
           END AS stringValue,
           sourceTimestamp,
           sourceTimestamp + INTERVAL 1 SECOND AS serverTimestamp,
           CAST(192 AS INTEGER) AS quality
    FROM raw
)
SELECT * FROM coerced
"""


@register("q_opc_source", _opcsim_oracle_sql())
def q_opc_source(spark, sf_dir):
    # A2: the opcsim source (sources/opc.py) + dynamic-dispatch normalize +
    # last-value — the reference's whole topology as one batch query.
    # Oracle-checked: the DuckDB twin replays the simulator's md5 arithmetic
    # and the tri-valued coercion family rules for the final sweep (see
    # _opcsim_oracle_sql). Depth coverage in tests/test_opcsource.py and the
    # golden streaming tests.
    import os

    from opc2mongodb_spark.opcmodel import raw_to_opc_values
    from opc2mongodb_spark.operators.last_value import last_value_per_key
    from opc2mongodb_spark.sources.opc import register as register_opcsim

    register_opcsim(spark)
    conf = os.path.join(os.path.dirname(os.path.dirname(__file__)), "sources", "example.conf")
    raw = (
        spark.read.format("opcsim")
        .option("config", conf)
        .option("sweeps", 8)
        .load()
    )
    return last_value_per_key(
        raw_to_opc_values(raw), ["server", "tag"], "serverTimestamp"
    )


@register(
    "q_bigrams",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT bigram, count(*) AS n
FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS bigram
    FROM toks
)
GROUP BY bigram
""",
)
def q_bigrams(spark, sf_dir):
    # n-gram extraction (shingling building block): array-index transform,
    # no Python. generate_series guarded against 1-token docs in both.
    # spread() before the ~300x generate fan-out: documents is a single
    # small file (1 scan partition locally) and the explode dominates, so
    # locally the docs round-robin across cores. The shuffle DOES carry the
    # document text (the pre-explode rows ARE the documents), which is why
    # spread is gated: at scale the scan is already split and no exchange
    # is added at all (r5 VERDICT #1/#3).
    from opc2mongodb_spark.functions.text import ngram_concat
    from opc2mongodb_spark.plans.spread import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    # zip_with construction (ngram_concat): the transform(sequence,
    # i -> element_at(t, i)...) form re-evaluates t per exploded element
    # (4-5x here, O(len^2) in doc length — see ngram_concat's docstring)
    bigrams = ngram_concat(F.split(F.col("text"), " "), 2)
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_regex_extract",
    """
SELECT event_id,
       regexp_extract(props, '[0-9]+') AS first_num,
       regexp_matches(props, '"k": [0-9]{2}') AS has_2digit_k
FROM events
""",
)
def q_regex_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract(F.col("props"), "[0-9]+", 0).alias("first_num"),
        F.col("props").rlike('"k": [0-9]{2}').alias("has_2digit_k"),
    )


@register(
    "q_sessionize",
    """
WITH marked AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM marked
)
SELECT user_id, session_no,
       min(ts) AS sess_start, max(ts) AS sess_end, count(*) AS n_events
FROM sess
GROUP BY 1, 2
""",
)
def q_sessionize(spark, sf_dir):
    # H3 batch twin: gaps-and-islands sessionization (lag + running sum) —
    # the oracle-checkable form of session_window (streaming/pipeline.py).
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lag_ts = F.lag("ts").over(w)
    is_new = F.when(
        lag_ts.isNull()
        | (F.col("ts") > lag_ts + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", "ts", "event_id", is_new.alias("is_new"))
        .withColumn("session_no", F.sum("is_new").over(wc).cast("bigint"))
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "q_chunk_dedup",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
chunks AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(0, CAST(ceil(len(t) / 16.0) AS INTEGER) - 1),
               i -> array_to_string(t[i * 16 + 1 : i * 16 + 16], ' '))) AS chunk
    FROM toks
)
SELECT md5(chunk) AS fp, min(doc_id) AS keep_doc, count(*) AS n_copies
FROM chunks
GROUP BY 1
""",
)
def q_chunk_dedup(spark, sf_dir):
    # Composed training-data pipeline: chunk (16-token windows) →
    # fingerprint → exact dedup, entirely in Column expressions (the UDTF
    # chunker in functions/udtfs.py is the overlap-capable variant).
    d = _t(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(t) / 16.0).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(t, i * 16 + 1, 16))
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("chunk"))
        .groupBy(F.md5(F.col("chunk")).alias("fp"))
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "q_heavy_hitters",
    """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
tot AS (SELECT count(*) AS n FROM tok),
c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok)
SELECT c.tok, c.cnt
FROM c, tot
WHERE c.cnt > 0.01 * tot.n
""",
)
def q_heavy_hitters(spark, sf_dir):
    # Frequency-threshold filter (exact form of a count-min heavy-hitters
    # pass): token counts vs a broadcast global total.
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > 0.01 * F.col("n"))
        .select("tok", "cnt")
    )


_CMS_D, _CMS_W = 4, 64  # sketch: 4 hash rows x 64 buckets


def _cms_bucket_sql(j: int) -> str:
    return (
        f"CAST('0x' || substring(md5(tok || '#{j}'), 1, 4) AS BIGINT) % {_CMS_W}"
    )


@register(
    "q_heavy_hitters_cms",
    f"""
WITH tok_all AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
hashed AS (
    SELECT tok,
{",".join(f"           {_cms_bucket_sql(j)} AS b{j}" for j in range(_CMS_D))}
    FROM tok_all
),
cells AS (
    SELECT row_id, bucket, count(*) AS cnt FROM (
        {" UNION ALL ".join(f"SELECT {j} AS row_id, b{j} AS bucket FROM hashed" for j in range(_CMS_D))}
    ) GROUP BY 1, 2
),
probes AS (
    SELECT DISTINCT tok, {", ".join(f"b{j}" for j in range(_CMS_D))} FROM hashed
),
est AS (
    SELECT p.tok, min(c.cnt) AS est_count
    FROM ({" UNION ALL ".join(f"SELECT tok, {j} AS row_id, b{j} AS bucket FROM probes" for j in range(_CMS_D))}) p
    JOIN cells c ON c.row_id = p.row_id AND c.bucket = p.bucket
    GROUP BY p.tok
)
SELECT tok, est_count FROM est
ORDER BY est_count DESC, tok ASC
LIMIT 20
""",
)
def q_heavy_hitters_cms(spark, sf_dir):
    # Count-min sketch heavy hitters: the 100 TB form of q_heavy_hitters.
    # The sketch is d x w = 256 integer cells — ONE map-side-combinable
    # groupBy regardless of vocabulary size, then a broadcast probe join for
    # the estimates. md5-derived bucket hashing makes the sketch replayable
    # bit-for-bit in the DuckDB oracle; counts are integers, so parity is
    # exact. Estimates are conservative (est >= true count), deterministic
    # on both engines.
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))

    def bucket(j):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.col("tok"), F.lit(f"#{j}"))), 1, 4),
                16,
                10,
            ).cast("bigint")
            % _CMS_W
        )

    hashed = toks.select(
        "tok", *[bucket(j).alias(f"b{j}") for j in range(_CMS_D)]
    )
    cell_rows = hashed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_id"), F.col(f"b{j}").alias("bucket")
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.row_id", "c.bucket")
    cells = cell_rows.groupBy("row_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    probes = hashed.distinct().select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_id"), F.col(f"b{j}").alias("bucket")
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("tok", "p.row_id", "p.bucket")

    est = (
        probes.join(F.broadcast(cells), ["row_id", "bucket"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est_count"))
    )
    return est.orderBy(F.col("est_count").desc(), F.col("tok").asc()).limit(20)


@register(
    "q_corpus_keep_list",
    r"""
WITH f AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           CAST(CASE WHEN len(string_split(text, ' ')) >= 50
                          AND length(replace(text, ' ', ''))
                              / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3.0
                          AND length(replace(text, ' ', ''))
                              / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 12.0
                     THEN 3
                     WHEN len(string_split(text, ' ')) >= 20
                          AND length(replace(text, ' ', ''))
                              / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 2.0
                     THEN 2
                     WHEN len(string_split(text, ' ')) >= 5 THEN 1
                     ELSE 0 END AS INTEGER) AS q_band
    FROM documents
),
reps AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY fp)
SELECT f.doc_id,
       f.doc_id = r.keep_id AS is_rep,
       f.q_band,
       (f.doc_id = r.keep_id) AND (f.q_band >= 2) AS keep
FROM f JOIN reps r ON r.fp = f.fp
""",
)
def q_corpus_keep_list(spark, sf_dir):
    # End-to-end training-data gate: a doc survives if it is the exact-dedup
    # representative of its content fingerprint AND clears the quality band.
    # Window-min over the fingerprint: ONE scan of documents and ONE shuffle
    # (on fp, after text is projected away) — the agg+join-back form scans
    # the table twice. This is the keep-list a 100 TB corpus build would
    # hand to the tokenizer stage.
    from opc2mongodb_spark.functions.text import fingerprint, quality_band

    d = _t(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        quality_band(F.col("text")).alias("q_band"),
    )
    keep_id = F.min("doc_id").over(Window.partitionBy("fp"))
    is_rep = F.col("doc_id") == keep_id
    return f.select(
        "doc_id",
        is_rep.alias("is_rep"),
        "q_band",
        (is_rep & (F.col("q_band") >= 2)).alias("keep"),
    )


@register(
    "q_ann_multiprobe",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
anch AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id IN (1, 2, 3, 4)),
bits AS (
    SELECT e.vec_id,
           string_agg(CASE WHEN list_dot_product(e.v, a.av) > 0
                           THEN '1' ELSE '0' END, '' ORDER BY a.aid) AS bucket
    FROM e, anch a GROUP BY e.vec_id
),
q AS (
    SELECT [b.bucket, {", ".join(_flip_sql("b.bucket", p, 4) for p in range(1, 5))}]
               AS probes,
           e.v AS qv
    FROM bits b JOIN e ON e.vec_id = b.vec_id WHERE b.vec_id = 0
)
SELECT e.vec_id, b.bucket, {_COS.format(a="e.v", b="q.qv")} AS cos_sim
FROM e JOIN bits b ON e.vec_id = b.vec_id, q
WHERE list_contains(q.probes, b.bucket) AND e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def q_ann_multiprobe(spark, sf_dir):
    from opc2mongodb_spark.operators.similarity import ann_multiprobe_topk

    return ann_multiprobe_topk(
        _t(spark, sf_dir, "embeddings"), query_id=0, anchor_ids=[1, 2, 3, 4], k=10
    )


@register(
    "q_brand_revenue",
    """
SELECT p.p_brand,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_items,
       CAST(min(p.p_size) AS INTEGER) AS min_size,
       CAST(max(p.p_size) AS INTEGER) AS max_size
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def q_brand_revenue(spark, sf_dir):
    # exercises the part dimension (last unused catalog table): fact->dim
    # join + revenue rollup by brand; part is broadcast-size at any SF here
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.min("p_size").cast("int").alias("min_size"),
            F.max("p_size").cast("int").alias("max_size"),
        )
    )


@register(
    "q_sample_n_per_key",
    """
SELECT event_id, event_type, value
FROM (
    SELECT event_id, event_type, value,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
    FROM events
) WHERE rn <= 20
""",
)
def q_sample_n_per_key(spark, sf_dir):
    # Exactly-N-per-stratum carve-out (eval sets, labeling batches): rank by
    # md5 of the id — a deterministic pseudo-random order both engines
    # compute identically — and keep the first 20 per event_type. One
    # shuffle on the stratum key; the md5 ranking pushes no data movement
    # beyond the window sort. Complements q_stratified_sample (fractional).
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("event_id", "event_type", "value")
    )


@register(
    "q_cluster_representatives",
    f"""
WITH RECURSIVE {_TOK_CTE}, {_SIGS_SQL},
{_CAND_CTES},
edges AS (
    SELECT a_id, b_id FROM cand
    UNION ALL
    SELECT b_id, a_id FROM cand
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst
),
clusters AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
scored AS (
    SELECT cl.cluster_id, d.doc_id, length(d.text) AS n_chars
    FROM clusters cl JOIN documents d ON d.doc_id = cl.doc_id
)
SELECT cluster_id, doc_id AS keep_id, CAST(n_chars AS INTEGER) AS n_chars
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM scored
) WHERE rn = 1
""",
)
def q_cluster_representatives(spark, sf_dir):
    # Curation policy on dedup clusters: keep the LONGEST member (tie: min
    # doc_id) — the "best representative" step after q_dedup_clusters, where
    # keep-min-id is replaced by a quality criterion. One window over the
    # ~|docs| cluster table; text length computed before the shuffle so only
    # (cluster_id, doc_id, n_chars) moves.
    from opc2mongodb_spark.operators.components import connected_components
    from opc2mongodb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text")
    cand = lsh_candidate_pairs(sigs, "doc_id").filter(F.col("est_jaccard") >= 0.5)
    clusters = connected_components(d.select("doc_id"), cand, "doc_id")
    scored = clusters.join(
        d.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").cast("int").alias("n_chars"),
        )
    )


@register(
    "q_tpch_q3",
    """
SELECT l.l_orderkey,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3(spark, sf_dir):
    # TPC-H Q3 (shipping priority): selective dim filter -> broadcast, fact
    # filter pushed to the scan, decimal-pinned revenue, top-10 via
    # TakeOrderedAndProject with the unique grouped key as tiebreaker.
    c = F.broadcast(
        _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q_tpch_q4",
    """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
""",
)
def q_tpch_q4(spark, sf_dir):
    # TPC-H Q4 (order priority checking): correlated EXISTS with a
    # non-equi residual -> LEFT SEMI join (each order emitted at most once,
    # no post-join dedup), then a map-side-combinable count.
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q_tpch_q6",
    """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_tpch_q6(spark, sf_dir):
    # TPC-H Q6 (forecasting revenue change): the pure scan-efficiency query —
    # every predicate reaches the parquet scan as a pushed filter and the
    # read schema is 4 columns; the aggregate is a single partial+final pair.
    # tests/test_operators.py asserts the pushdown and pruned ReadSchema.
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec(F.col("l_extendedprice") * F.col("l_discount"), 4))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_tpch_q5",
    """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
""",
)
def q_tpch_q5(spark, sf_dir):
    # TPC-H Q5 (local supplier volume): the six-table star. Scale shape:
    # region->nation->supplier collapse into ONE broadcast dim (tiny at any
    # scale — suppliers of one region), the order-date filter pushes to the
    # orders scan, and the only big-big shuffles are lineitem x orders and
    # x customer on their natural keys. The local-supplier condition
    # (c_nationkey = s_nationkey) rides the broadcast join as a residual —
    # no extra shuffle. Decimal-pinned revenue; n_name is the unique
    # ORDER BY tiebreaker.
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        r, F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = F.broadcast(
        _t(spark, sf_dir, "supplier").join(
            n, F.col("s_nationkey") == F.col("n_nationkey")
        )
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q_tpch_q10",
    """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
)
def q_tpch_q10(spark, sf_dir):
    # TPC-H Q10 (returned item reporting): who to blame for returns. The
    # returnflag + date filters push to both fact scans; nation broadcasts;
    # the top-20 runs as TakeOrderedAndProject with c_custkey (unique per
    # group) breaking revenue ties. c_acctbal is grouped RAW (a stored
    # parquet double, no arithmetic) so cross-engine equality is exact.
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q_tpch_q14",
    """
SELECT 100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,4))
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
            / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(18,4))) AS DOUBLE) AS promo_pct,
       count(*) AS n_rows
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def q_tpch_q14(spark, sf_dir):
    # TPC-H Q14 (promotion effect): conditional-aggregate ratio over a
    # broadcast part join; the date filter pushes to the lineitem scan.
    # Both sums are decimal-pinned (order-insensitive), each cast to double
    # BEFORE the one IEEE division — exact cross-engine, no render needed
    # (sums stay far under the 2^53 decimal->double line at bench SFs).
    p = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                100.0
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q_tpch_q18",
    """
WITH big AS (
    SELECT l_orderkey
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN big ON big.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
""",
)
def q_tpch_q18(spark, sf_dir):
    # TPC-H Q18 (large volume customers): the HAVING-driven semi-join. The
    # big-order keyset is a map-side-combinable groupBy over ONLY
    # (l_orderkey, l_quantity) — two pruned columns — then a LEFT SEMI join
    # prunes orders BEFORE the customer join and the re-aggregation, so the
    # second pass over lineitem touches only qualifying orders' rows.
    # Decimal-pinned quantity sums on both passes; o_orderkey (unique per
    # group) breaks totalprice ties in the top-100.
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec(F.col("l_quantity"), 4)).alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec(F.col("l_quantity"), 4)).cast("double").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q_skew_agg",
    """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
FROM events
GROUP BY event_type
""",
)
def q_skew_agg(spark, sf_dir):
    # Hot-key aggregation through the SALTED two-phase path (operators/
    # skew.py): event_type has only 5 values, so each key owns ~20% of the
    # table — at 100 TB a plain groupBy pins 5 reducers with everything.
    # salted_aggregate spreads phase 1 over (key, salt) and merges ~5*16
    # partial rows in phase 2. Decimal-pinned sum, final DOUBLE on both
    # sides; the oracle twin is the plain GROUP BY (salting is a physical
    # rewrite, not a semantic one).
    from opc2mongodb_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    return salted_aggregate(
        ev,
        ["event_type"],
        partial_aggs=[
            F.count(F.lit(1)).alias("_c"),
            F.sum(dec(F.col("value"))).alias("_s"),
            F.max(dec(F.col("value"))).alias("_m"),
        ],
        final_aggs=[
            F.sum("_c").alias("n_events"),
            F.sum("_s").cast("double").alias("total_value"),
            F.max("_m").cast("double").alias("max_value"),
        ],
        n_salts=16,
    )


@register(
    "q_grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS cnt,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def q_grouping_sets(spark, sf_dir):
    # Explicit GROUPING SETS (the general form under rollup/cube): one pass,
    # Spark expands the sets map-side (Expand node) so the input is scanned
    # ONCE regardless of how many sets — at 100 TB that beats unioning three
    # separate aggregations 3x on scan cost. grouping() markers disambiguate
    # a genuine NULL key from a superaggregate row.
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


@register(
    "q_window_ntile",
    """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cum_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
""",
)
def q_window_ntile(spark, sf_dir):
    # Distribution window functions: ntile/percent_rank/cume_dist complete
    # the ranking family (F1 covers rank/dense_rank/row_number). The unique
    # o_orderkey tiebreaker makes rank == row_number, so percent_rank and
    # cume_dist are exact small-integer divisions (k-1)/(n-1) and k/n —
    # bit-identical across engines, compared raw. ntile is INT on Spark,
    # BIGINT on DuckDB -> CAST both.
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@register(
    "q_tfidf_topk",
    r"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (
    SELECT tok, count(*) AS df
    FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.tok, tf.tf, df.df,
           printf('%.9e', CAST(tf.tf AS DOUBLE)
                  * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)))
               AS tfidf,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC)
               AS rn
    FROM tf JOIN df USING (tok), n
)
SELECT doc_id, tok, tf, df, tfidf FROM scored WHERE rn <= 3
""",
)
def q_tfidf_topk(spark, sf_dir):
    # TF-IDF top terms per document — the classic corpus-weighting op for a
    # training-data pipeline. Scale shape: tf is one map-side-combinable
    # groupBy of the exploded tokens; df is a tiny vocabulary-sized table
    # (31 tokens here, <=a few million at 100 TB) -> BROADCAST back onto tf,
    # as is the 1-row corpus count; the only big shuffles are the token
    # groupBys. Determinism: ranking uses the integer key (tf DESC, df ASC,
    # tok ASC) — ln-monotone per-doc and immune to the libm-vs-JVM last-ulp
    # divergence; the transcendental score itself is rendered %.9e per the
    # module contract.
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            sci9(F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))).alias("tfidf"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "q_histogram",
    """
WITH b AS (
    SELECT CAST(floor(value / 25.0) AS INTEGER) AS bucket FROM events
)
SELECT bucket, count(*) AS n,
       CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE)
           AS pct
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def q_histogram(spark, sf_dir):
    # Fixed-width value histogram — the profiling primitive behind every
    # "distribution looks wrong" alarm. One map-side-combinable groupBy
    # into #buckets rows; the pct window runs on those rows, not the data.
    # floor(value/25.0) on raw stored doubles is exact cross-engine, and
    # integer counts divide to exact doubles.
    ev = _t(spark, sf_dir, "events")
    g = (
        ev.select(
            F.floor(F.col("value") / F.lit(25.0)).cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    return g.select(
        "bucket",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias(
            "pct"
        ),
    ).orderBy("bucket")


@register(
    "q_profile_columns",
    """
SELECT 'l_orderkey' AS col, count(*) AS n_rows,
       count(*) - count(l_orderkey) AS n_nulls,
       count(DISTINCT l_orderkey) AS n_distinct,
       CAST(min(l_orderkey) AS VARCHAR) AS min_val,
       CAST(max(l_orderkey) AS VARCHAR) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
       count(DISTINCT l_quantity),
       printf('%.9e', min(l_quantity)), printf('%.9e', max(l_quantity))
FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
       count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
       count(DISTINCT l_shipdate),
       strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
       strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')
FROM lineitem
ORDER BY col
""",
)
def q_profile_columns(spark, sf_dir):
    # Column profiling (the engine's data-quality surface): per-column row
    # / null / exact-distinct counts plus rendered min/max, one row per
    # column across the four lineitem type families (integer, double,
    # string, timestamp). Scale: each leg is a single-pass aggregate over
    # one column (scan-pruned); count(DISTINCT) is the exact two-phase
    # expand — at 100 TB swap in approx_count_distinct per the D3 pattern
    # when exactness isn't required. Renders pin the cross-engine forms:
    # %.9e for doubles, fixed strftime for timestamps, raw for
    # strings/ints.
    li = _t(spark, sf_dir, "lineitem")

    def leg(col, mn, mx):
        return li.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_val"),
            mx.alias("max_val"),
        )

    legs = [
        leg(
            "l_orderkey",
            F.min("l_orderkey").cast("string"),
            F.max("l_orderkey").cast("string"),
        ),
        leg(
            "l_quantity",
            sci9(F.min("l_quantity")),
            sci9(F.max("l_quantity")),
        ),
        leg("l_returnflag", F.min("l_returnflag"), F.max("l_returnflag")),
        leg(
            "l_shipdate",
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd HH:mm:ss"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd HH:mm:ss"),
        ),
    ]
    out = legs[0]
    for more in legs[1:]:
        out = out.unionAll(more)
    return out.orderBy("col")


@register(
    "q_bm25_topk",
    r"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
df AS (
    SELECT tok, count(*) AS df
    FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
),
n AS (SELECT count(*) AS n_docs FROM documents),
avg AS (
    SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl
),
scored AS (
    SELECT tf.doc_id, tf.tok, tf.tf, df.df, dl.dl,
           printf('%.9e',
               ln((CAST(n.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                  / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * (1.0 - 0.75
                           + 0.75 * CAST(dl.dl AS DOUBLE) / avg.avgdl)))
               AS bm25,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC)
               AS rn
    FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), n, avg
)
SELECT doc_id, tok, tf, df, dl, bm25 FROM scored WHERE rn <= 3
""",
)
def q_bm25_topk(spark, sf_dir):
    # Okapi BM25 term weights (k1=1.2, b=0.75, the +1-smoothed
    # Robertson/Sparck Jones idf) — tf-idf's production successor for
    # retrieval-based curation. Same scale shape as q_tfidf_topk: one
    # combinable tf groupBy, vocabulary-sized df + 1-row corpus stats
    # BROADCAST back on, ranking by the integer key (tf DESC, df ASC, tok)
    # so the window never compares transcendentals; the BM25 score is
    # rendered %.9e with the expression tree mirrored association-for-
    # association against the oracle.
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    avg = dl.agg(
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl")
    )
    tfd, dfd, dld = (
        F.col("tf").cast("double"),
        F.col("df").cast("double"),
        F.col("dl").cast("double"),
    )
    idf = F.ln(
        (F.col("n_docs").cast("double") - dfd + F.lit(0.5))
        / (dfd + F.lit(0.5))
        + F.lit(1.0)
    )
    bm25 = (
        idf
        * (tfd * F.lit(2.2))
        / (
            tfd
            + F.lit(1.2)
            * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * dld / F.col("avgdl"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(avg))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            "dl",
            sci9(bm25).alias("bm25"),
        )
    )


@register(
    "q_pmi_bigrams",
    r"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks
),
cab AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram),
uni AS (
    SELECT tok, count(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY tok
),
tot AS (
    SELECT CAST((SELECT sum(c) FROM uni) AS BIGINT) AS nu,
           CAST((SELECT sum(c_ab) FROM cab) AS BIGINT) AS nb
)
SELECT c.bigram, c.c_ab, ua.c AS c_a, ub.c AS c_b,
       printf('%.9e',
           ln(CAST(c.c_ab AS DOUBLE) * CAST(t.nu AS DOUBLE)
              * CAST(t.nu AS DOUBLE)
              / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)
                 * CAST(t.nb AS DOUBLE)))) AS pmi
FROM cab c
JOIN uni ua ON ua.tok = string_split(c.bigram, ' ')[1]
JOIN uni ub ON ub.tok = string_split(c.bigram, ' ')[2]
CROSS JOIN tot t
ORDER BY c.c_ab DESC, c.bigram ASC
LIMIT 50
""",
)
def q_pmi_bigrams(spark, sf_dir):
    # Pointwise mutual information for adjacent-token collocations —
    # PMI(a,b) = ln(p(ab) / (p(a) p(b))) with unigram probabilities over
    # the token stream and the bigram probability over the bigram stream.
    # The collocation detector every corpus-analysis pass wants (phrases,
    # boilerplate idioms, tokenizer-merge candidates). Scale: bigram and
    # unigram counts are combinable groupBys; unigram counts are
    # vocabulary-sized -> broadcast; the 1-row totals broadcast; top-50 by
    # the integer (c_ab, bigram) key, never by the transcendental. The
    # double products stay under 2^53 at bench SFs (documented headroom);
    # pmi is rendered %.9e with the same association order as the oracle.
    from opc2mongodb_spark.functions.text import ngram_concat

    d = _t(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    # zip_with form: the sequence/element_at build re-evaluates t per
    # exploded bigram (ngram_concat docstring; this query was cohort 0's
    # heaviest clean sf1 point at 29.5 s before the rewrite)
    bg = d.select(F.explode(ngram_concat(t, 2)).alias("bigram"))
    cab = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        d.select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nu = uni.agg(F.sum("c").cast("long").alias("nu"))
    nb = cab.agg(F.sum("c_ab").cast("long").alias("nb"))
    ua = uni.select(F.col("tok").alias("_ta"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("_tb"), F.col("c").alias("c_b"))
    pmi = F.ln(
        F.col("c_ab").cast("double")
        * F.col("nu").cast("double")
        * F.col("nu").cast("double")
        / (
            F.col("c_a").cast("double")
            * F.col("c_b").cast("double")
            * F.col("nb").cast("double")
        )
    )
    return (
        cab.withColumn("_ta", F.split(F.col("bigram"), " ")[0])
        .withColumn("_tb", F.split(F.col("bigram"), " ")[1])
        .join(F.broadcast(ua), "_ta")
        .join(F.broadcast(ub), "_tb")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            sci9(pmi).alias("pmi"),
        )
        .orderBy(F.desc("c_ab"), F.asc("bigram"))
        .limit(50)
    )


@register(
    "q_kmeans_iter",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN (5, 6, 7, 8)),
assign AS (
    SELECT e.vec_id,
           (min({'d': list_dot_product(e.v, e.v)
                       - 2 * list_dot_product(e.v, c.cv)
                       + list_dot_product(c.cv, c.cv), 'c': c.cid})).c AS cell
    FROM e, cent c GROUP BY e.vec_id
),
comp AS (
    SELECT a.cell AS cid, t.d AS dim,
           sum(CAST(e.v[t.d] AS DECIMAL(28,12))) AS s,
           count(*) AS cnt
    FROM e JOIN assign a ON e.vec_id = a.vec_id, range(1, 65) t(d)
    GROUP BY a.cell, t.d
)
SELECT cid, max(cnt) AS n_members,
       list(printf('%.9e', CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
            ORDER BY dim) AS centroid
FROM comp GROUP BY cid
""",
)
def q_kmeans_iter(spark, sf_dir):
    # One Lloyd iteration of k-means: assign every vector to its nearest
    # seed centroid (squared-L2 via dot products, broadcast centroid set, no
    # shuffle of the embedding table), then recompute each cell's mean with
    # the two-phase decimal-pinned posexplode sum — per-task state bounded
    # by K x D, never by cluster membership (operators/kmeans.py). The
    # decimal pin makes the sum order-insensitive, so DuckDB's sequential
    # sum and Spark's partial-aggregated sum agree exactly; the rendered
    # component is %.9e after the decimal -> double cast.
    from opc2mongodb_spark.operators.kmeans import assign_cells, centroid_update

    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id").isin([5, 6, 7, 8])).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = assign_cells(e, cents)
    return centroid_update(e, assign)


@register(
    "q_lloyd_converged",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN (5, 6, 7, 8)),
a1 AS (
    SELECT e.vec_id,
           (min({'d': list_dot_product(e.v, e.v)
                 - 2 * list_dot_product(e.v, c.cv)
                 + list_dot_product(c.cv, c.cv), 'c': c.cid})).c AS cell
    FROM e, cent0 c GROUP BY e.vec_id
),
comp1 AS (
    SELECT a.cell AS cid, t.d AS dim,
           sum(CAST(e.v[t.d] AS DECIMAL(28,12))) AS s,
           count(*) AS cnt
    FROM e JOIN a1 a ON e.vec_id = a.vec_id, range(1, 65) t(d)
    GROUP BY a.cell, t.d
),
cent1 AS (
    SELECT cid, list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY dim) AS cv
    FROM comp1 GROUP BY cid
),
a2 AS (
    SELECT e.vec_id,
           (min({'d': list_dot_product(e.v, e.v)
                 - 2 * list_dot_product(e.v, c.cv)
                 + list_dot_product(c.cv, c.cv), 'c': c.cid})).c AS cell
    FROM e, cent1 c GROUP BY e.vec_id
),
comp2 AS (
    SELECT a.cell AS cid, t.d AS dim,
           sum(CAST(e.v[t.d] AS DECIMAL(28,12))) AS s,
           count(*) AS cnt
    FROM e JOIN a2 a ON e.vec_id = a.vec_id, range(1, 65) t(d)
    GROUP BY a.cell, t.d
)
SELECT cid, max(cnt) AS n_members,
       list(printf('%.9e', CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
            ORDER BY dim) AS centroid
FROM comp2 GROUP BY cid
""",
)
def q_lloyd_converged(spark, sf_dir):
    # TWO chained Lloyd rounds as one declarative plan — the convergence
    # loop's cross-engine coverage, not just its single-step pieces
    # (operators/kmeans.py::lloyd drives the same composition with a
    # driver-side convergence check; here round 2's centroids come straight
    # from round 1's decimal-pinned means with no collect at all, so the
    # whole two-round pipeline is one Catalyst plan: broadcast assign ->
    # bounded two-phase mean -> broadcast assign -> bounded mean).
    # Cross-engine: the r1 means are decimal-pinned sums cast to double
    # then IEEE-divided (bit-identical both engines), so round 2's
    # distance folds and the (d2, cid)-struct argmin tiebreak replay
    # exactly; the final render is the %.9e oracle form.
    from opc2mongodb_spark.operators.kmeans import (
        assign_cells,
        centroid_means,
        centroid_update,
    )

    e = _t(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id").isin([5, 6, 7, 8])).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    a1 = assign_cells(e, seeds)
    c1 = centroid_means(e, a1).select("cid", F.col("centroid").alias("cv"))
    a2 = assign_cells(e, c1)
    return centroid_update(e, a2)


@register(
    "q_decontaminate",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tri AS (
    SELECT DISTINCT doc_id, tri FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   AS tri
        FROM t)
),
bench AS (SELECT DISTINCT tri FROM tri WHERE doc_id % 97 = 0),
train AS (SELECT * FROM tri WHERE doc_id % 97 <> 0),
hits AS (
    SELECT tr.doc_id, count(*) AS n_hit
    FROM train tr JOIN bench b USING (tri) GROUP BY tr.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_tri FROM train GROUP BY doc_id)
SELECT s.doc_id, s.n_tri, coalesce(h.n_hit, 0) AS n_hit,
       CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(s.n_tri AS DOUBLE)
           AS hit_frac,
       CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(s.n_tri AS DOUBLE) >= 0.25
           AS contaminated
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
""",
)
def q_decontaminate(spark, sf_dir):
    # Benchmark decontamination: flag training docs sharing 3-gram shingles
    # with a held-out eval set (doc_id % 97 — stand-in for the real
    # benchmark corpus). Scale shape: eval suites are MBs even when the
    # corpus is 100 TB, so the benchmark shingle set BROADCASTs and the
    # training side is one scan + a map-side left-semi probe + one
    # combinable groupBy on doc_id — no shuffle of the n-gram explosion.
    # hit_frac is an int/int division -> raw double hash-match.
    from opc2mongodb_spark.functions.text import ngram_concat

    d = _t(spark, sf_dir, "documents")
    # zip_with form — the sequence/element_at build re-evaluates the
    # token array per exploded shingle (ngram_concat docstring)
    tri = ngram_concat(F.split(F.col("text"), " "), 3)
    shingled = d.select(
        "doc_id", F.explode(F.array_distinct(tri)).alias("tri")
    )
    bench = F.broadcast(
        shingled.filter(F.col("doc_id") % 97 == 0).select("tri").distinct()
    )
    train = shingled.filter(F.col("doc_id") % 97 != 0)
    hits = (
        train.join(bench, "tri", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tri"))
    frac = F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col(
        "n_tri"
    ).cast("double")
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_tri",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        frac.alias("hit_frac"),
        (frac >= 0.25).alias("contaminated"),
    )


@register(
    "q_repetition",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (
    SELECT doc_id, toks,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1]) AS bigs
    FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(list_max(list_transform(list_distinct(toks),
                     x -> len(list_filter(toks, y -> y = x)))) AS INTEGER)
           AS top_tf,
       CAST(list_max(list_transform(list_distinct(toks),
                     x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS top_tok_frac,
       CAST(len(bigs) - len(list_distinct(bigs)) AS DOUBLE)
           / CAST(len(bigs) AS DOUBLE) AS dup_bigram_frac
FROM b
""",
)
def q_repetition(spark, sf_dir):
    # Gopher-style within-document repetition signals: most-frequent-token
    # fraction and duplicate-bigram fraction. Deliberately SHUFFLE-FREE:
    # both signals are pure array expressions per row (distinct tokens x
    # occurrence filter, bigram distinct), so at 100 TB this is a map-only
    # pass that composes onto the scan of any other per-doc gate — no
    # explode, no groupBy, nothing moves. Integer ratios -> raw doubles.
    d = _t(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    n_tok = F.size(t)
    top_tf = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda x: F.size(F.filter(t, lambda y: y == x)),
        )
    )
    idx = F.when(
        n_tok >= 2, F.sequence(F.lit(1), n_tok - 1)
    ).otherwise(F.array().cast("array<int>"))
    bigs = F.transform(
        idx,
        lambda i: F.concat(F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)),
    )
    return d.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        top_tf.cast("int").alias("top_tf"),
        (top_tf.cast("double") / n_tok.cast("double")).alias("top_tok_frac"),
        (
            (F.size(bigs) - F.size(F.array_distinct(bigs))).cast("double")
            / F.size(bigs).cast("double")
        ).alias("dup_bigram_frac"),
    )


@register(
    "q_shard_assign",
    """
WITH a AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS ord,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 16 AS INTEGER) AS shard
    FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
            AS INTEGER) AS pos
FROM a
""",
)
def q_shard_assign(spark, sf_dir):
    # Deterministic training-shard assignment: shard = first 8 md5 nibbles
    # mod 16 (uniform), position = md5 order within the shard — a
    # reproducible global shuffle, the final step of every training-data
    # pipeline (shard files must be balanced AND the within-shard order
    # "random" but replayable). This calls the REAL operator
    # (operators/sharding.py::shard_assignment), so the oracle validates
    # the exact conv(substring(md5, 1, 8), 16, 10) pmod n formula the shard
    # writer uses — DuckDB's CAST('0x'||hex AS BIGINT) parses the same 8
    # nibbles, and % equals pmod on the non-negative parsed value. At scale
    # this IS the write plan: repartition(n_shards, shard) +
    # sortWithinPartitions streams each shard to its file with one shuffle
    # and no driver involvement (write_training_shards). md5 ranking
    # replays identically in both engines (same trick as
    # q_sample_n_per_key).
    from opc2mongodb_spark.operators.sharding import shard_assignment

    d = _t(spark, sf_dir, "documents").select("doc_id")
    a = shard_assignment(d, "doc_id", 16)
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    return a.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("pos")
    )


@register(
    "q_pack_sequences",
    r"""
WITH a AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
           md5(CAST(doc_id AS VARCHAR)) AS ord,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 16 AS INTEGER) AS shard
    FROM documents
),
c AS (
    SELECT doc_id, shard, n_tok,
           sum(CAST(n_tok AS BIGINT))
               OVER (PARTITION BY shard ORDER BY ord, doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tok AS tok_start
    FROM a
)
SELECT doc_id, shard,
       CAST(tok_start // 512 AS INTEGER) AS pack_id,
       CAST(tok_start % 512 AS INTEGER) AS pack_offset,
       n_tok
FROM c
""",
)
def q_pack_sequences(spark, sf_dir):
    # Sequence packing — the step between curation and the trainer: lay
    # documents end-to-end into fixed token-budget training sequences
    # (GPT-style pretraining packs docs back-to-back and splits at sequence
    # boundaries; (shard, pack_id, pack_offset) IS that layout). Each doc
    # gets the pack where it STARTS plus its token offset, from a running
    # token cumsum in the md5-replayable shard order (same shuffle/ordering
    # contract as write_training_shards — this is the write plan's
    # manifest). Scale: one shuffle to the per-shard windows; shard count
    # grows with the corpus so the per-shard sort stays bounded — there is
    # never a global window. Integer token counts -> the cumsum, division
    # and modulo are exact cross-engine.
    from opc2mongodb_spark.functions.text import token_count
    from opc2mongodb_spark.operators.sharding import shard_assignment

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    a = shard_assignment(d, "doc_id", 16)
    w = (
        Window.partitionBy("shard")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(F.col("n_tok").cast("long")).over(w) - F.col("n_tok")
    return a.select(
        "doc_id",
        "shard",
        (start / 512).cast("int").alias("pack_id"),
        F.pmod(start, F.lit(512)).cast("int").alias("pack_offset"),
        "n_tok",
    )


@register(
    "q_split_assign",
    r"""
WITH a AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100 AS INTEGER) AS bucket
    FROM documents
),
s AS (
    SELECT doc_id, n_tok,
           CASE WHEN bucket < 96 THEN 'train'
                WHEN bucket < 98 THEN 'val'
                ELSE 'test' END AS split
    FROM a
)
SELECT split,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE)
           AS pct_docs
FROM s GROUP BY split
ORDER BY split
""",
)
def q_split_assign(spark, sf_dir):
    # Deterministic train/val/test split + audit: the bucket is the same
    # md5 formula the shard writer uses (mod 100), so membership is a pure
    # function of the id — re-running the pipeline, adding documents, or
    # changing cluster size never moves an existing doc across splits (the
    # property hold-out sets require). The audit aggregates per-split doc
    # and token counts plus the realized fraction; at 100 TB the heavy part
    # is one map-side-combinable groupBy into 3 rows — the pct window runs
    # on those 3 rows, not the data. Integer counts divide to exact doubles
    # cross-engine.
    from opc2mongodb_spark.functions.text import token_count
    from opc2mongodb_spark.operators.sharding import shard_assignment

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    a = shard_assignment(d, "doc_id", 100)
    split = (
        F.when(F.col("shard") < 96, "train")
        .when(F.col("shard") < 98, "val")
        .otherwise("test")
    )
    g = (
        a.select(split.alias("split"), "n_tok")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    return g.select(
        "split",
        "n_docs",
        "n_tokens",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("pct_docs"),
    ).orderBy("split")


@register(
    "q_boilerplate_ngrams",
    r"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
    SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 7),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                        || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]
                        || ' ' || toks[i+6] || ' ' || toks[i+7])) AS sh
        FROM t)
)
SELECT sh AS shingle, count(*) AS n_docs
FROM sh GROUP BY sh HAVING count(*) >= 3
ORDER BY n_docs DESC, shingle ASC
LIMIT 50
""",
)
def q_boilerplate_ngrams(spark, sf_dir):
    # Boilerplate detection: 8-gram shingles recurring across >= 3 distinct
    # documents (headers, license blurbs, navigation chrome — the
    # repeated-substring contamination exact-dedup misses because the
    # surrounding text differs). TWO-PHASE hash plan (r5): counting the
    # shingle TEXT directly shuffles ~50 bytes per gram — at 100 TB the
    # shuffle, not the scan, is the bill. Phase 1 counts by the 8-byte
    # xxhash64 of each per-doc-distinct shingle (map-side combinable,
    # 8-byte shuffle rows) and keeps hashes with count >= 3 — a LOSSLESS
    # prefilter: a hash's count >= any constituent shingle's count, so no
    # qualifying shingle's hash can be dropped (collisions only ADD
    # candidates). Phase 2 re-derives shingles, keeps only candidate
    # hashes via a broadcast semi-join (the survivor set is tiny — real
    # boilerplate, not the gram stream), and counts EXACT per shingle
    # text, so hash collisions cannot merge counts in the output. The
    # top-50 is TakeOrderedAndProject with the shingle text as the unique
    # tiebreaker.
    # spread: the 8-gram concat stream is CPU-bound and the compact doc
    # file reads as one partition locally — round-robin the docs so both
    # phases parallelize. Gated: at cluster scale the scan is already
    # split and the (text-bearing) exchange is skipped entirely.
    from opc2mongodb_spark.functions.text import ngram_concat
    from opc2mongodb_spark.plans.spread import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    # zip_with form — the sequence/element_at build re-evaluates the
    # token array per exploded shingle (ngram_concat docstring); at n=8
    # the old form inlined t EIGHT times per lambda
    gram = ngram_concat(F.split(F.col("text"), " "), 8)
    shingles = d.select(F.explode(F.array_distinct(gram)).alias("shingle"))
    hot = (
        shingles.select(F.xxhash64("shingle").alias("_h"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 3)
        .select("_h")
    )
    return (
        shingles.withColumn("_h", F.xxhash64("shingle"))
        .join(F.broadcast(hot), "_h", "left_semi")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(50)
    )


@register(
    "q_setsim_join",
    f"""
WITH {_TOK_CTE},
freq AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
ordered AS (
    SELECT t.doc_id, list(t.tok ORDER BY q.f, t.tok) AS toks, count(*) AS n
    FROM tok t JOIN freq q ON q.tok = t.tok
    GROUP BY t.doc_id
),
pref AS (
    SELECT doc_id,
           unnest(list_slice(toks, 1,
               n - CAST(ceil(0.7 * n) AS INTEGER) + 1)) AS tok
    FROM ordered
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
inter AS (
    SELECT c.a_id, c.b_id, count(*) AS n_inter
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.a_id
    JOIN tok tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
    GROUP BY 1, 2
)
SELECT i.a_id, i.b_id,
       CAST(i.n_inter AS DOUBLE)
           / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a_id
JOIN sizes sb ON sb.doc_id = i.b_id
WHERE CAST(i.n_inter AS DOUBLE)
          / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) >= 0.7
""",
)
def q_setsim_join(spark, sf_dir):
    # Exact-threshold set-similarity self-join via prefix filtering
    # (AllPairs/PPJoin family) — EVERY pair with token-set Jaccard >= 0.7,
    # a guarantee, where the MinHash chain is probabilistic recall. The
    # candidate join keys on each doc's RAREST tokens (global-frequency
    # canonical order), so bucket sizes track rare-token co-occurrence —
    # the lossless counterpart to LSH banding. Verification is the same
    # pair-bounded columnar exact Jaccard as q_dedup_ngram_jaccard;
    # int/int division -> raw-double hash parity.
    from opc2mongodb_spark.operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.7
    )


@register(
    "q_winnow_fingerprints",
    r"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(len(toks) - 3, 0)),
               i -> CAST(('0x' || substring(md5(toks[i] || ' ' || toks[i+1]
                       || ' ' || toks[i+2] || ' ' || toks[i+3]), 1, 8))
                     AS BIGINT)) AS h
    FROM t
),
w AS (
    SELECT doc_id,
           CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                ELSE list_sort(list_distinct(list_transform(
                         generate_series(1, greatest(len(h) - 4, 1)),
                         i -> list_min(list_slice(h, i, i + 4))))) END AS fps
    FROM g
)
SELECT doc_id, fps, CAST(len(fps) AS INTEGER) AS n_fp FROM w
""",
)
def q_winnow_fingerprints(spark, sf_dir):
    # Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    # 2003 — the MOSS sketch): hash every 4-gram, then keep the MINIMUM
    # hash of each sliding window of 5 consecutive 4-gram hashes. The
    # selected set is position-insensitive, guarantees any shared run of
    # >= w+k-1 tokens yields at least one common fingerprint (the paper's
    # local guarantee — the property substring-level plagiarism/quote
    # detection needs and whole-doc MinHash can't give), and compresses
    # ~w-fold. Scale shape: pure per-row Column transforms — no explode, no
    # shuffle at all; the sketch join that consumes these is |sketch|-sized,
    # not |text|-sized. Short docs (< k tokens) emit an empty sketch; docs
    # with fewer than w grams winnow one whole-doc window. Integer hashes
    # (first 8 md5 nibbles) are exact cross-engine.
    from opc2mongodb_spark.operators.dedup import winnow_sketch

    n = spark.sparkContext.defaultParallelism
    return winnow_sketch(
        _t(spark, sf_dir, "documents"), "doc_id", "text", spread=n
    )


# Ubiquity bound for q_winnow_overlap's fingerprint join: fingerprints
# present in more than this many documents are boilerplate shared by a
# whole template family, not substring-copy evidence between a PAIR —
# and their buckets drive the join quadratic (the corpus is
# template-derived, so hot fingerprints span hundreds of docs: 345 s at
# sf0.1, found when the r12 cohort-3 scale rotation reached it). MOSS
# itself drops fingerprints matching too many documents; the same rule
# here bounds pair work at cap x |fp rows| — linear in the corpus.
WINNOW_HOT_FP_CAP = 64


@register(
    "q_winnow_overlap",
    rf"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(len(toks) - 3, 0)),
               i -> CAST(('0x' || substring(md5(toks[i] || ' ' || toks[i+1]
                       || ' ' || toks[i+2] || ' ' || toks[i+3]), 1, 8))
                     AS BIGINT)) AS h
    FROM t
),
w AS (
    SELECT doc_id,
           CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                ELSE list_sort(list_distinct(list_transform(
                         generate_series(1, greatest(len(h) - 4, 1)),
                         i -> list_min(list_slice(h, i, i + 4))))) END AS fps
    FROM g
),
fp AS (SELECT doc_id, unnest(fps) AS fp FROM w),
cnt AS (SELECT fp, count(*) AS c FROM fp GROUP BY fp),
fpk AS (
    SELECT f.doc_id, f.fp FROM fp f
    JOIN cnt ON cnt.fp = f.fp WHERE cnt.c <= {WINNOW_HOT_FP_CAP}
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)
def q_winnow_overlap(spark, sf_dir):
    # The winnowing sketch's consumer: substring-overlap candidate pairs —
    # docs sharing >= 2 winnowed fingerprints, i.e. evidence of shared
    # runs of >= w+k-1 tokens (quotes, shared passages, partial plagiarism)
    # that whole-document Jaccard dilutes away. Join volume is
    # |sketch|-bounded (~|text|/w rows, integer keys), never |text| — and
    # fingerprints present in more than WINNOW_HOT_FP_CAP documents are
    # EXCLUDED before the self-join (MOSS's ubiquitous-fingerprint rule;
    # the oracle pins the same literal): a template-family passage shared
    # by hundreds of docs is boilerplate for q_boilerplate_ngrams to
    # surface, not pairwise copy evidence, and its bucket is what turned
    # this join quadratic. The
    # count join co-partitions with the pair join on fp — one exchange
    # key, no extra shuffle of the sketch. Exact integer counts; no
    # ORDER BY needed (full set, unordered hash compare).
    from opc2mongodb_spark.operators.dedup import winnow_sketch

    n = spark.sparkContext.defaultParallelism
    sk = winnow_sketch(
        _t(spark, sf_dir, "documents"), "doc_id", "text", spread=n
    )
    # MATERIALIZATION BARRIER before the explode: generating directly over
    # the live sketch expression re-evaluates the whole nested
    # transform/md5 chain per OUTPUT row (measured: 66 ms/doc vs 0.2 ms
    # through an aggregate — ~350x; this, not the join, was most of the
    # 345 s sf0.1 wall). The doc_id-keyed first() agg forces fps into rows
    # once per document; its required distribution matches the spread's
    # hash partitioning, so no extra exchange — and at cluster scale this
    # is the designed materialization point ("consumers join on the
    # sketch, never the text").
    sk_m = sk.groupBy("doc_id").agg(F.first("fps").alias("fps"))
    fp = sk_m.select("doc_id", F.explode("fps").alias("fp"))
    keep = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= WINNOW_HOT_FP_CAP)
        .select("fp")
    )
    fpk = fp.join(keep, "fp")
    return (
        fpk.alias("a")
        .join(
            fpk.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@register(
    "q_dup_rate_curve",
    r"""
WITH f AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
),
m AS (SELECT max(doc_id) AS mx FROM f),
r AS (
    SELECT doc_id,
           (row_number() OVER (PARTITION BY fp ORDER BY doc_id)) > 1 AS is_dup,
           CAST(doc_id * 10 // (m.mx + 1) AS INTEGER) AS decile
    FROM f, m
)
SELECT decile, count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE is_dup) AS INTEGER) AS n_dups,
       CAST(count(*) FILTER (WHERE is_dup) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS dup_rate
FROM r GROUP BY decile ORDER BY decile
""",
)
def q_dup_rate_curve(spark, sf_dir):
    # Corpus-growth duplication audit: as the corpus was ingested (doc_id
    # order), what fraction of each id-range decile was already present
    # earlier? Ops teams plot exactly this curve to catch a crawler
    # re-visiting sources or an ingest loop replaying a feed. is_dup is a
    # per-fingerprint window (first occurrence by id wins — the same
    # keep-first contract as exact_dedup_groups), distributed by fp; the
    # ONLY global datum is max(doc_id), a broadcast scalar — no global
    # window, no single-task ntile. Integer counts divide to exact doubles.
    d = _t(spark, sf_dir, "documents")
    from opc2mongodb_spark.functions.text import fingerprint

    f = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    mx = F.broadcast(f.agg(F.max("doc_id").alias("_mx")))
    wf = Window.partitionBy("fp").orderBy("doc_id")
    r = (
        f.crossJoin(mx)
        .select(
            (F.row_number().over(wf) > 1).alias("is_dup"),
            F.expr("CAST(doc_id * 10 DIV (_mx + 1) AS INT)").alias("decile"),
        )
    )
    return (
        r.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("is_dup")).cast("int").alias("n_dups"),
        )
        .select(
            "decile",
            "n_docs",
            "n_dups",
            (
                F.col("n_dups").cast("double") / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("decile")
    )


@register(
    "q_quantize_embeddings",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e
      WHERE list_min(v) < list_max(v))
SELECT vec_id, mn, mx,
       list_transform(v, x ->
           CAST(floor((x - mn) * 255.0 / (mx - mn)) AS INTEGER)) AS qv,
       list_max(list_transform(v, x ->
           abs(x - (mn + CAST(floor((x - mn) * 255.0 / (mx - mn)) AS INTEGER)
                         * (mx - mn) / 255.0)))) AS max_err
FROM s
""",
)
def q_quantize_embeddings(spark, sf_dir):
    # int8-style per-vector affine quantization (the ANN memory-footprint
    # play: 64 doubles -> 64 small ints + 2 doubles, 16x smaller index).
    # Narrow map over the scan — per-vector min/max, floor-bucketed codes,
    # and the worst-case reconstruction error per vector so a pipeline can
    # gate on quantization loss. Every step is elementwise IEEE arithmetic
    # evaluated in the same order both engines (floor, not round — round's
    # half-way rule differs cross-engine), so raw doubles hash-match.
    # Degenerate constant vectors (mn == mx) are excluded by the same
    # predicate on both sides rather than dividing by zero.
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    s = e.select(
        "vec_id", "v", mn.alias("mn"), mx.alias("mx")
    ).filter(mn < mx)
    code = lambda x: F.floor(  # noqa: E731
        (x - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))
    ).cast("int")
    return s.select(
        "vec_id",
        "mn",
        "mx",
        F.transform(F.col("v"), code).alias("qv"),
        F.array_max(
            F.transform(
                F.col("v"),
                lambda x: F.abs(
                    x
                    - (
                        F.col("mn")
                        + code(x) * (F.col("mx") - F.col("mn")) / 255.0
                    )
                ),
            )
        ).alias("max_err"),
    )


@register(
    "q_semantic_dedup",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN (5, 6, 7, 8)),
assign AS (
    SELECT e.vec_id,
           (min({{'d': list_dot_product(e.v, e.v)
                       - 2 * list_dot_product(e.v, c.cv)
                       + list_dot_product(c.cv, c.cv), 'c': c.cid}})).c AS cell
    FROM e, cent c GROUP BY e.vec_id
),
anch AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id IN (1, 2, 3, 4)),
bits AS (
    SELECT e.vec_id, a2.cell,
           string_agg(CASE WHEN list_dot_product(e.v, a.av) > 0
                           THEN '1' ELSE '0' END, '' ORDER BY a.aid) AS bucket
    FROM e JOIN assign a2 ON a2.vec_id = e.vec_id, anch a
    GROUP BY e.vec_id, a2.cell
),
probes AS (
    SELECT vec_id, cell, unnest([{_NEARDUP_PROBES}]) AS probe FROM bits
),
cand AS (
    SELECT p.vec_id AS a_id, b.vec_id AS b_id
    FROM probes p
    JOIN bits b ON p.cell = b.cell AND p.probe = b.bucket
               AND p.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id, {_COS.format(a="ea.v", b="eb.v")} AS cos_sim
FROM cand c
JOIN e ea ON ea.vec_id = c.a_id
JOIN e eb ON eb.vec_id = c.b_id
WHERE {_COS.format(a="ea.v", b="eb.v")} >= 0.4
""",
)
def q_semantic_dedup(spark, sf_dir):
    # SemDeDup-shaped semantic dedup: k-means cell assignment (broadcast
    # centroids, squared-L2 via dot folds — NO shuffle of the embedding
    # table) replaces the pre-labeled block, then near-dup pairs are
    # LSH-bucketed WITHIN each cell. Composition of q_kmeans_iter's assign
    # step and q_neardup_embedding's collision-bounded pair generation: at
    # 100 TB the pair space tracks real semantic-cluster density, with no
    # dependence on any upstream labeling. Cross-engine: min-of-(d2, cid)
    # struct (deterministic lowest-cid tiebreak, r5) on bit-identical dot
    # folds, cosine compared raw per the dot-fold rule.
    from opc2mongodb_spark.functions.vectors import dot
    from opc2mongodb_spark.operators.similarity import neardup_pairs

    e = _t(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        e.filter(F.col("vec_id").isin([5, 6, 7, 8])).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
    )
    v, cv = F.col("embedding"), F.col("cv")
    d2 = dot(v, v) - 2 * dot(v, cv) + dot(cv, cv)
    assign = (
        e.crossJoin(cents)
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(d2.alias("d"), F.col("cid").alias("c")))["c"].alias(
                "cell"
            )
        )
    )
    celled = e.join(assign, "vec_id")
    return neardup_pairs(
        celled, threshold=0.4, anchor_ids=[1, 2, 3, 4], block_col="cell"
    ).select("a_id", "b_id", "cos_sim")


_LANG_SC_CTES = """
pd AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS pd FROM documents),
sc AS (
    SELECT doc_id, lang,
           (CAST((length(pd) - length(replace(pd, ' the ', ''))) / 5 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' and ', ''))) / 5 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' of ', ''))) / 4 AS INTEGER)) AS s_en,
           (CAST((length(pd) - length(replace(pd, ' der ', ''))) / 5 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' und ', ''))) / 5 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' das ', ''))) / 5 AS INTEGER)) AS s_de,
           (CAST((length(pd) - length(replace(pd, ' el ', ''))) / 4 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' los ', ''))) / 5 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' una ', ''))) / 5 AS INTEGER)) AS s_es,
           (CAST((length(pd) - length(replace(pd, ' le ', ''))) / 4 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' et ', ''))) / 4 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' les ', ''))) / 5 AS INTEGER)) AS s_fr,
           (CAST((length(pd) - length(replace(pd, ' de ', ''))) / 4 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' shi ', ''))) / 5 AS INTEGER) + CAST((length(pd) - length(replace(pd, ' bu ', ''))) / 4 AS INTEGER)) AS s_zh
    FROM pd
),
det AS (
    SELECT doc_id, lang AS declared,
           CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'unknown'
                WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'zh'
                END AS detected
    FROM sc
)
"""


@register(
    "q_lang_confusion",
    f"""
WITH {_LANG_SC_CTES},
g AS (SELECT declared, detected, count(*) AS n FROM det GROUP BY declared, detected),
tot AS (SELECT declared, count(*) AS t FROM det GROUP BY declared)
SELECT g.declared, g.detected, g.n,
       CAST(g.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS frac
FROM g JOIN tot t USING (declared)
""",
)
def q_lang_confusion(spark, sf_dir):
    # Language-ID audit: confusion matrix of the corpus's DECLARED language
    # label vs the n-gram heuristic's detection — the standard quality gate
    # before per-language mixing decisions. Scale shape: the detector is a
    # pure map pass (q_lang_id), both groupBys are map-side combinable on a
    # tiny (declared, detected) key space, and the per-declared totals
    # BROADCAST back. frac is an int/int division -> raw-double hash match.
    from opc2mongodb_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    det = d.select(
        F.col("lang").alias("declared"), lang_id(F.col("text")).alias("detected")
    )
    g = det.groupBy("declared", "detected").agg(F.count(F.lit(1)).alias("n"))
    tot = det.groupBy("declared").agg(F.count(F.lit(1)).alias("t"))
    return g.join(F.broadcast(tot), "declared").select(
        "declared",
        "detected",
        "n",
        (F.col("n").cast("double") / F.col("t").cast("double")).alias("frac"),
    )


@register(
    "q_source_mix",
    """
WITH s AS (
    SELECT source, lang,
           count(*) AS n_docs,
           sum(len(string_split(text, ' '))) AS n_tokens
    FROM documents GROUP BY source, lang
),
tot AS (SELECT sum(n_tokens) AS t FROM s)
SELECT s.source, s.lang, s.n_docs, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_tokens AS DOUBLE) / CAST(t.t AS DOUBLE) AS token_share
FROM s, tot t
""",
)
def q_source_mix(spark, sf_dir):
    # Corpus mixing weights: per (source, language) document and token
    # totals plus each cell's share of all corpus tokens — the numbers a
    # data-mixture config is written from. One map-side-combinable groupBy
    # over integer token counts (order-insensitive, exact) + a broadcast
    # 1-row total; token_share is int/int -> raw double.
    from opc2mongodb_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").alias("t"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens").cast("double") / F.col("t").cast("double")).alias(
            "token_share"
        ),
    )


@register(
    "q_vocab_coverage",
    """
WITH tc AS (
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
),
tot AS (SELECT sum(n) AS t FROM tc),
top AS (
    SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS INTEGER) AS rnk
    FROM tc ORDER BY n DESC, tok ASC LIMIT 100
)
SELECT rnk, tok, CAST(n AS BIGINT) AS n,
       CAST(sum(n) OVER (ORDER BY rnk) AS DOUBLE) / CAST(t.t AS DOUBLE)
           AS cum_frac
FROM top, tot t
""",
)
def q_vocab_coverage(spark, sf_dir):
    # Vocabulary coverage curve: how much of the corpus token stream the
    # top-k most frequent tokens cover — the sizing curve for a
    # tokenizer/vocab decision. Scale shape: ONE map-side-combinable token
    # count (the only big shuffle), then Top-100 via orderBy+limit
    # (TakeOrdered — never a global sort), the cumulative window runs over
    # 100 rows, and the 1-row token total broadcasts. Unique tiebreaker
    # (n DESC, tok ASC) per the module ORDER BY ... LIMIT rule; cum_frac is
    # an exact-integer cumsum / total -> raw double.
    d = _t(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = tc.orderBy(F.desc("n"), F.asc("tok")).limit(100)
    tot = tc.agg(F.sum("n").alias("t"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    wcum = Window.orderBy(F.desc("n"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return top.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(w).cast("int").alias("rnk"),
        "tok",
        F.col("n").cast("long").alias("n"),
        (F.sum("n").over(wcum).cast("double") / F.col("t").cast("double")).alias(
            "cum_frac"
        ),
    )


@register(
    "q_hybrid_neardup",
    f"""
WITH {_TOK_CTE}, {_SIGS_SQL},
{_CAND_CTES},
sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
inter AS (
    SELECT c.a_id, c.b_id, count(*) AS n_inter
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.a_id
    JOIN tok tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
    GROUP BY 1, 2
),
jac AS (
    SELECT i.a_id, i.b_id,
           CAST(i.n_inter AS DOUBLE)
               / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT j.a_id, j.b_id, j.jaccard,
       {_COS.format(a="ea.v", b="eb.v")} AS cos_sim,
       j.jaccard >= 0.8 AS text_dup,
       {_COS.format(a="ea.v", b="eb.v")} >= 0.4 AS semantic_dup
FROM jac j
JOIN e ea ON ea.vec_id = j.a_id
JOIN e eb ON eb.vec_id = j.b_id
""",
)
def q_hybrid_neardup(spark, sf_dir):
    # Hybrid (lexical + semantic) near-dup verification: MinHash-LSH
    # candidates get BOTH an exact token-set Jaccard and an embedding
    # cosine, with per-signal duplicate verdicts — the cross-modal gate
    # that catches paraphrases exact-text dedup misses and boilerplate
    # embeddings gloss over. Scale shape: the pair space is bounded by LSH
    # collision buckets (never all-pairs); vectors are joined back at
    # |pairs| AFTER candidate generation, so the embedding table is
    # scanned once and shuffled only on the pair ids. Determinism: jaccard
    # is int/int; cosine is the sequential fold, bit-identical to DuckDB's
    # list_dot_product; the boolean verdicts compare those exact doubles.
    from opc2mongodb_spark.functions.vectors import cosine
    from opc2mongodb_spark.operators.dedup import (
        jaccard_on_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text")
    cand = lsh_candidate_pairs(sigs, "doc_id").filter(F.col("est_jaccard") >= 0.5)
    jac = jaccard_on_pairs(d, cand, "doc_id", "text")
    e = _t(spark, sf_dir, "embeddings")
    ea = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("_ea"))
    eb = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("_eb"))
    cos = cosine(F.col("_ea"), F.col("_eb"))
    return (
        jac.join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id",
            "b_id",
            "jaccard",
            cos.alias("cos_sim"),
            (F.col("jaccard") >= 0.8).alias("text_dup"),
            (cos >= 0.4).alias("semantic_dup"),
        )
    )


@register(
    "q_bloom_gate",
    f"""
WITH {_TOK_CTE}, {_SIGS_SQL},
bands AS (
    SELECT doc_id, b.band_id,
           CASE b.band_id
                WHEN 0 THEN mh0 || mh1
                WHEN 1 THEN mh2 || mh3
                WHEN 2 THEN mh4 || mh5
                ELSE mh6 || mh7 END AS band_val
    FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
),
keys AS (
    SELECT doc_id, CAST(band_id AS VARCHAR) || ':' || band_val AS bkey
    FROM bands
),
cpos AS (
    SELECT CAST(('0x' || substring(md5(k.bkey || '|' || CAST(i.i AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 4096 AS p
    FROM keys k, range(0, 3) i(i) WHERE k.doc_id % 10 < 8
),
sketch AS (
    SELECT p // 32 AS word,
           bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS mask
    FROM cpos GROUP BY p // 32
),
bpos AS (
    SELECT k.doc_id, k.bkey,
           CAST(('0x' || substring(md5(k.bkey || '|' || CAST(i.i AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 4096 AS p
    FROM keys k, range(0, 3) i(i) WHERE k.doc_id % 10 >= 8
),
probe AS (
    SELECT b.doc_id, b.bkey,
           bool_and(s.mask IS NOT NULL
                    AND (s.mask & (1::BIGINT << CAST(b.p % 32 AS INTEGER))) <> 0)
               AS in_bloom
    FROM bpos b LEFT JOIN sketch s ON s.word = b.p // 32
    GROUP BY b.doc_id, b.bkey
)
SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bands,
       CAST(sum(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS INTEGER) AS n_hit,
       bool_or(in_bloom) AS any_hit
FROM probe GROUP BY doc_id
""",
)
def q_bloom_gate(spark, sf_dir):
    # Bloom prefilter for the continuous-ingestion gate: sketch the
    # CORPUS's LSH band buckets (corpus = doc_id % 10 < 8) into a
    # 4096-bit / 3-hash bitmap, probe every BATCH band key, and report per
    # batch doc how many of its bands could possibly collide with the
    # corpus. Bands whose bucket is definitely absent (no false negatives)
    # never reach the corpus band join — at 100 TB this is the difference
    # between probing a broadcastable 128-row bitmap and scanning the
    # corpus band index. Integer/bool outputs -> exact hash match.
    from opc2mongodb_spark.operators.bloom import bloom_probe, bloom_sketch
    from opc2mongodb_spark.operators.dedup import minhash_signatures

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text")
    band_vals = [
        F.concat(F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")) for b in range(4)
    ]
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), band_vals[b].alias("band_val")
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id",
        F.concat(
            F.col("band.band_id").cast("string"),
            F.lit(":"),
            F.col("band.band_val"),
        ).alias("bkey"),
    )
    corpus = bands.filter(F.col("doc_id") % 10 < 8).select("bkey")
    batch = bands.filter(F.col("doc_id") % 10 >= 8)
    probed = bloom_probe(bloom_sketch(corpus, "bkey"), batch, "bkey")
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bands"),
        F.sum(F.col("in_bloom").cast("int")).cast("int").alias("n_hit"),
        F.bool_or("in_bloom").alias("any_hit"),
    )


@register(
    "q_gap_report",
    """
WITH d AS (
    SELECT user_id, event_type, ts,
           lag(ts) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS prev_ts,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS gap_us
    FROM events
)
SELECT user_id, event_type, prev_ts AS gap_start, ts AS gap_end,
       CAST(gap_us AS BIGINT) AS gap_us
FROM d
WHERE gap_us > 604800::BIGINT * 1000000::BIGINT
""",
)
def q_gap_report(spark, sf_dir):
    # Telemetry continuity audit — the reference domain's data-quality
    # question ("did this tag stop reporting?") as a relational op: per
    # (user_id, event_type) series, surface inter-event gaps beyond 7 days.
    # One window over the key partition (single shuffle on the series key,
    # no global sort); the gap is integer microsecond arithmetic
    # (unix_micros both engines) -> exact cross-engine. Tiebreak event_id
    # makes the lag deterministic under timestamp ties.
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("gap_start"),
    ).select(
        "user_id",
        "event_type",
        "ts",
        "gap_start",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("gap_start").cast("timestamp"))
        ).alias("gap_us"),
    )
    return d.filter(
        F.col("gap_us") > F.lit(604_800_000_000)  # 7 days in microseconds
    ).select(
        "user_id",
        "event_type",
        "gap_start",
        F.col("ts").alias("gap_end"),
        F.col("gap_us").cast("long").alias("gap_us"),
    )


@register(
    "q_minhash_calibration",
    f"""
WITH {_TOK_CTE}, {_SIGS_SQL},
bands AS (
    SELECT doc_id, b.band_id,
           CASE b.band_id
                WHEN 0 THEN mh0 || mh1
                WHEN 1 THEN mh2 || mh3
                WHEN 2 THEN mh4 || mh5
                ELSE mh6 || mh7 END AS band_val
    FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
),
cand0 AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
),
agree AS (
    SELECT c.a_id, c.b_id,
           CAST({" + ".join(f"CAST(sa.mh{j} = sb.mh{j} AS INTEGER)" for j in range(8))}
                AS INTEGER) AS n_match
    FROM cand0 c
    JOIN sigs sa ON sa.doc_id = c.a_id
    JOIN sigs sb ON sb.doc_id = c.b_id
),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
inter AS (
    SELECT c.a_id, c.b_id, count(*) AS n_inter
    FROM cand0 c
    JOIN tok ta ON ta.doc_id = c.a_id
    JOIN tok tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
    GROUP BY 1, 2
),
jacs AS (
    SELECT i.a_id, i.b_id,
           CAST(i.n_inter AS DOUBLE)
               / CAST(sa.n_tok + sb.n_tok - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
)
SELECT g.n_match, CAST(count(*) AS BIGINT) AS n_pairs,
       printf('%.9e', CAST(sum(CAST(j.jaccard AS DECIMAL(28,12))) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) AS mean_true_jaccard,
       min(j.jaccard) AS min_true_jaccard,
       max(j.jaccard) AS max_true_jaccard
FROM agree g JOIN jacs j ON j.a_id = g.a_id AND j.b_id = g.b_id
GROUP BY g.n_match
""",
)
def q_minhash_calibration(spark, sf_dir):
    # Estimator-quality audit: for every LSH candidate pair, compare the
    # MinHash signature-agreement estimate (n_match/8) against the EXACT
    # token-set Jaccard, aggregated per agreement level — the calibration
    # table that justifies the gate's threshold choice. Scale shape: pair
    # space is LSH-bounded, the exact Jaccard is computed only on
    # candidates (jaccard_on_pairs), and the final rollup is a tiny 9-row
    # groupBy. Determinism: n_match is integer; the mean pins per-pair
    # jaccard (int/int doubles) through DECIMAL before the order-sensitive
    # sum, rendered %.9e; min/max of raw doubles compare exact.
    from opc2mongodb_spark.operators.dedup import (
        jaccard_on_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text")
    cand = lsh_candidate_pairs(sigs, "doc_id")
    jac = jaccard_on_pairs(d, cand.select("a_id", "b_id"), "doc_id", "text")
    est = cand.select(
        "a_id", "b_id", (F.col("est_jaccard") * 8).cast("int").alias("n_match")
    )
    return (
        est.join(jac, ["a_id", "b_id"])
        .groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            sci9(F.sum(F.col("jaccard").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")).alias("mean_true_jaccard"),
            F.min("jaccard").alias("min_true_jaccard"),
            F.max("jaccard").alias("max_true_jaccard"),
        )
    )


@register(
    "q_neardup_degree",
    f"""
WITH {_TOK_CTE}, {_SIGS_SQL},
{_CAND_CTES},
deg AS (
    SELECT doc_id, count(*) AS degree
    FROM (
        SELECT a_id AS doc_id FROM cand
        UNION ALL
        SELECT b_id AS doc_id FROM cand
    ) GROUP BY doc_id
),
alldeg AS (
    SELECT d.doc_id, coalesce(g.degree, 0) AS degree
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN deg g ON g.doc_id = d.doc_id
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_docs
FROM alldeg GROUP BY degree
""",
)
def q_neardup_degree(spark, sf_dir):
    # Corpus-health audit: the DEGREE DISTRIBUTION of the near-duplicate
    # candidate graph (how many LSH candidates each document has,
    # including zero). A heavy tail here is the early warning that a
    # boilerplate template is about to blow up pair generation — the
    # metric a pipeline operator watches before raising bucket caps.
    # Scale shape: candidates are LSH-bounded; the degree count is one
    # map-side-combinable groupBy over exploded pair endpoints; the final
    # histogram is a tiny rollup. All-integer -> exact hash match.
    from opc2mongodb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text")
    cand = lsh_candidate_pairs(sigs, "doc_id").filter(
        F.col("est_jaccard") >= 0.5
    )
    # Single pass over the candidate pipeline: the previous two-arm
    # union re-executed the whole signature + band-join plan per arm
    # (cand is not checkpointed here). explode(array) emits both
    # endpoints from one execution — the docstring's "exploded pair
    # endpoints" shape, now literally.
    ends = cand.select(
        F.explode(F.array("a_id", "b_id")).alias("doc_id")
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    alldeg = (
        d.select("doc_id")
        .distinct()
        .join(deg, "doc_id", "left")
        .select(F.coalesce(F.col("degree"), F.lit(0)).alias("degree"))
    )
    return alldeg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(F.col("degree").cast("long").alias("degree"), "n_docs")
