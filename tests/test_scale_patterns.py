"""Scale-pattern operators: bucketed shuffle-free joins, salted aggregation,
custom stateful streaming state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opc2mongodb_spark.sources.tables import load_table


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.sources.bucketing import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        write_bucketed(li, "li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
        write_bucketed(o, "o_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
        lb, ob = spark.table("li_b"), spark.table("o_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).select(
            "l_orderkey", "o_orderstatus"
        )
        plan = explain_str(joined, "simple")
        assert "Exchange" not in plan, plan  # co-located: zero shuffle
        # sanity: same result as the unbucketed join
        expected = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select("l_orderkey", "o_orderstatus")
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from opc2mongodb_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    dec_qty = F.col("l_quantity").cast("decimal(18,2)")
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("c"),
            F.sum(dec_qty).alias("s"),
        ],
        final_aggs=[
            F.sum("c").alias("cnt"),
            F.sum("s").cast("decimal(18,2)").alias("total"),
        ],
        n_salts=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dec_qty).cast("decimal(18,2)").alias("total"),
    )
    got = {r.l_returnflag: (r.cnt, r.total) for r in salted.collect()}
    exp = {r.l_returnflag: (r.cnt, r.total) for r in plain.collect()}
    assert got == exp


def test_stateful_gates_share_one_keyed_fold():
    """Source scan: every no-timeout gate in streaming/stateful.py runs
    through ``_keyed_fold``; only the event-time watchdog keeps its own
    ``applyInPandasWithState`` call, and only the helper concatenates the
    Arrow batches — a copied gate wrapper fails here."""
    import ast

    import opc2mongodb_spark.streaming.stateful as st

    src = open(st.__file__).read()
    spans = [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef)
    ]

    def owners(needle):
        lines = [
            i for i, line in enumerate(src.splitlines(), 1) if needle in line
        ]
        return sorted(
            name for i in lines for a, b, name in spans if a <= i <= b
        )

    assert owners("applyInPandasWithState(") == [
        "_keyed_fold", "watchdog_stream"
    ]
    assert owners("pd.concat(list(batches)") == ["_keyed_fold"]


def test_stateful_change_detection(spark, tmp_path, state_provider):
    """value_changes carries state ACROSS micro-batches: prevValue of the
    first record of batch 2 equals the last value of batch 1."""
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import value_changes

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )

    def rows(batch):
        return spark.createDataFrame(
            [
                ("s1", tag, v, datetime.fromisoformat(ts))
                for tag, v, ts in batch
            ],
            schema,
        )

    src = tmp_path / "src"
    src.mkdir()
    rows(
        [
            ("t1", 1.0, "2024-01-01 10:00:00"),
            ("t1", 1.0, "2024-01-01 10:00:10"),  # unchanged
            ("t1", 2.0, "2024-01-01 10:00:20"),  # changed
        ]
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        value_changes(stream)
        .writeStream.format("memory")
        .queryName("changes")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows(
            [("t1", 2.0, "2024-01-01 10:01:00")]  # same as state → unchanged
        ).coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        got = sorted(
            spark.sql("select * from changes").collect(),
            key=lambda r: r.serverTimestamp,
        )
    finally:
        q.stop()

    assert [r.changed for r in got] == [True, False, True, False]
    assert got[3].prevValue == 2.0  # state survived the batch boundary


def test_jaccard_verify_is_lsh_bounded(spark, sf_dir):
    """q_dedup_ngram_jaccard must verify ONLY MinHash-LSH candidate pairs
    (est_jaccard >= 0.5) — never all-pairs within a coarse block (the
    round-1 lang-blocking anti-pattern). Note: the synthetic corpus shares a
    ~31-token vocabulary, so most pairs genuinely ARE similar there; the
    pruning property is asserted on constructed distinct documents instead."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from opc2mongodb_spark.queries import REGISTRY

    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text")
    cand = {
        (r.a_id, r.b_id)
        for r in lsh_candidate_pairs(sigs, "doc_id")
        .filter(F.col("est_jaccard") >= 0.5)
        .collect()
    }
    verified = REGISTRY["q_dedup_ngram_jaccard"].build(spark, sf_dir).collect()
    assert verified, "expected at least one near-duplicate pair in testdata"
    for r in verified:
        assert (r.a_id, r.b_id) in cand, (
            f"pair ({r.a_id}, {r.b_id}) verified but never an LSH candidate"
        )
        assert r.jaccard >= 0.8

    # Pruning ∝ collision buckets: on documents with disjoint-ish vocabularies
    # plus one duplicated pair, LSH keeps the duplicate and drops the rest.
    docs = [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(40)]
    docs.append((40, docs[0][1]))  # exact duplicate of doc 0
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    dcand = lsh_candidate_pairs(
        minhash_signatures(ddf, "doc_id", "text"), "doc_id"
    ).collect()
    pairs = {(r.a_id, r.b_id) for r in dcand}
    assert (0, 40) in pairs, "true duplicate must surface as an LSH candidate"
    n = 41
    assert len(pairs) < 0.05 * (n * (n - 1) / 2), (
        f"{len(pairs)} candidates among {n} distinct docs — banding is not "
        "pruning the pair space"
    )


def test_stateful_ewma_resumes_recursion_across_batches(spark, tmp_path, state_provider):
    """ewma_stream's recursion must continue exactly across micro-batches:
    the streamed two-batch result equals one pandas ewm over the whole
    series (adjust=False, alpha=0.5)."""
    from datetime import datetime

    import pandas as pd
    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import ewma_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    b1 = [1.0, 3.0, 5.0]
    b2 = [2.0, 10.0]

    def rows(vals, t0):
        return spark.createDataFrame(
            [
                ("s1", "t1", v, datetime(2024, 1, 1, 10, 0, t0 + i))
                for i, v in enumerate(vals)
            ],
            schema,
        )

    src = tmp_path / "src"
    src.mkdir()
    rows(b1, 0).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        ewma_stream(stream)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows(b2, 10).coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        got = [
            r.ewma
            for r in sorted(
                spark.sql("select * from ewma_out").collect(),
                key=lambda r: r.serverTimestamp,
            )
        ]
    finally:
        q.stop()

    expected = list(
        pd.Series(b1 + b2).ewm(alpha=0.5, adjust=False).mean()
    )
    assert got == expected, f"{got} != {expected}"


def test_lsh_mega_bucket_is_capped_and_keeps_connectivity(spark):
    """A degenerate LSH bucket (here: identical docs far beyond max_bucket)
    must emit a linear representative-star, not an O(n²) all-pairs block —
    and the capped edge set must yield the SAME connected components as the
    uncapped one (every member still links to the bucket representative)."""
    from opc2mongodb_spark.operators.components import connected_components
    from opc2mongodb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n_dup, cap = 120, 30
    docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(n_dup)]
    docs += [
        (n_dup + i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(20)
    ]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    sigs = minhash_signatures(ddf, "doc_id", "text")

    capped = lsh_candidate_pairs(sigs, "doc_id", max_bucket=cap).collect()
    # star to the min-id representative: n-1 edges, not n(n-1)/2
    dup_pairs = [(r.a_id, r.b_id) for r in capped if r.b_id < n_dup]
    assert len(dup_pairs) == n_dup - 1, len(dup_pairs)
    assert all(a == 0 for a, _ in dup_pairs)
    assert len(capped) < n_dup * (n_dup - 1) / 2

    uncapped = lsh_candidate_pairs(sigs, "doc_id", max_bucket=10**9)
    verts = ddf.select(F.col("doc_id").alias("id"))
    edges_c = spark.createDataFrame(
        [(r.a_id, r.b_id) for r in capped], ["a_id", "b_id"]
    )
    cc_capped = {
        (r.id, r.cluster_id)
        for r in connected_components(verts, edges_c).collect()
    }
    cc_full = {
        (r.id, r.cluster_id)
        for r in connected_components(
            verts, uncapped.select("a_id", "b_id")
        ).collect()
    }
    assert cc_capped == cc_full


def test_connected_components_raises_on_iteration_cap(spark):
    """A path graph with diameter > max_iterations must raise, never return
    partially-propagated labels."""
    import pytest

    from opc2mongodb_spark.operators.components import connected_components

    n = 10
    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a_id", "b_id"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, path, max_iterations=2)
    ok = connected_components(verts, path, max_iterations=n)
    assert {r.cluster_id for r in ok.collect()} == {0}


def test_neardup_embedding_is_lsh_bucketed(spark, sf_dir):
    """q_neardup_embedding's self-join must be keyed on the LSH bucket, not
    label alone (the round-2 all-pairs-within-block anti-pattern), and its
    candidate space must be strictly smaller than the label-block pair
    space."""
    from opc2mongodb_spark.operators.similarity import bucketize_lsh
    from opc2mongodb_spark.plans.checks import explain_str
    from opc2mongodb_spark.queries import REGISTRY

    df = REGISTRY["q_neardup_embedding"].build(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "_probe" in plan, (
        "near-dup join no longer keyed on the LSH probe/bucket:\n" + plan
    )

    e = load_table(spark, sf_dir, "embeddings")
    buckets = bucketize_lsh(e, [1, 2, 3, 4])
    base = e.select("vec_id", "label").join(buckets, "vec_id")
    a, b = base.alias("a"), base.alias("b")
    label_pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).count()
    same_bucket_pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).count()
    # radius-1 multiprobe admits (1 + n_bits)/2^n_bits ≈ 31% of a uniform
    # pair space; just assert real pruning vs the label-only block.
    assert same_bucket_pairs < label_pairs, (
        f"bucketing prunes nothing: {same_bucket_pairs} vs {label_pairs}"
    )


def test_neardup_lsh_output_is_subset_of_bruteforce(spark, sf_dir):
    """Every pair the LSH-bucketed near-dup emits must exist in the
    brute-force all-pairs result with a BIT-IDENTICAL cosine — bucketing may
    only prune candidates, never alter or invent scores."""
    from opc2mongodb_spark.functions.vectors import dot, l2_norm
    from opc2mongodb_spark.queries import REGISTRY

    out = REGISTRY["q_neardup_embedding"].build(spark, sf_dir).collect()
    assert out, "expected non-empty near-dup result on testdata"

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("_n")
    )
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a._n") * F.col("b._n")
    )
    brute = {
        (r.a_id, r.b_id): r.cos_sim
        for r in a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.4)
        .collect()
    }
    for r in out:
        assert brute[(r.a_id, r.b_id)] == r.cos_sim, (r.a_id, r.b_id)


def test_simhash_neardup_pigeonhole_is_exact(spark, sf_dir):
    """The banded simhash join must find EVERY hamming<=1 pair (pigeonhole
    guarantee — 2 bands of 8 bits), matching a brute-force hamming compare
    over all signature pairs; and invalid band/hamming configs must raise."""
    import pytest

    from opc2mongodb_spark.functions.text import simhash16
    from opc2mongodb_spark.operators.dedup import simhash_neardup_pairs

    d = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(d, "doc_id", "text", n_bands=2, max_hamming=3)
    with pytest.raises(ValueError, match="divide 16"):
        simhash_neardup_pairs(d, "doc_id", "text", n_bands=3)

    got = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_neardup_pairs(d, "doc_id", "text").collect()
    }
    sigs = {r.doc_id: r.simhash for r in simhash16(d, "doc_id", F.col("text")).collect()}
    ids = sorted(sigs)
    expected = {}
    for i, x in enumerate(ids):
        for y in ids[i + 1 :]:
            h = sum(c1 != c2 for c1, c2 in zip(sigs[x], sigs[y]))
            if h <= 1:
                expected[(x, y)] = h
    assert got == expected


def test_simhash_width_raises_band_selectivity(spark, sf_dir):
    """The 64-bit production width must yield strictly more distinct
    per-band bucket values than the 16-bit demo width — wider bands are the
    whole point (2^16 vs 2^8 possible buckets per band), keeping band
    buckets collision-bounded as the corpus grows. Also: the pigeonhole
    exactness must hold at 64 bits (every hamming<=3 pair found)."""
    from opc2mongodb_spark.functions.text import simhash
    from opc2mongodb_spark.operators.dedup import simhash_neardup_pairs

    d = load_table(spark, sf_dir, "documents")

    def band_buckets(n_bits, n_bands):
        sigs = simhash(d, "doc_id", F.col("text"), n_bits)
        width = n_bits // n_bands
        return (
            sigs.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band_id"),
                                F.substring(
                                    "simhash", b * width + 1, width
                                ).alias("band_val"),
                            )
                            for b in range(n_bands)
                        ]
                    )
                ).alias("band")
            )
            .select("band.band_id", "band.band_val")
            .distinct()
            .count()
        )

    narrow, wide = band_buckets(16, 2), band_buckets(64, 4)
    assert wide > narrow, (narrow, wide)

    got = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_neardup_pairs(
            d, "doc_id", "text", n_bands=4, max_hamming=3, n_bits=64
        ).collect()
    }
    sigs = {
        r.doc_id: r.simhash
        for r in simhash(d, "doc_id", F.col("text"), 64).collect()
    }
    ids = sorted(sigs)
    expected = {}
    for i, x in enumerate(ids):
        for y in ids[i + 1 :]:
            h = sum(c1 != c2 for c1, c2 in zip(sigs[x], sigs[y]))
            if h <= 3:
                expected[(x, y)] = h
    assert got == expected


def test_simhash_dup_heavy_band_input_is_bounded(spark):
    """A dup-heavy corpus (many identical documents) must NOT reach the
    band self-join at full multiplicity: identical signatures collapse to
    one representative first (r5 bucket cap — the MinHash-path discipline),
    so the banded join's input is bounded by distinct signatures. The
    re-expanded pair set must still equal the brute-force hamming answer."""
    from opc2mongodb_spark.functions.text import simhash
    from opc2mongodb_spark.operators.dedup import (
        collapse_identical_signatures,
        simhash_neardup_pairs,
    )

    n_dup = 200
    docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(n_dup)]
    docs += [
        (n_dup + i, " ".join(f"w{i}_{j}" for j in range(10)))
        for i in range(10)
    ]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])

    sigs = simhash(ddf, "doc_id", F.col("text"), 16)
    width = 8
    packed = sigs.select(
        F.col("doc_id"),
        *[
            F.conv(F.substring("simhash", j * width + 1, width), 2, 10)
            .cast("long")
            .alias(f"_b{j}")
            for j in range(2)
        ],
    )
    members, reps = collapse_identical_signatures(
        packed, "doc_id", ["_b0", "_b1"]
    )
    n_distinct = sigs.select("simhash").distinct().count()
    # the 200-copy group is one representative; band-join input == distinct
    # signatures, bounded by diversity, not duplicate multiplicity
    assert reps.count() == n_distinct
    assert n_distinct <= 11
    assert members.count() == n_dup + 10

    got = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_neardup_pairs(
            ddf, "doc_id", "text", n_bands=2, max_hamming=1
        ).collect()
    }
    sigrows = {r.doc_id: r.simhash for r in sigs.collect()}
    ids = sorted(sigrows)
    expected = {}
    for i, x in enumerate(ids):
        for y in ids[i + 1 :]:
            h = sum(c1 != c2 for c1, c2 in zip(sigrows[x], sigrows[y]))
            if h <= 1:
                expected[(x, y)] = h
    assert got == expected
    # every identical pair surfaced exactly once with hamming 0
    assert sum(1 for h in got.values() if h == 0) >= n_dup * (n_dup - 1) // 2


def test_salted_join_matches_plain_and_salts_the_key(spark, sf_dir):
    """salted_join must produce exactly the plain join's result while the
    physical equi-key carries the salt column (hot key spread over
    n_salts reducers)."""
    from opc2mongodb_spark.operators.skew import salted_join
    from opc2mongodb_spark.plans.checks import explain_str

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = salted_join(li, o, ["l_orderkey"], n_salts=8)
        plain = li.join(o, ["l_orderkey"])
        got = sorted(tuple(r) for r in salted.collect())
        exp = sorted(tuple(r) for r in plain.collect())
        assert got == exp
        plan = explain_str(salted, "simple")
        assert "_salt" in plan  # the salt is part of the physical join key
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_connected_components_releases_checkpoint_blocks(spark):
    """Iterative checkpointing must not leak block-stored RDDs: plain
    DataFrame.unpersist() is a no-op for localCheckpoint blocks (CacheManager
    never sees them), so without release_checkpoint a bench/streaming loop
    accumulates executor memory until GC thrash. After N runs, only the N
    returned results may remain persisted — and releasing those drops the
    count back to the pre-run baseline."""
    from opc2mongodb_spark.operators.components import (
        connected_components,
        release_checkpoint,
    )

    sc = spark.sparkContext

    def persisted_ids():
        m = sc._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    # Compare ID SETS, not counts: blocks left over from earlier tests decay
    # asynchronously (ContextCleaner unpersists on GC), so a count baseline
    # is flaky — only the ids THIS test creates are its contract.
    baseline = persisted_ids()
    verts = spark.createDataFrame([(i,) for i in range(100)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 98, 2)], ["a_id", "b_id"]
    )
    outs = [connected_components(verts, edges) for _ in range(3)]
    assert len(persisted_ids() - baseline) == len(outs)
    for out in outs:
        assert out.count() == 100
        release_checkpoint(out)
    assert persisted_ids() - baseline == set()


@pytest.mark.parametrize("loop", ["_cc_loop", "_bfs_loop"])
def test_loops_leave_the_caller_session_conf_alone(spark, monkeypatch, loop):
    """connected_components and bfs_distances plan their loops in a private
    session. While the loop body runs, the caller's session still reads
    AQE on and its own shuffle width, and a query planned there is
    adaptive; the loop's own frames plan with AQE off. The result comes
    back as a frame of the caller's session."""
    from opc2mongodb_spark.operators import components
    from opc2mongodb_spark.plans.checks import explain_str

    aqe = "spark.sql.adaptive.enabled"
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(aqe) == "true"
    real = getattr(components, loop)
    ran = []

    def spy(frame, *args):
        assert spark.conf.get(aqe) == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == width
        beside = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
        assert "AdaptiveSparkPlan" in explain_str(beside)
        assert frame.sparkSession.conf.get(aqe) == "false"
        ran.append(loop)
        return real(frame, *args)

    monkeypatch.setattr(components, loop, spy)
    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "a long, b long")
    if loop == "_cc_loop":
        verts = spark.createDataFrame([(i,) for i in range(8)], "id long")
        out = components.connected_components(
            verts, edges.toDF("a_id", "b_id")
        )
        got = {(r.id, r.cluster_id) for r in out.collect()}
        assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 5),
                       (6, 5), (7, 7)}
    else:
        seeds = spark.createDataFrame([(0,)], "node long")
        out = components.bfs_distances(
            edges.toDF("src", "dst"), seeds, max_hops=5, id_col="node"
        )
        assert {tuple(r) for r in out.collect()} == {(0, 0), (1, 1), (2, 2)}
    assert ran == [loop]
    assert out.sparkSession is spark
    assert spark.conf.get(aqe) == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_training_shard_write_is_balanced_and_replayable(spark, sf_dir, tmp_path):
    """write_training_shards: every row lands in exactly one shard, shard
    sizes are near-uniform (md5 assignment), within-shard file order is the
    md5 order, and a second run reproduces every shard byte-for-byte — the
    reproducible-global-shuffle contract q_shard_assign documents."""
    from opc2mongodb_spark.operators.sharding import (
        shard_assignment,
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, out1, "doc_id", n_shards=8)
    write_training_shards(docs, out2, "doc_id", n_shards=8)

    back = spark.read.parquet(out1)
    assert back.count() == n
    assert back.select("doc_id").distinct().count() == n
    # Balance/coverage are statistical (md5-uniform): only meaningful when
    # the fixture is large enough that an empty shard would be a real
    # anomaly (P(empty shard | uniform) < 8 * (7/8)^200 ~ 2e-11).
    if n >= 200:
        sizes = {r["shard"]: r["c"] for r in back.groupBy("shard").agg(
            F.count(F.lit(1)).alias("c")).collect()}
        assert set(sizes) == set(range(8))
        assert max(sizes.values()) < 2.5 * (n / 8)  # md5 keeps shards balanced

    # Byte-for-byte reproducibility: the two runs' shard files must be
    # IDENTICAL on disk, not merely row-order-equal.
    import glob as _glob
    import hashlib

    def _checksums(out):
        # part-file names embed a per-run UUID; identity is (shard, ordinal)
        return {
            k: [
                hashlib.md5(open(f, "rb").read()).hexdigest()
                for f in sorted(_glob.glob(f"{out}/shard={k}/*.parquet"))
            ]
            for k in range(8)
        }

    assert _checksums(out1) == _checksums(out2)

    # Within-shard parquet row order == md5 order, and replayable run-to-run.
    expected = {
        r["shard"]: [x["doc_id"] for x in r["ids"]]
        for r in shard_assignment(docs, "doc_id", 8)
        .groupBy("shard")
        .agg(F.sort_array(F.collect_list(F.struct("ord", "doc_id"))).alias("ids"))
        .collect()
    }
    for out in (out1, out2):
        import glob as _glob

        for k in range(8):
            files = sorted(_glob.glob(f"{out}/shard={k}/*.parquet"))
            got = [
                r["doc_id"]
                for f in files
                for r in spark.read.parquet(f).collect()
            ]
            assert got == expected[k], f"shard {k} order mismatch"


def test_bloom_sketch_no_false_negatives_and_broadcast(spark):
    """Bloom contract: every sketched key probes true (no false negatives
    — the property that keeps gate recall intact); disjoint keys mostly
    probe false (bounded false-positive rate); the probe joins against a
    BROADCAST of the <=n_words-row sketch."""
    from opc2mongodb_spark.operators.bloom import bloom_probe, bloom_sketch
    from opc2mongodb_spark.plans.checks import explain_str

    corpus = spark.createDataFrame(
        [(f"key_{i}",) for i in range(300)], "k string"
    )
    sketch = bloom_sketch(corpus, "k")
    assert sketch.count() <= 128

    self_probe = bloom_probe(sketch, corpus, "k")
    assert "BroadcastHashJoin" in explain_str(self_probe, "simple")
    assert self_probe.filter(~F.col("in_bloom")).count() == 0

    others = spark.createDataFrame(
        [(f"other_{i}",) for i in range(300)], "k string"
    )
    fp = bloom_probe(sketch, others, "k").filter(F.col("in_bloom")).count()
    assert fp < 150, f"false-positive rate implausibly high: {fp}/300"


def test_bloom_probe_preserves_duplicate_rows(spark):
    """bloom_probe must return one verdict row PER INPUT ROW — duplicate
    probe rows keep their multiplicity (r5 fix: the old groupBy over all
    data columns silently collapsed them)."""
    from opc2mongodb_spark.operators.bloom import bloom_probe, bloom_sketch

    corpus = spark.createDataFrame([("a",), ("b",)], "k string")
    sketch = bloom_sketch(corpus, "k")
    probes = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("zz",)], "k string"
    )
    out = bloom_probe(sketch, probes, "k").collect()
    assert len(out) == 4
    assert sum(1 for r in out if r.k == "a" and r.in_bloom) == 3


def test_incremental_gate_bloom_prefilter_is_transparent(spark, sf_dir):
    """bloom_prefilter=True must return IDENTICAL verdicts (Bloom has no
    false negatives, so pruning definitely-absent band buckets cannot
    change the gate's output) while the plan gains the broadcast sketch
    probe."""
    from opc2mongodb_spark.operators.dedup import incremental_keep_list

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8)
    plain = {
        r.doc_id: r.verdict
        for r in incremental_keep_list(corpus, batch, "doc_id", "text").collect()
    }
    bloomed = {
        r.doc_id: r.verdict
        for r in incremental_keep_list(
            corpus, batch, "doc_id", "text", bloom_prefilter=True
        ).collect()
    }
    assert plain == bloomed and plain


def test_deadband_stream_anchors_on_reported_value(spark, tmp_path, state_provider):
    """deadband_stream implements report-by-exception against the last
    REPORTED value (not the last observation): a slow drift in steps below
    the band stays suppressed until the CUMULATIVE move crosses it — the
    case the lag-based batch twin intentionally under-suppresses — and the
    reported anchor survives the micro-batch boundary. Verified against a
    pure-Python reference over the same samples."""
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import deadband_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    b1 = [  # deadband 1.0; drift in 0.6 steps
        ("t1", 10.0, "2024-01-01 10:00:00"),  # first -> report, anchor 10.0
        ("t1", 10.6, "2024-01-01 10:00:10"),  # |0.6| < 1 -> suppress
        ("t1", 11.2, "2024-01-01 10:00:20"),  # |1.2| >= 1 -> report, anchor 11.2
        ("t2", 5.0, "2024-01-01 10:00:00"),  # independent key
    ]
    b2 = [
        ("t1", 11.9, "2024-01-01 10:01:00"),  # |0.7| vs 11.2 -> suppress
        ("t1", 12.3, "2024-01-01 10:01:10"),  # |1.1| vs 11.2 -> report
        ("t2", 5.5, "2024-01-01 10:01:00"),  # |0.5| < 1 -> suppress
    ]

    def reference(samples, band=1.0):
        out, last = [], {}
        for tag, v, ts in samples:
            anchor = last.get(tag)
            rep = anchor is None or abs(v - anchor) >= band
            if rep:
                last[tag] = v
            out.append((tag, ts, rep, last[tag]))
        return out

    def rows(batch):
        return spark.createDataFrame(
            [
                ("s1", tag, v, datetime.fromisoformat(ts))
                for tag, v, ts in batch
            ],
            schema,
        )

    src = tmp_path / "src"
    src.mkdir()
    rows(b1).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        deadband_stream(stream, deadband=1.0)
        .writeStream.format("memory")
        .queryName("deadband")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows(b2).coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        got = {
            (r.tag, r.serverTimestamp.isoformat(sep=" ")): (
                r.reported,
                r.reportedValue,
            )
            for r in spark.sql("select * from deadband").collect()
        }
    finally:
        q.stop()

    exp = {
        (tag, ts): (rep, anchor)
        for tag, ts, rep, anchor in reference(b1 + b2)
    }
    assert got == exp
    # the drift case specifically: batch-2's first t1 sample was suppressed
    # against the batch-1 anchor, proving the anchor crossed the boundary
    assert got[("t1", "2024-01-01 10:01:00")] == (False, 11.2)


def test_incremental_keep_list_index_path_parity(spark, sf_dir):
    """The persisted-index path (corpus_fps/sigs/bloom precomputed, corpus
    text absent) must produce verdicts identical to the inline recompute
    path on the same corpus/batch split."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.operators.bloom import bloom_sketch
    from opc2mongodb_spark.operators.dedup import (
        band_bloom_key,
        incremental_keep_list,
        minhash_band_rows,
        minhash_signatures,
    )
    from opc2mongodb_spark.functions.text import fingerprint
    from opc2mongodb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0).limit(40)

    inline = {
        (r.doc_id, r.verdict)
        for r in incremental_keep_list(corpus, batch, "doc_id", "text").collect()
    }
    fps = corpus.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    sigs = minhash_signatures(corpus, "doc_id", "text")
    bloom = bloom_sketch(
        minhash_band_rows(sigs, "doc_id").select(band_bloom_key().alias("_k")),
        "_k",
    )
    indexed = {
        (r.doc_id, r.verdict)
        for r in incremental_keep_list(
            None,
            batch,
            "doc_id",
            "text",
            corpus_fps=fps,
            corpus_sigs=sigs,
            corpus_bloom=bloom,
        ).collect()
    }
    assert indexed == inline


def test_dynamic_partition_pruning_fires(spark, tmp_path, sf_dir):
    """The 100 TB partitioned-layout story: a fact table partitioned on the
    join key must be pruned at RUNTIME by the dim side's filter (dynamic
    partition pruning) — the scan's partition filters carry a
    dynamicpruning expression, so only the matching partition directories
    are read."""
    from pyspark.sql import functions as F

    from opc2mongodb_spark.sources.tables import load_table

    p = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [("click", 1)], ["etype", "flag"]
    )
    j = fact.join(
        dim.filter(F.col("flag") == 1), fact.event_type == F.col("etype")
    ).groupBy("event_type").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {r.event_type: r["count"] for r in j.collect()}
    assert set(got) == {"click"}


def test_stateful_cusum_resumes_and_alarms_across_batches(spark, tmp_path, state_provider):
    """cusum_stream's clamped recursion must continue exactly across
    micro-batches: the streamed two-batch result equals a single-pass
    Python replay of Page's recursion (incl. the alarm reset), and drift
    injected in batch 2 alarms using state carried from batch 1."""
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import cusum_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    target, slack, threshold = 10.0, 0.5, 3.0
    b1 = [10.0, 11.5, 12.0]       # drift starts: s_hi = 0 -> 1.0 -> 2.5
    b2 = [None, 12.5, 9.0, 6.0, 5.5]  # a NULL sample must not reset the
    # carried run; then crosses in batch 2 (carried state), then a downward
    # run builds s_lo

    def rows(vals, t0):
        return spark.createDataFrame(
            [
                ("s1", "t1", v, datetime(2024, 1, 1, 10, 0, t0 + i))
                for i, v in enumerate(vals)
            ],
            schema,
        )

    src = tmp_path / "src"
    src.mkdir()
    rows(b1, 0).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        cusum_stream(stream, target=target, slack=slack, threshold=threshold)
        .writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows(b2, 10).coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        got = [
            (r.s_hi, r.s_lo, r.alarm)
            for r in sorted(
                spark.sql("select * from cusum_out").collect(),
                key=lambda r: r.serverTimestamp,
            )
        ]
    finally:
        q.stop()

    s_hi = s_lo = 0.0
    expected = []
    for v in b1 + b2:
        if v is None:  # NULL: emitted with the carried sums, no move
            expected.append((s_hi, s_lo, False))
            continue
        s_hi = max(0.0, s_hi + (v - target - slack))
        s_lo = max(0.0, s_lo + (target - v - slack))
        hit = s_hi > threshold or s_lo > threshold
        expected.append((s_hi, s_lo, hit))
        if hit:
            s_hi = s_lo = 0.0
    assert got == expected, f"{got} != {expected}"
    assert any(a for _, _, a in got), "drift never alarmed"
    # the alarm must fire in batch 2 USING batch-1 state: replaying batch 2
    # alone from zero state reaches at most s_hi=2.0 < threshold
    assert got[4][2], got


def test_psi_drift_stream_quiet_alarm_and_restart(spark, tmp_path, state_provider):
    """r7 golden for psi_drift_stream (the cusum_stream pattern):
    stationary micro-batches matching the reference mix stay quiet, a
    shifted batch pushes PSI over threshold and alarms, and the
    cumulative bin-count state survives a checkpoint RESTART — the
    post-restart batch scores against counts carried from before the
    stop, and every emitted psi equals a Python replay of the exact
    q_psi_drift arithmetic (Jeffreys smoothing + alarm reset)."""
    import math
    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import (
        psi_drift_stream,
        psi_reference,
    )

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
        ]
    )
    # reference sample: uniform 0..99 -> decile edges at 9.x, 19.x, ...
    ref = spark.createDataFrame(
        [("s1", "t1", float(v)) for v in range(100)], schema
    ).select("doubleValue")
    edges, ref_counts = psi_reference(ref, "doubleValue")
    assert len(edges) == 9 and sum(ref_counts) == 100

    threshold = 0.2
    b1 = [float(v) for v in range(5, 100, 10)]   # one per decile: stationary
    b2 = [float(v) for v in range(2, 100, 10)]   # still uniform: stationary
    b3 = [95.0] * 20                             # mass collapses into bin 10

    def replay(batches):
        n1 = sum(ref_counts)
        p = [(c + 0.5) / (n1 + 5.0) for c in ref_counts]
        counts = [0] * 10
        out = []
        for vals in batches:
            for v in vals:
                counts[sum(1 for e in edges if e < v)] += 1
            n2 = sum(counts)
            psi = sum(
                (p[i] - (counts[i] + 0.5) / (n2 + 5.0))
                * math.log(p[i] / ((counts[i] + 0.5) / (n2 + 5.0)))
                for i in range(10)
            )
            alarm = psi > threshold
            out.append((len(vals), n2, psi, alarm))
            if alarm:
                counts = [0] * 10
        return out

    src = tmp_path / "src"
    src.mkdir()

    def feed(vals, name):
        spark.createDataFrame(
            [("s1", "t1", v) for v in vals], schema
        ).coalesce(1).write.parquet(str(src / name))

    out_dir = tmp_path / "out"

    def start():
        # file sink, not memory: the memory sink cannot recover from a
        # checkpoint, and the RESTART is the point of this golden
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            psi_drift_stream(stream, edges, ref_counts, threshold=threshold)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1")
    q = start()
    try:
        q.processAllAvailable()
        feed(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    # RESTART from the same checkpoint: the shifted batch must score
    # against the 20 stationary rows carried in state
    feed(b3, "b3")
    q = start()
    try:
        q.processAllAvailable()
        got = [
            (r.batch_n, r.n_seen, r.psi, r.alarm)
            for r in sorted(
                spark.read.parquet(str(out_dir)).collect(),
                key=lambda r: r.n_seen,
            )
        ]
    finally:
        q.stop()

    exp = replay([b1, b2, b3])
    assert len(got) == 3, got
    for (gn, gseen, gpsi, galarm), (en, eseen, epsi, ealarm) in zip(got, exp):
        assert (gn, gseen, galarm) == (en, eseen, ealarm), (got, exp)
        assert abs(gpsi - epsi) < 1e-12, (gpsi, epsi)
    assert [a for _, _, _, a in got] == [False, False, True]
    # n_seen proves the restart carried state: 40 = 20 (pre-restart) + 20
    assert got[2][1] == 40, got


def test_heavy_hitters_stream_invariants_and_restart(
    spark, tmp_path, state_provider
):
    """r7 golden for heavy_hitters_stream (Space-Saving): after two
    micro-batches and a checkpoint RESTART with a third, the final k-row
    summary satisfies the Space-Saving guarantees against an exact replay
    count — est >= true >= est - err for every surviving tag, every tag
    with true frequency > n/k is present — and n_seen proves the counter
    table carried across the restart. Output also equals a direct Python
    replay of the eviction recursion (arrival order pinned by timestamp)."""
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import heavy_hitters_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    k = 4
    # skewed tag stream: t0 dominates, t1 heavy, long tail of singletons
    b1 = ["t0"] * 10 + ["t1"] * 4 + ["a", "b", "c"]
    b2 = ["t0"] * 6 + ["t1"] * 5 + ["d", "e", "a"]
    b3 = ["t0"] * 8 + ["f", "t1", "g", "a"]

    def feed(tags, name, t0):
        spark.createDataFrame(
            [
                ("s1", t, datetime(2024, 1, 1, 10, 0, 0, t0 + i))
                for i, t in enumerate(tags)
            ],
            schema,
        ).coalesce(1).write.parquet(str(tmp_path / "src" / name))

    def replay(batches):
        table, n = {}, 0
        outs = []
        for tags in batches:
            for tag in tags:
                n += 1
                if tag in table:
                    table[tag][0] += 1
                elif len(table) < k:
                    table[tag] = [1, 0]
                else:
                    victim = min(table, key=lambda t: (table[t][0], t))
                    vc = table[victim][0]
                    del table[victim]
                    table[tag] = [vc + 1, vc]
            snap = sorted(
                ((t, (c, e)) for t, (c, e) in table.items()),
                key=lambda kv: (-kv[1][0], kv[0]),
            )
            outs.append((n, snap))
        return outs

    (tmp_path / "src").mkdir()
    out_dir = tmp_path / "out"

    def start():
        stream = spark.readStream.schema(schema).parquet(
            str(tmp_path / "src" / "*")
        )
        return (
            heavy_hitters_stream(stream, k=k)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1", 0)
    q = start()
    try:
        q.processAllAvailable()
        feed(b2, "b2", 1000)
        q.processAllAvailable()
    finally:
        q.stop()
    feed(b3, "b3", 2000)
    q = start()
    try:
        q.processAllAvailable()
        rows = spark.read.parquet(str(out_dir)).collect()
    finally:
        q.stop()

    exp = replay([b1, b2, b3])
    # group emitted rows by n_seen (one summary per batch)
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.n_seen, []).append(
            (r.tag, r.est_count, r.max_err)
        )
    assert sorted(by_batch) == [e[0] for e in exp], (sorted(by_batch), exp)
    for n, table in exp:
        got = sorted(by_batch[n], key=lambda x: (-x[1], x[0]))
        want = [(t, c, e) for t, (c, e) in table]
        assert got == want, (n, got, want)
    # Space-Saving guarantees vs exact truth on the FINAL summary
    from collections import Counter

    truth = Counter(b1 + b2 + b3)
    n_total = len(b1) + len(b2) + len(b3)
    final = {t: (c, e) for t, c, e in by_batch[n_total]}
    assert final, "empty final summary"
    for t, (c, e) in final.items():
        assert c >= truth[t] >= c - e, (t, c, e, truth[t])
    for t, cnt in truth.items():
        if cnt > n_total / k:
            assert t in final, (t, cnt, final)
    # the restart actually carried state
    assert n_total == len(b1) + len(b2) + len(b3)
    assert max(by_batch) == n_total


def test_quota_gate_bursts_refill_and_restart(spark, tmp_path, state_provider):
    """r7 golden for quota_gate: a burst beyond the bucket is clipped at
    exactly `burst` admissions, event-time refill re-admits later rows,
    verdicts equal a Python replay of the token recursion, and the
    bucket state survives a checkpoint RESTART (the post-restart batch
    starts from the carried token level, not a fresh bucket)."""
    from datetime import datetime, timedelta

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import quota_gate

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rate, burst = 2.0, 3.0  # 2 tokens/sec, bucket of 3

    # batch 1: 6 rows in the same millisecond — only `burst` admitted;
    # then one row 2s later (refill 4 -> capped 3... minus spent)
    b1 = [(t0 + timedelta(microseconds=i), float(i)) for i in range(6)]
    b1.append((t0 + timedelta(seconds=2), 10.0))
    # batch 2 (after restart): rows at +2.25s and +10s
    b2 = [
        (t0 + timedelta(seconds=2, microseconds=250_000), 20.0),
        (t0 + timedelta(seconds=10), 21.0),
    ]

    def replay(all_rows):
        tokens, last = burst, None
        out = []
        for ts, _ in all_rows:
            us = int(ts.timestamp() * 1e6)
            if last is not None and us > last:
                tokens = min(burst, tokens + (us - last) * rate / 1e6)
            last = us if last is None else max(last, us)
            ok = tokens >= 1.0
            if ok:
                tokens -= 1.0
            out.append(ok)
        return out

    src = tmp_path / "src"
    src.mkdir()
    out_dir = tmp_path / "out"

    def feed(rows, name):
        spark.createDataFrame(
            [("s1", "t1", v, ts) for ts, v in rows], schema
        ).coalesce(1).write.parquet(str(src / name))

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            quota_gate(stream, rate_per_sec=rate, burst=burst)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    feed(b2, "b2")
    q = start()
    try:
        q.processAllAvailable()
        rows = sorted(
            spark.read.parquet(str(out_dir)).collect(),
            key=lambda r: (r.serverTimestamp, r.doubleValue),
        )
    finally:
        q.stop()

    got = [r.admitted for r in rows]
    expect = replay(sorted(b1) + sorted(b2))
    assert got == expect, (got, expect)
    # the burst was clipped at exactly `burst` admissions
    assert sum(got[:6]) == int(burst)
    # refill re-admits: the +2s row and the far-future row are admitted
    assert got[6] and got[-1]
    # restart carried a partial bucket: the +2.25s row right after the
    # restart must reflect tokens spent BEFORE the restart (replay says
    # whether it's admitted; a fresh bucket would always admit it with
    # 3 tokens — assert equality with replay already covers it, but make
    # the carried-state dependence explicit)
    fresh = [True] * len(b2)
    restart_slice = got[len(b1):]
    assert restart_slice == expect[len(b1):]


def test_heavy_hitters_stream_keys_are_isolated(spark, tmp_path, state_provider):
    """Per-key state isolation: two servers stream interleaved tags in one
    micro-batch; each key's Space-Saving table reflects ONLY its own rows
    (counts per server equal per-server exact truth for k large enough to
    hold every tag)."""
    from collections import Counter
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import heavy_hitters_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    s1 = ["a", "a", "b", "c", "a"]
    s2 = ["x", "y", "x"]
    rows = [
        (srv, t, datetime(2024, 1, 1, 10, 0, 0, i))
        for i, (srv, t) in enumerate(
            [("s1", t) for t in s1] + [("s2", t) for t in s2]
        )
    ]
    (tmp_path / "src").mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / "src" / "b1")
    )
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "src" / "*"))
    q = (
        heavy_hitters_stream(stream, k=8)
        .writeStream.format("memory")
        .queryName("hh_keys")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("select * from hh_keys").collect()
    finally:
        q.stop()
    got = {}
    for r in out:
        got.setdefault(r.server, {})[r.tag] = (r.est_count, r.max_err, r.n_seen)
    assert set(got) == {"s1", "s2"}
    for srv, stream_tags in (("s1", s1), ("s2", s2)):
        truth = Counter(stream_tags)
        assert {t: c for t, (c, _, _) in got[srv].items()} == dict(truth), got
        assert all(e == 0 for _, e, _ in got[srv].values())  # k never filled
        assert all(n == len(stream_tags) for _, _, n in got[srv].values())


def test_watchdog_stream_alarms_once_and_rearms(spark, tmp_path, state_provider):
    """r8 golden for watchdog_stream (the repo's first EVENT-time state
    timeout): a tag that stops reporting alarms exactly once when the
    watermark passes last_seen + stale_after; the alarm carries the last
    value and a silent_for_us consistent with the watermark; the pending
    deadline SURVIVES a checkpoint restart (the alarm fires in a
    post-restart batch); a recovered tag re-creates state and a second
    silence re-alarms.

    Runs under BOTH state-store providers via the shared state_provider
    fixture (conftest.py) — r10 broadened the same matrix to every
    applyInPandasWithState gate golden (change detection, EWMA, deadband,
    SDT, CUSUM, PSI)."""
    _watchdog_golden_body(spark, tmp_path)


def _watchdog_golden_body(spark, tmp_path):
    from datetime import datetime, timedelta

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import watchdog_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    stale_s = 30.0  # alarm after 30s of event-time silence
    wm_delay = "5 seconds"

    src = tmp_path / "src"
    src.mkdir()
    out_dir = tmp_path / "out"

    def feed(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            watchdog_stream(stream, stale_after_s=stale_s,
                            watermark_delay=wm_delay)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # batch 1: heartbeat + victim both report at t0
    feed(
        [
            ("s1", "alive", 1.0, t0),
            ("s1", "victim", 42.5, t0),
        ],
        "b1",
    )
    run_once()
    assert not out_dir.exists() or not list(
        spark.read.schema(
            "server string, tag string, last_ts timestamp, "
            "last_value double, silent_for_us long"
        ).parquet(str(out_dir)).collect()
    ), "no alarm may fire while the watermark is behind the deadline"

    # batch 2 (RESTART): only the heartbeat advances event time past
    # t0 + stale + watermark-delay -> victim's deadline fires from the
    # checkpointed state
    feed([("s1", "alive", 2.0, t0 + timedelta(seconds=60))], "b2")
    run_once()
    alarms = spark.read.parquet(str(out_dir)).collect()
    assert [(r.server, r.tag) for r in alarms] == [("s1", "victim")]
    a = alarms[0]
    assert a.last_value == 42.5
    assert a.last_ts == t0
    # watermark after b2 = 60s - 5s delay = t0+55s; silence = 55s
    assert a.silent_for_us == 55_000_000

    # batch 3: victim recovers (state re-created, no duplicate alarm yet)
    feed([("s1", "victim", 43.0, t0 + timedelta(seconds=61))], "b3")
    run_once()
    assert len(spark.read.parquet(str(out_dir)).collect()) == 1

    # batch 4: heartbeat advances past the NEW deadline -> second alarm
    feed([("s1", "alive", 3.0, t0 + timedelta(seconds=120))], "b4")
    run_once()
    alarms = sorted(
        spark.read.parquet(str(out_dir)).collect(),
        key=lambda r: r.silent_for_us,
    )
    assert [(r.server, r.tag, r.last_value) for r in alarms] == [
        ("s1", "victim", 43.0),
        ("s1", "victim", 42.5),
    ]


def test_schema_drift_stream_quiet_alarm_and_restart(
    spark, tmp_path, state_provider
):
    """r8 golden for schema_drift_stream (the psi_drift_stream pattern):
    baseline-keyed batches stay quiet, a batch carrying a never-seen
    payload key alarms with exactly that key, the known-key state
    survives a checkpoint RESTART (the same key re-appearing after the
    restart does NOT re-alarm; a genuinely new key does), and malformed
    payloads are counted, not crashed on."""
    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import schema_drift_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("props", T.StringType()),
        ]
    )

    b1 = ['{"k": 1}', '{"k": 2}']                      # baseline only: quiet
    b2 = ['{"k": 3, "extra": "x"}', 'not json at all'] # new key + malformed
    b3 = ['{"extra": "y", "v2": 7}', '{"k": 4}']       # extra known, v2 new

    src = tmp_path / "src"
    src.mkdir()

    def feed(payloads, name):
        spark.createDataFrame(
            [("s1", p) for p in payloads], schema
        ).coalesce(1).write.parquet(str(src / name))

    out_dir = tmp_path / "out"

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            schema_drift_stream(stream, "props", "server", baseline=["k"])
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1")
    q = start()
    try:
        q.processAllAvailable()
        feed(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    # RESTART: 'extra' must be remembered from before the stop
    feed(b3, "b3")
    q = start()
    try:
        q.processAllAvailable()
        got = sorted(
            (
                (r.batch_keys, list(r.new_keys), r.invalid_rows,
                 r.n_known, r.alarm)
                for r in spark.read.parquet(str(out_dir)).collect()
            ),
            key=lambda t: t[3],
        )
    finally:
        q.stop()

    assert got == [
        (1, [], 0, 1, False),            # b1: {k} ⊆ baseline
        (2, ["extra"], 1, 2, True),      # b2: extra is new, 1 malformed
        (3, ["v2"], 0, 3, True),         # b3: extra carried across restart
    ], got


def test_hysteresis_stream_transitions_and_restart(
    spark, tmp_path, state_provider
):
    """r8 golden for hysteresis_stream: SET fires only at >= hi, the dead
    zone holds (no chatter), CLEAR only at <= lo, and the alarm state
    survives a checkpoint RESTART — a post-restart dead-zone batch stays
    silent and the eventual CLEAR proves the carried SET."""
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import hysteresis_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )

    def t(s):
        return datetime(2024, 1, 1, 10, 0, s)

    # b1: climb through the dead zone (no event), SET at 450, wiggle in
    # dead zone (held), dip to 99 -> CLEAR, re-SET at 400
    b1 = [(t(0), 50.0), (t(1), 250.0), (t(2), 450.0), (t(3), 300.0),
          (t(4), 99.0), (t(5), 400.0)]
    # post-restart: dead zone only — MUST stay silent (state carried = SET)
    b2 = [(t(6), 350.0), (t(7), 101.0)]
    # then a clear
    b3 = [(t(8), 100.0)]

    src = tmp_path / "src"
    src.mkdir()

    def feed(rows, name):
        spark.createDataFrame(
            [("s1", "t1", v, ts) for ts, v in rows], schema
        ).coalesce(1).write.parquet(str(src / name))

    out_dir = tmp_path / "out"

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            hysteresis_stream(stream, hi=400.0, lo=100.0)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    feed(b2, "b2")
    q = start()
    try:
        q.processAllAvailable()
        feed(b3, "b3")
        q.processAllAvailable()
        got = sorted(
            (r.serverTimestamp, r.transition)
            for r in spark.read.parquet(str(out_dir)).collect()
        )
    finally:
        q.stop()

    assert got == [
        (t(2), "SET"),     # first >= hi
        (t(4), "CLEAR"),   # <= lo
        (t(5), "SET"),     # boundary: exactly hi sets
        (t(8), "CLEAR"),   # post-restart, after a silent dead-zone batch
    ], got


def test_curate_corpus_end_to_end(spark, tmp_path, sf_dir):
    """Composed curation pipeline golden: stages only shrink, planted
    near-duplicates collapse to one representative (min id), the run is
    byte-deterministic (two runs -> identical keep lists), the stratum
    cap binds per (lang, source), and the shard write round-trips with
    every kept row in exactly one shard."""
    from opc2mongodb_spark.pipelines import curate_corpus
    from opc2mongodb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = "this is a shared near duplicate body of text " * 8
    extra = spark.createDataFrame(
        [
            # exact pair: same normalized text, different ids
            (900001, "Exactly  The Same   text " * 10, "en", "web", 250),
            (900002, "exactly the same text " * 10, "en", "web", 220),
            # near pair: one token differs out of ~48
            (900003, base + "tail one", "en", "web", len(base) + 8),
            (900004, base + "tail two", "en", "web", len(base) + 8),
            # short junk: must die at the quality gate
            (900005, "tiny", "en", "web", 4),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    full = docs.unionByName(extra)

    out = tmp_path / "shards"
    res = curate_corpus(
        full,
        jaccard_threshold=0.8,
        per_stratum_cap=50,
        out_dir=str(out),
        n_shards=4,
    )
    stats = {r.stage: r.rows for r in res.stats.collect()}
    assert stats["input"] == docs.count() + 5
    # monotone shrink in pipeline order
    order = ["input", "quality_lang", "exact_dedup", "near_dedup",
             "stratum_cap"]
    vals = [stats[s] for s in order]
    assert vals == sorted(vals, reverse=True), stats

    kept_ids = {r.doc_id for r in res.kept.select("doc_id").collect()}
    # quality gate killed the junk doc
    assert 900005 not in kept_ids
    # exact pair: min id repr survives at most; both never
    assert not {900001, 900002} <= kept_ids
    # near pair: LSH + jaccard >= 0.8 collapses to the min id only
    assert not {900003, 900004} <= kept_ids

    # determinism: a second run keeps the identical set
    res2 = curate_corpus(full, jaccard_threshold=0.8, per_stratum_cap=50)
    kept2 = {r.doc_id for r in res2.kept.select("doc_id").collect()}
    assert kept2 == kept_ids

    # stratum cap binds
    per = (
        res.kept.groupBy("lang", "source").count().agg(F.max("count")).first()[0]
    )
    assert per <= 50

    # shard round-trip: every kept row exactly once, shard in [0, 4)
    back = spark.read.parquet(str(out))
    assert back.count() == len(kept_ids)
    assert {r.doc_id for r in back.select("doc_id").collect()} == kept_ids
    shards = {r.shard for r in back.select("shard").distinct().collect()}
    assert shards <= {0, 1, 2, 3}


def test_srm_stream_quiet_alarm_and_restart(spark, tmp_path, state_provider):
    """Golden for srm_stream (the psi_drift_stream pattern): balanced
    micro-batches stay quiet, a treatment-skewed batch pushes the
    cumulative df=1 chi-square over 3.841 and alarms, and the cumulative
    arm counts survive a checkpoint RESTART — the post-restart batch's
    counts include everything from before the stop, and every emitted
    (n_t, n_c, chi2) equals a Python replay of q_srm_check's md5-bucket
    arithmetic folded batch-by-batch."""
    import hashlib

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import srm_stream

    def bucket(uid):
        h = hashlib.md5(f"srm:{uid}".encode()).hexdigest()
        return int(h[:8], 16) % 100

    treat = [u for u in range(4000) if bucket(u) < 50]
    ctrl = [u for u in range(4000) if bucket(u) >= 50]
    b1 = treat[:20] + ctrl[:20]          # balanced -> quiet
    b2 = treat[20:40] + ctrl[20:40]      # still balanced -> quiet
    b3 = treat[40:100]                   # pure treatment skew -> alarm

    schema = T.StructType(
        [
            T.StructField("experiment", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()

    def feed(uids, name):
        spark.createDataFrame(
            [("exp1", u) for u in uids], schema
        ).coalesce(1).write.parquet(str(src / name))

    out_dir = tmp_path / "out"

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            srm_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1")
    q = start()
    try:
        q.processAllAvailable()
        feed(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    feed(b3, "b3")          # arrives while the gate is DOWN
    q = start()             # restart from the checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (
            (r.batch_n, r.n_treatment, r.n_control, r.chi2_stat, r.srm_alarm)
            for r in spark.read.parquet(str(out_dir)).collect()
        ),
        key=lambda r: r[1] + r[2],
    )

    n_t = n_c = 0
    expected = []
    for vals in (b1, b2, b3):
        for u in vals:
            if bucket(u) < 50:
                n_t += 1
            else:
                n_c += 1
        n = n_t + n_c
        e = n * 0.5
        chi2 = (n_t - e) ** 2 / e + (n_c - e) ** 2 / e
        expected.append((len(vals), n_t, n_c, chi2, chi2 > 3.841))
    assert got == expected, f"{got} != {expected}"
    assert not got[0][4] and not got[1][4], "balanced batches must stay quiet"
    assert got[2][4], "skewed batch must alarm on cumulative counts"
    # the alarm needs the carried state: batch 3 alone from zero state is
    # 60 treatment / 0 control = chi2 60, but the REPLAY check above
    # already pins exact continuation; assert counts include pre-restart
    assert got[2][1] + got[2][2] == len(b1) + len(b2) + len(b3)


def test_funnel_stream_advances_across_batches_and_restart(
    spark, tmp_path, state_provider
):
    """Golden for funnel_stream: a user's stages advance ONLY on the next
    expected step strictly in event order; out-of-order-within-batch rows
    are handled by the (ts, event_id) sort; a step arriving in a LATER
    micro-batch advances using carried state; state survives a checkpoint
    restart; and wrong-order steps (purchase before click) never advance."""
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import funnel_stream

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )

    def t(s):
        return datetime(2024, 1, 1, 10, 0, s)

    # user 1: clean view->click in b1, purchase in b3 (post-restart)
    # user 2: purchase FIRST (never advances), then view in b2
    # user 3: click before any view -> no advance at all
    b1 = [(1, "view", t(0), 1), (1, "click", t(1), 2), (2, "purchase", t(0), 3)]
    b2 = [(2, "view", t(5), 4), (3, "click", t(5), 5)]
    b3 = [(1, "purchase", t(10), 6), (2, "click", t(11), 7)]

    src = tmp_path / "src"
    src.mkdir()

    def feed(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    out_dir = tmp_path / "out"

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            funnel_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    feed(b1, "b1")
    q = start()
    try:
        q.processAllAvailable()
        feed(b2, "b2")
        q.processAllAvailable()
    finally:
        q.stop()
    feed(b3, "b3")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r.user_id, r.stage, r.step)
        for r in spark.read.parquet(str(out_dir)).collect()
    )
    assert got == [
        (1, 1, "view"),
        (1, 2, "click"),
        (1, 3, "purchase"),   # carried stage=2 across the restart
        (2, 1, "view"),       # purchase-first never advanced
        (2, 2, "click"),      # click after view, in the post-restart batch
    ], got


def test_drawdown_stream_carries_peak_across_batches_and_restart(
    spark, tmp_path, state_provider
):
    """Golden for drawdown_stream: the running peak and max drawdown
    continue EXACTLY across micro-batches and a checkpoint restart — the
    streamed three-batch result equals a single-pass Python replay, and
    the post-restart batch's drawdown is measured against the peak set
    before the stop."""
    from datetime import datetime

    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import drawdown_stream

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("doubleValue", T.DoubleType()),
            T.StructField("serverTimestamp", T.TimestampType()),
        ]
    )
    b1 = [10.0, 15.0, 12.0]        # peak 15, dd up to 3
    b2 = [18.0, 9.0]               # new peak 18, dd 9
    b3 = [17.0, 4.0, 20.0, 19.5]   # post-restart: dd 14 vs carried 18

    def rows(vals, t0):
        return spark.createDataFrame(
            [
                ("s1", "t1", v, datetime(2024, 1, 1, 10, 0, t0 + i))
                for i, v in enumerate(vals)
            ],
            schema,
        )

    src = tmp_path / "src"
    src.mkdir()
    out_dir = tmp_path / "out"

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            drawdown_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    rows(b1, 0).coalesce(1).write.parquet(str(src / "b1"))
    q = start()
    try:
        q.processAllAvailable()
        rows(b2, 10).coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()
    rows(b3, 20).coalesce(1).write.parquet(str(src / "b3"))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [
        (r.peak, r.drawdown, r.max_drawdown)
        for r in sorted(
            spark.read.parquet(str(out_dir)).collect(),
            key=lambda r: r.serverTimestamp,
        )
    ]
    peak, mdd = float("-inf"), 0.0
    expected = []
    for v in b1 + b2 + b3:
        peak = max(peak, v)
        dd = peak - v
        mdd = max(mdd, dd)
        expected.append((peak, dd, mdd))
    assert got == expected, f"{got} != {expected}"
    # the post-restart trough (4.0) must be measured against the
    # pre-restart peak (18.0): dd = 14, which becomes the max drawdown
    assert got[6] == (18.0, 14.0, 14.0), got


def test_evalue_stream_quiet_then_alarm_across_restart(
    spark, tmp_path, state_provider
):
    """Golden for evalue_stream: (1) batches at the H0 bad-quality share
    stay quiet; (2) a shifted batch pushes ln E over ln(20) and alarms;
    (3) the (x, n) state survives a checkpoint restart so the
    post-restart e-value equals the single-pass arithmetic over ALL
    batches — bit-identical, because the state is two exact integers
    and the coefficients are literals."""
    from pyspark.sql import types as T

    from opc2mongodb_spark.streaming.stateful import (
        _EVALUE_LN20,
        _EVALUE_LR0,
        _EVALUE_LR1,
        evalue_stream,
    )

    schema = T.StructType(
        [
            T.StructField("server", T.StringType()),
            T.StructField("tag", T.StringType()),
            T.StructField("quality", T.LongType()),
        ]
    )
    # b1/b2: 1 bad in 8 (share 0.125 < 1/4) — the e-process shrinks.
    b1 = [192] * 7 + [0]
    b2 = [192] * 7 + [0]
    # b3 (post-restart): heavily bad — cumulative share jumps past 3/8.
    b3 = [0] * 40 + [192] * 4

    def rows(quals):
        return spark.createDataFrame(
            [("s1", "t1", q) for q in quals], schema
        )

    src = tmp_path / "src"
    src.mkdir()
    out_dir = tmp_path / "out"

    def start():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        return (
            evalue_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    rows(b1).coalesce(1).write.parquet(str(src / "b1"))
    q = start()
    try:
        q.processAllAvailable()
        rows(b2).coalesce(1).write.parquet(str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()
    rows(b3).coalesce(1).write.parquet(str(src / "b3"))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (
            (r.n_seen, r.x_seen, r.lne, r.alarm)
            for r in spark.read.parquet(str(out_dir)).collect()
        ),
    )
    # single-pass replay
    expected = []
    x = n = 0
    for batch in (b1, b2, b3):
        x += sum(1 for v in batch if v != 192)
        n += len(batch)
        lne = x * _EVALUE_LR1 + (n - x) * _EVALUE_LR0
        expected.append((n, x, lne, lne > _EVALUE_LN20))
    assert got == sorted(expected), f"{got} != {expected}"
    # quiet under H0, alarmed after the shift, exactly once
    assert [a for (_, _, _, a) in sorted(expected)] == [False, False, True]
