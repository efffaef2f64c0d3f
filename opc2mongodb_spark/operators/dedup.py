"""Deduplication operators (north-star LLM-pipeline block).

Four strategies, all shuffle-bounded and skew-aware:

- exact: hash-groupBy on a content fingerprint — one shuffle, map-side
  combinable. The 100 TB path: fingerprints partition uniformly (md5), no
  skew; the groupBy never materializes document text, only the hash.
- MinHash + LSH: signatures via min-over-hashed-shingles (one explode + one
  grouped agg), candidate pairs via banding (equi-join on band value — a
  *hash* join, never a cross join). Candidate count is bounded by bucket
  sizes; hot buckets are real duplicate clusters, which is the signal.
- SimHash: 16-dim signed projection fingerprint (functions/text.py).
- n-gram Jaccard: exact verification on candidate pairs via token-set
  intersection joins — run AFTER blocking/LSH, never all-pairs.

MinHash here uses md5 hex strings as the hash family: the lexicographic min
of fixed-width hex strings equals the numeric min, and md5 is identical in
DuckDB — so the oracle can replay the exact pipeline in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opc2mongodb_spark.functions.text import distinct_tokens, fingerprint

DEFAULT_K = 8  # minhash functions
BAND_SIZE = 2  # → 4 bands of 2


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content fingerprint: representative id (min) and
    duplicate count. ``keep_first`` semantics."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_K
) -> DataFrame:
    """k MinHash values over the distinct-token set of each document.

    hash_j(tok) := md5(tok || '|' || j); signature_j := min_j over tokens.
    One explode + one grouped agg with k min() columns — map-side combinable,
    single shuffle, no per-document loop.
    """
    tok = df.select(
        F.col(id_col), F.explode(distinct_tokens(F.col(text_col))).alias("tok")
    )
    mins = [
        F.min(F.md5(F.concat(F.col("tok"), F.lit(f"|{j}")))).alias(f"mh{j}")
        for j in range(k)
    ]
    return tok.groupBy(id_col).agg(*mins)


# Band buckets larger than this emit representative-vs-member pairs instead
# of all-pairs. 512 sits above every bucket the sf0.001/sf0.01 oracle gates
# produce (measured max 336), so driver correctness is byte-identical there;
# at sf0.1 the 3182-doc mega-bucket (~5M of ~9.5M pairs) is capped to 3181
# linear edges. At 100 TB an uncapped degenerate bucket (empty/boilerplate
# docs) serializes an O(n²) emission on the one reducer owning that band
# value — the cap bounds it to O(n) while PRESERVING duplicate-cluster
# connectivity (every member still links to the bucket representative, so
# connected-components output is provably unchanged; test_scale_patterns
# asserts this on a synthetic mega-bucket).
MAX_BUCKET = 512


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    k: int = DEFAULT_K,
    band_size: int = BAND_SIZE,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs sharing at least one LSH band (equi-join on band hash).

    Returns (a_id, b_id, est_jaccard) with a_id < b_id, where est_jaccard is
    the fraction of matching minhash components. The join is per-band hash
    equi-join: at scale, cost ∝ Σ bucket² over real collision buckets only —
    and buckets above ``max_bucket`` are demoted to representative-vs-member
    emission (oversized buckets ARE duplicate clusters; a star to the min-id
    representative keeps them one connected component at O(n) instead of
    O(n²) pairs).
    """
    n_bands = k // band_size
    # Cut the signature plan ONCE (r5, the simhash-path discipline): this
    # function reads ``sigs`` three times (band rows + both signature
    # join-backs), and each reference re-runs the whole signature pipeline
    # — token explode + k md5 mins, the dominant upstream cost (measured:
    # q_hybrid_neardup 1.67 -> 1.36 s, q_dedup_minhash 1.13 -> 1.02 s at
    # sf0.1). The frame is narrow (id + k hex strings, |docs|-bounded), so
    # the checkpoint is cheap at any scale; lazy so materialization rides
    # the first consuming job.
    sigs = sigs.localCheckpoint(eager=False)
    # NARROW band rows: (id, band_id, band_val) plus the full band-value
    # array for the exactly-once check below. Carrying the k md5 signature
    # columns through the self-join multiplies every joined row by ~0.5 KB
    # and funnels it all through a pair-dedup shuffle — at a few-thousand-doc
    # collision bucket that is tens of GB for nothing (measured: >600 s at
    # sf0.1 vs ~8 s narrow). Signatures are joined back AFTER pair emission,
    # when only |pairs| rows remain.
    band_val = [
        F.concat(*[F.col(f"mh{b * band_size + i}") for i in range(band_size)])
        for b in range(n_bands)
    ]
    bands = sigs.select(
        F.col(id_col),
        F.array(*band_val).alias("bvs"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), band_val[b].alias("band_val")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "bvs", "band.band_id", "band.band_val")

    # Bucket-size accounting for the cap: one window pass keyed exactly like
    # the join. The mega-bucket lands on a single reducer here too, but for
    # an O(n) count/min — linear, not the O(n²) it would otherwise emit.
    w = Window.partitionBy("band_id", "band_val")
    bands = bands.withColumn("_cnt", F.count(F.lit(1)).over(w)).withColumn(
        "_rep", F.min(id_col).over(w)
    )

    # The signature table is tiny relative to the match volume it emits (a
    # bucket of n docs emits O(n²) pairs), so AQE coalesces the upstream agg
    # to ~1 partition and the whole quadratic emission lands on ONE task.
    # Round-robin with an explicit partition count forces the spread: a hash
    # repartition on the id would be elided as redundant (the agg output is
    # already hash-partitioned on it) and re-coalesced. Hot buckets can't
    # concentrate either — their members land on every task.
    n_part = sigs.sparkSession.sparkContext.defaultParallelism
    bands = bands.repartition(n_part)

    # Cap enforcement happens on the LEFT (pair-starting) side BEFORE the
    # join: in an oversized bucket only the representative may start a pair,
    # so the join's per-key cross product is 1×n (not n×n) — the cap bounds
    # the comparison work, not just the output rows.
    a = bands.filter(
        (F.col("_cnt") <= F.lit(max_bucket)) | (F.col(id_col) == F.col("_rep"))
    ).alias("a")
    b = bands.alias("b")
    # Exactly-once emission: a pair surfaces only from its LOWEST matching
    # band (earlier bands must all differ), so no pair-dedup shuffle exists
    # at all — the classic LSH trick for distributed pair generation.
    first_match_only = F.lit(True)
    for j in range(n_bands):
        first_match_only = first_match_only & (
            (F.col("a.band_id") <= F.lit(j))
            | (F.element_at(F.col("a.bvs"), j + 1)
               != F.element_at(F.col("b.bvs"), j + 1))
        )
    pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & first_match_only,
    ).select(
        F.col(f"a.{id_col}").alias("a_id"),
        F.col(f"b.{id_col}").alias("b_id"),
    )
    sa = sigs.select(
        F.col(id_col).alias("a_id"),
        *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(k)],
    )
    sb = sigs.select(
        F.col(id_col).alias("b_id"),
        *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(k)],
    )
    enriched = pairs.join(sa, "a_id").join(sb, "b_id")
    matches = None
    for j in range(k):
        m = F.when(F.col(f"a_mh{j}") == F.col(f"b_mh{j}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    return enriched.select(
        "a_id", "b_id", (matches.cast("double") / F.lit(float(k))).alias("est_jaccard")
    )


def jaccard_on_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact token-set Jaccard computed ONLY for the given candidate pairs.

    This is the scale-correct composition: ``pairs`` comes from
    :func:`lsh_candidate_pairs` (or any blocker whose output is bounded by
    real collision buckets), so the work is ∝ |pairs| — never all-pairs
    within a coarse block. Each side's distinct-token ARRAY is attached to
    the pair with an equi-join on the id, and the intersection is computed
    columnar with array_intersect: no |pairs| x avg-tokens row explosion (an
    exploded-token equi-join materializes ~28x the pair count as
    intermediate rows — measured 31 s vs 9 s at sf0.1's 9.5M pairs).

    ``pairs`` must have columns (a_id, b_id); returns (a_id, b_id, jaccard).
    Pairs with an empty intersection are returned with jaccard 0.0.
    """
    toksets = df.select(
        F.col(id_col), distinct_tokens(F.col(text_col)).alias("_toks")
    )
    ta = toksets.select(F.col(id_col).alias("a_id"), F.col("_toks").alias("_a"))
    tb = toksets.select(F.col(id_col).alias("b_id"), F.col("_toks").alias("_b"))
    inter = F.size(F.array_intersect(F.col("_a"), F.col("_b")))
    union = F.size(F.col("_a")) + F.size(F.col("_b")) - inter
    return (
        pairs.select("a_id", "b_id")
        .join(ta, "a_id")
        .join(tb, "b_id")
        .select(
            "a_id",
            "b_id",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 2,
    max_hamming: int = 1,
    n_bits: int = 16,
    spread: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, via pigeonhole
    banding: the ``n_bits`` signature splits into ``n_bands`` equal bands,
    and any pair with hamming <= n_bands - 1 must agree EXACTLY on at least
    one band — so the banded equi-join finds every qualifying pair (this is
    a guarantee, not a probabilistic recall). ``max_hamming`` beyond the
    pigeonhole bound raises.

    Scale: selectivity per band is 2^(n_bits/n_bands) buckets — the 16-bit
    demo width with 2 bands gives only 256-way buckets, fine at gate SFs
    but degenerating toward quadratic as the corpus grows; the production
    setting is ``n_bits=64, n_bands=4`` (65536-way buckets per band,
    hamming ball <= 3), registered as ``q_simhash64_neardup``.

    Bucket cap (the MinHash-path discipline, r5): IDENTICAL signatures are
    collapsed to one representative BEFORE banding, so the band self-join's
    input — and therefore every band bucket — is bounded by genuine
    signature diversity, never by duplicate multiplicity. A dup-heavy
    corpus (exact copies, boilerplate) puts all copies in the same band
    buckets; without the collapse the self-join is quadratic inside each
    one. Pairs are re-expanded afterwards through the (member ->
    representative) map: within-group pairs are exact signature matches
    (hamming 0) emitted by a single hash join on the group key, and each
    representative pair (hamming h) expands to members-of-A x members-of-B
    pairs with the same hamming — output-bounded work, identical output
    set.

    Exactly-once emission: a representative pair surfaces only from its
    FIRST matching band (earlier bands must differ) — no pair-dedup
    shuffle; a member pair belongs to exactly one (group, group) cell, so
    the expansion keeps the exactly-once property. The hamming verify is
    an integer sum of ``n_bits`` position compares, exact cross-engine.
    Returns (a_id, b_id, hamming) with hamming <= max_hamming.
    """
    from opc2mongodb_spark.functions.text import simhash

    if n_bits % n_bands != 0:
        raise ValueError(f"n_bands must divide {n_bits}, got {n_bands}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming <= n_bands-1 "
            f"({n_bands - 1}), got {max_hamming}"
        )
    width = n_bits // n_bands
    if width > 63:
        raise ValueError(f"band width {width} exceeds 63 bits (long-packable)")
    sigs = simhash(df, id_col, F.col(text_col), n_bits, spread=spread)
    # Pack each band's bit-substring into a LONG once per document. The
    # per-candidate-pair predicates then run on packed integers: the
    # first-matching-band check is a long compare and hamming is
    # bit_count(a XOR b) summed over bands — vs re-extracting n_bits
    # substrings per pair, which made a dup-heavy corpus (quadratic pairs
    # inside identical-signature buckets) two orders of magnitude slower.
    packed = sigs.select(
        F.col(id_col),
        *[
            F.conv(F.substring("simhash", j * width + 1, width), 2, 10)
            .cast("long")
            .alias(f"_b{j}")
            for j in range(n_bands)
        ],
    )
    return _banded_pairs_from_packed(packed, id_col, n_bands, max_hamming)


def hamming_neardup_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    n_bands: int = 4,
    max_hamming: int = 3,
    n_bits: int = 64,
) -> DataFrame:
    """Banded hamming near-dup pairs over a PRECOMPUTED 64-bit (or
    narrower) integer signature column — the signature-agnostic core of
    ``simhash_neardup_pairs``, factored (r7) so non-text signatures ride
    the same guarantee: image perceptual hashes
    (``multimodal.columns.image_dhash``), audio chroma hashes, any
    LongType fingerprint. Same pigeonhole contract (every pair with
    hamming <= n_bands - 1 agrees exactly on >= 1 band), same
    identical-signature collapse and exactly-once emission. Bands are
    extracted with shifts/masks (integer-exact); the signed top band uses
    an unsigned shift so a negative signature lands in the right bucket.
    Returns (a_id, b_id, hamming)."""
    if n_bits % n_bands != 0:
        raise ValueError(f"n_bands must divide {n_bits}, got {n_bands}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming <= n_bands-1 "
            f"({n_bands - 1}), got {max_hamming}"
        )
    width = n_bits // n_bands
    if width > 63:
        raise ValueError(f"band width {width} exceeds 63 bits (long-packable)")
    mask = (1 << width) - 1
    packed = sigs.select(
        F.col(id_col),
        *[
            F.shiftrightunsigned(
                F.col(sig_col).cast("long"), (n_bands - 1 - j) * width
            )
            .bitwiseAND(F.lit(mask))
            .alias(f"_b{j}")
            for j in range(n_bands)
        ],
    )
    return _banded_pairs_from_packed(packed, id_col, n_bands, max_hamming)


def _banded_pairs_from_packed(
    packed: DataFrame, id_col: str, n_bands: int, max_hamming: int
) -> DataFrame:
    """Shared band-join pipeline over a frame of (id, _b0.._bN packed band
    longs): identical-signature collapse, first-matching-band exactly-once
    emission, integer hamming verify, lossless member re-expansion. See
    ``simhash_neardup_pairs`` for the full contract docs."""
    members, rep_sigs = collapse_identical_signatures(
        packed, id_col, [f"_b{j}" for j in range(n_bands)]
    )
    # The collapsed frame feeds FIVE branches (representative band rows,
    # both sides of the within-group join, both sides of the cross-group
    # expansion). Without a cut, each branch re-runs the whole signature
    # pipeline — token explode + md5 + n_bits digit-convs, the dominant
    # cost (measured 5.4 s vs 2.4 s at sf0.1). The frame is narrow (id +
    # n_bands longs + rep), so checkpointing it is |docs|-bounded; lazy so
    # the materialization overlaps the write job's scheduling (eager
    # measured ~0.5 s slower: a serial extra job).
    members = members.localCheckpoint(eager=False)
    rep_sigs = members.filter(F.col(id_col) == F.col("_rep")).drop("_rep", "_n")
    bands = rep_sigs.select(
        F.col(id_col),
        *[F.col(f"_b{j}") for j in range(n_bands)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"_b{b}").alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(
        id_col, *[f"_b{j}" for j in range(n_bands)], "band.band_id", "band.band_val"
    )

    a = bands.alias("a")
    b = bands.alias("b")
    first_match_only = F.lit(True)
    for j in range(n_bands):
        first_match_only = first_match_only & (
            (F.col("a.band_id") <= F.lit(j))
            | (F.col(f"a._b{j}") != F.col(f"b._b{j}"))
        )
    hamming = None
    for j in range(n_bands):
        m = F.bit_count(
            F.col(f"a._b{j}").bitwiseXOR(F.col(f"b._b{j}"))
        )
        hamming = m if hamming is None else hamming + m
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & first_match_only,
        )
        .select(
            F.col(f"a.{id_col}").alias("_ra"),
            F.col(f"b.{id_col}").alias("_rb"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # Re-expand through ONE unified double join: a representative pair
    # (hamming h) covers members-of-A x members-of-B at the same hamming
    # (signatures are identical within a group), and a SELF pair (r, r,
    # hamming 0) for each multi-member group covers the within-group exact
    # matches — the (_ra != _rb) | (_xa < _xb) guard keeps self-expansion
    # to each unordered pair once. least/greatest restores the a_id < b_id
    # contract: member ids need not order the way their representatives do.
    self_pairs = (
        members.filter((F.col(id_col) == F.col("_rep")) & (F.col("_n") > 1))
        .select(
            F.col("_rep").alias("_ra"),
            F.col("_rep").alias("_rb"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    ma = members.select(F.col("_rep").alias("_ra"), F.col(id_col).alias("_xa"))
    mb = members.select(F.col("_rep").alias("_rb"), F.col(id_col).alias("_xb"))
    return (
        rep_pairs.unionAll(self_pairs)
        .join(ma, "_ra")
        .join(mb, "_rb")
        .filter((F.col("_ra") != F.col("_rb")) | (F.col("_xa") < F.col("_xb")))
        .select(
            F.least(F.col("_xa"), F.col("_xb")).alias("a_id"),
            F.greatest(F.col("_xa"), F.col("_xb")).alias("b_id"),
            F.col("hamming"),
        )
    )


def collapse_identical_signatures(
    packed: DataFrame, id_col: str, band_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """(members, representatives) for identical-signature collapse.

    ``members`` is ``packed`` + ``_rep`` (the min id sharing the exact
    signature) + ``_n`` (the group size); ``representatives`` is the
    one-row-per-distinct-signature frame (the rep's own row, ``_rep``/
    ``_n`` dropped). One narrow shuffle on the packed band columns (window
    min + count over the same frame); no text, no signatures wider than
    n_bands longs. Split out of :func:`simhash_neardup_pairs` so the
    bounded-band-input property is directly testable."""
    w = Window.partitionBy(*band_cols)
    members = packed.withColumn("_rep", F.min(id_col).over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(w)
    )
    rep_sigs = members.filter(F.col(id_col) == F.col("_rep")).drop("_rep", "_n")
    return members, rep_sigs


# Broadcast cap for the prefix-filter candidate self-join's build side —
# see the plan-strategy comment in _prefix_pairs_core. Deliberately above
# the planner's 10 MiB default: the join is output-bound, and losing the
# broadcast hands the explosion to an AQE-coalesced (input-sized) stage.
PREFIX_BROADCAST_CAP = 64 << 20

# Auto-mode trigger for prefix_filter_pairs' exact-copy collapse: collapse
# only when some byte-identical group has at least this many members — below
# it, a group's extra candidate-join work (g²·p prefix-bucket rows) is
# smaller than the ~3 extra output-sized expansion joins the collapse costs.
COLLAPSE_GROUP_BOUND = 32


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    mask_kernel: bool | None = None,
    collapse_exact: bool | None = None,
) -> DataFrame:
    """EXACT-threshold set-similarity join by prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al. ICDE'08):
    every pair with token-set Jaccard >= ``threshold`` — a guarantee, not
    LSH's probabilistic recall. Returns (a_id, b_id, jaccard).

    The filter: order each document's distinct tokens canonically by
    ascending global frequency (rarest first, ties by token text), and
    keep only the first ``n - ceil(t*n) + 1`` as its PREFIX. Two sets
    with Jaccard >= t must overlap in >= ceil(t*n) tokens, so they cannot
    both have prefixes free of common tokens — the candidate equi-join on
    prefix tokens is lossless. Rarest-first ordering is what makes it
    scale: join buckets are keyed by each document's RAREST tokens, so
    bucket sizes track genuine rare-token co-occurrence, not stopword
    frequency. Verification is pair-bounded and exact, with an ADAPTIVE
    kernel: a <=64-token vocabulary (attribute/tag/option sets) packs each
    token set into one long and verifies with bit_count; otherwise the
    general columnar array-intersect path (:func:`jaccard_on_pairs`) runs.
    Both produce identical pairs and jaccard values (equality-tested).

    Scale shape: one vocabulary groupBy (map-side combinable), one
    tok-keyed join to attach frequencies, one per-doc sort of its own
    distinct tokens (bounded by doc length), a prefix explode bounded by
    ~(1-t) of the token volume, and the candidate hash join with the
    exact SIZE filter (Jaccard >= t forces t*n_b <= n_a and vice versa)
    plus PPJoin's POSITIONAL filter (overlap upper bound from the shared
    token's canonical position in each doc — see _prefix_pairs_core)
    pruning length- and position-incompatible candidate rows inside the
    join, before the distinct shuffle.

    ``collapse_exact`` (default None = auto, the SimHash discipline wired
    in — r5 VERDICT): byte-identical copies are collapsed to one
    representative BEFORE the prefix pipeline, so a degenerate dup-heavy
    corpus cannot put a g-member group's identical prefixes (p tokens
    each) into shared candidate buckets and pay O(g²·p) join work plus a
    g²-row de-dup shuffle for pairs the within-group expansion emits
    directly. Collapse keys on raw ``md5(text)`` — byte identity, NOT the
    normalized :func:`~opc2mongodb_spark.functions.text.fingerprint` — so
    every member of a group has the same token set and the
    representative-level jaccard transfers to member pairs verbatim. The
    output is expanded back to ALL qualifying original-id pairs
    (within-group pairs at jaccard 1.0, cross-group pairs at the
    representative jaccard), so the result set is identical either way
    (equality-tested). Auto mode gates on a construction-time probe of
    the grouped fingerprints (one narrow agg job): the collapse + its
    expansion joins cost ~3 extra passes over the (possibly millions-of-
    rows) output, worth paying only when some group is big enough for the
    g²·p term to dominate — ``COLLAPSE_GROUP_BOUND`` members. Measured at
    sf0.1 (5000 docs, max group 2): auto skips and stays at the fast
    path's cost; a copy-heavy corpus trips the gate and is bounded by
    construction. True forces the collapse (tests), False forbids it.

    Construction-time driver jobs, by design (documented per ADVICE r5):
    the exact-copy probe above, and — unless ``mask_kernel=False`` — the
    <=65-row vocabulary probe that picks the verify kernel. Both run over
    eagerly local-checkpointed narrow frames so neither re-executes the
    corpus scan at query time.

    Selectivity is DATA-dependent: on a natural vocabulary prefixes key
    on genuinely rare tokens and candidates track near-duplicate density;
    on a tiny/stopword-dense vocabulary most pairs genuinely qualify and
    the operator is OUTPUT-bound — no algorithm beats |result| there
    (measured on the sf0.1 synthetic 31-word corpus: 41% of all pairs
    have Jaccard >= 0.7, so the 5.1M-pair answer IS the cost).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if collapse_exact or collapse_exact is None:
        # Gate probe: ONE narrow aggregate job (md5 → group count → global
        # max, fully map-side-combinable) collecting a single scalar. The
        # common no-big-group path pays only this; fp is materialized only
        # when the collapse actually runs.
        bound = 2 if collapse_exact else COLLAPSE_GROUP_BOUND
        max_g = (
            df.select(F.md5(F.col(text_col)).alias("_fp"))
            .groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_g"))
            .agg(F.max("_g"))
            .collect()[0][0]
        )
        if max_g is not None and max_g >= bound:
            # Narrow (id, md5) frame; eagerly checkpointed because it feeds
            # the representative keep-list and the member side of the
            # expansion joins — one md5 pass over the corpus, ever.
            fp = df.select(
                F.col(id_col), F.md5(F.col(text_col)).alias("_fp")
            ).localCheckpoint(eager=True)
            groups = fp.groupBy("_fp").agg(
                F.min(id_col).alias("_rid"), F.count(F.lit(1)).alias("_g")
            )
            reps = df.join(
                groups.select(F.col("_rid").alias(id_col)), id_col, "left_semi"
            )
            core = _prefix_pairs_core(
                reps, id_col, text_col, threshold, mask_kernel
            )
            return _expand_exact_groups(core, fp, groups, id_col)
    return _prefix_pairs_core(df, id_col, text_col, threshold, mask_kernel)


def _expand_exact_groups(
    core: DataFrame, fp: DataFrame, groups: DataFrame, id_col: str
) -> DataFrame:
    """Expand representative-level (a_id, b_id, jaccard) pairs back to all
    original-id pairs: cross-group member combinations inherit the
    representative jaccard (byte-identical text → identical token sets),
    within-group combinations are exact copies at jaccard 1.0. Output-bound:
    every emitted row is a row of the true answer. A giant duplicate group
    concentrates its own g*(g-1)/2 within-pairs on one fp-keyed task — that
    is the answer's size, not an algorithmic blow-up; cap the OUTPUT
    upstream (exact_dedup_groups keep-lists) if the pairs themselves are
    not wanted."""
    rep_a = groups.select(F.col("_rid").alias("a_id"), F.col("_fp").alias("_fa"))
    rep_b = groups.select(F.col("_rid").alias("b_id"), F.col("_fp").alias("_fb"))
    mem_a = fp.select(F.col(id_col).alias("_ia"), F.col("_fp").alias("_fa"))
    mem_b = fp.select(F.col(id_col).alias("_ib"), F.col("_fp").alias("_fb"))
    cross = (
        core.join(rep_a, "a_id")
        .join(rep_b, "b_id")
        .join(mem_a, "_fa")
        .join(mem_b, "_fb")
        .select(
            F.least("_ia", "_ib").alias("a_id"),
            F.greatest("_ia", "_ib").alias("b_id"),
            "jaccard",
        )
    )
    within = mem_a.join(
        mem_b, (F.col("_fa") == F.col("_fb")) & (F.col("_ia") < F.col("_ib"))
    ).select(
        F.col("_ia").alias("a_id"),
        F.col("_ib").alias("b_id"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(within)


def _parse_byte_conf(value: str | None) -> int:
    """Parse Spark's byte-size conf strings ('10485760b', '10MB', '-1')
    into bytes; non-positive or unparseable values mean 'broadcast
    disabled' (-1), matching the planner's own treatment."""
    if value is None:
        return -1
    s = value.strip().lower()
    for suffix, mult in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            break
    else:
        mult = 1
    try:
        return int(s) * mult
    except ValueError:
        return -1


def _prefix_pairs_core(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    mask_kernel: bool | None,
) -> DataFrame:
    """The prefix-filter pipeline proper (see :func:`prefix_filter_pairs`),
    over an input assumed free of pathological exact-copy mass."""
    toks = df.select(
        F.col(id_col), F.explode(distinct_tokens(F.col(text_col))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    if mask_kernel is None or mask_kernel:
        # The kernel-choice probe below collects <=65 vocabulary rows at
        # construction time; caching freq first makes that probe job pay
        # the token explode + frequency agg ONCE — the main pipeline's
        # ordered-join then reads the cached blocks instead of re-running
        # the scan (r5 ADVICE: the probe was eager AND uncached).
        # cache(), NOT localCheckpoint: a checkpointed LogicalRDD replaces
        # the plan's statistics with defaultSizeInBytes, and that "huge"
        # estimate propagates through ordered → pref and demotes the
        # candidate self-join from broadcast to sort-merge — measured 5x
        # slower at sf0.1. InMemoryRelation keeps the child's (tiny,
        # vocabulary-sized) estimate, so Catalyst's join choice is
        # unchanged by the probe optimization.
        freq = freq.cache()
    ordered = (
        toks.join(freq, "tok")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("f"), F.col("tok")))
                ),
                lambda x: x["tok"],
            ).alias("_toks"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    prefix_len = (
        F.col("_n")
        - F.ceil(F.lit(threshold) * F.col("_n")).cast("int")
        + F.lit(1)
    )
    # posexplode, not explode: ``_p`` is the token's 0-based position in the
    # document's CANONICAL order (global (freq, tok) sort, a total order
    # shared by every document), which the positional filter below needs.
    pref = ordered.select(
        F.col(id_col),
        F.col("_n"),
        F.posexplode(F.slice(F.col("_toks"), F.lit(1), prefix_len)).alias(
            "_p", "tok"
        ),
    )
    # The prefix frame comes out of a small aggregate, so AQE coalesces it
    # toward one partition and the whole (possibly output-bound) self-join
    # lands on a single task — the same trap the LSH band join documents.
    # Round-robin with an explicit width forces the spread.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    pref = pref.repartition(n_part)
    # Cut the plan ONCE (the lsh_candidate_pairs discipline): ``pref`` feeds
    # BOTH sides of the candidate self-join, and its subtree is the whole
    # token-frequency pipeline (explode + freq join + per-doc collect_list
    # sort). ReusedExchange usually dedups the identical branches, but AQE
    # re-planning can break the match mid-query and silently double the
    # dominant upstream cost. EAGER (r6): the r5 lazy form materialized
    # inside the first job, where both self-join branches could still race
    # to plan before the blocks existed — measured as a 25.9 s spread on an
    # 11.7 s query. The frame is narrow (id, n, tok), |prefix-token|-
    # bounded, so paying its materialization at construction is cheap and
    # makes every downstream plan see finished blocks.
    pref = pref.localCheckpoint(eager=True)
    size_ok = (
        F.col("a._n")
        >= F.ceil(F.lit(threshold) * F.col("b._n")).cast("int")
    ) & (
        F.col("b._n")
        >= F.ceil(F.lit(threshold) * F.col("a._n")).cast("int")
    )
    # PPJoin's POSITIONAL filter (Xiao et al. ICDE'08 §3.2), applied per
    # joined token occurrence: a shared prefix token at canonical positions
    # (pa, pb) bounds the pair's overlap by 1 + min(n_a - pa, n_b - pb)
    # (everything before the match on either side is non-shared *for the
    # pair's FIRST common token*), and Jaccard >= t needs overlap
    # >= ceil(t/(1+t) * (n_a + n_b)). Filtering every occurrence and keeping
    # pairs where ANY occurrence passes is lossless — a truly qualifying
    # pair's first common token always passes — while pruning the duplicate
    # candidate rows later shared prefix tokens would emit. Measured effect
    # (sf1, SCALING.md r9): the candidate frame was ~1B rows pre-distinct
    # for a 548M-pair answer (~2 generated per survivor), and the distinct's
    # spill dominated per-pair cost; this cuts generation before the
    # shuffle. The 1e-9 slack on the ceil only loosens the bound (floating
    # t/(1+t) could otherwise round an exactly-integral product UP and
    # wrongly prune); extra survivors are re-verified exactly downstream.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a._n") + F.col("b._n")).cast("double")
        - F.lit(1e-9)
    ).cast("int")
    pos_ok = (
        F.lit(1)
        + F.least(
            F.col("a._n") - (F.col("a._p") + F.lit(1)),
            F.col("b._n") - (F.col("b._p") + F.lit(1)),
        )
    ) >= alpha
    # Data-adaptive join strategy for the candidate self-join (the mask-
    # kernel discipline applied to plan shape): a checkpointed scan's
    # Catalyst estimate is derived from the ORIGINAL plan, not the
    # materialized blocks — measured 85 MiB for a ~3 MiB prefix frame at
    # sf0.1 — so the static planner demotes this join to a tok-keyed
    # sort-merge whose stopword-skewed shuffle ran 5x slower than the
    # broadcast form. The blocks are already materialized (eager
    # checkpoint), so one cheap agg MEASURES the frame — rows and actual
    # token BYTES (octet_length, not length: char counts undercount
    # multi-byte corpora — ADVICE r6), not a per-row guess that long-token
    # corpora (URLs, shingles) would blow through.
    #
    # The broadcast bound is the operator's OWN cap, not the planner's
    # 10 MiB default (r10 sf1 attribution): this join is OUTPUT-bound, and
    # a sort-merge fallback hands its post-shuffle stage to AQE, which
    # sizes it on INPUT bytes — measured at sf1: a 4 MB / 291k-row prefix
    # shuffle coalesced to FIVE tasks that then serialized the ~0.5B-pair
    # explosion with 668 MB of spill (2,129 s run0). Broadcasting keeps
    # the probe on the checkpointed spread (no exchange after pref), so
    # the explosion parallelizes. PREFIX_BROADCAST_CAP = 64 MiB — the same
    # order as one scan partition (files.maxPartitionBytes), trivially
    # memory-safe on any executor — while a session that DISABLED
    # broadcasting (threshold <= 0) is still honored, and a raised session
    # threshold still wins when larger. A corpus-scale prefix frame (GBs)
    # blows the cap and keeps sort-merge — there the shuffle carries real
    # bytes, so AQE's coalescing no longer starves the stage.
    # id bytes are MEASURED when the id is a string (URL/content-hash keyed
    # corpora can carry more id than token bytes — r10 ADVICE); fixed-width
    # ids are covered by the 40-byte/row overhead term below.
    id_is_str = dict(pref.dtypes).get(id_col) == "string"
    sz = pref.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.octet_length("tok")), F.lit(0)).alias("tok_bytes"),
        F.coalesce(
            F.sum(F.octet_length(id_col)) if id_is_str else F.lit(0),
            F.lit(0),
        ).alias("id_bytes"),
    ).collect()[0]
    budget = _parse_byte_conf(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    b_side = pref.alias("b")
    cap = max(budget, PREFIX_BROADCAST_CAP)
    est = sz.rows * 40 + sz.tok_bytes + sz.id_bytes  # 40B/row: n+pos+pad
    if budget > 0 and est <= cap:
        b_side = F.broadcast(b_side)
    cand = (
        pref.alias("a")
        .join(
            b_side,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok
            & pos_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
        )
        .distinct()
    )
    # Adaptive verify kernel (the AQE spirit: same logical contract, data-
    # driven physical strategy). Set similarity over a SMALL ALPHABET —
    # attribute sets, tag sets, SKU option sets, or this synthetic corpus's
    # 31-word pool — admits an exact bitmask kernel: each token gets a bit,
    # each document's token set packs into one LONG, and per-pair Jaccard is
    # bit_count(a&b) / bit_count(a|b) — integer-exact, identical output to
    # the array kernel, but the verify join ships two longs per side instead
    # of token arrays and the per-pair work is three CPU instructions
    # (measured at sf0.1's 5.1M qualifying pairs: array_intersect verify is
    # JIT-sensitive, 89s cold / 16s warm; the mask kernel is ~4s cold). The
    # decision scalar is one bounded driver lookup (<= 65 vocab rows — the
    # kmeans-centroid class of driver state, not a data collect); a natural
    # vocabulary overflows the 64-bit budget immediately and takes the
    # general array path, which is the only one possible at corpus scale.
    # ``mask_kernel`` pins the choice for tests (True asserts the small-
    # vocab precondition, False forces the general array path).
    if mask_kernel is None or mask_kernel:
        vocab = [
            r[0] for r in freq.select("tok").orderBy("tok").limit(65).collect()
        ]
        if mask_kernel and len(vocab) > 64:
            raise ValueError(
                f"mask_kernel requires vocab <= 64, found {len(vocab)} or more"
            )
        # freq has no further consumers: the eager pref checkpoint already
        # materialized the ordered-join through the cache, and the probe
        # above was the last read — release the pinned blocks so repeated
        # calls (oracle sweep, bench best-of-3) don't accumulate dead
        # InMemoryRelations for the session lifetime.
        freq.unpersist()
    else:
        vocab = None
    if vocab is not None and len(vocab) <= 64:
        # map value IS the bit (1 << i) — F.shiftleft takes only a literal
        # shift amount, and precomputing the power keeps the fold a pure
        # OR chain.
        bit_of = F.create_map(
            *[
                x
                for i, t in enumerate(vocab)
                for x in (F.lit(t), F.lit(1 << i).cast("long"))
            ]
        )
        masks = df.select(
            F.col(id_col),
            F.aggregate(
                distinct_tokens(F.col(text_col)),
                F.lit(0).cast("long"),
                lambda acc, t: acc.bitwiseOR(bit_of[t]),
            ).alias("_mask"),
        )
        ma = masks.select(F.col(id_col).alias("a_id"), F.col("_mask").alias("_ma"))
        mb = masks.select(F.col(id_col).alias("b_id"), F.col("_mask").alias("_mb"))
        inter = F.bit_count(F.col("_ma").bitwiseAND(F.col("_mb")))
        union = F.bit_count(F.col("_ma").bitwiseOR(F.col("_mb")))
        return (
            cand.join(ma, "a_id")
            .join(mb, "b_id")
            .select(
                "a_id",
                "b_id",
                (inter.cast("double") / union.cast("double")).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    return jaccard_on_pairs(df, cand, id_col, text_col).filter(
        F.col("jaccard") >= threshold
    )


def winnow_sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
    spread: int | None = None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003): hash every k-gram, keep the minimum hash of each sliding window
    of ``w`` consecutive k-gram hashes. Returns (id_col, fps sorted-distinct
    array<long>, n_fp).

    Local guarantee (the paper's theorem, asserted in tests): any token
    run of length >= w + k - 1 shared by two documents contributes at
    least one common fingerprint — the substring-level detection property
    whole-document MinHash cannot give. Scale: pure per-row Column
    transforms, no explode, no shuffle; consumers join on the ~|text|/w
    sketch, never the text. Docs shorter than k tokens emit an empty
    sketch; docs with fewer than w grams winnow one whole-doc window.
    Hashes are the first 8 md5 nibbles as integers — exact cross-engine
    (`q_winnow_fingerprints` is the DuckDB-twinned form). ``spread``
    round-robins the input first: the per-row work (one md5 per k-gram)
    is CPU-bound, and a compact single-file input otherwise runs the
    whole corpus on one task (the simhash/text.py spread pattern; at
    cluster scale the scan is already split and spread is unnecessary).
    """
    if spread:
        df = df.repartition(spread, id_col)
    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    gidx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    h = F.transform(
        gidx,
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ", *[F.element_at(t, i + j) for j in range(k)]
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    g = df.select(F.col(id_col), h.alias("_h"))
    hc = F.col("_h")
    widx = F.when(
        F.size(hc) > 0,
        F.sequence(F.lit(1), F.greatest(F.size(hc) - (w - 1), F.lit(1))),
    ).otherwise(F.array().cast("array<int>"))
    fps = F.array_sort(
        F.array_distinct(
            F.transform(widx, lambda i: F.array_min(F.slice(hc, i, w)))
        )
    )
    return g.select(
        F.col(id_col), fps.alias("fps"), F.size(fps).alias("n_fp")
    )


def minhash_band_rows(
    sigs: DataFrame, id_col: str, k: int = DEFAULT_K, band_size: int = BAND_SIZE
) -> DataFrame:
    """(id, band_id, band_val) LSH band rows derived from a signature frame.

    A narrow projection + explode over the k ``mh*`` columns — no text, no
    shuffle. This is the shape both the pair generator and the ingest gate
    probe on; deriving it from persisted signatures costs an index scan,
    never a re-tokenization of the corpus."""
    n_bands = k // band_size
    band_val = [
        F.concat(*[F.col(f"mh{b * band_size + i}") for i in range(band_size)])
        for b in range(n_bands)
    ]
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        band_val[b].alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_val")


def band_bloom_key() -> F.Column:
    """The Bloom-sketch key for a band row: ``band_id || ':' || band_val``.
    One definition shared by sketch build and probe so the two can never
    drift apart."""
    return F.concat(F.col("band_id").cast("string"), F.lit(":"), F.col("band_val"))


def incremental_keep_list(
    corpus: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_K,
    band_size: int = BAND_SIZE,
    threshold: float = 0.5,
    bloom_prefilter: bool = False,
    corpus_fps: DataFrame | None = None,
    corpus_sigs: DataFrame | None = None,
    corpus_bloom: DataFrame | None = None,
    batch_fps: DataFrame | None = None,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Verdict per NEW-batch document against an EXISTING corpus — the
    continuous-ingestion dedup gate (batch arrives, corpus is what's already
    kept): ``exact_dup`` if the normalized-text fingerprint already exists in
    the corpus, else ``near_dup`` if MinHash-LSH finds a corpus candidate
    with signature agreement >= ``threshold``, else ``keep``.

    Scale contract (the point of the operator): corpus×corpus work is ZERO —
    the batch probes the corpus, never the corpus itself. Exact stage is a
    LEFT SEMI join on the md5 fingerprint (uniform keys, one shuffle; at
    100 TB the corpus fingerprint set is a stored index, and a bloom filter
    on it prunes the probe to near-zero I/O). Near stage joins batch band
    rows to corpus band rows on (band_id, band_val) — cost ∝ Σ
    batch_bucket × corpus_bucket over real collision buckets. A small
    batch's band rows broadcast, making the whole gate shuffle-free on the
    corpus side. ``bloom_prefilter`` enables the corpus-scale prune
    (operators/bloom.py): batch band rows probe a broadcast Bloom sketch of
    the corpus band buckets first — no false negatives, so verdicts are
    identical, but definitely-absent buckets never reach the corpus band
    join. Returns (id_col, verdict).

    Persisted-index path (r5): ``corpus_fps`` (id, fp), ``corpus_sigs``
    (id, mh0..mh{k-1}) and ``corpus_bloom`` (word, mask) may be supplied
    precomputed — e.g. the index tables
    ``streaming.dedup_gate.CorpusIngestGate`` commits per micro-batch. When given, the
    corpus *text* is never touched (``corpus`` may then be None): per-batch
    cost is the batch's own tokenization plus narrow index scans, which is
    what the 100 TB contract above actually requires. Supplying
    ``corpus_bloom`` implies ``bloom_prefilter``. Verdicts are identical to
    the recompute path by construction (the index frames are exactly the
    frames the inline path derives).

    BATCH-side precomputed frames (r12): ``batch_fps`` (id, fp) and
    ``batch_sigs`` (id, mh0..mh{k-1}) let a caller that has already
    materialized the batch's fingerprints/signatures (e.g. the streaming
    gate's per-batch enrichment checkpoint) supply them, so this plan
    does not re-run normalize/tokenize/minhash over the batch text —
    Spark shares no common subtrees across separate consumers, so the
    inline derivations would otherwise execute once per consumer.
    Same by-construction equivalence as the corpus-side frames.
    """
    if corpus is None and (corpus_fps is None or corpus_sigs is None):
        raise ValueError(
            "corpus=None requires precomputed corpus_fps AND corpus_sigs"
        )
    if batch_fps is not None:
        fp_b = batch_fps.select(F.col(id_col), F.col("fp"))
    else:
        fp_b = batch.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
        )
    if corpus_fps is None:
        fp_c = corpus.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    else:
        fp_c = corpus_fps.select("fp").distinct()
    exact_ids = fp_b.join(fp_c, "fp", "left_semi").select(id_col)

    def _bands(sigs: DataFrame) -> DataFrame:
        return minhash_band_rows(sigs, id_col, k, band_size)

    sigs_b = (
        batch_sigs
        if batch_sigs is not None
        else minhash_signatures(batch, id_col, text_col, k)
    )
    sigs_c = (
        corpus_sigs
        if corpus_sigs is not None
        else minhash_signatures(corpus, id_col, text_col, k)
    )
    bands_b = _bands(sigs_b)
    if bloom_prefilter or corpus_bloom is not None:
        # Bloom prune (operators/bloom.py): drop batch band rows whose
        # bucket is DEFINITELY absent from the corpus before the band join.
        # No false negatives -> identical verdicts; at corpus scale the
        # sketch is a broadcastable bitmap built once per ingest epoch,
        # so most of the batch never touches the corpus band index.
        from opc2mongodb_spark.operators.bloom import bloom_probe, bloom_sketch

        bkey = band_bloom_key()
        sketch = (
            corpus_bloom
            if corpus_bloom is not None
            else bloom_sketch(_bands(sigs_c).select(bkey.alias("_bkey")), "_bkey")
        )
        bands_b = (
            bloom_probe(sketch, bands_b.withColumn("_bkey", bkey), "_bkey")
            .filter(F.col("in_bloom"))
            .drop("_bkey", "in_bloom")
        )
    cand = (
        bands_b
        .alias("a")
        .join(
            _bands(sigs_c).alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col(f"a.{id_col}").alias("_bid"), F.col(f"b.{id_col}").alias("_cid")
        )
        .distinct()
    )
    sa = sigs_b.select(
        F.col(id_col).alias("_bid"),
        *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(k)],
    )
    sb = sigs_c.select(
        F.col(id_col).alias("_cid"),
        *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(k)],
    )
    matches = None
    for j in range(k):
        m = F.when(F.col(f"a_mh{j}") == F.col(f"b_mh{j}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    near_ids = (
        cand.join(sa, "_bid")
        .join(sb, "_cid")
        .filter(matches.cast("double") / F.lit(float(k)) >= F.lit(threshold))
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )

    return (
        batch.select(id_col)
        .join(exact_ids.withColumn("_e", F.lit(1)), id_col, "left")
        .join(near_ids.withColumn("_n", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


def containment_on_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Directional token-set containment for candidate pairs:
    ``cont_a_in_b = |A∩B| / |A|`` and the symmetric ``cont_b_in_a``.

    Jaccard under-scores SUB-document duplication (a short doc fully
    contained in a long one has low |A∩B|/|A∪B| but containment 1.0) —
    containment is the standard score for training-data contamination and
    quote/boilerplate inclusion checks. Same scale contract as
    :func:`jaccard_on_pairs`: pair-bounded (LSH candidates in), columnar
    ``array_intersect``, integer set sizes so the doubles divide identically
    cross-engine.
    """
    toksets = df.select(
        F.col(id_col), distinct_tokens(F.col(text_col)).alias("_toks")
    )
    ta = toksets.select(F.col(id_col).alias("a_id"), F.col("_toks").alias("_a"))
    tb = toksets.select(F.col(id_col).alias("b_id"), F.col("_toks").alias("_b"))
    inter = F.size(F.array_intersect(F.col("_a"), F.col("_b"))).cast("double")
    return (
        pairs.select("a_id", "b_id")
        .join(ta, "a_id")
        .join(tb, "b_id")
        .select(
            "a_id",
            "b_id",
            (inter / F.size(F.col("_a")).cast("double")).alias("cont_a_in_b"),
            (inter / F.size(F.col("_b")).cast("double")).alias("cont_b_in_a"),
        )
    )
