"""Market-basket analysis: pairwise association rules over orders.

The retail-analytics classic (Agrawal/Srikant's frequent-itemset
setting, restricted to pairs): for parts A, B that co-occur in
orders, report support(A,B), confidence(A=>B) and lift — the
composable statistics every recommender / cross-sell dashboard
starts from.

Scale design (100 TB):
- Pair generation is ARRAY-side: one groupBy collects each basket's
  sorted distinct part set (collect_set subsumes the (order, part)
  DISTINCT), and nested transforms expand the ordered pairs in the
  map stage of the count aggregate as 64-bit packed keys. The
  expansion is bounded by basket size squared (TPC-H baskets are ~7
  lines) — a CONSTANT factor on the fact table, never corpus^2. The
  self-join formulation costs two extra fact exchanges (measured
  22.7 s -> 6.1 s at sf3, BASELINE.md).
- Everything downstream of the pair counts is vocabulary-bounded and
  the single-item counts broadcast back for confidence/lift.
- A support floor (MIN_PAIR_ORDERS) is applied AT THE AGGREGATE —
  the standard a-priori pruning point; raising it is what bounds the
  rule table at real scale.
- Regime note: this fixture's uniformly random baskets are the
  adversarial case — nearly every pair is unique, so the pair count
  gets no map-side reduction and the cost is one irreducible
  pair-grain exchange. Real co-purchase data concentrates (Zipf),
  restoring map-side combining; above pair grain the at-scale
  algorithm is FP-growth (conditional pattern trees), which trades
  this exchange for per-partition tree builds.

All counts are exact integers; ratios round(6) on bounded-int
rationals, the established convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.plans.transient import transient_persist
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_table, session_cached, session_memo

MIN_PAIR_ORDERS = 3  # a-priori support floor

# Percentage-support floor for the brand-grain rules entry: a pair is
# reported iff it co-occurs in >= 1% of baskets, spelled as the
# PURE-INTEGER predicate 100 * n_ab >= n so both engines evaluate the
# boundary identically (0.01 * n is not exact in binary; an integer
# cross-multiply is).
MIN_SUPPORT_PCT_DEN = 100

# FP-growth regime cap on the frequent-item list (see
# basket_fpgrowth_rules): above it the catalog is effectively
# unbounded relative to the support floor, FP-trees stop compressing,
# and the packed-pair plan is strictly better — measured OOM at sf3's
# 600k-item uniform catalog vs clean runs at <= 20k (sf0.1 parts,
# every Zipf-study catalog).
FPG_MAX_FREQ_ITEMS = 100_000


@session_cached
def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o, ps) order baskets: sorted distinct guarded partkey arrays —
    the shared input of both the packed-pair and FP-growth builders.

    SESSION-CACHED (r12, guide §2.4 — shared subplans): the basket
    collect is the corpus-width work of BOTH registered pair-rule
    entries (packed-pair and FP-growth), each of which reads it 2-3
    times inside one plan (item counts, basket total, pair stream) —
    six-plus scans per bench pass of the identical aggregate.
    ids + small part arrays only (~row count of orders), far under
    the LRU budget; eviction transparently rebuilds."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    op = lineitem.select(
        F.col("l_orderkey").alias("o"),
        # pack-capacity guard (the chunk_uid convention): partkeys
        # must fit the 32-bit pair-packing lanes below.
        F.when(
            F.col("l_partkey") < F.lit(1 << 32).cast("long"),
            F.col("l_partkey"),
        )
        .otherwise(
            F.raise_error(
                F.lit("basket pair packing overflow: partkey >= 2^32")
            )
        )
        .alias("p"),
    )
    return op.groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("ps"))

_BASKET_ORACLE = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT o) AS n FROM op),
    item AS (SELECT p, count(*) AS n_p FROM op GROUP BY p),
    pairs AS (
        SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING count(*) >= {MIN_PAIR_ORDERS}
    )
    SELECT pa, pb,
           CAST(n_ab AS BIGINT) AS n_both,
           round(n_ab * 1.0 / n, 6) AS support,
           round(n_ab * 1.0 / ia.n_p, 6) AS confidence_a_to_b,
           round(n_ab * 1.0 * n / (ia.n_p * ib.n_p), 6) AS lift
    FROM pairs
    JOIN item ia ON ia.p = pa
    JOIN item ib ON ib.p = pb
    CROSS JOIN n_orders
    ORDER BY pa, pb
"""


@register("basket_part_association", oracle_sql=_BASKET_ORACLE)
def basket_part_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over order baskets: for co-ordered
    part pairs above the support floor, exact co-occurrence count,
    support, confidence(A=>B), and lift. See module docstring for
    the bounded-expansion scale argument.

    ADVERSARIAL-BASELINE STATUS (r11 adjudication of the standing
    weak flag, same convention as the flat PQ/LSH entries): the
    registered fixture is a UNIFORM catalog — every pair is ~unique,
    so the count aggregate gets no map-side reduction and the plan is
    pure shuffle bytes, the regime a columnar single-node engine wins
    (measured 5.75x paired DuckDB at sf10). The ladder shows this
    SAME plan crossing 1x at 32M orders and winning 0.53x at 64M
    (ZIPF_BASKET_STUDY_r09.json) — the crossover is fixture size, not
    plan shape — and the production-shaped grain is
    ``basket_brand_rules_pct`` (Zipf-brand baskets, 0.65x DuckDB at
    sf10, BASKET_BRAND_PCT_r10.json). This entry stays registered as
    the exact-pair structure/correctness baseline.
    """
    # Pair generation is ARRAY-side, not a self-join: ONE groupBy
    # collects each basket's sorted distinct part set (collect_set
    # subsumes the (o, p) DISTINCT — no separate dedup exchange), and
    # nested transforms emit the ordered pairs in the map stage of
    # the count aggregate. The self-join form shuffled the (order,
    # part) frame twice and exchanged the raw pair stream (22.7 s at
    # sf3); this shape pays one basket shuffle. Persisted: the item
    # counts, the basket total, and the pair stream all read it
    # (transient — released by the harness after materialization).
    return _pair_rules(_baskets(spark, sf_dir))


def _pair_rules(baskets: DataFrame) -> DataFrame:
    """The packed-pair rule plan over a persisted (o, ps) basket
    frame — shared by the registered builder above and by the
    FP-growth twin's unbounded-F-list fallback regime below."""
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    item = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    # Pairs pack into ONE bigint (pa << 32 | pb — partkeys fit 32
    # bits at any plausible catalog size, guarded above): on this
    # fixture's random baskets nearly every pair is unique, so the
    # count aggregate gets no map-side reduction and shuffle BYTES
    # are the whole cost — one long halves the struct's width. The
    # packed key goes NEGATIVE for pa >= 2^31 (bit 63 set) — still a
    # bijection on the 32-bit lanes, and the unpack below uses
    # shiftrightunsigned so pa never sign-extends (ADVICE r7: the
    # plain shiftright form silently corrupted pa in [2^31, 2^32)).
    pair_array = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.shiftleft(x, 32) + y,
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_array).alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_PAIR_ORDERS)
        .select(
            F.shiftrightunsigned("pk", 32).alias("pa"),
            F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("pb"),
            "n_ab",
        )
    )
    ia = item.select(F.col("p").alias("ia_p"), F.col("n_p").alias("n_a"))
    ib = item.select(F.col("p").alias("ib_p"), F.col("n_p").alias("n_b"))
    return (
        pairs.join(ia, F.col("pa") == F.col("ia_p"))
        .join(ib, F.col("pb") == F.col("ib_p"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            F.col("n_ab").alias("n_both"),
            F.round(F.col("n_ab") * 1.0 / F.col("n"), 6).alias("support"),
            F.round(F.col("n_ab") * 1.0 / F.col("n_a"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_ab") * 1.0 * F.col("n")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("pa", "pb")
    )


# (n_orders, n_freq_items): two corpus constants consumed by the
# FP-growth regime gate and the rule denominators. Memoized per
# session like the cached frames they derive from — the pair of
# counting jobs otherwise re-ran on every builder call (r12, guide
# §2.4).
@session_memo
def _basket_counts(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    baskets = _baskets(spark, sf_dir)
    n_orders = baskets.count()
    n_freq_items = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_p"))
        .filter(F.col("n_p") >= MIN_PAIR_ORDERS)
        .count()
    )
    return n_orders, n_freq_items


@session_cached
def _fpg_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-<=2 slice of the PFP-mined frequent itemsets, sorted —
    the per-corpus index artifact behind ``basket_fpgrowth_rules``.

    SESSION-CACHED (r12): ``FPGrowth.fit`` + the itemset mine is a
    TRAINED MODEL of the corpus — the same artifact class as the IVF
    centroids / PQ codebooks / retrieval postings this engine already
    builds once per (session, corpus) and probes repeatedly. Mining
    re-ran on every builder call (5.7 s warm at sf0.1, ~90% of the
    query) for an identical deterministic result. Only the size-<=2
    slice the rule table consumes is persisted (the size-1 singles
    and size-2 pairs); deeper itemsets are dropped before the cache.

    Shard count bounds PEAK MEMORY, not just parallelism: PFP builds
    one conditional FP-tree per shard, so with C concurrent tasks
    peak heap ~= C x tree_mass / n_shards. One shard per ~20k baskets
    keeps each tree small even at the F-list cap.
    """
    from pyspark.ml.fpm import FPGrowth

    baskets = _baskets(spark, sf_dir)
    n_orders, _ = _basket_counts(spark, sf_dir)
    n_shards = max(
        spark.sparkContext.defaultParallelism, n_orders // 20_000
    )
    model = FPGrowth(
        itemsCol="ps",
        minSupport=(MIN_PAIR_ORDERS - 0.5) / n_orders,
        minConfidence=0.0,
        numPartitions=n_shards,
    ).fit(baskets)
    return (
        model.freqItemsets.filter(F.size("items") <= 2)
        .select(F.array_sort("items").alias("items"), "freq")
    )


@register("basket_fpgrowth_rules", oracle_sql=_BASKET_ORACLE)
def basket_fpgrowth_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same pairwise association rules mined with PARALLEL
    FP-GROWTH (``pyspark.ml.fpm.FPGrowth`` — Spark's built-in PFP, Li
    et al. 2008) instead of explicit pair expansion: per-item shards
    build conditional FP-trees over projected transactions, so the
    exchange carries basket PROJECTIONS (linear in basket mass per
    shard) rather than the materialized pair stream. Registered with
    the SAME oracle as ``basket_part_association`` — the two builders
    are independent implementations of one contract (r8 verdict item
    3a: FP-growth is this module's documented at-scale algorithm
    above pair grain; at the fixture's ~4-7-item baskets the pair
    stream and the projections have comparable mass, so this entry is
    the algorithmic-coverage + cross-implementation check, and the
    packed-pair builder remains the measured default at pair grain).

    DEFERRED: ``FPGrowth.fit`` is an action (it counts the F-list and
    mines the shard trees), so the builder returns a schema proxy per
    the uniform lazy contract — same sanction as the trained-index
    ANN family.

    Exactness: FP-growth counts are exact (no sampling), so support/
    confidence/lift reuse the packed-pair builder's bounded-int
    rational expressions verbatim and the driver hash matches. The
    fractional ``minSupport`` knob is set BELOW the integer floor
    ((MIN_PAIR_ORDERS - 0.5) / n so float rounding can never prune a
    boundary itemset) and the exact ``freq >= MIN_PAIR_ORDERS`` filter
    is applied on the mined counts.

    TWO REGIMES (FPG_MAX_FREQ_ITEMS): FP-growth's memory model is the
    FP-tree's prefix compression, and compression needs a BOUNDED
    frequent-item list — concentrated (Zipf) catalogs, the algorithm's
    home regime. On a uniform catalog where every item clears an
    absolute support floor (sf3: 600k frequent items over random
    4-item baskets) the trees share no prefixes, node count
    degenerates to the projected transaction mass in fat JVM objects,
    and a 16 GB heap dies — measured, not hypothesized. So the
    builder counts the F-list first (one aggregate on the persisted
    baskets) and FALLS BACK to the packed-pair plan (same contract,
    same oracle) when it exceeds the cap — the house two-regime
    pattern, correctness-preserving because both regimes compute the
    identical rule table.

    Measured applicability boundary (r9, documented as a NEGATIVE
    result): at THIS contract's absolute support floor
    (MIN_PAIR_ORDERS = 3) FP-growth is never the fast path — 8.5 s vs
    6.1 s at sf0.1, and 60 s vs 9.1 s on the 8M-order Zipf corpus,
    where the tiny fractional threshold (2.5/8M) makes every deep
    itemset among the popular items frequent and PFP mines that
    combinatorial output in full before the size-2 filter. FP-growth
    earns its keep at PERCENTAGE-scale support thresholds (bounded
    rule output, long transactions) — the regime a recommender's
    "top rules" query runs, not this exhaustive floor-3 audit. The
    entry therefore serves as algorithmic coverage and a
    cross-implementation correctness check; the packed-pair builder
    stays the measured default (ZIPF_BASKET_STUDY_r09: linear to 32M
    orders, 0.64x DuckDB at the 32M uniform point).
    """
    from map_reduce_spark.plans.deferred import deferred

    def build() -> DataFrame:
        baskets = _baskets(spark, sf_dir)
        n_orders, n_freq_items = _basket_counts(spark, sf_dir)
        if n_freq_items > FPG_MAX_FREQ_ITEMS:
            import logging

            logging.getLogger(__name__).warning(
                "basket_fpgrowth_rules: F-list %d exceeds %d — uniform/"
                "unbounded-catalog regime, FP-trees would not compress; "
                "falling back to the packed-pair plan (same contract)",
                n_freq_items, FPG_MAX_FREQ_ITEMS,
            )
            return _pair_rules(baskets)
        fi = _fpg_itemsets(spark, sf_dir)
        singles = fi.filter(F.size("items") == 1).select(
            F.col("items")[0].alias("p"), F.col("freq").alias("n_p")
        )
        pairs = (
            fi.filter(F.size("items") == 2)
            .filter(F.col("freq") >= MIN_PAIR_ORDERS)
            .select(
                F.col("items")[0].alias("pa"),
                F.col("items")[1].alias("pb"),
                F.col("freq").alias("n_ab"),
            )
        )
        ia = singles.select(F.col("p").alias("ia_p"), F.col("n_p").alias("n_a"))
        ib = singles.select(F.col("p").alias("ib_p"), F.col("n_p").alias("n_b"))
        return (
            pairs.join(ia, F.col("pa") == F.col("ia_p"))
            .join(ib, F.col("pb") == F.col("ib_p"))
            .withColumn("n", F.lit(n_orders))
            .select(
                "pa",
                "pb",
                F.col("n_ab").alias("n_both"),
                F.round(F.col("n_ab") * 1.0 / F.col("n"), 6).alias("support"),
                F.round(F.col("n_ab") * 1.0 / F.col("n_a"), 6).alias(
                    "confidence_a_to_b"
                ),
                F.round(
                    F.col("n_ab") * 1.0 * F.col("n")
                    / (F.col("n_a") * F.col("n_b")),
                    6,
                ).alias("lift"),
            )
            .orderBy("pa", "pb")
        )

    return deferred(
        spark,
        "pa BIGINT, pb BIGINT, n_both BIGINT NOT NULL, support DOUBLE, "
        "confidence_a_to_b DOUBLE, lift DOUBLE",
        build,
    )


_BRAND_ORACLE = f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey AS o, p_brand AS b
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n_orders AS (SELECT count(DISTINCT o) AS n FROM ob),
    item AS (SELECT b, count(*) AS n_b FROM ob GROUP BY b),
    pairs AS (
        SELECT a.b AS ba, c.b AS bb, count(*) AS n_ab
        FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
        GROUP BY a.b, c.b
    )
    SELECT ba AS brand_a, bb AS brand_b,
           CAST(n_ab AS BIGINT) AS n_both,
           round(n_ab * 1.0 / n, 6) AS support,
           round(n_ab * 1.0 / ia.n_b, 6) AS confidence_a_to_b,
           round(n_ab * 1.0 * n / (ia.n_b * ib.n_b), 6) AS lift
    FROM pairs
    JOIN item ia ON ia.b = ba
    JOIN item ib ON ib.b = bb
    CROSS JOIN n_orders
    WHERE n_ab * {MIN_SUPPORT_PCT_DEN} >= n
    ORDER BY brand_a, brand_b
"""


# Bitmask fast path applies while the co-purchase vocabulary fits the
# bit lanes of one BIGINT (sign bit and headroom left alone).
BRAND_BITMASK_MAX_ITEMS = 60
# part-dimension broadcast gate for the enrich join (parquet-footer
# metadata read, builder stays cheap): ~4M (key, brand) rows is
# ~100 MB of hash relation — fine to ship; past it the plain partkey
# shuffle join parallelizes the enrich instead.
PART_BROADCAST_MAX_ROWS = 4_000_000


# Sorted brand vocabulary (bounded dimension collect, the
# BPE-vocab/centroid sanction); memoized per session so the
# distinct+collect does not re-run per builder call.
@session_memo
def _brand_vocab(spark: SparkSession, sf_dir: str) -> list[str]:
    part = load_table(spark, sf_dir, "part").select("p_brand")
    return sorted(r[0] for r in part.distinct().collect())


def _brand_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o, p_brand) line rows: lineitem enriched with the part brand
    (broadcast when the dimension fits — parquet-footer gate)."""
    from map_reduce_spark.sources import parquet_num_rows

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), "l_partkey"
    )
    part_side = (
        F.broadcast(part)
        if parquet_num_rows(f"{sf_dir}/part.parquet")
        <= PART_BROADCAST_MAX_ROWS
        else part
    )
    return lineitem.join(part_side, F.col("l_partkey") == F.col("p_partkey"))


@session_cached
def _brand_mask_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(mask, cnt) distinct-brand-set counts per order — the
    bitmask-regime index artifact of ``basket_brand_rules_pct``.

    SESSION-CACHED (r12, guide §2.4): everything downstream of this
    table is mask-grain (corpus-size-independent, <= 2^|brands| and
    in practice ~tens of k rows), so caching it removes the only
    corpus-sized work (the enrich join + per-order bit_or aggregate)
    from repeat calls. Pure function of (spark, sf_dir): the mask
    index encodes the sorted brand vocabulary, deterministic per
    corpus."""
    brands = _brand_vocab(spark, sf_dir)
    idx_map = F.create_map(
        *[y for i, b in enumerate(brands) for y in (F.lit(b), F.lit(i))]
    )
    masks = (
        _brand_enriched(spark, sf_dir)
        .select("o", idx_map[F.col("p_brand")].alias("i"))
        .groupBy("o")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), i))").alias("m"))
    )
    return (
        masks.groupBy("m")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # EXPLICIT spread (r12, guide §2.5): the rules query explodes
        # up to C(25,2) pair structs per mask row — compute not
        # proportional to bytes, so the byte-derived AQE coalescing
        # under the session cache (1 partition measured at sf0.1)
        # serialized the explode+agg onto one task (A/B min-of-3:
        # 1.18 s -> 0.63 s at 32). The basket ARRAY frame stays
        # AQE-coalesced: its pair stream is shuffle-bound, and the
        # same A/B measured the explicit spread SLOWER there
        # (1.0-1.3 s -> 1.65 s).
        .repartition(spark.sparkContext.defaultParallelism, "m")
    )


@register("basket_brand_rules_pct", oracle_sql=_BRAND_ORACLE)
def basket_brand_rules_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules at BRAND grain under a PERCENTAGE support
    floor (pair in >= 1% of baskets): which brands co-sell — the
    recommender "top rules" query shape (r9 verdict item 3: the
    percentage-support variant with bounded rule output, registered
    on the fixture's own concentrated co-purchase regime).

    Why this is the CONCENTRATED regime on fixture-native attributes:
    the uniform part catalog defeats map-side combining at part grain
    (every pair unique — the measured 5.75x residual on
    basket_part_association at sf10), but the catalog's 25 p_brand
    values concentrate the same baskets into a bounded vocabulary:
    the rule table is <= C(25,2) rows at ANY corpus size and the only
    corpus-sized work is the catalog enrich join plus one per-order
    aggregate. That is the shape a 100 TB co-purchase dashboard runs.

    PLAN (bitmask two-level aggregate, r10-measured): with the
    vocabulary <= BRAND_BITMASK_MAX_ITEMS, each order's brand SET is
    one BIGINT bit_or mask — a fully map-side-combining 8-byte
    aggregate replacing collect_set's string arrays; the second
    aggregate counts orders per DISTINCT mask (55k masks at sf10 vs
    15M orders), and pairs/item counts explode from the mask table
    (mask-grain, corpus-size-independent) weighted by the mask
    counts. Measured at sf10: 10.0 s total vs DuckDB's 8.21 s on the
    same rules (1.22x) — against 14.9 s for the collect_set basket
    build ALONE, and 38 s for FPGrowth.fit on the same baskets. The
    r9 FP-growth negative result extends here: at a 25-item
    vocabulary even the percentage regime is a pure counting problem
    and the sketch-style aggregate beats tree mining outright; a
    wider-than-64-item vocabulary falls back to the array-pair plan
    (same contract, same oracle).

    DEFERRED: the brand vocabulary (a bounded dimension collect, the
    BPE-vocab/centroid sanction) and the basket total are actions.
    All counts are exact integers; the support floor is the
    pure-integer predicate 100 * n_ab >= n stated identically in the
    DuckDB oracle, so the entry is hash-gated.
    """
    from map_reduce_spark.plans.deferred import deferred

    def build() -> DataFrame:
        brands = _brand_vocab(spark, sf_dir)

        if len(brands) > BRAND_BITMASK_MAX_ITEMS:
            enriched = _brand_enriched(spark, sf_dir)
            # generic vocabulary: array-pair plan at brand grain (the
            # packed-pair shape minus packing — brands are strings)
            baskets = transient_persist(
                enriched.groupBy("o").agg(
                    F.array_sort(F.collect_set("p_brand")).alias("bs")
                )
            )
            n_orders = baskets.count()
            pair_arr = F.flatten(
                F.transform(
                    F.col("bs"),
                    lambda x, i: F.transform(
                        F.slice(F.col("bs"), i + 2, F.size(F.col("bs"))),
                        lambda y: F.struct(x.alias("a"), y.alias("c")),
                    ),
                )
            )
            pairs = (
                baskets.select(F.explode(pair_arr).alias("p"))
                .groupBy(
                    F.col("p.a").alias("brand_a"),
                    F.col("p.c").alias("brand_b"),
                )
                .agg(F.count(F.lit(1)).alias("n_ab"))
                .filter(
                    F.col("n_ab") * MIN_SUPPORT_PCT_DEN >= F.lit(n_orders)
                )
            )
            items = (
                baskets.select(F.explode("bs").alias("b"))
                .groupBy("b")
                .agg(F.count(F.lit(1)).alias("n_b"))
            )
        else:
            # bitmask fast path (see docstring); the mask-count table
            # is session-cached — see _brand_mask_counts
            mask_counts = _brand_mask_counts(spark, sf_dir)
            n_orders = mask_counts.agg(F.sum("cnt")).first()[0]
            pos = F.expr(
                f"filter(sequence(0, {len(brands) - 1}),"
                " i -> ((m >> i) & 1) = 1)"
            )
            pair_arr = F.flatten(
                F.transform(
                    pos,
                    lambda x, i: F.transform(
                        F.slice(pos, i + 2, F.size(pos)),
                        lambda y: F.struct(x.alias("a"), y.alias("c")),
                    ),
                )
            )
            brand_arr = F.array(*[F.lit(b) for b in brands])
            pairs = (
                mask_counts.select(F.explode(pair_arr).alias("p"), "cnt")
                .groupBy("p.a", "p.c")
                .agg(F.sum("cnt").alias("n_ab"))
                .filter(
                    F.col("n_ab") * MIN_SUPPORT_PCT_DEN >= F.lit(n_orders)
                )
                .select(
                    brand_arr[F.col("a")].alias("brand_a"),
                    brand_arr[F.col("c")].alias("brand_b"),
                    "n_ab",
                )
            )
            items = (
                mask_counts.select(F.explode(pos).alias("i"), "cnt")
                .groupBy("i")
                .agg(F.sum("cnt").alias("n_b"))
                .select(brand_arr[F.col("i")].alias("b"), "n_b")
            )

        ia = items.select(F.col("b").alias("ia_b"), F.col("n_b").alias("n_a"))
        ib = items.select(F.col("b").alias("ib_b"), F.col("n_b").alias("n_b2"))
        return (
            pairs.join(F.broadcast(ia), F.col("brand_a") == F.col("ia_b"))
            .join(F.broadcast(ib), F.col("brand_b") == F.col("ib_b"))
            .withColumn("n", F.lit(n_orders))
            .select(
                "brand_a",
                "brand_b",
                F.col("n_ab").alias("n_both"),
                F.round(F.col("n_ab") * 1.0 / F.col("n"), 6).alias("support"),
                F.round(F.col("n_ab") * 1.0 / F.col("n_a"), 6).alias(
                    "confidence_a_to_b"
                ),
                F.round(
                    F.col("n_ab") * 1.0 * F.col("n")
                    / (F.col("n_a") * F.col("n_b2")),
                    6,
                ).alias("lift"),
            )
            .orderBy("brand_a", "brand_b")
        )

    return deferred(
        spark,
        "brand_a STRING, brand_b STRING, n_both BIGINT NOT NULL, "
        "support DOUBLE, confidence_a_to_b DOUBLE, lift DOUBLE",
        build,
    )
