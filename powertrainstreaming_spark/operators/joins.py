"""Join operators (SURVEY.md §2.3).

The reference's join surface is keyed-stream ⋈ static-dimension
(SURVEY.md §0 envelope); here the same shapes are declarative DataFrame
joins so Catalyst picks broadcast vs shuffle strategies.  Explicit
``broadcast()`` hints go ONLY on dimensions with a bounded row count at
any scale factor (region=5, nation=25): a hint overrides
autoBroadcastJoinThreshold, so hinting a linearly-growing dim (supplier,
customer) would force an OOM-sized broadcast at 100 TB.  Growing dims
are left to Catalyst/AQE, which broadcast them while they fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.scratch import scratch_dir
from powertrainstreaming_spark.functions.exprs import money_sum, o_money_sum
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.session import scoped_confs
from powertrainstreaming_spark.sources.loaders import load

_Q3_CUTOFF = "1998-06-15"


def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (M1 slice, SURVEY.md §7.2): TPC-H q3 shape.

    customer(BUILDING) ⋈ orders(< cutoff) ⋈ lineitem(shipped > cutoff)
    → revenue per order → top-10.  Exercises pushdown, broadcast + SMJ
    joins, partial/final hash agg, the decimal money contract, and
    TakeOrderedAndProject top-k with unique-key tiebreak.
    """
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit(_Q3_CUTOFF))
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit(_Q3_CUTOFF))
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer grows with scale: no explicit hint (a hint would
        # override the size threshold); AQE broadcasts the filtered
        # side while it fits.
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


query(
    "join_shuffle_equi",
    oracle=f"""
    SELECT l_orderkey, o_orderdate,
           {o_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
      AND l_shipdate  > TIMESTAMP '{_Q3_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tier="P0",
)(q3_top_unshipped)


_Q5_START, _Q5_END = "1996-01-01", "1997-01-01"


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q5 shape: 5-way join with a composite (multi-key) condition
    — supplier must be in the customer's nation (c_nationkey =
    s_nationkey) on top of the l_suppkey equi-key.

    Join order: facts join on their keys (shuffle); only nation/region
    carry explicit broadcast() hints — they are genuinely bounded dims
    (25/5 rows at any scale factor).  supplier and customer grow
    linearly with scale, and an explicit broadcast() hint OVERRIDES
    autoBroadcastJoinThreshold (it does not fall back by size), so at
    100 TB a hinted supplier would OOM executors.  Catalyst + AQE pick
    broadcast for them automatically while they fit the threshold.
    """
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit(_Q5_START)))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit(_Q5_END)))
    )
    lineitem = load(spark, sf_dir, "lineitem")
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


query(
    "join_multikey_composite",
    oracle=f"""
    SELECT n_name, {o_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '{_Q5_START}'
      AND o_orderdate <  TIMESTAMP '{_Q5_END}'
    GROUP BY n_name
    """,
    tier="P0",
)(q5_region_revenue)


@query(
    "join_left_right_full",
    oracle="""
    WITH c AS (SELECT * FROM customer WHERE c_acctbal > 5000),
         o AS (SELECT * FROM orders WHERE o_totalprice > 400000)
    SELECT 'L' AS side, c_custkey, c_acctbal, o_orderkey, o_totalprice
    FROM c LEFT JOIN o ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'R' AS side, c_custkey, c_acctbal, o_orderkey, o_totalprice
    FROM c RIGHT JOIN o ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'F' AS side, c_custkey, c_acctbal, o_orderkey, o_totalprice
    FROM c FULL JOIN o ON c.c_custkey = o.o_custkey
    """,
    tier="P0",
)
def join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left, right, and full outer joins over the same filtered sides,
    tagged and unioned so all three null-extension behaviors are in one
    checked result: customers without big orders (left/full), big
    orders of low-balance customers (right/full).
    """
    customer = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    cond = customer.c_custkey == orders.o_custkey
    cols = ["c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"]
    parts = [
        customer.join(orders, cond, how).select(F.lit(tag).alias("side"), *cols)
        for tag, how in (("L", "left"), ("R", "right"), ("F", "full"))
    ]
    return parts[0].unionAll(parts[1]).unionAll(parts[2])


@query(
    "join_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    tier="P0",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation ⋈ broadcast(region): the canonical small-dim join."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


_SEMI_MIN_PRICE = 300000
_ANTI_MIN_PRICE = 400000


@query(
    "join_semi",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > {_SEMI_MIN_PRICE})
    """,
    tier="P1",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one order over the threshold (EXISTS).

    left_semi keeps only left columns and emits each left row at most
    once — Catalyst never materializes the matched right rows, so the
    shuffle carries the filtered orders keys only.
    """
    customer = load(spark, sf_dir, "customer")
    big_orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _SEMI_MIN_PRICE
    )
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "join_anti",
    oracle=f"""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > {_ANTI_MIN_PRICE})
    """,
    tier="P1",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO order over the threshold (NOT EXISTS) — the
    left_anti complement of join_semi; semi ∪ anti partitions customer
    (property-checked in tests).
    """
    customer = load(spark, sf_dir, "customer")
    jumbo_orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _ANTI_MIN_PRICE
    )
    return customer.join(
        jumbo_orders, customer.c_custkey == jumbo_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "join_cross",
    oracle="""
    SELECT r_regionkey, r_name, n_nationkey, n_name
    FROM region CROSS JOIN nation
    """,
    tier="P1",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product of the two bounded dims (5 × 25).

    crossJoin is only ever safe when at least one side is tiny and
    bounded; every unbounded pairing in this engine goes through a
    blocked equi-join instead (see sim_pair_join_threshold).
    """
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return region.select("r_regionkey", "r_name").crossJoin(F.broadcast(nation))


_BANDS = [
    ("small", 0.0, 100000.0),
    ("medium", 100000.0, 250000.0),
    ("large", 250000.0, 400000.0),
    ("jumbo", 400000.0, 1e18),
]

_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)


@query(
    "join_theta_range",
    oracle=f"""
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {o_money_sum('o_totalprice')} AS total_price
    FROM orders
    JOIN (SELECT * FROM (VALUES {_BANDS_SQL}) t(band, lo, hi)) bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    tier="P1",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join: orders against a literal price-band
    dimension with a [lo, hi) containment condition.

    A pure non-equi condition has no hash key, so Catalyst picks
    BroadcastNestedLoopJoin — safe ONLY because the band dim is a
    bounded literal (4 rows broadcast everywhere); each order row scans
    4 bands.  At 100 TB the same plan holds: fact-side map-only work,
    no shuffle until the final 4-group aggregation.
    """
    orders = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, "band STRING, lo DOUBLE, hi DOUBLE")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "join_asof",
    oracle="""
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           last_click_id, last_click_ts
    FROM (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'click' THEN event_id END
                          IGNORE NULLS)
                   OVER w AS last_click_id,
               last_value(CASE WHEN event_type = 'click' THEN ts END
                          IGNORE NULLS)
                   OVER w AS last_click_ts
        FROM events
        WHERE event_type IN ('purchase', 'click')
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    WHERE event_type = 'purchase'
    """,
    tier="P2",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase matched to the user's
    latest STRICTLY-PRIOR click (merge_asof semantics).

    Implemented as the scalable union+window pattern — both sides in
    one stream ordered by (ts, event_id), last-non-null carry-forward
    over a ROWS frame ending at 1 PRECEDING — instead of a per-row
    range join: ONE shuffle on the key, linear scan per partition,
    no O(n·m) candidate pairs.  The ROWS frame with a unique tiebreak
    makes tie handling deterministic in both engines (a RANGE frame
    would include same-timestamp peers and diverge).
    """
    events = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    carried = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_id",
        "last_click_ts",
    )


_SALT_BUCKETS = 8


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT user_id, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {o_money_sum('value')} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY user_id, c_mktsegment
    """,
    tier="P2",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SALTED join pattern for skewed keys, oracle-verified against
    the plain join (salting must never change results).

    Fact side: append salt = event_id % {b} to the join key, spreading
    one hot key's rows over {b} shuffle partitions.  Dim side:
    replicate each row ×{b} (explode a literal salt array) so every
    (key, salt) pair still matches.  The aggregation then reduces the
    salted partials.  AQE's skew-join splitting makes hand-salting
    unnecessary for SORT-MERGE joins, but salting remains the tool for
    skewed AGGREGATIONS and for engines/paths AQE does not cover —
    this operator keeps the pattern executable and regression-checked.
    """
    events = load(spark, sf_dir, "events")
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted_events = events.withColumn(
        "salt", (F.col("event_id") % _SALT_BUCKETS).cast("int")
    )
    salted_dim = dim.withColumn(
        "salt",
        F.explode(F.array([F.lit(i) for i in range(_SALT_BUCKETS)])),
    )
    joined = salted_events.join(
        salted_dim,
        (salted_events.user_id == salted_dim.c_custkey)
        & (salted_events.salt == salted_dim.salt),
    )
    return joined.groupBy("user_id", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value").alias("sum_value"),
    )


@query(
    "merge_upsert_cdc",
    oracle="""
    WITH latest AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    changes AS (
        SELECT user_id * 11 AS key, value FROM latest WHERE rn = 1
    ),
    base AS (
        SELECT c_custkey AS key, c_name, c_acctbal FROM customer
    )
    SELECT COALESCE(b.key, c.key) AS key,
           COALESCE(b.c_name, 'new:' || CAST(c.key AS VARCHAR)) AS name,
           COALESCE(c.value, b.c_acctbal) AS acctbal,
           CASE WHEN c.key IS NULL THEN 'keep'
                WHEN b.key IS NULL THEN 'insert'
                ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN changes c ON b.key = c.key
    """,
    tier="P2",
)
def merge_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC upsert), latest-change-wins: the newest event
    per user is a change record (key synthesized as user_id*11 so the
    feed exercises BOTH matched-update and unmatched-insert at every
    scale factor); applied to the customer base with per-row action
    tags keep/update/insert.

    Spark-first MERGE: dedupe the change feed to latest-per-key with
    one row_number window (shuffle on user_id), then a single
    full-outer shuffle join against the base — the same plan Delta
    Lake's MERGE lowers to.  Neither side is broadcast (both grow with
    scale); the window's partition key IS the join key, so AQE can
    reuse the exchange.  At 100 TB the base would be bucketed by key,
    turning the merge into a zero-shuffle sort-merge per bucket (see
    sink_bucketed_join for the executable pattern).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    changes = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select((F.col("user_id") * F.lit(11)).alias("key"), "value")
    )
    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), "c_name", "c_acctbal"
    )
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.key") == F.col("c.key"), "full_outer")
    return merged.select(
        F.coalesce(F.col("b.key"), F.col("c.key")).alias("key"),
        F.coalesce(
            F.col("c_name"),
            F.concat(F.lit("new:"), F.col("c.key").cast("string")),
        ).alias("name"),
        F.coalesce(F.col("value"), F.col("c_acctbal")).alias("acctbal"),
        F.when(F.col("c.key").isNull(), "keep")
        .when(F.col("b.key").isNull(), "insert")
        .otherwise("update")
        .alias("action"),
    )


# ---------------------------------------------------------------------------
# Runtime bloom-filter prefilter (the 100 TB selective-dim join pattern)


_BLOOM_CONFS = {
    # Inject a bloom filter built from the filtered creation side into
    # the application side's scan, pre-shuffle.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Fixture files are MBs, production thresholds are GBs — lower the
    # application-side floor so the local plan exercises the same
    # injection a 100 TB fact scan gets by default.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # Force the shuffle join: with a broadcast join the filter is
    # redundant (the hash table itself prefilters).
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}

_BLOOM_BRAND = "Brand#19"  # present at every fixture SF


def _bloom_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == _BLOOM_BRAND)
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
    )


@query(
    "join_runtime_bloom",
    oracle=f"""
    SELECT p_brand, p_type,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {o_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = '{_BLOOM_BRAND}'
    GROUP BY p_brand, p_type
    """,
    tier="P2",
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim ⋈ fact with a RUNTIME BLOOM FILTER: Catalyst builds
    a bloom filter from the filtered part side and injects
    ``might_contain`` into the lineitem scan, so non-matching fact rows
    are dropped BEFORE the shuffle (tests/test_properties.py asserts
    BloomFilterMightContain in the physical plan).

    This is the decisive 100 TB join optimization after pushdown and
    broadcast: a 1%-selective dim filter means 99% of the fact shuffle
    is wasted without the runtime filter.  The result is exact — the
    bloom only prefilters (false positives still join-checked) — so the
    oracle is the plain join.  Confs are scoped-and-restored; the
    result is materialized inside the scope because the optimizer runs
    at action time, not plan-build time.
    """
    out = scratch_dir(prefix="pts_bloom_join_")
    with scoped_confs(spark, _BLOOM_CONFS):
        _bloom_join_df(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).select(
        "p_brand", "p_type", "n_items", "revenue"
    )


@query(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) l
    WHERE c.c_acctbal > 8000
    """,
    tier="P2",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: each high-balance customer's top-2
    orders by price — the per-row-subquery shape users reach for
    before they know window functions.

    Both engines run the textually identical SQL.  Catalyst decorrelates
    the lateral subquery into a ranked join (no per-row re-execution),
    so at scale this costs one shuffle on the correlation key plus a
    per-key limit — the same physics as the window top-k in
    win_row_number_topk, which remains the canonical form; this entry
    proves the correlated-SQL surface maps onto it.  The LIMIT carries
    a unique tiebreak (o_orderkey), keeping the result deterministic.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("pts_lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("pts_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
        FROM pts_lat_customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice FROM pts_lat_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) l
        WHERE c.c_acctbal > 8000
        """
    )


_BIN_GAP_US = 300_000_000  # 5-minute band, in integer microseconds


@query(
    "join_range_binned",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    )
    SELECT a.user_id,
           a.event_id AS event_a, b.event_id AS event_b,
           b.us - a.us AS gap_us
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND b.us - a.us BETWEEN 0 AND {_BIN_GAP_US}
     AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
    """,
    tier="P2",
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join — ordered pairs of same-user events within a
    5-minute band — executed as an EQUI-join over time bins, the
    scalable formulation of a range join.

    A naive range join has no equality key, so Catalyst can only
    nest-loop it (fine for a broadcastable band table as in
    join_theta_range; catastrophic for a self-join on a fact table).
    Binning restores an equi-key: bucket = floor(us / gap); a partner
    no more than `gap` later lives in bucket or bucket+1, so the left
    side EXPLODES into those two keys and the join runs as a plain
    shuffled equi-join on (user_id, bucket) with the exact band + order
    predicate applied inside the joined stage.  Cost is 2x row
    duplication on one side instead of |user-bucket|² nested loops;
    at 100 TB the bin width tunes the duplication-vs-bucket-size
    trade and AQE handles residual per-user skew.  All arithmetic is
    integer microseconds (epoch_us both engines — truncating ns→µs),
    so the band boundary cannot float-diverge.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    a = ev.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("us").alias("us_a"),
        # exact int64 `div`, not float `/`+cast: a double quotient a
        # hair under an integer boundary could floor inconsistently
        # between the exploded and plain sides and skip a bucket.
        F.explode(
            F.array(
                F.expr(f"us div {_BIN_GAP_US}"),
                F.expr(f"us div {_BIN_GAP_US}") + 1,
            )
        ).alias("bucket"),
    )
    b = ev.select(
        F.col("user_id").alias("user_b"),
        F.col("event_id").alias("event_b"),
        F.col("us").alias("us_b"),
        F.expr(f"us div {_BIN_GAP_US}").alias("bucket_b"),
    )
    gap = F.col("us_b") - F.col("us_a")
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("bucket") == F.col("bucket_b")),
        )
        .filter(
            gap.between(0, _BIN_GAP_US)
            & (
                (F.col("us_a") < F.col("us_b"))
                | (
                    (F.col("us_a") == F.col("us_b"))
                    & (F.col("event_a") < F.col("event_b"))
                )
            )
        )
        .select("user_id", "event_a", "event_b", gap.alias("gap_us"))
    )


@query(
    "join_null_safe",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name,
           n.n_regionkey IS NULL AS via_null_match
    FROM (SELECT n_nationkey, n_name,
                 NULLIF(n_regionkey, 0) AS n_regionkey FROM nation) n
    JOIN (SELECT r_regionkey, r_name,
                 NULLIF(r_regionkey, 0) AS null_key FROM region) r
      ON n.n_regionkey IS NOT DISTINCT FROM r.null_key
    """,
    tier="P2",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the join form for
    dimension keys where NULL is a meaningful 'unknown' category
    (filter_null_semantics covers the predicate; this is the JOIN).

    The key is NULLIF(regionkey, 0) on both sides, so region 0's rows
    pair through the NULL match and carry via_null_match=true.  Spark
    plans <=> as an ordinary hash-join key (NULL hashes like any
    value under null-safe equality), so the shape is identical to
    join_broadcast — broadcast the bounded dim, no nested loop.  The
    null 'bucket' is one more key group; at scale a heavily-NULL key
    behaves like any other skewed key (salt it or let AQE split it).
    """
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.nullif(F.col("n_regionkey"), F.lit(0)).alias("n_regionkey"),
    )
    region = load(spark, sf_dir, "region").select(
        F.nullif(F.col("r_regionkey"), F.lit(0)).alias("null_key"),
        "r_name",
    )
    return nation.join(
        F.broadcast(region),
        nation.n_regionkey.eqNullSafe(region.null_key),
    ).select(
        "n_nationkey",
        "n_name",
        "r_name",
        F.col("n_regionkey").isNull().alias("via_null_match"),
    )


@query(
    "merge_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts AS valid_from
        FROM ordered
        WHERE prev_type IS NULL OR event_type != prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY valid_from) AS INT) AS version,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) IS NULL AS is_current
    FROM changes
    """,
    tier="P2",
)
def merge_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build: compress each user's
    event_type stream into validity intervals — one row per STATE
    CHANGE carrying [valid_from, valid_to) and an is_current flag —
    the historized-dimension construction every warehouse load runs
    after CDC ingestion (``merge_upsert_cdc`` keeps only the latest
    row per key — type 1; this keeps the full history with interval
    bounds — type 2).

    Plan shape: one lag window per user partition detects changes
    (consecutive-duplicate collapse — the gaps-and-islands move), a
    filter keeps ~|changes| rows, then lead/row_number windows over
    the CHANGE rows assign interval ends and versions — the second
    window runs over the compressed relation, so its cost is bounded
    by state-change count, not event count.  Determinism: change
    ordering is the tie-free (ts, event_id); interval bounds are
    copied timestamps (no arithmetic at all), so nothing rounds and
    the oracle hash-matches exactly.  At 100 TB this is two
    user-partitioned window passes — the same per-entity-sequence
    envelope as sessionization, parallel across users.
    """
    ev = load(spark, sf_dir, "events")
    w_ev = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(w_ev).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", "event_type", F.col("ts").alias("valid_from"))
    w_ch = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_ch).alias("valid_to"),
        F.row_number().over(w_ch).cast("int").alias("version"),
        F.lead("valid_from").over(w_ch).isNull().alias("is_current"),
    )
