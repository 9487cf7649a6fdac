"""M6 — the relational operator surface (SURVEY.md §2.2–2.9) as a
registry of (Spark callable, DuckDB oracle SQL) pairs.

Every entry is checked by the driver at sf0.01: row-count + schema +
order-insensitive value-hash of the Spark result vs the DuckDB result.
Conventions that keep the hash comparison stable across engines:
  * every computed column is aliased IDENTICALLY on both sides;
  * double aggregates are rounded (round 4) — fp addition order differs
    between engines and rounding absorbs the ~1e-12 noise;
  * timestamps leave the result as epoch-second BIGINTs (no tz/format
    ambiguity in the hash);
  * cross-engine hashing uses md5/sha256 only (identical in both);
    engine-internal ids may use xxhash64 but never in a checked output;
  * arrays are serialized to strings (concat_ws / array_to_string).

Reference analog: AGATHA has no SQL surface (Dask bags — SURVEY.md §2.3);
this surface is the engine's own query capability over the same shapes,
pinned by the driver's DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sparkgatha.io import read_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None = not SQL-expressible → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.2 projection / filter / dedup / sampling
# ---------------------------------------------------------------------------

@register(
    "q_project",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price
    FROM lineitem
    """,
)
def q_project(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "disc_price"
        ),
    )


@register(
    "q_filter",
    """
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS total
    FROM orders
    WHERE o_orderstatus IN ('F','P')
      AND o_totalprice BETWEEN 1000 AND 100000
      AND o_orderpriority LIKE '1-%'
      AND NOT (o_custkey IS NULL)
    """,
)
def q_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_totalprice").between(1000, 100000)
        & F.col("o_orderpriority").like("1-%")
        & ~F.col("o_custkey").isNull()
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 4).alias("total"),
    )


@register(
    "q_dedup",
    """
    SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    """,
)
def q_dedup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

@register(
    "q_join_broadcast",
    """
    SELECT n.n_name, r.r_name, count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q_join_broadcast(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q_join_smj",
    """
    SELECT o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_smj(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # hint the shuffle side: both large → sort-merge
    return (
        l.hint("merge")
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_join_outer",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_outer(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
    """,
)
def q_join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
    """,
)
def q_join_anti(spark, sf_dir):
    """J5: customers with no high-value order — the right side is
    filtered so BOTH sides are non-empty at every fixture scale (an
    anti-join against an empty/world set verifies nothing)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_full_outer",
    """
    SELECT coalesce(a.ck, b.ck) AS custkey, a.n AS n_urgent, b.n AS n_low
    FROM (SELECT o_custkey AS ck, count(*) AS n FROM orders
          WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) a
    FULL OUTER JOIN
         (SELECT o_custkey AS ck, count(*) AS n FROM orders
          WHERE o_orderpriority = '5-LOW' GROUP BY o_custkey) b
      ON a.ck = b.ck
    """,
)
def q_join_full_outer(spark, sf_dir):
    """J3 full outer, value-checked with real null rows on BOTH sides
    (customers with only urgent or only low-priority orders) — the
    left-only q_join_outer never exercised the full_outer path the
    graph metrics join (G13) relies on."""
    o = _t(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("ck_a"))
        .agg(F.count("*").alias("n_urgent"))
    )
    b = (
        o.filter(F.col("o_orderpriority") == "5-LOW")
        .groupBy(F.col("o_custkey").alias("ck_b"))
        .agg(F.count("*").alias("n_low"))
    )
    return a.join(b, a.ck_a == b.ck_b, "full_outer").select(
        F.coalesce("ck_a", "ck_b").alias("custkey"), "n_urgent", "n_low"
    )


@register(
    "q_selfjoin_cooc",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
      WHERE t.term NOT IN ('a','the') AND t.term <> ''
    )
    SELECT a.term AS src, b.term AS dst, count(*) AS weight
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY a.term, b.term
    """,
)
def q_selfjoin_cooc(spark, sf_dir):
    """J6 self-join form of co-occurrence pairing — doubles as the DuckDB
    oracle for G1 extraction semantics (same output as the mapInPandas
    path, checked against it in tests)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda t: (t != "") & ~t.isin("a", "the"),
                )
            )
        ).alias("term"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("src"), F.col("b.term").alias("dst")
        )
        .agg(F.count("*").alias("weight"))
    )


@register(
    "q_join_range",
    """
    SELECT e1.event_id AS eid, count(*) AS n_following
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND epoch(e2.ts) <= epoch(e1.ts) + 600
    WHERE e1.event_type = 'purchase'
    GROUP BY e1.event_id
    """,
)
def q_join_range(spark, sf_dir):
    """J7 theta/range join: events within 10 minutes after each purchase
    by the same user (equi key bounds the blowup; the range predicate
    refines)."""
    e = _t(spark, sf_dir, "events")
    e1 = e.filter(F.col("event_type") == "purchase").alias("e1")
    e2 = e.alias("e2")
    return (
        e1.join(
            e2,
            (F.col("e1.user_id") == F.col("e2.user_id"))
            & (F.col("e2.ts") > F.col("e1.ts"))
            & (
                F.unix_timestamp("e2.ts")
                <= F.unix_timestamp("e1.ts") + 600
            ),
        )
        .groupBy(F.col("e1.event_id").alias("eid"))
        .agg(F.count("*").alias("n_following"))
    )


@register(
    "q_asof",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, value,
             last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_view_value,
             event_type
      FROM events
    )
    SELECT event_id, round(coalesce(last_view_value, -1.0), 4) AS asof_view_value
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def q_asof(spark, sf_dir):
    """J8 as-of join (nearest ≤ t): value of the most recent 'view'
    event at or before each 'purchase', per user — union+window form,
    not a native join (SURVEY.md §2.3 J8)."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = e.withColumn(
        "last_view_value",
        F.last(
            F.when(F.col("event_type") == "view", F.col("value")),
            ignorenulls=True,
        ).over(w),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.round(F.coalesce("last_view_value", F.lit(-1.0)), 4).alias(
            "asof_view_value"
        ),
    )


@register(
    "q_crossjoin_knn",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def q_crossjoin_knn(spark, sf_dir):
    """J10 guarded cartesian: brute-force cosine top-k against one query
    vector (the baseline for similarity search; G8)."""
    e = _t(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    e = e.select("vec_id", emb_d.alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot / (norm(F.col("v")) * norm(F.col("qv"))), 6).alias(
                "cos"
            ),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

@register(
    "q_groupby_agg",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(min(l_extendedprice), 4) AS min_price,
           round(max(l_extendedprice), 4) AS max_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_agg(spark, sf_dir):
    """A1: TPC-H Q1-shaped hash aggregate (partial+final via Catalyst)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.min("l_extendedprice"), 4).alias("min_price"),
            F.round(F.max("l_extendedprice"), 4).alias("max_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_count_distinct(spark, sf_dir):
    """A2 exact distinct agg. The scale path is approx_count_distinct
    (HLL) — engine-specific sketches, so the *approximate* variant is
    covered by pytest bounds, not the cross-engine hash (SURVEY.md A2)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_rollup",
    """
    SELECT grouping_id(l_returnflag, l_linestatus) AS gid,
           l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("gid", "l_returnflag", "l_linestatus", "sum_qty")
    )


@register(
    "q_cube",
    """
    SELECT grouping_id(o_orderstatus, o_orderpriority) AS gid,
           o_orderstatus, o_orderpriority,
           count(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().alias("gid"), F.count("*").alias("n"))
        .select("gid", "o_orderstatus", "o_orderpriority", "n")
    )


@register(
    "q_adjacency",
    """
    SELECT n_nationkey,
           array_to_string(list_sort(list(s_name)), ',') AS suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def q_adjacency(spark, sf_dir):
    """A4 collect-list adjacency packing (the reference's key→[neighbors]
    SQLite export shape, SURVEY.md §2.4 A4) — serialized to a sorted
    string for the cross-engine hash."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("s_name"))).alias(
                "suppliers"
            )
        )
    )


@register(
    "q_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
    )
    return p.select(
        "l_returnflag",
        F.round(F.col("O"), 2).alias("qty_O"),
        F.round(F.col("F"), 2).alias("qty_F"),
    )


# ---------------------------------------------------------------------------
# §2.5 window functions
# ---------------------------------------------------------------------------

@register(
    "q_window_rank",
    """
    SELECT c_nationkey, c_custkey,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def q_window_rank(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_nationkey",
        "c_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "q_window_lag",
    """
    SELECT event_id, user_id,
           round(coalesce(lag(value)  OVER w, -1.0), 4) AS prev_value,
           round(coalesce(lead(value) OVER w, -1.0), 4) AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.coalesce(F.lag("value").over(w), F.lit(-1.0)), 4).alias(
            "prev_value"
        ),
        F.round(F.coalesce(F.lead("value").over(w), F.lit(-1.0)), 4).alias(
            "next_value"
        ),
    )


@register(
    "q_window_frame",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def q_window_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "q_topk_per_group",
    """
    SELECT * FROM (
      SELECT p_brand, p_partkey, round(p_retailprice, 4) AS price,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
      FROM part
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.select(
            "p_brand",
            "p_partkey",
            F.round("p_retailprice", 4).alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / top-k   §2.7 set ops
# ---------------------------------------------------------------------------

@register(
    "q_sort",
    """
    SELECT o_orderkey, round(o_totalprice, 4) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
)
def q_sort(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.round("o_totalprice", 4).alias("total"))
        .orderBy(F.col("total").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q_topk",
    """
    SELECT c_custkey, round(c_acctbal, 4) AS acctbal
    FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", F.round("c_acctbal", 4).alias("acctbal"))
        .orderBy(F.col("acctbal").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@register(
    "q_union",
    """
    SELECT nk FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION ALL
      SELECT s_nationkey AS nk FROM supplier
    ) GROUP BY nk
    """,
)
def q_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s).distinct()


@register(
    "q_intersect",
    """
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def q_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@register(
    "q_except",
    """
    SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 100000
    EXCEPT
    SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except(spark, sf_dir):
    """U3: customers with a high-value order but no finished order —
    non-empty at every fixture scale (the nationkey form returned 0
    rows and verified nothing)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("ck")
    )
    fin = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("ck")
    )
    return hi.distinct().subtract(fin.distinct())


# ---------------------------------------------------------------------------
# §2.8 scalar functions (string / hash / date / math / array / json)
# ---------------------------------------------------------------------------

@register(
    "q_string",
    """
    SELECT p_partkey,
           lower(p_name) AS name_lc,
           substr(p_type, 1, 5) AS type5,
           length(p_name) AS name_len,
           concat_ws('|', p_brand, p_type) AS brand_type,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           trim(upper(p_brand)) AS brand_uc
    FROM part
    """,
)
def q_string(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        F.trim(F.upper("p_brand")).alias("brand_uc"),
    )


@register(
    "q_hash_sha256",
    """
    SELECT doc_id, sha256(text) AS text_sha, md5(text) AS text_md5
    FROM documents
    """,
)
def q_hash_sha256(spark, sf_dir):
    """The BASELINE.json per-row invariant function (sha256 of content)
    exercised as a checked query — Spark sha2 ≡ DuckDB sha256."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2("text", 256).alias("text_sha"),
        F.md5("text").alias("text_md5"),
    )


@register(
    "q_date",
    """
    SELECT o_orderkey,
           epoch(date_trunc('month', o_orderdate))::BIGINT AS month_start_epoch,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mon,
           (dayofweek(o_orderdate) + 1) AS dow,
           datediff('day', timestamp '1995-01-01 00:00:00', o_orderdate) AS days_since
    FROM orders
    """,
)
def q_date(spark, sf_dir):
    # Spark dayofweek: 1=Sunday; DuckDB dayofweek: 0=Sunday → oracle +1
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias(
            "month_start_epoch"
        ),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp")
        ).alias("days_since"),
    )


@register(
    "q_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(ln(l_extendedprice), 6) AS ln_price,
           round(ln(1 + l_discount), 6) AS log1p_disc,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           round(pow(l_tax, 2), 6) AS tax_sq,
           round(abs(l_extendedprice - 1000.0), 4) AS abs_diff,
           round(greatest(l_tax, l_discount), 4) AS max_rate,
           round(least(l_tax, l_discount), 4) AS min_rate
    FROM lineitem
    """,
)
def q_math(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.log1p("l_discount"), 6).alias("log1p_disc"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.pow("l_tax", F.lit(2)), 6).alias("tax_sq"),
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 4).alias("abs_diff"),
        F.round(F.greatest("l_tax", "l_discount"), 4).alias("max_rate"),
        F.round(F.least("l_tax", "l_discount"), 4).alias("min_rate"),
    )


@register(
    "q_array_dot",
    """
    SELECT vec_id,
           round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6)
             AS self_dot,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def q_array_dot(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.round(dot, 6).alias("self_dot"),
        F.size("embedding").alias("dim"),
    )


@register(
    "q_json_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events
    """,
)
def q_json_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.element_at(
            F.from_json("props", "map<string,int>"), "k"
        ).alias("k_value"),
    )


# ---------------------------------------------------------------------------
# §2.9 streaming window ops (batch-equivalent semantics; streaming-mode
# execution is covered by tests/test_streaming.py over readStream)
# ---------------------------------------------------------------------------

@register(
    "q_window_tumbling",
    """
    SELECT (floor(epoch(ts) / 600) * 600)::BIGINT AS win_start_epoch,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_window_tumbling(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("win_start_epoch"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "q_window_sliding",
    """
    SELECT (floor(epoch(ts) / 300) * 300 - o.off)::BIGINT AS win_start_epoch,
           event_type, count(*) AS n
    FROM events, (VALUES (0), (300)) o(off)
    GROUP BY 1, 2
    """,
)
def q_window_sliding(spark, sf_dir):
    # 10-minute windows sliding every 5: each event lands in exactly 2
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("win_start_epoch"),
            "event_type",
            "n",
        )
    )


@register(
    "q_window_session",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch(ts) AS ep,
             lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
      FROM events
    ), s AS (
      SELECT user_id, ep,
             sum(CASE WHEN pe IS NULL OR ep - pe >= 300 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ep, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM e
    )
    SELECT user_id, floor(min(ep))::BIGINT AS session_start_epoch, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_window_session(spark, sf_dir):
    """ST3 session windows (5-minute gap) — the oracle is the classic
    gaps-and-islands rewrite; a new session starts when the gap >= the
    timeout (Spark's session end is exclusive: [start, last+gap))."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_epoch"),
            "n_events",
        )
    )


@register(
    "q_stateful_user_stats",
    """
    SELECT user_id, count(*) AS n,
           round(sum(value), 4) AS total
    FROM events GROUP BY user_id
    """,
)
def q_stateful_user_stats(spark, sf_dir):
    """The custom stateful streaming operator (applyInPandasWithState,
    §2.9/§2.10), driver-value-checked through its batch contract: the
    events table streams through ``running_user_stats`` in 4 real
    micro-batches (file source, maxFilesPerTrigger=1, availableNow) and
    the FINAL per-user (n, total, mean) update must equal the one-shot
    batch groupBy aggregate — which is exactly the DuckDB oracle.

    The final state is the max-(n, total) update per user (n strictly
    increases per user per batch: a group only emits when the batch
    holds its rows).  Per-batch partial sums reassociate float addition
    vs the oracle's single pass; the shared round-4 convention absorbs
    that for ``total``.  The operator's third output, ``mean``, is
    deliberately NOT in the checked projection: the fixture values are
    2-decimal exact, so total/n lands exactly on .xxxx5 half
    boundaries where Spark's exact-BigDecimal HALF_UP and DuckDB's
    multiply-then-std::round disagree on IDENTICAL input doubles
    (observed at sf0.1: 2822.47/56 = 50.40125 → .4013 vs .4012).
    mean = total/n is fully determined by the two checked columns and
    is asserted to 1e-9 against the batch aggregate in
    tests/test_streaming.py."""
    import os as _os
    import tempfile
    import uuid

    from sparkgatha.streaming import read_event_stream, running_user_stats

    import shutil

    tmp = tempfile.mkdtemp(prefix="sparkgatha_stateful_")
    try:
        src = _os.path.join(tmp, "src")
        _t(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(src)
        sink = f"stateful_user_stats_{uuid.uuid4().hex[:8]}"
        q = (
            running_user_stats(read_event_stream(spark, src, max_files_per_trigger=1))
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", _os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stateful user-stats stream did not drain in 300s")
    finally:
        # the memory sink holds the updates in memory; the staged source
        # copy and the stream checkpoint are dead weight once drained
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.max(F.struct("n", "total")).alias("s"))
        .select(
            "user_id",
            F.col("s.n").alias("n"),
            F.round("s.total", 4).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# subqueries / having / conditional — extra Catalyst coverage (§4.2:
# subquery decorrelation is exercised by the oracle side too)
# ---------------------------------------------------------------------------

@register(
    "q_having",
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 12 AND sum(o_totalprice) > 100000
    """,
)
def q_having(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("_spend"),
        )
        .filter((F.col("n_orders") >= 12) & (F.col("_spend") > 100000))
        .select("o_custkey", "n_orders", F.round("_spend", 2).alias("spend"))
    )


@register(
    "q_scalar_subquery",
    """
    SELECT c_custkey, round(c_acctbal, 4) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def q_scalar_subquery(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    c.createOrReplaceTempView("_q_cust")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 4) AS acctbal
        FROM _q_cust
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM _q_cust)
        """
    )


@register(
    "q_correlated_subquery",
    """
    SELECT o_orderkey, o_custkey
    FROM orders o
    WHERE o_totalprice > (
      SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery — Catalyst decorrelates to an
    aggregate + join (SURVEY.md §4.2)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_q_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM _q_orders o
        WHERE o_totalprice > (
          SELECT 1.5 * avg(o2.o_totalprice) FROM _q_orders o2
          WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "q_case_when",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 50000 THEN 'mid'
                ELSE 'low' END AS band,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm
    FROM orders
    """,
)
def q_case_when(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 200000, "high")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("low")
        .alias("band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
        ).alias("status_norm"),
    )


@register(
    "q_degrees",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
      WHERE t.term NOT IN ('a','the') AND t.term <> ''
    ),
    edges AS (
      SELECT a.term AS src, b.term AS dst, count(*) AS weight
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term <> b.term
      GROUP BY a.term, b.term
    )
    SELECT src AS vertex, count(*) AS out_degree,
           round(sum(weight), 2) AS out_weight
    FROM edges GROUP BY src
    """,
)
def q_degrees(spark, sf_dir):
    """G3 degrees over the extracted co-occurrence graph, oracle-checked
    end-to-end (extraction → symmetrize → degree agg)."""
    from sparkgatha.extract import extract_cooccurrence_edges, symmetrize
    from sparkgatha.graph.degrees import out_degrees

    d = _t(spark, sf_dir, "documents")
    edges = symmetrize(extract_cooccurrence_edges(
        d, text_col="text", max_terms_per_doc=None
    ))
    return out_degrees(edges).select(
        "vertex", "out_degree", F.round("out_weight", 2).alias("out_weight")
    )


@register(
    "q_edges_idf",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
      WHERE t.term NOT IN ('a','the') AND t.term <> ''
    ),
    nd AS (SELECT count(*) AS n FROM documents),
    dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
    e AS (
      SELECT a.term AS src, b.term AS dst, count(*) AS cnt
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    )
    SELECT e.src, e.dst,
           round(e.cnt * (ln(nd.n * 1.0 / ds.df) + ln(nd.n * 1.0 / dd.df)) / 2,
                 4) AS weight
    FROM e
    CROSS JOIN nd
    JOIN dfreq ds ON ds.term = e.src
    JOIN dfreq dd ON dd.term = e.dst
    """,
)
def q_edges_idf(spark, sf_dir):
    """G1 with TF-IDF-flavored weights (weight_mode='idf') — the
    reference's term-edge weighting (SURVEY.md §2.11 G1), oracle-checked
    end-to-end: co-count x mean idf of the endpoints."""
    from sparkgatha.extract import extract_cooccurrence_edges

    d = _t(spark, sf_dir, "documents")
    e = extract_cooccurrence_edges(
        d, text_col="text", weight_mode="idf", max_terms_per_doc=None
    )
    return e.select("src", "dst", F.round("weight", 4).alias("weight"))


@register(
    "q_edges_pmi",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
      WHERE t.term NOT IN ('a','the') AND t.term <> ''
    ),
    nd AS (SELECT count(*) AS n FROM documents),
    dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
    e AS (
      SELECT a.term AS src, b.term AS dst, count(*) AS cnt
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    )
    SELECT e.src, e.dst,
           round(ln(e.cnt * nd.n * 1.0 / (ds.df::DOUBLE * dd.df)), 4) AS weight
    FROM e
    CROSS JOIN nd
    JOIN dfreq ds ON ds.term = e.src
    JOIN dfreq dd ON dd.term = e.dst
    """,
)
def q_edges_pmi(spark, sf_dir):
    """G1 with pointwise-mutual-information weights
    (weight_mode='pmi'): PMI = ln(cnt·N / (df_src·df_dst)) over
    document co-occurrence — the association weighting that separates
    'co-occur because both common' (PMI < 0, kept) from genuinely
    associated pairs; oracle-checked end-to-end."""
    from sparkgatha.extract import extract_cooccurrence_edges

    d = _t(spark, sf_dir, "documents")
    e = extract_cooccurrence_edges(
        d, text_col="text", weight_mode="pmi", max_terms_per_doc=None
    )
    return e.select("src", "dst", F.round("weight", 4).alias("weight"))


# ---------------------------------------------------------------------------
# graph / sampling / approx operators — not SQL-expressible (iterative or
# engine-specific): registered with oracle=None → driver rows-only check
# ---------------------------------------------------------------------------


def _doc_graph(spark, sf_dir):
    from sparkgatha.extract import (
        extract_cooccurrence_edges,
        node_ids,
        symmetrize,
    )

    d = _t(spark, sf_dir, "documents")
    edges = symmetrize(extract_cooccurrence_edges(
        d, text_col="text", max_terms_per_doc=None
    ))
    nodes, id_edges = node_ids(edges)
    return nodes, id_edges


#: the q_degrees token/edge CTE, shared by the graph-query oracles below
_GRAPH_CTE = """
    toks AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(term)
      WHERE t.term NOT IN ('a','the') AND t.term <> ''
    ),
    e AS (
      SELECT DISTINCT a.term AS src, b.term AS dst
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term <> b.term
    )
"""


def _pagerank_oracle_sql(rounds: int = 12, alpha: float = 0.85) -> str:
    """G4 unrolled: 12 fixed damped iterations as materialized CTE
    rounds (same pattern as the LPA oracle; MATERIALIZED stops DuckDB's
    CTE inlining from going exponential).  Dangling mass is provably
    zero here — vertices are edge endpoints of a SYMMETRIZED graph, so
    every vertex has out-edges.  round(,8) absorbs the cross-engine fp
    addition-order noise (~1e-16 on 29 terms)."""
    sql = f"""
    WITH {_GRAPH_CTE},
    we AS MATERIALIZED (
      SELECT a.term AS st, b.term AS dt, count(*) AS weight
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term <> b.term
      GROUP BY a.term, b.term
    ),
    outw AS MATERIALIZED (
      SELECT st, sum(weight) AS ow FROM we GROUP BY st
    ),
    nv AS (SELECT count(DISTINCT st) AS n FROM we),
    r_0 AS MATERIALIZED (
      SELECT DISTINCT st AS v, 1.0 / (SELECT n FROM nv) AS r FROM we
    )"""
    for k in range(1, rounds + 1):
        sql += f""",
    r_{k} AS MATERIALIZED (
      SELECT we.dt AS v,
             {alpha} * sum(we.weight * 1.0 / outw.ow * p.r)
               + {1.0 - alpha} / (SELECT n FROM nv) AS r
      FROM we JOIN outw ON outw.st = we.st JOIN r_{k - 1} p ON p.v = we.st
      GROUP BY we.dt
    )"""
    sql += f"""
    SELECT v AS key, round(r, 8) AS rank FROM r_{rounds}
    """
    return sql


@register("q_g4_pagerank", _pagerank_oracle_sql(12))
def q_g4_pagerank(spark, sf_dir):
    """G4, value-checked end-to-end: 12 fixed supersteps vs the DuckDB
    unrolled damped iteration (on top of the NetworkX goldens in
    tests/test_graph_golden.py)."""
    from sparkgatha.graph.pagerank import pagerank

    nodes, id_edges = _doc_graph(spark, sf_dir)
    # r6: fuse the 12 fixed supersteps into one Spark job — the
    # pagerank module's check_every contract (bit-identical numerics,
    # interior dangling mass in-plan; the bench headline runs the same
    # fused block)
    r = pagerank(id_edges, tol=0.0, max_iter=12, check_every=12)
    return (
        r.ranks.join(nodes, r.ranks.vertex == nodes.id)
        .select("key", F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("key"))
    )


def _personalized_pr_oracle_sql(rounds: int = 12, alpha: float = 0.85) -> str:
    """Personalized G4 unrolled: teleport mass split over the two
    lexicographically-smallest terms (deterministic cross-engine seed
    rule), zero elsewhere; same no-dangling argument as the uniform
    oracle, so the per-round base term is simply (1-alpha)*p(v)."""
    sql = f"""
    WITH {_GRAPH_CTE},
    we AS MATERIALIZED (
      SELECT a.term AS st, b.term AS dt, count(*) AS weight
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term <> b.term
      GROUP BY a.term, b.term
    ),
    outw AS MATERIALIZED (
      SELECT st, sum(weight) AS ow FROM we GROUP BY st
    ),
    nv AS (SELECT count(DISTINCT st) AS n FROM we),
    seeds AS MATERIALIZED (
      SELECT DISTINCT st AS v FROM we ORDER BY st LIMIT 2
    ),
    r_0 AS MATERIALIZED (
      SELECT DISTINCT st AS v, 1.0 / (SELECT n FROM nv) AS r FROM we
    )"""
    for k in range(1, rounds + 1):
        sql += f""",
    r_{k} AS MATERIALIZED (
      SELECT we.dt AS v,
             {alpha} * sum(we.weight * 1.0 / outw.ow * p.r)
               + {1.0 - alpha} * (CASE WHEN we.dt IN (SELECT v FROM seeds)
                                  THEN 0.5 ELSE 0.0 END) AS r
      FROM we JOIN outw ON outw.st = we.st JOIN r_{k - 1} p ON p.v = we.st
      GROUP BY we.dt
    )"""
    sql += f"""
    SELECT v AS key, round(r, 8) AS rank FROM r_{rounds}
    """
    return sql


@register("q_g4_pagerank_personalized", _personalized_pr_oracle_sql(12))
def q_g4_pagerank_personalized(spark, sf_dir):
    """Personalized G4 (seed-biased teleport, the topic_rank primitive):
    12 fixed supersteps with the teleport mass on the two smallest
    terms, vs the DuckDB unrolled personalized iteration."""
    from sparkgatha.graph.pagerank import pagerank

    nodes, id_edges = _doc_graph(spark, sf_dir)
    seeds = nodes.orderBy("key").limit(2).select(
        F.col("id").alias("vertex"), F.lit(1.0).alias("weight")
    )
    # r6: fused supersteps — same check_every contract as q_g4_pagerank
    r = pagerank(
        id_edges, tol=0.0, max_iter=12, personalization=seeds,
        check_every=12,
    )
    return (
        r.ranks.join(nodes, r.ranks.vertex == nodes.id)
        .select("key", F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("key"))
    )


@register(
    "q_g5_connected_components",
    f"""
    WITH RECURSIVE {_GRAPH_CTE},
    reach(a, b) AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
    )
    SELECT a AS key, least(a, min(b)) AS component_key
    FROM reach GROUP BY a
    """,
)
def q_g5_connected_components(spark, sf_dir):
    """G5 small-star/large-star CC, value-checked end-to-end against a
    DuckDB recursive-CTE transitive closure (component = min key reachable
    — key-space labels so hash node ids never enter the comparison)."""
    from sparkgatha.graph.cc import connected_components

    nodes, id_edges = _doc_graph(spark, sf_dir)
    cc = connected_components(id_edges)
    keyed = cc.join(nodes, cc.vertex == nodes.id).select("key", "component")
    comp_key = keyed.groupBy("component").agg(
        F.min("key").alias("component_key")
    )
    return keyed.join(comp_key, "component").select("key", "component_key")


def _lpa_rounds_prefix(rounds: int) -> str:
    """The WITH-body shared by every LPA-derived oracle: md5 ids, the
    weighted id-level edge set ``ie``, and ``labels_0 .. labels_k`` as
    k unrolled synchronous rounds with the exact Spark tie-break
    (wsum desc, label asc).  Callers append their own final SELECT
    (q_g6: the labels themselves; q_modularity: the Q of the
    partition)."""
    sql = f"""
    WITH {_GRAPH_CTE},
    ids AS (
      SELECT DISTINCT term,
             ('0x' || substr(md5(term), 1, 15))::BIGINT AS id
      FROM toks
    ),
    we AS (
      SELECT a.term AS st, b.term AS dt, count(*) AS weight
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term <> b.term
      GROUP BY a.term, b.term
    ),
    ie AS MATERIALIZED (
      SELECT s.id AS src, d.id AS dst, we.weight
      FROM we JOIN ids s ON s.term = we.st JOIN ids d ON d.term = we.dt
    ),
    labels_0 AS (SELECT id AS vertex, id AS label FROM ids)"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
    votes_{r} AS MATERIALIZED (
      SELECT ie.dst, l.label, sum(ie.weight) AS wsum
      FROM ie JOIN labels_{p} l ON ie.src = l.vertex
      GROUP BY ie.dst, l.label
    ),
    best_{r} AS (
      SELECT dst, label FROM (
        SELECT dst, label,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY wsum DESC, label ASC) AS rn
        FROM votes_{r}
      ) WHERE rn = 1
    ),
    labels_{r} AS MATERIALIZED (
      SELECT v.vertex, coalesce(b.label, v.label) AS label
      FROM labels_{p} v LEFT JOIN best_{r} b ON b.dst = v.vertex
    )"""
    return sql


def _lpa_oracle_sql(rounds: int = 10) -> str:
    """G6 unrolled: LPA is k bounded synchronous rounds — express them
    as k non-recursive CTE rounds over md5-derived numeric node ids (the
    cross-engine id trick, dedup.py module doc), with the exact Spark
    tie-break (wsum desc, label asc).  Early Spark convergence is safe:
    changed==0 makes every later round a no-op, so exactly-k SQL rounds
    equal Spark's early-stopped state."""
    return _lpa_rounds_prefix(rounds) + f"""
    SELECT ids.term AS key, l.label
    FROM labels_{rounds} l JOIN ids ON ids.id = l.vertex
    """


@register("q_g6_label_propagation", _lpa_oracle_sql(10))
def q_g6_label_propagation(spark, sf_dir):
    """G6 semi-synchronous min-label LPA, value-checked end-to-end: node
    ids are md5-derived (engine-independent, so the numeric tie-break
    order is identical in DuckDB) and the oracle unrolls exactly 10
    synchronous rounds."""
    from sparkgatha.extract import extract_cooccurrence_edges, symmetrize
    from sparkgatha.graph.lpa import label_propagation

    d = _t(spark, sf_dir, "documents")
    edges = symmetrize(extract_cooccurrence_edges(
        d, text_col="text", max_terms_per_doc=None
    ))
    md5_id = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 15), 16, 10
    ).cast("bigint")
    nodes = (
        edges.select(F.col("src").alias("key"))
        .unionByName(edges.select(F.col("dst").alias("key")))
        .distinct()
        .select("key", md5_id(F.col("key")).alias("id"))
    )
    id_edges = (
        edges.select(
            md5_id(F.col("src")).alias("src"),
            md5_id(F.col("dst")).alias("dst"),
            "weight",
        )
    )
    # r6: fuse the 10 bounded rounds into one Spark job (lpa's
    # check_every contract — labels bit-identical; a mid-block
    # fixpoint's extra rounds are no-ops, exactly the argument the
    # oracle docstring already makes for round-count mismatches)
    lp = label_propagation(id_edges, max_iter=10, check_every=10)
    return lp.join(nodes, lp.vertex == nodes.id).select("key", "label")


@register(
    "q_g7_triangles",
    f"""
    WITH {_GRAPH_CTE},
    und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
    tri AS (
      SELECT t1.a AS x, t1.b AS y, t2.b AS z
      FROM und t1
      JOIN und t2 ON t2.a = t1.b
      JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
    ),
    corners AS (
      SELECT x AS v FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    verts AS (SELECT DISTINCT src AS v FROM e)
    SELECT verts.v AS key, count(corners.v) AS n_triangles
    FROM verts LEFT JOIN corners ON corners.v = verts.v
    GROUP BY verts.v
    """,
)
def q_g7_triangles(spark, sf_dir):
    """G7 degree-oriented triangle counting, value-checked end-to-end
    against DuckDB's canonical x<y<z three-way join enumeration."""
    from sparkgatha.graph.triangles import triangle_counts

    nodes, id_edges = _doc_graph(spark, sf_dir)
    t = triangle_counts(id_edges)
    return t.join(nodes, t.vertex == nodes.id).select("key", "n_triangles")


@register(
    "q_clustering_coeff",
    f"""
    WITH {_GRAPH_CTE},
    und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
    tri AS (
      SELECT t1.a AS x, t1.b AS y, t2.b AS z
      FROM und t1
      JOIN und t2 ON t2.a = t1.b
      JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
    ),
    corners AS (
      SELECT x AS v FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    deg AS (SELECT src AS v, count(*) AS d FROM e GROUP BY src),
    tc AS (
      SELECT deg.v, deg.d, count(corners.v) AS nt
      FROM deg LEFT JOIN corners ON corners.v = deg.v
      GROUP BY deg.v, deg.d
    )
    SELECT v AS key,
           round(CASE WHEN d >= 2
                      THEN 2.0 * nt / (d * (d - 1.0))
                      ELSE 0.0 END, 8) AS clustering
    FROM tc
    """,
)
def q_clustering_coeff(spark, sf_dir):
    """G17 local clustering coefficient 2T/(d(d-1)) — the standard
    transitivity profile of the term graph, composed from the G7
    triangle corners and one degree join; value-checked against the
    same DuckDB triangle enumeration plus a degree CTE.  Both engines
    evaluate the identical double expression (2.0*nt)/(d*(d-1.0)), so
    even pre-round values are bit-equal."""
    from sparkgatha.graph.triangles import clustering_coefficients

    nodes, id_edges = _doc_graph(spark, sf_dir)
    c = clustering_coefficients(id_edges)
    return c.join(nodes, c.vertex == nodes.id).select(
        "key", F.round("clustering", 8).alias("clustering")
    )


#: window-1 (adjacent-token) pair CTE — the POSITIONAL token graph the
#: G1-variant extractor builds (extract.extract_adjacency_edges); pairs
#: form over raw positions, then stopword/empty/self pairs drop.
#: Parallel unnest keeps term+position aligned without WITH ORDINALITY.
_ADJ_CTE = """
    raw AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ),
    ptoks AS (
      SELECT doc_id, unnest(ts) AS term,
             unnest(range(1, len(ts) + 1)) AS i
      FROM raw
    ),
    apairs AS (
      SELECT a.term AS x, b.term AS y
      FROM ptoks a JOIN ptoks b
        ON a.doc_id = b.doc_id AND b.i = a.i + 1
      WHERE a.term NOT IN ('a','the') AND b.term NOT IN ('a','the')
        AND a.term <> '' AND b.term <> '' AND a.term <> b.term
    ),
    ae AS (
      SELECT least(x, y) AS src, greatest(x, y) AS dst, count(*) AS weight
      FROM apairs GROUP BY 1, 2
    )
"""


@register(
    "q_assortativity",
    f"""
    WITH {_ADJ_CTE},
    se AS (
      SELECT src, dst FROM ae UNION ALL SELECT dst, src FROM ae
    ),
    deg AS (SELECT src AS v, count(*) AS d FROM se GROUP BY src)
    SELECT round(corr(du.d::DOUBLE, dv.d::DOUBLE), 8) AS assortativity
    FROM se JOIN deg du ON du.v = se.src JOIN deg dv ON dv.v = se.dst
    """,
)
def q_assortativity(spark, sf_dir):
    """G20 degree assortativity (Newman 2002) of the window-1 adjacency
    graph — one Pearson correlation over the symmetrized distinct edge
    list, value-checked against DuckDB's corr() over the identical CTE
    (both engines use the sample correlation; round(,8) absorbs
    summation-order noise).  The window-1 graph, not the all-pairs one:
    the all-pairs fixture graph is regular (zero degree variance →
    NULL), so only the sparser graph makes this a value check.
    NetworkX-golden-tested in tests/test_linkgraph_ops.py."""
    from sparkgatha.extract import extract_adjacency_edges, symmetrize
    from sparkgatha.graph.stats import degree_assortativity

    edges = symmetrize(
        extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    )
    return degree_assortativity(edges).select(
        F.round("assortativity", 8).alias("assortativity")
    )


@register(
    "q_rich_club",
    f"""
    WITH {_ADJ_CTE},
    deg AS (
      SELECT x, count(*) AS d FROM (
        SELECT src AS x FROM ae UNION ALL SELECT dst FROM ae
      ) GROUP BY x
    ),
    nk AS (
      SELECT r.k, sum(h.n) AS n_k
      FROM (SELECT d, count(*) AS n FROM deg GROUP BY d) h,
           unnest(range(0, h.d)) AS r(k)
      GROUP BY r.k
    ),
    mdh AS (
      SELECT least(du.d, dv.d) AS m
      FROM ae JOIN deg du ON du.x = ae.src JOIN deg dv ON dv.x = ae.dst
    ),
    ek AS (
      SELECT r.k, sum(h.c) AS e_k
      FROM (SELECT m, count(*) AS c FROM mdh GROUP BY m) h,
           unnest(range(0, h.m)) AS r(k)
      GROUP BY r.k
    )
    SELECT nk.k,
           round(2.0 * coalesce(ek.e_k, 0)
                 / (nk.n_k * (nk.n_k - 1.0)), 8) AS phi
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    WHERE nk.n_k >= 2
    """,
)
def q_rich_club(spark, sf_dir):
    """G35 rich-club coefficient profile of the window-1 adjacency
    graph (the same sparse fixture graph as q_assortativity — the
    all-pairs graph is regular, where phi is constant and checks
    nothing) — value-checked against DuckDB's identical histogram-
    explode cumulative; NetworkX-golden in tests."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.stats import rich_club

    edges = extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    return rich_club(edges).select(
        F.col("k").cast("long").alias("k"), F.round("phi", 8).alias("phi")
    )


@register(
    "q_louvain_move",
    f"""
    WITH {_ADJ_CTE},
    se AS (
      SELECT src, dst, weight FROM ae
      UNION ALL SELECT dst, src, weight FROM ae
    ),
    deg AS (SELECT src AS v, sum(weight)::DOUBLE AS k FROM se GROUP BY src),
    m2 AS (SELECT sum(weight)::DOUBLE AS m2 FROM se),
    g AS (
      SELECT se.src AS u, se.dst AS nbr,
             round(se.weight::DOUBLE
                   - (du.k * dv.k) / (SELECT m2 FROM m2), 8) AS g8
      FROM se JOIN deg du ON du.v = se.src JOIN deg dv ON dv.v = se.dst
    ),
    best AS (
      SELECT u, nbr, g8 FROM (
        SELECT u, nbr, g8,
               row_number() OVER (PARTITION BY u
                                  ORDER BY g8 DESC, nbr ASC) AS rn
        FROM g
      ) WHERE rn = 1
    )
    SELECT u AS vertex,
           CASE WHEN g8 > 0 THEN nbr ELSE u END AS move_to,
           CASE WHEN g8 > 0 THEN g8 ELSE 0.0 END AS gain
    FROM best
    """,
)
def q_louvain_move(spark, sf_dir):
    """G39 Louvain-style modularity-gain local move (one synchronous
    round from singletons) over the weighted window-1 adjacency graph —
    the modularity-seeking counterpart of G6's mode-seeking LPA;
    value-checked per vertex (move target AND rounded gain) against
    DuckDB's identical degree/2m/argmax replay."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.louvain import louvain_move_round

    edges = extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    return louvain_move_round(edges)


@register(
    "q_graph_coarsen",
    f"""
    WITH {_ADJ_CTE},
    se AS (
      SELECT src, dst, weight FROM ae
      UNION ALL SELECT dst, src, weight FROM ae
    ),
    deg AS (SELECT src AS v, sum(weight)::DOUBLE AS k FROM se GROUP BY src),
    m2 AS (SELECT sum(weight)::DOUBLE AS m2 FROM se),
    g AS (
      SELECT se.src AS u, se.dst AS nbr,
             round(se.weight::DOUBLE
                   - (du.k * dv.k) / (SELECT m2 FROM m2), 8) AS g8
      FROM se JOIN deg du ON du.v = se.src JOIN deg dv ON dv.v = se.dst
    ),
    best AS (
      SELECT u, nbr, g8 FROM (
        SELECT u, nbr, g8,
               row_number() OVER (PARTITION BY u
                                  ORDER BY g8 DESC, nbr ASC) AS rn
        FROM g
      ) WHERE rn = 1
    ),
    mv AS (
      SELECT u AS vertex, CASE WHEN g8 > 0 THEN nbr ELSE u END AS c
      FROM best
    )
    SELECT least(cu.c, cv.c) AS c_src, greatest(cu.c, cv.c) AS c_dst,
           sum(ae.weight)::BIGINT AS weight
    FROM ae JOIN mv cu ON cu.vertex = ae.src JOIN mv cv ON cv.vertex = ae.dst
    GROUP BY 1, 2
    """,
)
def q_graph_coarsen(spark, sf_dir):
    """G41 Louvain phase-2 contraction: one G39 move round from
    singletons assigns communities, then the graph contracts to one
    supervertex per community with summed weights (internal weight as
    the self-loop) — the step that turns the move round into full
    multi-level Louvain.  Value-checked against DuckDB replaying the
    identical move rule + contraction aggregate."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.louvain import coarsen_by_labels, louvain_move_round

    edges = extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    moves = louvain_move_round(edges).select(
        "vertex", F.col("move_to").alias("label")
    )
    return coarsen_by_labels(edges, moves).select(
        "c_src", "c_dst", F.col("weight").cast("long").alias("weight")
    )


@register(
    "q_louvain_level",
    f"""
    WITH RECURSIVE {_ADJ_CTE},
    se AS (
      SELECT src, dst, weight FROM ae
      UNION ALL SELECT dst, src, weight FROM ae
    ),
    deg AS (SELECT src AS v, sum(weight)::DOUBLE AS k FROM se GROUP BY src),
    m2 AS (SELECT sum(weight)::DOUBLE AS m2 FROM se),
    g AS (
      SELECT se.src AS u, se.dst AS nbr,
             round(se.weight::DOUBLE
                   - (du.k * dv.k) / (SELECT m2 FROM m2), 8) AS g8
      FROM se JOIN deg du ON du.v = se.src JOIN deg dv ON dv.v = se.dst
    ),
    best AS (
      SELECT u, nbr, g8 FROM (
        SELECT u, nbr, g8,
               row_number() OVER (PARTITION BY u
                                  ORDER BY g8 DESC, nbr ASC) AS rn
        FROM g
      ) WHERE rn = 1
    ),
    mv AS (
      SELECT u AS vertex, CASE WHEN g8 > 0 THEN nbr ELSE u END AS c
      FROM best
    ),
    mve AS (SELECT DISTINCT a, b FROM (
      SELECT vertex AS a, c AS b FROM mv WHERE c <> vertex
      UNION ALL
      SELECT c, vertex FROM mv WHERE c <> vertex
    )),
    reach(a, b) AS (
      SELECT a, b FROM mve
      UNION
      SELECT r.a, m.b FROM reach r JOIN mve m ON m.a = r.b
    ),
    comp AS (SELECT a AS vertex, least(a, min(b)) AS lab
             FROM reach GROUP BY a),
    -- DISTINCT explicitly: inside a WITH RECURSIVE list DuckDB gives a
    -- bare top-level UNION union-all semantics for non-self-referencing
    -- CTEs, so UNION-as-dedup cannot be relied on here
    av AS (SELECT DISTINCT v FROM (
      SELECT src AS v FROM ae UNION ALL SELECT dst FROM ae
    )),
    lab AS (
      SELECT av.v AS vertex, coalesce(comp.lab, av.v) AS lab
      FROM av LEFT JOIN comp ON comp.vertex = av.v
    )
    SELECT least(lu.lab, lv.lab) AS c_src,
           greatest(lu.lab, lv.lab) AS c_dst,
           sum(ae.weight)::BIGINT AS weight
    FROM ae JOIN lab lu ON lu.vertex = ae.src
            JOIN lab lv ON lv.vertex = ae.dst
    GROUP BY 1, 2
    """,
)
def q_louvain_level(spark, sf_dir):
    """G43 one FULL Louvain level (the unit louvain() iterates): G39
    move round → connected components of the positive-gain move graph
    (merging mutual moves and chains) → G41 contraction.  Value-checked
    end-to-end against DuckDB replaying the move rule plus a
    recursive-CTE transitive closure (the q_g5 oracle pattern) plus the
    contraction aggregate."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.louvain import louvain_level

    edges = extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    _labels, coarse = louvain_level(edges)
    return coarse.select(
        F.col("src").alias("c_src"),
        F.col("dst").alias("c_dst"),
        F.col("weight").cast("long").alias("weight"),
    )


@register(
    "q_conductance",
    f"""
    WITH RECURSIVE {_ADJ_CTE},
    se AS (
      SELECT src, dst, weight FROM ae
      UNION ALL SELECT dst, src, weight FROM ae
    ),
    deg AS (SELECT src AS v, sum(weight)::DOUBLE AS k FROM se GROUP BY src),
    m2 AS (SELECT sum(weight)::DOUBLE AS m2 FROM se),
    g AS (
      SELECT se.src AS u, se.dst AS nbr,
             round(se.weight::DOUBLE
                   - (du.k * dv.k) / (SELECT m2 FROM m2), 8) AS g8
      FROM se JOIN deg du ON du.v = se.src JOIN deg dv ON dv.v = se.dst
    ),
    best AS (
      SELECT u, nbr, g8 FROM (
        SELECT u, nbr, g8,
               row_number() OVER (PARTITION BY u
                                  ORDER BY g8 DESC, nbr ASC) AS rn
        FROM g
      ) WHERE rn = 1
    ),
    mv AS (
      SELECT u AS vertex, CASE WHEN g8 > 0 THEN nbr ELSE u END AS c
      FROM best
    ),
    mve AS (SELECT DISTINCT a, b FROM (
      SELECT vertex AS a, c AS b FROM mv WHERE c <> vertex
      UNION ALL
      SELECT c, vertex FROM mv WHERE c <> vertex
    )),
    reach(a, b) AS (
      SELECT a, b FROM mve
      UNION
      SELECT r.a, m.b FROM reach r JOIN mve m ON m.a = r.b
    ),
    comp AS (SELECT a AS vertex, least(a, min(b)) AS lab
             FROM reach GROUP BY a),
    av AS (SELECT DISTINCT v FROM (
      SELECT src AS v FROM ae UNION ALL SELECT dst FROM ae
    )),
    lab AS (
      SELECT av.v AS vertex, coalesce(comp.lab, av.v) AS lab
      FROM av LEFT JOIN comp ON comp.vertex = av.v
    ),
    tot AS (SELECT sum(weight)::BIGINT AS t FROM se),
    agg AS (
      SELECT lu.lab AS community,
             sum(se.weight)::BIGINT AS vol,
             sum(CASE WHEN lu.lab <> lv.lab THEN se.weight
                      ELSE 0 END)::BIGINT AS cut
      FROM se JOIN lab lu ON lu.vertex = se.src
              JOIN lab lv ON lv.vertex = se.dst
      GROUP BY lu.lab
    )
    SELECT community, vol, cut,
           round(cut * 1.0 / least(vol, tot.t - vol), 8) AS conductance
    FROM agg CROSS JOIN tot
    WHERE least(vol, tot.t - vol) > 0
    """,
)
def q_conductance(spark, sf_dir):
    """G45 per-community conductance φ(c) = cut(c) / min(vol(c),
    2m − vol(c)) of the G43 Louvain-level partition over the
    symmetrized adjacency graph — the cut-quality metric complementing
    q_modularity's density view (non-vacuous: the level yields multiple
    communities on the fixtures, unlike LPA which floods this connected
    hub-heavy graph to one label).  All sums are exact integer weights,
    so the single rounded division is engine-identical; 2m is a bounded
    driver scalar baked as a literal (the G13 class, no BNLJ)."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.louvain import louvain_level

    edges = extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    labels, _coarse = louvain_level(edges)
    if labels is None:
        # level fixpoint (no positive-gain move): conductance of the
        # identity (singleton) partition, matching the oracle's
        # recursive replay which degrades to vertex -> vertex labels
        labels = (
            edges.select(F.col("src").alias("vertex"))
            .unionByName(edges.select(F.col("dst").alias("vertex")))
            .distinct()
            .select("vertex", F.col("vertex").alias("label"))
        )
    se = (
        edges.select("src", "dst", "weight")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                "weight",
            )
        )
        .localCheckpoint(eager=True)  # feeds tot and the label joins
    )
    tot = int(se.agg(F.sum("weight")).collect()[0][0])
    lu = labels.select(F.col("vertex").alias("src"), F.col("label").alias("cu"))
    lv = labels.select(F.col("vertex").alias("dst"), F.col("label").alias("cv"))
    agg = (
        se.join(lu, "src")
        .join(lv, "dst")
        .groupBy(F.col("cu").alias("community"))
        .agg(
            F.sum("weight").cast("long").alias("vol"),
            F.sum(
                F.when(F.col("cu") != F.col("cv"), F.col("weight")).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("cut"),
        )
    )
    denom = F.least(F.col("vol"), F.lit(tot) - F.col("vol"))
    return agg.filter(denom > 0).select(
        "community",
        "vol",
        "cut",
        F.round(F.col("cut") / denom, 8).alias("conductance"),
    )


@register(
    "q_simrank",
    f"""
    WITH {_ADJ_CTE},
    und AS (
      SELECT src, dst FROM ae WHERE src <> dst
      UNION ALL SELECT dst, src FROM ae WHERE src <> dst
    ),
    deg AS (SELECT src AS v, count(*) AS d FROM und GROUP BY src),
    topv AS (SELECT v FROM deg ORDER BY d DESC, v ASC LIMIT 64),
    sub AS (
      SELECT u.src, u.dst FROM und u
      JOIN topv t1 ON u.src = t1.v JOIN topv t2 ON u.dst = t2.v
    ),
    sd AS (SELECT src AS v, count(*) AS d FROM sub GROUP BY src),
    verts AS (SELECT DISTINCT src AS v FROM sub),
    s0 AS (SELECT v AS x, v AS y, 100000000::BIGINT AS s8 FROM verts),
    m1 AS (
      SELECT e1.src AS a, e2.src AS b, sum(s0.s8)::BIGINT AS m8
      FROM sub e1 JOIN s0 ON e1.dst = s0.x JOIN sub e2 ON s0.y = e2.dst
      GROUP BY 1, 2
    ),
    s1 AS (
      SELECT v AS x, v AS y, 100000000::BIGINT AS s8 FROM verts
      UNION ALL
      SELECT a AS x, b AS y,
             round(0.8::DOUBLE * m8 / (da.d * db.d), 0)::BIGINT AS s8
      FROM m1 JOIN sd da ON da.v = m1.a JOIN sd db ON db.v = m1.b
      WHERE a <> b
        AND round(0.8::DOUBLE * m8 / (da.d * db.d), 0)::BIGINT > 0
    ),
    m2 AS (
      SELECT e1.src AS a, e2.src AS b, sum(s1.s8)::BIGINT AS m8
      FROM sub e1 JOIN s1 ON e1.dst = s1.x JOIN sub e2 ON s1.y = e2.dst
      GROUP BY 1, 2
    ),
    s2 AS (
      SELECT a AS x, b AS y,
             round(0.8::DOUBLE * m8 / (da.d * db.d), 0)::BIGINT AS s8
      FROM m2 JOIN sd da ON da.v = m2.a JOIN sd db ON db.v = m2.b
      WHERE a <> b
        AND round(0.8::DOUBLE * m8 / (da.d * db.d), 0)::BIGINT > 0
    )
    SELECT x AS a, y AS b, s8 / 100000000.0::DOUBLE AS score
    FROM s2 WHERE x < y
    """,
)
def q_simrank(spark, sf_dir):
    """G40 SimRank (Jeh & Widom 2002), 2 synchronous rounds at C=0.8
    over the top-64-degree induced subgraph of the window-1 adjacency
    graph (the candidate-set restriction every scalable SimRank use
    applies — pair state is O(top²) by design); per-round round(·,8)
    makes the recurrence engine-independent.  Value-checked against
    DuckDB's fully unrolled two-round replay."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.simrank import simrank

    edges = extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    return simrank(edges, c=0.8, iters=2, top=64)


@register(
    "q_event_transition_graph",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS win_start_epoch,
           prev AS src, event_type AS dst, count(*) AS n
    FROM seq WHERE prev IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def q_event_transition_graph(spark, sf_dir):
    """G42 temporal transition graph: per-user event sequences (ordered
    by ts with event_id tie-break) become (prev_type → type) edges,
    counted per 1-hour tumbling window of the arriving event — the
    edge-extraction shape for event streams (W2 lag + ST1 window + G1
    aggregation in one plan; in stream mode the same plan runs under
    streaming.tumbling with a watermark)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("prev").alias("src"),
            F.col("event_type").alias("dst"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("win_start_epoch"),
            "src",
            "dst",
            "n",
        )
    )


@register(
    "q_equidepth_hist",
    """
    WITH r AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value NULLS LAST, event_id) AS bucket
      FROM events
    )
    SELECT event_type, bucket, count(*) AS n,
           round(min(value), 4) AS lo, round(max(value), 4) AS hi
    FROM r GROUP BY 1, 2
    """,
)
def q_equidepth_hist(spark, sf_dir):
    """A9 equi-depth histogram: per-group deciles via ntile over the
    deterministic (value, event_id) order — the data-profile summary a
    cost model or mixture-weighting pass reads (equal-count buckets
    track skew where equal-width bins collapse).  The window is
    PARTITIONED by the group key (never a global funnel); both engines
    share ntile's remainder-to-front-buckets rule given the identical
    total order."""
    e = _t(spark, sf_dir, "events")
    # NULLS LAST pinned on BOTH sides: Spark defaults ASC to nulls-first,
    # DuckDB to nulls-last — unpinned, one NULL value shifts every bucket
    w = W.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    return (
        e.withColumn("bucket", F.ntile(10).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@register(
    "q_graph_snapshot_diff",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    snap AS (
      SELECT DISTINCT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS win,
             prev AS src, event_type AS dst
      FROM seq WHERE prev IS NOT NULL
    ),
    wins AS (SELECT DISTINCT win FROM snap),
    pairs AS (
      SELECT a.win AS win_prev, b.win AS win_next
      FROM wins a JOIN wins b ON b.win = a.win + 3600
    ),
    prv AS (
      SELECT p.win_next AS bnd, s.src, s.dst
      FROM pairs p JOIN snap s ON s.win = p.win_prev
    ),
    nxt AS (
      SELECT p.win_next AS bnd, s.src, s.dst
      FROM pairs p JOIN snap s ON s.win = p.win_next
    )
    SELECT coalesce(prv.bnd, nxt.bnd) AS win_start_epoch,
           sum(CASE WHEN prv.src IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_added,
           sum(CASE WHEN nxt.src IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_removed,
           sum(CASE WHEN prv.src IS NOT NULL AND nxt.src IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM prv
    FULL JOIN nxt ON nxt.bnd = prv.bnd
         AND nxt.src = prv.src AND nxt.dst = prv.dst
    GROUP BY 1
    """,
)
def q_graph_snapshot_diff(spark, sf_dir):
    """G44 temporal graph churn: for every consecutive pair of hourly
    transition-graph snapshots (G42's edge set, distinct edges per
    window), count edges added / removed / kept at the boundary — the
    snapshot-evolution diagnostic an incremental maintainer (ST6)
    budgets its delta merges by.  Expressed as one full-outer join of
    adjacent snapshots on the edge key."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    snap = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.unix_timestamp(F.window("ts", "1 hour").start).alias("win"),
            F.col("prev").alias("src"),
            F.col("event_type").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # both sides of the boundary join
    )
    wins = snap.select("win").distinct()
    pairs = wins.alias("a").join(
        wins.alias("b"),
        F.col("b.win") == F.col("a.win") + 3600,
    ).select(
        F.col("a.win").alias("win_prev"), F.col("b.win").alias("win_next")
    )
    prv = pairs.join(snap, pairs.win_prev == snap.win).select(
        F.col("win_next").alias("bnd"), "src", "dst"
    )
    nxt = pairs.join(snap, pairs.win_next == snap.win).select(
        F.col("win_next").alias("bnd2"),
        F.col("src").alias("src2"),
        F.col("dst").alias("dst2"),
    )
    both = prv.join(
        nxt,
        (F.col("bnd") == F.col("bnd2"))
        & (F.col("src") == F.col("src2"))
        & (F.col("dst") == F.col("dst2")),
        "full",
    )
    return (
        both.withColumn(
            "win_start_epoch",
            F.coalesce("bnd", "bnd2"),
        )
        .groupBy("win_start_epoch")
        .agg(
            F.sum(
                F.when(F.col("src").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_added"),
            F.sum(
                F.when(F.col("src2").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_removed"),
            F.sum(
                F.when(
                    F.col("src").isNotNull() & F.col("src2").isNotNull(), 1
                ).otherwise(0)
            ).cast("long").alias("n_kept"),
        )
    )


@register(
    "q_powerlaw_alpha",
    f"""
    WITH {_ADJ_CTE},
    deg AS (
      SELECT x, count(*) AS d FROM (
        SELECT src AS x FROM ae UNION ALL SELECT dst FROM ae
      ) GROUP BY x
    ),
    tail AS (SELECT d FROM deg WHERE d >= 2)
    SELECT 2 AS dmin,
           count(*) AS n_tail,
           round(1.0 + count(*) / sum(ln(d / 1.5)), 8) AS alpha,
           round((count(*) / sum(ln(d / 1.5))) / sqrt(count(*)), 8)
             AS sigma
    FROM tail
    """,
)
def q_powerlaw_alpha(spark, sf_dir):
    """G37 power-law degree-exponent MLE (Clauset et al. 2009) of the
    window-1 adjacency graph — the one-row diagnostic that says whether
    the corpus graph's hub tail is heavy enough to make G10 hub
    mitigation mandatory; value-checked against DuckDB's identical
    (count, sum-of-ln) aggregate (round(,8) absorbs summation-order
    noise).  Pure-Python-golden in tests."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.stats import powerlaw_alpha

    edges = extract_adjacency_edges(_t(spark, sf_dir, "documents"))
    return powerlaw_alpha(edges, dmin=2).select(
        "dmin",
        "n_tail",
        F.round("alpha", 8).alias("alpha"),
        F.round("sigma", 8).alias("sigma"),
    )


#: directed top-2 bigram digraph — the adjacency pairs keep token ORDER
#: and each src keeps only its 2 strongest out-edges (count desc, dst
#: asc tie-break).  The raw bigram digraph on this fixture vocabulary is
#: near-complete (one giant trivial SCC); the top-k sparsification gives
#: it real reachability structure (several SCCs, varied 2-hop balls) so
#: the SCC / neighborhood checks are value checks, not constants.
def _topk_digraph_cte(k: int) -> str:
    """Directed bigram pairs, each src keeping its k strongest
    out-edges (count desc, dst asc) — the W4 shape, both engines."""
    return (
        _ADJ_CTE
        + f""",
    dcnt AS (SELECT x, y, count(*) AS c FROM apairs GROUP BY 1, 2),
    de AS (
      SELECT x AS src, y AS dst FROM (
        SELECT x, y,
               row_number() OVER (PARTITION BY x
                                  ORDER BY c DESC, y ASC) AS rn
        FROM dcnt
      ) WHERE rn <= {k}
    )
"""
    )


_DIGRAPH_CTE = _topk_digraph_cte(2)


def _bigram_digraph(spark, sf_dir, k: int = 2):
    """(nodes(key, id), id_edges(src, dst, weight)) for the directed
    top-k bigram graph, md5-derived ids (cross-engine order trick)."""
    from sparkgatha.extract import extract_adjacency_edges, top_k_out_edges
    from sparkgatha.util import md5_long

    d = _t(spark, sf_dir, "documents")
    top = top_k_out_edges(extract_adjacency_edges(d, directed=True), k)
    nodes = (
        top.select(F.col("src").alias("key"))
        .unionByName(top.select(F.col("dst").alias("key")))
        .distinct()
        .select("key", md5_long(F.col("key")).alias("id"))
    )
    id_edges = top.select(
        md5_long(F.col("src")).alias("src"),
        md5_long(F.col("dst")).alias("dst"),
        "weight",
    )
    return nodes, id_edges


#: SCC labels via mutual-reachability closure (reach ∩ reverse-reach,
#: scc_id = min member) on md5-derived ids — shared by the q_scc and
#: q_condensation oracles
_SCC_CLOSURE_CTE = f"""
    WITH RECURSIVE {_DIGRAPH_CTE},
    ids AS (
      SELECT DISTINCT term,
             ('0x' || substr(md5(term), 1, 15))::BIGINT AS id
      FROM (SELECT src AS term FROM de UNION ALL SELECT dst FROM de)
    ),
    ide AS (
      SELECT s.id AS src, d.id AS dst
      FROM de JOIN ids s ON s.term = de.src JOIN ids d ON d.term = de.dst
    ),
    reach(s, v) AS (
      SELECT id, id FROM ids
      UNION
      SELECT r.s, ide.dst FROM reach r JOIN ide ON ide.src = r.v
    ),
    scc AS (
      SELECT r1.s AS vertex, min(r1.v) AS scc_id
      FROM reach r1 JOIN reach r2 ON r2.s = r1.v AND r2.v = r1.s
      GROUP BY r1.s
    )
"""


@register(
    "q_scc",
    f"""{_SCC_CLOSURE_CTE}
    SELECT ids.term AS key, scc.scc_id
    FROM scc JOIN ids ON ids.id = scc.vertex
    """,
)
def q_scc(spark, sf_dir):
    """G23 strongly connected components (iterative coloring + peel,
    graph/scc.py) over the directed top-2 bigram digraph, value-checked
    against DuckDB's mutual-reachability closure (reach ∩ reverse-reach,
    scc_id = min member) on md5-derived ids.  NetworkX-golden-tested on
    random digraphs in tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.scc import strongly_connected_components

    nodes, id_edges = _bigram_digraph(spark, sf_dir)
    s = strongly_connected_components(id_edges)
    return s.join(nodes, s.vertex == nodes.id).select("key", "scc_id")


@register(
    "q_condensation",
    f"""{_SCC_CLOSURE_CTE},
    ce AS (
      SELECT DISTINCT a.scc_id AS src_scc, b.scc_id AS dst_scc
      FROM ide
      JOIN scc a ON a.vertex = ide.src
      JOIN scc b ON b.vertex = ide.dst
      WHERE a.scc_id <> b.scc_id
    )
    SELECT src_scc, dst_scc FROM ce
    """,
)
def q_condensation(spark, sf_dir):
    """Condensation DAG (G23b): collapse every SCC of the top-2 bigram
    digraph to one node and keep the distinct cross-component edges —
    the acyclic dependency skeleton (topological processing order over
    cyclic link graphs).  Value-checked against the closure-labeled
    edge relabel; acyclicity is pytest-asserted against
    networkx.condensation on random digraphs."""
    from sparkgatha.graph.scc import condensation

    _, id_edges = _bigram_digraph(spark, sf_dir)
    return condensation(id_edges)


@register(
    "q_hop_neighborhood",
    f"""
    WITH {_DIGRAPH_CTE},
    dverts AS (SELECT src AS v FROM de UNION SELECT dst FROM de),
    r0 AS (SELECT v AS s, v FROM dverts),
    r1 AS (
      SELECT * FROM r0
      UNION
      SELECT r0.s, de.dst FROM r0 JOIN de ON de.src = r0.v
    ),
    r2 AS (
      SELECT * FROM r1
      UNION
      SELECT r1.s, de.dst FROM r1 JOIN de ON de.src = r1.v
    )
    SELECT s AS key, count(*) AS n_reach FROM r2 GROUP BY s
    """,
)
def q_hop_neighborhood(spark, sf_dir):
    """G22 exact ≤2-hop neighborhood sizes (self included) over the
    directed top-2 bigram digraph — the exact form of the ANF/HADI
    neighborhood function, value-checked against DuckDB's unioned
    2-hop expansion.  The HLL-sketch scale path is q_anf_sketch."""
    from sparkgatha.graph.neighborhood import hop_neighborhood_exact

    nodes, id_edges = _bigram_digraph(spark, sf_dir)
    n = hop_neighborhood_exact(id_edges, hops=2)
    return n.join(nodes, n.vertex == nodes.id).select("key", "n_reach")


@register(
    "q_hop_plot",
    f"""
    WITH {_DIGRAPH_CTE},
    dverts AS (
      SELECT DISTINCT term
      FROM (SELECT src AS term FROM de UNION ALL SELECT dst FROM de)
    ),
    h0 AS (SELECT term AS s, term AS v, 0 AS hop FROM dverts),
    h1 AS (
      SELECT DISTINCT h0.s, de.dst AS v, 1 AS hop
      FROM h0 JOIN de ON de.src = h0.v
    ),
    h2 AS (
      SELECT DISTINCT h1.s, de.dst AS v, 2 AS hop
      FROM h1 JOIN de ON de.src = h1.v
    ),
    h3 AS (
      SELECT DISTINCT h2.s, de.dst AS v, 3 AS hop
      FROM h2 JOIN de ON de.src = h2.v
    ),
    allh AS (
      SELECT * FROM h0 UNION ALL SELECT * FROM h1
      UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3
    ),
    mh AS (SELECT s, v, min(hop) AS hop FROM allh GROUP BY s, v),
    per AS (
      SELECT hop, count(*) AS pairs FROM mh WHERE hop > 0 GROUP BY hop
    ),
    tot AS (SELECT sum(pairs) AS t FROM per)
    SELECT a.hop, a.pairs,
           CAST(sum(b.pairs) AS BIGINT) AS cum_pairs,
           round(CAST(sum(b.pairs) AS DOUBLE) / tot.t, 8) AS frac
    FROM per a JOIN per b ON b.hop <= a.hop CROSS JOIN tot
    GROUP BY a.hop, a.pairs, tot.t
    """,
)
def q_hop_plot(spark, sf_dir):
    """G22b hop-plot within ≤3 hops over the directed top-2 bigram
    digraph: ordered connected pairs at exactly h hops, cumulated and
    normalized ("Graphs over Time", Leskovec et al. KDD'05) — the
    reachability profile the effective diameter reads off.
    Value-checked against DuckDB's 3-layer min-hop union; NetworkX
    golden + interpolation pinned in tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.neighborhood import hop_plot

    _, id_edges = _bigram_digraph(spark, sf_dir)
    p = hop_plot(id_edges, hops=3)
    return p.select(
        "hop", "pairs", "cum_pairs", F.round("frac", 8).alias("frac")
    )


@register(
    "q_condensation_layers",
    f"""{_SCC_CLOSURE_CTE},
    comps AS (SELECT DISTINCT scc_id FROM scc),
    ce AS (
      SELECT DISTINCT a.scc_id AS src_scc, b.scc_id AS dst_scc
      FROM ide
      JOIN scc a ON a.vertex = ide.src
      JOIN scc b ON b.vertex = ide.dst
      WHERE a.scc_id <> b.scc_id
    ),
    walk(c, d) AS (
      SELECT scc_id, 0 FROM comps
      UNION
      SELECT ce.dst_scc, walk.d + 1 FROM walk JOIN ce ON ce.src_scc = walk.c
    )
    SELECT c AS scc_id, max(d) AS layer FROM walk GROUP BY c
    """,
)
def q_condensation_layers(spark, sf_dir):
    """G23c longest-path topological layering of the SCC condensation
    DAG over the top-2 bigram digraph — layer 0 = source components,
    else 1 + max predecessor layer: the explicit layer-parallel
    schedule for processing a cyclic link graph.  Value-checked
    against DuckDB's recursive walk (max depth from any source);
    NetworkX golden in tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.scc import condensation_layers

    _, id_edges = _bigram_digraph(spark, sf_dir)
    return condensation_layers(id_edges)


@register(
    "q_harmonic",
    f"""
    WITH {_DIGRAPH_CTE},
    dverts AS (
      SELECT DISTINCT term
      FROM (SELECT src AS term FROM de UNION ALL SELECT dst FROM de)
    ),
    h0 AS (SELECT term AS s, term AS v, 0 AS hop FROM dverts),
    h1 AS (
      SELECT DISTINCT h0.s, de.dst AS v, 1 AS hop
      FROM h0 JOIN de ON de.src = h0.v
    ),
    h2 AS (
      SELECT DISTINCT h1.s, de.dst AS v, 2 AS hop
      FROM h1 JOIN de ON de.src = h1.v
    ),
    h3 AS (
      SELECT DISTINCT h2.s, de.dst AS v, 3 AS hop
      FROM h2 JOIN de ON de.src = h2.v
    ),
    allh AS (
      SELECT * FROM h0 UNION ALL SELECT * FROM h1
      UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3
    ),
    mh AS (SELECT s, v, min(hop) AS hop FROM allh GROUP BY s, v),
    hsum AS (
      SELECT s, sum(1.0 / hop) AS harmonic FROM mh WHERE hop > 0 GROUP BY s
    )
    SELECT dverts.term AS key,
           round(coalesce(hsum.harmonic, 0.0), 8) AS harmonic
    FROM dverts LEFT JOIN hsum ON hsum.s = dverts.term
    """,
)
def q_harmonic(spark, sf_dir):
    """G24 bounded-hop OUT-harmonic centrality (Σ 1/d within ≤3 hops)
    over the directed top-2 bigram digraph — the closeness-family
    ranking beside PageRank (volume) and betweenness (brokerage);
    value-checked against DuckDB's 3-layer min-hop union.  Full-diameter
    equivalence to networkx.harmonic_centrality(G.reverse()) is
    golden-tested in tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.neighborhood import harmonic_centrality

    nodes, id_edges = _bigram_digraph(spark, sf_dir)
    h = harmonic_centrality(id_edges, hops=3)
    return h.join(nodes, h.vertex == nodes.id).select(
        "key", F.round("harmonic", 8).alias("harmonic")
    )


def _truss_oracle_sql(k: int, rounds: int) -> str:
    """G25 unrolled: ``rounds`` synchronous truss-peel rounds over the
    undirected top-4 bigram graph (monotone fixpoint, so extra rounds
    past convergence are no-ops — the q_g6 early-stop argument).  Each
    round enumerates triangles u<v<w canonically, counts per-edge
    support, and keeps edges with support ≥ k−2; MATERIALIZED stops
    DuckDB's CTE inlining from going exponential (the LPA lesson)."""
    need = k - 2
    sql = "WITH " + _topk_digraph_cte(4) + """,
    und_0 AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM de WHERE src <> dst
    )"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
    t_{r} AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und_{p} e1
      JOIN und_{p} e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN und_{p} e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    sup_{r} AS MATERIALIZED (
      SELECT u, v, count(*) AS cnt FROM (
        SELECT a AS u, b AS v FROM t_{r}
        UNION ALL SELECT a, c FROM t_{r}
        UNION ALL SELECT b, c FROM t_{r}
      ) GROUP BY u, v
    ),
    und_{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM und_{p} e
      JOIN sup_{r} s ON s.u = e.u AND s.v = e.v
      WHERE s.cnt >= {need}
    )"""
    sql += f""",
    t_f AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und_{rounds} e1
      JOIN und_{rounds} e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN und_{rounds} e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    sup_f AS (
      SELECT u, v, count(*) AS cnt FROM (
        SELECT a AS u, b AS v FROM t_f
        UNION ALL SELECT a, c FROM t_f
        UNION ALL SELECT b, c FROM t_f
      ) GROUP BY u, v
    )
    SELECT e.u AS src, e.v AS dst, coalesce(s.cnt, 0) AS support
    FROM und_{rounds} e
    LEFT JOIN sup_f s ON s.u = e.u AND s.v = e.v
    """
    return sql


@register("q_k_truss", _truss_oracle_sql(k=4, rounds=8))
def q_k_truss(spark, sf_dir):
    """G25 k-truss (k=4) of the undirected top-4 bigram graph —
    edge-level cohesion one level above k-core; value-checked against
    DuckDB's 8-round unrolled synchronous peel (the fixture converges in
    ≤5 rounds; extra rounds are no-ops by monotonicity).  String keys
    end-to-end: both engines canonicalize with the same binary
    least/greatest, so no id mapping is needed.
    networkx.k_truss-golden-tested in tests/test_linkgraph_ops.py."""
    from sparkgatha.extract import extract_adjacency_edges, top_k_out_edges
    from sparkgatha.graph.truss import k_truss

    d = _t(spark, sf_dir, "documents")
    top = top_k_out_edges(extract_adjacency_edges(d, directed=True), 4)
    t = k_truss(top, k=4)
    return t.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "support"
    )


@register("q_anf_sketch", None)  # estimates: rows-only + pytest err band
def q_anf_sketch(spark, sf_dir):
    """G22 HLL-sketch neighborhood function (ANF, hops=2) — the 10^12
    path: per-vertex DataSketches HLL state, one join + one
    hll_union_agg per superstep.  Values are estimates, so the driver
    records rows+schema; the error band vs the exact form is pinned by
    tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.neighborhood import neighborhood_function

    nodes, id_edges = _bigram_digraph(spark, sf_dir)
    n = neighborhood_function(id_edges, hops=2)
    return n.join(nodes, n.vertex == nodes.id).select("key", "est_reach")


def _walks_oracle_sql(length: int, seed: int = 0) -> str:
    """G18 unrolled: each round indexes the SORTED neighbor list at
    md5int(walk_id:step:seed) mod deg — the same md5→bigint convention
    as the node-id oracle, list indexing 1-based in both engines, and
    the sorted-list order is plain binary string order (identical
    across engines for these lowercase ASCII terms)."""
    sql = f"""
    WITH {_GRAPH_CTE},
    adj AS MATERIALIZED (
      SELECT src, list_sort(list(dst)) AS nbrs, count(*) AS deg
      FROM e GROUP BY src
    ),
    w_0 AS MATERIALIZED (
      SELECT src || '#0' AS walk_id, src AS cur FROM adj
    )"""
    for t in range(1, length + 1):
        sql += f""",
    w_{t} AS MATERIALIZED (
      SELECT w.walk_id,
             a.nbrs[CAST(('0x' || substr(md5(w.walk_id || ':{t}:{seed}'),
                                         1, 15))::BIGINT % a.deg AS INT) + 1]
               AS cur
      FROM w_{t - 1} w JOIN adj a ON a.src = w.cur
    )
    """
    sql += "SELECT walk_id, 0 AS step, cur AS vertex FROM w_0"
    for t in range(1, length + 1):
        sql += (
            f"\n    UNION ALL SELECT walk_id, {t} AS step, cur FROM w_{t}"
        )
    return sql


def _biased_walks_oracle_sql(
    length: int, seed: int = 0, inv_p: float = 0.5, inv_q: float = 2.0
) -> str:
    """G18b unrolled node2vec mirror over the symmetrized window-1
    graph: step 1 is the first-order list-index pick; steps ≥ 2 weight
    each candidate (return 1/p / triangle 1 / explore 1/q), draw the
    exponential-race key −ln((md5int+1)/2^60)/w, and take the per-walk
    row_number()=1 under (key, n) — the window-ranked mirror of Spark's
    min(struct).  1/p and 1/q are powers of two so every arithmetic
    step except ln is exact in both engines."""
    two60 = float(1 << 60)
    sql = f"""
    WITH {_ADJ_CTE},
    se AS (
      SELECT src, dst FROM ae
      UNION ALL SELECT dst AS src, src AS dst FROM ae
    ),
    adj AS MATERIALIZED (
      SELECT src, list_sort(list(dst)) AS nbrs, count(*) AS deg
      FROM se GROUP BY src
    ),
    w_0 AS MATERIALIZED (
      SELECT src || '#0' AS walk_id, src AS cur FROM adj
    ),
    w_1 AS MATERIALIZED (
      SELECT w.walk_id, w.cur AS prev,
             a.nbrs[CAST(('0x' || substr(md5(w.walk_id || ':1:{seed}'),
                                         1, 15))::BIGINT % a.deg AS INT) + 1]
               AS cur
      FROM w_0 w JOIN adj a ON a.src = w.cur
    )"""
    for t in range(2, length + 1):
        sql += f""",
    c_{t} AS (
      SELECT w.walk_id, w.cur, n.n,
             CASE WHEN n.n = w.prev THEN {inv_p}
                  WHEN list_contains(pa.nbrs, n.n) THEN 1.0
                  ELSE {inv_q} END AS wt
      FROM w_{t - 1} w
      JOIN adj a ON a.src = w.cur, unnest(a.nbrs) AS n(n)
      JOIN adj pa ON pa.src = w.prev
    ),
    w_{t} AS MATERIALIZED (
      SELECT walk_id, cur AS prev, n AS cur FROM (
        SELECT walk_id, cur, n,
               row_number() OVER (
                 PARTITION BY walk_id
                 ORDER BY (-ln((('0x' || substr(md5(walk_id || ':{t}:{seed}:'
                                                    || n), 1, 15))::BIGINT
                                + 1) / {two60})) / wt, n
               ) AS rn
        FROM c_{t}
      ) WHERE rn = 1
    )"""
    sql += "\n    SELECT walk_id, 0 AS step, cur AS vertex FROM w_0"
    for t in range(1, length + 1):
        sql += (
            f"\n    UNION ALL SELECT walk_id, {t} AS step, cur FROM w_{t}"
        )
    return sql


@register("q_biased_walks", _biased_walks_oracle_sql(3))
def q_biased_walks(spark, sf_dir):
    """G18b node2vec-biased walk corpus (p=2, q=0.5 — the
    community-exploring setting) over the symmetrized window-1
    adjacency graph, value-checked round for round against the 3-step
    unrolled DuckDB replay of the same exponential-race rule.  The
    window-1 graph, not the all-pairs one: on the near-complete
    fixture co-occurrence graph every candidate is adjacent to prev
    and the bias never fires."""
    from sparkgatha.extract import extract_adjacency_edges, symmetrize
    from sparkgatha.graph.walks import biased_walks

    d = _t(spark, sf_dir, "documents")
    edges = symmetrize(extract_adjacency_edges(d))
    return biased_walks(
        edges, length=3, p=2.0, q=0.5, walks_per_vertex=1, seed=0
    )


def _ppr_mc_oracle_sql(
    max_len: int, alpha: float = 0.5, r: int = 4, seed: int = 0
) -> str:
    """G47 unrolled Monte-Carlo end-point PPR mirror: per step the
    (h+1)/2^60 stop coin splits the frontier (u > alpha terminates at
    cur, u <= alpha hops by random_walks' exact sorted-list-index
    rule); walks alive after max_len steps terminate in place.
    Terminal counts per (origin, vertex) are integers and est =
    count/R is exact binary for power-of-two R, so the whole estimator
    value-checks bit-for-bit.  No sink branch: _GRAPH_CTE's e is
    symmetric, every vertex has out-edges (the engine's left-join sink
    rail is pinned separately by pytest on a directed path)."""
    two60 = float(1 << 60)
    sql = f"""
    WITH {_GRAPH_CTE},
    adj AS MATERIALIZED (
      SELECT src, list_sort(list(dst)) AS nbrs, count(*) AS deg
      FROM e GROUP BY src
    ),
    w_0 AS MATERIALIZED (
      SELECT src || '#' || i AS walk_id, src AS origin, src AS cur
      FROM adj, unnest(range(0, {r})) AS rep(i)
    )"""
    for t in range(1, max_len + 1):
        sql += f""",
    u_{t} AS MATERIALIZED (
      SELECT walk_id, origin, cur,
             ((('0x' || substr(md5(walk_id || ':{t}:stop:{seed}'),
                               1, 15))::BIGINT + 1) / {two60}) AS u
      FROM w_{t - 1}
    ),
    term_{t} AS (SELECT origin, cur FROM u_{t} WHERE u > {alpha}),
    w_{t} AS MATERIALIZED (
      SELECT w.walk_id, w.origin,
             a.nbrs[CAST(('0x' || substr(md5(w.walk_id || ':{t}:{seed}'),
                                         1, 15))::BIGINT % a.deg AS INT) + 1]
               AS cur
      FROM u_{t} w JOIN adj a ON a.src = w.cur
      WHERE w.u <= {alpha}
    )"""
    terms = "\n      UNION ALL ".join(
        [f"SELECT origin, cur FROM term_{t}" for t in range(1, max_len + 1)]
        + [f"SELECT origin, cur FROM w_{max_len}"]
    )
    sql += f""",
    terminals AS ({terms})
    SELECT origin AS seed_vertex, cur AS vertex, count(*) AS n_walks,
           count(*) / {float(r)} AS est
    FROM terminals GROUP BY 1, 2
    """
    return sql


@register("q_ppr_montecarlo", _ppr_mc_oracle_sql(6))
def q_ppr_montecarlo(spark, sf_dir):
    """G47 Monte-Carlo end-point personalized PageRank (Fogaras'05 /
    Avrachenkov'07): 4 walks per seed vertex over the symmetrized
    co-occurrence graph, stop coin 1−alpha per step, terminal-vertex
    frequencies as PPR estimates — the per-seed local-computation PPR
    path beside exact G4 power iteration.  Deterministic md5 coins make
    the sample identical across engines, so the estimator (integer
    terminal counts and the exact-binary count/4 estimates) is
    value-checked bit-for-bit against the 6-step unrolled DuckDB
    replay."""
    from sparkgatha.extract import extract_cooccurrence_edges, symmetrize
    from sparkgatha.graph.walks import ppr_monte_carlo

    d = _t(spark, sf_dir, "documents")
    edges = symmetrize(
        extract_cooccurrence_edges(d, text_col="text", max_terms_per_doc=None)
    )
    return ppr_monte_carlo(
        edges, alpha=0.5, walks_per_vertex=4, max_len=6, seed=0
    )


def _weighted_walks_oracle_sql(length: int, seed: int = 0) -> str:
    """G18c unrolled weight-proportional mirror over the symmetrized
    window-1 weighted graph: per step each candidate edge races
    −ln((md5int(walk_id:t:seed:dst)+1)/2^60)/weight and the per-walk
    row_number()=1 under (key, dst) — the window-ranked mirror of
    Spark's min(struct), the identical convention the biased-walks
    oracle proved engine-stable (incl. ln on the same doubles)."""
    two60 = float(1 << 60)
    sql = f"""
    WITH {_ADJ_CTE},
    se AS MATERIALIZED (
      SELECT src, dst, weight FROM ae
      UNION ALL SELECT dst AS src, src AS dst, weight FROM ae
    ),
    w_0 AS MATERIALIZED (
      SELECT src || '#0' AS walk_id, src AS cur
      FROM (SELECT DISTINCT src FROM se)
    )"""
    for t in range(1, length + 1):
        sql += f""",
    w_{t} AS MATERIALIZED (
      SELECT walk_id, cur FROM (
        SELECT w.walk_id, e.dst AS cur,
               row_number() OVER (
                 PARTITION BY w.walk_id
                 ORDER BY (-ln((('0x' || substr(md5(w.walk_id || ':{t}:{seed}:'
                                                    || e.dst), 1, 15))::BIGINT
                                + 1) / {two60})) / e.weight, e.dst
               ) AS rn
        FROM w_{t - 1} w JOIN se e ON e.src = w.cur
      ) WHERE rn = 1
    )"""
    sql += "\n    SELECT walk_id, 0 AS step, cur AS vertex FROM w_0"
    for t in range(1, length + 1):
        sql += (
            f"\n    UNION ALL SELECT walk_id, {t} AS step, cur FROM w_{t}"
        )
    return sql


@register("q_weighted_walks", _weighted_walks_oracle_sql(3))
def q_weighted_walks(spark, sf_dir):
    """G18c weight-proportional first-order walk corpus over the
    symmetrized window-1 bigram graph (co-occurrence counts as
    transition weights — frequent pairs attract the walker, the
    weighted-graph rule of the node2vec paper at p=q=1), value-checked
    round for round against the 3-step unrolled DuckDB replay of the
    same exponential race."""
    from sparkgatha.extract import extract_adjacency_edges, symmetrize
    from sparkgatha.graph.walks import weighted_walks

    d = _t(spark, sf_dir, "documents")
    edges = symmetrize(extract_adjacency_edges(d, text_col="text"))
    return weighted_walks(edges, length=3, walks_per_vertex=1, seed=0)


@register("q_random_walks", _walks_oracle_sql(4))
def q_random_walks(spark, sf_dir):
    """G18 deterministic random-walk corpus (DeepWalk-style training
    sequences): next hop = sorted-neighbor-list index at
    md5int(walk_id:step:seed) mod degree — a pure O(1) hash rule with
    no RNG state, reproducible across engines, retries, and
    partitionings, and therefore value-checked against the 4-round
    unrolled DuckDB list-indexing walk."""
    from sparkgatha.extract import extract_cooccurrence_edges, symmetrize
    from sparkgatha.graph.walks import random_walks

    d = _t(spark, sf_dir, "documents")
    edges = symmetrize(
        extract_cooccurrence_edges(d, text_col="text", max_terms_per_doc=None)
    )
    return random_walks(edges, length=4, walks_per_vertex=1, seed=0)


@register(
    "q_ego_2hop",
    f"""
    WITH {_GRAPH_CTE},
    seed AS (SELECT min(src) AS v FROM e),
    d0 AS (SELECT v, 0 AS hop FROM seed),
    d1 AS (
      SELECT e.dst AS v, 1 AS hop FROM e WHERE e.src = (SELECT v FROM seed)
    ),
    d2 AS (
      SELECT e.dst AS v, 2 AS hop FROM e JOIN d1 ON e.src = d1.v
    ),
    allh AS (
      SELECT * FROM d0
      UNION ALL SELECT * FROM d1
      UNION ALL SELECT * FROM d2
    )
    SELECT v AS key, min(hop) AS hop FROM allh GROUP BY v
    """,
)
def q_ego_2hop(spark, sf_dir):
    """Ego network with hop counts — the topic query's
    neighborhood-collection step (SURVEY §3.2) with an explicit radius:
    ≤2-hop BFS layers around the lexicographically smallest term,
    value-checked against DuckDB's min-hop union of the 0/1/2-hop
    frontiers."""
    from sparkgatha.graph.paths import ego_hops

    nodes, id_edges = _doc_graph(spark, sf_dir)
    # one TakeOrderedAndProject job fetches (key, id) together
    seed_id = nodes.orderBy("key").limit(1).collect()[0]["id"]
    e = ego_hops(id_edges, seed_id, hops=2)
    return e.join(nodes, e.vertex == nodes.id).select("key", "hop")


def _betweenness_oracle_sql(depth: int) -> str:
    """G19 unrolled Brandes: forward layers f_0..f_D carry (source,
    vertex, path count); backward deltas d_D..d_0 accumulate pair
    dependencies layer by layer.  The fixture term graph's eccentricity
    is ≤ 2 from every source, so ``depth`` rounds past it are empty
    CTEs — Spark's run-to-empty-frontier equals the fixed unroll
    whenever the true depth ≤ D.  round(,8) absorbs the cross-engine
    summation-order fp noise (same convention as the PageRank oracle)."""
    sql = f"""
    WITH {_GRAPH_CTE},
    verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
    f_0 AS MATERIALIZED (SELECT v AS s, v, 1.0 AS sigma FROM verts),
    vis_0 AS MATERIALIZED (SELECT s, v FROM f_0)"""
    for i in range(1, depth + 1):
        p = i - 1
        sql += f""",
    f_{i} AS MATERIALIZED (
      SELECT f.s, e.dst AS v, sum(f.sigma) AS sigma
      FROM f_{p} f JOIN e ON e.src = f.v
      WHERE NOT EXISTS (SELECT 1 FROM vis_{p} x
                        WHERE x.s = f.s AND x.v = e.dst)
      GROUP BY f.s, e.dst
    ),
    vis_{i} AS MATERIALIZED (
      SELECT s, v FROM vis_{p} UNION ALL SELECT s, v FROM f_{i}
    )"""
    sql += f""",
    d_{depth} AS MATERIALIZED (SELECT s, v, 0.0 AS delta FROM f_{depth})"""
    for i in range(depth - 1, -1, -1):
        a = i + 1
        sql += f""",
    c_{i} AS (
      SELECT fw.s, e.src AS v,
             sum(fv.sigma / fw.sigma * (1.0 + dw.delta)) AS delta
      FROM f_{a} fw
      JOIN d_{a} dw ON dw.s = fw.s AND dw.v = fw.v
      JOIN e ON e.dst = fw.v
      JOIN f_{i} fv ON fv.s = fw.s AND fv.v = e.src
      GROUP BY fw.s, e.src
    ),
    d_{i} AS MATERIALIZED (
      SELECT f.s, f.v, coalesce(c.delta, 0.0) AS delta
      FROM f_{i} f LEFT JOIN c_{i} c ON c.s = f.s AND c.v = f.v
    )"""
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM d_{i}" for i in range(depth + 1)
    )
    sql += f""",
    allx AS ({union})
    SELECT v AS key, round(0.5 * sum(delta), 8) AS betweenness
    FROM allx WHERE v <> s GROUP BY v
    """
    return sql


@register("q_betweenness", _betweenness_oracle_sql(5))
def q_betweenness(spark, sf_dir):
    """G19 exact Brandes betweenness (all sources) on the term graph,
    value-checked against the 5-layer unrolled DuckDB forward/backward
    accumulation.  Pair dependencies are halved (undirected), matching
    networkx.betweenness_centrality(normalized=False) — the same
    semantics the NetworkX golden pins (test_linkgraph_ops.py)."""
    from sparkgatha.graph.betweenness import betweenness

    nodes, id_edges = _doc_graph(spark, sf_dir)
    b = betweenness(id_edges)
    return b.join(nodes, b.vertex == nodes.id).select(
        "key", F.round("betweenness", 8).alias("betweenness")
    )


def _sssp_oracle_sql(rounds: int = 10) -> str:
    """G9 unrolled Bellman-Ford: dist_r(v) = min(dist_{r-1}(v),
    min over in-edges of dist_{r-1}(src) + w).  min-plus has NO fp
    addition-order sensitivity (path sums of ≤10 small exact ints are
    exactly representable), so the values match bit-for-bit; 10 rounds
    >> the token graph's weighted hop count.  MATERIALIZED per round
    (see _lpa_oracle_sql)."""
    sql = f"""
    WITH {_GRAPH_CTE},
    we AS MATERIALIZED (
      SELECT a.term AS st, b.term AS dt, count(*)::DOUBLE AS weight
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term <> b.term
      GROUP BY a.term, b.term
    ),
    d_0 AS MATERIALIZED (
      SELECT min(term) AS v, 0.0 AS d FROM toks
    )"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
    d_{r} AS MATERIALIZED (
      SELECT v, min(d) AS d FROM (
        SELECT v, d FROM d_{p}
        UNION ALL
        SELECT we.dt AS v, p.d + we.weight AS d
        FROM we JOIN d_{p} p ON p.v = we.st
      ) GROUP BY v
    )"""
    sql += f"""
    SELECT v AS key, round(d, 6) AS distance FROM d_{rounds}
    """
    return sql


@register("q_g9_shortest_paths", _sssp_oracle_sql(10))
def q_g9_shortest_paths(spark, sf_dir):
    """G9 weighted SSSP from the min-key vertex, value-checked against
    the unrolled Bellman-Ford oracle (frontier supersteps converge in
    ≤ weighted-hop-diameter rounds; the 10-round unroll dominates it)."""
    from sparkgatha.graph.paths import shortest_paths

    nodes, id_edges = _doc_graph(spark, sf_dir)
    src = nodes.orderBy("key").limit(1).collect()[0]["id"]
    d = shortest_paths(id_edges, source=int(src), max_iter=20)
    return d.join(nodes, d.vertex == nodes.id).select(
        "key", F.round("distance", 6).alias("distance")
    )


@register(
    "q_g9_hop_distance",
    f"""
    WITH RECURSIVE {_GRAPH_CTE},
    s AS (SELECT min(term) AS v FROM toks),
    walk(v, d) AS (
      SELECT v, 0 FROM s
      UNION
      SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v WHERE w.d < 20
    )
    SELECT v AS key, CAST(min(d) AS DOUBLE) AS distance
    FROM walk GROUP BY v
    """,
)
def q_g9_hop_distance(spark, sf_dir):
    """G9 frontier supersteps on a unit-weight graph = BFS hop distance,
    value-checked against a bounded DuckDB recursive CTE (the weighted
    form stays rows-only: SQL path enumeration diverges on weighted
    cycles).  Hop bound 20 matches shortest_paths(max_iter=20) so the
    two sides cover the same reachable set on any fixture."""
    from sparkgatha.graph.paths import shortest_paths

    nodes, id_edges = _doc_graph(spark, sf_dir)
    src = nodes.orderBy("key").limit(1).collect()[0]["id"]
    unit = id_edges.select("src", "dst", F.lit(1.0).alias("weight"))
    d = shortest_paths(unit, source=int(src), max_iter=20)
    return d.join(nodes, d.vertex == nodes.id).select("key", "distance")


#: window-1 (adjacent-token) co-occurrence edges over a deterministic
#: ~12.5% md5 hash-sample of documents.  The whole-document expander's
#: graph is COMPLETE on every fixture (29 terms that all co-occur), so
#: link prediction over it is vacuous — the bounded window plus the
#: q_sample_hash-style sample keeps the oracle-scale graph sparse enough
#: to have non-adjacent 2-hop pairs at every sf.
_BIGRAM_CTE = r"""
    d AS (
      SELECT text FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
    ),
    sp AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM d
    ),
    big AS MATERIALIZED (
      SELECT DISTINCT least(t[r.i], t[r.i + 1]) AS u,
                      greatest(t[r.i], t[r.i + 1]) AS v
      FROM sp, unnest(range(1, len(sp.t))) AS r(i)
      WHERE t[r.i] <> '' AND t[r.i + 1] <> '' AND t[r.i] <> t[r.i + 1]
        AND t[r.i] NOT IN ('a','the') AND t[r.i + 1] NOT IN ('a','the')
    ),
    e AS (SELECT u AS src, v AS dst FROM big
          UNION ALL SELECT v, u FROM big)
"""


@register(
    "q_linkpred_features",
    f"""
    WITH {_BIGRAM_CTE},
    deg AS MATERIALIZED (SELECT src AS v, count(*) AS d FROM e GROUP BY src),
    wedge AS (
      SELECT n1.dst AS a, n2.dst AS b, n1.src AS z
      FROM e n1 JOIN e n2 ON n1.src = n2.src AND n1.dst < n2.dst
    ),
    cand AS MATERIALIZED (
      SELECT w.a, w.b, count(*) AS cn, sum(1.0 / ln(dz.d)) AS aa
      FROM wedge w JOIN deg dz ON dz.v = w.z
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.b)
      GROUP BY w.a, w.b
    )
    SELECT c.a AS term_a, c.b AS term_b, c.cn AS common_neighbors,
           round(c.cn * 1.0 / (da.d + db.d - c.cn), 6) AS jaccard,
           round(c.aa, 6) AS adamic_adar,
           da.d * db.d AS pref_attachment
    FROM cand c JOIN deg da ON da.v = c.a JOIN deg db ON db.v = c.b
    """,
)
def q_linkpred_features(spark, sf_dir):
    """Link prediction — the hypothesis-ranking primitive (the reference
    ranks unseen term pairs; these are its classical topological
    baselines): common neighbors, Jaccard, Adamic-Adar and preferential
    attachment for every non-adjacent 2-hop pair of the window-1
    co-occurrence graph, value-checked end-to-end against the wedge-join
    + NOT-EXISTS oracle (extraction included)."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.linkpred import link_prediction_features

    d = _t(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    e = extract_adjacency_edges(sampled, text_col="text")
    return link_prediction_features(e).select(
        F.col("src").alias("term_a"),
        F.col("dst").alias("term_b"),
        "common_neighbors",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
        "pref_attachment",
    )


@register(
    "q_edge_similarity",
    f"""
    WITH {_BIGRAM_CTE},
    deg AS MATERIALIZED (SELECT src AS v, count(*) AS d FROM e GROUP BY src),
    wedge AS (
      SELECT n1.dst AS a, n2.dst AS b, n1.src AS z
      FROM e n1 JOIN e n2 ON n1.src = n2.src AND n1.dst < n2.dst
    ),
    sup AS MATERIALIZED (
      SELECT w.a, w.b, count(*) AS cn, sum(1.0 / ln(dz.d)) AS aa
      FROM wedge w JOIN deg dz ON dz.v = w.z
      WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.b)
      GROUP BY w.a, w.b
    )
    SELECT g.u AS term_a, g.v AS term_b,
           coalesce(s.cn, 0) AS common_neighbors,
           round(coalesce(s.cn, 0) * 1.0 / (da.d + db.d - coalesce(s.cn, 0)),
                 6) AS jaccard,
           round(coalesce(s.aa, 0.0), 6) AS adamic_adar,
           da.d * db.d AS pref_attachment
    FROM big g
    LEFT JOIN sup s ON s.a = g.u AND s.b = g.v
    JOIN deg da ON da.v = g.u JOIN deg db ON db.v = g.v
    """,
)
def q_edge_similarity(spark, sf_dir):
    """SNN edge-strength profile (the dual of q_linkpred_features):
    common neighbors / Jaccard / Adamic-Adar / preferential attachment
    for every ADJACENT pair of the window-1 co-occurrence graph,
    support-0 bridges included, value-checked end-to-end against the
    wedge-join + EXISTS oracle (extraction included)."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.linkpred import edge_similarity

    d = _t(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    e = extract_adjacency_edges(sampled, text_col="text")
    return edge_similarity(e).select(
        F.col("src").alias("term_a"),
        F.col("dst").alias("term_b"),
        "common_neighbors",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
        "pref_attachment",
    )


@register("q_msf", None)
def q_msf(spark, sf_dir):
    """Borůvka minimum spanning forest (G27) of the weighted window-1
    bigram graph — rows-only driver check (MST is not SQL-expressible:
    Kruskal/Prim are sequential and an unrolled Borůvka needs one
    recursive closure per round); the value bar is the NetworkX
    edge-set goldens in tests/test_linkgraph_ops.py, which pin the
    (weight, u, v) tie-break order exactly."""
    from sparkgatha.extract import extract_adjacency_edges
    from sparkgatha.graph.mst import minimum_spanning_forest

    d = _t(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    e = extract_adjacency_edges(sampled, text_col="text")
    # lighter = rarer bigram: invert the co-occurrence count so the MSF
    # keeps the strong-association skeleton
    w = e.select("src", "dst", (1.0 / F.col("weight")).alias("weight"))
    return minimum_spanning_forest(w).select(
        "u", "v", F.round("weight", 6).alias("weight")
    )


def _mis_oracle_sql(rounds: int = 6, seed: int = 0) -> str:
    """Deterministic-Luby MIS unrolled: per round, the larger-priority
    endpoint of every surviving edge is blocked, the unblocked actives
    win, winners + neighbors deactivate, the edge set double-semi-joins
    down — the literal SQL transcription of graph/mis.py with the
    engine-wide md5→bigint priority (util.md5_long's DuckDB form)."""

    def pri(col: str, r: int) -> str:
        return (
            f"('0x' || substr(md5({col} || ':{r}:{seed}'), 1, 15))::BIGINT"
        )

    sql = """
    WITH big AS MATERIALIZED (
      SELECT DISTINCT 'p:' || l_partkey AS u, 's:' || l_suppkey AS v
      FROM lineitem
    ),
    act_0 AS MATERIALIZED (SELECT u AS x FROM big UNION SELECT v FROM big),
    e_0 AS MATERIALIZED (SELECT u, v FROM big)"""
    for r in range(1, rounds + 1):
        pu, pv = pri("u", r), pri("v", r)
        sql += f""",
    blk_{r} AS (
      SELECT DISTINCT CASE WHEN ({pu} > {pv})
                             OR ({pu} = {pv} AND u > v)
                      THEN u ELSE v END AS x
      FROM e_{r - 1}
    ),
    win_{r} AS MATERIALIZED (
      SELECT x FROM act_{r - 1} EXCEPT SELECT x FROM blk_{r}
    ),
    rem_{r} AS (
      SELECT x FROM win_{r}
      UNION SELECT e.v FROM e_{r - 1} e JOIN win_{r} w ON w.x = e.u
      UNION SELECT e.u FROM e_{r - 1} e JOIN win_{r} w ON w.x = e.v
    ),
    act_{r} AS MATERIALIZED (
      SELECT x FROM act_{r - 1} EXCEPT SELECT x FROM rem_{r}
    ),
    e_{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e_{r - 1} e
      JOIN act_{r} a ON a.x = e.u JOIN act_{r} b ON b.x = e.v
    )"""
    sql += "\n    " + "\n    UNION ALL ".join(
        f"SELECT x AS key, {r} AS round FROM win_{r}"
        for r in range(1, rounds + 1)
    )
    return sql


@register("q_mis", _mis_oracle_sql(6))
def q_mis(spark, sf_dir):
    """Maximal independent set (G29, deterministic Luby) on the
    part-supplier bipartite graph (the q_k_core input — the bigram
    graph is so dense its MIS is 2 vertices, a near-vacuous check;
    this one yields hundreds of members with real round spread):
    6 fixed rounds vs the unrolled blocked/win/remove/shrink SQL
    replay — vertex AND join-round value-checked (plus the pure-Python
    oracle + independence/maximality invariants in
    tests/test_linkgraph_ops.py)."""
    from sparkgatha.graph.mis import maximal_independent_set

    l = _t(spark, sf_dir, "lineitem")
    big = l.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return maximal_independent_set(big, seed=0, max_rounds=6).select(
        F.col("vertex").alias("key"), "round"
    )


@register("q_coloring", None)
def q_coloring(spark, sf_dir):
    """Luby-MIS greedy coloring (G29b) of the part-supplier bipartite
    graph — rows-only driver check (each color class is a full nested
    MIS fixpoint; unrolling closures-within-closures in SQL is not
    practical).  The value bar is tests/test_linkgraph_ops.py: exact
    vertex-for-vertex equality with a pure-Python replay of the pinned
    md5-priority rule, plus proper/total/maximality invariants.

    ``max_colors=6`` bounds the nested-fixpoint job count at any scale
    factor (documented prefix semantics); the graph colors completely
    in 2 classes at every fixture sf, so the cap never binds here —
    tests/test_linkgraph_ops.py pins that with an uncapped replay."""
    from sparkgatha.graph.mis import luby_coloring

    l = _t(spark, sf_dir, "lineitem")
    big = l.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    return luby_coloring(big, seed=0, max_colors=6).select(
        F.col("vertex").alias("key"), "color"
    )


def _hits_oracle_sql(rounds: int = 10) -> str:
    """HITS unrolled: k L1-normalized half-step pairs over the DIRECTED
    (src < dst) co-occurrence edge set, same MATERIALIZED-CTE pattern as
    the PageRank oracle.  Both engines run EXACTLY ``rounds`` rounds
    (Spark side: tol=0.0), so no convergence argument is needed."""
    sql = f"""
    WITH {_GRAPH_CTE},
    ed AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst),
    verts AS MATERIALIZED (
      SELECT src AS v FROM ed UNION SELECT dst FROM ed
    ),
    nv AS (SELECT count(*) AS n FROM verts),
    h_0 AS MATERIALIZED (
      SELECT v, 1.0 / (SELECT n FROM nv) AS r FROM verts
    )"""
    for k in range(1, rounds + 1):
        sql += f""",
    ar_{k} AS MATERIALIZED (
      SELECT ed.dst AS v, sum(h.r) AS r
      FROM ed JOIN h_{k - 1} h ON h.v = ed.src GROUP BY ed.dst
    ),
    a_{k} AS MATERIALIZED (
      SELECT v, r / (SELECT sum(r) FROM ar_{k}) AS r FROM ar_{k}
    ),
    hr_{k} AS MATERIALIZED (
      SELECT ed.src AS v, sum(a.r) AS r
      FROM ed JOIN a_{k} a ON a.v = ed.dst GROUP BY ed.src
    ),
    h_{k} AS MATERIALIZED (
      SELECT v, r / (SELECT sum(r) FROM hr_{k}) AS r FROM hr_{k}
    )"""
    sql += f"""
    SELECT verts.v AS key,
           round(coalesce(h.r, 0.0), 8) AS hub,
           round(coalesce(a.r, 0.0), 8) AS authority
    FROM verts
    LEFT JOIN h_{rounds} h ON h.v = verts.v
    LEFT JOIN a_{rounds} a ON a.v = verts.v
    """
    return sql


@register("q_hits", _hits_oracle_sql(10))
def q_hits(spark, sf_dir):
    """HITS hubs/authorities on the directed (src < dst) co-occurrence
    edges: 10 fixed L1-normalized rounds vs the DuckDB unrolled
    iteration (plus a converged NetworkX golden in
    tests/test_graph_golden.py)."""
    from sparkgatha.extract import extract_cooccurrence_edges
    from sparkgatha.graph.power import hits

    d = _t(spark, sf_dir, "documents")
    e = extract_cooccurrence_edges(d, text_col="text", max_terms_per_doc=None)
    r = hits(e.select("src", "dst"), max_iter=10, tol=0.0)
    return r.scores.select(
        F.col("vertex").alias("key"),
        F.round("hub", 8).alias("hub"),
        F.round("authority", 8).alias("authority"),
    )


def _eigenvector_oracle_sql(rounds: int = 12) -> str:
    """Eigenvector centrality unrolled: k L1-normalized (A + I)·x
    rounds — the shifted matrix appears literally as the edge list
    UNION one unit self-loop per vertex, exactly the Spark plan's shape
    (graph/power.py).  Runs over the sampled window-1 bigram
    graph (_BIGRAM_CTE), NOT the full co-occurrence graph: the latter
    is COMPLETE on every fixture (q_kcore's discovery), where
    eigenvector centrality is uniformly 1/n — a vacuous value check.
    The bigram graph has real degree spread, so the 12-round iterate
    genuinely distinguishes vertices."""
    sql = f"""
    WITH {_BIGRAM_CTE},
    verts AS MATERIALIZED (
      SELECT src AS v FROM e UNION SELECT dst FROM e
    ),
    es AS MATERIALIZED (
      SELECT src, dst FROM e UNION ALL SELECT v, v FROM verts
    ),
    nv AS (SELECT count(*) AS n FROM verts),
    x_0 AS MATERIALIZED (
      SELECT v, 1.0 / (SELECT n FROM nv) AS r FROM verts
    )"""
    for k in range(1, rounds + 1):
        sql += f""",
    g_{k} AS MATERIALIZED (
      SELECT es.dst AS v, sum(x.r) AS r
      FROM es JOIN x_{k - 1} x ON x.v = es.src GROUP BY es.dst
    ),
    x_{k} AS MATERIALIZED (
      SELECT v, r / (SELECT sum(r) FROM g_{k}) AS r FROM g_{k}
    )"""
    sql += f"""
    SELECT v AS key, round(r, 8) AS score FROM x_{rounds}
    """
    return sql


@register("q_eigenvector", _eigenvector_oracle_sql(12))
def q_eigenvector(spark, sf_dir):
    """Eigenvector centrality (G26) on the symmetrized window-1 bigram
    graph of the md5-sampled documents: 12 fixed L1-normalized (A + I)
    power-iteration rounds vs the DuckDB unrolled iteration (plus a
    converged NetworkX golden in tests/test_linkgraph_ops.py)."""
    from sparkgatha.extract import extract_adjacency_edges, symmetrize
    from sparkgatha.graph.power import eigenvector_centrality

    d = _t(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    e = symmetrize(extract_adjacency_edges(sampled, text_col="text"))
    r = eigenvector_centrality(
        e.select("src", "dst"), max_iter=12, tol=0.0, weighted=False
    )
    return r.scores.select(
        F.col("vertex").alias("key"), F.round("score", 8).alias("score")
    )


def _bipartite_oracle_sql(rounds: int = 8) -> str:
    """Bipartite 2-coloring unrolled over the part-supplier graph:
    component labels via ``rounds`` synchronous min-label propagation
    rounds (label-min converges within the component diameter), roots =
    label fixpoints, then ``rounds`` min-hop relaxation rounds from the
    roots; color = dist parity.  Both unrolls are monotone, so
    exactly-R SQL rounds equal Spark's fixpoint whenever it drains
    within R — and the Spark side RAISES if its BFS hasn't drained, so
    a too-small R fails loudly on both sides rather than silently
    diverging.  The fixture graph's diameter is ~4 at every sf
    (dense bipartite); R=8 dominates it."""
    sql = """
    WITH big AS MATERIALIZED (
      SELECT DISTINCT 'p:' || l_partkey AS u, 's:' || l_suppkey AS v
      FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM big UNION ALL SELECT v, u FROM big
    ),
    c0 AS (SELECT DISTINCT src AS v, src AS m FROM e)"""
    for i in range(1, rounds + 1):
        sql += f""",
    c{i} AS MATERIALIZED (
      SELECT c.v, least(c.m, nm.m) AS m
      FROM c{i - 1} c JOIN (
        SELECT e.dst AS v, min(c2.m) AS m
        FROM e JOIN c{i - 1} c2 ON c2.v = e.src GROUP BY e.dst
      ) nm ON nm.v = c.v
    )"""
    sql += f""",
    d0 AS (SELECT v, 0 AS d FROM c{rounds} WHERE v = m)"""
    for i in range(1, rounds + 1):
        sql += f""",
    d{i} AS MATERIALIZED (
      SELECT x.v, min(x.d) AS d FROM (
        SELECT v, d FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS v, d0.d + 1 AS d
        FROM e JOIN d{i - 1} d0 ON d0.v = e.src
      ) x GROUP BY x.v
    )"""
    sql += f"""
    SELECT c.v AS key, c.m AS component_key, d.d AS dist,
           d.d % 2 AS color
    FROM c{rounds} c JOIN d{rounds} d ON d.v = c.v
    """
    return sql


@register("q_bipartite", _bipartite_oracle_sql(8))
def q_bipartite(spark, sf_dir):
    """G36 bipartite 2-coloring of the part-supplier graph: one fused
    superstep loop propagates the lexicographic-min (root, dist) state,
    electing each component's min-id root and coloring every vertex by
    root-distance parity in ecc(root) rounds — the round count the old
    separate BFS phase alone paid, with the star-contraction election
    eliminated — checked against the unrolled min-label + min-hop
    DuckDB replay (the DISTANCES are value-checked, not just the
    parity).  The fixture graph is bipartite by construction
    ('p:'/'s:' namespaces), so the conflict frame is empty — asserted
    in pytest along with odd-cycle detection on planted non-bipartite
    graphs."""
    from sparkgatha.graph.bipartite import bipartite_color

    l = _t(spark, sf_dir, "lineitem")
    big = l.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    r = bipartite_color(big, max_iter=8)
    return r.colors.select(
        F.col("vertex").alias("key"),
        F.col("component").alias("component_key"),
        F.col("dist").cast("long").alias("dist"),
        F.col("color").cast("long").alias("color"),
    )


def _kcore_oracle_sql(rounds: int = 8) -> str:
    """k-core unrolled over the part-supplier bipartite graph (typed
    'p:'/'s:' vertex keys — the heterogeneous-multigraph key scheme).
    The term co-occurrence graph is COMPLETE on every fixture, so its
    cores are trivial; the part-supplier graph has real degree spread
    (parts ~10-30 suppliers, suppliers hundreds of parts) at every sf.

    k adapts to the data — k = ceil(0.5 * avg degree), the same
    double-precision expression both engines evaluate — so the peel
    stays a non-trivial proper subset at every scale factor (measured:
    core 134/210 vertices at sf0.001, 1370/2100 at sf0.01, 12404/21000
    at sf0.1, fixpoint in ≤2 rounds; the 8-round unroll dominates it).
    Peeling is monotone, so once the survivor set stabilizes every
    later round is a no-op — exactly-R SQL rounds equal Spark's
    fixpoint whenever it converges within R, and Spark runs max_iter=R
    so the non-converged case is round-for-round identical too."""
    sql = """
    WITH big AS MATERIALIZED (
      SELECT DISTINCT 'p:' || l_partkey AS u, 's:' || l_suppkey AS v
      FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM big UNION ALL SELECT v, u FROM big
    ),
    kk AS (
      SELECT CAST(ceil(0.5 * (SELECT count(*) FROM e)
                           / (SELECT count(DISTINCT src) FROM e))
             AS BIGINT) AS k
    ),
    s_0 AS MATERIALIZED (SELECT DISTINCT src AS x FROM e)"""
    for i in range(1, rounds + 1):
        sql += f""",
    s_{i} AS MATERIALIZED (
      SELECT e.src AS x
      FROM e JOIN s_{i - 1} a ON a.x = e.src JOIN s_{i - 1} b ON b.x = e.dst
      GROUP BY e.src HAVING count(*) >= (SELECT k FROM kk)
    )"""
    sql += f"""
    SELECT e.src AS key, count(*) AS core_degree
    FROM e JOIN s_{rounds} a ON a.x = e.src JOIN s_{rounds} b ON b.x = e.dst
    GROUP BY e.src
    """
    return sql


@register("q_k_core", _kcore_oracle_sql(8))
def q_k_core(spark, sf_dir):
    """k-core backbone (the dense-subgraph prune a graph pipeline runs
    before expensive ranking) of the part-supplier bipartite graph:
    synchronous peel to fixpoint vs the 8-round unrolled DuckDB peel,
    with k = ceil(0.5 * avg degree) computed from the data identically
    on both sides."""
    import math

    from sparkgatha.graph.kcore import k_core

    l = _t(spark, sf_dir, "lineitem")
    # one lineitem scan + distinct shuffle, materialized once for the
    # three consumers (edge count, vertex count, the peel itself)
    big = (
        l.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_big = big.count()
    n_vert = (
        big.select(F.col("src").alias("x"))
        .unionByName(big.select(F.col("dst").alias("x")))
        .distinct()
        .count()
    )
    # symmetric row count = 2 * n_big ('p:'/'s:' namespaces never collide)
    k = math.ceil(0.5 * (2 * n_big) / n_vert)
    # big is already distinct canonical src < dst ('p:' < 's:' always,
    # namespaces disjoint so no self-loops) — skip the re-normalization
    return k_core(big, k=k, max_iter=8, assume_canonical=True).select(
        F.col("vertex").alias("key"), "core_degree"
    )


@register(
    "q_squares",
    """
    WITH big AS MATERIALIZED (
      SELECT DISTINCT 'p:' || l_partkey AS p, 's:' || l_suppkey AS s
      FROM lineitem
    ),
    cn AS (
      SELECT a.s AS s1, b.s AS s2, count(*) AS cn
      FROM big a JOIN big b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT (coalesce(sum(cn * (cn - 1)), 0) // 2)::BIGINT AS n_squares,
           count(*) AS n_codiag_pairs
    FROM cn
    """,
)
def q_squares(spark, sf_dir):
    """G38 bipartite 4-cycle (butterfly) count of the part-supplier
    graph — the bipartite cohesion motif (no triangles exist there).
    Pivot side is chosen by degree: wedging through PARTS (deg ~10-30)
    instead of suppliers (deg ~hundreds) keeps the wedge self-join
    ~100x smaller for the identical answer — the same
    curse-of-the-last-reducer orientation choice as G7.  All-integer
    arithmetic, so the single output row is value-checked exactly."""
    from sparkgatha.graph.triangles import bipartite_square_count

    l = _t(spark, sf_dir, "lineitem")
    big = l.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return bipartite_square_count(big, pivot="src")


# q_minhash_lsh_pairs lives in dedup.py (needs the banding constants;
# registering here would make relational <-> dedup imports circular)


@register("q_ann_topk", None)
def q_ann_topk(spark, sf_dir):
    """Bucketed approximate kNN (the 100 TB similarity path)."""
    from sparkgatha.similarity import ann_topk

    e = _t(spark, sf_dir, "embeddings")
    return ann_topk(e, k=5).select(
        "qid", "nid", F.round("cos", 6).alias("cos")
    )


@register(
    "q_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark, sf_dir):
    """A9 exact per-group percentiles (continuous interpolation — the
    quantile_cont / numpy-linear rule both engines implement): the OLAP
    distribution profile (p25/median/p90 price per return flag).
    round(,4) absorbs the engines' different interpolation-arithmetic
    orders.  Scale note: exact percentile is the ONE aggregate here
    that is not partial-aggregable (it buffers the group's values to
    sort); at 100 TB prefer approx_percentile (t-digest, mergeable) —
    this exact form is the oracle-checkable contract the approx
    variant is judged against, the same exact/approx split as
    q_count_distinct vs q_approx_count_distinct."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90"),
    )


@register(
    "q_weighted_sample",
    """
    WITH wt AS (
      SELECT doc_id, n_chars AS w,
             (('0x' || substr(md5('ws:' || doc_id::VARCHAR || ':42'),
                              1, 15))::BIGINT + 1)
               / 1152921504606846976.0 AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, round(-ln(u) / w, 9) AS ekey
    FROM wt
    ORDER BY -ln(u) / w ASC, doc_id ASC
    LIMIT 20
    """,
)
def q_weighted_sample(spark, sf_dir):
    """P4w deterministic weighted sampling without replacement —
    Efraimidis–Spiliotopoulos (2006) via the exponential race the
    walk operators already use: every doc draws u = (md5int+1)/2^60
    ∈ (0,1] and key = −ln(u)/w (w = n_chars); the k smallest keys ARE
    a weight-proportional sample.  This is the corpus-rebalance
    primitive that turns q_mixture_weights' per-source weights into an
    actual subsample, reproducible across engines, partitionings, and
    retries (u is a pure row hash — no RNG state).

    Scale shape: one scan + TakeOrderedAndProject (per-partition
    partial top-k, only k rows ever cross the network) — no window,
    no shuffle, no global sort."""
    d = _t(spark, sf_dir, "documents")
    from sparkgatha.util import md5_long

    u = (
        md5_long(
            F.concat(
                F.lit("ws:"), F.col("doc_id").cast("string"), F.lit(":42")
            )
        )
        + 1
    ) / F.lit(float(1 << 60))
    key = -F.log(u) / F.col("n_chars")
    return (
        d.filter(F.col("n_chars") > 0)
        .select("doc_id", key.alias("raw"))
        .orderBy(F.col("raw").asc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", F.round("raw", 9).alias("ekey"))
    )


@register("q_sample", None)
def q_sample(spark, sf_dir):
    """P4 seeded sampling — deterministic per partitioning, but the
    sample set is engine-specific, so rows-only."""
    return _t(spark, sf_dir, "lineitem").sample(0.1, seed=42).select(
        "l_orderkey", "l_linenumber"
    )


@register(
    "q_sample_hash",
    """
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE substr(md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR),
                 1, 2) < '1a'
    """,
)
def q_sample_hash(spark, sf_dir):
    """P4, deterministic variant: ~10% hash-sample (md5-prefix rule).
    Unlike rate-based sample() the membership rule is engine-independent,
    so the sampled SET itself is value-checked cross-engine; at scale it
    is a pushed-down scan filter — no shuffle, reproducible across
    partitionings and engines (the property training-data splits need)."""
    l = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return l.filter(F.substring(F.md5(key), 1, 2) < "1a").select(
        "l_orderkey", "l_linenumber"
    )


@register("q_approx_count_distinct", None)
def q_approx_count_distinct(spark, sf_dir):
    """A2 HLL sketch — engine-specific estimate; bounds asserted in
    pytest (tests/test_invariants.py)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )


@register(
    "q_grouping_sets",
    """
    SELECT grouping_id(l_returnflag, l_linestatus) AS gid,
           l_returnflag, l_linestatus,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """A3 explicit grouping sets (rollup/cube cover the Expand plan;
    this pins the arbitrary-sets form)."""
    l = _t(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("_q_lineitem")
    return spark.sql(
        """
        SELECT grouping_id(l_returnflag, l_linestatus) AS gid,
               l_returnflag, l_linestatus,
               count(*) AS n
        FROM _q_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# §2.11 round-4 additions: Katz / closeness centrality, transitivity,
# reciprocity
# ---------------------------------------------------------------------------

def _katz_oracle_sql(rounds: int, alpha: float = 0.01, beta: float = 1.0) -> str:
    """Katz centrality unrolled: ``rounds`` affine x ← alpha·Aᵀx + beta
    supersteps from the zero vector (NetworkX's start), UN-normalized —
    the pure-sum form needs no scalar subquery per round, unlike
    HITS/eigenvector.  Runs over the sampled window-1 bigram graph
    (_BIGRAM_CTE) for the same reason eigenvector does: the full
    co-occurrence fixture graph is complete (regular), where Katz is a
    constant vector — a vacuous check.  alpha=0.01 keeps alpha·λ_max
    well under 1 on the closed ~31-term fixture vocabulary (degree ≤ 30)
    at every sf, so the 10-round iterate is near-converged and the
    rounded values are stable against fp summation order."""
    sql = f"""
    WITH {_BIGRAM_CTE},
    verts AS MATERIALIZED (
      SELECT src AS v FROM e UNION SELECT dst FROM e
    ),
    x_0 AS MATERIALIZED (SELECT v, 0.0 AS r FROM verts)"""
    for k in range(1, rounds + 1):
        sql += f""",
    g_{k} AS MATERIALIZED (
      SELECT e.dst AS v, sum(x.r) AS r
      FROM e JOIN x_{k - 1} x ON x.v = e.src GROUP BY e.dst
    ),
    x_{k} AS MATERIALIZED (
      SELECT verts.v,
             {alpha}::DOUBLE * coalesce(g.r, 0.0) + {beta}::DOUBLE AS r
      FROM verts LEFT JOIN g_{k} g ON g.v = verts.v
    )"""
    sql += f"""
    SELECT v AS key, round(r, 8) AS score FROM x_{rounds}
    """
    return sql


@register("q_katz", _katz_oracle_sql(10))
def q_katz(spark, sf_dir):
    """Katz centrality (G30) on the symmetrized window-1 bigram graph of
    the md5-sampled documents: 10 fixed affine rounds (alpha=0.01,
    beta=1.0, zero start) vs the DuckDB unrolled iteration; converged
    NetworkX golden in tests/test_linkgraph_ops.py."""
    from sparkgatha.extract import extract_adjacency_edges, symmetrize
    from sparkgatha.graph.power import katz_centrality

    d = _t(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    e = symmetrize(extract_adjacency_edges(sampled, text_col="text"))
    r = katz_centrality(
        e.select("src", "dst"),
        alpha=0.01,
        beta=1.0,
        max_iter=10,
        tol=0.0,
        weighted=False,
    )
    return r.scores.select(
        F.col("vertex").alias("key"), F.round("score", 8).alias("score")
    )


@register(
    "q_closeness",
    f"""
    WITH {_DIGRAPH_CTE},
    dverts AS (
      SELECT DISTINCT term
      FROM (SELECT src AS term FROM de UNION ALL SELECT dst FROM de)
    ),
    h0 AS (SELECT term AS s, term AS v, 0 AS hop FROM dverts),
    h1 AS (
      SELECT DISTINCT h0.s, de.dst AS v, 1 AS hop
      FROM h0 JOIN de ON de.src = h0.v
    ),
    h2 AS (
      SELECT DISTINCT h1.s, de.dst AS v, 2 AS hop
      FROM h1 JOIN de ON de.src = h1.v
    ),
    h3 AS (
      SELECT DISTINCT h2.s, de.dst AS v, 3 AS hop
      FROM h2 JOIN de ON de.src = h2.v
    ),
    allh AS (
      SELECT * FROM h0 UNION ALL SELECT * FROM h1
      UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3
    ),
    mh AS (SELECT s, v, min(hop) AS hop FROM allh GROUP BY s, v),
    cs AS (
      SELECT s, count(*) AS r, sum(hop)::DOUBLE AS totd
      FROM mh WHERE hop > 0 GROUP BY s
    ),
    nv AS (SELECT count(*) AS n FROM dverts)
    SELECT dverts.term AS key,
           round(coalesce(
             (cs.r / cs.totd) * (cs.r / ((SELECT n FROM nv) - 1.0)),
             0.0), 8) AS closeness
    FROM dverts LEFT JOIN cs ON cs.s = dverts.term
    """,
)
def q_closeness(spark, sf_dir):
    """Bounded-hop OUT-closeness centrality (Wasserman-Faust scaled)
    over the directed top-2 bigram digraph — completes the
    distance-centrality pair with q_harmonic; value-checked against
    DuckDB's 3-layer min-hop union + the identical reach/total-distance
    expression.  Full-diameter equivalence to
    networkx.closeness_centrality(G.reverse()) is golden-tested in
    tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.neighborhood import closeness_centrality

    nodes, id_edges = _bigram_digraph(spark, sf_dir)
    c = closeness_centrality(id_edges, hops=3, wf_improved=True)
    return c.join(nodes, c.vertex == nodes.id).select(
        "key", F.round("closeness", 8).alias("closeness")
    )


@register(
    "q_transitivity",
    f"""
    WITH {_BIGRAM_CTE},
    deg AS (SELECT src AS v, count(*) AS d FROM e GROUP BY src),
    tri AS (
      SELECT count(*) AS t
      FROM big ab
      JOIN big ac ON ac.u = ab.u AND ac.v > ab.v
      JOIN big bc ON bc.u = ab.v AND bc.v = ac.v
    ),
    w2 AS (SELECT sum(d * (d - 1.0)) AS w FROM deg)
    SELECT round(coalesce(6.0 * t / nullif(w, 0), 0.0), 8) AS transitivity
    FROM tri, w2
    """,
)
def q_transitivity(spark, sf_dir):
    """G31 global transitivity (3·triangles / triads) of the sampled
    window-1 bigram graph — the one-number density profile beside the
    per-vertex q_clustering_coeff; value-checked against DuckDB's
    canonical x<y<z triangle join over the identical CTE.  The sampled
    bigram graph, not the all-pairs one: the complete fixture graph has
    transitivity ≡ 1.0 (a constant).  networkx.transitivity golden in
    tests/test_linkgraph_ops.py."""
    from sparkgatha.extract import extract_adjacency_edges, symmetrize
    from sparkgatha.graph.stats import transitivity

    d = _t(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    e = symmetrize(extract_adjacency_edges(sampled, text_col="text"))
    return transitivity(e).select(
        F.round("transitivity", 8).alias("transitivity")
    )


@register(
    "q_triangles_doulion",
    f"""
    WITH {_BIGRAM_CTE},
    samp AS MATERIALIZED (
      SELECT u, v FROM big WHERE substr(md5(u || ':' || v), 1, 2) < '40'
    ),
    tri AS (
      SELECT count(*) AS t
      FROM samp t1
      JOIN samp t2 ON t2.u = t1.v
      JOIN samp t3 ON t3.u = t1.u AND t3.v = t2.v
    ),
    m AS (SELECT count(*) AS me FROM samp)
    SELECT me AS sampled_edges, t AS sampled_triangles,
           round(t::DOUBLE * 64, 4) AS est_triangles
    FROM m, tri
    """,
)
def q_triangles_doulion(spark, sf_dir):
    """DOULION sparsified triangle estimate (Tsourakakis KDD'09) on the
    sampled window-1 bigram graph: a deterministic md5 p=0.25 edge coin,
    exact degree-oriented count on the survivors, ×1/p³ scale-up — the
    sparsify-then-count path for graphs where the exact wedge join is
    too expensive.  The oracle replays the identical coin (same md5 of
    the canonical "u:v" key) and canonical x<y<z triangle join, so the
    whole estimator is value-checked bit-for-bit (t·64 is exact in
    binary).  p=1 ≡ exact count is pinned in tests/test_linkgraph_ops."""
    from sparkgatha.extract import extract_adjacency_edges, symmetrize
    from sparkgatha.graph.triangles import triangle_estimate_doulion

    d = _t(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2"
    )
    e = symmetrize(extract_adjacency_edges(sampled, text_col="text"))
    return triangle_estimate_doulion(e, keep_hex=64)


@register(
    "q_reciprocity",
    f"""
    WITH {_DIGRAPH_CTE},
    ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM de),
    m AS (
      SELECT count(*) AS nm FROM ed a
      WHERE a.src <> a.dst AND EXISTS (
        SELECT 1 FROM ed b WHERE b.src = a.dst AND b.dst = a.src
      )
    ),
    t AS (SELECT count(*) AS ne FROM ed)
    SELECT round(nm * 1.0 / ne, 8) AS reciprocity FROM m, t
    """,
)
def q_reciprocity(spark, sf_dir):
    """G32 directed reciprocity (mutual-edge fraction) of the top-2
    bigram digraph — the symmetry profile of the link graph
    (networkx.overall_reciprocity semantics); value-checked against
    DuckDB's EXISTS self-probe over the identical distinct edge set.
    NetworkX golden in tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.stats import reciprocity

    _, id_edges = _bigram_digraph(spark, sf_dir)
    return reciprocity(id_edges).select(
        F.round("reciprocity", 8).alias("reciprocity")
    )


def _matching_oracle_sql(rounds: int, seed: int = 0) -> str:
    """Deterministic greedy maximal matching unrolled: per round,
    per-edge md5 priorities (the engine-wide md5_long convention), the
    per-endpoint minimum tuple via a partitioned ranking window, winners
    = edges holding the minimum at BOTH endpoints, matched endpoints
    removed.  Over the part-supplier bipartite graph ('p:'/'s:' typed
    keys — already canonical: 'p:…' < 's:…' lexicographically), which
    has real degree spread at every sf.  Matching growth is monotone, so
    exactly-R SQL rounds equal Spark's fixed max_rounds=R run
    round-for-round."""
    sql = """
    WITH e_0 AS MATERIALIZED (
      SELECT DISTINCT 'p:' || l_partkey AS u, 's:' || l_suppkey AS v
      FROM lineitem
    )"""
    for r in range(1, rounds + 1):
        sql += f""",
    p_{r} AS MATERIALIZED (
      SELECT u, v,
             ('0x' || substr(md5(u || ':' || v || ':{r}:{seed}'), 1, 15))::BIGINT AS p
      FROM e_{r - 1}
    ),
    b_{r} AS (
      SELECT u AS x, p, u, v FROM p_{r}
      UNION ALL SELECT v, p, u, v FROM p_{r}
    ),
    m_{r} AS MATERIALIZED (
      SELECT x, u, v FROM (
        SELECT x, u, v,
               row_number() OVER (PARTITION BY x ORDER BY p, u, v) AS rn
        FROM b_{r}
      ) WHERE rn = 1
    ),
    w_{r} AS MATERIALIZED (
      SELECT p.u, p.v FROM p_{r} p
      JOIN m_{r} a ON a.x = p.u AND a.u = p.u AND a.v = p.v
      JOIN m_{r} b ON b.x = p.v AND b.u = p.u AND b.v = p.v
    ),
    g_{r} AS (SELECT u AS x FROM w_{r} UNION SELECT v FROM w_{r}),
    e_{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e_{r - 1} e
      WHERE NOT EXISTS (SELECT 1 FROM g_{r} WHERE g_{r}.x = e.u)
        AND NOT EXISTS (SELECT 1 FROM g_{r} WHERE g_{r}.x = e.v)
    )"""
    picks = "\n    UNION ALL ".join(
        f"SELECT u, v, {r} AS round FROM w_{r}" for r in range(1, rounds + 1)
    )
    sql += f"""
    {picks}
    """
    return sql


@register("q_matching", _matching_oracle_sql(4))
def q_matching(spark, sf_dir):
    """G33 deterministic greedy maximal matching (4 fixed rounds, the
    oracle-comparison prefix of the fixpoint) on the part-supplier
    bipartite graph, join-round value-checked against the unrolled
    DuckDB replay of the same md5 priority rule.  Fixpoint validity /
    maximality / pure-Python oracle equality are golden-tested in
    tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.matching import maximal_matching

    l = _t(spark, sf_dir, "lineitem")
    big = l.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return maximal_matching(big, seed=0, max_rounds=4).select(
        "u", "v", "round"
    )


def _densest_oracle_sql(rounds: int, epsilon: float = 0.1) -> str:
    """BKV densest-subgraph peel unrolled over the UNION of the dense
    part-supplier core and the sparse customer-order star forest (typed
    keys keep the two bipartite graphs disjoint; the fringe makes the
    peel's best intermediate a genuine round-1 subset at every sf, not
    the trivial whole graph): per round the degree table, the keep set (degree >
    2(1+ε)·ρ with ρ = edges/vertices as scalar subqueries — the
    division is written f * (E*1.0/V) so the fp association matches the
    engine's Python-computed threshold exactly), and the double-EXISTS
    shrink; the final SELECT picks the densest round (earliest on ties
    — the engine's strict-improvement rule) via a rho table + argmin
    LIMIT 1."""
    f = 2.0 * (1.0 + epsilon)
    sql = """
    WITH e_0 AS MATERIALIZED (
      SELECT DISTINCT 'p:' || l_partkey AS u, 's:' || l_suppkey AS v
      FROM lineitem
      UNION
      SELECT DISTINCT 'c:' || o_custkey AS u, 'o:' || o_orderkey AS v
      FROM orders
    ),
    deg_0 AS MATERIALIZED (
      SELECT x AS vertex, count(*) AS deg FROM (
        SELECT u AS x FROM e_0 UNION ALL SELECT v FROM e_0
      ) GROUP BY x
    )"""
    for r in range(1, rounds + 1):
        sql += f""",
    keep_{r} AS (
      SELECT vertex FROM deg_{r - 1}
      WHERE deg > {f} * ((SELECT count(*) FROM e_{r - 1}) * 1.0
                         / (SELECT count(*) FROM deg_{r - 1}))
    ),
    e_{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e_{r - 1} e
      WHERE EXISTS (SELECT 1 FROM keep_{r} k WHERE k.vertex = e.u)
        AND EXISTS (SELECT 1 FROM keep_{r} k WHERE k.vertex = e.v)
    ),
    deg_{r} AS MATERIALIZED (
      SELECT x AS vertex, count(*) AS deg FROM (
        SELECT u AS x FROM e_{r} UNION ALL SELECT v FROM e_{r}
      ) GROUP BY x
    )"""
    rho_rows = "\n      UNION ALL ".join(
        f"SELECT {r} AS r, (SELECT count(*) FROM e_{r}) * 1.0 "
        f"/ nullif((SELECT count(*) FROM deg_{r}), 0) AS rho"
        for r in range(rounds + 1)
    )
    all_degs = "\n      UNION ALL ".join(
        f"SELECT {r} AS r, vertex, deg FROM deg_{r}"
        for r in range(rounds + 1)
    )
    sql += f""",
    rhos AS ({rho_rows}),
    bestr AS (SELECT r FROM rhos ORDER BY rho DESC NULLS LAST, r ASC LIMIT 1)
    SELECT vertex, deg FROM ({all_degs}) WHERE r = (SELECT r FROM bestr)
    """
    return sql


@register("q_densest", _densest_oracle_sql(3))
def q_densest(spark, sf_dir):
    """G34 densest subgraph (BKV threshold peel, 3 fixed rounds,
    ε=0.1) on the part-supplier core ∪ customer-order fringe — the
    peel strips the sparse star forest at round 1 (best_round=1 at
    every sf, a non-trivial intermediate) and the best intermediate
    is value-checked vertex-for-vertex (with in-subgraph degrees)
    against the unrolled DuckDB peel incl. its densest-round argmax.
    Fixpoint semantics, the 2(1+ε) approximation bound vs brute force,
    and pure-Python replay equality are golden-tested in
    tests/test_linkgraph_ops.py."""
    from sparkgatha.graph.densest import densest_subgraph

    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ps = l.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    co = o.select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    res = densest_subgraph(ps.unionByName(co), epsilon=0.1, max_rounds=3)
    return res.vertices.select("vertex", "deg")
