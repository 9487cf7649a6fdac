"""Deterministic random-walk corpus generation (SURVEY.md §2.11 G18).

DeepWalk/node2vec-style training corpora are walk sequences over the
co-occurrence graph — the standard input for skip-gram graph-embedding
training (Perozzi et al., "DeepWalk", KDD 2014).  A 100 TB pipeline
needs the walks REPRODUCIBLE across engines, retries, and
partitionings, so instead of per-task RNG state the next hop is a pure
hash rule over the SORTED neighbor list:

    step t of walk w at vertex v moves to
        nbrs(v)[ md5int(w || ':' || t || ':' || seed)  mod  deg(v) ]

where ``nbrs(v)`` is v's lexicographically sorted distinct neighbor
array and ``md5int`` is the first 15 hex chars of md5 as a (positive)
integer — the same engine-independent md5→int convention the node
dictionary uses.  Every hash input is row-local, so the choice is
deterministic regardless of task placement or retry, uniform over
distinct neighbors, and expressible in ANSI SQL (``list_sort`` + list
indexing), so the full walk corpus is DuckDB-oracle checkable round for
round.

Physical shape per step (the 100 TB story): one keyed join of the
O(#walks) frontier against the ADJACENCY-LIST table (one row per
vertex, the A4 CSR shape) + an O(1) array index — no per-neighbor row
expansion, so a hub vertex costs the same as a leaf (the naive
neighbor-explode form is O(deg) rows per walk per step: one walk
landing on a 10^6-degree hub multiplies the join output a million
times; the indexed pick makes it exactly one row).  The adjacency-list
table is hash(src)-partitioned, sorted, and persisted ONCE, so each
step re-shuffles only the frontier.  Walks at a sink vertex end early,
exactly like the SQL unroll's inner join semantics.

``max_neighbors`` caps the stored neighbor array (keeps the
lexicographically smallest) — the hub guard for graphs where a single
vertex's neighbor list would not fit an aggregation buffer at 10^12
edges; deterministic, and mirrored in SQL by slicing the sorted list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.util import md5_long as _md5int, no_aqe


def _adjacency_table(edges: DataFrame, max_neighbors: int | None):
    """The shared CSR-shaped walk adjacency: one row per vertex with
    its sorted (optionally capped) distinct neighbor array and degree,
    on the stationary hash(src) layout, persisted.  Both walk flavors
    and their DuckDB oracles depend on this EXACT build (sort order,
    cap slice), so it lives in one place.  Caller unpersists."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nbrs = F.sort_array(F.collect_set("dst"))
    if max_neighbors is not None:
        nbrs = F.slice(nbrs, 1, max_neighbors)
    return (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src")
        .agg(nbrs.alias("nbrs"))
        .withColumn("deg", F.size("nbrs"))
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _init_frontier(adj: DataFrame, walks_per_vertex: int) -> DataFrame:
    """walk_id = <start>#<i> for every vertex with out-edges — the
    shared step-0 frontier (walk_id, cur), eagerly checkpointed."""
    spark = adj.sparkSession
    replicas = spark.range(walks_per_vertex).select(
        F.col("id").cast("int").alias("i")
    )
    return (
        adj.select(F.col("src").alias("v"))
        .crossJoin(F.broadcast(replicas))
        .select(
            F.concat_ws(
                "#", F.col("v").cast("string"), F.col("i").cast("string")
            ).alias("walk_id"),
            F.col("v").alias("cur"),
        )
        .localCheckpoint(eager=True)
    )


def random_walks(
    edges: DataFrame,
    length: int,
    walks_per_vertex: int = 1,
    seed: int = 0,
    max_neighbors: int | None = None,
) -> DataFrame:
    """(walk_id string, step int, vertex) — ``walks_per_vertex``
    hash-deterministic walks of up to ``length`` hops from every vertex
    that has out-edges.

    ``walk_id`` is ``<start>#<i>`` for i in [0, walks_per_vertex); step
    0 is the start vertex itself.  A walk reaching a sink emits no
    further rows (its sequence just ends short, as a corpus consumer
    expects).  Pass the symmetrized edge set for undirected semantics.
    """
    if length < 1:
        raise ValueError(f"length must be >= 1, got {length}")
    if walks_per_vertex < 1:
        raise ValueError(
            f"walks_per_vertex must be >= 1, got {walks_per_vertex}"
        )
    if max_neighbors is not None and max_neighbors < 1:
        raise ValueError(f"max_neighbors must be >= 1, got {max_neighbors}")
    spark = edges.sparkSession
    with no_aqe(spark):
        # one row per vertex (A4 CSR shape), stationary hash(src) layout
        adj = _adjacency_table(edges, max_neighbors)
        try:
            frontier = _init_frontier(adj, walks_per_vertex)
            out = frontier.select(
                "walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex")
            )
            for t in range(1, length + 1):
                hop = _md5int(
                    F.concat_ws(":", F.col("walk_id"), F.lit(str(t)), F.lit(str(seed)))
                )
                idx = (F.pmod(hop, F.col("deg")) + 1).cast("int")
                frontier = (
                    frontier.join(adj, frontier.cur == adj.src)
                    .select(
                        "walk_id",
                        F.element_at("nbrs", idx).alias("cur"),
                    )
                    .localCheckpoint(eager=True)
                )
                out = out.unionByName(
                    frontier.select(
                        "walk_id",
                        F.lit(t).alias("step"),
                        F.col("cur").alias("vertex"),
                    )
                )
        finally:
            # every frontier snapshot is eagerly checkpointed, so the
            # returned plan never references the cached adjacency again
            adj.unpersist()
        return out


#: 2^60 — the md5_long value range; (h+1)/2^60 maps a hash to a uniform
#: double in (0, 1] (division by a power of two is EXACT, so both
#: engines see the identical double)
_HASH_UNIT = float(1 << 60)


def biased_walks(
    edges: DataFrame,
    length: int,
    p: float = 1.0,
    q: float = 1.0,
    walks_per_vertex: int = 1,
    seed: int = 0,
    max_neighbors: int | None = None,
) -> DataFrame:
    """(walk_id string, step int, vertex) — node2vec-style SECOND-ORDER
    biased walks (Grover & Leskovec 2016): from ``cur`` with previous
    vertex ``prev``, a candidate neighbor n is weighted 1/p if n = prev
    (return), 1 if n is adjacent to prev (stay close), 1/q otherwise
    (explore).  Step 1 has no prev and uses the first-order indexed
    pick (``random_walks``' rule), exactly like the reference
    implementation's first step.

    Determinism: instead of alias-table RNG sampling, the pick is an
    EXPONENTIAL RACE over row-local hashes — candidate n draws
    u = (md5int(walk_id:t:seed:n)+1)/2^60 ∈ (0,1] and key = −ln(u)/w;
    the minimum key wins (ties broken by n ascending).  min over
    Exp(w) races IS proportional-to-w sampling, every input is
    row-local (retry/partitioning-invariant), and the arithmetic is
    engine-identical (power-of-two divisions are exact; choose p and q
    as powers of two to keep 1/p and 1/q exact), so the corpus is
    DuckDB-oracle value-checkable round for round.

    Physical shape per step: second-order bias genuinely needs the
    neighbor CLASSIFICATION, so unlike the first-order O(1) indexed
    pick this explodes cur's neighbor list — O(deg) candidate rows per
    walk per step (true of every node2vec implementation) — then joins
    prev's neighbor array for the adjacency test and partial-aggs the
    argmin per walk.  ``max_neighbors`` is therefore not just a memory
    guard here but the hub COST cap: a walk landing on a 10^6-degree
    hub costs max_neighbors rows, not 10^6.  The prev-adjacency array
    joins the ONE-row-per-walk frontier BEFORE the candidate explode,
    so a hub prev's array ships once per walk-step, not once per
    candidate.  The adjacency-list table keeps the stationary
    hash(src) layout and is persisted once.

    Cap semantics: under ``max_neighbors`` the adjacency TEST sees the
    same capped sorted list as candidate generation, so a true
    triangle closure whose third vertex sorts beyond prev's cap races
    as explore (1/q) instead of 1 — a deterministic approximation of
    the node2vec bias on capped-degree vertices, chosen over an
    uncapped test array because an uncapped hub array is exactly what
    the cap exists to keep out of the aggregation buffers.  Uncapped
    runs are exact.
    """
    if length < 1:
        raise ValueError(f"length must be >= 1, got {length}")
    if walks_per_vertex < 1:
        raise ValueError(
            f"walks_per_vertex must be >= 1, got {walks_per_vertex}"
        )
    if p <= 0 or q <= 0:
        raise ValueError(f"p and q must be > 0, got p={p}, q={q}")
    if max_neighbors is not None and max_neighbors < 1:
        raise ValueError(f"max_neighbors must be >= 1, got {max_neighbors}")
    w_ret, w_in, w_out = 1.0 / p, 1.0, 1.0 / q
    spark = edges.sparkSession
    with no_aqe(spark):
        adj = _adjacency_table(edges, max_neighbors)
        pn = adj.select(F.col("src").alias("prev"), F.col("nbrs").alias("pn"))
        try:
            frontier = _init_frontier(adj, walks_per_vertex)
            out = frontier.select(
                "walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex")
            )
            # step 1: first-order indexed pick (no prev yet)
            hop = _md5int(
                F.concat_ws(":", F.col("walk_id"), F.lit("1"), F.lit(str(seed)))
            )
            idx = (F.pmod(hop, F.col("deg")) + 1).cast("int")
            frontier = (
                frontier.join(adj, frontier.cur == adj.src)
                .select(
                    "walk_id",
                    F.col("cur").alias("prev"),
                    F.element_at("nbrs", idx).alias("cur"),
                )
                .localCheckpoint(eager=True)
            )
            out = out.unionByName(
                frontier.select(
                    "walk_id", F.lit(1).alias("step"), F.col("cur").alias("vertex")
                )
            )
            for t in range(2, length + 1):
                # pn joins the ONE-row-per-walk frontier BEFORE the
                # candidate explode: a hub prev's array crosses the
                # shuffle once per walk, not once per candidate row
                cand = (
                    frontier.join(pn, "prev")
                    .join(adj, frontier.cur == adj.src)
                    .select(
                        "walk_id", "prev", "cur", "pn",
                        F.explode("nbrs").alias("n"),
                    )
                )
                wt = (
                    F.when(F.col("n") == F.col("prev"), F.lit(w_ret))
                    .when(F.array_contains("pn", F.col("n")), F.lit(w_in))
                    .otherwise(F.lit(w_out))
                )
                u = (
                    _md5int(
                        F.concat_ws(
                            ":",
                            F.col("walk_id"),
                            F.lit(str(t)),
                            F.lit(str(seed)),
                            F.col("n"),
                        )
                    )
                    + 1
                ) / F.lit(_HASH_UNIT)
                key = -F.log(u) / wt
                frontier = (
                    cand.groupBy("walk_id")
                    .agg(
                        F.min(
                            F.struct(
                                key.alias("k"),
                                F.col("n").alias("n"),
                                F.col("cur").alias("c"),
                            )
                        ).alias("b")
                    )
                    .select(
                        "walk_id",
                        F.col("b.c").alias("prev"),
                        F.col("b.n").alias("cur"),
                    )
                    .localCheckpoint(eager=True)
                )
                out = out.unionByName(
                    frontier.select(
                        "walk_id",
                        F.lit(t).alias("step"),
                        F.col("cur").alias("vertex"),
                    )
                )
        finally:
            adj.unpersist()
        return out


def ppr_monte_carlo(
    edges: DataFrame,
    alpha: float = 0.5,
    walks_per_vertex: int = 4,
    max_len: int = 6,
    seed: int = 0,
    max_neighbors: int | None = None,
) -> DataFrame:
    """(seed_vertex, vertex, n_walks, est) — Monte-Carlo END-POINT
    personalized-PageRank estimates (Fogaras et al. 2005; Avrachenkov
    et al. 2007): start ``walks_per_vertex`` walks at every vertex; at
    each step a walk STOPS with probability 1 − alpha (the restart
    event) and otherwise hops to a uniform random neighbor.  The
    terminal-vertex distribution of walks started at s IS PPR_s(·), so
    ``est = terminal_count / walks_per_vertex`` is unbiased up to the
    ``max_len`` truncation (a walk still active after max_len steps
    terminates in place; the affected mass is alpha**max_len).

    Both coins are md5 hashes — stop: md5int(walk_id:t:stop:seed)
    mapped to (0,1] by the (h+1)/2^60 rule biased_walks uses; hop:
    random_walks' exact sorted-list-index rule, so trajectories
    coincide with random_walks at the same seed.  No RNG state ⇒
    identical across engines, retries, and partitionings, and the
    whole estimator is DuckDB-value-checkable bit-for-bit (counts are
    integers; est = count/R is exact in binary for power-of-two R).

    This is the PPR path that survives 10^12 edges: no global rank
    vector, no convergence loop — R·V walk rows shrinking geometrically
    (expected total work R·V/(1−alpha) rows), ONE equi-join per step
    against the stationary adjacency layout, and walks from different
    seeds never interact, so the computation shards freely.  Exact G4
    power iteration stays the right tool for one global ranking; this
    is the per-seed neighborhood-relevance form (topic queries,
    seed-set expansion) where iterating a full |V| state per seed set
    would be absurd.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if walks_per_vertex < 1:
        raise ValueError(
            f"walks_per_vertex must be >= 1, got {walks_per_vertex}"
        )
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    spark = edges.sparkSession
    with no_aqe(spark):
        adj = _adjacency_table(edges, max_neighbors)
        try:
            replicas = spark.range(walks_per_vertex).select(
                F.col("id").cast("int").alias("i")
            )
            frontier = (
                adj.select(F.col("src").alias("origin"))
                .crossJoin(F.broadcast(replicas))
                .select(
                    F.concat_ws(
                        "#",
                        F.col("origin").cast("string"),
                        F.col("i").cast("string"),
                    ).alias("walk_id"),
                    "origin",
                    F.col("origin").alias("cur"),
                )
                .localCheckpoint(eager=True)
            )
            terminals = None
            for t in range(1, max_len + 1):
                u = (
                    _md5int(
                        F.concat_ws(
                            ":",
                            F.col("walk_id"),
                            F.lit(str(t)),
                            F.lit("stop"),
                            F.lit(str(seed)),
                        )
                    )
                    + 1
                ) / F.lit(_HASH_UNIT)
                stopped = frontier.filter(u > alpha).select("origin", "cur")
                active = frontier.filter(u <= alpha)
                hop = _md5int(
                    F.concat_ws(
                        ":", F.col("walk_id"), F.lit(str(t)), F.lit(str(seed))
                    )
                )
                j = active.join(adj, active.cur == adj.src, "left")
                # a walk at a sink (directed graphs only) terminates in
                # place rather than silently vanishing — terminal mass
                # per seed is always exactly walks_per_vertex
                sunk = j.filter(F.col("deg").isNull()).select("origin", "cur")
                step_terms = stopped.unionByName(sunk).localCheckpoint(
                    eager=True
                )
                terminals = (
                    step_terms
                    if terminals is None
                    else terminals.unionByName(step_terms)
                )
                frontier = (
                    j.filter(F.col("deg").isNotNull())
                    .select(
                        "walk_id",
                        "origin",
                        F.element_at(
                            "nbrs", (F.pmod(hop, F.col("deg")) + 1).cast("int")
                        ).alias("cur"),
                    )
                    .localCheckpoint(eager=True)
                )
            terminals = terminals.unionByName(
                frontier.select("origin", "cur")
            )
        finally:
            # frontier and every step's terminals are eagerly
            # checkpointed — nothing downstream re-reads adj
            adj.unpersist()
        return (
            terminals.groupBy(
                F.col("origin").alias("seed_vertex"),
                F.col("cur").alias("vertex"),
            )
            .agg(F.count("*").alias("n_walks"))
            .withColumn(
                "est", F.col("n_walks") / F.lit(float(walks_per_vertex))
            )
        )


def weighted_walks(
    edges: DataFrame,
    length: int,
    walks_per_vertex: int = 1,
    seed: int = 0,
) -> DataFrame:
    """(walk_id string, step int, vertex) — first-order
    WEIGHT-PROPORTIONAL walks: the next hop is sampled with probability
    ∝ edge weight (the node2vec paper's weighted-graph rule at
    p = q = 1) via the deterministic exponential race biased_walks
    proved out: candidate n draws u = (md5int(walk_id:t:seed:n)+1)/2^60
    and key = −ln(u)/w(cur,n); the minimum key wins (ties by n
    ascending).  min over Exp(w) races IS proportional-to-w sampling,
    every input is row-local, so the corpus is retry/partitioning-
    invariant and DuckDB-oracle value-checkable round for round.

    Physical shape per step: weight-proportional sampling genuinely
    needs the candidate WEIGHTS, so the step is one equi-join of the
    one-row-per-walk frontier against the stationary weighted edge
    table (O(deg) candidate rows per walk-step — true of any
    proportional sampler) + one partial-aggregable min(struct) argmin
    per walk: no window, hubs never sort.  Parallel (src, dst) rows
    are weight-summed once up front; walks at sinks end short
    (random_walks' contract)."""
    if length < 1:
        raise ValueError(f"length must be >= 1, got {length}")
    if walks_per_vertex < 1:
        raise ValueError(
            f"walks_per_vertex must be >= 1, got {walks_per_vertex}"
        )
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with no_aqe(spark):
        we = (
            edges.filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
            .repartition(n_part, "src")
            .sortWithinPartitions("src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # a non-positive, null or NaN aggregated weight silently
        # corrupts the exponential race (-ln(u)/w inverts for w < 0,
        # yields ±inf for w == 0, null for null, NaN for NaN) — refuse
        # loudly, like the other parameter guards.  isnan is needed:
        # Spark orders NaN above every double, so NaN <= 0 is false
        n_bad = we.filter(
            F.col("weight").isNull()
            | F.isnan("weight")
            | (F.col("weight") <= 0)
        ).count()
        if n_bad:
            we.unpersist()
            raise ValueError(
                f"weighted_walks: {n_bad} (src, dst) rows have a "
                "non-positive, null or NaN aggregated weight — "
                "weight-proportional sampling is only defined for "
                "strictly positive weights"
            )
        try:
            replicas = spark.range(walks_per_vertex).select(
                F.col("id").cast("int").alias("i")
            )
            frontier = (
                we.select("src")
                .distinct()
                .crossJoin(F.broadcast(replicas))
                .select(
                    F.concat_ws(
                        "#",
                        F.col("src").cast("string"),
                        F.col("i").cast("string"),
                    ).alias("walk_id"),
                    F.col("src").alias("cur"),
                )
                .localCheckpoint(eager=True)
            )
            out = frontier.select(
                "walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex")
            )
            for t in range(1, length + 1):
                u = (
                    _md5int(
                        F.concat_ws(
                            ":",
                            F.col("walk_id"),
                            F.lit(str(t)),
                            F.lit(str(seed)),
                            F.col("dst").cast("string"),
                        )
                    )
                    + 1
                ) / F.lit(_HASH_UNIT)
                key = -F.log(u) / F.col("weight")
                frontier = (
                    frontier.join(we, frontier.cur == we.src)
                    .groupBy("walk_id")
                    .agg(
                        F.min(
                            F.struct(key.alias("k"), F.col("dst").alias("n"))
                        ).alias("b")
                    )
                    .select("walk_id", F.col("b.n").alias("cur"))
                    .localCheckpoint(eager=True)
                )
                out = out.unionByName(
                    frontier.select(
                        "walk_id",
                        F.lit(t).alias("step"),
                        F.col("cur").alias("vertex"),
                    )
                )
        finally:
            we.unpersist()
        return out
