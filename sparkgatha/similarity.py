"""G8 + ANN similarity search over embedding columns (SURVEY.md §2.11 G8;
task brief: similarity search as a first-class component).

Reference analog: AGATHA builds sentence-kNN edges with FAISS over
SciBERT vectors (agatha/construct/knn_util.py — SURVEY.md §2.11 G8).
The Spark-native ladder:

 * brute-force cosine top-k (q_knn_topk_per_vec / q_crossjoin_knn) —
   exact baseline, crossJoin under a row-count guard;
 * random-hyperplane LSH bucketing (embedding_lsh_buckets) — the scale
   path: sign-pattern buckets turn all-pairs into within-bucket joins.
   Hyperplanes are seeded-deterministic (NumPy PCG64), broadcast as
   literals into a JVM-side expression — no Python in the probe path;
 * ann_topk — bucket-probed top-k with a brute-force fallback column
   layout identical to the exact path, so callers can A/B recall.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

from sparkgatha.relational import _t, register

N_PLANES = 8  # 2^8 buckets


def _as_double(col="embedding"):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _unit_normalized(embeddings: DataFrame, vec_col: str = "embedding"):
    """(vec_id, v) with v unit-normalized — so candidate scoring is ONE
    interpreted dot per pair (cosine is scale-invariant).

    The norm is computed into a real column and materialized behind a
    localCheckpoint BEFORE the per-element division: a norm expression
    written inside the transform lambda is re-evaluated per element
    (O(d^2)/row — measured ~40x slower at d=512), and a plain
    withColumn alias gets re-inlined by CollapseProject, so the barrier
    is load-bearing.  Zero-norm vectors pass through unscaled (they dot
    to 0 against everything) instead of tripping ANSI DIVIDE_BY_ZERO.
    """
    normed = embeddings.select(
        "vec_id", _as_double(vec_col).alias("v0")
    ).select(
        "vec_id", "v0", _norm(F.col("v0")).alias("_n")
    ).localCheckpoint(eager=False)
    return normed.select(
        "vec_id",
        F.when(
            F.col("_n") > 0,
            F.transform("v0", lambda x: x / F.col("_n")),
        ).otherwise(F.col("v0")).alias("v"),
    )


@register(
    "q_knn_topk_per_vec",
    """
    WITH pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    )
    SELECT qid, nid, round(c, 4) AS cos FROM (
      SELECT qid, nid, c,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
)
def q_knn_topk_per_vec(spark, sf_dir):
    """Exact kNN (k=5) for the first 20 query vectors: crossJoin +
    cosine + W4 top-k-per-group.  The all-pairs side is the guarded
    baseline; ann_topk is the scale path."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cosine(F.col("qv"), F.col("v")).alias("c"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nid").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "nid", F.round("c", 4).alias("cos"))
    )


def hyperplanes(dim: int, n_planes: int = N_PLANES, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim))


def _bucket_expr(v, planes):
    """Sign-pattern bucket id for one LSH table, as a pure JVM column
    expression over the (already double-cast) vector column ``v``."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane_lit = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(v, plane_lit) >= 0, 1).otherwise(0)
        bucket = bucket + bit * (1 << i)
    return bucket.cast("int")


def embedding_lsh_buckets(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int = N_PLANES,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket int) — random-hyperplane sign LSH.

    The planes are driver-side constants baked into a JVM expression
    (array literals + zip_with), so bucketing runs in whole-stage
    codegen: no UDF, no shuffle.  Cosine-similar vectors share sign
    patterns with high probability; near-dup search joins on bucket.
    """
    planes = hyperplanes(dim, n_planes, seed)
    return embeddings.select(
        "vec_id", _bucket_expr(_as_double(vec_col), planes).alias("bucket")
    )


def auto_lsh_planes(n: int, target_bucket: int = 64) -> int:
    """b = ceil(log2(n / target_bucket)): each hyperplane roughly halves
    a bucket, so b planes put ~n/2^b vectors in each — sized so the
    per-bucket self-join stays ~target_bucket^2 comparisons regardless
    of corpus size.  The sqrt/log rules here and in auto_ivf_params are
    COMPUTED from corpus stats (not documented prose) so a 100 TB call
    with the defaults does not inherit fixture-tuned constants."""
    return max(1, math.ceil(math.log2(max(2.0, n / target_bucket))))


def auto_ivf_params(n: int) -> tuple[int, int]:
    """(n_centroids, nprobe) = (~sqrt(n), ~sqrt(n_centroids)) — the
    standard IVF sizing (FAISS guidance: nlist ~ sqrt(n)); candidate
    volume per query ~ n * nprobe / n_centroids ~ n^(3/4)."""
    n_centroids = max(4, int(round(math.sqrt(max(16, n)))))
    nprobe = max(2, int(round(math.sqrt(n_centroids))))
    return n_centroids, nprobe


#: per-(table, bucket) member cap for the ANN candidate self-join: a
#: bucket of k members emits O(k^2) candidate rows per table, so one
#: degenerate bucket (a large cluster of near-identical embeddings —
#: exactly what dedup input looks like) made the join quadratic before
#: round 4.  Over-cap buckets are NOT dropped: members pair with the
#: bucket-min member in BOTH orientations (the dedup star fallback,
#: directional because top-k is per-query) — O(size) rows, and identical
#: vectors still find a cos=1 neighbor.  Larger than dedup's cap (64)
#: because ANN buckets are sized ~target_bucket by auto_lsh_planes and
#: legitimate buckets up to a few hundred members are cheap.
ANN_BUCKET_CAP = 256


def ann_candidates(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int | None = 3,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int = ANN_BUCKET_CAP,
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, nid) distinct ANN candidate pairs from multi-table
    random-hyperplane LSH, with the per-(table, bucket) cap above.

    All L tables' buckets are computed in ONE projection over the
    corpus (an exploded array of (table, bucket) structs — same total
    dot-product work as per-table scans, but one pass and ONE
    candidate equi-join on (table, bucket) instead of L self-joins)."""
    if n_planes is None:
        n_planes = auto_lsh_planes(embeddings.count())
    v = _as_double(vec_col)
    structs = [
        F.struct(
            F.lit(t).alias("t"),
            _bucket_expr(v, hyperplanes(dim, n_planes, seed + 1009 * t)).alias(
                "bucket"
            ),
        )
        for t in range(n_tables)
    ]
    # three consumers below (counts, join side a, join side c) —
    # materialize the bucketing once, not 3x
    tb = (
        embeddings.select("vec_id", F.explode(F.array(*structs)).alias("tb"))
        .select("vec_id", "tb.t", "tb.bucket")
        .localCheckpoint(eager=False)
    )
    counts = tb.groupBy("t", "bucket").agg(
        F.count("*").alias("k"), F.min("vec_id").alias("m")
    )
    ok = counts.filter(
        (F.col("k") >= 2) & (F.col("k") <= bucket_cap)
    ).select("t", "bucket")
    inb = tb.join(ok, ["t", "bucket"])
    a = inb.alias("a")
    c = inb.alias("c")
    pairwise = (
        a.join(
            c,
            (F.col("a.t") == F.col("c.t"))
            & (F.col("a.bucket") == F.col("c.bucket")),
        )
        .filter(F.col("a.vec_id") != F.col("c.vec_id"))
        .select(F.col("a.vec_id").alias("qid"), F.col("c.vec_id").alias("nid"))
    )
    over = counts.filter(F.col("k") > bucket_cap).select("t", "bucket", "m")
    star_m = tb.join(over, ["t", "bucket"]).filter(F.col("vec_id") != F.col("m"))
    star = star_m.select(
        F.col("m").alias("qid"), F.col("vec_id").alias("nid")
    ).unionByName(
        star_m.select(F.col("vec_id").alias("qid"), F.col("m").alias("nid"))
    )
    return pairwise.unionByName(star).distinct()


def ann_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int | None = 3,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int = ANN_BUCKET_CAP,
) -> DataFrame:
    """Bucketed approximate kNN — multi-table random-hyperplane LSH
    (standard recall amplification: L independent tables of b planes; a
    pair is a candidate if it collides in ANY table).  Cosine runs only
    on candidates; top-k per query.  Size b with the corpus: collision
    prob per table is (1 - theta/pi)^b, so b grows ~log2(n/bucket_size)
    at scale; ``n_planes=None`` computes that from the corpus count
    (auto_lsh_planes), the int default suits the small fixture and the
    recall bound is asserted in tests.  Candidate volume is bounded per
    bucket by ``bucket_cap`` (see ANN_BUCKET_CAP — over-cap buckets take
    the O(size) star fallback instead of the O(size^2) self-join)."""
    cands = ann_candidates(
        embeddings, dim, n_planes, n_tables, seed, bucket_cap
    )
    e = _unit_normalized(embeddings)
    q = e.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    nn = e.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
    pairs = (
        cands.join(q, "qid")
        .join(nn, "nid")
        .select("qid", "nid", _dot(F.col("qv"), F.col("nv")).alias("c"))
    )
    w = W.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nid").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", F.col("c").alias("cos"))
    )


@register(
    "q_embed_norms",
    """
    SELECT vec_id, label,
           round(sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])), 4) AS l2_norm
    FROM embeddings
    """,
)
def q_embed_norms(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.round(_norm(_as_double()), 4).alias("l2_norm"),
    )


@register(
    "q_embed_centroid",
    """
    SELECT label, CAST(pos AS INTEGER) AS pos, round(avg(v), 6) AS c
    FROM (
      SELECT label, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) GROUP BY label, pos
    """,
)
def q_embed_centroid(spark, sf_dir):
    """Per-label embedding centroid (posexplode → partial+final avg per
    (label, dim)) — the building block of IVF coarse quantizers and
    class prototypes; one shuffle keyed (label, pos), value-checked
    against DuckDB's unnest/generate_subscripts equivalent."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode(_as_double()).alias("pos0", "v"))
    return x.groupBy(
        "label", (F.col("pos0") + 1).cast("int").alias("pos")
    ).agg(F.round(F.avg("v"), 6).alias("c"))


#: above this seed count the exact top-k collect would move real vector
#: volume through the driver — the threshold-sampling tier takes over
SEED_COLLECT_MAX = 4096


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int | None = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid long, cv array<double>) — deterministic coarse quantizer:
    seed centroids are an md5-hash-sample of the corpus (engine- and
    partitioning-independent), refined by ONE Lloyd step (assign all
    vectors to the nearest seed, recompute element-wise means).  One
    crossJoin against a broadcast n_centroids-row table + one (cid, pos)
    shuffle — no iteration at scale; good enough for list routing.
    ``n_centroids=None`` sizes the quantizer from the corpus count
    (auto_ivf_params sqrt rule).

    Seed pick, two tiers, neither funnels the corpus anywhere:
      * n_centroids ≤ SEED_COLLECT_MAX: exact deterministic top-k by
        md5(vec_id) via orderBy+limit = TakeOrderedAndProject (per-
        partition heads, driver merges a BOUNDED handful of rows);
      * larger (the auto sqrt rule gives ~10^6 at corpus scale, far too
        many vectors to collect): the q_sample_hash md5-prefix
        THRESHOLD rule — a distributed filter keeping ~n_centroids rows
        in expectation, with cid = xxhash64(vec_id) (any distinct id
        works as a routing key; nothing requires a dense [0,k) range).
        One corpus count, zero driver-side vector traffic.
    """
    n = None
    if n_centroids is None:
        n = embeddings.count()
        n_centroids, _ = auto_ivf_params(n)
    e = embeddings.select("vec_id", _as_double(vec_col).alias("v"))
    if n_centroids <= SEED_COLLECT_MAX:
        top = (
            e.select("v", F.md5(F.col("vec_id").cast("string")).alias("_h"))
            .orderBy("_h")
            .limit(n_centroids)
            .collect()
        )
        seeds = embeddings.sparkSession.createDataFrame(
            [
                (i, list(r["v"]))
                for i, r in enumerate(sorted(top, key=lambda r: r["_h"]))
            ],
            "cid long, cv array<double>",
        )
    else:
        if n is None:
            n = embeddings.count()
        # md5-prefix threshold over 12 hex chars (48 bits): keep rows
        # whose hash falls below frac of the keyspace
        frac = min(1.0, n_centroids / max(n, 1))
        cut = int(frac * float(1 << 48))
        seeds = (
            e.select(
                F.xxhash64(F.col("vec_id").cast("string")).alias("cid"),
                F.col("v").alias("cv"),
                F.conv(
                    F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12),
                    16, 10,
                ).cast("long").alias("_h48"),
            )
            .filter(F.col("_h48") < F.lit(cut))
            .select("cid", "cv")
        )
    assigned = _assign_nearest(e, seeds)
    return (
        assigned.join(e, "vec_id")
        .select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.avg("x").alias("x"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "x"))),
                lambda s: s.x,
            ).alias("cv")
        )
    )


def _assign_nearest(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid): nearest centroid by cosine (broadcast crossJoin —
    the centroid table is tiny by construction)."""
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", cosine(F.col("v"), F.col("cv")).alias("s")
    )
    w = W.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cid")
    )


#: per-inverted-list member bound: a viral duplicate cluster otherwise
#: concentrates one cell and EVERY query probing it scans the whole
#: list (the LSH bucket failure mode, ported here — VERDICT r4 item 3).
#: Sized to never trip at fixture scale (cells of ~10^2 members) while
#: bounding per-query candidates to O(nprobe * cap) at corpus scale.
IVF_CELL_CAP = 4096


def cap_inverted_lists(
    lists: DataFrame,
    cap: int | None = IVF_CELL_CAP,
    id_col: str = "vec_id",
    cell_col: str = "cid",
) -> DataFrame:
    """Thin every over-cap inverted list to ~``cap`` members,
    deterministically: a member of a list of size k survives iff
    ``md5int(id) mod k < cap`` (expected survivors = cap; exact for
    lists <= cap, which pass through untouched).  The hash rule means
    NO per-cell sort and no single-partition funnel — the thinning is
    one broadcast join against the (<= n_centroids)-row count table
    plus a map-side filter, unlike a rank-window which would funnel
    the hot list through one partition (exactly what the cap exists
    to prevent).  Dropping members costs recall only inside cells that
    are overwhelmingly near-duplicates — the inputs exact/near-dup
    dedup (sparkgatha.dedup) exists to remove upstream."""
    if cap is None:
        return lists
    from sparkgatha.util import md5_long

    counts = lists.groupBy(cell_col).agg(F.count("*").alias("_k"))
    return (
        lists.join(F.broadcast(counts), cell_col)
        .filter(
            (F.col("_k") <= cap)
            | (
                F.pmod(md5_long(F.col(id_col).cast("string")), F.col("_k"))
                < cap
            )
        )
        .drop("_k")
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    nprobe: int | None = 4,
    vec_col: str = "embedding",
    cell_cap: int | None = IVF_CELL_CAP,
) -> DataFrame:
    """IVF approximate kNN (the FAISS IndexIVFFlat shape, SURVEY.md §2.11
    G8): route every vector to its nearest coarse centroid (inverted
    lists = an equi-join key), probe the ``nprobe`` nearest lists per
    query, exact cosine only within probed lists.  Candidate volume ≈
    n·nprobe/n_centroids per query — pass ``n_centroids=None`` /
    ``nprobe=None`` to size both from the corpus count (auto_ivf_params
    sqrt rule) instead of the fixture-scale defaults.  All joins are
    equi-joins on cid; the only crossJoins touch the tiny centroid
    table.  Hot cells (duplicate clusters that defeat the sqrt sizing)
    are bounded by ``cell_cap`` via cap_inverted_lists, so per-query
    candidate volume is O(nprobe * cell_cap) even in the adversarial
    all-identical-vectors case."""
    if n_centroids is None or nprobe is None:
        auto_c, auto_p = auto_ivf_params(embeddings.count())
        n_centroids = n_centroids if n_centroids is not None else auto_c
        nprobe = nprobe if nprobe is not None else auto_p
    e = _unit_normalized(embeddings, vec_col)
    cents = ivf_centroids(embeddings, n_centroids, vec_col)
    cents = cents.localCheckpoint(eager=True)  # reused 2x below
    lists = cap_inverted_lists(
        _assign_nearest(e, cents), cell_cap
    )  # (vec_id, cid) inverted lists, hot cells thinned

    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", cosine(F.col("v"), F.col("cv")).alias("s")
    )
    wq = W.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("cid").asc())
    probes = (
        scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    # r6: the candidate id-pair rows are byte-tiny but each downstream
    # row costs a dim-length interpreted dot product, so AQE's
    # bytes-based coalescing collapsed the scoring stage to 2 tasks
    # (measured 5.4 s of the 8 s wall at fixture scale).  An explicit
    # numeric repartition pins the exchange width (AQE honors
    # user-specified partition counts) — the distinct reuses the same
    # hash distribution, and the value set is unchanged.
    n_score_parts = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    cand = (
        probes.join(
            lists.select(F.col("vec_id").alias("nid"), "cid"), "cid"
        )
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .repartition(n_score_parts, "qid", "nid")
        .distinct()
    )
    q = e.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    nn = e.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
    pairs = (
        cand.join(q, "qid")
        .join(nn, "nid")
        # both sides unit-normalized above: cosine == plain dot (one
        # interpreted array pass per pair instead of three)
        .select("qid", "nid", _dot(F.col("qv"), F.col("nv")).alias("c"))
    )
    w = W.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nid").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", F.col("c").alias("cos"))
    )


@register("q_ivf_topk", None)
def q_ivf_topk(spark, sf_dir):
    """IVF-routed approximate kNN (rows-only: list routing is
    engine-specific; recall vs the exact baseline is pytest-asserted)."""
    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, k=5).select(
        "qid", "nid", F.round("cos", 6).alias("cos")
    )


def _sql_double(x: float) -> str:
    """Spark SQL text that parses back to exactly the double ``x``:
    ``repr`` is the shortest decimal that round-trips and the ``D``
    suffix makes it a DOUBLE literal (without it ``0.5`` is a
    DECIMAL); NaN and ±inf have no literal form, so they are cast."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    return f"CAST('{x!r}' AS DOUBLE)"


def _sq_dist_sql(vec: str, c) -> str:
    """SQL text of the squared Euclidean distance between the array
    expression ``vec`` and the point ``c`` — the sequential left fold
    Σ(a−b)² the DuckDB oracles replay.  Centroids, codebooks and cell
    probes are built as ONE ``F.expr`` of this text: every PySpark
    Column call is a py4j round trip, so composing k·d literals
    column by column costs thousands of them per expression."""
    lits = ", ".join(_sql_double(x) for x in c)
    return (
        f"aggregate(zip_with({vec}, array({lits}), "
        "(a, b) -> (a - b) * (a - b)), 0D, (s, x) -> s + x)"
    )


def _choices_sql(vec: str, cents) -> str:
    """array of (d, cid) structs, d = round(sqrt(Σ(a−b)²), 8): the
    rounded distances from ``vec`` to every centroid, in cid order."""
    return "array({})".format(
        ", ".join(
            f"named_struct('d', round(sqrt({_sq_dist_sql(vec, c)}), 8), "
            f"'cid', {cid})"
            for cid, c in enumerate(cents)
        )
    )


def _assign_sql(vec: str, cents) -> str:
    """The kmeans_lloyd assignment as SQL text — argmin over
    round(sqrt(Σ(a−b)²), 8) with cid tie-break, the exact rule the
    unrolled oracle replays — reusable wherever a trained codebook
    must re-assign rows map-only (PQ encoding)."""
    return f"array_min({_choices_sql(vec, cents)}).cid"


def _round_away(x: float, d: int) -> float:
    """Driver-side decimal rounding that mirrors DuckDB's DOUBLE
    ``round()``: scale by 10^d, round half AWAY from zero on the
    scaled double, unscale.  Python's built-in round() is banker's
    (half-even) over the exact decimal expansion — a DIFFERENT
    function at representable midpoints (33/128 = 0.2578125 rounds to
    .257812 in Python but .257813 in DuckDB, verified empirically), so
    centroid literals built with round() would break kmeans_lloyd's
    bit-identical-across-engines guarantee exactly at the float32
    values most likely to be midpoints."""
    s = x * (10.0 ** d)
    return (
        math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5)
    ) / (10.0 ** d)


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 4,
    rounds: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize_assignments: bool = True,
):
    """(assignments, centroids): ``rounds`` synchronous Lloyd
    iterations of k-means over an embedding column — the training step
    behind the IVF index (ivf_centroids picks seeds only; this is the
    full refinement loop) and the standard corpus-clustering pass for
    topic balancing / dedup stratification.

    Deterministic across engines, retries, and partitionings:

    * seeds = the k vectors with the smallest md5int(vec_id) (the
      IVF seed convention), cluster ids 0..k−1 in that order;
    * assignment = argmin over the k centroids of the Euclidean
      distance ROUNDED to 8 decimals, ties broken by cluster id —
      rounding makes the comparison identical in Spark and DuckDB
      despite their different summation internals;
    * update = per-coordinate mean ROUNDED to 6 decimals with the
      DuckDB rule — scaled half-away-from-zero (_round_away), NOT
      Python's half-even round() — (empty
      clusters keep their previous centroid), so every round's
      centroid literals are bit-identical in both engines.

    Scale shape (the Lloyd classic): centroids are a k·d driver-side
    artifact BY DEFINITION, so each round is one bounded k·d collect +
    a map-only assignment (NO join — the centroids are double literals
    in one SQL expression, ``_assign_sql``, sent to the JVM in a
    single call instead of one py4j round trip per coordinate) + one
    partial-aggregable groupBy with d element-wise sum aggregates (no
    coordinate explode: a 10^9-row corpus shuffles k·d doubles, not
    10^9·d rows).  The input projection is persisted once across the
    rounds.

    Returns (assignments DataFrame (id, cluster int), centroids list
    of k lists) — the assignment is the final round's, computed
    against the last UPDATED centroids' predecessors exactly like the
    unrolled oracle.
    """
    from pyspark.storagelevel import StorageLevel

    from sparkgatha.util import md5_long

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    ev = (
        embeddings.select(
            F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        seeds = (
            ev.orderBy(md5_long(F.col("vec_id").cast("string")), "vec_id")
            .limit(k)
            .collect()
        )
        if len(seeds) < k:
            raise ValueError(
                f"k={k} exceeds the corpus size {len(seeds)}"
            )
        cents = [[_round_away(x, 6) for x in r["v"]] for r in seeds]
        dim = len(cents[0])
        assign = None
        sums = F.expr(
            "array({})".format(
                ", ".join(f"sum(element_at(v, {i}))" for i in range(1, dim + 1))
            )
        )
        for r in range(1, rounds + 1):
            assign = ev.select(
                "vec_id", F.expr(_assign_sql("v", cents)).alias("cluster"), "v"
            )
            if r == rounds:
                break
            stats = (
                assign.groupBy("cluster")
                .agg(F.count("*").alias("n"), sums.alias("s"))
                .collect()
            )
            got = {
                row["cluster"]: [_round_away(s / row["n"], 6) for s in row["s"]]
                for row in stats
            }
            cents = [got.get(cid, cents[cid]) for cid in range(k)]
        out = assign.select("vec_id", "cluster")
        if materialize_assignments:
            out = out.localCheckpoint(eager=True)
        # else: caller only wants the centroids (PQ training discards
        # the assignment and re-derives codes map-only) — skip the
        # n-row eager materialization; the lazy frame recomputes from
        # the source if ever evaluated
    finally:
        ev.unpersist()
    return out, cents


def _kmeans_rounds_cte(
    k: int, rounds: int, dim: int, suffix: str = "", src: str = "ev"
) -> str:
    """The suffix-parameterized round chain (``c0{sfx}``..``a{R}{sfx}``)
    over any (vec_id, v DOUBLE[]) CTE named ``src`` — so several
    independent kmeans replays (e.g. one per PQ subspace) can coexist
    in ONE oracle without CTE-name collisions.  Starts with a leading
    comma; prepend your own WITH."""
    s = suffix
    sql = f""",
    c0{s} AS MATERIALIZED (
      SELECT row_number() OVER (
               ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
                        vec_id
             ) - 1 AS cid,
             list_transform(v, x -> round(x, 6)) AS c
      FROM {src}
      ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT, vec_id
      LIMIT {k}
    )"""
    for r in range(1, rounds + 1):
        sql += f""",
    a{r}{s} AS MATERIALIZED (
      SELECT vec_id, cid, v FROM (
        SELECT e.vec_id, c.cid, e.v,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_distance(e.v, c.c), 8), c.cid
               ) AS rn
        FROM {src} e CROSS JOIN c{r - 1}{s} c
      ) WHERE rn = 1
    )"""
        if r < rounds:
            sql += f""",
    m{r}{s} AS (
      SELECT cid, i.i, avg(v[i.i]) AS mx
      FROM a{r}{s}, unnest(range(1, {dim + 1})) AS i(i)
      GROUP BY cid, i.i
    ),
    c{r}{s} AS MATERIALIZED (
      SELECT cid, list(round(mx, 6) ORDER BY i) AS c
      FROM m{r}{s} GROUP BY cid
      UNION ALL
      SELECT p.cid, p.c FROM c{r - 1}{s} p
      WHERE p.cid NOT IN (SELECT cid FROM m{r}{s})
    )"""
    return sql


def _kmeans_cte_sql(k: int = 4, rounds: int = 3, dim: int = 64) -> str:
    """The unrolled DuckDB CTE chain mirroring ``kmeans_lloyd`` —
    md5-ranked seeds, per-round argmin over round(list_distance, 8)
    with cid tie-break, per-coordinate avg re-listed in coordinate
    order and rounded to 6 (empty clusters keep the previous centroid)
    — the same rounding boundaries as the Spark side, so every round's
    centroids are identical doubles in both engines.  Ends at
    ``a{rounds}`` (the final assignment) so q_kmeans and q_semdedup
    share one replay."""
    return (
        """
    WITH ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
        + _kmeans_rounds_cte(k, rounds, dim)
    )


def _kmeans_oracle_sql(k: int = 4, rounds: int = 3, dim: int = 64) -> str:
    return (
        _kmeans_cte_sql(k, rounds, dim)
        + f"""
    SELECT vec_id, cid AS cluster FROM a{rounds}
    """
    )


@register("q_kmeans", _kmeans_oracle_sql(4, 3, 64))
def q_kmeans(spark, sf_dir):
    """3 Lloyd rounds of k-means (k=4) over the embeddings table — the
    IVF training loop as a first-class operator; the final assignment
    is value-checked vec-for-vec against the DuckDB replay that unrolls
    every seed pick, argmin, and rounded centroid update."""
    e = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(e, k=4, rounds=3)[0]


def semdedup(
    embeddings: DataFrame,
    k: int = 4,
    rounds: int = 3,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: int = 100_000,
) -> DataFrame:
    """(vec_id, cluster, kept): SemDeDup-style semantic deduplication
    (Abbas et al. 2023, arXiv:2303.09540) — k-means the embedding
    space, then look for near-duplicate pairs ONLY within each cluster
    cell and drop all but one representative per duplicate pair.

    This is the documented scale path for embedding-cosine dedup: the
    standalone all-pairs form (dedup.q_dedup_embed_cosine) is O(n²)
    and guarded; here the quadratic work is Σ|cell|², bounded by
    sizing k so cells stay small (the paper runs 50k clusters over
    600M embeddings — cells of ~10⁴).  ``max_cell`` makes that sizing
    contract explicit: the largest cell is checked with one bounded
    agg and the call RAISES with the k-sizing hint instead of silently
    launching a quadratic join.

    Deterministic keep rule (cross-engine, retry-stable): within a
    cell, a vector is REMOVED iff some other vector with a smaller
    vec_id in the same cell has round(cosine, 6) >= threshold — "keep
    the earliest of every near-dup pair".  Chains over-remove slightly
    vs the paper's greedy scan (b removed by a, c removed by b even
    though b is gone), but the rule is a pure EXISTS both engines
    evaluate identically — no sequential state.

    Scale shape: kmeans_lloyd's map-only assignment (one SQL expression
    over the centroid literals), then ONE hash-partitioned self-join
    keyed on the cluster id — co-located, no broadcast of the big side
    — with the cheap id inequality + cosine filter inside the join,
    then an anti-join back onto the assignment.  Cosine is a JVM fold
    over the double arrays (no Python).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    assign, _cents = kmeans_lloyd(
        embeddings, k=k, rounds=rounds, vec_col=vec_col, id_col=id_col
    )
    top = (
        assign.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if top > max_cell:
        raise ValueError(
            f"largest k-means cell has {top} vectors > max_cell="
            f"{max_cell}; raise k (cells should stay ~1e4 as in "
            "SemDeDup) or raise max_cell explicitly"
        )
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    av = assign.join(ev, "vec_id")
    a, b = av.alias("a"), av.alias("b")
    removed = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6)
            >= F.lit(float(threshold))
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(
            removed.withColumn("_rm", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("_rm"), F.lit(True)).alias("kept"),
        )
    )


@register(
    "q_semdedup",
    _kmeans_cte_sql(4, 3, 64)
    + """,
    asg AS (SELECT vec_id, cid AS cluster, v FROM a3),
    removed AS (
      SELECT DISTINCT b.vec_id
      FROM asg a JOIN asg b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    )
    SELECT vec_id, cluster,
           vec_id NOT IN (SELECT vec_id FROM removed) AS kept
    FROM asg
    """,
)
def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup over the embeddings table: the q_kmeans
    cells (k=4, 3 Lloyd rounds) scope the pair search, cosine >= 0.35
    within a cell marks the later vec_id removed; per-vector
    (cluster, kept) is value-checked against the DuckDB replay that
    unrolls the full kmeans chain plus the within-cell EXISTS rule."""
    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e, k=4, rounds=3, threshold=0.35)


def sq8_codes(
    embeddings: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, v, code) — symmetric (zero-preserving) int8 codes, the
    standard int8-GEMM scheme: one GLOBAL scale ma = max|x_i| over the
    whole corpus, code_i = floor(x_i/ma · 127 + 0.5) ∈ [−127, 127].
    Symmetric-global (not per-dim min-max) is what makes the coarse
    integer dot a MONOTONE proxy of the true dot — per-dim affine
    scaling would reweight dimensions and shift by the per-dim bias,
    destroying the ranking (measured: recall 0.13 vs 1.0 on the
    fixture).  With unit-normalized embeddings (this corpus; compose
    with ``_unit_normalized`` otherwise) dot ranking IS cosine ranking.

    The point at scale is BANDWIDTH: the coarse candidate scan streams
    the 1-byte-per-dim code instead of the 8-byte double, an ~8x
    reduction in the memory/network traffic of the scan stage, and the
    integer arithmetic makes coarse scores EXACT across engines —
    unlike LSH bucketing, a quantized scan is value-checkable, not just
    recall-bounded.

    Physical shape: the scale is ONE partial-aggregable max pass
    (max/abs are exact — no summation-order noise) fetched as a
    bounded 1-value driver scalar and baked into the code expression
    as a literal (the kmeans-centroid class — a 1-row crossJoin would
    plan as the BNLJ node the hygiene sweep bans); the code build is
    then a map-only literal projection.  No Python in the plan.
    """
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    row = ev.agg(
        F.max(
            F.aggregate(
                "v", F.lit(0.0), lambda s, x: F.greatest(s, F.abs(x))
            )
        ).alias("ma")
    ).collect()[0]
    if row["ma"] is None or row["ma"] == 0.0:
        raise ValueError("sq8_codes: empty or all-zero corpus")
    ma = float(row["ma"])
    code = F.transform(
        "v",
        lambda x: F.floor((x / F.lit(ma)) * 127.0 + 0.5).cast("int"),
    )
    return ev.select("vec_id", "v", code.alias("code"))


def sq8_topk(
    embeddings: DataFrame,
    k: int = 5,
    coarse_c: int = 20,
    n_queries: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(qid, nid, cos) — scalar-quantized top-k: the coarse stage ranks
    every corpus vector per query by the INTEGER code dot product
    (exact cross-engine, ties by nid), keeps ``coarse_c`` candidates,
    and only those fetch their full double vectors for the exact cosine
    rerank (cos round 4, top-k by cos desc / nid asc).

    Scale shape — where the 8x actually comes from: computing codes
    reads the full vectors once, so the CODE TABLE (vec_id, code) is
    materialized WITHOUT v (the stored SQ8 index artifact; in
    production it persists like the PageRank edge layout and amortizes
    over every query).  The per-query coarse scan then streams only
    that slim frame; exact vectors are touched for coarse_c rows per
    query via the rerank join back to the raw embedding source — the
    two-stage quantize-then-rerank scheme every production vector
    store uses (FAISS SQ8 + refine).  Queries ride broadcast; both
    window ranks partition by qid.
    """
    if k < 1 or coarse_c < k:
        raise ValueError(f"need 1 <= k <= coarse_c, got k={k}, coarse_c={coarse_c}")
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    # the "stored index": codes only, v deliberately excluded — an
    # eager checkpoint of (vec_id, v, code) would drag the doubles
    # back into every coarse scan and erase the bandwidth win
    codes = (
        sq8_codes(embeddings, dim=dim, vec_col=vec_col, id_col=id_col)
        .select("vec_id", "code")
        .localCheckpoint(eager=True)
    )
    q = F.broadcast(
        codes.filter(F.col("vec_id") < n_queries)
        .join(ev.filter(F.col("vec_id") < n_queries), "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("code").alias("qcode"),
        )
    )
    coarse = (
        codes.crossJoin(q.drop("qv"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.aggregate(
                F.zip_with(
                    "code", "qcode", lambda a, b: (a * b).cast("long")
                ),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            ).alias("cscore"),
        )
    )
    wc = W.partitionBy("qid").orderBy(F.col("cscore").desc(), F.col("nid").asc())
    cand = (
        coarse.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= coarse_c)
        .select("qid", "nid")
    )
    exact = (
        cand.join(ev.select(F.col("vec_id").alias("nid"), "v"), "nid")
        .join(q.select("qid", "qv"), "qid")
        .select("qid", "nid", F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos"))
    )
    wk = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        exact.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", "cos")
    )


_SQ8_ORACLE = """
    WITH ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    st AS (
      SELECT max(list_max(list_transform(v, x -> abs(x)))) AS ma FROM ev
    ),
    coded AS (
      SELECT vec_id, v,
             list_transform(
               v, x -> floor((x / st.ma) * 127.0 + 0.5)::INT
             ) AS code
      FROM ev, st
    ),
    q AS (
      SELECT vec_id AS qid, v AS qv, code AS qcode
      FROM coded WHERE vec_id < 8
    ),
    coarse AS (
      SELECT q.qid, c.vec_id AS nid,
             list_sum(list_transform(
               range(1, 65), i -> c.code[i]::BIGINT * q.qcode[i]
             ))::BIGINT AS cscore
      FROM coded c, q
      WHERE c.vec_id <> q.qid
    ),
    cand AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cscore DESC, nid ASC) AS rn
        FROM coarse
      ) WHERE rn <= 20
    ),
    exact AS (
      SELECT cand.qid, cand.nid,
             round(list_cosine_similarity(q.qv, c.v), 4) AS cos
      FROM cand
      JOIN coded c ON c.vec_id = cand.nid
      JOIN q ON q.qid = cand.qid
    )
    SELECT qid, nid, cos FROM (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid ASC) AS rn
      FROM exact
    ) WHERE rn <= 5
"""


@register("q_sq8_topk", _SQ8_ORACLE)
def q_sq8_topk(spark, sf_dir):
    """Scalar-quantized (symmetric int8, global max-|x| scale) top-5
    for the first 8 query vectors, coarse_c=20 — the bandwidth-oriented
    ANN variant whose coarse scores are exact integers, so unlike LSH
    the WHOLE pipeline (codes, candidate cut, reranked cosines) is
    value-checked against DuckDB's identical quantize/scan/rerank
    replay."""
    e = _t(spark, sf_dir, "embeddings")
    return sq8_topk(e, k=5, coarse_c=20, n_queries=8)


def pq_train_encode(
    embeddings: DataFrame,
    m: int = 4,
    n_centroids: int = 8,
    rounds: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """(codes, codebooks): product quantization (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — the PQ in
    FAISS IndexIVFPQ): the vector splits into ``m`` contiguous
    subspaces of dim/m, each subspace trains its own kmeans_lloyd
    codebook, and a vector's code is the array of its m per-subspace
    centroid ids — dim doubles compress to m small ints.

    codes = (vec_id, code array<int> length m); codebooks = list of m
    centroid lists (the k·(dim/m) driver artifact per subspace, the
    same bounded class as kmeans centroids).

    Scale shape: training is m independent kmeans runs over SLICED
    projections of one persisted scan (each round a map-only
    assignment + one partial-aggregable groupBy — kmeans_lloyd's
    contract); encoding is ONE map-only projection computing all m
    argmins from codebook literals, built as one SQL expression — no
    joins, no Python.
    """
    if m < 1 or dim % m != 0:
        raise ValueError(f"m must divide dim: m={m}, dim={dim}")
    dsub = dim // m
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )

    # the m subspace trainings are fully independent (separate slices,
    # separate codebooks) and each is a chain of small collect jobs —
    # run them concurrently so one training's planning and collects
    # overlap another's (guide §2.6); each training's numbers are
    # untouched.
    def _train(j: int):
        sub = ev.select(
            "vec_id", F.slice("v", j * dsub + 1, dsub).alias("embedding")
        )
        _, cents = kmeans_lloyd(
            sub, k=n_centroids, rounds=rounds,
            materialize_assignments=False,
        )
        return cents

    if m > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=m) as pool:
            codebooks = list(pool.map(_train, range(m)))
    else:
        codebooks = [_train(0)]
    code = "array({})".format(
        ", ".join(
            _assign_sql(f"slice(v, {j * dsub + 1}, {dsub})", book)
            for j, book in enumerate(codebooks)
        )
    )
    return ev.select("vec_id", F.expr(code).alias("code")), codebooks


def _pq_lut_expr(codebooks, dsub: int):
    """The ADC lookup table as one expression over a ``qv`` column:
    an array of (j, cid, d2i) structs, d2i = floor(d2*1e8 + .5) as
    BIGINT over codebook literals — shared by pq_topk and ivfpq_topk
    so the fixed-point rule can never drift between them."""
    return F.expr(
        "array({})".format(
            ", ".join(
                f"named_struct('j', {j}, 'cid', {cid}, 'd2i', CAST(floor("
                f"{_sq_dist_sql(f'slice(qv, {j * dsub + 1}, {dsub})', c)}"
                " * 100000000D + 0.5D) AS BIGINT))"
                for j, book in enumerate(codebooks)
                for cid, c in enumerate(book)
            )
        )
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    m: int = 4,
    n_centroids: int = 8,
    rounds: int = 2,
    coarse_c: int = 20,
    n_queries: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(qid, nid, cos) — PQ + ADC top-k: the coarse stage scores every
    corpus vector against each query by ASYMMETRIC DISTANCE
    COMPUTATION (sum over subspaces of the squared distance from the
    query's raw subvector to the vector's assigned centroid), keeps
    ``coarse_c`` candidates, and reranks them with the exact cosine
    (round 4, ties by nid).

    Cross-engine exactness trick: each LUT cell is snapped to fixed
    point — d2i = floor(d2·1e8 + 0.5) as BIGINT — so the ADC score is
    an exact INTEGER sum (the SQ8 lesson applied to PQ; both engines
    build d2 with the identical sequential left-fold over the same
    codebook literals, so even the pre-snap doubles are bit-equal).

    Scale shape: the LUT is n_queries·m·k rows built from codebook
    literals and broadcast; the scan side is the posexploded code
    table (m small ints per vector — PQ's entire point is that this is
    ~64x less traffic than the doubles), one broadcast LUT join, one
    partial-aggregable (qid, nid) sum.  Exact vectors are touched only
    for coarse_c rows per query in the rerank join.
    """
    if k < 1 or coarse_c < k:
        raise ValueError(f"need 1 <= k <= coarse_c, got k={k}, coarse_c={coarse_c}")
    dsub = dim // m
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    codes, codebooks = pq_train_encode(
        embeddings, m=m, n_centroids=n_centroids, rounds=rounds,
        dim=dim, vec_col=vec_col, id_col=id_col,
    )
    codes = codes.localCheckpoint(eager=True)  # the stored PQ index
    q = ev.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    lut_cells = _pq_lut_expr(codebooks, dsub)
    lut = F.broadcast(
        q.select("qid", F.explode(lut_cells).alias("cell")).select(
            "qid", "cell.j", "cell.cid", "cell.d2i"
        )
    )
    exploded = codes.select(
        "vec_id", F.posexplode("code").alias("j", "cid")
    )
    adc = (
        exploded.join(lut, ["j", "cid"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("nid"))
        .agg(F.sum("d2i").alias("adc"))
    )
    wc = W.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    cand = (
        adc.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= coarse_c)
        .select("qid", "nid")
    )
    exact = (
        cand.join(ev.select(F.col("vec_id").alias("nid"), "v"), "nid")
        .join(q, "qid")
        .select(
            "qid", "nid",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos"),
        )
    )
    wk = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        exact.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", "cos")
    )


def _pq_oracle_sql(
    m: int = 4,
    n_centroids: int = 8,
    rounds: int = 2,
    coarse_c: int = 20,
    n_queries: int = 8,
    dim: int = 64,
    k: int = 5,
) -> str:
    """Full PQ replay: one suffixed kmeans chain per subspace over the
    sliced vectors, the fixed-point ADC LUT from the same (round-6)
    centroid CTEs the assignments used, integer ADC sums, and the
    exact-cosine rerank — every stage mirrored cell for cell."""
    dsub = dim // m
    sql = """
    WITH ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        sql += f""",
    ev_s{j} AS MATERIALIZED (
      SELECT vec_id, v[{lo}:{hi}] AS v FROM ev
    )"""
        sql += _kmeans_rounds_cte(
            n_centroids, rounds, dsub, suffix=f"_s{j}", src=f"ev_s{j}"
        )
    sql += f""",
    qv AS (SELECT vec_id AS qid, v FROM ev WHERE vec_id < {n_queries}),
    lut AS ({" UNION ALL ".join(
        f'''
      SELECT q.qid, {j} AS j, c.cid,
             floor(list_reduce(
               list_transform(range(1, {dsub} + 1),
                 i -> (q.v[{j * dsub} + i] - c.c[i])
                      * (q.v[{j * dsub} + i] - c.c[i])),
               (a, b) -> a + b) * 100000000.0 + 0.5)::BIGINT AS d2i
      FROM c{rounds - 1}_s{j} c CROSS JOIN qv q'''
        for j in range(m)
    )}),
    codes AS ({" UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, cid FROM a{rounds}_s{j}"
        for j in range(m)
    )}),
    adc AS (
      SELECT l.qid, c.vec_id AS nid, sum(l.d2i) AS adc
      FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.cid
      WHERE c.vec_id <> l.qid
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc ASC, nid ASC) AS rn
        FROM adc
      ) WHERE rn <= {coarse_c}
    ),
    exact AS (
      SELECT cand.qid, cand.nid,
             round(list_cosine_similarity(q.v, e.v), 4) AS cos
      FROM cand
      JOIN ev e ON e.vec_id = cand.nid
      JOIN qv q ON q.qid = cand.qid
    )
    SELECT qid, nid, cos FROM (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid ASC) AS rn
      FROM exact
    ) WHERE rn <= {k}
    """
    return sql


@register("q_pq_topk", _pq_oracle_sql(4, 8, 2, 20, 8, 64, 5))
def q_pq_topk(spark, sf_dir):
    """Product-quantized ADC top-5 for the first 8 query vectors
    (m=4 subspaces x 8 centroids, 2 Lloyd rounds, coarse_c=20) — the
    FAISS-IVFPQ quantizer as a value-checked pipeline: subspace
    codebooks, codes, the fixed-point integer ADC ranking, and the
    exact-cosine rerank are all replayed cell for cell in DuckDB."""
    e = _t(spark, sf_dir, "embeddings")
    return pq_topk(e, k=5, m=4, n_centroids=8, rounds=2, coarse_c=20, n_queries=8)


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 3,
    m: int = 4,
    n_centroids: int = 8,
    rounds: int = 2,
    coarse_c: int = 20,
    n_queries: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_cap: int | None = IVF_CELL_CAP,
) -> DataFrame:
    """(qid, nid, cos) — IVF-PQ (FAISS IndexIVFPQ, by_residual=False):
    a full-dimension kmeans partitions the corpus into ``n_cells``
    inverted lists; each query probes its ``nprobe`` nearest cells
    (by the same rounded-distance argmin rule the cell assignment
    used, so routing is deterministic both engines); PQ's fixed-point
    integer ADC ranks ONLY the vectors in probed cells; exact cosine
    reranks the coarse_c survivors.

    This is the composition that scales: IVF cuts the scanned fraction
    to ~nprobe/n_cells, PQ cuts the bytes per scanned vector ~64x, and
    the rerank touches coarse_c full vectors per query — mirroring
    exactly how a 10^9-vector FAISS deployment is laid out, but as
    three DataFrame stages whose every intermediate is value-checked
    (cells, probes, codes, integer ADC scores, reranked cosines).

    A true neighbor in an unprobed cell is missed — that is IVF's
    documented recall/cost dial (nprobe = n_cells degenerates to
    pq_topk's full scan; then coarse_c = corpus degenerates to exact).

    Hot cells are bounded by ``cell_cap`` (cap_inverted_lists — the
    same discipline as ivf_topk).  The q_ivfpq_topk DuckDB oracle
    replays the UNCAPPED pipeline; that stays exact because the
    default cap (4096) cannot trip at fixture scale (cells of ~10^2
    members) — the cap is the 100 TB guard, not a fixture behavior.
    """
    if k < 1 or coarse_c < k:
        raise ValueError(f"need 1 <= k <= coarse_c, got k={k}, coarse_c={coarse_c}")
    if not (1 <= nprobe <= n_cells):
        raise ValueError(f"need 1 <= nprobe <= n_cells, got {nprobe}/{n_cells}")
    dsub = dim // m
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    # inverted lists: full-dim kmeans cells (assignment is map-only vs
    # the returned centroid literals — kmeans_lloyd's contract).
    # r6: the coarse quantizer and the PQ codebooks are trained on the
    # RAW vectors (by_residual=False), so the two trainings are
    # independent — overlap them (guide §2.6); values unchanged.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_cells = _pool.submit(
            kmeans_lloyd, embeddings, k=n_cells, rounds=rounds,
            vec_col=vec_col, id_col=id_col,
        )
        _f_pq = _pool.submit(
            pq_train_encode, embeddings, m=m, n_centroids=n_centroids,
            rounds=rounds, dim=dim, vec_col=vec_col, id_col=id_col,
        )
        cells, cell_cents = _f_cells.result()
        codes, codebooks = _f_pq.result()
    # the stored index: (vec_id, cell, code) — slim, no doubles;
    # over-cap cells thinned (no-op at fixture scale, see docstring)
    index = (
        cap_inverted_lists(
            codes.join(cells.withColumnRenamed("cluster", "cell"), "vec_id"),
            cell_cap,
            cell_col="cell",
        )
        .localCheckpoint(eager=True)
    )
    q = ev.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # probe: nprobe nearest cell centroids per query, the SAME rounded
    # rule as the cell assignment (array_sort of the (d, cid) structs
    # kmeans_lloyd takes the argmin of, one SQL expression over the
    # centroid literals, slice nprobe) — map-only, deterministic
    cell_choices = F.expr(f"array_sort({_choices_sql('qv', cell_cents)})")
    probes = F.broadcast(
        q.select(
            "qid",
            F.explode(F.slice(cell_choices, 1, nprobe)).alias("p"),
        ).select("qid", F.col("p.cid").alias("cell"))
    )
    lut_cells = _pq_lut_expr(codebooks, dsub)
    lut = F.broadcast(
        q.select("qid", F.explode(lut_cells).alias("cell")).select(
            "qid", "cell.j", "cell.cid", "cell.d2i"
        )
    )
    # scan only probed cells: the (qid, cell) semi-restriction rides
    # the broadcast probe join BEFORE the code explode
    scanned = index.join(probes, "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    adc = (
        scanned.select("qid", "vec_id", F.posexplode("code").alias("j", "cid"))
        .join(lut, ["qid", "j", "cid"])
        .groupBy("qid", F.col("vec_id").alias("nid"))
        .agg(F.sum("d2i").alias("adc"))
    )
    wc = W.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    cand = (
        adc.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= coarse_c)
        .select("qid", "nid")
    )
    exact = (
        cand.join(ev.select(F.col("vec_id").alias("nid"), "v"), "nid")
        .join(q, "qid")
        .select(
            "qid", "nid",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos"),
        )
    )
    wk = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        exact.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", "cos")
    )


def _ivfpq_oracle_sql(
    n_cells: int = 8,
    nprobe: int = 3,
    m: int = 4,
    n_centroids: int = 8,
    rounds: int = 2,
    coarse_c: int = 20,
    n_queries: int = 8,
    dim: int = 64,
    k: int = 5,
) -> str:
    """IVF-PQ replay: the full-dim kmeans chain (suffix _c) gives cells
    AND the probe centroids; per-subspace chains give codes; probes
    rank c{R-1}_c by the same rounded rule; ADC is the integer LUT sum
    restricted to probed cells; exact-cosine rerank."""
    dsub = dim // m
    sql = """
    WITH ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    sql += _kmeans_rounds_cte(n_cells, rounds, dim, suffix="_c", src="ev")
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        sql += f""",
    ev_s{j} AS MATERIALIZED (
      SELECT vec_id, v[{lo}:{hi}] AS v FROM ev
    )"""
        sql += _kmeans_rounds_cte(
            n_centroids, rounds, dsub, suffix=f"_s{j}", src=f"ev_s{j}"
        )
    sql += f""",
    qv AS (SELECT vec_id AS qid, v FROM ev WHERE vec_id < {n_queries}),
    probes AS (
      SELECT qid, cid AS cell FROM (
        SELECT q.qid, c.cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(list_distance(q.v, c.c), 8), c.cid
               ) AS rn
        FROM c{rounds - 1}_c c CROSS JOIN qv q
      ) WHERE rn <= {nprobe}
    ),
    lut AS ({" UNION ALL ".join(
        f'''
      SELECT q.qid, {j} AS j, c.cid,
             floor(list_reduce(
               list_transform(range(1, {dsub} + 1),
                 i -> (q.v[{j * dsub} + i] - c.c[i])
                      * (q.v[{j * dsub} + i] - c.c[i])),
               (a, b) -> a + b) * 100000000.0 + 0.5)::BIGINT AS d2i
      FROM c{rounds - 1}_s{j} c CROSS JOIN qv q'''
        for j in range(m)
    )}),
    codes AS ({" UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, cid FROM a{rounds}_s{j}"
        for j in range(m)
    )}),
    scanned AS (
      SELECT p.qid, a.vec_id
      FROM a{rounds}_c a JOIN probes p ON p.cell = a.cid
      WHERE a.vec_id <> p.qid
    ),
    adc AS (
      SELECT s.qid, s.vec_id AS nid, sum(l.d2i) AS adc
      FROM scanned s
      JOIN codes c ON c.vec_id = s.vec_id
      JOIN lut l ON l.qid = s.qid AND l.j = c.j AND l.cid = c.cid
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc ASC, nid ASC) AS rn
        FROM adc
      ) WHERE rn <= {coarse_c}
    ),
    exact AS (
      SELECT cand.qid, cand.nid,
             round(list_cosine_similarity(q.v, e.v), 4) AS cos
      FROM cand
      JOIN ev e ON e.vec_id = cand.nid
      JOIN qv q ON q.qid = cand.qid
    )
    SELECT qid, nid, cos FROM (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid ASC) AS rn
      FROM exact
    ) WHERE rn <= {k}
    """
    return sql


@register("q_ivfpq_topk", _ivfpq_oracle_sql(8, 3, 4, 8, 2, 20, 8, 64, 5))
def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ top-5 for the first 8 queries (8 cells, nprobe=3, m=4
    subspaces x 8 centroids): cell routing + fixed-point integer ADC
    within probed cells + exact rerank — the FAISS IndexIVFPQ layout
    as three value-checked DataFrame stages (the oracle replays five
    kmeans chains, the probe ranking, the restricted integer ADC, and
    the rerank cell for cell)."""
    e = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        e, k=5, n_cells=8, nprobe=3, m=4, n_centroids=8,
        rounds=2, coarse_c=20, n_queries=8,
    )
