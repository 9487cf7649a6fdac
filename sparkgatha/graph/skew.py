"""G10 — hot-source mirroring for the shuffle-strategy layouts
(SURVEY.md §2.11 G10).

Reference analog: AGATHA's hub terms (ubiquitous lemmas / common code
identifiers in the graft) are super-nodes; the reference controls them
*semantically* with frequency cutoffs before graph construction
(SURVEY.md §4.1) — extract.extract_cooccurrence_edges(max_df=...) keeps
that lever.  At 10^12-file scale cutoffs alone don't suffice, so the
north rule adds *mechanical* mitigation: "degree-skew hot vertices are
split via high-degree vertex mirroring before the shuffle".

:func:`split_hot_srcs` is that mitigation for the shuffle strategies of
PageRank and LPA, whose edges are laid out hash(src): a hot SOURCE
vertex's edges are salted across all partitions by a row-content hash,
the cold remainder stays hash(src), and each superstep joins the salted
edges against a broadcast of just the hot sources' state rows.  The
algebra is exact — per-src sums are unchanged, only the partition
placement differs (results identical with skew handling on or off —
test layer L7).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

log = logging.getLogger(__name__)

#: mirrored-hot-vertex cap per run (G10): vertices beyond it fall back to
#: the straggler path — logged, never silent (each mirrored vertex costs
#: (#hot x P) combine rows per superstep, so the cap bounds that exchange)
HOT_MIRROR_CAP = 10_000


@dataclass
class HotSrcSplit:
    """Result of :func:`split_hot_srcs` — the shuffle-strategy G10
    layout shared by PageRank and LPA."""

    cold: DataFrame                 # hash(src) layout, persisted
    hot: DataFrame | None           # (src, salt) layout, persisted
    hot_srcs: DataFrame | None      # ≤HOT_MIRROR_CAP rows (src)
    hot_w: DataFrame | None         # (src, out_w) for the hot set
    n_edges: int
    hot_threshold: int


def split_hot_srcs(
    pre: DataFrame,
    num_partitions: int,
    hot_threshold: int | None = None,
    map_cold=None,
    map_hot=None,
    persist_input: bool | None = None,
) -> HotSrcSplit:
    """Shuffle-strategy G10 treatment, shared by PageRank and LPA (was
    duplicated line-for-line; one copy keeps the threshold rule, cap
    handling, and salt formula in sync).

    Detects hot SOURCE vertices (out-degree > threshold, default
    edges/partitions/4 with a 16384 floor, capped at :data:`HOT_MIRROR_CAP`
    with a logged warning), salts their edges across all partitions via
    ``pmod(xxhash64(src,dst,weight), P)``, hash(src)-partitions the cold
    remainder, and persists+materializes both layouts.

    ``pre`` (src, dst, weight) is persisted HERE before the stats and
    layout builds (it used to be re-scanned up to 4x when the caller
    passed raw lineage) and released once the layouts are materialized —
    UNLESS ``persist_input=False``, where the caller vouches the lineage
    is cheap (a projection of a cached table) and accepts the ~4 scans.
    A frame the caller already persisted is never unpersisted here.

    ``map_cold(df)`` / ``map_hot(df, hot_w)`` transform each branch
    AFTER its repartition but BEFORE the persist, so per-row derivations
    (PageRank's weight normalization) are computed once into the cached
    layout, not per superstep — and the partition-local window a
    map_cold may use sees the final hash(src) layout.
    """
    spark = pre.sparkSession
    # persist the input before the 3 passes below UNLESS the caller says
    # its lineage is already cheap (e.g. a projection of a cached table
    # — persisting that would duplicate the edge set in memory).  Never
    # take ownership of a frame the caller persisted itself: persist()
    # would no-op and the exit unpersist would drop THEIR cache.
    owned = (
        persist_input is not False
        and pre.storageLevel == StorageLevel.NONE
    )
    if owned:
        pre = pre.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = pre.count()
    if hot_threshold is None:
        hot_threshold = max(n_edges // num_partitions // 4, 16384)
    hot_rows = (
        pre.groupBy("src")
        .agg(F.sum("weight").alias("out_w"), F.count("*").alias("outd"))
        .filter(F.col("outd") > hot_threshold)
        .orderBy(F.col("outd").desc())
        .select("src", "out_w")
        .limit(HOT_MIRROR_CAP + 1)
        .collect()
    )
    if len(hot_rows) > HOT_MIRROR_CAP:
        hot_rows = hot_rows[:HOT_MIRROR_CAP]
        log.warning(
            "G10/shuffle: more than %d srcs exceed the hot threshold %d; "
            "salting only the %d highest-out-degree ones — the rest take "
            "the plain hash(src) path (raise hot_threshold or the cap if "
            "stragglers appear)",
            HOT_MIRROR_CAP, hot_threshold, HOT_MIRROR_CAP,
        )
    ident = lambda df: df  # noqa: E731
    map_cold = map_cold or ident
    if hot_rows:
        hot_w = spark.createDataFrame(hot_rows)  # (src, out_w), ≤ cap rows
        hot_srcs = hot_w.select("src")
        salt = F.pmod(F.xxhash64("src", "dst", "weight"), F.lit(num_partitions))
        hot = pre.join(F.broadcast(hot_srcs), "src", "left_semi").repartition(
            num_partitions, F.col("src"), salt
        )
        hot = (map_hot(hot, hot_w) if map_hot else hot).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cold = map_cold(
            pre.join(F.broadcast(hot_srcs), "src", "left_anti")
            .repartition(num_partitions, "src")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        hot.count()
    else:
        hot = hot_srcs = hot_w = None
        cold = map_cold(
            pre.repartition(num_partitions, "src")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    cold.count()
    if owned:
        pre.unpersist()
    return HotSrcSplit(cold, hot, hot_srcs, hot_w, n_edges, hot_threshold)
