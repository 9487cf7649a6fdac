"""G10 — degree-skew hot vertices split before the shuffle (SURVEY.md
§2.11 G10).

Reference analog: AGATHA's hub terms (ubiquitous lemmas / common code
identifiers in the graft) are super-nodes; the reference controls them
*semantically* with frequency cutoffs before graph construction
(SURVEY.md §4.1) — extract.extract_cooccurrence_edges(max_df=...) keeps
that lever.  At 10^12-file scale cutoffs alone don't suffice, so the
north rule adds *mechanical* mitigation: "degree-skew hot vertices are
split via high-degree vertex mirroring before the shuffle".

The policy, stated once here (the PageRank and LPA docstrings point
here):

* **Strategy.**  ``'auto'`` resolves to ``'broadcast'`` while the
  per-vertex state fits a broadcast (at most
  :data:`BROADCAST_MAX_VERTICES` vertices), else to ``'shuffle'``
  (:func:`resolve_strategy`).
* **Which layouts split.**  An edge layout hash-partitioned on one
  endpoint, the partition *key*, parks a hot key's whole edge list in
  one partition.  Three layouts split their hot keys:

  - PageRank ``broadcast`` (key ``dst``): a hot dst's in-edges are
    mirrored across all partitions, and the superstep recombines their
    per-partition partial sums through a (#hot x P)-row exchange;
  - PageRank and LPA ``shuffle`` (key ``src``): a hot src's out-edges
    are salted across all partitions, and each superstep joins them
    against a broadcast of just the hot srcs' state rows, so they never
    re-shuffle.

  LPA ``broadcast`` (hash(dst)) is not split.
* **Threshold.**  A key is hot when it has more than
  :func:`hot_threshold` edges: a quarter of an even partition's share,
  and at least 16384.
* **Cap.**  At most :data:`HOT_MIRROR_CAP` keys are split, highest
  degree first; beyond it a warning is logged and the rest take the
  plain hash(key) path.  Each split key costs (#hot x P) combine rows
  per superstep, so the cap bounds that exchange.
* **Salt.**  ``pmod(xxhash64(src, dst, weight), P)``: the row content,
  not the other endpoint, because that endpoint is itself Zipf-skewed
  (a hot dst's in-edges can share one hub src).  Deterministic.
* **Layouts.**  :func:`hot_keys` finds the hot keys; :func:`salted_layout`
  builds ``map_cold((pre ⋈anti hot).repartition(P, key))`` and
  ``map_hot((pre ⋈semi hot).repartition(P, key, salt))``, persists both
  and counts them at the same time.  The maps are the caller's per-row
  derivations (PageRank's weight normalization), computed once into the
  cached layout.  The split never persists or releases its input: the
  caller owns it.

The algebra is exact: per-key sums are unchanged, only the partition
placement differs (results identical with the split on or off — test
layer L7).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgatha.util import concurrently

log = logging.getLogger(__name__)

#: split-key cap per run (see the module policy)
HOT_MIRROR_CAP = 10_000

#: above this vertex count the per-vertex state stops being broadcastable
BROADCAST_MAX_VERTICES = 20_000_000


def resolve_strategy(strategy: str, n_vertices: int) -> str:
    """``strategy`` with ``'auto'`` resolved by the vertex count."""
    if strategy != "auto":
        return strategy
    return "broadcast" if n_vertices <= BROADCAST_MAX_VERTICES else "shuffle"


def hot_threshold(n_edges: int, num_partitions: int) -> int:
    """The edge count above which a key is hot."""
    return max(n_edges // num_partitions // 4, 16384)


def hot_keys(
    pre: DataFrame, key: str, num_partitions: int, n_edges: int,
    *aggs: Column,
) -> DataFrame | None:
    """The hot ``key`` values of ``pre`` (``n_edges`` rows), highest
    degree first and at most :data:`HOT_MIRROR_CAP` of them, with the
    caller's per-key ``aggs`` — or None when no key is hot."""
    threshold = hot_threshold(n_edges, num_partitions)
    top = (
        pre.groupBy(key)
        .agg(*aggs, F.count("*").alias("_deg"))
        .filter(F.col("_deg") > threshold)
        .orderBy(F.col("_deg").desc())
        .drop("_deg")
    )
    rows = top.limit(HOT_MIRROR_CAP + 1).collect()
    if len(rows) > HOT_MIRROR_CAP:
        rows = rows[:HOT_MIRROR_CAP]
        log.warning(
            "G10: more than %d %s vertices exceed the hot threshold %d; "
            "splitting only the %d highest-degree ones — the rest take "
            "the plain hash(%s) path (raise HOT_MIRROR_CAP if stragglers "
            "appear)",
            HOT_MIRROR_CAP, key, threshold, HOT_MIRROR_CAP, key,
        )
    if not rows:
        return None
    # a broadcast anti/semi join against this frame, not an IN-list
    # literal, keeps the plan size flat at HOT_MIRROR_CAP
    return pre.sparkSession.createDataFrame(rows, top.schema)


@dataclass
class SaltedLayout:
    """Result of :func:`salted_layout`."""

    cold: DataFrame         # hash(key) layout, persisted
    hot: DataFrame | None   # hash(key, salt) layout of the hot keys' edges
    n_edges: int            # rows of both, from their materializing counts


def _same(df: DataFrame) -> DataFrame:
    return df


def salted_layout(
    pre: DataFrame,
    key: str,
    num_partitions: int,
    hot: DataFrame | None,
    map_cold=_same,
    map_hot=_same,
) -> SaltedLayout:
    """Lay ``pre`` (src, dst, weight) out by ``key``, the keys in
    ``hot`` (a :func:`hot_keys` frame) salted, and materialize both
    layouts at the same time.  ``map_cold`` / ``map_hot`` run after the
    repartition and before the persist, so a partition-local window in
    ``map_cold`` sees the final hash(key) layout."""
    if hot is None:
        cold = map_cold(pre.repartition(num_partitions, key)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return SaltedLayout(cold, None, cold.count())
    keys = F.broadcast(hot.select(key))
    salt = F.pmod(F.xxhash64("src", "dst", "weight"), F.lit(num_partitions))
    cold = map_cold(
        pre.join(keys, key, "left_anti").repartition(num_partitions, key)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    salted = map_hot(
        pre.join(keys, key, "left_semi")
        .repartition(num_partitions, F.col(key), salt)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # two independent cache builds over disjoint rows: the smaller one
    # rides in the larger one's scheduling tail; cached bytes identical
    n_cold, n_hot = concurrently(pre.sparkSession, cold.count, salted.count)
    return SaltedLayout(cold, salted, n_cold + n_hot)
