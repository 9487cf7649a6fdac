"""spark-submit entry point (north rule: "ships via spark-submit
--py-files").

    spark-submit --py-files sparkgatha.zip -m sparkgatha construct \
        --corpus /data/corpus --out /data/graph [--max-df 0.5]
    spark-submit ... pagerank --graph /data/graph --out /data/ranks \
        [--checkpoint-dir /data/ckpt --resume]
    spark-submit ... query --graph /data/graph --a join --b filter

Reference analog: ``python -m agatha.construct`` / ``python -m
agatha.topic_query`` (SURVEY.md §3.1–3.2); protobuf configs are plain
argparse + dataclasses here (SURVEY.md §1.3).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="sparkgatha")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("construct", help="build the co-occurrence graph")
    c.add_argument("--corpus", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--text-col", default="content")
    c.add_argument("--fmt", default="parquet", choices=("parquet", "iceberg"))
    c.add_argument("--max-df", type=float, default=None)
    c.add_argument("--min-weight", type=float, default=0.0)
    c.add_argument("--weight-mode", default="count", choices=("count", "idf"))
    c.add_argument("--embeddings", default=None,
                   help="parquet (vec_id, embedding) → kNN similarity edges")
    c.add_argument("--knn-k", type=int, default=5)
    c.add_argument("--partitions", type=int, default=32)
    c.add_argument("--max-terms-per-doc", type=int, default=None,
                   help="per-doc distinct-term cap (default: the "
                        "ConstructConfig 1024 guard; 0 disables)")
    c.add_argument("--untyped-nodes", action="store_true",
                   help="build raw (pre-entity_types) node keys")
    c.add_argument("--force", action="store_true")

    p = sub.add_parser("pagerank", help="PageRank over a built graph")
    p.add_argument("--graph", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--alpha", type=float, default=0.85)
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--checkpoint-every", type=int, default=1)
    p.add_argument("--check-every", type=int, default=1,
                   help="fuse this many supersteps per Spark job")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--strategy", default="auto",
                   choices=("auto", "broadcast", "shuffle"))

    for name, helptext in (
        ("cc", "connected components over a built graph"),
        ("lpa", "label propagation over a built graph"),
    ):
        g = sub.add_parser(name, help=helptext)
        g.add_argument("--graph", required=True)
        g.add_argument("--out", required=True)
        g.add_argument("--max-iter", type=int, default=None if name == "cc" else 20)
        g.add_argument("--partitions", type=int, default=32)
        g.add_argument("--checkpoint-dir", default=None)
        g.add_argument("--resume", action="store_true")

    q = sub.add_parser("query", help="two-term topic query")
    q.add_argument("--graph", required=True)
    q.add_argument("--a", required=True)
    q.add_argument("--b", required=True)
    q.add_argument("--max-hops", type=int, default=20)
    q.add_argument("--distance-only", action="store_true",
                   help="meet-in-the-middle pair distance only (skips "
                        "the neighborhood/ranking stages)")

    tr = sub.add_parser(
        "topicrank",
        help="personalized-PageRank term ranking around seed terms",
    )
    tr.add_argument("--graph", required=True)
    tr.add_argument("--terms", required=True,
                    help="comma-separated seed terms")
    tr.add_argument("--top-k", type=int, default=50)
    tr.add_argument("--alpha", type=float, default=0.85)

    w = sub.add_parser(
        "walks",
        help="deterministic random-walk corpus export (DeepWalk-style "
             "training sequences; hash-rule next hop, no RNG state)",
    )
    w.add_argument("--graph", required=True)
    w.add_argument("--out", required=True)
    w.add_argument("--length", type=int, default=40)
    w.add_argument("--walks-per-vertex", type=int, default=1)
    w.add_argument("--seed", type=int, default=0)
    w.add_argument(
        "--p", type=float, default=None,
        help="node2vec return parameter (with --q switches to "
             "second-order biased walks; powers of two keep the rule "
             "engine-exact)",
    )
    w.add_argument(
        "--q", type=float, default=None,
        help="node2vec in-out parameter (see --p)",
    )
    w.add_argument(
        "--weighted", action="store_true",
        help="sample the next hop proportional to edge weight "
             "(first-order; incompatible with --p/--q)",
    )

    pr = sub.add_parser(
        "profile",
        help="per-vertex topology profile: degree, triangle count, "
             "local clustering coefficient",
    )
    pr.add_argument("--graph", required=True)
    pr.add_argument("--out", required=True)

    bb = sub.add_parser(
        "backbone",
        help="minimum-spanning-forest backbone export (Borůvka over "
             "inverse co-occurrence weights: the strong-association "
             "skeleton / single-linkage tree)",
    )
    bb.add_argument("--graph", required=True)
    bb.add_argument("--out", required=True)

    mi = sub.add_parser(
        "mis",
        help="maximal-independent-set representative thinning "
             "(deterministic Luby; no two selected terms adjacent)",
    )
    mi.add_argument("--graph", required=True)
    mi.add_argument("--out", required=True)
    mi.add_argument("--seed", type=int, default=0)

    pk = sub.add_parser(
        "pack",
        help="training-sequence packing export (chunks = GPT-style "
             "concat-and-cut, a doc may straddle chunks; bins = "
             "T5-style next-fit, whole docs only)",
    )
    pk.add_argument("--corpus", required=True)
    pk.add_argument("--out", required=True)
    pk.add_argument("--mode", default="chunks", choices=("chunks", "bins"))
    pk.add_argument("--capacity", type=int, default=2048)
    pk.add_argument("--shards", type=int, default=32)
    pk.add_argument("--text-col", default="content")
    pk.add_argument("--id-col", default="path")

    lv = sub.add_parser(
        "louvain",
        help="Louvain modularity-gain local-move round (community "
             "seeding: per-vertex best move from singletons)",
    )
    lv.add_argument("--graph", required=True)
    lv.add_argument("--out", required=True)
    lv.add_argument("--levels", type=int, default=0,
                    help="run full multi-level Louvain (move + contract "
                         "per level) instead of the single seeding "
                         "round; writes (key, community_key)")

    an = sub.add_parser(
        "ann",
        help="approximate-nearest-neighbor export over an embeddings "
             "parquet (vec_id, embedding)",
    )
    an.add_argument("--embeddings", required=True)
    an.add_argument("--out", required=True)
    an.add_argument("--method", default="lsh",
                    choices=("lsh", "ivf", "sq8", "pq", "ivfpq"))
    an.add_argument("--k", type=int, default=5)
    an.add_argument("--dim", type=int, default=64)
    an.add_argument("--queries", type=int, default=100,
                    help="sq8/pq/ivfpq score the first N vec_ids as "
                         "queries; lsh/ivf run all-vs-all")

    ce = sub.add_parser(
        "centrality",
        help="eigenvector centrality export ((A + I) power iteration, "
             "NetworkX semantics, L1-normalized); raises if --tol is not "
             "met within --max-iter rounds",
    )
    ce.add_argument("--graph", required=True)
    ce.add_argument("--out", required=True)
    ce.add_argument("--tol", type=float, default=1e-8)
    ce.add_argument("--max-iter", type=int, default=100)
    ce.add_argument("--unweighted", action="store_true")

    pz = sub.add_parser(
        "package",
        help="build the spark-submit --py-files archive of this package "
             "(no Spark session needed)",
    )
    pz.add_argument("--out", default="sparkgatha.zip")

    sq = sub.add_parser(
        "sql",
        help="ANSI SQL over the fixture tables (region nation customer "
             "supplier part orders lineitem events documents embeddings "
             "registered as views); --out writes parquet, otherwise the "
             "first --limit rows print as JSON lines",
    )
    sq.add_argument("--sf-dir", required=True)
    sq.add_argument("--query", required=True)
    sq.add_argument("--out", default=None)
    sq.add_argument("--limit", type=int, default=20)

    args = ap.parse_args(argv)

    if args.cmd == "package":
        from sparkgatha.packaging import build_pyfiles_zip

        n = build_pyfiles_zip(args.out)
        print(json.dumps({"archive": args.out, "files": n}))
        return 0

    from pyspark.sql import SparkSession

    from sparkgatha.session import get_spark

    pre_existing = SparkSession.getActiveSession()
    spark = get_spark(f"sparkgatha-{args.cmd}")

    if args.cmd == "construct":
        from sparkgatha.construct import ConstructConfig, build_graph

        cfg = ConstructConfig(
            corpus_path=args.corpus,
            out_dir=args.out,
            text_col=args.text_col,
            fmt=args.fmt,
            max_df=args.max_df,
            min_weight=args.min_weight,
            weight_mode=args.weight_mode,
            embeddings_path=args.embeddings,
            knn_k=args.knn_k,
            num_partitions=args.partitions,
            force=args.force,
            typed_nodes=not args.untyped_nodes,
        )
        if args.max_terms_per_doc is not None:
            cfg.max_terms_per_doc = (
                None if args.max_terms_per_doc == 0 else args.max_terms_per_doc
            )
        r = build_graph(spark, cfg)
        print(json.dumps({
            "edges": r.n_edges, "nodes": r.n_nodes,
            "sim_edges": r.n_sim_edges,
            "adjacency": r.adjacency_path, "skipped": r.skipped,
        }))

    elif args.cmd == "pagerank":
        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.pagerank import pagerank

        nodes, edges = load_adjacency(spark, args.graph)
        r = pagerank(
            edges,
            alpha=args.alpha,
            tol=args.tol,
            max_iter=args.max_iter,
            num_partitions=args.partitions,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
            resume=args.resume,
            strategy=args.strategy,
            check_every=args.check_every,
        )
        out = r.ranks.join(nodes, r.ranks.vertex == nodes.id).select("key", "rank")
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "iterations": r.iterations, "converged": r.converged,
            "n_vertices": r.n_vertices, "n_edges": r.n_edges,
            "strategy": r.strategy,
            "deltas": [round(d, 10) for d in r.deltas[-3:]],
        }))

    elif args.cmd in ("cc", "lpa"):
        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.cc import connected_components
        from sparkgatha.graph.lpa import label_propagation

        nodes, edges = load_adjacency(spark, args.graph)
        if args.cmd == "cc":
            labels = connected_components(
                edges, max_iter=args.max_iter,
                checkpoint_dir=args.checkpoint_dir, resume=args.resume,
            ).withColumnRenamed("component", "label")
        else:
            labels = label_propagation(
                edges, max_iter=args.max_iter,
                num_partitions=args.partitions,
                checkpoint_dir=args.checkpoint_dir, resume=args.resume,
            )
        out = labels.join(nodes, labels.vertex == nodes.id).select("key", "label")
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "vertices": out.count(),
            "groups": out.select("label").distinct().count(),
        }))

    elif args.cmd == "query":
        from sparkgatha.construct import load_adjacency
        from sparkgatha.query import topic_query

        nodes, edges = load_adjacency(spark, args.graph)
        if args.distance_only:
            from pyspark.sql import functions as F

            from sparkgatha.graph.paths import pair_distance
            from sparkgatha.query import _term_id

            ia = _term_id(nodes, args.a)
            ib = _term_id(nodes, args.b)
            if ia is None or ib is None:
                raise KeyError(
                    f"unknown term(s): {args.a if ia is None else args.b}"
                )
            inv = edges.select(
                "src", "dst", (F.lit(1.0) / F.col("weight")).alias("weight")
            )
            d = pair_distance(inv, ia, ib, max_iter=args.max_hops)
            print(json.dumps({"a": args.a, "b": args.b, "distance": d}))
            if pre_existing is None:
                spark.stop()
            return 0
        r = topic_query(spark, nodes, edges, args.a, args.b, args.max_hops)
        top = [
            {"key": x["key"], "detour": x["detour"]}
            for x in r.ranked_terms.limit(15).collect()
        ]
        print(json.dumps({
            "a": r.term_a, "b": r.term_b, "distance": r.distance,
            "near_path_terms": top,
        }))

    elif args.cmd == "topicrank":
        from sparkgatha.construct import load_adjacency
        from sparkgatha.query import topic_rank

        nodes, edges = load_adjacency(spark, args.graph)
        terms = [t for t in args.terms.split(",") if t]
        out = topic_rank(
            spark, nodes, edges, terms, alpha=args.alpha, top_k=args.top_k
        )
        print(json.dumps({
            "terms": terms,
            "ranked": [
                {"key": r["key"], "rank": round(r["rank"], 10)}
                for r in out.collect()
            ],
        }))

    elif args.cmd == "walks":
        from pyspark.sql import functions as F

        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.walks import (
            biased_walks,
            random_walks,
            weighted_walks,
        )

        nodes, edges = load_adjacency(spark, args.graph)
        if (args.p is None) != (args.q is None):
            raise SystemExit("walks: --p and --q must be given together")
        if args.weighted and args.p is not None:
            raise SystemExit("walks: --weighted is incompatible with --p/--q")
        if args.weighted:
            hops = weighted_walks(
                edges,
                length=args.length,
                walks_per_vertex=args.walks_per_vertex,
                seed=args.seed,
            )
        elif args.p is not None:
            hops = biased_walks(
                edges,
                length=args.length,
                p=args.p,
                q=args.q,
                walks_per_vertex=args.walks_per_vertex,
                seed=args.seed,
            )
        else:
            hops = random_walks(
                edges,
                length=args.length,
                walks_per_vertex=args.walks_per_vertex,
                seed=args.seed,
            )
        # corpus shape: one row per walk, the term sequence in step order
        # (array_sort on (step, key) structs orders by step)
        seqs = (
            hops.join(nodes, hops.vertex == nodes.id)
            .groupBy("walk_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("step", "key"))
                ).alias("s")
            )
            .select(
                "walk_id",
                F.transform("s", lambda x: x["key"]).alias("terms"),
            )
        )
        seqs.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        stats = written.agg(
            F.count("*").alias("walks"),
            F.avg(F.size("terms")).alias("avg_len"),
        ).collect()[0]
        print(json.dumps({
            "walks": stats["walks"],
            "avg_len": round(float(stats["avg_len"]), 3),
            "length": args.length,
            "seed": args.seed,
        }))

    elif args.cmd == "profile":
        from pyspark.sql import functions as F

        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.degrees import out_degrees
        from sparkgatha.graph.triangles import triangle_profile

        nodes, edges = load_adjacency(spark, args.graph)
        # the stored adjacency is symmetrized (construct.py phase 3), so
        # out-degree IS the undirected degree — the same denominator the
        # clustering coefficient uses; degrees() would double-count.
        # triangle_profile runs the O(m^1.5) wedge join ONCE for both
        # the counts and the coefficients.
        prof = (
            out_degrees(edges)
            .withColumnRenamed("out_degree", "degree")
            .drop("out_weight")
            .join(triangle_profile(edges), "vertex", "left")
            .join(nodes, F.col("vertex") == nodes.id)
            .select(
                "key",
                "degree",
                F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
                F.coalesce("clustering", F.lit(0.0)).alias("clustering"),
            )
        )
        prof.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        stats = written.agg(
            F.count("*").alias("vertices"),
            F.avg("clustering").alias("avg_clustering"),
            (F.sum("n_triangles") / 3).alias("triangles"),
        ).collect()[0]
        print(json.dumps({
            "vertices": stats["vertices"],
            "avg_clustering": round(float(stats["avg_clustering"]), 6),
            "triangles": int(stats["triangles"]),
        }))

    elif args.cmd == "backbone":
        from pyspark.sql import functions as F

        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.mst import minimum_spanning_forest

        nodes, edges = load_adjacency(spark, args.graph)
        inv = edges.select(
            "src", "dst", (F.lit(1.0) / F.col("weight")).alias("weight")
        )
        forest = minimum_spanning_forest(inv)
        ku = nodes.select(F.col("id").alias("u"), F.col("key").alias("key_u"))
        kv = nodes.select(F.col("id").alias("v"), F.col("key").alias("key_v"))
        out = forest.join(ku, "u").join(kv, "v").select(
            "key_u", "key_v", "weight"
        )
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        stats = written.agg(
            F.count("*").alias("edges"), F.sum("weight").alias("total_w")
        ).collect()[0]
        print(json.dumps({
            "forest_edges": stats["edges"],
            "total_weight": round(float(stats["total_w"] or 0.0), 6),
        }))

    elif args.cmd == "mis":
        from pyspark.sql import functions as F

        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.mis import maximal_independent_set

        nodes, edges = load_adjacency(spark, args.graph)
        mis = maximal_independent_set(edges, seed=args.seed)
        out = mis.join(nodes, mis.vertex == nodes.id).select("key", "round")
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        stats = written.agg(
            F.count("*").alias("members"), F.max("round").alias("rounds")
        ).collect()[0]
        print(json.dumps({
            "members": stats["members"],
            "rounds": int(stats["rounds"] or 0),
            "seed": args.seed,
        }))

    elif args.cmd == "pack":
        from pyspark.sql import functions as F

        from sparkgatha.io import CorpusIO
        from sparkgatha.textan import pack_bins, pack_chunks

        docs = CorpusIO().read(spark, args.corpus)
        fn = pack_chunks if args.mode == "chunks" else pack_bins
        out = fn(
            docs, capacity=args.capacity, n_shards=args.shards,
            text_col=args.text_col, id_col=args.id_col,
        )
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        unit = "chunk" if args.mode == "chunks" else "bin"
        stats = written.agg(
            F.count("*").alias("rows"),
            F.countDistinct("shard", unit).alias("units"),
        ).collect()[0]
        print(json.dumps({
            "mode": args.mode, "capacity": args.capacity,
            "rows": stats["rows"], "units": stats["units"],
        }))

    elif args.cmd == "louvain":
        from pyspark.sql import functions as F

        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.louvain import louvain_move_round

        nodes, edges = load_adjacency(spark, args.graph)
        # the stored adjacency is symmetrized; the move round wants the
        # canonical undirected list (it re-symmetrizes internally)
        und = edges.filter(F.col("src") < F.col("dst"))
        if args.levels > 0:
            from sparkgatha.graph.louvain import louvain

            comm = louvain(und, max_levels=args.levels)
            ku = nodes.select(F.col("id").alias("vertex"), "key")
            kc = nodes.select(
                F.col("id").alias("community"),
                F.col("key").alias("community_key"),
            )
            out = comm.join(ku, "vertex").join(kc, "community").select(
                "key", "community_key"
            )
            out.write.mode("overwrite").parquet(args.out)
            written = spark.read.parquet(args.out)
            stats = written.agg(
                F.count("*").alias("vertices"),
                F.countDistinct("community_key").alias("communities"),
            ).collect()[0]
            print(json.dumps({
                "op": "louvain", "levels": args.levels,
                "vertices": stats["vertices"],
                "communities": stats["communities"], "out": args.out,
            }))
        else:
            moves = louvain_move_round(und)
            ku = nodes.select(
                F.col("id").alias("vertex"), F.col("key").alias("key")
            )
            kv = nodes.select(
                F.col("id").alias("move_to"), F.col("key").alias("move_to_key")
            )
            out = moves.join(ku, "vertex").join(kv, "move_to").select(
                "key", "move_to_key", "gain"
            )
            out.write.mode("overwrite").parquet(args.out)
            written = spark.read.parquet(args.out)
            stats = written.agg(
                F.count("*").alias("vertices"),
                F.sum(
                    (F.col("key") != F.col("move_to_key")).cast("long")
                ).alias("moved"),
            ).collect()[0]
            print(json.dumps({
                "vertices": stats["vertices"],
                "moved": int(stats["moved"] or 0),
            }))

    elif args.cmd == "sql":
        from sparkgatha.io import register_views

        register_views(spark, args.sf_dir)
        res = spark.sql(args.query)
        if args.out:
            res.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"op": "sql", "rows": n, "out": args.out}))
        else:
            for row in res.limit(args.limit).collect():
                print(json.dumps(row.asDict(), default=str))

    elif args.cmd == "ann":
        from sparkgatha.similarity import (
            ann_topk, ivf_topk, ivfpq_topk, pq_topk, sq8_topk,
        )

        e = spark.read.parquet(args.embeddings)
        if args.method == "lsh":
            out = ann_topk(e, k=args.k, dim=args.dim)
        elif args.method == "ivf":
            out = ivf_topk(e, k=args.k, dim=args.dim)
        elif args.method == "sq8":
            out = sq8_topk(e, k=args.k, dim=args.dim, n_queries=args.queries,
                           coarse_c=max(20, 4 * args.k))
        elif args.method == "pq":
            out = pq_topk(e, k=args.k, dim=args.dim, n_queries=args.queries,
                          coarse_c=max(20, 4 * args.k))
        else:
            out = ivfpq_topk(e, k=args.k, dim=args.dim,
                             n_queries=args.queries,
                             coarse_c=max(20, 4 * args.k))
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "method": args.method, "k": args.k,
            "pairs": spark.read.parquet(args.out).count(),
        }))

    elif args.cmd == "centrality":
        from pyspark.sql import functions as F

        from sparkgatha.construct import load_adjacency
        from sparkgatha.graph.power import eigenvector_centrality

        nodes, edges = load_adjacency(spark, args.graph)
        r = eigenvector_centrality(
            edges,
            max_iter=args.max_iter,
            tol=args.tol,
            weighted=not args.unweighted,
        )
        out = (
            r.scores.join(nodes, r.scores.vertex == nodes.id)
            .select("key", "score")
        )
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "vertices": spark.read.parquet(args.out).count(),
            "iterations": r.iterations,
            "delta": r.delta,
        }))

    if pre_existing is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
