"""Graph operator suite (SURVEY.md §2.11) — plain DataFrame join+agg
supersteps; no GraphFrames/GraphX dependency."""

from sparkgatha.graph.degrees import degrees, in_degrees, out_degrees
from sparkgatha.graph.densest import densest_subgraph
from sparkgatha.graph.pagerank import pagerank
from sparkgatha.graph.cc import connected_components
from sparkgatha.graph.lpa import label_propagation
from sparkgatha.graph.triangles import clustering_coefficients, triangle_counts
from sparkgatha.graph.paths import pair_distance, shortest_paths
from sparkgatha.graph.power import (
    eigenvector_centrality,
    hits,
    katz_centrality,
    katz_l2,
)
from sparkgatha.graph.kcore import core_numbers, k_core
from sparkgatha.graph.linkpred import edge_similarity, link_prediction_features
from sparkgatha.graph.walks import biased_walks, random_walks
from sparkgatha.graph.betweenness import betweenness
from sparkgatha.graph.scc import condensation, strongly_connected_components
from sparkgatha.graph.neighborhood import (
    closeness_centrality,
    harmonic_centrality,
    hop_neighborhood_exact,
    neighborhood_function,
)
from sparkgatha.graph.matching import maximal_matching, vertex_cover
from sparkgatha.graph.mis import luby_coloring, maximal_independent_set
from sparkgatha.graph.mst import minimum_spanning_forest, msf_total_weight
from sparkgatha.graph.stats import (
    degree_assortativity,
    modularity,
    reciprocity,
    transitivity,
)
from sparkgatha.graph.truss import k_truss

__all__ = [
    "degrees",
    "in_degrees",
    "out_degrees",
    "pagerank",
    "connected_components",
    "label_propagation",
    "triangle_counts",
    "clustering_coefficients",
    "biased_walks",
    "random_walks",
    "betweenness",
    "shortest_paths",
    "pair_distance",
    "hits",
    "katz_centrality",
    "katz_l2",
    "closeness_centrality",
    "transitivity",
    "reciprocity",
    "maximal_matching",
    "vertex_cover",
    "densest_subgraph",
    "eigenvector_centrality",
    "k_core",
    "core_numbers",
    "link_prediction_features",
    "edge_similarity",
    "strongly_connected_components",
    "condensation",
    "hop_neighborhood_exact",
    "harmonic_centrality",
    "neighborhood_function",
    "maximal_independent_set",
    "luby_coloring",
    "minimum_spanning_forest",
    "msf_total_weight",
    "degree_assortativity",
    "modularity",
    "k_truss",
]
