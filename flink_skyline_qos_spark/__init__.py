"""flink_skyline_qos_spark — a PySpark-native streaming/batch skyline
(Pareto-frontier) analytics engine with the query capabilities of the
reference Flink engine (Asterinos1/Flink-Skyline-QoS), re-expressed
Spark-first, plus the large-scale data-pipeline operators (dedup,
similarity search, text analysis) such an engine needs at 100 TB.
"""

from .functions.dominance import (
    dominance_sql,
    dominates,
    skyline_not_exists_sql,
)
from .operators.partitioners import (
    mr_angle,
    mr_dim,
    mr_grid,
    partitioner_expr,
    partitioner_sql,
)
from .operators.skyline import (
    grouped_skyline,
    skyline,
    skyline_2d_window,
    skyline_anti_join,
    skyline_two_phase,
)
from .operators.variants import (
    dynamic_skyline,
    reverse_skyline,
    epsilon_skyline,
    grid_prefilter,
    k_dominant_skyline,
    k_skyband,
    skycube,
    thick_skyline,
    top_k_dominating,
)
from .operators.sketches import (
    histogram_quantiles,
    hll_distinct,
)
from .functions.corpus import (
    chunk_documents,
    contamination_check,
    pack_sequences,
    rarity_score,
    remove_boilerplate_lines,
    tfidf_top_terms,
)
from .session import get_spark

__all__ = [
    "dominates", "dominance_sql", "skyline_not_exists_sql",
    "mr_dim", "mr_grid", "mr_angle", "partitioner_expr", "partitioner_sql",
    "skyline", "skyline_two_phase", "skyline_anti_join",
    "grouped_skyline", "skyline_2d_window",
    "grid_prefilter", "k_dominant_skyline", "top_k_dominating",
    "k_skyband", "skycube", "dynamic_skyline", "reverse_skyline",
    "epsilon_skyline",
    "thick_skyline",
    "hll_distinct", "histogram_quantiles",
    "chunk_documents", "pack_sequences", "contamination_check",
    "tfidf_top_terms", "remove_boilerplate_lines", "rarity_score",
    "get_spark",
]
