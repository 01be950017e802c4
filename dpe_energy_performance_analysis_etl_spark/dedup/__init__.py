from dpe_energy_performance_analysis_etl_spark.dedup.exact import exact_dedup, exact_dup_groups
from dpe_energy_performance_analysis_etl_spark.dedup.shingles import word_shingles, shingle_pairs_jaccard
from dpe_energy_performance_analysis_etl_spark.dedup.minhash import minhash_signatures, minhash_lsh_pairs
from dpe_energy_performance_analysis_etl_spark.dedup.simhash import simhash_sig, simhash_near_dup_pairs
from dpe_energy_performance_analysis_etl_spark.dedup.embedding import embedding_near_dup_pairs
from dpe_energy_performance_analysis_etl_spark.dedup.cluster import connected_components, connected_components_star, dedup_clusters

__all__ = [
    "connected_components",
    "connected_components_star",
    "dedup_clusters",
    "exact_dedup",
    "exact_dup_groups",
    "word_shingles",
    "shingle_pairs_jaccard",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_sig",
    "simhash_near_dup_pairs",
    "embedding_near_dup_pairs",
]
