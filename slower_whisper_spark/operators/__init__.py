from slower_whisper_spark.operators.dedup import (
    connected_components,
    drop_exact_duplicates,
    exact_duplicate_groups,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures_df,
    neardup_clusters,
    simhash_near_duplicates,
    simhash_signatures_df,
)
from slower_whisper_spark.operators.nested import explode_child
from slower_whisper_spark.operators.sessionize import (
    adjacent_pairs,
    asof_join,
    monotonic_gaps,
    sessionize,
)
from slower_whisper_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    ivf_assign_cells,
    ivf_topk,
    ivf_topk_partitioned,
    lsh_bucketed_topk,
    train_ivf_centroids_distributed,
)

__all__ = [
    "connected_components",
    "drop_exact_duplicates",
    "exact_duplicate_groups",
    "jaccard_pairs",
    "minhash_lsh_candidates",
    "minhash_signatures_df",
    "neardup_clusters",
    "simhash_near_duplicates",
    "simhash_signatures_df",
    "explode_child",
    "adjacent_pairs",
    "asof_join",
    "monotonic_gaps",
    "sessionize",
    "cosine_topk",
    "embedding_near_duplicates",
    "ivf_assign_cells",
    "ivf_topk",
    "ivf_topk_partitioned",
    "lsh_bucketed_topk",
    "train_ivf_centroids_distributed",
]
