from .spatial_join import knn_join, pip_join  # noqa: F401
from .tiles import rasterize_tiles, tile_rollup, vectorize_raster  # noqa: F401
from .dedup import (  # noqa: F401
    exact_dedup,
    latest_crawl_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from .similarity_search import cosine_topk_bruteforce, cosine_topk_lsh  # noqa: F401
from .matching import greedy_similarity_match  # noqa: F401
