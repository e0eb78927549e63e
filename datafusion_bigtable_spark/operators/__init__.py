from datafusion_bigtable_spark.operators.graph import connected_components
from datafusion_bigtable_spark.operators.pivot import (
    compose_row_key,
    latest_cells,
    split_row_key,
)
from datafusion_bigtable_spark.operators.similarity import (
    IvfIndex,
    build_ivf_index,
    topk_bruteforce,
    topk_ivf,
    topk_lsh,
)

__all__ = [
    "IvfIndex",
    "build_ivf_index",
    "connected_components",
    "compose_row_key",
    "latest_cells",
    "split_row_key",
    "topk_bruteforce",
    "topk_ivf",
    "topk_lsh",
]
