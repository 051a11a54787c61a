"""anndb_spark — a PySpark-native vector analytics engine.

Re-expresses the query and data-processing capabilities of the reference
ANN vector database (marekgalovic/anndb, see /root/reference) as an
idiomatic Spark DataFrame library:

- datasets of vectors are parquet-backed DataFrames (catalog.py)
- exact kNN is a cross-join + two-stage top-k (operators/knn.py)
- HNSW index build/search are per-partition grouped-map pandas UDFs
  over a materialized edge-list DataFrame (operators/hnsw.py)
- CRUD is an append-only changelog compacted with merge semantics
  (operators/crud.py)
- plus LLM-data-pipeline operators: dedup, similarity join, text
  analysis, multimodal columns (operators/dedup.py, text.py,
  multimodal.py)

Everything is declarative DataFrame/SQL first so Catalyst supplies
predicate pushdown, column pruning, partial aggregation and
TakeOrderedAndProject top-k for free; Python only runs inside
Arrow-batched pandas UDFs on the genuinely iterative graph paths.
"""

__version__ = "0.1.0"

from anndb_spark.session import get_spark  # noqa: F401
from anndb_spark.catalog import Catalog  # noqa: F401
from anndb_spark.dataset import AnnDB, Dataset  # noqa: F401
from anndb_spark.operators.knn import knn_exact, knn_join, knn_search  # noqa: F401
from anndb_spark.operators.hnsw import (  # noqa: F401
    HnswConfig,
    build_index,
    load_index,
    save_index,
    search_index,
)
from anndb_spark.operators.ivf import (  # noqa: F401
    assign_clusters,
    search_ivf,
    train_centroids,
)
from anndb_spark.plans.planner import knn, knn_filtered  # noqa: F401
from anndb_spark.functions.spaces import SPACES, distance_col  # noqa: F401
