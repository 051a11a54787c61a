from anndb_spark.operators.knn import knn_exact, knn_search  # noqa: F401
