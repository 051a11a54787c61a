"""Dump .explain("formatted") plans into plans/<round>/
($SPARK_GRAFT_PLANS_ROUND, default r14).

Usage: python tools/dump_plans.py <suffix> [--tree DIR] [name ...]

Two kinds of plan are written:

- plans/<round>/<query>_<suffix>.txt for each declared queries() entry —
  the plan of the exact declared callable over the bench sf directory;
- plans/<round>/op_<name>_<suffix>.txt for each operator plan in
  `operator_plans`: operators whose query-level plan hides them (entries
  that materialize internally show `Scan ExistingRDD`) or that only the
  bench runs.

Names select queries and operators alike (default: all of both).
``--tree DIR`` imports the engine from DIR — a checkout of another
commit — to dump its `before` plans; files still land in this
checkout's plans/ directory.  The optimization judge reads these files
to check plan-shape claims (Exchange count, join strategy,
PushedFilters, BatchEvalPython nodes) against the code.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
OUT_DIR = os.path.join(ROOT, "plans", ROUND)


def operator_plans(spark, scratch: str) -> dict:
    """name → zero-argument function returning that operator's DataFrame."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    terms = ["batch", "merge", "vector"]
    probes = [
        ("p0", ["batch", "merge"]),
        ("p1", ["vector", "stream", "merge"]),
        ("p2", ["window"]),
    ]

    def bm25_index() -> str:
        from anndb_spark.operators.text import write_bm25_index

        idx = os.path.join(scratch, "bm25idx")
        if not os.path.exists(idx):
            write_bm25_index(docs, idx, buckets=64)
        return idx

    def bm25_search_indexed():
        from anndb_spark.operators.text import bm25_search_indexed

        return bm25_search_indexed(spark, bm25_index(), terms, k=20)

    def bm25_search_indexed_batch():
        from anndb_spark.operators.text import bm25_search_indexed_batch

        return bm25_search_indexed_batch(spark, bm25_index(), probes, k=20)

    def bm25_search_scan():
        from anndb_spark.operators.text import bm25_search

        return bm25_search(docs, terms, k=20)

    def dsir_weights():
        from anndb_spark.operators.curation import dsir_weights

        return dsir_weights(docs, target_filter=F.col("lang") == "en", buckets=4096)

    def minhash_lsh_pairs():
        from anndb_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(docs)

    def winnow_pairs():
        from anndb_spark.operators.dedup import winnow_pairs

        return winnow_pairs(docs)

    def knn_binary_wide():
        # 192-d rows (the embedding plus two transforms of it)
        import numpy as np

        from anndb_spark.operators.knn import knn_binary

        rng = np.random.default_rng(11)
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            F.col("vec_id").alias("id"),
            F.concat(
                F.col("embedding"),
                F.transform(F.col("embedding"), lambda x: x - F.lit(0.5)),
                F.transform(F.col("embedding"), lambda x: F.lit(0.25) - x * x),
            ).alias("vector"),
        )
        wq = [(i, rng.normal(0, 1, 192).tolist()) for i in range(4)]
        return knn_binary(emb, wq, 10, dim=192)

    def knn_join_ivf():
        # the bench knn_join_ivf_2k shape
        from anndb_spark.operators.ivf import assign_clusters, train_centroids
        from anndb_spark.operators.knn import knn_join

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        ).cache()
        emb.count()
        cent = train_centroids(emb, 32, sample_n=50_000)
        assigned = assign_clusters(emb, cent).cache()
        assigned.count()
        return knn_join(
            emb.limit(2000), assigned, 5, mode="ivf", centroids=cent, nprobe=4,
            exclude_self=True,
        )

    return {
        "bm25_search_indexed": bm25_search_indexed,
        "bm25_search_indexed_batch": bm25_search_indexed_batch,
        "bm25_search_scan": bm25_search_scan,
        "dsir_weights": dsir_weights,
        "minhash_lsh_pairs": minhash_lsh_pairs,
        "winnow_pairs": winnow_pairs,
        "knn_binary_wide": knn_binary_wide,
        "knn_join_ivf": knn_join_ivf,
    }


def dump(fn, path: str) -> None:
    try:
        df = fn()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception as exc:  # noqa: BLE001 — record the failure in the file
        plan = f"ERROR building plan: {exc!r}"
    with open(path, "w") as f:
        f.write(plan)
    print(f"[plan] {os.path.basename(path)} ({len(plan)} bytes)")


def main() -> None:
    args = sys.argv[1:]
    tree = ROOT
    if "--tree" in args:
        i = args.index("--tree")
        tree = args[i + 1]
        del args[i : i + 2]
    suffix = args[0] if args else "before"
    names = args[1:]
    sys.path.insert(0, tree)

    from anndb_spark.session import get_spark

    spark = get_spark("plan-dump", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    ops = operator_plans(spark, tempfile.mkdtemp(prefix="opplan_"))
    if not names:
        names = sorted(qs) + sorted(ops)
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        if name in qs:
            dump(lambda: qs[name](spark, SF_DIR), os.path.join(OUT_DIR, f"{name}_{suffix}.txt"))
        if name in ops:
            dump(ops[name], os.path.join(OUT_DIR, f"op_{name}_{suffix}.txt"))
        if name not in qs and name not in ops:
            print(f"[plan] {name}: no such query or operator plan")
    spark.stop()


if __name__ == "__main__":
    main()
