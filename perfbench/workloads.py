"""The benchmark workloads.

Each workload drives the program through its public API in a closed
loop with one client: ``setup(dir)`` builds the state the timed part
assumes and ``timed(deadline)`` runs the timed operations until the
deadline passes (every phase at least once).  Every operation
goes through ``call()``, which times it, checks its output against the
generator's ground truth outside the timed interval, and records the
outcome; ``metrics()`` turns the records into the end-to-end metrics.

* ``serve_churn`` — the serving layer: HNSW build, warm ANN batches and
  single-query calls through ``Dataset.search``, then write rounds
  (insert, update, remove, compact) each followed by a search whose
  graph cache the writes invalidated.
* ``scan_curate`` — the operator layer with no Dataset and no graph:
  exact kNN, the gemm kNN self-join, IVF build and search, MinHash and
  winnowing near-duplicate detection, the curation chain, and BM25.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import proc

K = 10


def dir_bytes(path: str) -> int:
    return sum(dir_snapshot(path).values())


def dir_snapshot(path: str) -> dict[str, int]:
    """file -> size, for the files under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def query_list(path: str) -> list[tuple[str, list[float]]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    return list(zip(t["query_id"], t["vector"]))


def truth_sets(path: str, queries, prefix: str) -> dict[str, set]:
    t = np.load(path)
    return {q: {gen.vec_id(prefix, i) for i in row} for (q, _), row in zip(queries, t)}


def ranked(rows, key: str, k: int, item: str = "id", ascending: bool = True) -> dict[str, list]:
    """Group result rows by ``key``; check each group holds ranks 1..n
    (n <= k) in score order; return key -> items by rank."""
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r[key], []).append(r)
    out = {}
    for q, rs in groups.items():
        rs.sort(key=lambda r: r["rank"])
        expect([r["rank"] for r in rs] == list(range(1, len(rs) + 1)), f"ranks of {q}")
        expect(len(rs) <= k, f"{len(rs)} rows for {q}")
        sc = [r["score"] for r in rs] if ascending else [-r["score"] for r in rs]
        expect(all(a <= b for a, b in zip(sc, sc[1:])), f"score order of {q}")
        out[q] = [r[item] for r in rs]
    return out


class CheckFailed(Exception):
    """An output did not match the ground truth."""


def expect(ok: bool, what) -> None:
    if not ok:
        raise CheckFailed(what)


def recall(found: dict[str, list], truth: dict[str, set], k: int) -> float:
    return float(np.mean([len(set(found.get(q, ())) & t) / k for q, t in truth.items()]))


def warm_python_workers(spark, partitions: int = 4) -> None:
    """Start the Python workers and import the kernels' modules in each,
    so no timed operation pays worker start-up."""
    def run(batches):
        import anndb_spark.operators.hnsw  # noqa: F401
        import anndb_spark.operators.ivf  # noqa: F401

        for b in batches:
            yield b

    spark.range(partitions * 2, numPartitions=partitions).mapInPandas(
        run, "id LONG").collect()


def reference_job(spark) -> None:
    """A fixed job with the program's mix of work (a Spark range, an Arrow
    batch through numpy in the Python workers, a shuffle aggregation) and
    no program code.  Its CPU time, measured beside the workload's, tracks
    how fast the host runs at the moment."""
    import pandas as pd

    def work(batches):
        for b in batches:
            x = b["id"].to_numpy(dtype=np.float64)
            m = np.outer(x[:512] % 7.0, x[:512] % 11.0)
            yield pd.DataFrame({"k": b["id"].to_numpy() % 16, "v": np.sqrt(x) + m.sum()})

    (spark.range(0, 4_000_000, numPartitions=4)
     .mapInPandas(work, "k LONG, v DOUBLE")
     .groupBy("k").agg(F.sum("v")).collect())


class Workload:
    name = ""
    sizes: dict = {}
    reads: tuple = ()  # operations answering queries; ``n`` = queries

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.ops: list[dict] = []
        self.sampler = None  # a running proc.PeakMem, whose CPU is not charged

    def cpu_s(self) -> float:
        """The process tree's CPU seconds so far, the memory sampler's own
        time taken out."""
        return proc.tree_cpu_s() - (self.sampler.cpu_s if self.sampler else 0.0)

    def call(self, name: str, n: int, fn, check=None, **extra):
        """Time ``fn()`` as one operation, then check its result outside
        the timed interval.  An exception or a failed check marks the
        operation failed; the run goes on."""
        err = None
        cpu0 = self.cpu_s()
        with self.tracer.op(name):
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception as e:  # counted and reported, not fatal
                res, err = None, f"{type(e).__name__}: {e}"[:300]
            wall = time.perf_counter() - t0
        rec = {"name": name, "n": n, "wall": wall, "cpu": self.cpu_s() - cpu0, **extra}
        if err is None and check is not None:
            traced, self.tracer.enabled = self.tracer.enabled, False
            try:
                rec.update(check(res) or {})
            except CheckFailed as e:
                err = f"check failed: {e}"[:300]
            finally:
                self.tracer.enabled = traced
        rec["ok"] = err is None
        if err is not None:
            rec["error"] = err
        self.ops.append(rec)
        return res

    def metrics(self) -> dict:
        """End-to-end metrics of the timed pass: the CPU seconds the whole
        process tree spent, in total, per query the ``reads`` answered,
        and per input row of every other operation (``rows``), plus the
        workload's quality figures."""
        reads = [o for o in self.ops if o["name"] in self.reads]
        others = [o for o in self.ops if o["name"] not in self.reads]
        return {
            "cpu_s": sum(o["cpu"] for o in self.ops),
            "query_cpu_ms": 1000.0 * sum(o["cpu"] for o in reads) / sum(o["n"] for o in reads),
            "row_cpu_ms": 1000.0 * sum(o["cpu"] for o in others)
            / sum(o.get("rows", 0) for o in others),
            **self.quality(),
        }

    def wall_figures(self) -> dict:
        """Wall-clock figures of the timed pass, per operation: median
        items per second and median wall (detail record)."""
        names = dict.fromkeys(o["name"] for o in self.ops)
        return {
            "wall_s": sum(o["wall"] for o in self.ops),
            "items_per_s": {n: statistics.median(o["n"] / o["wall"] for o in self.ops
                                                 if o["name"] == n) for n in names},
            "p50_wall_s": {n: statistics.median(o["wall"] for o in self.ops
                                                if o["name"] == n) for n in names},
        }

    def mean_of(self, key: str, name: str):
        vals = [o[key] for o in self.ops if o["name"] == name and key in o]
        return float(np.mean(vals)) if vals else None

    def extras(self) -> dict:
        """Layer metrics measured after the traced run's timed part."""
        return {}


# --- serve_churn ------------------------------------------------------------


class ServeChurn(Workload):
    name = "serve_churn"
    reads = ("ann_batch", "ann_point", "search_after_write")
    # base/partitions x queries x dim clears the serving path's 1e8-flop
    # brute-force cut-off, so the batches walk the graph
    sizes = {"base": 4000, "dim": 64, "queries": 2000, "points_per_cycle": 2,
             "rounds": 8, "inserts": 300, "updates": 150, "removes": 150,
             "m": 16, "ef_construction": 100, "ef": 20, "partitions": 4,
             "recall_floor": 0.85}

    def setup(self, d: str) -> None:
        from anndb_spark.dataset import AnnDB

        s = self.sizes
        self.inp = os.path.join(d, "in")
        self.plan = gen.write_churn(
            self.inp, self.seed, s["base"], s["dim"], s["rounds"], s["inserts"],
            s["updates"], s["removes"], s["queries"])
        self.db_dir = os.path.join(d, "db")
        self.db = AnnDB(self.spark, self.db_dir)
        self.ds = self.db.create_dataset("vectors", s["dim"], partition_count=s["partitions"])
        self.ds.insert(self.spark.read.parquet(os.path.join(self.inp, "base.parquet")))
        rejects = self.ds.compact().collect()
        expect(not rejects, rejects[:3])
        self.queries = query_list(os.path.join(self.inp, "queries.parquet"))
        self.truth = truth_sets(os.path.join(self.inp, "truth_base.npy"), self.queries, "b")
        self.removed: set[str] = set()
        self.written: list[tuple[int, int]] = []
        self.round_no = 0

    def timed(self, deadline: float) -> None:
        from anndb_spark.operators.hnsw import HnswConfig

        s = self.sizes
        serve_until = time.perf_counter() + (deadline - time.perf_counter()) / 2
        cfg = HnswConfig(m=s["m"], ef_construction=s["ef_construction"])
        self.call("build_index", s["base"], lambda: self.ds.build_index(cfg),
                  lambda _: self.index_check(), rows=s["base"])
        qids = [q for q, _ in self.queries]
        c = 0
        while True:
            self.call("ann_batch", len(qids),
                      lambda: self.ds.search(self.queries, K, mode="ann", ef=s["ef"]).collect(),
                      lambda rows: self.batch_check(rows, qids))
            for j in range(s["points_per_cycle"]):
                v = self.queries[(c * s["points_per_cycle"] + j) % len(self.queries)][1]
                self.call("ann_point", 1,
                          lambda: self.ds.search(v, K, mode="ann", ef=s["ef"]).collect(),
                          self.point_check)
            c += 1
            if time.perf_counter() >= serve_until:
                break
        while self.round_no < s["rounds"]:
            self.churn_round(self.round_no)
            self.round_no += 1
            if time.perf_counter() >= deadline:
                break

    def churn_round(self, r: int) -> None:
        s = self.sizes
        p = self.plan["rounds"][r]
        before = dir_snapshot(self.db_dir) if self.tracer.enabled else None

        def read(kind):
            return self.spark.read.parquet(os.path.join(self.inp, f"{kind}_r{r}.parquet"))

        self.call("insert", p["inserts"] + 1, lambda: self.ds.insert(read("insert")), rows=p["inserts"] + 1)
        self.call("update", p["updates"] + 1, lambda: self.ds.update(read("update")), rows=p["updates"] + 1)
        self.call("remove", p["removes"], lambda: self.ds.remove(read("remove")), rows=p["removes"])
        self.call("compact", p["change_rows"], lambda: self.ds.compact().collect(),
                  lambda rows: self.compact_check(rows, p))
        self.removed.update(p["removed"])
        self.call("search_after_write", len(self.queries),
                  lambda: self.ds.search(self.queries, K, mode="ann", ef=s["ef"]).collect(),
                  lambda rows: self.post_write_check(rows, r))
        if before is not None:
            after = dir_snapshot(self.db_dir)
            self.written.append((
                sum(size for f, size in after.items() if before.get(f) != size),
                p["change_bytes"]))

    def index_check(self):
        expect(dir_bytes(self.ds.index_path) > 0, "no saved index")

    def batch_check(self, rows, qids):
        found = ranked(rows, "query_id", K)
        expect(set(found) == set(qids), "missing queries")
        expect(all(len(v) == K for v in found.values()), "short result")
        rec = recall(found, self.truth, K)
        expect(rec >= self.sizes["recall_floor"], f"recall {rec:.3f}")
        return {"recall": rec}

    def point_check(self, rows):
        found = ranked(rows, "query_id", K)
        expect(len(found) == 1 and len(next(iter(found.values()))) == K, "point shape")

    def compact_check(self, rows, p):
        got = sorted([x["id"], x["error"]] for x in rows)
        expect(got == p["rejects"], f"rejects {got[:4]}")
        n = self.ds.len()
        expect(n == p["live"], f"len {n} != {p['live']}")

    def post_write_check(self, rows, r):
        found = ranked(rows, "query_id", K)
        back = {i for ids in found.values() for i in ids} & self.removed
        expect(not back, f"removed ids returned: {sorted(back)[:3]}")
        truth = truth_sets(os.path.join(self.inp, f"truth_r{r}.npy"), self.queries, "b")
        rec = recall(found, truth, K)
        expect(rec >= self.sizes["recall_floor"], f"post-write recall {rec:.3f}")
        return {"recall": rec}

    def quality(self) -> dict:
        s = self.sizes
        live = self.plan["rounds"][max(self.round_no - 1, 0)]["live"]
        return {
            "recall": self.mean_of("recall", "ann_batch"),
            "stored_bytes_ratio": dir_bytes(self.db_dir) / (live * s["dim"] * 4),
        }

    def extras(self) -> dict:
        out = kernel_floor(self.ds, self.queries, self.sizes)
        if self.written:
            out["storage.bytes_written_per_change_byte"] = (
                sum(w for w, _ in self.written) / sum(c for _, c in self.written))
        return out


def kernel_floor(ds, queries, sizes) -> dict:
    """Build and search one partition's rows in-process through
    ``HnswGraph``'s public methods: the floor Spark task time is set
    against."""
    from anndb_spark.operators.hnsw import HnswConfig, HnswGraph

    pdf = ds.state().filter(F.col("partition_id") == 0).select(
        "id", "vector", "level").toPandas().sort_values("id")
    mat = np.array(pdf["vector"].tolist(), dtype=np.float32)
    cfg = HnswConfig(m=sizes["m"], ef_construction=sizes["ef_construction"])
    t = time.perf_counter()
    g = HnswGraph.build(mat, pdf["level"].astype(int).tolist(), cfg)
    g.finalize()
    build = time.perf_counter() - t
    q = np.array([v for _, v in queries], dtype=np.float32)
    t = time.perf_counter()
    g.search_fast_batch(q, K, ef=sizes["ef"])
    search = time.perf_counter() - t
    return {"kernel.rows": float(len(mat)), "kernel.build_s": build,
            "kernel.queries": float(len(q)), "kernel.search_s": search}


# --- scan_curate ------------------------------------------------------------


class ScanCurate(Workload):
    name = "scan_curate"
    reads = ("knn_exact", "knn_join_gemm", "ivf_search", "bm25_batch")
    sizes = {"n": 5000, "dim": 64, "exact_queries": 32, "join_left": 200,
             "join_k": 5, "ivf_queries": 100, "cells": 16, "nprobe": 4,
             "ivf_recall_floor": 0.6, "docs": 2000, "probes": 100, "probe_k": 20,
             "bm25_buckets": 16, "boilerplate_frac": 0.2,
             "quality_min": 0.55, "minhash_recall_floor": 0.5,
             "winnow_recall_floor": 0.9}

    def setup(self, d: str) -> None:
        from anndb_spark.operators.text import write_bm25_index

        s = self.sizes
        vin, tin = os.path.join(d, "vectors"), os.path.join(d, "text")
        gen.write_vectors(vin, self.seed, s["n"], s["dim"], s["ivf_queries"],
                          join_left=s["join_left"], join_k=s["join_k"])
        self.text = gen.write_text(tin, self.seed, s["docs"], n_probes=s["probes"],
                                   quality_min=s["quality_min"])
        self.corpus = self.spark.read.parquet(os.path.join(vin, "corpus.parquet")).cache()
        self.corpus.count()
        self.left = self.corpus.filter(F.col("id") < gen.vec_id("v", s["join_left"])).cache()
        self.left.count()
        self.queries = query_list(os.path.join(vin, "queries.parquet"))
        self.exact_q = self.spark.createDataFrame(
            self.queries[: s["exact_queries"]],
            "query_id STRING, query_vector ARRAY<DOUBLE>").cache()
        self.exact_q.count()
        self.truth = truth_sets(os.path.join(vin, "truth.npy"), self.queries, "v")
        jt = np.load(os.path.join(vin, "join_truth.npy"))
        self.join_truth = {gen.vec_id("v", i): {gen.vec_id("v", j) for j in row}
                           for i, row in enumerate(jt)}
        self.ivf_path = os.path.join(d, "ivf")
        self.docs = self.spark.read.parquet(os.path.join(tin, "docs.parquet")).cache()
        self.docs.count()
        self.bm25 = os.path.join(d, "bm25")
        write_bm25_index(self.docs, self.bm25, buckets=s["bm25_buckets"])
        self.pairs = {tuple(p) for p in self.text["near_pairs"]}
        self.probes = [(p, terms) for p, terms in self.text["probes"]]
        self.curated = os.path.join(d, "curated")

    def timed(self, deadline: float) -> None:
        while True:
            self.cycle()
            if time.perf_counter() >= deadline:
                break

    def cycle(self) -> None:
        from anndb_spark.operators.dedup import minhash_lsh_pairs, winnow_pairs
        from anndb_spark.operators.ivf import (
            assign_clusters, save_assigned, search_ivf_path, train_centroids)
        from anndb_spark.operators.knn import knn_exact, knn_join
        from anndb_spark.operators.text import bm25_search_indexed_batch

        s = self.sizes
        exact_ids = [q for q, _ in self.queries[: s["exact_queries"]]]

        def ivf_build():
            cents = train_centroids(self.corpus, s["cells"], seed=self.seed)
            save_assigned(assign_clusters(self.corpus, cents), self.ivf_path)
            return cents

        self.call("knn_exact", s["exact_queries"],
                  lambda: knn_exact(self.corpus, self.exact_q, K).collect(),
                  lambda rows: self.exact_check(rows, exact_ids))
        self.call("knn_join_gemm", s["join_left"],
                  lambda: knn_join(self.left, self.corpus, s["join_k"], mode="gemm",
                                   exclude_self=True).collect(),
                  self.join_check)
        cents = self.call("ivf_build", s["n"], ivf_build, self.ivf_build_check,
                          rows=s["n"])
        if cents is not None:
            self.centroids = cents
            self.call("ivf_search", len(self.queries),
                      lambda: search_ivf_path(self.spark, self.ivf_path, self.queries, K,
                                              cents, nprobe=s["nprobe"]).collect(),
                      self.ivf_check)
        n = s["docs"]
        self.call("minhash_lsh_pairs", n,
                  lambda: minhash_lsh_pairs(self.docs, threshold=0.5).collect(),
                  lambda rows: self.pair_check(rows, "id_a", "id_b",
                                               s["minhash_recall_floor"]), rows=n)
        self.call("winnow_pairs", n,
                  lambda: winnow_pairs(self.docs, k=4, w=4, min_shared=2, max_df=64).collect(),
                  lambda rows: self.pair_check(rows, "a", "b", s["winnow_recall_floor"]), rows=n)
        self.call("curate", n, self.curate, lambda _: self.curate_check(), rows=n)
        self.call("bm25_batch", len(self.probes),
                  lambda: bm25_search_indexed_batch(self.spark, self.bm25, self.probes,
                                                    k=s["probe_k"]).collect(),
                  self.bm25_check)

    def curate(self):
        """Quality filter → boilerplate_filter → dedup_exact_survivors →
        hash_split, written as the curated table."""
        from anndb_spark.operators.curation import boilerplate_filter
        from anndb_spark.operators.dedup import dedup_exact_survivors
        from anndb_spark.operators.sampling import hash_split
        from anndb_spark.operators.text import quality_score_col

        s = self.sizes
        kept = self.docs.filter(quality_score_col(F.col("text")) >= s["quality_min"])
        clean = boilerplate_filter(kept, min_doc_frac=s["boilerplate_frac"], sep="\n").select(
            "doc_id", F.col("text_clean").alias("text"))
        split = hash_split(dedup_exact_survivors(clean), [0.9, 0.05, 0.05],
                           ["train", "val", "test"], salt="curate")
        split.write.mode("overwrite").parquet(self.curated)

    def exact_check(self, rows, qids):
        found = ranked(rows, "query_id", K)
        expect(set(found) == set(qids), "missing queries")
        bad = [q for q in qids if set(found[q]) != self.truth[q]]
        expect(not bad, f"{len(bad)} queries differ from the exact truth")

    def join_check(self, rows):
        found = ranked(rows, "left_id", self.sizes["join_k"], item="right_id")
        expect(set(found) == set(self.join_truth), "missing left rows")
        bad = [q for q, ids in found.items() if set(ids) != self.join_truth[q]]
        expect(not bad, f"{len(bad)} left rows differ from the exact truth")

    def ivf_build_check(self, cents):
        s = self.sizes
        expect(cents.shape == (s["cells"], s["dim"]), f"centroids {cents.shape}")
        n = self.spark.read.parquet(self.ivf_path).count()
        expect(n == s["n"], f"assigned rows {n}")

    def ivf_check(self, rows):
        rec = recall(ranked(rows, "query_id", K), self.truth, K)
        expect(rec >= self.sizes["ivf_recall_floor"], f"recall {rec:.3f}")
        return {"recall": rec}

    def pair_check(self, rows, a, b, floor):
        got = {(r[a], r[b]) for r in rows}
        expect(all(x < y for x, y in got), "pair order")
        rec = len(got & self.pairs) / len(self.pairs)
        expect(rec >= floor, f"planted-pair recall {rec:.3f}")
        return {"pair_recall": rec}

    def curate_check(self):
        out = self.spark.read.parquet(self.curated)
        n = out.count()
        want = self.text["curate_survivors"]
        expect(n == want, f"survivors {n} != {want}")
        expect(out.filter(~F.col("split").isin("train", "val", "test")).count() == 0, "labels")

    def bm25_check(self, rows):
        found = ranked(rows, "probe_id", self.sizes["probe_k"], item="doc_id", ascending=False)
        expect(set(found) <= {p for p, _ in self.probes}, "unknown probe id")

    def quality(self) -> dict:
        s = self.sizes
        return {
            "recall": self.mean_of("recall", "ivf_search"),
            "stored_bytes_ratio": dir_bytes(self.ivf_path) / (s["n"] * s["dim"] * 4),
        }

    def extras(self) -> dict:
        """Rows the IVF batch scans per returned result (routed (query,
        cell) pairs from ``route_queries`` times the cell sizes), and
        verified MinHash pairs per LSH candidate pair (pairs sharing a
        band value in ``minhash_banded``'s band table)."""
        from anndb_spark.operators.dedup import minhash_banded, minhash_lsh_pairs
        from anndb_spark.operators.ivf import route_queries

        s = self.sizes
        qdf = self.spark.createDataFrame(
            self.queries, "query_id STRING, query_vector ARRAY<DOUBLE>")
        routed = route_queries(qdf, self.centroids, s["nprobe"]).groupBy("cluster_id").count()
        cells = self.spark.read.parquet(self.ivf_path).groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("size"))
        scanned = routed.join(cells, "cluster_id").select(
            F.sum(F.col("count") * F.col("size")).alias("rows")).collect()[0]["rows"]
        _, bands = minhash_banded(self.docs)
        a, b = bands.alias("a"), bands.alias("b")
        cands = a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.val") == F.col("b.val"))
                       & (F.col("a.id") < F.col("b.id"))).select("a.id", "b.id").distinct().count()
        verified = minhash_lsh_pairs(self.docs, threshold=0.5).count()
        return {"ivf.rows_scanned_per_result": scanned / (len(self.queries) * K),
                "dedup.verified_per_candidate": verified / max(cands, 1)}


WORKLOADS = {w.name: w for w in (ServeChurn, ScanCurate)}
