"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (and the size
arguments): it writes the program's inputs as parquet files plus the
checker's ground truth as ``.npy``/``.json`` files into one directory.
The program under test only ever reads the parquet inputs; the truth
files are for the benchmark's output checks.

Three families:

* clustered vectors (``write_vectors``): a corpus with cluster
  structure in a low-dimensional subspace, held-out queries from the
  same distribution, and numpy exact top-k truth;
* a CRUD churn plan (``write_churn``): a base table with metadata and a
  sequence of write rounds with planted rejects, plus the expected live
  set and the ANN-visible exact truth after every round;
* a text corpus (``write_text``): Zipf vocabulary, planted near-duplicate
  pairs at known edit rates, exact duplicates, boilerplate-only variants,
  boilerplate lines and junk documents, plus the curation model's
  survivor count.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids keep every random draw independent of the others, so adding
# a draw to one family never shifts another family's numbers
_STREAMS = {
    "structure": 1, "base": 2, "queries": 3, "churn": 4, "text": 5,
    "probes": 6,
}


def rng_for(seed: int, stream: str, sub: int = 0) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[stream], int(sub)])


def vec_id(prefix: str, i: int) -> str:
    # zero-padded so lexical id order equals numeric order (the engine
    # breaks score ties by id)
    return f"{prefix}{i:07d}"


# --- vectors ----------------------------------------------------------------


def clustered(
    seed: int,
    n: int,
    dim: int,
    stream: str,
    sub: int = 0,
    centres: int = 64,
    intrinsic: int = 32,
    noise: float = 0.1,
    spread: float = 1.0,
) -> np.ndarray:
    """``n`` float32 points: ``centres`` unit Gaussian clusters (centres
    drawn with standard deviation ``spread``, so the clusters overlap) in
    an ``intrinsic``-dimensional subspace of R^dim plus isotropic noise.
    The subspace and centres come from the ``structure`` stream, so
    corpus and queries of one seed share them."""
    intrinsic = min(intrinsic, dim)
    srng = rng_for(seed, "structure")
    basis, _ = np.linalg.qr(srng.standard_normal((dim, intrinsic)))
    mu = srng.standard_normal((centres, intrinsic)) * spread
    rng = rng_for(seed, stream, sub)
    label = rng.integers(0, centres, n)
    low = mu[label] + rng.standard_normal((n, intrinsic))
    x = low @ basis.T + noise * rng.standard_normal((n, dim))
    return x.astype(np.float32)


def exact_topk(
    corpus: np.ndarray,
    queries: np.ndarray,
    k: int,
    exclude: np.ndarray | None = None,
    chunk: int = 256,
) -> np.ndarray:
    """Row indices of each query's k nearest corpus rows by L2, ties by
    index (= id order).  ``exclude[i]`` drops corpus row ``exclude[i]``
    from query i's candidates (self-join truth)."""
    c = corpus.astype(np.float64)
    cn = np.einsum("ij,ij->i", c, c)
    out = np.empty((len(queries), k), dtype=np.int64)
    for s in range(0, len(queries), chunk):
        q = queries[s : s + chunk].astype(np.float64)
        d = cn[None, :] - 2.0 * (q @ c.T) + np.einsum("ij,ij->i", q, q)[:, None]
        if exclude is not None:
            d[np.arange(len(q)), exclude[s : s + chunk]] = np.inf
        part = np.argpartition(d, k, axis=1)[:, : k + 1]
        for r in range(len(q)):
            cand = part[r]
            order = np.lexsort((cand, d[r, cand]))
            out[s + r] = cand[order][:k]
    return out


def _write_table(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def _vector_col(x: np.ndarray) -> pa.Array:
    flat = pa.array(x.astype(np.float64).reshape(-1))
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32)), flat
    )


def write_vectors(
    out: str,
    seed: int,
    n: int,
    dim: int,
    n_queries: int,
    k: int = 10,
    join_left: int = 0,
    join_k: int = 5,
) -> dict:
    """corpus.parquet (id, vector), queries.parquet (query_id, vector),
    truth.npy (query → k nearest corpus rows) and, with ``join_left``,
    join_truth.npy (first join_left corpus rows → join_k nearest other
    rows)."""
    os.makedirs(out, exist_ok=True)
    x = clustered(seed, n, dim, "base")
    q = clustered(seed, n_queries, dim, "queries")
    _write_table(
        os.path.join(out, "corpus.parquet"),
        {"id": [vec_id("v", i) for i in range(n)], "vector": _vector_col(x)},
    )
    _write_table(
        os.path.join(out, "queries.parquet"),
        {
            "query_id": [vec_id("q", i) for i in range(n_queries)],
            "vector": _vector_col(q),
        },
    )
    np.save(os.path.join(out, "truth.npy"), exact_topk(x, q, k))
    if join_left:
        left = np.arange(join_left)
        np.save(
            os.path.join(out, "join_truth.npy"),
            exact_topk(x, x[:join_left], join_k, exclude=left),
        )
    meta = {"n": n, "dim": dim, "n_queries": n_queries, "k": k,
            "join_left": join_left, "join_k": join_k}
    with open(os.path.join(out, "vectors.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


# --- CRUD churn -------------------------------------------------------------


def write_churn(
    out: str,
    seed: int,
    base_n: int,
    dim: int,
    rounds: int,
    inserts: int,
    updates: int,
    removes: int,
    n_queries: int,
    k: int = 10,
) -> dict:
    """A base table and ``rounds`` write rounds.

    Round r appends, in this order: ``inserts`` new rows plus one
    duplicate insert of a live id (planted ItemAlreadyExistsError),
    ``updates`` metadata-only updates of live ids plus one update of a
    never-seen id (planted ItemNotFoundError), and ``removes`` deletes of
    live base ids.  The saved index covers the base rows only, so the
    ANN-visible set after round r is the base minus every id removed so
    far; ``truth_r{r}.npy`` holds the exact top-k over that set and
    ``truth_base.npy`` the exact top-k over the whole base."""
    os.makedirs(out, exist_ok=True)
    x = clustered(seed, base_n, dim, "base")
    q = clustered(seed, n_queries, dim, "queries")
    rng = rng_for(seed, "churn")
    base_ids = [vec_id("b", i) for i in range(base_n)]
    grp = rng.integers(0, 8, base_n)
    _write_table(
        os.path.join(out, "base.parquet"),
        {
            "id": base_ids,
            "vector": _vector_col(x),
            "metadata": pa.array(
                [[("grp", f"g{g}"), ("v", "0")] for g in grp],
                type=pa.map_(pa.string(), pa.string()),
            ),
        },
    )
    _write_table(
        os.path.join(out, "queries.parquet"),
        {
            "query_id": [vec_id("q", i) for i in range(n_queries)],
            "vector": _vector_col(q),
        },
    )
    np.save(os.path.join(out, "truth_base.npy"), exact_topk(x, q, k))
    live_base = np.ones(base_n, dtype=bool)
    live_count = base_n
    plan = []
    for r in range(rounds):
        alive = np.flatnonzero(live_base)
        picks = rng.choice(alive, updates + removes + 1, replace=False)
        upd, rem, dup = picks[:updates], picks[updates:-1], picks[-1]
        new = clustered(seed, inserts, dim, "churn", sub=r + 1)
        new_ids = [vec_id(f"c{r:03d}_", j) for j in range(inserts)]
        ins_ids = new_ids + [base_ids[dup]]
        ins_vecs = np.vstack([new, x[dup : dup + 1]])
        _write_table(
            os.path.join(out, f"insert_r{r}.parquet"),
            {"id": ins_ids, "vector": _vector_col(ins_vecs)},
        )
        missing = f"missing_r{r:03d}"
        upd_ids = [base_ids[i] for i in upd] + [missing]
        _write_table(
            os.path.join(out, f"update_r{r}.parquet"),
            {
                "id": upd_ids,
                "metadata": pa.array(
                    [[("v", str(r + 1))]] * len(upd_ids),
                    type=pa.map_(pa.string(), pa.string()),
                ),
            },
        )
        rem_ids = sorted(base_ids[i] for i in rem)
        _write_table(os.path.join(out, f"remove_r{r}.parquet"), {"id": rem_ids})
        live_base[rem] = False
        live_count += inserts - removes
        visible = np.flatnonzero(live_base)
        truth = visible[exact_topk(x[visible], q, k)]
        np.save(os.path.join(out, f"truth_r{r}.npy"), truth)
        plan.append({
            "inserts": inserts, "updates": updates, "removes": removes,
            "change_rows": len(ins_ids) + len(upd_ids) + len(rem_ids),
            # logical bytes of the change rows: ids, float32 vectors and
            # metadata keys and values
            "change_bytes": sum(len(i) + 4 * dim for i in ins_ids)
            + sum(len(i) + len("v") + len(str(r + 1)) for i in upd_ids)
            + sum(len(i) for i in rem_ids),
            "live": live_count,
            "removed": rem_ids,
            "rejects": sorted([
                [base_ids[dup], "ItemAlreadyExistsError"],
                [missing, "ItemNotFoundError"],
            ]),
        })
    meta = {"base_n": base_n, "dim": dim, "n_queries": n_queries, "k": k,
            "rounds": plan}
    with open(os.path.join(out, "churn.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


# --- text -------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "is", "in")
BOILERPLATE = (
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the site owner",
    "click here to accept the cookie policy",
)
JUNK_WORD = "zzz"
# token substitution rates of the planted near-duplicates: word-trigram
# Jaccard stays above 0.5 at every rate (about 0.60 at 0.08)
EDIT_RATES = (0.02, 0.04, 0.06, 0.08)
# share of documents carrying each boilerplate line: well above the
# curation chain's removal threshold, low enough that boilerplate
# shingles rarely set a document's MinHash values
BOILERPLATE_P = 0.4


def _vocab(size: int) -> list[str]:
    # syllable words: deterministic, distinct, never equal to a stopword
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "be", "do",
           "fu", "ga", "hi", "jo", "pe", "qu"]
    words = []
    i = 0
    while len(words) < size:
        j, w = i, ""
        for _ in range(3):
            w += syl[j % len(syl)]
            j //= len(syl)
        words.append(w + str(i // 4096))
        i += 1
    return words


def quality_score(text: str) -> float:
    """The composite score ``text.quality_score_col`` computes, used
    only to assert the generator's margins around the curation
    threshold."""
    toks = text.split(" ")
    n = len(toks)
    return (
        min(len(text) / 200.0, 1.0)
        + len(set(toks)) / n
        + min(sum(t in STOPWORDS for t in toks) / n * 5.0, 1.0)
    ) / 3.0


def write_text(
    out: str,
    seed: int,
    n_docs: int,
    vocab: int = 20000,
    n_probes: int = 100,
    probe_terms: int = 3,
    quality_min: float = 0.55,
) -> dict:
    """docs.parquet (doc_id, text): lines of Zipf words joined by "\\n".

    Of the documents:

    * ~10% are near-duplicate copies of an original, each with a planted
      token edit rate from ``EDIT_RATES``; the (original, copy)
      pairs are ``near_pairs`` in text.json;
    * ~5% are exact copies of an original;
    * ~5% are boilerplate-only variants (same body, other boilerplate
      lines), so they become exact duplicates after boilerplate removal;
    * ~5% are junk (one repeated short word) that the quality filter
      drops;
    * every other document carries each boilerplate line with
      probability ``BOILERPLATE_P``.

    ``curate_survivors`` is the number of distinct bodies among the
    documents that pass the quality filter: the row count the curation
    chain (quality filter → boilerplate_filter → dedup_exact_survivors →
    hash_split) must return.  probes.json holds ``n_probes`` three-term
    BM25 probes drawn from the body vocabulary."""
    os.makedirs(out, exist_ok=True)
    rng = rng_for(seed, "text")
    content = np.array(_vocab(vocab), dtype=object)
    cdf = np.cumsum(1.0 / np.arange(1, len(content) + 1) ** 0.9)
    cdf /= cdf[-1]
    stops = np.array(STOPWORDS, dtype=object)

    def words(n: int) -> list[str]:
        # every fourth word a stopword, which keeps the quality score's
        # stopword signal saturated; the rest Zipf content words, so
        # unrelated documents share few word trigrams
        content_w = content[np.minimum(np.searchsorted(cdf, rng.random(n)), len(content) - 1)]
        stop_w = stops[rng.integers(0, len(stops), n)]
        return np.where(np.arange(n) % 4 == 3, stop_w, content_w).tolist()

    def body() -> list[list[str]]:
        return [words(int(rng.integers(8, 15))) for _ in range(int(rng.integers(6, 11)))]

    def boiler() -> list[str]:
        return [b for b in BOILERPLATE if rng.random() < BOILERPLATE_P]

    def render(lines: list[list[str]], bp: list[str]) -> str:
        return "\n".join([" ".join(l) for l in lines] + bp)

    docs: list[str] = []
    bodies: list[str | None] = []  # None = junk
    near_pairs: list[list[str]] = []
    originals: list[int] = []
    for _ in range(n_docs):
        u = rng.random()
        if originals and u < 0.10:
            src = int(rng.choice(originals))
            rate = float(rng.choice(EDIT_RATES))
            lines = []
            for line in _lines_of(bodies[src]):
                edit = rng.random(len(line)) < rate
                repl = iter(words(int(edit.sum())))
                lines.append([next(repl) if e else t for t, e in zip(line, edit)])
            near_pairs.append([src, len(docs)])
            bodies.append(render(lines, []))
            docs.append(render(lines, boiler()))
        elif originals and u < 0.15:
            src = int(rng.choice(originals))
            bodies.append(bodies[src])
            docs.append(docs[src])
        elif originals and u < 0.20:
            src = int(rng.choice(originals))
            bodies.append(bodies[src])
            docs.append(render(_lines_of(bodies[src]), boiler()))
        elif u < 0.25:
            bodies.append(None)
            docs.append(" ".join([JUNK_WORD] * int(rng.integers(5, 12))))
        else:
            lines = body()
            originals.append(len(docs))
            bodies.append(render(lines, []))
            docs.append(render(lines, boiler()))
    for t, b in zip(docs, bodies):
        s = quality_score(t)
        if (s < quality_min + 0.1) if b is not None else (s > quality_min - 0.1):
            raise ValueError(f"quality score {s:.3f} too close to {quality_min}")
    ids = [vec_id("d", i) for i in range(n_docs)]
    _write_table(os.path.join(out, "docs.parquet"), {"doc_id": ids, "text": docs})
    pairs = sorted({(ids[a], ids[b]) for a, b in near_pairs if bodies[a] != bodies[b]})
    body_vocab = sorted({t for b in bodies if b for t in b.replace("\n", " ").split(" ")})
    prng = rng_for(seed, "probes")
    probes = [
        [f"p{i:03d}", [body_vocab[int(j)] for j in prng.integers(0, len(body_vocab), probe_terms)]]
        for i in range(n_probes)
    ]
    meta = {
        "n_docs": n_docs,
        "near_pairs": [list(p) for p in pairs],
        "curate_survivors": len({b for b in bodies if b is not None}),
        "text_bytes": sum(len(t.encode()) for t in docs),
        "probes": probes,
    }
    with open(os.path.join(out, "text.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def _lines_of(rendered: str) -> list[list[str]]:
    return [l.split(" ") for l in rendered.split("\n")]

