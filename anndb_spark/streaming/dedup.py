"""Streaming exactly-once repair: watermarked stream deduplication.

At-least-once delivery (Kafka redeliveries, file-source replays, Raft
re-applies — the reference replays committed changelog entries on
restart, `storage/raft/group.go:179-236`, and relies on idempotent
apply for correctness) means duplicate records ARE the normal case at
ingestion.  The Spark-native repair is ``dropDuplicatesWithinWatermark``:
the state store keeps one entry per key only until the watermark passes
it, so state is bounded by (event rate × watermark horizon) — never by
stream length, which is what makes this the 100 TB-safe form (plain
``dropDuplicates`` on an unbounded stream grows state forever).

Emission is row-wise (first occurrence wins, duplicates within the
watermark are suppressed), so append mode needs no closed windows and
downstream aggregations see an exactly-once event feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """First-occurrence-wins key dedup over a watermarked stream.

    ``keys`` identify a logical record (redelivered copies carry the
    same key and identical payload, so WHICH copy survives is
    immaterial to any downstream result).  State per key is dropped
    once the watermark passes its event time + horizon."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def write_neardup_state(
    corpus: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """Write the corpus LSH state (`minhash_banded` output) to parquet
    under ``state_dir/{shingles,bands}`` — the ingest-time step of the
    100 TB streaming near-dup pipeline.  The stream then reads this
    on-disk state per micro-batch (`stream_neardup(state_dir=...)`)
    instead of pinning corpus-sized frames in executor memory for the
    stream's lifetime.  ``bands`` must divide ``num_hashes``."""
    from anndb_spark.operators.dedup import minhash_banded

    sh, bd = minhash_banded(
        corpus, text_col, id_col, num_hashes, bands, shingle_n
    )
    sh.write.mode("overwrite").parquet(f"{state_dir}/shingles")
    bd.write.mode("overwrite").parquet(f"{state_dir}/bands")


def stream_neardup(
    stream: DataFrame,
    corpus: DataFrame | None = None,
    out_dir: str = None,
    checkpoint_dir: str = None,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_available_now: bool = True,
    state_dir: str | None = None,
):
    """Continuous-ingest NEAR-duplicate screening: every micro-batch of
    incoming documents is checked against the existing corpus with
    MinHash-LSH (`operators.dedup.minhash_incremental_pairs`) — the
    streaming form of the batch incremental check, i.e. the shape a
    training pipeline actually runs: docs arrive continuously, the
    corpus was deduped when ingested, and only new×corpus collisions
    need work.

    Band joins and jaccard verification are batch operators, so the
    standard ``foreachBatch`` bridge applies (same reasoning as
    `enrich.stream_enrich_asof`: the per-batch DataFrame is bounded).
    Output lands under ``out_dir/batch=<id>/`` with per-batch
    overwrite — idempotent on replay.

    Scale contract — two corpus-state forms:

    * ``state_dir`` (the 100 TB form): the corpus band/shingle tables
      were written to parquet at ingest time (`write_neardup_state`);
      each batch reads the on-disk state — columnar-pruned ids+vals
      scans, nothing pinned in executor memory, and the state survives
      driver restarts with the checkpoint.
    * ``corpus`` (local-mode convenience): the state is computed once
      here and memory-persisted across batches; BOTH frames are
      unpersisted when the query terminates (a StreamingQueryListener
      keyed to this query's id — repeated invocations in one session
      no longer accumulate cached corpus-sized frames).

    Pass exactly one of ``corpus`` / ``state_dir``.  Returns the
    StreamingQuery.
    """
    from anndb_spark.operators.dedup import minhash_incremental_pairs

    if (corpus is None) == (state_dir is None):
        raise ValueError("pass exactly one of corpus or state_dir")

    if state_dir is not None:
        spark = stream.sparkSession
        state = (
            spark.read.parquet(f"{state_dir}/shingles"),
            spark.read.parquet(f"{state_dir}/bands"),
        )
    else:
        from anndb_spark.operators.dedup import minhash_banded

        sh, bd = minhash_banded(corpus, text_col=text_col, id_col=id_col)
        state = (sh.persist(), bd.persist())

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = minhash_incremental_pairs(
            batch_df,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            corpus_state=state,
        )
        pairs.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()

    if state_dir is None:
        _unpersist_on_termination(
            stream.sparkSession, query.id, state[0], state[1]
        )
    return query


def _unpersist_on_termination(spark, query_id, *frames) -> None:
    """Release memory-persisted corpus state when the owning streaming
    query terminates: a StreamingQueryListener keyed to the query id
    unpersists the frames and detaches itself."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Release(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            if str(event.id) != str(query_id):
                return
            for f in frames:
                try:
                    f.unpersist()
                except Exception:
                    pass  # session already stopped
            try:
                spark.streams.removeListener(listener)
            except Exception:
                pass

    listener = _Release()
    spark.streams.addListener(listener)
