"""Exactly-once incremental ingestion (Structured Streaming + checkpoint).

The reference's incremental strategy is a date-equality filter re-run
daily by cron (SURVEY.md §2.9) — it double-processes on re-runs (hence
its load-time PK guard). The streaming alternative gives exactly-once
semantics structurally: a checkpointed file stream processes each input
file once, ``Trigger.AvailableNow`` drains whatever is new and stops,
and ``foreachBatch`` routes each micro-batch through the same
ParquetStore sink the batch pipeline uses (insert or keyed upsert per
batch). Re-running the job is a no-op unless new files landed — no PK
readback needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sinks import ParquetStore


def incremental_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    store: ParquetStore,
    table: str,
    checkpoint_dir: str,
    transform=None,
    upsert_pk: str | None = None,
    glob: str | None = None,
) -> int:
    """Drain all currently-available files from source_dir into the store
    exactly once. Returns rows written this run."""
    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = reader.parquet(source_dir)
    if transform is not None:
        stream = transform(stream)

    written = {"n": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once; INSERT is not idempotent, so an
        # epoch marker makes replays no-ops. The marker commits
        # ATOMICALLY with the appended rows (insert(meta_files=...) —
        # entries of one store commit, rolled back together by crash
        # recovery), so a kill at ANY step leaves either rows+marker or
        # neither: exactly-once with no residual window (the round-8
        # code wrote the marker after the insert and documented the gap
        # between them as at-least-once residual; round 9 closed it —
        # kill-point-swept by tests/test_streaming.py. upsert_pk callers
        # are idempotent by construction and need no marker).
        applied = store.read_meta(table, "_LAST_INGEST_EPOCH")
        if applied is not None:
            if epoch_id == 0 and int(applied) > 0:
                raise ValueError(
                    f"checkpoint/table epoch mismatch for {table!r}: the "
                    f"stream restarted at epoch 0 but the table has "
                    f"applied epoch {applied} — the checkpoint was "
                    f"recreated or moved. Silently continuing would SKIP "
                    f"the first {applied} batches of new data; drop the "
                    f"table or restore the original checkpoint."
                )
            if epoch_id <= int(applied):
                return  # replayed batch — already ingested
        if upsert_pk is not None:
            written["n"] += store.upsert(batch_df, table, upsert_pk).rows
        else:
            written["n"] += store.insert(
                batch_df,
                table,
                meta_files={"_LAST_INGEST_EPOCH": str(epoch_id)},
            ).rows

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return written["n"]


def incremental_rollup(
    spark: SparkSession,
    source_dir: str,
    schema,
    store: ParquetStore,
    table: str,
    checkpoint_dir: str,
    group_cols: list[str],
    sum_cols: dict[str, str],
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
    transform=None,
) -> None:
    """Incrementally-maintained aggregate table (materialized-view
    maintenance): each micro-batch contributes PARTIAL aggregates which
    are merged into the stored rollup by re-aggregating (rollup ∪
    partial) on the group keys — sums and counts are mergeable, so the
    merge is exact. avg/ratios are derived columns over stored sums at
    read time.

    Why this matters at 100 TB: the raw history is processed exactly
    once (checkpointed file stream), and each maintenance step touches
    only the new files plus the rollup — which is group-cardinality-
    sized, not history-sized. Re-running after a crash resumes from the
    checkpoint; the swap in ``ParquetStore.overwrite`` keeps readers
    consistent mid-merge.

    foreachBatch is at-least-once, so the sink must be idempotent per
    epoch: the last-applied epoch id is committed INSIDE the rollup
    table directory in the same atomic rename as the data
    (``meta_files``), and a replayed batch whose epoch id is already
    recorded is skipped — the replay double-count a bare merge would
    produce cannot happen. (The guard assumes checkpoint and rollup
    table live and die together — epoch ids restart at 0 with a fresh
    checkpoint, so reprocessing from scratch needs the table dropped
    too.)

    ``sum_cols`` maps output column → 'sum:<col>' or 'count'. Example:
    ``{"total_value": "sum:value", "n_events": "count"}``. ``transform``
    (optional) reshapes each micro-batch BEFORE the partial aggregation
    (e.g. derive a bin column) — it must be deterministic, since a
    replayed epoch re-runs it.
    """
    from pyspark.sql import functions as F

    def partial(df: DataFrame) -> DataFrame:
        aggs = []
        for out, spec in sum_cols.items():
            if spec == "count":
                aggs.append(F.count("*").cast("long").alias(out))
            elif spec.startswith("sum:"):
                aggs.append(F.sum(spec[4:]).alias(out))
            else:
                raise ValueError(f"unsupported agg spec {spec!r}")
        return df.groupBy(*group_cols).agg(*aggs)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        applied = store.read_meta(table, "_LAST_EPOCH")
        if applied is not None and epoch_id == 0 and int(applied) > 0:
            # a genuine epoch-0 replay can only carry applied == 0; a
            # positive applied at epoch 0 means the CHECKPOINT was
            # recreated while the rollup survived — the guard below
            # would then silently swallow the first `applied` batches
            # of genuinely new data. Fail loudly instead.
            raise ValueError(
                f"checkpoint/table epoch mismatch for {table!r}: stream "
                f"restarted at epoch 0 but _LAST_EPOCH is {applied}. "
                f"Drop the rollup table (full reprocess) or restore the "
                f"original checkpoint."
            )
        if applied is not None and epoch_id <= int(applied):
            return  # replayed batch (at-least-once delivery) — already merged
        if transform is not None:
            batch_df = transform(batch_df)
        p = partial(batch_df)
        if store.exists(table):
            merged = (
                store.read(table)
                .unionByName(p)
                .groupBy(*group_cols)
                .agg(*[F.sum(out).alias(out) for out in sum_cols])
            )
        else:
            merged = p
        store.overwrite(merged, table, meta_files={"_LAST_EPOCH": str(epoch_id)})

    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(source_dir)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
