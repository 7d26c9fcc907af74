"""Streaming ingest + windowed aggregation.

`stream_ingest_available_now` is the Structured Streaming rendering of
the reference's delta chain (SURVEY.md §2.5): CSV files landing in a
directory are discovered by the file source, deduplicated by event id
within the watermark, and merged into the warehouse table via
`foreachBatch` -> `merge_upsert` — exactly the anti-join + MERGE
semantics of `Delta Load Scripts/ods_delta_load2.py:140-190` /
`dw2_delta_load2.py:101-131`, but incremental per micro-batch and
restartable from the checkpoint.

`windowed_event_counts` is the watermarked tumbling-window aggregation
(the streaming measure layer); in batch mode the same function body
answers the DuckDB-checked `windowed_counts` probe — one definition,
two execution modes, which is the point of Structured Streaming.

Every `stream_*` op is one fold over a file-source feed. `_feed` builds
the feed (headered CSV, JSONL or parquet; optional
`maxFilesPerTrigger`; the watermark + `dropDuplicatesWithinWatermark`
step for ops that dedup by id). `_run_fold` runs it through
`foreachBatch` under `Trigger.AvailableNow`: process everything
available, then stop; a re-run resumes from the checkpoint. Per
micro-batch it applies the op's `prepare` step (the in-batch dedup,
persisted when the fold reads the batch more than once), skips an
empty batch, folds, and unpersists a cached prepared frame in a
`finally`. The skip matters: AvailableNow + a stateful dedup runs a
trailing data-less batch to flush state, and folding it would append
spurious all-zero report rows (tripping row_count lower bounds) or
rewrite a table for nothing.

foreachBatch is at-least-once: after a crash the last batch is
delivered again. Two replay guards make the re-delivery a no-op:

- Append ledgers. `_append_once` stamps the batch id on the rows and
  appends them only if the table has no row with that id yet
  (`batch_already_appended`, which states its commit-protocol
  assumption). Each append-only table is its OWN ledger: guarding one
  append with another table's probe leaves a crash window between the
  two appends that duplicates rows on replay.
- The state mark. Count/sum folds are distributive but NOT idempotent.
  `_promote_state` stamps `(__stream_id, __last_batch_id)` (the
  checkpoint's query id, the batch id) on every state row in the SAME
  staging+swap as the state, so state and mark never disagree, even
  across a crash mid-promotion. `_prior_state` reads the mark back:
  within one checkpoint lineage foreachBatch re-delivers only the LAST
  batch, so `batch_id <= mark` identifies every already-merged
  delivery. Batch ids from a DIFFERENT checkpoint (deleted/recreated)
  are NOT comparable — the source renumbers and re-delivers
  everything, so the id guard would both double-count replayed files
  and DROP files that arrived after the old mark. That case raises:
  rebuild the state table under the new checkpoint, or keep the
  original checkpoint directory.

Scale notes: the file source scales by listing (use
`maxFilesPerTrigger` to bound batch size); dedup state is bounded by
the watermark horizon; `foreachBatch` runs the merge as a normal batch
join so all the batch-side partitioning applies.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gcp_data_pipeline_fyp_spark.operators.merge import (
    merge_upsert,
    merge_upsert_partitioned,
)
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def checkpoint_stream_id(checkpoint_dir: str) -> str:
    """The stream's identity from its checkpoint metadata — the key
    the state mark (`_promote_state`) stamps into its state so a state
    table from a DIFFERENT checkpoint lineage (whose batch ids are
    not comparable) raises instead of silently double-counting."""
    import json as _json
    import os as _os

    with open(_os.path.join(checkpoint_dir, "metadata")) as fh:
        return _json.load(fh)["id"]


def batch_already_appended(
    wh: Warehouse, table: str, batch_id: int, col: str = "__batch_id"
) -> bool:
    """True if `table` already carries rows stamped with `batch_id` —
    the idempotent-append probe used by every foreachBatch ingest
    whose output rides a plain append (a crash between append and
    state swap re-delivers the batch; the probe turns the re-append
    into a no-op). `col` names the stamp column: newer ingests stamp
    `__batch_id`; the validated/scored report tables predate the
    convention and stamp `batch_id`.

    COMMIT-PROTOCOL ASSUMPTION (documented, not hidden): the probe
    treats ANY committed row with `batch_id` as "the whole batch
    landed". That holds under Spark's default Hadoop commit protocol
    (FileOutputCommitter v1, job-level commit: task files surface in
    the destination only at job commit, so a crash mid-WRITE leaves
    zero visible rows and the replay re-appends cleanly). What it
    does NOT cover is a crash inside the job-commit rename loop
    itself — a window of sequential renames in which some files are
    visible and some are not; a replay would then skip the re-append
    and silently drop the unrenamed files' rows. On a real object
    store, use a committer with atomic job commit (or a table format
    with a transaction log) and this probe is exact; do not run these
    ingests with FileOutputCommitter v2 (task-level visibility),
    which widens that window to the whole write."""
    return wh.exists(table) and (
        wh.read(table)
        .filter(F.col(col) == batch_id)
        .limit(1)
        .count()
        > 0
    )


def _feed(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    feed_format: str = "csv",
    max_files_per_trigger: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    not_null_col: str | None = None,
    ts_col: str | None = None,
    watermark: str | None = None,
    dedup_cols: list[str] | None = None,
) -> DataFrame:
    """The file-source stream a `stream_*` op folds over.

    `feed_format` is "csv" (headered), "jsonl" or "parquet";
    `transform` runs on the parsed rows; `not_null_col` drops rows
    whose id is NULL; with `dedup_cols` set, rows are deduplicated on
    those columns within `watermark` of `ts_col`."""
    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if feed_format == "csv":
        feed = reader.option("header", True).csv(input_dir)
    elif feed_format == "jsonl":
        feed = reader.json(input_dir)
    elif feed_format == "parquet":
        feed = reader.parquet(input_dir)
    else:
        raise ValueError(f"unknown feed_format: {feed_format!r}")
    if transform is not None:
        feed = transform(feed)
    if not_null_col is not None:
        feed = feed.filter(F.col(not_null_col).isNotNull())
    if dedup_cols is not None:
        feed = feed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            dedup_cols
        )
    return feed


def _run_fold(
    feed: DataFrame,
    fold: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    prepare: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Start `fold(batch, batch_id)` over every micro-batch of `feed`
    that is non-empty after `prepare` (module docstring)."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if prepare is not None:
            batch = prepare(batch)
        try:
            if not batch.isEmpty():
                fold(batch, batch_id)
        finally:
            if batch.is_cached:
                batch.unpersist()

    return (
        feed.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _stamp(df: DataFrame, col: str, batch_id: int) -> DataFrame:
    return df.withColumn(col, F.lit(batch_id).cast("long"))


def _append_once(
    wh: Warehouse, df: DataFrame, table: str, batch_id: int, col: str
) -> None:
    """Append `df` stamped with `batch_id` in `col` unless `table`
    already holds that batch (the append ledger, module docstring)."""
    if not batch_already_appended(wh, table, batch_id, col):
        wh.append(_stamp(df, col, batch_id), table)


def _prior_state(
    wh: Warehouse, state_table: str, checkpoint_dir: str, batch_id: int
) -> tuple[DataFrame | None, bool]:
    """(state without its mark columns, already_merged) for `batch_id`,
    or (None, False) when there is no state yet. Raises ValueError if
    the state was built under another checkpoint lineage (the state
    mark, module docstring)."""
    if not wh.exists(state_table):
        return None, False
    sid = checkpoint_stream_id(checkpoint_dir)
    prior = wh.read(state_table)
    mark = prior.select(
        F.max("__stream_id").alias("sid"),
        F.max("__last_batch_id").alias("m"),
    ).first()
    if mark["sid"] is not None and mark["sid"] != sid:
        raise ValueError(
            f"state table {state_table!r} was built by stream "
            f"{mark['sid']} but this checkpoint is {sid}: batch ids are "
            "not comparable across checkpoints (every file re-delivers "
            "under new numbering). Drop the state table to rebuild it "
            "under this checkpoint, or restart from the original "
            "checkpoint directory."
        )
    already_merged = mark["m"] is not None and batch_id <= mark["m"]
    return prior.drop("__stream_id", "__last_batch_id"), already_merged


def _promote_state(
    wh: Warehouse,
    state: DataFrame,
    state_table: str,
    checkpoint_dir: str,
    batch_id: int,
) -> None:
    """Stamp the state mark on `state` and promote it to `state_table`
    by staging + swap (module docstring)."""
    staging = f"{state_table}__staging"
    wh.overwrite(
        state.withColumn(
            "__stream_id", F.lit(checkpoint_stream_id(checkpoint_dir))
        ).withColumn("__last_batch_id", F.lit(batch_id)),
        staging,
    )
    wh.swap(staging, state_table)


def _fold_counts(
    wh: Warehouse,
    state_table: str,
    checkpoint_dir: str,
    batch_id: int,
    part: DataFrame,
    keys: list[str],
    col: str,
) -> tuple[DataFrame, bool]:
    """(cumulative per-key counts, already_merged) for a count state:
    the batch's counts `part` summed into the prior counts, or the
    prior counts unchanged when the batch was already merged."""
    prior, already_merged = _prior_state(
        wh, state_table, checkpoint_dir, batch_id
    )
    if prior is None:
        return part, False
    prior = prior.select(*keys, col)
    if already_merged:
        return prior, True
    summed = prior.unionByName(part).groupBy(*keys).agg(F.sum(col).alias(col))
    return summed, False


def stream_ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    event_id_cols: list[str],
    ts_col: str,
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_col: str | None = None,
) -> StreamingQuery:
    """CSV directory -> watermarked dedup -> foreachBatch merge into `table`.

    Processes everything currently available, then stops (the
    `Trigger.AvailableNow` rendering of the daily delta job); re-running
    resumes from the checkpoint and picks up only new files.

    With `partition_col` set (and the merge key stable within a
    partition — e.g. a date bucket derived from an immutable event
    field), each micro-batch merge is partition-scoped: only base
    partitions present in the batch are joined and promoted, so a small
    batch against a large table never rewrites the whole table — same
    discipline as the batch delta path (plans/delta.py).
    """
    feed = _feed(
        spark, input_dir, schema_ddl, transform=transform,
        ts_col=ts_col, watermark=watermark, dedup_cols=event_id_cols,
    )
    return _run_fold(
        feed,
        lambda batch, _: _merge_into(
            wh, table, batch, event_id_cols, partition_col
        ),
        checkpoint_dir,
        prepare=lambda batch: batch.dropDuplicates(event_id_cols),
    )


def _merge_into(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    event_id_cols: list[str],
    partition_col: str | None,
) -> None:
    """MERGE one (already in-batch-deduplicated) micro-batch into `table`.

    The merge writes carry a REBALANCE hint (guide §6 / §2.2): the
    merge output's partition count otherwise inherits
    `spark.sql.shuffle.partitions` (sized to CORES), so each batch of a
    32-core run wrote 4x the files of an 8-core run for identical data
    — measured r13 as genuine inverse scaling of this leg (32-core
    1.97x slower; dropping the partition count recovered ~90% of it).
    REBALANCE makes AQE size the write partitions by bytes
    (advisoryPartitionSizeInBytes), so file count follows DATA SIZE at
    any scale: one file per small micro-batch locally, ~64 MB files on
    a fact-scale partition-scoped merge — never one file per core.
    Partitioned writes, the first one included, shuffle BY the
    partition column, so each partition value lands in few write tasks
    instead of one file per task in every partition dir."""
    part_cols = [partition_col] if partition_col else None
    staging = f"{table}__staging"
    if wh.exists(table):
        # land the merge in a staging dir, then promote by RENAME —
        # never a read-back-rewrite of the base (which would double
        # the write volume and race the lazy base scan)
        base = wh.read(table)
        if partition_col:
            merged = merge_upsert_partitioned(
                base, batch.select(*base.columns), event_id_cols, partition_col
            )
            wh.overwrite(
                merged.hint("rebalance", partition_col),
                staging,
                partition_cols=part_cols,
            )
            wh.swap_partitions(staging, table, partition_col)
        else:
            merged = merge_upsert(base, batch.select(*base.columns), event_id_cols)
            wh.overwrite(merged.hint("rebalance"), staging)
            wh.swap(staging, table)
    elif partition_col:
        # not a rebalance hint: `batch` belongs to the stream's session,
        # where Spark turns AQE off for stateful queries and so drops
        # the hint (the merged frames above belong to the warehouse's
        # session, where AQE applies it)
        wh.overwrite(
            batch.repartition(partition_col), table, partition_cols=part_cols
        )
    else:
        wh.overwrite(batch.hint("rebalance"), table)


def _any_violated(rules: list) -> Column:
    """True where a row breaks any ROW-LEVEL rule (NULL counts as
    not violated)."""
    violated = F.lit(False)
    for r in rules:
        if r.violated is not None:
            violated = violated | F.coalesce(r.violated, F.lit(False))
    return violated


def stream_validated_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    event_id_cols: list[str],
    ts_col: str,
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    rules: list,
    watermark: str = "1 day",
    partition_col: str | None = None,
    report_table: str = "EXPECTATIONS_LOG",
    quarantine_table: str | None = None,
    zonemap_cols: list[str] | None = None,
) -> StreamingQuery:
    """Validated streaming ingest: per micro-batch, the declarative
    expectations suite (operators/expectations.py) runs BEFORE the
    merge — the streaming rendering of the ingest-promotion gate.

    Per batch:
    - the full rule report (rule, kind, target, n_violations, passed)
      is appended to `report_table` stamped with the batch id — an
      append-only audit log of feed health over time;
    - rows violating any ROW-LEVEL rule (not_null / accepted_values /
      in_range / matches_regex / satisfies) are split out; with
      `quarantine_table` set they append there (the dead-letter
      pattern, reference S10) instead of silently vanishing;
    - only clean rows merge into `table`.

    The report and the quarantine are each their own append ledger
    (module docstring); the MERGE is naturally idempotent on replay.

    Aggregate-shaped rules (unique / row_count / referential) can't
    name individual rows; they gate via the report, not the split.
    `zonemap_cols` keeps the table's skipping index (operators/
    zonemap.py) fresh after each batch's merge, so interval reads on a
    streamed table prune files without a manual rebuild.
    Scale: the report is rules-sized, the split is one filter over the
    batch, and the merge is the partition-scoped batch path — nothing
    here holds streaming state beyond the dedup watermark.
    """
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        expectations_report,
    )

    has_row_rules = any(r.violated is not None for r in rules)

    def _validate_and_merge(batch: DataFrame, batch_id: int) -> None:
        already_logged = batch_already_appended(
            wh, report_table, batch_id, col="batch_id"
        )
        clean = batch
        if has_row_rules:
            violated = _any_violated(rules)
            if quarantine_table is not None:
                # rebalance: dead-letter appends are a (usually
                # tiny) filtered slice of the batch — without the
                # clamp each append lands one file PER PARTITION
                # of the batch (cores-sized), decaying the
                # quarantine into core-count x batches files
                _append_once(
                    wh, batch.filter(violated).hint("rebalance"),
                    quarantine_table, batch_id, "batch_id",
                )
            clean = batch.filter(~violated)
        if not already_logged:
            wh.append(
                _stamp(expectations_report(batch, rules), "batch_id", batch_id),
                report_table,
            )
        _merge_into(wh, table, clean, event_id_cols, partition_col)
        if zonemap_cols:
            # keep the skipping index fresh as the stream appends:
            # stats only the batch's new files (operators/zonemap.
            # refresh_zonemap); entries for files the merge rewrote
            # go stale and are ignored by prune_files, so pruned
            # reads stay exact between (occasional) full rebuilds
            from gcp_data_pipeline_fyp_spark.operators.zonemap import (
                refresh_zonemap,
            )

            refresh_zonemap(wh, table, zonemap_cols)

    feed = _feed(
        spark, input_dir, schema_ddl,
        ts_col=ts_col, watermark=watermark, dedup_cols=event_id_cols,
    )
    return _run_fold(
        feed,
        _validate_and_merge,
        checkpoint_dir,
        prepare=lambda batch: batch.dropDuplicates(event_id_cols).persist(),
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts per key; watermark applies on streaming input."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col(key_col).alias("lb_type"),
        )
        .agg(F.count("*").alias("total_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lb_type",
            "total_events",
        )
    )


def reprocess_quarantine(
    wh: Warehouse,
    quarantine_table: str,
    rules: list,
    table: str,
    event_id_cols: list[str],
    partition_col: str | None = None,
) -> dict[str, int]:
    """Close the dead-letter loop: re-validate quarantined rows under a
    (presumably fixed) rule set, merge the now-clean ones into the
    target, and rewrite the quarantine with only the still-failing
    remainder. Returns {"released": n, "remaining": n}.

    The batch_id stamp rides along in the quarantine but is dropped
    before the merge (the target table never carries it). Batch-sized
    work only: one filter split + the idempotent partition-scoped merge.
    """
    q = wh.read(quarantine_table).persist()
    try:
        violated = _any_violated(rules)
        clean = q.filter(~violated).drop("batch_id")
        still_bad = q.filter(violated)
        released = clean.count()
        remaining = still_bad.count()
        if released:
            _merge_into(
                wh, table, clean.dropDuplicates(event_id_cols), event_id_cols,
                partition_col,
            )
        # rewrite via staging + swap: overwriting the table we are
        # still lazily reading would race the scan
        wh.overwrite(still_bad, f"{quarantine_table}__staging")
        wh.swap(f"{quarantine_table}__staging", quarantine_table)
        return {"released": released, "remaining": remaining}
    finally:
        q.unpersist()


def stream_scored_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    ts_col: str,
    text_col: str,
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    weights_table: str,
    n_buckets: int | None = None,
    threshold_micro: int = 0,
    watermark: str = "1 day",
    partition_col: str | None = None,
    rejects_table: str | None = None,
    score_log_table: str = "QUALITY_SCORES_LOG",
) -> StreamingQuery:
    """Model-filtered streaming corpus ingest: per micro-batch, score
    every document with OFFLINE-trained classifier weights
    (operators/classifier.py) and merge only the keepers — the
    streaming rendering of the DCLM/FineWeb model-based quality gate,
    structured exactly like `stream_validated_ingest`.

    Per batch:
    - documents are scored through the broadcast weight table (read
      once at stream start — the model is a versioned warehouse table,
      trained offline on a labeled seed set, never inside the stream).
      The feature-space geometry (n_buckets/seed/bigrams) is read from
      the stored model's own metadata columns, so a model trained
      off-defaults scores correctly with no caller coordination;
      `n_buckets` is accepted only for legacy metadata-less tables and
      validated against stored metadata otherwise;
    - 'drop' and 'empty' docs append to `rejects_table` (if set) WITH
      their score and batch id — the quality dead-letter, auditable
      and reprocessable when the model is retrained;
    - a per-batch summary (n_docs / n_keep / n_drop / n_empty) appends
      to `score_log_table` — the feed-quality time series;
    - keepers merge via the staging-swap batch path.

    The rejects and the score log are each their own append ledger
    (module docstring), so ordering between the two appends does not
    matter; a crash strictly inside one append can still leave that
    one table partially written (the commit-protocol caveat of
    `batch_already_appended`).

    Scale: scoring is one feature explode + broadcast join + id-keyed
    aggregation per batch; no streaming state beyond the dedup
    watermark; the weight table is ≤ n_buckets rows.
    """
    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        _resolve_meta,
        bucketed_features,
        score_from_buckets,
    )

    weights = wh.read(weights_table)
    # resolve the feature-space geometry ONCE at stream start (fail
    # fast on a conflict, not mid-batch) and pass the resolved ints to
    # the geometry-explicit scoring path below — the r5 form re-ran the
    # metadata first() inside every micro-batch (ADVICE r5)
    rb_buckets, rb_bigrams, rb_seed = _resolve_meta(
        weights, n_buckets, None, None
    )

    def _score_and_merge(batch: DataFrame, batch_id: int) -> None:
        already_logged = batch_already_appended(
            wh, score_log_table, batch_id, col="batch_id"
        )
        feats = bucketed_features(
            batch, [id_col], text_col, rb_buckets, rb_bigrams, rb_seed
        )
        scored = score_from_buckets(
            feats, id_col, weights, batch.select(id_col), threshold_micro,
        ).persist()
        try:
            if rejects_table is not None:
                _append_once(
                    wh, batch.join(scored.filter(F.col("label") != "keep"), id_col),
                    rejects_table, batch_id, "batch_id",
                )
            if not already_logged:
                summary = scored.agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    *[
                        F.sum((F.col("label") == k).cast("long")).alias(f"n_{k}")
                        for k in ("keep", "drop", "empty")
                    ],
                )
                wh.append(_stamp(summary, "batch_id", batch_id), score_log_table)
            keep = batch.join(
                scored.filter(F.col("label") == "keep").select(id_col), id_col,
                "left_semi",
            )
            if not keep.isEmpty():
                _merge_into(wh, table, keep, [id_col], partition_col)
        finally:
            scored.unpersist()

    feed = _feed(
        spark, input_dir, schema_ddl,
        ts_col=ts_col, watermark=watermark, dedup_cols=[id_col],
    )
    return _run_fold(
        feed,
        _score_and_merge,
        checkpoint_dir,
        prepare=lambda batch: batch.dropDuplicates([id_col]).persist(),
    )


def stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    key_cols: list[str],
    id_col: str,
    ts_col: str,
    wh: Warehouse,
    table: str,
    index_name: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
) -> StreamingQuery:
    """Streaming ingest deduplicated against the PERSISTED content-
    digest index (operators/dedup.py:build_digest_index) — history-
    aware dedup at the feed, not just within the watermark.

    `dropDuplicatesWithinWatermark` only sees ids inside its state
    horizon; a document re-delivered a month later sails through. Per
    micro-batch this path: (1) in-batch exact dedup, (2) LEFT ANTI
    join of the batch's 16-byte content digests against the persisted
    index — the base side is the index read, never a corpus scan,
    (3) appends the survivors to `table`, then (4) folds their digests
    into the index so the NEXT batch (and the next run) dedups against
    base ∪ everything ingested so far.

    Replay semantics (foreachBatch is at-least-once): rows append
    BEFORE digests, so a crash between the two writes self-heals — the
    replayed batch's rows merge idempotently by content (their digests
    are still absent, the anti-join passes them, and the append is the
    same rows), then digests land. A FULLY completed batch that
    replays is dropped entirely by the anti-join — the index itself is
    the replay ledger; duplicate digests from a crash inside step (4)
    are harmless (the anti-join semantics don't change) and are
    reaped by the next index rebuild.

    Scale: batch-sized work throughout — the only per-batch read of
    anything corpus-sized is the digest index (16 bytes/doc, ~1/10^4
    of corpus bytes)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        _content_digest,
        exact_dedup,
        incremental_dedup_indexed,
    )

    def _dedup_and_append(batch: DataFrame, batch_id: int) -> None:
        fresh = incremental_dedup_indexed(
            wh, batch, key_cols, index_name, update_index=False
        ).localCheckpoint()
        if fresh.isEmpty():
            return
        wh.append(fresh, table)
        wh.append(
            fresh.select(_content_digest(key_cols).alias("digest")).distinct(),
            f"{index_name}__digests",
        )

    feed = _feed(
        spark, input_dir, schema_ddl,
        ts_col=ts_col, watermark=watermark, dedup_cols=[id_col],
    )
    return _run_fold(
        feed,
        _dedup_and_append,
        checkpoint_dir,
        prepare=lambda batch: exact_dedup(
            batch.dropDuplicates([id_col]), key_cols, id_col
        ).persist(),
    )


def stream_neardup_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    text_col: str,
    ts_col: str,
    wh: Warehouse,
    table: str,
    index_name: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    feed_format: str = "csv",
) -> StreamingQuery:
    """Streaming ingest with history-aware NEAR-dup suppression — the
    streaming composition of the two persisted indexes
    (operators/dedup.py): the 16-byte content-digest index is the
    exact gate AND the replay ledger, the MinHash band index is the
    near-dup gate. `stream_dedup_ingest` only stops byte-identical
    re-deliveries; this also stops the near-copies (boilerplate
    re-wraps, tail edits) that dominate crawled feeds.

    Per micro-batch: (1) in-batch exact dedup, (2) digest anti-join
    against `{index_name}__digests` (drops exact re-deliveries AND
    makes a FULLY-COMPLETED batch's replay a no-op — band matching
    alone cannot self-suppress a replay because same-id pairs are
    filtered; honest at-least-once window: a crash AFTER the data
    append but BEFORE the digest append re-appends that batch's
    survivors on retry — plain parquet has no two-table transaction;
    run the exact digest dedup over the table, or rebuild via
    `build_digest_index`, to reap that window after a crash),
    (3) band-match the remainder against `{index_name}__bands` plus
    itself via `incremental_neardup_indexed` (the batch signs ONLY
    itself; the corpus is never re-tokenized), (4) suppress every doc
    banded with an indexed doc or with a smaller-id batch doc,
    (5) append survivors, then fold ONLY the survivors' digests and
    band rows into the indexes.

    Suppression is pair-greedy, not transitive-closure: in a batch
    chain a<b<c with pairs (a,b),(b,c) only `a` survives — `c` is
    suppressed by the already-suppressed `b`. Deliberately
    conservative (never ingests anything banded with a smaller id);
    chains that straddle batches converge through the index anyway.

    Scale: batch-sized signing + index-sized joins (band rows are
    partition-pruned on `band`); nothing corpus-sized is read except
    the two slim indexes.

    `feed_format`: "csv" (headered, the delta-chain convention) or
    "jsonl" (the public-corpus convention, sources/jsonl.py) —
    document feeds overwhelmingly land as JSONL. Parse-corrupt lines
    surface as all-NULL rows; a row with no id cannot be deduplicated,
    watermarked, or healed, so NULL-id rows are dropped at the source
    (torn lines never crash the stream and never land in the table —
    E2E-pinned). Feeds that must QUARANTINE torn lines instead go
    through `stream_validated_ingest` / sources/jsonl.split_corrupt.
    """
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        _content_digest,
        _lsh_band_rows,
        exact_dedup,
        incremental_dedup_indexed,
        incremental_neardup_indexed,
    )

    if feed_format not in ("csv", "jsonl"):
        raise ValueError(f"unknown feed_format: {feed_format!r}")

    def _gate_and_append(batch: DataFrame, batch_id: int) -> None:
        fresh = incremental_dedup_indexed(
            wh, batch, [text_col], index_name, update_index=False
        ).localCheckpoint()
        if fresh.isEmpty():
            return
        pairs = incremental_neardup_indexed(
            wh,
            fresh,
            id_col,
            text_col,
            index_name,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            update_index=False,
        )
        batch_ids = fresh.select(F.col(id_col).alias("__bid"))
        # every pair involves the batch on >=1 side (operator
        # contract), and id_a < id_b. If id_b is a batch doc its
        # partner is either indexed or a smaller batch doc — drop
        # id_b either way. If id_b is NOT in the batch, id_a is a
        # batch doc banded with an indexed doc — drop id_a.
        suppress_b = pairs.join(
            batch_ids, pairs["id_b"] == batch_ids["__bid"], "left_semi"
        ).select(F.col("id_b").alias("__drop"))
        suppress_a = pairs.join(
            batch_ids, pairs["id_b"] == batch_ids["__bid"], "left_anti"
        ).select(F.col("id_a").alias("__drop"))
        drops = suppress_b.unionByName(suppress_a).distinct()
        survivors = fresh.join(
            drops, fresh[id_col] == drops["__drop"], "left_anti"
        ).localCheckpoint()
        if survivors.isEmpty():
            return
        wh.append(survivors, table)
        wh.append(
            survivors.select(
                _content_digest([text_col]).alias("digest")
            ).distinct(),
            f"{index_name}__digests",
        )
        wh.append(
            _lsh_band_rows(
                survivors, id_col, text_col, num_hashes, bands, shingle_n
            ),
            f"{index_name}__bands",
            partition_cols=["band"],
        )

    feed = _feed(
        spark, input_dir, schema_ddl, feed_format=feed_format,
        not_null_col=id_col, ts_col=ts_col, watermark=watermark,
        dedup_cols=[id_col],
    )
    return _run_fold(
        feed,
        _gate_and_append,
        checkpoint_dir,
        prepare=lambda batch: exact_dedup(
            batch.dropDuplicates([id_col]), [text_col], id_col
        ).persist(),
    )


def stream_scd2_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    key_cols: list[str],
    attr_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str],
    wh: Warehouse,
    dim_table: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming SCD Type 2 dimension maintenance: each micro-batch
    folds into the persisted dimension with `scd2_apply`
    (operators/scd.py) — the recompute is sized by |current rows| +
    |batch|, never |history|, and the result is BYTE-EQUIVALENT to
    rebuilding from the whole feed (certified by the
    `scd2_incremental_state` probe's full-snapshot oracle).

    The updated dimension promotes via staging + `Warehouse.swap`
    (rename-with-backup): a reader sees the old or the new dimension,
    never a torn table. Replay is safe by ALGEBRA, not bookkeeping —
    re-applying a batch whose versions already landed collapses into
    the baseline run-compare and changes nothing (unit-pinned in
    tests/test_operators.py), so at-least-once foreachBatch delivery
    needs no ledger.

    Ordering contract: `order_col` must be non-decreasing per entity
    beyond CLOSED history (the watermark bounds intra-stream disorder;
    the apply folds intra-batch and batch-vs-current disorder
    correctly, but an event older than an entity's already-CLOSED
    interval lands as a new current-era version — retroactive
    backfills that deep should rebuild with `scd2_snapshot`)."""
    from gcp_data_pipeline_fyp_spark.operators.scd import (
        scd2_apply,
        scd2_snapshot,
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(*key_cols, *attr_cols, order_col, *tiebreak_cols)
        if wh.exists(dim_table):
            out = scd2_apply(
                wh.read(dim_table), batch,
                key_cols, attr_cols, order_col, tiebreak_cols,
            )
        else:
            out = scd2_snapshot(
                batch, key_cols, attr_cols, order_col, tiebreak_cols
            )
        staging = f"{dim_table}__scd2_staging"
        wh.overwrite(out, staging)
        wh.swap(staging, dim_table)

    feed = _feed(
        spark, input_dir, schema_ddl,
        max_files_per_trigger=max_files_per_trigger,
        ts_col=order_col, watermark=watermark,
        # order_col is part of the dedup key: without it, an entity's
        # SECOND state change inside the watermark would be dropped as
        # a "duplicate" of its first whenever tiebreak_cols is empty
        # or non-unique — silent history loss, not dedup
        dedup_cols=[*key_cols, order_col, *tiebreak_cols],
    )
    return _run_fold(feed, _fold, checkpoint_dir)


def stream_rollup_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    keys: list[str],
    sum_cols: list[str],
    wh: Warehouse,
    state_table: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming mergeable-rollup maintenance: each micro-batch
    reduces to a partial-aggregate state (operators/rollup.py
    rollup_state — count + exact decimal sums, group-key-sized) and
    MERGES into the persisted state, so the serving table is always
    one `finalize_state` read away and the per-batch work never
    rescans history.

    Count/sum merges are distributive but NOT idempotent, so unlike
    the SCD2 fold this carries the state mark (module docstring): a
    replayed batch is skipped before any merge, and a state table
    from a different checkpoint lineage raises."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        merge_states,
        rollup_state,
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        part = rollup_state(batch, keys, sum_cols)
        prior, already_merged = _prior_state(
            wh, state_table, checkpoint_dir, batch_id
        )
        if already_merged:
            return
        if prior is not None:
            part = merge_states([prior, part], keys)
        _promote_state(wh, part, state_table, checkpoint_dir, batch_id)

    feed = _feed(
        spark, input_dir, schema_ddl,
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_fold(feed, _fold, checkpoint_dir)


def stream_enriched_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    event_id_cols: list[str],
    ts_col: str,
    wh: Warehouse,
    dim_table: str,
    join_cols: list[str],
    table: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    dim_versioned: bool = False,
) -> StreamingQuery:
    """Stream-static enrichment against the CURRENT dimension snapshot:
    CSV directory -> watermarked dedup -> per-batch broadcast LEFT join
    with `dim_table` -> append to `table`.

    The dimension is re-read INSIDE foreachBatch, so every micro-batch
    joins the dimension as of batch time — a dim update between batches
    is visible to the next batch without restarting the stream (the
    plan-cached stream-static join would pin the file listing;
    re-reading per batch is the refresh contract, and the dim is
    broadcast so the join adds no shuffle). With `dim_versioned=True`
    the read goes through the versioned-table pointer
    (`read_versioned`) — each batch joins one consistent SNAPSHOT,
    never a half-overwritten directory, because published version dirs
    are immutable (`overwrite_versioned`).

    LEFT join: a fact row whose key has no dim row yet survives with
    NULL attributes (late-arriving dimension; re-enrichment is a batch
    backfill, not a streaming concern). Append sink + watermarked
    dedup: replays within the watermark dedup upstream of the join, so
    the at-least-once batch delivery does not double-append
    (the `stream_dedup_ingest` discipline).
    """

    def _enrich_and_append(batch: DataFrame, batch_id: int) -> None:
        dim = (
            wh.read_versioned(dim_table)
            if dim_versioned
            else wh.read(dim_table)
        )
        wh.append(batch.join(F.broadcast(dim), join_cols, "left"), table)

    feed = _feed(
        spark, input_dir, schema_ddl,
        ts_col=ts_col, watermark=watermark, dedup_cols=event_id_cols,
    )
    return _run_fold(
        feed,
        _enrich_and_append,
        checkpoint_dir,
        prepare=lambda batch: batch.dropDuplicates(event_id_cols),
    )


def stream_drift_monitor(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    value_col: str,
    group_cols: list[str],
    wh: Warehouse,
    profile_table: str,
    state_table: str,
    report_table: str,
    checkpoint_dir: str,
    n_bins: int = 10,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming PSI drift monitor: every micro-batch bins against the
    PERSISTED base profile (operators/profile.py:fit_psi_profile — the
    |groups|·n_bins state fitted once from the training snapshot),
    folds its per-(group, bin) counts into a cumulative state table,
    and appends the resulting per-group PSI to a report table — drift
    of the ENTIRE streamed corpus vs the base, per batch, without ever
    rescanning history.

    Count folds are distributive but not idempotent, so the state
    carries the state mark (module docstring). The report row appends
    AFTER the state swap: a crash inside that window loses one
    observability row, never corrupts counts (the next batch's row
    reflects the healed state).

    Scale: per batch, one scan of the batch (map-side-combinable
    count), then profile-sized joins; state and report are
    |groups|-sized. The base corpus is never re-read.
    """
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        bin_against_profile,
        psi_from_profile,
    )

    cnt_keys = [*group_cols, "bin"]

    def _fold(batch: DataFrame, batch_id: int) -> None:
        profile = wh.read(profile_table)
        part = bin_against_profile(
            batch, profile, value_col, group_cols, n_bins
        )
        counts, already_merged = _fold_counts(
            wh, state_table, checkpoint_dir, batch_id, part, cnt_keys, "cur_cnt"
        )
        if already_merged:
            return
        _promote_state(wh, counts, state_table, checkpoint_dir, batch_id)
        report = psi_from_profile(
            profile,
            wh.read(state_table).select(*cnt_keys, "cur_cnt"),
            group_cols,
            n_bins,
        ).withColumn("batch_id", F.lit(batch_id))
        wh.append(report, report_table)

    feed = _feed(
        spark, input_dir, schema_ddl,
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_fold(feed, _fold, checkpoint_dir)


def stream_retrain_monitor(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    vec_col: str,
    wh: Warehouse,
    index_name: str,
    state_table: str,
    report_table: str,
    checkpoint_dir: str,
    psi_threshold_micro: int = 250_000,
    vec_sep: str | None = "|",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming ANN-index retrain trigger: every micro-batch of new
    embeddings is assigned against the PERSISTED IVF codebook
    (`build_ivf_index`'s `{name}__centroids` — no refit, the DEPLOY.md
    cadence), the per-centroid counts fold into a cumulative state
    table, and a report row lands per batch with the PSI between the
    index's TRAINING assignment distribution (the
    `{index_name}__train_mix` snapshot `build_ivf_index` persists —
    frozen at build time, so the baseline never absorbs the very
    drift being measured even while `stream_index_ingest` appends
    every batch into the postings; a legacy index without the
    snapshot falls back to one postings count) and the
    streamed-so-far distribution —
    `retrain = psi > threshold`, the streaming rendition of
    `similarity.ivf_retrain_decision`.

    The counts carry the state mark (module docstring). The report
    appends AFTER the swap — a crash in that window loses one
    observability row, never corrupts counts.

    Scale: per batch, one broadcast-codebook assignment scan of the
    batch plus n_centroids-sized math; the training distribution is
    read ONCE at stream construction (n_centroids rows held on the
    driver); the corpus is never re-read. `vec_sep` parses a
    delimited-string vector column from CSV feeds; pass None when the
    stream already carries array<double> (parquet feeds).
    """
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        psi_from_joint_counts,
    )
    from gcp_data_pipeline_fyp_spark.operators.similarity import _assign

    cent = wh.read(f"{index_name}__centroids").select(
        "centroid_id", F.col("centroid").alias("__centroid")
    )
    if wh.exists(f"{index_name}__train_mix"):
        base_df = wh.read(f"{index_name}__train_mix")
    else:
        # legacy index persisted before the snapshot existed: one live
        # count (caveat stated in the docstring — rebuild to pin it)
        base_df = (
            wh.read(f"{index_name}__postings")
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    base_rows = [
        (int(r["centroid_id"]), int(r["n"]))
        for r in base_df.collect()  # n_centroids rows — scalar-bounded
    ]

    def _fold(batch: DataFrame, batch_id: int) -> None:
        vecs = batch.select(
            F.col(id_col).alias("corpus_id"),
            _vec_expr(vec_col, vec_sep).alias("__cv")
        ).filter(F.col("__cv").isNotNull())
        part = (
            _assign(vecs, cent)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("cur_cnt"))
        )
        counts, already_merged = _fold_counts(
            wh, state_table, checkpoint_dir, batch_id,
            part, ["centroid_id"], "cur_cnt",
        )
        if already_merged:
            return
        _promote_state(wh, counts, state_table, checkpoint_dir, batch_id)
        # PSI over the centroid-id mix: training distribution vs the
        # streamed-so-far cumulative — THE shared counts-level algebra
        # (operators/profile.py:psi_from_joint_counts), so this can
        # never drift from psi_categorical / ivf_retrain_decision
        base = spark.createDataFrame(base_rows, "centroid_id int, __cb long")
        cur = wh.read(state_table).select(
            "centroid_id", F.col("cur_cnt").alias("__cc")
        )
        pooled = base.join(cur, "centroid_id", "full").select(
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
            F.coalesce("__cc", F.lit(0)).alias("__cc"),
        )
        report = psi_from_joint_counts(pooled, []).select(
            "n_base",
            "n_cur",
            "n_cats",
            "psi_micro",
            (F.col("psi_micro") > F.lit(psi_threshold_micro)).alias("retrain"),
        )
        wh.append(_stamp(report, "batch_id", batch_id), report_table)

    feed = _feed(
        spark, input_dir, schema_ddl, feed_format="parquet" if vec_sep is None else "csv",
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_fold(feed, _fold, checkpoint_dir)


def _vec_expr(vec_col: str, vec_sep: str | None):
    """Embedding feeds are keyed off `vec_sep`: a separator means a CSV
    feed carrying the vector as a delimited string, parsed here; None
    means a parquet feed already carrying array<double>, passed
    through (CSV cannot represent arrays — the two options are one
    choice)."""
    import re as _re

    if vec_sep is None:
        return F.col(vec_col)
    return F.transform(
        F.split(F.col(vec_col), _re.escape(vec_sep)),
        lambda x: x.cast("double"),
    )


def stream_index_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    vec_col: str,
    wh: Warehouse,
    index_name: str,
    ledger_table: str,
    checkpoint_dir: str,
    vec_sep: str | None = "|",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming vector-index ingest: each micro-batch of embeddings
    folds into the persisted IVF index via `append_ivf_index` — assign
    against the STORED centroids (no refit; rebuild cadence handles
    drift, see DEPLOY.md), append only the centroid partitions the
    batch touches. Queries through `ivf_topk_indexed` see new vectors
    as soon as their batch lands.

    Postings appends are not idempotent, so the fold is guarded by an
    append-only LEDGER table (batch_id rows probed with
    `batch_already_appended`): a replayed batch is skipped before the
    append. Order matters for the crash window between the two writes:
    ledger-first would silently DROP a batch whose postings append then
    crashed; postings-first can only DUPLICATE rows, which
    `similarity.dedup_index_postings` heals (and which queries
    over-recall rather than miss in the meantime) — so postings go
    first, the recoverable failure mode, and the trade-off is stated
    here rather than hidden.

    Completes the streaming vector pipeline: scored ingest →
    stream_index_ingest → stream_retrain_monitor → rebuild.
    """
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        append_ivf_index,
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch_already_appended(wh, ledger_table, batch_id, col="batch_id"):
            return
        vecs = batch.select(
            F.col(id_col).alias("__vid"),
            _vec_expr(vec_col, vec_sep).alias("__vec"),
        ).filter(F.col("__vec").isNotNull())
        append_ivf_index(wh, vecs, "__vid", "__vec", index_name)
        n = vecs.count()
        wh.append(
            spark.createDataFrame(
                [(int(batch_id), int(n))], "batch_id long, n_vectors long"
            ),
            ledger_table,
        )

    feed = _feed(
        spark, input_dir, schema_ddl, feed_format="parquet" if vec_sep is None else "csv",
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_fold(feed, _fold, checkpoint_dir)


def stream_quality_monitor(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    score_col: str,
    label_col: str,
    wh: Warehouse,
    state_table: str,
    report_table: str,
    checkpoint_dir: str,
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming model-quality monitor: every micro-batch folds its
    calibration partial state (operators/evalmetrics.py:
    calibration_state — per-bin counts + exact-decimal score sums,
    distributive) into a persisted cumulative state, then appends one
    (batch_id, n, n_pos, ece_micro, auc_binned_micro) row to a report
    table — "is the quality classifier still calibrated, and does it
    still rank?" over the ENTIRE stream so far, per batch, with
    |bins|-sized state and no history rescans. The production loop
    this renders: score -> route (classifier_filter) -> monitor; when
    ECE or binned AUC degrades past a threshold, retrain/recalibrate
    — the model-quality sibling of stream_drift_monitor (input drift)
    and stream_retrain_monitor (index drift).

    The state carries the state mark (module docstring). The report
    row appends AFTER the swap: a crash in that window loses one
    observability row, never corrupts state.

    `auc_binned` treats the bin as the score (within-bin order is
    lost) — the bounded-underestimate contract of ks_binned_report,
    tightened by n_bins; the batch-side exact `roc_auc` is the
    certification-grade reading when a full snapshot is worth a scan.
    """
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        calibration_state,
        merge_calibration_states,
        quality_summary_from_state,
    )

    state_cols = ["bin", "n", "__sv", "__np"]

    def _fold(batch: DataFrame, batch_id: int) -> None:
        part = calibration_state(batch, score_col, label_col, n_bins, lo, hi)
        prior, already_merged = _prior_state(
            wh, state_table, checkpoint_dir, batch_id
        )
        if already_merged:
            return
        if prior is not None:
            part = merge_calibration_states([prior.select(*state_cols), part])
        _promote_state(wh, part, state_table, checkpoint_dir, batch_id)
        report = quality_summary_from_state(
            wh.read(state_table).select(*state_cols)
        ).withColumn("batch_id", F.lit(batch_id))
        wh.append(report, report_table)

    feed = _feed(
        spark, input_dir, schema_ddl,
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_fold(feed, _fold, checkpoint_dir)


def stream_match_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    key_cols: list[str],
    bucket_col: str,
    reference: DataFrame,
    wh: Warehouse,
    out_table: str,
    state_table: str,
    checkpoint_dir: str,
    ref_bucket_col: str | None = None,
    seed: int = 0,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming distribution matching: the batch reshaper
    (operators/sampling.py:distribution_match_sample) as an ingest —
    each micro-batch folds its per-bucket counts into a persisted
    SOURCE-PROFILE state (mergeable: plain count sums), derives the
    current keep rates from (cumulative profile, frozen reference
    profile) through the exact integer algebra of
    `match_rates_from_counts`, applies the module's md5 membership
    rule to the batch's rows, and appends the keepers to `out_table`.

    The reference profile is aggregated ONCE at wiring time and
    pinned (localCheckpoint) — the target shape is a curated corpus,
    not a moving stream.

    RATE-DRIFT CAVEAT (inherent, documented not hidden): rates are
    computed from the profile AS OF each batch, so early batches are
    sampled under a less-informed profile than late ones — the
    accumulated `out_table` is NOT bit-equal to re-running the batch
    reshaper over the full history (that run would sample every row
    under the FINAL rates). Because membership is the seeded hash
    rule and rates only ever *reshape* monotone-ish profiles, each
    row's keep decision is still deterministic given its batch's
    profile; for an exact retrospective sample, run
    `distribution_match_sample` over the accumulated raw corpus
    instead. The nested-sample property holds per bucket between any
    two batches whose rate moved monotonically (hash rule nesting) —
    not globally.

    Replay: the profile state carries the state mark, and the keeper
    append is an append ledger of `out_table` itself (module
    docstring). A replayed batch skips the merge but recomputes its
    keepers from the already-merged profile, so a crash between append
    and swap re-delivers into a no-op append, never duplicate rows (an
    all-dropped batch re-appends nothing, harmlessly).

    Scale: state is |buckets| rows; rates are |buckets| rows
    (broadcast join onto the batch); per-batch work is one batch-
    sized aggregation + one broadcast filter join — no history
    rescans, nothing corpus-sized shuffles.
    """
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        hash_bucket,
        match_rates_from_counts,
    )

    rb = ref_bucket_col or bucket_col
    ref_counts = (
        reference.groupBy(F.col(rb).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_ref"))
        .localCheckpoint(eager=True)
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        bc = batch.groupBy(F.col(bucket_col).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_src")
        )
        merged, already_merged = _fold_counts(
            wh, state_table, checkpoint_dir, batch_id, bc, ["bucket"], "n_src"
        )
        rates = match_rates_from_counts(merged, ref_counts)
        r = F.broadcast(
            rates.select(F.col("bucket").alias("__mb"), "rate_micro")
        )
        kept = (
            batch.join(r, F.col(bucket_col).eqNullSafe(F.col("__mb")), "inner")
            .filter(hash_bucket(key_cols, seed) < F.col("rate_micro"))
            .drop("__mb", "rate_micro")
        )
        _append_once(wh, kept, out_table, batch_id, "__batch_id")
        if not already_merged:
            _promote_state(wh, merged, state_table, checkpoint_dir, batch_id)

    feed = _feed(
        spark, input_dir, schema_ddl,
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_fold(feed, _fold, checkpoint_dir)


def stream_dsir_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    text_col: str,
    target: DataFrame,
    min_logw: float,
    wh: Warehouse,
    out_table: str,
    state_table: str,
    checkpoint_dir: str,
    target_text_col: str | None = None,
    n_buckets: int | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming DSIR selection (operators/dsir.py as an ingest): each
    micro-batch folds its hashed-ngram bucket counts into a persisted
    RAW-PROFILE state (mergeable: plain count sums, <= n_buckets
    rows), derives the current target/raw log-ratio table from
    (cumulative raw profile, frozen target profile), scores the
    batch's docs with the module's exact scoring half
    (`score_against_ratios` — the same decimal-pinned chain the batch
    probes certify), and appends docs with logw >= `min_logw` to
    `out_table` (with their logw/n_feats columns for downstream
    resampling).

    The TARGET profile is aggregated once at wiring time and pinned
    (localCheckpoint) — the target is a curated corpus, not a stream.

    WEIGHT-DRIFT CAVEAT (inherent, documented not hidden): log-ratios
    are computed from the raw profile AS OF each batch, so early
    batches are gated under a less-informed raw profile than late
    ones — the accumulated `out_table` is NOT bit-equal to re-running
    `dsir_logweights` + a threshold over the full history. As the
    cumulative profile converges (bucket frequencies are ratios of
    monotone counts), per-batch weights converge to the batch
    equivalent; for an exact retrospective selection, score the
    accumulated raw corpus with the batch operator instead. A
    threshold gate is used rather than top-k because k-of-stream is
    not computable online without history rescans.

    Replay is stream_match_ingest's: the raw-profile state carries the
    state mark and the keeper append is an append ledger of
    `out_table` itself (module docstring).

    Scale: state is <= n_buckets rows; the ratio table is broadcast
    by construction; per-batch work is one batch-sized explode +
    broadcast join + partially-aggregated per-doc sum — no history
    rescans, nothing corpus-sized shuffles.
    """
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        DEFAULT_BUCKETS,
        bucket_profile,
        dsir_log_ratios,
        score_against_ratios,
    )

    nb = n_buckets or DEFAULT_BUCKETS
    tgt_prof = bucket_profile(
        target, target_text_col or text_col, nb
    ).localCheckpoint(eager=True)

    # the keeper append carries the score columns; a feed that already
    # has them would write duplicate column names into out_table.
    # Spark column resolution is case-INsensitive by default, so the
    # check is too ('Logw' clashes with 'logw'). Parsed with Spark's
    # own DDL parser — a hand-rolled comma split misses backtick-
    # quoted names and mangles complex types with embedded commas
    # (map<string,int>), silently skipping a real collision
    from pyspark.sql.types import StructType

    feed_cols = {
        f.lower() for f in StructType.fromDDL(schema_ddl).fieldNames()
    }
    clash = {"logw", "n_feats"} & feed_cols
    if clash:
        raise ValueError(
            f"stream_dsir_ingest: feed schema already has {sorted(clash)} "
            "— rename those columns; the ingest appends its own."
        )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        bc = bucket_profile(batch, text_col, nb)
        merged, already_merged = _fold_counts(
            wh, state_table, checkpoint_dir, batch_id, bc, ["bucket"], "c"
        )
        ratios = dsir_log_ratios(merged, tgt_prof, nb)
        w = score_against_ratios(batch, id_col, ratios, text_col, nb)
        kept = batch.join(
            w.filter(F.col("logw") >= F.lit(float(min_logw))),
            id_col,
            "inner",
        )
        _append_once(wh, kept, out_table, batch_id, "__batch_id")
        if not already_merged:
            _promote_state(wh, merged, state_table, checkpoint_dir, batch_id)

    feed = _feed(
        spark, input_dir, schema_ddl,
        max_files_per_trigger=max_files_per_trigger,
    )
    return _run_fold(feed, _fold, checkpoint_dir)
