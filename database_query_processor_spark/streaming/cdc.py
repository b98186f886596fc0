"""Streaming CDC materialization: changelog stream → MERGE per
micro-batch → one table-format snapshot per epoch.

Composes three pieces this repo already proves separately into the
production change-data-capture topology: a file-source readStream
delivers changelog batches, foreachBatch applies each with
relational.merge_into (the src11 MERGE emulation), and every applied
epoch commits a new manifest version in sources/snapshots.py —
so the materialized table is versioned, time-travelable, and
readable by concurrent consumers while the stream runs.

Exactly-once: foreachBatch redelivers a failed epoch under the SAME
batch_id; data files are named by epoch, and an epoch whose file is
already in the live manifest is skipped — at-least-once delivery ×
idempotent commit = each change applied once (same contract as
streaming/sinks.py, upgraded from append-only files to versioned
MERGE). The crash window between the data write and the manifest
publish is covered too: a redelivered epoch whose data dir exists
but was never referenced by a manifest is an unpublished orphan, and
snapshots.commit discards and re-writes it instead of failing on
the existing path — the manifest rename remains the single commit
point.

Scale: each epoch here rewrites the whole table (one output file) —
correct and simplest for the test corpus. At 100 TB the same loop
partitions the table on the merge key and rewrites ONLY partitions
the batch touches (merge_into on the pruned subset, commit swaps
just those files); epoch cost is then O(changed partitions), which
is the Delta/Iceberg MERGE cost model. No reference analog (the
reference is batch-only and mutation-free).
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_query_processor_spark.operators.relational import merge_into
from database_query_processor_spark.sources import snapshots as SNAP
from database_query_processor_spark.workdir import scratch_dir


def apply_cdc_epoch(
    spark: SparkSession,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    key: str,
    update_cols: list[str],
    delete_col: str = "is_delete",
    seq_col: str | None = None,
    name_prefix: str = "merged",
) -> bool:
    """Apply ONE changelog micro-batch to the table's latest snapshot
    and commit the result as the next version. Idempotent on epoch
    redelivery: data files are named by epoch, so a batch_id whose
    file is already live is a no-op. Checking the LATEST manifest is
    sufficient because foreachBatch epochs are sequential — only the
    most recent epoch (whose file survives in the live manifest) can
    ever be redelivered. Returns whether a commit happened
    (False = redelivery skipped).

    MERGE precondition — at most one op per key per batch: a real CDC
    feed carries several ops per key, and merging them unreduced
    fans out the full-outer join (duplicate rows, deletes eclipsed by
    surviving update rows — silently wrong data). Pass ``seq_col``
    (the changelog's LSN/sequence column) and the batch is reduced to
    each key's LATEST op before the merge; without it the
    precondition is ENFORCED — a batch with duplicate keys raises
    instead of corrupting the snapshot."""
    name = f"{name_prefix}_epoch_{batch_id}"
    version = SNAP.latest_version(table)
    if version == 0:
        raise ValueError(
            f"table {table!r} has no committed snapshot; seed a base "
            "version first (run_cdc_apply commits the target as v1)"
        )
    with open(SNAP._manifest(table, version)) as fh:
        live = json.load(fh)["files"]
    if name in live:
        return False
    if seq_col is not None:
        # Deterministic winner even when a batch carries two ops for the
        # same key with EQUAL sequence values: tiebreak on the delete flag
        # (delete wins — the conservative outcome for an ambiguous feed),
        # then a stable whole-row hash so reruns of the same batch always
        # apply the same state. The hash must be TOTAL over rows:
        # xxhash64 over raw columns SKIPS NULL inputs (two rows
        # differing only in NULL placement collide), so hash the JSON
        # form with nulls kept — field names + explicit nulls make
        # distinct rows hash distinctly.
        row_json = F.to_json(
            F.struct(*[F.col(c) for c in batch_df.columns]),
            {"ignoreNullFields": "false"},
        )
        w = Window.partitionBy(key).orderBy(
            F.col(seq_col).desc(),
            F.col(delete_col).desc_nulls_last(),
            F.xxhash64(row_json).asc(),
        )
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        dup = (
            batch_df.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"changelog batch {batch_id} has multiple ops for key "
                f"{dup[0][0]!r}; pass seq_col to reduce to the latest op "
                "per key (MERGE requires at most one source row per key)"
            )
    current = SNAP.read_version(spark, table, version)
    merged = merge_into(
        current,
        batch_df,
        key=key,
        matched_update={c: F.col(f"s.{c}") for c in update_cols},
        matched_delete=F.col(f"s.{delete_col}"),
        # a delete for a key absent from the snapshot must stay a
        # no-op — without this gate WHEN NOT MATCHED would insert the
        # tombstone as a live row
        insert_condition=~F.coalesce(F.col(f"s.{delete_col}"), F.lit(False)),
    )
    SNAP.commit(table, {name: merged}, drops=tuple(live))
    return True


def run_cdc_apply(
    spark: SparkSession,
    target: DataFrame,
    changelog: DataFrame,
    key: str,
    update_cols: list[str],
    delete_col: str = "is_delete",
    log_files: int = 4,
    table_dir: str | None = None,
    seq_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """REAL streaming run: seed snapshot v1 with `target`, stream
    `changelog` one file per micro-batch, MERGE each batch into the
    latest snapshot and commit it as the next version. Returns the
    final materialized table (read through the manifest layer, so
    every intermediate version remains queryable).

    Ordering: the changelog is split into files BY KEY (hash
    repartition on ``key``), so all of a key's ops share one
    micro-batch — a round-robin split would scatter them across
    epochs in arbitrary file order and make the final state
    nondeterministic. Within the batch, ``seq_col`` picks each key's
    latest op (see apply_cdc_epoch); feeds with one op per key need
    neither. Pass ``checkpoint_dir`` (with a durable ``table_dir``)
    to make the run restartable: a re-invocation resumes from the
    existing snapshots and the stream's checkpoint redelivers the
    in-flight epoch, which the manifest check then applies
    idempotently; the default tempdir checkpoint is for
    single-process demo runs."""
    table = table_dir or scratch_dir("dqps_cdc_tbl_")
    if SNAP.latest_version(table) == 0:
        SNAP.commit(table, {"base": target})

    # The changelog source dir must be DETERMINISTIC when the run is
    # restartable: a checkpoint's offset log records source file paths,
    # so a fresh random scratch dir on re-invocation would point the
    # resumed stream at the previous run's (deleted) files —
    # FileNotFoundException instead of the documented redelivery, and
    # every new-path file would re-apply as a brand-new epoch. With a
    # persistent checkpoint_dir the log lives beside it; the
    # scratch-dir default remains for single-process demo runs.
    if checkpoint_dir is not None:
        log_dir = os.path.join(checkpoint_dir, "changelog")
    else:
        log_dir = scratch_dir("dqps_cdc_log_")
    changelog.repartition(log_files, F.col(key)).write.mode("overwrite").parquet(
        log_dir
    )
    stream = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir)
    )

    # Epoch data files are named per RUN: with a persistent
    # checkpoint_dir the prefix derives from it (a restart resumes the
    # same stream, so a redelivered batch_id maps to the SAME name and
    # the idempotent-commit machinery engages); without one the stream
    # is fresh each call and batch ids restart at 0, so a unique
    # prefix keeps new epochs from colliding with immutable history
    # when the same table_dir is reused.
    if checkpoint_dir is not None:
        run_id = hashlib.sha1(checkpoint_dir.encode()).hexdigest()[:8]
    else:
        run_id = uuid.uuid4().hex[:8]
    prefix = f"merged_{run_id}"

    def apply_epoch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_epoch(
            spark, table, batch_df, batch_id, key, update_cols, delete_col,
            seq_col=seq_col, name_prefix=prefix,
        )

    writer = stream.writeStream.foreachBatch(apply_epoch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return SNAP.read_version(spark, table)
