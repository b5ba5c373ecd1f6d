"""Two-pass WAL-first commit: the equivalence baseline for the fused
single-action commit (`KvStore._commit_single_action`). Reference code
for the test suite only — an independent implementation of the same
commit contract, so the equivalence tests compare two designs rather
than one design with itself."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_spark.catalog import CommitState
from fluss_spark.operators.replay import SEQ_COL, SUB_COL
from fluss_spark.types import BUCKET_COL, CHANGE_TYPE_COL, ddl_of


def commit_twopass(
    self, spark: SparkSession, changelog: DataFrame, commit_ts_ms: int | None
) -> CommitState:
    """WAL append + touched-bucket snapshot rewrite + atomic commit — a
    KvStore method (`self` is the store) that tests bind in place of
    `_commit_changelog` to compare the single-action commit against
    (tests/test_commit_equivalence.py); no production route runs it.

    WAL-FIRST: the fold plan is computed exactly ONCE — inside the
    WAL write job — and the STAGED WAL FILES are the lineage cut.
    The snapshot derivation re-reads those files (metadata-listed,
    bucket-pruned), so it can never diverge from what was appended
    even if the input DataFrame is non-deterministic: the file is
    the record. This replaces the old eager localCheckpoint barrier
    (one extra full materialization + its scheduling round-trips per
    commit — ~25% of the steady-state commit constant) with the
    durable artifact the commit must produce anyway."""
    schema = self.schema
    pk = schema.primary_key

    # WAL append: per-bucket offsets ordered by the fold sequence.
    # All events of one key land in one bucket (bucket key ⊆ pk), so
    # per-key changelog order is preserved in offset order.
    old_hwm = {int(b): off for b, off in self.catalog.current_commit(self.db, self.table).log_hwm.items()}
    wal_order = [SEQ_COL, SUB_COL] + pk
    auto_override = None
    stamp_persist = None
    if any(f.auto_increment for f in schema.fields):
        # persist = barrier: the insert-count job and the WAL write
        # must see the same evaluated fold rows
        stamp_persist = changelog.persist()
        changelog, auto_override = self._stamp_autoinc_baseline(
            spark, stamp_persist
        )
    try:
        state = self.log.append(
            changelog,
            ordering=wal_order,
            extra_cols=[CHANGE_TYPE_COL, SEQ_COL, SUB_COL],
            commit_ts_ms=commit_ts_ms,
            defer_commit=True,
            auto_increment_override=auto_override,
        )
    finally:
        if stamp_persist is not None:
            stamp_persist.unpersist()
    version = state.version
    # the staged files ARE this commit's changelog (see docstring)
    staging = self.log.staging_path(version)
    changelog = (
        spark.read.schema(ddl_of(self.log.file_schema()))
        .option("basePath", staging)
        .parquet(staging)
    )

    # touched buckets = high-watermark diff — no extra Spark job
    touched_buckets = [
        int(b) for b, off in state.log_hwm.items() if off != old_hwm.get(int(b))
    ]

    old_manifest = self._manifest(
        self.catalog.current_commit(self.db, self.table).snapshot_version
    ) or {}
    new_manifest = dict(old_manifest)

    if touched_buckets:
        from fluss_spark.operators.replay import _snapshot_from_changelog

        # last change event per key in (seq, sub) order — per key
        # identical to WAL-offset order (wal_order above sorts by it)
        touched_final = _snapshot_from_changelog(changelog, schema)
        touched_keys = changelog.select(*pk)  # anti join dedups
        # only the touched buckets are rewritten; a key whose last
        # event is -D must not survive via the old rows (anti-join on
        # ALL keys with change events)
        old_rows = self.snapshot(spark, buckets=touched_buckets)
        untouched_keys = old_rows.join(touched_keys, on=pk, how="left_anti")
        bucket_rows = untouched_keys.unionByName(touched_final)

        data_dir = f"data-v{version}"
        (
            bucket_rows.withColumn(BUCKET_COL, self._bucket_expr())
            .repartition(min(schema.num_buckets, 32), F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(*schema.partition_keys, BUCKET_COL)
            .parquet(os.path.join(self.snapshot_dir, data_dir))
        )
        if schema.partition_keys:
            # the baseline rewrites touched buckets WHOLE (across
            # partitions): every pair of a touched bucket remaps to
            # the new dir; pairs with no surviving rows drop out
            snap_pairs = set(
                self._walk_pairs(os.path.join(self.snapshot_dir, data_dir))
            )
            for pair in [
                p for p in new_manifest if p[1] in set(touched_buckets)
            ]:
                if pair not in snap_pairs:
                    new_manifest.pop(pair, None)
            for pair in snap_pairs:
                new_manifest[pair] = data_dir
        else:
            for bkt in touched_buckets:
                new_manifest[bkt] = data_dir

    if schema.partition_keys:
        dir_pairs = dict(
            self._manifest_dir_pairs(
                self.catalog.current_commit(self.db, self.table).snapshot_version
            )
        )
        if touched_buckets:
            dir_pairs[data_dir] = sorted(snap_pairs)
        self._write_manifest(version, new_manifest, dir_pairs)
    else:
        self._write_manifest(version, new_manifest)
    state.snapshot_version = version
    self.log.publish(version)
    self.catalog.commit(self.db, self.table, state)
    return state
