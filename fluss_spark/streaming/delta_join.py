"""Index-backed delta join (L5, the reference's actual design).

The Flink 2.2 delta join over Fluss pk tables
(fluss-flink/fluss-flink-2.2/.../Flink22DeltaJoinITCase.java; optimizer
strategy TABLE_OPTIMIZER_DELTA_JOIN_STRATEGY) replaces the classic
stream-stream join's engine state with STORAGE probes: each delta record
from one side looks up the other TABLE by its bucket-key index, and the
joined rows upsert into a pk sink whose key is the pair identity — so
the operator's own state is just the two subscription offsets, bounded
regardless of table size. Eligibility mirrors the reference: the join
key must contain each side's bucket key (that is what makes the probe a
single-bucket index lookup), and deletes are not retracted (the
reference runs its sources with table.delete.behavior=IGNORE).

Here one micro-batch is set-at-a-time instead of per-record, with the
same storage-probe shape:

    new pairs = delta(L) ⋈ R-state  ∪  L-state ⋈ delta(R)

where delta(X) is the last non-delete event per key in X's WAL slice
since the previous batch, and the X-state probe is a SNAPSHOT READ
BUCKET-PRUNED to the delta's join-key buckets (one tiny distinct-bucket
job bounds the probe plan to O(delta buckets) manifest dirs — the
set-at-a-time equivalent of the reference's per-record prefix lookup).
Upserting into the pair-keyed pk sink makes re-emission idempotent and
produces the reference's +I/-U/+U changelog on the sink for updated
pairs. The sink converges to the exact inner join of the two tables'
final states once both subscriptions are drained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_spark.bucketing import bucket_expr
from fluss_spark.table import FlussTable
from fluss_spark.types import CHANGE_TYPE_COL, DELETE, OFFSET_COL


class DeltaJoin:
    """Micro-batch index-backed delta join of two pk tables into a pk
    sink. `on` is the equi-join column list (must contain both sides'
    bucket keys; columns must exist under the same names on both
    sides). Non-join columns are emitted under `left_prefix` /
    `right_prefix`; the sink's schema must match the emitted columns
    and its primary key must identify the pair."""

    def __init__(
        self,
        left: FlussTable,
        right: FlussTable,
        on: list[str],
        sink: FlussTable,
        left_prefix: str = "l_",
        right_prefix: str = "r_",
    ):
        for side, t in (("left", left), ("right", right)):
            if t.kv is None:
                raise ValueError(f"delta join requires pk tables; {side} side is a log table")
            bk = t.schema.bucket_keys
            if not set(bk) <= set(on):
                raise ValueError(
                    f"delta join key {on} must contain the {side} side's "
                    f"bucket key {bk} (the probe must be an index lookup — "
                    "the reference's delta-join eligibility rule)"
                )
            missing = [c for c in on if c not in t.schema.data_columns()]
            if missing:
                raise ValueError(f"join column(s) {missing} absent on the {side} side")
        if sink.kv is None:
            raise ValueError("delta join sink must be a pk table (pair-keyed upserts)")
        self.left, self.right, self.sink = left, right, sink
        self.on = list(on)
        self.left_prefix, self.right_prefix = left_prefix, right_prefix
        # the operator's WHOLE state: two per-bucket offset maps
        self._off_l: dict[int, int] = {}
        self._off_r: dict[int, int] = {}

    # ------------------------------------------------------------------ #
    def _delta_final(
        self, spark: SparkSession, t: FlussTable, start: dict[int, int], end: dict[int, int]
    ) -> DataFrame:
        """Last non-delete event per key in the WAL slice [start, end) —
        the set-at-a-time delta (deletes are ignored, not retracted:
        reference table.delete.behavior=IGNORE)."""
        df = t.log.scan(spark, start_offsets=start or None, end_offsets=end)
        pk = t.schema.primary_key
        pk_sql = ", ".join(f"`{c}`" for c in pk)
        return (
            df.selectExpr(
                "*",
                f"row_number() OVER (PARTITION BY {pk_sql} "
                f"ORDER BY `{OFFSET_COL}` DESC) AS __rn",
            )
            .filter(f"__rn = 1 AND `{CHANGE_TYPE_COL}` != '{DELETE}'")
            .select(*t.schema.data_columns())
        )

    def _probe_buckets(self, spark: SparkSession, delta: DataFrame, other: FlussTable):
        """Buckets of `other` the delta's join keys hash to — one tiny
        job returning <= num_buckets rows; bounds the probe snapshot to
        those buckets' manifest dirs."""
        bk = other.schema.bucket_keys
        expr = bucket_expr(bk, other.schema.num_buckets)
        # collect_set, not distinct().collect(): map-side partial
        # aggregation reduces each scan partition to one <=num_buckets
        # set, so discovery is a single 1-reducer stage instead of a
        # full distinct exchange (the kv.py commit-discovery shape)
        return sorted(
            int(x)
            for x in delta.select(F.collect_set(expr).alias("bs")).first()["bs"]
        )

    def _pair_cols(self, side: FlussTable, prefix: str) -> list:
        return [
            F.col(c).alias(f"{prefix}{c}")
            for c in side.schema.data_columns()
            if c not in self.on
        ]

    def _emit(self, l_side: DataFrame, r_side: DataFrame) -> DataFrame:
        l = l_side.select(*self.on, *self._pair_cols(self.left, self.left_prefix))
        r = r_side.select(*self.on, *self._pair_cols(self.right, self.right_prefix))
        return l.join(r, on=self.on, how="inner")

    # ------------------------------------------------------------------ #
    def poll(self, spark: SparkSession) -> bool:
        """One micro-batch: probe + upsert the new pairs; advance the
        offsets. Returns False when both subscriptions are caught up."""
        hl = self.left.latest_offsets()
        hr = self.right.latest_offsets()
        new_l = any(off > self._off_l.get(b, 0) for b, off in hl.items())
        new_r = any(off > self._off_r.get(b, 0) for b, off in hr.items())
        if not new_l and not new_r:
            return False
        parts: list[DataFrame] = []
        cached: list[DataFrame] = []
        try:
            def left_dir() -> DataFrame:
                # persisted: the delta feeds the bucket-discovery job,
                # the probe join AND the sink upsert's fold — without
                # the cache the WAL scan + last-event window re-runs
                # once per consumer
                dl = self._delta_final(spark, self.left, self._off_l, hl).persist()
                cached.append(dl)
                r_state = self.right.kv.snapshot(
                    spark, buckets=self._probe_buckets(spark, dl, self.right)
                )
                return self._emit(dl, r_state)

            def right_dir() -> DataFrame:
                dr = self._delta_final(spark, self.right, self._off_r, hr).persist()
                cached.append(dr)
                l_state = self.left.kv.snapshot(
                    spark, buckets=self._probe_buckets(spark, dr, self.left)
                )
                return self._emit(l_state, dr)

            if new_l and new_r:
                # the two probe directions are independent until the
                # union: each runs one discovery job (collect_set over
                # its cached delta) whose driver-side phase the other
                # direction's job back-fills (guide §2.6). Read-only
                # jobs on different tables; plan construction from two
                # driver threads is supported Spark usage, and the
                # `cached` list append is GIL-atomic.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    fl, fr = pool.submit(left_dir), pool.submit(right_dir)
                    parts = [fl.result(), fr.result()]
            elif new_l:
                parts.append(left_dir())
            elif new_r:
                parts.append(right_dir())
            pairs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
            # both directions emit the same pair when one join key changed on
            # both sides in one batch — identical values, distinct() collapses
            pairs = pairs.distinct().persist()
            cached.append(pairs)
            # count() (not isEmpty): one job fills the cache completely,
            # so a non-empty batch's upsert folds the CACHED pairs
            # instead of re-running the probe join
            if pairs.count():
                self.sink.upsert(pairs, ordering=list(self.on))
        finally:
            for df in cached:
                df.unpersist()
        self._off_l, self._off_r = hl, hr
        return True

    def process_available(self, spark: SparkSession, max_batches: int = 100) -> int:
        """Drain both subscriptions (availableNow); returns batches run."""
        n = 0
        for _ in range(max_batches):
            if not self.poll(spark):
                break
            n += 1
        return n
