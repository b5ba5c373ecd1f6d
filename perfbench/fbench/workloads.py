"""The two closed-loop workloads. One client thread each; every
operation waits for the previous one. Each workload builds its table
from seeded inputs in `setup`, runs one operation per `step`, and checks
the program's outputs in `final_checks`.

Timed regions hold only calls into the engine and the actions that
consume their results; generating inputs, updating the model, comparing
outputs and walking the table dir happen outside them.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from fbench import checks, gen
from fbench.storage import TableSpace
from fluss_spark.catalog import Catalog
from fluss_spark.client import connect
from fluss_spark.streaming.reader import LogStreamReader
from fluss_spark.table import create_table
from fluss_spark.types import Field, TableSchema


@dataclass
class Recorder:
    """Everything one run measures, outside the tracer's spans."""

    op_ms: list[tuple[float, bool]] = field(default_factory=list)  # (ms, traced)
    visible_ms: list[tuple[float, bool]] = field(default_factory=list)
    cycle_ms: list[tuple[float, bool]] = field(default_factory=list)  # whole op, tracer reads too
    ops: int = 0  # client operations completed (commits and lookups)
    user_bytes: int = 0  # user bytes committed
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    space: list[dict] = field(default_factory=list)
    commits: int = 0
    versions: int = 0
    compactions: int = 0
    rewritten_bytes: int = 0
    polls: int = 0
    empty_polls: int = 0
    batch_rows: list[int] = field(default_factory=list)
    lag_rows: list[int] = field(default_factory=list)
    catalyst: list[tuple[float, float, float]] = field(default_factory=list)

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors += problems


def catalyst_ms(df) -> tuple[float, float, float]:
    """Analysis, optimization and planning time of a held DataFrame's
    last execution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out.append(float(p.get().durationMs()) if p.isDefined() else 0.0)
    return tuple(out)


class Workload:
    name = ""

    def __init__(self, spark, params: dict, seed: int, tracer):
        self.spark, self.p, self.seed, self.tracer = spark, params, seed, tracer
        self.ops = 0
        self.kind_count: Counter = Counter()

    def traced(self, kind: str) -> bool:
        """Alternate traced and untraced ops of each kind (the first is
        traced), so the traced run also measures its own overhead."""
        n = self.kind_count[kind]
        self.kind_count[kind] += 1
        return self.tracer is not None and n % 2 == 0

    def operation(self, kind: str, traced: bool):
        self.ops += 1
        self.op_start = time.perf_counter()
        if self.tracer is None:
            return nullcontext()
        return self.tracer.operation(self.ops, f"op.{kind}", traced)

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def after_op(self, traced: bool, rec: Recorder, held=None) -> None:
        """Read the traced op's Spark and Catalyst figures, then record
        the op's whole wall time, those reads included."""
        if traced:
            self.tracer.collect_spark(self.ops)
            if held is not None:
                rec.catalyst.append(catalyst_ms(held))
        rec.cycle_ms.append(((time.perf_counter() - self.op_start) * 1e3, traced))

    def start_space(self) -> None:
        """Count storage from the set-up's end state."""
        self.space = TableSpace(self.table)
        self.space.reset()
        self.version = self.space.sample()["version"]

    def record_commit(self, rec: Recorder, user_rows) -> bool:
        """Account one commit; True if it also ran a compaction (the
        table version moved by more than the commit's own one)."""
        s = self.space.sample()
        rec.space.append(s)
        rec.commits += 1
        moved, self.version = s["version"] - self.version, s["version"]
        rec.versions += moved
        rec.user_bytes += gen.user_bytes(user_rows)
        if moved > 1:
            rec.compactions += moved - 1
            rec.rewritten_bytes += s["live_bytes"]
        return moved > 1

    def drain(self, rec: Recorder, agg) -> tuple[list, object]:
        """Poll until caught up, running `agg(batch_df)` on each batch and
        collecting it; returns the collected rows and the last held df."""
        rows, held = [], None
        while True:
            rec.polls += 1
            out = self.reader.poll()
            if out is None:
                rec.empty_polls += 1
                return rows, held
            held = agg(out[0])
            with self.span("result.collect"):
                got = held.collect()
            rows += got
            self.reader.commit_batch()


class CdcIngest(Workload):
    """Upsert batches (inserts, updates, deletes by `seq`) into a
    default-merge PK table; after every commit a LogStreamReader drains
    the changelog and counts rows per change type."""

    name = "cdc_ingest"

    def setup(self, warehouse: str) -> None:
        p = self.p
        self.model = checks.LwwModel(["tenant", "id"], ["amount", "note", "seq"])
        self.table = create_table(
            Catalog(warehouse), "bench", "cdc",
            TableSchema(
                fields=[Field("tenant", "INT"), Field("id", "BIGINT"), Field("amount", "BIGINT"),
                        Field("note", "STRING"), Field("seq", "BIGINT")],
                primary_key=["tenant", "id"], bucket_keys=["tenant"], num_buckets=p["buckets"],
                properties={"table.snapshot.auto-compact-dirs": str(p["compact_dirs"])},
            ),
        )
        # each tenant's bucket, by the engine's own bucket expression
        tenants = self.spark.range(p["tenants"]).select(F.col("id").cast("int").alias("tenant"))
        buckets = tenants.select("tenant", self.table.kv._bucket_expr().alias("b")).collect()
        self.gen = gen.CdcGen(p, self.seed, [b for _, b in sorted(buckets)])
        base = self.gen.base()
        self.table.upsert(self.spark.createDataFrame(base, gen.CdcGen.DDL), ordering=["seq"])
        self.model.apply(base)
        self.reader = LogStreamReader(self.table, self.spark, startup_mode="latest")
        if self.reader.poll() is not None:
            raise RuntimeError("a latest-mode reader saw data before any new commit")
        self.start = self.table.latest_offsets()
        self.hwm = sum(self.start.values())
        self.consumed: Counter = Counter()
        self.start_space()

    def step(self, rec: Recorder) -> bool:
        pdf = self.gen.batch()
        stamp = time.perf_counter()
        df = self.spark.createDataFrame(pdf, gen.CdcGen.DDL)
        traced = self.traced("commit")
        with self.operation("commit", traced):
            t0 = time.perf_counter()
            state = self.table.upsert(df, ordering=["seq"])
            t1 = time.perf_counter()
            rows, held = self.drain(
                rec, lambda b: b.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n"))
            )
            t2 = time.perf_counter()
        self.after_op(traced, rec, held)
        rec.op_ms.append(((t1 - t0) * 1e3, traced))
        rec.visible_ms.append(((t2 - stamp) * 1e3, traced))
        hwm = sum(state.log_hwm.values())
        rec.lag_rows.append(hwm - self.hwm)
        rec.batch_rows.append(sum(r["n"] for r in rows))
        self.hwm = hwm
        for r in rows:
            self.consumed[r["_change_type"]] += r["n"]
        self.model.apply(pdf)
        rec.attempted += 1
        rec.ops += 1
        return self.record_commit(rec, pdf)

    def final_checks(self, rec: Recorder) -> None:
        snap = self.table.snapshot(self.spark).select("tenant", "id", "amount", "note", "seq")
        rec.check(checks.check_snapshot(snap.collect(), self.model.rows, 2))
        cl = self.table.changelog(self.spark, start_offsets=self.start)
        committed = Counter(
            {r["_change_type"]: r["n"] for r in cl.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        )
        rec.check(checks.check_counts(self.consumed, committed, "change type"))


class ServeLookup(Workload):
    """Zipf-skewed point lookups (some misses) and prefix lookups on a
    (user, item) PK table bucketed by user, with one small upsert every
    `trickle_every` lookups. Each lookup result is checked."""

    name = "serve_lookup"

    def setup(self, warehouse: str) -> None:
        p = self.p
        self.gen = gen.ServeGen(p, self.seed)
        self.model = checks.ServeModel()
        self.table = create_table(
            Catalog(warehouse), "bench", "serve",
            TableSchema(
                fields=[Field("user", "BIGINT"), Field("item", "BIGINT"), Field("score", "BIGINT"),
                        Field("label", "STRING"), Field("seq", "BIGINT")],
                primary_key=["user", "item"], bucket_keys=["user"], num_buckets=p["buckets"],
                properties={"table.snapshot.num-retained": str(p["retained"])},
            ),
        )
        base = self.gen.base()
        self.table.upsert(self.spark.createDataFrame(base, gen.ServeGen.DDL), ordering=["seq"])
        self.model.apply(base)
        lookup = connect(warehouse).get_table("bench", "serve").new_lookup()
        self.point = lookup.create_lookuper(self.spark)
        self.prefix = lookup.lookup_by("user").create_lookuper(self.spark)
        self.lookups = 0
        self.just_trickled = False
        self.start_space()

    def step(self, rec: Recorder) -> bool:
        if self.lookups and self.lookups % self.p["trickle_every"] == 0 and not self.just_trickled:
            self.just_trickled = True
            return self._trickle(rec)
        self.just_trickled = False
        self.lookups += 1
        kind, key = self.gen.request(self.model.items_of)
        traced = self.traced("lookup")
        with self.operation("lookup", traced):
            t0 = time.perf_counter()
            held = (self.prefix if kind == "prefix" else self.point).lookup(*key)
            with self.span("result.collect"):
                got = held.collect()
            t1 = time.perf_counter()
        self.after_op(traced, rec, held)
        rec.op_ms.append(((t1 - t0) * 1e3, traced))
        rec.visible_ms.append(((t1 - t0) * 1e3, traced))
        rec.ops += 1
        rec.check(checks.check_lookup(got, self.model.expected(kind, key), key))
        # a cycle is a trickle upsert and the lookups up to the next one
        # (the first lookups after an upsert are the slow ones); the
        # loop ends before a trickle, once it has measured one
        return rec.commits > 0 and self.lookups % self.p["trickle_every"] == 0

    def _trickle(self, rec: Recorder) -> bool:
        pdf = self.gen.trickle(self.model.items_of)
        df = self.spark.createDataFrame(pdf, gen.ServeGen.DDL)
        traced = self.traced("trickle")
        with self.operation("trickle", traced):
            self.table.upsert(df, ordering=["seq"])
        self.after_op(traced, rec)
        self.model.apply(pdf)
        rec.attempted += 1
        rec.ops += 1
        self.record_commit(rec, pdf)
        return False

    def final_checks(self, rec: Recorder) -> None:
        snap = self.table.snapshot(self.spark).select("user", "item", "score", "label", "seq")
        rec.check(checks.check_snapshot(snap.collect(), self.model.rows, 2))


WORKLOADS = {w.name: w for w in (CdcIngest, ServeLookup)}
