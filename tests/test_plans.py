"""Plan-shape tests: prove the pushdowns the engine relies on actually
appear in the physical plan (the reference asserts the same via
explainSql in its connector ITCases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_spark import plans
from fluss_spark.catalog import Catalog
from fluss_spark.registry import QUERIES, load, load_all_queries
from fluss_spark.table import create_table
from fluss_spark.types import Field, TableSchema

load_all_queries()


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30).select("l_orderkey")
    pf = plans.pushed_filters(df)
    plans.assert_contains(pf, "GreaterThan(l_quantity")


def test_projection_prunes_read_schema(spark, sf_dir):
    df = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    rs = plans.read_schema(df)
    plans.assert_contains(rs, "p_partkey", "p_name")
    assert "p_retailprice" not in rs  # untouched column not read


def test_engine_scan_pushdown(spark, catalog):
    t = create_table(
        catalog, "db", "plan_log",
        TableSchema(fields=[Field("a", "INT"), Field("b", "STRING")], num_buckets=2),
    )
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(100)], "a int, b string"))
    scan = t.scan(spark).filter(F.col("a") > 50).select("b")
    plans.assert_contains(plans.pushed_filters(scan), "GreaterThan(a,50)")
    # offset time travel prunes via parquet stats on __offset
    tt = t.scan(spark, start_offsets={0: 10, 1: 10})
    assert "GreaterThanOrEqual(__offset" in plans.pushed_filters(tt)


def test_partitioned_engine_scan_prunes_dirs(spark, catalog):
    t = create_table(
        catalog, "db", "plan_part",
        TableSchema(
            fields=[Field("dt", "STRING"), Field("a", "INT")],
            partition_keys=["dt"],
            num_buckets=2,
        ),
    )
    t.append(
        spark.createDataFrame([("d1", 1), ("d2", 2), ("d3", 3)], "dt string, a int")
    )
    df = t.scan(spark).filter(F.col("dt") == "d2")
    pf = plans.partition_filters(df)
    plans.assert_contains(pf, "dt")  # dt filter is a partition filter, not a data filter
    assert df.count() == 1


def test_lookup_prunes_bucket_partition(spark, catalog):
    t = create_table(
        catalog, "db", "plan_pk",
        TableSchema(fields=[Field("k", "INT", nullable=False), Field("v", "STRING")], primary_key=["k"], num_buckets=4),
    )
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(50)], "k int, v string"))
    # second commit touching a strict subset of buckets -> multi-dir manifest
    t.upsert(spark.createDataFrame([(7, "v7b")], "k int, v string"))
    ver = catalog.current_commit("db", "plan_pk").snapshot_version
    assert len(t.kv.referenced_data_dirs(ver)) >= 2
    lk = t.lookup(spark, {"k": 7})
    # the owning bucket resolves driver-side -> ONE scan over ONE data
    # dir, pruned to one __bucket partition dir (never a union of one
    # scan per manifest dir)
    plan = plans.physical_plan(lk)
    assert plan.count("InMemoryFileIndex") == 1, plan
    assert "Union" not in plan, plan
    plans.assert_contains(plans.partition_filters(lk), "__bucket")
    plans.assert_contains(plans.pushed_filters(lk), "EqualTo(k,7)")
    assert [r["v"] for r in lk.collect()] == ["v7b"]


def test_prefix_lookup_prunes_bucket_partition(spark, catalog):
    """The L2 prefix lookup resolves the owning bucket driver-side
    exactly like L1: ONE scan over ONE manifest data dir, pruned to one
    __bucket partition dir, bucket-key equality pushed to Parquet."""
    t = create_table(
        catalog, "db", "plan_pfx",
        TableSchema(
            fields=[
                Field("k", "INT", nullable=False),
                Field("s", "INT", nullable=False),
                Field("v", "STRING"),
            ],
            primary_key=["k", "s"],
            bucket_keys=["k"],
            num_buckets=4,
        ),
    )
    t.upsert(
        spark.createDataFrame(
            [(i, j, f"v{i}.{j}") for i in range(25) for j in range(2)],
            "k int, s int, v string",
        )
    )
    t.upsert(spark.createDataFrame([(7, 0, "v7b")], "k int, s int, v string"))
    ver = catalog.current_commit("db", "plan_pfx").snapshot_version
    assert len(t.kv.referenced_data_dirs(ver)) >= 2
    lk = t.prefix_lookup(spark, {"k": 7})
    plan = plans.physical_plan(lk)
    assert plan.count("InMemoryFileIndex") == 1, plan
    assert "Union" not in plan, plan
    plans.assert_contains(plans.partition_filters(lk), "__bucket")
    plans.assert_contains(plans.pushed_filters(lk), "EqualTo(k,7)")
    assert sorted(r["v"] for r in lk.collect()) == ["v7.1", "v7b"]


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["join_star_broadcast"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert plans.has_whole_stage_codegen(df)


def test_q1_partial_aggregation(spark, sf_dir):
    df = QUERIES["agg_tpch_q1"](spark, sf_dir)
    assert plans.has_partial_aggregation(df)  # map-side combine before shuffle
    assert plans.has_whole_stage_codegen(df)


def test_limit_is_take_ordered(spark, sf_dir):
    df = QUERIES["s7_limit_topn"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.physical_plan(df)  # no full sort


@pytest.mark.slow
def test_no_unpartitioned_window_over_unbounded_input(spark, sf_dir):
    """Repo-wide scale fence: no registered query may plan a Window
    with an empty partition spec over unbounded input — that executes
    as a single-partition sort of its whole input (the `WindowExec: No
    Partition Defined` warning), a one-executor bottleneck at 100 TB.
    Bounded inputs (below a GlobalLimit / TakeOrderedAndProject) are
    allowed: at most K rows reach the window. Reference analog: the
    whole point of FileLogProjection/stats pushdown is never shipping
    the corpus to one node."""
    load_all_queries()
    from fluss_spark.registry import QUERIES as _Q

    bad = {}
    for name in sorted(_Q):
        df = _Q[name](spark, sf_dir)
        offenders = plans.unbounded_global_windows(df)
        # same pass also fences unbounded cartesians: corpus x corpus
        # with no equi-key never finishes at 100 TB (1-row stat frames
        # crossJoined onto a scan are bounded and pass)
        offenders += plans.unbounded_cartesians(df)
        # and row-at-a-time Python UDFs: Python in the hot path must be
        # Arrow-batched (MapInPandas/FlatMapGroupsInPandas/ArrowEval),
        # never per-row pickling
        if "BatchEvalPython" in plans.physical_plan(df):
            offenders.append("BatchEvalPython (row-at-a-time Python UDF)")
        if offenders:
            bad[name] = offenders
    assert not bad, f"unbounded Window/cartesian/row-UDF in plan:\n{bad}"


def test_unbounded_global_window_detector_fires(spark, sf_dir):
    """The fence's detector actually detects: a deliberate global
    row_number over an unbounded scan must be flagged, and the
    bounded (post-limit) variant must not."""
    from pyspark.sql.window import Window as W

    base = load(spark, sf_dir, "events")
    bad = base.withColumn("rn", F.row_number().over(W.orderBy("ts")))
    assert plans.unbounded_global_windows(bad)
    ok = base.orderBy("ts").limit(10).withColumn(
        "rn", F.row_number().over(W.orderBy("ts"))
    )
    assert not plans.unbounded_global_windows(ok)

    # WindowGroupLimit soundness: a global rank FILTER plans as
    # WindowGroupLimit Partial (per map partition, parallel) + Final
    # (post-exchange merge of <=k rows per partition) — allowed, but
    # only via the explicit Partial-stage check, NOT by treating
    # "WindowGroupLimit" as a limit (its output grows with the input).
    # rank() (not row_number, which optimizes to TakeOrderedAndProject)
    ranked = base.withColumn("rn", F.rank().over(W.orderBy("ts"))).filter("rn <= 5")
    ranked.collect()  # AQE-final plan carries the WGL stages
    assert not plans.unbounded_global_windows(ranked)
    wgl_final = []

    def _find(node):
        s = node.simpleString(500)
        if node.nodeName() == "WindowGroupLimit" and "Final" in s:
            wgl_final.append(node)
        for k in plans._plan_children(node):
            _find(k)

    _find(ranked._jdf.queryExecution().executedPlan())
    assert wgl_final, "expected a WindowGroupLimit(Final) stage in the rank-filter plan"
    # the old exemption is gone: the Final node is NOT bounded by name —
    # it was admitted because a Partial stage sits below the exchange
    assert not plans._bounded_rows(wgl_final[0])
    assert plans._has_partial_window_group_limit(wgl_final[0])

    # a Final-only shape (no Partial cut before the single partition —
    # here forced via coalesce(1)) is a full-input single-partition
    # pass and MUST be flagged
    final_only = (
        base.coalesce(1)
        .withColumn("rn", F.rank().over(W.orderBy("ts")))
        .filter("rn <= 5")
    )
    assert plans.unbounded_global_windows(final_only)


def test_predicate_builder_maps_to_pushdown(spark, sf_dir):
    from fluss_spark import predicates as P

    df = load(spark, sf_dir, "orders").filter(
        P.and_(
            P.greater_than("o_totalprice", 1000),
            P.in_("o_orderpriority", ["1-URGENT", "2-HIGH"]),
            P.is_not_null("o_custkey"),
        )
    ).select("o_orderkey")
    pf = plans.pushed_filters(df)
    plans.assert_contains(pf, "GreaterThan(o_totalprice,1000.0)", "In(o_orderpriority", "IsNotNull(o_custkey)")
    assert P.only_touches(
        P.partition({"dt": "d1"}), {"dt"}, {"dt", "a"}
    )
    assert not P.only_touches(P.equal("a", 1), {"dt"}, {"dt", "a"})

def test_replay_fold_is_single_shuffle(spark, sf_dir):
    """The whole upsert/changelog fold must be ONE hash exchange on the
    pk — both window passes (running state + lag) reuse the same
    partitioning. A second exchange here would double the write path's
    shuffle volume at scale."""
    from pyspark.sql.window import Window

    from fluss_spark.operators.replay import OP_COL, SEED_COL, SEQ_COL, replay
    from fluss_spark.registry import load
    from fluss_spark.types import Field, TableSchema

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    schema = TableSchema(
        fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
        primary_key=["user_id"],
        num_buckets=8,
    )
    b = (
        ev.withColumn(OP_COL, F.lit("U"))
        .withColumn(
            SEQ_COL,
            F.row_number().over(Window.partitionBy("user_id").orderBy("event_id")).cast("long"),
        )
        .withColumn(SEED_COL, F.lit(0))
        .select("user_id", "event_type", "value", OP_COL, SEQ_COL, SEED_COL)
    )
    changelog, _ = replay(b, schema)
    simple = changelog._sc._jvm.PythonSQLUtils.explainString(
        changelog._jdf.queryExecution(), "simple"
    )
    assert simple.count("Exchange") == 1, simple

    # the VERSIONED merge fold (max_by struct rank + lag) must reuse the
    # same pk partitioning: still exactly ONE exchange
    v_schema = TableSchema(
        fields=[
            Field("user_id", "BIGINT"),
            Field("event_type", "STRING"),
            Field("value", "DOUBLE"),
            Field("ver", "BIGINT"),
        ],
        primary_key=["user_id"],
        num_buckets=8,
        properties={
            "table.merge-engine": "versioned",
            "table.merge-engine.versioned.ver-column": "ver",
        },
    )
    vb = b.withColumn("ver", (F.col("value") * 100).cast("long")).select(
        "user_id", "event_type", "value", "ver", OP_COL, SEQ_COL, SEED_COL
    )
    v_changelog, _ = replay(vb, v_schema)
    v_simple = v_changelog._sc._jvm.PythonSQLUtils.explainString(
        v_changelog._jdf.queryExecution(), "simple"
    )
    assert v_simple.count("Exchange") == 1, v_simple


_FOLD_ENGINES = {
    # name: (table properties, partial-update target columns)
    "default": ({}, None),
    "partial": ({}, ["user_id", "value"]),
    "first_row": ({"table.merge-engine": "first_row"}, None),
    "versioned": (
        {
            "table.merge-engine": "versioned",
            "table.merge-engine.versioned.ver-column": "ver",
        },
        None,
    ),
    "aggregation": ({"table.merge-engine": "aggregation"}, None),
}


def _assert_fold_commit_plan_single_shuffle(
    spark, sf_dir, tmp_path, engine, with_deletes=False
):
    """The FULL second-commit upsert transaction of a merge engine —
    the one-statement fold (`_fold`: seed read ∪ batch, __seq
    assignment, engine fold, changelog emission) AND the fused
    commit-output plan (WAL offsets, is-last routing, snapshot rewrite
    feed) — must cost exactly ONE hash exchange, keyed by __bucket and
    sized to the table's bucket count. Every window is keyed
    __bucket[, pk] (bucket is a function of the pk), so they all reuse
    the fold's exchange; the prior-snapshot rows ride the same exchange
    as re-emitted seed rows, so the snapshot is scanned ONCE, the batch
    once, and there is no semi-join or broadcast at all."""
    import re

    from fluss_spark.catalog import Catalog
    from fluss_spark.operators.replay import OP_COL
    from fluss_spark.sources.kv import BUCKET_COL
    from fluss_spark.table import create_table

    props, partial = _FOLD_ENGINES[engine]
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    fields = [
        Field("user_id", "BIGINT"),
        Field("event_type", "STRING"),
        Field("value", "DOUBLE", agg="sum" if engine == "aggregation" else None),
    ]
    if engine == "versioned":
        fields.append(Field("ver", "BIGINT"))
        ev = ev.withColumn("ver", F.col("event_id"))
    schema = TableSchema(
        fields=fields, primary_key=["user_id"], num_buckets=8, properties=props
    )
    t = create_table(Catalog(str(tmp_path / "wh")), "db", "sql_fold_plan", schema)
    t.upsert(ev.filter(F.col("event_id") % 2 == 0), ordering=["event_id"])
    batch = ev.filter(F.col("event_id") % 2 == 1)
    if with_deletes:
        batch = batch.withColumn(
            OP_COL, F.when(F.col("event_id") % 3 == 0, "D").otherwise("U")
        )
    if partial:
        batch = batch.select(*partial, "event_id")
    changelog = t.kv._fold(
        spark, batch, ["event_id"], None, partial_update_cols=partial
    )
    simple = changelog._sc._jvm.PythonSQLUtils.explainString(
        changelog._jdf.queryExecution(), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", simple)) == 1, simple
    assert "BroadcastHashJoin" not in simple, simple

    # the COMPLETE commit-output plan adds zero exchanges on top
    state0 = t.kv.catalog.current_commit("db", "sql_fold_plan")
    out, _persisted, _auto = t.kv._commit_plan(changelog, 123456, state0)
    full = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", full)) == 1, full
    assert re.search(rf"hashpartitioning\(`?{BUCKET_COL}`?#\d+, 8\)", full), full
    # one scan of the snapshot, one scan of the batch (plus no broadcast)
    assert full.count("InMemoryFileIndex") == 2, full


def test_full_upsert_fold_is_single_shuffle(spark, sf_dir, tmp_path):
    """A second-commit batch that mixes upserts and `__op`='D' deletes
    takes the delete-aware fold, and its complete commit-output plan
    keeps the single bucket-keyed exchange, two scans and no
    broadcast."""
    _assert_fold_commit_plan_single_shuffle(
        spark, sf_dir, tmp_path, "default", with_deletes=True
    )


def test_sql_fold_commit_plan_single_shuffle(spark, sf_dir, tmp_path):
    """The default merge engine's one-statement fold and commit-output
    plan: one bucket-keyed exchange, two scans, no broadcast."""
    _assert_fold_commit_plan_single_shuffle(spark, sf_dir, tmp_path, "default")


@pytest.mark.parametrize("engine", [e for e in _FOLD_ENGINES if e != "default"])
def test_engine_fold_commit_plan_single_shuffle(spark, sf_dir, tmp_path, engine):
    """Every other merge engine (and partial update) keeps the same
    single-exchange commit plan as the default engine."""
    _assert_fold_commit_plan_single_shuffle(spark, sf_dir, tmp_path, engine)


def test_group_commit_plan_single_shuffle(spark, sf_dir, tmp_path):
    """The GROUP fold (upsert_many: N batches through one transaction)
    keeps the single-exchange contract: the complete commit-output plan
    for a 3-batch group costs exactly ONE hash exchange keyed by
    __bucket and sized to the table's bucket count, no broadcast, with
    the snapshot scanned once — the batch index only adds window order
    columns and a write-partition level, never an exchange."""
    import re

    from fluss_spark.catalog import Catalog
    from fluss_spark.sources.kv import BUCKET_COL
    from fluss_spark.table import create_table

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    schema = TableSchema(
        fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
        primary_key=["user_id"],
        num_buckets=8,
    )
    t = create_table(Catalog(str(tmp_path / "wh")), "db", "grp_fold_plan", schema)
    t.upsert(ev.filter(F.col("event_id") % 3 == 0), ordering=["event_id"])
    batches = [
        ev.filter(F.col("event_id") % 3 == 1),
        ev.filter(F.col("event_id") % 3 == 2),
        ev.filter(F.col("event_id") % 5 == 0),
    ]
    changelog = t.kv._fold(spark, batches, ["event_id"], None)
    simple = changelog._sc._jvm.PythonSQLUtils.explainString(
        changelog._jdf.queryExecution(), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", simple)) == 1, simple
    assert "BroadcastHashJoin" not in simple, simple

    state0 = t.kv.catalog.current_commit("db", "grp_fold_plan")
    out, _persisted, _auto = t.kv._commit_plan(
        changelog, [111, 222, 333], state0, grp_count=3
    )
    full = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", full)) == 1, full
    assert re.search(rf"hashpartitioning\(`?{BUCKET_COL}`?#\d+, 8\)", full), full
    # one snapshot scan + one scan per batch — the group adds batches,
    # never a second snapshot pass
    assert full.count("InMemoryFileIndex") == 1 + len(batches), full


def test_q5_broadcasts_all_dims(spark, sf_dir):
    """Six-table Q5: nation/region broadcast statically (bounded dims);
    customer/supplier carry no hint, so AQE broadcasts them at this SF —
    the FINAL adaptive plan shows every dim as a broadcast join. The
    date filter is pushed to the orders scan."""
    df = QUERIES["join_tpch_q5"](spark, sf_dir)
    assert "1996-01-01" in plans.pushed_filters(df) or "o_orderdate" in plans.pushed_filters(df)
    final = plans.final_plan(df)
    assert final.count("BroadcastHashJoin") >= 4
    assert final.count("SortMergeJoin") + final.count("ShuffledHashJoin") <= 1


def test_grouping_sets_single_pass(spark, sf_dir):
    """GROUPING SETS compiles to Expand + ONE hash aggregate pair over a
    single scan — not a union of per-set scans."""
    df = QUERIES["agg_grouping_sets"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Expand" in plan
    # exactly one scan (InMemoryFileIndex appears once per scan node's
    # detail block; "Scan parquet" also appears in the plan tree header)
    assert plan.count("InMemoryFileIndex") == 1
    assert plans.has_partial_aggregation(df)


def test_hyperplane_lsh_no_cartesian(spark, sf_dir):
    """Banded LSH candidates come from an equi-join on (band, bsig) —
    the corpus must never cross-join itself."""
    df = QUERIES["ann_hyperplane_lsh"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_two_windows_one_fact_shuffle(spark, sf_dir):
    """Q21's two window passes share the l_orderkey partitioning — the
    physical plan has exactly ONE fact exchange (plus the tiny final
    per-name agg exchange); the supplier join has no hardcoded hint, so
    AQE picks broadcast at this SF (assert on the FINAL adaptive plan)."""
    df = QUERIES["join_tpch_q21"](spark, sf_dir)
    plan = plans.physical_plan(df)
    import re
    fact_exchanges = re.findall(r"hashpartitioning\(l_orderkey", plan)
    assert len(fact_exchanges) == 1, plan
    assert "CartesianProduct" not in plan
    assert plans.has_broadcast_join(df)


def test_q18_semi_join_before_wide_join(spark, sf_dir):
    """Q18 filters orders through a LeftSemi on the HAVING key set before
    the customer join touches anything."""
    df = QUERIES["join_tpch_q18"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan  # top-100 without global sort


def test_q19_or_envelopes_pushed(spark, sf_dir):
    """Q19's disjunctive predicate: the single-side envelopes reach both
    scans (brand IN-list on part, quantity range on lineitem)."""
    df = QUERIES["join_tpch_q19"](spark, sf_dir)
    pf = plans.pushed_filters(df)
    plans.assert_contains(pf, "In(p_brand", "l_quantity")


def test_stratified_sample_map_side_only(spark, sf_dir):
    """Hash-based stratified sampling is a pure map-side filter: zero
    exchanges, and column pruning reaches the scan (doc_id + lang only —
    the fat text column is never read)."""
    df = QUERIES["tx_stratified_sample"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan
    rs = plans.read_schema(df)
    assert "text" not in rs and "doc_id" in rs and "lang" in rs


def test_blocklist_redact_map_side_only(spark, sf_dir):
    """Regex masking + match-count filter run in one codegen'd map stage:
    no exchange anywhere in the plan."""
    df = QUERIES["tx_blocklist_redact"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan
    assert plans.has_whole_stage_codegen(df)


def test_ivf_nprobe_broadcasts_probe_set(spark, sf_dir):
    """Multi-probe IVF: centroids and the per-query probe set are
    metadata-sized, so every join against the corpus broadcasts — the
    corpus side must never shuffle into a SortMergeJoin."""
    df = QUERIES["ann_ivf_nprobe"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_minhash_estimate_no_cartesian(spark, sf_dir):
    """Sketch-audit pairs come from the banded equi-join; the corpus must
    never cross-join itself and the signature stage is computed once
    (persisted), not re-derived per join side."""
    df = QUERIES["dd_minhash_estimate"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_map_side_only(spark, sf_dir):
    """PII scrub is one codegen'd map stage: regex counts + redaction
    chain + fingerprint, zero exchanges at any corpus size."""
    df = QUERIES["tx_pii_scrub"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan


def test_passage_dedup_single_shuffle(spark, sf_dir):
    """Passage dedup's only exchange is the first-occurrence window on
    the 16-byte fingerprint — chunking/explosion happen map-side
    (the load_spread persist pins the input layout; nothing else
    may shuffle)."""
    df = QUERIES["dd_passage_dedup"](spark, sf_dir)
    plan = plans.physical_plan(df)
    # the only query-owned exchange is the fp hash partition; the
    # round-robin exchange inside InMemoryRelation is the shared
    # persisted load_spread stage, not per-query work
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert "hashpartitioning(chunk_fp" in plan, plan
    # Spark plans a PARTIAL WindowGroupLimit: top-1-per-fp reduces
    # map-side BEFORE the shuffle — the property that keeps the
    # exchange linear in distinct passages, not total passages
    assert "row_number(), 1, Partial" in plan, plan


def test_sq8_rerank_broadcasts_no_shuffle_scan(spark, sf_dir):
    """SQ8: the 1-row quantizer stats and the query set broadcast; the
    corpus scan itself never shuffles into a SortMergeJoin. The only
    exchanges are the two per-query top-N rank reductions."""
    df = QUERIES["ann_sq8_rerank"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_adc_broadcast_training(spark, sf_dir):
    """PQ training/encoding must broadcast the codebooks (metadata-sized)
    and never shuffle the corpus into a SortMergeJoin or cross-join it;
    the assignment argmin aggregates with map-side partials."""
    df = QUERIES["ann_pq_adc"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_curation_pipeline_single_shuffle(spark, sf_dir):
    """The composed curation funnel (quality -> dedup -> sample ->
    funnel counts) costs ONE corpus exchange — the fingerprint window
    for canonical election; the final scalar aggregate reduces
    map-side partials."""
    df = QUERIES["tx_curation_pipeline"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "hashpartitioning(fp" in plan, plan
    # exchanges: the fp window + the single-partition gather of the
    # scalar aggregate's partials (which carries ONE row per task)
    assert plan.count("ENSURE_REQUIREMENTS") <= 2, plan
    assert plans.has_partial_aggregation(df)


def test_semdedup_no_cartesian_single_cell_shuffle(spark, sf_dir):
    """dd_semdedup's prune is one exchange on the cell id feeding the
    per-cell kernel — never a pairwise self-join of the corpus."""
    df = QUERIES["dd_semdedup"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the chunked BLAS prune kernel


def test_perplexity_buckets_broadcast_stats(spark, sf_dir):
    """The bucket edges come from a 1-row stats aggregate broadcast back
    onto the scored corpus — bucket stamping adds no exchange beyond the
    score's own shuffles (term freq + per-doc reduce)."""
    df = QUERIES["tx_perplexity_buckets"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_temperature_sample_map_side_filter(spark, sf_dir):
    """tx_temperature_sample keeps rows via a broadcast rate join + PRF
    filter: the corpus is never hash-exchanged on a row key — the only
    exchanges belong to the domain-sized aggregates and the final
    per-source reduce."""
    df = QUERIES["tx_temperature_sample"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    # no exchange keyed on doc_id: the per-row keep decision is map-side
    assert "hashpartitioning(doc_id" not in plan


def test_chunk_sliding_zero_exchange(spark, sf_dir):
    """RAG chunking is a pure generate (sequence+explode+slice): zero
    exchanges, linear in chunks."""
    df = QUERIES["tx_chunk_sliding"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan
    assert "Generate" in plan


def test_bm25_broadcasts_stats_no_corpus_sort_join(spark, sf_dir):
    """BM25: df and corpus stats are metadata-sized broadcasts; the
    corpus never shuffles into a SortMergeJoin and never cross-joins
    itself (the stats cross-join is a 1-row broadcast)."""
    df = QUERIES["bm25_topk"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2


def test_quality_classifier_training_is_partial_aggregation(spark, sf_dir):
    """Each training step must be ONE map-side-combinable aggregation:
    partial_ functions below the exchange (the gradient sums reduce
    before the shuffle; the shuffle carries 32 partial rows, not the
    corpus)."""
    from fluss_spark.operators.model import _feature_cols

    d = load(spark, sf_dir, "documents")
    fc = _feature_cols()
    feats = d.select(
        "doc_id", fc["y"].alias("y"), fc["x1"].alias("x1"),
        fc["x2"].alias("x2"), fc["x3"].alias("x3"),
    )
    agg = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor((F.col("y") - 0.5) * 1e6 + 0.5).cast("bigint")).alias("g0"),
    )
    plan = plans.physical_plan(agg)
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_boilerplate_removal_broadcast_anti_join(spark, sf_dir):
    """tx_boilerplate_removal: the boilerplate set broadcasts into the
    anti-join (never a shuffled join of the exploded corpus against
    itself), no cartesian anywhere."""
    df = QUERIES["tx_boilerplate_removal"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_bigram_logloss_shuffle_join_no_cartesian(spark, sf_dir):
    """tx_bigram_logloss: the bigram-count join stays an equi-join (the
    bigram table is vocab²-bounded, NOT assumed broadcastable — the
    100-TB stance), the smoothing stat broadcasts, no cartesian."""
    df = QUERIES["tx_bigram_logloss"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(b" in plan, plan  # the bigram-key exchange


def test_dataset_card_partial_aggregation(spark, sf_dir):
    """tx_dataset_card reduces map-side: one pass over the corpus with
    partial aggregation before the source-keyed exchange."""
    df = QUERIES["tx_dataset_card"](spark, sf_dir)
    assert plans.has_partial_aggregation(df)
    assert "CartesianProduct" not in plans.physical_plan(df)


def test_gopher_rules_zero_exchange(spark, sf_dir):
    """tx_gopher_rules is a pure map-side pass: every rule evaluates in
    JVM array HOFs over the scan, no exchange, no Python."""
    df = QUERIES["tx_gopher_rules"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_split_leakage_safe_linear_plan(spark, sf_dir):
    """tx_split_leakage_safe: the cluster attach is one doc_id
    equi-join over the lsh stages — no cartesian, no pairwise joins."""
    df = QUERIES["tx_split_leakage_safe"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plans.has_partial_aggregation(df)


def test_incremental_lsh_probe_is_equijoin(spark, sf_dir):
    """dd_incremental_lsh: the batch probes the stored band index with
    an equi-join on (band, band_sig) — never a cartesian — and the
    final attach is a doc_id equi-join."""
    df = QUERIES["dd_incremental_lsh"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_scd2_single_window_exchange(spark, sf_dir):
    """t13_scd2_history: both windows (row_number + lead) share ONE
    user_id exchange over the changelog scan — no self-joins."""
    df = QUERIES["t13_scd2_history"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_incremental_ivf_probe_is_cell_equijoin(spark, sf_dir):
    """ann_incremental_ivf: the new batch probes the stored cell index
    with equi-joins (cell, then vec_id lookup-join) — never a cartesian
    or nested-loop pass over the corpus."""
    df = QUERIES["ann_incremental_ivf"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dsir_lm_broadcast_no_cartesian(spark, sf_dir):
    """tx_dsir_resample: the feature LMs are metadata-sized broadcasts
    (256-row LM hash-join + 1-row totals), the corpus never cross-joins
    itself, and the doc-keyed score sum combines map-side."""
    df = QUERIES["tx_dsir_resample"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plans.has_partial_aggregation(df)


def test_attribution_single_window_exchange(spark, sf_dir):
    """op_attribution: all three carry-forward last-values share ONE
    user_id exchange and sort — no self-joins."""
    df = QUERIES["op_attribution"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_ngram_novelty_no_cartesian_partial_agg(spark, sf_dir):
    """tx_ngram_novelty: first-occurrence is a shingle-id aggregation
    joined back by id — equi-joins only, map-side partial counts."""
    df = QUERIES["tx_ngram_novelty"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plans.has_partial_aggregation(df)
