"""Single-action commit ≡ two-pass commit.

The fused commit (`KvStore._commit_single_action`: one write action
producing WAL + snapshot as sibling partition dirs) must produce the
SAME commit artifacts as the two-pass WAL-first baseline
(tests/twopass_baseline.py) for any batch sequence and every pk-table layout
(plain, partitioned, auto-increment):

  - identical snapshot rows,
  - identical per-bucket high-water marks,
  - identical changelog events INCLUDING per-row WAL offsets: since
    round 8 both paths assign per-bucket offsets in the same
    (seq, sub, pk) arrival order (the reference WAL appends in arrival
    order within a bucket), so the full (bucket, offset, event) tuple
    multiset must match row-for-row, cross-key included,
  - per-(key, commit) WAL offset order == fold (seq, sub) order.
"""

from __future__ import annotations

import types as pytypes

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.table import create_table
from fluss_spark.types import (
    BUCKET_COL,
    CHANGE_TYPE_COL,
    OFFSET_COL,
    TIMESTAMP_COL,
    Field,
    TableSchema,
)
from tests.twopass_baseline import commit_twopass


def _schema():
    return TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
            Field("n", "BIGINT"),
        ],
        primary_key=["k"],
        num_buckets=4,
        properties={},
    )


def _force_twopass(t):
    """Route every commit of this table through the two-pass path. The
    fused single-action changelog additionally carries __bucket and the
    NULL-change-type prior rows; the two-pass baseline must stay an
    INDEPENDENT implementation, so it receives the plain changelog
    (events only) and re-derives survivors by its own anti-join."""

    def _twopass(self, spark, cl, ts):
        cl = cl.filter(f"`{CHANGE_TYPE_COL}` IS NOT NULL").drop(BUCKET_COL)
        return commit_twopass(self, spark, cl, ts)

    t.kv._commit_changelog = pytypes.MethodType(_twopass, t.kv)


def _mk_tables(spark, tmp_path, name):
    cat = Catalog(str(tmp_path / f"wh_{name}"))
    ta = create_table(cat, "db", "two_pass", _schema())
    tb = create_table(cat, "db", "single_action", _schema())
    _force_twopass(ta)
    return ta, tb


def _batch_df(spark, rows):
    """rows: list of (k, v, n, op)."""
    return spark.createDataFrame(rows, "k int, v string, n long, __op string")


def _nskey(tup):
    """None-safe sort key (v/n columns are nullable)."""
    return tuple((x is None, x) for x in tup)


def _snap(t, spark):
    return sorted(
        ((r["k"], r["v"], r["n"]) for r in t.snapshot(spark).collect()),
        key=_nskey,
    )


def _events(t, spark):
    """Changelog event multiset + per-key offset-order check."""
    rows = t.kv.log.scan(spark).select(
        BUCKET_COL, OFFSET_COL, CHANGE_TYPE_COL, TIMESTAMP_COL,
        "__seq", "__sub", "k", "v", "n",
    ).collect()
    ev = sorted(
        (
            (r[BUCKET_COL], r[OFFSET_COL], r[CHANGE_TYPE_COL], r["__seq"], r["__sub"], r["k"], r["v"], r["n"])
            for r in rows
        ),
        key=_nskey,
    )
    # per (key, commit), WAL offset order must equal (seq, sub) order —
    # the fold seq restarts every commit, so the scope is one commit
    # (distinguished by its commit timestamp, unique per test batch)
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["k"], r[TIMESTAMP_COL]), []).append(
            (r[OFFSET_COL], r["__seq"], r["__sub"])
        )
    for k, lst in by_key.items():
        lst.sort()
        assert [(s, u) for _, s, u in lst] == sorted(
            (s, u) for _, s, u in lst
        ), f"key {k}: offset order != fold order"
    return ev


def _hwm(t):
    st_ = t.catalog.current_commit(t.db, t.name)
    return {int(b): o for b, o in st_.log_hwm.items()}


def _assert_equal_state(ta, tb, spark):
    assert _snap(ta, spark) == _snap(tb, spark)
    assert _hwm(ta) == _hwm(tb)
    assert _events(ta, spark) == _events(tb, spark)


def test_commit_paths_equivalent_scripted(spark, tmp_path):
    """Fixed scenario covering the fused path's routing branches:
    inserts, updates, deletes, a commit whose only input deletes ABSENT
    keys (no change events at all -> empty WAL dir branch), and a
    commit that deletes every key of a touched bucket (snapshot side
    empty for that bucket)."""
    ta, tb = _mk_tables(spark, tmp_path, "scripted")
    ts = 1_700_000_000_000

    batches = [
        # bulk insert over all buckets
        [(k, f"v{k}", k * 10, "U") for k in range(20)],
        # mixed: updates + deletes + a new key
        [(1, "x", 111, "U"), (2, None, 222, "U"), (3, "d", 0, "D"), (99, "new", 9, "U")],
        # deletes of ABSENT keys only -> commit with zero change events
        [(1000, None, None, "D"), (1001, None, None, "D")],
        # delete every key of bucket(k=...) plus update elsewhere; also
        # re-insert a previously deleted key
        [(k, None, None, "D") for k in range(20) if k % 4 == 0]
        + [(3, "back", 33, "U")],
    ]
    for i, rows in enumerate(batches):
        df_a = _batch_df(spark, rows)
        df_b = _batch_df(spark, rows)
        ta.kv.upsert(df_a, ordering=None, commit_ts_ms=ts + i)
        tb.kv.upsert(df_b, ordering=None, commit_ts_ms=ts + i)
        _assert_equal_state(ta, tb, spark)


def test_commit_paths_equivalent_partial_update(spark, tmp_path):
    """Partial-update commits (target-column folds) through both paths."""
    ta, tb = _mk_tables(spark, tmp_path, "partial")
    ts = 1_700_000_100_000
    full = [(k, f"v{k}", k, "U") for k in range(8)]
    ta.kv.upsert(_batch_df(spark, full), commit_ts_ms=ts)
    tb.kv.upsert(_batch_df(spark, full), commit_ts_ms=ts)
    part = spark.createDataFrame([(2, 222), (3, 333), (50, 500)], "k int, n long")
    ta.kv.upsert(part, partial_update_cols=["k", "n"], commit_ts_ms=ts + 1)
    part2 = spark.createDataFrame([(2, 222), (3, 333), (50, 500)], "k int, n long")
    tb.kv.upsert(part2, partial_update_cols=["k", "n"], commit_ts_ms=ts + 1)
    _assert_equal_state(ta, tb, spark)


_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.sampled_from(["U", "D"]),
        st.sampled_from(["a", "b", None]),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(seqs=st.lists(_ops, min_size=1, max_size=3))
@pytest.mark.slow
def test_commit_paths_equivalent_property(spark_session, tmp_path_factory, seqs):
    """Random multi-commit sequences through both paths; each example
    pays full commits, so the budget is small — the scripted tests above
    cover the known branch points, this sweeps interleavings."""
    spark = spark_session
    tmp_path = tmp_path_factory.mktemp("commit_eq")
    ta, tb = _mk_tables(spark, tmp_path, "prop")
    ts = 1_700_000_200_000
    for i, seq in enumerate(seqs):
        rows = [(k, v, n, op) for (k, op, v, n) in seq]
        ta.kv.upsert(_batch_df(spark, rows), ordering=None, commit_ts_ms=ts + i)
        tb.kv.upsert(_batch_df(spark, rows), ordering=None, commit_ts_ms=ts + i)
    _assert_equal_state(ta, tb, spark)


def _state_tuple(t, spark, cols):
    """(snapshot rows, hwm, full event multiset incl. offsets) over an
    arbitrary column list — the generic form of _snap/_events for the
    partitioned / auto-increment schemas."""
    snap = sorted(
        (tuple(r[c] for c in cols) for r in t.snapshot(spark).collect()), key=_nskey
    )
    rows = (
        t.kv.log.scan(spark)
        .select(BUCKET_COL, OFFSET_COL, CHANGE_TYPE_COL, "__seq", "__sub", *cols)
        .collect()
    )
    ev = sorted(
        (
            (r[BUCKET_COL], r[OFFSET_COL], r[CHANGE_TYPE_COL], r["__seq"], r["__sub"])
            + tuple(r[c] for c in cols)
            for r in rows
        ),
        key=_nskey,
    )
    return snap, _hwm(t), ev


def test_commit_paths_equivalent_partitioned(spark, tmp_path):
    """Partitioned pk tables through both paths: same snapshots, HWMs and
    offset-exact events; the single-action snapshot layout must nest the
    partition dirs ABOVE the bucket dirs (directory pruning surface)."""
    import os

    cat = Catalog(str(tmp_path / "wh_part"))
    schema = TableSchema(
        fields=[
            Field("dt", "STRING", nullable=False),
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
        ],
        primary_key=["dt", "k"],
        partition_keys=["dt"],
        num_buckets=4,
        properties={},
    )
    ta = create_table(cat, "db", "two_pass_part", schema)
    tb = create_table(cat, "db", "single_action_part", schema)
    _force_twopass(ta)
    ts = 1_700_000_300_000

    batches = [
        # two partitions, several keys
        [("d1", k, f"v{k}", "U") for k in range(6)]
        + [("d2", k, f"w{k}", "U") for k in range(3)],
        # update in one partition + delete in the other + a NEW partition
        [("d1", 1, "x", "U"), ("d2", 0, None, "D"), ("d3", 9, "new", "U")],
        # delete every key of one partition
        [("d3", 9, None, "D")],
    ]
    for i, rows in enumerate(batches):
        for t in (ta, tb):
            df = spark.createDataFrame(rows, "dt string, k int, v string, __op string")
            t.kv.upsert(df, ordering=None, commit_ts_ms=ts + i)
        assert _state_tuple(ta, spark, ["dt", "k", "v"]) == _state_tuple(
            tb, spark, ["dt", "k", "v"]
        )

    # physical layout: partition dirs above bucket dirs on BOTH siblings
    snap_dirs = [
        e.name
        for e in os.scandir(os.path.join(tb.kv.snapshot_dir, "data-v1"))
        if e.is_dir()
    ]
    assert all(d.startswith("dt=") for d in snap_dirs) and snap_dirs
    bucket_sub = [
        e.name
        for e in os.scandir(os.path.join(tb.kv.snapshot_dir, "data-v1", snap_dirs[0]))
        if e.is_dir()
    ]
    assert all(d.startswith(f"{BUCKET_COL}=") for d in bucket_sub) and bucket_sub
    # partition filter reads back correctly through the nested layout
    got = sorted(
        (r["k"], r["v"])
        for r in tb.snapshot(spark).filter(F.col("dt") == "d1").collect()
    )
    assert got == [(0, "v0"), (1, "x"), (2, "v2"), (3, "v3"), (4, "v4"), (5, "v5")]


@pytest.mark.slow
def test_commit_paths_equivalent_auto_increment(spark, tmp_path):
    """Auto-increment pk tables through both paths: insert-stable ids
    (minted once per inserted key — KvTablet.applyInsert semantics,
    KvTablet.java:763-775), identical on every WAL event and snapshot
    row, identical counter state, dense id domain, ids carried verbatim
    through updates/before-images, re-minted only after delete +
    re-insert."""
    cat = Catalog(str(tmp_path / "wh_auto"))
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
            Field("rid", "BIGINT", auto_increment=True),
        ],
        primary_key=["k"],
        num_buckets=4,
        properties={},
    )
    ta = create_table(cat, "db", "two_pass_auto", schema)
    tb = create_table(cat, "db", "single_action_auto", schema)
    _force_twopass(ta)
    ts = 1_700_000_400_000

    batches = [
        [(k, f"v{k}", "U") for k in range(10)],
        # update an existing key + delete one + insert a new one — plus
        # an in-batch insert->update->delete->re-insert chain on key 77
        [(1, "x", "U"), (2, None, "D"), (42, "new", "U"),
         (77, "a", "U"), (77, "b", "U"), (77, None, "D"), (77, "c", "U")],
        [(k, None, "D") for k in range(0, 10, 3)],
        # re-insert a previously deleted key: a FRESH id, not the old one
        [(2, "back", "U")],
    ]
    snap_ids: list[dict[int, int]] = []
    for i, rows in enumerate(batches):
        for t in (ta, tb):
            df = spark.createDataFrame(rows, "k int, v string, __op string")
            t.kv.upsert(df, ordering=None, commit_ts_ms=ts + i)
        assert _state_tuple(ta, spark, ["k", "v", "rid"]) == _state_tuple(
            tb, spark, ["k", "v", "rid"]
        )
        st_a = ta.catalog.current_commit(ta.db, ta.name)
        st_b = tb.catalog.current_commit(tb.db, tb.name)
        assert st_a.auto_increment == st_b.auto_increment
        snap_ids.append(
            {r["k"]: r["rid"] for r in tb.snapshot(spark).select("k", "rid").collect()}
        )
    counter = tb.catalog.current_commit(tb.db, tb.name).auto_increment["rid"]

    # counter advanced once per INSERT: 10 + 1(42) + 2(77 twice) + 1(2 again)
    assert counter == 14
    # dense domain: the WAL's distinct ids are exactly [0, counter)
    wal = tb.kv.log.scan(spark).select("k", "rid", CHANGE_TYPE_COL).collect()
    assert sorted({r["rid"] for r in wal}) == list(range(counter))
    assert all(r["rid"] is not None for r in wal)
    # insert-stable: key 1's id survived its update (snapshot after
    # batch 2 == snapshot after batch 1)...
    assert snap_ids[1][1] == snap_ids[0][1]
    # ...and its -U before-image carried that same stored id
    before_1 = [r["rid"] for r in wal if r["k"] == 1 and r[CHANGE_TYPE_COL] == "-U"]
    assert before_1 == [snap_ids[0][1]]
    # delete + re-insert mints a fresh id: key 2's new id is not its old
    # one, and is the highest minted (last insert of the last commit)
    assert snap_ids[3][2] != snap_ids[0][2]
    assert snap_ids[3][2] == counter - 1
    # a key's WAL history shows exactly its incarnations' ids: key 77
    # inserted twice in one batch -> exactly 2 distinct ids ever
    assert len({r["rid"] for r in wal if r["k"] == 77}) == 2


def test_auto_increment_rejects_supplied_values_and_targets(spark, tmp_path):
    """Reference validation parity: a batch carrying the auto-increment
    column is rejected (UpsertWriterImpl.sanityCheck:107-152), as are
    partial-update target columns naming it
    (PerSchemaAutoIncrementUpdater.validateTargetColumns:101-127);
    delete frames read back from the snapshot (which carry the stored
    ids) still work — table.delete drops the engine-assigned column."""
    import pytest

    cat = Catalog(str(tmp_path / "wh_auto_val"))
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
            Field("rid", "BIGINT", auto_increment=True),
        ],
        primary_key=["k"],
        num_buckets=2,
        properties={},
    )
    t = create_table(cat, "db", "auto_val", schema)
    with pytest.raises(ValueError, match="auto-increment"):
        t.kv.upsert(spark.createDataFrame([(1, "a", 5)], "k int, v string, rid long"))
    with pytest.raises(ValueError, match="auto-increment"):
        t.kv.upsert(
            spark.createDataFrame([(1, "a")], "k int, v string"),
            partial_update_cols=["k", "rid"],
        )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    # delete_where routes full snapshot rows (incl. rid) through delete
    t.delete_where(spark, F.col("k") == 1)
    left = {r["k"]: r["rid"] for r in t.snapshot(spark).collect()}
    assert set(left) == {2}


_part_ops = st.lists(
    st.tuples(
        st.sampled_from(["d1", "d2", "d3"]),  # partition
        st.integers(min_value=0, max_value=7),  # key within partition
        st.sampled_from(["U", "D"]),
        st.sampled_from(["a", "b", None]),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(seqs=st.lists(_part_ops, min_size=1, max_size=3), cap=st.sampled_from([0, 512]))
@pytest.mark.slow
def test_commit_paths_equivalent_property_partitioned(
    spark_session, tmp_path_factory, seqs, cap, monkeypatch
):
    """Random partition-skewed commit sequences through both paths on a
    PARTITIONED pk table — sweeps the pair-granular manifest's shadow
    logic (superseded pairs in old dirs, deleted pairs, partitions
    appearing mid-stream) against the whole-bucket two-pass baseline.
    `cap=0` forces the PAIR_SCOPE_MAX fallback (bucket-only bounding,
    no pair predicate/key pruning) so both scope modes stay equivalent."""
    import fluss_spark.sources.kv as kv_mod

    spark = spark_session
    if cap == 0:
        monkeypatch.setattr(kv_mod, "PAIR_SCOPE_MAX", 0)
    tmp_path = tmp_path_factory.mktemp("commit_eq_part")
    cat = Catalog(str(tmp_path / "wh"))
    schema = TableSchema(
        fields=[
            Field("dt", "STRING", nullable=False),
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
        ],
        primary_key=["dt", "k"],
        partition_keys=["dt"],
        num_buckets=4,
        properties={},
    )
    ta = create_table(cat, "db", "two_pass_p", schema)
    tb = create_table(cat, "db", "single_action_p", schema)
    _force_twopass(ta)
    ts = 1_700_000_500_000
    for i, seq in enumerate(seqs):
        rows = [(dt, k, v, op) for (dt, k, op, v) in seq]
        for t in (ta, tb):
            df = spark.createDataFrame(rows, "dt string, k int, v string, __op string")
            t.kv.upsert(df, ordering=None, commit_ts_ms=ts + i)
        assert _state_tuple(ta, spark, ["dt", "k", "v"]) == _state_tuple(
            tb, spark, ["dt", "k", "v"]
        )


_FOLD_BASE = [(k, f"v{k}", k * 10) for k in range(12)]
_FOLD_BATCH = [
    (1, "x", 111, "U"), (1, "y", 112, "U"), (3, None, 0, "D"),
    (99, "new", 9, "U"), (4, "d4", 0, "D"), (4, "back", 44, "U"),
    (2, "lo", 5, "U"), (5, "nv", None, "U"),
]
# partial updates target (k, n): the first batch only upserts, the
# second interleaves deletes (the sequential replay_exact fold)
_PARTIAL_BATCH = [(2, 222, "U"), (3, 333, "U"), (50, 500, "U")]
_PARTIAL_DEL_BATCH = [
    (2, 222, "U"), (3, 7, "D"), (50, 500, "U"), (50, 501, "D"), (60, 1, "D"),
]


def _model_step(engine, cur, rec, seq, cur_rank, pk, partial, ignore):
    """One record of the per-key fold: (events, new state, new rank).
    `cur`/`rec` are column dicts; events are (change type, sub, row)."""

    def upsert(new):
        if cur is None:
            return [("+I", 0, new)]
        return [("-U", 0, cur), ("+U", 1, new)]

    if engine != "default" and rec["__op"] == "D":
        return [], cur, cur_rank  # merge engines fold upserts only
    if engine == "first_row":
        return ([("+I", 0, rec)], rec, None) if cur is None else ([], cur, cur_rank)
    if engine == "versioned":
        rank = (-(2**63) if rec["n"] is None else rec["n"], seq)
        if cur is None or rank >= cur_rank:
            return upsert(rec), rec, rank
        return [], cur, cur_rank
    if engine == "aggregation":  # v: last_value_ignore_nulls, n: sum
        new = dict(rec)
        if cur is not None:
            new["v"] = rec["v"] if rec["v"] is not None else cur["v"]
            if cur["n"] is not None:
                new["n"] = cur["n"] + (rec["n"] or 0)
        return upsert(new), new, None
    if rec["__op"] == "D":
        if ignore or cur is None:
            return [], cur, None
        if not partial:
            return [("-D", 0, cur)], None, None
        # PartialUpdater.deleteRow: retract the targets; the row dies
        # when every non-pk column is null
        new = {c: (None if c in partial and c not in pk else x) for c, x in cur.items()}
        if all(x is None for c, x in new.items() if c not in pk):
            return [("-D", 0, cur)], None, None
        return [("-U", 0, cur), ("+U", 1, new)], new, None
    if partial:
        base = cur if cur is not None else {c: None for c in rec if c != "__op"}
        new = {c: (rec[c] if c in partial else x) for c, x in base.items()}
    else:
        new = {c: x for c, x in rec.items() if c != "__op"}
    return upsert(new), new, None


def _model_changelog(schema, seed, batch, bucket, merge_mode, partial, eager):
    """Expected changelog rows of one fold: the seed's prior rows (eager
    only) plus each batch key's events, folded in `n` order (NULLS
    FIRST) — the fold order `ordering=["n"]` asks for."""
    pk = schema.primary_key
    engine = "default" if merge_mode == "overwrite" else schema.merge_engine
    ignore = schema.delete_behavior == "ignore"
    wal = schema.changelog_image == "wal"
    rewrite_insert = wal and schema.merge_engine == "default" and not partial
    keyof = lambda r: tuple(r[c] for c in pk)  # noqa: E731
    state = {keyof(r): r for r in seed}
    out = [(0, -1, None, r) for r in seed] if eager else []
    by_key: dict = {}
    for rec in batch:
        by_key.setdefault(keyof(rec), []).append(rec)
    for key, recs in by_key.items():
        cur = state.get(key)
        rank = None if cur is None else (cur["n"], 0)
        recs.sort(key=lambda r: (r["n"] is not None, r["n"]))
        for seq, rec in enumerate(recs, 1):
            events, cur, rank = _model_step(engine, cur, rec, seq, rank, pk, partial, ignore)
            for ct, sub, row in events:
                if wal and ct == "-U":
                    continue
                out.append((seq, sub, "+U" if rewrite_insert and ct == "+I" else ct, row))
    cols = schema.data_columns()
    return [
        (seq, *([bucket[keyof(row)]] if eager else []), sub, ct, *[row[c] for c in cols])
        for seq, sub, ct, row in out
    ]


def test_fold_changelog_matches_model(spark, tmp_path):
    """The fold compiler (`KvStore._fold`, one spark.sql statement per
    commit) emits exactly the changelog a per-key Python model of the
    merge engines predicts — events, __seq / __sub / __bucket, and the
    NULL-change-type prior rows of exactly the seed rows in the batch's
    write scope (its buckets, or (partition, bucket) pairs) — for every
    merge engine, the WAL changelog image (+I -> +U shortcut, -U drop,
    NULL-safe for prior rows), DeleteBehavior.IGNORE (deletes dropped
    after __seq assignment), a partitioned table, overwrite mode on a
    versioned WAL-image table (last-write-wins fold but no +I -> +U: the
    shortcut gates on the schema's engine), partial updates with and
    without deletes, and a deferred table (semi-joined seed, events
    only)."""
    versioned = {
        "table.merge-engine": "versioned",
        "table.merge-engine.versioned.ver-column": "n",
    }
    shapes = {
        # name: (properties, partition keys, merge_mode, partial cols)
        "plain": ({}, None, None, None),
        "wal": ({"table.changelog.image": "wal"}, None, None, None),
        "ignore": ({"table.delete.behavior": "ignore"}, None, None, None),
        "part": ({}, ["dt"], None, None),
        "ow_versioned_wal": (
            {**versioned, "table.changelog.image": "wal"}, None, "overwrite", None,
        ),
        "first_row": ({"table.merge-engine": "first_row"}, None, None, None),
        "versioned": (versioned, None, None, None),
        "aggregation": ({"table.merge-engine": "aggregation"}, None, None, None),
        "partial": ({}, None, None, ["k", "n"]),
        "partial_deletes": ({}, None, None, ["k", "n"]),
        "deferred": ({"table.snapshot.defer-commits": "3"}, None, None, None),
    }
    cat = Catalog(str(tmp_path / "wh"))
    ts = 1_700_000_900_000
    for name, (props, parts, mm, partial) in shapes.items():
        agg = name == "aggregation"
        fields = [
            Field("k", "INT", nullable=False),
            Field("v", "STRING", agg="last_value_ignore_nulls" if agg else None),
            Field("n", "BIGINT", agg="sum" if agg else None),
        ]
        pk = ["k"]
        base = [dict(zip(("k", "v", "n"), r)) for r in _FOLD_BASE]
        if partial:
            rows = _PARTIAL_DEL_BATCH if name == "partial_deletes" else _PARTIAL_BATCH
            batch = [dict(zip(("k", "n", "__op"), r)) for r in rows]
        else:
            batch = [dict(zip(("k", "v", "n", "__op"), r)) for r in _FOLD_BATCH]
        if parts:
            fields = [Field("dt", "STRING", nullable=False)] + fields
            pk = ["dt", "k"]
            base = [{"dt": "a", **r} for r in base] + [{"dt": "b", **r} for r in base[:4]]
            batch = [{"dt": "a", **r} for r in batch] + [
                {"dt": "b", "k": 2, "v": "bx", "n": 22, "__op": "U"}
            ]
        schema = TableSchema(
            fields=fields, primary_key=pk, partition_keys=parts or [],
            num_buckets=4, properties=dict(props),
        )
        t = create_table(cat, "db", f"fold_{name}", schema)
        cols = schema.data_columns()
        t.kv.upsert(
            spark.createDataFrame([tuple(r.values()) for r in base], schema.to_struct_type()),
            commit_ts_ms=ts,
        )
        bcols = list(batch[0])
        if partial and name == "partial":
            bcols.remove("__op")  # an all-upsert batch carries no __op
        ddl = ", ".join(
            f"`{c}` {'string' if c == '__op' else schema.to_struct_type()[c].dataType.simpleString()}"
            for c in bcols
        )
        df = spark.createDataFrame([tuple(r[c] for c in bcols) for r in batch], ddl)

        # the engine's own bucket function, evaluated independently of the fold
        keys = {tuple(r[c] for c in pk) for r in base + batch}
        kdf = spark.createDataFrame(sorted(keys), ", ".join(
            f"`{c}` {schema.to_struct_type()[c].dataType.simpleString()}" for c in pk
        ))
        bucket = {
            tuple(r[c] for c in pk): r["b"]
            for r in kdf.select(*pk, t.kv._bucket_expr().alias("b")).collect()
        }
        eager = schema.defer_commits <= 1
        scope = {(*[r[c] for c in parts or []], bucket[tuple(r[c] for c in pk)]) for r in batch}
        seed = [
            r for r in base
            if (*[r[c] for c in parts or []], bucket[tuple(r[c] for c in pk)]) in scope
        ]
        for r in batch:
            r.setdefault("v", None)
        want = _model_changelog(schema, seed, batch, bucket, mm, partial, eager)

        cl = t.kv._fold(spark, df, ["n"], None, partial_update_cols=partial, merge_mode=mm)
        out_cols = ["__seq", *([BUCKET_COL] if eager else []), "__sub", CHANGE_TYPE_COL, *cols]
        assert sorted(cl.columns) == sorted(out_cols), name
        got = sorted((tuple(r[c] for c in out_cols) for r in cl.collect()), key=_nskey)
        assert got == sorted(want, key=_nskey), f"{name}: fold != model"
