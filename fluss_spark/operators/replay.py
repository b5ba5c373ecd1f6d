"""Changelog replay — the engine's core fold.

Reproduces the semantics of the reference's KV write path
(server/kv/KvTablet.java:514-792: read-old → merge → emit
+I/-U/+U/-D into the WAL) and its row mergers
(server/kv/rowmerger/{Default,FirstRow,Versioned,Aggregate}RowMerger.java)
— but as ONE declarative Spark SQL statement instead of a per-record
RocksDB loop: running merged state is computed with window aggregates
over (pk, __seq), the changelog is derived by lag() comparison.
Everything stays in whole-stage codegen; no Python in the path.

Each merge engine is a SQL builder nested over a source relation;
`fold_changelog` compiles engine + changelog image into one spark.sql
statement. The commit path (sources/kv.py) nests it over its
seed ∪ batch → __seq statement; `replay` wraps it for a ready fold-input
DataFrame.

Input contract (the fold-input relation):
    pk cols + data cols (+ clustering / carried columns)
    __op      'U' (upsert) | 'D' (delete)
    __seq     long, per-pk fold order; seed (existing snapshot) rows = 0
    __is_seed 1 for snapshot seed rows, else 0

Output: changelog rows — __seq, carried columns, __sub, _change_type,
data cols. Every seed row also comes out as a prior row (_change_type
NULL, __sub -1, data cols verbatim): the fused commit's
snapshot-rewrite feed. `replay` additionally returns the
snapshot, derived from that changelog by the replay invariant
(`_snapshot_from_changelog`).

A sequential pandas fold (`replay_exact`) covers the one combination the
window path does not: partial updates interleaved with deletes, where a
key's death must reset column state (PartialUpdater.deleteRow semantics,
server/kv/partialupdate/PartialUpdater.java:104-138).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fluss_spark.types import (
    CHANGE_TYPE_COL,
    DELETE,
    INSERT,
    UPDATE_AFTER,
    UPDATE_BEFORE,
    TableSchema,
    parse_type,
)

OP_COL = "__op"
SEQ_COL = "__seq"
SEED_COL = "__is_seed"
SUB_COL = "__sub"

_LONG_MIN = -(2**63)


# NOTE: the fold is built from WHOLE-SELECT SQL strings nested into one
# statement, not per-column Column objects or per-layer DataFrames. Each
# Column call is a py4j round trip (~0.7ms of pure driver latency), and
# each DataFrame layer is an eager JVM re-analysis of the accumulated
# plan; one spark.sql statement is one parse and one analysis, producing
# the identical resolved plan.


def _run_over(pk: list[str]) -> str:
    """Running-state window frame: everything up to this fold step."""
    pks = ", ".join(f"`{c}`" for c in pk)
    return (
        f"PARTITION BY {pks} ORDER BY `{SEQ_COL}` "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )


def _lag_over(pk: list[str], order_cols: list[str] | None = None) -> str:
    pks = ", ".join(f"`{c}`" for c in pk)
    order = ", ".join(f"`{c}`" for c in (order_cols or [SEQ_COL]))
    return f"PARTITION BY {pks} ORDER BY {order}"


# `part` (below) is the window partition of every fold layer: the
# primary key, prefixed by coarser clustering columns that are FUNCTIONS
# OF the primary key (the commit path passes [__bucket], bucket =
# pmod(hash(pk), n)): the per-key frames are identical, but a frame
# partitioned by (bucket, pk) is satisfied by a hash(bucket) exchange —
# so the fold, the changelog emission and the downstream commit windows
# (offsets, is-last, id carry — all PARTITION BY bucket[, pk]) share ONE
# num_buckets-wide exchange instead of a pk exchange plus a bucket
# exchange (guide §2.4: two operations keyed the same way share one
# exchange).


def _struct_sql(cols: list[str]) -> str:
    return "struct(" + ", ".join(f"`{c}`" for c in cols) + ")"


def _emit_select_list(
    cols: list[str],
    cur_state: str,
    prev_state: str,
    prev_present: str,
    emit_cond: str,
    extra_cols: list[str] | None = None,
) -> list[str]:
    """Select list of the changelog-emission layer: per input record an
    array of 0-2 change events, exploded JVM-side. All state arguments
    are SQL expressions over the layer's input.

    +I when the key appears, -U/+U pair on update, -D on delete —
    exactly KvTablet.applyInsert/applyUpdate/applyDelete
    (KvTablet.java:755-792).

    ONE plan node: the events are FLAT structs (sub + change type + data
    columns at the top level) unpacked by inline() in the same select
    that builds them, and array_compact drops records with no event.

    `extra_cols` ride through unchanged (the commit path keeps __bucket
    so its windows reuse the fold's exchange). Each SEED row is emitted
    as a prior-state row (`_change_type` NULL, `__sub` -1, data columns
    verbatim) — the fused commit's snapshot-rewrite feed, riding the
    fold's exchange instead of a second scan of the snapshot."""

    def mk(ct_expr: str, row: str | None, sub: int) -> str:
        val = (lambda c: f"({row}).`{c}`") if row is not None else (lambda c: f"`{c}`")
        return (
            f"named_struct('{SUB_COL}', {sub}, '{CHANGE_TYPE_COL}', {ct_expr}, "
            + ", ".join(f"'{c}', {val(c)}" for c in cols)
            + ")"
        )

    is_u = f"(`{SEED_COL}` = 0 AND `{OP_COL}` = 'U' AND ({emit_cond}))"
    slot1 = (
        f"CASE WHEN {is_u} AND ({prev_present}) THEN {mk(repr(UPDATE_BEFORE), prev_state, 0)}"
        f" WHEN {is_u} AND NOT ({prev_present}) THEN {mk(repr(INSERT), cur_state, 0)}"
        f" WHEN `{SEED_COL}` = 0 AND `{OP_COL}` = 'D' AND ({prev_present})"
        f" THEN {mk(repr(DELETE), prev_state, 0)}"
        " END"
    )
    slot2 = f"CASE WHEN {is_u} AND ({prev_present}) THEN {mk(repr(UPDATE_AFTER), cur_state, 1)} END"
    # the seed row IS the prior-snapshot row: raw columns, no state
    # struct (identical values — the seed sorts first, so no event has
    # folded into the running state yet)
    prior = f"CASE WHEN `{SEED_COL}` = 1 THEN {mk('CAST(NULL AS STRING)', None, -1)} END"
    return [
        f"`{SEQ_COL}`",
        *[f"`{c}`" for c in (extra_cols or [])],
        f"inline(array_compact(array({slot1}, {slot2}, {prior})))",
    ]


def _emit_sql(
    src: str,
    cols: list[str],
    cur_state: str,
    prev_state: str,
    prev_present: str,
    emit_cond: str,
    extra: list[str],
) -> str:
    select = _emit_select_list(cols, cur_state, prev_state, prev_present, emit_cond, extra)
    return f"SELECT {', '.join(select)} FROM ({src})"


def fold_changelog(
    spark: SparkSession,
    src: str,
    frames: dict[str, DataFrame],
    schema: TableSchema,
    part: list[str],
    extra_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    partial_update_cols: list[str] | None = None,
    merge_mode: str | None = None,
    delete_frames: list[DataFrame] | None = None,
    prior_rows: bool = True,
) -> DataFrame:
    """The fold compiler: the changelog of fold-input statement `src`
    (its `{name}` placeholders bound to `frames`) as ONE spark.sql
    statement — engine body + changelog image nested over `src`.

    `delete_frames` are the input frames that may carry deletes (those
    with an __op column; none = all upserts). They feed the only jobs
    the fold itself runs, each a tiny limit-1 probe run only where its
    answer matters: DeleteBehavior.DISABLE (metadata/DeleteBehavior.java
    :28-47) raises on any delete, and a default-engine partial update
    whose batch does delete takes `replay_exact` — the one fold that is
    truly sequential — with the image applied over its output.

    `prior_rows=False` drops the seed's prior rows (the WAL-only commit
    appends events alone)."""
    extra = list(extra_cols or [])
    deletes = list(delete_frames or [])
    engine = "default" if merge_mode == "overwrite" else schema.merge_engine
    if schema.delete_behavior == "disable" and any(_has_deletes(d) for d in deletes):
        raise ValueError("DELETE disabled for this table (table.delete.behavior=disable)")
    if (
        partial_update_cols
        and engine == "default"
        and schema.delete_behavior not in ("ignore", "disable")
        and any(_has_deletes(d) for d in deletes)
    ):
        exact = replay_exact(spark.sql(src, **frames), schema, partial_update_cols, extra)
        frames = {"changelog": exact}
        sql = _changelog_image_sql("SELECT * FROM {changelog}", schema, extra, full_row=False)
    else:
        sql = _changelog_sql(
            src, schema, part, extra, order_cols, partial_update_cols, merge_mode,
            may_have_deletes=bool(deletes),
        )
    if not prior_rows:
        sql = f"SELECT * FROM ({sql}) WHERE `{CHANGE_TYPE_COL}` IS NOT NULL"
    return spark.sql(sql, **frames)


def _has_deletes(df: DataFrame) -> bool:
    return df.filter(f"`{OP_COL}` = 'D'").limit(1).count() > 0


def _changelog_sql(
    src: str,
    schema: TableSchema,
    part: list[str],
    extra_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    partial_update_cols: list[str] | None = None,
    merge_mode: str | None = None,
    may_have_deletes: bool = True,
) -> str:
    """Changelog statement of the window fold over fold-input statement
    `src`. Dispatches on the table's merge engine
    (MergeEngineType.java:23-64); `merge_mode='overwrite'` bypasses the
    merge engine and applies plain last-write-wins — the undo/recovery
    path (M8, Upsert.mergeMode, client/table/writer/Upsert.java:61-98).

    `part` is the fold windows' partition (see the note above
    _struct_sql), `extra_cols` ride through to the changelog, and
    `order_cols` overrides the default engine's fold order (default
    [__seq]; the group-commit fold passes [__grp, __seq])."""
    engine = "default" if merge_mode == "overwrite" else schema.merge_engine
    cols = schema.data_columns()
    extra = list(extra_cols or [])
    if engine == "default":
        # DeleteBehavior.IGNORE: batch deletes drop out after __seq
        # assignment, seed rows stay
        where = ""
        if schema.delete_behavior == "ignore" and may_have_deletes:
            where = f" WHERE `{OP_COL}` != 'D' OR `{SEED_COL}` = 1"
        rel = f"({src}){where}"
        if partial_update_cols:
            body = _partial_sql(rel, schema, partial_update_cols, part, extra)
        else:
            body = _default_sql(rel, cols, part, extra, order_cols)
    else:
        # the merge engines fold upserts only: a delete never reaches
        # their state, whatever the table's delete behaviour
        rel = f"({src}) WHERE `{OP_COL}` = 'U'"
        if engine == "first_row":
            body = _first_row_sql(rel, cols, part, extra)
        elif engine == "versioned":
            body = _versioned_sql(rel, schema, part, extra)
        elif engine == "aggregation":
            body = _aggregation_sql(rel, schema, partial_update_cols, part, extra)
        else:
            raise ValueError(f"unknown merge engine: {engine}")
    return _changelog_image_sql(body, schema, extra, full_row=not partial_update_cols)


def replay(
    df: DataFrame,
    schema: TableSchema,
    partial_update_cols: list[str] | None = None,
    merge_mode: str | None = None,
    may_have_deletes: bool = True,
    cluster_cols: list[str] | None = None,
    emit_prior: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Fold a fold-input frame (the contract above) into (changelog_df,
    snapshot_df) through `fold_changelog`, the compiler every commit
    uses.

    `may_have_deletes=False` is a caller hint (the batch carried no __op
    column, so every op is 'U') that skips the delete-probe jobs.
    `cluster_cols` prefix every fold window's partition and ride through
    to the changelog; `emit_prior` keeps the seed's prior rows in it.
    """
    pk = schema.primary_key
    if not pk:
        raise ValueError("replay requires a primary-key table")
    extra = [c for c in (cluster_cols or []) if c not in pk]
    changelog = fold_changelog(
        df.sparkSession,
        "SELECT * FROM {fold_in}",
        {"fold_in": df},
        schema,
        extra + list(pk),
        extra,
        partial_update_cols=partial_update_cols,
        merge_mode=merge_mode,
        delete_frames=[df] if may_have_deletes else [],
    )
    snapshot = _snapshot_from_changelog(changelog, schema)
    if not emit_prior:
        changelog = changelog.where(f"`{CHANGE_TYPE_COL}` IS NOT NULL")
    return changelog, snapshot


def _changelog_image_sql(
    src: str, schema: TableSchema, extra_cols: list[str], full_row: bool
) -> str:
    """M9 changelog image (metadata/ChangelogImage.java) over changelog
    statement `src`: FULL keeps -U/+U pairs (`src` unchanged); WAL drops
    UPDATE_BEFORE — NULL-safe, prior rows stay — and, for default merge
    with full-row updates, converts +I to +U (the skip-old-lookup
    optimization, 'similar to database WAL behavior'). The shortcut
    gates on the SCHEMA's engine (an overwrite batch to a merge-engine
    table folds last-write-wins but keeps +I, KvTablet semantics) and is
    OFF on auto-increment tables, exactly as the reference gates it on
    !hasAutoIncrement (KvTablet.java:723-725): ids are minted at insert,
    so the commit path must still see which events are inserts."""
    if schema.changelog_image != "wal":
        return src
    ct = f"`{CHANGE_TYPE_COL}`"
    has_autoinc = any(f.auto_increment for f in schema.fields)
    if schema.merge_engine == "default" and full_row and not has_autoinc:
        ct = f"CASE WHEN {ct} = '{INSERT}' THEN '{UPDATE_AFTER}' ELSE {ct} END"
    select = (
        [f"`{SEQ_COL}`"]
        + [f"`{c}`" for c in extra_cols]
        + [f"`{SUB_COL}`", f"{ct} AS `{CHANGE_TYPE_COL}`"]
        + [f"`{c}`" for c in schema.data_columns()]
    )
    return (
        f"SELECT {', '.join(select)} FROM ({src}) WHERE "
        f"(`{CHANGE_TYPE_COL}` IS NULL OR `{CHANGE_TYPE_COL}` != '{UPDATE_BEFORE}')"
    )


# ---------------------------------------------------------------------- #
# default merge (last write wins) — DefaultRowMerger.java
# ---------------------------------------------------------------------- #


def _default_fold_select_list(
    cols: list[str], part: list[str], order_cols: list[str] | None = None
) -> list[str]:
    """Select list of the default-merge running-state layer (state
    presence after each record). `order_cols` overrides the fold-order
    columns (default [__seq]); the group-commit fold passes
    [__grp, __seq] so per-batch sequence numbers replay in batch-major
    order — identical per-key frames to N sequential folds."""
    lag_over = _lag_over(part, order_cols)
    state = f"CASE WHEN `{OP_COL}` = 'U' THEN {_struct_sql(cols)} END"
    return [
        "*",
        f"{state} AS __cur",
        f"(`{OP_COL}` = 'U') AS __cur_present",
        f"lag({state}) OVER ({lag_over}) AS __prev",
        f"coalesce(lag(`{OP_COL}` = 'U') OVER ({lag_over}), false) AS __prev_present",
    ]


def _default_sql(
    rel: str,
    cols: list[str],
    part: list[str],
    extra: list[str],
    order_cols: list[str] | None,
) -> str:
    d = f"SELECT {', '.join(_default_fold_select_list(cols, part, order_cols))} FROM {rel}"
    return _emit_sql(d, cols, "__cur", "__prev", "__prev_present", "true", extra)


def _running_sql(
    rel: str, running: list[str], cols: list[str], part: list[str], extra: list[str]
) -> str:
    """Running per-column state (`running`, one window expression per
    column) as the __cur struct, then its lag as __prev — two layers,
    because window functions cannot nest — then the emission. __cur is
    a struct and never NULL, so a NULL __prev means 'no prior state'."""
    state = "struct(" + ", ".join(running) + ")"
    cur = f"SELECT *, {state} AS __cur FROM {rel}"
    prev = f"SELECT *, lag(__cur) OVER ({_lag_over(part)}) AS __prev FROM ({cur})"
    return _emit_sql(prev, cols, "__cur", "__prev", "__prev IS NOT NULL", "true", extra)


# ---------------------------------------------------------------------- #
# partial update (no deletes) — PartialUpdater.java:35-103
# ---------------------------------------------------------------------- #


def _partial_sql(
    rel: str,
    schema: TableSchema,
    target_cols: list[str],
    part: list[str],
    extra: list[str],
) -> str:
    """Running per-column state: target columns take the incoming value
    (explicit nulls overwrite — hence the struct wrapper that makes
    'set to null' distinguishable from 'not set'); untouched columns keep
    their last state (null before first write)."""
    pk, cols = schema.primary_key, schema.data_columns()
    run_over = _run_over(part)
    running = []
    for c in cols:
        if c in pk:
            running.append(f"`{c}`")
        elif c in target_cols:
            # seed rows set every column; batch rows set target columns
            running.append(
                f"(last(named_struct('v', `{c}`), true) OVER ({run_over})).v AS `{c}`"
            )
        else:
            running.append(
                f"(last(CASE WHEN `{SEED_COL}` = 1 THEN named_struct('v', `{c}`) END,"
                f" true) OVER ({run_over})).v AS `{c}`"
            )
    return _running_sql(rel, running, cols, part, extra)


# ---------------------------------------------------------------------- #
# FIRST_ROW — FirstRowRowMerger.java (insert-only changelog)
# ---------------------------------------------------------------------- #


def _first_row_sql(rel: str, cols: list[str], part: list[str], extra: list[str]) -> str:
    """One row per key, its first upsert: a seed winner is the key's
    prior-snapshot row (the first write won before this batch — no
    changelog event), a batch winner is the +I insert."""
    ranked = f"SELECT *, row_number() OVER ({_lag_over(part)}) AS __rn FROM {rel}"
    select = (
        [f"`{SEQ_COL}`"]
        + [f"`{c}`" for c in extra]
        + [
            f"CASE WHEN `{SEED_COL}` = 1 THEN -1 ELSE 0 END AS `{SUB_COL}`",
            f"CASE WHEN `{SEED_COL}` = 0 THEN '{INSERT}' END AS `{CHANGE_TYPE_COL}`",
        ]
        + [f"`{c}`" for c in cols]
    )
    return f"SELECT {', '.join(select)} FROM ({ranked}) WHERE __rn = 1"


# ---------------------------------------------------------------------- #
# VERSIONED — VersionedRowMerger.java:68-110 (null ver = -inf, tie -> new)
# ---------------------------------------------------------------------- #


def _versioned_sql(rel: str, schema: TableSchema, part: list[str], extra: list[str]) -> str:
    cols = schema.data_columns()
    ver = schema.version_column
    if not ver:
        raise ValueError("versioned merge engine requires table.merge-engine.versioned.ver-column")
    # ranking key: (version with null -> -inf, then arrival order so the
    # newer write wins ties) — exactly createVersionComparator + new-wins
    rank = (
        f"named_struct('v', coalesce(CAST(`{ver}` AS BIGINT), {_LONG_MIN}L),"
        f" 's', `{SEQ_COL}`)"
    )
    payload = f"named_struct('k', {rank}, 'row', {_struct_sql(cols)})"
    # struct compare = lexicographic (v, s)
    win = f"SELECT *, max({payload}) OVER ({_run_over(part)}) AS __w FROM {rel}"
    prev = f"SELECT *, lag(__w) OVER ({_lag_over(part)}) AS __prev_w FROM ({win})"
    return _emit_sql(
        prev,
        cols,
        cur_state="__w.row",
        prev_state="__prev_w.row",
        prev_present="__prev_w IS NOT NULL",
        # emit only when this record became the winner (its seq is the
        # winner seq)
        emit_cond=f"__w.k.s = `{SEQ_COL}`",
        extra=extra,
    )


# ---------------------------------------------------------------------- #
# AGGREGATION — AggregateRowMerger.java:57-271 + field aggregators
# (server/kv/rowmerger/aggregate/functions/*.java)
# ---------------------------------------------------------------------- #


def _agg_running(c: str, agg: str, run_over: str, delim: str = ",", dtype: str = "double") -> str:
    col = f"`{c}`"
    n_set = f"count({col}) OVER ({run_over})"
    if agg == "sum":
        return f"CAST(CASE WHEN {n_set} > 0 THEN sum({col}) OVER ({run_over}) END AS {dtype})"
    if agg == "product":
        prod = (
            f"aggregate(collect_list({col}) OVER ({run_over}), CAST(1.0 AS DOUBLE),"
            " (a, x) -> a * CAST(x AS DOUBLE))"
        )
        return f"CASE WHEN {n_set} > 0 THEN CAST({prod} AS {dtype}) END"
    if agg == "max":
        return f"max({col}) OVER ({run_over})"
    if agg == "min":
        return f"min({col}) OVER ({run_over})"
    if agg == "last_value":
        return f"(last(named_struct('v', {col})) OVER ({run_over})).v"
    if agg == "last_value_ignore_nulls":
        return f"last({col}, true) OVER ({run_over})"
    if agg == "first_value":
        return f"(first(named_struct('v', {col})) OVER ({run_over})).v"
    if agg == "first_value_ignore_nulls":
        return f"first({col}, true) OVER ({run_over})"
    if agg in ("listagg", "string_agg"):
        lst = f"collect_list({col}) OVER ({run_over})"  # skips nulls, offset order
        dq = delim.replace("\\", "\\\\").replace("'", "\\'")
        # the statement runs through spark.sql's {name} formatter
        dq = dq.replace("{", "{{").replace("}", "}}")
        return f"CASE WHEN size({lst}) > 0 THEN array_join({lst}, '{dq}') END"
    if agg == "bool_and":
        return f"min({col}) OVER ({run_over})"
    if agg == "bool_or":
        return f"max({col}) OVER ({run_over})"
    if agg in ("rbm32", "rbm64"):
        # roaring bitmap union (FieldRoaringBitmap32/64Agg): the column
        # is the bitmap value itself (array<long> here, BYTES blob in the
        # reference); each record contributes a bitmap, fold = union
        return f"array_sort(array_distinct(flatten(collect_list({col}) OVER ({run_over}))))"
    raise ValueError(f"unknown aggregate function: {agg}")


def _aggregation_sql(
    rel: str,
    schema: TableSchema,
    partial_update_cols: list[str] | None,
    part: list[str],
    extra: list[str],
) -> str:
    """AGGREGATION merge; with `partial_update_cols` only target columns
    take the batch's contributions, untouched columns carry the seed's
    accumulated value (PartialAggregateRowMerger,
    AggregateRowMerger.java:224-271). Null-skipping aggregates behave
    identically either way; last_value/first_value need the explicit
    carry so a partial batch's nulls don't overwrite."""
    pk, cols = schema.primary_key, schema.data_columns()
    agg_spec = schema.agg_spec
    delim = schema.properties.get("table.merge-engine.aggregation.listagg-delimiter", ",")
    run_over = _run_over(part)
    dtypes = {f.name: parse_type(f.type).simpleString() for f in schema.fields}
    target = set(partial_update_cols) if partial_update_cols else None

    running = []
    for c in cols:
        if c in pk:
            running.append(f"`{c}`")
        elif target is not None and c not in target:
            # untouched column: carry the accumulated (seed) value
            running.append(
                f"(last(CASE WHEN `{SEED_COL}` = 1 THEN named_struct('v', `{c}`) END,"
                f" true) OVER ({run_over})).v AS `{c}`"
            )
        elif c in agg_spec:
            running.append(
                f"{_agg_running(c, agg_spec[c], run_over, delim, dtypes[c])} AS `{c}`"
            )
        else:
            # non-aggregated column: last value wins (AggregateRowMerger
            # falls back to replace for unconfigured columns)
            running.append(
                f"(last(named_struct('v', `{c}`)) OVER ({run_over})).v AS `{c}`"
            )
    return _running_sql(rel, running, cols, part, extra)


# ---------------------------------------------------------------------- #
# exact sequential fold (pandas) — partial update ⨯ delete interplay
# ---------------------------------------------------------------------- #


def replay_exact(
    df: DataFrame,
    schema: TableSchema,
    partial_update_cols: list[str] | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key sequential fold via applyInPandas (Arrow-batched, grouped
    by pk — distributed, but row-at-a-time inside each key). Used only
    for partial-update+delete mixtures; semantics from
    PartialUpdater.updateRow/deleteRow (PartialUpdater.java:35-138):
    delete retracts target columns, the row dies when every non-pk
    column is null. Returns the changelog in the window fold's shape:
    `extra_cols` ride through and seed rows re-emit as NULL-change-type
    prior rows."""
    import pandas as pd

    pk, cols = schema.primary_key, schema.data_columns()
    non_pk = [c for c in cols if c not in pk]
    target = [c for c in (partial_update_cols or cols) if c not in pk]
    extra = list(extra_cols or [])

    out_schema = ", ".join(
        [f"`{SEQ_COL}` long"]
        + [f"`{c}` int" for c in extra]
        + [f"`{SUB_COL}` int", f"`{CHANGE_TYPE_COL}` string"]
        + [f"`{f.name}` {f.to_struct_field().dataType.simpleString()}" for f in schema.fields]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(SEQ_COL)
        state: dict | None = None
        rows = []
        ex: dict = {}
        for rec in pdf.to_dict("records"):
            ex = {c: rec[c] for c in extra}
            is_seed = rec[SEED_COL] == 1
            if is_seed:
                state = {c: rec[c] for c in cols}
                rows.append({SEQ_COL: 0, **ex, SUB_COL: -1, CHANGE_TYPE_COL: None, **state})
                continue
            seq = rec[SEQ_COL]
            if rec[OP_COL] == "U":
                if state is None:
                    state = {c: None for c in cols}
                    for c in pk:
                        state[c] = rec[c]
                    for c in target:
                        state[c] = rec[c]
                    rows.append({SEQ_COL: seq, **ex, SUB_COL: 0, CHANGE_TYPE_COL: INSERT, **state})
                else:
                    prev = dict(state)
                    for c in target:
                        state[c] = rec[c]
                    rows.append({SEQ_COL: seq, **ex, SUB_COL: 0, CHANGE_TYPE_COL: UPDATE_BEFORE, **prev})
                    rows.append({SEQ_COL: seq, **ex, SUB_COL: 1, CHANGE_TYPE_COL: UPDATE_AFTER, **state})
            else:  # delete
                if state is None:
                    continue
                prev = dict(state)
                for c in target:
                    state[c] = None
                if all(state[c] is None or pd.isna(state[c]) for c in non_pk):
                    rows.append({SEQ_COL: seq, **ex, SUB_COL: 0, CHANGE_TYPE_COL: DELETE, **prev})
                    state = None
                else:
                    rows.append({SEQ_COL: seq, **ex, SUB_COL: 0, CHANGE_TYPE_COL: UPDATE_BEFORE, **prev})
                    rows.append({SEQ_COL: seq, **ex, SUB_COL: 1, CHANGE_TYPE_COL: UPDATE_AFTER, **state})
        return pd.DataFrame(rows, columns=[SEQ_COL, *extra, SUB_COL, CHANGE_TYPE_COL, *cols])

    return df.groupBy(*pk).applyInPandas(fold, schema=out_schema)


def _snapshot_from_changelog(changelog: DataFrame, schema: TableSchema) -> DataFrame:
    """Replay invariant: applying a changelog reproduces the snapshot —
    last event per key wins; keys whose last event is -D are gone
    (SortMergeReader.java:30-55 'change log wins over the snapshot').
    A prior row (NULL change type) that is still last is the key's
    untouched state."""
    pk, cols = schema.primary_key, schema.data_columns()
    w = Window.partitionBy(*pk).orderBy(F.col(SEQ_COL).desc(), F.col(SUB_COL).desc())
    return (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & ~F.col(CHANGE_TYPE_COL).eqNullSafe(DELETE))
        .select(*cols)
    )
