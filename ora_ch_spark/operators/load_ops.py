"""The five load operations — the core operator set of ``POST /task``.

Reference semantics (SURVEY.md §2.2; dispatch
``task/TaskLogic.scala:285-348``; operation docs
``request/OperType.scala:8-46``):

- O1 ``recreate``    — drop + full copy (optional filter / column
  subset / order / alternate source).
- O2 ``append_where``— idempotent ranged append: delete target rows
  matching ``where_filter``, then insert source rows matching it.
- O3 ``append_bymax``— watermark append: copy source rows with
  ``sync_by_column_max`` greater than the target's current max.
- O4 ``append_notin``— insert-if-absent on a key tuple. The reference
  splices literal ``NOT IN`` tuples (1..3 int columns,
  ``table/Table.scala:59-84``); we use a **left anti join**, which
  scales to any key arity/type and never materializes keys on the
  driver.
- O5 ``update``      — keyed update of non-key fields. The reference
  builds a ClickHouse dictionary and runs ``ALTER TABLE UPDATE
  col=dictGet(...) WHERE dictHas(...)``
  (``clickhouse/jdbsChSession.scala:61-91``); the Spark-native
  equivalent of a dictionary point-lookup is a **broadcast hash
  join**, merged with ``coalesce(new, old)``.

Scale notes: every operation is a single declarative plan — filters
and projections push down to the source scan (Catalyst), the anti-join
and merge shuffle only on their key columns, and the updates side of
O5 is explicitly broadcast when small. Nothing ever collects data on
the driver except the O3 watermark (a 1-row aggregate, as in the
reference's ``MaxValAndCnt`` probe ``jdbsChSession.scala:93-121``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ora_ch_spark.specs import Operation, TableSpec
from ora_ch_spark.store import TableStore

BROADCAST_UPDATES_MAX_ROWS = 10_000_000  # ~hundreds of MB of keys; beyond → shuffle merge

# O5 probe guard (r11): hard ceiling on the affected-file list the
# file-pruned path may collect on the driver. The range pre-check
# already routes scattered updates to the full merge, but a probe
# running WITHOUT zone-map candidates (non-integer keys) can touch
# every file of a huge table — beyond the cap the probe abandons
# pruning and falls through to the full merge (which is cheaper than
# rewriting more than half the table file-by-file anyway).
AFFECTED_FILES_ABS_MAX = 100_000

# test hook: when True, op_update records the physical plan of its
# merge DataFrame (broadcast vs sort-merge shape assertions)
_DEBUG_CAPTURE_PLAN = False
_last_merge_plan: str | None = None


def _capture_plan(df: DataFrame) -> None:
    global _last_merge_plan
    if _DEBUG_CAPTURE_PLAN:
        _last_merge_plan = (
            df._jdf.queryExecution().executedPlan().toString()
        )


def shape_source(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Apply the spec's source-side shaping, mirroring the SELECT the
    reference assembles in ``table/Table.scala:45-92``:
    ``select <only_columns|*> from src [where where_filter]
    [order by order_by_ora_data]``.

    The filter/projection stay declarative so Catalyst pushes them
    into the scan (parquet predicate pushdown / JDBC WHERE splice).
    The order-by exists in the reference to optimize ClickHouse insert
    locality; `sortWithinPartitions` keeps that locality benefit
    without a global sort's extra shuffle.
    """
    if spec.where_filter:
        df = df.filter(spec.where_filter)
    if spec.only_columns:
        df = df.select(*spec.only_columns)
    if spec.ch_datetime_clamp:
        from ora_ch_spark.typemap import clamp_ch_datetime

        for name, dtype in df.dtypes:
            if dtype.startswith("timestamp"):
                df = df.withColumn(name, clamp_ch_datetime(F.col(name)))
    if spec.order_by_ora_data:
        df = df.sortWithinPartitions(*[c.strip() for c in spec.order_by_ora_data.split(",")])
    return df


def op_recreate(store: TableStore, spec: TableSpec, source: DataFrame) -> int:
    """O1 — drop + create + full copy
    (``clickhouse/jdbsChSession.scala:257-314``).

    The reference literally drops then re-creates; here the version
    swap IS the recreate — no pre-drop, so a failed copy leaves the
    previous version live (strictly safer than the reference's
    non-atomic drop window) and concurrent readers never observe a
    missing table."""
    df = shape_source(source, spec)
    store.create_database(spec.schema)
    store.write(spec.schema, spec.name, df)
    return store.row_count(spec.schema, spec.name)


def op_append_where(store: TableStore, spec: TableSpec, source: DataFrame) -> int:
    """O2 — idempotent ranged append, exactly the reference's two
    steps (``jdbsChSession.scala:222-236`` delete + ``:284-298``
    insert), each an atomic snapshot commit:

    1. ``delete_where(where_filter)`` — FILE-PRUNED: only data files
       that actually contain matching rows are rewritten; at scale the
       usual case (refreshing one date range of a huge table) touches
       only that range's files.
    2. ``append(incoming)`` — pure file adds, O(delta).

    Copied-records accounting (``ora/jdbcSession.scala:544-579``) is
    derived from manifest row counts — no post-write re-scan."""
    incoming = shape_source(source, spec)
    if not store.table_exists(spec.schema, spec.name):
        store.write(spec.schema, spec.name, incoming)
        return store.row_count(spec.schema, spec.name)
    store.delete_where(spec.schema, spec.name, spec.where_filter)
    after_delete = store.row_count(spec.schema, spec.name)  # manifest read, no job
    store.append(spec.schema, spec.name, incoming)
    return store.row_count(spec.schema, spec.name) - after_delete


def op_append_bymax(store: TableStore, spec: TableSpec, source: DataFrame) -> int:
    """O3 — watermark append on a monotonically increasing column.

    Max probe ≡ ``MaxValAndCnt`` (``jdbsChSession.scala:93-121``):
    a 1-row aggregate on the target (cheap — parquet footer stats can
    even answer it without a scan). The `col > max` predicate is then
    part of the source plan, so it pushes down to the scan exactly as
    the reference splices it into the Oracle SELECT
    (``ora/jdbcSession.scala:360-368``).
    """
    col = spec.sync_by_column_max
    df = shape_source(source, spec)
    if store.table_exists(spec.schema, spec.name):
        before = store.row_count(spec.schema, spec.name)  # manifest, no job
        # footer-stat watermark probe — zero Spark jobs (MaxValAndCnt)
        hi = store.max_value(spec.schema, spec.name, col)
        if hi is not None:
            df = df.filter(F.col(col) > F.lit(hi))
        store.append(spec.schema, spec.name, df)  # pure file adds
        return store.row_count(spec.schema, spec.name) - before
    store.write(spec.schema, spec.name, df)
    return store.row_count(spec.schema, spec.name)


def op_append_notin(store: TableStore, spec: TableSpec, source: DataFrame) -> int:
    """O4 — insert-if-absent via LEFT ANTI JOIN on the key columns.

    Replaces the reference's driver-side `select distinct keys` +
    literal ``NOT IN`` tuple splice (``jdbsChSession.scala:123-177``,
    ``table/Table.scala:59-84``) with a distributed anti-join: no
    driver key materialization, no 1..3-int-column limit, no O(keys)
    SQL text. NULL-key semantics: the reference's keys are NOT NULL
    integers, so anti-join (which keeps NULL-keyed source rows) is
    equivalent on its domain — documented deviation for NULL keys.
    """
    keys = list(spec.sync_by_columns)
    df = shape_source(source, spec)
    if store.table_exists(spec.schema, spec.name):
        before = store.row_count(spec.schema, spec.name)
        existing = store.read(spec.schema, spec.name).select(*keys)
        fresh = df.join(existing, on=keys, how="left_anti")
        store.append(spec.schema, spec.name, fresh)
        return store.row_count(spec.schema, spec.name) - before
    store.write(spec.schema, spec.name, df)
    return store.row_count(spec.schema, spec.name)


def op_update(
    store: TableStore,
    spec: TableSpec,
    updates: DataFrame,
    key_columns: list[str],
) -> int:
    """O5 — keyed update of ``update_fields`` (upsert of non-key
    fields; rows never added/removed, matching the reference's
    ``ALTER TABLE UPDATE ... WHERE dictHas(...)``).

    dictGet/dictHas ≡ broadcast hash join: ``updates`` (the changed
    rows pulled from the source) is broadcast when small, and each
    updated field becomes ``coalesce(new, old)``. One shuffle-free
    plan when broadcast; falls back to a key-partitioned sort-merge
    join automatically for huge update sets.

    Changed-row detection by ``sync_update_by_column_max``
    (``jdbsChSession.scala:101-106``): only staging rows with the
    watermark column above the last successfully-applied high-water
    mark are merged; the mark persists in the store's SyncState and
    advances only after the write succeeds (at-least-once, idempotent
    because the merge is a keyed overwrite).

    The spec's ``where_filter`` and ``ch_datetime_clamp`` apply to the
    staging rows; ``only_columns``/``order_by_ora_data`` do not (the
    update projects keys+fields itself).
    """
    from ora_ch_spark.syncstate import SyncState

    fields = list(spec.update_fields)
    if spec.where_filter:
        updates = updates.filter(spec.where_filter)
    if spec.ch_datetime_clamp:
        from ora_ch_spark.typemap import clamp_ch_datetime

        for name, dtype in updates.dtypes:
            if dtype.startswith("timestamp"):
                updates = updates.withColumn(name, clamp_ch_datetime(F.col(name)))
    sync_state = SyncState(store.root)
    wm_col = spec.sync_update_by_column_max
    new_mark = None
    if wm_col:
        last = sync_state.get_watermark(spec.schema, spec.name, wm_col)
        if last is not None:
            updates = updates.filter(F.col(wm_col) > F.lit(last))
        new_mark = updates.agg(F.max(wm_col)).first()[0]
        if new_mark is None:
            return 0  # nothing newer than the high-water mark
    upd = updates.select(*key_columns, *fields)
    # dedup updates on key (last-write-wins is undefined in the
    # reference's dictionary too; enforce determinism via max)
    upd = upd.groupBy(*key_columns).agg(*[F.max(f).alias(f) for f in fields])
    upd_renamed = upd.select(
        *key_columns, *[F.col(f).alias(f"__upd_{f}") for f in fields]
    ).persist()
    try:
        # one action materializes the (small) update set; the count
        # feeds the run log and tells us whether broadcasting is safe,
        # and the first key's range feeds the zone-map pre-check below
        k0 = key_columns[0] if key_columns else None
        probe = upd_renamed.agg(
            F.count(F.lit(1)).alias("n"),
            *([F.min(k0).alias("lo"), F.max(k0).alias("hi")] if k0 else []),
        ).first()
        n_upd = probe["n"]
        join_side = (
            F.broadcast(upd_renamed)
            if n_upd <= BROADCAST_UPDATES_MAX_ROWS
            else upd_renamed
        )
        part_cols = store.partitioning(spec.schema, spec.name)
        total_rows = store.row_count(spec.schema, spec.name)  # manifest, no job
        # Routing (r8, measured — PLANS.md crossover table): the exact
        # semi-join probe costs one full table scan, so it must only
        # run when it can actually prune. Two pre-checks, cheapest
        # first:
        #   1. updates ≥ ¼ of table rows → every file is statistically
        #      hit; full merge, zero probe cost (r7 rule, kept).
        #   2. manifest zone-map range check (driver-side, no table
        #      scan — the key range comes from the probe above): if the
        #      update-key range overlaps > ½ of the data
        #      files, the update is scattered and the probe would keep
        #      ~everything — full merge. Clustered updates (the
        #      watermark/backfill case the file-pruned path exists
        #      for) overlap few files, and the exact probe then runs
        #      over ONLY those candidates.
        large_update = total_rows > 0 and n_upd * 4 >= total_rows
        candidates: list[str] | None = None
        if not part_cols and not large_update and k0:
            if (
                probe["lo"] is not None
                and isinstance(probe["lo"], int)
                and not isinstance(probe["lo"], bool)
            ):
                cand, total_files = store.prune_files(
                    spec.schema,
                    spec.name,
                    f"{k0} >= {probe['lo']} AND {k0} <= {probe['hi']}",
                )
                if total_files and len(cand) * 2 > total_files:
                    large_update = True  # scattered: probe can't prune
                else:
                    candidates = cand
        if not part_cols and not large_update:
            # FILE-PRUNED update: a key-pruned semi-join probe finds
            # the data files holding matching keys; only those are
            # rewritten (ALTER UPDATE touches only affected parts in
            # the reference's MergeTree, jdbsChSession.scala:61-91).
            # The probe reads only the zone-map candidate files when
            # the range pre-check identified them.
            if candidates is not None and not candidates:
                affected = []  # zone maps prove no file holds any key
            else:
                # bounded collect (r11): cap at half the table's files
                # (rewriting more is worse than one full merge) and an
                # absolute driver ceiling; limit(cap+1) detects
                # overflow WITHOUT materializing the pathological list
                mf = store._manifest(spec.schema, spec.name)
                n_files = (
                    sum(ref["nfiles"] for ref in mf["segments"])
                    if mf.get("segments") is not None
                    else len(mf["files"])
                )
                cap = min(max(64, n_files // 2), AFFECTED_FILES_ABS_MAX)
                tagged = store.read_with_file(
                    spec.schema, spec.name, candidates
                )
                affected = [
                    r["_src_file"]
                    for r in tagged.join(
                        join_side, on=key_columns, how="left_semi"
                    )
                    .select("_src_file")
                    .distinct()
                    .limit(cap + 1)
                    .collect()
                ]
                if len(affected) > cap:
                    large_update = True  # scattered after all → merge
            if not large_update and not affected:
                # no target rows match — nothing to rewrite, but the
                # no-match contract must not depend on routing: the
                # full-merge path below advances the watermark in the
                # same situation (its left join simply updates zero
                # rows), so advance here too. Updates whose keys are
                # absent from the target are consumed, not retried —
                # matching the reference's ALTER UPDATE, which is a
                # no-op for keys failing dictHas().
                if wm_col and new_mark is not None:
                    sync_state.set_watermark(spec.schema, spec.name, wm_col, new_mark)
                return n_upd
        if not part_cols and not large_update:
            subset = store.read_files(spec.schema, spec.name, affected)
            merged = subset.join(join_side, on=key_columns, how="left")
            for f in fields:
                merged = merged.withColumn(f, F.coalesce(F.col(f"__upd_{f}"), F.col(f)))
            merged = merged.drop(*[f"__upd_{f}" for f in fields]).select(*subset.columns)
            _capture_plan(merged)
            store.replace_files(spec.schema, spec.name, affected, merged)
        else:
            # the full-table frame is built ONLY on this branch — on a
            # million-file table the pruned path must never pay the
            # driver-side source listing of every file (r12). One
            # manifest read feeds the frame, the Bloom carry-over AND
            # the publish-time CAS base (r13): a commit landing while
            # the merge runs makes the write fail loudly instead of
            # silently discarding its rows.
            mfull = store._manifest(spec.schema, spec.name)
            target = store._df_for_manifest(
                mfull, store._tdir(spec.schema, spec.name)
            )
            merged = target.join(join_side, on=key_columns, how="left")
            for f in fields:
                merged = merged.withColumn(f, F.coalesce(F.col(f"__upd_{f}"), F.col(f)))
            merged = merged.drop(*[f"__upd_{f}" for f in fields]).select(*target.columns)
            _capture_plan(merged)
            store.write(
                spec.schema,
                spec.name,
                merged,
                partition_by=part_cols or None,
                # maintenance rewrite, not DDL: keep the Bloom index
                bloom_columns=mfull.get("bloom_columns") or [],
                _expect_base=mfull.get("_base"),
            )
        if wm_col and new_mark is not None:
            # advance the high-water mark only after a successful write
            sync_state.set_watermark(spec.schema, spec.name, wm_col, new_mark)
    finally:
        upd_renamed.unpersist()
    return n_upd


def apply_operation(
    store: TableStore,
    spec: TableSpec,
    source: DataFrame,
    key_columns: list[str] | None = None,
) -> int:
    """Dispatch ≡ ``task/TaskLogic.scala:285-348``. Returns copied/affected rows."""
    if spec.operation is Operation.RECREATE:
        return op_recreate(store, spec, source)
    if spec.operation is Operation.APPEND_WHERE:
        return op_append_where(store, spec, source)
    if spec.operation is Operation.APPEND_BY_MAX:
        return op_append_bymax(store, spec, source)
    if spec.operation is Operation.APPEND_NOT_IN:
        return op_append_notin(store, spec, source)
    if spec.operation is Operation.UPDATE:
        if not key_columns:
            raise ValueError("update requires key_columns (reference: table primary key)")
        return op_update(store, spec, source, key_columns)
    raise ValueError(f"unknown operation {spec.operation}")
