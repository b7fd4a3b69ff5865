"""Physical-plan regression tests — the plans PLANS.md documents are
contractual: pushdown must reach the scans, dimension joins must
broadcast, aggregation must be partial-before-exchange. A regression
here is a scale regression even when results stay correct."""

from __future__ import annotations

import pytest

from ora_ch_spark.catalog import flagship_star, q1_pricing_summary
from ora_ch_spark.io import load_table
from ora_ch_spark.operators import dedup as D


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_minimal_plan(spark, sf_correct):
    p = _plan(q1_pricing_summary(spark, sf_correct))
    assert p.count("Exchange") == 1, "q1 must shuffle exactly once (on the group keys)"
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "partial_sum" in p, "map-side partial aggregation missing"
    # filter pushed into the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: unused wide columns never read
    assert "l_comment" not in p and "ReadSchema" in p


def test_flagship_broadcasts_all_dimensions(spark, sf_correct):
    p = _plan(flagship_star(spark, sf_correct))
    assert p.count("BroadcastHashJoin") >= 5, "dimension joins must broadcast"
    assert p.count("SortMergeJoin") == 0, "no sort-merge at this scale"
    assert "LeftSemi" in p, "IN-subquery must compile to a semi join"
    assert "LeftOuter" in p, "left join with extra ON predicate"
    # segment filter pushed to the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_append_notin_is_anti_join(spark, sf_correct):
    import tempfile

    from ora_ch_spark.operators.load_ops import shape_source
    from ora_ch_spark.specs import Operation, TableSpec
    from ora_ch_spark.store import TableStore

    store = TableStore(spark, tempfile.mkdtemp(prefix="plan_notin_"))
    li = load_table(spark, sf_correct, "lineitem")
    store.create_database("ch")
    store.write("ch", "t", li.filter("l_linenumber = 1"))
    spec = TableSpec(
        schema="ch", name="t", operation=Operation.APPEND_NOT_IN,
        sync_by_columns=("l_orderkey", "l_linenumber"),
    )
    existing = store.read("ch", "t").select("l_orderkey", "l_linenumber")
    fresh = shape_source(li, spec).join(
        existing, on=["l_orderkey", "l_linenumber"], how="left_anti"
    )
    assert "LeftAnti" in _plan(fresh)


def test_minhash_no_cartesian(spark, sf_correct):
    docs = load_table(spark, sf_correct, "documents")
    p = _plan(D.minhash_lsh_dedup(docs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (
        "near-dedup must never degenerate to an all-pairs join"
    )


def test_bucketed_join_has_no_shuffle(spark, sf_correct, tmp_path):
    """bucketing.py: same-bucketed tables join without any Exchange —
    the co-located join the reference can't express at all."""
    from pyspark.sql import functions as F

    from ora_ch_spark.bucketing import colocated_join, write_bucketed

    # (spark.sql.warehouse.dir is static — managed tables land in the
    # session's default warehouse; DROP TABLE below cleans them up)
    li = load_table(spark, sf_correct, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_correct, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", ["l_orderkey"], n_buckets=8)
    write_bucketed(orders, "b_orders", ["l_orderkey"], n_buckets=8)
    # disable broadcast so the join strategy question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_lineitem", "b_orders", on=["l_orderkey"])
        p = _plan(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join must not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_colocated_join_rejects_mismatched_buckets(spark, sf_correct):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ora_ch_spark.bucketing import colocated_join, write_bucketed

    li = load_table(spark, sf_correct, "lineitem").select("l_orderkey", "l_quantity").limit(100)
    o = load_table(spark, sf_correct, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    ).limit(100)
    write_bucketed(li, "mb_li", ["l_orderkey"], n_buckets=8)
    write_bucketed(o, "mb_o", ["l_orderkey"], n_buckets=4)
    try:
        with _pytest.raises(ValueError, match="identical bucket specs"):
            colocated_join(spark, "mb_li", "mb_o", on=["l_orderkey"])
    finally:
        spark.sql("DROP TABLE IF EXISTS mb_li")
        spark.sql("DROP TABLE IF EXISTS mb_o")


def test_progress_monitor_schedules_zero_spark_jobs(spark, sf_smoke, monkeypatch):
    """P2 at cluster scale (VERDICT r01 #5): the 5 s progress poll
    must read manifest metadata only — no count()/collect() jobs."""
    import tempfile
    import threading
    import time as _time

    from pyspark.sql import DataFrame

    from ora_ch_spark.io import load_table
    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import Operation, TableSpec
    from ora_ch_spark.store import TableStore

    store = TableStore(spark, tempfile.mkdtemp(prefix="progress_"))
    store.create_database("ch")
    store.write("ch", "t", load_table(spark, sf_smoke, "region"))
    sched = TaskScheduler(spark, store)
    tid = sched.runlog.create_task()
    run = sched.runlog.begin_table(tid, "ch", "t", "recreate")
    run.base_count = 2

    actions = []
    monkeypatch.setattr(DataFrame, "count", lambda self: actions.append("count"))
    monkeypatch.setattr(DataFrame, "collect", lambda self: actions.append("collect"))
    monkeypatch.setattr(TaskScheduler, "PROGRESS_POLL_SEC", 0.05)
    stop = threading.Event()
    spec = TableSpec(schema="ch", name="t", operation=Operation.RECREATE)
    t = threading.Thread(target=sched._progress_monitor, args=(stop, [spec]), daemon=True)
    t.start()
    _time.sleep(0.5)
    stop.set()
    t.join(timeout=5)
    assert run.copied_records_count == 3  # 5 rows - base 2: progress DID update
    assert actions == []  # and no Spark action ever ran


def test_decontaminate_broadcasts_benchmark(spark, sf_correct):
    """The benchmark n-gram set must be the broadcast (build) side —
    eval sets are MBs against a TB corpus; a shuffled join here would
    move the whole corpus' n-grams."""
    docs = load_table(spark, sf_correct, "documents")
    df = D.decontaminate(
        docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0"), n=4
    )
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p, "benchmark side must broadcast"
    # doc-id benchmark/scan split pushed into both parquet scans
    assert p.count("PushedFilters") >= 2


def test_jaccard_length_filter_prunes_before_array_join(spark, sf_correct):
    """The set-similarity length filter must sit BELOW the gram-array
    joins in the plan (pruned pairs never shuffle arrays): the
    least/greatest size predicate appears in a Filter whose subtree
    contains no 'grams'/'sharr' column."""
    docs = load_table(spark, sf_correct, "documents")
    p = _plan(D.char_ngram_jaccard_dedup(docs))
    assert "least(" in p and "greatest(" in p, "length filter missing from plan"
    # the jaccard threshold filter still guards the final output
    assert "array_intersect" in p


def test_topk_per_group_gets_window_group_limit(spark, sf_correct):
    """Catalyst's WindowGroupLimit must appear in BOTH Partial (map
    side, before the shuffle) and Final mode for the rank-filter
    pattern — at scale the partial limit is what keeps the shuffle at
    k rows per group per partition instead of the whole input."""
    from ora_ch_spark.operators.sampling import topk_per_group

    docs = load_table(spark, sf_correct, "documents")
    p = _plan(topk_per_group(docs.select("doc_id", "lang", "n_chars"), 5,
                             order_col="n_chars"))
    assert "WindowGroupLimit" in p
    assert "Partial" in p and "Final" in p


def test_semdedup_shuffles_on_cluster_key_only(spark, sf_correct):
    """The pair join must be an equi-join on the cluster id (shuffle
    or broadcast), never a cartesian product, and the kmeans centroids
    must broadcast into the assignment step."""
    from ora_ch_spark.io import load_table as lt
    from ora_ch_spark.operators.cluster import semdedup

    emb = lt(spark, sf_correct, "embeddings")
    p = _plan(semdedup(emb, k=8))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_scd2_single_join_and_history_passthrough(spark, sf_correct):
    """One join on the dimension key; closed history unions through
    without joining (its branch contains no join operator)."""
    from ora_ch_spark.catalog_ext import scd2_merge_q

    spark.catalog.clearCache()
    p = _plan(scd2_merge_q(spark, sf_correct))
    assert "CartesianProduct" not in p
    # the persisted full-outer join feeds all three branches (closed /
    # carried / inserted) through InMemoryTableScan — it executes once;
    # every FullOuter string sits inside a cached-relation description
    assert p.count("InMemoryTableScan") == 3
    lines = p.splitlines()
    live_joins = [
        l for i, l in enumerate(lines)
        if "FullOuter" in l
        and not any("InMemoryRelation" in x for x in lines[max(0, i - 12):i])
    ]
    assert not live_joins


def test_editdistance_and_contrastive_no_cartesian(spark, sf_correct):
    """editdistance_pairs joins on the deletion-neighborhood key and
    mine_contrastive_pairs on bucket/id keys — equi-joins throughout,
    never an all-pairs product."""
    from pyspark.sql import functions as SF

    from ora_ch_spark.io import load_table
    from ora_ch_spark.operators.dedup import editdistance_pairs
    from ora_ch_spark.operators.mining import mine_contrastive_pairs

    docs = load_table(spark, sf_correct, "documents").withColumn(
        "title", SF.expr("substring(text, 1, 24)")
    )
    p = _plan(editdistance_pairs(docs, "doc_id", "title"))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    emb = load_table(spark, sf_correct, "embeddings")
    p2 = _plan(mine_contrastive_pairs(emb, k_neg=2))
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2


def test_sq8_broadcast_scan_shape(spark, sf_correct):
    """sq8_topk is ONE corpus scan against broadcast queries: the
    query side must broadcast (never a CartesianProduct against a
    shuffled side), and the only wide exchange is the final per-query
    rank window — encode/decode are map-side projections."""
    from ora_ch_spark.io import load_table
    from ora_ch_spark.operators.pq import sq8_topk

    emb = load_table(spark, sf_correct, "embeddings")
    p = _plan(sq8_topk(emb, query_ids=emb.filter("vec_id < 10")))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_rag_composite_no_cartesian_and_broadcast_routing(spark, sf_correct):
    """rag_chunk_topk: the query×seed probes are broadcast nested
    loops over a 16-row side (never a CartesianProduct), the
    candidate join is an equi-join on the list key, and the scored
    frame reaching the rank window is the narrow (no-array)
    projection."""
    from ora_ch_spark.io import load_table
    from ora_ch_spark.operators.pipeline import rag_chunk_topk

    p = _plan(rag_chunk_topk(load_table(spark, sf_correct, "documents")))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "centroid" in p  # candidate equi-join key


def test_ivfadc_candidates_before_adc_lookup(spark, sf_correct):
    """ivfadc_topk: no cartesian anywhere; the per-query distance
    tables join broadcast; the window input carries no embedding
    arrays."""
    from ora_ch_spark.io import load_table
    from ora_ch_spark.operators.pq import ivfadc_topk

    emb = load_table(spark, sf_correct, "embeddings")
    p = _plan(ivfadc_topk(emb, query_ids=emb.filter("vec_id < 10")))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2  # dt lookup + routing joins


def test_asof_sql_single_hash_join(spark, sf_correct):
    """The ASOF JOIN clause rewrite must compile to ONE equi-hash
    join with the interval bounds as join filters — never a
    range-only BroadcastNestedLoopJoin or cartesian (the trap every
    naive as-of SQL falls into)."""
    from ora_ch_spark.catalog_ext import calc_asof_sql_q

    p = _plan(calc_asof_sql_q(spark, sf_correct))
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # the window that builds the adjacent-ts column partitions on the
    # equality key — one exchange for it, not per-left-row work
    assert "lead(" in p or "lead#" in p or "windowspecdefinition" in p.lower()


def test_array_join_keeps_scan_pruning(spark, sf_correct):
    """The ARRAY JOIN clause rewrite (position-exploded LATERAL VIEW)
    must not break filter pushdown or column pruning on the source
    scan: p_partkey <= 100 reaches PushedFilters, and untouched wide
    columns never read."""
    from ora_ch_spark.catalog_ext import calc_dialect5_q

    p = _plan(calc_dialect5_q(spark, sf_correct))
    assert "PushedFilters: [IsNotNull(p_partkey), LessThanOrEqual(p_partkey,100)" in p
    assert "p_retailprice" not in p, "unused column must be pruned through the explode"
    assert "Generate explode" in p or "Generate posexplode" in p


def test_gopher_rules_is_pure_projection(spark, sf_correct):
    """The Gopher filter must stay map-side: no Exchange at all —
    every rule is a per-row expression over the scan, and column
    pruning keeps unused doc columns out of the read."""
    from ora_ch_spark.operators.text import gopher_rules

    p = _plan(gopher_rules(load_table(spark, sf_correct, "documents")))
    assert "Exchange" not in p, "rule filter must not shuffle"
    assert "ReadSchema" in p and "source" not in p.split("ReadSchema")[1][:200]


def test_c4_line_filter_partial_aggs_no_cartesian(spark, sf_correct):
    """C4 filter: page flags and counts aggregate partially before
    their exchanges; no cartesian/BNLJ anywhere (the page-verdict
    joins are keyed)."""
    from ora_ch_spark.operators.lines import c4_line_filter, chunk_lines

    lines = chunk_lines(load_table(spark, sf_correct, "documents"),
                        tokens_per_line=12)
    p = _plan(c4_line_filter(lines))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p, "page/line counts must combine map-side"


def test_dsir_bucket_ratio_is_broadcast(spark, sf_correct):
    """DSIR scoring: the bounded bucket-ratio table must BROADCAST
    back onto the doc-bucket counts (a sort-merge there would shuffle
    the whole gram frame a second time); no cartesian products."""
    from ora_ch_spark.operators.sampling import dsir_importance

    df = dsir_importance(
        load_table(spark, sf_correct, "documents"),
        "source IN ('src1', 'src2', 'src3')",
    )
    p = _plan(df)
    assert "BroadcastHashJoin" in p, "bucket ratio join must broadcast"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dsir_target_broadcast_is_gated(spark, sf_correct, monkeypatch):
    """The target-slice semi-join broadcast is COUNT-GATED, not a
    blind hint (a permissive target_filter at 100 TB would OOM
    executors under a forced broadcast). With the threshold forced to
    0 the large-slice path must plan WITHOUT the target hint — the
    analyzed plan carries exactly one broadcast hint (the bounded
    bucket-ratio table) instead of two — and the result values must
    not change."""
    import ora_ch_spark.operators.load_ops as load_ops
    from ora_ch_spark.operators.sampling import dsir_importance

    docs = load_table(spark, sf_correct, "documents")

    def n_hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast"
        )

    gated = dsir_importance(docs, "source = 'src1'")
    assert n_hints(gated) == 2, "small slice: target + ratio hints"
    monkeypatch.setattr(load_ops, "BROADCAST_UPDATES_MAX_ROWS", 0)
    ungated = dsir_importance(docs, "source = 'src1'")
    assert n_hints(ungated) == 1, "large slice: only the ratio hint"
    a = {r["doc_id"]: r["score"]
         for r in gated.filter("doc_id < 50").collect()}
    b = {r["doc_id"]: r["score"]
         for r in ungated.filter("doc_id < 50").collect()}
    assert a.keys() == b.keys() and a
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


def test_tpch_suite_plans_have_no_cartesians(spark, sf_correct):
    """The 19 stored-CH-SQL TPC-H entries (catalog_tpch.py) must all
    plan without cartesian products or nested-loop joins — the
    correlated EXISTS / NOT EXISTS / scalar subqueries must decorrelate
    into hash joins (Catalyst rewrites them to semi/anti/aggregate
    joins), and the comma joins must resolve to equi-joins from the
    WHERE clause. At 100 TB a BNLJ on any of these shapes is a
    non-starter."""
    from ora_ch_spark.catalog_tpch import TPCH_QUERIES, WINDOW_QUERIES

    for q in TPCH_QUERIES + WINDOW_QUERIES:
        p = _plan(q.spark(spark, sf_correct))
        assert "CartesianProduct" not in p, q.name
        assert "BroadcastNestedLoopJoin" not in p, q.name


def test_tpch_q6_pushdown(spark, sf_correct):
    """Q6 is the pushdown canary: the date/discount/quantity filters
    must reach the parquet scan, and the single-value aggregate must
    partial-combine map-side."""
    from ora_ch_spark.catalog_tpch import TPCH_QUERIES

    q6 = next(q for q in TPCH_QUERIES if q.name == "q6_revenue_change")
    p = _plan(q6.spark(spark, sf_correct))
    assert "PushedFilters:" in p and "l_shipdate" in p.split("PushedFilters:")[1][:200]
    assert "partial" in p, "map-side partial aggregation missing"
    assert "Exchange" in p  # one final single-partition gather


def test_tpch_param_splice_binds_typed_literals(spark, sf_correct):
    """q3 (String) / q20 (UInt32) run through the SAME bind_params
    contract as the reference's stored calc queries
    (jdbsChSession.scala:712-743): the placeholder must be gone from
    the translated text and an undeclared param must bind to the
    ***** sentinel, not raise."""
    from ora_ch_spark.functions.params import bind_params
    from ora_ch_spark.specs import ParamType, QueryParam
    import ora_ch_spark.catalog_tpch as T

    bound = bind_params(T._Q3_CH, (QueryParam("seg", ParamType.STRING, 1),),
                        {"seg": "BUILDING"})
    assert "{seg:String}" not in bound and "'BUILDING'" in bound
    bound20 = bind_params(T._Q20_CH, (QueryParam("minq", ParamType.UINT32, 1),),
                          {"minq": "400"})
    assert "> 400" in bound20
    assert "*****" in bind_params(T._Q3_CH, (), {})


# ---------------------------------------------------------------------------
# /task schedule: per-table chains instead of a global update phase
# ---------------------------------------------------------------------------


def _task_store(spark, prefix: str):
    import tempfile

    from ora_ch_spark.store import TableStore

    store = TableStore(spark, tempfile.mkdtemp(prefix=prefix))
    store.create_database("ch")
    return store


def _kv(spark, n: int, v: int = 0):
    """Rows ``k`` in [0, n) with a constant ``v``."""
    return spark.range(0, n).selectExpr("id AS k", f"CAST({v} AS BIGINT) AS v")


def _v_by_k(store, name: str) -> dict[int, int]:
    return {r.k: r.v for r in store.read("ch", name).collect()}


def _op(name: str, op, src: str, **kw):
    from ora_ch_spark.specs import TableSpec

    return TableSpec(schema="ch", name=name, operation=op, src_table_full_name=src, **kw)


def _upd(name: str, src: str, **kw):
    from ora_ch_spark.specs import Operation

    return _op(name, Operation.UPDATE, src, update_fields=("v",), **kw)


def test_table_chains_group_ops_per_table():
    """Same-target ops share a chain in declared order; an update joins
    the chains of its table, its staging table and the ops reading its
    table; everything else runs on a chain of its own."""
    from ora_ch_spark.plans.scheduler import table_chains
    from ora_ch_spark.specs import Operation

    R = Operation.RECREATE
    # the etl_sync cycle's shape: the update rides with its table's append
    cycle = [_op("customer", R, "src.customer"),
             _op("orders", Operation.APPEND_BY_MAX, "src.orders", sync_by_column_max="k"),
             _op("lineitem", R, "src.lineitem"),
             _op("events", R, "src.events"),
             _upd("orders", "src.orders_upd")]
    assert table_chains(cycle) == [[0], [1, 4], [2], [3]]
    # staging load and a reader of the updated table merge into one chain
    ops = [_op("a_stg", R, "src.a"), _op("x", R, "src.x"), _op("a_copy", R, "ch.a"),
           _upd("a", "ch.a_stg"), _upd("y", "src.y")]
    assert table_chains(ops) == [[0, 2, 3], [1], [4]]
    # a task without updates or shared targets: one chain per op
    assert table_chains(ops[:3]) == [[0], [1], [2]]
    # an update that clears its staging table waits for its other readers
    shared = [_op("s_copy", R, "stg.s"), _upd("s", "stg.s", clr_ora_table_aft_upd=True)]
    assert table_chains(shared) == [[0, 1]]
    assert table_chains([shared[0], _upd("s", "stg.s")]) == [[0], [1]]


def test_update_starts_when_its_own_loads_finish(spark):
    """Degree 4: table ``a``'s update (and its staging cleanup) runs
    while an unrelated table is still loading, instead of waiting for
    every load of the task."""
    import threading

    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import Operation, TaskSpec

    store = _task_store(spark, "chain_early_")
    cleaned = threading.Event()
    seen: list[bool] = []

    def loader(spec):
        if spec.name == "x":
            seen.append(cleaned.wait(10))
        return {"src.a": _kv(spark, 20), "stg.a": _kv(spark, 5, v=7),
                "src.x": _kv(spark, 3)}[spec.source_name]

    sched = TaskScheduler(spark, store, source_loader=loader,
                          staging_cleanup=lambda spec: cleaned.set())
    task = TaskSpec(tables=(
        _op("a", Operation.RECREATE, "src.a"),
        _op("x", Operation.RECREATE, "src.x"),
        _upd("a", "stg.a", clr_ora_table_aft_upd=True),
    ), degree=4)
    res = sched.run_task(task, key_columns={"a": ["k"]})
    assert seen == [True]
    assert res == {"ch.a": 5, "ch.x": 3}
    assert _v_by_k(store, "a") == {k: 7 if k < 5 else 0 for k in range(20)}


def test_update_reads_staging_loaded_in_same_task(spark):
    """Stage-then-update: the update's source is a store table that a
    (slow) recreate of the same task writes; the update sees its rows."""
    import time

    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import Operation, TaskSpec

    store = _task_store(spark, "chain_stage_")
    store.write("ch", "b", _kv(spark, 10))
    store.write("ch", "b_stg", _kv(spark, 4, v=1))  # last run's staging rows

    def loader(spec):
        if spec.source_name == "src.b_stg":
            time.sleep(0.5)
            return _kv(spark, 4, v=9)
        return store.read("ch", "b_stg")

    sched = TaskScheduler(spark, store, source_loader=loader)
    task = TaskSpec(tables=(
        _upd("b", "ch.b_stg"),
        _op("b_stg", Operation.RECREATE, "src.b_stg"),
    ), degree=4)
    sched.run_task(task, key_columns={"b": ["k"]})
    assert _v_by_k(store, "b") == {k: 9 if k < 4 else 0 for k in range(10)}


def test_reader_of_updated_table_sees_pre_update_rows(spark):
    """A non-update op copying the table an update rewrites runs before
    the update, as in the reference's two phases. Were the update to
    run alongside, the copy would wait for it to finish (its staging
    cleanup signals it), so a wrong schedule fails here every time."""
    import threading
    import time

    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import Operation, TaskSpec

    store = _task_store(spark, "chain_reader_")
    store.write("ch", "c", _kv(spark, 10))
    updated = threading.Event()

    def loader(spec):
        if spec.name == "c_copy":
            time.sleep(0.2)  # a concurrent update has begun by now
            if any(r.operation == "update" for r in sched.runlog.tables):
                updated.wait(30)
            return store.read("ch", "c")
        return _kv(spark, 3, v=5)

    sched = TaskScheduler(spark, store, source_loader=loader,
                          staging_cleanup=lambda spec: updated.set())
    task = TaskSpec(tables=(
        _upd("c", "stg.c", clr_ora_table_aft_upd=True),
        _op("c_copy", Operation.RECREATE, "ch.c"),
    ), degree=4)
    sched.run_task(task, key_columns={"c": ["k"]})
    assert _v_by_k(store, "c_copy") == {k: 0 for k in range(10)}
    assert _v_by_k(store, "c") == {k: 5 if k < 3 else 0 for k in range(10)}


def test_ops_on_one_target_run_in_declared_order(spark):
    """Two non-update ops on one table never overlap: the slow recreate
    finishes before the watermark append that follows it starts."""
    import time

    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import Operation, TaskSpec

    store = _task_store(spark, "chain_order_")
    calls: list[Operation] = []

    def loader(spec):
        if spec.name != "d":
            return _kv(spark, 2)
        calls.append(spec.operation)
        if spec.operation is Operation.RECREATE:
            time.sleep(0.5)
            return _kv(spark, 10)
        return _kv(spark, 15)

    sched = TaskScheduler(spark, store, source_loader=loader)
    task = TaskSpec(tables=(
        _op("d", Operation.RECREATE, "src.d0"),
        _op("d", Operation.APPEND_BY_MAX, "src.d1", sync_by_column_max="k"),
        _op("e", Operation.RECREATE, "src.e"),
    ), degree=4)
    res = sched.run_task(task)
    assert calls == [Operation.RECREATE, Operation.APPEND_BY_MAX]
    assert res == {"ch.d": 5, "ch.e": 2}
    assert store.row_count("ch", "d") == 15


def test_failed_load_stops_only_its_own_chain(spark):
    """A failing load of ``b``: the task ends Error and re-raises it,
    ``b``'s update never runs, and ``a``'s chain (update included)
    still finishes."""
    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.runlog import State
    from ora_ch_spark.specs import Operation, TaskSpec

    store = _task_store(spark, "chain_fail_")
    store.write("ch", "b", _kv(spark, 10))
    loads: list[tuple[str, Operation]] = []

    def loader(spec):
        loads.append((spec.name, spec.operation))
        if spec.source_name == "src.b":
            raise RuntimeError("source of b is down")
        return {"src.a": _kv(spark, 10), "stg.a": _kv(spark, 2, v=3),
                "stg.b": _kv(spark, 2, v=3)}[spec.source_name]

    sched = TaskScheduler(spark, store, source_loader=loader)
    task = TaskSpec(tables=(
        _op("a", Operation.RECREATE, "src.a"),
        _op("b", Operation.RECREATE, "src.b"),
        _upd("a", "stg.a"),
        _upd("b", "stg.b"),
    ), degree=4)
    with pytest.raises(RuntimeError, match="source of b is down"):
        sched.run_task(task, key_columns={"a": ["k"], "b": ["k"]})
    assert [t.state for t in sched.runlog.tasks.values()] == [State.ERROR]
    assert ("b", Operation.UPDATE) not in loads
    states = {(r.table, r.operation): r.state for r in sched.runlog.tables}
    assert states == {("a", "recreate"): "finished_recreate", ("b", "recreate"): "error",
                      ("a", "update"): "finished_update"}
    assert _v_by_k(store, "a") == {k: 3 if k < 2 else 0 for k in range(10)}
    assert _v_by_k(store, "b") == {k: 0 for k in range(10)}


def test_update_count_replaces_append_count(spark):
    """Results come in declared order with updates last: the update's
    count replaces its table's append count (``GET /state`` and the
    etl_sync check read it so)."""
    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import Operation, TaskSpec

    store = _task_store(spark, "chain_count_")
    store.write("ch", "f", _kv(spark, 10))
    srcs = {"src.f": _kv(spark, 13), "stg.f": _kv(spark, 2, v=4), "src.g": _kv(spark, 5)}
    sched = TaskScheduler(spark, store, source_loader=lambda spec: srcs[spec.source_name])
    task = TaskSpec(tables=(
        _upd("f", "stg.f"),
        _op("f", Operation.APPEND_BY_MAX, "src.f", sync_by_column_max="k"),
        _op("g", Operation.RECREATE, "src.g"),
    ), degree=4)
    res = sched.run_task(task, key_columns={"f": ["k"]})
    assert list(res.items()) == [("ch.f", 2), ("ch.g", 5)]
    assert store.row_count("ch", "f") == 13


def test_run_task_keeps_callers_scheduler_pool(spark):
    """Ops run inline on the caller's thread (degree ≤ 3) and restore the
    caller's scheduler pool instead of clearing it."""
    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import Operation, TaskSpec

    store = _task_store(spark, "chain_pool_")
    sched = TaskScheduler(spark, store, source_loader=lambda spec: _kv(spark, 3))
    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "p")
    try:
        sched.run_task(TaskSpec(tables=(_op("p", Operation.RECREATE, "src.p"),), degree=2))
        assert sc.getLocalProperty("spark.scheduler.pool") == "p"
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def test_update_job_count_guard(spark):
    """One ``op_update`` on a small unpartitioned table: the update set's
    count and key range come from one probe action, so the whole update
    runs in at most 8 Spark jobs (10 when they were two actions)."""
    from ora_ch_spark.operators.load_ops import op_update

    store = _task_store(spark, "upd_jobs_")
    store.write("ch", "j", _kv(spark, 1000))
    spec = _upd("j", "stg.j")
    updates = _kv(spark, 10, v=-1)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    sc.setJobGroup("upd-jobs", "op_update job count")
    try:
        assert op_update(store, spec, updates, ["k"]) == 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("upd-jobs")
    assert len(jobs) <= 8
    assert _v_by_k(store, "j") == {k: -1 if k < 10 else 0 for k in range(1000)}


def test_chain_schedule_under_thread_stress(spark, monkeypatch):
    """Degree 12 (11 workers on fewer cores), a short switch interval and
    a stand-in for the load ops: never more than 11 ops at once, never
    two on one table, each table's ops in order, every count returned;
    a failure stops only its own table's chain and is the one raised."""
    import sys
    import threading
    import time

    from ora_ch_spark.plans import scheduler as S
    from ora_ch_spark.specs import Operation, TaskSpec

    lock = threading.Lock()
    running: set[str] = set()
    clashes: list[str] = []
    peak = [0]
    done: list[tuple[str, Operation]] = []

    def fake_apply(store, spec, source, key_columns=None):
        with lock:
            if spec.full_name in running:
                clashes.append(spec.full_name)
            running.add(spec.full_name)
            peak[0] = max(peak[0], len(running))
        time.sleep(0.002)
        with lock:
            running.discard(spec.full_name)
            done.append((spec.full_name, spec.operation))
        if source == "down":
            raise RuntimeError(f"{spec.full_name} is down")
        return 1 + len(spec.name) + (spec.operation is Operation.UPDATE)

    class NoTables:
        def table_exists(self, schema, name):
            return False

    monkeypatch.setattr(S, "apply_operation", fake_apply)
    names = [f"t{i:02d}" for i in range(16)]
    tables = [_op(n, Operation.RECREATE, f"src.{n}") for n in names]
    tables += [_op(n, Operation.APPEND_BY_MAX, f"src.{n}", sync_by_column_max="k") for n in names]
    tables += [_upd(n, f"stg.{n}") for n in names[::2]] + [_upd(f"u{i}", "stg.u") for i in range(4)]
    order = [t for t in tables if t.operation is not Operation.UPDATE]
    order += [t for t in tables if t.operation is Operation.UPDATE]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        sched = S.TaskScheduler(spark, NoTables(), source_loader=lambda spec: "up")
        res = sched.run_task(TaskSpec(tables=tuple(tables), degree=12))
        assert clashes == [] and 1 < peak[0] <= 11
        for name in {t.full_name for t in tables}:
            assert [op for n, op in done if n == name] == [
                t.operation for t in order if t.full_name == name]
        want = {}
        for t in order:
            want[t.full_name] = 1 + len(t.name) + (t.operation is Operation.UPDATE)
        assert list(res.items()) == list(want.items())

        done.clear()
        sched.source_loader = lambda spec: "down" if spec.name in ("t03", "t08") else "up"
        with pytest.raises(RuntimeError, match="ch.t03 is down"):
            sched.run_task(TaskSpec(tables=tuple(tables), degree=12))
        assert clashes == []
        assert [op for n, op in done if n == "ch.t08"] == [Operation.RECREATE]
        assert [op for n, op in done if n == "ch.t02"] == [
            Operation.RECREATE, Operation.APPEND_BY_MAX, Operation.UPDATE]
    finally:
        sys.setswitchinterval(old)
