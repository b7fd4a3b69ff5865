"""Phased parallel task execution (P1/P2/P4/P6).

Reference behavior (``task/TaskLogic.scala:285-363``):
- tables with operation ≠ update run in parallel at ``degree - 1``
  workers when ``degree > 3``, else sequentially;
- update operations always run as a second, serialized phase;
- a forked fiber polls progress every 5 s (``:201-207``);
- one in-flight task at a time (single-flight guard,
  ``server/WServer.scala:38-52``);
- errors are captured into the run log with state='error'
  (``:58-76``).

Spark notes: parallel table loads are independent jobs on one
SparkSession — the FAIR scheduler interleaves their stages across the
executor pool, which is the cluster-correct analogue of the
reference's per-table fibers each holding a pooled JDBC connection.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ora_ch_spark.operators.load_ops import apply_operation
from ora_ch_spark.runlog import RunLog, State
from ora_ch_spark.session import overlap
from ora_ch_spark.specs import Operation, TableSpec, TaskSpec
from ora_ch_spark.store import TableStore


class TaskAlreadyRunning(RuntimeError):
    """Single-flight guard (server/WServer.scala:38-52)."""


class TaskScheduler:
    PROGRESS_POLL_SEC = 5.0  # task/TaskLogic.scala:56-57,202-203

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        runlog: RunLog | None = None,
        source_loader: Callable[[TableSpec], DataFrame] | None = None,
        staging_cleanup: Callable[[TableSpec], None] | None = None,
    ):
        """``staging_cleanup`` implements S11
        (``clr_ora_table_aft_upd`` — ``ora/jdbcSession.scala:581-590``,
        gated ``task/TaskLogic.scala:88-91``): called after a
        successful update for specs with the flag set, to clear the
        source-side staging table (a JDBC DELETE in production)."""
        self.spark = spark
        self.store = store
        self.runlog = runlog or RunLog()
        self.source_loader = source_loader
        self.staging_cleanup = staging_cleanup
        self._busy = threading.Lock()

    def run_task(
        self,
        task: TaskSpec,
        sources: dict[str, DataFrame] | None = None,
        key_columns: dict[str, list[str]] | None = None,
        validate_golden: bool = False,
    ) -> dict[str, int]:
        """Execute a task; returns {table_full_name: copied_rows}."""
        if not self._busy.acquire(blocking=False):
            raise TaskAlreadyRunning(
                "Server is busy: look at tables ora_to_ch_tasks/ora_to_ch_tasks_tables"
            )
        try:
            task_id = self.runlog.create_task()
            self.runlog.set_task_state(task_id, State.EXECUTING)
            results: dict[str, int] = {}

            def load_source(spec: TableSpec) -> DataFrame:
                if sources and spec.source_name in sources:
                    return sources[spec.source_name]
                if sources and spec.name in sources:
                    return sources[spec.name]
                if self.source_loader:
                    return self.source_loader(spec)
                raise KeyError(f"no source for {spec.full_name}")

            def run_one(spec: TableSpec) -> tuple[str, int]:
                run = self.runlog.begin_table(task_id, spec.schema, spec.name, spec.operation.value)
                try:
                    if self.store.table_exists(spec.schema, spec.name):
                        run.base_count = self.store.row_count(spec.schema, spec.name)
                except Exception:
                    pass
                self.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", f"table-{spec.name}"
                )
                try:
                    n = apply_operation(
                        self.store, spec, load_source(spec),
                        key_columns=(key_columns or {}).get(spec.name),
                    )
                    if validate_golden and spec.operation is Operation.RECREATE:
                        # golden count/sum reconciliation after full
                        # copies — the reference's own validation method
                        # (v_cache_for_calc_6184_4626.txt:2-4)
                        from ora_ch_spark.operators.load_ops import shape_source
                        from ora_ch_spark.validate import reconcile

                        reconcile(
                            shape_source(load_source(spec), spec),
                            self.store.read(spec.schema, spec.name),
                            label=spec.full_name,
                        )
                    if (
                        spec.operation is Operation.UPDATE
                        and spec.clr_ora_table_aft_upd
                        and self.staging_cleanup is not None
                    ):
                        # S11: clear the source staging table after a
                        # successful keyed update
                        self.staging_cleanup(spec)
                    self.runlog.finish_table(run, n)
                    return spec.full_name, n
                except Exception as e:
                    self.runlog.table_error(run, repr(e))
                    raise
                finally:
                    self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

            # phase 1: non-update ops, parallel per degree semantics
            phase1 = [t for t in task.tables if t.operation is not Operation.UPDATE]
            phase2 = [t for t in task.tables if t.operation is Operation.UPDATE]
            stop_monitor = threading.Event()
            monitor = threading.Thread(
                target=self._progress_monitor,
                args=(stop_monitor, phase1 + phase2),
                daemon=True,
            )
            monitor.start()
            try:
                results.update(overlap(
                    self.spark, *(lambda t=t: run_one(t) for t in phase1),
                    workers=task.effective_parallelism,
                ))
                # phase 2: updates, serialized after all appends
                # (task/TaskLogic.scala:319-348)
                results.update(run_one(t) for t in phase2)
            finally:
                stop_monitor.set()
            self.runlog.finish_task(task_id)
            return results
        except Exception as e:
            self.runlog.task_error(task_id, repr(e))
            raise
        finally:
            self._busy.release()

    def _progress_monitor(self, stop: threading.Event, specs: list[TableSpec]) -> None:
        """5-second progress poll (P2). ``store.row_count`` is a pure
        manifest read (per-file footer counts summed at commit time) —
        the poll schedules ZERO Spark jobs, exactly the role of the
        reference's ``system.tables.total_rows`` probe
        (``jdbsChSession.scala:206-220``); a count() per table per
        tick would be a job storm at cluster scale."""
        while not stop.wait(self.PROGRESS_POLL_SEC):
            for spec in specs:
                try:
                    if self.store.table_exists(spec.schema, spec.name):
                        n = self.store.row_count(spec.schema, spec.name)
                        for run in list(self.runlog.tables):
                            if (run.schema, run.table) == (spec.schema, spec.name) and run.end_ts is None:
                                # progress = rows beyond the pre-op count
                                self.runlog.table_progress(run, max(0, n - run.base_count))
                except Exception:
                    pass  # progress is best-effort, like the reference's fiber
