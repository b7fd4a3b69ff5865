"""Per-table parallel task execution (P1/P2/P4/P6).

Reference behavior (``task/TaskLogic.scala:285-363``):
- tables with operation ≠ update run in parallel at ``degree - 1``
  workers when ``degree > 3``, else sequentially;
- update operations run after all of them, as a serialized second
  phase (``:319-348``);
- a forked fiber polls progress every 5 s (``:201-207``);
- one in-flight task at a time (single-flight guard,
  ``server/WServer.scala:38-52``);
- errors are captured into the run log with state='error'
  (``:58-76``).

The update ordering matters only per table: an update mutates its own
table from its own staging rows (SURVEY §2.2 O5). So instead of a
global barrier the task is cut into per-table chains
(``table_chains``): ops on one table, the update's staging table, or
reading the updated table share a chain and run in order, and the
chains run side by side at the same ``degree - 1`` workers. An update
no longer waits for the slowest unrelated load.

Deliberate difference from the reference: when a non-update op fails,
the reference runs no update at all; here an update in another chain
may already have committed. The task still ends ``Error`` and re-raises
the first failure in result order. Updates are keyed overwrites whose
watermark advances only after a successful write, so a rerun converges.

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


def _waits_for(earlier: TableSpec, op: TableSpec) -> bool:
    """Must ``op`` run after ``earlier``, an op before it in result order?

    Non-update ops wait only for earlier ops on their own target. An
    update also waits for loads of its staging table, for ops that read
    the table it rewrites (they must see the pre-update rows) and, when
    either of them clears that staging table afterwards (S11), for ops
    reading the same staging table."""
    if op.operation is not Operation.UPDATE:
        return earlier.full_name == op.full_name
    return (
        earlier.full_name in (op.full_name, op.source_name)
        or earlier.source_name == op.full_name
        or (earlier.source_name == op.source_name and (_clears(op) or _clears(earlier)))
    )


def _clears(spec: TableSpec) -> bool:
    return spec.operation is Operation.UPDATE and spec.clr_ora_table_aft_upd


def table_chains(ordered: list[TableSpec]) -> list[list[int]]:
    """Cut ``ordered`` (non-update ops, then updates, each in declared
    order) into chains of indices. An op joins every chain holding an
    op it waits for, merging them; otherwise it starts its own. Each
    chain keeps ``ordered``'s order, and chains are listed by their
    first op, so a task without updates or shared targets gets one
    chain per op in declared order."""
    chains: list[list[int]] = []
    for i, op in enumerate(ordered):
        hit = [c for c in chains if any(_waits_for(ordered[j], op) for j in c)]
        chains = [c for c in chains if not any(c is h for h in hit)]
        chains.append(sorted(j for c in hit for j in c) + [i])
    return sorted(chains)


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
                sc = self.spark.sparkContext
                prior_pool = sc.getLocalProperty("spark.scheduler.pool")
                sc.setLocalProperty("spark.scheduler.pool", f"table-{spec.name}")
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
                    # an op run inline must not wipe the caller's pool
                    sc.setLocalProperty("spark.scheduler.pool", prior_pool)

            # result order: non-update ops, then updates (the
            # reference's two phases, task/TaskLogic.scala:319-348);
            # an update's count replaces its table's append count
            ordered = [t for t in task.tables if t.operation is not Operation.UPDATE]
            ordered += [t for t in task.tables if t.operation is Operation.UPDATE]
            failed: dict[int, Exception] = {}

            def run_chain(chain: list[int]) -> list[tuple[int, tuple[str, int]]]:
                done = []
                for i in chain:
                    try:
                        done.append((i, run_one(ordered[i])))
                    except Exception as e:
                        failed[i] = e
                        raise  # the rest of this chain does not run
                return done

            stop_monitor = threading.Event()
            monitor = threading.Thread(
                target=self._progress_monitor,
                args=(stop_monitor, ordered),
                daemon=True,
            )
            monitor.start()
            try:
                # chains, not phases: at most degree-1 ops at once, and
                # an update starts when its own table's loads finish
                done = overlap(
                    self.spark, *(lambda c=c: run_chain(c) for c in table_chains(ordered)),
                    workers=task.effective_parallelism,
                )
            except Exception:
                if failed:
                    raise failed[min(failed)]
                raise
            finally:
                stop_monitor.set()
            results = dict(r for _, r in sorted(p for chain in done for p in chain))
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
