"""Per-layer tracing for the benchmark's traced runs.

Everything here observes the engine from outside: timing wrappers
around public functions (`catalog.load_table`, `heroql.parser.parse`,
`HeroQL.run`, `DataFrame.localCheckpoint`/`checkpoint`), Spark's
scheduler and status store read over py4j, Catalyst's phase tracker on
the returned plan, and a `StreamingQueryListener`. Nothing under
`herodb_spark/` is modified on disk; the wrappers are installed in
memory for the traced process only.

Each op call gets one record (a dict of metric -> value). Additive
metrics sum over the ops of a pass; `spark.exec.max_over_median_task`
takes the maximum.
"""

from __future__ import annotations

import functools
import sys
import threading
import time

#: per-op metrics, in the order the table prints them
OP_METRICS = [
    "catalog.load_s",
    "operators.call_s",
    "operators.call_jobs",
    "session.checkpoints",
    "session.checkpoint_s",
    "heroql.parse_ms",
    "heroql.run_s",
    "streaming.batches",
    "streaming.batch_ms",
    "spark.catalyst.analysis_ms",
    "spark.catalyst.optimization_ms",
    "spark.catalyst.planning_ms",
    "spark.exec.jobs",
    "spark.exec.stages",
    "spark.exec.tasks",
    "spark.exec.task_run_s",
    "spark.exec.shuffle_read_mb",
    "spark.exec.shuffle_write_mb",
    "spark.exec.spill_mb",
    "spark.exec.gc_s",
    "spark.exec.max_over_median_task",
    "database.stage_s",
    "database.publish_ms",
    "database.bytes_written_mb",
    "database.write_amp",
    "database.occ_retries",
    "database.read_resolve_ms",
    "database.live_files",
    "database.maintenance_s",
]
MAX_METRICS = {"spark.exec.max_over_median_task"}
_MB = 1024.0 * 1024.0
#: skew is judged only on stages with enough tasks for a median to mean something
_SKEW_MIN_TASKS = 4


class Tracer:
    """Collects one metric record per op call while `enabled` is set.

    Wrappers stay installed for the whole process; they only count
    while the tracer is enabled, so untraced passes of a traced run
    pay one attribute check per wrapped call."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self._lock = threading.Lock()
        self._cur: dict | None = None
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._gw = spark.sparkContext._gateway
        # a job that reuses an earlier shuffle lists its stage again
        # (skipped); its task metrics belong to the op that ran it first
        self._seen_stages: set[int] = set()

    # -- wrappers ----------------------------------------------------------
    def note(self, key: str, value: float) -> None:
        """Add `value` to the current op's record (no-op outside one)."""
        with self._lock:
            if self._cur is not None:
                self._cur[key] = self._cur.get(key, 0.0) + value

    def _timed(self, fn, key: str | None, scale: float = 1.0, count_key: str | None = None):
        """`fn` wrapped to add its wall time (x `scale`) under `key` and
        one call under `count_key`."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if key:
                    tracer.note(key, (time.perf_counter() - t0) * scale)
                if count_key:
                    tracer.note(count_key, 1)

        return wrapper

    def install(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from herodb_spark import catalog
        from herodb_spark.heroql import compiler, parser
        from herodb_spark.sources import database

        load = catalog.load_table
        wrapped_load = self._timed(load, "catalog.load_s")
        # operator modules bind load_table at import; rebind every copy
        for name, mod in list(sys.modules.items()):
            if name.split(".")[0] in ("herodb_spark", "__spark_entry__"):
                if getattr(mod, "load_table", None) is load:
                    mod.load_table = wrapped_load
        parser.parse = self._timed(parser.parse, "heroql.parse_ms", 1000.0)
        compiler.HeroQL.run = self._timed(compiler.HeroQL.run, "heroql.run_s")
        df_cls = type(self.spark.range(1))
        for meth in ("localCheckpoint", "checkpoint"):
            setattr(df_cls, meth, self._timed(
                getattr(df_cls, meth), "session.checkpoint_s", count_key="session.checkpoints"))
        database.Transaction._rebase = self._timed(
            database.Transaction._rebase, None, count_key="database.occ_retries")

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.enabled:
                    d = event.progress.durationMs
                    tracer.note("streaming.batches", 1)
                    tracer.note("streaming.batch_ms", sum(
                        d.get(k, 0) for k in ("addBatch", "queryPlanning", "walCommit")))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Listener())

    # -- per-op records ----------------------------------------------------
    def jobs_submitted(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        """Deliver every queued listener event. Streaming progress reaches
        the listener asynchronously, after the query that made it."""
        self._sc.listenerBus().waitUntilEmpty()

    def begin(self) -> dict:
        # progress of an earlier, untraced op must not land in this record
        self.drain()
        rec = {"_job0": self.jobs_submitted()}
        with self._lock:
            self._cur = rec
        return rec

    def after_call(self, rec: dict, df) -> None:
        """Between the operator call and execution: jobs the call ran
        eagerly, and Catalyst's phases on the returned plan (planning
        is forced here so the tracker records it)."""
        rec["operators.call_jobs"] = self.jobs_submitted() - rec["_job0"]
        if df is None:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                rec[f"spark.catalyst.{phase}_ms"] = float(phases.apply(phase).durationMs())

    def end(self, rec: dict) -> None:
        self.drain()  # the op's own progress, while its record is open
        with self._lock:
            self._cur = None
        rec["_job1"] = self.jobs_submitted()

    def collect_exec(self, records: list[dict]) -> None:
        """Fill the spark.exec.* metrics of finished op records from the
        status store (run outside the timed pass)."""
        from py4j.protocol import Py4JJavaError

        self.drain()
        qs = self._gw.new_array(self._gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        for rec in records:
            stages: set[int] = set()
            n_jobs = 0
            for jid in range(rec["_job0"], rec["_job1"]):
                try:
                    job = self._store.job(jid)
                except Py4JJavaError:  # not in the store's retention window
                    continue
                n_jobs += 1
                it = job.stageIds().iterator()
                while it.hasNext():
                    stages.add(int(it.next()))
            stages -= self._seen_stages
            self._seen_stages |= stages
            tasks = run_ms = gc_ms = rd = wr = spill = 0.0
            skew = 0.0
            for sid in sorted(stages):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # not in the store's retention window
                    continue
                n = st.numCompleteTasks()
                tasks += n
                run_ms += st.executorRunTime()
                gc_ms += st.jvmGcTime()
                rd += st.shuffleReadBytes()
                wr += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if n >= _SKEW_MIN_TASKS:
                    summ = self._store.taskSummary(sid, st.attemptId(), qs)
                    if summ.isDefined():
                        er = summ.get().executorRunTime()
                        med, mx = er.apply(0), er.apply(1)
                        if med > 0:
                            skew = max(skew, mx / med)
            rec.update({
                "spark.exec.jobs": n_jobs,
                "spark.exec.stages": len(stages),
                "spark.exec.tasks": tasks,
                "spark.exec.task_run_s": run_ms / 1000.0,
                "spark.exec.gc_s": gc_ms / 1000.0,
                "spark.exec.shuffle_read_mb": rd / _MB,
                "spark.exec.shuffle_write_mb": wr / _MB,
                "spark.exec.spill_mb": spill / _MB,
                "spark.exec.max_over_median_task": skew,
            })


def pass_totals(records: list[dict]) -> dict:
    """One pass's per-layer values from its op records."""
    out = {}
    for key in OP_METRICS:
        vals = [r.get(key, 0.0) for r in records]
        out[key] = max(vals, default=0.0) if key in MAX_METRICS else sum(vals)
    return out
