"""Per-op work profiles read from Spark's in-process status stores.

The benchmark tags each op's Spark work with ``setJobGroup`` (one group
for the public call, one for the action that materialises its result)
and, after the listener bus drains, reads what Spark recorded for
those groups: jobs, stages, tasks, executor time and bytes from the
core status store, files read and written from the SQL status store.
Both stores are kept with ``spark.ui.enabled=false``. Nothing in the
engine is changed or patched; every number is observed from outside.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# counts that repeat exactly for the same inputs and code; time and
# compressed byte sizes are left out because they move with the box
# and with row order after a shuffle
FINGERPRINT_KEYS = (
    "jobs", "stages", "tasks", "input_records", "shuffle_records",
    "output_records", "files_written", "rows_out",
)


# executor seconds above which a stage is heavy: well above a task's
# fixed cost (~10-50 ms) at these input sizes
HEAVY_S = 0.25


@dataclass
class StageInfo:
    stage_id: int
    num_tasks: int
    run_s: float
    cpu_s: float
    task_run_s: list[float] = field(default_factory=list)
    task_dur_s: list[float] = field(default_factory=list)
    failed_tasks: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


def heavy_stage(stages: list[StageInfo]) -> StageInfo | None:
    """The stage holding the most executor run time."""
    return max(stages, key=lambda s: s.run_s, default=None)


def flag_underfanned(stages: list[StageInfo], default_parallelism: int, min_run_s: float = HEAVY_S) -> bool:
    """True for the under-fanned shape: the op's heavy stage does real
    work (at least ``min_run_s`` of executor time) in one task while
    the session could run ``default_parallelism`` tasks at once."""
    h = heavy_stage(stages)
    return h is not None and default_parallelism > 1 and h.num_tasks == 1 and h.run_s >= min_run_s


def max_task_share(stage: StageInfo | None) -> float:
    """The largest task's share of the stage's executor run time."""
    if stage is None or not stage.task_run_s or sum(stage.task_run_s) <= 0:
        return 0.0
    return max(stage.task_run_s) / sum(stage.task_run_s)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class StatusReader:
    """Reads job, stage and task data for job groups from the stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def persisted(self) -> set[int]:
        """Ids of the RDDs currently registered as persisted."""
        return {int(i) for i in self.sc._jsc.getPersistentRDDs().keySet()}

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs_by_group(self, prefix: str) -> dict[str, list]:
        """Job data of every group starting with ``prefix``."""
        out: dict[str, list] = {}
        seq = self.jsc.statusStore().jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            g = _opt(j.jobGroup())
            if g is not None and g.startswith(prefix):
                out.setdefault(g, []).append(j)
        return out

    def stage(self, stage_id: int) -> StageInfo | None:
        store = self.jsc.statusStore()
        try:
            s = store.lastStageAttempt(stage_id)
        except Exception:  # evicted or never submitted
            return None
        if s.status().toString() == "SKIPPED":
            return None
        info = StageInfo(
            stage_id=stage_id,
            num_tasks=s.numTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            failed_tasks=s.numFailedTasks(),
            input_bytes=s.inputBytes(),
            input_records=s.inputRecords(),
            output_bytes=s.outputBytes(),
            output_records=s.outputRecords(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            shuffle_records=s.shuffleWriteRecords(),
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            gc_s=s.jvmGcTime() / 1e3,
        )
        tasks = store.taskList(stage_id, s.attemptId(), 100_000)
        for k in range(tasks.size()):
            t = tasks.apply(k)
            m = _opt(t.taskMetrics())
            info.task_dur_s.append(_opt(t.duration(), 0) / 1e3)
            info.task_run_s.append(m.executorRunTime() / 1e3 if m is not None else 0.0)
        return info

    def sql_counts(self, job_ids: set[int], after_exec: int) -> tuple[dict[int, dict[str, int]], int]:
        """Files read and written per job id, from the SQL plan metrics
        of executions newer than ``after_exec``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        seq = store.executionsList()
        out: dict[int, dict[str, int]] = {}
        last = after_exec
        for i in range(seq.size()):
            e = seq.apply(i)
            eid = e.executionId()
            last = max(last, eid)
            if eid <= after_exec:
                continue
            jobs = [int(x) for x in e.jobs().keySet().toString().strip("Set()").split(",") if x.strip()]
            mine = [j for j in jobs if j in job_ids]
            if not mine:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            counts = {"files_read": 0, "files_written": 0}
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    key = {"number of files read": "files_read",
                           "number of written files": "files_written"}.get(m.name())
                    if key:
                        v = _opt(values.get(m.accumulatorId()))
                        if v:
                            counts[key] += int(str(v).replace(",", "").split()[0])
            out[mine[0]] = counts
        return out, last


@dataclass
class OpProfile:
    name: str
    kind: str
    layers: tuple[str, ...]
    wall_s: float
    build_s: float
    act_s: float
    lazy: bool
    rows_out: int
    leaked: int
    spec_s: float = 0.0
    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    task_wait_s: float = 0.0
    gc_s: float = 0.0
    driver_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    files_read: int = 0
    files_written: int = 0
    scan_stages: int = 0
    write_tasks: int = 0
    heavy_tasks: int = 0
    heavy_run_s: float = 0.0
    max_task_share: float = 0.0
    underfanned: bool = False

    def fingerprint(self) -> dict[str, int]:
        return {k: int(getattr(self, k)) for k in FINGERPRINT_KEYS}


class Tracer:
    """Tags ops with job groups and profiles them after a pass."""

    def __init__(self, spark, run_tag: str):
        self.reader = StatusReader(spark)
        self.parallelism = spark.sparkContext.defaultParallelism
        self.run_tag = run_tag
        self.last_exec = -1
        self.pending: list[tuple[str, dict]] = []

    def group(self, op_id: str, phase: str) -> None:
        self.reader.set_group(f"{self.run_tag}/{op_id}/{phase}")

    def clear_group(self) -> None:
        self.reader.set_group(None)

    def persisted(self) -> set[int]:
        return self.reader.persisted()

    def record(self, op_id: str, span: dict) -> None:
        self.pending.append((op_id, span))

    def profiles(self) -> list[OpProfile]:
        """Profile every op recorded since the last call."""
        r = self.reader
        r.drain()
        groups = r.jobs_by_group(f"{self.run_tag}/")
        all_ids = {j.jobId() for js in groups.values() for j in js}
        sql, self.last_exec = r.sql_counts(all_ids, self.last_exec)
        out = []
        for op_id, span in self.pending:
            build = groups.get(f"{self.run_tag}/{op_id}/build", [])
            act = groups.get(f"{self.run_tag}/{op_id}/act", [])
            p = OpProfile(
                name=span["name"], kind=span["kind"], layers=span["layers"],
                wall_s=span["t2"] - span["t0"], build_s=span["t1"] - span["t0"],
                act_s=span["t2"] - span["t1"], lazy=span["lazy"],
                rows_out=span["rows_out"], leaked=span["leaked"], spec_s=span["spec_s"],
                jobs=len(build) + len(act), build_jobs=len(build),
            )
            stages: list[StageInfo] = []
            intervals = []
            for j in build + act:
                sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
                if sub is not None and done is not None:
                    intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
                for c in sql.get(j.jobId(), {}).items():
                    setattr(p, c[0], getattr(p, c[0]) + c[1])
                ids = j.stageIds()
                for k in range(ids.size()):
                    s = r.stage(ids.apply(k))
                    if s is not None:
                        stages.append(s)
            p.driver_s = p.wall_s - covered_s(intervals, span["t0"], span["t2"])
            p.stages = len(stages)
            for s in stages:
                p.tasks += s.num_tasks
                p.failed_tasks += s.failed_tasks
                p.cpu_s += s.cpu_s
                p.run_s += s.run_s
                p.task_wait_s += max(0.0, sum(s.task_dur_s) - sum(s.task_run_s))
                p.gc_s += s.gc_s
                p.input_bytes += s.input_bytes
                p.input_records += s.input_records
                p.output_bytes += s.output_bytes
                p.output_records += s.output_records
                p.shuffle_write_bytes += s.shuffle_write_bytes
                p.shuffle_records += s.shuffle_records
                p.spill_bytes += s.spill_bytes
                p.scan_stages += s.input_bytes > 0
                p.write_tasks += s.num_tasks if s.output_bytes > 0 else 0
            h = heavy_stage(stages)
            if h is not None:
                p.heavy_tasks, p.heavy_run_s = h.num_tasks, h.run_s
                p.max_task_share = max_task_share(h)
            p.underfanned = flag_underfanned(stages, self.parallelism)
            out.append(p)
        self.pending = []
        return out
