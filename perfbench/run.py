"""The repo benchmark: seeded closed-loop workloads over the engine.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 5 --trace 0

One client sends the next op only after the previous one returns.
Set-up (input generation from the seed, opening the engine, a first
read of every input) runs three times and ``setup_s`` is its median;
one untimed warm-up pass of the op sequence on the same inputs follows.
Then whole passes of the workload's fixed op sequence run until
``--seconds`` have passed (at least one; three when tracing: plain,
traced, plain).
Correctness checks run after the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
plain and traced passes and prints per-layer metrics from Spark's
status stores, plus the tracing overhead; its artifact carries a work
fingerprint per op. Artifacts go to ``.perfbench/artifacts/``. The
last stdout line is one JSON object: correct, attempted, failed and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPS = 3
WARM_PASSES = 1


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n); the maximum when there are ten or fewer."""
    xs, n = sorted(samples), len(samples)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - 11 if n > 10 else n - 1
    return xs[i], 100.0 * (i + 1) / n, n


def _ticks(stat: str) -> int:
    """User plus system clock ticks from a /proc stat file."""
    try:
        with open(stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])
    except (OSError, IndexError, ValueError):
        return 0


def cpu_s() -> float:
    """CPU seconds used so far by this process and its children (the
    JVM and the Python workers), less what their JIT compiler threads
    used: compiling is warm-up work, and how much of it lands in a
    timed pass varies from run to run by a third of the pass's CPU."""
    total = 0
    for p in ProcTree.tree(os.getpid()):
        total += _ticks(f"/proc/{p}/stat")
        try:
            threads = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in threads:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    jit = "CompilerThre" in f.read()
            except OSError:
                continue
            if jit:
                total -= _ticks(f"/proc/{p}/task/{t}/stat")
    return total / os.sysconf("SC_CLK_TCK")


class ProcTree:
    """Peak resident set of this process and its children, sampled in a
    thread, in MB."""

    def __init__(self, period: float = 0.1):
        self.period, self.peak = period, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for t in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        kb = sum(self._rss_kb(p) for p in self.tree(os.getpid()))
        self.peak = max(self.peak, kb / 1024.0)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()


def run_pass(w, k: int, tracer=None) -> dict:
    """One pass of the workload's op sequence; per-op latency, bytes
    added to the targets and the results of read ops."""
    from workloads import du

    ops = w.ops(k)
    res = {"lat": [], "outputs": {}, "failed": 0, "added": 0, "changed": 0,
           "changed_rows": 0, "targets": set(), "attempted": len(ops), "ops": []}
    for i, op in enumerate(ops):
        before = {d: du(d) for d in op.targets}
        op_id = f"p{k}.{i}.{op.name}"
        p0: set[int] = set()
        if tracer is not None:
            p0 = tracer.persisted()
            tracer.group(op_id, "build")
        t0 = time.time()
        try:
            spec = op.spec() if op.spec else None
            ts = time.time()
            x = op.build(spec)
            t1 = time.time()
            if tracer is not None:
                tracer.group(op_id, "act")
            y = op.act(x) if op.act else x
            t2 = time.time()
        except Exception:
            log(f"op {op_id} failed:\n{traceback.format_exc()}")
            res["failed"] += 1
            if tracer is not None:
                tracer.clear_group()
            continue
        if tracer is not None:
            tracer.clear_group()
            rows = len(y) if hasattr(y, "__len__") else (1 if y is not None else 0)
            tracer.record(op_id, {
                "name": op.name, "kind": op.kind, "layers": op.layers, "t0": t0,
                "t1": t1, "t2": t2, "spec_s": ts - t0, "lazy": op.act is not None,
                "rows_out": rows, "leaked": len(tracer.persisted() - p0),
            })
        res["lat"].append((op.kind, t2 - t0))
        res["ops"].append((op.name, t2 - t0))
        if op.kind == "read":
            res["outputs"][op.name] = y
        for d in op.targets:
            res["added"] += max(0, du(d) - before[d])
            res["targets"].add(d)
        res["changed"] += op.changed_bytes
        res["changed_rows"] += op.changed_rows
    res["wall"] = sum(t for _, t in res["lat"])
    return res


def best_wall(passes: list[dict]) -> float:
    """The op sequence's wall time with every op at its fastest over the
    passes ("best of n", as timeit reports): a stall in one pass does
    not move it, a slower op in every pass does."""
    return sum(min(t for _, t in op) for op in zip(*(r["ops"] for r in passes)))


def commits(spark, dirs) -> int:
    from etl_cli_spark.operators.writeops import ParquetTable

    return sum(len(ParquetTable(spark, d).versions()) for d in dirs if os.path.isdir(d))


def layer_metrics(profs, cores: int, extra: dict) -> dict[str, float]:
    """Roll one traced pass's op profiles up into per-layer metrics."""
    from spark_trace import HEAVY_S

    def s(attr, ps=None):
        return float(sum(getattr(p, attr) for p in (profs if ps is None else ps)))

    def layer(name):
        return [p for p in profs if name in p.layers]

    def mean(attr, ps):
        return s(attr, ps) / len(ps) if ps else 0.0

    lazy = [p for p in profs if p.lazy]
    reads = [p for p in profs if p.kind == "read"]
    writes = layer("writeops")
    heavy = [p for p in profs if p.heavy_run_s >= HEAVY_S]
    dedup = layer("dedup")
    wall = s("wall_s")
    return {
        "spark.jobs": s("jobs"),
        "spark.stages": s("stages"),
        "spark.tasks": s("tasks"),
        "spark.failed_tasks": s("failed_tasks"),
        "spark.executor_cpu_s": s("cpu_s"),
        "spark.cpu_util": s("cpu_s") / (wall * cores) if wall else 0.0,
        "spark.driver_s": s("driver_s"),
        "spark.task_wait_s": s("task_wait_s"),
        "spark.shuffle_write_bytes": s("shuffle_write_bytes"),
        "spark.spill_bytes": s("spill_bytes"),
        "spark.gc_s": s("gc_s"),
        "spark.leaked_cached": s("leaked"),
        "spec.compile_s": s("spec_s"),
        "engine.build_s": s("build_s", lazy),
        "engine.action_s": s("act_s", lazy),
        "engine.eager_jobs": s("build_jobs", lazy),
        "sources.input_bytes": s("input_bytes"),
        "sources.files_read": s("files_read"),
        "sources.bytes_per_row_out": s("input_bytes", reads) / max(1.0, s("rows_out", reads)),
        "merger.s": s("wall_s", layer("merger")),
        "merger.shuffle_bytes": s("shuffle_write_bytes", layer("merger")),
        "writeops.s": s("wall_s", writes),
        "writeops.bytes_written": s("output_bytes", writes),
        "writeops.files_written": s("files_written", writes),
        "writeops.rewrite_tasks": s("write_tasks", writes),
        "writeops.rows_rewritten_per_row_changed":
            s("output_records", writes) / extra["changed_rows"] if extra["changed_rows"] else 0.0,
        "commitlog.commits": float(extra["commits"]),
        "incremental.drain_s": mean("wall_s", layer("incremental")),
        "incremental.jobs_per_drain": mean("jobs", layer("incremental")),
        "metrics.poll_s": mean("wall_s", layer("metrics")),
        "fanout.heavy_stage_tasks": float(min((p.heavy_tasks for p in heavy), default=0)),
        "fanout.max_task_share": max((p.max_task_share for p in heavy), default=0.0),
        "fanout.underfanned_ops": float(sum(p.underfanned for p in profs)),
        "text.s": s("wall_s", layer("text")),
        "text.cpu_s": s("cpu_s", layer("text")),
        "text.doc_scans": s("scan_stages", layer("quality")),
        "dedup.s": s("wall_s", dedup),
        "dedup.shuffle_bytes": s("shuffle_write_bytes", dedup),
        "dedup.dup_rate": (
            sum(1 - p.rows_out / extra["corpus_rows"] for p in dedup) / len(dedup)
            if dedup and extra["corpus_rows"] else 0.0
        ),
        "similarity.s": s("wall_s", layer("similarity")),
        "similarity.cpu_s": s("cpu_s", layer("similarity")),
    }


def declared_metrics(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path[:0] = [HERE, REPO]
    try:
        from etl_cli_spark import get_spark
        import __spark_entry__  # noqa: F401  (the corpus ops and their twins)
        from workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the engine from {REPO}: {e}")
        return 2
    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(REPO, ".perfbench", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case an import already cached the default
    # every JVM of the run (the launcher too) would otherwise keep a
    # perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData".strip()

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    t = time.time()
    spark = get_spark(
        app_name=f"perfbench-{a.workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            # compiler threads stay alive, so their CPU can be left out
            # of cpu_s (a thread that exits takes its count with it)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_s = time.time() - t
    try:
        return bench(a, spark, work, cores, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def bench(a, spark, work: str, cores: int, session_s: float) -> int:
    from spark_trace import Tracer
    from workloads import WORKLOADS, compact_bytes, du, to_arrow

    cls = WORKLOADS[a.workload]
    setup, setup_wall = [], []
    for r in range(SETUP_REPS):
        root = os.path.join(work, f"in{r}")
        t, c = time.time(), cpu_s()
        w = cls(spark, root, a.seed)
        w.generate()
        w.eng = w.engine()
        for name in w.tables():
            w.eng.read(name).count()
        setup.append(cpu_s() - c)
        setup_wall.append(time.time() - t)
        input_bytes = du(root)
        if r < SETUP_REPS - 1:
            shutil.rmtree(root)
    # warm-up: an untimed pass of the same ops on the same inputs, so JIT,
    # Spark code generation and Python worker start-up are done before the
    # timed region; a second warm-up pass moves the next pass's CPU by
    # less than 5%
    t = time.time()
    warm_runs = []
    for k in range(1, WARM_PASSES + 1):
        if k > 1:
            w.drop_pass(k - 1)
        c0 = cpu_s()
        warm_runs.append(run_pass(w, k))
        warm_runs[-1]["cpu"] = cpu_s() - c0
    warmup_s = time.time() - t

    tracer = Tracer(spark, f"bench-{a.seed}") if a.trace else None
    passes, traced = [], []
    first_outputs = None
    t_start = time.time()
    with ProcTree() as proc:
        k = WARM_PASSES + 1
        min_passes = 3 if tracer is not None else 1
        while len(passes) + len(traced) < min_passes or time.time() - t_start < a.seconds:
            w.drop_pass(k - 1)
            on = tracer is not None and (len(passes) + len(traced)) % 2 == 1
            c0 = cpu_s()
            r = run_pass(w, k, tracer if on else None)
            r["cpu"] = cpu_s() - c0
            r["k"] = k
            if on:
                r["profiles"] = tracer.profiles()
                r["commits"] = commits(spark, r["targets"])
                traced.append(r)
            else:
                passes.append(r)
            if first_outputs is None:
                first_outputs = r["outputs"]
            k += 1
    last = k - 1
    timed_s = time.time() - t_start

    checks = w.checks(first_outputs, last)
    for c in checks:
        log(f"check {c.name}: {'ok' if c.ok else 'FAIL ' + c.detail}")
    live = w.live_tables(last)
    live_bytes = sum(compact_bytes(to_arrow(df)) for _, df in live)
    space_amp = sum(du(d) for d, _ in live) / max(1, live_bytes)

    runs = warm_runs + passes + traced
    attempted = sum(r["attempted"] for r in runs) + len(checks)
    failed = sum(r["failed"] for r in runs) + sum(not c.ok for c in checks)
    correct = bool(checks) and failed == 0
    reads = [t for r in passes for kind, t in r["lat"] if kind == "read"]
    writes = [t for r in passes for kind, t in r["lat"] if kind == "write"]
    r_tail, w_tail = tail(reads), tail(writes)
    write_amp = statistics.median(r["added"] / (r["changed"] or live_bytes) for r in passes)
    e2e = {
        "setup_s": statistics.median(setup),
        "cpu_s": min(r["cpu"] for r in passes),
        "write_amp": write_amp,
        "space_amp": space_amp,
    }
    # wall time, latency distribution and memory: in the artifact, not
    # bounded (host steal moves wall time by up to 1.8x between phases of
    # a few minutes, and a run has one sample per op; see METRICS.md)
    latency = {
        "wall_s": best_wall(passes),
        "read_p50_s": statistics.median(reads),
        "read_tail_s": r_tail[0],
        "write_p50_s": statistics.median(writes),
        "write_tail_s": w_tail[0],
        "peak_rss_mb": proc.peak,
    }
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "input_bytes": input_bytes, "session_s": session_s, "setup_reps_cpu_s": setup, "setup_reps_wall_s": setup_wall, "warmup_s": warmup_s,
        "warmup_failed": sum(r["failed"] for r in warm_runs), "timed_s": timed_s,
        "passes": len(passes), "traced_passes": len(traced),
        "pass_walls_s": [r["wall"] for r in passes],
        "pass_cpu_s": [r["cpu"] for r in passes],
        "op_latency_s": [r["ops"] for r in passes],
        "warm_op_latency_s": [r["ops"] for r in warm_runs],
        "warm_cpu_s": [r["cpu"] for r in warm_runs],
        "read_tail": {"percentile": r_tail[1], "n": r_tail[2]},
        "write_tail": {"percentile": w_tail[1], "n": w_tail[2]},
        "checks": [c.__dict__ for c in checks],
        "error_rate": failed / attempted,
        "end_to_end": e2e,
        "latency": latency,
    }
    if a.trace:
        extra = {"changed_rows": 0, "commits": 0, "corpus_rows": getattr(w, "n_docs", 0)}
        per = []
        for r in traced:
            extra.update(changed_rows=r["changed_rows"], commits=r["commits"])
            per.append(layer_metrics(r["profiles"], cores, extra))
        metrics = {k: statistics.median(m[k] for m in per) for k in per[0]}
        metrics["trace.overhead_s"] = (
            statistics.median(r["wall"] for r in traced) - statistics.median(r["wall"] for r in passes)
        )
        first = traced[0]["profiles"]
        artifact["ops"] = [p.__dict__ | {"fingerprint": p.fingerprint()} for p in first]
        artifact["fingerprint"] = [[p.name, p.fingerprint()] for p in first]
        artifact["per_layer"] = metrics
        values = metrics
    else:
        values = e2e
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    out = {k: {"value": values[k], "unit": u} for k, u in declared.items()}
    adir = os.path.join(os.path.dirname(work), "artifacts")
    os.makedirs(adir, exist_ok=True)
    path = os.path.join(adir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    log(f"artifact: {path}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
