"""The engine's benchmark of record: one workload, one seed, one result.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Runs on ``local[<cores>]`` from the root of a checkout and prints, as the
last line of stdout, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for what each workload and
metric means. Exit status: 0 when every output checked out, 1 when an
op failed or an output was wrong (the result line is still printed), 2
when the run could not be made (no result line).

Load is a closed loop with one client: the op list runs sequentially on
the driver thread; Spark's task slots are the only parallelism.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # set-up is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1024 * 1024

def parse_args(argv, workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[{time.monotonic() - T0:7.2f}] {msg}", file=sys.stderr, flush=True)


class Stopwatch:
    """Accumulates time spent in excluded sections (input generation,
    output checks) so set-up can leave them out."""

    def __init__(self):
        self.total = 0.0

    @contextmanager
    def __call__(self):
        t = time.monotonic()
        try:
            yield
        finally:
            self.total += time.monotonic() - t


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def busy_seconds(jobs: list[dict], start: float, end: float) -> float:
    from spans import union_length

    ivs = []
    for j in jobs:
        s = (j.get("submissionTime") or 0) / 1000
        e = (j.get("completionTime") or 0) / 1000
        s, e = max(s, start), min(e, end)
        if e > s:
            ivs.append((s, e))
    return union_length(ivs)


class Run:
    def __init__(self, args, work: str):
        import workloads

        self.args = args
        self.work = work
        self.excluded = Stopwatch()
        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.tracer.install()  # before the catalog modules bind names
        self.wl = workloads.WORKLOADS[args.workload](args.seed, work)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.wrong: set = set()  # ops whose once-per-run check failed
        self.op_times: dict[str, list[float]] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self) -> float:
        from store import SparkStores, StoreReader

        from epe_data_wrangling_spark.session import cpu_count, get_spark

        with self.excluded():
            self.wl.generate()
        log("inputs generated")
        tmp = os.path.join(self.work, "tmp")
        t = time.monotonic()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # no hsperfdata file in the system temp dir
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.session_s = time.monotonic() - t
        log(f"session: {self.session_s:.2f}s")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = cpu_count()
        if self.tracer is not None:
            self.tracer.rebind()
        self.warm_up()
        # the read window starts after the warm-up
        self.reader = StoreReader(SparkStores(self.spark))
        return time.monotonic() - T0 - self.excluded.total

    def warm_up(self) -> None:
        """One untimed pass over the workload's ops. Catalog outputs are
        collected here and checked against their oracles (check time is
        excluded from set-up)."""
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        for op in self.wl.warm_pass():
            with self.excluded():
                self.wl.prepare(op)
            t = time.monotonic()
            try:
                output = self.wl.warm_op(self.spark, op)
                log(f"warm-up {op}: {time.monotonic() - t:.2f}s")
            except Exception:
                self.errors.append(f"warm-up of {op}: {traceback.format_exc(limit=3)}")
                self.wrong.add(op)
                continue
            with self.excluded():
                try:
                    self.wl.check_warm(op, output)
                except Exception:  # a check that cannot run is a failed check
                    self.errors.append(f"check of {op}: {traceback.format_exc(limit=3)}")
                    self.wrong.add(op)
        log(f"warm-up done; excluded from set-up: {self.excluded.total:.2f}s")

    # -- timed section ----------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """A harness-level span (``catalog.build``/``catalog.exec``)."""
        tr = self.tracer
        s = tr.open(name, name) if tr is not None and tr.enabled else None
        try:
            yield
        finally:
            if s is not None:
                tr.close(s)

    def run_pass(self, ops, traced_jobs: list | None = None) -> dict:
        """Run one pass; with ``traced_jobs`` the tracer records the ops
        (and only the ops) and their Spark jobs are appended there."""
        agg = dict.fromkeys(
            (
                "wall_s", "executor_cpu_s", "executor_run_s", "jvm_gc_s", "input_mb",
                "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "jobs",
                "stages", "tasks", "sql_executions", "job_idle_s", "py_cpu_s",
                "files_written", "bytes_written_mb",
            ),
            0.0,
        )
        for i, op in enumerate(ops):
            with self.excluded():
                self.wl.prepare(op)
            if self.tracer is not None:
                self.tracer.op = i
            self.attempted += 1
            if traced_jobs is not None:
                self.tracer.enabled = True
            cpu0, e0, t0 = time.process_time(), time.time(), time.perf_counter()
            try:
                self.wl.run_op(self.spark, op, self.span)
                ok = op not in self.wrong
            except Exception:
                ok = False
                self.errors.append(f"op {op}: {traceback.format_exc(limit=3)}")
            dur = time.perf_counter() - t0
            e1, cpu1 = time.time(), time.process_time()
            if self.tracer is not None:
                self.tracer.enabled = False
            d = self.reader.delta()
            log(f"op {op}: {dur:.2f}s, {len(d.jobs)} jobs, "
                f"executor cpu {d.total('executorCpuTime') / 1e9:.2f}s")
            if ok:
                try:
                    written = self.wl.check_op(op)
                except Exception:
                    ok = False
                    self.errors.append(f"check of {op}: {traceback.format_exc(limit=3)}")
                    written = {}
                agg["files_written"] += written.get("files", 0)
                agg["bytes_written_mb"] += written.get("bytes", 0) / MB
            self.failed += not ok
            if traced_jobs is not None:
                traced_jobs.extend(d.jobs)
            if traced_jobs is None:
                self.op_times.setdefault(str(op), []).append(dur)
            ran = [s for s in d.stages if s.get("status") != "SKIPPED"]
            agg["wall_s"] += dur
            agg["py_cpu_s"] += cpu1 - cpu0
            agg["job_idle_s"] += (e1 - e0) - busy_seconds(d.jobs, e0, e1)
            agg["executor_cpu_s"] += d.total("executorCpuTime") / 1e9
            agg["executor_run_s"] += d.total("executorRunTime") / 1e3
            agg["jvm_gc_s"] += d.total("jvmGcTime") / 1e3
            agg["input_mb"] += d.total("inputBytes") / MB
            agg["output_mb"] += d.total("outputBytes") / MB
            agg["shuffle_read_mb"] += d.total("shuffleReadBytes") / MB
            agg["shuffle_write_mb"] += d.total("shuffleWriteBytes") / MB
            agg["spill_mb"] += d.total("diskBytesSpilled") / MB
            agg["jobs"] += len(d.jobs)
            agg["stages"] += len(ran)
            agg["tasks"] += sum(s.get("numTasks") or 0 for s in ran)
            agg["sql_executions"] += d.sql_executions
        return agg

    def timed(self) -> list[dict]:
        """A fixed number of passes: ``--seconds`` over the workload's
        nominal pass time, at least three. The first pass after the
        warm-up is often the slowest, as the JIT is still compiling; the
        median of three or more leaves it out. Later passes run faster
        as the JIT warms, so a count that shrank on a slow host would
        move the median; a fixed count keeps runs comparable."""
        n = max(3, round(self.args.seconds / self.wl.pass_seconds))
        return [self.run_pass(self.wl.next_pass()) for _ in range(n)]

    # -- traced pass --------------------------------------------------------
    def traced(self) -> dict:
        from spans import attribute_jobs, self_times

        from pyspark.sql.streaming import StreamingQueryListener

        progress: list[dict] = []

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Progress()
        self.spark.streams.addListener(listener)
        sc = self.spark.sparkContext
        tags = [0]

        def tag(span_id):
            tags[0] += 1
            sc.setLocalProperty("spark.jobGroup.id", None if span_id is None else f"span-{span_id}")

        tr = self.tracer
        tr.tag = tag
        jobs: list[dict] = []
        tr.py4j_calls()
        try:
            p = self.run_pass(self.wl.next_pass(), traced_jobs=jobs)
        finally:
            calls = tr.py4j_calls()
            tr.tag = None
            self.spark.streams.removeListener(listener)
        p["py4j_calls"] = calls - tags[0]
        p["progress"] = progress
        p["self"] = self_times(tr.spans)
        os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
        tr.dump(
            os.path.join(
                ROOT, ".bench_work", "traces", f"{self.args.workload}-seed{self.args.seed}.json"
            ),
            attribute_jobs(tr.spans, jobs),
        )
        return p

    # -- metrics ------------------------------------------------------------
    def per_layer(self, passes: list[dict], tp: dict) -> dict[str, tuple[float, str]]:
        import workloads

        med = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
        m: dict[str, tuple[float, str]] = {"session.get_spark_s": (self.session_s, "s")}
        for q in workloads.QUERY_MIX:
            times = self.op_times.get(q)
            m[f"catalog.{q}_s"] = (statistics.median(times) if times else 0.0, "s")
        # self time by module, from the traced pass
        by_module: dict[str, float] = {}
        for s in self.tracer.spans:
            by_module[s.module] = by_module.get(s.module, 0.0) + tp["self"][s.id]

        def mod_sum(*prefixes: str) -> float:
            return sum(v for k, v in by_module.items() if k.startswith(prefixes))

        def fn_sum(*names: str) -> float:
            return sum(
                tp["self"][s.id] for s in self.tracer.spans if s.name.rsplit(".", 1)[-1] in names
            )

        m["catalog.build_s"] = (by_module.get("catalog.build", 0.0), "s")
        m["catalog.exec_s"] = (by_module.get("catalog.exec", 0.0), "s")
        m["sources.load_table_s"] = (fn_sum("load_table", "load_tables"), "s")
        m["sources.read_workbook_grids_s"] = (fn_sum("read_workbook_grids"), "s")
        m["sources.grid_to_df_s"] = (fn_sum("grid_to_df"), "s")
        m["sources.write_s"] = (fn_sum("write_fact") + mod_sum("sources.sinks"), "s")
        m["sources.files_written"] = (med["files_written"], "count")
        m["sources.bytes_written_mb"] = (med["bytes_written_mb"], "MB")
        m["plans.normalize_workbook_s"] = (fn_sum("normalize_workbook"), "s")
        m["plans.checkpoint_s"] = (by_module.get("plans.checkpoint", 0.0), "s")
        m["plans.semantic_map_s"] = (fn_sum("semantic_map"), "s")
        for op in ("dedup", "similarity", "pq", "graph", "kmeans", "joins", "windows",
                   "reshape", "layout"):
            m[f"operators.{op}_s"] = (mod_sum(f"operators.{op}"), "s")
        m["functions.self_s"] = (mod_sum("functions."), "s")
        m["multimodal.self_s"] = (mod_sum("multimodal."), "s")
        for mod in ("ops", "manifest", "sources", "ann_index"):
            m[f"streaming.{mod}_s"] = (mod_sum(f"streaming.{mod}"), "s")
        prog = tp["progress"]
        trig = [p.get("triggerExecution", 0) for p in prog]
        m["streaming.batches"] = (len(prog), "count")
        m["streaming.trigger_p50_ms"] = (statistics.median(trig) if trig else 0.0, "ms")
        for key, name in (("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                          ("queryPlanning", "query_planning")):
            m[f"streaming.{name}_s"] = (sum(p.get(key, 0) for p in prog) / 1e3, "s")
        m["driver.py_cpu_s"] = (med["py_cpu_s"], "s")
        m["driver.py4j_calls"] = (tp["py4j_calls"], "count")
        for k in ("jobs", "stages", "tasks", "sql_executions"):
            m[f"spark.{k}"] = (med[k], "count")
        for k in ("executor_run_s", "jvm_gc_s", "job_idle_s"):
            m[f"spark.{k}"] = (med[k], "s")
        for k in ("input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            m[f"spark.{k}"] = (med[k], "MB")
        m["spark.executor_util"] = (med["executor_run_s"] / (med["wall_s"] * self.cores), "ratio")
        m["spark.peak_rss_mb"] = (jvm_peak_rss_mb(self.spark), "MB")
        top = sum(tp["self"].values())
        m["trace.overhead_s"] = (tp["wall_s"] - med["wall_s"], "s")
        m["trace.unattributed_s"] = (tp["wall_s"] - top, "s")
        return m

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        self.wl.close()
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = SparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    import workloads

    args = parse_args(argv, tuple(workloads.WORKLOADS))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every temporary file the run, Spark and its workers make stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = None
    run = None
    try:
        run = Run(args, work)
        setup_s = run.setup()
        passes = run.timed()
        if args.trace:
            tp = run.traced()
            metrics = run.per_layer(passes, tp)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
                "executor_cpu_s": (statistics.median(p["executor_cpu_s"] for p in passes), "s"),
            }
            error_rate = run.failed / run.attempted
            print(
                f"{args.workload} seed={args.seed} passes={len(passes)} "
                + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in metrics.items())
                + f" error_rate={error_rate:.4f}"
            )
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        if run is not None:
            try:
                run.stop()
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    for e in run.errors:
        print(e, file=sys.stderr)
    correct = not run.errors and run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
