"""KG pipeline benchmark: one workload per invocation.

    python3 kgbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. starts the Spark session, then ``SETUP_REPS`` times writes the seeded
   pages and gold to parquet and warms the Python workers;
   ``setup_s`` is the session time plus the median of those reps;
2. runs the job once untimed and scores it against the planted gold, then
   warms up with untimed jobs on a slice of the pages;
3. with ``--trace 0``, runs the job in a closed loop with one client for
   ``--seconds`` seconds; every job must reproduce the verification run's
   row counts (and on ``export_text`` the CX2 sha256), else it counts as
   failed;
4. with ``--trace 1``, runs the job untraced, traced and untraced again,
   replays the per-page layers on one core, and reports per-layer metrics.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it records the host probes of the run.
Everything the run writes goes under ``.kgbench_work/`` in the current
directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUP_REPS = 3
# after verification, untimed jobs on a 1/WARMUP_SLICE slice of the pages
# for WARMUP_S seconds and at least WARMUP_JOBS jobs: a fresh JVM's jobs keep
# getting faster for several jobs while the JIT compiles, and slice jobs warm
# it at a fraction of the cost (on export_text a slice job costs about as much
# as a whole one, so the time alone would allow a single warm-up job)
WARMUP_S = 5
WARMUP_JOBS = 3
WARMUP_SLICE = 8

# workload -> pages per job
PAGES = {"crawl_extract": 2400, "export_text": 1000}

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("job_s", "s", "lower", 0.25),
    ("triples_per_s", "triples/s", "higher", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("precision", "ratio", "higher", 0.02),
    ("recall", "ratio", "higher", 0.02),
    ("pass_frac", "ratio", "higher", 0.01),
]

# (name, unit, better)
PER_LAYER = [
    ("session.task_floor_s", "s", "lower"),
    ("session.calib_s", "s", "lower"),
    ("session.partitions", "count", "lower"),
    ("session.steal_cores", "cores", "lower"),
    ("html_extract.paragraphs_s", "s", "lower"),
    ("html_extract.sentences_s", "s", "lower"),
    ("html_extract.pages", "count", "higher"),
    ("html_extract.pages_empty", "count", "lower"),
    ("html_extract.paragraphs", "count", "higher"),
    ("html_extract.sentences", "count", "higher"),
    ("html_extract.bytes_in", "bytes", "higher"),
    ("mentions.build_s", "s", "lower"),
    ("mentions.find_s", "s", "lower"),
    ("mentions.calls", "count", "lower"),
    ("mentions.mentions", "count", "higher"),
    ("statements.extract_s", "s", "lower"),
    ("statements.calls", "count", "lower"),
    ("statements.triples", "count", "higher"),
    ("statements.yield", "ratio", "higher"),
    ("extraction.normalize_s", "s", "lower"),
    ("extraction.block_s", "s", "lower"),
    ("extraction.split_s", "s", "lower"),
    ("extraction.statements", "count", "higher"),
    ("extraction.yield", "ratio", "higher"),
    ("fused.wall_s", "s", "lower"),
    ("fused.overhead_s", "s", "lower"),
    ("pipeline.plan_s", "s", "lower"),
    ("graph.annotation_s", "s", "lower"),
    ("graph.nodes_s", "s", "lower"),
    ("graph.edges_s", "s", "lower"),
    ("graph.nodes", "count", "higher"),
    ("graph.edges", "count", "higher"),
    ("cx2.collect_s", "s", "lower"),
    ("cx2.serialize_s", "s", "lower"),
    ("cx2.bytes", "bytes", "lower"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.overhead_s", "s", "lower"),
    ("checkpoint.rows", "count", "higher"),
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("sink.write_s", "s", "lower"),
    ("sink.bytes", "bytes", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

MIN_PRECISION = MIN_RECALL = 0.95


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let Python workers import the package and the benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _session(work: str):
    from llm_text_to_knowledge_graph_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "kgbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES * 2,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            # no hsperfdata file: the JVM would write it to /tmp whatever
            # java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _running(pid: int, started: str) -> bool:
    """Whether ``pid`` is still the process that started at ``started`` and
    has not exited (a zombie has exited)."""
    from kgbench.probes import stat

    fields = stat(pid)
    # fields after comm: state=0, starttime=19
    return fields is not None and fields[19] == started and fields[0] != "Z"


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and every process under this one (the
    Python worker daemon and its workers), and wait until each has ended.

    The JVM would otherwise exit on its own only after this process, and
    the workers after the JVM, so they would outlive the run."""
    from pyspark import SparkContext

    from kgbench.probes import descendants

    def tree() -> dict[int, str]:  # pid -> start time (stat field 19)
        return {p: fields[19] for p, fields in descendants().items()}

    procs = tree()
    if spark is not None:
        # the JVM is ended below whether or not the session stops cleanly
        with contextlib.suppress(Exception):
            spark.stop()
    gateway_proc = getattr(SparkContext._gateway, "proc", None)
    if gateway_proc is not None:
        with contextlib.suppress(OSError):
            gateway_proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway_proc.wait(timeout=15)
        except Exception:
            gateway_proc.kill()
            gateway_proc.wait()
    procs.update(tree())
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        live = {p: s for p, s in procs.items() if _running(p, s)}
        for p in live:
            with contextlib.suppress(OSError):
                os.kill(p, sig)
        deadline = time.monotonic() + grace
        while live and time.monotonic() < deadline:
            with contextlib.suppress(ChildProcessError):
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            live = {p: s for p, s in live.items() if _running(p, s)}
            time.sleep(0.02)
        procs = live


def _exit_on_sigterm(signum, frame):
    sys.exit(128 + signum)  # unwinds through main's cleanup


class Run:
    def __init__(self, workload, seed: int, work: str):
        self.wl = workload
        self.seed = seed
        self.work = work
        self.n_pages = PAGES[workload.name]
        self._dirs = 0
        self.spark = None

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")

    def inputs_once(self):
        """Seeded pages and gold written to parquet, then a warm-up: a null
        Python crossing over the pages, which starts the Python workers."""
        from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows

        from kgbench.inputs import write_inputs
        from kgbench.jobs import Context
        from kgbench.probes import task_floor_s

        pages, gold = write_inputs(
            self.spark, self.seed, self.wl.kind, self.n_pages, CORES, self.fresh_dir("inputs")
        )
        task_floor_s(pages)
        return Context(self.spark, pages, gold, build_alias_rows(self.seed), CORES)

    def setup(self):
        """Start the session once, then make the inputs ``SETUP_REPS`` times.

        Returns (context, session seconds, seconds of each input rep)."""
        t0 = time.perf_counter()
        self.spark = _session(self.work)
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            ctx = self.inputs_once()
            reps.append(time.perf_counter() - t0)
        return ctx, session_s, reps

    def warm_up(self, ctx) -> int:
        """Run the job on a slice of the pages for ``WARMUP_S`` seconds and
        at least ``WARMUP_JOBS`` times."""
        from pyspark.sql import functions as F

        part = ctx.pages.where(F.pmod(F.xxhash64("url"), F.lit(WARMUP_SLICE)) == 0)
        sliced = dataclasses.replace(ctx, pages=part)
        jobs, t0 = 0, time.perf_counter()
        while jobs < WARMUP_JOBS or time.perf_counter() - t0 < WARMUP_S:
            self.wl.run(sliced, self.fresh_dir("warmup"))
            self.spark.catalog.clearCache()
            jobs += 1
        return jobs

    def timed_job(self, ctx):
        """One job in a fresh output directory: (wall s, cpu s, result)."""
        from kgbench.probes import tree_cpu_s

        out = self.fresh_dir("job")
        self.spark.catalog.clearCache()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        result = self.wl.run(ctx, out)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        return wall, cpu, result, out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)

    work_root = os.path.join(os.getcwd(), ".kgbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    run = None
    try:
        _prepare_env(work)
        from kgbench import probes
        from kgbench.jobs import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        run = Run(WORKLOADS[args.workload], args.seed, work)
        ctx, session_s, input_reps = run.setup()
        t0 = time.perf_counter()
        verified = run.wl.verify(ctx, run.fresh_dir("verify"))
        verify_s = time.perf_counter() - t0
        run.spark.catalog.clearCache()
        warmup_jobs = run.warm_up(ctx)
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "pages": run.n_pages,
            "session_s": session_s,
            "inputs_reps_s": input_reps,
            "verify_s": verify_s,
            "warmup_jobs": warmup_jobs,
            "precision": verified.precision,
            "recall": verified.recall,
            "triples": verified.triples,
            "problems": verified.problems,
            "task_floor_s": probes.task_floor_s(ctx.pages),
            "calib_s": probes.calib_s(),
            "partitions": ctx.pages.rdd.getNumPartitions(),
        }
        ok = (
            not verified.problems
            and verified.precision >= MIN_PRECISION
            and verified.recall >= MIN_RECALL
        )
        if args.trace:
            from kgbench.traced import traced_metrics

            metrics, attempted, failed, problems = traced_metrics(run, ctx, verified, context)
            context["problems"] += problems
        else:
            metrics, attempted, failed = _timed_loop(run, ctx, verified, args.seconds, context)
            metrics["setup_s"] = session_s + statistics.median(input_reps)
        print(json.dumps({"context": context}))
        units = {n: u for n, u, *_ in (PER_LAYER if args.trace else END_TO_END)}
        result = {
            "correct": bool(ok and not context["problems"] and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
        }
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        if "pyspark" in sys.modules:
            _stop_spark(run.spark if run is not None else None)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)
    print(json.dumps(result))
    return 0


def _timed_loop(run: Run, ctx, verified, seconds: float, context: dict):
    from kgbench import probes

    walls, cpus, failed = [], [], 0
    steal0, t_start = probes.steal_s(), time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        try:
            wall, cpu, result, out = run.timed_job(ctx)
            if run.wl.signature(ctx, result) != verified.signature:
                raise AssertionError("job output differs from the verification run")
        except Exception:  # a failed job is counted, the loop goes on
            traceback.print_exc()
            failed += 1
            walls.append(None)
            continue
        finally:
            run.spark.catalog.clearCache()
        walls.append(wall)
        cpus.append(cpu)
        shutil.rmtree(out, ignore_errors=True)
    loop_s = time.perf_counter() - t_start
    context["steal_cores"] = (probes.steal_s() - steal0) / loop_s
    context["job_s"] = walls
    context["cpu_s"] = cpus
    ok_walls = [w for w in walls if w is not None]
    if not ok_walls:
        raise RuntimeError("every timed job failed")
    job_s = statistics.median(ok_walls)
    attempted = len(walls)
    metrics = {
        "job_s": job_s,
        "triples_per_s": verified.triples / job_s,
        "cpu_s": statistics.median(cpus),
        "precision": verified.precision,
        "recall": verified.recall,
        "pass_frac": (attempted - failed) / attempted,
    }
    return metrics, attempted, failed


if __name__ == "__main__":
    sys.exit(main())
