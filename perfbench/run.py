#!/usr/bin/env python3
"""Benchmark of spark_ensemble_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload boost_fit --seed 1 --seconds 8 --trace 0

The run writes seeded inputs and sets the workload up several times; the
first set-up, in a fresh JVM, is followed by one timed (cold) operation, and
the last set-up is kept and fits what the workload scores (the prefit).
After one untimed warm-up cycle it runs the workload's operation cycle as a
closed loop — one client, one operation at a time, on ``local[nproc]`` — for
``--seconds`` / 4 whole cycles.  Every operation's output is checked;
exceptions and wrong outputs count as failed operations.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the loop in
three segments of one cycle each — untraced, traced, untraced, each on a
fresh Spark context with one warm-up cycle — and prints the per-layer
metrics of the traced segment plus the tracing overhead against the
untraced segments.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  A full record (environment, every sample, every
operation) goes to ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
# The loop runs --seconds / LOOP_CYCLE_S whole cycles (at least one).
LOOP_CYCLE_S = 4.0
# Each segment of a traced run holds this many cycles, the same in all three
# segments so that the tracing overhead compares like with like.
TRACE_CYCLES = 1
# The driver JVM's heap is pinned at 2 GB and collected by the parallel
# collector with fixed generation sizes: G1 sizes its heap by GC timing, and
# its resident size then swung by 20% between identical runs.  Eden is
# reused from its start after each collection, so resident memory is eden
# plus what the old generation holds plus native memory.
DRIVER_JAVA_OPTS = ("-XX:ReservedCodeCacheSize=512m -Xms2g "
                    "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy")

WORKLOADS = ("boost_fit", "curation_ops")
SCORE_CLASSES = ("GBMRegressionModel", "BaggingRegressionModel", "BoostingRegressionModel",
                 "GBMClassificationModel")
QUERIES = ("dedup_minhash_md5", "dsir_select_en", "streaming_decontaminate")
ENGINE = ("spark.jobs_n", "spark.stages_n", "spark.tasks_n", "spark.job_busy_s", "driver.gap_s",
          "spark.task_s", "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
          "spark.spill_bytes", "spark.python_stage_s")
STREAMING = ("streaming.batches_n", "streaming.planning_s", "streaming.add_batch_s",
             "streaming.commit_s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    p.add_argument("--max-ops", type=int, default=0,
                   help="stop each loop segment after this many operations (0: no limit)")
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Pin what the run depends on and keep every file it writes in ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ.pop("SPARK_ENSEMBLE_VERBOSE_FIT", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_DRIVER_JAVA_OPTS=DRIVER_JAVA_OPTS,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.enabled=false pyspark-shell"
        ),
    )
    tempfile.tempdir = None
    os.chdir(work)


def git_head() -> str:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            ref = head[5:]
            path = os.path.join(ROOT, ".git", ref)
            if os.path.exists(path):
                with open(path) as f:
                    return f.read().strip()
            with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
        return head
    except OSError:
        return "unknown (not a git checkout)"


def environment(spark) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "git_head": git_head(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", "?"),
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith(("SPARK_GRAFT_", "SPARK_ENSEMBLE_"))},
    }


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (``steal`` in /proc/stat): on a shared host, the run's timings move
    with it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def summary(xs) -> dict:
    """n, quartiles, and the highest percentile with >= 10 samples above it."""
    xs = sorted(xs)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = statistics.median(xs)
    if len(xs) >= 2:
        out["p25"], _, out["p75"] = statistics.quantiles(xs, n=4)
    if len(xs) >= 20:
        q = int(100 * (1 - 10 / len(xs)))
        out[f"p{q}"] = statistics.quantiles(xs, n=100)[q - 1]
    return out


class Runner:
    def __init__(self, args, work: str) -> None:
        from spark_ensemble_spark.session import get_spark

        import inputs
        import workloads

        self.args = args
        self.work = work
        self.get_spark = get_spark
        self.inputs = inputs
        self.WrongOutput = workloads.WrongOutput
        self.wl = workloads.WORKLOADS[args.workload](args.seed, args.scale)
        self.in_dir = os.path.join(work, "in")
        self.spark = None
        self.ops: list = []

    # -- session -----------------------------------------------------------

    def stop_context(self, event_log: bool = False) -> None:
        """Stop the current context, if any; the next one logs its events
        only if ``event_log``."""
        if self.spark is not None:
            jvm = self.spark.sparkContext._jvm
            self.spark.stop()
            self.spark = None
            jvm.java.lang.System.setProperty("spark.eventLog.enabled", str(event_log).lower())

    def start(self, event_log: bool = False) -> dict:
        """Set the workload up on a new context (stopping the current one);
        returns the set-up's layer timings."""
        self.stop_context(event_log)
        t0 = time.perf_counter()
        self.spark = self.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        timings = {"session.start_s": time.perf_counter() - t0}
        timings.update(self.wl.setup(self.spark, self.in_dir))
        return timings

    def setup(self) -> tuple:
        """One timed set-up: write the inputs, start a context, build the
        fixtures.  Returns the input row counts and the set-up's timings."""
        t0 = time.perf_counter()
        size = self.wl.size
        rows = self.inputs.write_tables(self.in_dir, self.args.seed, size["lineitem"], size["documents"])
        timings = self.start()
        timings["setup_s"] = time.perf_counter() - t0
        return rows, timings

    def shutdown(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for all."""
        from pyspark import SparkContext

        from memory import alive, tree_pids

        pids = tree_pids(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at end of input
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while any(alive(p) for p in pids) and time.time() < deadline:
            time.sleep(0.2)
        for pid in filter(alive, pids):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:  # ended after the check
                pass

    # -- operations --------------------------------------------------------

    def op(self, i: int, segment: str) -> dict:
        rec = {"op": self.wl.cycle[i % len(self.wl.cycle)], "segment": segment, "rows": 0}
        rec["t0"] = time.time()
        t0 = time.perf_counter()
        try:
            rec["rows"] = self.wl.op(i, rec)
            rec["ok"] = True
        except self.WrongOutput as e:
            rec["ok"], rec["error"] = False, f"wrong output: {e}"
        except Exception:  # a failed operation is counted, reported, and the loop goes on
            rec["ok"], rec["error"] = False, traceback.format_exc()
        rec["s"] = time.perf_counter() - t0
        rec["t1"] = time.time()
        if not rec["ok"]:
            print(f"perfbench: {rec['op']} failed: {rec['error']}", file=sys.stderr)
        self.ops.append(rec)
        return rec

    def loop_cycles(self) -> int:
        """Whole cycles in the timed loop: ``--seconds`` / ``LOOP_CYCLE_S``,
        at least one.  A count, not a time limit: operation times still fall
        from cycle to cycle as the JIT warms up, and under a time limit a
        faster run measured one more, faster cycle, which moved the median
        by up to 20%."""
        return max(1, round(self.args.seconds / LOOP_CYCLE_S))

    def loop(self, cycles: int, segment: str) -> tuple:
        """``cycles`` whole operation cycles; returns the operations and the
        loop wall."""
        start, t0 = len(self.ops), time.perf_counter()
        n_ops = cycles * len(self.wl.cycle)
        if self.args.max_ops:
            n_ops = min(n_ops, self.args.max_ops)
        for i in range(n_ops):
            self.op(i, segment)
        return self.ops[start:], time.perf_counter() - t0

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        from memory import TreeMemorySampler

        args = self.args
        sampler = TreeMemorySampler(os.getpid()).start()
        steal0 = steal_s()
        phases = {}
        t_run = time.perf_counter()

        def phase(name):
            phases[name] = time.perf_counter() - t_run - sum(phases.values())

        try:
            # The first set-up launches the JVM; the cycle's first operation
            # right after it is the cold operation.  Each later set-up starts
            # a new context in the warm JVM (the previous context's stop is
            # not part of it); the last one is kept for the loop, and the
            # one-off prefit runs on it.
            setups = []
            for rep in range(self.wl.setup_reps):
                self.stop_context()
                rows, timings = self.setup()
                setups.append(timings)
                if rep == 0:
                    env = environment(self.spark)
                    self.wl.reference()
                    cold = self.op(0, "cold")
                    phase("first_setup_cold_op")
            t0 = time.perf_counter()
            self.wl.prefit()
            prefit_s = time.perf_counter() - t0
            if cold["ok"]:
                self.verify(cold)
            phase("setups_prefit_verify")
            sampler.reset()  # memory is reported for the loop, not the set-ups
            if args.trace:
                traced = self.traced_loop()  # warms each of its segments up
                loop_ops, loop_s = traced["untraced_ops"], traced["untraced_s"]
            else:
                # One whole cycle before timing: the first cycle after the
                # set-ups still runs up to 1.7x slower, and whether a timed
                # loop held one or two cycles then decided the median.
                traced = None
                self.loop(1, "warmup")
                phase("warmup")
                loop_ops, loop_s = self.loop(self.loop_cycles(), "loop")
            phase("loop")
        finally:
            sampler.stop()
            self.shutdown()
        phase("shutdown")

        times = [r["s"] for r in loop_ops]
        n = len(self.wl.cycle)
        cycle_means = [statistics.mean(times[i:i + n]) for i in range(0, len(times), n)]
        e2e = {
            "setup_s": (statistics.median(s["setup_s"] for s in setups) + prefit_s, "s"),
            "cold_op_s": (cold["s"], "s"),
            "op_p50_s": (statistics.median(cycle_means), "s"),
            "rows_per_s": (sum(r["rows"] for r in loop_ops if r["ok"]) / loop_s, "rows/s"),
            "peak_rss_mb": (sampler.peak_total_mb, "MB"),
        }
        attempted = len(self.ops)
        failed = sum(not r["ok"] for r in self.ops)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "environment": env,
            "input_rows": rows, "setups": setups, "prefit_s": prefit_s,
            "samples": {"op_s": summary(times), "setup_s": summary([s["setup_s"] for s in setups])},
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "error_rate": failed / attempted,
            "host_steal_s": steal_s() - steal0,
            "phases_s": phases,
            "operations": self.ops,
        }
        if traced is None:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        else:
            per_layer = self.per_layer(traced, setups, sampler, failed / attempted)
            record["per_layer"] = per_layer
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        self.report(record, e2e)
        correct = failed == 0
        return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}

    def verify(self, cold: dict) -> None:
        """The workload's independent reference check, run once after the
        set-ups and counted against the first cold op."""
        try:
            check = self.wl.verify()
            if check:
                cold["checks"].append(check)
        except self.WrongOutput as e:
            cold["ok"], cold["error"] = False, f"wrong output: {e}"
        except Exception:  # counted against the cold op, like any op failure
            cold["ok"], cold["error"] = False, traceback.format_exc()
        if not cold["ok"]:
            print(f"perfbench: reference check failed: {cold['error']}", file=sys.stderr)

    def traced_loop(self) -> dict:
        """Untraced, traced and untraced segments of ``TRACE_CYCLES`` each,
        every one on a fresh context (the first on the kept set-up's) after
        one warm-up cycle, so they start alike; the event log is on only for
        the traced one."""
        import layers

        self.loop(1, "warmup")
        u1, s1 = self.loop(TRACE_CYCLES, "untraced")
        self.start(event_log=True)
        app_id = self.spark.sparkContext.applicationId
        self.loop(1, "warmup")
        with layers.Tracer() as tracer:
            self.wl.tracer = tracer
            t_ops, t_s = self.loop(TRACE_CYCLES, "traced")
            self.wl.tracer = None
            for r in t_ops:
                r.update(tracer.op_layers(r["t0"], r["t1"], r.get("members_n", 0)))
                fit = sum(v for k, v in r.items() if k.startswith("fit_s."))
                r["ensemble.overhead_s"] = fit - r["base.fit_s"] if fit else 0.0
        self.start(event_log=False)  # stops the traced context: its log is complete
        self.loop(1, "warmup")
        u2, s2 = self.loop(TRACE_CYCLES, "untraced")
        log_dir = os.path.join(self.work, "eventlog")
        windows = [(r["t0"], r["t1"]) for r in t_ops]
        for r, eng in zip(t_ops, layers.engine_layers(log_dir, app_id, windows)):
            r.update(eng)
        return {"ops": t_ops, "wall_s": t_s, "untraced_ops": u1 + u2, "untraced_s": s1 + s2}

    def per_layer(self, traced: dict, setups: list, sampler, error_rate: float) -> dict:
        ops = traced["ops"]
        fits = [r for r in ops if any(k.startswith("fit_s.") for k in r)]

        def mean(key, rs=ops):
            return sum(r.get(key, 0) for r in rs) / max(len(rs), 1)

        def med(key):
            xs = [r[key] for r in ops if key in r]
            return statistics.median(xs) if xs else 0.0

        steps = [s for r in ops for s in r.get("fit.iter_steps", ())]
        rounds = sum(r.get("fit.iter_n", 0) for r in ops)
        nproc = len(os.sched_getaffinity(0))
        untraced_mean = statistics.mean(r["s"] for r in traced["untraced_ops"])
        traced_mean = statistics.mean(r["s"] for r in ops)
        out = {
            "session.start_s": (setups[0]["session.start_s"], "s"),
            "sources.fixture_s": (statistics.median(s.get("sources.fixture_s", 0.0) for s in setups), "s"),
            "fit_s.GBMRegressor": (med("fit_s.GBMRegressor"), "s"),
            **{f"score_s.{c}": (med(f"score_s.{c}"), "s") for c in SCORE_CLASSES},
            "members_n": (med("members_n"), "count"),
            "base.fit_s": (mean("base.fit_s", fits), "s"),
            "base.fit_n": (mean("base.fit_n", fits), "count"),
            "ensemble.overhead_s": (mean("ensemble.overhead_s", fits), "s"),
            "fit.iter_s": (statistics.median(steps) if steps else 0.0, "s"),
            "fit.iter_n": (mean("fit.iter_n", fits), "count"),
            "fit.rounds_kept_ratio": (
                sum(r.get("fit.members_kept", 0) for r in ops) / rounds if rounds else 0.0, "ratio"),
            **{k: (mean(k), "count" if k.endswith("_n") else "bytes" if k.endswith("bytes") else "s")
               for k in ENGINE},
            "spark.cpu_util": (
                sum(r["spark.task_s"] for r in ops) / (traced["wall_s"] * nproc), "ratio"),
            "spark.failed_tasks_n": (sum(r["spark.failed_tasks_n"] for r in ops), "count"),
            **{f"query_s.{q}": (med(f"query_s.{q}"), "s") for q in QUERIES},
            **{k: (mean(k), "count" if k.endswith("_n") else "s") for k in STREAMING},
            "jvm.rss_mb": (sampler.peak_jvm_mb, "MB"),
            "pyworkers.rss_mb": (sampler.peak_workers_mb, "MB"),
            "pyworkers.n": (sampler.peak_workers_n, "count"),
            "error_rate": (error_rate, "ratio"),
            "trace.overhead_pct": (100.0 * (traced_mean / untraced_mean - 1.0), "%"),
        }
        return out

    def report(self, record: dict, e2e: dict) -> None:
        env = record["environment"]
        print(f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']} "
              f"scale={record['scale']} nproc={env['nproc']} head={env['git_head'][:12]}")
        print(f"  pyspark {env['pyspark']}  pyarrow {env['pyarrow']}  duckdb {env['duckdb']}  "
              f"shuffle.partitions={env['spark.sql.shuffle.partitions']}  env={env['env']}")
        print(f"  input rows {record['input_rows']}  host CPU steal during the run "
              f"{record['host_steal_s']:.1f} s")
        print("  run wall by phase: " + "  ".join(f"{k} {v:.1f}s" for k, v in record["phases_s"].items()))
        for k, (v, u) in e2e.items():
            print(f"  {k:<14} {v:>14.4f} {u}")
        for k, s in record["samples"].items():
            print(f"  {k} samples: " + "  ".join(f"{q}={v:.4f}" if q != "n" else f"n={v}"
                                                 for q, v in s.items()))
        print(f"  error_rate     {record['error_rate']:>14.4f} "
              f"({sum(not r['ok'] for r in record['operations'])}/{len(record['operations'])})")
        if "per_layer" in record:
            for k, (v, u) in record["per_layer"].items():
                print(f"  {k:<36} {v:>16.4f} {u}")
            traced_fits = [r for r in record["operations"]
                           if r["segment"] == "traced" and "fit_s.GBMRegressor" in r]
            for r in traced_fits[:1]:
                print(f"  one traced fit: fit_s {r['fit_s.GBMRegressor']:.4f} = base.fit_s "
                      f"{r['base.fit_s']:.4f} + ensemble.overhead_s {r['ensemble.overhead_s']:.4f}; "
                      f"op {r['s']:.4f} s vs spark.job_busy_s {r['spark.job_busy_s']:.4f} + "
                      f"driver.gap_s {r['driver.gap_s']:.4f} = "
                      f"{r['spark.job_busy_s'] + r['driver.gap_s']:.4f}")
        out = os.path.join(HERE, ".work", "results")
        os.makedirs(out, exist_ok=True)
        name = f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{os.getpid()}.json"
        with open(os.path.join(out, name), "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"  record: {os.path.join(out, name)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_ensemble_spark", "__init__.py")):
        print(f"perfbench: spark_ensemble_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    pin_environment(work)
    import shutil

    try:
        result = Runner(args, work).run()
    finally:
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
