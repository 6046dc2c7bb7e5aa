#!/usr/bin/env python3
"""CDC sync benchmark: tail and Singer-wire workloads.

Run from the repository root, one workload per process:

    python3 perfbench/run.py --workload {tail,wire} --seed N \\
        --seconds S --trace {0,1}

``--trace 0`` times the workload with nothing patched and prints the
end-to-end metrics; ``--trace 1`` wraps the layer boundaries, alternates
traced and untraced ops to state the tracing overhead, and prints the
per-layer metrics.  Both print a human-readable table, then, as the last
line, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Every run ends with the correctness gate (``oracle.py``), outside the timed
region.  Scratch state lives in ``.perfbench/work-<pid>`` (deleted at exit);
seeded inputs are cached in ``.perfbench/inputs``.
"""

import time

T_PROCESS = time.monotonic()  # noqa: E402 -- set-up time starts here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
PREP_REPS = 3  # set-up repetitions; setup_s takes their median
RUNNING: dict = {}  # the work dir and baseline child, for on_sigterm


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit of ``kind`` ("end_to_end" / "per_layer"), from
    BENCHMARK.json, the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("tail", "wire"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="Spark local cores (default: all usable cores)")
    ap.add_argument("--single-pass", action="store_true",
                    help="one cold first-sync replay of the tail base log into "
                         "a fresh table; prints its events/s")
    args = ap.parse_args(argv)
    if args.single_pass and args.workload != "tail":
        ap.error("--single-pass replays the tail base log: use --workload tail")
    return args


def start_spark(work: str, cpus: int):
    """``get_spark`` pinned to local[cpus] with ``cpus`` shuffle partitions,
    no console progress bar, and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # spark-submit's own launcher JVM: no hsperfdata file in the system temp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    from singer_tap_spark import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: a growing one made run-to-run times swing
            # more; no hsperfdata file outside the work dir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Ctx:
    """What a workload sees: the session, its dirs, and op bracketing."""

    def __init__(self, spark, work, inputs, tracer, counters, listener):
        self.spark, self.work, self.inputs = spark, work, inputs
        self.tracer, self.counters, self.listener = tracer, counters, listener
        self.traced = False
        self.jvm = spark._jvm

    def op_begin(self, i) -> None:
        if self.traced:
            self.counters.take()  # drop jobs from between ops
            self.tracer.enabled = True
            self.tracer.start_op(f"op{i}")
        self._t0 = time.monotonic()

    def op_end(self) -> float:
        sec = time.monotonic() - self._t0
        if self.traced:
            self.tracer.finish_op()
            self.tracer.enabled = False
        return sec

    def between_ops(self) -> None:
        """Collect garbage on both sides, outside any timed region."""
        gc.collect()
        self.jvm.java.lang.System.gc()


def timed_read(lake) -> float:
    """One consumer read, fully evaluated: every column hashed into one
    ``bit_xor`` aggregate, so no projection can be pruned away."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    df = lake.read()
    df.agg(F.bit_xor(F.xxhash64(*df.columns))).collect()
    return time.monotonic() - t0


def snapshot(lake, path: str):
    """The table as committed now, as a table of its own: a hard-linked
    copy (the lake never rewrites a file in place)."""
    from singer_tap_spark import ParquetLakeTable

    shutil.copytree(lake.path, path, copy_function=os.link)
    return ParquetLakeTable(lake.spark, path, key_cols=lake.key_cols,
                            bucket_key=lake.bucket_key, n_buckets=lake.n_buckets,
                            mode=lake.mode)


def run(args) -> tuple[dict, list[str]]:
    """One workload run.  Returns (result, table lines)."""
    from perfbench import inputs as inputs_mod
    from perfbench import layers, report
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Backfill

    cpus = args.cpus or len(os.sched_getaffinity(0))
    work = RUNNING["work"] = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    tracer = Tracer() if args.trace else None
    try:
        spark = start_spark(work, cpus)
        jvm_s = time.monotonic() - T_PROCESS

        t0 = time.monotonic()
        os.makedirs(os.path.join(STATE, "inputs"), exist_ok=True)
        inputs, built = inputs_mod.cached(
            os.path.join(STATE, "inputs"), args.workload, args.seed, lambda: spark)
        inputgen_s = time.monotonic() - t0

        listener = layers.Progress()
        spark.streams.addListener(listener)
        counters = layers.SparkCounters(spark) if args.trace else None
        if tracer is not None:
            layers.install(tracer, per_batch_ops=args.workload == "wire")
        ctx = Ctx(spark, work, inputs, tracer, counters, listener)
        if args.single_pass:  # a first-sync replay of the tail base log
            wl = Backfill(ctx, f"{inputs}/segs/seg=-1")
        else:
            wl = WORKLOADS[args.workload](ctx)

        # ops are counted in the workload's op unit (wire: microbatches);
        # one that raises counts once, as the op in flight
        attempted = failed = 0
        prep: list[float] = []
        ops: list[dict] = []
        reads: list[float] = []
        err = None

        def run_op(i) -> dict:
            nonlocal attempted
            attempted += 1
            rec = wl.op(i)
            attempted += len(rec["samples"]) - 1
            return rec

        try:
            for _ in range(PREP_REPS):
                t0 = time.monotonic()
                wl.prep()
                prep.append(time.monotonic() - t0)
                ctx.between_ops()
            if args.single_pass:
                ops.append(run_op(0))
            else:
                for w in range(wl.warmup):
                    run_op(f"w{w}")
                    ctx.between_ops()
                # consumer reads of the table as the warm-up's last commit
                # left it; read_s is their median.  At a fixed state the
                # figure does not depend on how many ops the window held (the
                # table grows with each op).  The timed reads are spread over
                # the window, between ops, so they sample the same stretch of
                # the host's time as the ops, not the few seconds after them
                snap = snapshot(wl.lake(), os.path.join(work, "snapshot"))
                for _ in range(wl.read_warmup):
                    timed_read(snap)
                if counters is not None:
                    counters.reset_peak()
                read_wall = 0.0  # time spent in reads, kept out of the window

                def read_to(n: int) -> None:
                    nonlocal read_wall
                    t0 = time.monotonic()
                    while len(reads) < n:
                        ctx.between_ops()
                        reads.append(timed_read(snap))
                    read_wall += time.monotonic() - t0

                t_measure = time.monotonic()
                i = 0
                # trace runs alternate untraced / traced ops and need two of each
                while wl.has_more() and (
                    time.monotonic() - t_measure - read_wall < args.seconds
                    or (args.trace and i < 4)
                ):
                    ctx.traced = bool(args.trace) and i % 2 == 1
                    rec = run_op(i)
                    rec["traced"] = ctx.traced
                    ctx.between_ops()
                    if ctx.traced:  # GC time includes collecting the op's garbage
                        rec["counters"] = counters.take()
                    ctx.traced = False
                    ops.append(rec)
                    i += 1
                    # the reads due by this point of the window
                    spent = time.monotonic() - t_measure - read_wall
                    read_to(min(wl.reads, int(wl.reads * spent / max(args.seconds, 1))))
                read_to(wl.reads)
        except Exception:  # set-up or an op raised: the run fails, reported
            attempted = max(1, attempted)
            err = traceback.format_exc()

        errors = [f"op failed:\n{err}"] if err else []
        if not errors and ops and not args.single_pass:
            try:
                errors += wl.check()
            except Exception:  # a check that cannot run is a failed check
                errors.append(f"check failed:\n{traceback.format_exc()}")
        if errors:
            failed = attempted
        old_peak = counters.old_peak_mb() if counters is not None else None

        r = report.Report(
            workload=args.workload, seed=args.seed, cpus=cpus, ops=ops,
            prep=prep, jvm_s=jvm_s, inputgen_s=inputgen_s, inputs_built=built,
            reads=reads, attempted=attempted, failed=failed, errors=errors,
            tracer=tracer, old_peak_mb=old_peak, kind=wl.op_kind,
        )
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.single_pass:
        return r.single_pass(), []
    if tracer is not None:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            STATE, "traces", f"{args.workload}-s{args.seed}.json"))
        baseline = None
        if args.workload == "tail" and not errors:
            baseline = single_thread_baseline(args.seed)
        return r.traced(metric_units("per_layer"), baseline)
    return r.untraced(metric_units("end_to_end"))


def single_thread_baseline(seed: int) -> dict | None:
    """One cold first-sync replay of the tail base log on local[1], in its
    own process, run after this process's Spark has stopped (never two
    Spark workloads at once)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "tail",
           "--seed", str(seed), "--seconds", "0", "--cpus", "1", "--single-pass"]
    proc = RUNNING["child"] = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=150)
    except subprocess.TimeoutExpired:
        proc.terminate()  # the child ends its own JVM on SIGTERM
        proc.communicate()
        return None
    lines = out.strip().splitlines()
    return json.loads(lines[-1]) if proc.returncode == 0 and lines else None


def on_sigterm(*_) -> None:
    """SIGTERM: end the JVM and a baseline child, delete the work dir, exit.
    Raising here instead could land in a py4j finalizer, which ignores it."""
    from pyspark import SparkContext

    child = RUNNING.get("child")
    if child is not None and child.poll() is None:
        child.terminate()  # it cleans up after itself the same way
        child.wait()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()
    if "work" in RUNNING:
        shutil.rmtree(RUNNING["work"], ignore_errors=True)
    os._exit(143)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, on_sigterm)
    if not os.path.isfile(os.path.join(ROOT, "singer_tap_spark", "__init__.py")):
        print("perfbench: run from the repository root; singer_tap_spark/ "
              f"is not in {ROOT}", file=sys.stderr)
        return 2
    # the script's own dir would shadow stdlib modules; import from the root
    sys.path[0] = ROOT
    result, table = run(args)
    for line in table:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
