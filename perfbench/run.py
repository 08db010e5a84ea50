"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload hic_pipeline --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout on ``local[nproc]``.  A run
makes ``round(seconds / pass_s)`` passes of the workload, where
``pass_s`` is the workload's nominal pass time on a 4-core host.
Generated inputs, outputs, Spark scratch space and run records all live
under ``perfbench/.work/``.  The run record (host, inputs, per-pass times,
spans) goes to stderr and ``perfbench/.work/records/``; the last line
of stdout is the result object::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see ``metrics.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

import pandas as pd

T_START = time.perf_counter()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
#: session set-ups per run; setup_s is their median
SETUPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("hic_pipeline", "query_sweep"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full", help="tiny: self-test smoke inputs"
    )
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    cwd = os.path.join(WORK, "cwd")
    for d in (tmp, cwd, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp;
    # -XX:-UseDynamicNumberOfCompilerThreads: JIT threads live as long as
    # the JVM, so tree_cpu_s can always leave their time out
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.chdir(cwd)  # spark-warehouse / derby.log / metastore_db land here
    for path in (ROOT, os.path.join(ROOT, "tests"), BENCH):
        if path not in sys.path:
            sys.path.insert(0, path)


def start_session(nproc: int):
    """get_spark on local[nproc] plus one Arrow UDF job on every core,
    so Python workers are up before anything is timed."""
    from pyspark.sql import functions as F

    from pfithic_spark.session import get_spark

    spark = get_spark(app="perfbench", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    warm = F.pandas_udf(_identity, "double")
    spark.range(0, 10_000, 1, nproc).select(F.sum(warm(F.col("id").cast("double")))).collect()
    return spark


def _identity(x: pd.Series) -> pd.Series:
    return x * 1.0


def stop_jvm() -> None:
    """Stop any running SparkContext and the JVM, and wait until the
    JVM exits."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


#: HotSpot's JIT compiler threads ("C1 CompilerThread0", "C2 Compi...")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user and system, own and of reaped children) of this
    process and every process below it (the JVM, the Python workers),
    less the JVM's JIT compiler threads.  A fresh JVM compiles for the
    whole of a run, and how far it gets depends on the host's load;
    time the hypervisor gives to other tenants is not CPU time either."""
    me = os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            f = _stat(f"/proc/{d}/stat")
        except OSError:  # the process ended meanwhile
            continue
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != me:
            p = parent[p]
        if p != me:
            continue
        total += t
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if fh.read().startswith(JIT_THREADS):
                        total -= sum(int(x) for x in _stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def measure(wl, spark, seconds: float, tracer=None) -> list[dict]:
    """Run the passes that fill ``seconds`` at the workload's nominal
    pass time; returns per-pass records of operation latencies, CPU
    times and failures.

    The pass count depends on ``seconds`` only, not on how fast the
    passes run (short of the deadline below): the engine is still
    warming up (JIT) during the run, so a faster commit that got more
    passes would sit later in that trend and read faster still.  With a tracer, passes alternate untraced and
    traced (at least one of each), so the trend cancels out of the
    tracing overhead.
    """
    passes = []
    op_id = 0
    n_passes = max(2 if tracer else 1, round(seconds / wl.pass_s))
    # a host so loaded that passes take thrice their nominal time cuts
    # the run short, so that it still ends within its time limit
    deadline = time.perf_counter() + 3 * seconds
    while len(passes) < n_passes and (len(passes) < 2 or time.perf_counter() < deadline):
        traced = tracer is not None and len(passes) % 2 == 1
        rec = {"traced": traced, "ops": [], "lat": [], "cpu": [], "failed": [], "wall": 0.0}
        if traced:
            tracer.install()
        for op in wl.ops():
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            err = None
            try:
                if traced:
                    run_traced(wl, spark, op, op_id, tracer)
                else:
                    wl.run_op(spark, op)
            except Exception as exc:  # count it, keep measuring
                err = f"raised {type(exc).__name__}: {str(exc)[:300]}"
            lat = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            if traced:
                tracer.harvest()
            if err is None:
                try:
                    err = wl.check_op(spark, op)
                except Exception as exc:  # a check that cannot run fails
                    err = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            rec["ops"].append(op_id)
            rec["lat"].append(lat)
            rec["cpu"].append(cpu)
            rec["wall"] += lat
            if err is not None:
                rec["failed"].append({"op": str(op), "error": err})
                print(f"# perfbench FAIL {op}: {err}", file=sys.stderr)
            op_id += 1
        if traced:
            tracer.uninstall()
        passes.append(rec)
    return passes


def run_traced(wl, spark, op, op_id: int, tracer) -> None:
    with tracer.operation(op_id):
        if hasattr(wl, "build"):  # registry key: construction, then execution
            with tracer.span("registry", "build"):
                df = wl.build(spark, op)
            with tracer.span("registry", "exec"):
                wl.execute(df)
        else:
            wl.run_op(spark, op)


@contextlib.contextmanager
def traced_setup(tracer):
    """Trace a session set-up as the pseudo-operation "setup"."""
    if tracer is None:
        yield
        return
    tracer.install()
    try:
        with tracer.operation("setup"):
            yield
    finally:
        tracer.uninstall()


def host_record(seed: int) -> dict:
    import hashlib
    import subprocess

    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))  # fixed CPU probe
    probe = time.perf_counter() - t
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "pfithic_spark")
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": list(os.getloadavg()),
        "cpu_probe_s": probe,
        "git_commit": commit,
        "source_sha1": h.hexdigest(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pfithic_spark", "__init__.py")):
        print(f"perfbench: no pfithic_spark package under {ROOT}", file=sys.stderr)
        return 2
    configure_env()
    import metrics
    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    record = {"workload": args.workload, "trace": args.trace, "size": args.size}
    record.update(host_record(args.seed))
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    record["inputs"] = wl.prepare(WORK, args.seed, args.size)
    record["prepare_s"] = time.perf_counter() - t

    tracer = None
    if args.trace:
        from spans import Tracer

        import __spark_entry__  # noqa: F401  (load every copy before wrapping)

        tracer = Tracer(None)
    try:
        t = time.perf_counter()
        with traced_setup(tracer):
            spark = start_session(nproc)
        record["first_setup_s"] = time.perf_counter() - t
        record["startup_s"] = time.perf_counter() - T_START

        t = time.perf_counter()
        wl.warm(spark)
        record["warm_s"] = time.perf_counter() - t
        record["reference_s"] = wl.reference_s

        if tracer is not None:
            tracer.set_spark(spark)
        passes = measure(wl, spark, args.seconds, tracer)
        record["passes"] = passes
        if tracer is not None:
            tracer.set_spark(None)

        setups = []
        for _ in range(SETUPS):
            spark.stop()
            t = time.perf_counter()
            with traced_setup(tracer):
                spark = start_session(nproc)
            setups.append(time.perf_counter() - t)
        record["setups_s"] = setups
    finally:
        stop_jvm()
    record["loadavg_after"] = list(os.getloadavg())

    attempted = sum(len(p["lat"]) for p in passes)
    failed = sum(len(p["failed"]) for p in passes)
    record["wall_best_s"] = metrics.best_pass(passes, "lat")
    if tracer is None:
        values = metrics.end_to_end(passes, setups, wl.rows)
    else:
        values = metrics.per_layer(tracer, passes, nproc, 1 + SETUPS)
    record["metrics"] = values
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    if tracer is not None:
        with open(os.path.join(records, f"spans-{tag}.json"), "w") as fh:
            json.dump(tracer.dump(), fh)
    with open(os.path.join(records, f"run-{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record, default=str), file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": unit} for name, (v, unit) in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
