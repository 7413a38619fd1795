"""Benchmark of the engine's user jobs, end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload community_sample --seed 1 --seconds 8 --trace 0

One process, one SparkSession on ``local[<cores>]``, one client in a closed
loop: a job starts only after the previous one has finished and the
session has been cleaned. The workloads, metrics and bounds are declared in
``BENCHMARK.json``; ``perfbench/README.md`` says what each number means.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced jobs and prints the per-layer metrics, with the tracing
overhead. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from status import SparkStatus, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Input generation and writing is repeated this many times per run and the
# median is charged to setup_s; the copies must be byte-identical.
INPUT_REPEATS = 3
# Driver heap: the package default (32g) exceeds this class of host; the
# live set of these inputs is well under 1 GB.
DRIVER_MEMORY = "4g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(work: str) -> None:
    """Deployment settings only, set before the JVM starts."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # The periodic-GC timer fires full GCs inside timed jobs; the loop
        # runs an explicit GC and cleaner drain between jobs instead.
        SPARK_GRAFT_PERIODIC_GC="24h",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",
    )
    time.tzset()


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Loop:
    """Runs jobs one after another and keeps the books."""

    def __init__(self, spark, status: SparkStatus, workload):
        self.spark = spark
        self.status = status
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.clean_s = 0.0

    def clean(self) -> None:
        """Untimed: drop the job's cached frames and memo pools, then GC
        and wait for the ContextCleaner, so no job reads the previous
        one's cache or pays its cleanup."""
        from sna_pyspark_graphframes_spark import registry

        t0 = time.perf_counter()
        self.spark.catalog.clearCache()
        registry.clear_session_caches()
        gc.collect()
        self.status.drain_cleaner()
        self.clean_s += time.perf_counter() - t0

    def run(self, traced: bool = False):
        """One job; returns (seconds, tracer or None)."""
        self.attempted += 1
        tracer = Tracer(self.status) if traced else None
        out = None
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("job"):
                    out = self.w.traced_job(self.spark, tracer)
            else:
                out = self.w.job(self.spark)
            dt = time.perf_counter() - t0
            problems = self.w.check(out)
        except Exception:
            dt = time.perf_counter() - t0
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            for p in problems:
                print(f"# check failed: {p}", file=sys.stderr, flush=True)
        del out
        self.clean()
        return dt, tracer


def layer_metrics(tracers: list[Tracer], names: list[str], untraced: dict[str, float], cores: int) -> dict[str, float]:
    """Median over traced jobs of each ``<span>.<counter>`` summed over the
    job's spans of that name. Spans that did not run on this workload
    read 0. ``untraced`` holds the untraced jobs' ``job_s`` and
    ``retained_mb``."""
    per_job = []
    for tr in tracers:
        sums: dict[str, float] = {}
        for sp in tr.spans:
            for k, v in sp.counters.items():
                key = f"{sp.name}.{k}"
                sums[key] = sums.get(key, 0.0) + v
        job = sums["job.s"]
        children = sum(sp.counters["s"] for sp in tr.spans if sp.parent == "job")
        sums["job.self_s"] = job - children
        sums["job.utilisation"] = sums["job.task_s"] / (job * cores)
        per_job.append(sums)
    out = {}
    for name in names:
        if name == "trace.overhead_s":
            out[name] = statistics.median(j["job.s"] for j in per_job) - untraced["job_s"]
        elif name == "job.retained_mb":
            out[name] = untraced["retained_mb"]
        else:
            out[name] = statistics.median(j.get(name, 0.0) for j in per_job)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # Fail before starting anything when the engine is not in this tree.
    sys.path.insert(0, root)
    try:
        import sna_pyspark_graphframes_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not found under {root}: {exc}", file=sys.stderr)
        return 2

    out_root = os.path.join(root, ".perfbench")
    work = os.path.join(out_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        return run(args, spec, work, out_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, work: str, out_root: str) -> int:
    from sna_pyspark_graphframes_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=session_conf(work))
    session_s = time.perf_counter() - PROCESS_START
    try:
        return measure(args, spec, spark, work, out_root, session_s)
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def measure(args, spec, spark, work, out_root, session_s) -> int:
    status = SparkStatus(spark)
    w = WORKLOADS[args.workload](args.seed)

    input_s, digests = [], set()
    for i in reversed(range(INPUT_REPEATS)):  # the program reads the last copy
        d = os.path.join(work, f"input{i}")
        os.makedirs(d)
        t0 = time.perf_counter()
        files = w.make_inputs(d)
        input_s.append(time.perf_counter() - t0)
        digests.add(digest(files))
    if len(digests) != 1:
        raise RuntimeError("the same seed wrote different input files")
    w.references(spark)  # untimed: networkx / DuckDB answers

    loop = Loop(spark, status, w)
    t0 = time.perf_counter()
    warmup = [loop.run()[0] for _ in range(w.warmup_jobs)]
    setup_s = session_s + statistics.median(input_s) + (time.perf_counter() - t0)

    times, traced_times, tracers, retained = [], [], [], []
    mem = status.block_store_bytes()
    t_start = time.perf_counter()
    while not times or time.perf_counter() - t_start < args.seconds:
        dt, _ = loop.run()
        times.append(dt)
        now = status.block_store_bytes()
        retained.append((now - mem) / 1e6)
        mem = now
        if args.trace:
            failed = loop.failed
            dt, tracer = loop.run(traced=True)
            if loop.failed == failed:
                traced_times.append(dt)
                tracers.append(tracer)
            mem = status.block_store_bytes()

    job_s = statistics.median(times)
    e2e = {
        "setup_s": setup_s,
        "job_s": job_s,
        "rows_per_s": w.input_rows / job_s,
        "retained_mb": statistics.median(retained),
        "error_rate": loop.failed / loop.attempted,
    }
    print(
        f"# {w.name} seed={args.seed} cores={status.cores} input_rows={w.input_rows} "
        f"warmup_s={[round(x, 2) for x in warmup]} job_s_samples={[round(x, 2) for x in times]} "
        f"cleaning_s={loop.clean_s:.2f}"
    )
    print(
        f"# {w.name}: setup_s={setup_s:.3f} s  job_s={job_s:.3f} s (n={len(times)})  "
        f"rows_per_s={e2e['rows_per_s']:.1f} 1/s  retained_mb={e2e['retained_mb']:.1f} MB  "
        f"error_rate={e2e['error_rate']:.3f} ({loop.failed}/{loop.attempted})"
    )
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        write_trace(out_root, w.name, args.seed, tracers, times, traced_times)
        if not tracers:  # every traced job failed; the failures are counted
            values = dict.fromkeys(names, 0.0)
        else:
            values = layer_metrics(tracers, names, e2e, status.cores)
            covered = statistics.median(
                sum(sp.counters["s"] for sp in tr.spans if sp.parent == "job") for tr in tracers
            )
            print(
                f"# {w.name}: traced job {statistics.median(traced_times):.3f} s, "
                f"untraced {job_s:.3f} s, overhead {values['trace.overhead_s']:.3f} s; "
                f"layer spans cover {covered:.3f} s "
                f"(|spans - untraced job| = {abs(covered - job_s):.3f} s)"
            )
        for name in names:
            if values[name]:
                print(f"#   {name} = {values[name]:.4f} {units[name]}")
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def write_trace(out_root, name, seed, tracers, times, traced_times) -> None:
    os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
    path = os.path.join(out_root, "traces", f"{name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": name,
                "seed": seed,
                "untraced_job_s": times,
                "traced_job_s": traced_times,
                "jobs": [[sp.__dict__ for sp in tr.spans] for tr in tracers],
            },
            f,
            indent=1,
        )
    print(f"# spans written to {os.path.relpath(path)}")


if __name__ == "__main__":
    sys.exit(main())
