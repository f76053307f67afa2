"""Benchmark of the MapReduce engine, one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client in one process sends its
queries one after another (a closed loop) to a Spark ``local[N]``
session, N = the CPUs this process may run on. A run:

1. set-up: sizes the session to the machine, writes the fixture
   tables if the checkout has none yet (see ``fixtures``), starts the
   session through ``session.get_spark``, then runs one pass that
   collects every step's result and checks it (a wrong answer is
   counted as a failure and the run goes on), and the workload's
   untimed warm-up passes (``workloads.SHAPES``). ``setup_s`` is the
   time from the start of this script to here;
2. a fixed number of timed passes over the workload's step list, to
   the noop sink: as many as take ``--seconds`` at the workload's
   nominal warm pass time (measured on 4 CPUs), at least two. A fixed
   count, rather than "until the time is up", puts every run's passes
   at the same point of the JVM's warm-up curve, whatever the
   machine's speed at the time.

With ``--trace 0`` the last line of stdout is the end-to-end result:
``pass_s`` (median pass), ``query_geomean_s`` (geometric mean of each
step's median time), ``cpu_s`` (CPU of the process tree per pass),
``peak_rss_mb`` (peak summed RSS of the tree), ``ok_share`` (steps
that neither raised nor failed their check, over steps attempted) and
``setup_s``. With ``--trace 1`` the timed passes alternate untraced
and traced, and the last line holds the per-layer metrics of
``layers.PER_LAYER``, each the median over the traced passes; spans
are written to ``perfbench/.work/spans.jsonl``.

Everything the run writes stays under ``perfbench/.work`` in the
checkout: the program's scratch directories, Spark's local dirs, the
JVM's temp dir and the fixture tables.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MAX_HEAP_MB = 1024


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def size_session(tmp: str) -> dict[str, str]:
    """Set the overrides ``session.get_spark`` honours from the
    machine: one task thread per CPU this process may use, and a heap
    of half of MemAvailable, at most MAX_HEAP_MB (a heap the workloads
    fill keeps the peak RSS steady from run to run). Also point every
    scratch location, the JVMs' included, at ``tmp``, inside the
    checkout."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(MAX_HEAP_MB, mem_available_mb() // 2)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


class Ctx:
    """What the steps share within one run."""

    def __init__(self, spark, sf_dir, seed, duck):
        self.spark, self.sf_dir, self.seed, self.duck = spark, sf_dir, seed, duck
        self.records = spark.sparkContext.accumulator(0)
        self.pairs = spark.sparkContext.accumulator(0)
        self.results, self.wins = {}, {}
        self._oracles = {}

    def oracle(self, name):
        """The query's DuckDB oracle at the benchmark's fixture; a
        data-derived oracle is resolved for this fixture."""
        if name not in self._oracles:
            from fsharp_mapreduce_spark.registry import QUERIES

            spec = QUERIES[name]
            self._oracles[name] = (
                spec.oracle_factory(self.sf_dir) if spec.oracle_factory else spec.oracle_static
            )
        return self._oracles[name]


class Tally:
    """Steps attempted and failed over the whole run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.why: dict[str, str] = {}

    def fail(self, name, why):
        self.failed += 1
        self.why.setdefault(name, why)

    def run(self, step, ctx, rec, check):
        """Run a step once: (seconds, output), or (None, None) if it
        raised or failed its check."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with rec.span(step.name):
                out = step.run(ctx, rec, check)
        except Exception as ex:  # a failing step is counted; the run goes on
            traceback.print_exc(file=sys.stderr)
            self.fail(step.name, f"{type(ex).__name__}: {str(ex)[:300]}")
            return None, None
        return time.perf_counter() - t, out


def run_pass(steps, ctx, tally, rec, check=False):
    """One pass over the steps: (wall seconds, {step: seconds}, {step: output})."""
    times, outs = {}, {}
    t = time.perf_counter()
    for step in steps:
        if step.check_only and not check:
            continue
        dt, out = tally.run(step, ctx, rec, check)
        if dt is not None:
            times[step.name], outs[step.name] = dt, out
    return time.perf_counter() - t, times, outs


def quartile_spread(values):
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "fsharp_mapreduce_spark", "__init__.py")):
        print(f"no fsharp_mapreduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        return measure(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stop(spark):
    """Stop the session, then the JVM (it exits when its stdin
    closes), and wait until every process the run started has ended."""
    import proctree
    from pyspark import SparkContext

    started = proctree.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    proctree.wait_gone(started | proctree.descendants(), timeout=30)


def measure(args, tmp) -> int:
    sizing = size_session(tmp)
    sys.path[:0] = [HERE, ROOT]
    import fixtures
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    steps = workloads.WORKLOADS[args.workload]
    sf_dir = fixtures.ensure(WORK)
    os.environ["SPARK_GRAFT_GATE_SF_DIR"] = sf_dir

    import duckdb

    import layers
    import proctree
    from fsharp_mapreduce_spark.registry import load_all_query_modules
    from fsharp_mapreduce_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t
    try:
        load_all_query_modules()
        duck = duckdb.connect()
        for name in fixtures.TABLES:
            duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
            )
        ctx = Ctx(spark, sf_dir, args.seed, duck)
        tally = Tally()
        null = layers.NullRecorder()

        check_s, check_times, hashes = run_pass(steps, ctx, tally, null, check=True)
        for cross in workloads.CROSS_CHECKS.get(args.workload, ()):
            tally.attempted += 1
            try:
                cross(ctx)
            except workloads.CheckFailed as ex:
                tally.fail(cross.__name__, str(ex))
        shape = workloads.SHAPES[args.workload]
        warm = [run_pass(steps, ctx, tally, null)[0] for _ in range(shape.warmup)]
        setup_s = time.perf_counter() - T0
        print(f"# set-up: session {session_s:.2f} s, check pass {check_s:.2f} s "
              f"{ {k: round(v, 2) for k, v in check_times.items()} }, "
              f"warm-up passes {' '.join(f'{w:.2f}' for w in warm)} s")

        run_id = uuid.uuid4().hex[:12]
        passes, traced, recs = [], [], []
        step_times = {s.name: [] for s in steps if not s.check_only}
        rss = proctree.PeakRss()
        cpu0 = proctree.cpu_seconds()
        rss.start()
        count = shape.timed_passes(args.seconds)
        for n in range(count):
            if args.trace == 1 and n % 2 == 1:
                t = time.perf_counter()
                rec = layers.Recorder(spark, run_id, n)
                rec.start()
                with rec.span(f"pass {n}"):
                    run_pass(steps, ctx, tally, rec)
                rec.finish()
                traced.append(time.perf_counter() - t)
                recs.append(rec)
            else:
                wall, times, _ = run_pass(steps, ctx, tally, null)
                passes.append(wall)
                for name, dt in times.items():
                    step_times[name].append(dt)
        rss.stop()
        cpu_s = (proctree.cpu_seconds() - cpu0) / count
    finally:
        stop(spark)

    print(f"# workload {args.workload} seed {args.seed}: "
          f"local[{sizing['SPARK_GRAFT_CPUS']}], driver heap {sizing['SPARK_DRIVER_MEMORY']}, "
          f"{len(passes)} untraced + {len(traced)} traced passes")
    print("# untraced passes (s): " + " ".join(f"{p:.3f}" for p in passes))
    for name, ts in step_times.items():
        if ts:
            print(f"#   {name:34s} median {statistics.median(ts):8.3f} s  "
                  f"IQR {quartile_spread(ts):7.3f} s  n={len(ts)}")
    for name, why in tally.why.items():
        print(f"#   FAILED {name}: {why}")
    print("# result hashes " + json.dumps({k: v for k, v in hashes.items() if v}))

    if args.trace == 1:
        for rec in recs:
            rec.dump(os.path.join(WORK, "spans.jsonl"))
        values = {
            name: statistics.median(r.metrics[name] for r in recs)
            for name in layers.PER_LAYER
        }
        values["session.start_s"] = session_s
        values["trace.pass_s"] = statistics.median(traced)
        values["trace.overhead_s"] = statistics.median(traced) - statistics.median(passes)
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in layers.PER_LAYER.items()
        }
    else:
        medians = [statistics.median(ts) for ts in step_times.values() if ts]
        geomean = math.exp(sum(map(math.log, medians)) / len(medians)) if medians else 0.0
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(passes), "unit": "s"},
            "query_geomean_s": {"value": geomean, "unit": "s"},
            "cpu_s": {"value": cpu_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
            "ok_share": {
                "value": 1 - tally.failed / tally.attempted, "unit": "ratio"
            },
        }
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
