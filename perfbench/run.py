#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload {interactive,curation,ingest}
        --seed N --seconds S --trace {0,1} [--small]

One process, one client, closed loop. Set-up starts the process and the
Spark session and runs one untimed warm-up pass whose outputs are
checked against oracles (the oracle's own time is left out of
``setup_s``). Then a fixed number of whole passes runs, about
``--seconds`` worth and at least three. The seed sets the order of operations within each pass and,
on ``ingest``, the generated docket trees.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` interleaves
untraced and traced passes and reports the per-layer metrics of the
traced ones, plus the tracing overhead; its spans are written to
``.perfbench_out/`` when the run ends. ``--small`` runs on the smallest
fixture scale for the self-test.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Exits 2 without a result when the engine is not in the checkout.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mirrulations_iceberg_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

MODULES = (
    "relational", "joins", "windows", "etl", "dedup", "text",
    "similarity", "maintenance", "streamq",
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}

#: Ingest-only end-to-end figures. The benchmark contract has every
#: workload print every end-to-end metric, never 0, so these are printed
#: as information lines by untraced ingest runs and reported among the
#: per-layer metrics of traced runs (0 on the other workloads).
INGEST_FIGURES = {
    "ingest_docs_per_s": "docs/s",
    "freshness_s": "s",
    "stored_bytes_per_json_byte": "B/B",
}

#: Per-operator-module metrics, summed over the operations of a traced
#: pass whose query is registered by that module.
OPERATOR_METRICS = {
    "call_s": "s",
    "action_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "driver_gap_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"operators.{m}.{k}": u
        for m in MODULES
        for k, u in OPERATOR_METRICS.items()
    }
    units.update({
        "session.get_spark_s": "s",
        "tables.load_table_calls": "count",
        "tables.load_table_s": "s",
        "etl.pipeline.run_pipeline_s": "s",
        "etl.pipeline.files_written": "count",
        "etl.pipeline.bytes_written": "B",
        "etl.pipeline.quarantined_rows": "count",
        "etl.workload_s": "s",
        "streaming.incremental.stream_comments_s": "s",
        "streaming.incremental.batches": "count",
        "streaming.incremental.input_rows": "count",
        "operators.streamq.sink_tables_left": "count",
        "spark.busy_frac": "ratio",
        "trace.overhead_s": "s",
    })
    units.update(INGEST_FIGURES)
    return units


def session_sizing() -> tuple[int, int, int]:
    """(cores, physical memory MiB, driver heap MiB). ``local[N]`` runs
    driver and executors in one JVM; its heap gets a quarter of memory,
    at most 4 GiB, so the run leaves room for Python workers and for
    other tenants of the machine."""
    cores = len(os.sched_getaffinity(0))
    mem_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            mem_mib = min(mem_mib, int(limit) >> 20)
    except OSError:
        pass
    return cores, mem_mib, max(1024, min(4096, mem_mib // 4))


def tail(passes: list[list[float]]) -> tuple[float, str]:
    """(value, description) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would sit under
    the median, so the median over passes of each pass's slowest
    operation is reported instead."""
    s = sorted(x for p in passes for x in p)
    n = len(s)
    if n < 21:
        return (statistics.median(max(p) for p in passes if p),
                f"median of per-pass maxima ({n} op latencies, {len(passes)} passes)")
    return s[n - 11], f"p{100.0 * (n - 10) / n:.1f} of {n} op latencies over {len(passes)} passes"


class Runner:
    def __init__(self, args, cores: int) -> None:
        self.args = args
        self.cores = cores
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None
        self.jobs = None
        #: Operation name → latencies in the timed passes.
        self.latencies: dict[str, list[float]] = {}

    def run_op(self, ctx, op, pass_no: int, traced: bool) -> float | None:
        """Run one operation; its latency, or None if it raised."""
        op.prepare(ctx, pass_no)
        self.attempted += 1
        tr = self.tracer if traced else None
        span = tr.span if tr else lambda _name: nullcontext()
        sc = ctx.spark.sparkContext
        if self.tracer:
            # The patched wrappers record spans in untraced passes too;
            # those belong to no traced operation.
            self.tracer.op_id = f"{self.args.workload}:{pass_no}:{op.name}" if tr else None
        if tr:
            sc.setJobGroup(f"{self.args.workload}:{op.name}", tr.op_id)
        start = call_end = time.time()
        failed = False
        try:
            with span(op.name):
                with span("call"):
                    df = op.call(ctx)
                call_end = time.time()
                if df is not None:
                    with span("action"):
                        op.action(ctx, df)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failures.append(f"{op.name}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc(file=sys.stderr)
            failed = True
        finally:
            end = time.time()
            ctx.spark.catalog.clearCache()
            if tr:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        if tr:
            # A failed operation's jobs are still its own, not the next one's.
            self.attribute(op, start, call_end, end)
        if not failed:
            self.latencies.setdefault(op.name, []).append(end - start)
        return None if failed else end - start

    def attribute(self, op, start: float, call_end: float, end: float) -> None:
        tr = self.tracer
        m = self.jobs.since_last(start, end)
        tr.add("spark.executor_run_s", m["executor_run_s"])
        if op.layer.startswith("operators."):
            tr.add(f"{op.layer}.call_s", call_end - start)
            tr.add(f"{op.layer}.action_s", end - call_end)
            for k in ("jobs", "tasks", "executor_cpu_s", "executor_run_s",
                      "shuffle_bytes", "spill_bytes"):
                tr.add(f"{op.layer}.{k}", m[k])
            tr.add(f"{op.layer}.driver_gap_s", (end - start) - m["job_time_s"])
        elif op.layer == "etl.workload":
            tr.add("etl.workload_s", end - start)

    def run_pass(self, ctx, ops, pass_no: int, traced: bool) -> tuple[float, list[float]]:
        """(wall time, latencies of the operations that succeeded)."""
        order = list(ops)
        self.rng.shuffle(order)
        lat = []
        start = time.time()
        for op in order:
            t = self.run_op(ctx, op, pass_no, traced)
            if t is not None:
                lat.append(t)
        return time.time() - start, lat


def configure_env(cores: int, heap_mib: int) -> dict[str, str]:
    """Process environment for the session; returns Spark confs that
    keep every file the run writes inside the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # Python workers import the engine from the checkout root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mib}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # No hsperfdata file in the system temp directory either.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_jvm(gateway) -> None:
    """Shut the Py4J gateway and wait for the JVM it launched to exit
    (the JVM exits when its stdin closes)."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("interactive", "curation", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="smallest fixture scale and ingest size (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2

    cores, mem_mib, heap_mib = session_sizing()
    shutil.rmtree(WORK, ignore_errors=True)
    conf = configure_env(cores, heap_mib)
    sys.path.insert(0, ROOT)

    import workloads
    from mirrulations_iceberg_spark import session
    from mirrulations_iceberg_spark.operators import collect_queries
    from mirrulations_iceberg_spark.tables import DEFAULT_SF_DIR, load_table
    from spans import Tracer

    collect_queries()  # imports every operator module before patching
    runner = Runner(args, cores)
    if args.trace:
        runner.tracer = Tracer()
        runner.tracer.patch_everywhere(PACKAGE, session.get_spark, "session.get_spark")
        runner.tracer.patch_everywhere(PACKAGE, load_table, "tables.load_table")

    wl = workloads.WORKLOADS[args.workload]()
    sf_dir = os.path.join(
        os.path.dirname(DEFAULT_SF_DIR.rstrip("/")),
        "sf0.001" if args.small else wl.scale,
    )
    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    gateway = spark.sparkContext._gateway
    ctx = workloads.Context(spark, sf_dir, os.path.join(WORK, "run"), args.seed,
                            args.small, runner.tracer)
    try:
        result, info = measure(runner, ctx, wl, args)
    finally:
        ctx.close()
        spark.stop()
        stop_jvm(gateway)

    info["session"] = (
        f"local[{cores}], {cores} shuffle partitions, driver heap {heap_mib} MiB "
        f"of {mem_mib} MiB memory, sf_dir {sf_dir}"
    )
    for k, v in info.items():
        print(f"{k}: {v}")
    print(json.dumps(result))
    return 0


def warm_up(runner: Runner, ctx, ops) -> tuple[float, dict[str, str]]:
    """The untimed warm-up pass, which is also the check pass. Returns
    ``setup_s`` (oracle time left out) and information lines."""
    oracle_s = 0.0
    t_warm = time.time()
    warm: dict[str, float] = {}
    # Declared order: ingest's read-back needs the pipeline's documents
    # table before it runs.
    for op in ops:
        op.prepare(ctx, 0)
        runner.attempted += 1
        t = time.time()
        try:
            err, o = op.check(ctx)
        except Exception as exc:  # noqa: BLE001 - counted as a failure
            traceback.print_exc(file=sys.stderr)
            err, o = f"{op.name}: {type(exc).__name__}: {exc}"[:500], 0.0
        finally:
            ctx.spark.catalog.clearCache()
        oracle_s += o
        warm[op.name] = time.time() - t - o
        if err:
            runner.failures.append(err)
    setup_s = time.time() - T0 - oracle_s
    ctx.samples.clear()
    return setup_s, {
        "setup": f"{setup_s:.3f} s, of which warm-up pass "
        f"{time.time() - t_warm - oracle_s:.3f} s; oracle checks {oracle_s:.3f} s not counted",
        "warm-up": " ".join(f"{k}={v:.2f}" for k, v in warm.items()),
    }


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def end_to_end(runner: Runner, ctx, ops, count: int, setup_s: float,
               info: dict) -> dict:
    steal0, total0 = _cpu_ticks()
    runs = [runner.run_pass(ctx, ops, 1 + i, traced=False) for i in range(count)]
    steal1, total1 = _cpu_ticks()
    # Time the hypervisor gave other guests: the host's share of the
    # run-to-run spread, not the engine's.
    info["cpu_steal"] = f"{100 * (steal1 - steal0) / max(1, total1 - total0):.1f}% during timed passes"
    passes = [d for d, _ in runs]
    # A pass whose every operation failed counts as one slow sample;
    # failed_frac says why.
    per_pass = [lat or [d] for d, lat in runs]
    value, info["op_tail_s"] = tail(per_pass)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(x for p in per_pass for x in p),
        "op_tail_s": value,
    }
    info["passes"] = " ".join(f"{d:.3f}" for d in passes)
    info["op medians"] = " ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in runner.latencies.items()
    )
    for k, u in INGEST_FIGURES.items():
        if ctx.samples.get(k):
            v = ctx.samples[k]
            info[k] = f"{statistics.median(v):.6g} {u} (median of {len(v)})"
    return {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(runner: Runner, ctx, ops, count: int, args, info: dict) -> dict:
    """Untraced and traced passes, at least two of each, in the order
    U T T U U T T U ... so that drift over the run (warm-up left over,
    ingest's growing sink) falls on both alike. Per-layer values are
    totals per traced pass; ``trace.overhead_s`` is the difference of
    the two pass-time medians."""
    from spans import SparkJobs

    tr = runner.tracer
    runner.jobs = SparkJobs(ctx.spark)
    plain: list[float] = []
    traced: list[float] = []
    for i in range(2 * max(2, (count + 1) // 2)):
        on = i % 4 in (1, 2)
        tr.counting = on
        if on:
            runner.jobs.skip()  # the untraced pass's jobs are no one's
        d, _ = runner.run_pass(ctx, ops, 1 + i, traced=on)
        (traced if on else plain).append(d)
    tr.counting = False
    values = {k: v / len(traced) for k, v in tr.counters.items()}
    values["session.get_spark_s"] = sum(
        s["end"] - s["start"] for s in tr.spans if s["name"] == "session.get_spark"
    )
    values["operators.streamq.sink_tables_left"] = len(ctx.spark.streams.active) + len(
        ctx.spark.catalog.listTables()
    )
    values["spark.busy_frac"] = values.get("spark.executor_run_s", 0.0) / (
        statistics.mean(traced) * runner.cores
    )
    values["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    for k in INGEST_FIGURES:
        if ctx.samples.get(k):
            values[k] = statistics.median(ctx.samples[k])
    info["trace"] = (
        f"{len(plain)} untraced passes (median {statistics.median(plain):.3f} s), "
        f"{len(traced)} traced (median {statistics.median(traced):.3f} s), interleaved"
    )
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
    tr.dump(path, {"workload": args.workload, "seed": args.seed, "metrics": values})
    info["spans"] = f"{len(tr.spans)} spans written to {os.path.relpath(path, ROOT)}"
    return {k: {"value": values.get(k, 0), "unit": u} for k, u in per_layer_units().items()}


def measure(runner: Runner, ctx, wl, args) -> tuple[dict, dict]:
    """(result object, information lines) of one run."""
    ops = wl.ops(ctx)
    setup_s, info = warm_up(runner, ctx, ops)
    count = wl.passes(args.seconds)
    if runner.tracer is None:
        metrics = end_to_end(runner, ctx, ops, count, setup_s, info)
    else:
        metrics = per_layer(runner, ctx, ops, count, args, info)
        runner.tracer.unpatch()
    runner.failures += wl.final_check(ctx)
    failed = len(runner.failures)
    if runner.failures:
        info["failures"] = runner.failures
    info["failed_frac"] = (
        f"{failed / runner.attempted:.4f} ({failed} of {runner.attempted} operations)"
    )
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, info


if __name__ == "__main__":
    sys.exit(main())
