#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload audit_spans --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run: make (or reuse) the seeded inputs, start one local[N] Spark session
with N = the CPUs this process may use, warm up, then run the workload's op
in a closed loop with one client for --seconds, checking every output.  It
prints a table of the workload's named metrics, then, as the last line, one
JSON object with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1).  ``--workload all`` runs every workload in turn, one process
each, and prints their tables.  See README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from tracing import PeakRss, StageCounters, descendants, instrument  # noqa: E402
from workloads import WORKLOADS, Outcome  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
PACKAGE_DIR = ROOT / "jsons_to_schema_spark"
DRIVER_MEM = "3g"  # one JVM hosts driver and executors; leaves RAM for workers

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.scan_s": "s",
    "sources.arrow_transfer_s": "s",
    "schema_algebra.fold_docs_per_s": "docs/s",
    "trace.op_s": "s",
    "trace.overhead_share": "ratio",
    "trace.unattributed_share": "ratio",
    "spark.tasks": "count",
    "spark.input_records": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.idle_share": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="input size override (tests use tiny inputs)")
    return p.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(cpus: int) -> None:
    """Environment the session and its Python workers inherit.  Scratch
    files stay inside the benchmark's work directory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))


def start_spark(cpus: int, app: str):
    from jsons_to_schema_spark.session import ENGINE_CONF, get_spark

    java_opts = f"{ENGINE_CONF['spark.driver.extraJavaOptions']} -Djava.io.tmpdir={WORK / 'tmp'}"
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=app,
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched, and wait for every
    process this run started (the JVM and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def pct_tail(values: list[float], lower_is_worse: bool = False) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it, on the
    bad side: above for times, below for rates (``lower_is_worse``)."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11  # index with exactly ten samples beyond it
    ranked = sorted(values, reverse=lower_is_worse)
    return f"p{100 * (k + 1) // n}", ranked[k]


def run_ops(w, trace: bool, counters, count: int | None = None, seconds: float = 0.0):
    """Closed loop with one client: ``count`` ops, or as many as start
    within ``seconds``.  Ops alternate untraced/traced in a traced run, so
    both kinds see the same warm-up state."""
    records = []
    deadline = time.perf_counter() + seconds
    min_ops = 2 if trace else 1
    i = 0
    while i < count if count is not None else (i < min_ops or time.perf_counter() < deadline):
        traced = trace and i % 2 == 1
        before = counters.snapshot() if traced else None
        t0 = time.perf_counter()
        try:
            if traced:
                with w.tracer.traced_op(i):
                    out = w.op()
            else:
                out = w.op()
        except Exception as exc:  # a failed op is counted, the run goes on
            traceback.print_exc()
            out = Outcome()
            out.errors.append(f"raised {type(exc).__name__}: {exc}")
        wall = time.perf_counter() - t0
        rec = {"i": i, "traced": traced, "wall": wall, "out": out}
        if traced:
            rec["layer"] = {**w.layer_counters(out), **counters.diff(before)}
        phases = " ".join(f"{k}={v:.3f}" for k, v in out.phases.items())
        print(f"[{w.name}] {'timed' if count is None else 'warm-up'} op {i}: "
              f"wall={wall:.3f}s {phases}{' traced' if traced else ''}", file=sys.stderr)
        for err in out.errors:
            print(f"[{w.name}] op {i} FAILED CHECK: {err}", file=sys.stderr)
        records.append(rec)
        i += 1
    return records


def median(values):
    return statistics.median(values) if values else float("nan")


def run(args) -> dict:
    cpus = cpu_count()
    configure_env(cpus)
    w = WORKLOADS[args.workload](WORK, args.seed, args.docs)
    t0 = time.perf_counter()
    w.make_inputs()
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(cpus, f"perfbench-{w.name}")
    get_spark_s = time.perf_counter() - t0
    try:
        rss = PeakRss(spark.sparkContext._gateway.proc.pid).start()
        w.start(spark)
        counters = StageCounters(spark) if args.trace else None
        if args.trace:
            instrument(w.tracer, w.trace_targets)
        warm = run_ops(w, False, counters, count=w.warmup_ops)
        setup_s = time.perf_counter() - T_START - gen_s
        timed = run_ops(w, bool(args.trace), counters, seconds=args.seconds)
        probes = w.probes() if args.trace else {}
        peak_mb = rss.stop()
        w.stop()
    finally:
        stop_spark(spark)

    ops = [r for r in timed if not r["traced"]]
    failed = sum(1 for r in warm + timed if r["out"].errors)
    result = {
        "correct": failed == 0,
        "attempted": len(warm) + len(timed),
        "failed": failed,
    }
    named = [("setup_s", [setup_s], "s"), ("peak_rss_mb", [peak_mb], "MB"),
             ("error_rate", [failed / result["attempted"]], "ratio")]
    named += w.named_metrics([r["out"] for r in ops])
    print_table(w, args, named, len(warm), gen_s)

    if not args.trace:
        docs_per_s = median([r["out"].docs / sum(r["out"].phases.values()) for r in ops])
        values = {"docs_per_s": docs_per_s, "setup_s": setup_s, "peak_rss_mb": peak_mb}
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        return result

    traced = [r for r in timed if r["traced"]]
    layer = trace_metrics(w, traced, ops, cpus)
    layer.update(probes)
    layer["session.get_spark_s"] = get_spark_s
    print_layers(w, layer, len(traced))
    w.tracer.write(WORK / f"trace_{w.name}_seed{args.seed}.json")
    result["metrics"] = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    return result


def trace_metrics(w, traced: list, untraced: list, cpus: int) -> dict:
    """Per-layer medians over the traced ops: self time per span name,
    layer counters, Spark stage counters and the tracing overhead."""
    per_op = []
    for r in traced:
        self_times = w.tracer.self_times(r["i"])
        row = {f"{name}_s": t for name, t in self_times.items()}
        row.update(r["layer"])
        row["trace.op_s"] = r["wall"]
        row["trace.self_time_sum_s"] = sum(self_times.values())
        row["trace.unattributed_share"] = row.get("op_s", 0.0) / r["wall"]
        row["spark.idle_share"] = 1 - r["layer"]["spark.executor_run_s"] / (r["wall"] * cpus)
        per_op.append(row)
    names = sorted({k for row in per_op for k in row})
    out = {k: median([row.get(k, 0.0) for row in per_op]) for k in names}
    base = median([r["wall"] for r in untraced])
    out["trace.overhead_share"] = (out["trace.op_s"] - base) / base
    return out


def print_table(w, args, named, n_warm, gen_s) -> None:
    print(f"# {w.name} seed={args.seed} docs={w.n} warm-up ops={n_warm} "
          f"input generation {gen_s:.1f}s (not in setup_s)")
    print(f"# {'metric':<20} {'median':>14} {'unit':<7} {'n':>3}  tail")
    for name, values, unit in named:
        tail = pct_tail(values, lower_is_worse=unit.endswith("/s"))
        tail_txt = f"{tail[0]}={tail[1]:.4g}" if tail else "n<11: no percentile with 10 beyond"
        print(f"# {name:<20} {median(values):>14.6g} {unit:<7} {len(values):>3}  {tail_txt}")


def print_layers(w, layer, n) -> None:
    print(f"# per-layer medians over {n} traced ops and the post-loop probes")
    for k in sorted(layer):
        mark = "" if k in PER_LAYER else "   (trace report)"
        print(f"#   {k:<48} {layer[k]:>14.6g}{mark}")


def run_all(args) -> int:
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.docs:
            cmd += ["--docs", str(args.docs)]
        proc = subprocess.run(cmd)
        status = status or proc.returncode
    return status


def main(argv=None) -> int:
    if not (PACKAGE_DIR / "__init__.py").exists():
        print(f"perfbench: program package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
