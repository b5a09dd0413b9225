#!/usr/bin/env python3
"""Benchmark of the bigdataamazon_spark engine, end to end and per layer.

    python3 perfbench/run.py --workload driver_bound --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, closed loop:

1. generate the seeded sf0.1 tables (cached per seed under
   perfbench/.work; the time is reported as ``gen_s``, not as set-up);
2. set the run environment: the checkout on PYTHONPATH so Python workers
   import the package, SPARK_GRAFT_CPUS = usable CPUs, and
   SPARK_GRAFT_DRIVER_MEM = a quarter of RAM when the program's 16g
   default does not fit; work in a fresh directory under perfbench/.work;
3. import the package, start its session (``get_spark``) and run the
   workload's warm-up: together that is ``setup_s``;
4. verify the warm-up's outputs against independent answers;
5. repeat the workload's unit of work (a pass or a flow) until
   ``--seconds`` have passed and ``min_units`` units are done, always
   finishing the unit in progress.

``--trace 0`` reports the end-to-end metrics: setup_s, wall_s, op_p50_s
and op_tail_s (the highest percentile with at least ten ops beyond it).
wall_s is the run's fastest unit: this kind of host shows bursts of CPU
steal that slow every op for seconds at a time, and the fastest of
several units is the steadiest estimate of the workload's cost (bench.py
takes the min of two timed runs for the same reason). ``--trace 1`` turns on job groups, a Py4J counter, the
event log (conf/traced) and the UDF profiler and reports the per-layer
metrics listed in BENCHMARK.json. The last stdout line is one JSON
object: correct, attempted, failed, metrics; the line before it holds
the run's details (units, percentile used, gen_s, verify_s, steal).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import inputs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = ROOT / "BENCHMARK.json"
KEEP_SEEDS = 8
# The program's default heap (session.py); capped below on smaller hosts.
PROGRAM_HEAP_MB = 16 * 1024


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_inputs(work: Path, seed: int) -> tuple[Path, float]:
    """The seeded tables, generated once per seed and kept for the last
    few seeds; returns (dir, seconds spent generating)."""
    root = work / "inputs"
    final = root / f"seed{seed}"
    t0 = time.perf_counter()
    if not (final / "documents.parquet").exists():
        tmp = root / f"tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        inputs.make_tables(str(tmp), seed)
        shutil.rmtree(final, ignore_errors=True)
        tmp.rename(final)
    final.touch()
    for old in sorted(root.glob("seed*"), key=lambda p: p.stat().st_mtime)[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return final, time.perf_counter() - t0


def host_env(run_dir: Path, traced: bool) -> int:
    """The run environment; returns the CPU count the session uses."""
    cpus = len(os.sched_getaffinity(0))
    env = os.environ
    # Python workers import the package too, from wherever they start.
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    if PROGRAM_HEAP_MB > mem_mb:
        # the JVM's own default: a quarter of physical memory
        env["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb // 4}m"
    env["SPARK_CONF_DIR"] = str(HERE / "conf" / ("traced" if traced else "plain"))
    # spark-submit's launcher JVM; the driver JVM gets the same from conf/
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    env["TMPDIR"] = str(run_dir / "tmp")
    for sub in ("spark-local", "tmp", "eventlog"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    return cpus


def tail(lat: list[float]) -> tuple[int, float]:
    """(percentile, value): the highest of p99/p95/p90/p75 with at least
    ten samples beyond it, else the median."""
    n = len(lat)
    p = next((p for p in (99, 95, 90, 75) if n * (100 - p) >= 1000), 50)
    if n < 2:
        return p, lat[0]
    return p, statistics.quantiles(lat, n=100, method="inclusive")[p - 1]


def phase_seconds(spans: list[dict]) -> dict[str, float]:
    """Span seconds summed by phase."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["phase"]] = out.get(s["phase"], 0.0) + s["end"] - s["start"]
    return out


def per_layer(tracer, units: int, cpus: int, event_log: str) -> dict[str, float]:
    """Fold the timed region's spans, samples and task metrics into the
    per-layer metrics. Times and counts are per unit of work (a pass or
    a flow); ratios and maxima are per run."""
    spans = tracer.spans
    by_phase = phase_seconds(spans)
    build = by_phase.pop("build", 0.0)
    plan = by_phase.pop("plan", 0.0)
    execute = sum(by_phase.values())
    builds = [s for s in spans if s["phase"] == "build"]
    run_jobs = {j for s in spans if s["phase"] != "build" for j in s["jobs"]}
    ops = tracing.operator_metrics(event_log, run_jobs)

    def mean(name):
        values = tracer.samples.get(name)
        return statistics.mean(values) if values else 0.0

    out = {
        "queries.build_s": build / units,
        "queries.build_share": build / max(1e-9, build + plan + execute),
        "queries.py4j_calls": sum(s["py4j_calls"] for s in builds) / units,
        "queries.py4j_s": sum(s["py4j_s"] for s in builds) / units,
        "queries.eager_jobs": sum(len(s["jobs"]) for s in builds) / units,
        "plans.plan_s": plan / units,
        "plans.exchanges": mean("plans.exchanges"),
        "plans.codegen_stages": mean("plans.codegen_stages"),
        "operators.exec_s": execute / units,
        "operators.busy_ratio": ops["task_s"] / max(1e-9, execute * cpus),
        "catalog.cached_relations": max(tracer.samples["catalog.cached_relations"], default=0),
        "catalog.cached_mb": max(tracer.samples["catalog.cached_mb"], default=0.0),
        "report.write_s": by_phase.get("report", 0.0) / units,
        "sources.write_s": by_phase.get("write", 0.0) / units,
    }
    for name, value in ops.items():
        out[f"operators.{name}"] = value / units
    return out


def shut_down(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "bigdataamazon_spark" / "__init__.py").is_file():
        print(f"perfbench: no bigdataamazon_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / ".work"
    tables, gen_s = prepare_inputs(work, args.seed)
    run_dir = work / f"run{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = host_env(run_dir, bool(args.trace))
    os.chdir(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        import bigdataamazon_spark.queries  # noqa: F401
        from bigdataamazon_spark.session import get_spark

        t1 = time.perf_counter()
        spark = get_spark("perfbench")
        t2 = time.perf_counter()
        tracer = tracing.Tracer(spark, bool(args.trace))
        if args.trace:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        ctx = SimpleNamespace(
            spark=spark, tables=str(tables), seed=args.seed, cpus=cpus,
            tracer=tracer, run_dir=str(run_dir),
        )
        wl = WORKLOADS[args.workload](ctx)
        wl.warm()
        t3 = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t3

        tracer.spans.clear()
        tracer.samples.clear()
        cpu0 = tracing.cpu_times()
        walls, lat, failed, k, outside = [], [], 0, 0, 0.0
        start = time.perf_counter()
        while True:
            wall, unit_lat, unit_failed = wl.unit(k)
            walls.append(wall)
            outside += wall - sum(unit_lat)
            lat += unit_lat
            failed += unit_failed
            k += 1
            if k >= wl.min_units and time.perf_counter() - start >= args.seconds:
                break
        cpu1 = tracing.cpu_times()
        attempted = len(lat) + k * wl.extra_attempts()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = {"python": tracing.vm_hwm_mb("self"), "jvm": tracing.vm_hwm_mb(jvm_pid)}
        layer = {"host.peak_rss_mb": sum(rss_mb.values())}
        if args.trace:
            layer["operators.python_worker_s"] = tracer.python_worker_s(
                str(run_dir / "profile")
            )
        shut_down(spark)
        spark = None

        import_s, start_s, warmup_s = t1 - t0, t2 - t1, t3 - t2
        p, tail_s = tail(lat)
        metrics = {
            "setup_s": (import_s + start_s + warmup_s, "s"),
            "wall_s": (min(walls), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
        }
        if args.trace:
            layer.update(per_layer(tracer, k, cpus, str(run_dir / "eventlog")))
            layer.update(wl.layers())
            layer.update({
                "session.import_s": import_s,
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                # a unit's time outside its ops: the flow's pipeline
                "flow.pipeline_s": outside / k,
                "host.steal_ratio": tracing.steal_ratio(cpu0, cpu1),
                "trace.wall_s": min(walls),
            })
            # a layer the workload never touches reads 0
            metrics = {
                m["name"]: (layer.get(m["name"], 0.0), m["unit"])
                for m in json.loads(SPEC.read_text())["per_layer"]
            }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "units": k, "ops": len(lat), "tail_percentile": p,
            "gen_s": gen_s, "verify_s": verify_s,
            "steal_ratio": tracing.steal_ratio(cpu0, cpu1), "problems": wl.problems,
            "phase_s": phase_seconds(tracer.spans), "walls": walls, "rss_mb": rss_mb,
        }))
        print(json.dumps({
            "correct": failed == 0 and not wl.problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            shut_down(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
