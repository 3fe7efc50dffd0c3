"""PriceCatcher engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see `workloads.py`) as a closed loop with one client for
`--seconds` seconds in a fresh JVM, checks every op's output against an
independent DuckDB restatement, prints the metrics by name with their units,
and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
the same four on every workload:

    setup_s        session start to the first timed op (JVM and session,
                   warm-up ops, view registration, the top-up's base
                   artifact); input generation and the expected outputs
                   are made before it and not counted
    op_s           median op latency: a month build and a top-up
                   (daily_cycle); a lookup and a rollup (price_queries)
    out_mb         median bytes an op hands its user: the month's db + zip
                   (daily_cycle); result rows as text (price_queries)
    driver_rss_mb  peak RSS of this process

The finer names (build_s, topup_s, lookup_query_s, rollup_query_s, db_mb,
zip_mb, failed_frac) are printed above the JSON line.
With `--trace 1` the metrics are the per-layer metrics, taken from spans
around the calls into each layer (written to `.perfbench_out/`), Spark's
status store and a streaming listener. Layers a workload does not run read 0.

Inputs are generated from `--seed` (cached under `.perfbench_cache/`);
generation and output checks are never timed. Run from anywhere; paths are
resolved from this file.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "opendosm_parquet_to_sqlite_spark"
CACHE = ROOT / ".perfbench_cache"
TRACE_OUT = ROOT / ".perfbench_out"
DRIVER_MEM = "2g"  # the engine defaults to 16g; a small box must not overcommit
KEEP_INPUTS = 6  # generated input sets kept in the cache, newest first
# At least three ops, so the median passes over one slow op; a traced run,
# which alternates traced and untraced ops, then has both.
MIN_OPS = 3
MAX_RAISED_IN_A_ROW = 3  # then the program's state is broken: stop measuring

# per-layer metric -> the span whose per-op total it is
SPAN_METRICS = {
    "cycle.build_s": "month_build.run",
    "cycle.topup_s": "daily_topup.run",
    "cache.fetch_s": "sources.cache.get",
    "pipeline.plan_s": "plans.pipeline.build_tables",
    "dedup.exec_s": "operators.dedup.noop_exec",
    "unique.check_s": "operators.dedup.assert_unique_key",
    "sqlite.write_s": "sinks.sqlite.write_sqlite",
    "zip.s": "sinks.zipsink.zip_artifact",
    "sql.plan_s": "sql.plan",
    "sql.exec_s": "sql.exec",
    "sql.lookup_s": "sql.lookup",
    "sql.rollup_s": "sql.rollup",
    "corpus.plan_s": "operators.corpus.prepare_training_data",
    "dataset.write_s": "sinks.dataset.write_dataset",
}

# per-layer ratio metric -> (numerator counter, denominator counter)
RATIOS = {
    "cache.hit_ratio": ("cache.hits", "cache.checked"),
    "dedup.keep_ratio": ("dedup.rows_out", "dedup.rows_in"),
    "sqlite.rows_per_s": ("sqlite.rows", "sqlite.write_s"),
    "zip.mb_per_s": ("sqlite.db_mb", "zip.s"),
    "zip.ratio": ("zip.mb", "sqlite.db_mb"),
    "stream.changed_ratio": ("stream.state_rows_updated", "stream.input_rows"),
    "sql.rows_scanned_per_result": ("sql.rows_scanned", "sql.results"),
    "corpus.keep_ratio": ("corpus.rows_out", "corpus.rows_in"),
}


def jvm_opts(work: Path) -> str:
    """Keep the JVM's temporary files inside `work` (hsperfdata would go to
    /tmp whatever java.io.tmpdir says, so it is switched off)."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


def launch_env(work: Path) -> None:
    """Environment of the program, set before pyspark or the engine is
    imported: the engine reads SPARK_GRAFT_* at import and session start,
    and Python workers inherit PYTHONPATH from the JVM."""
    # Spark's task threads leave one core to this process, where the SQLite
    # and zip sinks and the streaming upserts run, and to the JVM's own
    # threads: with a task thread per core, daily_cycle ops ran ~15 % slower
    # on a 4-vCPU VM, waiting on the scheduler rather than on the program.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the spark-submit launcher is a JVM of its own; keep its files in `work` too
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts(work)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def prune_inputs(inputs: Path, keep: int, in_use: list[Path]) -> None:
    """Drop all but the `keep` most recently used input sets."""
    for p in in_use:
        os.utime(p)
    entries = sorted(
        (p for p in inputs.iterdir() if p.is_dir() and not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for p in entries[keep:]:
        if p not in in_use:
            shutil.rmtree(p, ignore_errors=True)


def start_session(work: Path):
    from opendosm_parquet_to_sqlite_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # heap fixed at its maximum: with a growing heap, op latency
            # varied about twice as much from one run to the next
            "spark.driver.extraJavaOptions": jvm_opts(work) + f" -Xms{DRIVER_MEM}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin,
    held by this process, is closed)."""
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
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this process (the PySpark driver side, where
    the SQLite and zip sinks and streaming upserts run) and of the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024, jvm_kb / 1024


def instrument(tracer, captured: dict) -> None:
    """Wrap the layer functions the program calls internally, so traced ops
    record spans around them without changing the op's entry point."""
    from spans import wrap

    from opendosm_parquet_to_sqlite_spark.operators import dedup
    from opendosm_parquet_to_sqlite_spark.plans import pipeline, sql_surface
    from opendosm_parquet_to_sqlite_spark.sources.cache import SourceCache

    def after_get(result, args, kwargs):
        tracer.add("cache.checked", 1)
        if result.cache_hit:
            tracer.add("cache.hits", 1)
        else:
            tracer.add("cache.fetched_mb", result.path.stat().st_size / 1e6)

    def keep_tables(result, args, kwargs):
        captured["tables"] = result

    wrap(tracer, SourceCache, "get", "sources.cache.get", after_get)
    wrap(tracer, pipeline, "build_tables", "plans.pipeline.build_tables", keep_tables)
    wrap(tracer, sql_surface, "build_tables", "plans.pipeline.build_tables")
    wrap(tracer, dedup, "assert_unique_key", "operators.dedup.assert_unique_key")
    wrap(tracer, pipeline, "write_sqlite", "sinks.sqlite.write_sqlite")
    wrap(tracer, pipeline, "zip_artifact", "sinks.zipsink.zip_artifact")


def layer_metrics(tracer) -> dict[str, float]:
    """Per-op values of every layer metric, reduced to the median over the
    traced ops that have it (set-up counts only for metrics no op has)."""
    from statistics import median

    per_op: dict[str, dict[str, float]] = {op: dict(c) for op, c in tracer.counters.items()}
    for metric, span in SPAN_METRICS.items():
        for op, secs in tracer.span_total(span).items():
            per_op.setdefault(op, {})[metric] = secs
    for values in per_op.values():
        for metric, (num, den) in RATIOS.items():
            if values.get(den):
                values[metric] = values.get(num, 0.0) / values[den]
        if "stream.trigger_s" in values:
            values["stream.overhead_s"] = values["stream.trigger_s"] - values.get("stream.add_batch_s", 0.0)
    out: dict[str, float] = {}
    for metric in {m for v in per_op.values() for m in v}:
        ops = [v[metric] for op, v in per_op.items() if op != "setup" and metric in v]
        if not ops:
            ops = [per_op["setup"][metric]]
        out[metric] = median(ops)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work = CACHE / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    launch_env(work)

    import workloads
    from statistics import median
    from spans import EngineCounters, StreamCounters, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    spark = None
    try:
        workload = workloads.WORKLOADS[args.workload]
        cache = CACHE / "inputs"
        cache.mkdir(parents=True, exist_ok=True)
        inputs = workload.generate(cache, args.seed)
        prune_inputs(cache, KEEP_INPUTS, [inputs])
        tracer = Tracer(args.workload)
        ctx = SimpleNamespace(
            seed=args.seed, work=work, inputs=inputs,
            tracer=tracer, spark=None, engine=None, stream=None,
        )
        wl = workload(ctx)  # builds its expected outputs
        if args.trace:
            instrument(tracer, getattr(wl, "captured", {}))
            tracer.enabled = True

        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = ctx.spark = start_session(work)
        session_s = time.perf_counter() - t0
        if args.trace:
            ctx.engine = EngineCounters(spark)
            ctx.stream = StreamCounters(spark)
        with tracer.span(f"{wl.name}.setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0

        latencies: list[float] = []
        traced_latencies: list[float] = []
        out_mb: list[float] = []
        attempted = failed = raised_in_a_row = 0
        # Start an op only if, going by the last one, it ends within the
        # window, so a run lasts about --seconds whatever the op latency.
        deadline = time.perf_counter() + args.seconds
        last = 0.0
        while attempted < MIN_OPS or time.perf_counter() + last <= deadline:
            traced = bool(args.trace) and attempted % 2 == 0
            tracer.enabled = traced
            tracer.op_id = f"op{attempted}"
            wl.prepare(attempted)
            if traced:
                ctx.engine.take()
            start = time.perf_counter()
            try:
                with tracer.span(f"{wl.name}.op"):
                    wl.run(attempted)
                problems = []
            except Exception:
                traceback.print_exc()
                problems = ["op raised"]
            raised_in_a_row = raised_in_a_row + 1 if problems else 0
            elapsed = last = time.perf_counter() - start
            if traced and not problems:
                engine = ctx.engine.take()
                for k in ("jobs", "tasks", "executor_run_s", "spill_mb", "gc_s"):
                    tracer.add(f"spark.{k}", engine[k])
                wl.after_traced(engine)
            tracer.enabled = False
            problems = problems or wl.check(attempted)
            if problems:
                failed += 1
                print(f"op {attempted} failed: {problems}", file=sys.stderr)
            else:
                out_mb.append(wl.out_mb())
            (traced_latencies if traced else latencies).append(elapsed)
            attempted += 1
            if raised_in_a_row == MAX_RAISED_IN_A_ROW:
                print(f"{raised_in_a_row} ops in a row raised; stopping", file=sys.stderr)
                break
        rss, jvm_rss = peak_rss_mb(spark)

        named = {
            "setup_s": (setup_s, "s"),
            "op_s": (median(latencies), "s"),
            "out_mb": (median(out_mb) if out_mb else 0.0, "MB"),
            "driver_rss_mb": (rss, "MB"),
            "jvm_rss_mb": (jvm_rss, "MB"),
        }
        named.update(wl.summary(latencies))
        named["failed_frac"] = (failed / attempted, "ratio")
        if args.trace:
            values = {m["name"]: 0.0 for m in spec["per_layer"]}
            values.update({k: v for k, v in layer_metrics(tracer).items() if k in values})
            values["session.start_s"] = session_s
            overhead = median(traced_latencies) - median(latencies)
            values["trace.op_overhead_s"] = overhead
            values["trace.op_overhead_frac"] = overhead / median(latencies)
            values["trace.setup_s"] = setup_s
            values["trace.driver_rss_mb"] = rss
            values["jvm.rss_mb"] = jvm_rss
            wanted = [m["name"] for m in spec["per_layer"]]
            dump = TRACE_OUT / f"trace-{wl.name}-s{args.seed}.json"
            tracer.dump(dump, {"metrics": values, "untraced_op_s": latencies, "traced_op_s": traced_latencies})
            print(f"spans: {dump}")
        else:
            values = {k: v for k, (v, _) in named.items()}
            wanted = [m["name"] for m in spec["end_to_end"]]
        for name, (value, unit) in named.items():
            print(f"{wl.name} {name} = {value:.6g} {unit}")
        print(f"{wl.name} ops = {attempted}, untraced op latencies (s): {[round(x, 4) for x in latencies]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in wanted},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
