#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 20 --trace 0

``--workload`` is one of ``etl_hourly``, ``curation_dedup``
or ``all`` (each workload in its own process, then an overhead summary when
``--trace 1``).  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes lives under ``.perfbench_work/`` in the current
directory and is removed before exit.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))  # the checkout root holds the package

import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

#: (name, unit) of every end-to-end metric; BENCHMARK.json lists the same.
END_TO_END = [
    ("setup_s", "s"),
    ("op_s.p50", "s"),
    ("items_per_s", "1/s"),
]

#: Modules that ``spark.task_s.<module>`` splits stage run time over.
SPARK_MODULES = [
    "pipeline.ingestor", "pipeline.handler", "pipeline.bookkeeping",
    "pipeline.curation", "io.versioned", "io.writers", "io.readers", "schemas",
    "operators.dedup", "operators.text", "queries", "other",
]

#: (name, unit) of every per-layer metric.  Times and counts are per
#: operation (hour or curation pass) of the measured loop.
PER_LAYER = [
    ("session.build_s", "s"),
    ("peak_rss_mb", "MB"),
    ("read_s.p50", "s"),
    ("pipeline.ingestor.self_s", "s"),
    ("pipeline.ingestor.rows_staged", "count"),
    ("pipeline.ingestor.lines_dropped", "count"),
    ("pipeline.handler.self_s", "s"),
    ("pipeline.bookkeeping.s", "s"),
    ("pipeline.bookkeeping.calls", "count"),
    ("schemas.s", "s"),
    ("io.readers.load_table_s", "s"),
    ("io.versioned.merge_s", "s"),
    ("io.versioned.merge_calls", "count"),
    ("io.versioned.files_written", "count"),
    ("io.versioned.bytes_written_per_input_byte", "ratio"),
    ("io.versioned.read_latest_s", "s"),
    ("io.versioned.table_changes_s", "s"),
    ("io.writers.append_s", "s"),
    ("queries.build_s", "s"),
    ("queries.serve_s", "s"),
    ("pipeline.curation.curate_s", "s"),
    ("pipeline.curation.self_s", "s"),
] + [(f"pipeline.curation.docs_out.{s}", "count") for s in wl.CurationDedup.STAGES] + [
    ("operators.text.s", "s"),
    ("operators.dedup.s", "s"),
    ("operators.dedup.lsh_candidate_pairs", "count"),
    ("operators.dedup.lsh_pair_precision", "ratio"),
    ("spark.executor_run_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.stages", "count"),
] + [(f"spark.task_s.{m}", "s") for m in SPARK_MODULES] + [
    ("trace.op_s.p50", "s"),
    ("trace.items_per_s", "1/s"),
]

#: Public functions the traced run wraps: (module, attribute, span name).
#: Bookkeeping methods are wrapped on the class.
WRAPPED = [
    ("pipeline.ingestor", "run_ingestor", "pipeline.ingestor"),
    ("pipeline.handler", "run_handler", "pipeline.handler"),
    ("pipeline.curation", "curate_corpus", "pipeline.curation.curate"),
    ("io.versioned", "merge_versioned", "io.versioned.merge"),
    ("io.writers", "append_rows", "io.writers.append_rows"),
    ("io.readers", "read_jsonl_events", "io.readers.read_jsonl_events"),
    ("io.readers", "load_table", "io.readers.load_table"),
    ("schemas.normalize", "normalize", "schemas.normalize"),
    ("schemas.normalize", "split_entities", "schemas.split_entities"),
    ("operators.text", "normalize_text", "operators.text.normalize_text"),
    ("operators.text", "predict_language", "operators.text.predict_language"),
    ("operators.text", "gopher_quality_flags", "operators.text.gopher_quality_flags"),
    ("operators.dedup", "exact_dedup_groups", "operators.dedup.exact_dedup_groups"),
    ("operators.dedup", "minhash_lsh_candidate_pairs", "operators.dedup.minhash_lsh_candidate_pairs"),
    ("operators.dedup", "connected_dedup_clusters", "operators.dedup.connected_dedup_clusters"),
    ("operators.dedup", "ngram_decontaminate", "operators.dedup.ngram_decontaminate"),
]
BOOKKEEPING_METHODS = ["next_fetch_hour", "last_successful_fetch_hour",
                       "ingestor_output_path", "record_ingestor", "record_handler"]

WORK_DIR = ".perfbench_work"


def total_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: Path) -> None:
    """Size the session to this machine and keep every file it writes
    under ``work`` (``build_session`` reads these variables)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, int(total_mem_gb() // 4))}g"
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")


def build(work: Path, trace: bool):
    from door2door_etl_spark.session import build_session

    confs = {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app_name="perfbench", extra_confs=confs)


def install_wrappers(tracer: tr.Tracer) -> None:
    import importlib

    for mod, attr, name in WRAPPED:
        tracer.wrap(importlib.import_module(f"{tr.PACKAGE}.{mod}"), attr, name)
    from door2door_etl_spark.pipeline.bookkeeping import Bookkeeping

    for m in BOOKKEEPING_METHODS:
        tracer.wrap(Bookkeeping, m, f"pipeline.bookkeeping.{m}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # the next build relaunches
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer: tr.Tracer, work: Path, app_id: str, window: tuple[float, float],
                  n_ops: int, build_s: float) -> dict[str, float]:
    n = max(1, n_ops)
    bk_s, bk_calls = tracer.total_prefix("pipeline.bookkeeping.")
    c = tracer.counters
    out = {
        "session.build_s": build_s,
        "pipeline.ingestor.self_s": tracer.self_time("pipeline.ingestor") / n,
        "pipeline.handler.self_s": tracer.self_time("pipeline.handler") / n,
        "pipeline.bookkeeping.s": bk_s / n,
        "pipeline.bookkeeping.calls": bk_calls / n,
        "schemas.s": tracer.total_prefix("schemas.")[0] / n,
        "io.readers.load_table_s": tracer.total("io.readers.load_table") / n,
        "io.versioned.merge_s": tracer.total("io.versioned.merge") / n,
        "io.versioned.merge_calls": tracer.count("io.versioned.merge") / n,
        "io.versioned.files_written": c["io.versioned.files_written"] / n,
        "io.versioned.bytes_written_per_input_byte": (
            c["io.versioned.bytes_written"] / c["input_bytes"] if c["input_bytes"] else 0.0),
        "io.versioned.read_latest_s": tracer.total("io.versioned.read_latest") / n,
        "io.versioned.table_changes_s": tracer.total("io.versioned.table_changes") / n,
        "io.writers.append_s": tracer.total("io.writers.append_rows") / n,
        "queries.build_s": tracer.total("queries.build") / n,
        "queries.serve_s": tracer.total("queries.serve") / n,
        "pipeline.curation.curate_s": tracer.total("pipeline.curation.curate") / n,
        "pipeline.curation.self_s": tracer.self_time("pipeline.curation.curate") / n,
        "operators.text.s": tracer.total_prefix("operators.text.")[0] / n,
        "operators.dedup.s": tracer.total_prefix("operators.dedup.")[0] / n,
    }
    log = work / "eventlog" / app_id
    spark_m = tr.event_log_metrics(
        log, window, lambda t: tracer.innermost_at(t) or "other") if log.is_file() else {}
    for key, value in spark_m.items():
        if key.startswith("spark.task_s."):
            key = f"spark.task_s.{module_of(key[len('spark.task_s.'):])}"
            out[key] = out.get(key, 0.0) + value / n
        else:
            out[key] = value / n
    return out


def module_of(name: str) -> str:
    """The entry of SPARK_MODULES that prefixes a module or span name."""
    for mod in sorted(SPARK_MODULES, key=len, reverse=True):
        if name == mod or name.startswith(mod + "."):
            return mod
    return "other"


def run_one(args) -> int:
    root = Path.cwd()
    work = root / WORK_DIR / f"{args.workload}-{os.getpid()}"
    spark = None
    try:
        pin_environment(work)
        try:
            import door2door_etl_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the package is not importable from {root}: {exc}", file=sys.stderr)
            return 3
        workload = wl.WORKLOADS[args.workload](work, args.seed, args.seconds, args.size == "tiny")
        t_gen = time.perf_counter()
        workload.generate()
        gen_s = time.perf_counter() - t_gen
        tracer = None
        if args.trace:
            tracer = tr.Tracer()
            install_wrappers(tracer)
            workload.tracer = tracer

        # Set-up, timed: launch the JVM and build the session, run a first
        # action, then the workload's warm-up (its first operation, cold,
        # and for curation two more passes).
        t0 = time.perf_counter()
        spark = build(work, bool(args.trace))
        build_s = time.perf_counter() - t0
        spark.range(1).count()  # the first action
        workload.warm_up(spark)
        setup_s = time.perf_counter() - t0

        samples: list[wl.Sample] = []
        failed_ops = 0
        i = 0
        wall0 = time.time()
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            try:
                with tracer.operation(f"op-{i}") if tracer else contextlib.nullcontext():
                    sample = workload.step(spark, i)
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                break
            if sample is None:
                break
            samples.append(sample)
            i += 1
        final_step = getattr(workload, "final_step", None)
        if final_step is not None and not failed_ops:
            try:
                with tracer.operation(f"op-{i}") if tracer else contextlib.nullcontext():
                    samples.append(final_step(spark))
            except Exception:
                traceback.print_exc()
                failed_ops += 1
        window = (wall0, time.time())
        rss = tr.peak_rss_mb(os.getpid())
        t_gate = time.perf_counter()
        try:
            workload.gate(spark)
        except Exception:
            traceback.print_exc()
            workload.checks.check(False, "gate raised")
        gate_s = time.perf_counter() - t_gate
        for f in workload.checks.failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)

        e2e = {
            "setup_s": setup_s,
            "op_s.p50": median([s.op_s for s in samples] or [0.0]),
            "items_per_s": median([s.items / s.op_s for s in samples] or [0.0]),
        }
        print(f"perfbench: {args.workload}: {len(samples)} operations in "
              f"{window[1] - window[0]:.1f} s, op_s {[round(s.op_s, 2) for s in samples]}, "
              f"setup {setup_s:.2f} s (build {build_s:.2f} s), untimed: inputs {gen_s:.2f} s, "
              f"gate {gate_s:.2f} s", file=sys.stderr)
        if args.trace:
            app_id = spark.sparkContext.applicationId
            own = workload.layer_metrics()  # may still run Spark jobs
            stop_spark(spark)  # flushes the event log
            spark = None
            values = layer_metrics(tracer, work, app_id, window, len(samples), build_s)
            values.update(own)
            values["peak_rss_mb"] = rss
            values["read_s.p50"] = median([s.read_s for s in samples] or [0.0])
            values["trace.op_s.p50"] = e2e["op_s.p50"]
            values["trace.items_per_s"] = e2e["items_per_s"]
            tracer.restore()
            for name, (calls, secs) in sorted(tracer.summary().items()):
                print(f"perfbench: span {name}: {calls} calls, {secs:.3f} s", file=sys.stderr)
            print(f"perfbench: spans {tracer.dumps()}", file=sys.stderr)
            declared = PER_LAYER
        else:
            values, declared = e2e, END_TO_END
        attempted = len(samples) + failed_ops + workload.checks.attempted
        failed = failed_ops + len(workload.checks.failures)
        result = {
            "correct": failed == 0 and bool(samples),
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                        for name, unit in declared},
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if spark is not None or "pyspark" in sys.modules:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / WORK_DIR).rmdir()
        except OSError:
            pass


def run_all(args) -> int:
    """Every workload in its own process; with ``--trace 1`` each runs
    untraced and traced, and the tracing overhead is printed."""
    results = {}
    for name in wl.WORKLOADS:
        for trace in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--size", args.size]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            results[(name, trace)] = res
            for metric, v in (res or {}).get("metrics", {}).items():
                print(f"{name:15s} {metric:45s} {v['value']:14.4f} {v['unit']}")
        if args.trace and results[(name, 0)] and results[(name, 1)]:
            m0, m1 = results[(name, 0)]["metrics"], results[(name, 1)]["metrics"]
            print(f"{name:15s} {'trace overhead op_s.p50':45s} "
                  f"{m1['trace.op_s.p50']['value'] - m0['op_s.p50']['value']:14.4f} s")
    ok = all(r is not None and r["correct"] for r in results.values())
    summary = {
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values() if r),
        "failed": sum(r["failed"] for r in results.values() if r)
        + sum(1 for r in results.values() if r is None),
        "metrics": {f"{n}.{m}": v for (n, t), r in results.items() if r
                    for m, v in r["metrics"].items() if t == 0},
    }
    print(json.dumps(summary))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*wl.WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: minimal inputs, for the benchmark's own tests")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
