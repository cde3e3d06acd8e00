#!/usr/bin/env python3
"""The benchmark: one command per workload run.

    python3 perfbench/run.py --workload integrate_load --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` (cached per seed under ``perfbench/_work``), starts the session
(a cold start: it launches the JVM), runs one untimed warm-up pass, then runs the workload's pass
in a closed loop for ``--seconds`` seconds, checking every pass against an
independent oracle. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``); the line before it carries run details (``info``). A wrong
or failed operation makes the exit status 1. On every way out, the driver
JVM and the Python workers are stopped and waited for.

``--trace 1`` spends the first half of the time untraced (for the tracing
overhead), then restarts the session with Spark's event log on and runs
traced passes; the spans go to ``perfbench/_work/trace-<workload>-<seed>.json``.
See ``perfbench/WORKLOADS.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import reset_session_state  # noqa: E402
from perfbench import corpus_curation, gen, integrate_load  # noqa: E402
from perfbench.harness import (  # noqa: E402
    LAYERS,
    PeakRss,
    Run,
    Span,
    Tracer,
    become_subreaper,
    read_event_log,
    self_times,
    stop_processes,
    tail,
    tree_cpu_s,
)

WORK = ROOT / "perfbench" / "_work"
WORKLOADS = {"integrate_load": integrate_load, "corpus_curation": corpus_curation}
# Driver heap, below the engine's 8g default: the inputs are under 1 MB, and
# under the default heap peak_rss_mb follows the JVM's adaptive heap growth
# (on a 4-vCPU VM, 2.3-4.4 GB over 40 runs, IQR 0.14-0.27 of the median
# against a bound of 0.25); under 1g its IQR was 0.02-0.09 of the median.
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "job_cpu_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "stored_bytes_ratio": "ratio",
}
FIELD_UNITS = {
    "busy_s": "s",
    "rows_in": "rows",
    "rows_out": "rows",
    "tasks": "count",
    "wait_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}
LAYER_SPECIFIC = {
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.exec_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.lsh_precision": "ratio",
    "operators.similarity.ann_recall": "ratio",
    "operators.integrate.entities_per_row": "ratio",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.wal_s": "s",
    "streaming.bytes_rewritten": "bytes",
    "spans.failed": "count",
    "tasks.retries": "count",
    "tracing_overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in FIELD_UNITS.items()}
    units.update(LAYER_SPECIFIC)
    return units


def configure_environment() -> None:
    """Launch settings for the session and its Python workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(fresh(WORK / "tmp"))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # pandas_udf / mapInPandas workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def fresh(d: Path) -> Path:
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def start_session(extra: dict | None = None):
    from data_integration_case_study_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        **(extra or {}),
    }
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_passes(mod, run: Run, inp: Path, out: Path, cfg: dict, ora: dict,
                 seconds: float, rss: PeakRss | None = None
                 ) -> tuple[list[float], list[float], list[dict]]:
    """Closed loop: passes until ``seconds`` have elapsed (at least one).
    Before each pass, outside its timing: the previous pass's outputs are
    deleted, and cached data, persisted RDDs and garbage are dropped. Every
    pass is checked before the next starts. Returns each pass's wall time,
    its CPU time (this process and all below it, less the memory sampler
    ``rss``'s own) and its result."""
    walls, cpus, results = [], [], []
    deadline = time.perf_counter() + seconds

    def cpu_s() -> float:
        return tree_cpu_s(os.getpid()) - (rss.cpu_s() if rss else 0.0)

    while not walls or time.perf_counter() < deadline:
        fresh(out)
        reset_session_state(run.spark)
        c0, t0 = cpu_s(), time.perf_counter()
        res = mod.run_pass(run, inp, out, cfg)
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_s() - c0)
        mod.verify(run, ora, res, out)
        results.append(res)
    return walls, cpus, results


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks so far, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return sum(t), t[7]


def untraced(mod, run: Run, inp, out, cfg, ora, seconds, in_bytes, info) -> dict:
    ticks = cpu_ticks()
    with PeakRss() as rss:
        walls, cpus, _ = timed_passes(mod, run, inp, out, cfg, ora, seconds, rss)
    total, stolen = (b - a for a, b in zip(ticks, cpu_ticks()))
    ops = run.op_times
    tail_s, pct, n = tail(ops)
    by_op: dict[str, list[float]] = {}
    for name, t in zip(run.op_names, ops):
        by_op.setdefault(name, []).append(round(t, 3))
    info.update(
        cpu_steal_pct=round(100 * stolen / max(total, 1), 1),
        passes=len(walls), pass_walls_s=[round(w, 3) for w in walls],
        ops=n, op_p50_s=round(statistics.median(ops), 3), op_tail_s=round(tail_s, 3),
        op_tail_percentile=pct, ops_per_s=round(n / sum(walls), 3), op_walls_s=by_op,
    )
    job_s = statistics.median(walls)
    return {
        "job_s": job_s,
        "job_cpu_s": statistics.median(cpus),
        "rows_per_s": mod.input_rows(cfg) / job_s,
        "peak_rss_mb": rss.peak_kb / 1024,
        "stored_bytes_ratio": sum(
            gen.input_bytes(d) for d in mod.output_dirs(out)) / in_bytes,
    }


def traced(mod, spark, runs: list[Run], inp, out, cfg, ora, seconds, info) -> dict:
    """Half the time untraced, then traced passes on a restarted session
    with the event log on; returns the per-layer metrics."""
    runs.append(Run(spark, Tracer()))
    plain, _, _ = timed_passes(mod, runs[-1], inp, out, cfg, ora, seconds / 2)
    spark.stop()
    logs = fresh(WORK / "eventlog")
    t0 = time.perf_counter()
    spark = start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": logs.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = Tracer(spark.sparkContext)
    tracer.spans.append(Span("session", "get_spark", t0, end=time.perf_counter()))
    runs.append(Run(spark, tracer))
    try:
        walls, _, results = timed_passes(mod, runs[-1], inp, out, cfg, ora, seconds / 2)
        extras = mod.layer_extras(runs[-1], ora, results, out)
    finally:
        spark.stop()  # also completes the event log
    task_metrics, jobs, retries = read_event_log(next(logs.iterdir()))
    tracer.dump(WORK / f"trace-{info['workload']}-{info['seed']}.json")
    passes = len(walls)
    totals = tracer.layer_totals(task_metrics)
    metrics = {
        f"{layer}.{f}": totals[layer][f] / (1 if layer == "session" else passes)
        for layer in LAYERS for f in FIELD_UNITS
    }
    busy = list(zip(tracer.spans, self_times(tracer.spans)))
    builds = [sp for sp, _ in busy if sp.layer == "plans" and sp.name.endswith(".build")]
    metrics.update(dict.fromkeys(LAYER_SPECIFIC, 0))
    metrics.update({
        "plans.build_s": sum(b for sp, b in busy if sp in builds) / passes,
        "plans.exec_s": sum(b for sp, b in busy
                            if sp.layer == "plans" and sp.name.endswith(".exec")) / passes,
        "plans.eager_jobs": sum(jobs.get(sp.group, 0) for sp in builds) / passes,
        "spans.failed": sum(sp.failed for sp in tracer.spans),
        "tasks.retries": retries,
        "tracing_overhead_s": statistics.median(walls) - statistics.median(plain),
        **extras,
    })
    info.update(passes=passes, untraced_passes=len(plain))
    return metrics


def bench(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    mod = WORKLOADS[workload]
    cfg = gen.sizes(workload)
    t0 = time.perf_counter()
    inp, generated = gen.ensure_inputs(WORK, workload, seed)
    warm_inp, _ = gen.ensure_inputs(WORK, workload, seed, warmup=True)
    gen_s = time.perf_counter() - t0
    in_bytes = gen.input_bytes(inp)
    t0 = time.perf_counter()
    ora = mod.oracle(inp)
    info = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "gen_s": round(gen_s, 3), "generated": generated,
        "oracle_s": round(time.perf_counter() - t0, 3),
        "input_rows": mod.input_rows(cfg), "input_bytes": in_bytes,
    }
    out = WORK / "out"
    runs: list[Run] = []
    spark = None
    try:
        # set-up: a cold session start (JVM launch) ready for a first
        # one-row query, then one warm-up pass so first-call costs (code
        # generation, JIT, Python workers) stay out of the timed passes
        t0 = time.perf_counter()
        spark = start_session()
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        mod.run_pass(Run(spark, Tracer()), warm_inp, fresh(out),
                     gen.sizes(workload, warmup=True))
        warmup_s = time.perf_counter() - t0
        info.update(parallelism=spark.sparkContext.defaultParallelism,
                    session_start_s=round(start_s, 3), warmup_s=round(warmup_s, 3))
        if trace:
            metrics = traced(mod, spark, runs, inp, out, cfg, ora, seconds, info)
            units = per_layer_units()
        else:
            runs.append(Run(spark, Tracer()))
            metrics = {"setup_s": start_s + warmup_s,
                       **untraced(mod, runs[-1], inp, out, cfg, ora, seconds, in_bytes, info)}
            units = END_TO_END
    except Exception as exc:  # the run's boundary: report, never hide
        traceback.print_exc()
        info["error"] = f"{type(exc).__name__}: {exc}"
        attempted = sum(r.attempted for r in runs)
        failed = sum(r.failed for r in runs)
        return info, {"correct": False, "attempted": max(attempted, 1),
                      "failed": max(failed, 1), "metrics": {}}
    finally:
        if spark is not None:
            spark.stop()
        ora["con"].close()
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    return info, {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "data_integration_case_study_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    started = time.perf_counter()
    WORK.mkdir(parents=True, exist_ok=True)
    configure_environment()
    os.chdir(WORK)  # keeps Spark's stray files (derby.log, warehouse) in the work dir
    become_subreaper()
    # a SIGTERM unwinds through the ``finally`` below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        info, result = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_processes()
    info["run_wall_s"] = round(time.perf_counter() - started, 1)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
