"""Link-graph benchmark for arkouda_njit_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py            # every workload, untraced then traced

One run launches its own ``local[nproc]`` Spark session, generates its input
with the package's seeded generators, warms the JVM up by running the whole
chain once on a small input, and writes its input to parquet (several times;
the median counts) -- all of that is ``setup_s``. It then repeats the
workload's chain of layer calls on the parquet input until ``--seconds``
seconds have passed, at least once (``wall_s`` per repetition), and checks
every repetition's answers against NumPy, union-find and DuckDB references.
One repetition outlasts ``--seconds 1``, so such a run times exactly one,
however fast the machine is. The last line of standard output is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer Spark stage metrics
(from the live status store, by job group) with ``--trace 1``. Spans of a
traced run are written to ``.perfbench/spans/``.

Everything a run writes stays under ``.perfbench/`` in the checkout. The run
exits non-zero, without a result line, when the package is not importable.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"

RUN_DEADLINE_S = 170  # every run ends well inside 180 s
CHECK_RESERVE_S = 40  # kept after the last repetition for checks and shutdown
CALL_TIMEOUT_S = 90
SETUP_REPEATS = 3  # input materializations per run; setup_s takes their median
DRIVER_MEMORY = "4g"  # local-mode executors share this heap; far below RAM

END_TO_END_UNITS = {"wall_s": "s", "setup_s": "s", "pagerank_edges_per_s": "1/s"}


def _settings(cores: int, workdir: Path) -> dict[str, str]:
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": DRIVER_MEMORY,
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.scheduler.listenerbus.eventqueue.capacity": "200000",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(workdir / "local"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        # no hsperfdata file under /tmp: nothing is written outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData",
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit; kill it if it
    does not within 30 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    stopper = threading.Thread(target=spark.stop, daemon=True)
    stopper.start()
    stopper.join(30)
    try:
        gateway.shutdown()
    except Exception as exc:  # the JVM may already be gone
        print(f"gateway shutdown: {exc!r}", file=sys.stderr)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, list[str]]:
    """One benchmark run; returns the result object and report lines."""
    deadline = time.monotonic() + RUN_DEADLINE_S - CHECK_RESERVE_S
    cores = len(os.sched_getaffinity(0))  # nproc
    workdir = OUT / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    for sub in ("tmp", "local"):
        (workdir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    tempfile.tempdir = None  # re-read TMPDIR
    settings = _settings(cores, workdir)
    spark = None
    try:
        t0 = time.perf_counter()
        from arkouda_njit_spark.session import get_spark

        spark = get_spark(master=settings["spark.master"], shuffle_partitions=cores, extra_conf=settings)
        spark.sparkContext.setLogLevel("ERROR")
        launch_s = time.perf_counter() - t0
        result, lines = _measure(spark, workload, seed, seconds, trace, workdir, cores, launch_s, deadline)
        return result, [f"settings {json.dumps(settings, sort_keys=True)}", *lines]
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def _measure(spark, workload, seed, seconds, trace, workdir, cores, launch_s, deadline):
    """Set-up, timed repetitions and checks of one run in a live session."""
    from calls import STATS, CallFailed, Recorder, stage_figures
    from metrics import median, tail_percentile
    from workloads import CALLS, PR_ITERATIONS, WORKLOADS

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rec = Recorder(spark, trace, deadline)
    wl = WORKLOADS[workload](spark, str(workdir))
    lines: list[str] = []
    checks: list[tuple[int, str, bool, str]] = []
    walls, pr_rates = [], []
    failure = None
    try:
        # warm-up: the whole chain once on a small input, untimed, so the
        # timed repetitions find the JIT, the Python workers and the codegen
        # caches warm
        t0 = time.perf_counter()
        warm_dir = str(workdir / "warmup")
        wl.generate(seed, warmup=True).write.parquet(warm_dir)
        wl.release(wl.run(rec, -1, warm_dir, CALL_TIMEOUT_S))
        spark.catalog.clearCache()
        warmup_s = time.perf_counter() - t0
        materialize = []
        for i in range(SETUP_REPEATS):
            input_dir = str(workdir / f"input-{i}")
            t0 = time.perf_counter()
            wl.generate(seed).write.parquet(input_dir)
            materialize.append(time.perf_counter() - t0)
        setup_s = launch_s + warmup_s + median(materialize)
        ref = wl.reference(input_dir)

        measure_start, measure_epoch = time.monotonic(), time.time()
        while not walls or time.monotonic() - measure_start < seconds:
            if walls and time.monotonic() + max(walls) > deadline:
                lines.append("stopped early: another repetition would pass the run deadline")
                break
            rep = len(walls)
            t0 = time.perf_counter()
            out = wl.run(rec, rep, input_dir, CALL_TIMEOUT_S)
            walls.append(time.perf_counter() - t0)
            try:
                rep_checks, edge_rows = wl.check(out, ref)
            except Exception as exc:  # e.g. the JVM died while collecting answers
                checks += [(rep, c.name, False, f"check raised {exc!r}") for c in rec.calls if c.rep == rep]
                raise CallFailed(f"checks of repetition {rep}: {exc!r}") from exc
            checks += [(rep, *c) for c in rep_checks]
            pr_s = next(c.s for c in rec.calls if c.rep == rep and c.name == "operators.pagerank")
            pr_rates.append(edge_rows * PR_ITERATIONS / pr_s)
            wl.release(out)
            spark.catalog.clearCache()
        peak_rss_mb = _vm_hwm_mb(jvm_pid)
    except CallFailed as exc:
        failure = str(exc)

    failed_calls = {(c.rep, c.name) for c in rec.calls if c.error}
    failed_calls |= {(rep, name) for rep, name, ok, _ in checks if not ok}
    attempted = len(rec.calls)
    result = {"correct": failure is None and not failed_calls, "attempted": attempted,
              "failed": len(failed_calls), "metrics": {}}
    for rep, name, ok, msg in checks:
        lines.append(f"check rep {rep} {name}: {'ok' if ok else 'FAILED'} ({msg})")
    for c in rec.calls:
        status = f"FAILED ({c.error})" if c.error else "ok"
        lines.append(f"call rep {c.rep} {c.name}: {c.s:.3f} s {status}")
    lines.append(f"error_rate {len(failed_calls)}/{attempted} = {len(failed_calls) / max(attempted, 1):.4f}")
    if failure is not None:
        lines.append(f"run ended early: {failure}")
        return result, lines

    lines.append(
        f"setup: launch {launch_s:.3f} s, warm-up {warmup_s:.3f} s, "
        f"materialize {', '.join(f'{m:.3f}' for m in materialize)} s"
    )
    for name, samples in (("wall_s", walls), ("pagerank_edges_per_s", pr_rates)):
        tail = tail_percentile(samples)
        tail_txt = f"p{tail[0]:.0f} {tail[1]:.6g}" if tail else "no percentile has 10 samples beyond it"
        lines.append(f"{name} median {median(samples):.6g}, {tail_txt}, {len(samples)} samples")
    lines.append(f"peak_rss_mb {peak_rss_mb:.1f} (driver JVM VmHWM)")
    values = {"wall_s": median(walls), "setup_s": setup_s, "pagerank_edges_per_s": median(pr_rates)}
    if not trace:
        result["metrics"] = {k: _metric(v, END_TO_END_UNITS[k]) for k, v in values.items()}
        return result, lines

    t0 = time.perf_counter()
    timed = [c for c in rec.calls if c.rep >= 0]
    figures, spans, health = stage_figures(spark, timed, cores, (measure_epoch, timed[-1].end))
    read_s = time.perf_counter() - t0
    span_dir = OUT / "spans"
    span_dir.mkdir(parents=True, exist_ok=True)
    (span_dir / f"{workload}-seed{seed}.json").write_text(json.dumps(spans))
    lines.append(f"status store: {json.dumps(health)}; {len(spans)} spans")
    if health["dropped"] or health["unfinished"]:
        result["correct"] = False
        lines.append("FAILED: the status store dropped or did not finish some jobs or stages")
    per_layer = {}
    for call in CALLS:
        rows = [f for c, f in zip(timed, figures) if c.name == call]
        for stat, unit in STATS.items():
            per_layer[f"{call}.{stat}"] = _metric(median([r[stat] for r in rows]) if rows else 0.0, unit)
    per_layer["workload.wall_s"] = _metric(values["wall_s"], "s")
    per_layer["workload.peak_rss_mb"] = _metric(peak_rss_mb, "MB")
    per_layer["trace.unattributed_jobs"] = _metric(health["unattributed_jobs"], "count")
    per_layer["trace.read_s"] = _metric(read_s, "s")
    result["metrics"] = per_layer
    return result, lines


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in its own process; prints
    both runs' reports and the tracing overhead on ``wall_s``."""
    from workloads import WORKLOADS

    summary, status = {}, 0
    for workload in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__)), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            print(proc.stdout, end="", flush=True)
            status = status or proc.returncode
            last = proc.stdout.strip().splitlines()[-1:] or ["{}"]
            results[trace] = json.loads(last[0]) if last[0].startswith("{") else {}
        summary[workload] = {"trace_0": results[0], "trace_1": results[1]}
        try:
            untraced = results[0]["metrics"]["wall_s"]["value"]
            traced = results[1]["metrics"]["workload.wall_s"]["value"]
        except KeyError:
            continue
        overhead = traced - untraced
        summary[workload]["trace_overhead_s"] = overhead
        print(f"{workload} tracing overhead on wall_s: {overhead:+.3f} s "
              f"({overhead / untraced:+.1%} of {untraced:.3f} s)")
    print(json.dumps(summary))
    return status


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", default="all")
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=1)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("arkouda_njit_spark") is None:
        print(f"arkouda_njit_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    if args.workload not in WORKLOADS:
        parser.error(f"--workload must be one of {', '.join(WORKLOADS)} or all")
    result, lines = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for line in lines:
        print(line)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
