"""Benchmark of the PySpark warehouse engine.

    python3 perfbench/run.py --workload star_query --seed 1 --seconds 10 --trace 0

Reads the fixture tables in ``perfbench/inputs/``, starts one Spark
session on ``local[<cpus>]`` and builds the workload's prerequisites
several times. Then it runs the workload's ops in passes shuffled by
``--seed``, one op in flight (a closed loop with one client):
the workload's unmeasured cold passes, then measured passes until both
the workload's minimum count and ``--seconds`` of op time are reached.
Every op's output is checked outside the timed window. The last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the Spark event log is turned on, the run is traced, and
the metrics are the per-layer ones (the per-layer table also goes to
standard error). All files go under ``.perfbench_work/`` at the root of
the checkout; only ``results/`` and ``traces/`` are kept.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402
import spans as tr  # noqa: E402
from workloads import WORKLOADS, Oracle, persistent_rdds  # noqa: E402

PACKAGE = "adi_226_datawarehouse_project_spark"
# Layers whose spans every traced run reports; a layer a workload leaves
# idle reports 0. The session span runs no Spark job, so its only figure
# is session.start_s.
LAYERS = ("pipelines", "model.star", "plans", "operators")
_MB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--fast", action="store_true",
        help="a single pass, whatever --seconds says (a smoke run of the benchmark)",
    )
    return p.parse_args(argv)


def load_program():
    """Import the engine from the checkout; raises ImportError when the
    checkout does not hold it."""
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        raise ImportError(f"no {PACKAGE} package next to perfbench/")
    sys.path.insert(0, str(ROOT))
    import importlib

    mod = lambda m: importlib.import_module(f"{PACKAGE}.{m}")  # noqa: E731
    return SimpleNamespace(
        entry=importlib.import_module("__spark_entry__"),
        session=mod("session"),
        star=mod("model.star"),
        dedup=mod("operators.dedup"),
        catalog=mod("sources.catalog"),
        warehouse=mod("pipelines.warehouse_pipeline"),
        ingest=mod("pipelines.ingest_pipeline"),
    )


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def jvm_opts(work: Path) -> str:
    """Keep the JVMs' temporary files inside the checkout; the JVM's
    performance-counter file would otherwise go to the system temp dir."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    tmp = work / "tmp"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts(work),
        "spark.hadoop.hadoop.tmp.dir": str(tmp / "hadoop"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
    return conf


def heap_live_mb(spark) -> float:
    """JVM heap in use after full collections: the least of eight readings,
    each 0.3 s after ``System.gc()``. Python's proxies to JVM
    objects are dropped first. The context cleaner frees shuffle and
    broadcast state only after a collection has found their owners
    unreachable, so the first readings can hold an op's dead state."""
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        readings.append(bean.getHeapMemoryUsage().getUsed() / _MB)
    return min(readings)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_passes(wl, rng, seconds: float, tracer):
    """``wl.cold_passes`` unmeasured passes, then at least
    ``wl.steady_passes`` steady passes and at least ``seconds`` of steady
    op time. The first pass is reported as ``first_pass_s`` either way.
    Outputs are checked at the end of each pass, outside the timed
    window; Python's collector is off inside an op."""
    lat: dict[str, list[float]] = {op: [] for op in wl.ops()}
    steady: list[float] = []
    attempted = failed = passes = 0
    first_pass_s = 0.0
    while True:
        order = wl.ops()
        rng.shuffle(order)
        outs, pass_lat = [], []
        measured = passes >= wl.cold_passes
        with tracer.span(f"pass{passes}", "bench"):
            for op in order:
                attempted += 1
                before = persistent_rdds(wl.spark)
                gc.disable()
                try:
                    wall, out = wl.run_op(op)
                except Exception as e:  # one failed op must not end the run
                    print(f"# {op} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    failed += 1
                else:
                    outs.append((op, out))
                    pass_lat.append(wall)
                    if measured:
                        lat[op].append(wall)
                    print(f"#   {op:<34} {wall:8.3f}s", file=sys.stderr)
                finally:
                    gc.enable()
                wl.release_leaks(before)
        with tracer.span(f"check{passes}", "bench"):
            failed += check_outputs(wl, outs)
        print(f"# pass {passes}: {sum(pass_lat):.3f}s over {len(pass_lat)} ops", file=sys.stderr)
        if passes == 0:
            first_pass_s = sum(pass_lat)
        if measured:
            steady.extend(pass_lat)
        passes += 1
        n_steady = passes - wl.cold_passes
        if n_steady >= wl.steady_passes and sum(steady) >= seconds:
            break
    return SimpleNamespace(
        lat=lat, steady=steady, attempted=attempted, failed=failed,
        passes=passes, first_pass_s=first_pass_s,
    )


def check_outputs(wl, outs) -> int:
    """Check each op's output; returns the number that failed."""
    failed = 0
    for op, out in outs:
        try:
            ok = wl.check(op, out)
        except Exception as e:  # a check that cannot run fails the op
            print(f"# {op} check failed: {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed += 1
            print(f"# {op}: output check failed", file=sys.stderr)
    return failed


def main(argv=None) -> int:
    args = parse_args(argv)
    work_root = ROOT / ".perfbench_work"
    work = work_root / f"run-{os.getpid()}"
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_LAUNCHER_OPTS=jvm_opts(work),
    )
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_WAREHOUSE_POLICY", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    try:
        program = load_program()  # after the env: the engine reads it at import
    except ImportError as e:
        print(f"perfbench: cannot load the engine: {e}", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    data = HERE / "inputs"
    rng = random.Random(args.seed)
    trace_on = bool(args.trace)

    t0 = time.perf_counter()
    spark = program.session.get_spark("perfbench", extra_conf=session_conf(work, trace_on))
    session_s = time.perf_counter() - t0
    print(f"# session: {session_s:.3f}s", file=sys.stderr)
    tracer = tr.Tracer(spark) if trace_on else tr.NullTracer()
    if trace_on:
        # the session span is recorded after the fact: there is no
        # session to tag jobs with before get_spark returns
        tracer.spans.append({
            "id": 0, "name": "session.get_spark", "layer": "session", "op": None,
            "parent": None, "start": (time.time() - session_s) * 1000.0,
            "end": time.time() * 1000.0,
        })
    try:
        oracle = Oracle(str(data), program.entry.oracle_sql(), str(work_root / "oracle"))
        wl = WORKLOADS[args.workload](
            spark, program, str(data), str(work), oracle, tracer, args.seed
        )
        setups = wl.setups
        setup_walls, setup_failed = [], 0
        for k in range(setups):
            with tracer.span(f"setup{k}", "bench"):
                wall, ok = wl.setup_once(k)
            setup_walls.append(wall)
            setup_failed += not ok
            print(f"# setup {k}: {wall:.3f}s ok={ok}", file=sys.stderr)
        setup_s = session_s + statistics.median(setup_walls)
        first_op_at = time.perf_counter() - _T_START
        res = run_passes(wl, rng, 0.0 if args.fast else args.seconds, tracer)
        heap_mb = heap_live_mb(spark)
        extra = []
        if trace_on:
            try:
                extra = wl.traced_only()
            except Exception as e:  # counted as one failed step
                print(f"# traced-only steps failed: {type(e).__name__}: {e}", file=sys.stderr)
                extra = [False]
        wl.finish()
    finally:
        stop_spark(spark)

    attempted = res.attempted + setups + len(extra)
    failed = res.failed + setup_failed + extra.count(False)
    steady = res.steady
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(statistics.median(v) for v in res.lat.values() if v), "s"),
        "ops_per_s": (len(steady) / sum(steady), "1/s"),
        "heap_live_mb": (heap_mb, "MB"),
    }
    t = stats.tail(steady)
    print(
        f"# {args.workload} seed={args.seed}: {len(steady)} steady ops in "
        f"{res.passes - wl.cold_passes} passes, setup repeats={setups}, first op at "
        f"{first_op_at:.2f}s after start"
        + (f", op_tail_s={t[0]:.4f} (p{t[1]:.1f} of n={t[2]})" if t else ", tail omitted (<11 ops)"),
        file=sys.stderr,
    )
    for k, (v, u) in e2e.items():
        print(f"# {k:<14} {v:12.4f} {u}", file=sys.stderr)

    results = work_root / "results"
    results.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    if trace_on:
        units = per_layer_units()
        layer = dict.fromkeys(units, 0.0)
        layer.update(wl.layer)
        layer["session.start_s"] = session_s
        layer["cold.first_pass_s"] = res.first_pass_s
        layer["failed_op_ratio"] = failed / attempted
        layer["operators.cache_entries_leaked"] = wl.leaked / res.passes
        for op, v in res.lat.items():
            if f"{wl.layer_of_ops}.{op}.p50_s" in units:
                layer[f"{wl.layer_of_ops}.{op}.p50_s"] = statistics.median(v) if v else 0.0
        for k, (v, _) in e2e.items():
            layer[f"traced.{k}"] = v
        traces = work_root / "traces"
        traces.mkdir(exist_ok=True)
        spans = fold_event_log(work, tracer.spans, traces / tag)
        layer.update(tr.layer_table(spans, LAYERS, cpus()))
        layer.update(span_counts(spans))
        with open(traces / f"{tag}-folded.json", "w") as f:
            json.dump(spans, f)
        print_layer_table(layer, results / f"{tag}-trace0.json")
        metrics = {
            k: {"value": float(layer[k]), "unit": u} for k, u in sorted(units.items())
        }
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    with open(results / f"{tag}-trace{args.trace}.json", "w") as f:
        json.dump(out, f)
    shutil.rmtree(work, ignore_errors=True)
    print(f"# run wall: {time.perf_counter() - _T_START:.1f}s", file=sys.stderr)
    print(json.dumps(out))
    return 0


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric in BENCHMARK.json, with its unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def fold_event_log(work: Path, spans: list[dict], save_as: Path) -> list[dict]:
    """Fold the run's event log into its spans; the raw spans and the
    trimmed log are saved beside the folded spans for offline reading."""
    events = [e for p in sorted((work / "eventlog").iterdir()) for e in tr.read_events(str(p))]
    with open(f"{save_as}-spans.json", "w") as f:
        json.dump(spans, f)
    tr.write_events(events, f"{save_as}-events.jsonl.gz")
    jobs, stages = tr.parse_events(events)
    return tr.fold([dict(s) for s in spans], jobs, stages, cpus())


def span_counts(spans: list[dict]) -> dict[str, float]:
    """Cache-fill evidence and input volume from the folded spans. Both
    warehouse builds of a ``star_query`` set-up, the pipeline refresh and
    ``materialize_warehouse``, should show cache-fill stages."""
    builds = [
        s for s in spans
        if s["name"] in ("model.star.materialize_warehouse",
                         "pipelines.warehouse_pipeline.run_warehouse_pipeline")
    ]
    plans = [s for s in spans if s["layer"] == "plans"]
    out = {
        "sources.input_mb": sum(s["input_mb"] for s in plans),
        "model.star.builds_with_fill": sum(s["fill_stages"] > 0 for s in builds),
    }
    for s in builds:
        if s["layer"] == "pipelines":
            out["pipelines.warehouse_pipeline.fill_stages"] = s["fill_stages"]
    if builds:
        out["model.star.fill_s"] = statistics.median([s["fill_s"] for s in builds])
    return out


def print_layer_table(layer: dict, untraced_path: Path) -> None:
    print("# per-layer metrics (traced run)", file=sys.stderr)
    for k, v in sorted(layer.items()):
        print(f"#   {k:<58} {v:14.4f}", file=sys.stderr)
    if untraced_path.is_file():
        base = json.loads(untraced_path.read_text())["metrics"]
        print("# tracing overhead (traced - untraced, same seed):", file=sys.stderr)
        for k, m in base.items():
            if f"traced.{k}" in layer:
                print(
                    f"#   {k:<14} {layer[f'traced.{k}'] - m['value']:+10.4f} {m['unit']}",
                    file=sys.stderr,
                )
    else:
        print(
            "# tracing overhead: run the same seed with --trace 0 first to see it",
            file=sys.stderr,
        )


if __name__ == "__main__":
    sys.exit(main())
