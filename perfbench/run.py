"""Layered benchmark of the validation engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload full_validate --seed 42 --seconds 5 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):
- ``full_validate``: one full rule-suite pass per op (``suite.py``);
- ``registry_queries``: one pass over the 14 headline queries per op
  (``registry.py``).

Which per-layer metrics should move which end-to-end metric:
- ``plans.shared.*``, ``operators.*``, ``plans.runner.spark_*`` and
  ``plans.runner.schedule_gap_s`` -> ``op_s`` and ``rows_per_s`` on
  ``full_validate``; nothing on ``registry_queries``;
- ``entry_queries.*`` and ``sources.read_plan_s`` -> ``op_s`` and
  ``rows_per_s`` on ``registry_queries``;
- ``sources.catalog.*``, ``plans.manifest.*``, ``plans.runner.resume_delta_s``,
  ``plans.runner.sink_*`` and ``plans.incremental_stats.*`` -> the append
  probe of the traced ``full_validate`` run only (resume and incremental
  runs of a two-partition delta); no end-to-end metric covers them;
- ``setup_s`` moves with ``datagen`` (corpus build), table generation and
  the cold first op of either workload.

The end-to-end metrics are named per op, so every workload reports the same
three: ``op_s`` is the validate time on ``full_validate`` and the pass time on
``registry_queries``; ``rows_per_s`` is validated sequences per second and
input rows per second. Resume and incremental delta times and peak memory are
per-layer (``plans.runner.resume_delta_s``, ``plans.incremental_stats.delta_s``,
``session.peak_rss_mb``): the first two have no workload of their own, and
peak RSS varies by more than a tenth from run to run.

One process runs Spark on ``local[<cores>]`` in a closed loop: one
client, the next op starts only after the previous one returned and was
checked. Ops repeat until ``--seconds`` have passed (at least one op).

Set-up builds the inputs (``SETUP_BUILDS`` times, each into a fresh
directory; the last one is kept), then runs one checked warm-up op.
``setup_s`` = session start + median input build + warm-up op. ``--seed``
feeds ``GenConfig(seed=...)`` on ``full_validate`` and the query order on
``registry_queries``. Each op is timed without its correctness check, which
runs right after it; an op that raises or fails its check counts in
``failed`` (``op_fail_ratio`` = failed / attempted, logged to stderr).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates traced
and untraced ops (at least two traced, one untraced), reports the difference
of their medians as the tracing overhead, runs the workload's layer probes,
prints the per-layer metrics and writes every span to
``.perfbench_work/traces/``. A per-layer metric of a layer the workload never
calls reads 0.

All data, Spark scratch space and caches live under ``.perfbench_work/`` in
the checkout; a run removes its own data when it ends. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": _ram_gb(), "load1": load1}


def _ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over this process, the JVM and the JVM's descendants
    (the Python workers) that are alive now."""
    pids, todo = [os.getpid()], [jvm_pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo += _children(p)
    return sum(_hwm_kb(p) for p in pids) / 1024


def start_session(work: str):
    """A host-sized session from the engine's ``get_spark``: cores from the
    CPU affinity mask, Spark driver memory a quarter of RAM (1-4 GB)."""
    for d in ("spark-local", "tmp", "ann-cache", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # workers import the engine from this checkout wherever the run starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["LK_ANN_CACHE_DIR"] = os.path.join(work, "ann-cache")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(
        work, "tmp"
    )

    from lk_data_test_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(4, int(_ram_gb() // 4)))
    spark = get_spark(
        "perfbench",
        cores=cores,
        driver_memory=f"{mem_gb}g",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, spark, work: str, seed: int, tracer):
    if name == "full_validate":
        from suite import FullValidate

        return FullValidate(spark, work, seed, tracer)
    from registry import RegistryQueries

    return RegistryQueries(spark, work, seed, tracer)


def run(args, spark, session_s: float, work: str) -> dict:
    from spans import Tracer

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = make_workload(args.workload, spark, work, args.seed, tracer)

    builds, corpus = [], None
    for i in range(wl.SETUP_BUILDS):
        if corpus is not None:
            shutil.rmtree(corpus)
        t0 = time.perf_counter()
        corpus = wl.build(i)
        builds.append(time.perf_counter() - t0)
    wl.prepare(corpus)
    t0 = time.perf_counter()
    problems = wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(builds) + warm_s
    log(
        f"setup {setup_s:.2f}s = session {session_s:.2f} + build median of "
        f"{[round(b, 2) for b in builds]} + warm-up {warm_s:.2f}"
    )

    walls = {False: [], True: []}
    work_units, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + args.seconds
    # at least one op; a traced run alternates traced and untraced ops,
    # starting traced (the first op after warm-up is the slowest, so the
    # overhead estimate errs high), and needs two traced ops to see whether
    # Spark counts repeat (the cold warm-up op launches extra jobs)
    min_ops = 3 if args.trace else 1
    while attempted < min_ops or time.perf_counter() < t_end:
        traced = bool(args.trace) and attempted % 2 == 0
        try:
            wall, units, op_problems = wl.op(attempted, traced)
        except Exception as e:  # an op that raises counts as failed
            wall, units, op_problems = 0.0, 0, [f"op raised {type(e).__name__}: {e}"]
        attempted += 1
        if op_problems:
            failed += 1
            problems += op_problems
        else:
            walls[traced].append(wall)
            work_units.append(units)
        log(f"op {attempted - 1}{' traced' if traced else ''}: {wall:.3f}s {op_problems or 'ok'}")

    result = {"setup_s": setup_s, "walls": walls, "info": wl.info}
    if args.trace:
        probe_problems = wl.probes()
        attempted += 1
        failed += bool(probe_problems)
        problems += probe_problems
        result["layer"] = wl.layer_metrics()
        if walls[False] and walls[True]:
            result["layer"]["perfbench.trace_overhead_s"] = statistics.median(
                walls[True]
            ) - statistics.median(walls[False])
        result["tracer"] = tracer
    elif walls[False]:
        op_s = statistics.median(walls[False])
        result["end_to_end"] = {
            "op_s": op_s,
            "rows_per_s": statistics.median(work_units) / op_s,
        }
    result.update(problems=problems, attempted=attempted, failed=failed)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("full_validate", "registry_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lk_data_test_spark  # noqa: F401  (the engine, from this checkout)
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    host_start = host_snapshot()
    log(f"{args.workload} seed={args.seed} host at start {host_start}")

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        res = run(args, spark, session_s, work)
        rss_mb = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    host_end = host_snapshot()
    log(f"host at end {host_end}; peak RSS {rss_mb:.0f} MB; info {res['info']}")
    log(f"op_fail_ratio {res['failed'] / res['attempted']:.3f} ({res['failed']} of {res['attempted']})")
    for p in res["problems"]:
        log(f"CHECK FAILED: {p}")

    if args.trace:
        values = dict(res["layer"], **{"session.peak_rss_mb": rss_mb})
        tracer = res["tracer"]
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(
            path,
            {"workload": args.workload, "seed": args.seed, "host_start": host_start,
             "host_end": host_end, "info": res["info"], "metrics": values},
        )
        selfs = sorted(tracer.self_time_by_name().items(), key=lambda kv: -kv[1])
        log("self time by span, summed over ops: " + ", ".join(f"{n}={s:.3f}s" for n, s in selfs[:20]))
        log(f"spans written to {path}")
        wanted = spec["per_layer"]
    else:
        values = dict(res.get("end_to_end", {}), setup_s=res["setup_s"])
        wanted = spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and not args.trace:
        log(f"no successful op, so no value for {missing}")
        return 1
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": not res["problems"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
