"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload tiles_small_files --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace
1``); the line before it is a report with the workload's own metric names,
the environment and the checks. ``--smoke`` runs toy sizes through both the
untraced and the traced phase and prints every metric. BENCHMARK.json
names the metrics; perfbench/METRICS.md defines them per workload.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the seed every later performance claim must also hold on; not used while
# the benchmark or a change is being developed
HOLDOUT_SEED = 7919
SETUP_REPEATS = 3


def _fail(msg: str, code: int = 2) -> None:
    print(json.dumps({"valid": False, "reason": msg}))
    sys.exit(code)


def _phase(wl, tables, args, workdir: str, cores: int, traced: bool) -> dict:
    """One session: set up, warm up, measure for ``args.seconds``, check
    every measured operation. Returns the outcome and, when traced, the
    layer metrics."""
    from harness import (Session, Tracer, cpu_ticks, median, steal_share,
                         tree_cpu_seconds)
    from workloads import Run, timed
    import eventlog
    from quadtree_block_compression_spark.functions.cache import (
        release_caches, tracked_count)

    pdir = os.path.join(workdir, "traced" if traced else "plain")
    t = time.perf_counter()
    sess = Session(cores, pdir, os.path.join(pdir, "eventlog") if traced else None)
    session_s = time.perf_counter() - t
    tracer = Tracer(sess.spark.sparkContext if traced else None)
    run = Run(sess.spark, tracer, pdir, tables)
    op_spans: list[dict] = []

    def call(kind: str):
        def op(i: int) -> None:
            with tracer.span(kind) as sp:
                c0, t0, u0 = cpu_ticks(), time.perf_counter(), tree_cpu_seconds()
                try:
                    rec = wl.op(run, f"{kind}-{i}")
                except Exception:
                    if kind != "op":
                        raise
                    # a failed measured operation counts and the window goes on
                    run.outcome(False, f"{kind}-{i}: {traceback.format_exc(limit=2)}")
                    return
                rec["wall"] = time.perf_counter() - t0
                rec["steal"] = steal_share(c0, cpu_ticks())
                u1 = tree_cpu_seconds()
                # the JIT compiler's share decays over a session's first
                # dozen pipelines, and its timing varies from run to run
                rec["cpu"] = (u1[0] - u1[1]) - (u0[0] - u0[1])
                rec["jit_cpu"] = u1[1] - u0[1]
            if kind == "op":
                run.records.append(rec)
                op_spans.append(sp)
        return op

    try:
        # the tables are written SETUP_REPEATS times (each into its own
        # directory, the last one used) and the median write is charged;
        # a traced run reports no setup_s and writes them once
        reps = 1 if args.trace else SETUP_REPEATS
        mats = [timed(lambda: wl.materialize(run, os.path.join(pdir, f"tables-{k}")))
                for k in range(reps)]
        warm_op = call("warm")
        # both phases of a traced run warm up alike, and it must stay well
        # inside 180 s
        warm = [timed(lambda: warm_op(i))
                for i in range(wl.warm_traced if args.trace else wl.warm)]
        release_caches()
        # a traced run measures one operation per phase: it reports layers,
        # not the gated end-to-end numbers, and must stay well inside 180 s
        op, t_end = call("op"), time.perf_counter() + args.seconds
        for i in itertools.count():
            op(i)
            if args.trace:
                break
            walls = [r["wall"] for r in run.records]
            if len(walls) >= wl.min_ops and time.perf_counter() + median(walls) > t_end:
                break
        if not run.records:
            raise RuntimeError("no measured operation completed: "
                               + "; ".join(run.failures))
        walls = [r["wall"] for r in run.records]
        steals = [r["steal"] for r in run.records]
        kernel_rates = wl.check(run)
        e2e, report = wl.metrics(run, run.records)
        layers = {}
        if traced:
            layers = wl.layers(run, kernel_rates)
            layers["session.jvm_peak_rss_mb"] = sess.jvm_peak_rss_mb()
        release_caches()
        run.outcome(tracked_count() == 0, "tracked cached frames leaked past the run")
    finally:
        sess.stop()
    out = {"attempted": run.attempted, "failed": run.failed,
           "failures": run.failures, "e2e": e2e, "report": report,
           "setup": {"session_s": session_s, "materialize_s": mats,
                     "warm_up_s": warm, "op_walls_s": walls,
                     "op_steal_share": steals,
                     "op_cpu_s": [r["cpu"] for r in run.records],
                     "op_jit_cpu_s": [r["jit_cpu"] for r in run.records]},
           "setup_s": session_s + median(mats) + sum(warm),
           "op_wall_s": median(walls), "layers": layers}
    if traced:
        ops = {s["id"] for s in op_spans}
        inside = [s for s in tracer.spans if _under(s, ops, tracer.spans)]
        log = eventlog.read(os.path.join(pdir, "eventlog"))
        layers.update(eventlog.op_metrics(log, inside, op_spans))
        layers["wall.traced_op_s"] = out["op_wall_s"]
        out["spans"] = tracer.spans
        out["span_self_s"] = tracer.self_seconds()
    return out


def _under(span: dict, ids: set, spans: list[dict]) -> bool:
    """``span`` is one of ``ids`` or lies under one of them."""
    sid = span["id"]
    while sid is not None:
        if sid in ids:
            return True
        sid = spans[sid]["parent"]
    return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[cores]; default: the CPUs this process may use")
    ap.add_argument("--smoke", action="store_true", help="toy sizes, every metric")
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing, and so the order of sets the plans are built
        # from, is the same in every run
        os.execve(sys.executable, [sys.executable] + sys.argv,
                  {**os.environ, "PYTHONHASHSEED": "0"})
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "quadtree_block_compression_spark")):
        _fail("the quadtree_block_compression_spark package is not beside perfbench/")
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from harness import available_cores
    have = available_cores()
    cores = args.cores or have
    if cores > have:
        _fail(f"{cores} cores requested, {have} available to this process", 3)

    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cls, sizes = WORKLOADS[args.workload]
    size = "smoke" if args.smoke else "full"
    wl = cls(args.workload, sizes[size])

    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # every JVM the run starts (Spark's launcher and the driver) would
    # otherwise keep a perf-data file under /tmp; and JIT compiler threads
    # that stay alive keep their CPU time apart from the rest
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                      "-XX:-UseDynamicNumberOfCompilerThreads"]))
    try:
        t = time.perf_counter()
        tables = wl.inputs(os.path.join(base, "cache"), args.seed)
        gen_s = time.perf_counter() - t
        plain = _phase(wl, tables, args, workdir, cores, traced=False)
        traced = None
        if args.trace or args.smoke:
            traced = _phase(wl, tables, args, workdir, cores, traced=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    import numpy
    import pyspark
    report = {
        "workload": args.workload, "seed": args.seed, "holdout_seed": HOLDOUT_SEED,
        "size": size, "seconds": args.seconds, "trace": args.trace, "cores": cores,
        "cores_available": have, "spark": pyspark.__version__,
        "python": platform.python_version(), "numpy": numpy.__version__,
        "unit_of_work": wl.unit, "inputs_s": gen_s,
        "setup": plain["setup"], "setup_s": {"value": plain["setup_s"], "unit": "s"},
        **plain["report"],
        "failed_share": {"value": plain["failed"] / plain["attempted"], "unit": "share"},
        "failures": plain["failures"]}
    e2e = {"setup_s": plain["setup_s"], **plain["e2e"]}
    attempted, failed = plain["attempted"], plain["failed"]
    metrics = {}
    if traced is not None:
        units = _units("per_layer")
        layers = dict.fromkeys(units, 0.0)
        layers.update(traced["layers"])
        layers["wall.untraced_op_s"] = plain["op_wall_s"]
        layers["session.tracing_overhead_share"] = (
            (traced["op_wall_s"] - plain["op_wall_s"]) / plain["op_wall_s"])
        report["traced"] = {
            "untraced_op_wall_s": plain["op_wall_s"],
            "traced_op_wall_s": traced["op_wall_s"],
            "self_s": {"driver": layers["driver.only_s"],
                       "spark": layers["self.spark_s"],
                       "boundary": layers["self.boundary_s"]},
            "span_self_s": traced["span_self_s"],
            "failures": traced["failures"]}
        attempted += traced["attempted"]
        failed += traced["failed"]
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(traced["spans"], f)
        metrics.update({k: {"value": v, "unit": units[k]} for k, v in layers.items()})
    if not args.trace or args.smoke:
        units = _units("end_to_end")
        metrics.update({k: {"value": e2e[k], "unit": u} for k, u in units.items()})
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _units(kind: str) -> dict[str, str]:
    """Name → unit of every ``kind`` metric ("end_to_end" or "per_layer"),
    as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
