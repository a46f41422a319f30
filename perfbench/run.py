"""Layered extraction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run starts a Spark session with the
package's own ``get_spark`` on ``local[nproc]``, builds the workload's
inputs from ``--seed`` (three times; the median is ``setup_s``), runs an
untimed pass whose output is checked against an independent oracle, then
runs back-to-back passes (one client, closed loop) for ``--seconds``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones: after the same untimed and timed
passes it times each layer's public call on its own, with the previous
layer's output persisted outside the span, and writes the spans to
``.perfbench_out/``.  Every intermediate file (Spark local dirs,
warehouse, checkpoints) lives in ``.perfbench_tmp/`` and is deleted on
exit.  The last stdout line is the JSON result; the line before it is
the host context.  The exit code is 1 when an output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 2
SETUPS = 3
SIDE_SCALE = 0.25
PY_METRICS = {"fused.py_s": "fused.py",            # plans/fused.py
              "enrichment.py_s": "enrichment.py"}  # plans/enrichment.py


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(work: str) -> None:
    """Workers import the package from the checkout whatever the current
    directory; every Spark-side file goes under ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None              # re-read TMPDIR
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Dderby.system.home={os.path.join(work, 'derby')}")
    confs = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             "spark.ui.showConsoleProgress": "false",
             "spark.driver.extraJavaOptions": java_opts}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) \
        + " pyspark-shell"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()   # the JVM exits when this pipe closes
        proc.wait(timeout=60)


def timed_passes(wl, seconds: float, sampler=None
                 ) -> tuple[list[float], list[int], list[int]]:
    """Back-to-back passes until another one would end past ``seconds``
    (at least MIN_PASSES): per-pass walls, sink rows and peak RSS."""
    walls, outs, peaks = [], [], []
    deadline = time.monotonic() + seconds
    while len(walls) < MIN_PASSES or \
            time.monotonic() + statistics.median(walls) <= deadline:
        wl.prepare_pass()
        if sampler:
            sampler.start()
        t0 = time.monotonic()
        outs.append(wl.run_pass())
        walls.append(time.monotonic() - t0)
        if sampler:
            peaks.append(sampler.stop())
    return walls, outs, peaks


def lost_docs(wl, outs: list[int]) -> int:
    """Documents missing from (or duplicated in) the sink over passes."""
    return sum(abs(wl.expected_out - o) for o in outs)


def single_core_pass(spark, wl) -> float:
    """docs/s of one pass over the 1/nproc slice in one partition, with
    one shuffle partition, i.e. on one core."""
    offered = wl.make_slice()
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        wl.prepare_pass()
        t0 = time.monotonic()
        wl.run_pass(sliced=True)
        wall = time.monotonic() - t0
    finally:
        spark.conf.set(key, old)
    return offered / wall


def profiled_pass(tracer, wl, m: dict) -> dict:
    """One end-to-end pass under the perf UDF profiler: its wall against
    the untraced median is the tracing overhead, and its per-module
    Python time gives the ``*.py_s`` metrics."""
    wl.prepare_pass()
    with tracer.span("e2e.profiled", profile=True) as rec:
        wl.run_pass()
    for k, module in PY_METRICS.items():
        if module in rec["py_s"]:
            m.setdefault(k, rec["py_s"][module])
    return rec


def trace_layers(spark, wl, workloads, work, seed, nproc, m,
                 layer_names) -> dict:
    """Per-layer metrics: the requested workload's own chain first; a
    layer off its path is filled from a reduced-size run of the
    workload that carries it, so every trace reports every layer."""
    from instruments import Tracer
    tracer = Tracer(spark, work, wl.name)
    e2e = profiled_pass(tracer, wl, m)
    top = wl.trace(tracer, m)
    chains = {wl.name: tracer}
    for cls in workloads.values():
        missing = [k for k in layer_names
                   if k.split(".")[0] in cls.provides and k not in m]
        if cls.name == wl.name or not missing:
            continue
        side = cls(spark, seed, work, nproc, scale=SIDE_SCALE)
        side.setup()
        side_tracer = chains[cls.name] = Tracer(spark, work, cls.name)
        side_m = dict(m)
        if any(k in PY_METRICS for k in missing):
            profiled_pass(side_tracer, side, side_m)
        side.trace(side_tracer, side_m)
        side.release()
        for k, v in side_m.items():
            m.setdefault(k, v)
    return {"e2e_profiled_s": e2e["wall_s"],
            "layer_sum_s": sum(top),
            "chains": chains}


def metric_units(trace: int) -> dict:
    """name -> unit of the metrics this run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def run(args, work: str) -> tuple[dict, dict]:
    from instruments import HostWindow, RssSampler, StageCounters
    from workloads import WORKLOADS

    from pdf_extraction_spark.session import get_spark

    units = metric_units(args.trace)
    nproc = len(os.sched_getaffinity(0))
    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - t0
    sampler = RssSampler()
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work, nproc)
        setups = []
        for _ in range(1 if args.trace else SETUPS):
            wl.release()
            t0 = time.monotonic()
            wl.setup()
            setups.append(time.monotonic() - t0)

        t0 = time.monotonic()
        problems, check_out = wl.check()
        check_s = time.monotonic() - t0
        # untimed passes of the timed plan itself: its shape differs
        # from the check's, so they pay the plan's own first-run costs
        # (code generation, the Python workers' memo caches)
        warm_s, outs = [], [check_out]
        for _ in range(wl.warmup_passes):
            wl.prepare_pass()
            t0 = time.monotonic()
            outs.append(wl.run_pass())
            warm_s.append(time.monotonic() - t0)
        for out in outs:
            if out != wl.expected_out:
                problems.append(f"untimed pass: {out} docs out, "
                                f"expected {wl.expected_out}")

        counters = StageCounters(spark)
        counters.group("e2e")
        host = HostWindow()
        walls, outs, peaks = timed_passes(wl, args.seconds, sampler)
        counters.group(None)
        context = {"workload": args.workload, "seed": args.seed,
                   "host": host.close(), "pass_walls_s": walls,
                   "setup_walls_s": setups, "session_s": session_s,
                   "check_s": check_s, "warm_s": warm_s,
                   "pass_peak_rss_mb": [p / 2**20 for p in peaks]}
        failed = lost_docs(wl, outs)
        result = {"correct": not problems and not failed,
                  "attempted": wl.offered * len(walls), "failed": failed}
        wall = statistics.median(walls)
        if not args.trace:
            values = {
                "docs_per_s": wl.offered / wall,
                "setup_s": session_s + statistics.median(setups),
                "peak_rss_mb": statistics.median(peaks) / 2**20}
        else:
            e2e = counters.totals("e2e")
            values = {
                "spark.shuffle_bytes_per_doc":
                    e2e["shuffle_write"] / result["attempted"],
                "spark.spill_bytes": e2e["spill"] / len(walls),
                "spark.gc_s": e2e["gc_ms"] / 1e3 / len(walls),
                "spark.cpu_ratio": e2e["cpu_ns"] / 1e6 / e2e["run_ms"],
                "setup.session_s": session_s}
            values["scaling.eff"] = (wl.offered / wall) / (
                nproc * single_core_pass(spark, wl))
            traced = trace_layers(spark, wl, WORKLOADS, work, args.seed,
                                  nproc, values, units)
            values["trace.overhead_ratio"] = traced["e2e_profiled_s"] / wall
            values["trace.layer_sum_ratio"] = traced["layer_sum_s"] / wall
            write_trace(args, {
                **context, "untraced_wall_s": wall, "metrics": values,
                "chains": {k: t.records()
                           for k, t in traced["chains"].items()}})
        missing = set(units) - set(values)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        result["metrics"] = {k: {"value": float(values[k]), "unit": u}
                             for k, u in units.items()}
        context["problems"] = problems
        return context, result
    finally:
        sampler.close()
        stop_spark(spark)


def write_trace(args, doc: dict) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "pdf_extraction_spark",
                                       "__init__.py")):
        print("perfbench: the pdf_extraction_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    hermetic_env(work)
    try:
        context, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    for p in context.pop("problems"):
        print(f"perfbench: WRONG OUTPUT: {p}", file=sys.stderr)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
