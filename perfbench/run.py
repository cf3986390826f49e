"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload coords_tiles --seed 1 \\
        --seconds 15 --trace 0

Workloads (see workloads.py): ``coords_tiles``, ``pages_job`` and
``headline_queries``.  A run generates (or reuses) its seeded inputs,
computes the reference answers, starts a ``local[nproc]`` Spark
session, makes an untimed first pass and warm-up passes until the
pass time stops drifting, then times passes for ``--seconds`` (at
least two) and checks every pass against the reference.  ``setup_s``
is the session start plus the first pass.  After every pass a short
Spark job without the program's code (``tracing.substrate_probe_s``)
measures how fast the host runs Spark right now; ``ref_docs_per_s``
is the median docs/s of the timed passes scaled by the median probe
(see PROBE_REF_S), and the raw median docs/s is printed beside it.

``--trace 0`` reports the end-to-end metrics with the Spark UI off.
``--trace 1`` turns the UI on, records spans around every second pass
and reports per-layer metrics: Spark's SQL and stage metrics read back
from the UI REST API, layer ablations and in-process kernel timings.
It also writes spans and the full layer table to
``.perfbench/trace-<workload>-s<seed>.json``.

Human-readable lines come first; the last stdout line is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``.  Everything the run writes stays under ``.perfbench/``
in the checkout.
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

import inputs
import layers
import tracing
from workloads import WORKLOADS

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

MIN_PASSES = 2
WARM_MIN_S = 4.0
WARM_MAX_S = 8.0
STEADY_GAIN = 0.03
# with 2g the pages job's passes slowed from 6 s to 10 s over a run
# (GC pressure); 4g keeps them flat and fits a 15 GiB host
DRIVER_MEMORY = "4g"

# ref_docs_per_s is docs/s on a host where tracing.substrate_probe_s()
# takes PROBE_REF_S: the median docs/s of the timed passes times the
# median probe of the timed window, over PROBE_REF_S.  On a shared
# 4-core host the raw docs/s of runs minutes apart differed by up to
# 50%; the probe slowed in step, and no change to the program moves
# it.  Raw docs_per_s is printed next to it.
PROBE_REF_S = 0.5
END_TO_END = {"ref_docs_per_s": "docs/s", "setup_s": "s",
              "peak_pss_mb": "MB"}
# The traced run's last line carries these, measured on every workload
# (zero where a layer does no work there).  Times that exist on one
# workload only (jobs.stage.*_s, resume_s, query.*_s,
# sources.mine.python_s) are printed and written to the trace file.
PER_LAYER = {
    "scan.bytes": "B", "scan.rows": "count", "scan.s": "s",
    "scan_only_s": "s",
    "functions.udf.bytes_to_python": "B",
    "functions.udf.bytes_from_python": "B",
    "functions.udf.python_s": "s", "functions.udf.worker_start_s": "s",
    "functions.boundary_s": "s", "functions.s2_udf_s": "s",
    "index.s2.cell_id_mpts": "Mpts/s", "kernels.webmerc_mpts": "Mpts/s",
    "kernels.utm_mpts": "Mpts/s", "proj.compile_ms": "ms",
    "spatial_join.cover_cells": "count", "spatial_join.cover_build_s": "s",
    "spatial_join.broadcast_bytes": "B",
    "spatial_join.candidate_pairs": "count",
    "spatial_join.accepted_pairs": "count",
    "spatial_join.accept_ratio": "ratio",
    "spatial_join.raycast_python_s": "s",
    "sources.mine.bytes_to_python": "B", "sources.mine.mentions": "count",
    "checkpoint.bytes_written": "B", "checkpoint.files_written": "count",
    "jobs.spark_jobs": "count",
    "exchange.shuffle_bytes": "B", "exchange.shuffle_records": "count",
    "aggregate.build_s": "s", "aggregate.spill_bytes": "B",
    "stage.task_skew": "ratio", "input.hot_cell_share": "ratio",
    "trace.overhead_s": "s",
}


def _unit(name: str) -> str:
    if name in PER_LAYER:
        return PER_LAYER[name]
    return "B" if name.endswith("bytes") else "s" if name.endswith("_s") \
        else "count"


def start_session(nproc: int, ui: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    spark = (SparkSession.builder.master(f"local[{nproc}]")
             .appName("perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .config("spark.local.dir", os.path.join(WORK, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(WORK, "wh"))
             .config("spark.sql.shuffle.partitions", str(2 * nproc))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.ui.enabled", str(ui).lower())
             .config("spark.ui.port", "0")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the workers) to exit."""
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
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def probed_pass(wl, probes: list):
    """One pass, then a substrate probe."""
    p = wl.run_pass()
    probes.append(tracing.substrate_probe_s(wl.spark))
    return p


def warm_up(wl) -> list:
    """Warm-up passes after the first one, until the pass time stops
    drifting down: at least WARM_MIN_S, then until two passes in a row
    are no more than STEADY_GAIN faster than the best before them, or
    WARM_MAX_S is spent.  The JVM keeps compiling Spark's planner and
    the passes kept getting faster for tens of seconds after one
    warm-up pass."""
    passes, flat = [], 0
    t0 = time.perf_counter()
    while True:
        spent = time.perf_counter() - t0
        if spent >= WARM_MAX_S or (flat >= 2 and spent >= WARM_MIN_S):
            return passes
        p = probed_pass(wl, [])
        best = min((q.wall_s for q in passes), default=None)
        flat = flat + 1 if (best is not None and
                            p.wall_s >= (1 - STEADY_GAIN) * best) else 0
        passes.append(p)


def measure(wl, seconds: float, trace: bool, mem):
    """First pass, warm-up passes, then timed passes for ``seconds``
    (at least MIN_PASSES), each pass followed by a substrate probe;
    ``probes`` are those of the timed window, one more than its passes.
    With ``trace`` every second timed pass is traced.  Last, the
    workload's closing pass (the pages job's resume), if it has one."""
    first = wl.run_pass()
    warm = warm_up(wl)                       # probes warm up here too
    mem.reset()
    timed, traced = [], []
    probes = [tracing.substrate_probe_s(wl.spark)]
    end = time.perf_counter() + seconds
    while (time.perf_counter() < end or len(timed) < MIN_PASSES
           or (trace and len(traced) < 2)):
        wl.tracer.on = trace and len(timed) == len(traced)
        (traced if wl.tracer.on else timed).append(probed_pass(wl, probes))
    wl.tracer.on = False
    closing = wl.closing_pass()
    return first, warm, timed, traced, closing, probes


def _spread(values):
    return (f"median {statistics.median(values):.4g}  min {min(values):.4g}"
            f"  max {max(values):.4g}  n={len(values)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "proj_4_spark", "__init__.py")):
        print(f"perfbench: no proj_4_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    host = tracing.HostBlock()
    t = time.perf_counter()
    input_dir = inputs.materialize(os.path.join(WORK, "inputs"), cls.kind,
                                   args.seed, cls.size)
    work_dir = os.path.join(WORK, "work", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    wl = cls(args.seed, input_dir, work_dir)
    wl.reference()
    prep_s = time.perf_counter() - t

    with tracing.MemorySampler() as mem:
        t = time.perf_counter()
        spark = start_session(host.nproc, ui=bool(args.trace))
        session_s = time.perf_counter() - t
        try:
            run_id = f"{args.workload}-s{args.seed}"
            wl.bind(spark, tracing.Tracer(spark.sparkContext, run_id, False))
            first, warm, timed, traced, closing, probes = measure(
                wl, args.seconds, bool(args.trace), mem)
            peak_mb = mem.peak_mb
            if args.trace:
                layer = trace_layers(spark, wl, timed, traced)
        finally:
            t = time.perf_counter()
            stop_session(spark)
            stop_s = time.perf_counter() - t

    passes = [first, *warm, *timed, *traced, *closing]
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    walls = [p.wall_s for p in timed]
    probe_s = statistics.median(probes)
    e2e = {"ref_docs_per_s": statistics.median(p.docs / p.wall_s
                                               for p in timed)
           * probe_s / PROBE_REF_S,
           "setup_s": session_s + first.wall_s,
           "peak_pss_mb": peak_mb}
    block = host.close()

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{host.nproc}] driver={DRIVER_MEMORY}")
    print(f"  host {json.dumps(block)}")
    print(f"  inputs+reference {prep_s:.2f} s; session {session_s:.2f} s; "
          f"first pass {first.wall_s:.2f} s; warm-up passes "
          f"{' '.join(f'{p.wall_s:.2f}' for p in warm)} s")
    print(f"  pass wall s: {_spread(walls)}; stop {stop_s:.2f} s; "
          f"run {time.perf_counter() - T_START:.1f} s")
    print(f"  passes: {' '.join(f'{w:.3f}' for w in walls)}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<28} {e2e[name]:>14.6g} {unit}")
    extra = {"docs_per_s": statistics.median(p.docs / p.wall_s
                                             for p in timed),
             "probe_s": probe_s}
    if args.workload == "pages_job":
        extra["resume_s"] = closing[0].wall_s
    if args.workload == "headline_queries":
        extra["headline_s"] = statistics.median(walls)
    for name, v in extra.items():
        unit = "docs/s" if name == "docs_per_s" else "s"
        print(f"  {name:<28} {v:>14.6g} {unit}")
    print(f"  {'fail_frac':<28} {failed / attempted:>14.6g} "
          f"({failed} of {attempted})")
    for p in passes:
        for msg in p.problems:
            print(f"  FAILED: {msg}")

    if args.trace:
        print("  per-layer (traced passes; medians):")
        for name in sorted(layer):
            print(f"    {name:<40} {layer[name]:>14.6g} {_unit(name)}")
        path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host": block, "end_to_end": {**e2e, **extra},
                       "layers": layer, "spans": wl.tracer.spans}, f,
                      indent=1)
        print(f"  spans and layer table: {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def trace_layers(spark, wl, timed, traced) -> dict:
    """Median per-layer numbers over the traced passes, plus ablations,
    kernel timings and the tracing overhead."""
    sc = spark.sparkContext
    execs = tracing.rest_executions(sc)
    jobs = tracing.rest_jobs(sc)
    stages = tracing.rest_stages(sc)
    per_pass = [layers.rest_pass(sc, wl.tracer, execs, jobs, stages,
                                 p.span, wl.pip_spans) | p.parts
                for p in traced]
    out = {k: statistics.median(d.get(k, 0.0) for d in per_pass)
           for k in set().union(*per_pass)}
    for k in ("checkpoint.bytes_written", "checkpoint.files_written"):
        out.setdefault(k, 0)
    out["trace.overhead_s"] = (statistics.median(p.wall_s for p in traced)
                               - statistics.median(p.wall_s for p in timed))
    lon, lat = wl.points()
    out.update(layers.ablations(spark, wl.points_parquet()))
    out.update(layers.kernels(spark, lon, lat, wl.polygons()))
    return out


if __name__ == "__main__":
    sys.exit(main())
