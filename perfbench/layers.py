"""Per-layer metrics for the traced run.

Three sources, all driven from the benchmark's own code:

- ablations on the workload's points (scan only; scan + identity
  ``pandas_udf``; scan + ``s2_cell_udf(12)``), timed with Spark;
- in-process kernel timings on one thread (``index.s2.cell_id``,
  ``compile_projstring(...).transform_deg``, ``polygon_cover_df`` and
  ``compile_projstring`` itself);
- Spark's SQL, job and stage metrics from the UI REST API, attributed
  to the traced passes through their span job groups.
"""

from __future__ import annotations

import re
import statistics
import time

import numpy as np
import pandas as pd

import tracing as T

UTM = "+proj=utm +zone=32 +ellps=GRS80"


def _median_time(fn, repeat: int = 3) -> float:
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def ablations(spark, path: str) -> dict:
    """Scan, scan + identity Arrow UDF, scan + S2 encode (noop sinks)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from proj_4_spark.functions.geo import s2_cell_udf

    @pandas_udf("double")
    def identity(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return lon

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    pts = spark.read.parquet(path)
    variants = {
        "scan_only_s": lambda: sink(pts.select("lon", "lat")),
        "identity_udf_s": lambda: sink(pts.select(
            identity(F.col("lon"), F.col("lat")).alias("v"))),
        "functions.s2_udf_s": lambda: sink(pts.select(
            s2_cell_udf(12)(F.col("lon"), F.col("lat")).alias("v"))),
    }
    out = {}
    for name, fn in variants.items():
        fn()                                   # warm
        out[name] = _median_time(fn)
    out["functions.boundary_s"] = out.pop("identity_udf_s") - out["scan_only_s"]
    return out


def kernels(spark, lon: np.ndarray, lat: np.ndarray,
            polygons: list[dict]) -> dict:
    from proj_4_spark.index import s2
    from proj_4_spark.operators.spatial_join import polygon_cover_df
    from proj_4_spark.proj import compile_projstring

    mpts = len(lon) / 1e6
    web = compile_projstring("+proj=webmerc")
    utm = compile_projstring(UTM)
    cells = s2.cell_id(lon, lat, 12)
    _, counts = np.unique(cells, return_counts=True)
    cover = polygon_cover_df(spark, polygons, 8)
    return {
        "index.s2.cell_id_mpts":
            mpts / _median_time(lambda: s2.cell_id(lon, lat, 12)),
        "kernels.webmerc_mpts":
            mpts / _median_time(lambda: web.transform_deg(lon, lat)),
        "kernels.utm_mpts":
            mpts / _median_time(lambda: utm.transform_deg(lon, lat)),
        "proj.compile_ms":
            1e3 * _median_time(lambda: compile_projstring(UTM), 21),
        "spatial_join.cover_build_s":
            _median_time(lambda: polygon_cover_df(spark, polygons, 8)),
        "spatial_join.cover_cells": cover.count(),
        "input.hot_cell_share": counts.max() / len(lon),
    }


_WRITE = re.compile(r"Arguments: file:([^,\s]+)")


def _nodes(execs, kind: str):
    return [n for e in execs for n in e["nodes"]
            if n["nodeName"].startswith(kind)]


def _total(nodes, *metrics: str) -> float:
    return sum(T.node_metric(n, m) for n in nodes for m in metrics)


def _pip(execs) -> dict:
    """Candidate pairs out of the cell join, the ray-cast Arrow UDF above
    it and the Filter that keeps the accepted pairs."""
    cand = acc = ray_s = 0.0
    for e in execs:
        nodes = {n["nodeId"]: n for n in e["nodes"]}
        parent = {ed["fromId"]: ed["toId"] for ed in e["edges"]}
        for n in nodes.values():
            if not n["nodeName"].startswith("BroadcastHashJoin"):
                continue
            cand += T.node_metric(n, "number of output rows")
            up, ray = parent.get(n["nodeId"]), None
            while up is not None:
                name = nodes[up]["nodeName"]
                if ray is None and name == "ArrowEvalPython":
                    ray = nodes[up]
                    ray_s += T.node_metric(ray, "time to run Python workers")
                elif ray is not None and name == "Filter":
                    acc += T.node_metric(nodes[up], "number of output rows")
                    break
                up = parent.get(up)
    return {"spatial_join.candidate_pairs": cand,
            "spatial_join.accepted_pairs": acc,
            "spatial_join.accept_ratio": acc / cand if cand else 0.0,
            "spatial_join.raycast_python_s": ray_s}


def rest_pass(sc, tracer, execs, jobs, stages, span_id: int,
              pip_spans: tuple[str, ...]) -> dict:
    """Per-layer numbers of one traced pass from the REST payloads."""
    ids = tracer.descendants(span_id)
    groups = {f"{tracer.run_id}:{i}": tracer.spans[i]["name"] for i in ids}

    def group(desc: str):
        return groups.get((desc or "").split(" ", 1)[0])

    mine = [e for e in execs if group(e["description"])]
    pip = [e for e in mine if group(e["description"]) in pip_spans]
    scans = _nodes(mine, "Scan parquet")
    udfs = _nodes(mine, "ArrowEvalPython")
    miners = _nodes([e for e in mine if group(e["description"])
                     == "jobs.tiling_job.run"], "MapInPandas")
    exchanges = _nodes(mine, "Exchange")
    aggs = _nodes(mine, "HashAggregate")
    out = {
        "scan.bytes": _total(scans, "size of files read"),
        "scan.rows": _total(scans, "number of output rows"),
        "scan.s": _total(scans, "scan time"),
        "functions.udf.bytes_to_python":
            _total(udfs, "data sent to Python workers"),
        "functions.udf.bytes_from_python":
            _total(udfs, "data returned from Python workers"),
        "functions.udf.python_s": _total(udfs, "time to run Python workers"),
        "functions.udf.worker_start_s":
            _total(udfs, "time to start Python workers",
                   "time to initialize Python workers"),
        "sources.mine.bytes_to_python":
            _total(miners, "data sent to Python workers"),
        "sources.mine.python_s": _total(miners, "time to run Python workers"),
        "sources.mine.mentions": _total(miners, "number of output rows"),
        "spatial_join.broadcast_bytes":
            _total(_nodes(pip, "BroadcastExchange"), "data size"),
        "exchange.shuffle_bytes": _total(exchanges, "shuffle bytes written"),
        "exchange.shuffle_records":
            _total(exchanges, "shuffle records written"),
        "aggregate.build_s": _total(aggs, "time in aggregation build"),
        "aggregate.spill_bytes": _total(aggs, "spill size"),
        **_pip(pip),
    }
    for e in mine:
        m = _WRITE.search(e.get("planDescription", ""))
        if m and group(e["description"]) == "jobs.tiling_job.run":
            stage = m.group(1).rstrip("/").rsplit("/", 1)[-1]
            out[f"jobs.stage.{stage}_s"] = e["duration"] / 1e3
    my_jobs = [j for j in jobs if j.get("jobGroup") in groups]
    out["jobs.spark_jobs"] = len(my_jobs)
    stage_ids = {s for j in my_jobs for s in j["stageIds"]}
    widest = max((s for s in stages if s["stageId"] in stage_ids
                  and s["status"] == "COMPLETE"),
                 key=lambda s: (s["numTasks"], s["executorRunTime"]),
                 default=None)
    out["stage.task_skew"] = (T.rest_stage_skew(sc, widest["stageId"],
                                                widest["attemptId"])
                              if widest else 1.0)
    return out
