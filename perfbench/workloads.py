"""The three benchmark workloads.

Each workload takes its inputs from ``inputs.materialize`` and its
answers from ``reference``; ``run_pass`` runs the program once, times
it and checks its output.  Spans wrap each call into a public function
of the program, named after its module.

- ``coords_tiles``: scan -> ``s2_cell_udf(12)`` + cell histogram ->
  ``pip_join(level=8)`` -> per-polygon counts.  S2 kernel, Arrow
  boundary and ray cast; no text, no writes.
- ``pages_job``: ``jobs.tiling_job.run`` into a fresh directory per
  pass; after the timed passes, once more on the last completed
  directory (resume).  Mining-bound; the only
  write path (six checkpoint stages); UTM and salted aggregation.
- ``headline_queries``: the eleven headline queries of ``queries()``
  in a seeded order.  Fixed per-query cost: planning, projection
  compile, cover build, broadcast and UDF pickling.  One run takes
  about 110 s on 4 cores, too long to repeat 22 times next to the
  other two, so BENCHMARK.json leaves it out; run it by name.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import inputs
import reference


@dataclass
class PassResult:
    wall_s: float
    docs: int
    attempted: int = 1
    failed: int = 0
    problems: list = field(default_factory=list)
    parts: dict = field(default_factory=dict)   # extra numbers for the table
    span: int | None = None                       # root span id when traced


class Workload:
    kind = ""
    size = 0
    pip_spans: tuple[str, ...] = ()

    def __init__(self, seed: int, input_dir: str, work_dir: str):
        self.seed = seed
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.spark = None
        self.tracer = None

    def bind(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer

    def reference(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def closing_pass(self) -> list[PassResult]:
        """Untimed work after the timed passes, checked like a pass."""
        return []

    def points(self) -> tuple[np.ndarray, np.ndarray]:
        """The (lon, lat) the workload encodes, for kernel timings."""
        raise NotImplementedError

    def polygons(self) -> list[dict]:
        raise NotImplementedError

    def points_parquet(self) -> str:
        """A (lon, lat) parquet of ``points()`` for the layer ablations."""
        import pyarrow as pa

        path = os.path.join(self.work_dir, "ablation_points.parquet")
        if not os.path.exists(path):
            lon, lat = self.points()
            inputs.write_table(pa.table({"lon": lon, "lat": lat}), path)
        return path


class CoordsTiles(Workload):
    kind = "points"
    size = 300_000
    pip_spans = ("operators.spatial_join.pip_join",)

    def reference(self):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.input_dir, "points.parquet"))
        self.lon = t["lon"].to_numpy()
        self.lat = t["lat"].to_numpy()
        self.polys = inputs.polygons()
        self.expected = reference.polygon_counts(self.lon, self.lat,
                                                 self.polys)

    def points(self):
        return self.lon, self.lat

    def points_parquet(self):
        return os.path.join(self.input_dir, "points.parquet")

    def polygons(self):
        return self.polys

    def run_pass(self) -> PassResult:
        from pyspark.sql import functions as F

        from proj_4_spark.functions.geo import s2_cell_udf
        from proj_4_spark.operators.spatial_join import pip_join

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("pass") as root:
            pts = self.spark.read.parquet(
                os.path.join(self.input_dir, "points.parquet"))
            with tr.span("functions.geo.s2_cell_udf"):
                cell = s2_cell_udf(12)(F.col("lon"), F.col("lat"))
                hist = (pts.withColumn("cell", cell).groupBy("cell")
                        .agg(F.count("*").alias("n")))
                total = hist.agg(F.sum("n")).first()[0]
            t1 = time.perf_counter()
            with tr.span("operators.spatial_join.pip_join"):
                rows = (pip_join(pts, self.polys, level=8)
                        .groupBy("polygon_id").count().collect())
        t2 = time.perf_counter()
        got = {int(r[0]): int(r[1]) for r in rows}
        problems = []
        if total != len(self.lon):
            problems.append(f"cell histogram totals {total}, "
                            f"not {len(self.lon)}")
        if got != self.expected:
            bad = sorted(k for k in got.keys() | self.expected.keys()
                         if got.get(k) != self.expected.get(k))
            problems.append(f"polygon counts differ on {len(bad)} "
                            f"polygons, first {bad[:5]}")
        return PassResult(t2 - t0, len(self.lon), 1, int(bool(problems)),
                          problems, {"histogram_s": t1 - t0,
                                     "pip_s": t2 - t1},
                          root["id"] if root else None)


STAGES = ("mined", "projected", "encoded", "tile_assignments",
          "polygon_counts", "cell_counts")


class PagesJob(Workload):
    kind = "pages"
    size = 30_000
    pip_spans = ("jobs.tiling_job.run",)

    def reference(self):
        self.ref = reference.pages_expected(self.input_dir)
        self.n_docs = inputs.row_count(
            os.path.join(self.input_dir, "documents.parquet"))
        self.n_pass = 0

    def points(self):
        return self.ref["lon"], self.ref["lat"]

    def polygons(self):
        from proj_4_spark.sources.polygons import polygon_rows

        return polygon_rows()

    def run_pass(self) -> PassResult:
        import pyarrow.parquet as pq

        from proj_4_spark.jobs.tiling_job import run

        self.n_pass += 1
        self.out = os.path.join(self.work_dir, f"tiling-{self.n_pass}")
        shutil.rmtree(os.path.join(self.work_dir,
                                   f"tiling-{self.n_pass - 1}"),
                      ignore_errors=True)
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("pass") as root:
            with tr.span("jobs.tiling_job.run"):
                self.rows = run(self.spark, self.input_dir, self.out)["rows"]
        t1 = time.perf_counter()
        problems = []
        want = len(self.ref["lon"])
        if self.rows["mined"] != want:
            problems.append(f"mined {self.rows['mined']} mentions, "
                            f"generated {want}")
        t = pq.read_table(os.path.join(self.out, "polygon_counts"))
        got = dict(zip(t["polygon_id"].to_pylist(), t["n_docs"].to_pylist()))
        if got != self.ref["counts"]:
            problems.append("polygon_counts differ from the DuckDB "
                            "reference")
        files = [os.path.join(d, f) for s in STAGES
                 for d, _, fs in os.walk(os.path.join(self.out, s))
                 for f in fs if f.endswith(".parquet")]
        return PassResult(t1 - t0, self.n_docs, 1, int(bool(problems)),
                          problems,
                          {"checkpoint.files_written": len(files),
                           "checkpoint.bytes_written":
                               sum(os.path.getsize(f) for f in files)},
                          root["id"] if root else None)

    def closing_pass(self) -> list[PassResult]:
        """``run`` again over the last pass's completed directory: the
        resume, which must return the same rows."""
        from proj_4_spark.jobs.tiling_job import run

        t0 = time.perf_counter()
        again = run(self.spark, self.input_dir, self.out)["rows"]
        wall = time.perf_counter() - t0
        problems = ([] if again == self.rows else
                    [f"resume rows {again} != {self.rows}"])
        return [PassResult(wall, self.n_docs, 1, int(bool(problems)),
                           problems)]


HEADLINE = ("s2_cell_counts_l8", "pip_polygon_counts", "utm_snyder_fwd",
            "webmerc_fwd", "knn_top5", "lsh_candidate_pairs", "text_quality",
            "embed_cosine_top5", "tpch_q1_pricing", "ivf_cosine_top5",
            "krovak_fwd")


class HeadlineQueries(Workload):
    kind = "headline"
    size = 5_000
    pip_spans = ("queries.pip_polygon_counts",)

    def reference(self):
        self.expected = reference.headline_expected(self.input_dir,
                                                    list(HEADLINE))
        pts = self.expected.pop("_points")
        self.lon = pts["lon"].to_numpy()
        self.lat = pts["lat"].to_numpy()
        order = np.random.default_rng([self.seed, 10]).permutation(
            len(HEADLINE))
        self.order = [HEADLINE[i] for i in order]

    def points(self):
        return self.lon, self.lat

    def polygons(self):
        from proj_4_spark.sources.polygons import polygon_rows

        return polygon_rows()

    def run_pass(self) -> PassResult:
        from proj_4_spark.plans.parity import compare
        from proj_4_spark.queries import queries

        reg = queries()
        tr = self.tracer
        parts, problems, failed = {}, [], 0
        with tr.span("pass") as root:
            for name in self.order:
                t0 = time.perf_counter()
                try:
                    with tr.span(f"queries.{name}"):
                        got = reg[name](self.spark, self.input_dir).toPandas()
                except Exception as e:  # a failing query is counted, not fatal
                    got, bad = None, [f"{name} raised {e!r}"[:300]]
                parts[f"query.{name}_s"] = time.perf_counter() - t0
                self.spark.catalog.clearCache()
                if got is not None:
                    bad = [f"{name}: {p}" for p in
                           compare(got, self.expected[name])]
                failed += int(bool(bad))
                problems += bad
        return PassResult(sum(parts.values()), len(self.lon), len(HEADLINE),
                          failed, problems, parts,
                          root["id"] if root else None)


WORKLOADS = {"coords_tiles": CoordsTiles, "pages_job": PagesJob,
             "headline_queries": HeadlineQueries}
