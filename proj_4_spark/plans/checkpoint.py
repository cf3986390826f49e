"""Stage checkpointing + resume.

On a production cluster each stage writes an Iceberg snapshot and the
driver resumes by checking snapshot metadata.  In this sandbox (no
Iceberg catalog jars) the same contract is implemented over parquet
directories with an atomic `_GRAFT_DONE` marker written after a
successful `write`: a stage whose marker exists is skipped on resume
and its output is read back instead of recomputed — the
snapshot-completeness check maps 1:1 onto Iceberg's
`snapshot_id`/`summary` metadata on a real deployment.

A stage launches only its write.  Row counts (and any extra metrics a
caller asks for) come from a `df.observe` attached to the written
frame, so no count job re-reads the output, and the output is read
back with the frame's own schema, so no schema-inference job runs.
The marker carries the observed values and the schema, so a resumed
stage returns the same numbers and reads back without launching a
job.  Per-stage lineage/metrics rows (observed values, wall time,
partition count) go to `<root>/_metrics/<stage>.json`.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from proj_4_spark.plans.metrics import observed

DONE = "_GRAFT_DONE"


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # stage name -> observed values ({"rows": n, <metric>: v, ...})
        self.observed: dict[str, dict] = {}
        os.makedirs(os.path.join(root, "_metrics"), exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._dir(stage), DONE))

    def stage(self, name: str, build: Callable[[], DataFrame],
              *metrics: Column) -> DataFrame:
        """Run (or resume) one stage: returns the stage output
        DataFrame, reading the checkpoint when already complete.

        ``metrics`` are aliased aggregate columns observed during the
        write beside ``rows``; their values land in
        ``self.observed[name]``, the metrics file and the marker."""
        out_dir = self._dir(name)
        if self.is_done(name):
            with open(os.path.join(out_dir, DONE)) as f:
                marker = json.load(f)
            schema = marker.pop("schema", None)
            self.observed[name] = marker
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(StructType.fromJson(schema))
            return reader.parquet(out_dir)
        t0 = time.perf_counter()
        df, obs = observed(build(), f"checkpoint.{name}", *metrics)
        df.write.mode("overwrite").parquet(out_dir)
        values = obs.get
        self.observed[name] = values
        result = self.spark.read.schema(df.schema).parquet(out_dir)
        meta = {
            "stage": name,
            **values,
            "wall_s": round(time.perf_counter() - t0, 3),
            "partitions": result.rdd.getNumPartitions(),
            "ts": time.time(),
        }
        with open(os.path.join(self.root, "_metrics", f"{name}.json"),
                  "w") as f:
            json.dump(meta, f)
        # marker LAST: a crash before this line -> stage reruns cleanly
        with open(os.path.join(out_dir, DONE), "w") as f:
            json.dump({**values, "schema": df.schema.jsonValue()}, f)
        return result

    def metrics(self) -> list[dict]:
        mdir = os.path.join(self.root, "_metrics")
        out = []
        for fn in sorted(os.listdir(mdir)):
            if fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    out.append(json.load(f))
        return out
