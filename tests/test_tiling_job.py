"""End-to-end flagship job: stage checkpointing, resume, lineage."""

import json
import os

from proj_4_spark.jobs import tiling_job


def test_tiling_job_end_to_end_and_resume(spark, sf_dir, tmp_path):
    out = str(tmp_path / "job")
    summary = tiling_job.run(spark, sf_dir, out)
    assert summary["rows"]["mined"] == 500
    assert summary["rows"]["tile_assignments"] > 0
    stages = {m["stage"] for m in summary["stages"]}
    assert {"mined", "projected", "encoded", "tile_assignments",
            "polygon_counts", "cell_counts"} <= stages
    # lineage metrics recorded per stage; the rows observed during the
    # write equal the rows actually written
    for m in summary["stages"]:
        assert m["wall_s"] >= 0 and m["partitions"] >= 1
        written = spark.read.parquet(os.path.join(out, m["stage"])).count()
        assert m["rows"] == written, m["stage"]
        assert summary["rows"].get(m["stage"], written) == written

    # resume: markers exist, a second run recomputes nothing (wall
    # times unchanged in the metrics files — they are only written on
    # actual computation)
    mtimes = {}
    for st in stages:
        p = os.path.join(out, "_metrics", f"{st}.json")
        mtimes[st] = os.path.getmtime(p)
    summary2 = tiling_job.run(spark, sf_dir, out)
    assert summary2["rows"] == summary["rows"]
    for st in stages:
        p = os.path.join(out, "_metrics", f"{st}.json")
        assert os.path.getmtime(p) == mtimes[st], f"stage {st} recomputed"


def test_tiling_job_partial_resume(spark, sf_dir, tmp_path):
    """Kill-after-stage-2 simulation: delete the marker of a later
    stage; only that stage (and nothing earlier) recomputes."""
    out = str(tmp_path / "job2")
    tiling_job.run(spark, sf_dir, out)
    # invalidate the tile_assignments checkpoint
    marker = os.path.join(out, "tile_assignments", "_GRAFT_DONE")
    os.remove(marker)
    m_before = os.path.getmtime(os.path.join(out, "_metrics", "mined.json"))
    summary = tiling_job.run(spark, sf_dir, out)
    assert os.path.exists(marker)
    assert summary["rows"]["tile_assignments"] > 0
    m_after = os.path.getmtime(os.path.join(out, "_metrics", "mined.json"))
    assert m_before == m_after  # early stages untouched
