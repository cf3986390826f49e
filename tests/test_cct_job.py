"""cct-style batch transform job (jobs/cct_job.py): values match the
library transform, errno flags NaN failures, checkpoint resumes."""

import numpy as np
import pytest

from proj_4_spark.jobs import cct_job
from proj_4_spark.proj import compile_projstring

PS = "+proj=utm +zone=32"


@pytest.fixture()
def coords_parquet(spark, tmp_path):
    path = str(tmp_path / "coords.parquet")
    rows = [(0, 12.0, 56.0), (1, 9.0, 48.0), (2, 500.0, 95.0),
            (3, float("nan"), 10.0)]
    spark.createDataFrame(rows, "id long, x double, y double") \
         .write.parquet(path)
    return path


def test_cct_job_values_and_errno(spark, tmp_path, coords_parquet):
    out = str(tmp_path / "out")
    summary = cct_job.run(spark, coords_parquet, out, PS)
    assert summary["rows"] == 4
    got = {r["id"]: r for r in
           spark.read.parquet(out + "/transformed").collect()}
    tr = compile_projstring(PS)
    x, y, _, _ = tr.transform_deg(np.array([12.0, 9.0]),
                                  np.array([56.0, 48.0]))
    assert got[0]["x_out"] == pytest.approx(x[0], abs=1e-6)
    assert got[0]["y_out"] == pytest.approx(y[0], abs=1e-6)
    assert got[1]["x_out"] == pytest.approx(x[1], abs=1e-6)
    assert got[0]["errno"] == cct_job.ERRNO_OK
    # out-of-domain input -> NaN -> coord-transform errno
    assert got[2]["errno"] == cct_job.ERRNO_COORD_TRANSFM
    # NaN input propagates (NULL through Arrow) but is not an engine
    # failure
    assert got[3]["x_out"] is None or np.isnan(got[3]["x_out"])
    assert got[3]["errno"] == cct_job.ERRNO_OK
    assert summary["errors"] == 1


def test_cct_job_roundtrip_inverse(spark, tmp_path, coords_parquet):
    out_f = str(tmp_path / "fwd")
    cct_job.run(spark, coords_parquet, out_f, PS)
    out_i = str(tmp_path / "inv")
    summary = cct_job.run(spark, out_f + "/transformed", out_i, PS,
                          direction="inv", x_col="x_out", y_col="y_out")
    got = {r["id"]: r for r in
           spark.read.parquet(out_i + "/transformed").collect()}
    assert got[0]["x_out"] == pytest.approx(12.0, abs=1e-9)
    assert got[0]["y_out"] == pytest.approx(56.0, abs=1e-9)
    assert summary["rows"] == 4


def test_cct_job_resume_skips_stage(spark, tmp_path, coords_parquet):
    out = str(tmp_path / "out")
    s1 = cct_job.run(spark, coords_parquet, out, PS)
    s2 = cct_job.run(spark, coords_parquet, out, PS)
    assert s1["rows"] == s2["rows"]
    # the observed error count comes back from the marker
    assert s1["errors"] == s2["errors"] == 1
    # resumed run must not have re-written the stage metrics
    assert s2["stages"] == s1["stages"]


def test_cs2cs_two_crs_job(spark, tmp_path, coords_parquet):
    """cs2cs UX (cs2cs.cpp:369): --s_srs/--t_srs planned through
    crs_to_crs matches the library-level crs_to_crs transform."""
    from proj_4_spark.crs import crs_to_crs

    out = str(tmp_path / "cs2cs_out")
    summary = cct_job.run(spark, coords_parquet, out,
                          s_srs="EPSG:4326", t_srs="EPSG:27700")
    assert summary["rows"] == 4
    got = {r["id"]: r for r in
           spark.read.parquet(out + "/transformed").collect()}
    tr = crs_to_crs(4326, 27700)
    x, y, _, _ = tr.transform_deg(np.array([12.0, 9.0]),
                                  np.array([56.0, 48.0]))
    assert got[0]["x_out"] == pytest.approx(x[0], abs=1e-6)
    assert got[1]["y_out"] == pytest.approx(y[1], abs=1e-6)
    assert got[0]["errno"] == cct_job.ERRNO_OK


def test_cs2cs_authority_axis_order(spark, tmp_path):
    """--no-always-xy: EPSG:4326 source takes lat,lon (authority
    order) — same output as lon,lat under always_xy."""
    path = str(tmp_path / "latlon.parquet")
    spark.createDataFrame([(0, 56.0, 12.0)], "id long, x double, y double") \
         .write.parquet(path)
    out = str(tmp_path / "out_auth")
    cct_job.run(spark, path, out, s_srs="EPSG:4326", t_srs="EPSG:27700",
                always_xy=False)
    got = spark.read.parquet(out + "/transformed").collect()[0]
    from proj_4_spark.crs import crs_to_crs
    x, y, _, _ = crs_to_crs(4326, 27700).transform_deg(
        np.array([12.0]), np.array([56.0]))
    assert got["x_out"] == pytest.approx(x[0], abs=1e-6)
    assert got["y_out"] == pytest.approx(y[0], abs=1e-6)


def test_run_arg_validation(spark, tmp_path, coords_parquet):
    with pytest.raises(ValueError):
        cct_job.run(spark, coords_parquet, str(tmp_path / "x"))
    with pytest.raises(ValueError):
        cct_job.run(spark, coords_parquet, str(tmp_path / "y"),
                    projstr=PS, s_srs="EPSG:4326", t_srs="EPSG:3857")
    with pytest.raises(ValueError):
        cct_job.run(spark, coords_parquet, str(tmp_path / "z"),
                    s_srs="EPSG:4326")
