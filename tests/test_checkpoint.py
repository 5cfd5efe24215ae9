"""Checkpoint/resume: interrupted run + resume == uninterrupted run
bit-for-bit; lineage records per unit; jobs CLI end-to-end."""

import json
import os
import subprocess
import sys

import pytest

from sketchlib.data.pages import write_pages_parquet
from sketchlib.spark.aggregate import HllSpec
from sketchlib.spark.checkpoint import SketchCheckpoint


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    return write_pages_parquet(str(d), n_rows=8000, seed=42, n_days=4)


def _day_source(spark, pages_dir):
    from pyspark.sql import functions as F

    def source(day):
        return (spark.read.parquet(pages_dir)
                .filter(F.col("day") == day).select("url", "lang", "day"))

    return source


def _days(spark, pages_dir):
    return sorted(str(r["day"]) for r in
                  spark.read.parquet(pages_dir).select("day").distinct().collect())


def test_resume_equals_uninterrupted(spark, pages_dir, tmp_path):
    days = _days(spark, pages_dir)
    assert len(days) == 4
    src = _day_source(spark, pages_dir)

    # uninterrupted
    full = SketchCheckpoint(str(tmp_path / "full"), HllSpec(), ["url"], ["lang", "day"])
    s = full.run(spark, src, days)
    assert s["ran"] == 4 and not s["resumed"]
    want = {(r["lang"], r["day"]): bytes(r["sketch"])
            for r in full.result(spark).collect()}

    # interrupted after 2 units, then resumed
    part = SketchCheckpoint(str(tmp_path / "part"), HllSpec(), ["url"], ["lang", "day"])
    part.run(spark, src, days[:2])
    assert part.completed_units() == set(days[:2])
    resumed = SketchCheckpoint(str(tmp_path / "part"), HllSpec(), ["url"], ["lang", "day"])
    s2 = resumed.run(spark, src, days)
    assert s2["resumed"] and s2["skipped"] == 2 and s2["ran"] == 2
    got = {(r["lang"], r["day"]): bytes(r["sketch"])
           for r in resumed.result(spark).collect()}
    assert got == want  # bit-for-bit


def test_lineage_records(spark, pages_dir, tmp_path):
    days = _days(spark, pages_dir)
    ck = SketchCheckpoint(str(tmp_path / "ck"), HllSpec(), ["url"], ["lang", "day"])
    ck.run(spark, _day_source(spark, pages_dir), days[:2])
    recs = ck.lineage()
    assert len(recs) == 2
    src_fn = _day_source(spark, pages_dir)
    for rec in recs:
        assert rec["unit"] in days
        # lineage row count derives from the written partials'
        # count_additions (no second input scan) and must equal the exact
        # ingested (non-null element) row count
        exact = src_fn(rec["unit"]).dropna(subset=["url"]).count()
        assert rec["n_input_rows"] == exact
        assert rec["n_partials"] > 0
        assert rec["wall_sec"] >= 0
        assert rec["sketch"] == "hll"


def test_rollup_from_checkpoint(spark, pages_dir, tmp_path):
    """Partials checkpointed at (lang, day) re-merge to lang level without
    rescanning input."""
    from sketchlib.hll import HllSketch
    from sketchlib.spark.aggregate import merge_partials
    from pyspark.sql import functions as F

    days = _days(spark, pages_dir)
    ck = SketchCheckpoint(str(tmp_path / "ck2"), HllSpec(), ["url"], ["lang", "day"])
    ck.run(spark, _day_source(spark, pages_dir), days)
    partials = spark.read.parquet(*(ck._unit_path(u) for u in sorted(ck.completed_units())))
    lang_level = merge_partials(partials, ["lang"], HllSpec())
    got = {r["lang"]: HllSketch.from_bytes(bytes(r["sketch"])).count()
           for r in lang_level.collect()}
    exact = {r["lang"]: r["n"] for r in
             spark.read.parquet(pages_dir).groupBy("lang")
             .agg(F.countDistinct("url").alias("n")).collect()}
    for lang, n in exact.items():
        tol = 0 if n <= 100 else 10 * 0.008125 * n
        assert abs(got[lang] - n) <= tol


def test_pages_job_cli(pages_dir, tmp_path):
    """The spark-submit entry point end-to-end (separate process)."""
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, PYTHONPATH="/root/repo")
    r = subprocess.run(
        [sys.executable, "-m", "sketchlib.jobs.pages_job",
         "--input", pages_dir, "--checkpoint", str(ckpt),
         "--output", str(out), "--query", "distinct-urls", "--local-cpus", "4"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["days"] == 4 and summary["ran"] == 4
    assert os.path.exists(out / "_SUCCESS")


def test_heavy_hitters_checkpoint_resume(spark, pages_dir, tmp_path):
    """Checkpointed heavy hitters: resume == uninterrupted; estimates
    sandwich the true counts (no input rescan at finalize)."""
    from pyspark.sql import functions as F

    from sketchlib.spark.checkpoint import HeavyHittersCheckpoint
    from sketchlib.spark.specs import CmsSpec

    df = (spark.read.parquet(pages_dir)
          .withColumn("url_host", F.parse_url("url", F.lit("HOST"))))
    days = _days(spark, pages_dir)

    def src(day):
        return df.filter(F.col("day") == day).select("url_host", "day")

    full = HeavyHittersCheckpoint(str(tmp_path / "hh_full"), CmsSpec(),
                                  "url_host", [], k=10)
    full.run(spark, src, days)
    want = {r["value"]: (r["est_count"], r["lower_bound"])
            for r in full.result(spark).collect()}
    assert len(want) == 10

    part = HeavyHittersCheckpoint(str(tmp_path / "hh_part"), CmsSpec(),
                                  "url_host", [], k=10)
    part.run(spark, src, days[:2])
    resumed = HeavyHittersCheckpoint(str(tmp_path / "hh_part"), CmsSpec(),
                                     "url_host", [], k=10)
    s = resumed.run(spark, src, days)
    assert s["resumed"] and s["skipped"] == 2
    got = {r["value"]: (r["est_count"], r["lower_bound"])
           for r in resumed.result(spark).collect()}
    assert got == want

    exact = dict(df.groupBy("url_host").count().collect())
    n = df.count()
    import numpy as np
    eps = np.e / (1 << 12)
    for host, (est, lb) in got.items():
        assert lb <= exact[host] <= est <= exact[host] + 3 * eps * n


def test_pages_job_heavy_hosts_in_session(spark, pages_dir, tmp_path):
    """pages_job building blocks for heavy-hosts (checkpoint -> top-k table),
    without the subprocess cost."""
    from sketchlib.jobs import pages_job as PJ

    days = PJ.list_days(spark, pages_dir)
    ck = PJ.make_checkpoint("heavy-hosts", str(tmp_path / "hh"))
    ck.run(spark, PJ.day_source(spark, pages_dir, "heavy-hosts"), days)
    out = PJ.finalize(spark, "heavy-hosts", ck)
    rows = out.collect()
    assert len(rows) == 20
    assert {"value", "est_count", "lower_bound"} <= set(out.columns)
    assert all(r["lower_bound"] <= r["est_count"] for r in rows)


def test_resume_config_mismatch_rejected(spark, tmp_path):
    """A checkpoint resumed under a different aggregation identity must be
    refused — mixing url-distinct and host-distinct partials would merge
    into one nonsense estimate."""
    import pytest

    from sketchlib.spark.aggregate import HllSpec
    from sketchlib.spark.checkpoint import SketchCheckpoint

    df = spark.createDataFrame([(i, f"u{i % 7}", "d0") for i in range(100)],
                               "id long, url string, day string")
    ck = SketchCheckpoint(str(tmp_path / "ck"), HllSpec(p=12), "url")
    ck.run(spark, lambda u: df, ["d0"])
    assert ck.result(spark).count() == 1
    # same dir, different element column -> hard error on run AND result
    ck2 = SketchCheckpoint(str(tmp_path / "ck"), HllSpec(p=12), "id")
    with pytest.raises(ValueError, match="config mismatch"):
        ck2.run(spark, lambda u: df, ["d1"])
    with pytest.raises(ValueError, match="config mismatch"):
        ck2.result(spark)


def test_parallel_units_equal_sequential(spark, tmp_path):
    """run(parallelism=3) must produce the same lineage set, record order,
    and BIT-IDENTICAL merged result as the sequential run — units are
    independent write-then-commit jobs, so overlap cannot change anything
    but the wall clock."""
    from sketchlib.spark.aggregate import HllSpec
    from sketchlib.spark.checkpoint import SketchCheckpoint

    df = spark.createDataFrame(
        [(i, f"u{i % 13}", f"d{i % 4}") for i in range(400)],
        "id long, url string, day string")
    units = ["d0", "d1", "d2", "d3"]
    src = lambda u: df.filter(df.day == u)  # noqa: E731

    seq = SketchCheckpoint(str(tmp_path / "seq"), HllSpec(p=12), "url")
    seq_res = seq.run(spark, src, units)
    par = SketchCheckpoint(str(tmp_path / "par"), HllSpec(p=12), "url")
    par_res = par.run(spark, src, units, parallelism=3)

    # records come back in input order regardless of completion order
    assert [r["unit"] for r in seq_res["records"]] == units
    assert [r["unit"] for r in par_res["records"]] == units
    # manifest holds every unit exactly once (interleaved appends are
    # line-atomic under the commit lock)
    assert sorted(par.completed_units()) == sorted(units)
    assert (sorted(r["unit"] for r in par.lineage())
            == sorted(r["unit"] for r in seq.lineage()))
    # merged blobs bit-identical (merge order immaterial by design)
    a = {r["__g"] if "__g" in r else 0: bytes(r["sketch"])
         for r in seq.result(spark).collect()}
    b = {r["__g"] if "__g" in r else 0: bytes(r["sketch"])
         for r in par.result(spark).collect()}
    assert a == b


def test_parallel_failures_name_every_unit_and_resume(spark, tmp_path):
    """Two of four units fail under run(parallelism=2): every unit still
    runs, one error names both failures, and a resume re-runs only them."""
    from pyspark.sql import functions as F

    from sketchlib.spark.checkpoint import CheckpointRunError

    df = spark.createDataFrame(
        [(i, f"u{i % 13}", f"d{i % 4}") for i in range(400)],
        "id long, url string, day string")
    units = ["d0", "d1", "d2", "d3"]
    broken = {"d1", "d3"}

    def src(u):
        part = df.filter(df.day == u)
        if u in broken:
            return part.withColumn(
                "url", F.raise_error(F.lit(f"unit {u} is broken")).cast("string"))
        return part

    path = str(tmp_path / "ck")
    with pytest.raises(CheckpointRunError) as err:
        SketchCheckpoint(path, HllSpec(p=12), "url").run(
            spark, src, units, parallelism=2)
    assert sorted(err.value.failures) == ["d1", "d3"]
    assert "d1" in str(err.value) and "d3" in str(err.value)

    ck = SketchCheckpoint(path, HllSpec(p=12), "url")
    assert ck.completed_units() == {"d0", "d2"}
    res = ck.run(spark, lambda u: df.filter(df.day == u), units,
                 parallelism=2)
    assert res["resumed"] and res["skipped"] == 2
    assert [r["unit"] for r in res["records"]] == ["d1", "d3"]

    whole = SketchCheckpoint(str(tmp_path / "whole"), HllSpec(p=12), "url")
    whole.run(spark, lambda u: df.filter(df.day == u), units)
    assert ([bytes(r["sketch"]) for r in ck.result(spark).collect()]
            == [bytes(r["sketch"]) for r in whole.result(spark).collect()])
