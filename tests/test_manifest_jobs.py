"""Cost and content of one stage commit through the checkpoint manifest
(``operators.manifest.run_stage``): the Spark jobs a stage call submits,
a full resume that submits almost none and writes nothing, and manifest
rows that equal an independent recomputation after a crash."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from tests.test_manifest_resume import delete_stage_parts
from timeseriescorrelation_spark.operators.manifest import (
    ManifestStore,
    content_hash,
    run_stage,
    with_part_key,
)
from timeseriescorrelation_spark.plans.pipeline import PipelineConfig, run

N_PARTS = 8


def _jobs(spark, fn):
    """``(jobs, result)``: the ids of the Spark jobs submitted while
    ``fn()`` runs, found by a fresh job group, and what it returned."""
    sc = spark.sparkContext
    group = f"manifest-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group)), result


def _rdd_names(spark, jobs) -> set[str]:
    """Class names of the RDDs in every stage of ``jobs`` (a
    ``PythonRDD`` is a Python worker task), from the status store's
    per-stage operation graphs."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    names, clusters = set(), []
    for job in jobs:
        for stage in sc.statusTracker().getJobInfo(job).stageIds:
            clusters.append(store.operationGraphForStage(stage).rootCluster())
    while clusters:
        c = clusters.pop()
        nodes, children = c.childNodes(), c.childClusters()
        names |= {nodes.apply(i).name() for i in range(nodes.size())}
        clusters += [children.apply(i) for i in range(children.size())]
    return names


def _files(*dirs: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for top in dirs for d, _, fs in os.walk(top) for f in fs
    )


def _stage(spark, tx, root, name):
    cfg = PipelineConfig(run_id="j1", n_parts=N_PARTS, stages=(name,))
    return run(spark, tx, root, cfg)[name]


@pytest.fixture(scope="module")
def built(spark, tiny_transcripts, tmp_path_factory):
    """series, then agg_1m, each as its own pipeline call (the --stages
    resume path); records the jobs the agg_1m call submitted."""
    root = str(tmp_path_factory.mktemp("manifest_jobs"))
    _stage(spark, tiny_transcripts, root, "series")
    jobs, _ = _jobs(spark, lambda: _stage(spark, tiny_transcripts, root, "agg_1m"))
    return root, jobs


def test_stage_commit_job_budget(built):
    # done list, input counts, the write, the read-back hash, the append:
    # no schema-inference read, no join against the done parts
    root, jobs = built
    assert 0 < len(jobs) <= 9
    # one manifest file per stage commit, however many cores wrote it
    manifest = _files(os.path.join(root, "manifest"))
    assert len([f for f in manifest if f.endswith(".parquet")]) == 2


def test_stage_commit_runs_no_python_worker(spark, built):
    # the manifest rows reach the JVM as Arrow, not as pickled rows
    _, jobs = built
    names = _rdd_names(spark, jobs)
    assert "ParallelCollectionRDD" in names  # the append's local rows
    assert "PythonRDD" not in names


def test_missing_upstream_stage_is_actionable(spark, tiny_transcripts, tmp_path):
    # the upstream read names its schema, so the missing path is the
    # only failure it can raise
    with pytest.raises(ValueError, match="needs upstream 'series'"):
        _stage(spark, tiny_transcripts, str(tmp_path), "agg_1m")


def test_full_resume_submits_few_jobs_and_writes_nothing(
    spark, tiny_transcripts, built
):
    root, _ = built
    dirs = (os.path.join(root, "agg_1m"), os.path.join(root, "manifest"))
    before = _files(*dirs)
    jobs, out = _jobs(spark, lambda: _stage(spark, tiny_transcripts, root, "agg_1m"))
    assert len(jobs) <= 3  # the done list and the input counts only
    assert _files(*dirs) == before
    assert out.columns == spark.read.parquet(dirs[0]).drop("part_key").columns


def _expected(spark, input_df, stage_dir):
    """part_key → (input_rows, output_rows, content_hash), recomputed
    from the stage's input and the files in its directory."""
    n_in = {
        r["part_key"]: r["count"]
        for r in with_part_key(input_df, N_PARTS)
        .groupBy("part_key").count().collect()
    }
    hashed = {
        r["part_key"]: (r["output_rows"], r["content_hash"])
        for r in content_hash(spark.read.parquet(stage_dir), ["part_key"]).collect()
    }
    return {str(p): (n, *hashed.get(p, (0, "0"))) for p, n in n_in.items()}


def test_manifest_rows_match_recomputation_after_crash(
    spark, tiny_transcripts, tmp_path
):
    root = str(tmp_path / "wh")
    stages = ("series", "agg_1m", "agg_1h")
    for name in stages:
        _stage(spark, tiny_transcripts, root, name)
    store = ManifestStore(spark, root)
    delete_stage_parts(store, "j1", "agg_1h", keep_frac=0.5)
    for name in stages:
        _stage(spark, tiny_transcripts, root, name)

    m = store.read().toPandas()
    assert not m.duplicated(["run_id", "stage", "part_key"]).any()
    read = lambda name: spark.read.parquet(  # noqa: E731
        os.path.join(root, name)).drop("part_key")
    inputs = {"series": tiny_transcripts, "agg_1m": read("series"),
              "agg_1h": read("agg_1m")}
    for name in stages:
        rows = m[m.stage == name]
        got = {
            r.part_key: (r.input_rows, r.output_rows, r.content_hash)
            for r in rows.itertuples()
        }
        assert got == _expected(spark, inputs[name], os.path.join(root, name))
        assert all(dict(r)["points_out"] == o
                   for r, o in zip(rows["metrics"], rows["output_rows"]))


def test_part_with_no_output_rows_is_recorded_done(
    spark, tiny_transcripts, tmp_path
):
    root = str(tmp_path / "wh")
    keyed = with_part_key(tiny_transcripts, N_PARTS)
    dropped = keyed.agg(F.min("part_key")).first()[0]

    def fn(df):
        # every input row of one part maps to no output row
        return (with_part_key(df, N_PARTS)
                .where(F.col("part_key") != dropped).drop("part_key"))

    def call():
        return run_stage(spark, root, "z1", "passthrough", tiny_transcripts,
                         fn, n_parts=N_PARTS)

    call()
    m = ManifestStore(spark, root).read().toPandas().set_index("part_key")
    n_parts_in = keyed.select("part_key").distinct().count()
    assert len(m) == n_parts_in
    row = m.loc[str(dropped)]
    assert row.input_rows > 0
    assert (row.output_rows, row.content_hash) == (0, "0")

    dirs = (os.path.join(root, "passthrough"), os.path.join(root, "manifest"))
    before = _files(*dirs)
    assert call().count() == tiny_transcripts.count() - row.input_rows
    assert _files(*dirs) == before
