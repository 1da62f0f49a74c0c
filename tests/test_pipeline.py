"""Full pipeline: truth recovery, checkpoint-resume, metrics/lineage
(SURVEY §5 items 3-4; resume ≙ cleanup_incomplete_file semantics)."""

from __future__ import annotations

import pytest

from cpdd_spark.config import DedupConfig
from cpdd_spark.pipeline import DedupPipeline

CFG = DedupConfig()


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "work")


def _truth_cluster_sets(truth_pdf):
    by_cluster = {}
    for _, row in truth_pdf.iterrows():
        by_cluster.setdefault(row["cluster_id"], set()).add(row["conv_id"])
    return {frozenset(v) for v in by_cluster.values()}


def test_pipeline_recovers_truth_clusters(spark, turns_df, truth_pdf, workdir):
    pipe = DedupPipeline(spark, workdir, CFG)
    clusters = pipe.run(turns_df).collect()
    got_by_cluster = {}
    for r in clusters:
        got_by_cluster.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    got = {frozenset(v) for v in got_by_cluster.values()}
    expected = _truth_cluster_sets(truth_pdf)
    # set-identical clustering (exact + near + substring all planted above
    # their tier thresholds; no cross-cluster merges expected at this size)
    assert got == expected


def test_pipeline_stats(spark, turns_df, truth_pdf, workdir):
    pipe = DedupPipeline(spark, workdir, CFG)
    pipe.run(turns_df)
    stats = {r["disposition"]: r["convs"] for r in pipe.stats().collect()}
    n_dups = len(truth_pdf[truth_pdf["kind"] != "unique"])
    assert stats["duplicate"] == n_dups
    assert stats["canonical"] == len(truth_pdf) - n_dups


def test_resume_skips_completed_stages(spark, turns_df, workdir):
    p1 = DedupPipeline(spark, workdir, CFG)
    c1 = {(r["conv_id"], r["cluster_id"]) for r in p1.run(turns_df).collect()}
    assert all(s == "computed" for _, s in p1.stage_log)

    # rerun: every stage must be resumed, clusters identical
    p2 = DedupPipeline(spark, workdir, CFG)
    c2 = {(r["conv_id"], r["cluster_id"]) for r in p2.run(turns_df).collect()}
    assert all(s == "resumed" for _, s in p2.stage_log), p2.stage_log
    assert c1 == c2


def test_resume_recomputes_killed_stage(spark, turns_df, workdir):
    """Simulate a crash mid-stage: drop one stage's commit marker; the rerun
    recomputes exactly that stage (+ downstream), reuses the rest."""
    import os

    p1 = DedupPipeline(spark, workdir, CFG)
    c1 = {(r["conv_id"], r["cluster_id"]) for r in p1.run(turns_df).collect()}

    # kill the signatures stage commit (partial write ≙ no _SUCCESS)
    os.remove(os.path.join(p1.io.path("signatures"), "_SUCCESS"))
    p2 = DedupPipeline(spark, workdir, CFG)
    c2 = {(r["conv_id"], r["cluster_id"]) for r in p2.run(turns_df).collect()}
    log = dict(p2.stage_log)
    assert log["documents"] == "resumed"
    assert log["exact_clusters"] == "resumed"
    assert log["signatures"] == "computed"
    # downstream of a recomputed stage must recompute too (stale cascade)
    assert log["verified_pairs"] == "computed"
    assert log["clusters"] == "computed"
    assert c1 == c2


def _lineage_totals(io, run_id):
    return {
        r["stage"]: r["total"]
        for r in io.read("lineage")
        .filter(f"run_id = '{run_id}'")
        .groupBy("stage")
        .agg({"rows": "sum"})
        .withColumnRenamed("sum(rows)", "total")
        .collect()
    }


def test_metrics_and_lineage_written(spark, turns_df, workdir, monkeypatch):
    """A fresh run appends to metrics and to lineage exactly once each, and
    every computed stage's lineage rows sum to its committed row count; a
    fully resumed rerun appends nothing."""
    from collections import Counter

    from cpdd_spark.io import TableIO

    appends = Counter()
    orig = TableIO.append

    def spy(self, df, name, *args, **kwargs):
        appends[name] += 1
        return orig(self, df, name, *args, **kwargs)

    monkeypatch.setattr(TableIO, "append", spy)

    pipe = DedupPipeline(spark, workdir, CFG)
    pipe.run(turns_df)
    assert appends == Counter({"metrics": 1, "lineage": 1})
    metrics = pipe.io.read("metrics").collect()
    stages = {r["stage"] for r in metrics}
    assert {"documents", "exact_clusters", "signatures", "verified_pairs",
            "substring_pairs", "clusters"} <= stages
    assert all(r["seconds"] >= 0 for r in metrics)
    lineage = pipe.io.read("lineage")
    assert lineage.filter("stage = 'documents'").count() >= 1
    # lineage row counts sum to stage totals and to the committed tables
    by_stage = _lineage_totals(pipe.io, pipe.run_id)
    for r in metrics:
        assert by_stage[r["stage"]] == r["rows"]
        assert r["rows"] == pipe.io.read(r["stage"]).count(), r["stage"]

    appends.clear()
    rerun = DedupPipeline(spark, workdir, CFG)
    rerun.run(turns_df)
    assert all(how == "resumed" for _, how in rerun.stage_log), rerun.stage_log
    assert not appends


def test_pipeline_partitioned_output_layout(spark, turns_df, workdir):
    """R15: clusters land hash-bucketed on conv_id, metrics/lineage
    partitioned by run_id — and resume still sees the committed stages."""
    import os

    pipe = DedupPipeline(spark, workdir, CFG)
    pipe.run(turns_df)

    cluster_parts = [
        d for d in os.listdir(os.path.join(workdir, "clusters"))
        if d.startswith("part_bucket=")
    ]
    assert len(cluster_parts) >= 2, cluster_parts  # really hash-spread
    for table in ("metrics", "lineage"):
        runs = [
            d for d in os.listdir(os.path.join(workdir, table))
            if d.startswith("run_id=")
        ]
        assert runs == [f"run_id={pipe.run_id}"], (table, runs)

    # partition column reads back and matches the hash rule
    from pyspark.sql import functions as F

    clusters = pipe.io.read("clusters")
    bad = clusters.filter(
        F.col("part_bucket")
        != F.pmod(F.crc32("conv_id"), F.lit(CFG.output_buckets)).cast("int")
    )
    assert bad.count() == 0

    # a second pipeline over the same workdir resumes every stage
    pipe2 = DedupPipeline(spark, workdir, CFG)
    pipe2.run(turns_df)
    assert all(how == "resumed" for _, how in pipe2.stage_log), pipe2.stage_log


def test_resume_refuses_legacy_signatures_schema(spark, turns_df, workdir):
    """A committed signatures table from a pre-with_sets run (no shingles
    column) is refused on resume with an error that names the table and
    the fix — not migrated, and not an unresolved-column failure in the
    verify stage."""
    import os
    import shutil

    p1 = DedupPipeline(spark, workdir, CFG)
    p1.run(turns_df)

    # rewrite the committed signatures table WITHOUT the set column
    legacy = p1.io.read("signatures").drop("shingles").localCheckpoint(eager=True)
    path = p1.io.path("signatures")
    shutil.rmtree(path)
    legacy.write.parquet(path)
    assert os.path.isfile(os.path.join(path, "_SUCCESS"))

    p2 = DedupPipeline(spark, workdir, CFG)
    with pytest.raises(ValueError, match="'signatures'") as err:
        p2.run(turns_df)
    assert "resume=False" in str(err.value)
    assert "fresh workdir" in str(err.value)
    assert dict(p2.stage_log)["signatures"] == "resumed"
    assert "verified_pairs" not in dict(p2.stage_log)

    # the documented fix: a non-resuming run recomputes and succeeds
    p3 = DedupPipeline(spark, workdir, CFG)
    p3.run(turns_df, resume=False)
    assert "shingles" in p3.io.read("signatures").columns


def test_failed_stage_flushes_committed_stages(spark, turns_df, workdir, monkeypatch):
    """A stage that raises mid-run: the error propagates, and metrics +
    lineage still hold rows for exactly the stages committed before it
    (a crash between a stage write and its bookkeeping loses no row of a
    committed stage)."""
    import cpdd_spark.pipeline as pipeline_mod

    def boom(*args, **kwargs):
        raise RuntimeError("substring tier failed")

    monkeypatch.setattr(pipeline_mod, "substring_pairs", boom)
    pipe = DedupPipeline(spark, workdir, CFG)
    with pytest.raises(RuntimeError, match="substring tier failed"):
        pipe.run(turns_df)

    committed = ["documents", "exact_clusters", "signatures", "verified_pairs"]
    assert [s for s, _ in pipe.stage_log] == committed
    assert not pipe.io.exists("substring_pairs")
    metrics = {
        r["stage"]: r["rows"]
        for r in pipe.io.read("metrics").filter(f"run_id = '{pipe.run_id}'").collect()
    }
    assert sorted(metrics) == sorted(committed)
    assert _lineage_totals(pipe.io, pipe.run_id) == metrics


def test_pipeline_fingerprint_exact_verify(spark, turns_df, workdir):
    """cfg.exact_verify='fingerprint' (the at-scale exact tier) through the
    PRODUCT entry produces identical final clusters to byte-verify."""
    from dataclasses import replace

    byte_dir, fp_dir = workdir + "_bytes", workdir + "_fp"
    cb = DedupPipeline(spark, byte_dir, CFG).run(turns_df)
    cf = DedupPipeline(
        spark, fp_dir, replace(CFG, exact_verify="fingerprint")
    ).run(turns_df)
    as_sets = lambda df: {
        (r["conv_id"], r["cluster_id"])
        for r in df.select("conv_id", "cluster_id").collect()
    }
    assert as_sets(cb) == as_sets(cf)


def test_pipeline_empty_input(spark, workdir):
    """Zero turns: every stage commits an EMPTY table and the run completes
    (a crashed first stage would instead leave nothing committed)."""
    empty = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, role string, text string, tool string,"
        " ts timestamp",
    )
    pipe = DedupPipeline(spark, workdir, CFG)
    clusters = pipe.run(empty)
    assert clusters.count() == 0
    assert dict(pipe.stage_log)["clusters"] == "computed"
