"""Corpus-cleaning staged pipeline: annotate → exact dedup → near dedup →
quality filter, with resume."""

from pyspark.sql import functions as F


def test_corpus_pipeline(spark, tmp_path):
    from quadtree_block_compression_spark.plans.corpus_pipeline import (
        run_corpus_pipeline)
    rows = [
        (0, "the cat sat on the mat and looked at the dog and the bird today"),
        (1, "the cat sat on the mat and looked at the dog and the bird today"),   # exact dup
        (2, "the cat sat on the mat and looked at the dog and the bird however"), # near dup
        (3, "a completely different document about trains and planes in the city"),
        (4, "zzz qqq www"),                                                        # junk (short, no stopwords)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = run_corpus_pipeline(spark, docs, str(tmp_path / "corpus"),
                              jaccard_threshold=0.5, min_quality=0.5)
    assert out["annotated"].count() == 5
    # exact dedup dropped doc 1
    ids2 = {r.doc_id for r in out["exact_deduped"].select("doc_id").collect()}
    assert ids2 == {0, 2, 3, 4}
    # near dedup dropped doc 2 (jaccard vs doc 0 above threshold)
    ids3 = {r.doc_id for r in out["near_deduped"].select("doc_id").collect()}
    assert ids3 == {0, 3, 4}
    # quality filter dropped the junk doc
    ids4 = {r.doc_id for r in out["clean"].select("doc_id").collect()}
    assert ids4 == {0, 3}
    # resumable: second run with identical fingerprint reads checkpoints
    out2 = run_corpus_pipeline(spark, docs.limit(0), str(tmp_path / "corpus"),
                               jaccard_threshold=0.5, min_quality=0.5)
    assert {r.doc_id for r in out2["clean"].select("doc_id").collect()} == {0, 3}
    # lineage recorded for all four stages
    stages = {r.stage for r in out["pipeline"].lineage().select("stage").distinct().collect()}
    assert {"s1_annotate", "s2_exact_dedup", "s3_near_dedup",
            "s4_quality_filter"} <= stages


def test_corpus_pipeline_mid_stage_kill_resume(spark, tmp_path, monkeypatch):
    """Preemption drill (VERDICT r2 #7): the driver dies MID-STAGE-3 (after
    stage 2's manifest barrier, with a partial stage-3 output on disk). A
    fresh run over the same root must (a) skip the completed stages without
    recompute, (b) overwrite the partial stage output, (c) produce the
    byte-identical final corpus, with lineage-row continuity — exactly one
    lineage pass per stage across kill + resume."""
    import quadtree_block_compression_spark.operators.dedup_text as dt
    from quadtree_block_compression_spark.plans.corpus_pipeline import (
        run_corpus_pipeline)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # ground truth: a full uninterrupted run in a separate root
    ref = run_corpus_pipeline(spark, docs, str(tmp_path / "ref"),
                              jaccard_threshold=0.5, min_quality=0.5)
    ref_rows = sorted((r.doc_id, r.fingerprint, round(r.quality, 9))
                      for r in ref["clean"].collect())

    # run 1: stage 3's operator is killed mid-build (simulated preemption)
    real_lsh = dt.minhash_lsh_pairs

    def killed(*a, **kw):
        raise RuntimeError("simulated executor loss / driver preemption")

    monkeypatch.setattr(dt, "minhash_lsh_pairs", killed)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="preemption"):
        run_corpus_pipeline(spark, docs, str(tmp_path / "corpus"),
                            jaccard_threshold=0.5, min_quality=0.5)
    monkeypatch.setattr(dt, "minhash_lsh_pairs", real_lsh)

    # stages 1-2 hit their manifest barrier; stage 3 did not
    import json
    import os
    with open(tmp_path / "corpus" / "manifest.json") as f:
        manifest = json.load(f)
    assert manifest["s1_annotate"]["complete"]
    assert manifest["s2_exact_dedup"]["complete"]
    assert "s3_near_dedup" not in manifest
    s1_finished = manifest["s1_annotate"]["finished_at"]
    s1_seconds = manifest["s1_annotate"]["seconds"]

    # simulate the partial write the kill left behind
    part = tmp_path / "corpus" / "s3_near_dedup"
    os.makedirs(part, exist_ok=True)
    (part / "part-00000-garbage.parquet").write_bytes(b"not parquet")

    # run 2: resume over the same root
    out = run_corpus_pipeline(spark, docs, str(tmp_path / "corpus"),
                              jaccard_threshold=0.5, min_quality=0.5)
    got_rows = sorted((r.doc_id, r.fingerprint, round(r.quality, 9))
                      for r in out["clean"].collect())
    assert got_rows == ref_rows  # identical final output

    # completed stages were NOT recomputed (manifest entries untouched)
    with open(tmp_path / "corpus" / "manifest.json") as f:
        manifest2 = json.load(f)
    assert manifest2["s1_annotate"]["finished_at"] == s1_finished
    assert manifest2["s1_annotate"]["seconds"] == s1_seconds
    assert manifest2["s3_near_dedup"]["complete"]

    # lineage continuity: exactly one pass per stage, none duplicated by the
    # kill (a rerun stage overwrites its own lineage directory).
    # Semantic comparison ONLY — each stage appends exactly one total row
    # (partition_id = -1) per pass, and per-stage row totals must match the
    # uninterrupted reference run. Physical partition counts are NOT
    # compared: they drift with AQE coalescing / session state under the
    # full suite and carry no resume-semantics signal (r3 flake).
    def stage_passes_and_rows(pipe):
        rows = (pipe.lineage().where(F.col("partition_id") == -1)
                .groupBy("stage")
                .agg(F.count(F.lit(1)).alias("passes"),
                     F.sum("rows_out").alias("rows")).collect())
        return ({r.stage: r.passes for r in rows},
                {r.stage: r.rows for r in rows})

    got_passes, got_totals = stage_passes_and_rows(out["pipeline"])
    ref_passes, ref_totals = stage_passes_and_rows(ref["pipeline"])
    stages = {"s1_annotate", "s2_exact_dedup", "s3_near_dedup",
              "s4_quality_filter"}
    assert got_passes == {s: 1 for s in stages}  # no duplicated passes
    assert ref_passes == {s: 1 for s in stages}
    assert got_totals == ref_totals  # same rows flowed through every stage
