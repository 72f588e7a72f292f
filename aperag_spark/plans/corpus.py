"""Staged, idempotently-resumable corpus-build pipeline — the training-data
counterpart of plans/pipeline.py's KG pipeline, run by the same stage runner
(stage table + _MANIFEST.json with input fingerprint / code version / row
counts read from the written files' footers; a completed stage is skipped on
rerun and read back, so a job killed mid-build resumes where it stopped with
byte-identical stages — tests/test_corpus_pipeline.py mirrors
tests/test_resume.py). `plans.pipeline.pipeline_metrics` reads its manifests.

Stage graph (linear; shuffle boundaries marked *):

    documents ─ minhash (Arrow kernel, one text pass)
              ─* candidates (LSH banding + bucket-local pairs + verify)
              ─* clusters   (connected components → canonical + keep)
              ─  verdicts   (quality gate ∧ dedup keep-list, doc_id join)

Why staged: the cluster and select consumers would otherwise re-execute the
whole MinHash+LSH+CC subplan each (the round-4 battery ran it three times —
candidates/cluster/select). A real 100 TB corpus build materializes the
dedup verdict once and has every consumer read the stage table; this runner
is that materialization, and queries.py's battery entries read through it
(queries._corpus_stage)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aperag_spark.operators.corpus import (
    DEDUP_CLUSTER_T,
    cluster_verdict,
    minhash_candidates,
    minhash_docs,
    quality_filter,
    select_verdict,
)
from aperag_spark.plans.pipeline import _stage_runner

CORPUS_STAGES = ["minhash", "candidates", "clusters", "verdicts"]


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    input_fingerprint: str = "",
    upto: str = "verdicts",
    fail_after_stage: str | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the corpus-build pipeline over `docs` (doc_id, text)
    up to stage `upto` (a prefix of CORPUS_STAGES — consumers that only
    need signatures don't pay for clustering). `fail_after_stage` simulates
    a mid-job crash for the resume test."""
    from aperag_spark.queries import ensure_package_shipped

    ensure_package_shipped(spark)  # the minhash stage is an Arrow UDF
    results, stage = _stage_runner(spark, out_dir, input_fingerprint, fail_after_stage)
    idx = CORPUS_STAGES.index(upto)
    md = stage("minhash", lambda: minhash_docs(docs))
    if idx >= 1:
        # md is a materialized stage table — no defensive checkpoint needed
        cand = stage("candidates", lambda: minhash_candidates(md, checkpoint=False))
    if idx >= 2:
        clusters = stage(
            "clusters",
            lambda: cluster_verdict(
                cand.where(cand["jaccard"] >= DEDUP_CLUSTER_T),
                docs,
                checkpoint=False,
            ),
        )
    if idx >= 3:
        stage(
            "verdicts", lambda: select_verdict(quality_filter(docs), clusters)
        )
    return results
