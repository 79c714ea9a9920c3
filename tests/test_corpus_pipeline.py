"""Corpus-curation DAG composition: the individual operators (filter ->
exact-dedup keepers -> hash split) composed through pipeline.py's atomic
publish machinery, with conservation invariants at every stage boundary and
idempotent re-run — the corpus twin of the FPL run_pipeline() test."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from fpl_data_pipeline_spark.operators.dedup import _norm_text
from fpl_data_pipeline_spark.sources.io import publish, recover
from fpl_data_pipeline_spark.tables import table

SF = "/root/testdata/sf0.001"
MIN_TOKENS = 5


def _run_corpus_pipeline(spark, root: str) -> dict[str, int]:
    d = table(spark, SF, "documents")
    n_in = d.count()

    # stage 1: length filter (scan-side predicate)
    toks = F.size(F.filter(F.split(_norm_text(F.col("text")), " "), lambda w: w != ""))
    kept = d.filter(toks >= MIN_TOKENS)
    publish(kept, os.path.join(root, "filtered"))
    filtered = spark.read.parquet(os.path.join(root, "filtered"))

    # stage 2: exact dedup — keep min doc_id per normalized-text fingerprint
    fp = filtered.select(
        "doc_id", "source", F.md5(_norm_text(F.col("text"))).alias("fp")
    )
    keepers = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = filtered.join(keepers.select("doc_id"), "doc_id", "leftsemi")
    publish(deduped, os.path.join(root, "deduped"))
    deduped = spark.read.parquet(os.path.join(root, "deduped"))

    # stage 3: deterministic hash split
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(100),
    )
    train = deduped.filter(bucket < 90)
    test = deduped.filter(bucket >= 90)
    publish(train, os.path.join(root, "train"))
    publish(test, os.path.join(root, "test"))

    return {
        "n_in": n_in,
        "n_filtered": filtered.count(),
        "n_deduped": deduped.count(),
        "n_train": spark.read.parquet(os.path.join(root, "train")).count(),
        "n_test": spark.read.parquet(os.path.join(root, "test")).count(),
    }


def test_corpus_pipeline_conservation_and_idempotence(spark, tmp_path):
    root = str(tmp_path)
    c1 = _run_corpus_pipeline(spark, root)

    # conservation at every boundary
    assert 0 < c1["n_filtered"] <= c1["n_in"]
    assert 0 < c1["n_deduped"] <= c1["n_filtered"]
    assert c1["n_train"] + c1["n_test"] == c1["n_deduped"]

    # dedup really is keyed: no duplicate fingerprints survive
    deduped = spark.read.parquet(os.path.join(root, "deduped"))
    n_fp = deduped.select(F.md5(_norm_text(F.col("text"))).alias("f")).distinct().count()
    assert n_fp == c1["n_deduped"]

    # split is disjoint by construction (same doc can't be in both)
    tr = spark.read.parquet(os.path.join(root, "train")).select("doc_id")
    te = spark.read.parquet(os.path.join(root, "test")).select("doc_id")
    assert tr.intersect(te).count() == 0

    # idempotence: a full re-run over the same inputs republishes
    # byte-identical counts (atomic swap, no duplication)
    c2 = _run_corpus_pipeline(spark, root)
    assert c1 == c2


def test_corpus_pipeline_recovers_from_torn_publish(spark, tmp_path):
    """Crash window: target renamed to .bak but stage not yet promoted —
    recover() must restore and the next run must converge to the same
    counts (same contract as the FPL pipeline's crash test)."""
    root = str(tmp_path)
    c1 = _run_corpus_pipeline(spark, root)
    target = os.path.join(root, "deduped")
    os.rename(target, target + ".bak")  # simulate the torn window
    recover(target)
    assert os.path.isdir(target)
    c2 = _run_corpus_pipeline(spark, root)
    assert c1 == c2
