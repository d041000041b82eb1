"""End-to-end corpus-curation pipeline composition (round 3).

Each stage is separately oracle/plan-verified; this pins the GLUE —
stage ordering, survivor monotonicity, artifact layout, and the
manifest/JSONL consistency a training job depends on."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from recommendation_translation_spark.pipeline.curate import curate_corpus

from .conftest import SF_SMALL


def test_curate_corpus_end_to_end(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = str(tmp_path / "curated")
    stats = curate_corpus(
        spark,
        docs,
        out,
        blocklist=["slow"],
        jaccard_threshold=0.3,
        per_source=200,
        mix_weights={"src0": 4, "src1": 2},
        seq_len=256,
        packs_per_shard=8,
        min_words=5,
    )
    # survivor counts shrink monotonically, nothing vanishes entirely.
    # input and after_exact_dedup come from Observation metrics riding
    # other jobs (round 4) — this also pins that a node referenced
    # twice in one plan (docs in the gate join, uniq in the near-dup
    # job) still observes the EXACT count, not a doubled one.
    assert stats["input"] == docs.count()
    assert (
        stats["input"]
        >= stats["after_gates"]
        >= stats["after_exact_dedup"]
        >= stats["after_near_dedup"]
        >= stats["kept"]
        > 0
    )
    # free Observation totals are consistent with the manifest
    assert stats["n_packs"] > 0 and stats["n_shards"] > 0
    assert stats["total_tokens"] > 0

    manifest = spark.read.parquet(f"{out}/manifest.parquet")
    assert manifest.count() == stats["kept"]
    mrow = manifest.agg(
        F.sum("n_tokens").alias("t"),
        (F.max("pack_id") + 1).alias("p"),
        (F.max("shard") + 1).alias("s"),
    ).collect()[0]
    assert stats["total_tokens"] == mrow["t"]
    assert stats["n_packs"] == mrow["p"]
    assert stats["n_shards"] == mrow["s"]
    # mix_rank is a dense permutation of 1..kept
    ranks = [r.mix_rank for r in manifest.select("mix_rank").collect()]
    assert sorted(ranks) == list(range(1, stats["kept"] + 1))
    # pack offsets stay inside the sequence and shards follow pack ids
    bad = manifest.filter(
        (F.col("pack_offset") < 0)
        | (F.col("pack_offset") >= 256)
        | (F.col("shard") != F.expr("pack_id div 8"))
    )
    assert bad.count() == 0

    # the JSONL corpus is sharded and holds exactly the manifest docs
    shards = glob.glob(f"{out}/corpus.jsonl/shard=*")
    assert len(shards) >= 1
    corpus = spark.read.json(f"{out}/corpus.jsonl")
    assert corpus.count() == stats["kept"]
    m_ids = {r.doc_id for r in manifest.select("doc_id").collect()}
    c_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert m_ids == c_ids
    # gates actually fired: no kept document contains the blocked token
    n_blocked = corpus.filter(
        F.array_contains(F.split(F.lower("text"), r"\s+"), "slow")
    ).count()
    assert n_blocked == 0


def test_curate_corpus_default_mix(spark, tmp_path):
    """With no mix_weights every source interleaves at weight 1."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    stats = curate_corpus(spark, docs, str(tmp_path / "curated"))
    assert stats["input"] == docs.count()
    assert stats["kept"] > 0
    manifest = spark.read.parquet(str(tmp_path / "curated" / "manifest.parquet"))
    ranks = [r.mix_rank for r in manifest.select("mix_rank").collect()]
    assert sorted(ranks) == list(range(1, stats["kept"] + 1))
