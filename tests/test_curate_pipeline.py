"""End-to-end curation job (curate.py): funnel -> split -> budget -> pack
-> partitioned sink + manifest. Smoke + invariants, mirroring
test_sync_pipeline.py's treatment of the sync job."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark import curate
from mysql_to_clickhouse_sync_spark.catalog import load_table
from tests.conftest import SF_DIR


def test_curate_end_to_end(spark, tmp_path):
    out = str(tmp_path / "curated")
    manifest = curate.run(spark, SF_DIR, out)
    assert manifest["n_raw"] >= manifest["n_kept"] > 0

    back = spark.read.parquet(os.path.join(out, "corpus"))
    assert back.count() == manifest["n_kept"]
    # split partitions the kept set
    assert set(
        r.split for r in back.select("split").distinct().collect()
    ) <= {"train", "val", "test"}
    # manifest on disk round-trips
    with open(os.path.join(out, "manifest.json")) as fh:
        disk = json.load(fh)
    assert disk["n_kept"] == manifest["n_kept"]
    # pack plan totals equal the curated corpus totals
    plan_total = sum(int(p["total_tokens"]) for p in manifest["pack_plan"])
    assert plan_total == back.agg(F.sum("tok")).collect()[0][0]
    for p in manifest["pack_plan"]:
        tt, ns = int(p["total_tokens"]), int(p["n_seqs"])
        assert ns == (tt + curate.SEQ_LEN - 1) // curate.SEQ_LEN


def test_budget_caps_train_tokens_per_lang(spark, tmp_path):
    budget = 200
    manifest = curate.run(
        spark, SF_DIR, str(tmp_path / "b"), budget_per_lang=budget
    )
    for p in manifest["pack_plan"]:
        if p["split"] == "train":
            assert int(p["total_tokens"]) <= budget
    # the admitted set is a deterministic function of the data
    manifest2 = curate.run(
        spark, SF_DIR, str(tmp_path / "b2"), budget_per_lang=budget
    )
    assert manifest["n_kept"] == manifest2["n_kept"]


def test_curation_is_append_stable(spark, tmp_path):
    # splitting and admission are pure key functions: curating a PREFIX of
    # the corpus assigns every shared doc the same split
    docs = load_table(spark, SF_DIR, "documents")
    full = curate.curated_documents(docs).select("doc_id", "split")
    half = curate.curated_documents(
        docs.filter(F.col("doc_id") % 2 == 0)
    ).select("doc_id", F.col("split").alias("split2"))
    joined = full.join(half, "doc_id")
    assert joined.filter(F.col("split") != F.col("split2")).count() == 0


def test_passage_gate_drops_boilerplate_and_reports_mixture(spark, tmp_path):
    base = curate.run(spark, SF_DIR, str(tmp_path / "nogate"))
    gated = curate.run(
        spark, SF_DIR, str(tmp_path / "gate"), passage_dup_max=0.3
    )
    # the gate can only shrink the kept set, and the fixture has
    # boilerplate-heavy docs (dup_ratio up to ~0.8), so it must bite
    assert gated["n_kept"] < base["n_kept"]
    # every survivor is below the threshold (recompute over survivors)
    from mysql_to_clickhouse_sync_spark.operators.dedup import passage_report

    docs = load_table(spark, SF_DIR, "documents")
    kept = curate.curated_documents(docs, passage_dup_max=0.3)
    joined = kept.join(
        passage_report(
            curate.curated_documents(docs).select(
                "doc_id", "lang", "text", "source", "n_chars"
            )
        ).select("doc_id", "dup_ratio"),
        "doc_id",
    )
    assert joined.filter(F.col("dup_ratio") > 0.3).count() == 0
    # mixture report: shares sum to <= 10000 bp (floor division slack)
    shares = [int(m["share_bp"]) for m in gated["mixture"]]
    assert 0 < sum(shares) <= 10000
    assert len(gated["mixture"]) > 0


def test_failed_manifest_write_keeps_the_previous_manifest(
    spark, tmp_path, monkeypatch
):
    """The manifest is published atomically (durable.replace_file): a
    serialization error leaves the previous manifest byte-identical and
    no temporary file behind."""
    out = tmp_path / "curated"
    out.mkdir()
    previous = b'{"n_kept": 1}\n'
    (out / "manifest.json").write_bytes(previous)

    def boom(*a, **kw):
        raise TypeError("cannot serialize")

    monkeypatch.setattr(curate, "json", SimpleNamespace(dumps=boom))
    with pytest.raises(TypeError, match="cannot serialize"):
        curate.run(spark, SF_DIR, str(out))
    assert (out / "manifest.json").read_bytes() == previous
    assert sorted(os.listdir(out)) == ["corpus", "manifest.json"]
