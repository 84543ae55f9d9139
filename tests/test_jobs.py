"""Input handling of the spark-submit jobs, run in-process on the shared
session: each job's ``main()`` is called with a patched ``sys.argv`` and
``SparkSession.stop`` disabled, so no second JVM is started."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(monkeypatch, name: str, *argv: str) -> None:
    monkeypatch.setattr(sys, "argv", [f"{name}.py", *argv])
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    _job(name).main()


def test_signals_job_md5_log_without_map_is_a_usage_error(
        spark, tmp_path, monkeypatch, capsys):
    """An md5-keyed pv log without --md5-map fails with a usage error that
    names the flag, not an unresolved-column AnalysisException."""
    pv = str(tmp_path / "pv")
    spark.createDataFrame(
        [("u1", 1, "m1")], "uid string, ts long, url_md5 string",
    ).write.parquet(pv)
    with pytest.raises(SystemExit):
        _run(monkeypatch, "signals_job", "--pv", pv,
             "--out", str(tmp_path / "out"))
    assert "--md5-map" in capsys.readouterr().err


def test_signals_job_log_without_url_columns_is_a_usage_error(
        spark, tmp_path, monkeypatch, capsys):
    pv = str(tmp_path / "pv")
    spark.createDataFrame(
        [("u1", 1, "x")], "uid string, ts long, page string",
    ).write.parquet(pv)
    with pytest.raises(SystemExit):
        _run(monkeypatch, "signals_job", "--pv", pv,
             "--out", str(tmp_path / "out"))
    err = capsys.readouterr().err
    assert "url column" in err and "url_md5" in err


def test_dedup_job_from_spans_joins_text_in_offset_order(
        spark, tmp_path, monkeypatch, capsys):
    """--from-spans orders text spans by offset: the same document stored
    with its spans array in a different order yields the same text, so
    the exact pass collapses the two."""
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [("d1", [("text", "alpha beta", None, 0),
                 ("image", None, "m.png", 1),
                 ("text", "gamma delta", None, 2)]),
         ("d2", [("text", "gamma delta", None, 2),
                 ("text", "alpha beta", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).write.parquet(docs)
    out = str(tmp_path / "out")
    _run(monkeypatch, "dedup_job", "--docs", docs, "--out", out,
         "--method", "exact", "--from-spans")
    kept = spark.read.parquet(out + "/kept").collect()
    assert [(r["doc_id"], r["text"]) for r in kept] == [
        ("d1", "alpha beta gamma delta")]


def test_dedup_job_embedding_keeper_exists_in_corpus(
        spark, tmp_path, monkeypatch, capsys):
    """An embedding id absent from the docs never becomes a cluster's
    keep_id: as the min id of its cluster it would otherwise be elected
    survivor and the real doc it pairs with would be dropped."""
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [("d1", "alpha"), ("d2", "beta"), ("d3", "gamma"), ("d4", "delta")],
        "doc_id string, text string",
    ).write.parquet(docs)
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [("a0", [1.0, 0.0, 0.0, 0.0]),   # not in the corpus
         ("d1", [1.0, 0.0, 0.0, 0.0]),
         ("d2", [0.0, 1.0, 0.0, 0.0]),
         ("d4", [0.0, 1.0, 0.0, 0.0]),   # near copy of d2
         ("d3", [0.0, 0.0, 1.0, 0.0])],
        "doc_id string, embedding array<double>",
    ).write.parquet(emb)
    out = str(tmp_path / "out")
    _run(monkeypatch, "dedup_job", "--docs", docs, "--out", out,
         "--method", "embedding", "--embeddings", emb)
    clusters = spark.read.parquet(out + "/near_clusters").collect()
    assert {r["keep_id"] for r in clusters} == {"d2"}
    kept = sorted(r["doc_id"] for r in
                  spark.read.parquet(out + "/kept").collect())
    assert kept == ["d1", "d2", "d3"]


@pytest.mark.parametrize("flag", ["--recrawl-ttl", "--compact-every"])
def test_crawl_job_negative_period_is_a_usage_error(
        tmp_path, monkeypatch, capsys, flag):
    """Negative --recrawl-ttl / --compact-every are usage errors naming the
    flag (0 still means never), raised before any Spark work."""
    with pytest.raises(SystemExit):
        _run(monkeypatch, "crawl_job", "--docs", str(tmp_path / "docs"),
             "--ckpt", str(tmp_path / "ck"), flag, "-1")
    assert flag in capsys.readouterr().err
