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
