"""CLI surface e2e (memorious_spark/cli.py — the reference's
memorious/cli.py commands re-expressed): run / resume / list /
status / cancel / flush / flush-tags, all driven in-process through
``main(argv)`` against a real corpus parquet."""

import json

from pyspark.sql import functions as F

from memorious_spark.cli import main
from memorious_spark.sources.corpus import build_corpus, seed_urls


def _setup(spark, tmp_path, extra_yaml=""):
    docs = spark.range(120).select(
        F.col("id").alias("doc_id"), F.lit("txt").alias("text"),
        F.lit("en").alias("lang"),
    )
    corpus_path = str(tmp_path / "corpus.parquet")
    build_corpus(spark, docs, 120).write.mode("overwrite").parquet(
        corpus_path
    )
    yml = tmp_path / "clidemo.yml"
    yml.write_text(f"""
name: clidemo
description: CLI demo crawler
{extra_yaml}
pipeline:
  init:
    method: seed
    params: {{urls: {seed_urls(2)!r}}}
    handle: {{pass: fetch}}
  fetch:
    method: fetch
    handle: {{pass: parse}}
  parse:
    method: parse
    handle: {{store: store}}
  store:
    method: db
""")
    return corpus_path, str(yml), str(tmp_path / "runs")


def test_cli_full_surface(spark, tmp_path, capsys):
    corpus, yml, runs = _setup(spark, tmp_path)

    # run to completion
    rc = main(["run", yml, "--corpus", corpus, "--runs-dir", runs])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["status"] == "done" and out["pages_stored"] > 50
    assert out["run_id"] == "run-000001"

    # list
    assert main(["list", str(tmp_path)]) == 0
    listing = capsys.readouterr().out
    assert "clidemo" in listing and "CLI demo crawler" in listing

    # status
    assert main(["status", "clidemo", "--runs-dir", runs]) == 0
    status = capsys.readouterr().out
    assert "run-000001" in status and "done" in status

    # cancel drops the kill-file the runner honors
    assert main(
        ["cancel", "clidemo", "run-000001", "--runs-dir", runs]
    ) == 0
    from pathlib import Path

    assert (Path(runs) / "clidemo" / "run-000001" / "ABORT").exists()

    # flush-tags keeps sink tables, flush drops everything shared
    shared = Path(runs) / "clidemo" / "_shared"
    assert any(d.name.startswith("db_") for d in shared.iterdir())
    assert main(["flush-tags", "clidemo", "--runs-dir", runs]) == 0
    capsys.readouterr()
    assert all(
        d.name.startswith(("db_", "ftm_")) for d in shared.iterdir()
    )
    assert main(["flush", "clidemo", "--runs-dir", runs]) == 0
    capsys.readouterr()
    assert not shared.exists()


def test_cli_budget_then_resume(spark, tmp_path, capsys):
    corpus, yml, runs = _setup(spark, tmp_path, extra_yaml="max_rounds: 2")
    rc = main(["run", yml, "--corpus", corpus, "--runs-dir", runs])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["status"] == "done" and out["rounds"] == 2

    # lift the round limit and resume the latest run to the full crawl
    (tmp_path / "clidemo.yml").write_text(
        (tmp_path / "clidemo.yml").read_text().replace(
            "max_rounds: 2\n", ""
        )
    )
    rc = main(
        ["run", yml, "--corpus", corpus, "--runs-dir", runs, "--resume"]
    )
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out2["status"] == "done"
    assert out2["run_id"] == out["run_id"]
    assert out2["pages_stored"] > out["pages_stored"]
