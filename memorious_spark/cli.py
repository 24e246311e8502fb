"""The engine's command surface — the reference's CLI re-expressed
(memorious/cli.py:63-210: ``run``, ``list``, ``status``, ``cancel``,
``flush``, ``flush-tags``) for the Spark engine:

    python -m memorious_spark run crawler.yml --corpus pages.parquet
    python -m memorious_spark list configs/
    python -m memorious_spark status my_crawler
    python -m memorious_spark cancel my_crawler run-000001
    python -m memorious_spark flush my_crawler
    python -m memorious_spark flush-tags my_crawler

Differences from the reference, by design (SURVEY §3.1): there is no
worker daemon — a run IS one driver process over a page corpus
(spark-submit this module with ``--py-files`` on a cluster; locally
the session ships the package zip itself); ``cancel`` drops the
ABORT kill-file the runner checks between rounds (the Redis abort
flag, memorious/model/crawl.py:98-113), so it takes effect at the
next round boundary of a LIVE run.

argparse, not click: stdlib-only, nothing to install on executors.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
from pathlib import Path

__all__ = ["main"]


def _add_runs_dir(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--runs-dir", default="runs",
        help="root directory holding <crawler>/<run_id> state "
             "(default: ./runs)",
    )


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="memorious_spark",
        description="PySpark-native memorious: crawl a page corpus "
                    "through a YAML pipeline",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run a crawler to completion")
    run.add_argument("config", help="crawler YAML (memorious shape)")
    run.add_argument(
        "--corpus", required=True,
        help="parquet of Common-Crawl-style pages (url, warc_ts, html, "
             "text, lang [, content_type, status_code, redirect_to])",
    )
    _add_runs_dir(run)
    run.add_argument("--run-id", default=None,
                     help="resume/name a specific run (default: next "
                          "run-NNNNNN under the crawler dir)")
    run.add_argument("--resume", action="store_true",
                     help="continue the run from its last complete round")
    run.add_argument("--flush", action="store_true",
                     help="flush crawler-scoped shared state first "
                          "(the reference's run --flush)")
    run.add_argument("--master", default=None,
                     help="Spark master (default: env or local[*])")
    run.add_argument("--shuffle-partitions", type=int, default=None)
    run.add_argument("--now-ts", default="2024-01-01 00:00:00",
                     help="timestamp stamped on cache/tag writes "
                          "(deterministic by default; pass wall clock "
                          "in production)")

    ls = sub.add_parser("list", help="list the available crawlers")
    ls.add_argument("configs", help="directory of crawler YAMLs")

    st = sub.add_parser("status", help="status of a crawler's runs")
    st.add_argument("crawler")
    _add_runs_dir(st)

    ca = sub.add_parser("cancel", help="request abort of a live run")
    ca.add_argument("crawler")
    ca.add_argument("run_id")
    _add_runs_dir(ca)

    fl = sub.add_parser(
        "flush", help="drop ALL crawler-scoped shared state"
    )
    fl.add_argument("crawler")
    _add_runs_dir(fl)

    ft = sub.add_parser(
        "flush-tags",
        help="drop tag-family shared state only (tags, http cache, "
             "incremental markers, sequence state) — sink tables stay",
    )
    ft.add_argument("crawler")
    _add_runs_dir(ft)
    return ap


def _next_run_id(root: Path, crawler: str) -> str:
    crawler_dir = root / crawler
    existing = []
    if crawler_dir.is_dir():
        for d in crawler_dir.iterdir():
            if d.name.startswith("run-"):
                try:
                    existing.append(int(d.name.split("-", 1)[1]))
                except ValueError:
                    pass
    return f"run-{max(existing, default=0) + 1:06d}"


def _cmd_run(args) -> int:
    from pyspark.sql import functions as F

    from memorious_spark.plans.pipeline import load_yaml
    from memorious_spark.plans.runner import CrawlRunner
    from memorious_spark.plans.storage import RunStore
    from memorious_spark.session import get_spark

    cfg = load_yaml(Path(args.config).read_text())
    spark_kwargs = {}
    if args.master:
        spark_kwargs["master"] = args.master
    if args.shuffle_partitions:
        spark_kwargs["shuffle_partitions"] = args.shuffle_partitions
    spark = get_spark(**spark_kwargs)
    corpus = spark.read.parquet(args.corpus)
    # fill the optional page-meta columns so a bare
    # (url, warc_ts, html, text, lang) table is runnable as-is
    defaults = {
        "content_type": F.lit("text/html"),
        "status_code": F.lit(200),
        "redirect_to": F.lit(None).cast("string"),
    }
    for col, default in defaults.items():
        if col not in corpus.columns:
            corpus = corpus.withColumn(col, default)
    if args.run_id:
        run_id = args.run_id
    elif args.resume:
        # --resume with no --run-id continues the LATEST run
        nxt = _next_run_id(Path(args.runs_dir), cfg.name)
        last = int(nxt.split("-", 1)[1]) - 1
        if last < 1:
            print(f"nothing to resume for {cfg.name!r}", file=sys.stderr)
            return 1
        run_id = f"run-{last:06d}"
    else:
        run_id = _next_run_id(Path(args.runs_dir), cfg.name)
    store = RunStore(args.runs_dir, cfg.name, run_id)
    if args.flush:
        store.flush_crawler()
    res = CrawlRunner(spark, cfg, store).run(
        corpus, resume=args.resume, now_ts=args.now_ts
    )
    print(json.dumps({
        "crawler": cfg.name,
        "run_id": res.run_id,
        "status": res.status,
        "rounds": res.rounds,
        "pages_fetched": res.pages_fetched,
        "pages_stored": res.pages_stored,
        "urls_seen": res.urls_seen,
    }))
    return 0 if res.status == "done" else 1


def _cmd_list(args) -> int:
    import yaml

    from memorious_spark.plans.pipeline import load_config

    rows = []
    for pat in ("*.yml", "*.yaml"):
        for f in sorted(glob.glob(os.path.join(args.configs, pat))):
            try:
                spec = yaml.safe_load(Path(f).read_text())
                cfg = load_config(spec)
                rows.append((cfg.name, spec.get("description", ""), f))
            except Exception as exc:  # fail-fast configs surface here
                rows.append(("<invalid>", str(exc)[:60], f))
    if not rows:
        print("no crawler configs found", file=sys.stderr)
        return 1
    width = max(len(r[0]) for r in rows)
    for name, desc, f in rows:
        print(f"{name:<{width}}  {f}  {desc}")
    return 0


def _cmd_status(args) -> int:
    crawler_dir = Path(args.runs_dir) / args.crawler
    if not crawler_dir.is_dir():
        print(f"no runs for crawler {args.crawler!r}", file=sys.stderr)
        return 1
    print("run_id        status             rounds  fetched  stored  seen")
    for d in sorted(crawler_dir.iterdir()):
        mf = d / "manifest.json"
        if not mf.exists():
            continue
        m = json.loads(mf.read_text())
        rounds = m.get("rounds", [])
        print(
            f"{d.name:<13} {m.get('status', 'running'):<18} "
            f"{len(rounds):>6}  "
            f"{sum(r.get('fetched', 0) for r in rounds):>7}  "
            f"{sum(r.get('stored', 0) for r in rounds):>6}  "
            f"{(rounds[-1].get('urls_seen', 0) if rounds else 0):>4}"
        )
    return 0


def _cmd_cancel(args) -> int:
    run_dir = Path(args.runs_dir) / args.crawler / args.run_id
    if not run_dir.is_dir():
        print(f"no such run: {run_dir}", file=sys.stderr)
        return 1
    (run_dir / "ABORT").touch()
    print(f"abort requested: {run_dir} (takes effect next round)")
    return 0


def _cmd_flush(args) -> int:
    shared = Path(args.runs_dir) / args.crawler / "_shared"
    if shared.is_dir():
        shutil.rmtree(shared)
        print(f"flushed {shared}")
    else:
        print("nothing to flush")
    return 0


def _cmd_flush_tags(args) -> int:
    """Reference parity (cli.py:159-164): tags only — the http cache,
    incremental markers and sequence state are tag families in the
    reference's model; persistent SINK tables survive (db_*, and the
    ftm_* tables earlier versions wrote)."""
    shared = Path(args.runs_dir) / args.crawler / "_shared"
    dropped = []
    if shared.is_dir():
        for d in shared.iterdir():
            if d.is_dir() and not d.name.startswith(("db_", "ftm_")):
                shutil.rmtree(d)
                dropped.append(d.name)
    print(f"flushed tag tables: {sorted(dropped) or 'none'}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    return {
        "run": _cmd_run,
        "list": _cmd_list,
        "status": _cmd_status,
        "cancel": _cmd_cancel,
        "flush": _cmd_flush,
        "flush-tags": _cmd_flush_tags,
    }[args.cmd](args)
