#!/usr/bin/env python3
"""Crawl benchmark entry point.

    python3 crawlbench/run.py --workload bulk_drain --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout that holds the ``memorious_spark``
package. Prints, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything it writes goes under ``.crawlbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".crawlbench_work"


def _confine(work: Path) -> None:
    """Point every temp and spill dir of Python, the JVM and Spark at
    ``work``; must run before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # the engine's own defaults, its JVM heap size included, are measured
    for var in ("MEMSPARK_TIMING", "MEMSPARK_FORCE_SHUFFLE_JOIN", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(var, None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("bulk_drain", "bfs_polite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "memorious_spark" / "__init__.py").is_file():
        print(f"crawlbench: no memorious_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    _confine(work)
    sys.path.insert(0, str(ROOT))
    from crawlbench.bench import run
    from crawlbench.workloads import N_PAGES

    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), N_PAGES, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
