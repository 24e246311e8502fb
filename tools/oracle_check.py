"""Driver-style correctness sweep: run each __spark_entry__ query on
Spark AND its DuckDB oracle over the same sf parquet, compare row
count, sorted column names, and a value hash of the sorted tuples.

Usage: python tools/oracle_check.py [query ...]   (default: all with an
oracle entry; env SPARK_GRAFT_SF_DIR_SMALL overrides /root/testdata/sf0.01)

Several queries write scratch run dirs and archives under
``tempfile.mkdtemp`` (prefixes in ``TEMP_PREFIXES``); the ones a query
creates are deleted once its rows are collected.
"""

import hashlib
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

TEMP_PREFIXES = ("msrun_", "tags_", "dbq_", "warc_")


def temp_dirs() -> set[str]:
    tmp = tempfile.gettempdir()
    return {
        os.path.join(tmp, n)
        for n in os.listdir(tmp)
        if n.startswith(TEMP_PREFIXES)
    }


def norm_cell(v):
    import decimal

    if isinstance(v, (float, decimal.Decimal)):
        return f"{float(v):.6f}"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    tups = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for t in tups:
        h.update("\x1f".join(t).encode("utf-8", "replace"))
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    import duckdb

    import __spark_entry__ as entry
    from memorious_spark.session import get_spark

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01"
    )
    want = sys.argv[1:]
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = want or [n for n in qs if n in oracles]

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    failed = []
    for name in names:
        before = temp_dirs()
        df = qs[name](spark, sf_dir)
        srows = [tuple(r) for r in df.collect()]
        for d in temp_dirs() - before:
            shutil.rmtree(d, ignore_errors=True)
        if name not in oracles:
            print(f"{name}: NO ORACLE (rows-only)")
            print(f"  spark rows={len(srows)}")
            continue
        scols = df.columns
        ores = con.execute(oracles[name]).fetchall()
        ocols = [d[0] for d in con.description]
        ok_rows = len(srows) == len(ores)
        ok_cols = sorted(scols) == sorted(ocols)
        sh = value_hash(scols, srows)
        oh = value_hash(ocols, ores)
        ok_hash = sh == oh
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(
            f"{name}: {status} rows={len(srows)}/{len(ores)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'}"
        )
        if status == "FAIL":
            failed.append(name)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
