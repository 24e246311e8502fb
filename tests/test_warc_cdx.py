"""CDX-indexed WARC: member-per-record gzip layout, sidecar index
fidelity, and random-access record fetch (sources/warc.py)."""

import glob
import gzip

import pytest
from pyspark.sql import functions as F

from memorious_spark.sources.warc import (
    read_cdx, read_warc, read_warc_records, surt_key, write_warc,
)


def _docs(spark, n=20):
    return spark.createDataFrame(
        [
            (f"http://www.Docs.Example.org/d/{i}?x=1",
             f"body {i}\r\nwith crlf é".encode())
            for i in range(n)
        ],
        "uri string, payload binary",
    )


def test_surt_key():
    assert (
        surt_key("http://www.Docs.Example.org/d/5?x=1")
        == "org,example,docs)/d/5?x=1"
    )
    assert surt_key("https://a.b.c/") == "c,b,a)/"
    assert surt_key("http://host.tld") == "tld,host)/"
    assert surt_key("urn:doc:7") == "urn:doc:7"
    # ADVICE r4: literal spaces percent-encode (pywb convention) —
    # the CDXJ line is space-delimited, so an unescaped space would
    # shift the timestamp/JSON fields on read
    assert surt_key("http://h.tld/a b?q=x y") == "tld,h)/a%20b?q=x%20y"
    assert surt_key("urn:has space") == "urn:has%20space"


def test_warc_space_uri_cdx_roundtrip_and_null_payload_rejects(
    spark, tmp_path
):
    """ADVICE r4 pair: (a) a space-bearing URI must not shift the
    space-delimited CDXJ fields — the parsed timestamp stays 14
    digits and offset/length stay non-null; (b) a NULL payload fails
    loud with the uri in the message, never an anonymous TypeError."""
    docs = spark.createDataFrame(
        [("http://h.tld/a b", b"body one"), ("http://h.tld/c", b"body two")],
        "uri string, payload binary",
    )
    dest = str(tmp_path / "w")
    write_warc(docs, dest, compress=True, index=True).collect()
    cdx = {r["urlkey"]: r for r in read_cdx(spark, f"{dest}/*.cdx").collect()}
    assert "tld,h)/a%20b" in cdx
    for r in cdx.values():
        assert len(r["timestamp"]) == 14 and r["timestamp"].isdigit()
        assert r["offset"] is not None and r["length"] is not None
    # ranged fetch still lands on the right member
    got = {
        r["uri"]: bytes(r["payload"])
        for r in read_warc_records(
            read_cdx(spark, f"{dest}/*.cdx")
        ).collect()
    }
    assert got["http://h.tld/a b"] == b"body one"

    nulls = spark.createDataFrame(
        [("http://h.tld/null", None)], "uri string, payload binary"
    )
    with pytest.raises(Exception, match="NULL payload for uri"):
        write_warc(nulls, str(tmp_path / "w2")).collect()


def test_warc_gz_is_member_per_record(spark, tmp_path):
    """compress=True writes one gzip member per record at exactly the
    CDX offsets (the seekability property), and the full gz scan
    round-trips payload bytes."""
    docs = _docs(spark)
    dest = str(tmp_path / "w")
    write_warc(docs.repartition(4), dest, compress=True, index=True).collect()
    cdx = read_cdx(spark, f"{dest}/*.cdx").collect()
    assert len(cdx) == 20
    by_file = {}
    for r in cdx:
        by_file.setdefault(r["warc_file"], []).append(r)
    for fname, rows in by_file.items():
        blob = open(fname.removeprefix("file://"), "rb").read()
        rows = sorted(rows, key=lambda r: r["offset"])
        # offsets tile the file exactly, each slice a standalone member
        assert rows[0]["offset"] == 0
        assert sum(r["length"] for r in rows) == len(blob)
        for r in rows:
            sl = blob[r["offset"]: r["offset"] + r["length"]]
            assert sl[:2] == b"\x1f\x8b"
            assert gzip.decompress(sl).startswith(b"WARC/1.0")
    back = {
        r["uri"]: bytes(r["payload"])
        for r in read_warc(spark, f"{dest}/*.warc.gz").collect()
    }
    assert back == {r["uri"]: bytes(r["payload"]) for r in docs.collect()}


@pytest.mark.parametrize("compress", [True, False])
def test_cdx_selective_fetch_is_byte_exact(spark, tmp_path, compress):
    """Filter the index, fetch only the survivors: payloads byte-exact,
    urlkey/digest as specified, nothing else returned."""
    import hashlib

    docs = _docs(spark)
    dest = str(tmp_path / "w")
    write_warc(
        docs.repartition(4), dest, compress=compress, index=True
    ).collect()
    cdx = read_cdx(spark, f"{dest}/*.cdx")
    want_ids = {3, 7, 11}
    picked = cdx.filter(
        F.col("urlkey").isin(
            *[f"org,example,docs)/d/{i}?x=1" for i in want_ids]
        )
    )
    got = read_warc_records(picked).collect()
    want = {
        r["uri"]: bytes(r["payload"])
        for r in docs.collect()
        if int(r["uri"].rsplit("/", 1)[1].split("?")[0]) in want_ids
    }
    assert {r["uri"]: bytes(r["payload"]) for r in got} == want
    # digest + timestamp contract
    for r in picked.collect():
        assert r["timestamp"] == "19700101000000"
        assert r["digest"] == hashlib.sha1(want[r["url"]]).hexdigest()


def test_cdx_bad_range_fails_loud(spark, tmp_path):
    """A CDX range spanning two records (or past EOF) raises with the
    file name instead of silently returning garbage."""
    docs = _docs(spark, n=4)
    dest = str(tmp_path / "w")
    write_warc(docs.coalesce(1), dest, index=True).collect()
    cdx = read_cdx(spark, f"{dest}/*.cdx")
    two = cdx.orderBy("offset").limit(2).collect()
    spanned = cdx.sparkSession.createDataFrame(
        [(two[0]["warc_file"], 0, two[0]["length"] + two[1]["length"])],
        "warc_file string, offset long, length long",
    )
    with pytest.raises(Exception, match="holds 2 records"):
        read_warc_records(spanned).collect()
    past_eof = cdx.sparkSession.createDataFrame(
        [(two[0]["warc_file"], two[1]["offset"], 10_000_000)],
        "warc_file string, offset long, length long",
    )
    with pytest.raises(Exception, match="short range read"):
        read_warc_records(past_eof).collect()


def test_warc_gz_write_is_deterministic(spark, tmp_path):
    """Two writes of the same partitioned input produce byte-identical
    archives and sidecars (MTIME=0 members, derived record ids)."""
    docs = _docs(spark).coalesce(1)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_warc(docs, a, compress=True, index=True).collect()
    write_warc(docs, b, compress=True, index=True).collect()
    for suff in ("*.warc.gz", "*.cdx"):
        fa, fb = sorted(glob.glob(f"{a}/{suff}")), sorted(
            glob.glob(f"{b}/{suff}")
        )
        assert [open(f, "rb").read() for f in fa] == [
            open(f, "rb").read() for f in fb
        ]
