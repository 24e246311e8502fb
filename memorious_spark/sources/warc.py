"""WARC read/write — the web-archive interchange format (ISO 28500).

Common Crawl, Internet Archive, and every large webtext corpus ship
as WARC: a concatenation of records, each a ``WARC/1.0`` header block
(CRLF-separated ``Name: value`` lines, ``Content-Length`` giving the
payload size) followed by the payload bytes and a blank-line
separator. The reference engine stores fetched pages as loose
blob+JSON pairs (memorious/logic/archive.py); WARC is what a crawl
at scale actually has to emit and what a training-data pipeline has
to ingest, so the engine supports both directions.

Scale posture:

- **Write**: one ``.warc`` file per Spark partition, streamed through
  ``pyarrow.fs`` (works on object storage exactly like
  ``directory_sink``). The writer is ``mapInPandas`` over the full
  partition iterator — one open file handle per task, Arrow batches
  in, bytes out, one summary row back. No driver involvement, no
  collect.
- **Read (full scan)**: WARC is not splittable mid-stream without a
  sidecar index (records are length-prefixed, not delimited — you
  cannot seek into the middle; this is why Common Crawl ships
  ``.warc.paths`` + ``cdx`` indexes). Parallelism is therefore
  per-FILE: ``binaryFile`` scan → ``mapInPandas`` record parser.
  Shard your archives at the ~1 GiB the ecosystem uses and a
  1000-executor cluster reads 100 TB with every core busy; one giant
  file would serialize — documented, not hidden.
- **Read (indexed)**: ``write_warc(..., index=True)`` emits the CDXJ
  sidecar (one ``urlkey timestamp {json}`` line per record, the
  pywb/OpenWayback interchange format) carrying each record's
  ``(offset, length)`` in its archive. :func:`read_cdx` loads the
  sidecars as a plain DataFrame — so record SELECTION is Catalyst
  (filter the tiny index, never the archives) — and
  :func:`read_warc_records` fetches exactly the selected byte ranges
  with RECORD-level parallelism: rows of one archive may sit in many
  tasks (object stores serve concurrent ranged GETs natively), each
  task reuses one handle across its offset-sorted run. Reading 0.01%
  of a 100 TB archive set costs 0.01% of the bytes, not a scan.
- **Compression**: ``compress=True`` writes ``.warc.gz`` in the
  Common-Crawl member-per-record layout — each record is its own
  gzip member, which is exactly what makes the CDX offsets seekable
  (a whole-file gzip stream would force decompress-from-zero).
  Members come from ``zlib.compressobj(9, DEFLATED, wbits=31)``:
  header has MTIME=0, no name — byte-deterministic.
- One record shape: ``resource`` records typed
  ``application/octet-stream``, dated ``1970-01-01T00:00:00Z``.
- Determinism: ``WARC-Record-ID`` is derived from sha1(uri, payload)
  and ``WARC-Date`` is that constant — no wall clock, no uuid4 — so
  write → read round-trips are bit-stable and oracle-checkable.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "write_warc",
    "read_warc",
    "read_cdx",
    "read_warc_records",
    "surt_key",
    "WARC_RECORD_SCHEMA",
    "CDX_SCHEMA",
]

_CRLF = b"\r\n"
_WARC_DATE = "1970-01-01T00:00:00Z"
_CDX_TIMESTAMP = "19700101000000"
_CTYPE = "application/octet-stream"

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("record_id", StringType()),
        StructField("warc_type", StringType()),
        StructField("content_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("warc_file", StringType()),
    ]
)

_WRITE_SUMMARY_SCHEMA = StructType(
    [
        StructField("warc_file", StringType()),
        StructField("n_records", LongType()),
        StructField("n_bytes", LongType()),
    ]
)

CDX_SCHEMA = StructType(
    [
        StructField("urlkey", StringType()),
        StructField("timestamp", StringType()),
        StructField("url", StringType()),
        StructField("digest", StringType()),
        StructField("mime", StringType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
        StructField("warc_file", StringType()),
    ]
)


def surt_key(url: str) -> str:
    """Canonical SURT-form index key (Sort-friendly URI Reordering
    Transform — the key column of every Internet-Archive/Common-Crawl
    CDX): lowercase, scheme and a leading ``www.`` dropped, host
    components reversed and comma-joined, ``)`` before the path.
    ``http://www.Docs.Example.org/d/5?x=1`` → ``org,example,docs)/d/5?x=1``.
    Non-hierarchical URIs (``urn:...``) key as themselves lowercased —
    still unique, still sortable. Literal spaces are percent-encoded
    (pywb convention): the CDXJ line is space-delimited
    (``urlkey timestamp {json}``), so an unescaped space in the key
    would shift the timestamp/JSON fields on read — a silently
    corrupted index entry."""
    u = url.strip().lower().replace(" ", "%20")
    for scheme in ("https://", "http://"):
        if u.startswith(scheme):
            u = u[len(scheme):]
            break
    else:
        return u
    host, sep, rest = u.partition("/")
    host = host.removeprefix("www.")
    return ",".join(reversed(host.split("."))) + ")/" + (rest if sep else "")


def _gzip_member(raw: bytes) -> bytes:
    co = zlib.compressobj(9, zlib.DEFLATED, 31)
    return co.compress(raw) + co.flush()


def _fs_for(path: str):
    # same driver-side URI normalization as directory_sink: relative
    # paths become absolute file:// before pyarrow sees them
    import os

    from pyarrow import fs as pafs

    if "://" not in path:
        path = "file://" + os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def _record_bytes(uri: str, payload: bytes) -> bytes:
    rid = hashlib.sha1(
        uri.encode("utf-8") + b"\x00" + payload
    ).hexdigest()
    head = [
        b"WARC/1.0",
        b"WARC-Type: resource",
        b"WARC-Record-ID: <urn:sha1:" + rid.encode() + b">",
        b"WARC-Date: " + _WARC_DATE.encode(),
        b"WARC-Target-URI: " + uri.encode("utf-8"),
        b"Content-Type: " + _CTYPE.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    return _CRLF.join(head) + _CRLF * 2 + payload + _CRLF * 2


def write_warc(
    df: DataFrame,
    path: str,
    compress: bool = False,
    index: bool = False,
) -> DataFrame:
    """Write ``df``'s ``uri``/``payload`` rows as one
    ``part-NNNNN.warc`` file per partition under ``path`` (any
    ``pyarrow.fs`` URI). Returns the per-file
    summary DataFrame ``(warc_file, n_records, n_bytes)`` — an ACTION
    has not run yet; the caller materializes it.

    ``compress=True`` emits ``.warc.gz`` with ONE GZIP MEMBER PER
    RECORD (the Common Crawl layout — the property that makes CDX
    offsets independently seekable). ``index=True`` additionally
    streams a ``part-NNNNN.cdx`` CDXJ sidecar beside each archive:
    ``urlkey timestamp {json}`` per record, json carrying
    ``url/digest/mime/offset/length/filename``; ``digest`` is the
    sha1 hex of the UNCOMPRESSED payload, ``offset``/``length`` the
    record's byte range in the archive as written (the gzip member's
    range when compressed). Both sidecar and archive come from the
    same single pass — no second scan, no driver involvement."""
    fs, root = _fs_for(path)
    fs.create_dir(root, recursive=True)
    ext = ".warc.gz" if compress else ".warc"
    sel = [
        F.col("uri").cast("string").alias("uri"),
        F.col("payload").cast("binary").alias("payload"),
    ]

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = f"part-{pid:05d}"
        fname = f"{root}/{base}{ext}"
        wfs, wroot = _fs_for(path)
        n = 0
        total = 0
        # compression=None: pyarrow otherwise DETECTS the .gz suffix
        # and wraps the stream in a second whole-file gzip layer,
        # destroying the member-per-record seekability
        out = wfs.open_output_stream(
            f"{wroot}/{base}{ext}", compression=None
        )
        cdx_out = (
            wfs.open_output_stream(f"{wroot}/{base}.cdx", compression=None)
            if index
            else None
        )
        try:
            for b in batches:
                for uri, payload in zip(b["uri"], b["payload"]):
                    if payload is None:
                        # fail loud per-row: a NULL payload would
                        # raise an anonymous TypeError from bytes()
                        # mid-task; callers must coalesce or filter
                        raise ValueError(
                            f"write_warc: NULL payload for uri {uri!r}"
                            " — coalesce to b'' or filter null rows"
                        )
                    body = bytes(payload)
                    rec = _record_bytes(uri, body)
                    if compress:
                        rec = _gzip_member(rec)
                    out.write(rec)
                    if cdx_out is not None:
                        meta = {
                            "url": uri,
                            "digest": hashlib.sha1(body).hexdigest(),
                            "mime": _CTYPE,
                            "offset": total,
                            "length": len(rec),
                            "filename": f"{base}{ext}",
                        }
                        line = (
                            f"{surt_key(uri)} {_CDX_TIMESTAMP} "
                            f"{json.dumps(meta, separators=(',', ':'))}\n"
                        )
                        cdx_out.write(line.encode("utf-8"))
                    n += 1
                    total += len(rec)
        finally:
            out.close()
            if cdx_out is not None:
                cdx_out.close()
        if n == 0:
            wfs.delete_file(f"{wroot}/{base}{ext}")
            if index:
                wfs.delete_file(f"{wroot}/{base}.cdx")
            return
        yield pd.DataFrame(
            {"warc_file": [fname], "n_records": [n], "n_bytes": [total]}
        )

    return df.select(*sel).mapInPandas(_write, _WRITE_SUMMARY_SCHEMA)


def _parse_warc_bytes(blob: bytes, fname: str) -> Iterator[dict]:
    buf = io.BytesIO(blob)
    while True:
        line = buf.readline()
        if not line:
            return
        if line.strip() == b"":
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(
                f"{fname}: expected WARC version line, got {line[:40]!r}"
            )
        headers: dict[str, str] = {}
        while True:
            h = buf.readline()
            if h in (_CRLF, b"\n", b""):
                break
            k, _, v = h.decode("utf-8", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers.get("content-length", "0"))
        payload = buf.read(length)
        if len(payload) != length:
            raise ValueError(
                f"{fname}: truncated record (want {length} bytes, "
                f"got {len(payload)})"
            )
        yield {
            "uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "record_id": headers.get("warc-record-id"),
            "warc_type": headers.get("warc-type"),
            "content_type": headers.get("content-type"),
            "payload": payload,
            "warc_file": fname,
        }


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``path`` (glob ok) for ``.warc``/``.warc.gz`` files and
    return one row per record with :data:`WARC_RECORD_SCHEMA`.
    File-level parallelism (see module docstring); gzip archives are
    decompressed member-by-member (``gzip`` handles the concatenated-
    member layout natively); malformed records raise with the file
    name — a corrupt archive fails loud, never truncates silently."""
    files = spark.read.format("binaryFile").load(path)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for fpath, blob in zip(b["path"], b["content"]):
                blob = bytes(blob)
                if fpath.endswith(".gz"):
                    blob = gzip.decompress(blob)
                rows = list(_parse_warc_bytes(blob, fpath))
                if rows:
                    yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(
        _parse, WARC_RECORD_SCHEMA
    )


_CDX_JSON_SCHEMA = (
    "url string, digest string, mime string, offset long, "
    "length long, filename string"
)


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Load CDXJ sidecars (glob ok) as :data:`CDX_SCHEMA`. The index
    is the QUERY surface of an archive set: filter/join it with plain
    DataFrame ops (it is thousands of times smaller than the
    archives), then hand the survivors to :func:`read_warc_records`.
    ``warc_file`` is resolved absolute against each sidecar's own
    directory, so a moved archive set stays self-describing."""
    lines = spark.read.text(path).select(
        F.split(F.col("value"), " ", 3).alias("p"),
        F.input_file_name().alias("_src"),
    )
    meta = F.from_json(F.element_at("p", 3), _CDX_JSON_SCHEMA).alias("m")
    return lines.select(
        F.element_at("p", 1).alias("urlkey"),
        F.element_at("p", 2).alias("timestamp"),
        meta,
        F.regexp_replace("_src", "/[^/]+$", "").alias("_dir"),
    ).select(
        "urlkey",
        "timestamp",
        F.col("m.url").alias("url"),
        F.col("m.digest").alias("digest"),
        F.col("m.mime").alias("mime"),
        F.col("m.offset").alias("offset"),
        F.col("m.length").alias("length"),
        F.concat_ws("/", "_dir", "m.filename").alias("warc_file"),
    )


def read_warc_records(cdx: DataFrame) -> DataFrame:
    """Random-access fetch of exactly the records a (filtered) CDX
    DataFrame names: seek ``offset``, read ``length`` bytes, gunzip
    the member when the archive is ``.gz``, parse the one record.

    Scale posture: deliberately NO repartition-by-file — records of
    one archive may land in many tasks (record-level parallelism;
    object stores serve concurrent ranged GETs), and each task sorts
    its slice by ``(warc_file, offset)`` so a handle is opened once
    per file-run and reads move forward. Selecting k records out of a
    100 TB archive set costs O(k) ranged reads, never a scan."""
    from memorious_spark.operators.frontier import ensure_parallelism

    sel = ensure_parallelism(
        cdx.select("warc_file", "offset", "length")
    ).sortWithinPartitions("warc_file", "offset")

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur, handle = None, None
        try:
            for b in batches:
                rows = []
                for fpath, off, length in zip(
                    b["warc_file"], b["offset"], b["length"]
                ):
                    if fpath != cur:
                        if handle is not None:
                            handle.close()
                        fsys, p = _fs_for(fpath)
                        handle = fsys.open_input_file(p)
                        cur = fpath
                    handle.seek(int(off))
                    raw = handle.read(int(length))
                    if len(raw) != int(length):
                        raise ValueError(
                            f"{fpath}: short range read at {off} "
                            f"(want {length} bytes, got {len(raw)})"
                        )
                    if fpath.endswith(".gz"):
                        raw = gzip.decompress(raw)
                    recs = list(_parse_warc_bytes(raw, fpath))
                    if len(recs) != 1:
                        raise ValueError(
                            f"{fpath}: CDX range [{off}, {off}+{length}) "
                            f"holds {len(recs)} records, expected 1"
                        )
                    rows.append(recs[0])
                if rows:
                    yield pd.DataFrame(rows)
        finally:
            if handle is not None:
                handle.close()

    return sel.mapInPandas(_fetch, WARC_RECORD_SCHEMA)
