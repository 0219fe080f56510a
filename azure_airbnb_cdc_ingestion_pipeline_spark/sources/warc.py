"""WARC/WET source with a rejected-records side channel (r10, VERDICT
r9 #5).

WARC (ISO 28500 / the public warc-specifications repo) is the de-facto
container for web-crawl corpora — Common Crawl alone ships ~100 TB of
`.warc.gz` per monthly snapshot, plus `.wet.gz` (text "conversion"
records in the same container). An LLM-data engine that reads only
parquet/CSV/JSONL never touches the raw crawl; this module extends the
reference's BadRecords contract (`/root/reference/dataflow/
BookingDataTransformation.json:31-34`, already applied to JSONL in
`readers.read_jsonl_with_rejects`) to the format those corpora actually
arrive in.

Format essentials implemented from the public spec:

- A WARC file is a sequence of records; each record is a version line
  (``WARC/1.0``), named headers (``Name: value``, LWS continuation
  lines folded), an empty line, ``Content-Length`` octets of payload,
  and a ``\\r\\n\\r\\n`` trailer.
- ``.warc.gz`` files are MULTI-MEMBER gzip — one member per record, so
  a reader can resynchronize at member boundaries. Handled with one
  ``zlib.decompressobj(wbits=47)`` walk over ``unused_data``.
- Mandatory named fields per spec §5: ``WARC-Record-ID``, ``WARC-Date``,
  ``WARC-Type``, ``Content-Length``.

Spark posture for 100 TB: gzip members are not block-splittable, so the
parallel unit is the FILE — exactly how Common Crawl is processed in
practice (a snapshot is ~72 000 × ~1 GB warc.gz files; 1 000 executors
take ~72 waves). The reader is ``binaryFile`` scan → one Arrow map pass
(``functions.arrow``); record payloads are born inside their task and
never shuffle. Malformed records divert to the reject channel with a
reason and the parse RESUMES at the next gzip member / next ``WARC/``
magic — a 100 TB ingest keeps running, like the JSONL path.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_GZ_MAGIC = b"\x1f\x8b"
_REQUIRED = ("WARC-Record-ID", "WARC-Date", "WARC-Type")
_MAX_HEADER = 64 * 1024  # spec has no limit; a sane resync bound

# unified output schema: good rows carry the record columns, reject rows
# carry reject_reason + a snippet; one schema so a single Arrow pass can
# emit both and the caller splits lazily (same contract as the JSONL
# reader's two-branches-over-one-scan)
WARC_FIELDS = (
    "source_file string, record_offset long, record_id string, "
    "warc_type string, target_uri string, warc_date string, "
    "content_type string, content_length long, "
    "headers map<string,string>, payload binary, "
    "reject_reason string, reject_snippet binary"
)


def _gunzip_members(buf: bytes) -> Iterator[tuple[int, bytes, str | None]]:
    """(member_offset, decompressed_bytes, error) per gzip member.

    A corrupt member yields (offset, b'', reason) and the walk resumes
    at the next gzip magic — the member boundary IS the WARC record
    boundary, so one bad record never poisons the file.
    """
    pos = 0
    n = len(buf)
    while pos < n:
        obj = zlib.decompressobj(wbits=47)
        try:
            out = obj.decompress(buf[pos:])
            if not obj.eof:
                yield pos, b"", "truncated_gzip_member"
                return
            consumed = (n - pos) - len(obj.unused_data)
            yield pos, out, None
            pos += consumed
        except zlib.error:
            nxt = buf.find(_GZ_MAGIC, pos + 2)
            yield pos, b"", "corrupt_gzip_member"
            if nxt < 0:
                return
            pos = nxt


def _parse_records(
    stream: bytes, base_offset: int, source: str
) -> Iterator[dict]:
    """Walk WARC records in a decompressed byte stream, yielding good
    and reject row dicts (unified WARC_FIELDS shape)."""
    pos = 0
    n = len(stream)
    while pos < n:
        # tolerate inter-record padding (spec: record + 2 CRLFs)
        while pos < n and stream[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        off = base_offset + pos

        def _reject(reason: str, resume: int | None = None) -> dict:
            return {
                "source_file": source,
                "record_offset": off,
                "reject_reason": reason,
                "reject_snippet": bytes(stream[pos : pos + 64]),
            }

        if not stream.startswith(b"WARC/", pos):
            yield _reject("bad_magic")
            nxt = stream.find(b"\nWARC/", pos)
            if nxt < 0:
                return
            pos = nxt + 1
            continue
        hdr_end = stream.find(b"\r\n\r\n", pos, pos + _MAX_HEADER)
        sep = 4
        if hdr_end < 0:  # tolerate bare-LF writers
            hdr_end = stream.find(b"\n\n", pos, pos + _MAX_HEADER)
            sep = 2
        if hdr_end < 0:
            yield _reject("unterminated_header_block")
            return
        lines = stream[pos:hdr_end].decode("utf-8", "replace").splitlines()
        version = lines[0].strip()
        headers: dict[str, str] = {}  # original names, for the output map
        low: dict[str, str] = {}  # lowercase → value (spec: names are
        last_key: str | None = None  # case-insensitive)
        for ln in lines[1:]:
            if ln[:1] in (" ", "\t") and last_key:  # LWS continuation fold
                headers[last_key] += " " + ln.strip()
                low[last_key.lower()] += " " + ln.strip()
                continue
            k, _, v = ln.partition(":")
            if not _:
                yield _reject("malformed_header_line")
                last_key = None
                break
            last_key = k.strip()
            headers[last_key] = v.strip()
            low[last_key.lower()] = v.strip()
        else:
            clen_s = low.get("content-length", "")
            if not version.startswith("WARC/0.") and not version.startswith(
                "WARC/1."
            ):
                yield _reject("unsupported_warc_version")
            elif not clen_s.isdigit():
                yield _reject("bad_content_length")
            elif any(h.lower() not in low for h in _REQUIRED):
                yield _reject("missing_required_header")
            else:
                clen = int(clen_s)
                body = hdr_end + sep
                if body + clen > n:
                    yield _reject("payload_truncated")
                    return
                yield {
                    "source_file": source,
                    "record_offset": off,
                    "record_id": low["warc-record-id"],
                    "warc_type": low["warc-type"].lower(),
                    "target_uri": low.get("warc-target-uri"),
                    "warc_date": low["warc-date"],
                    "content_type": low.get("content-type"),
                    "content_length": clen,
                    "headers": headers,
                    "payload": bytes(stream[body : body + clen]),
                }
                pos = body + clen
                continue
        # rejected in-stream record: resync at the next version magic
        nxt = stream.find(b"\nWARC/", pos + 1)
        if nxt < 0:
            return
        pos = nxt + 1


def parse_warc_bytes(buf: bytes, source: str) -> Iterator[dict]:
    """All rows (good + reject dicts) of one WARC file's bytes —
    gzip-multi-member or plain."""
    if buf[:2] == _GZ_MAGIC:
        for off, stream, err in _gunzip_members(buf):
            if err is not None:
                yield {
                    "source_file": source,
                    "record_offset": off,
                    "reject_reason": err,
                    "reject_snippet": bytes(buf[off : off + 64]),
                }
                continue
            yield from _parse_records(stream, off, source)
    else:
        yield from _parse_records(buf, 0, source)


def read_warc_with_rejects(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(records, rejects) over one binaryFile scan of ``path`` (a dir,
    glob, or single ``.warc[.gz]`` / ``.wet[.gz]``).

    ``records``: (source_file, record_offset, record_id, warc_type,
    target_uri, warc_date STRING — cast downstream; crawls carry both
    second- and milli-second ISO forms —, content_type, content_length,
    headers map, payload binary). ``rejects``: (source_file,
    record_offset, reject_reason, reject_snippet). Both lazy over the
    same scan; the parse is an Arrow map pass, payloads never shuffle.
    One gzip member per record means a malformed record costs exactly
    its member; plain (uncompressed) streams resync at the next
    ``WARC/`` magic.
    """
    from ..functions.arrow import map_batches

    cols = [c.split()[0] for c in WARC_FIELDS.split(", ")]

    def gen(b) -> dict:
        rows = [
            r
            for content, source in zip(b["content"], b["path"])
            for r in parse_warc_bytes(content, source)
        ]
        return {c: [r.get(c) for r in rows] for c in cols}

    parsed = map_batches(
        spark.read.format("binaryFile").load(path).select("path", "content"),
        gen,
        WARC_FIELDS,
    )
    good = parsed.filter(F.col("reject_reason").isNull()).drop(
        "reject_reason", "reject_snippet"
    )
    rejects = parsed.filter(F.col("reject_reason").isNotNull()).select(
        "source_file", "record_offset", "reject_reason", "reject_snippet"
    )
    return good, rejects


def write_warc(
    df: DataFrame,
    out_dir: str,
    uri_col: str = "target_uri",
    text_col: str = "text",
    date: str = "2024-01-01T00:00:00Z",
    gz: bool = True,
) -> int:
    """Write (uri, text) rows as ``.wet.gz``-style WARC conversion
    records, one file per partition, one gzip member per record —
    the fixture/export twin of the reader (each task streams its own
    file; nothing funnels through the driver). Returns files written."""
    import gzip
    import hashlib
    import os

    from ..functions.arrow import map_batches

    os.makedirs(out_dir, exist_ok=True)

    def _write(b) -> dict:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.wet.gz")
        with open(path, "wb") as f:
            for uri, text in zip(b[uri_col], b[text_col]):
                body = str(text).encode("utf-8")
                rid = hashlib.md5(str(uri).encode()).hexdigest()
                rec = (
                    b"WARC/1.0\r\n"
                    b"WARC-Type: conversion\r\n"
                    + f"WARC-Target-URI: {uri}\r\n".encode()
                    + f"WARC-Date: {date}\r\n".encode()
                    + f"WARC-Record-ID: <urn:uuid:{rid}>\r\n".encode()
                    + b"Content-Type: text/plain\r\n"
                    + f"Content-Length: {len(body)}\r\n\r\n".encode()
                    + body + b"\r\n\r\n"
                )
                f.write(gzip.compress(rec) if gz else rec)
        return {"files": [1]}

    # one file per non-empty partition: the kernel sees the whole
    # partition, and an empty one never runs (so writes no file)
    return map_batches(
        df.select(uri_col, text_col), _write, "files int", whole_partition=True
    ).count()
