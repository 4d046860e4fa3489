"""WARC (Web ARChive, ISO 28500) source — the Common Crawl ingestion
front-end of an LLM training-data pipeline, pure stdlib (gzip, email-
style header parsing by hand).

Format (published spec; also the layout Common Crawl ships): a WARC
file is a sequence of records —

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Target-URI: http://...\\r\\n
    WARC-Date: 2024-01-01T00:00:00Z\\r\\n
    Content-Type: application/http; msgtype=response\\r\\n
    Content-Length: N\\r\\n
    \\r\\n
    <N payload bytes>\\r\\n\\r\\n

`.warc.gz` files are CONCATENATED GZIP MEMBERS (typically one per
record) — Python's gzip transparently reads member sequences, so one
pass decompresses the whole stream. `application/http` response
payloads carry the HTTP response head before the body; `read_warc`
strips it and surfaces the body plus the HTTP Content-Type.

Scale shape: Common Crawl partitions into thousands of ~1 GB files —
file-level parallelism IS the real-world partitioning, so `read_warc`
fans one Spark task per file (mapInPandas over the file list, module
shipped by value for external-driver workers, exactly like
sources/avro_io). The writer exists to STAGE conformant archives for
tests and the registered queries.
"""

from __future__ import annotations

import glob as _glob
import gzip as _gzip
import io
import os
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


class WarcError(Exception):
    pass


# ---------------------------------------------------------------------------
# record-level codec (pure functions — shipped by value into executors)
# ---------------------------------------------------------------------------


def parse_warc_stream(data: bytes):
    """Yield records from a (possibly gzipped) WARC byte stream as
    dicts: {type, url, date, content_type, payload}. Tolerates the
    optional \\r\\n\\r\\n record separators; raises WarcError on a
    malformed header block or short payload."""
    if data[:2] == b"\x1f\x8b":
        data = _gzip.decompress(data)  # concatenated members handled
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise WarcError("EOF inside WARC header block")
        head = data[pos:head_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise WarcError(f"bad WARC version line {lines[0]!r}")
        fields: dict[str, str] = {}
        for line in lines[1:]:
            k, sep, v = line.partition(":")
            if not sep:
                raise WarcError(f"malformed WARC header line {line!r}")
            fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields["content-length"])
        except (KeyError, ValueError) as exc:
            raise WarcError("missing/invalid Content-Length") from exc
        body_start = head_end + 4
        if body_start + length > n:
            raise WarcError("EOF inside WARC payload")
        yield {
            "type": fields.get("warc-type", ""),
            "url": fields.get("warc-target-uri"),
            "date": fields.get("warc-date"),
            "content_type": fields.get("content-type", ""),
            "payload": data[body_start : body_start + length],
        }
        pos = body_start + length


def split_http_response(payload: bytes) -> tuple[str, bytes]:
    """Split an application/http response payload into (the HTTP
    Content-Type header value, body). A payload without a header
    terminator is returned whole with an empty content type."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return "", payload
    ctype = ""
    for line in payload[:sep].decode("utf-8", errors="replace").split("\r\n"):
        k, s, v = line.partition(":")
        if s and k.strip().lower() == "content-type":
            ctype = v.strip()
    return ctype, payload[sep + 4 :]


def _encode_record(rec: dict) -> bytes:
    payload = rec["payload"]
    head = [
        "WARC/1.0",
        f"WARC-Type: {rec.get('type', 'response')}",
        f"WARC-Record-ID: <urn:uuid:{rec.get('record_id', _uuid.uuid4())}>",
        f"WARC-Date: {rec.get('date', '2024-01-01T00:00:00Z')}",
    ]
    if rec.get("url"):
        head.append(f"WARC-Target-URI: {rec['url']}")
    head.append(f"Content-Type: {rec.get('content_type', 'application/http; msgtype=response')}")
    head.append(f"Content-Length: {len(payload)}")
    return (
        "\r\n".join(head).encode("utf-8")
        + b"\r\n\r\n"
        + payload
        + b"\r\n\r\n"
    )


def http_response_payload(body: bytes, content_type: str = "text/html") -> bytes:
    """Wrap a body in a minimal HTTP/1.1 response head (what a
    `response` record's application/http payload looks like)."""
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("utf-8") + body


def write_warc(path: str, records: list[dict], compress: bool = True) -> None:
    """Stage a WARC file ('.gz' → one gzip member per record, the
    Common Crawl layout). Each record: {type?, url?, date?,
    content_type?, payload}."""
    with open(path, "wb") as fh:
        for rec in records:
            raw = _encode_record(rec)
            if compress:
                buf = io.BytesIO()
                with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                    gz.write(raw)
                fh.write(buf.getvalue())
            else:
                fh.write(raw)


def write_warc_dir(df: DataFrame, path: str, compress: bool = True) -> None:
    """Write (url string, body binary) rows as a directory of WARC
    response archives — one file per non-empty partition, written from
    the EXECUTORS (foreachPartition, like sources/avro_io): staging
    web archives is embarrassingly parallel and never routes data
    through the driver."""
    import sys

    from pyspark import cloudpickle

    try:
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover
        pass
    os.makedirs(path, exist_ok=True)
    ext = ".warc.gz" if compress else ".warc"
    wrap, write = http_response_payload, write_warc

    def dump(rows) -> None:
        records = [
            {"url": r["url"], "payload": wrap(bytes(r["body"]))} for r in rows
        ]
        if records:
            write(
                os.path.join(path, f"part-{_uuid.uuid4().hex}{ext}"),
                records,
                compress=compress,
            )

    df.select("url", "body").foreachPartition(dump)


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------

_SCHEMA = (
    "warc_file string, record_type string, url string, warc_date string, "
    "http_content_type string, body binary"
)


def read_warc(
    spark: SparkSession, path: str, record_types: tuple[str, ...] = ("response",)
) -> DataFrame:
    """Read WARC file(s) (a file, directory, or glob) into
    (warc_file, record_type, url, warc_date, http_content_type, body).
    One Spark task per file — Common Crawl's real-world parallelism;
    application/http response payloads are split so `body` is the HTTP
    body and `http_content_type` the served type."""
    import sys

    from pyspark import cloudpickle

    try:
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover — same-cwd runs work anyway
        pass
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if ".warc" in f
        )
    elif os.path.isfile(path):
        files = [path]
    else:
        files = sorted(_glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no WARC files at {path}")
    wanted = set(record_types)
    parse, split = parse_warc_stream, split_http_response

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            for fp in pdf["path"]:
                rows = {k: [] for k in (
                    "warc_file", "record_type", "url", "warc_date",
                    "http_content_type", "body",
                )}
                with open(fp, "rb") as fh:
                    data = fh.read()
                for rec in parse(data):
                    if wanted and rec["type"] not in wanted:
                        continue
                    ctype, body = (
                        split(rec["payload"])
                        if rec["content_type"].startswith("application/http")
                        else (rec["content_type"], rec["payload"])
                    )
                    rows["warc_file"].append(os.path.basename(fp))
                    rows["record_type"].append(rec["type"])
                    rows["url"].append(rec["url"])
                    rows["warc_date"].append(rec["date"])
                    rows["http_content_type"].append(ctype)
                    rows["body"].append(body)
                yield pd.DataFrame(rows)

    file_df = local_frame(
        spark,
        [(f,) for f in files], "path string"
    ).repartition(len(files))
    return file_df.mapInPandas(scan, _SCHEMA)
