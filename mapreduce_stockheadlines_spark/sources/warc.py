"""WARC ingestion (ISO 28500) as a Spark 4 Python DataSource — the
Common Crawl on-ramp for the curation pipeline.

Web-scale training corpora start life as WARC: Common Crawl publishes
~1 GB ``.warc.gz`` / ``.wet.gz`` segments by the tens of thousands.
Spark has no built-in WARC reader, and the format is not
line-delimited, so ``spark.read.text`` cannot frame it; the Python
DataSource API is the idiomatic extension point.

Scale design (100 TB): parallelism is planned at FILE granularity —
one ``InputPartition`` per WARC file. Gzipped WARCs are not
byte-range-splittable (each record boundary is only discoverable by
decompressing from the start), and Common Crawl's answer is many
bounded files rather than few huge ones, so per-file fan-out IS the
scale path: 64 k segments → 64 k independent tasks, no driver funnel,
no shuffle. Records stream through a constant-memory parser (header
block + ``Content-Length`` framed payload — never a whole-file read),
and the HTTP-header split is done at read time so downstream operators
see payload bytes, not wire framing.

Files are opened with plain ``open``/``gzip.open`` on the executor, so
paths must be executor-visible (local[...] or a shared mount) — the
same storage note as the JSONL manifest sink; an object-store
deployment swaps the ``open`` for an fsspec stream, the framing logic
is unchanged.
"""

from __future__ import annotations

import glob as _glob
import gzip
import os
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

SCHEMA = (
    "file string, record_offset long, warc_type string, "
    "record_id string, warc_date string, target_uri string, "
    "content_type string, content_length long, http_status int, "
    "payload binary"
)

_MAX_HEADER_BYTES = 1 << 20  # a sane cap: no conformant header block is 1 MB


def _read_headers(f) -> tuple[dict[str, str], bool]:
    """Read a CRLF(/LF)-delimited header block up to the blank line.
    Returns ({lowercased-name: value}, saw_any_line). Constant memory;
    raises on a runaway block (corrupt framing would otherwise make the
    'header' swallow the whole file)."""
    headers: dict[str, str] = {}
    seen = False
    total = 0
    last = None
    while True:
        line = f.readline()
        if not line:  # EOF inside a header block
            return headers, seen
        total += len(line)
        if total > _MAX_HEADER_BYTES:
            raise ValueError("WARC header block exceeds 1 MB — corrupt framing")
        line = line.rstrip(b"\r\n")
        if not line:
            return headers, seen
        seen = True
        if line[:1] in (b" ", b"\t") and last is not None:
            # RFC 822 continuation line
            headers[last] += " " + line.strip().decode("utf-8", "replace")
            continue
        name, sep, value = line.partition(b":")
        if sep:
            last = name.strip().decode("utf-8", "replace").lower()
            headers[last] = value.strip().decode("utf-8", "replace")
    # unreachable


def _split_http_payload(payload: bytes) -> tuple[int | None, bytes]:
    """For ``application/http`` records, split the HTTP response framing
    from the body: returns (status_code, body). Non-HTTP payloads (or
    unparsable framing) come back as (None, payload) unchanged."""
    if not payload.startswith(b"HTTP/"):
        return None, payload
    # the EARLIEST of the two blank-line forms is the header/body
    # boundary: LF-framed headers over a body that happens to contain
    # CRLFCRLF must not split inside the body
    cands = [
        (payload.find(sep), sep) for sep in (b"\r\n\r\n", b"\n\n")
    ]
    cands = [(i, sep) for i, sep in cands if i >= 0]
    if not cands:
        return None, payload
    idx, sep = min(cands)
    head, body = payload[:idx], payload[idx + len(sep):]
    status_line = head.split(b"\n", 1)[0].split()
    try:
        status = int(status_line[1])
    except (IndexError, ValueError):
        return None, payload
    return status, body


def iter_warc_records(
    path: str,
) -> Iterator[tuple[int, dict[str, str], bytes]]:
    """Stream (record_offset, headers, payload) from one WARC file
    (gzip-transparent; multi-member gzip — the Common Crawl layout of
    one gzip member per record — decompresses as one stream under
    Python's gzip). Offsets are positions in the DECOMPRESSED stream.
    Tolerates LF-only framing and stray inter-record blank lines;
    raises on a record missing Content-Length (unframeable — skipping
    silently would desynchronize every later record)."""
    opener = gzip.open if path.endswith(".gz") else open
    offset = 0
    with opener(path, "rb") as f:
        while True:
            # seek the next version line, skipping inter-record padding
            while True:
                start = offset
                line = f.readline()
                if not line:
                    return
                offset += len(line)
                if line.rstrip(b"\r\n").startswith(b"WARC/"):
                    break
                if line.strip():
                    raise ValueError(
                        f"{path}: expected WARC/ version line at "
                        f"offset {start}, got {line[:40]!r}"
                    )
            pos_before = f.tell()
            headers, _ = _read_headers(f)
            offset += f.tell() - pos_before
            if "content-length" not in headers:
                raise ValueError(
                    f"{path}: record at offset {start} has no "
                    "Content-Length — cannot frame"
                )
            n = int(headers["content-length"])
            payload = f.read(n)
            if len(payload) != n:
                raise ValueError(
                    f"{path}: truncated record at offset {start} "
                    f"(wanted {n} payload bytes, got {len(payload)})"
                )
            offset += n
            yield start, headers, payload


class _WarcFile(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _check_file_sizes(files: list[str], max_bytes: int) -> None:
    """Loud-fail oversized segments (``maxBytesPerFile`` option).

    gzip admits no mid-stream split, so one WARC file == one task: a
    pathological single 100 GB segment SERIALIZES on one core however
    many executors exist. The Common Crawl contract (segments bounded
    ~1 GB) is what makes per-file fan-out the scale path; this cap
    turns a violated contract into a named diagnosis instead of a
    silently-straggling stage. 0 (default) disables the check; sizes
    are on-disk (compressed) bytes — the unit the contract bounds."""
    if max_bytes <= 0:
        return
    big = [
        (p, sz)
        for p in files
        if os.path.exists(p) and (sz := os.path.getsize(p)) > max_bytes
    ]
    if big:
        worst = ", ".join(f"{p} ({sz} B)" for p, sz in big[:5])
        raise ValueError(
            f"warc source: {len(big)} file(s) exceed maxBytesPerFile="
            f"{max_bytes} and would serialize on one task (gzip cannot "
            f"be split mid-stream): {worst}. Re-shard the segments or "
            "raise the cap."
        )


class WarcReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("warc source requires a path")
        if os.path.isdir(path):
            pats = [os.path.join(path, "*.warc"), os.path.join(path, "*.warc.gz"),
                    os.path.join(path, "*.wet"), os.path.join(path, "*.wet.gz")]
            self.files = sorted(p for pat in pats for p in _glob.glob(pat))
        else:
            self.files = sorted(_glob.glob(path)) or [path]
        types = options.get("recordTypes", "")
        self.record_types = {
            t.strip().lower() for t in types.split(",") if t.strip()
        }
        self.strip_http = (
            str(options.get("stripHttpHeaders", "true")).lower() == "true"
        )
        self.max_bytes_per_file = int(options.get("maxBytesPerFile", 0))

    def partitions(self) -> list[InputPartition]:
        """One task per WARC file — the gzip-imposed split granularity
        (a gzip stream cannot be entered mid-member, so a single
        oversized segment serializes on one core; set
        ``maxBytesPerFile`` to fail loudly on contract-violating
        inputs). Common Crawl-scale inputs are many bounded ~1 GB
        files, so this IS full fan-out with zero driver involvement
        past listing."""
        _check_file_sizes(self.files, self.max_bytes_per_file)
        return [_WarcFile(p) for p in self.files]

    def read(self, partition: _WarcFile) -> Iterator[tuple]:
        yield from _warc_rows(
            partition.path, self.record_types, self.strip_http
        )


class WarcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> WarcReader:
        return WarcReader(self.options)


def register(spark) -> None:
    """Idempotent registration: ``spark.read.format('warc')``."""
    spark.dataSource.register(WarcDataSource)


def warc_text_docs(
    spark,
    path: str,
    require_http_ok: bool = False,
):
    """The WARC → curate() bridge: one row per text-bearing record
    (``response`` and WET ``conversion`` records) with
    (doc_id, url, fetch_date, text) — record ids as doc ids, HTTP
    framing stripped (done record-locally in the reader task), payload
    decoded as UTF-8 with replacement. Markup survives; chain
    ``textstats.strip_html``/quality gates downstream — decode is the
    only step that belongs to ingestion. ``require_http_ok=True`` drops
    response records with a non-2xx status at the scan (a 404 body is
    never trainable prose — cheaper to cut here than to make the
    quality gates recognize every error page); records with no HTTP
    framing (WET conversions) carry no status and always pass."""
    from pyspark.sql import functions as F

    register(spark)
    df = (
        spark.read.format("warc")
        .option("path", path)
        .option("recordTypes", "response,conversion")
        .load()
    )
    if require_http_ok:
        df = df.filter(
            F.col("http_status").isNull()
            | F.col("http_status").between(200, 299)
        )
    return df.select(
        # non-conformant records can lack WARC-Record-ID; (file, offset)
        # is always present and unique, so no record ever gets a NULL
        # doc id (NULL keys silently vanish at the first equi-join)
        F.coalesce(
            F.col("record_id"),
            F.concat_ws(":", F.col("file"), F.col("record_offset")),
        ).alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetch_date"),
        # decode() is ANSI-strict in Spark 4 (MALFORMED_CHARACTER_CODING
        # on real-web bytes); the binary->string cast reinterprets raw
        # bytes and make_valid_utf8 then substitutes U+FFFD — the
        # lossy-decode semantics ingestion needs
        F.make_valid_utf8(F.col("payload").cast("string")).alias("text"),
    )


def _warc_rows(path: str, record_types: set[str], strip_http: bool):
    """One row per WARC record of ``path`` whose type is selected."""
    fname = os.path.basename(path)
    for off, h, payload in iter_warc_records(path):
        wtype = h.get("warc-type", "").lower()
        if record_types and wtype not in record_types:
            continue
        status = None
        ctype = h.get("content-type", "")
        if strip_http and ctype.startswith("application/http"):
            status, payload = _split_http_payload(payload)
        yield (
            fname, off, wtype, h.get("warc-record-id"), h.get("warc-date"),
            h.get("warc-target-uri"), ctype, int(h["content-length"]),
            status, payload,
        )
