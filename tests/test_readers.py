"""Source reader tests (SURVEY.md §7.4 hard part #1): naive-split parity
mode and proper-CSV mode must give DIFFERENT answers on the same quoted
file — both are correct for their contract; tests pin each.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.sources.readers import (
    headlines_from_naive,
    read_csv_naive,
    read_csv_proper,
    read_json,
)

QUOTED_CSV = [
    "id,headline,date,stock",
    '1,"Markets rally, tech leads",2020-01-01,MS',  # quoted comma
    "2,Simple headline,2020-01-02,GLD",
]


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines))
    return str(p)


def test_modes_diverge_on_quoted_commas(spark, tmp_path):
    path = _write(tmp_path, "quoted.csv", QUOTED_CSV)

    proper = read_csv_proper(spark, path)
    prow = proper.filter(F.col("id") == 1).first()
    # proper mode honors quotes: comma inside the field, quotes stripped
    assert prow.headline == "Markets rally, tech leads"
    # proper mode skips the header → 2 data rows
    assert proper.count() == 2

    naive = headlines_from_naive(read_csv_naive(spark, path))
    nrow = naive.filter(F.col("id") == "1").first()
    # naive mode splits inside the quotes then re-joins fields 1..n-3:
    # the quote characters SURVIVE (the reference never strips them)
    assert nrow.headline == '"Markets rally, tech leads"'
    # naive mode keeps the header line as data (>3-field guard passes)
    assert naive.count() == 3
    assert naive.filter(F.col("stock") == "stock").count() == 1


def test_naive_mode_drops_short_rows(spark, tmp_path):
    path = _write(tmp_path, "short.csv", ["1,too short", "2,a,b,c"])
    naive = headlines_from_naive(read_csv_naive(spark, path))
    assert [r.id for r in naive.collect()] == ["2"]


def test_json_reader(spark, tmp_path):
    p = tmp_path / "data.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    df = read_json(spark, str(p))
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_sink_round_trips(spark, tmp_path):
    """Partitioned parquet round-trips through its reader, lays out
    partition directories, and the partition filter is pruned at the
    scan (PartitionFilters), not applied post-read; JSON-lines and
    header CSV round-trip through their readers."""
    import io
    import os
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.sources.readers import read_csv_proper
    from mapreduce_stockheadlines_spark.sources.sinks import write_parquet

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "y")], "id long, v string, p string"
    )
    rows = sorted((r.id, r.v, r.p) for r in df.collect())

    pq = str(tmp_path / "pq")
    write_parquet(df, pq, partition_by=["p"])
    assert sorted(d for d in os.listdir(pq) if d.startswith("p=")) == ["p=x", "p=y"]
    back = spark.read.parquet(pq).select("id", "v", "p")
    assert sorted((r.id, r.v, r.p) for r in back.collect()) == rows
    pruned = spark.read.parquet(pq).filter(F.col("p") == "y")
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan and "p=" not in plan.split("Location")[0]
    assert pruned.count() == 2

    js = str(tmp_path / "js")
    df.write.json(js)
    back = read_json(spark, js).select("id", "v", "p")
    assert sorted((r.id, r.v, r.p) for r in back.collect()) == rows

    cs = str(tmp_path / "cs")
    df.write.option("header", "true").csv(cs)
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("p", T.StringType()),
        ]
    )
    back = read_csv_proper(spark, cs, schema=schema)
    assert sorted((r.id, r.v, r.p) for r in back.collect()) == rows


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC round-trips and its scan takes predicate pushdown like parquet."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.sources.readers import read_orc
    from mapreduce_stockheadlines_spark.sources.sinks import write_orc

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "y")], "id long, v string, p string"
    )
    oc = str(tmp_path / "oc")
    write_orc(df, oc, partition_by=["p"])
    back = read_orc(spark, oc)
    assert sorted((r.id, r.v, r.p) for r in back.collect()) == sorted(
        (r.id, r.v, r.p) for r in df.collect()
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        read_orc(spark, oc).filter((F.col("p") == "y") & (F.col("id") > 1)).explain(
            "formatted"
        )
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    assert "PushedFilters: [" in plan and "GreaterThan(id,1)" in plan


def test_csv_parse_modes(spark, tmp_path):
    """PERMISSIVE captures malformed rows in a quarantine column,
    DROPMALFORMED silently drops them, FAILFAST raises."""
    import pyspark.sql.types as T

    from mapreduce_stockheadlines_spark.sources.readers import read_csv_proper

    p = tmp_path / "rows.csv"
    p.write_text("id,n\n1,10\n2,not_a_number\n3,30\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("n", T.LongType())]
    )

    cap = read_csv_proper(
        spark, str(p), schema=schema, corrupt_col="_corrupt"
    ).collect()
    by_id = {r.id: r for r in cap}
    assert by_id[1].n == 10 and by_id[1]._corrupt is None
    assert by_id[2].n is None and by_id[2]._corrupt == "2,not_a_number"
    assert by_id[3].n == 30

    dropped = read_csv_proper(
        spark, str(p), schema=schema, mode="DROPMALFORMED"
    ).collect()
    assert sorted(r.id for r in dropped) == [1, 3]

    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_csv_proper(spark, str(p), schema=schema, mode="FAILFAST").collect()


def test_clustered_write_enables_file_skipping(spark, tmp_path):
    """write_clustered must produce files whose footer min/max ranges of
    the cluster column are (near-)disjoint — the property file-level data
    skipping needs — and a selective filter must be pushed to the scan."""
    import glob
    import io
    from contextlib import redirect_stdout

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.sources.sinks import write_clustered

    df = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    out = str(tmp_path / "clustered")
    write_clustered(df, out, "id", num_files=8)

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # id is the first column
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 8
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: a range predicate prunes whole files

    buf = io.StringIO()
    with redirect_stdout(buf):
        spark.read.parquet(out).filter(F.col("id") < 100).explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(id), LessThan(id,100)]" in plan


def test_convert_job_csv_to_partitioned_parquet(spark, tmp_path):
    from mapreduce_stockheadlines_spark.jobs.convert import convert

    src = tmp_path / "in.csv"
    src.write_text("id,grp,v\n1,a,x\n2,b,y\n3,a,z\n")
    out = str(tmp_path / "out_pq")
    convert(spark, str(src), out, in_format="csv", partition_by="grp")
    back = spark.read.parquet(out)
    assert sorted((r.id, r.grp, r.v) for r in back.collect()) == [
        (1, "a", "x"), (2, "b", "y"), (3, "a", "z"),
    ]
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("grp=")) == [
        "grp=a", "grp=b",
    ]

    out2 = str(tmp_path / "out_orc")
    convert(spark, str(src), out2, in_format="csv", out_format="orc")
    assert spark.read.orc(out2).count() == 3


def test_partitioned_sized_write_bounds_files_per_dir(spark, tmp_path):
    """Every partition directory gets at most files_per_partition parquet
    files in one write (no post-hoc compaction), and content round-trips."""
    import glob

    from mapreduce_stockheadlines_spark.sources.sinks import (
        write_parquet_partitioned_sized,
    )

    df = spark.range(1000).select(
        (F.col("id") % 5).alias("day"), F.col("id").alias("v")
    )
    dst = str(tmp_path / "sized")
    write_parquet_partitioned_sized(
        df, dst, partition_by=["day"], files_per_partition=2, key="v"
    )
    day_dirs = glob.glob(f"{dst}/day=*")
    assert len(day_dirs) == 5
    for d in day_dirs:
        n = len(glob.glob(f"{d}/*.parquet"))
        assert 1 <= n <= 2, f"{d} has {n} files"
    back = spark.read.parquet(dst)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == 1000 * 999 // 2

    # files_per_partition=1 → exactly one file per directory
    dst1 = str(tmp_path / "sized1")
    write_parquet_partitioned_sized(
        df, dst1, partition_by=["day"], files_per_partition=1
    )
    for d in glob.glob(f"{dst1}/day=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1


def _warc_record(wtype, rid, uri, payload: bytes, extra=()):
    h = [
        b"WARC/1.0",
        b"WARC-Type: " + wtype.encode(),
        b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">",
        b"WARC-Date: 2024-06-01T00:00:00Z",
    ]
    if uri:
        h.append(b"WARC-Target-URI: " + uri.encode())
    h.extend(extra)
    h.append(b"Content-Length: " + str(len(payload)).encode())
    return b"\r\n".join(h) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _http_payload(body: bytes, status=b"200 OK"):
    return (
        b"HTTP/1.1 " + status + b"\r\nContent-Type: text/html\r\n"
        b"X-Junk: framing\r\n\r\n" + body
    )


def _write_warc_fixture(tmp_path):
    """Two files — one plain, one gzip — with response (HTTP-framed,
    incl. invalid UTF-8 and a 404), conversion (WET-style plain text),
    and warcinfo records."""
    import gzip

    f1 = (
        _warc_record("warcinfo", "info1", "", b"software: test\r\n")
        + _warc_record(
            "response", "r1", "http://example.com/a",
            _http_payload(b"<html><body>Alpha doc body</body></html>"),
            extra=[b"Content-Type: application/http; msgtype=response"],
        )
        + _warc_record(
            "conversion", "c1", "http://example.com/b",
            b"Plain extracted text of doc b",
            extra=[b"Content-Type: text/plain"],
        )
    )
    f2 = _warc_record(
        "response", "r2", "http://example.com/c",
        _http_payload(b"Not found", status=b"404 Not Found"),
        extra=[b"Content-Type: application/http; msgtype=response"],
    ) + _warc_record(
        "response", "r3", "http://example.com/d",
        _http_payload(b"bytes \xff\xfe invalid utf8"),
        extra=[b"Content-Type: application/http; msgtype=response"],
    )
    (tmp_path / "seg1.warc").write_bytes(f1)
    with gzip.open(tmp_path / "seg2.warc.gz", "wb") as f:
        f.write(f2)
    return str(tmp_path)


def test_warc_datasource_reads_both_formats(spark, tmp_path):
    """WARC connector: plain + gzip files, one partition per file,
    HTTP framing stripped with status extracted, type filter."""
    from mapreduce_stockheadlines_spark.sources import warc as W

    d = _write_warc_fixture(tmp_path)
    W.register(spark)
    df = spark.read.format("warc").option("path", d).load()
    rows = {r.record_id: r for r in df.collect()}
    assert len(rows) == 5
    # file-granular partition planning (the gzip split constraint)
    assert df.rdd.getNumPartitions() == 2
    r1 = rows["<urn:uuid:r1>"]
    assert r1.warc_type == "response"
    assert r1.http_status == 200
    assert bytes(r1.payload) == b"<html><body>Alpha doc body</body></html>"
    assert r1.target_uri == "http://example.com/a"
    assert rows["<urn:uuid:r2>"].http_status == 404
    # conversion/warcinfo records carry no HTTP framing: status NULL
    assert rows["<urn:uuid:c1>"].http_status is None
    assert bytes(rows["<urn:uuid:c1>"].payload) == b"Plain extracted text of doc b"
    # record offsets are distinct, strictly increasing per file
    offs = sorted(
        r.record_offset for r in rows.values() if r.file == "seg1.warc"
    )
    assert len(offs) == 3 and len(set(offs)) == 3 and offs[0] == 0
    # type filter pushes into the reader task
    only_resp = (
        spark.read.format("warc").option("path", d)
        .option("recordTypes", "response").load()
    )
    assert {r.warc_type for r in only_resp.collect()} == {"response"}
    assert only_resp.count() == 3


def test_warc_text_docs_bridge(spark, tmp_path):
    """warc_text_docs yields curate()-ready (doc_id, url, text): HTTP
    headers gone, bytes decoded with replacement, warcinfo excluded."""
    from mapreduce_stockheadlines_spark.sources.warc import warc_text_docs

    d = _write_warc_fixture(tmp_path)
    docs = warc_text_docs(spark, d)
    rows = {r.doc_id: r for r in docs.collect()}
    assert set(rows) == {
        "<urn:uuid:r1>", "<urn:uuid:c1>", "<urn:uuid:r2>", "<urn:uuid:r3>"
    }
    assert rows["<urn:uuid:r1>"].text == "<html><body>Alpha doc body</body></html>"
    assert rows["<urn:uuid:c1>"].text == "Plain extracted text of doc b"
    assert rows["<urn:uuid:c1>"].url == "http://example.com/b"
    # invalid UTF-8 decodes with replacement, never throws
    assert "invalid utf8" in rows["<urn:uuid:r3>"].text


def test_warc_truncated_record_raises(spark, tmp_path):
    """A record whose payload is cut off must fail loudly — silently
    yielding a short payload would desynchronize later records."""
    import pytest as _pytest

    from mapreduce_stockheadlines_spark.sources.warc import iter_warc_records

    bad = _warc_record("response", "t1", "http://x/", b"full payload")
    (tmp_path / "trunc.warc").write_bytes(bad[:-16])  # cut into payload
    with _pytest.raises(Exception, match="truncated"):
        list(iter_warc_records(str(tmp_path / "trunc.warc")))


def test_warc_max_bytes_per_file_fails_loudly(spark, tmp_path):
    """VERDICT r5 #9: gzip forbids mid-stream splits, so an oversized
    segment would silently serialize on one task — maxBytesPerFile
    names the offender at plan time instead; default (0) stays
    permissive."""
    import pytest as _pytest

    from mapreduce_stockheadlines_spark.sources import warc as W

    d = _write_warc_fixture(tmp_path)
    W.register(spark)
    small = (
        spark.read.format("warc").option("path", d)
        .option("maxBytesPerFile", "64").load()
    )
    with _pytest.raises(Exception, match="maxBytesPerFile"):
        small.collect()
    # a generous cap (and the default) both pass
    ok = (
        spark.read.format("warc").option("path", d)
        .option("maxBytesPerFile", str(1 << 20)).load()
    )
    assert ok.count() == 5


def test_warc_to_curate_end_to_end(spark, tmp_path):
    """The full Common Crawl story: WARC files → warc_text_docs →
    strip_html → curate() gates; the HTML response body and the WET
    conversion text both come out as curated docs, the 404 page fails
    the quality/lang gates or dedups away without crashing anything."""
    import gzip as _gzip

    from mapreduce_stockheadlines_spark.jobs.pipeline import curate
    from mapreduce_stockheadlines_spark.operators import textstats as TS
    from mapreduce_stockheadlines_spark.sources.warc import warc_text_docs

    body = (
        b"<html><head><title>t</title><script>var x=1;</script></head>"
        b"<body><p>The quick brown fox jumps over the lazy dog and "
        b"then the fox runs into the quiet forest before the rain "
        b"begins to fall on the hills</p></body></html>"
    )
    wet_text = (
        b"A completely different article about the markets and the "
        b"economy with enough plain words to pass the quality gates "
        b"in this small corpus of ours today"
    )
    warc = _warc_record(
        "response", "w1", "http://site-a.example/page",
        _http_payload(body),
        extra=[b"Content-Type: application/http; msgtype=response"],
    ) + _warc_record(
        "response", "w2", "http://site-b.example/err",
        _http_payload(b"Not found", status=b"404 Not Found"),
        extra=[b"Content-Type: application/http; msgtype=response"],
    )
    with _gzip.open(tmp_path / "crawl.warc.gz", "wb") as f:
        f.write(warc)
    (tmp_path / "crawl2.wet").write_bytes(
        _warc_record(
            "conversion", "w3", "http://site-c.example/art", wet_text,
            extra=[b"Content-Type: text/plain"],
        )
    )
    docs = warc_text_docs(spark, str(tmp_path)).withColumn(
        "text", TS.strip_html("text")
    )
    out = curate(docs, lang="en", min_quality=0.3, jaccard_threshold=0.8)
    texts = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    assert "<urn:uuid:w1>" in texts and "<urn:uuid:w3>" in texts
    t1 = texts["<urn:uuid:w1>"]
    assert "quick brown fox" in t1
    assert "<" not in t1 and "var x" not in t1  # markup + script gone
    assert "<urn:uuid:w2>" not in texts  # 'Not found' fails the gates


def test_pipeline_cli_warc_input(spark, tmp_path):
    """--warc-dir: the curate CLI runs straight off WARC segments —
    numeric ids derived from record ids, markup stripped, output
    parquet written with the record id preserved."""
    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    land = tmp_path / "segs"
    land.mkdir()
    body = (
        b"<html><body><p>The quick brown fox jumps over the lazy dog "
        b"and then the fox runs into the quiet forest before the rain "
        b"begins to fall on the green hills</p></body></html>"
    )
    (land / "seg-1.warc").write_bytes(
        _warc_record(
            "response", "p1", "http://site.example/a", _http_payload(body),
            extra=[b"Content-Type: application/http; msgtype=response"],
        )
        + _warc_record(
            "conversion", "p2", "http://site.example/b",
            b"A different article about the markets and the economy with "
            b"enough plain words to pass the quality gates in this corpus",
            extra=[b"Content-Type: text/plain"],
        )
    )
    out = str(tmp_path / "out")
    main([out, "--warc-dir", str(land), "--min-quality", "0.2"])
    got = spark.read.parquet(out)
    rows = {r.record_id: r for r in got.collect()}
    assert set(rows) == {"<urn:uuid:p1>", "<urn:uuid:p2>"}
    assert all(isinstance(r.doc_id, int) for r in rows.values())
    assert "quick brown fox" in rows["<urn:uuid:p1>"].text
    assert "<" not in rows["<urn:uuid:p1>"].text


def test_warc_text_docs_require_http_ok(spark, tmp_path):
    """require_http_ok drops non-2xx response bodies at the scan;
    statusless (WET conversion) records always pass."""
    from mapreduce_stockheadlines_spark.sources.warc import warc_text_docs

    d = _write_warc_fixture(tmp_path)
    docs = warc_text_docs(spark, d, require_http_ok=True)
    ids = {r.doc_id for r in docs.collect()}
    assert "<urn:uuid:r2>" not in ids  # the 404
    assert {"<urn:uuid:r1>", "<urn:uuid:c1>", "<urn:uuid:r3>"} <= ids


def test_warc_http_split_lf_headers_with_crlf_body(spark, tmp_path):
    """LF-framed HTTP headers over a body containing CRLFCRLF must split
    at the EARLIEST blank line — the body stays intact."""
    from mapreduce_stockheadlines_spark.sources.warc import (
        _split_http_payload,
    )

    payload = (
        b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\n"
        b"part one\r\n\r\npart two"
    )
    status, body = _split_http_payload(payload)
    assert status == 200
    assert body == b"part one\r\n\r\npart two"


def test_warc_text_docs_missing_record_id_gets_synthetic_id(spark, tmp_path):
    """A record without WARC-Record-ID still gets a (file, offset) doc
    id — NULL ids would silently vanish at the first equi-join."""
    from mapreduce_stockheadlines_spark.sources.warc import warc_text_docs

    raw = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Date: 2024-06-01T00:00:00Z\r\n"
        b"Content-Type: text/plain\r\nContent-Length: 8\r\n\r\n"
        b"payload!\r\n\r\n"
    )
    (tmp_path / "noid.warc").write_bytes(raw)
    rows = warc_text_docs(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].doc_id == "noid.warc:0"
    assert rows[0].text == "payload!"


def test_pipeline_cli_warc_dedup_urls(spark, tmp_path):
    """--warc-dir --dedup-urls: two fetches of one page differing only
    by tracking decoration collapse to the min-id record before content
    dedup ever runs."""
    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    land = tmp_path / "segs"
    land.mkdir()
    body = (
        b"A perfectly ordinary article about the markets and the "
        b"economy with enough plain words to pass the quality gates"
    )
    (land / "seg-1.warc").write_bytes(
        _warc_record(
            "conversion", "f1", "http://site.example/a?utm_source=feed",
            body, extra=[b"Content-Type: text/plain"],
        )
        + _warc_record(
            "conversion", "f2", "HTTP://SITE.example:80/a#frag",
            body + b" refetched slightly later", extra=[b"Content-Type: text/plain"],
        )
        + _warc_record(
            "conversion", "f3", "http://site.example/b",
            b"A different page about the weather and the sports news "
            b"of the day with other words in it", extra=[b"Content-Type: text/plain"],
        )
    )
    out = str(tmp_path / "out")
    main([out, "--warc-dir", str(land), "--dedup-urls", "--min-quality", "0.2"])
    got = {r.record_id for r in spark.read.parquet(out).collect()}
    # f1/f2 share a canonical URL -> one survivor; f3 untouched
    assert len(got & {"<urn:uuid:f1>", "<urn:uuid:f2>"}) == 1
    assert "<urn:uuid:f3>" in got
