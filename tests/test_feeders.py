"""Source/feeder tests against small golden fixtures — the analogue of
the reference's tests/test_feeders.py:31-80 (CSV columns + skip, JSON
object-or-array, NDJSON with bad-line quarantine)."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from chomper_spark.sources import feeders as fd


def test_list_feeder(spark):
    df = fd.list_feeder(
        spark,
        [{"name": "Frank", "age": 29}, {"name": "Stacy", "age": 26}],
        schema="name string, age int",
    )
    assert df.count() == 2 and set(df.columns) == {"name", "age"}


def test_csv_feeder_user_columns_and_skip(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("SKIP ME,header junk\nFrank,29\nStacy,26\nJohn,33\n")
    df = fd.csv_feeder(
        spark, str(p), columns=["name", "age"],
        schema="name string, age string", skip=1,
    )
    rows = {r["name"]: r["age"] for r in df.collect()}
    # like the reference, CSV values are strings unless a schema says otherwise
    # (tests/test_feeders.py:38 asserts item1.age == '32')
    assert rows == {"Frank": "29", "Stacy": "26", "John": "33"}


def test_csv_feeder_drops_malformed_rows(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("Frank,29\nbadrow,NOT_AN_INT\nStacy,26\n")
    df = fd.csv_feeder(
        spark, str(p), columns=["name", "age"],
        schema=T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("age", T.IntegerType())]
        ),
        drop_malformed=True,
    )
    # NB: len(collect()), not count() — count() prunes every column, so
    # nothing is parsed and DROPMALFORMED has nothing to drop.
    assert len(df.collect()) == 2  # ItemNotImportable ≙ DROPMALFORMED


def test_json_feeder_array_document(spark, tmp_path):
    p = tmp_path / "data.json"
    p.write_text(json.dumps([{"name": "Frank", "age": 29}, {"name": "Stacy", "age": 26}]))
    df = fd.json_feeder(spark, str(p))
    assert df.count() == 2


def test_jsonlines_feeder_quarantines_bad_lines(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text('{"name": "Frank", "age": 29}\nnot json at all\n{"name": "Stacy", "age": 26}\n')
    schema = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("age", T.LongType())]
    )
    df = fd.jsonlines_feeder(spark, str(p), schema=schema, corrupt_col="_corrupt")
    rows = df.collect()
    good = [r for r in rows if r["_corrupt"] is None]
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(good) == 2 and len(bad) == 1


def test_table_and_query_feeder(spark):
    df = fd.table_feeder(spark, "/root/testdata/sf0.001/region.parquet")
    df.createOrReplaceTempView("region_v")
    out = fd.query_feeder(spark, "SELECT count(*) AS n FROM region_v")
    assert out.collect()[0]["n"] == df.count() > 0


def test_http_feeder_parses_jsonlines_via_file_url(spark, tmp_path):
    # no network in the sandbox: file:// exercises the same fetch+parse path
    p = tmp_path / "feed.jsonl"
    p.write_text('{"name": "Frank", "age": 29}\n{"name": "Stacy", "age": 26}\n')
    df = fd.http_feeder(spark, p.as_uri(), schema="name string, age long")
    assert sorted(r["name"] for r in df.collect()) == ["Frank", "Stacy"]


def test_csv_feeder_header_reordered_to_file_order(spark, tmp_path):
    # skip>0 + header=True maps values positionally, so a file whose
    # header order differs from the declared schema must be reordered
    # (not silently mis-assigned), and unknown names must raise
    import pytest

    p = tmp_path / "hdr.csv"
    p.write_text("junk line\nage,name\n29,Frank\n26,Stacy\n")
    df = fd.csv_feeder(
        spark, str(p), schema=T.StructType([
            T.StructField("name", T.StringType()),
            T.StructField("age", T.StringType()),
        ]), skip=1, header=True,
    )
    rows = {r["name"]: r["age"] for r in df.collect()}
    assert rows == {"Frank": "29", "Stacy": "26"}
    # value-to-name mapping follows the file, but the OUTPUT column
    # order follows the declaration — positional consumers
    # (toPandas().values, fixed-schema writes) must see declared order
    assert df.columns == ["name", "age"]
    # columns list is reordered the same way
    df2 = fd.csv_feeder(spark, str(p), columns=["name", "age"], skip=1, header=True)
    assert {r["name"]: r["age"] for r in df2.collect()} == {"Frank": "29", "Stacy": "26"}
    assert df2.columns == ["name", "age"]
    bad = tmp_path / "bad_hdr.csv"
    bad.write_text("junk\nage,title\n29,Dr\n")
    with pytest.raises(ValueError, match="does not match"):
        fd.csv_feeder(spark, str(bad), columns=["name", "age"], skip=1, header=True)


def test_jdbc_scan_option_passthrough():
    # the partitioned live-DB scan options are code under test — no JDBC
    # driver in the sandbox, so the builder is asserted directly
    import pytest

    opts = fd.jdbc_scan_options(
        "jdbc:postgresql://db:5432/prod", "public.transcripts",
        partition_column="conv_seq", lower_bound=0, upper_bound=10_000_000,
        num_partitions=64, fetch_size=5000, user="etl",
    )
    assert opts == {
        "url": "jdbc:postgresql://db:5432/prod",
        "dbtable": "public.transcripts",
        "fetchsize": "5000",
        "partitionColumn": "conv_seq",
        "lowerBound": "0",
        "upperBound": "10000000",
        "numPartitions": "64",
        "user": "etl",
    }
    # unpartitioned scans stay minimal
    assert fd.jdbc_scan_options("jdbc:h2:mem", "t") == {
        "url": "jdbc:h2:mem", "dbtable": "t", "fetchsize": "10000",
    }
    with pytest.raises(ValueError, match="ALL of"):
        fd.jdbc_scan_options("jdbc:h2:mem", "t", partition_column="id")


def test_csv_feeder_header_reorder_hits_schema_when_both_given(spark, tmp_path):
    # when columns AND a schema are supplied, the DDL comes from the
    # schema — the reorder must hit the schema (round-3 review: fixing
    # only `columns` silently blessed the positional mis-assignment)
    p = tmp_path / "both.csv"
    p.write_text("junk\nage,name\n29,Frank\n")
    df = fd.csv_feeder(
        spark, str(p), columns=["name", "age"],
        schema="name string, age string", skip=1, header=True,
    )
    assert {r["name"]: r["age"] for r in df.collect()} == {"Frank": "29"}
    # string-DDL schema alone is normalized and reordered too
    df2 = fd.csv_feeder(
        spark, str(p), schema="name string, age string", skip=1, header=True
    )
    assert {r["name"]: r["age"] for r in df2.collect()} == {"Frank": "29"}


def test_http_feeder_methods_lines_and_body_guard(spark, tmp_path):
    # S10 parity with the reference HttpReader (chomper/readers.py:72-99):
    # any method + request body/headers, line-streamed vs whole-body
    # reads, and a driver-OOM guard.  A real loopback HTTP server
    # exercises the network path end-to-end (no jar needed).
    import http.server
    import json as _json
    import threading

    import pytest

    class H(http.server.BaseHTTPRequestHandler):
        def _reply(self, body: bytes):
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            self._reply(b'{"a": 1}\n\n{"a": 2}\n')

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            echo = {"method": "POST", "body": self.rfile.read(n).decode(),
                    "hdr": self.headers.get("X-Token", "")}
            self._reply(_json.dumps(echo).encode())

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        # GET jsonlines, incremental line mode; blank lines skipped
        got = sorted(r["a"] for r in fd.http_feeder(spark, base + "/feed").collect())
        assert got == [1, 2]
        # POST with body + header, whole-doc json
        row = fd.http_feeder(
            spark, base + "/echo", format="json", method="POST",
            data='{"x":1}', headers={"X-Token": "t0k"},
        ).collect()[0]
        assert (row["method"], row["body"], row["hdr"]) == ("POST", '{"x":1}', "t0k")
        # raw text modes: per-line rows vs one whole-body row
        assert fd.http_feeder(spark, base, format="text").count() == 2
        assert fd.http_feeder(spark, base, format="text", lines=False).count() == 1
        # the max_bytes guard trips instead of buffering a huge body
        with pytest.raises(ValueError, match="max_bytes"):
            fd.http_feeder(spark, base, max_bytes=5).collect()
    finally:
        srv.shutdown()


def test_ensure_scan_parallelism_accepts_uri_path(spark, tmp_path):
    # a URI path has no local file size to probe: fall back to planning
    # the scan instead of raising from os.path.getsize
    from chomper_spark.sources.feed import ensure_scan_parallelism

    path = str(tmp_path / "one.parquet")
    spark.range(16).coalesce(1).write.parquet(path)
    target = spark.sparkContext.defaultParallelism
    for p in (path, "file://" + path):
        out = ensure_scan_parallelism(spark.read.parquet(p), spark, path=p)
        assert out.rdd.getNumPartitions() == target, p
        assert out.count() == 16
