"""Reject-path ingestion semantics (SURVEY.md §2.1 S2, §5).

Fixtures replicate the reference's golden inputs: summary_line.csv
(clean), modified_workbook.csv (header + quoted-comma field), and a
mixed file with TabJolt console lines that Vertica's COPY spooled to
rejected.txt (FIXTURES.md §5).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tableau_dashboard_performance_etl_automation_spark.sources import (
    load_delimited,
    load_manifest,
)

SUMMARY_SCHEMA = StructType(
    [
        StructField("summary_metrix", StringType()),
        StructField("summary_value", StringType()),
        StructField("summary_timestamp", StringType()),
    ]
)

JTL_COLS = "t lt ts s lb rc rm tn dt by ng na trail".split()
JTL_SCHEMA = StructType([StructField(c, StringType()) for c in JTL_COLS])


def test_clean_csv_loads_all_rows(spark, tmp_path):
    p = tmp_path / "summary_line.csv"
    p.write_text(
        "Avg,12661,2024-07-30\nMin,9534,2024-07-30\n"
        "Max,12973,2024-07-30\nErr,0 0.00%,2024-07-30\n"
    )
    res = load_delimited(spark, str(p), SUMMARY_SCHEMA, delimiter=",")
    good, rejected = res.counts()
    assert (good, rejected) == (4, 0)
    # the Err row's non-numeric value survives as a string (SURVEY §1.3)
    vals = {r.summary_value for r in res.good.collect()}
    assert "0 0.00%" in vals


def test_quoted_comma_field_parses_as_one_column(spark, tmp_path):
    # mirrors modified_workbook.csv:5 — a quoted field containing commas
    p = tmp_path / "wb.csv"
    p.write_text(
        "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,trail\n"
        '2218,0,1722333534328,true,Bootstrap request,200,'
        '"Bootstrap sessionID:39175F21C990429B9BC39F61F98B405E-1:0, status:OK, '
        'isRetry:false",G 1-1,,1572926,1,1,Site: x; View: y;\n'
    )
    res = load_delimited(spark, str(p), JTL_SCHEMA, delimiter=",", skip_header=True)
    rows = res.good.collect()
    assert len(rows) == 1
    assert rows[0].rm.startswith("Bootstrap sessionID:")
    assert "status:OK" in rows[0].rm
    assert res.rejected.count() == 0


def test_tabjolt_console_lines_are_rejected(spark, tmp_path):
    """Row conservation: good + rejected == input (SURVEY.md §5)."""
    p = tmp_path / "mixed.csv"
    lines = [
        "123,0,1722333534328,true,lbl,200,msg,tn,,99,1,1,x",  # good
        # TabJolt console noise (rejected.txt:1 shape): tab-delimited
        # tokens overflow the comma schema via embedded quotes columns?
        # Here: a quote-broken row and an over-wide row, both rejected.
        '1,2,3,true,lbl,200,"unterminated,tn,,99,1,1,x',
        "a,b,c,d,e,f,g,h,i,j,k,l,m,EXTRA,EXTRA2",
        "456,0,1722333534329,false,lbl,200,msg2,tn,,99,1,1,x",  # good
    ]
    p.write_text("\n".join(lines) + "\n")
    reject_dir = tmp_path / "rejected"
    res = load_delimited(
        spark, str(p), JTL_SCHEMA, delimiter=",", reject_path=str(reject_dir)
    )
    good, rejected = res.counts()
    assert good + rejected == len(lines)
    assert good == 2 and rejected == 2
    # reject sink holds the raw lines, like Vertica's rejected.txt
    spilled = sorted(
        ln
        for f in reject_dir.glob("part-*")
        for ln in f.read_text().splitlines()
    )
    assert len(spilled) == 2
    assert any("EXTRA" in ln for ln in spilled)


def test_typed_schema_coercion_failure_rejects_row(spark, tmp_path):
    # wincounter.tsv shape: typed columns, tab-delimited (SURVEY §1.2)
    schema = StructType(
        [
            StructField("epoch_ms", LongType()),
            StructField("host", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    p = tmp_path / "wincounter.tsv"
    p.write_text(
        "1722333534328\tLOCALHOST\t61.7235679626465\n"
        "not_a_number\tLOCALHOST\t1.5\n"
    )
    res = load_delimited(spark, str(p), schema, delimiter="\t")
    good, rejected = res.counts()
    assert (good, rejected) == (1, 1)
    assert res.good.collect()[0].value == 61.7235679626465


def test_manifest_registers_views(spark, tmp_path):
    # the files_to_load loop (tabjolt_email.py:361-372) as one call
    a = tmp_path / "summary_line.csv"
    a.write_text("Avg,100,2024-07-30\n")
    b = tmp_path / "wincounter.tsv"
    b.write_text("1\tHOST\t2.0\n")
    win_schema = StructType(
        [
            StructField("epoch_ms", LongType()),
            StructField("host", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    results = load_manifest(
        spark,
        [
            (str(a), "summary_line", SUMMARY_SCHEMA, ",", False),
            (str(b), "wincounter", win_schema, "\t", False),
        ],
    )
    assert set(results) == {"summary_line", "wincounter"}
    assert spark.table("summary_line").count() == 1
    assert spark.table("wincounter").count() == 1


def test_s3_config_bridges_to_s3a(spark):
    """The reference's config.json s3 section (tabjolt_email.py:17-31)
    must land on fs.s3a.* so spark.read resolves s3a:// directly."""
    from tableau_dashboard_performance_etl_automation_spark.sources.s3 import (
        configure_s3a,
        resolve_extract_path,
        s3a_uri,
    )

    cfg = {
        "bucket_name": "perf-logs",
        "folder_path": "daily/",
        "aws_access_key_id": "AKIAEXAMPLE",
        "aws_secret_access_key": "secretexample",
        "region_name": "us-east-1",
    }
    applied = configure_s3a(spark, cfg)
    assert applied == {
        "fs.s3a.access.key": "AKIAEXAMPLE",
        "fs.s3a.secret.key": "secretexample",
        "fs.s3a.endpoint.region": "us-east-1",
    }
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AKIAEXAMPLE"
    assert s3a_uri(cfg, "summary_line.csv") == (
        "s3a://perf-logs/daily/summary_line.csv"
    )
    # bare relative keys resolve to s3a; absolute/schemed pass through
    assert resolve_extract_path("summary_line.csv", cfg).startswith("s3a://")
    assert resolve_extract_path("/tmp/x.csv", cfg) == "/tmp/x.csv"
    assert (
        resolve_extract_path("file:///tmp/x.csv", cfg) == "file:///tmp/x.csv"
    )


def test_manifest_local_fallback_with_s3_config(spark, tmp_path):
    """A manifest of absolute local paths must load unchanged even
    when an s3 config is supplied (the test-fixture path)."""
    a = tmp_path / "summary_line.csv"
    a.write_text("Avg,100,2024-07-30\n")
    results = load_manifest(
        spark,
        [(str(a), "summary_line_s3fb", SUMMARY_SCHEMA, ",", False)],
        s3_config={"bucket_name": "unused"},
    )
    assert results["summary_line_s3fb"].good.count() == 1


def test_catalog_timestamps_surface_as_session_tz_not_ntz(spark, sf_dir):
    """Testdata parquet stores tz-naive TIMESTAMP(MICROS); the catalog
    must surface plain TIMESTAMP (session-UTC), not TIMESTAMP_NTZ —
    the engine's epoch functions (unix_millis) reject NTZ, and the
    DuckDB oracle reads the same bytes as plain TIMESTAMP."""
    from pyspark.sql.types import TimestampType

    from tableau_dashboard_performance_etl_automation_spark import catalog

    events = catalog.load_table(spark, sf_dir, "events")
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    orders = catalog.load_table(spark, sf_dir, "orders")
    assert isinstance(orders.schema["o_orderdate"].dataType, TimestampType)
    # and the epoch path that broke under NTZ analyzes cleanly
    events.selectExpr("unix_millis(ts)").schema


def test_tabjolt_tables_load_through_the_manifest(spark, tmp_path):
    """``load_tabjolt_tables`` loads the reference's four files with
    their layouts, registers each as a view and spills a malformed line
    to that table's reject directory."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        tabjolt_compat,
    )

    files = {
        "wincounter": "1722333534328\tHOST\tgrp\tcnt\tinst\t61.5\t2024-07-30\n",
        "summary_line": "Avg,12661,2024-07-30\nMax,12973,2024-07-30,EXTRA\n",
        "thread_details": "1722333534328\tworker-1\tRUNNABLE\n",
        "performance_samples": "t,lt,ts,s,lb,rc,rm,tn,dt,by,ng,na,trail\n"
        "2218,0,1722333534328,true,lbl,200,msg,tn,,99,1,1,x\n",
    }
    paths = {}
    for name, text in files.items():
        paths[name] = str(tmp_path / name)
        (tmp_path / name).write_text(text)
    reject_dir = tmp_path / "rejects"
    tables = tabjolt_compat.load_tabjolt_tables(
        spark, paths, reject_path=str(reject_dir)
    )
    assert {n: t.count() for n, t in tables.items()} == {
        "wincounter": 1,
        "summary_line": 1,
        "thread_details": 1,
        "performance_samples": 1,
    }
    assert spark.table("wincounter").first().value == "61.5"
    assert spark.table("performance_samples").first().elapsed_time_ms == "2218"
    spilled = [
        ln
        for f in (reject_dir / "summary_line").glob("part-*")
        for ln in f.read_text().splitlines()
    ]
    assert spilled == ["Max,12973,2024-07-30,EXTRA"]
