"""IO layer: column sanitizer (FIXTURES.md B5 branch table) + CSV reader."""

from __future__ import annotations

import pytest

from personal_data_lakehouse_spark.io.readers import read_csv
from tests.conftest import SF_DIR
from personal_data_lakehouse_spark.io.sanitize import (
    sanitize_column_name,
    sanitize_columns,
)


@pytest.mark.parametrize(
    ("raw", "index", "expected"),
    [
        ("Data do Pregão", 0, "data_do_pregao"),  # NFKD fold + snake_case
        ("Unnamed: 3", 3, "coluna_extra_3"),  # pandas unnamed column
        ("%", 2, "coluna_sem_nome_2"),  # empty after cleaning
        ("12meses", 1, "num_12meses"),  # leading digit
        ("Preço (R$)", 0, "preco_r"),  # special-char strip
        ("Já_Normal", 0, "ja_normal"),
    ],
)
def test_sanitize_column_name(raw, index, expected):
    assert sanitize_column_name(raw, index) == expected


def test_sanitize_columns_dataframe(spark):
    df = spark.createDataFrame(
        [(1.0, "x", 2.0)], ["Data do Pregão", "Unnamed: 1", "12meses"]
    )
    out = sanitize_columns(df)
    assert out.columns == ["data_do_pregao", "coluna_extra_1", "num_12meses"]
    assert out.count() == 1


def test_read_csv_sanitized(spark, tmp_path):
    p = tmp_path / "ativos.csv"
    p.write_text("Data do Pregão,Preço (R$),12meses\n2024-01-01,10.5,0.9\n")
    df = read_csv(spark, str(p), sanitize=True)
    assert df.columns == ["data_do_pregao", "preco_r", "num_12meses"]
    row = df.collect()[0]
    assert row.preco_r == 10.5


def test_local_frame_is_a_local_relation_with_exact_types(spark):
    from personal_data_lakehouse_spark.io.readers import local_frame

    df = local_frame(
        spark,
        [(1, 2**40, "a"), (None, None, None)],
        "i int, big long, s string",
    )
    assert "LocalRelation" in df._jdf.queryExecution().analyzed().toString()
    assert df.schema.simpleString() == "struct<i:int,big:bigint,s:string>"
    assert [tuple(r) for r in df.collect()] == [(1, 2**40, "a"), (None, None, None)]
    assert local_frame(spark, [], "i int").count() == 0
    with pytest.raises(Exception):
        local_frame(spark, [(2**40,)], "i int")  # does not fit an int


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from personal_data_lakehouse_spark.io.readers import read_orc, write_orc

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    plan = (
        back.filter("o_orderkey = 7")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)]" in plan


def test_versioned_table_time_travel(spark, tmp_path):
    from personal_data_lakehouse_spark.catalog import (
        read_versioned,
        table_versions,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(0, 20).withColumnRenamed("id", "k")
    df3 = spark.range(0, 30).withColumnRenamed("id", "k")
    assert write_versioned(df1, path, keep=2) == 1
    assert write_versioned(df2, path, keep=2) == 2
    # latest pointer follows the newest snapshot
    assert read_versioned(spark, path).count() == 20
    # pinned read of a retained older version
    assert read_versioned(spark, path, version=1).count() == 10
    assert write_versioned(df3, path, keep=2) == 3
    assert table_versions(path) == [2, 3]  # v1 aged out by retention
    assert read_versioned(spark, path).count() == 30
    assert read_versioned(spark, path, version=2).count() == 20
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_versioned(spark, path, version=1)


def test_python_datasource_stock_rest(spark):
    """Spark-4 Python Data Source: registered format, one partition per
    symbol (distributed fetch), rows match the driver-side io/rest.py
    parse for the same series."""
    from personal_data_lakehouse_spark.io.pysource import (
        StockRestDataSource,
        demo_series,
    )
    from personal_data_lakehouse_spark.io.rest import parse_time_series

    spark.dataSource.register(StockRestDataSource)
    df = (
        spark.read.format("stock_rest")
        .option("symbols", "AAPL,MSFT,GOOG")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # fetch fan-out = symbol count
    got = {
        (r.ticker, r.date): (r.open, r.high, r.low, r.close, r.volume)
        for r in df.collect()
    }
    want = {}
    for sym in ["AAPL", "MSFT", "GOOG"]:
        for row in parse_time_series(sym, demo_series(sym)):
            want[(row["ticker"], row["date"])] = (
                row["open"], row["high"], row["low"], row["close"],
                row["volume"],
            )
    assert got == want and len(got) == 15


def test_read_text_docs_line_and_file_modes(spark, tmp_path):
    """Content-addressed raw-text ingestion: line mode emits one doc per
    non-empty line with md5 ids stable across re-reads and partition
    layouts; file mode emits one doc per file; duplicate lines across
    files share an id (exact dedup = groupBy doc_id)."""
    import hashlib
    import os

    from personal_data_lakehouse_spark.io.readers import read_text_docs

    d = str(tmp_path / "corpus")
    os.makedirs(d)
    with open(f"{d}/a.txt", "w") as f:
        f.write("alpha doc one\n\nshared doc\n")
    with open(f"{d}/b.txt", "w") as f:
        f.write("shared doc\nbeta doc two\n")

    docs = read_text_docs(spark, d)
    rows = docs.collect()
    assert len(rows) == 4  # blank line dropped
    by_text = {}
    for r in rows:
        by_text.setdefault(r["text"], []).append(r)
    assert set(by_text) == {"alpha doc one", "shared doc", "beta doc two"}
    for text, rs in by_text.items():
        want = hashlib.md5(text.encode()).hexdigest()
        assert all(r["doc_id"] == want for r in rs)
        assert all(os.path.basename(r["source"]) in ("a.txt", "b.txt") for r in rs)
    # duplicate content across files shares one id -> exact dedup is groupBy
    assert len(by_text["shared doc"]) == 2
    assert docs.select("doc_id").distinct().count() == 3
    # stable across a re-read
    again = {r["doc_id"] for r in read_text_docs(spark, d).collect()}
    assert again == {r["doc_id"] for r in rows}

    whole = read_text_docs(spark, d, one_doc_per="file").collect()
    assert len(whole) == 2
    for r in whole:
        assert r["doc_id"] == hashlib.md5(r["text"].encode()).hexdigest()
    import pytest

    with pytest.raises(ValueError):
        read_text_docs(spark, d, one_doc_per="paragraph")


def test_read_jsonl_docs_parse_quarantine_and_escaping(spark, tmp_path):
    """JSONL on-ramp: structured fields survive, embedded newlines/quotes
    round-trip through JSON escaping (the win over the raw-text reader),
    and malformed lines land in the quarantine column with all schema
    fields NULL — never dropped, never fatal."""
    import json

    from personal_data_lakehouse_spark.io.readers import read_jsonl_docs

    d = str(tmp_path / "corpus")
    (tmp_path / "corpus").mkdir()
    good = [
        {"doc_id": 1, "lang": "en", "text": 'line one\nline "two"'},
        {"doc_id": 2, "lang": None, "text": "plain"},
        {"doc_id": 3, "text": "missing lang field"},
    ]
    bad = ["{oops", "not json at all"]
    (tmp_path / "corpus" / "a.jsonl").write_text(
        "\n".join([json.dumps(g) for g in good[:2]] + bad[:1]) + "\n"
    )
    (tmp_path / "corpus" / "b.jsonl").write_text(
        "\n".join([json.dumps(good[2])] + bad[1:]) + "\n"
    )

    df = read_jsonl_docs(spark, d, "doc_id bigint, lang string, text string")
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "lang", "text", "_corrupt",
    ]
    collected = df.collect()
    rows = {r["doc_id"]: r for r in collected if r["doc_id"] is not None}
    assert rows[1]["text"] == 'line one\nline "two"'  # escaping round-trip
    assert rows[1]["_corrupt"] is None
    assert rows[2]["lang"] is None and rows[3]["lang"] is None
    corrupt = [r for r in collected if r["_corrupt"] is not None]
    assert sorted(r["_corrupt"] for r in corrupt) == sorted(bad)
    assert all(
        r["doc_id"] is None and r["text"] is None for r in corrupt
    )  # fully-malformed rows carry NO parsed fields
    assert len(collected) == 5  # nothing dropped


def test_read_jsonl_docs_type_mismatch_is_partial_quarantine(spark, tmp_path):
    """Pin Spark's PERMISSIVE semantics for a line that IS valid JSON but
    fails one field's type: the bad field nulls out, the OTHER fields
    still parse, and the raw line lands in the quarantine column — i.e. a
    quarantined row may carry partial data. Consumers that bucket on
    `_corrupt IS NOT NULL` (q_jsonl_intake) treat such rows as rejects
    wholesale; this test exists so that policy rests on observed engine
    behavior, not assumption."""
    import json

    from personal_data_lakehouse_spark.io.readers import read_jsonl_docs

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.jsonl").write_text(
        json.dumps({"doc_id": "not-a-number", "lang": "en", "text": "hello"})
        + "\n"
        + json.dumps({"doc_id": 7, "lang": "fr", "text": "ok"})
        + "\n"
    )
    rows = sorted(
        read_jsonl_docs(
            spark, str(d), "doc_id bigint, lang string, text string"
        ).collect(),
        key=lambda r: (r["_corrupt"] is None, r["lang"]),
    )
    bad, good = rows[0], rows[1]
    assert bad["doc_id"] is None and bad["lang"] == "en" and bad["text"] == "hello"
    assert bad["_corrupt"] is not None and "not-a-number" in bad["_corrupt"]
    assert good["doc_id"] == 7 and good["_corrupt"] is None
