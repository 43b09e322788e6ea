"""CSV parser fidelity — ports csv_parser_tests.rs (3 cases) + P4 upgrades."""

from __future__ import annotations

from data_ingestion_spark.sources import read_csv


def write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def as_dicts(df):
    return [r.asDict() for r in df.collect()]


def test_headers_happy_path(spark, tmp_path):
    # csv_parser_tests.rs:6-16 / FIXTURES A1 — all values strings
    p = write(tmp_path, "a1.csv", "name,age,city\nJohn,30,NYC\nJane,25,LA\nBob,35,Chicago\n")
    rows = as_dicts(read_csv(spark, p))
    assert rows == [
        {"name": "John", "age": "30", "city": "NYC"},
        {"name": "Jane", "age": "25", "city": "LA"},
        {"name": "Bob", "age": "35", "city": "Chicago"},
    ]
    assert all(isinstance(v, str) for r in rows for v in r.values())


def test_custom_headers(spark, tmp_path):
    # csv_parser_tests.rs:18-27 / FIXTURES A2 — headerless file + config names
    p = write(tmp_path, "a2.csv", "John,30,john@x.com,NYC\nJane,25,jane@x.com,LA\n")
    df = read_csv(spark, p, {"headers": ["name", "age", "email", "city"]})
    assert df.columns == ["name", "age", "email", "city"]
    assert as_dicts(df)[0] == {
        "name": "John", "age": "30", "email": "john@x.com", "city": "NYC",
    }


def test_ragged_rows_column_i(spark, tmp_path):
    # csv_parser_tests.rs:30-38 / FIXTURES A3 — extras keyed column_{i}, 0-based
    p = write(tmp_path, "a3.csv", "John,25,john@test.com,extra\nJane,30,jane@test.com,data\n")
    df = read_csv(spark, p, {"headers": ["name", "age"]})
    assert df.columns == ["name", "age", "column_2", "column_3"]
    rows = as_dicts(df)
    assert rows[0] == {
        "name": "John", "age": "25", "column_2": "john@test.com", "column_3": "extra",
    }


def test_intra_file_ragged(spark, tmp_path):
    # rows wider than the HEADER ROW keep extras too (reference handles
    # per-row; Spark needs the wide-schema slack)
    p = write(tmp_path, "rag.csv", "a,b\n1,2\n3,4,5,6\n")
    df = read_csv(spark, p)
    assert df.columns == ["a", "b", "column_2", "column_3"]
    rows = {r["a"]: r for r in as_dicts(df)}
    assert rows["1"] == {"a": "1", "b": "2", "column_2": None, "column_3": None}
    assert rows["3"] == {"a": "3", "b": "4", "column_2": "5", "column_3": "6"}


def test_empty_field_vs_missing(spark, tmp_path):
    # present-but-empty parses as "", missing trailing field stays NULL
    p = write(tmp_path, "empty.csv", "a,b,c\n1,,3\n")
    rows = as_dicts(read_csv(spark, p))
    assert rows == [{"a": "1", "b": "", "c": "3"}]


def test_delimiter_honored(spark, tmp_path):
    # P4 upgrade: the reference ignores its own delimiter config
    p = write(tmp_path, "semi.csv", "a;b\n1;2\n")
    rows = as_dicts(read_csv(spark, p, {"delimiter": ";"}))
    assert rows == [{"a": "1", "b": "2"}]


def test_has_headers_false_without_names(spark, tmp_path):
    p = write(tmp_path, "nh.csv", "1,2\n3,4\n")
    df = read_csv(spark, p, {"has_headers": False})
    assert df.columns == ["column_0", "column_1"]
    assert len(df.collect()) == 2


def test_quoted_fields(spark, tmp_path):
    # quote-aware parsing incl. delimiter inside quotes (csv crate parity)
    p = write(tmp_path, "q.csv", 'a,b\n"x,y",2\n')
    rows = as_dicts(read_csv(spark, p))
    assert rows == [{"a": "x,y", "b": "2"}]


def test_single_column_no_slack(spark, tmp_path):
    # a single header column (all other read columns are slack) keeps
    # its values through the present-but-empty restore
    p = write(tmp_path, "one.csv", "h\nv1\n\nv2\n")
    rows = [r["h"] for r in read_csv(spark, p).collect()]
    assert sorted(x for x in rows if x is not None) == ["v1", "v2"]


def test_directory_header_from_first_file(spark, tmp_path):
    # multi-file reads take the header from the lexicographically FIRST file
    d = tmp_path / "csvs"
    d.mkdir()
    (d / "b.csv").write_text("name,age\nBob,41\n")
    (d / "a.csv").write_text("name,age\nAlice,30\n")
    df = read_csv(spark, str(d))
    assert sorted(df.columns) == ["age", "name"]
    got = sorted(r["name"] for r in df.collect() if r["name"] != "name")
    assert got == ["Alice", "Bob"]


def test_read_csv_leaves_no_persisted_rdd(spark, tmp_path):
    # the parse caches nothing, so a direct caller has nothing to release
    p = write(tmp_path, "r.csv", "a,b\n1,2\n3,4,5\n")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert len(read_csv(spark, p).collect()) == 2
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
