"""JSON + TXT parser fidelity (FIXTURES A4/A5)."""

from __future__ import annotations

from data_ingestion_spark.sources import read_json, read_txt, txt_source


def write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def as_dicts(df):
    return [r.asDict() for r in df.collect()]


def test_json_top_level_array(spark, tmp_path):
    # json_parser.rs:15-23 — one doc per element, native types preserved
    p = write(tmp_path, "a4.json", '[{"name":"Alice","value":100},{"name":"Bob","value":200}]')
    df = read_json(spark, p)
    rows = sorted(as_dicts(df), key=lambda r: r["name"])
    assert rows == [{"name": "Alice", "value": 100}, {"name": "Bob", "value": 200}]
    assert dict(df.dtypes)["value"] == "bigint"  # NOT stringified


def test_json_single_object(spark, tmp_path):
    p = write(tmp_path, "one.json", '{"name":"Solo","nested":{"a":1},"arr":[1,2]}')
    rows = as_dicts(read_json(spark, p))
    assert len(rows) == 1
    assert rows[0]["name"] == "Solo"
    assert rows[0]["nested"].asDict() == {"a": 1}
    assert rows[0]["arr"] == [1, 2]


def test_json_ndjson_mode(spark, tmp_path):
    # the 100-TB path: one doc per line, splittable parallel parse
    p = write(tmp_path, "nd.json", '{"a":1}\n{"a":2}\n{"a":3}\n')
    df = read_json(spark, p, {"multiline": False})
    assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]


def test_txt_line_numbers(spark, tmp_path):
    # txt_parser.rs:15-24 / FIXTURES A5 — 1-based line_number + content
    p = write(
        tmp_path,
        "a5.txt",
        "Log entry 1: Application started\nLog entry 2: Processing data\n"
        "Log entry 3: Task completed\n",
    )
    df = read_txt(spark, p)
    rows = sorted(as_dicts(df), key=lambda r: r["line_number"])
    assert rows == [
        {"line_number": 1, "content": "Log entry 1: Application started"},
        {"line_number": 2, "content": "Log entry 2: Processing data"},
        {"line_number": 3, "content": "Log entry 3: Task completed"},
    ]


def test_txt_no_trailing_newline(spark, tmp_path):
    p = write(tmp_path, "n.txt", "a\nb")
    rows = sorted(as_dicts(read_txt(spark, p)), key=lambda r: r["line_number"])
    assert rows == [
        {"line_number": 1, "content": "a"},
        {"line_number": 2, "content": "b"},
    ]


def test_txt_empty_interior_lines_kept(spark, tmp_path):
    p = write(tmp_path, "e.txt", "a\n\nb\n")
    rows = sorted(as_dicts(read_txt(spark, p)), key=lambda r: r["line_number"])
    assert rows == [
        {"line_number": 1, "content": "a"},
        {"line_number": 2, "content": ""},
        {"line_number": 3, "content": "b"},
    ]


def test_txt_distributed_mode(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(txt_source, "WHOLEFILE_MAX_BYTES", 0)
    lines = [f"line-{i}" for i in range(100)]
    p = write(tmp_path, "big.txt", "\n".join(lines) + "\n")
    df = read_txt(spark, p)
    rows = sorted(as_dicts(df), key=lambda r: r["line_number"])
    assert [r["content"] for r in rows] == lines
    assert [r["line_number"] for r in rows] == list(range(1, 101))


def test_txt_distributed_multisplit(spark, tmp_path, monkeypatch):
    """Pin the distributed-mode ordering guarantee when ONE file spans
    MULTIPLE input splits (the monotonically_increasing_id assumption)."""
    monkeypatch.setattr(txt_source, "WHOLEFILE_MAX_BYTES", 0)
    lines = [f"row-{i:06d}-" + "x" * 120 for i in range(5000)]
    p = write(tmp_path, "huge.txt", "\n".join(lines) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        df = read_txt(spark, p)
        assert df.rdd.getNumPartitions() >= 1
        src = spark.read.text(p)
        assert src.rdd.getNumPartitions() > 4  # the premise: really split
        rows = sorted(as_dicts(df), key=lambda r: r["line_number"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert [r["content"] for r in rows] == lines


def test_txt_multifile_trailing_trim_per_file(spark, tmp_path):
    """Short files in a directory read must trim their OWN trailing empty
    line (round-1 used the global max position — a shorter file kept a
    spurious empty final row)."""
    d = tmp_path / "txts"
    d.mkdir()
    (d / "long.txt").write_text("a\nb\nc\nd\n")
    (d / "short.txt").write_text("x\ny\n")
    rows = as_dicts(read_txt(spark, str(d)))
    contents = sorted(r["content"] for r in rows)
    assert contents == ["a", "b", "c", "d", "x", "y"]  # no "" rows
    assert sum(1 for r in rows if r["line_number"] == 1) == 2


def test_txt_auto_mode_switches_on_size(spark, tmp_path, monkeypatch):
    p = write(tmp_path, "auto.txt", "a\nb\nc\n")
    # tiny threshold → distributed reader; result identical either way
    monkeypatch.setattr(txt_source, "WHOLEFILE_MAX_BYTES", 2)
    rows = sorted(
        as_dicts(read_txt(spark, p)),
        key=lambda r: r["line_number"],
    )
    assert [r["content"] for r in rows] == ["a", "b", "c"]
