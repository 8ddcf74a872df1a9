"""Multi-format source + validation gate tests (SURVEY.md S4-S6, Q1-Q4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_pipeline_spark.quality.checks import (
    MissingColumnsError,
    file_gate,
    require_columns,
    validate_generic_records,
)
from etl_pipeline_spark.sources.readers import (
    read_json_records,
    read_jsonl,
    read_text_nonempty,
)


@pytest.fixture(scope="module")
def datadir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sources")
    (d / "array.json").write_text(
        '[{"id": 1, "name": "a", "value": 10.5}, {"id": 2, "name": "b", "value": 0}]'
    )
    (d / "single.json").write_text('{"id": 3, "name": "c", "value": 7}')
    (d / "records.jsonl").write_text(
        '{"id": 4, "name": "d", "value": 1.5}\n'
        "this is not json\n"
        '{"id": 5, "name": "e", "value": 2.5}\n'
    )
    (d / "lines.txt").write_text("alpha\n\n   \nbeta\n")
    return d


def test_json_array_and_single_object(spark, datadir):
    arr = read_json_records(spark, str(datadir / "array.json"))
    assert arr.count() == 2
    single = read_json_records(spark, str(datadir / "single.json"))
    assert single.count() == 1
    assert {f.name for f in single.schema.fields} >= {"id", "name", "value"}


def test_jsonl_quarantines_bad_lines(spark, datadir):
    good, bad = read_jsonl(spark, str(datadir / "records.jsonl"))
    assert sorted(r["id"] for r in good.collect()) == [4, 5]
    assert bad.count() == 1
    assert "not json" in bad.collect()[0]["_corrupt_record"]


def test_text_nonempty(spark, datadir):
    lines = [r["value"] for r in read_text_nonempty(spark, str(datadir / "lines.txt")).collect()]
    assert lines == ["alpha", "beta"]


def test_require_columns(spark, datadir):
    df = read_json_records(spark, str(datadir / "array.json"))
    require_columns(df, ["id", "name", "value"])  # ok
    with pytest.raises(MissingColumnsError):
        require_columns(df, ["id", "entity"])


def test_validate_generic_records(spark):
    df = spark.createDataFrame(
        [
            ("1", "ok", "10.5", "2024-01-15T10:30:00Z"),
            ("", "noid", "1", None),
            ("3", "badval", "xx", None),
            ("4", "badts", "2", "not-a-time"),
        ],
        "id string, name string, value string, timestamp string",
    )
    checked = validate_generic_records(df)
    errs = {r["id"]: list(r["_errors"]) for r in checked.collect()}
    assert errs["1"] == []
    assert errs[""] == ["missing_id"]
    assert errs["3"] == ["value_not_numeric"]
    assert errs["4"] == ["bad_timestamp"]


def test_file_gate(spark, datadir):
    summary = file_gate(
        spark, [str(datadir / "array.json"), str(datadir / "single.json")], fmt="json"
    )
    assert summary.total_files == 2
    assert summary.total_records == 3
    assert summary.all_valid


def test_file_gate_extension_dispatch_mixed_dir(spark, datadir):
    """Q2 <- dataflow.py:189-199: fmt=None routes json/jsonl/text by
    extension, one gate per format group, merged summary."""
    paths = [
        str(datadir / "array.json"),
        str(datadir / "single.json"),
        str(datadir / "records.jsonl"),
        str(datadir / "lines.txt"),
    ]
    summary = file_gate(spark, paths, fmt=None)
    assert summary.total_files == 4
    # 2 + 1 json records, 2 VALID jsonl lines (r9 review: the corrupt
    # line used to count as a record, letting garbage files through the
    # gate — unparseable rows now count as zero), 2 non-empty text lines
    assert summary.total_records == 3 + 2 + 2
    assert summary.all_valid


def test_format_for_path():
    from etl_pipeline_spark.quality.checks import format_for_path

    assert format_for_path("a/b/data.JSON") == "json"
    assert format_for_path("x.csv") == "csv"
    assert format_for_path("x.jsonl") == "jsonl"
    assert format_for_path("x.ndjson") == "jsonl"
    assert format_for_path("notes.txt") == "text"
    assert format_for_path("no_extension") == "text"


def test_file_metadata_threshold_probes(spark, tmp_path):
    """S10 <- dataflow.py:169-180: 0-byte error, >max_size warning,
    >max_age warning; F13's MB conversion feeds the size warning text."""
    import datetime as dt
    import os

    big = tmp_path / "big.json"
    big.write_text('[{"id": 1, "name": "a", "value": 1}]' + " " * 2048)
    empty = tmp_path / "empty.json"
    empty.write_text("")
    old = tmp_path / "old.json"
    old.write_text('[{"id": 2, "name": "b", "value": 2}]')
    ancient = dt.datetime.now().timestamp() - 30 * 86400
    os.utime(old, (ancient, ancient))

    from etl_pipeline_spark.quality.checks import file_metadata_checks

    findings = file_metadata_checks(
        spark,
        [str(big), str(empty), str(old)],
        max_size_mb=0.001,  # ~1 KB so the 2 KB file trips the threshold
        max_age_days=7,
    )
    text = "\n".join(findings)
    assert "empty.json: empty file (0 bytes)" in text
    assert "warning: " in text and "large file" in text and "MB" in text
    assert "old file" in text and "days" in text

    summary = file_gate(spark, [str(big), str(old)], fmt="json", check_metadata=True)
    assert summary.all_valid  # warnings never invalidate (reference parity)


def test_empty_file_detection_not_masked_by_same_basename(spark, tmp_path):
    """Scheme-normalized FULL-path comparison: an empty a/data.json must be
    flagged even when a non-empty b/data.json shares its basename (basename
    matching silently downgraded this hard error to a pass)."""
    from etl_pipeline_spark.quality.checks import file_metadata_checks

    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    (a / "data.json").write_text("")
    (b / "data.json").write_text('[{"id": 1, "name": "x", "value": 1}]')
    findings = file_metadata_checks(spark, [str(a / "data.json"), str(b / "data.json")])
    assert any("a/data.json: empty file" in f for f in findings)
    assert not any("b/data.json: empty file" in f for f in findings)


def test_file_gate_distributed_bounded_driver(spark, tmp_path, monkeypatch):
    """Over a many-file dir with PER_FILE_COLLECT_CAP forced to 0, the
    summary carries totals + error rows only (per_file stays empty), and
    zero-record files are matched by full path, not basename."""
    from etl_pipeline_spark.quality import checks

    paths = []
    for i in range(8):
        p = tmp_path / f"doc_{i}.jsonl"
        if i == 3:
            p.write_text("")  # zero records
        else:
            p.write_text(f'{{"id": {i}, "name": "n{i}", "value": {i}}}\n')
        paths.append(str(p))
    monkeypatch.setattr(checks, "PER_FILE_COLLECT_CAP", 0)
    summary = checks.file_gate(spark, paths, fmt="jsonl")
    assert summary.total_files == 8
    assert summary.valid_files == 7
    assert summary.total_records == 7
    assert summary.per_file == {}  # capped: nothing per-file on the driver
    assert [e for e in summary.errors if "doc_3.jsonl: no records" in e]


def test_file_gate_rejects_all_corrupt_file(spark, tmp_path):
    """r9 review find: a file whose every row is unparseable used to
    pass the gate as one valid record (the _corrupt_record row counted);
    it must now look exactly like an empty file and fail."""
    import pytest as _pytest

    bad = tmp_path / "garbage.jsonl"
    bad.write_text("this is not json\nneither is this\n")
    ok = tmp_path / "good.jsonl"
    ok.write_text('{"id": 1}\n{"id": 2}\n')
    summary = file_gate(spark, [str(bad), str(ok)], fmt="jsonl")
    assert not summary.all_valid
    assert any("garbage.jsonl" in e for e in summary.errors)
    assert summary.total_records == 2  # only the parseable records


def test_file_gate_null_first_column_rows_are_valid(spark, tmp_path):
    """r10 review find: 'any non-null payload field' was built with
    coalesce over isNotNull predicates — isNotNull never returns NULL, so
    the chain collapsed to the FIRST (for JSON: alphabetically first)
    column's test alone. A healthy file whose first column is sparse
    reported 0 records and failed the gate."""
    p = tmp_path / "sparse_first.jsonl"
    # "aaa" sorts first in the inferred schema and is null on every row;
    # each row is still valid via "zzz"
    p.write_text('{"aaa": null, "zzz": 1}\n{"aaa": null, "zzz": 2}\n')
    # mixing in one corrupt line forces the _corrupt_record column (the
    # branch under test) to exist
    with open(p, "a") as fh:
        fh.write("not json\n")
    summary = file_gate(spark, [str(p)], fmt="jsonl")
    assert summary.total_records == 2
    assert summary.all_valid


def test_validate_and_prepare_warnings_are_advisory(spark, tmp_path):
    """r9 review find: metadata 'warning: ...' entries are documented as
    advisory but used to abort the load via the errors list; a healthy
    load with one old/large file must pass the gate."""
    import datetime as dt
    import os

    from etl_pipeline_spark.pipelines.orchestration import validate_and_prepare

    p = tmp_path / "data.jsonl"
    p.write_text('{"id": 1}\n{"id": 2}\n')
    # make the file look 30 days old -> 'warning: ... old file ...'
    old = (dt.datetime.now() - dt.timedelta(days=30)).timestamp()
    os.utime(p, (old, old))
    params = validate_and_prepare(
        spark,
        str(tmp_path / "*.jsonl"),
        fmt="jsonl",
        min_records=1,
        check_metadata=True,  # generates the 'warning: ... old file' entry
    )
    assert params.expected_record_count == 2
