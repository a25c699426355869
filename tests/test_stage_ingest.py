"""Stage-file ingest: every surface that reads landing files (the pipe's
``copy_into``, the verbatim ``copy_statement`` and ``stage_select``)
skips the header as Snowflake's ``SKIP_HEADER = 1`` does, and the COPY
statement's column-count rule. Hermetic: every input is a small CSV
written by the test."""

from __future__ import annotations

import pytest

from end_to_end_etl_using_snowflake_spark.operators.dml import empty_frame
from end_to_end_etl_using_snowflake_spark.plans.catalog import Warehouse
from end_to_end_etl_using_snowflake_spark.sources import csv_format as CF
from end_to_end_etl_using_snowflake_spark.sources.copy_into import (
    copy_statement,
    stage_select,
)
from end_to_end_etl_using_snowflake_spark.sources.pipe import Pipe


def _customer(i: int, columns: int = 10) -> str:
    row = (f"C{i}", "Mr.", f"F{i}", f"L{i}", "1", "2", "1990", "X", f"c{i}@x.com", "Y")
    return ",".join(row[:columns])


def _land(stage, headed: bool) -> dict[str, bool]:
    """customer_delta_1.csv's shape: no header, a blank first line, then
    two rows of 9 of the 10 columns (no is_active). ``headed`` adds a
    normal file with a header line. Returns customer_id -> is_active
    present."""
    (stage / "delta.csv").write_text("\n" + _customer(1, 9) + "\n" + _customer(2, 9) + "\n")
    want = {"C1": False, "C2": False}
    if headed:
        header = ",".join(CF.CUSTOMER_STAGE.names).upper()
        (stage / "history.csv").write_text(
            "\n".join([header, _customer(3), _customer(4)]) + "\n"
        )
        want.update({"C3": True, "C4": True})
    return want


def _got(rows) -> list[tuple[str, bool]]:
    return sorted((r.customer_id, r.is_active is not None) for r in rows)


@pytest.mark.parametrize("headed", [False, True], ids=["alone", "with_headed_file"])
def test_blank_first_line_file_loads_every_row_on_each_surface(spark, tmp_path, headed):
    stage = tmp_path / "stage"
    stage.mkdir()
    want = sorted(_land(stage, headed).items())

    wh = Warehouse(spark, str(tmp_path / "wh"))
    table = wh.table("stg", "stg_customer", CF.CUSTOMER_STAGE)
    pipe = Pipe(spark, "p", str(stage), table, CF.CUSTOMER_STAGE)
    assert pipe.refresh() == (2 if headed else 1)
    assert _got(table.read().collect()) == want

    tables = {"stg": empty_frame(spark, CF.CUSTOMER_STAGE)}
    status = copy_statement(spark, "COPY INTO stg FROM @stage", tables, {"stage": str(stage)})
    assert {(r.file, r.status, r.rows_parsed, r.rows_loaded) for r in status.collect()} == {
        (f, "LOADED", 2, 2) for f in (["delta.csv", "history.csv"] if headed else ["delta.csv"])
    }
    assert _got(tables["stg"].collect()) == want

    rows = stage_select(
        spark, "SELECT customer_id, is_active FROM @stage", str(stage), CF.CUSTOMER_STAGE
    ).collect()
    assert _got(rows) == want


def _mismatch_stage(tmp_path):
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "m.csv").write_text("id,name,n\n1,x,5\n2,y\n3,z,6,extra\n4,w,bad\nPOISONED_ROW\n")
    return {"stage": str(stage)}


def _tables(spark):
    return {"tgt": empty_frame(spark, "id int, name string, n int")}


def test_copy_loads_a_column_count_mismatch_under_the_named_format(spark, tmp_path):
    """ERROR_ON_COLUMN_COUNT_MISMATCH = FALSE (the named format's): a short
    row loads with NULL trailing columns, a long one without its extra
    fields; a field that fails its cast still rejects its record."""
    stages = _mismatch_stage(tmp_path)
    for clause in ("", " FILE_FORMAT = (TYPE = 'CSV', ERROR_ON_COLUMN_COUNT_MISMATCH = FALSE)"):
        tables = _tables(spark)
        out = copy_statement(
            spark, f"COPY INTO tgt FROM @stage{clause} ON_ERROR = CONTINUE", tables, stages
        ).collect()
        assert [(r.status, r.rows_parsed, r.rows_loaded, r.errors_seen) for r in out] == [
            ("PARTIALLY_LOADED", 5, 3, 2)
        ]
        assert "4,w,bad" in out[0].first_error
        assert sorted(tuple(r) for r in tables["tgt"].collect()) == [
            (1, "x", 5), (2, "y", None), (3, "z", 6),
        ]
    rejected = copy_statement(
        spark, "COPY INTO tgt FROM @stage VALIDATION_MODE = RETURN_ERRORS", _tables(spark), stages
    ).collect()
    assert sorted(r.rejected_record for r in rejected) == ["4,w,bad", "POISONED_ROW"]
    with pytest.raises(ValueError, match="ABORT_STATEMENT"):
        copy_statement(spark, "COPY INTO tgt FROM @stage", _tables(spark), stages)


def test_copy_rejects_a_column_count_mismatch_when_the_format_says_so(spark, tmp_path):
    stages = _mismatch_stage(tmp_path)
    tables = _tables(spark)
    out = copy_statement(
        spark,
        "COPY INTO tgt FROM @stage FILE_FORMAT = (TYPE = 'CSV',"
        " ERROR_ON_COLUMN_COUNT_MISMATCH = TRUE) ON_ERROR = CONTINUE",
        tables, stages,
    ).collect()
    assert [(r.status, r.rows_parsed, r.rows_loaded, r.errors_seen) for r in out] == [
        ("PARTIALLY_LOADED", 5, 1, 4)
    ]
    assert [tuple(r) for r in tables["tgt"].collect()] == [(1, "x", 5)]


def test_pending_file_count_uses_the_copy_listing(spark, tmp_path):
    """An upload in flight (a dotfile) and a subdirectory are not stage
    files: COPY never loads them, so the pipe does not count them."""
    landing = tmp_path / "landing"
    (landing / "sub").mkdir(parents=True)
    (landing / "sub" / "nested.csv").write_text("customer_id\nC9\n")
    (landing / ".upload.csv.tmp").write_text("customer_id\nC8\n")
    (landing / "a.csv").write_text("customer_id\nC1\n")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    table = wh.table("stg", "stg_customer", CF.CUSTOMER_STAGE)
    pipe = Pipe(spark, "p", str(landing), table, CF.CUSTOMER_STAGE)
    assert pipe.status()["pendingFileCount"] == 1
    assert pipe.refresh() == 1
    assert pipe.status()["pendingFileCount"] == 0
    assert [r.customer_id for r in table.read().collect()] == ["C1"]
