"""Robustness tests: malformed CSV rows are quarantined (dead-letter), not
fatal; typing survives junk values; the xlsx reader drops all-blank rows."""

import pytest

from tests.conftest import perfbench_module

GOOD_HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"
GOOD_ROW = "1;2021-03-01 10:00:00;100,50;1111 2222 3333 4444;PAYMENT;SUCCESS;A1234"
RAGGED_ROW = "2;2021-03-01 10:01:00;oops-only-three-fields"
GOOD_ROW2 = "3;2021-03-01 10:02:00;200,00;1111 2222 3333 4444;WITHDRAW;REJECT;P9999"


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "transactions_01032021.txt"
    p.write_text("\n".join([GOOD_HEADER, GOOD_ROW, RAGGED_ROW, GOOD_ROW2]) + "\n")
    return str(p)


def test_corrupt_rows_quarantined(spark, csv_file):
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.csv_source import (
        read_transactions_csv,
        split_corrupt,
    )

    clean, bad = split_corrupt(read_transactions_csv(spark, csv_file))
    assert clean.count() == 2
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "oops-only-three-fields" in bad_rows[0][0]


def test_typed_stage_on_junk_values(spark, tmp_path):
    """Junk amount/date become NULL after typing, not errors."""
    from etl_process_for_detecting_fraudulent_transactions_spark.plans.ingest import (
        typed_transactions,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.csv_source import (
        read_transactions_csv,
        split_corrupt,
    )

    p = tmp_path / "transactions_02032021.txt"
    p.write_text(
        GOOD_HEADER
        + "\n"
        + "9;not-a-date;not-an-amount;4444;PAYMENT;SUCCESS;A1\n"
    )
    clean, _ = split_corrupt(read_transactions_csv(spark, str(p)))
    row = typed_transactions(clean).collect()[0]
    assert row.trans_id == "9"
    assert row.trans_date is None
    assert row.amt is None


def test_failfast_mode_raises(spark, csv_file):
    from py4j.protocol import Py4JJavaError
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.csv_source import (
        read_transactions_csv,
    )

    with pytest.raises(Exception):
        read_transactions_csv(spark, csv_file, mode="FAILFAST").collect()


def test_xlsx_blank_row_handling(spark, tmp_path):
    """A blacklist workbook whose data rows are followed by all-blank rows
    (the reference's day-1 file has 17 of them, SURVEY §2.1 S2): the read
    keeps exactly the data rows."""
    import datetime as dt

    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import BLACKLIST_RAW
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.xlsx_source import (
        read_xlsx_df,
    )

    path = str(tmp_path / "passport_blacklist_01032021.xlsx")
    data = [[dt.datetime(2021, 2, d, 0, 0), f"{d:04d} {d:06d}"] for d in range(1, 8)]
    perfbench_module("corpus").write_xlsx(path, ["date", "passport"], data + [[None, None]] * 17)
    df = read_xlsx_df(spark, path, BLACKLIST_RAW)
    rows = df.selectExpr("date_format(date, 'yyyy-MM-dd HH:mm:ss')", "passport").collect()
    assert sorted(map(tuple, rows)) == [(f"{d:%Y-%m-%d %H:%M:%S}", p) for d, p in data]


def test_ndjson_corrupt_lines_quarantined(spark, tmp_path):
    """NDJSON dead-letter split: broken lines land whole in the rescue
    column; clean rows keep their explicit types; schema is never
    inferred (a string-typed doc_id would betray inference)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_process_for_detecting_fraudulent_transactions_spark.sources.json_source import (
        read_ndjson,
        split_corrupt,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": "NOT_A_NUMBER", "text": "gamma"}\n'
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    clean, bad = split_corrupt(read_ndjson(spark, str(p), schema))
    got = {(r.doc_id, r.text) for r in clean.collect()}
    assert got == {(1, "alpha"), (2, "beta")}
    assert clean.schema["doc_id"].dataType.typeName() == "long"
    bad_lines = [r["_corrupt_record"] for r in bad.collect()]
    assert len(bad_lines) == 2
    assert any("not json" in b for b in bad_lines)


def test_ndjson_failfast_raises(spark, tmp_path):
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from etl_process_for_detecting_fraudulent_transactions_spark.sources.json_source import (
        read_ndjson,
    )

    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1}\nnope\n')
    schema = StructType([StructField("doc_id", LongType())])
    with pytest.raises(Exception):
        read_ndjson(spark, str(p), schema, mode="FAILFAST").collect()
