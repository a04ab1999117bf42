"""Reference-parity golden test (SURVEY.md §5.2 item 3).

Recreates the reference's demo table (ETL_PROJECT.py:373-382) and checks
our pipeline's output cell-for-cell against the verified golden output of
actually running the reference (FIXTURES.md §2).
"""

from __future__ import annotations

import datetime

import pytest

from mini_etl_project_spark.plans.pipeline import AutoETLPipeline

DEMO = {
    "id": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
    "date_col": [
        "2023-01-01", "2023/02/15", "15-03-2023", "invalid", "2023.05.20",
        "20230101", "2023-07-04", "07/08/2023", "2023-09-10", "2023-12-25",
    ],
    "numeric_col": [
        "100.50", "200,75", "N/A", "300.25", "invalid",
        "400.50", "500.75", "600,25", "700.50", "800.75",
    ],
    "text_col": [
        "  John  ", "Mary", "N/A", " Bob ", "Alice",
        None, "Eve", "Charlie", "David", "Frank",
    ],
    "categorical_col": ["A", "B", "A", "C", "B", "A", "D", "B", "A", "E"],
    "mixed_col": [
        "100", "200", "text", "300", "400",
        "more text", "500", "600", "700", "800",
    ],
}

# FIXTURES.md §2 verified golden output (reference executed 2026-08-13).
GOLDEN = [
    (1.0, "2023-01-01", "100.50", "John", "A", 100.0),
    (2.0, "2023-02-15", "200,75", "Mary", "B", 200.0),
    (3.0, "2023-03-15", "100.50", "Alice", "A", 450.0),
    (4.0, "2023-01-01", "300.25", "Bob", "C", 300.0),
    (5.0, "2023-05-20", "invalid", "Alice", "B", 400.0),
    (6.0, "2023-01-01", "400.50", "Alice", "A", 450.0),
    (7.0, "2023-07-04", "500.75", "Eve", "D", 500.0),
    (8.0, "2023-08-07", "600,25", "Charlie", "B", 600.0),
    (9.0, "2023-09-10", "700.50", "David", "A", 700.0),
    (10.0, "2023-12-25", "800.75", "Frank", "E", 800.0),
]

EXPECTED_TYPES = {
    "id": "numeric",
    "date_col": "date",
    "numeric_col": "unknown",   # raw-value detection: 6/10 = 60 % ≤ 70 %
    "text_col": "unknown",      # mean length < 10
    "categorical_col": "unknown",  # unique_ratio 0.5 > 0.3
    "mixed_col": "numeric",     # 8/10 = 80 %
}


@pytest.fixture(scope="module")
def result(spark):
    import pandas as pd

    pipe = AutoETLPipeline()
    df = pipe.transform(spark.createDataFrame(pd.DataFrame(DEMO)))
    rows = sorted(df.collect(), key=lambda r: r["id"])
    return pipe, df, rows


def test_detected_types_match_reference(result):
    pipe, _, _ = result
    assert pipe.column_types == EXPECTED_TYPES


def test_golden_cells(result):
    _, df, rows = result
    assert df.columns == list(DEMO.keys())
    got = [
        (
            r["id"],
            r["date_col"].isoformat(),
            r["numeric_col"],
            r["text_col"],
            r["categorical_col"],
            r["mixed_col"],
        )
        for r in rows
    ]
    assert got == GOLDEN


def test_types_of_output(result):
    _, df, rows = result
    assert dict(df.dtypes)["id"] == "double"          # numerics coerce to float64
    assert dict(df.dtypes)["mixed_col"] == "double"
    assert dict(df.dtypes)["date_col"] == "date"
    assert isinstance(rows[0]["date_col"], datetime.date)


def test_summary_and_report(result):
    pipe, _, _ = result
    s = pipe.data_summary
    assert s["total_rows"] == 10
    assert s["total_columns"] == 6
    assert s["numeric_columns"]["mixed_col"]["min"] == 100.0
    assert s["numeric_columns"]["mixed_col"]["max"] == 800.0
    assert s["date_columns"]["date_col"]["min"] == datetime.date(2023, 1, 1)
    report = pipe.generate_report()
    assert "column: mixed_col" in report
    assert "median: 450.0" in report
