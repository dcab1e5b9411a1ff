import pytest

from cloud_ocr_summarizer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # Small core count keeps test startup cheap; semantics are
    # partitioning-independent (asserted by the property tests).
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def oracle_equal():
    """``check(df, name, sf_dir)``: assert ``df`` matches the DuckDB oracle
    ``ORACLES[name]`` over the tables in ``sf_dir`` — the same row count,
    column, value and int/float-kind check as ``tools/check_oracles.py``.
    Returns the comparison dict."""
    from cloud_ocr_summarizer_spark.plans.compare import compare_query, duckdb_connection
    from cloud_ocr_summarizer_spark.plans.oracles import ORACLES

    def check(df, name, sf_dir):
        con = duckdb_connection(sf_dir)
        try:
            res = compare_query(df, con, ORACLES[name])
        finally:
            con.close()
        assert res["cols_match"] and res["rows_match"], res
        assert res["values_match"] and not res["kind_mismatches"], res
        return res

    return check
