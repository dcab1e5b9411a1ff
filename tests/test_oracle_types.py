"""Oracle result-type lint: no DuckDB HUGEINT may reach an oracle's output.

DuckDB types ``sum(BIGINT)`` as HUGEINT, and HUGEINT converts to float64 in
pandas/Arrow result frames — so the driver's value hash sees ``6123456.0``
against Spark's int64 ``6123456`` and flags a mismatch even though the
values are equal.  Round 3 lost two driver rows (``train_split``,
``linestatus_priority_counts``) to exactly this.  Every integer aggregate
that reaches an oracle's output schema must be wrapped in
``CAST(... AS BIGINT/INT)``; this test makes the regression impossible to
reintroduce.  (Cheap by design: DuckDB-only, no Spark session.)
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from cloud_ocr_summarizer_spark.plans.compare import duckdb_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def oracle_types():
    con = duckdb_connection(SF_DIR)
    out = {}
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)
        out[name] = list(zip(rel.columns, [str(t) for t in rel.types]))
    con.close()
    return out


def test_no_hugeint_in_any_oracle_output(oracle_types):
    offenders = {
        name: [(c, t) for c, t in cols if "HUGEINT" in t]
        for name, cols in oracle_types.items()
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, (
        "HUGEINT reaches the output schema (pandas renders it float64, the "
        f"driver hash then mismatches Spark's int64): {offenders}"
    )


def test_every_query_has_oracle_or_is_known_rows_only():
    """The rows-only set is an explicit allow-list, not silent drift."""
    # dedup_minhash_lsh / dedup_simhash: banding-order-dependent pair
    # choice (their *_checked twins are value-checked); lineage_metrics:
    # wall-times not SQL-expressible.
    rows_only_by_design = {
        "dedup_minhash_lsh",
        "dedup_simhash",
        "lineage_metrics",
        # zlib has no SQL twin; values pinned in tests/test_textstats.py
        "compression_profile",
    }
    queries = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    missing = queries - oracles
    assert missing <= rows_only_by_design, (
        f"queries without an oracle beyond the documented rows-only set: "
        f"{sorted(missing - rows_only_by_design)}"
    )
    assert not (oracles - queries), f"orphan oracles: {sorted(oracles - queries)}"


# retired twins whose query names stay registered as aliases of the
# surviving plan (registry name -> canonical registry name)
ALIASES = {
    "html_main_content_simple": "html_main_content",
    "html_main_dense_simple": "html_main_dense",
    "html_main_density_simple": "html_main_density",
    "html_main_classified_simple": "html_main_classified",
    "extract_web": "extract_web_fused",
    "extract_web_classified": "extract_web_classified_fused",
    "extract_flagship_arrow": "extract_flagship_arrow_native",
    "main_content_fused": "main_content",
    "span_geometry_arrow": "span_geometry",
    "extract_deep_tree_arrow": "extract_deep_tree",
}


def test_retired_twin_names_alias_the_survivors():
    """Each alias keeps its ``queries()`` and ``oracle_sql()`` entries
    (so its banked CORRECTNESS rows stay valid), runs the canonical
    query's function, and the registry still has 195 names."""
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for alias, canonical in ALIASES.items():
        assert alias in queries and alias in oracles, alias
        assert queries[alias].__name__ == queries[canonical].__name__, alias
        assert oracles[alias] == oracles[canonical], alias
    assert len(queries) == 195
