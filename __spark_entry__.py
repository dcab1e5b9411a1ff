"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction on sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator for the driver's DuckDB
cross-check (row count + schema + order-insensitive value hash at sf0.01).
Implementation lives in cloud_ocr_summarizer_spark/ — this module is only
the wiring.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession

from cloud_ocr_summarizer_spark.plans import oracles as _oracles
from cloud_ocr_summarizer_spark.plans import queries as _queries

# Pandas/Arrow UDF closures are pickled by module name, so WORKERS must
# import the package: ship it via addPyFile (audible RuntimeWarning on
# failure; no-op on Spark Connect).
from cloud_ocr_summarizer_spark.session import _ship_package


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    documents -> deterministic interleaved (doc_id, spans) -> row-local
    extraction (classify + assemble + offset-order) -> flat span rows.
    """
    _ship_package(spark)
    return _queries.q_extract_flagship(spark, "/root/testdata/sf0.001")


def _with_shipped(fn: Callable[[SparkSession, str], DataFrame]):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Batch order rotates per round so that EVERY query eventually gets a
    value-checked row in a committed CORRECTNESS_r*.json, not just a
    fixed prefix (the sweep checks a bounded number per round).  Rounds
    1-2 banked green rows for BATCH_1/UDF/2/3/4 and most of BATCH_5;
    round 3 leads with the never-yet-checked queries — BATCH_6 (the
    curation/relational additions) and BATCH_5's tail — per VERDICT r2
    item 1.  The full map is identical either way; tests/check_oracles
    cover all entries every round regardless of order.
    """
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for batch in (
        "BATCH_1",
        "BATCH_UDF",
        "BATCH_2",
        "BATCH_3",
        "BATCH_4",
        "BATCH_5",
        "BATCH_6",
        "BATCH_7",
        "BATCH_8",
        "BATCH_9",
    ):
        out.update(getattr(_queries, batch, {}))
    out.setdefault("events_daily", _queries.q_events_daily)
    ordered = _rotate_never_checked_first(out)
    return {name: _with_shipped(ordered[name]) for name in ordered}


def _rotate_never_checked_first(qmap: dict) -> dict:
    """Order the map so never-driver-green queries come first.

    Self-maintaining rotation: the committed CORRECTNESS_r*.json files
    record which queries the driver has value-checked green in any past
    round.  Queries without a green row (never in a window, or red) lead;
    already-banked greens follow in canonical batch order.  If the
    snapshots are unreadable (e.g. the contract module was copied out of
    the repo), the canonical order stands — every entry is still present
    either way, and tools/check_oracles.py covers all of them each round.
    """
    green: set[str] = set()
    try:
        import glob
        import json

        for path in sorted(glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))):
            with open(path) as fh:
                for name, row in json.load(fh).items():
                    value_green = (
                        row.get("rows_match")
                        and row.get("schema_match")
                        and row.get("hash_match", True)
                    )
                    # rows-only-by-design queries bank their (weaker)
                    # rows-only row the first time the driver records it
                    rows_only_recorded = (
                        row.get("err") == "no_oracle"
                        and (row.get("spark_rows") or 0) > 0
                    )
                    if value_green or rows_only_recorded:
                        green.add(name)
    except Exception:
        return dict(qmap)
    fresh = {k: v for k, v in qmap.items() if k not in green}
    banked = {k: v for k, v in qmap.items() if k in green}
    return {**fresh, **banked}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(_oracles.ORACLES)
