from collections import namedtuple

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


GraphRound = namedtuple("GraphRound", "pin_keys plan pinned_joins executed")


def _pinned_join_shuffles(plan):
    """For each join in the JVM physical ``plan`` with a pinned
    (in-memory) side: (Exchanges or Sorts between the join and that
    scan, Exchanges on the other side).  The cached frame's own plan
    hangs off the scan and is not a child."""

    def nodes(p):
        yield p
        for i in range(p.children().size()):
            yield from nodes(p.children().apply(i))

    def path_ops(p):  # operators down to an in-memory scan, or None
        if p.nodeName() == "InMemoryTableScan":
            return []
        if "Join" in p.nodeName():  # that scan belongs to a nested join
            return None
        for i in range(p.children().size()):
            below = path_ops(p.children().apply(i))
            if below is not None:
                return [p.nodeName()] + below
        return None

    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out = []
    for j in nodes(plan):
        if "Join" not in j.nodeName() or j.children().size() != 2:
            continue
        sides = [j.children().apply(i) for i in range(2)]
        paths = [path_ops(c) for c in sides]
        if paths[0] is None and paths[1] is None:
            continue
        pinned = 0 if paths[0] is not None else 1
        other = sides[1 - pinned]
        out.append((
            sum(op in ("Exchange", "Sort") for op in paths[pinned]),
            sum(n.nodeName() == "Exchange" for n in nodes(other)),
        ))
    return out


@pytest.fixture
def graph_rounds(monkeypatch):
    """A list that gains one ``GraphRound`` per round the real graph
    operators run, in order: ``linkgraph.iterate_rounds`` is wrapped so
    each round's frame is planned as it is built (its pins cached, before
    it runs).  ``pin_keys`` are the keys the loop pinned its sides on,
    ``plan`` the physical plan string and ``pinned_joins`` what
    ``_pinned_join_shuffles`` finds in it; ``executed`` is the JVM plan
    itself, whose string shows the adaptive final plan once the round
    has run."""
    from cloud_ocr_summarizer_spark.operators import linkgraph

    real = linkgraph.iterate_rounds
    rounds = []

    def spy(pin, init, step, **kw):
        keys = [key for _, key in pin]

        def planned(i, state, *pinned):
            out = step(i, state, *pinned)
            plan = out._jdf.queryExecution().executedPlan()
            rounds.append(
                GraphRound(
                    keys, plan.toString(), _pinned_join_shuffles(plan), plan
                )
            )
            return out

        return real(pin, init, planned, **kw)

    monkeypatch.setattr(linkgraph, "iterate_rounds", spy)
    return rounds
