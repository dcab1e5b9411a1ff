"""End-to-end flagship plan: resume idempotence, lineage completeness,
skew split round-trip, classifier parity with its DuckDB oracle.
"""

import pytest
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark.datagen import (
    derive_spans_from_documents,
    interleaved_docs,
)
from cloud_ocr_summarizer_spark.operators.classify import (
    classify_spans,
    main_content_rows,
)
from cloud_ocr_summarizer_spark.operators.extract import extract_span_rows, extract_spans
from cloud_ocr_summarizer_spark.operators.skew import (
    reassemble_chunks,
    split_heavy_docs,
)
from cloud_ocr_summarizer_spark.plans.flagship import run_flagship
from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink, pending_docs


def test_resume_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = interleaved_docs(spark, 60, seed=42)

    # first run: everything
    r1 = run_flagship(spark, docs, output_root=out, lineage_root=str(tmp_path / "lin"))
    assert r1.docs_written == 60

    # second run over the same input: nothing pending
    r2 = run_flagship(spark, docs, output_root=out)
    assert r2.docs_written == 0 and r2.snapshot_id is None

    committed = SnapshotSink(out).read_committed(spark)
    assert committed.count() == 60
    assert committed.select("doc_id").distinct().count() == 60  # no dupes


def test_resume_after_partial_run(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = interleaved_docs(spark, 50, seed=42)
    first_half = docs.filter(F.col("doc_id") < "doc_000000000025")

    r1 = run_flagship(spark, first_half, output_root=out)
    assert r1.docs_written == 25

    # "restart" with the full input: only the other 25 are pending
    pend = pending_docs(docs, SnapshotSink(out), spark)
    assert pend.count() == 25
    r2 = run_flagship(spark, docs, output_root=out)
    assert r2.docs_written == 25

    committed = SnapshotSink(out).read_committed(spark)
    assert committed.select("doc_id").distinct().count() == 50
    assert committed.count() == 50


def test_lineage_covers_all_docs_and_spans(spark, tmp_path):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    docs = interleaved_docs(spark, 80, seed=42)
    run_flagship(spark, docs, output_root=out, lineage_root=lin, repartition_to=6)

    lineage = SnapshotSink(lin).read_committed(spark)
    rows = lineage.collect()
    assert all(r["wall_time_s"] >= 0 for r in rows)
    committed = SnapshotSink(out).read_committed(spark)
    total_spans = committed.select(F.sum(F.size("spans_out"))).first()[0]
    assert sum(r["doc_count"] for r in rows) == 80
    assert sum(r["span_count"] for r in rows) == total_spans
    assert sum(r["bytes"] for r in rows) > 0


@pytest.mark.parametrize("with_start", [False, True])
def test_lineage_wall_time_covers_compute(spark, tmp_path, with_start):
    """wall_time_s covers compute below the cache: each partition runs
    10 rows x 20 ms of JVM sleep before its end clock, timed from the
    carried start clock or, without one, from its first output row."""
    from cloud_ocr_summarizer_spark import lineage
    from cloud_ocr_summarizer_spark.plans.flagship import commit_snapshot

    rows = spark.range(0, 40, 1, 4).withColumnRenamed("id", "doc_id")
    if with_start:
        rows = lineage.stamp_start(rows)
    out = rows.withColumn(
        "slept",
        F.reflect(F.lit("java.lang.Thread"), F.lit("sleep"), F.lit(20).cast("long")),
    )
    sink, lin = SnapshotSink(str(tmp_path / "out")), SnapshotSink(str(tmp_path / "lin"))
    r = commit_snapshot(
        out,
        run_id="sleep",
        sink=sink,
        lineage_sink=lin,
        span_count=F.lit(1),
        span_bytes=F.lit(0),
    )
    assert r.docs_written == 40
    got = lin.read_committed(spark).collect()
    assert len(got) == 4
    assert all(g["wall_time_s"] >= 0.15 for g in got), [g["wall_time_s"] for g in got]
    # the snapshot is written without the lineage helper columns
    assert sink.read_committed(spark).columns == ["doc_id", "slept"]


def test_lineage_has_a_row_for_every_output_partition(spark, tmp_path):
    """One lineage row per output partition, empty ones included: the
    JVM groupBy only returns non-empty partitions, the commit fills in
    the rest as 0-doc, 0.0 s rows."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    docs = interleaved_docs(spark, 5, seed=42)
    r = run_flagship(spark, docs, output_root=out, lineage_root=lin, repartition_to=12)

    rows = SnapshotSink(lin).read_committed(spark).collect()
    assert sorted(x["partition_id"] for x in rows) == list(range(12))
    stamps = {(x["run_id"], x["snapshot_id"]) for x in rows}
    assert stamps == {(r.run_id, r.snapshot_id)}
    assert sum(x["doc_count"] for x in rows) == 5
    empty = [x for x in rows if x["doc_count"] == 0]
    assert len(empty) >= 7
    assert all(
        (x["span_count"], x["bytes"], x["wall_time_s"]) == (0, 0, 0.0) for x in empty
    )


def test_lineage_aggregate_runs_no_python(spark):
    """The lineage pass over the flagship's output is a JVM aggregate:
    no Python node anywhere in its executed plan."""
    from cloud_ocr_summarizer_spark.lineage import partition_metrics
    from cloud_ocr_summarizer_spark.operators.skew import salted_repartition
    from cloud_ocr_summarizer_spark.plans.flagship import span_octets

    docs = salted_repartition(interleaved_docs(spark, 40, seed=42), 6)
    metrics = partition_metrics(
        extract_spans(docs, with_stats=False),
        run_id="plan",
        span_count=F.size("spans_out"),
        span_bytes=span_octets(),
    )
    plan = metrics._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node
    assert "HashAggregate" in plan
    assert sum(x["doc_count"] for x in metrics.collect()) == 40


def test_split_heavy_docs_round_trip(spark):
    docs = interleaved_docs(spark, 20, seed=7).filter(F.size("spans") > 0)
    chunked = split_heavy_docs(docs, max_spans_per_chunk=3)
    # all chunks bounded
    assert chunked.select(F.max(F.size("spans"))).first()[0] <= 3
    # reassemble raw chunks and re-extract: must equal direct extraction
    merged = reassemble_chunks(
        chunked.withColumnRenamed("spans", "spans_out"), spans_col="spans_out"
    ).withColumnRenamed("spans_out", "spans")
    direct = {
        r["doc_id"]: [tuple(s) for s in r["spans_out"]]
        for r in extract_spans(docs, with_stats=False).collect()
    }
    via_chunks = {
        r["doc_id"]: [tuple(s) for s in r["spans_out"]]
        for r in extract_spans(merged, with_stats=False).collect()
    }
    assert via_chunks == direct


# (text, content_score, is_content) as the DuckDB main_content oracle
# scores them: its \s is ASCII, so none of these separators split tokens
UNICODE_WS_SCORES = [
    ("alpha\xa0beta\xa0gamma\xa0delta", 4852, False),
    ("alpha\u2003beta\u2003gamma", 4875, False),
    ("a\x1cb\x1cc d", 4678, False),
    ("visit\xa0http://x.y\xa0now ok", 3228, False),
    ("x\u3000y\u3000z w", 4678, False),
    ("one\u2028two three", 5096, False),
    ("\x85next line here", 5241, True),
    ("caf\xe9 na\xefve r\xe9sum\xe9 text", 5136, True),
    ("plain words only here", 5500, True),
]


def test_classifier_matches_oracle_on_unicode_whitespace(spark):
    rows = spark.createDataFrame(
        [(i, 1, "TEXT", t, None, 0) for i, (t, _, _) in enumerate(UNICODE_WS_SCORES)],
        "doc_id long, seq int, kind string, text string, media_ref string, offset int",
    )
    got = {
        r["doc_id"]: (r["text"], r["content_score"], r["is_content"])
        for r in classify_spans(rows).collect()
    }
    assert [got[i] for i in range(len(UNICODE_WS_SCORES))] == UNICODE_WS_SCORES


def test_main_content_rows_match_oracle(spark, oracle_equal):
    from tests.test_plans import SF

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = main_content_rows(extract_span_rows(derive_spans_from_documents(docs)))
    res = oracle_equal(out, "main_content", SF)
    assert res["spark_rows"] > 0


def test_scd2_apply(spark):
    from cloud_ocr_summarizer_spark.operators.merge import scd2_apply

    history = spark.createDataFrame(
        [
            (1, "a-v1", 100, 200),
            (1, "a-v2", 200, None),
            (2, "b-v1", 100, None),
            (3, "c-v1", 100, None),
        ],
        "k int, payload string, valid_from int, valid_to int",
    )
    changes = spark.createDataFrame(
        [(1, "a-v3", 300), (4, "d-v1", 300)], "k int, payload string, change_ts int"
    )
    out = scd2_apply(history, changes, key="k", change_ts_col="change_ts")
    rows = {(r["k"], r["payload"]): (r["valid_from"], r["valid_to"]) for r in out.collect()}
    assert rows[(1, "a-v1")] == (100, 200)       # old history untouched
    assert rows[(1, "a-v2")] == (200, 300)       # current row closed
    assert rows[(1, "a-v3")] == (300, None)      # new version current
    assert rows[(2, "b-v1")] == (100, None)      # untouched key stays current
    assert rows[(4, "d-v1")] == (300, None)      # brand-new key inserted
    assert len(rows) == 6


def test_salted_repartition_spreads_hot_key(spark):
    from cloud_ocr_summarizer_spark.operators.skew import salted_repartition

    hot = spark.range(0, 1000).select(
        F.lit("hot-doc").alias("doc_id"), F.col("id").alias("payload")
    )
    plain = hot.repartition(8, "doc_id").select(
        F.spark_partition_id().alias("p")
    ).distinct().count()
    salted = salted_repartition(hot, 8, key="doc_id", salt_buckets=8).select(
        F.spark_partition_id().alias("p")
    ).distinct().count()
    assert plain == 1          # hash partitioning serializes the hot key
    assert salted > 1          # salt fans it out


def test_compact_snapshots_preserves_data_and_resume(spark, tmp_path):
    import os

    from cloud_ocr_summarizer_spark.sources.checkpoint import (
        SnapshotSink,
        pending_docs,
    )

    sink = SnapshotSink(str(tmp_path / "sink"))
    all_docs = interleaved_docs(spark, 30, seed=11)
    ids = [r["doc_id"] for r in all_docs.select("doc_id").collect()]
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        batch = all_docs.filter(F.col("doc_id").isin(ids[lo:hi]))
        sink.append(extract_spans(batch, with_stats=False))
    assert len(sink.snapshots()) == 3

    before = sorted(
        map(tuple, sink.read_committed(spark).select("doc_id").collect())
    )
    base = sink.compact_snapshots(spark, keep_last=1)
    assert base is not None
    assert len(sink.snapshots()) == 2  # compacted base + last
    after = sorted(
        map(tuple, sink.read_committed(spark).select("doc_id").collect())
    )
    assert after == before  # committed rows unchanged

    # resume still sees nothing pending
    assert pending_docs(all_docs, sink, spark).count() == 0
    # old snapshot dirs actually deleted; manifest paths all exist
    assert all(os.path.exists(s["path"]) for s in sink.snapshots())
    # idempotent when nothing to compact beyond keep_last
    assert sink.compact_snapshots(spark, keep_last=2) is None


def test_compact_snapshots_twice_is_safe(spark, tmp_path):
    """Regression: re-compacting must not overwrite its own input (the
    unique-output-dir + <2-to-merge guard), and keep_last=0 is rejected."""
    import pytest as _pytest

    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "sink2"))
    docs = interleaved_docs(spark, 30, seed=13)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        sink.append(docs.filter(F.col("doc_id").isin(ids[lo:hi])))

    assert sink.compact_snapshots(spark, keep_last=1) is not None
    n1 = sink.read_committed(spark).count()
    # second call: only [compacted, last] remain -> nothing to merge
    assert sink.compact_snapshots(spark, keep_last=1) is None
    assert sink.read_committed(spark).count() == n1  # no data loss
    with _pytest.raises(ValueError):
        sink.compact_snapshots(spark, keep_last=0)


def test_compaction_invalidates_interior_cursors(spark, tmp_path):
    """A cursor strictly inside the compacted range would re-receive rows
    it already consumed — read_since must refuse it; cursors at the base,
    after it, or at epoch stay valid."""
    import pytest as _pytest

    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "sink3"))
    docs = interleaved_docs(spark, 30, seed=17)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    sids = []
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        sids.append(sink.append(docs.filter(F.col("doc_id").isin(ids[lo:hi]))))

    base = sink.compact_snapshots(spark, keep_last=1)
    assert base == sids[1]  # newest merged id becomes the base

    # interior cursor (first merged snapshot): would duplicate rows -> raise
    with _pytest.raises(ValueError, match="predates the compacted base"):
        sink.read_since(spark, sids[0])
    # cursor at the base: only the last (unmerged) snapshot remains
    assert sink.read_since(spark, base).count() == 10
    # epoch cursor: full exactly-once re-read is always valid
    assert sink.read_since(spark, 0).count() == 30


def test_raw_debug_sink_gated(spark, tmp_path):
    """S6 raw-response debug sink: when configured, the RAW pre-extraction
    spans of exactly the processed docs are committed to a second sink
    under the same run_id; when off (default), nothing is written."""
    import os

    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

    docs = interleaved_docs(spark, 20, seed=23)

    # gated OFF: no raw dir appears
    off_out = str(tmp_path / "off_out")
    run_flagship(spark, docs, output_root=off_out)
    assert not os.path.exists(str(tmp_path / "off_raw"))

    # gated ON: raw sink holds the input rows for this run's docs
    out = str(tmp_path / "on_out")
    raw_root = str(tmp_path / "on_raw")
    res = run_flagship(spark, docs, output_root=out, raw_debug_root=raw_root)
    raw_sink = SnapshotSink(raw_root)
    snaps = raw_sink.snapshots()
    assert len(snaps) == 1
    assert snaps[0]["run_id"] == res.run_id
    raw = raw_sink.read_committed(spark)
    assert raw.count() == 20
    # raw rows are the INPUT schema (unextracted spans), same doc set
    assert set(raw.columns) == set(docs.columns)
    got = {r["doc_id"] for r in raw.select("doc_id").collect()}
    want = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert got == want

    # resume: second run processes nothing -> no new raw snapshot
    run_flagship(spark, docs, output_root=out, raw_debug_root=raw_root)
    assert len(raw_sink.snapshots()) == 1


def test_transient_task_failure_exactly_once(tmp_path):
    """U4: a transient failure in every task's first attempt of the UDF
    stage must be absorbed by Spark task retries (local[4,2]) and leave
    EXACTLY-ONCE committed output — no duplicates, no missing docs.
    Runs in a child process because the shared session has no retries."""
    import subprocess
    import sys as _sys

    out = str(tmp_path / "u4_sink")
    proc = subprocess.run(
        [_sys.executable, str(__import__("pathlib").Path(__file__).parent / "failure_injection_job.py"), out],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the injected failures actually happened (visible in executor logs)
    assert "injected transient failure" in (proc.stderr + proc.stdout)
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")][-1]
    kv = dict(p.split("=") for p in line.removeprefix("RESULT ").split())
    assert kv["committed"] == kv["expected"]  # no loss, no duplication
    assert kv["distinct_docs"] == "40"
    assert kv["pending"] == "0"  # resume filter sees everything done


def test_iceberg_sink_gate_and_surface(spark, tmp_path):
    """The Iceberg sink is the documented one-class swap: same method
    surface as SnapshotSink, availability honestly gated on the runtime
    jar (absent in this sandbox -> available() is False and the flagship
    keeps using the parquet stand-in by default)."""
    import pytest as _pytest

    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink
    from cloud_ocr_summarizer_spark.sources.iceberg import IcebergSnapshotSink

    # drop-in surface parity with the tested stand-in
    for method in ("append", "read_committed", "read_since", "snapshots",
                   "compact_snapshots"):
        assert callable(getattr(IcebergSnapshotSink, method))
        assert callable(getattr(SnapshotSink, method))

    if not IcebergSnapshotSink.available(spark):
        _pytest.skip("no Iceberg runtime in this environment (expected)")

    # on a real deployment this exercises the actual Iceberg path
    sink = IcebergSnapshotSink("local.db.t_pipeline_test")
    docs = interleaved_docs(spark, 10, seed=3)
    res = run_flagship(spark, docs, output_root=str(tmp_path), sink=sink)
    assert res.docs_written == 10


def test_run_crawl_plan_job_end_to_end(spark, tmp_path):
    """jobs/run_crawl_plan.py: the spark-submit crawl-planning entry
    runs URL parse -> redirect fold-in -> blocklist -> robots -> budget
    in a child process (its own vanilla session) and lands all three
    output tables."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    from cloud_ocr_summarizer_spark.operators.redirects import (
        derive_redirects_from_parsed_urls,
    )
    from cloud_ocr_summarizer_spark.operators.robotstxt import (
        derive_robots_txt_from_documents,
    )
    from cloud_ocr_summarizer_spark.operators.urls import (
        derive_urls_from_documents,
        parse_urls,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    urls_p = str(tmp_path / "urls")
    robots_p = str(tmp_path / "robots")
    edges_p = str(tmp_path / "edges")
    out = str(tmp_path / "plan_out")
    raw_urls = derive_urls_from_documents(docs)
    raw_urls.write.parquet(urls_p)
    parsed = parse_urls(raw_urls)
    derive_robots_txt_from_documents(docs, parsed_urls=parsed).write.parquet(robots_p)
    derive_redirects_from_parsed_urls(parsed).write.parquet(edges_p)

    job = Path(__file__).parent.parent / "jobs" / "run_crawl_plan.py"
    proc = subprocess.run(
        [_sys.executable, str(job), "--urls", urls_p, "--robots", robots_p,
         "--redirects", edges_p, "--output", out],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "frontier_hosts=" in proc.stdout

    frontier = spark.read.parquet(f"{out}/frontier")
    assert frontier.count() > 0
    assert {"host", "n_urls", "est_fetch_seconds"} <= set(frontier.columns)
    roll = spark.read.parquet(f"{out}/redirects")
    assert roll.agg(F.sum("n_dropped_chains")).first()[0] > 0
    audit = spark.read.parquet(f"{out}/ledger_audit").first()
    assert audit.n_multi_src == 0 and audit.n_src_urls > 0
