"""Composed web-extraction pipelines (plans/extract_web.py): the
north-rule job as one call — DOM strip + span extraction + layout parse,
one row per document.  These tests pin each pipeline against its DuckDB
oracle (plans/oracles.py ``extract_web`` / ``extract_web_classified``),
against its own single-operator branches, and the zero-Exchange plan
shape.
"""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _web(spark):
    from cloud_ocr_summarizer_spark.plans.extract_web import extract_web_documents_fused

    return extract_web_documents_fused(
        spark.read.parquet(f"{SF}/documents.parquet")
    )


def test_one_row_per_document_and_branch_consistency(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    web = _web(spark).cache()
    try:
        assert web.count() == docs.count()

        # DOM branch identical to the standalone query
        from cloud_ocr_summarizer_spark.plans import queries as Q

        dom = Q.q_html_main_content(spark, SF)
        assert (
            web.select("doc_id", "main_text", "n_tokens")
            .exceptAll(dom.select(F.col("doc_id").cast("long"), "main_text", "n_tokens"))
            .count()
            == 0
        )

        # layout branch consistent with the standalone reading-order twin
        ro = (
            Q.q_layout_reading_order_rowlocal(spark, SF)
            .groupBy(F.col("doc_id").cast("long").alias("doc_id"))
            .agg(
                F.count("*").cast("int").alias("n_blocks"),
                F.min(F.when(F.col("reading_seq") == 1, F.col("block_text"))).alias(
                    "first_block"
                ),
            )
        )
        assert (
            web.select("doc_id", "n_blocks", "first_block").exceptAll(ro).count() == 0
        )

        # media tagging: every document interleaves media spans
        row = web.agg(
            F.min("n_media").alias("lo"), F.max("n_spans").alias("hi")
        ).first()
        assert row["lo"] >= 0 and row["hi"] > 0
    finally:
        web.unpersist()


def test_empty_document_survives_both_variants(spark):
    """A document with no words has zero blocks; element_at(…, 1) on the
    empty block array would kill the whole JOB under ANSI mode (found on
    the 1M bench corpus — the sf testdata has no empty docs).  Both
    pipelines (strip and classified) must emit the row with zero counts
    and a NULL first_block."""
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
        extract_web_documents_fused,
    )

    docs = spark.createDataFrame(
        [(1, "", "s0"), (2, "   ", "s0"), (3, "some real words here", "s1")],
        "doc_id long, text string, source string",
    )
    for fn in (extract_web_documents_fused, extract_web_documents_classified_fused):
        got = {r["doc_id"]: r for r in fn(docs).collect()}
        assert set(got) == {1, 2, 3}, fn.__name__
        for d in (1, 2):
            r = got[d]
            assert (r["n_spans"], r["n_media"], r["n_blocks"]) == (0, 0, 0)
            assert r["first_block"] is None and r["main_text"] == ""
        assert got[3]["n_blocks"] > 0 and got[3]["first_block"] is not None


def test_run_web_idempotent_resume(spark, tmp_path):
    """Second run over the same input writes nothing; lineage totals
    cover exactly the committed docs (same contract as run_flagship)."""
    from cloud_ocr_summarizer_spark.plans.extract_web import run_web
    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")

    r1 = run_web(spark, docs, output_root=out, lineage_root=lin)
    assert r1.docs_written == 60 and r1.snapshot_id is not None

    r2 = run_web(spark, docs, output_root=out, lineage_root=lin)
    assert r2.docs_written == 0 and r2.snapshot_id is None
    # the no-op rerun commits no lineage snapshot either
    assert [s["run_id"] for s in SnapshotSink(lin).snapshots()] == [r1.run_id]

    committed = SnapshotSink(out).read_committed(spark)
    assert committed.count() == 60
    metrics = SnapshotSink(lin).read_committed(spark)
    rows = metrics.collect()
    assert {r["snapshot_id"] for r in rows} == {r1.snapshot_id}
    # wall time is measured in the task that computes each partition
    assert all(r["wall_time_s"] is not None and r["wall_time_s"] >= 0 for r in rows)
    agg = metrics.agg(
        F.sum("doc_count").alias("d"), F.sum("span_count").alias("s")
    ).first()
    assert agg["d"] == 60
    assert agg["s"] == committed.agg(F.sum("n_spans")).first()[0]


def test_fused_twin_zero_shuffle_and_equal(spark, oracle_equal):
    """The pipeline carries the row-local span/layout stats through the
    DOM Arrow stage: ONE documents scan, ZERO Exchanges, and rows equal
    to the DuckDB oracle."""
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_fused,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fused = extract_web_documents_fused(docs)
    p = fused._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert p.count("Scan parquet") == 1

    res = oracle_equal(fused, "extract_web", SF)
    assert res["spark_rows"] == docs.count()


def test_fused_twins_carry_the_lineage_start_clock(spark):
    """A start clock stamped on the docs rides through both fused twins
    to the output, in the same stage: still no Exchange."""
    from cloud_ocr_summarizer_spark import lineage
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
        extract_web_documents_fused,
    )

    docs = lineage.stamp_start(spark.read.parquet(f"{SF}/documents.parquet"))
    for make in (extract_web_documents_fused, extract_web_documents_classified_fused):
        out = make(docs)
        assert out.columns[-1] == lineage.START
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_classified_variant_one_row_and_empty_docs(spark):
    """The full-Readability-classifier composed pipeline: one row per
    document, classifier counts surface renamed (layout n_blocks is
    preserved), and zero-word docs survive under ANSI mode."""
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
    )

    docs = spark.createDataFrame(
        [
            (1, "", "s0"),
            (2, " ".join(f"w{i}" for i in range(16)), "s1"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: r for r in extract_web_documents_classified_fused(docs).collect()
    }
    assert set(got) == {1, 2}
    r1 = got[1]
    assert (r1["n_spans"], r1["n_media"], r1["n_blocks"]) == (0, 0, 0)
    assert r1["first_block"] is None and r1["main_text"] == ""
    assert r1["n_html_blocks"] == 0 and r1["n_html_dropped"] == 0
    r2 = got[2]
    assert r2["n_html_blocks"] == 2 and r2["n_spans"] > 0
    # doc 2 blocks: classes (2*31+0)%5=2 (fragment -> dropped) and
    # (2*31+1)%5=3 (plain 8 words -> kept)
    assert r2["n_html_dropped"] == 1
    assert r2["main_text"] == " ".join(f"w{i}" for i in range(8, 16))


def test_run_web_classified_pipeline_resume(spark, tmp_path):
    """The classified pipeline plugs into the same resume/lineage
    contract via run_web(pipeline=...): first run commits, rerun is a
    no-op, classifier columns survive the snapshot round trip."""
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
        run_web,
    )
    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    out = str(tmp_path / "out")

    r1 = run_web(
        spark, docs, output_root=out, pipeline=extract_web_documents_classified_fused
    )
    assert r1.docs_written == 40
    r2 = run_web(
        spark, docs, output_root=out, pipeline=extract_web_documents_classified_fused
    )
    assert r2.docs_written == 0

    committed = SnapshotSink(out).read_committed(spark)
    assert committed.count() == 40
    assert {"n_html_blocks", "n_html_dropped"} <= set(committed.columns)
    assert committed.agg(F.sum("n_html_dropped")).first()[0] > 0


def test_classified_fused_zero_shuffle_and_equal(spark, oracle_equal):
    """The classified pipeline: zero Exchanges, rows equal to the DuckDB
    oracle, and the classifier both drops and keeps blocks."""
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fused = extract_web_documents_classified_fused(docs)
    p = fused._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 0 and "Window" not in p
    res = oracle_equal(fused, "extract_web_classified", SF)
    assert res["spark_rows"] == 500
    row = fused.agg(F.sum("n_html_dropped"), F.sum("n_html_blocks")).first()
    assert 0 < row[0] < row[1]


def test_fused_plans_have_one_arrow_python_stage(spark):
    """Both fused pipelines: zero Exchanges, and the DOM kernel's
    MapInArrow is the plan's only Python stage (no MapInPandas, no
    Python UDF evaluation anywhere)."""
    import re

    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
        extract_web_documents_fused,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for make in (extract_web_documents_fused, extract_web_documents_classified_fused):
        p = make(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, make.__name__
        python_stages = re.findall(r"\b(?:MapIn\w+|\w*EvalPython\w*|\w*InPandas\w*)\b", p)
        assert python_stages == ["MapInArrow"], (make.__name__, python_stages)


def test_warm_pipeline_build_py4j_commands(spark):
    """A second build of the north-rule pipeline reuses the memoized
    Column trees (``functions.text.memo_col``): it sends at most 800
    py4j commands, not counting GC detach messages (first line ``m``),
    whose number varies run to run.  Rebuilding every tree costs
    ~3.4k."""
    import py4j.java_gateway as jg

    from cloud_ocr_summarizer_spark import lineage
    from cloud_ocr_summarizer_spark.plans.extract_web import (
        extract_web_documents_classified_fused,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def build():
        return extract_web_documents_classified_fused(lineage.stamp_start(docs))

    build()
    send = jg.GatewayClient.send_command
    commands = []

    def counting(self, command, *args, **kwargs):
        if command.split("\n", 1)[0] != "m":
            commands.append(command)
        return send(self, command, *args, **kwargs)

    jg.GatewayClient.send_command = counting
    try:
        build()
    finally:
        jg.GatewayClient.send_command = send
    assert len(commands) <= 800
