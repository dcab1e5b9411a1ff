"""The three benchmark workloads: seeded inputs, one job call, output check.

Each workload owns a directory under the work root:

    <dir>/input            generated input table (parquet)
    <dir>/state            committed sink state restored before each run
                           (flagship_resume only)
    <dir>/runs/<i>/...     one job call's output and lineage sinks

Inputs and committed state are built once, before any timed call.  The
jobs see only the generated tables, read as ``jobs/run_extract*.py`` read
them (``spark.read.parquet``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_ocr_summarizer_spark import oracle
from cloud_ocr_summarizer_spark.datagen import (
    derive_classified_html_from_documents,
    derive_spans_from_documents,
    interleaved_docs,
)
from cloud_ocr_summarizer_spark.operators.dom import extract_html_classified
from cloud_ocr_summarizer_spark.operators.extract import extract_spans
from cloud_ocr_summarizer_spark.operators.layout import blocks_rowlocal_col
from cloud_ocr_summarizer_spark.operators.skew import salted_repartition
from cloud_ocr_summarizer_spark.plans.compare import compare_query
from cloud_ocr_summarizer_spark.plans.extract_web import (
    extract_web_documents_classified_fused,
    run_web,
)
from cloud_ocr_summarizer_spark.plans.flagship import run_flagship
from cloud_ocr_summarizer_spark.plans.oracles import ORACLES
from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink, pending_docs

# --repartition of the shipped flagship job, scaled to local[4]
REPARTITION_TO = 8
# committed snapshots of the resume workload's prepared state
RESUME_SNAPSHOTS = 4
# docs per flagship output check besides the edge and skew docs
CHECK_SAMPLE = 48


@dataclass
class Run:
    """Sink roots of one job call."""

    index: int
    out: str
    lineage: str


def noop(df: DataFrame) -> None:
    """Force a DataFrame through Spark's ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def _run_snapshot(out_root: str, run_id: str) -> dict | None:
    snaps = [s for s in SnapshotSink(out_root).snapshots() if s["run_id"] == run_id]
    return snaps[0] if len(snaps) == 1 else None


def _lineage_problems(spark: SparkSession, run: Run, result) -> list[str]:
    snap = _run_snapshot(run.lineage, result.run_id)
    if snap is None:
        return ["no lineage snapshot for the run"]
    docs = spark.read.parquet(snap["path"]).agg(F.sum("doc_count")).first()[0]
    if docs != result.docs_written:
        return [f"lineage doc_count {docs} != docs written {result.docs_written}"]
    return []


class Workload:
    """Shared run-directory handling; subclasses define the job."""

    name = ""

    def __init__(self, root: str, n_docs: int) -> None:
        self.dir = os.path.join(root, self.name)
        self.input_path = os.path.join(self.dir, "input")
        self.n_docs = n_docs
        self.n_pending = n_docs

    def prepare(self, index: int) -> Run:
        base = os.path.join(self.dir, "runs", str(index))
        shutil.rmtree(base, ignore_errors=True)
        return Run(index, os.path.join(base, "out"), os.path.join(base, "lineage"))

    def cleanup(self, run: Run) -> None:
        shutil.rmtree(os.path.join(self.dir, "runs", str(run.index)), ignore_errors=True)

    def read_input(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.input_path)

    def close(self) -> None:
        """Release what ``build`` opened outside Spark."""


class FlagshipWorkload(Workload):
    """``run_flagship`` with ``repartition_to`` and lineage, into an
    empty sink (cold) or into a restored, mostly committed sink (resume)."""

    def __init__(self, root: str, n_docs: int, *, resume: bool) -> None:
        self.name = "flagship_resume" if resume else "flagship_cold"
        super().__init__(root, n_docs)
        self.resume = resume
        self.state_root = os.path.join(self.dir, "state")
        self.sample_ids: list[str] = []
        self._manifest = b""

    # -- inputs ------------------------------------------------------------
    def _pending_col(self, seed: int):
        """Docs left to process in the resume state: ~10% by hash, plus
        the edge docs 0-3 and the skew cluster so the check sees them."""
        n = F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long")
        return (
            (n < 4)
            | (F.pmod(n, F.lit(1000)) == 7)
            | (F.pmod(F.xxhash64("doc_id", F.lit(seed), F.lit("pending")), F.lit(10)) == 0)
        )

    def build(self, spark: SparkSession, seed: int) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        interleaved_docs(spark, self.n_docs, seed=seed).write.parquet(self.input_path)
        docs = self.read_input(spark)
        # edge docs 0-3, the first skew-cluster docs, a seeded sample
        ids = [0, 1, 2, 3] + list(range(7, self.n_docs, 1000))[:6]
        rng = random.Random(seed)
        ids += rng.sample(range(self.n_docs), min(CHECK_SAMPLE, self.n_docs))
        if not self.resume:
            self.sample_ids = sorted({f"doc_{k:012d}" for k in ids})
            return
        pending = self._pending_col(seed)
        bucket = F.pmod(F.xxhash64("doc_id", F.lit("snap")), F.lit(RESUME_SNAPSHOTS))
        for k in range(RESUME_SNAPSHOTS):
            run_flagship(
                spark,
                docs.where(~pending & (bucket == k)),
                output_root=self.state_root,
                repartition_to=REPARTITION_TO,
            )
        pending_ids = {
            r.doc_id
            for r in docs.where(pending).select("doc_id").collect()
        }
        self.n_pending = len(pending_ids)
        self.sample_ids = sorted({f"doc_{k:012d}" for k in ids} & pending_ids)
        with open(os.path.join(self.state_root, "manifest.json"), "rb") as f:
            self._manifest = f.read()

    # -- one job call --------------------------------------------------------
    def prepare(self, index: int) -> Run:
        run = super().prepare(index)
        if self.resume:
            self.restore()
            run.out = self.state_root
        return run

    def restore(self) -> None:
        """Return the resume sink to its prepared committed state: the
        saved manifest, and no snapshot directory it does not list."""
        with open(os.path.join(self.state_root, "manifest.json"), "wb") as f:
            f.write(self._manifest)
        keep = {
            os.path.basename(s["path"])
            for s in json.loads(self._manifest)["snapshots"]
        }
        for entry in os.listdir(self.state_root):
            if entry.startswith("snap=") and entry not in keep:
                shutil.rmtree(os.path.join(self.state_root, entry))

    def job(self, spark, run: Run, docs: DataFrame, sink=None, lineage_sink=None):
        return run_flagship(
            spark,
            docs,
            output_root=run.out,
            lineage_root=run.lineage,
            repartition_to=REPARTITION_TO,
            sink=sink,
            lineage_sink=lineage_sink,
        )

    # -- output check ----------------------------------------------------------
    def check(self, spark: SparkSession, run: Run, result) -> list[str]:
        """Span-sequence equality with ``oracle.extract_document`` on the
        sampled docs, plus exact written-doc and lineage counts."""
        snap = _run_snapshot(run.out, result.run_id)
        if snap is None:
            return ["no committed snapshot for the run"]
        written = spark.read.parquet(snap["path"])
        problems = []
        n = written.count()
        if n != self.n_pending or result.docs_written != self.n_pending:
            problems.append(
                f"wrote {n} docs (reported {result.docs_written}), "
                f"expected {self.n_pending}"
            )
        got = {
            r.doc_id: [tuple(s) for s in r.spans_out]
            for r in written.where(F.col("doc_id").isin(self.sample_ids))
            .select("doc_id", "spans_out")
            .collect()
        }
        source = {
            r.doc_id: r.spans
            for r in self.read_input(spark)
            .where(F.col("doc_id").isin(self.sample_ids))
            .collect()
        }
        for doc_id in self.sample_ids:
            want = oracle.extract_document(
                [s.asDict() for s in source[doc_id]], min_confidence=0.0
            )
            if got.get(doc_id) != want:
                problems.append(f"{doc_id}: spans differ from the oracle")
        return problems + _lineage_problems(spark, run, result)

    def output_counts(self, spark: SparkSession, run: Run, result) -> dict:
        snap = _run_snapshot(run.out, result.run_id)
        spans = (
            spark.read.parquet(snap["path"]).agg(F.sum(F.size("spans_out"))).first()[0]
        )
        return {"extract.spans_out": int(spans or 0)}

    # -- layers ------------------------------------------------------------------
    def layer_chain(self, spark: SparkSession, run: Run, docs: DataFrame):
        """(layer metric, DataFrame, base metric) along the job's path.
        Each DataFrame extends its base's; the layer's time is its noop
        time minus its base's."""
        todo = pending_docs(docs, SnapshotSink(run.out), spark)
        repart = salted_repartition(todo, REPARTITION_TO)
        return [
            ("input", docs, None),
            ("checkpoint.pending_s", todo, "input"),
            ("skew.repartition_s", repart, "checkpoint.pending_s"),
            ("extract.s", extract_spans(repart, min_confidence=0.0), "skew.repartition_s"),
        ]


def documents_from_interleaved(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """documents-shaped (doc_id long, text, source) rows derived from
    ``datagen.interleaved_docs``: the span texts joined in array order,
    the numeric suffix of the generated id, a hashed source label."""
    docs = interleaved_docs(spark, n_docs, seed=seed)
    text = F.array_join(
        F.filter(F.transform("spans", lambda s: s["text"]), lambda t: t.isNotNull()),
        " ",
    )
    source = F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id", F.lit("src")), F.lit(20)))
    return docs.select(
        F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long").alias("doc_id"),
        text.alias("text"),
        source.alias("source"),
    )


class WebWorkload(Workload):
    """``run_web`` with the classified fused pipeline and lineage, no
    repartition, into an empty sink."""

    name = "web_classified"

    def __init__(self, root: str, n_docs: int) -> None:
        super().__init__(root, n_docs)
        self._duck = None

    def build(self, spark: SparkSession, seed: int) -> None:
        import duckdb

        shutil.rmtree(self.dir, ignore_errors=True)
        documents_from_interleaved(spark, self.n_docs, seed).write.parquet(
            self.input_path
        )
        con = duckdb.connect()
        con.sql("SET threads TO 4")
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{self.input_path}/*.parquet')"
        )
        con.sql(
            "CREATE TABLE expected AS " + ORACLES["extract_web_classified_fused"]
        )
        self._duck = con

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None

    def job(self, spark, run: Run, docs: DataFrame, sink=None, lineage_sink=None):
        return run_web(
            spark,
            docs,
            output_root=run.out,
            lineage_root=run.lineage,
            pipeline=extract_web_documents_classified_fused,
            sink=sink,
            lineage_sink=lineage_sink,
        )

    def check(self, spark: SparkSession, run: Run, result) -> list[str]:
        """The committed snapshot equals the DuckDB oracle
        ``extract_web_classified_fused`` (``plans.compare.compare_query``)."""
        snap = _run_snapshot(run.out, result.run_id)
        if snap is None:
            return ["no committed snapshot for the run"]
        cmp = compare_query(
            spark.read.parquet(snap["path"]), self._duck, "SELECT * FROM expected"
        )
        problems = []
        if not cmp["values_match"] or cmp["kind_mismatches"]:
            summary = {k: cmp[k] for k in ("spark_rows", "duck_rows", "cols_match", "kind_mismatches")}
            problems.append(f"output differs from the DuckDB oracle: {summary}")
        if result.docs_written != self.n_docs:
            problems.append(f"wrote {result.docs_written} docs, expected {self.n_docs}")
        return problems + _lineage_problems(spark, run, result)

    def output_counts(self, spark: SparkSession, run: Run, result) -> dict:
        snap = _run_snapshot(run.out, result.run_id)
        r = spark.read.parquet(snap["path"]).agg(
            F.sum("n_spans").alias("spans"),
            F.sum("n_html_blocks").alias("blocks"),
            F.sum("n_html_dropped").alias("dropped"),
        ).first()
        return {
            "extract.spans_out": int(r.spans or 0),
            "dom.blocks_dropped_frac": (r.dropped or 0) / r.blocks if r.blocks else 0.0,
        }

    def layer_chain(self, spark: SparkSession, run: Run, docs: DataFrame):
        todo = pending_docs(docs, SnapshotSink(run.out), spark)
        spans = extract_spans(derive_spans_from_documents(todo), with_stats=False)
        html = derive_classified_html_from_documents(todo)
        return [
            ("input", docs, None),
            ("checkpoint.pending_s", todo, "input"),
            ("dom.s", extract_html_classified(html), "checkpoint.pending_s"),
            ("extract.s", spans, "checkpoint.pending_s"),
            ("layout.s", spans.select("doc_id", blocks_rowlocal_col("spans_out")), "extract.s"),
        ]


def make_workload(name: str, root: str, n_docs: int | None = None) -> Workload:
    """The named workload at its benchmark size (or ``n_docs``)."""
    if name == "flagship_cold":
        return FlagshipWorkload(root, n_docs or 80_000, resume=False)
    if name == "flagship_resume":
        return FlagshipWorkload(root, n_docs or 200_000, resume=True)
    if name == "web_classified":
        return WebWorkload(root, n_docs or 15_000)
    raise ValueError(f"unknown workload {name!r}")
