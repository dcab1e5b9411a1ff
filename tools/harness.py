#!/usr/bin/env python
"""One bench harness: cached corpora, warm best-of-N timing, separate-JVM
N->4N pairs, and recording to BENCH/<entry>.json + BENCH/BASELINE.md.

Usage:
  python tools/harness.py <entry> [--docs N[,N...]]

``<entry>`` is a name in ``ENTRIES``.  ``--docs`` replaces the entry's
sizes: every tier of a tier table, the pair size of an N->4N pair (the
first value, also for a tier table that carries a pair), and the corpus
scale of a bespoke A/B.  The session is ``get_spark``'s default
(``local[SPARK_GRAFT_CPUS]``, 32 when unset); corpora are cached as
parquet under ``SPARK_GRAFT_BENCH_CACHE`` (default /tmp/spark_graft_bench).

Protocol, shared by every entry:

* timing: one warm-up run, then the best of ``reps`` runs into the noop
  sink; the variants of one table are interleaved (A, B, A, B, ...) so
  host drift hits them alike; tiers above 4M docs take best-of-2;
* pairs: the same job in separate JVMs at local[2] (N) and local[8] (4N)
  on one cached input, alternating levels, best child per level;
  efficiency = (docs/s at 4N / docs/s at N) / 4.  Children run
  ``python tools/harness.py child <kind> <cores> <args...>`` and print
  one JSON line; a failed child raises with the tail of its stderr;
* recording: ``record`` writes the result as JSON and replaces the
  entry's BASELINE.md section (header, note, tables rendered from the
  result).  Every ``<p>docs_per_sec`` beside a ``<p>sec`` is re-derived
  from the rounded wall, so each table row recomputes exactly.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import textwrap
import time
from dataclasses import dataclass, field
from datetime import date
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
from pyspark.sql import DataFrame, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cloud_ocr_summarizer_spark import config  # noqa: E402
from cloud_ocr_summarizer_spark import datagen as D  # noqa: E402
from cloud_ocr_summarizer_spark.functions.hashing import hash_split_col  # noqa: E402
from cloud_ocr_summarizer_spark.functions.text import whitespace_tokens_col  # noqa: E402
from cloud_ocr_summarizer_spark.operators import (  # noqa: E402
    bow,
    bpe,
    dedup,
    dom,
    extract,
    extract_arrow_native,
    feeds,
    headmeta,
    htmltable,
    layout,
    linesclean,
    linkgraph,
    lm,
    pdfstream,
    redirects,
    robotstxt,
    sampling,
    similarity,
    sitemap,
    skew,
    textstats,
    urls,
    warc,
)
from cloud_ocr_summarizer_spark.plans.curate import (  # noqa: E402
    curate_documents,
    curate_documents_full,
)
from cloud_ocr_summarizer_spark.plans.extract_web import (  # noqa: E402
    extract_web_documents_classified_fused as classified_fused,
)

BENCH_DIR = os.path.join(REPO, "BENCH")


# --------------------------------------------------------------------------
# cached corpora
# --------------------------------------------------------------------------
def cache_dir() -> str:
    path = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/spark_graft_bench")
    os.makedirs(path, exist_ok=True)
    return path


def cache_path(name: str) -> str:
    return os.path.join(cache_dir(), f"{name}.parquet")


def cached(name: str, build: Callable[[], DataFrame]) -> str:
    """Path of the parquet cache ``name``; ``build()`` is written on first use."""
    path = cache_path(name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
    return path


def bench_docs(spark, n_docs: int) -> str:
    """The seeded interleaved-docs table (doc_id, spans) — the flagship
    extraction input.  The partition count depends on the size only, so
    the cache reads the same whatever session built it."""
    return cached(
        f"bench_docs_{n_docs}",
        lambda: D.interleaved_docs(
            spark, n_docs, seed=42, partitions=max(32, n_docs // 4000)
        ),
    )


def build_corpus(spark, n_docs: int) -> str:
    """documents-shaped (doc_id long, text, source) derived from the seeded
    interleaved docs: each doc's text spans joined by ' ', 20 sources."""

    def build():
        docs = D.interleaved_docs(spark, n_docs, seed=42)
        text = F.array_join(
            F.filter(
                F.transform(F.col("spans"), lambda s: s["text"]),
                lambda t: t.isNotNull(),
            ),
            " ",
        )
        source = F.concat(
            F.lit("src"), F.pmod(F.xxhash64("doc_id", F.lit("src")), F.lit(20))
        )
        # the documents table's doc_id is numeric: keep the 'doc_<n>' suffix
        return docs.select(
            F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long").alias("doc_id"),
            text.alias("text"),
            source.alias("source"),
        )

    return cached(f"docs_text_{n_docs}", build)


def with_synthetic_lang(docs: DataFrame) -> DataFrame:
    """Derived-corpus docs + a deterministic 5-way lang column (the URL
    synthesis and the BoW labels read one; the corpus carries none)."""
    return docs.withColumn(
        "lang",
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "es", "fr", "zh")]),
            (F.pmod(F.xxhash64("doc_id", F.lit("lang")), F.lit(5)) + 1).cast("int"),
        ),
    )


def _bpe_corpus(spark, n_docs: int) -> str:
    """Every word suffixed with hash(word, doc) % 4096: the generator's
    ~27-word lexicon becomes a ~10^5-word vocabulary, so the merge rounds
    run on a real distinct-word table."""

    def build():
        docs = spark.read.parquet(build_corpus(spark, n_docs))
        words = F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
            lambda w: w != F.lit(""),
        )
        suffixed = F.transform(
            words,
            lambda w: F.concat(
                w, F.lit("-"),
                F.pmod(F.xxhash64(w, F.col("doc_id")), F.lit(4096)).cast("string"),
            ),
        )
        return docs.select("doc_id", F.array_join(suffixed, " ").alias("text"))

    return cached(f"bpe_corpus_{n_docs}", build)


def _planted_corpus(spark, n_docs: int) -> str:
    """The text corpus with every doc_id % 4 == 0 replaced by its
    predecessor's text: ~25% of docs lose all their chunks to another."""

    def build():
        docs = spark.read.parquet(build_corpus(spark, n_docs)).select("doc_id", "text")
        prev = docs.select((F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("_nt"))
        echo = (F.pmod(F.col("doc_id"), F.lit(4)) == 0) & F.col("_nt").isNotNull()
        return docs.join(prev, "doc_id", "left").select(
            "doc_id", F.when(echo, F.col("_nt")).otherwise(F.col("text")).alias("text")
        )

    return cached(f"crossdoc_planted_{n_docs}", build)


# --------------------------------------------------------------------------
# timing
# --------------------------------------------------------------------------
def _run(make_df) -> float:
    t0 = time.monotonic()
    out = make_df()
    if isinstance(out, DataFrame):
        out.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def interleaved(makers: dict[str, Callable], reps: int) -> dict[str, float]:
    """Warm every maker once, then run them A, B, A, B, ... ``reps``
    times; the best wall per maker.  A maker returns a DataFrame (run into
    the noop sink) or does its work itself."""
    for make in makers.values():
        _run(make)  # warm-up: codegen + JIT
    walls: dict[str, list[float]] = {k: [] for k in makers}
    for _ in range(reps):
        for k, make in makers.items():
            walls[k].append(_run(make))
    return {k: min(v) for k, v in walls.items()}


def best_of(make_df, reps: int = 3) -> float:
    """Warm-up, then the best of ``reps`` noop-sink runs."""
    return interleaved({"": make_df}, reps)[""]


def rate(n_docs: int, sec: float) -> float:
    """docs/s from the wall as recorded (rounded to ms)."""
    return round(n_docs / round(sec, 3), 1)


def secs(walls: dict[str, float]) -> dict[str, float]:
    return {f"{k}_sec": round(v, 3) for k, v in walls.items()}


# --------------------------------------------------------------------------
# separate-JVM children
# --------------------------------------------------------------------------
def run_child(kind: str, cores: int, *args, spark=None, timeout: int = 3600) -> dict:
    """``CHILD_JOBS[kind](session, *args)`` in a fresh ``local[cores]`` JVM
    (or in ``spark`` when given: one session for tests)."""
    if spark is not None:
        return CHILD_JOBS[kind](spark, *args)
    cmd = [sys.executable, os.path.abspath(__file__), "child", kind, str(cores)]
    p = subprocess.run(
        cmd + [str(a) for a in args],
        capture_output=True, text=True, timeout=timeout, cwd=REPO,
    )
    if p.returncode != 0:
        raise RuntimeError(
            f"child {' '.join(cmd[2:] + [str(a) for a in args])} exited "
            f"{p.returncode}; stderr tail:\n{p.stderr[-4000:]}"
        )
    return json.loads(p.stdout.strip().splitlines()[-1])


def _pair_child(spark, entry: str, path: str, n_docs, reps) -> dict:
    job = ENTRIES[entry].pair.job_df
    docs = spark.read.parquet(path)
    sec = best_of(lambda: job(docs), int(reps))
    return {
        "cores": spark.sparkContext.defaultParallelism,
        "sec": round(sec, 3),
        "docs_per_sec": rate(int(n_docs), sec),
    }


@dataclass(frozen=True)
class Pair:
    """The same job at local[2] and local[8] in separate JVMs."""

    job_df: Callable[[DataFrame], DataFrame]
    n_docs: int
    reps: int = 2
    rounds: int = 1  # alternations of the two levels; best child per level
    corpus: Callable = build_corpus
    job: str | None = None  # label recorded as "job"
    context32: bool = False  # one more child at local[32], as context


def run_pair(spark, entry: str, n_docs: int, reps: int, separate: bool) -> dict:
    pair = ENTRIES[entry].pair
    path = pair.corpus(spark, n_docs)
    same = None if separate else spark

    def child(cores):
        return run_child("pair", cores, entry, path, n_docs, reps, spark=same)

    lows, highs = [], []
    for _ in range(pair.rounds):
        lows.append(child(2))
        highs.append(child(8))
    low = min(lows, key=lambda r: r["sec"])
    high = min(highs, key=lambda r: r["sec"])
    out = {"job": pair.job} if pair.job else {}
    out.update(n_docs=n_docs, localN=low, local4N=high)
    if pair.context32:
        out["local32_context"] = child(32)
    out["scaling_efficiency_N_to_4N"] = round(
        high["docs_per_sec"] / low["docs_per_sec"] / 4.0, 3
    )
    return out


# --------------------------------------------------------------------------
# recording
# --------------------------------------------------------------------------
def replace_section(path: str, header: str, section: str) -> None:
    """Rewrite the markdown section starting at ``header`` (through the
    next '\\n## ') with ``section``; append it if the header is absent."""
    md = ""
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            md = f.read()
    if header in md:
        start = md.index(header)
        nxt = md.find("\n## ", start + len(header))
        end = nxt + 1 if nxt != -1 else len(md)
        md = md[:start] + section + "\n" + md[end:]
    else:
        md = md.rstrip("\n") + ("\n\n" if md else "") + section
    with open(path, "w", encoding="utf-8") as f:
        f.write(md)


def _rederive(obj, n_docs=None) -> None:
    """Set every ``<p>docs_per_sec`` beside a ``<p>sec`` to rate(n_docs,
    sec), n_docs from the nearest enclosing dict that has one."""
    if isinstance(obj, list):
        for x in obj:
            _rederive(x, n_docs)
        return
    if not isinstance(obj, dict):
        return
    n_docs = obj.get("n_docs", n_docs)
    for k in obj:
        if k.endswith("docs_per_sec") and n_docs:
            sec = obj.get(k[: -len("docs_per_sec")] + "sec")
            if sec:
                obj[k] = rate(n_docs, sec)
        _rederive(obj[k], n_docs)


def _cell(v) -> str:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return str(v)
    return f"{v:,}"


def _table(rows: list[dict]) -> str:
    cols = list(dict.fromkeys(c for r in rows for c in r))
    lines = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    lines += ["| " + " | ".join(_cell(r.get(c, "—")) for c in cols) + " |" for r in rows]
    return "\n".join(lines)


def _flat(d: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in d.items():
        if isinstance(v, dict):
            out.update(_flat(v, f"{prefix}{k}."))
        else:
            out[prefix + k] = v
    return out


def render(result) -> str:
    """Markdown tables of a result: a list of dicts is one table (nested
    dicts flattened to dotted columns); sibling dicts of scalars are one
    table with a row each; the remaining scalars a measure | value table."""
    if isinstance(result, list):
        return _table([_flat(r) for r in result])
    blocks, rows, scalars = [], [], {}
    for k, v in result.items():
        if isinstance(v, list):
            blocks.append(render(v))
        elif isinstance(v, dict) and any(isinstance(x, dict) for x in v.values()):
            blocks.append(render(v))
        elif isinstance(v, dict):
            rows.append({"": k, **v})
        else:
            scalars[k] = v
    if rows:
        blocks.append(_table(rows))
    if scalars:
        blocks.append(_table([{"measure": k, "value": v} for k, v in scalars.items()]))
    return "\n\n".join(blocks)


def record(name: str, result, header: str, note: str, bench_dir: str = BENCH_DIR) -> None:
    """Write ``<bench_dir>/<name>.json`` and replace the ``header`` section
    of ``<bench_dir>/BASELINE.md`` with the note and the rendered result."""
    _rederive(result)
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, f"{name}.json"), "w", encoding="utf-8") as f:
        json.dump(result, f)
    section = f"{header}\n\n{note}\n\n{render(result)}\n"
    replace_section(os.path.join(bench_dir, "BASELINE.md"), header, section)


# --------------------------------------------------------------------------
# the registry
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class Entry:
    """A tier table (``variants``), an N->4N pair (``pair``), both, or a
    bespoke A/B (``run(spark, sizes, reps, separate) -> result``)."""

    header: str
    note: str
    docs: tuple[int, ...] = ()  # a pair alone runs at pair.n_docs
    reps: int = 2
    variants: dict[str, Callable] = field(default_factory=dict)
    corpus: Callable = build_corpus  # (spark, n) -> parquet path
    unrated: tuple[str, ...] = ()  # variants recorded without docs/s
    ratios: dict[str, tuple[str, str]] = field(default_factory=dict)
    extras: Callable | None = None  # docs -> dict of per-tier columns
    consts: dict = field(default_factory=dict)
    bare: bool = False  # result is the tier list itself
    pair: Pair | None = None
    run: Callable | None = None


def run_tiers(spark, e: Entry, sizes, reps: int) -> list[dict]:
    rows = []
    for n in sizes:
        docs = spark.read.parquet(e.corpus(spark, n))
        row = {"n_docs": n, **(e.extras(docs) if e.extras else {})}
        walls = interleaved(
            {v: (lambda f=f: f(docs)) for v, f in e.variants.items()},
            reps if n <= 4_000_000 else min(reps, 2),
        )
        for v, sec in walls.items():
            p = f"{v}_" if v else ""
            row[p + "sec"] = round(sec, 3)
            if v not in e.unrated:
                row[p + "docs_per_sec"] = rate(n, sec)
        for k, (a, b) in e.ratios.items():
            row[k] = round(row[f"{a}_sec"] / row[f"{b}_sec"], 3)
        rows.append(row)
        print(json.dumps(row), flush=True)
    return rows


def run_entry(
    name: str,
    spark,
    docs: list[int] | None = None,
    *,
    bench_dir: str = BENCH_DIR,
    separate_jvms: bool = True,
    reps: int | None = None,
):
    """Run entry ``name`` on ``spark`` and record it.  ``docs`` replaces
    the entry's sizes; ``separate_jvms=False`` runs children in ``spark``;
    ``reps`` replaces every rep count."""
    e = ENTRIES[name]
    sizes = list(docs or e.docs or (e.pair.n_docs,))
    if e.run is not None:
        result = e.run(spark, sizes, reps or e.reps, separate_jvms)
    else:
        tiers = run_tiers(spark, e, sizes, reps or e.reps) if e.variants else None
        pair = None
        if e.pair is not None:
            n = sizes[0] if docs or tiers is None else e.pair.n_docs
            pair = run_pair(spark, name, n, reps or e.pair.reps, separate_jvms)
        if tiers is None:
            result = pair
        elif e.bare:
            result = tiers
        else:
            result = {"tiers": tiers, **e.consts, **({"scaling": pair} if pair else {})}
    cores = spark.sparkContext.defaultParallelism
    note = (f"{textwrap.fill(e.note, 72)}\n\n"
            f"Recorded {date.today().isoformat()}, session local[{cores}].")
    record(name, result, e.header, note, bench_dir)
    return result


# --------------------------------------------------------------------------
# bespoke A/Bs
# --------------------------------------------------------------------------
N_MEGA = 8
SKEW_WORK = 10_000  # vectorized hash rounds per output span
SKEW_CHUNK = 2048


def _extract_with_work(df: DataFrame) -> DataFrame:
    """Arrow extraction plus SKEW_WORK hash rounds per output span in the
    same task: a stand-in for an expensive per-span parser (real OCR/DOM)."""
    ean = extract_arrow_native

    def run(batches):
        for rb in batches:
            if rb.num_rows:
                out = ean._extract_record_batch(
                    rb, config.MIN_CONFIDENCE_THRESHOLD, config.MAX_DOC_TEXT_BYTES
                )
                x = np.arange(out.num_rows, dtype=np.uint64)
                for _ in range(SKEW_WORK):
                    x = x * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
                yield out

    return df.mapInArrow(run, ean.extract_span_rows_arrow_native(df).schema)


def _skew(spark, sizes, reps, separate) -> dict:
    """Row-size skew: N_MEGA docs of 3 x n_light spans each.  naive =
    repartition(32, doc_id); split = split_heavy_docs + re-rank of seq
    (the re-rank shuffle is inside the timed region)."""
    n_light = sizes[0]
    mega_spans = 3 * n_light

    def build():
        i_doc = F.col("id")
        spans = F.transform(
            F.sequence(F.lit(0), F.lit(mega_spans - 1)),
            lambda i: F.struct(
                F.when(F.pmod(i, 4) == 0, F.lit("PICTURE")).otherwise(F.lit("TEXT")).alias("kind"),
                F.when(
                    F.pmod(i, 4) != 0,
                    F.concat(F.lit("word"), F.pmod(i, 97).cast("string"), F.lit(" alpha beta gamma")),
                ).alias("text"),
                F.when(
                    F.pmod(i, 4) == 0,
                    F.concat(F.lit("gs://corpus/mega/"), i_doc.cast("string"), F.lit("/"),
                             i.cast("string"), F.lit(".png")),
                ).alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        )
        mega = spark.range(N_MEGA).select(
            F.concat(F.lit("mega_"), i_doc.cast("string")).alias("doc_id"), spans.alias("spans")
        )
        return D.interleaved_docs(spark, n_light, seed=42, skew=False).unionByName(mega)

    corpus = spark.read.parquet(cached(f"skew_corpus_{n_light}_{mega_spans}", build))

    def split():
        chunked = skew.split_heavy_docs(corpus, max_spans_per_chunk=SKEW_CHUNK)
        rows = _extract_with_work(
            chunked.repartition(32, "doc_id", "chunk_id").select("doc_id", "spans")
        )
        w = Window.partitionBy("doc_id").orderBy("offset", "seq")
        return rows.withColumn("seq", F.row_number().over(w))

    walls = interleaved(
        {"naive": lambda: _extract_with_work(corpus.repartition(32, "doc_id")), "split": split},
        reps,
    )
    out = {"n_light": n_light, "n_mega": N_MEGA, "mega_spans": mega_spans,
           "work": SKEW_WORK, "chunk": SKEW_CHUNK, **secs(walls)}
    out["speedup"] = round(out["naive_sec"] / out["split_sec"], 2)
    return out


def _classified_skew(spark, sizes, reps, separate) -> dict:
    """The composed classified job on n_light docs + N_MEGA mega-docs of
    2 x n_light words in ONE parquet file (worst layout): straight off the
    scan vs after repartition(8 per core, xxhash64(doc_id))."""
    n_light = sizes[0]
    mega_words = 2 * n_light
    salt_parts = 8 * spark.sparkContext.defaultParallelism
    vocab = F.array(*[F.lit(w) for w in (
        "media", "heavy", "figure", "chart", "image", "plate", "diagram", "panel",
        "table", "frame",
    )])

    def build():
        words = F.transform(
            F.sequence(F.lit(1), F.lit(mega_words)),
            lambda i: F.element_at(
                vocab, (F.pmod(i * 7 + F.col("doc_id") * 13, F.lit(10)) + 1).cast("int")
            ),
        )
        return (
            spark.range(10_000_000, 10_000_000 + N_MEGA).withColumnRenamed("id", "doc_id")
            .select("doc_id", F.array_join(words, " ").alias("text"),
                    F.lit("src_mega").alias("source"))
            .coalesce(1)
        )

    light = spark.read.parquet(build_corpus(spark, n_light))
    mega = spark.read.parquet(cached(f"mega_docs_{N_MEGA}x{mega_words}", build))
    skewed = light.unionByName(mega)
    walls = interleaved({
        "light_only": lambda: classified_fused(light),
        "naive_colocated": lambda: classified_fused(skewed),
        "salted_repartition": lambda: classified_fused(
            skewed.repartition(salt_parts, F.xxhash64("doc_id"))
        ),
    }, reps)
    out = {"n_light": n_light, "n_mega": N_MEGA, "mega_words": mega_words,
           "salt_partitions": salt_parts, **secs(walls)}
    out["speedup_naive_over_salted"] = round(
        out["naive_colocated_sec"] / out["salted_repartition_sec"], 3
    )
    out["note"] = (
        "mega docs share one parquet file (worst-case layout); B adds one "
        f"repartition({salt_parts}, xxhash64(doc_id)) before the fused map stage; "
        "a single mega row still lower-bounds one task"
    )
    return out


def _redirect_skew(spark, sizes, reps, separate) -> dict:
    """Controlled pair: the odd doc_ids' one-hop edges to distinct
    terminals vs the same edges to ONE terminal."""
    n = sizes[0]
    d = F.col("doc_id")
    srcs = spark.read.parquet(build_corpus(spark, n)).where(d % 2 == 1)

    def edges(dst):
        return srcs.select(
            redirects._rurl(d).alias("src_url"), F.lit(301).alias("http_status"),
            redirects._rurl(dst).alias("dst_url"),
        )

    walls = interleaved({
        "uniform": lambda: redirects.resolve_redirects(edges(d + n)),
        "hot": lambda: redirects.resolve_redirects(edges(F.lit(0))),
    }, reps)
    out = {"n_docs": n, **secs(walls)}
    out["hot_over_uniform"] = round(out["hot_sec"] / out["uniform_sec"], 3)
    out["hot_shape"] = (
        "odd-doc 1-hop edges -> ONE dst vs the same edges -> distinct dsts"
        " (same edge count, same chain shape)"
    )
    return out


HOT_EVERY = 10  # ~10% of all edges redirected onto doc 0
GRAPH_JOBS = ("pagerank", "anchor", "harmonic", "hits", "components",
              "anchor_salts1", "harmonic_salts1")


def _graph_cell(spark, corpus: str, job: str, n_docs, reps) -> dict:
    """One (corpus, job) cell of the graph skew A/B."""
    n_docs = int(n_docs)
    docs = spark.read.parquet(build_corpus(spark, n_docs))
    html = spark.read.parquet(cache_path(f"graph_skew_{corpus}_{n_docs}"))
    # edges only for the jobs that read them: the anchor cells must not
    # hold edge checkpoint blocks during their timed runs
    edges = None
    if job not in ("anchor", "anchor_salts1"):
        edges = linkgraph.extract_outlinks(html).localCheckpoint()
    make = {
        "pagerank": lambda: linkgraph.pagerank(docs, edges, n_iter=5),
        "anchor": lambda: linkgraph.inbound_anchor_texts(html),
        "harmonic": lambda: linkgraph.harmonic_centrality_kmv(docs, edges, n_iter=3),
        "hits": lambda: linkgraph.hits_scores(docs, edges, n_iter=3),
        "components": lambda: linkgraph.link_components(docs, edges, n_iter=4),
        "anchor_salts1": lambda: linkgraph.inbound_anchor_texts(html, n_salts=1),
        "harmonic_salts1": lambda: linkgraph.harmonic_centrality_kmv(
            docs, edges, n_iter=3, n_salts=1
        ),
    }[job]
    out = {"sec": round(best_of(make, int(reps)), 3)}
    if corpus == "hot" and job == "pagerank":
        out["hot_inbound_edges"] = edges.where(edges.dst_doc_id == 0).count()
    return out


def _graph_skew(spark, sizes, reps, separate) -> dict:
    """Uniform vs hot-destination link graph for five graph jobs, plus
    n_salts=1 (one per-dst buffer, the naive shape) on the hot corpus.
    Every cell runs in its own JVM: iterative jobs leave localCheckpoint
    blocks that in-session sequencing would carry into the next cell."""
    n = sizes[0]
    docs = spark.read.parquet(build_corpus(spark, n))
    for corpus, hot in (("uniform", None), ("hot", HOT_EVERY)):
        cached(f"graph_skew_{corpus}_{n}",
               lambda hot=hot: linkgraph.derive_linkgraph_html_from_documents(
                   docs, hot_dst_every=hot))
    out = {"n_docs": n, "hot_dst_every": HOT_EVERY, "isolation": (
        "fresh process per (corpus, job) cell" if separate else "one session")}
    cores = spark.sparkContext.defaultParallelism
    cells = [("uniform", j) for j in GRAPH_JOBS[:5]] + [("hot", j) for j in GRAPH_JOBS]
    for corpus, job in cells:
        cell = run_child("graph_cell", cores, corpus, job, n, reps,
                         spark=None if separate else spark)
        out.setdefault(corpus, {})[f"{job}_sec"] = cell.pop("sec")
        out[corpus].update(cell)
        print(corpus, job, out[corpus][f"{job}_sec"], flush=True)
    for job in GRAPH_JOBS[:5]:
        out[f"hot_over_uniform_{job}"] = round(
            out["hot"][f"{job}_sec"] / out["uniform"][f"{job}_sec"], 3
        )
    return out


ANN_DIMS, ANN_K, ANN_PROBE, ANN_CLUSTERS = 64, 10, 16, 256


def _vectors(spark, n: int, id_offset: int = 0, seed: int = 7) -> DataFrame:
    """Clustered deterministic vectors: center(id % ANN_CLUSTERS) + 0.15 *
    noise(id) — real embedding spaces cluster; uniform random vectors are
    a coarse quantizer's degenerate worst case."""
    d = F.col("id") + F.lit(id_offset)
    c = F.pmod(d, F.lit(ANN_CLUSTERS))

    def unit(h):
        return (F.pmod(h, F.lit(2001)) - 1000) / 1000.0

    emb = F.transform(
        F.sequence(F.lit(0), F.lit(ANN_DIMS - 1)),
        lambda j: (
            unit(F.xxhash64(c, j, F.lit(seed), F.lit("ctr")))
            + 0.15 * unit(F.xxhash64(d, j, F.lit(seed), F.lit("nz")))
        ).cast("float"),
    )
    return spark.range(n).select(d.alias("vec_id"), emb.alias("embedding"))


def _ann(spark, sizes, reps, separate) -> dict:
    """Brute-force top-k of n/200 (at most 500) queries vs IVF (sqrt(n)
    centroids, ANN_PROBE lists probed, index built once) vs PQ (ADC +
    exact re-rank), with recall@k of both against brute force."""
    n = sizes[0]
    n_queries, n_centroids = min(500, max(1, n // 200)), math.isqrt(n)
    corpus = spark.read.parquet(
        cached(f"ann_corpus_{n}", lambda: _vectors(spark, n, id_offset=500))
    )
    queries = _vectors(spark, n_queries)
    kw = {"id_col": "vec_id", "emb_col": "embedding"}

    t0 = time.monotonic()
    centroids = similarity.derive_centroids(corpus, n_centroids=n_centroids, **kw).persist()
    lists = (
        similarity.assign_centroids(corpus, centroids, n_probe=1, **kw)
        .select(F.col("id").alias("neighbor_id"), "cluster")
        .join(corpus.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("embedding").alias("c_emb")), "neighbor_id")
        .persist()
    )
    lists.count()
    build_sec = time.monotonic() - t0

    def ivf_query():
        probes = similarity.assign_centroids(
            queries, centroids, n_probe=ANN_PROBE, **kw
        ).select(F.col("id").alias("query_id"), "cluster")
        q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        cand = (
            F.broadcast(probes.join(q, "query_id")).join(lists, "cluster")
            .select("query_id", "neighbor_id",
                    F.round(similarity.cosine_col(F.col("q_emb"), F.col("c_emb")), 4).alias("cosine"))
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
        return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= ANN_K).select("query_id", "neighbor_id", "cosine"))

    t0 = time.monotonic()
    codebook = similarity.pq_codebook(corpus, n_codebook=16, **kw).persist()
    codes = similarity.pq_encode(corpus, codebook, dims=ANN_DIMS, m=16, **kw).persist()
    n_codes = codes.count()
    pq_build_sec = time.monotonic() - t0
    if n_codes != n:
        raise RuntimeError(f"PQ encoded {n_codes} of {n} vectors")

    def pq_query():
        return similarity.pq_search(queries, corpus, codebook, codes, k=ANN_K,
                                    dims=ANN_DIMS, m=16, rerank=8, **kw)

    brute = similarity.cosine_topk(queries, corpus, k=ANN_K)
    walls = interleaved({"brute": lambda: brute, "ivf_query": ivf_query,
                         "pq_query": pq_query}, reps)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(brute)
    ivf_rows = ivf_query().collect()
    ivf = {(r["query_id"], r["neighbor_id"]) for r in ivf_rows}
    for df in (centroids, lists, codebook, codes):
        df.unpersist()
    w = secs(walls)
    return {
        "n_corpus": n, "n_queries": n_queries, "dims": ANN_DIMS, "k": ANN_K,
        "n_centroids": n_centroids, "n_probe": ANN_PROBE,
        "build_sec": round(build_sec, 3), "brute_sec": w["brute_sec"],
        "ivf_query_sec": w["ivf_query_sec"],
        "query_speedup": round(w["brute_sec"] / w["ivf_query_sec"], 2),
        "ivf_recall_at_k": round(len(exact & ivf) / len(exact), 4),
        "n_topk_rows": len(ivf_rows),
        "pq_build_sec": round(pq_build_sec, 3), "pq_query_sec": w["pq_query_sec"],
        "pq_speedup": round(w["brute_sec"] / w["pq_query_sec"], 2),
        "pq_recall_at_k": round(len(exact & pairs(pq_query())) / (n_queries * ANN_K), 4),
        "pq_code_bytes_per_vec": 16 * 4, "raw_bytes_per_vec": ANN_DIMS * 4,
    }


def _curation(spark, sizes, reps, separate) -> dict:
    """MinHash+LSH pair mining alone and the composed curate_documents."""
    n = sizes[0]
    corpus = spark.read.parquet(build_corpus(spark, n)).select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    walls = interleaved({
        "minhash": lambda: dedup.minhash_lsh_pairs(
            corpus, n=3, num_hashes=32, bands=8, threshold=0.8, parallelism=par),
        "curate": lambda: curate_documents(corpus, min_quality=2000, parallelism=par),
    }, reps)
    return {"n_docs": n, **secs(walls),
            "minhash_docs_per_sec": rate(n, walls["minhash"]),
            "curate_docs_per_sec": rate(n, walls["curate"])}


CURATION_MIX = {f"src{i}": (1.0 if i < 10 else 0.5) for i in range(20)}


def _curation_tier(spark, n_docs: int) -> dict:
    par = spark.sparkContext.defaultParallelism
    corpus = spark.read.parquet(build_corpus(spark, n_docs)).persist()
    corpus.count()
    benchmark = corpus.filter(
        F.pmod(F.xxhash64("doc_id", F.lit("bench")), F.lit(500)) == 0
    ).select("doc_id", "text")
    walls: dict[str, float] = {}
    counts: dict[str, int] = {"input": n_docs}

    def staged(name, make_df):
        """Time one stage; persist its output as the next stage's input."""
        t0 = time.monotonic()
        out = make_df().persist()
        counts[name] = out.count()
        walls[name] = round(time.monotonic() - t0, 3)
        return out

    def without(df, ids):
        return df.join(ids, "doc_id", "left_anti")

    s1 = staged("exact_dedup", lambda: corpus.join(
        dedup.exact_duplicates(corpus).select(F.col("keeper").alias("doc_id")),
        "doc_id", "left_semi"))
    s2 = staged("minhash_neardup", lambda: without(s1, dedup.minhash_lsh_pairs(
        s1, n=3, num_hashes=32, bands=8, threshold=0.8, parallelism=par
    ).select(F.col("id_b").alias("doc_id")).distinct()))
    s3 = staged("quality_repetition_gates", lambda: without(
        s2.filter(textstats.quality_score_col(F.col("text")) >= 2000),
        textstats.repetition_profile(s2).filter("flagged").select("doc_id")))
    s4 = staged("decontaminate", lambda: without(s3, dedup.ngram_contamination(
        s3, benchmark, n=8).filter("contaminated").select("doc_id")))

    def rowlocal():
        redacted = F.col("text")
        for _, pattern, token in textstats.PII_PATTERNS:
            redacted = F.regexp_replace(redacted, pattern, token)
        mixed = sampling.hash_sample(
            s4.withColumn("text", redacted), stratum_col="source", fractions=CURATION_MIX)
        return mixed.select(
            "doc_id", "source", hash_split_col(F.col("doc_id")).alias("split"), "text",
            F.size(whitespace_tokens_col(F.col("text"))).alias("n_tokens"))

    s5 = staged("pii_mix_split_rowlocal", rowlocal)
    walls["pack_sequences"] = round(_run(lambda: s5.join(
        sampling.pack_sequences(s5.select("doc_id", "n_tokens"), budget=2048)
        .drop("n_tokens"), "doc_id")), 3)
    for df in (s1, s2, s3, s4, s5):
        df.unpersist()

    persisted: list = []
    walls["end_to_end_composed"] = round(_run(lambda: curate_documents_full(
        corpus, benchmark=benchmark, contamination_n=8, mix_fractions=CURATION_MIX,
        pack_budget=2048, min_quality=2000, parallelism=par, persisted=persisted,
    )), 3)
    for df in persisted + [corpus]:
        df.unpersist()
    return {
        "n_docs": n_docs, "walls_sec": walls, "counts": counts,
        "staged_total_sec": round(
            sum(v for k, v in walls.items() if k != "end_to_end_composed"), 3),
        "end_to_end_docs_per_sec": rate(n_docs, walls["end_to_end_composed"]),
    }


def _curation_full(spark, sizes, reps, separate) -> dict:
    """Per-stage walls (each stage against a persisted, counted input)
    and one end-to-end curate_documents_full wall, single-shot per tier."""
    return {"tiers": [_curation_tier(spark, n) for n in sizes]}


def _stream_web(spark, sizes, reps, separate) -> dict:
    """AvailableNow drain of the classified job over n docs, row parity
    with the batch plan, then a second wave that must add exactly its own
    docs (exactly-once)."""
    from cloud_ocr_summarizer_spark.sources.checkpoint import SnapshotSink
    from cloud_ocr_summarizer_spark.streaming.incremental import (
        start_incremental_extract_web,
    )

    n = sizes[0]
    n_wave2 = min(5_000, max(1, n // 24))
    corpus = spark.read.parquet(build_corpus(spark, n))
    base = os.path.join(cache_dir(), "stream_web")
    shutil.rmtree(base, ignore_errors=True)
    inp, out = os.path.join(base, "in"), os.path.join(base, "out")
    # arrival is outside the timed region
    corpus.select("doc_id", "text", "source").repartition(32).write.parquet(inp)

    def drain() -> float:
        t0 = time.monotonic()
        start_incremental_extract_web(
            spark, input_dir=inp, output_root=out,
            checkpoint_dir=os.path.join(base, "ckpt"),
            lineage_root=os.path.join(base, "lineage"), pipeline=classified_fused,
        ).awaitTermination()
        return time.monotonic() - t0

    wall1 = drain()
    committed = SnapshotSink(out).read_committed(spark)
    n1 = committed.count()
    batch = classified_fused(spark.read.parquet(inp))
    streamed = committed.select(*batch.columns)
    extra = streamed.exceptAll(batch).count()
    missing = batch.exceptAll(streamed).count()

    corpus.limit(n_wave2).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"), "text", "source"
    ).write.mode("append").parquet(inp)
    wall2 = drain()
    after = SnapshotSink(out).read_committed(spark)
    n2 = after.count()
    n_distinct = after.select("doc_id").distinct().count()
    result = {
        "n_docs_wave1": n, "n_docs_wave2": n_wave2,
        "wave1_wall_sec": round(wall1, 3), "wave1_docs_per_sec": rate(n, wall1),
        "wave2_wall_sec": round(wall2, 3),
        "rows_after_wave1": n1, "rows_after_wave2": n2,
        "distinct_docs_after_wave2": n_distinct,
        "stream_minus_batch_rows": extra, "batch_minus_stream_rows": missing,
        "parity_ok": extra == 0 and missing == 0 and n1 == n,
        "exactly_once_ok": n2 == n + n_wave2 and n_distinct == n2,
    }
    if not (result["parity_ok"] and result["exactly_once_ok"]):
        raise RuntimeError(f"stream/batch parity or exactly-once failed: {result}")
    return result


# --------------------------------------------------------------------------
# entries
# --------------------------------------------------------------------------
def _with_robots(join: Callable) -> Callable[[DataFrame], DataFrame]:
    """URL synthesis + parse and per-host robots.txt synthesis, then ``join``."""

    def job(d: DataFrame) -> DataFrame:
        docs = with_synthetic_lang(d)
        parsed = urls.parse_urls(urls.derive_urls_from_documents(docs))
        return join(parsed, robotstxt.derive_robots_txt_from_documents(docs, parsed_urls=parsed))

    return job


def _hits(d: DataFrame) -> DataFrame:
    edges = linkgraph.extract_outlinks(linkgraph.derive_linkgraph_html_from_documents(d))
    return linkgraph.hits_scores(d, edges, n_iter=3)


def _doubled(d: DataFrame) -> DataFrame:
    return d.select("doc_id", "source",
                    F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"))


def _removed(d: DataFrame) -> dict:
    r = dedup.dedup_cross_doc_passages(d).agg(
        F.sum("n_removed").alias("r"), F.sum("n_chunks").alias("c")
    ).collect()[0]
    return {"chunks": int(r["c"] or 0), "chunks_removed": int(r["r"] or 0)}


TIERS = (120_000, 1_000_000, 4_000_000)
PAIR_NOTE = (
    "Separate JVMs at local[2] (N) and local[8] (4N) on the same cached "
    "input; both 'cluster sizes' share one page cache, disk set and shuffle "
    "substrate, so shuffle-bound pairs lower-bound what disjoint executors "
    "show.  Efficiency = (docs/s at 4N / docs/s at N) / 4 (target >= 0.8)."
)

ENTRIES: dict[str, Entry] = {
    # ---- tier tables
    "tiers": Entry(
        "## Tiered throughput (flagship extraction, local[32], seed=42)",
        "Flagship Arrow extraction (extract_span_rows_arrow_native) over "
        "the interleaved-docs table, partitions = max(32, n/4000).",
        (10_000, 100_000, 1_000_000, 4_000_000, 10_000_000), reps=3,
        variants={"": extract_arrow_native.extract_span_rows_arrow_native},
        corpus=bench_docs, bare=True,
    ),
    "classified_web": Entry(
        "## Complete north-rule job (extract_web_classified_fused) at tiers",
        "Span extraction + kind tagging + layout fold + BOTH Readability "
        "heuristics (link density AND text density) in one zero-Exchange pass.",
        TIERS, reps=3, variants={"": classified_fused},
    ),
    "warc": Entry(
        "## Tiered: crawl-container round trip (WARC parse + DOM strip)",
        "plain = pure-JVM envelope parse; gz = per-record gzip members "
        "through the Arrow codec stage (compress AND decompress inside the "
        "timed job).",
        TIERS[:2], variants={"plain": warc.warc_main_text, "gz": warc.warc_main_text_gz},
    ),
    "lm": Entry(
        "## Bigram LM rarity filter at tiers",
        "lm_rarity_profile: corpus-trained counts + bigram-keyed join + "
        "per-doc rollup.  The count tables are built (and session-persisted) "
        "before timing, so the timed region is the scoring pass; the "
        "synthetic lexicon keeps them tiny, and the cost is in the "
        "corpus-sized pair stream + per-doc rollup shuffle.",
        TIERS,
        variants={"": lambda d: lm.lm_rarity_profile(d.select("doc_id", "text"))},
        extras=lambda d: {"n_bigram_vocab": int(
            lm.bigram_count_tables(d.select("doc_id", "text"))[1].count())},
    ),
    "gates": Entry(
        "## Word-level curation gates at tiers",
        "Gopher rules, intra-doc dedup (on doubled text, so the gate does "
        "real work), integer-milli FK readability, and the per-source cap "
        "window.",
        TIERS, reps=3, variants={
            "gopher": lambda d: textstats.gopher_quality_rules(d, min_words=20),
            "intradoc": lambda d: textstats.dedup_intra_doc(_doubled(d)),
            "fk": textstats.readability_profile,
            "cap": lambda d: sampling.cap_per_source(d.select("doc_id", "source"), cap=1000),
        },
    ),
    "repetition": Entry(
        "## Repetition gate: aggregated vs row-local",
        "repetition_profile (explode + 2 shuffled aggs) vs the zero-shuffle "
        "repetition_flagged_col of the streaming gates, both reduced to "
        "(doc_id, flagged).",
        TIERS, reps=3, variants={
            "aggregated": lambda d: textstats.repetition_profile(
                d.select("doc_id", "text")).select("doc_id", "flagged"),
            "rowlocal": lambda d: d.select("doc_id", F.coalesce(
                textstats.repetition_flagged_col(F.col("text")), F.lit(False)
            ).alias("flagged")),
        },
        ratios={"rowlocal_speedup": ("aggregated", "rowlocal")},
    ),
    "linkgraph_bow": Entry(
        "## Tiered: link-graph PageRank + BoW classifier (round 4)",
        "PageRank runs 5 integer-micro iterations over the synthesized "
        "~2x-corpus edge set; BoW trains on the 80% hash split and scores "
        "the held-out 20% (docs/s counts the FULL corpus in both cases).",
        TIERS, variants={
            "pagerank": lambda d: linkgraph.pagerank_over_documents(d, n_iter=5),
            "bow": lambda d: bow.classify_bow(with_synthetic_lang(d)),
        },
        consts={"pagerank_iters": 5, "langs": 5},
    ),
    "bpe": Entry(
        "## BPE merge learning at tiers (6 merges)",
        "train_bpe_merges: one corpus wordcount, then vocab-sized merge "
        "rounds over a corpus whose words carry a hash(word, doc) % 4096 "
        "suffix (a ~10^5-word vocabulary).",
        TIERS, corpus=_bpe_corpus,
        variants={"": lambda d: bpe.train_bpe_merges(d, n_merges=6)},
        extras=lambda d: {"n_vocab": int(bpe.word_frequencies(d).count())},
        consts={"n_merges": 6},
    ),
    "webstruct": Entry(
        "## Tiered: structured-web families (tables / sitemap / keywords / HITS)",
        "tables = map-only grid extraction; sitemap = shard synthesis + "
        "urlset parse round trip (50k-entry protocol cap); keywords "
        "(top_terms) = tf/df with the frequency-split join; HITS = 3 integer "
        "rounds over the derived link graph.",
        TIERS, variants={
            "tables": lambda d: htmltable.extract_tables(
                htmltable.derive_tables_html_from_documents(d)),
            "sitemap": lambda d: sitemap.parse_sitemap_urls(
                sitemap.derive_sitemap_xml_from_documents(
                    with_synthetic_lang(d), max_urls=50_000)),
            "top_terms": lambda d: textstats.top_terms_per_doc(d, k=5),
            "hits": _hits,
        },
    ),
    "crawlmeta": Entry(
        "## Tiered: crawl-metadata families (redirects / C4 lines / feeds / head-meta)",
        "redirects = 5 unique-key equi-joins (bounded visited state); C4 = "
        "row-local line classify/filter; feeds = newest-4 window + RSS/Atom "
        "parse round trip; head = map-only head-scoped extraction.",
        TIERS, variants={
            "redirect": lambda d: redirects.resolve_redirects(
                redirects.derive_redirects_from_documents(d)),
            "c4": lambda d: linesclean.c4_line_filter(
                linesclean.derive_noisy_lines_from_documents(d)),
            "feeds": lambda d: feeds.parse_feed_entries(
                feeds.derive_feeds_from_documents(with_synthetic_lang(d))),
            "head": lambda d: headmeta.extract_head_meta(
                headmeta.derive_head_html_from_documents(with_synthetic_lang(d))),
        },
    ),
    "robots": Entry(
        "## Tiered: robots.txt longest-match gate",
        "gate = URL synthesis+parse, per-host robots synthesis+parse, RFC "
        "9309 longest-match (one host equi-join, row-local match); rules = "
        "the distinct-host parse alone; frontier = blocklist -> robots -> "
        "per-host budget (every exchange host-keyed).",
        TIERS[:2], variants={
            "gate": _with_robots(robotstxt.robots_txt_gate),
            "rules": lambda d: robotstxt.parse_robots_rules(
                robotstxt.derive_robots_txt_from_documents(with_synthetic_lang(d))),
            "frontier": _with_robots(robotstxt.crawl_frontier),
        },
        unrated=("rules",),
    ),
    "crossdoc": Entry(
        "## Cross-document passage dedup at tiers",
        "dedup_cross_doc_passages on the corpus with ~25% of docs replaced "
        "by a neighbor's text (the gate does real work).  " + PAIR_NOTE,
        TIERS, reps=3, corpus=_planted_corpus,
        variants={"": dedup.dedup_cross_doc_passages}, extras=_removed,
        pair=Pair(dedup.dedup_cross_doc_passages, 480_000, rounds=2,
                  corpus=_planted_corpus),
    ),
    "html_layout": Entry(
        "## HTML strip + layout parse: tiers and N->4N scaling",
        "html = DOM strip (Arrow-batched Python tokenizer); dense = "
        "link-density block classification; layout = fused row-local "
        "layout parse (pure JVM fold).  The pair times the HTML strip, the "
        "Python-worker-bound twin of the flagship pair.  " + PAIR_NOTE,
        TIERS, reps=3, variants={
            "html": lambda d: dom.extract_html_main(D.derive_html_from_documents(d)),
            "dense": lambda d: dom.extract_html_dense(D.derive_linked_html_from_documents(d)),
            "layout": lambda d: layout.reading_order_rowlocal(extract.extract_spans(
                D.derive_spans_from_documents(d), with_stats=False)),
        },
        pair=Pair(lambda d: dom.extract_html_main(D.derive_html_from_documents(d)),
                  240_000, rounds=2),
    ),
    "pdf_density": Entry(
        "## PDF parse + text-density: tiers and N->4N scaling",
        "pdf_spans = content-stream parse (Arrow token state machine); "
        "pdf_main = parse + groupBy + broadcast join; density = text-density "
        "block classification.  The pair times the PDF parse.  " + PAIR_NOTE,
        TIERS, reps=3, variants={
            "pdf_spans": lambda d: pdfstream.parse_pdf_text_spans(
                D.derive_pdf_streams_from_documents(d)),
            "pdf_main": lambda d: pdfstream.assemble_pdf_main_text(
                d, pdfstream.parse_pdf_text_spans(D.derive_pdf_streams_from_documents(d))),
            "density": lambda d: dom.extract_html_density(
                D.derive_density_html_from_documents(d)),
        },
        pair=Pair(lambda d: pdfstream.parse_pdf_text_spans(
            D.derive_pdf_streams_from_documents(d)), 240_000, rounds=2),
    ),
    # ---- N->4N pairs
    "scaling": Entry(
        "## Flagship extraction throughput",
        "Flagship Arrow extraction over the interleaved-docs table; the "
        "local[32] child is context only.  N=2 / 4N=8 because a raw-CPU "
        "calibration of the 32-core bench VM scales 3.9x from 2->8 workers but "
        "only ~2.6x from 8->32.  The pair means something only when work "
        "dominates the timed region (2M docs: walls of 3-18 s).  " + PAIR_NOTE,
        pair=Pair(extract_arrow_native.extract_span_rows_arrow_native, 2_000_000,
                  reps=3, rounds=3, corpus=bench_docs, context32=True),
    ),
    "northrule_scaling": Entry(
        "## N->4N scaling: the complete north-rule job",
        "extract_web_classified_fused (span extraction + kind tagging + "
        "layout fold + both Readability heuristics, one zero-Exchange "
        "pass): a single map stage, so cores scale without shuffle "
        "contention.  " + PAIR_NOTE,
        pair=Pair(classified_fused, 1_000_000,
                  job="extract_web_classified_fused (complete north-rule job)"),
    ),
    "pagerank_scaling": Entry(
        "## N->4N scaling: iterative-shuffle regime (PageRank)",
        "5-iteration integer PageRank (edge fan pinned in memory once, "
        "inside the timed region; ranks-only shuffle per iteration).  " + PAIR_NOTE,
        pair=Pair(lambda d: linkgraph.pagerank_over_documents(d, n_iter=5), 1_000_000,
                  job="pagerank_over_documents(n_iter=5)"),
    ),
    "frontier_scaling": Entry(
        "## N->4N scaling: join+aggregate regime (crawl frontier)",
        "URL parse, blocklist anti-join, robots host equi-join, per-host "
        "aggregate.  " + PAIR_NOTE,
        pair=Pair(_with_robots(robotstxt.crawl_frontier), 1_000_000,
                  job="crawl_frontier (blocklist -> robots -> budget)"),
    ),
    "redirect_scaling": Entry(
        "## N->4N scaling: bounded-iterative-join regime (redirects)",
        "Redirect-chain resolution: max_hops+1 unique-key equi-joins, "
        "O(max_hops) row state, early exit of finished chains.  " + PAIR_NOTE,
        pair=Pair(lambda d: redirects.resolve_redirects(
            redirects.derive_redirects_from_documents(d)), 1_000_000, reps=3,
            job="resolve_redirects (5 unique-key equi-joins, bounded state)"),
    ),
    # ---- bespoke A/Bs
    "skew": Entry(
        "## Row-size skew A/B (local[32], seed=42)",
        "n_light ordinary docs + 8 mega-docs of 3 x n_light spans each, "
        "with a simulated per-span parse cost (`work` hash rounds): "
        "naive repartition(32, doc_id) vs split_heavy_docs(2048) + seq "
        "re-rank, both producing the same flat span rows.  Split wins when "
        "per-span cost is large; the naive wall is floor-bounded by ONE "
        "mega-doc task.",
        (50_000,), run=_skew,
    ),
    "classified_skew": Entry(
        "## Skew A/B: composed classified job under a media-heavy cluster",
        "n_light ordinary docs + 8 mega-docs of 2 x n_light words each, "
        "colocated in ONE parquet file, straight off the scan vs after a "
        "repartition into 8 tasks per core on xxhash64(doc_id).  A mega "
        "ROW still binds one task, so the salted floor is max(one mega doc, "
        "per-task light share).",
        (200_000,), reps=3, run=_classified_skew,
    ),
    "redirect_skew": Entry(
        "## Hot-destination skew: redirect resolution",
        "CONTROLLED pair: both arms are the same one-hop edges; only the "
        "destination distribution differs.  The join key per hop is the "
        "chain's current url (unique on the edge side), so a hot "
        "destination fans in on the value side only.",
        (1_000_000,), run=_redirect_skew,
    ),
    "graph_skew": Entry(
        "## Hot-destination graph skew A/B (round 5)",
        "The hot corpus redirects ~1/10 of all edges onto doc 0.  Bounded "
        "two-level merges keep the hot wall near the uniform wall; "
        "n_salts=1 degenerates level 1 to one per-dst buffer.",
        (1_000_000,), run=_graph_skew,
    ),
    "ann": Entry(
        "## ANN: brute force vs IVF (local[32], seed=7)",
        "Clustered deterministic 64-d vectors, n/200 (at most 500) queries, "
        "top-10.  IVF "
        "probes 16 of sqrt(N) lists; its build amortizes over the query "
        "stream.  PQ (m=16 codebooks of 16; the query times pq_search over "
        "the prebuilt codebook and codes) is the MEMORY path, not a "
        "latency win in expression form; its recall on this corpus is "
        "capped because every true top-10 is a within-cluster neighbor.",
        (100_000,), run=_ann,
    ),
    "curation": Entry(
        "## Curation throughput (120k docs, local[32], seed=42)",
        "MinHash+LSH near-dup mining (n=3, 32 hashes, 8 bands, t=0.8) and "
        "the composed curation pipeline (exact dedup -> MinHash -> quality "
        "+ repetition gates -> split) on the derived text corpus.",
        (120_000,), run=_curation,
    ),
    "curation_full": Entry(
        "## Full 8-stage curation at scale (local[32], seed=42)",
        "End-to-end = curate_documents_full as a user calls it (exact dedup "
        "-> MinHash -> quality/repetition gates -> decontamination vs a "
        "1/500 eval slice -> PII redaction -> per-source mixing -> split -> "
        "2048-token packing).  Per-stage walls run against a persisted, "
        "counted input and lose the composed plan's scan fusion, so they "
        "can sum ABOVE the end-to-end wall.  Single-shot runs.",
        (1_000_000, 10_000_000), run=_curation_full,
    ),
    "stream_web": Entry(
        "## Streaming twin of the classified job at 120k docs",
        "AvailableNow drain of the classified pipeline via foreachBatch + "
        "snapshot anti-join (start_incremental_extract_web); parity = "
        "exceptAll against the batch plan, both directions; wave 2 must add "
        "exactly its own documents.",
        (120_000,), run=_stream_web,
    ),
}

CHILD_JOBS: dict[str, Callable] = {"pair": _pair_child, "graph_cell": _graph_cell}


def main(argv: list[str] | None = None) -> int:
    from cloud_ocr_summarizer_spark.session import get_spark

    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["child"]:
        kind, cores, *args = argv[1:]
        spark = get_spark(app_name=f"harness-{kind}-{cores}", cores=int(cores))
        print(json.dumps(CHILD_JOBS[kind](spark, *args)))
        return 0
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("entry", choices=sorted(ENTRIES))
    ap.add_argument("--docs", type=lambda s: [int(x) for x in s.split(",")],
                    help="sizes, comma-separated (replaces the entry's defaults)")
    a = ap.parse_args(argv)
    spark = get_spark(app_name=f"harness-{a.entry}")
    print(json.dumps(run_entry(a.entry, spark, a.docs)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
