"""The bench harness (tools/harness.py): every registry entry runs at a
tiny size and writes JSON with the banked BENCH/<entry>.json's key
structure; one pair runs through the real two-child protocol; a failing
child reports why.  Everything is written under tmp paths — never to the
repo's BENCH/ or the default corpus cache."""

import json
import os

import pytest

from tools import harness

BANKED = os.path.join(harness.REPO, "BENCH")
# BENCH files whose tools were removed; their results stand as recorded
RETIRED = {"ab_q6", "ab_q8_q16", "ab_redirect_shape", "pagerank_bucketed"}
TINY = {"ann": [1500], "stream_web": [240]}
REAL_PAIR = "redirect_scaling"


def _shape(x):
    """Recursive key structure; every row of a list must share one."""
    if isinstance(x, dict):
        return {k: _shape(v) for k, v in x.items()}
    if isinstance(x, list):
        shapes = [_shape(v) for v in x]
        assert all(s == shapes[0] for s in shapes), shapes
        return shapes[:1]
    return None


def _rates(x, n=None):
    """(docs/s, n_docs, wall) of every <p>docs_per_sec beside a <p>sec."""
    if isinstance(x, list):
        return [p for v in x for p in _rates(v, n)]
    if not isinstance(x, dict):
        return []
    n = x.get("n_docs", n)
    out = [(x[k], n, x[k[: -len("docs_per_sec")] + "sec"]) for k in x
           if k.endswith("docs_per_sec") and k[: -len("docs_per_sec")] + "sec" in x]
    return out + [p for v in x.values() for p in _rates(v, n)]


def _banked(name):
    with open(os.path.join(BANKED, f"{name}.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.fixture(scope="module")
def corpus_cache(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    mp.setenv("SPARK_GRAFT_BENCH_CACHE", str(tmp_path_factory.mktemp("bench_cache")))
    yield
    mp.undo()


def test_every_banked_json_is_an_entry_or_retired():
    banked = {f[:-5] for f in os.listdir(BANKED) if f.endswith(".json")}
    assert banked - RETIRED == set(harness.ENTRIES)
    assert RETIRED <= banked


def test_northrule_rates_recompute_from_recorded_walls():
    # its BASELINE row says 28,185.7 = 1e6 / 35.479 s; the json said 28185.8
    for dps, n, sec in _rates(_banked("northrule_scaling")):
        assert dps == harness.rate(n, sec)


@pytest.mark.parametrize("name", sorted(set(harness.ENTRIES) - {REAL_PAIR}))
def test_entry_writes_banked_shape(spark, corpus_cache, tmp_path, name):
    try:
        harness.run_entry(name, spark, TINY.get(name, [300]), bench_dir=str(tmp_path),
                          separate_jvms=False, reps=1)
    finally:
        spark.catalog.clearCache()  # entries may leave tables persisted
    with open(tmp_path / f"{name}.json", encoding="utf-8") as f:
        written = json.load(f)
    assert _shape(written) == _shape(_banked(name))
    for dps, n, sec in _rates(written):
        assert dps == harness.rate(n, sec)
    md = (tmp_path / "BASELINE.md").read_text(encoding="utf-8")
    assert md.startswith(harness.ENTRIES[name].header + "\n") and "|---|" in md


def test_pair_runs_two_child_jvms(spark, corpus_cache, tmp_path):
    out = harness.run_entry(REAL_PAIR, spark, [300], bench_dir=str(tmp_path), reps=1)
    assert (out["localN"]["cores"], out["local4N"]["cores"]) == (2, 8)
    with open(tmp_path / f"{REAL_PAIR}.json", encoding="utf-8") as f:
        assert _shape(json.load(f)) == _shape(_banked(REAL_PAIR))


def test_failed_child_reports_its_exception(tmp_path):
    missing = str(tmp_path / "no_such_corpus.parquet")
    with pytest.raises(RuntimeError) as err:
        harness.run_child("pair", 1, REAL_PAIR, missing, 10, 1)
    assert "PATH_NOT_FOUND" in str(err.value) and "no_such_corpus" in str(err.value)


def test_record_replaces_its_section_in_place(tmp_path):
    md = tmp_path / "BASELINE.md"
    md.write_text("# top\n\n## A\n\nold a\n\n## B\n\nkeep b\n", encoding="utf-8")
    result = {"n_docs": 1_000_000, "localN": {"cores": 2, "sec": 35.479, "docs_per_sec": 0.0}}
    harness.record("x", result, "## A", "note", bench_dir=str(tmp_path))
    text = md.read_text(encoding="utf-8")
    assert "old a" not in text and "keep b" in text and text.count("## A") == 1
    assert "| localN | 2 | 35.479 | 28,185.7 |" in text
    with open(tmp_path / "x.json", encoding="utf-8") as f:
        assert json.load(f)["localN"] == {"cores": 2, "sec": 35.479, "docs_per_sec": 28185.7}
