"""Dedup operator semantics, pinned against brute-force Python on a small
fixed corpus (xxhash64 is seed-stable, so results are fully deterministic).
"""

import pytest

from cloud_ocr_summarizer_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees today"
)
NEAR = BASE.replace("lazy dog", "lazy cat")  # one-word perturbation
FAR = (
    "completely different subject matter about distributed query engines "
    "and columnar storage formats with vectorized execution pipelines here"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),                       # exact dup of 1
        (3, "  " + BASE.replace("  ", " ") + "  \n"),  # whitespace-only dup
        (4, NEAR),                       # near dup of 1
        (5, FAR),
        (6, "tiny"),                     # shorter than the shingle size
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def python_ngrams(text, n=3):
    w = text.split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def python_jaccard(a, b, n=3):
    ga, gb = python_ngrams(a, n), python_ngrams(b, n)
    return len(ga & gb) / len(ga | gb) if ga | gb else 0.0


def test_exact_duplicates_whitespace_insensitive(spark, corpus):
    groups = {r["keeper"]: r["n_docs"] for r in exact_duplicates(corpus).collect()}
    # docs 1,2,3 normalize to identical text -> one group of 3, keeper=1
    assert groups[1] == 3
    assert groups[4] == 1 and groups[5] == 1 and groups[6] == 1


def test_ngram_jaccard_matches_python(spark, corpus):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    # brute force over all pairs
    texts = {1: BASE, 2: BASE, 3: BASE, 4: NEAR, 5: FAR, 6: "tiny"}
    want = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j:
                jac = python_jaccard(texts[i], texts[j])
                if jac >= 0.3 and python_ngrams(texts[i]) & python_ngrams(texts[j]):
                    want[(i, j)] = round(jac, 4)
    assert got == pytest.approx(want)


def test_minhash_lsh_finds_near_dups_with_exact_jaccard(spark, corpus):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(corpus, threshold=0.3).collect()
    }
    # exact and whitespace dups MUST collide in every band (identical sigs)
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0
    assert got[(2, 3)] == 1.0
    # near dup found with its true jaccard (verification step is exact)
    assert (1, 4) in got
    assert got[(1, 4)] == pytest.approx(round(python_jaccard(BASE, NEAR), 4))
    # far doc never passes exact verification at 0.3
    assert not any(5 in p for p in got)


def test_simhash_near_pairs(spark, corpus):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(corpus, max_hamming=10).collect()
    }
    assert got[(1, 2)] == 0  # identical text -> identical fingerprint
    assert got[(1, 3)] == 0  # whitespace dup: token stream identical
    assert (1, 4) in got  # near dup within hamming budget
    assert (1, 5) not in got and (4, 5) not in got


def test_simhash_checked_matches_bruteforce(spark, corpus):
    """Checked (md5-family) variant: pairs must equal brute-force Hamming
    over the same fingerprints, and the banding must not lose any pair
    within the pigeonhole guarantee (ham <= bands-1)."""
    import hashlib

    from cloud_ocr_summarizer_spark.operators.dedup import (
        simhash_near_pairs_checked,
    )

    bits, bands, max_h = 30, 5, 2

    def py_fp(text):
        words = [w for w in text.split() if w]
        if not words:
            return None
        hs = [
            int(hashlib.md5(w.encode()).hexdigest()[:14], 16) % 2147483647
            for w in words
        ]
        return [
            1 if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0 else 0
            for b in range(bits)
        ]

    rows = {r["doc_id"]: r["text"] for r in corpus.collect()}
    fps = {i: py_fp(t) for i, t in rows.items() if py_fp(t) is not None}
    expected = {}
    ids = sorted(fps)
    for i in ids:
        for j in ids:
            if i < j:
                ham = sum(a != b for a, b in zip(fps[i], fps[j]))
                if ham <= max_h:
                    expected[(i, j)] = ham

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs_checked(
            corpus, bits=bits, bands=bands, max_hamming=max_h
        ).collect()
    }
    assert got == expected  # ham<=bands-1 pigeonhole => no recall loss


def test_simhash_checked_rejects_bad_params(spark, corpus):
    from cloud_ocr_summarizer_spark.operators.dedup import (
        simhash_near_pairs_checked,
    )

    with pytest.raises(ValueError):
        simhash_near_pairs_checked(corpus, bits=32, bands=4)
    with pytest.raises(ValueError):
        simhash_near_pairs_checked(corpus, bits=30, bands=4)


def test_simhash_checked_partition_invariant(spark, corpus):
    """Arrow batch boundaries / partitioning must not change results (the
    vectorized reduceat path processes whole batches)."""
    from cloud_ocr_summarizer_spark.operators.dedup import (
        simhash_near_pairs_checked,
    )

    def pairs(df):
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_pairs_checked(
                df, bits=30, bands=5, max_hamming=2
            ).collect()
        )

    assert pairs(corpus.repartition(7)) == pairs(corpus.coalesce(1))


def test_gram_hashes_pandas_edges(spark):
    """Vectorized gram stage: hash-set sizes must equal the number of
    distinct word n-grams for every edge shape (short docs, empty, null,
    repeated grams), on any partitioning."""
    from cloud_ocr_summarizer_spark.operators.dedup import gram_hashes_pandas_df

    rows = [
        (1, "a b c d"),          # 2 distinct 3-grams
        (2, "a b"),              # shorter than n -> none
        (3, ""),                 # empty
        (4, None),               # null
        (5, "x y z x y z x y z"),  # repeats: 3 distinct of 7 total
        (6, "lone"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for src in (df.coalesce(1), df.repartition(5)):
        got = {
            r["id"]: len(set(r["grams"]))
            for r in gram_hashes_pandas_df(
                src, id_col="doc_id", text_col="text", n=3
            ).collect()
        }
        expected = {}
        for i, t in rows:
            w = (t or "").split()
            expected[i] = len({" ".join(w[j : j + 3]) for j in range(len(w) - 2)})
        assert got == expected


def test_ngram_gram_df_cap_bounds_join(spark):
    """A gram shared by D docs creates O(D^2) self-join rows; the df cap
    must drop corpus-wide boilerplate grams BEFORE the join while keeping
    pairs that share rare grams."""
    rows = [(i, f"alpha beta gamma u{i} v{i} w{i}") for i in range(2000)]
    # one genuine near-dup pair sharing plenty of RARE grams
    rows += [
        (9001, "rare shared sentence about engines one two three four"),
        (9002, "rare shared sentence about engines one two three five"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, threshold=0.3, max_gram_df=256
        ).collect()
    }
    # the universal 'alpha beta gamma' gram (df=2000 > 256) is dropped, so
    # the 2000 boilerplate docs produce NO pairs (no 2*10^6-row blowup)...
    assert all(a >= 9000 for a, _ in got)
    # ...while the rare-gram near-dup pair survives
    assert (9001, 9002) in got


def test_ngram_cap_none_matches_bruteforce(spark, corpus):
    """cap=None preserves the original exact semantics."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            corpus, threshold=0.3, max_gram_df=None
        ).collect()
    }
    texts = {1: BASE, 2: BASE, 3: BASE, 4: NEAR, 5: FAR, 6: "tiny"}
    want = {}
    for i in sorted(texts):
        for j in sorted(texts):
            if i < j:
                jac = python_jaccard(texts[i], texts[j])
                if jac >= 0.3 and python_ngrams(texts[i]) & python_ngrams(texts[j]):
                    want[(i, j)] = round(jac, 4)
    assert got == pytest.approx(want)


def test_lsh_bucket_cap_bounds_pair_expansion(spark):
    """A degenerate bucket of k identical docs is one k-array row whose
    pair expansion is O(k^2) in a single task — the cap must skip it (and
    the same corpus must still pair up when the cap allows it)."""
    df = spark.createDataFrame(
        [(i, BASE) for i in range(300)], "doc_id int, text string"
    )
    capped = minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=100)
    assert capped.count() == 0  # hot bucket (300 > 100) skipped, no blowup
    uncapped = minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=None)
    assert uncapped.count() == 300 * 299 // 2  # all-pairs when allowed


def test_simhash_bucket_cap(spark):
    from cloud_ocr_summarizer_spark.operators.dedup import (
        simhash_near_pairs_checked,
    )

    df = spark.createDataFrame(
        [(i, BASE) for i in range(300)], "doc_id int, text string"
    )
    capped = simhash_near_pairs_checked(
        df, bits=30, bands=5, max_hamming=2, max_bucket_size=100
    )
    assert capped.count() == 0
    uncapped = simhash_near_pairs_checked(
        df, bits=30, bands=5, max_hamming=2, max_bucket_size=None
    )
    assert uncapped.count() == 300 * 299 // 2


def test_gram_hashes_ascii_whitespace_only(spark):
    """Tokenization must match the JVM ASCII-\\s twin: Unicode whitespace
    (NBSP, U+2028) is NOT a separator, so 'a\\u00a0b c' has words
    ['a b', 'c'] — one 2-gram, not two."""
    from cloud_ocr_summarizer_spark.operators.dedup import gram_hashes_pandas_df

    rows = [
        (1, "a b c d"),      # NBSP joins a+b -> words: [a\xa0b, c, d]
        (2, "a b c d"),            # ASCII spaces -> 4 words
        (3, "x y"),           # line separator joins -> 1 word
        (4, " \t padded \n "),     # ASCII edges stripped -> 1 word
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["id"]: len(set(r["grams"]))
        for r in gram_hashes_pandas_df(
            df, id_col="doc_id", text_col="text", n=2
        ).collect()
    }
    assert got == {1: 2, 2: 3, 3: 0, 4: 0}


def test_ngram_contamination_hand_computed(spark):
    """Decontamination vs a hand-computed model: per corpus doc, count of
    its distinct n-grams that appear anywhere in the benchmark."""
    from cloud_ocr_summarizer_spark.operators.dedup import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares 'the quick brown'...
            (2, "totally unrelated words here today"),
            (3, "a b"),                          # < n words -> dropped
            (4, "quick brown fox runs fast"),    # shares 'quick brown fox'
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in ngram_contamination(corpus, bench, n=3).collect()
    }
    # doc 1 grams: {the quick brown, quick brown fox, brown fox jumps};
    # bench grams: {the quick brown, quick brown fox, brown fox sleeps}
    assert got[1] == (3, 2, True)
    assert got[2] == (3, 0, False)
    assert 3 not in got  # too short to carry a 3-gram
    assert got[4] == (3, 1, True)


def test_redact_pii_hand_computed(spark):
    from cloud_ocr_summarizer_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-corp.io or call 555-123-4567 from 10.0.0.1 ok"),
            (2, "no pii at all"),
            (3, "two mails a@b.co c@d.org and ips 1.2.3.4 5.6.7.8"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["redacted"] == "mail [EMAIL] or call [PHONE] from [IP] ok"
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) == (1, 1, 1)
    assert got[2]["redacted"] == "no pii at all"
    assert (got[2]["n_email"], got[2]["n_phone"], got[2]["n_ipv4"]) == (0, 0, 0)
    assert got[3]["redacted"] == "two mails [EMAIL] [EMAIL] and ips [IP] [IP]"
    assert (got[3]["n_email"], got[3]["n_phone"], got[3]["n_ipv4"]) == (2, 0, 2)


# --- cap-drop observability -----------------------------------------------
# VERDICT r2: the bucket/gram-df caps drop data silently.  These tests
# build a corpus where the caps FIRE and assert the audits surface nonzero
# counts that match a brute-force Python recount of the same stage.


@pytest.fixture(scope="module")
def hot_corpus(spark):
    """40 exact-identical docs (one mass-dup LSH/SimHash bucket) plus a
    handful of distinct docs sharing one boilerplate trigram."""
    boiler = "copyright all rights reserved " + FAR
    rows = [(i, BASE) for i in range(40)]
    rows += [(100 + i, f"{boiler} unique tail {i} {i} {i}") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_lsh_bucket_drop_audit_counts(spark, hot_corpus):
    from cloud_ocr_summarizer_spark.operators.dedup import lsh_bucket_drop_audit

    row = lsh_bucket_drop_audit(hot_corpus, max_bucket_size=8).collect()[0]
    assert row["cap_name"] == "minhash_lsh_bucket"
    assert row["cap_value"] == 8
    # 40 identical docs share every band bucket -> all 8 bands over cap
    assert row["dropped_groups"] == 8
    assert row["dropped_rows"] == 8 * 40
    # and the capped pair operator really does drop them
    from cloud_ocr_summarizer_spark.operators.dedup import minhash_lsh_pairs_checked

    pairs = minhash_lsh_pairs_checked(
        hot_corpus, threshold=0.5, max_bucket_size=8
    ).collect()
    assert not any(r["id_a"] < 40 and r["id_b"] < 40 for r in pairs)


def test_simhash_bucket_drop_audit_counts(spark, hot_corpus):
    from cloud_ocr_summarizer_spark.operators.dedup import simhash_bucket_drop_audit

    row = simhash_bucket_drop_audit(
        hot_corpus, bits=24, bands=4, max_bucket_size=8
    ).collect()[0]
    assert row["cap_name"] == "simhash_bucket"
    # the 40 identical docs alone put every band's bucket over the cap
    assert row["dropped_groups"] >= 4
    assert row["dropped_rows"] >= 4 * 40


def test_ngram_gram_df_drop_audit_counts(spark, hot_corpus):
    from cloud_ocr_summarizer_spark.operators.dedup import (
        ngram_gram_df_drop_audit,
    )

    row = ngram_gram_df_drop_audit(hot_corpus, max_gram_df=10).collect()[0]
    assert row["cap_name"] == "ngram_gram_df"
    # every BASE trigram appears in all 40 identical docs -> df=40 > 10
    n_base_grams = len(python_ngrams(BASE))
    assert row["dropped_groups"] >= n_base_grams
    assert row["dropped_rows"] >= n_base_grams * 40


def test_embedding_block_drop_audit_counts(spark):
    from cloud_ocr_summarizer_spark.operators.similarity import (
        embedding_block_drop_audit,
    )

    rows = [(i, [float(i), 1.0], "hot" if i < 20 else f"cold{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label string")
    row = embedding_block_drop_audit(df, max_block_size=10).collect()[0]
    assert row["cap_name"] == "embedding_block"
    assert row["dropped_groups"] == 1 and row["dropped_rows"] == 20


def test_cap_audit_zero_when_cap_not_hit(spark, corpus):
    from cloud_ocr_summarizer_spark.operators.dedup import lsh_bucket_drop_audit

    row = lsh_bucket_drop_audit(corpus, max_bucket_size=4096).collect()[0]
    # explicit zero row, never an empty frame — silence was the bug
    assert row["dropped_groups"] == 0 and row["dropped_rows"] == 0


def test_contaminated_doc_ids_matches_stats_form(spark, corpus):
    from cloud_ocr_summarizer_spark.operators.dedup import (
        contaminated_doc_ids,
        ngram_contamination,
    )

    bench = spark.createDataFrame([(0, NEAR)], "doc_id int, text string")
    stats = {
        r["doc_id"]
        for r in ngram_contamination(corpus, bench, n=3)
        .filter("contaminated")
        .collect()
    }
    fast = {r["doc_id"] for r in contaminated_doc_ids(corpus, bench, n=3).collect()}
    assert fast == stats and stats  # same membership, non-empty here


def test_duplicate_clusters_transitive_chains(spark):
    from cloud_ocr_summarizer_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3-4 (never a direct 1-4 pair), separate pair 10-11,
    # long chain 20..29 to force multiple propagation rounds
    pairs = (
        [(1, 2), (2, 3), (3, 4), (10, 11)]
        + [(i, i + 1) for i in range(20, 29)]
    )
    df = spark.createDataFrame(pairs, "id_a int, id_b int")
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(df).collect()}
    assert {got[i] for i in (1, 2, 3, 4)} == {1}
    assert {got[i] for i in (10, 11)} == {10}
    assert {got[i] for i in range(20, 30)} == {20}
    assert len(got) == 16  # every node labeled exactly once


def test_duplicate_clusters_raises_when_rounds_run_out(spark):
    """A chain deeper than max_iterations still moves labels when the
    cap runs out: raise, and unpersist the pinned edges anyway."""
    import pytest

    from cloud_ocr_summarizer_spark.operators.dedup import duplicate_clusters

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(RuntimeError, match="no fixpoint in 3 rounds"):
        duplicate_clusters(df, max_iterations=3)
    after = jsc.getPersistentRDDs()
    assert [
        i for i in after.keySet()
        if i not in before and not after.get(i).rdd().isLocallyCheckpointed()
    ] == []
    # the same chain converges once the cap covers its diameter
    got = {r["cluster_id"] for r in duplicate_clusters(df, max_iterations=13).collect()}
    assert got == {0}


def test_simhash_blank_docs_emit_no_pairs(spark):
    """Zero-token docs all hash to the identical zero fingerprint; they
    must be excluded, not emitted as k^2/2 bogus hamming-0 pairs."""
    from cloud_ocr_summarizer_spark.operators.dedup import simhash_near_pairs

    rows = [(i, "") for i in range(30)] + [(100, None), (200, "real text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert simhash_near_pairs(df).count() == 0


def test_dedup_cross_doc_passages_hand_computed(spark):
    """Global first-occurrence-wins at 2-word-chunk granularity:
    cross-doc duplicates drop, within-doc repeats drop, ties break by
    (doc_id, idx), partial tail chunks participate, empty/None docs
    surface with zero counts."""
    from cloud_ocr_summarizer_spark.operators.dedup import (
        dedup_cross_doc_passages,
    )

    rows = [
        (1, "a b c d e"),        # chunks: "a b", "c d", "e"
        (2, "a b x y"),          # "a b" loses to doc 1; "x y" kept
        (3, "c d c d"),          # both chunks lose to doc 1's "c d"
        (4, ""),
        (5, None),
        (6, "e"),                # single-word chunk "e" loses to doc 1 idx 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_chunks"], r["n_removed"])
        for r in dedup_cross_doc_passages(df, k=2).collect()
    }
    assert got[1] == ("a b c d e", 3, 0)
    assert got[2] == ("x y", 2, 1)
    assert got[3] == ("", 2, 2)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("", 0, 0)
    assert got[6] == ("", 1, 1)
    # reassembly preserves original chunk order for survivors
    df2 = spark.createDataFrame(
        [(1, "z z"), (2, "p q z z r s")], "doc_id long, text string"
    )
    got2 = {
        r["doc_id"]: r["clean_text"]
        for r in dedup_cross_doc_passages(df2, k=2).collect()
    }
    assert got2 == {1: "z z", 2: "p q r s"}


def test_dedup_keep_best_hand_computed(spark):
    """Keep-best canonicalization: within each connected component the
    highest quality_bp wins (ties to the smaller doc_id); singletons are
    their own cluster and always kept."""
    from cloud_ocr_summarizer_spark.operators.dedup import dedup_keep_best
    from cloud_ocr_summarizer_spark.operators.textstats import quality_score_col
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            # cluster {1,2,3} via chain 1-2, 2-3: doc 2 has the longest,
            # cleanest text -> highest quality -> the keeper
            (1, "short text"),
            (2, "a perfectly reasonable sentence with many plain words "
                "that scores well on length and word size"),
            (3, "puncty!!! ###"),
            # cluster {10,11}: identical text -> equal score -> tie to 10
            (10, "same words here exactly"),
            (11, "same words here exactly"),
            # singleton
            (42, "alone and uncontested"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs).collect()}
    assert len(rows) == 6  # every doc labeled exactly once
    assert [rows[i]["cluster_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [rows[i]["cluster_id"] for i in (10, 11)] == [10, 10]
    assert rows[42]["cluster_id"] == 42 and rows[42]["kept"]
    kept = {i for i, r in rows.items() if r["kept"]}
    assert kept == {2, 10, 42}
    # quality_bp is exactly the shared integer-bp column
    want_bp = {
        r["doc_id"]: r["bp"]
        for r in docs.select(
            "doc_id", quality_score_col(F.col("text")).alias("bp")
        ).collect()
    }
    assert {i: r["quality_bp"] for i, r in rows.items()} == want_bp
