"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``        — brute-force top-k: broadcast the (small) query
                           side, row-local dot products, window rank.  The
                           exactness baseline.
* ``ivf_topk``           — IVF-style ANN: corpus vectors assigned to their
                           nearest centroid (broadcast centroid join, no
                           driver collect); queries probe the ``n_probe``
                           nearest centroids and scan only those lists.
                           At 100 TB this turns a full scan per query into
                           a (n_probe / n_centroids) fraction scan.
* ``embedding_near_dup_pairs`` — near-duplicate pairs by cosine within a
                           blocking column.

All arithmetic is promoted to double with a fixed accumulation order so
results are bit-stable across engines/partitionings; no Python UDFs.

The IVF path mirrors the inverted-file (IVF-Flat) design of Jegou et al.,
"Product quantization for nearest neighbor search" (TPAMI 2011) minus the
quantizer: coarse k-means cells, probe n_probe lists, exact re-rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-order double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b)))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Deterministic rank key: (rounded similarity desc, neighbor id asc) —
    rounding first makes the cutoff stable across fp noise.
    Output: (query_id, rank, neighbor_id, cosine).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb")
    )
    sims = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("q_emb"), F.col("c_emb")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
    )


def assign_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    emb_col: str,
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (cosine).

    Centroid side is broadcast; assignment is a rank-1..n_probe window —
    no driver-side collect, so the centroid set can come straight off a
    distributed sample/k-means result.
    Output: (id, cluster, probe_rank).
    """
    v = vectors.select(F.col(id_col).alias("id"), F.col(emb_col).alias("emb"))
    cen = centroids.select(
        F.col("cluster").alias("cluster"), F.col("c_emb").alias("c_emb")
    )
    sims = v.join(F.broadcast(cen)).select(
        "id",
        "cluster",
        F.round(cosine_col(F.col("emb"), F.col("c_emb")), 6).alias("sim"),
    )
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("cluster").asc())
    return (
        sims.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= n_probe)
        .select("id", "cluster", "probe_rank")
    )


def derive_centroids(
    corpus: DataFrame,
    *,
    id_col: str,
    emb_col: str,
    n_centroids: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """Deterministic centroid seed set with a FIXED budget.

    Takes the ``n_centroids`` corpus vectors with the smallest cross-engine
    hash of their id — a distributed top-k (per-partition LocalLimit, one
    tiny single-partition global sort of n_centroids*partitions rows) —
    so the centroid count, and therefore the centroid BROADCAST in
    assign_centroids, is independent of corpus size.  The legacy
    every-``stride``-th selection grew the broadcast linearly with the
    corpus (2*10^7 rows at 10^9 vectors — OOM); pass ``stride`` only for
    tests/back-compat.  Hash-sampling ~ uniform random but reproducible
    across runs and engines (functions/hashing.md5_hash31_col family).
    """
    if stride is not None:
        return corpus.filter(F.pmod(F.col(id_col), F.lit(stride)) == 0).select(
            F.col(id_col).alias("cluster"), F.col(emb_col).alias("c_emb")
        )
    from cloud_ocr_summarizer_spark.functions.hashing import md5_hash31_col

    return (
        corpus.select(
            F.col(id_col).alias("cluster"),
            F.col(emb_col).alias("c_emb"),
            md5_hash31_col(F.col(id_col)).alias("_h"),
        )
        .orderBy("_h", "cluster")
        .limit(n_centroids)
        .drop("_h")
    )


def kmeans_refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    emb_col: str,
    iterations: int = 3,
) -> DataFrame:
    """Lloyd's iterations to refine IVF centroids, pure DataFrame ops.

    Each iteration: assign every vector to its nearest centroid (broadcast
    join + rank-1 window) then recompute each centroid as the element-wise
    mean of its members (posexplode -> groupBy(cluster, dim) -> mean ->
    re-assemble).  Empty clusters keep their previous centroid.  All
    shuffles are on (cluster[, dim]) — small keys; the corpus is scanned
    ``iterations`` times, never collected.

    Determinism contract: the mean is computed over components quantized
    to 10^-6 fixed point and the result is re-quantized to 10^-6 — so the
    per-cluster reduction is an exact INTEGER sum, identical in any
    engine and any summation order.  Bound: |component| <= 128 keeps
    |v*10^6| < 2^27, so 2^63 overflows only past ~6*10^10 members per
    (cluster, dim) — far beyond any real cluster; the only doubles are
    one correctly-rounded division and one +0.5/floor, both functions of
    exactly-equal integers.  A float (24-bit mantissa) centroid loses
    more precision than the 10^-6 quantization for |m| > ~2.
    """
    current = centroids
    for _ in range(iterations):
        asg = assign_centroids(
            corpus, current, id_col=id_col, emb_col=emb_col, n_probe=1
        )
        members = asg.join(
            corpus.select(F.col(id_col).alias("id"), F.col(emb_col).alias("emb")),
            "id",
        )
        dims = members.select(
            "cluster", F.posexplode(F.col("emb")).alias("dim", "v")
        )
        mean6 = F.floor(
            F.sum(F.round(F.col("v").cast("double") * 1e6).cast("long"))
            .cast("double")
            / F.count("*")
            + F.lit(0.5)
        ).cast("long")
        means = (
            dims.groupBy("cluster", "dim")
            .agg((mean6 / 1e6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("new_emb")
            )
        )
        current = (
            current.join(means, "cluster", "left")
            .select(
                "cluster",
                F.coalesce(F.col("new_emb"), F.col("c_emb")).alias("c_emb"),
            )
        )
    return current


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_centroids: int = 64,
    stride: int | None = None,
    n_probe: int = 4,
    kmeans_iterations: int = 0,
) -> DataFrame:
    """IVF ANN: exact search restricted to the probed inverted lists.

    corpus assign (1 shuffle) -> query probe (broadcast) -> equi-join on
    cluster -> exact cosine + window top-k.  Recall grows with n_probe;
    centroid quality (and thus recall at fixed n_probe) grows with
    ``kmeans_iterations`` of Lloyd refinement.  The centroid set has a
    FIXED size (``n_centroids``, hash-sampled — see derive_centroids), so
    the broadcast stays bounded at any corpus scale; size it ~sqrt(N)
    capped around 64k for a real deployment.
    """
    centroids = derive_centroids(
        corpus, id_col=id_col, emb_col=emb_col,
        n_centroids=n_centroids, stride=stride,
    )
    if kmeans_iterations > 0:
        centroids = kmeans_refine_centroids(
            corpus,
            centroids,
            id_col=id_col,
            emb_col=emb_col,
            iterations=kmeans_iterations,
        )
    corpus_asg = assign_centroids(
        corpus, centroids, id_col=id_col, emb_col=emb_col, n_probe=1
    ).select(F.col("id").alias("neighbor_id"), "cluster")
    query_probes = assign_centroids(
        queries, centroids, id_col=id_col, emb_col=emb_col, n_probe=n_probe
    ).select(F.col("id").alias("query_id"), "cluster")

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"))
    lists = corpus_asg.join(c, "neighbor_id")
    cand = (
        F.broadcast(query_probes.join(q, "query_id"))
        .join(lists, "cluster")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("q_emb"), F.col("c_emb")), 4).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    max_block_size: int | None = 65536,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking column.

    ``max_block_size`` guards the within-block all-pairs join: a block of
    k vectors is k^2 join rows concentrated on one key, so a degenerate
    block (one label covering the corpus) would pin a task on O(k^2)
    work.  Blocks above the cap are skipped — split such blocks with a
    finer key (e.g. LSH bucket of the embedding) before calling this.
    ``None`` disables.  Skipped blocks are observable via
    ``embedding_block_drop_audit``.
    """
    src = df
    if max_block_size is not None:
        ok = (
            src.groupBy(F.col(block_col))
            .agg(F.count("*").alias("bsz"))
            .filter((F.col("bsz") > 1) & (F.col("bsz") <= max_block_size))
            .drop("bsz")
        )
        src = src.join(ok, on=block_col, how="left_semi")
    a = src.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("emb_a"),
        F.col(block_col).alias("blk"),
    )
    b = src.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("emb_b"),
        F.col(block_col).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("emb_a"), F.col("emb_b")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_block_drop_audit(
    df: DataFrame,
    *,
    block_col: str = "label",
    max_block_size: int = 65536,
) -> DataFrame:
    """How much the ``max_block_size`` cap of ``embedding_near_dup_pairs``
    skips: ONE row (cap_name, cap_value, dropped_groups, dropped_rows) —
    over-cap blocks and the vectors they held.  Same group-by the operator
    filters on, so the accounting cannot diverge from the cap."""
    from cloud_ocr_summarizer_spark.operators.dedup import _cap_drop_summary

    sizes = df.groupBy(F.col(block_col)).agg(F.count("*").alias("bsz"))
    return _cap_drop_summary(
        sizes, cap_name="embedding_block", cap=max_block_size
    )


def pq_encode(
    corpus: DataFrame,
    codebook_row: DataFrame,
    *,
    id_col: str,
    emb_col: str,
    dims: int,
    m: int,
) -> DataFrame:
    """(id, codes array<int>): product-quantization encoding.

    Vector v splits into ``m`` contiguous subvectors; codes[j] = index of
    the codebook entry whose j-th subvector is L2-nearest to v's (ties to
    the smaller index).  Row-local HOFs against the broadcast one-row
    codebook — m*k*(dims/m) flops per vector, no shuffle.  Distances are
    quantized to 10^-6 integers before the argmin so the choice is exact
    integer comparison in any engine.
    """
    if dims % m != 0:
        raise ValueError(
            f"dims={dims} not divisible by m={m}: the trailing dims%m "
            "dimensions would be silently ignored by encode and ADC"
        )
    sub = dims // m
    cb = F.col("cb")  # array<struct<ci:int, e:array<float>>>

    def dist_int(v: Column, c: Column, j: Column) -> Column:
        d2 = F.aggregate(
            F.sequence(j * sub + 1, j * sub + sub),
            F.lit(0.0),
            lambda acc, p: acc
            + (
                F.element_at(v, p).cast("double")
                - F.element_at(c, p).cast("double")
            )
            ** 2,
        )
        return F.round(d2 * 1e6).cast("long")

    v = F.col("_emb")
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.array_min(
            F.transform(
                cb,
                lambda e: F.struct(
                    dist_int(v, e["e"], j).alias("d"), e["ci"].alias("ci")
                ),
            )
        )["ci"],
    )
    return (
        corpus.select(F.col(id_col).alias("id"), F.col(emb_col).alias("_emb"))
        .crossJoin(F.broadcast(codebook_row))
        .select("id", codes.alias("codes"))
    )


def pq_codebook(
    corpus: DataFrame, *, id_col: str, emb_col: str, n_codebook: int = 16
) -> DataFrame:
    """ONE-row DataFrame with ``cb`` = array<struct<ci, e>>: the PQ
    codebook, seeded from the ``n_codebook`` hash-smallest corpus vectors
    (same deterministic selection as derive_centroids) and indexed 0..k-1
    in hash order.  Built distributively (top-k + one tiny collect_list
    aggregate), then broadcast — never a driver-side collect.
    """
    from cloud_ocr_summarizer_spark.functions.hashing import md5_hash31_col

    seeds = (
        corpus.select(
            F.col(id_col).alias("sid"),
            F.col(emb_col).alias("e"),
            md5_hash31_col(F.col(id_col)).alias("_h"),
        )
        .orderBy("_h", "sid")
        .limit(n_codebook)
    )
    # unpartitioned window is fine HERE: it runs on the post-limit seed
    # set (n_codebook rows, e.g. 16), never on the corpus
    w = Window.orderBy("_h", "sid")
    indexed = seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("ci"), "e"
    )
    return indexed.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ci"), F.col("e").alias("e")))
        ).alias("cb")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    n_codebook: int = 16,
    rerank: int = 4,
) -> DataFrame:
    """Product-quantization ANN (Jegou et al., TPAMI 2011): the index
    build (:func:`pq_codebook` + :func:`pq_encode` over the corpus), then
    :func:`pq_search`.  Output: (query_id, rank, neighbor_id, cosine) —
    rank <= k.
    """
    kw = {"id_col": id_col, "emb_col": emb_col}
    codebook_row = pq_codebook(corpus, n_codebook=n_codebook, **kw)
    codes = pq_encode(corpus, codebook_row, dims=dims, m=m, **kw)
    return pq_search(
        queries, corpus, codebook_row, codes, k=k, dims=dims, m=m,
        rerank=rerank, **kw,
    )


def pq_search(
    queries: DataFrame,
    corpus: DataFrame,
    codebook_row: DataFrame,
    codes: DataFrame,
    *,
    k: int,
    id_col: str,
    emb_col: str,
    dims: int,
    m: int,
    rerank: int,
) -> DataFrame:
    """The PQ query phase over a built index: ADC candidate scoring over
    the (id, codes) of :func:`pq_encode` + exact re-rank of the top
    ``rerank*k`` against ``corpus``'s raw vectors.

    The 100 TB memory path: the scan side holds ``m`` small ints per
    vector (codes) instead of ``dims`` floats — a 32x shrink at
    dims=64/m=8 — and each query x code score is m codebook dot-lookups
    instead of a dims-length dot product.  Here ADC terms are computed
    from the broadcast codebook directly (at real scale they'd be a
    per-query LUT, same arithmetic).  Both the encode argmin and the ADC
    ranking use 10^-6 integer quantization, so the candidate cutoff is
    exact integer comparison in any engine; the final ordering re-ranks
    candidates by EXACT cosine on the raw vectors.
    Output: (query_id, rank, neighbor_id, cosine) — rank <= k.
    """
    if dims % m != 0:
        raise ValueError(
            f"dims={dims} not divisible by m={m}: the trailing dims%m "
            "dimensions would be silently ignored by encode and ADC"
        )
    sub = dims // m
    codes = codes.select(F.col("id").alias("neighbor_id"), "codes")

    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
        )
        .crossJoin(F.broadcast(codebook_row))
    )

    def term_int(qv: Column, c: Column, j: Column) -> Column:
        dot = F.aggregate(
            F.sequence(j * sub + 1, j * sub + sub),
            F.lit(0.0),
            lambda acc, p: acc
            + F.element_at(qv, p).cast("double")
            * F.element_at(c, p).cast("double"),
        )
        return F.round(dot * 1e6).cast("long")

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + term_int(
            F.col("q_emb"),
            F.element_at(F.col("cb"), F.element_at(F.col("codes"), j + 1) + 1)["e"],
            j,
        ),
    )
    cand = (
        F.broadcast(q)
        .crossJoin(codes)
        .select("query_id", "neighbor_id", "q_emb", adc.alias("adc_e6"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_e6").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        cand.withColumn("_rk", F.row_number().over(wa))
        .filter(F.col("_rk") <= rerank * k)
        .drop("_rk", "adc_e6")
    )
    c_emb = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb")
    )
    exact = shortlist.join(c_emb, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("q_emb"), F.col("c_emb")), 4).alias("cosine"),
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("int").alias("rank"),
            "neighbor_id", "cosine",
        )
    )
