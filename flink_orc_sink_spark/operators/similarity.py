"""Similarity search over embedding columns.

Three tiers (SURVEY.md §7.2 step 5):

- **brute-force top-k** — exact; query side broadcast, corpus side
  streamed, per-group top-k via window. The correctness baseline, and
  the right choice whenever |queries|·|corpus| per partition is small.
- **multi-table hyperplane LSH** — sign-random-projection signatures,
  ``n_tables`` independent tables OR-ed together (banding), candidates
  from per-table bucket equi-joins, exact cosine re-scoring. The
  100 TB near-duplicate / high-similarity path.
- **IVF (inverted-file) top-k** — k-means coarse quantizer trained on
  a bounded sample; corpus partitioned by nearest centroid; queries
  probe their ``nprobe`` closest cells only. The 100 TB semantic-
  search path for real (clustered) embedding distributions.

Signatures and cell assignments are computed in Arrow-batched Pandas
UDFs over constant NumPy matrices — one matmul per batch. The earlier
pure-Catalyst formulation unrolled ``dims × planes`` expression nodes
per row (a codegen bomb at production dims) and used a single
AND-construction (recall ≈ 3% measured); both are fixed here.

Honest scaling note: on *isotropic random* vectors (like the
synthetic ``embeddings`` table — measured top-5 neighbor cosine
0.24-0.51) no sublinear index beats a scan; recall targets for the
approximate tiers are validated on clustered data (tests/), which is
what real embedding corpora look like.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_orc_sink_spark.functions.vector import cosine, cosine_with_norms, norm
from flink_orc_sink_spark.session import local_df


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-``k`` corpus neighbors for each query vector.

    The query side is broadcast (it is the small side by definition of
    the problem); each corpus partition scores its rows against all
    queries locally, then a window keeps k per query. No corpus
    shuffle until the final (tiny) top-k exchange.
    """
    # bounded-broadcast: query batch: the small side by problem definition (serving/eval batch, not corpus)
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).alias("qvec"),
            norm(query_vec).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("cvec"),
        norm(corpus_vec).alias("_cn"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(
                cosine_with_norms("qvec", "cvec", F.col("_qn"), F.col("_cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    from flink_orc_sink_spark.operators.relational import topk_per_group

    return topk_per_group(
        scored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def make_signature_udf(
    dims: int, n_tables: int = 16, n_planes: int = 8, seed: int = 42
):
    """Pandas UDF computing all ``n_tables`` LSH signatures per vector
    in one NumPy matmul: vector → array of ``n_tables`` bucket codes
    (one ``n_planes``-bit integer per table).

    The plane matrix is a deterministic constant (seeded Gaussian),
    serialized once into the UDF closure and shipped to executors with
    the task — no per-row expression tree, no driver round-trips.
    """
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((dims, n_tables * n_planes))
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def signatures(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (batch, dims)
        bits = (mat @ planes >= 0).reshape(len(mat), n_tables, n_planes)
        codes = bits.astype(np.int64) @ weights  # (batch, n_tables)
        return pd.Series(list(codes))

    return signatures


def _lsh_candidates(
    a: DataFrame,
    b: DataFrame,
    a_id: str,
    b_id: str,
    a_vec: str,
    b_vec: str,
    n_tables: int,
    n_planes: int,
    dims: int,
    seed: int,
    ordered: bool,
) -> DataFrame:
    """Candidate id pairs from any-table bucket agreement.

    Both sides are reduced to slim ``(id, table, bucket)`` rows before
    the join — vectors never travel through the candidate shuffle
    (they rejoin later for scoring). ``ordered=True`` keeps only
    ``id_a < id_b`` (self-join dedup mode).
    """
    sig = make_signature_udf(dims, n_tables, n_planes, seed)
    sa = a.select(
        F.col(a_id).alias("id_a"),
        F.posexplode(sig(F.col(a_vec))).alias("tbl", "bucket"),
    )
    sb = b.select(
        F.col(b_id).alias("id_b"),
        F.posexplode(sig(F.col(b_vec))).alias("tbl", "bucket"),
    )
    cond = F.col("id_a") < F.col("id_b") if ordered else F.col("id_a") != F.col("id_b")
    return (
        sa.join(sb, ["tbl", "bucket"])
        .filter(cond)
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    n_tables: int = 16,
    n_planes: int = 8,
    dims: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-``k`` via multi-table sign-LSH: score only
    corpus rows sharing at least one table bucket with the query
    (OR-construction — each extra table adds recall; each extra plane
    sharpens buckets). Candidates are exact-cosine re-scored, so
    precision is 1 by construction; only recall is approximate.

    Tune: P(candidate) = 1 − (1 − p^b)^L with p = 1 − θ/π. The
    defaults (L=16, b=8) give ≥ 0.93 recall at cosine ≥ 0.9 while
    pruning ~2^8-fold per table on big corpora.
    """
    cands = _lsh_candidates(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
        n_tables, n_planes, dims, seed, ordered=False,
    )
    qv = queries.select(
        F.col(query_id).alias("id_a"),
        F.col(query_vec).alias("qvec"),
        norm(query_vec).alias("_qn"),
    )
    cv = corpus.select(
        F.col(corpus_id).alias("id_b"),
        F.col(corpus_vec).alias("cvec"),
        norm(corpus_vec).alias("_cn"),
    )
    scored = (
        cands.join(qv, "id_a")
        .join(cv, "id_b")
        .select(
            F.col("id_a").alias("qid"),
            F.col("id_b").alias("cid"),
            F.round(
                cosine_with_norms("qvec", "cvec", F.col("_qn"), F.col("_cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    from flink_orc_sink_spark.operators.relational import topk_per_group

    return topk_per_group(
        scored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Exact embedding near-duplicate pairs: cosine >= threshold,
    ``id_a < id_b``. All-pairs formulation — the correctness oracle
    for :func:`lsh_neardup_pairs`; at scale use the LSH variant."""
    # The n² cosine work runs on the STREAMED side's partitions of the
    # nested-loop join; exactness-tier inputs often arrive as one or
    # two partitions (a checkpointed planted frame, a single parquet
    # file) and then 30 of 32 local cores idle. Spread an
    # under-partitioned input across the session's parallelism first —
    # measured on the 1000-row ingest bootstrap at sf0.1: 4.4 s ->
    # 0.9 s for the same pair count. Guarded so an already-parallel
    # corpus isn't re-shuffled just to re-establish what it has.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(vec_col).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(vec_col).alias("_nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms("va", "vb", F.col("_na"), F.col("_nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_tables: int = 16,
    n_planes: int = 8,
    dims: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate embedding near-dup pairs: multi-table LSH candidate
    generation + exact cosine verification — the embedding-cosine
    dedup path for a 100 TB corpus. At threshold 0.95 (θ/π ≈ 0.10)
    the default L=16, b=8 tables catch ≥ 99% of true pairs.

    SIZE ``n_planes`` WITH THE CORPUS: the banded self-join costs
    Σ|bucket|², so bucket occupancy (~n/2^planes per table) must stay
    roughly constant — use ``n_planes ≈ ceil(log2(n)) - 3`` (b=8 is
    right for ~10⁴ rows; a 10¹⁰-row corpus wants b≈30). Recall at
    cosine ≥ 0.95 stays ≈1 with the OR-16 construction up to b≈16;
    beyond that raise ``n_tables`` too. Fixed b=8 goes quadratic;
    ``tools/scale_probe.py similarity`` checks that log-scaled planes
    keep jobs and stages flat and shuffle bytes linear, with
    planted-pair recall 1.0."""
    cands = _lsh_candidates(
        df, df, id_col, id_col, vec_col, vec_col,
        n_tables, n_planes, dims, seed, ordered=True,
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(vec_col).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(vec_col).alias("_nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms("va", "vb", F.col("_na"), F.col("_nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --- IVF (inverted file) ----------------------------------------------

def train_centroids(
    df: DataFrame,
    vec_col: str,
    nlist: int = 64,
    sample_size: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """K-means coarse quantizer trained on a bounded sample.

    The sample (≤ ``sample_size`` rows) is the ONLY driver-side
    collect in the IVF path, and it is bounded regardless of corpus
    size — the standard IVF training recipe (train on a sample, assign
    everything distributedly). Centroids are L2-normalized so nearest-
    centroid-by-dot-product == nearest-by-cosine.
    """
    n_total = df.count()
    frac = min(1.0, sample_size / max(n_total, 1))
    sample = np.asarray(
        df.sample(fraction=frac, seed=seed)
        .limit(sample_size)
        .select(vec_col)
        .toPandas()[vec_col]
        .tolist(),
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    nlist = min(nlist, len(sample))
    centroids = sample[rng.choice(len(sample), nlist, replace=False)]
    for _ in range(iters):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(nlist):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids /= np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
    return centroids


def make_cell_udfs(centroids: np.ndarray, nprobe: int):
    """(assign_udf, probe_udf): nearest cell per corpus vector; the
    ``nprobe`` nearest cells per query vector. Both one matmul per
    Arrow batch over the broadcast centroid matrix."""
    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def assign_cell(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ cents.T, axis=1).astype(np.int32))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cents.T
        order = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    return assign_cell, probe_cells


def build_ivf_index(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    path: str,
    nlist: int = 64,
    sample_size: int = 20_000,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Materialize an IVF index on disk: the corpus written as parquet
    PARTITIONED BY cell (one directory per inverted list) plus the
    centroid matrix at ``<path>/centroids``.

    This is the 100 TB shape the inline :func:`ivf_topk` docstring
    promises: assignment is paid once at build time; every search
    afterwards reads ONLY the ``nprobe`` probed cell directories —
    real partition pruning at the file listing, not a filter after a
    full scan. Rebuild cadence is a data-freshness decision (the same
    trade every IVF system makes). Pass ``centroids`` to pin a known
    coarse quantizer instead of training one (e.g. when rebuilding
    for comparison against an incrementally-appended index).

    Returns the centroid matrix, so a caller about to issue many
    probes/appends (a streaming ingest loop) can thread it through
    instead of re-reading ``<path>/centroids`` per call.
    """
    import os

    if centroids is None:
        centroids = train_centroids(
            corpus, corpus_vec, nlist=nlist, sample_size=sample_size,
            seed=seed,
        )
    assign_cell, _ = make_cell_udfs(centroids, nprobe=1)
    assigned = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("cvec"),
        assign_cell(F.col(corpus_vec)).alias("cell"),
    )
    # repartition by cell so each inverted list is one writer task /
    # one file, not nlist fragments per input partition.
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(os.path.join(path, "data"))
    spark = corpus.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    local_df(
        spark, cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    return np.asarray(centroids, dtype=np.float64)


def load_ivf_centroids(spark, index_path: str) -> np.ndarray:
    """Read the coarse-quantizer matrix from ``<index_path>/centroids``
    (cell-ordered). Centroids are IMMUTABLE between rebuilds — appends
    and forgets never move them — so a caller issuing many probes or
    appends against one index (a streaming foreachBatch loop) should
    load once and pass the array through, instead of paying a parquet
    scan + collect per micro-batch."""
    import os

    cent_pdf = (
        spark.read.parquet(os.path.join(index_path, "centroids"))
        .orderBy("cell")
        .toPandas()
    )
    return np.asarray(cent_pdf["centroid"].tolist(), dtype=np.float64)


def _ivf_probe_scored(
    spark,
    queries: DataFrame,
    index_path: str,
    query_id: str,
    query_vec: str,
    nprobe: int,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Shared probe machinery of :func:`ivf_search` and
    :func:`ivf_threshold_matches`: (qid, cid, cos_sim) for every
    query × corpus row in the probed cells.

    The probed cell set (≤ ``nlist`` ints, driver-side by design —
    the one bounded collect in the path) becomes an ``isin`` partition
    filter, so the scan lists only the probed directories.
    """
    import os

    if centroids is None:
        centroids = load_ivf_centroids(spark, index_path)
    _, probe_cells = make_cell_udfs(centroids, nprobe)
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).alias("qvec"),
        F.explode(probe_cells(F.col(query_vec))).alias("cell"),
    )
    probed = sorted(
        {int(r.cell) for r in q.select("cell").distinct().collect()}
    )
    from flink_orc_sink_spark.operators.retention import subtract_tombstones

    idx = subtract_tombstones(
        spark.read.parquet(os.path.join(index_path, "data"))
        .filter(F.col("cell").isin(probed))
        # a crash between append_to_ivf_index's write and its caller's
        # replay marker can double-append a batch; dedup by id at read
        # time (on the probed subset only) so replayed index rows can
        # never duplicate results or crowd genuine neighbors out of
        # the top-k — same replay hygiene as minhash_probe_index.
        .dropDuplicates(["cid"]),
        # forgotten vectors (forget_from_ivf_index) must neither match
        # nor crowd genuine neighbors out of the top-k
        "cid",
        spark,
        index_path,
    )
    return (
        q.withColumn("_qn", norm("qvec"))
        .join(idx.withColumn("_cn", norm("cvec")), "cell")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(
                cosine_with_norms("qvec", "cvec", F.col("_qn"), F.col("_cn")),
                6,
            ).alias("cos_sim"),
        )
    )


def ivf_search(
    spark,
    queries: DataFrame,
    index_path: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    nprobe: int = 8,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Top-``k`` against a :func:`build_ivf_index` index: the shared
    probe + the same per-group top-k as the inline path."""
    scored = _ivf_probe_scored(
        spark, queries, index_path, query_id, query_vec, nprobe,
        centroids=centroids,
    )
    from flink_orc_sink_spark.operators.relational import topk_per_group

    return topk_per_group(
        scored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def ivf_threshold_matches(
    spark,
    queries: DataFrame,
    index_path: str,
    query_id: str,
    query_vec: str,
    threshold: float,
    nprobe: int = 8,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """ALL matches with ``cos_sim ≥ threshold`` against the index —
    no top-k cap. The dedup-ingest shape: near-dup semantics are
    "every pair above the line", and a top-k cap would silently drop
    matches for any query with more than k true neighbors (the only
    remaining approximation is cell-straddling, bounded by
    ``nprobe``)."""
    return _ivf_probe_scored(
        spark, queries, index_path, query_id, query_vec, nprobe,
        centroids=centroids,
    ).filter(F.col("cos_sim") >= threshold)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    nlist: int = 64,
    nprobe: int = 8,
    sample_size: int = 20_000,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-``k``: corpus bucketed by nearest centroid,
    each query scored against only its ``nprobe`` closest cells —
    ~``nprobe/nlist`` of the corpus touched per query. At 100 TB the
    cell assignment is a one-off (persist the assigned corpus keyed by
    cell; the probe join then prunes cells via the shuffle key)."""
    centroids = train_centroids(
        corpus, corpus_vec, nlist=nlist, sample_size=sample_size, seed=seed
    )
    assign_cell, probe_cells = make_cell_udfs(centroids, nprobe)
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("cvec"),
        assign_cell(F.col(corpus_vec)).alias("cell"),
    )
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).alias("qvec"),
        F.explode(probe_cells(F.col(query_vec))).alias("cell"),
    )
    scored = (
        q.withColumn("_qn", norm("qvec"))
        .join(c.withColumn("_cn", norm("cvec")), "cell")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(
                cosine_with_norms("qvec", "cvec", F.col("_qn"), F.col("_cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    from flink_orc_sink_spark.operators.relational import topk_per_group

    return topk_per_group(
        scored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def ivf_topk_fixedcells(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    nlist: int = 32,
    nprobe: int = 8,
    scale: int = 1000,
    shift: int = 10_000,
) -> DataFrame:
    """IVF approximate top-``k`` whose coarse quantizer is the
    BIT-EXACT fixed-point k-means (``linalg.kmeans_fixedpoint``):
    corpus cells come straight from the k-means assignments, query
    probing ranks the final integer centroids by the SAME integer
    distance (ties → lowest cell id), and candidate scoring is the
    proven rounded-double cosine. Every step is engine-portable, so
    — unlike the float-quantizer :func:`ivf_topk` — the whole ANN
    query is VALUE-CHECKABLE against an unrolled SQL oracle. Same
    cost shape as the float tier: assignment is one broadcast loop
    over the corpus, probing touches ``nprobe``/``nlist`` of it, and
    ``nprobe = nlist`` degrades gracefully to the exact brute-force
    top-k (pytest-pinned).
    """
    from flink_orc_sink_spark.operators.linalg import kmeans_fixedpoint
    from flink_orc_sink_spark.operators.relational import topk_per_group

    assign, cents = kmeans_fixedpoint(
        corpus, corpus_id, corpus_vec, k=nlist, iterations=2,
        scale=scale, shift=shift, return_centroids=True,
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("cvec"),
    ).join(
        assign.select(
            F.col("vid").alias("cid"), F.col("cluster").alias("cell")
        ),
        "cid",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("_d").asc(), F.col("cell").asc()
    )
    probe = (
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).alias("qvec"),
            _fixed_quantize(F.col(query_vec), scale, shift).alias("_qv"),
        )
        .crossJoin(
            # bounded-broadcast: IVF centroids: nlist rows — a fixed index parameter
            F.broadcast(cents.withColumnRenamed("cid", "cell"))
        )
        .withColumn("_d", _fixed_dist("_qv", "cv", scale))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("qid", "qvec", "cell")
    )
    scored = (
        probe.withColumn("_qn", norm("qvec"))
        .join(c.withColumn("_cn", norm("cvec")), "cell")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(
                cosine_with_norms(
                    "qvec", "cvec", F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return topk_per_group(
        scored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def _fixed_quantize(col, scale: int, shift: int):
    return F.transform(
        col,
        lambda x: (
            F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long")
            + shift
        ),
    )


def _fixed_dist(qcol: str, ccol: str, scale: int):
    return F.aggregate(
        F.zip_with(
            F.col(qcol),
            F.col(ccol),
            lambda a, b: (a * scale - b) * (a * scale - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_fixed_codes_lut(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    m: int,
    ksub: int,
    dims: int,
    scale: int,
    shift: int,
):
    """Shared PQ tier of the fixed-point ANN variants: per-subspace
    fixed-point k-means codebooks (``kmeans_fixedpoint``, so both
    encode and the per-query distance LUT are engine-exact integers).
    Returns ``(codes(cid, j, code), lut(qid, j, code, d))`` — the LUT
    is nq·m·ksub rows, broadcast-sized by construction."""
    from flink_orc_sink_spark.operators.linalg import kmeans_fixedpoint

    dsub = dims // m
    codes = None
    cents = None
    for j in range(m):
        sub = corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.slice(F.col(corpus_vec), j * dsub + 1, dsub).alias(
                "embedding"
            ),
        )
        a_j, c_j = kmeans_fixedpoint(
            sub, "vec_id", "embedding", k=ksub, iterations=2,
            scale=scale, shift=shift, return_centroids=True,
        )
        a_j = a_j.select(
            F.col("vid").alias("cid"),
            F.lit(j).alias("j"),
            F.col("cluster").alias("code"),
        )
        c_j = c_j.select(
            F.lit(j).alias("j"), F.col("cid").alias("code"), "cv"
        )
        codes = a_j if codes is None else codes.unionByName(a_j)
        cents = c_j if cents is None else cents.unionByName(c_j)
    qsl = None
    for j in range(m):
        qj = queries.select(
            F.col(query_id).alias("qid"),
            F.lit(j).alias("j"),
            _fixed_quantize(
                F.slice(F.col(query_vec), j * dsub + 1, dsub),
                scale,
                shift,
            ).alias("sqv"),
        )
        qsl = qj if qsl is None else qsl.unionByName(qj)
    # bounded-broadcast: PQ codebook centroids: m*ksub rows — fixed index parameters
    lut = qsl.join(F.broadcast(cents), "j").select(
        "qid", "j", "code", _fixed_dist("sqv", "cv", scale).alias("d")
    )
    return codes, lut


def _pq_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    adc: DataFrame,
    shortlist: int,
    k: int,
) -> DataFrame:
    """Deterministic candidate cut (ADC asc, id asc) + exact rounded-
    cosine re-rank — shared tail of the fixed-point PQ variants."""
    from pyspark.sql import Window

    from flink_orc_sink_spark.operators.relational import topk_per_group

    wc = Window.partitionBy("qid").orderBy(
        F.col("adc").asc(), F.col("cid").asc()
    )
    cand = (
        adc.filter(F.col("qid") != F.col("cid"))
        .withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") <= shortlist)
        .select("qid", "cid")
    )
    qv = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).alias("qvec"),
        norm(query_vec).alias("_qn"),
    )
    cv = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("cvec"),
        norm(corpus_vec).alias("_cn"),
    )
    scored = cand.join(qv, "qid").join(cv, "cid").select(
        "qid",
        "cid",
        F.round(
            cosine_with_norms("qvec", "cvec", F.col("_qn"), F.col("_cn")),
            6,
        ).alias("cos_sim"),
    )
    return topk_per_group(
        scored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def pq_topk_fixedcodebooks(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    shortlist: int = 32,
    dims: int = 64,
    scale: int = 1000,
    shift: int = 10_000,
) -> DataFrame:
    """PQ ANN top-``k`` whose subspace codebooks are BIT-EXACT
    fixed-point k-means: encode, the per-query distance LUT, and the
    ADC candidate cut are all integer arithmetic, so — unlike the
    float-codebook :func:`pq_topk` — the whole query is
    VALUE-CHECKABLE against an unrolled SQL oracle. ADC here is the
    asymmetric squared-L2 in quantized space (candidate generation
    only; exact cosine re-ranks the shortlist), and ties break to
    the lowest corpus id everywhere. Same cost shape as the float
    tier: one broadcast LUT join over the code table, no vector ever
    shuffles."""
    codes, lut = _pq_fixed_codes_lut(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
        m, ksub, dims, scale, shift,
    )
    adc = (
        # bounded-broadcast: ADC LUT: |query batch| * m * ksub rows — query- and parameter-bounded
        codes.join(F.broadcast(lut), ["j", "code"])
        .groupBy("qid", "cid")
        .agg(F.sum("d").alias("adc"))
    )
    return _pq_rerank(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
        adc, shortlist, k,
    )


def ivf_pq_topk_fixedcells(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    nlist: int = 32,
    nprobe: int = 8,
    m: int = 4,
    ksub: int = 16,
    shortlist: int = 32,
    dims: int = 64,
    scale: int = 1000,
    shift: int = 10_000,
) -> DataFrame:
    """IVF-PQ (IVFADC) with BOTH quantizers in bit-exact fixed point:
    coarse cells and probe set from the full-vector fixed-point
    k-means (as :func:`ivf_topk_fixedcells`), PQ codes/LUT from the
    per-subspace fixed-point codebooks (as
    :func:`pq_topk_fixedcodebooks`), ADC restricted to the probed
    cells, exact rounded-cosine re-rank of the shortlist — the full
    trillion-vector recipe, VALUE-CHECKABLE end to end."""
    from pyspark.sql import Window

    from flink_orc_sink_spark.operators.linalg import kmeans_fixedpoint

    assign, gcents = kmeans_fixedpoint(
        corpus, corpus_id, corpus_vec, k=nlist, iterations=2,
        scale=scale, shift=shift, return_centroids=True,
    )
    cellof = assign.select(
        F.col("vid").alias("cid"), F.col("cluster").alias("cell")
    )
    wp = Window.partitionBy("qid").orderBy(
        F.col("_d").asc(), F.col("cell").asc()
    )
    probe = (
        queries.select(
            F.col(query_id).alias("qid"),
            _fixed_quantize(F.col(query_vec), scale, shift).alias("_qv"),
        )
        # bounded-broadcast: coarse IVF centroids: nlist rows — a fixed index parameter
        .crossJoin(F.broadcast(gcents.withColumnRenamed("cid", "cell")))
        .withColumn("_d", _fixed_dist("_qv", "cv", scale))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select("qid", "cell")
    )
    codes, lut = _pq_fixed_codes_lut(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
        m, ksub, dims, scale, shift,
    )
    adc = (
        codes.join(cellof, "cid")
        # bounded-broadcast: probe list: |query batch| * nprobe rows
        .join(F.broadcast(probe), "cell")
        # bounded-broadcast: ADC LUT: |query batch| * m * ksub rows
        .join(F.broadcast(lut), ["qid", "j", "code"])
        .groupBy("qid", "cid")
        .agg(F.sum("d").alias("adc"))
    )
    return _pq_rerank(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec,
        adc, shortlist, k,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    nlist: int = 64,
    cell_cap: int = 4096,
    sample_size: int = 20_000,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style cluster-then-dedup (Abbas et al. 2023, public
    arXiv 2303.09540): k-means the corpus into ``nlist`` cells, then
    flag within-cell near-duplicates (cosine ≥ ``threshold``) keeping
    the lowest id of each duplicate group as the representative.

    Output: ``(id_col, is_dup boolean, dup_of nullable id)`` — one row
    per input row; ``dup_of`` is the kept representative for flagged
    rows, NULL otherwise.

    100 TB shape: ONE shuffle (hash on cell); each cell is scored with
    a single NumPy gram matrix inside ``applyInPandas`` — never a
    pairwise row join. Pairwise work is O(Σ cell²), the SemDeDup cost
    model: with balanced cells that is n²/nlist, and ``nlist`` scales
    ~√n exactly like the IVF tier. Oversized cells (skewed k-means)
    are processed in id-sorted chunks of ``cell_cap`` — cost stays
    bounded at cap²·(size/cap) per cell; cross-chunk pairs inside one
    giant cell are the documented recall trade, the same degenerate-
    bucket guard the LSH tier uses (``bucket_cap``).

    Approximate by construction (near-dups straddling a cell boundary
    are missed — the paper's own trade), so no SQL oracle; planted-
    clone recall is pytest-asserted in tests/test_similarity.py.
    """
    centroids = train_centroids(
        df, vec_col, nlist=nlist, sample_size=sample_size, seed=seed
    )
    assign_cell, _ = make_cell_udfs(centroids, nprobe=1)
    assigned = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        assign_cell(F.col(vec_col)).alias("_cell"),
    )

    out_schema = T.StructType(
        [
            next(
                T.StructField("_id", f.dataType)
                for f in df.schema.fields
                if f.name == id_col
            ),
            T.StructField("is_dup", T.BooleanType()),
            T.StructField("dup_of", next(
                f.dataType for f in df.schema.fields if f.name == id_col
            )),
        ]
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        ids = pdf["_id"].to_numpy()
        out_dup = np.zeros(len(pdf), dtype=bool)
        out_of = np.full(len(pdf), None, dtype=object)
        for start in range(0, len(pdf), cell_cap):
            chunk = pdf.iloc[start : start + cell_cap]
            x = np.asarray(chunk["_vec"].tolist(), dtype=np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = x @ x.T
            # dup against any EARLIER (lower-id) row in the chunk;
            # representative = the earliest such row. One boolean
            # matrix, no Python-per-pair work.
            hit = np.triu(sims >= threshold, k=1)  # [i, j] with i < j
            dup_j = hit.any(axis=0)
            first_i = hit.argmax(axis=0)  # first earlier hit per col
            for j in np.nonzero(dup_j)[0]:
                out_dup[start + j] = True
                out_of[start + j] = ids[start + int(first_i[j])]
        return pd.DataFrame(
            {"_id": ids, "is_dup": out_dup, "dup_of": out_of}
        )

    return (
        assigned.groupBy("_cell")
        .applyInPandas(dedup_cell, schema=out_schema)
        .withColumnRenamed("_id", id_col)
    )


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks: the vector space is split into
    ``m`` contiguous subspaces and an independent ``ksub``-centroid
    k-means is trained per subspace on a bounded sample (the same
    train-on-sample recipe as :func:`train_centroids` — the ONLY
    driver-side collect in the PQ path, bounded regardless of corpus
    size). Vectors are L2-normalized first so PQ dot products
    approximate cosine. Returns ``(m, ksub, dsub)`` float64.
    """
    n_total = df.count()
    frac = min(1.0, sample_size / max(n_total, 1))
    sample = np.asarray(
        df.sample(fraction=frac, seed=seed)
        .limit(sample_size)
        .select(vec_col)
        .toPandas()[vec_col]
        .tolist(),
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    ksub = min(ksub, len(sample))
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for i in range(m):
        sub = sample[:, i * dsub : (i + 1) * dsub]
        cents = sub[rng.choice(len(sub), ksub, replace=False)].copy()
        for _ in range(iters):
            # nearest centroid by L2 on the subvector
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[i] = cents
    return books


def pq_encode(
    corpus: DataFrame, vec_col: str, books: np.ndarray, out_col: str = "codes"
) -> DataFrame:
    """Encode each vector as ``m`` centroid ids (one per subspace) —
    the ~``4*d/m``-fold compression that lets a 100 TB vector corpus
    live in memory. Arrow-batched, one distance computation per
    subspace per batch; map-only, zero shuffle."""
    books = np.asarray(books, dtype=np.float64)
    m, ksub, dsub = books.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for i in range(m):
            sub = mat[:, i * dsub : (i + 1) * dsub]
            d2 = ((sub[:, None, :] - books[i][None, :, :]) ** 2).sum(axis=2)
            codes[:, i] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return corpus.withColumn(out_col, encode(F.col(vec_col)))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 32,
    sample_size: int = 20_000,
    seed: int = 42,
) -> DataFrame:
    """Product-quantization ANN top-``k`` with asymmetric distance
    (ADC) and exact re-rank — the memory-bound tier of the similarity
    stack (brute ⊂ int8 ⊂ PQ ⊂ IVF/LSH; compose with
    :func:`build_ivf_index` for IVF-PQ, the standard trillion-vector
    recipe).

    Flow: (1) codebooks from a bounded sample; (2) the query BATCH is
    collected to the driver (bounded by design — this is a serving
    batch, not the corpus) and turned into per-query lookup tables
    ``LUT[q,i,j] = <q_sub_i, books[i,j]>``; (3) ONE ``mapInPandas``
    pass over the encoded corpus scores every (query, code) pair by
    LUT gather — O(m) per pair instead of O(d), no join, no shuffle
    of vectors — and emits only each partition's per-query top
    ``shortlist``; (4) a global top-``shortlist`` merge (ties broken
    by corpus id, so the candidate set is deterministic), then exact
    cosine re-rank of candidates against the true vectors.

    Ids must be integral (BIGINT) — the mapInPandas contract declares
    them as ``long``.
    """
    books = train_pq_codebooks(
        corpus, corpus_vec, m=m, ksub=ksub, sample_size=sample_size, seed=seed
    )
    _, _, dsub = books.shape

    q_pdf = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).toPandas()
    qids = q_pdf["qid"].to_numpy(dtype=np.int64)
    qmat = np.asarray(q_pdf["qvec"].tolist(), dtype=np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # LUT[q, i, j] = dot(query q's subvector i, codebook i centroid j)
    lut = np.stack(
        [qmat[:, i * dsub : (i + 1) * dsub] @ books[i].T for i in range(m)],
        axis=1,
    )

    enc = pq_encode(
        corpus.select(
            F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cvec")
        ),
        "cvec",
        books,
    ).select("cid", "codes")

    def score_partition(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["cid"].to_numpy(dtype=np.int64)
            codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
            # scores[q, row] = Σ_i LUT[q, i, codes[row, i]]
            scores = np.zeros((len(qids), len(cids)), dtype=np.float64)
            for i in range(m):
                scores += lut[:, i, codes[:, i]]
            out_q, out_c, out_s = [], [], []
            top = min(shortlist, len(cids))
            for qi in range(len(qids)):
                mask = cids != qids[qi]
                sc, cc = scores[qi][mask], cids[mask]
                # deterministic top-`shortlist`: approx desc, cid asc
                order = np.lexsort((cc, -sc))[:top]
                out_q.append(np.full(len(order), qids[qi]))
                out_c.append(cc[order])
                out_s.append(sc[order])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "cid": np.concatenate(out_c),
                    "approx": np.concatenate(out_s),
                }
            )

    from flink_orc_sink_spark.operators.relational import topk_per_group

    partial = enc.mapInPandas(
        score_partition, "qid long, cid long, approx double"
    )
    cands = topk_per_group(
        partial,
        ["qid"],
        [F.col("approx").desc(), F.col("cid").asc()],
        shortlist,
        rank_col="_srank",
    ).select("qid", "cid")
    q_exact = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    )
    c_exact = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cvec")
    )
    rescored = (
        # bounded-broadcast: exact query vectors: query-batch-bounded rescore side
        cands.join(F.broadcast(q_exact), "qid")
        .join(c_exact, "cid")
        .select(
            "qid",
            "cid",
            F.round(cosine("qvec", "cvec"), 6).alias("cos_sim"),
        )
    )
    return topk_per_group(
        rescored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 5,
    nlist: int = 64,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 32,
    sample_size: int = 20_000,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the coarse quantizer restricts each query to its
    ``nprobe`` nearest cells (~``nprobe/nlist`` of the corpus) and PQ
    codes make each candidate comparison O(m) over 8-byte codes —
    the standard trillion-vector serving recipe (IVFADC, Jégou et
    al.), composed from this module's :func:`train_centroids` and
    :func:`train_pq_codebooks`/:func:`pq_encode` tiers.

    Shape: encode+assign is one map-only pass; candidate generation
    is ONE equi-join on ``cell`` (the same bucket-join shape as LSH
    banding — no crossJoin); ADC scoring is an Arrow-batched UDF over
    the joined codes (per-query LUTs in the closure); exact cosine
    re-ranks only the global shortlist. Codebooks here quantize raw
    vectors; the residual-encoding refinement (quantize ``v −
    centroid[cell]``) is a drop-in change to ``pq_encode``'s input
    and sharpens cells with strong means.

    Persisted form: write the encoded corpus PARTITIONED BY cell
    (exactly :func:`build_ivf_index` with ``codes`` instead of raw
    vectors) and the probe filter prunes at the file listing.
    """
    centroids = train_centroids(
        corpus, corpus_vec, nlist=nlist, sample_size=sample_size, seed=seed
    )
    books = train_pq_codebooks(
        corpus, corpus_vec, m=m, ksub=ksub, sample_size=sample_size, seed=seed
    )
    _, _, dsub = books.shape
    assign_cell, _ = make_cell_udfs(centroids, nprobe)

    enc = pq_encode(
        corpus.select(
            F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cvec")
        ),
        "cvec",
        books,
    ).select("cid", assign_cell(F.col("cvec")).alias("cell"), "codes")

    q_pdf = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).toPandas()
    qids = q_pdf["qid"].to_numpy(dtype=np.int64)
    qmat = np.asarray(q_pdf["qvec"].tolist(), dtype=np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    lut = {
        int(qid): np.stack(
            [qmat[i, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)]
        )
        for i, qid in enumerate(qids)
    }
    sims = qmat @ np.asarray(centroids, dtype=np.float64).T
    probe_rows = [
        (int(qid), int(c))
        for i, qid in enumerate(qids)
        for c in np.argsort(-sims[i])[:nprobe]
    ]
    spark = queries.sparkSession
    q_cells = F.broadcast(
        local_df(spark, probe_rows, "qid long, cell int")
    )

    @F.pandas_udf(T.DoubleType())
    def adc(qid: pd.Series, codes: pd.Series) -> pd.Series:
        code_mat = np.asarray(codes.tolist(), dtype=np.int64)
        qarr = qid.to_numpy(dtype=np.int64)
        out = np.zeros(len(qarr), dtype=np.float64)
        idx = np.arange(m)
        for q in np.unique(qarr):
            mask = qarr == q
            tab = lut[int(q)]
            out[mask] = tab[idx, code_mat[mask]].sum(axis=1)
        return pd.Series(out)

    cand = (
        enc.join(q_cells, "cell")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", adc("qid", "codes").alias("approx"))
    )
    from flink_orc_sink_spark.operators.relational import topk_per_group

    cands = topk_per_group(
        cand,
        ["qid"],
        [F.col("approx").desc(), F.col("cid").asc()],
        shortlist,
        rank_col="_srank",
    ).select("qid", "cid")
    q_exact = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    )
    c_exact = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cvec")
    )
    rescored = (
        # bounded-broadcast: exact query vectors: query-batch-bounded rescore side
        cands.join(F.broadcast(q_exact), "qid")
        .join(c_exact, "cid")
        .select(
            "qid",
            "cid",
            F.round(cosine("qvec", "cvec"), 6).alias("cos_sim"),
        )
    )
    return topk_per_group(
        rescored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", "cid", "cos_sim", "rank")


def filtered_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    filter_col: str,
    k: int = 5,
) -> DataFrame:
    """FILTERED vector search (exact): cosine top-``k`` restricted to
    corpus rows whose ``filter_col`` equals the query's — the
    metadata-constrained ANN shape (tenant-scoped search, same-
    language retrieval, category-restricted recommendations).

    PRE-filtering, not post-filtering: the constraint is an equi-join
    key, so each query only ever scores its own slice of the corpus —
    post-filtering a global top-k can return FEWER than k (or zero)
    survivors, the classic filtered-ANN correctness trap. The
    broadcast query side + per-partition scoring + per-query top-k
    window mirror :func:`brute_force_topk`; with a selective filter
    the scored volume drops by the filter's selectivity. The same
    pre-filter composes with the IVF tier by adding the column to the
    cell-partitioned layout (partition by (cell, filter)).
    """
    # bounded-broadcast: query batch: the small side by problem definition
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).alias("qvec"),
            norm(query_vec).alias("_qn"),
            F.col(filter_col).alias("_f"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("cvec"),
        norm(corpus_vec).alias("_cn"),
        F.col(filter_col).alias("_f"),
    )
    scored = (
        q.join(c, "_f")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            F.col("_f").alias(filter_col),
            "cid",
            F.round(
                cosine_with_norms("qvec", "cvec", F.col("_qn"), F.col("_cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    from flink_orc_sink_spark.operators.relational import topk_per_group

    return topk_per_group(
        scored,
        ["qid"],
        [F.col("cos_sim").desc(), F.col("cid").asc()],
        k,
        rank_col="rank",
    ).select("qid", filter_col, "cid", "cos_sim", "rank")


def append_to_ivf_index(
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    owner: str | None = None,
    lease_wait_sec: float = 0.0,
    centroids: np.ndarray | None = None,
) -> None:
    """Incremental-ingest half of the IVF lifecycle: assign a new
    batch of vectors to the EXISTING coarse quantizer (centroids read
    from the index — never retrained here) and append them into the
    same cell-partitioned parquet layout. Batch-sized map work + an
    append write; searches immediately see the new vectors through
    the same partition-pruned probe. Centroid drift is a rebuild
    decision (`build_ivf_index`), exactly as in any production IVF
    system. ``owner`` lets a foreachBatch caller pass its
    checkpoint-derived name (instant orphan reclaim after a
    crash-restart); ``lease_wait_sec`` opts into bounded waiting
    behind a concurrent appender; ``centroids`` skips the per-call
    quantizer read for loop callers (:func:`load_ivf_centroids` —
    centroids never move between rebuilds, so the cache is exact)."""
    import os

    spark = new_vectors.sparkSession
    if centroids is None:
        centroids = load_ivf_centroids(spark, index_path)
    assign_cell, _ = make_cell_udfs(centroids, nprobe=1)
    from flink_orc_sink_spark.lease import process_owner, state_lease

    with state_lease(
        spark,
        index_path,
        owner or process_owner("ingest:append"),
        wait_sec=lease_wait_sec,
    ):
        (
            new_vectors.select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cvec"),
                assign_cell(F.col(vec_col)).alias("cell"),
            )
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(index_path, "data"))
        )
        # re-ingesting a previously forgotten vector readmits it
        # (no-op when nothing is tombstoned)
        from flink_orc_sink_spark.operators.retention import readmit_ids

        readmit_ids(new_vectors.select(id_col), index_path, lease=False)


def forget_from_ivf_index(vec_ids: DataFrame, index_path: str) -> None:
    """DELETE vectors from the persisted IVF index: tombstone the ids
    (``operators/retention.py``) so every subsequent probe — top-k,
    threshold matches, streaming ingest — behaves exactly as if the
    index had been rebuilt without them: forgotten vectors never
    match, and never crowd genuine neighbors out of a top-k. O(deleted)
    work; :func:`compact_ivf_index` drops the rows physically."""
    from flink_orc_sink_spark.operators.retention import forget_ids

    forget_ids(vec_ids, index_path)


def compact_ivf_index(spark, index_path: str) -> None:
    """Copy-on-write retention pass over the inverted lists: rewrite
    ``data/`` without tombstoned vectors (cell partition layout
    preserved — probe pruning is unchanged), then clear the
    tombstones. Centroids are untouched: removal never moves the
    coarse quantizer, exactly as in production IVF systems."""
    from flink_orc_sink_spark.operators.retention import (
        IVF_TABLES,
        compact_index,
    )

    compact_index(spark, index_path, IVF_TABLES)
