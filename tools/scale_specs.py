"""Scale-shape specs: one per operator family that SCALE.md makes a
scale claim about. ``tools/scale_probe.py <family>`` runs them.

A spec holds a seeded generator (``setup(spark, n, work)``, not
counted: it writes the input at size ``n`` under ``work`` and builds
any index), the operator call under test (``run(spark, ctx)``, whose
Spark work is counted), the claimed shape (``growth``: for each
bounded counter, the exponent of the growth in ``n`` it may show; jobs
and stages may not change at all) and the correctness check the family
is held to at every size (``check(spark, ctx, out, n)``).
"""

from __future__ import annotations

import os
import random
import string
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

DOCS = "doc_id long, text string"


@dataclass(frozen=True)
class Spec:
    claim: str
    base: int
    setup: Callable
    run: Callable
    growth: dict
    check: Callable | None = None
    conf: dict = field(default_factory=dict)


def _save(spark, rows, schema, path, parts=8):
    spark.createDataFrame(rows, schema).repartition(parts).write.parquet(path)
    return spark.read.parquet(path)


def _save_arrays(spark, path, parts=8, **cols):
    """NumPy columns written as ``parts`` equal Parquet files; a 2-D
    array becomes an array column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for k, v in cols.items():
        if v.ndim == 2:
            flat = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), v.shape[1])
            cols[k] = flat.cast(pa.list_(pa.from_numpy_dtype(v.dtype)))
    table = pa.table(cols)
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(table.num_rows), parts)):
        pq.write_table(table.slice(rows[0], len(rows)), f"{path}/part-{i}.parquet")
    return spark.read.parquet(path)


def _word_docs(n, seed=11, vocab=500, lo=80, hi=160, plant_every=0):
    """Word-salad docs; with ``plant_every`` k, doc ``i`` with
    ``i % k == k - 1`` is its predecessor with 3 tokens swapped."""
    rng = np.random.default_rng(seed)
    words = [f"w{i:0{len(str(vocab - 1))}d}" for i in range(vocab)]
    rows = []
    for i in range(n):
        if plant_every and i % plant_every == plant_every - 1:
            toks = rows[-1][1].split()
            for j in rng.integers(0, len(toks), size=3):
                toks[int(j)] = words[int(rng.integers(vocab))]
        else:
            toks = [words[j] for j in rng.integers(0, vocab, rng.integers(lo, hi))]
        rows.append((i, " ".join(toks)))
    return rows


def _perturbed(rows, victims, seed=99, first_id=1_000_000):
    """Copies of ``rows[v]`` for each victim, 3 tokens swapped."""
    rng = np.random.default_rng(seed)
    out = []
    for j, v in enumerate(victims):
        toks = rows[int(v)][1].split()
        for p in rng.integers(0, len(toks), size=3):
            toks[int(p)] = f"w{int(rng.integers(0, 500)):03d}"
        out.append((first_id + j, " ".join(toks)))
    return out


# --- dedup: MinHash-LSH pipeline, exact substring spans, fuzzy join ---

def _dedup_run(spark, df):
    from flink_orc_sink_spark.operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.7)
    return {tuple(sorted((r.doc_a, r.doc_b))) for r in pairs.collect()}


def _dedup_check(spark, df, pairs, n):
    planted = {(i - 1, i) for i in range(99, n, 100)}
    assert planted <= pairs, f"planted recall {len(planted & pairs)}/{len(planted)}"


BOILER = " ".join(f"b{i:02d}" for i in range(12))


def _spans_setup(spark, n, work):
    rows = _word_docs(n, vocab=5000, lo=60, hi=120)
    rows = [(i, BOILER + " " + t if i % 10 == 0 else t) for i, t in rows]
    return _save(spark, rows, DOCS, f"{work}/docs", 32)


def _spans_run(spark, df):
    from flink_orc_sink_spark.operators.dedup import dup_ngram_spans

    return dup_ngram_spans(df, "doc_id", "text", n=8).collect()


def _spans_check(spark, df, rows, n):
    covered = {r.doc for r in rows if r.doc % 10 == 0 and r.span_start == 0 and r.span_end >= 11}
    assert covered == set(range(0, n, 10)), "planted boilerplate span missed"


def _fuzzy_setup(spark, n, work):
    """Random words, and a 1-2-edit typo of every 20th one."""
    rng = random.Random(5)
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(6, 12))))
    words = sorted(words)
    planted = set()
    for w in words[::20]:
        pos = rng.randrange(len(w))
        typo = w[:pos] + rng.choice(string.ascii_lowercase) + w[pos + 1:]
        if rng.random() < 0.5 and len(typo) > 6:
            pos = rng.randrange(len(typo))
            typo = typo[:pos] + typo[pos + 1:]
        if typo != w and typo not in words:
            planted.add((min(w, typo), max(w, typo)))
            words.append(typo)
    return _save(spark, [(w,) for w in words], "name string", f"{work}/dict"), planted


def _fuzzy_run(spark, ctx):
    from flink_orc_sink_spark.operators.dedup import symspell_pairs

    return {(r.name_a, r.name_b) for r in symspell_pairs(ctx[0], "name", max_edit=2).collect()}


def _fuzzy_check(spark, ctx, pairs, n):
    missed = ctx[1] - pairs
    assert not missed, f"false negatives: {sorted(missed)[:5]}"


# --- persisted indexes: MinHash band index, retention, media, BM25 ---

def _index_setup(spark, n, work, planted=50, novel=150):
    """A MinHash index over ``n`` docs and a probe batch whose first
    ``planted`` docs perturb corpus docs."""
    from flink_orc_sink_spark.operators.dedup import build_minhash_index

    rows = _word_docs(n)
    idx = f"{work}/idx"
    build_minhash_index(_save(spark, rows, DOCS, f"{work}/docs", 32), "doc_id", "text", idx)
    victims = np.random.default_rng(99).choice(n, size=planted, replace=False)
    batch = _perturbed(rows, victims) + [(2_000_000 + i, t) for i, t in _word_docs(novel, seed=77)]
    return _save(spark, batch, DOCS, f"{work}/batch"), idx, {int(v) for v in victims}


def _probe(spark, ctx, threshold):
    from flink_orc_sink_spark.operators.dedup import minhash_probe_index

    rows = minhash_probe_index(spark, ctx[0], "doc_id", "text", ctx[1], threshold=threshold).collect()
    return {(r.new_doc, r.match_doc) for r in rows}


def _index_check(spark, ctx, pairs, n):
    found = {d for d, _ in pairs}
    assert set(range(1_000_000, 1_000_000 + len(ctx[2]))) <= found, "planted doc missed"


def _retention_setup(spark, n, work):
    """The index and batch of ``index``; half the planted originals
    and filler up to 200 docs to forget."""
    batch, idx, victims = _index_setup(spark, n, work, novel=0)
    gone = set(sorted(victims)[:25])
    filler = [i for i in range(n) if i not in victims][: 200 - len(gone)]
    forget = spark.createDataFrame([(d,) for d in sorted(gone) + filler], "doc_id long")
    return batch, idx, victims, gone, forget


def _retention_run(spark, ctx):
    from flink_orc_sink_spark.operators.dedup import forget_from_minhash_index

    forget_from_minhash_index(ctx[4], ctx[1])
    return _probe(spark, ctx, 0.6)


def _retention_check(spark, ctx, pairs, n):
    """Tombstoned and compacted probes agree; no forgotten doc
    matches; every surviving planted original does."""
    from flink_orc_sink_spark.operators.dedup import compact_minhash_index

    compact_minhash_index(spark, ctx[1])
    assert _probe(spark, ctx, 0.6) == pairs, "tombstone and compaction paths diverged"
    matched = {m for _, m in pairs}
    assert not matched & ctx[3], "forgotten doc matched"
    assert ctx[2] - ctx[3] <= matched, "surviving planted doc missed"


def _media_setup(spark, n, work, batch=100, planted=50):
    """An aHash index over ``n`` planted PNGs; a probe batch of
    perturbed clones (ids 10^9 + i clone image i) and novel images."""
    from flink_orc_sink_spark.operators.multimodal import attach_planted_png, build_ahash_index, image_ahash

    ids = spark.range(0, n, 1, 8).select(F.col("id").alias("media_id"))
    image_ahash(attach_planted_png(ids, "media_id"), "media_id", "png").write.parquet(f"{work}/h")
    build_ahash_index(spark.read.parquet(f"{work}/h"), "media_id", "ahash", f"{work}/idx")
    clones = spark.range(0, planted, 1, 4).select(F.col("id").alias("plant_id"), (F.col("id") + 10**9).alias("media_id"))
    novel = spark.range(0, batch - planted, 1, 4).select((F.col("id") + 2 * 10**9).alias("media_id"))
    blobs = attach_planted_png(clones, "plant_id", perturb=True).select("media_id", "png")
    blobs.unionByName(attach_planted_png(novel, "media_id")).write.parquet(f"{work}/batch")
    return spark.read.parquet(f"{work}/batch"), f"{work}/idx", planted


def _media_run(spark, ctx):
    from flink_orc_sink_spark.operators.multimodal import ahash_probe_index, image_ahash

    hashed = image_ahash(ctx[0], "media_id", "png")
    rows = ahash_probe_index(spark, hashed, "media_id", "ahash", ctx[1], max_hamming=3).collect()
    return {r.match_id for r in rows if r.match_id == r.new_id - 10**9}


def _media_check(spark, ctx, found, n):
    assert found == set(range(ctx[2])), f"planted recall {len(found)}/{ctx[2]}"


TERMS = ["alpha", "quux", "zeta"]


def _bm25_docs(ids):
    """~20 tokens per doc from a 1000-word vocab, seeded by id, with
    the query terms in a minority of docs."""
    vocab = F.array(*[F.lit(f"w{i}") for i in range(997)], *map(F.lit, TERMS))
    pick = lambda i: F.element_at(vocab, (F.pmod(F.xxhash64(F.col("id") * 31 + i), F.lit(1000)) + 1).cast("int"))
    return ids.select(F.col("id").alias("doc_id"), F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(20)), pick)).alias("text"))


def _bm25_setup(spark, n, work):
    from flink_orc_sink_spark.operators.retrieval import build_bm25_index

    build_bm25_index(_bm25_docs(spark.range(0, n, 1, 32)), "doc_id", "text", f"{work}/idx")
    return f"{work}/idx", _bm25_docs(spark.range(n, n + 2000, 1, 8))


def _bm25_run(spark, ctx):
    """Probe, then append a fixed 2 000-doc batch."""
    from flink_orc_sink_spark.operators.retrieval import append_to_bm25_index, bm25_probe_index

    hits = len(bm25_probe_index(spark, ctx[0], TERMS, k=20).collect())
    append_to_bm25_index(ctx[1], "doc_id", "text", ctx[0], tag=1)
    return hits


def _bm25_check(spark, ctx, hits, n):
    assert hits == 20, f"top-20 hits {hits}"


# --- similarity and linear algebra ---

DIMS = 64


def _vectors_setup(spark, n, work):
    """Clustered vectors (constant cluster size); every 50th is its
    predecessor plus 1 % noise. The clones among the first 2 000 ids
    are the queries; LSH planes scale with log2(n), which keeps bucket
    occupancy constant."""
    from flink_orc_sink_spark.operators.similarity import build_ivf_index

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((max(50, n // 100), DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[rng.integers(0, len(centers), n)] + 0.6 * rng.standard_normal((n, DIMS)) / 8
    for i in range(49, n, 50):
        vecs[i] = vecs[i - 1] + 0.01 * rng.standard_normal(DIMS) / 8
    df = _save_arrays(spark, f"{work}/vecs", vec_id=np.arange(n), embedding=vecs.astype(np.float32))
    build_ivf_index(df, "vec_id", "embedding", f"{work}/ivf", nlist=64, sample_size=20_000)
    queries = df.filter((F.col("vec_id") % 50 == 49) & (F.col("vec_id") < 2000))
    return df, f"{work}/ivf", queries, max(8, int(np.ceil(np.log2(n))) - 3)


def _recall(rows):
    """Share of query clones whose predecessor is among their hits."""
    hits = {}
    for r in rows:
        hits.setdefault(r.qid, set()).add(r.cid)
    return sum(q - 1 in c for q, c in hits.items()) / max(len(hits), 1)


def _similarity_run(spark, ctx):
    """LSH near-dup pairs, a persisted-IVF search and a PQ top-k."""
    from flink_orc_sink_spark.operators.similarity import ivf_search, lsh_neardup_pairs, pq_topk

    df, idx, queries, planes = ctx
    lsh = {(r.id_a, r.id_b) for r in lsh_neardup_pairs(df, "vec_id", "embedding", threshold=0.95, dims=DIMS, n_planes=planes).collect()}
    ivf = ivf_search(spark, queries, idx, "vec_id", "embedding", k=5, nprobe=8).collect()
    pq = pq_topk(queries, df, "vec_id", "vec_id", "embedding", "embedding", k=5, m=8, ksub=16, shortlist=32).collect()
    return lsh, _recall(ivf), _recall(pq)


def _similarity_check(spark, ctx, out, n):
    lsh, ivf, pq = out
    planted = {(i - 1, i) for i in range(49, n, 50)}
    assert planted <= lsh, f"LSH planted recall {len(planted & lsh)}/{len(planted)}"
    assert ivf >= 0.9 and pq >= 0.9, f"IVF recall {ivf}, PQ recall {pq}"


def _linalg_setup(spark, n, work):
    rng = np.random.default_rng(3)
    basis = np.linalg.qr(rng.standard_normal((DIMS, DIMS)))[0]
    scales = np.full(DIMS, 0.02)
    scales[:4] = [0.4, 0.2, 0.1, 0.05]
    x = (rng.standard_normal((n, DIMS)) * scales) @ basis.T
    return _save_arrays(spark, f"{work}/emb", vec_id=np.arange(n), embedding=x)


def _linalg_run(spark, df):
    """Integer moments, the driver-side solve and the map-only
    fixed-point projection."""
    from flink_orc_sink_spark.operators.linalg import int_moments, pca_project_fixedpoint, power_pca_components

    mom = int_moments(df, "embedding", DIMS)
    power_pca_components(*mom, DIMS, k=4)
    return mom, pca_project_fixedpoint(df, "vec_id", "embedding", DIMS, k=4).count()


def _linalg_check(spark, df, out, n):
    """Moments bit-identical across layouts; the fixed-cells IVF
    finds 5 neighbours for each of 10 queries."""
    from flink_orc_sink_spark.operators.linalg import int_moments
    from flink_orc_sink_spark.operators.similarity import ivf_topk_fixedcells

    assert out[1] == n, f"projected {out[1]} of {n}"
    assert int_moments(df.repartition(7), "embedding", DIMS) == out[0], "moments differ across layouts"
    q = df.filter("vec_id < 10")
    hits = ivf_topk_fixedcells(q, df, "vec_id", "vec_id", "embedding", "embedding", k=5, nlist=16, nprobe=8).count()
    assert hits == 50, f"{hits} of 50 IVF hits"


# --- graph, codecs, relational ---

def _graph_setup(spark, n, work):
    """n random edges over n/10 nodes, Zipf-like hub destinations, and
    a ring so no node dangles."""
    rng = np.random.default_rng(11)
    nodes = max(10, n // 10)
    src = np.concatenate([rng.integers(0, nodes, n), np.arange(nodes)])
    dst = np.concatenate([(rng.random(n) ** 2 * nodes).astype(np.int64), (np.arange(nodes) * 7 + 1) % nodes])
    keep = src != dst
    return _save_arrays(spark, f"{work}/edges", src=src[keep], dst=dst[keep]), int(keep.sum())


def _graph_run(spark, ctx):
    """Three fixed-point PageRank iterations and a triangle count."""
    from flink_orc_sink_spark.operators.graph import pagerank_fixed, triangle_count

    mass, nodes = pagerank_fixed(ctx[0], iterations=3).agg(F.sum("rank_ppt"), F.count("*")).first()
    return mass, nodes, triangle_count(ctx[0]).first()


def _graph_check(spark, ctx, out, n):
    """Truncated division leaks < outdeg per node per iteration, plus
    O(1) per node in the damping and base terms."""
    mass, nodes, tri = out
    leak = 10**12 - mass
    assert 0 <= leak < 3 * (ctx[1] + 2 * nodes), f"mass leak {leak} beyond truncation bound"
    assert tri.n_triangles >= 0 and tri.n_edges <= ctx[1]


def _multimodal_setup(spark, n, work):
    """PNG, baseline JPEG and GIF round-robin by id."""
    from flink_orc_sink_spark.operators import multimodal as mm

    plant = (mm.plant_png_pixels, mm.plant_jpeg_pixels, mm.plant_gif_pixels)
    return _save(spark, [(i, plant[i % 3](i)) for i in range(n)], "media_id long, blob binary", f"{work}/blobs")


def _multimodal_run(spark, df):
    from flink_orc_sink_spark.operators.multimodal import decode_image_stats

    return decode_image_stats(df, "media_id", "blob").count()


def _multimodal_check(spark, df, count, n):
    assert count == n, f"decoded {count} of {n}"


def _joins_check(spark, ctx, out, n):
    assert len(out[0]) == 6 and len(out[1]) == 10, "wrong group or top-k count"


def _joins_setup(spark, n, work):
    """``n`` orders, 4 lineitems each, 1 000 customers."""
    li = spark.range(4 * n).select(
        (F.col("id") % n).alias("l_orderkey"), (F.col("id") % 50 + 1).alias("l_quantity"),
        (F.col("id") % 9973 * 1.5).alias("l_extendedprice"), (F.col("id") % 11 / 100).alias("l_discount"),
        F.element_at(F.array(*map(F.lit, "ARN")), (F.col("id") % 3 + 1).cast("int")).alias("l_returnflag"),
        F.when(F.col("id") % 2 == 0, "O").otherwise("F").alias("l_linestatus"),
        F.date_add(F.lit("1992-01-01").cast("date"), (F.col("id") % 2500).cast("int")).alias("l_shipdate"),
    )
    orders = spark.range(n).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 1000).alias("o_custkey"),
        F.date_add(F.lit("1992-01-01").cast("date"), (F.col("id") % 2400).cast("int")).alias("o_orderdate"),
        F.concat(F.lit("prio"), (F.col("id") % 5).cast("string")).alias("o_orderpriority"),
    )
    for name, df in (("li", li), ("o", orders), ("c", spark.range(1000).withColumnRenamed("id", "c_custkey"))):
        df.repartition(8).write.parquet(f"{work}/{name}")
    return [spark.read.parquet(f"{work}/{name}") for name in ("li", "o", "c")]


def _joins_run(spark, ctx):
    """The TPC-H Q1 scan-agg shape, and the Q3 join-agg shape with the
    orders side merge-hinted: the shuffle join a 100 TB orders table
    takes."""
    li, o, c = ctx
    q1 = li.filter(F.col("l_shipdate") <= "1998-09-02").groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity"), F.sum("l_extendedprice"), F.avg("l_discount"), F.count("*"))
    o = o.hint("shuffle_merge")
    q3 = (
        li.join(o, li.l_orderkey == o.o_orderkey).join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .orderBy(F.desc("rev")).limit(10)
    )
    return q1.collect(), q3.collect()


def _skew_setup(spark, n, work):
    """Half of ``n`` fact rows on one hot key, the rest over 10 000."""
    fact = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.pmod(F.hash("id"), F.lit(10_000))).alias("k"),
        (F.col("id") % 97).alias("v"), F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    fact.repartition(8).write.parquet(f"{work}/fact")
    dim = spark.range(10_000).select(F.col("id").cast("int").alias("k"), (F.col("id") % 7).alias("w"))
    return spark.read.parquet(f"{work}/fact"), dim.hint("merge")


def _skew_run(spark, ctx):
    """The join-agg under AQE's skew split, and the salted form."""
    from flink_orc_sink_spark.operators.relational import salted_join

    agg = [F.sum("v").alias("sv"), F.count("*").alias("n"), F.max("pad").alias("mp")]
    aqe = ctx[0].join(ctx[1], "k").groupBy("w").agg(*agg)
    rows = sorted(aqe.collect())
    fired = "skew=true" in aqe._jdf.queryExecution().toString()
    return rows, sorted(salted_join(ctx[0], ctx[1], "k", salt_buckets=32).groupBy("w").agg(*agg).collect()), fired


def _skew_check(spark, ctx, out, n):
    assert out[0] == out[1], "salted join changed the answer"
    assert out[2], "AQE skew split did not fire"


# --- retraction join: per-batch cost, cleanup, read amplification ---

RJ_SCHEMA = "side string, pk long, jk long, seq long, op string, val long, attr string"
N_JK = 2_000


def _left(ids, seq, op, val):
    return ids.select(
        F.lit("L").alias("side"), F.col("id").alias("pk"), F.pmod(F.hash("id"), F.lit(N_JK)).cast("long").alias("jk"),
        F.lit(seq).cast("long").alias("seq"), op.alias("op"), val.cast("long").alias("val"), F.lit(None).cast("string").alias("attr"),
    )


def _rj_stream(spark, ctx):
    from flink_orc_sink_spark.streaming import stream_from_files, stream_retract_join_orc

    q = stream_retract_join_orc(
        stream_from_files(spark, ctx["src"], RJ_SCHEMA), os.path.join(ctx["work"], "state"),
        checkpoint=os.path.join(ctx["work"], "ckpt"), trigger={"availableNow": True},
        agg_group_col="r_attr", agg_val_col="l_val",
    )
    assert q.awaitTermination(900), "stream did not drain"


def _rj_setup(spark, n, work):
    """``n`` left rows and 2 000 right rows ingested and folded into
    the base; then a fixed 1 000-row batch of updates and deletes on
    uniformly random keys, which touches every bucket."""
    from flink_orc_sink_spark.streaming import fold_retract_join_state

    ctx = {"work": work, "src": f"{work}/in"}
    right = spark.range(N_JK).select(
        F.lit("R").alias("side"), F.col("id").alias("pk"), F.col("id").alias("jk"), F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"), F.lit(None).cast("long").alias("val"), F.concat(F.lit("seg"), (F.col("id") % 5).cast("string")).alias("attr"),
    )
    _left(spark.range(n), 1, F.lit("U"), F.col("id") % 1000).unionByName(right).coalesce(4).write.parquet(ctx["src"])
    _rj_stream(spark, ctx)
    fold_retract_join_state(spark, os.path.join(work, "state"))
    pool = spark.range(n).filter(F.pmod(F.hash("id", F.lit(3)), F.lit(n)) < 1000)
    _left(pool, 2, F.when(F.col("id") % 2 == 0, "U").otherwise("D"), F.col("id") % 1000 + 1).coalesce(1).write.mode("append").parquet(ctx["src"])
    ctx["deletes"] = pool.filter(F.col("id") % 2 == 1).count()
    return ctx


def _rj_check(spark, ctx, out, n):
    """Delta-summed aggregate == from-scratch join aggregate; cleanup
    drops exactly the batch's tombstones and no live row; the unfolded
    log stays within the fold policy's bound."""
    from flink_orc_sink_spark.streaming import cleanup_retract_join_state, read_retract_agg, read_retract_join_view

    state = os.path.join(ctx["work"], "state")
    got = {(r.grp, r.sum_val, r.n_keys) for r in read_retract_agg(spark, state).collect()}
    want = read_retract_join_view(spark, state).groupBy("r_attr").agg(F.sum("l_val"), F.count(F.lit(1))).collect()
    assert got == {tuple(r) for r in want}, f"delta/agg mismatch at {n}"
    stats = cleanup_retract_join_state(spark, state, horizon=3)
    assert stats["tombstones_dropped"] == ctx["deletes"], stats
    assert read_retract_join_view(spark, state).count() == n - ctx["deletes"]
    _rj_amp_check(spark, ctx, n)


def _rj_amp_check(spark, ctx, n, ratio=0.25):
    """Uniform churn batches of n/5 rows, byte floor lowered so the
    sink's default fold ratio governs: after every batch
    ``log_bytes <= max(floor, ratio * base_bytes) + 2 * batch_bytes``
    (the sink appends first and checks after), until a fold (a change
    of the base) fires."""
    from flink_orc_sink_spark.streaming import orc_sink

    saved, orc_sink.FOLD_MIN_BYTES = orc_sink.FOLD_MIN_BYTES, 1024
    size = lambda d: orc_sink._hfs_dir_size(spark, os.path.join(ctx["work"], "state", d))
    try:
        base0, first = size("pk_state"), None
        for i in range(6):
            ids = spark.range(n // 5).select(F.pmod(F.hash("id", F.lit(i)), F.lit(n)).alias("id"))
            _left(ids, i + 3, F.lit("U"), F.col("id") % 1000 + i).coalesce(1).write.mode("append").parquet(ctx["src"])
            _rj_stream(spark, ctx)
            log, base = size("pk_log"), size("pk_state")
            first = first or max(log, 1)
            bound = max(orc_sink.FOLD_MIN_BYTES, ratio * base) + 2 * first
            assert log <= bound, f"unfolded log {log} B over the bound {bound:.0f} B at batch {i}"
            if base != base0:
                return
        raise AssertionError("no ratio-driven fold fired in 6 churn batches")
    finally:
        orc_sink.FOLD_MIN_BYTES = saved


# Growth exponents. Tasks grow sublinearly wherever a shuffle does:
# AQE coalesces reduce partitions to its advisory size, so it adds
# reduce tasks as shuffle bytes grow, up to the shuffle partitions.
LINEAR = dict(tasks=0.25, shuffle_bytes=1, input_records=1)
FLAT_SHUFFLE = dict(tasks=0.25, shuffle_bytes=0, input_records=1)
MAP_ONLY = dict(tasks=0, shuffle_bytes=0, input_records=1)

SPECS = {
    "dedup": Spec(
        "MinHash-LSH: signatures map-only, banding one bounded shuffle, verification on candidates only",
        2000, lambda spark, n, work: _save(spark, _word_docs(n, seed=7, plant_every=100), DOCS, f"{work}/docs", 32),
        _dedup_run, LINEAR, _dedup_check,
    ),
    "spans": Spec(
        "dup_ngram_spans: one gram stream, one count aggregation, one semi join; nothing pairwise",
        2000, _spans_setup, _spans_run, LINEAR, _spans_check,
    ),
    "fuzzy": Spec(
        "symspell_pairs: deletion variants per word, candidates from one equi-join, no false negatives",
        1000, _fuzzy_setup, _fuzzy_run, LINEAR, _fuzzy_check,
    ),
    "index": Spec(
        "minhash_probe_index: a fixed batch's probe keeps its plan as the corpus grows; the band index "
        "and shingle sets it joins are shuffled, so shuffle bytes grow with the corpus",
        1000, _index_setup, lambda spark, ctx: _probe(spark, ctx, 0.7), LINEAR, _index_check,
    ),
    "retention": Spec(
        "forget is a tombstone append; the tombstoned probe keeps the clean probe's plan",
        1000, _retention_setup, _retention_run, LINEAR, _retention_check,
    ),
    "media_index": Spec(
        "ahash_probe_index: a fixed batch's probe keeps its plan and a flat shuffle as the image corpus grows",
        500, _media_setup, _media_run, FLAT_SHUFFLE, _media_check,
    ),
    "bm25_index": Spec(
        "bm25_probe_index prunes to the query terms' buckets (shuffle grows sublinearly); "
        "a fixed append does not grow with the corpus",
        2000, _bm25_setup, _bm25_run, dict(tasks=0.25, shuffle_bytes=0.5, input_records=1), _bm25_check,
    ),
    "similarity": Spec(
        "LSH near-dup with log-scaled planes, the pruned IVF search and the PQ pass all stay linear",
        1000, _vectors_setup, _similarity_run, LINEAR, _similarity_check,
    ),
    "linalg": Spec(
        "fixed-point PCA: one shuffle-free moments pass, a driver solve of d x d, a map-only projection",
        5000, _linalg_setup, _linalg_run, MAP_ONLY, _linalg_check,
    ),
    "graph": Spec(
        "PageRank: one join and one combined groupBy per iteration; triangle count never materializes wedges",
        20000, _graph_setup, _graph_run, LINEAR, _graph_check,
    ),
    "multimodal": Spec(
        "decode_image_stats is map-only: no shuffle at any size",
        300, _multimodal_setup, _multimodal_run, MAP_ONLY, _multimodal_check,
    ),
    "joins": Spec(
        "scan-agg and the merge-hinted shuffle join grow linearly; the plan does not change with size",
        50_000, _joins_setup, _joins_run, LINEAR, _joins_check,
    ),
    "skew": Spec(
        "AQE splits the hot-key partition; the salted join gives the same answer",
        100_000, _skew_setup, _skew_run, dict(tasks=1, shuffle_bytes=1, input_records=1), _skew_check,
        conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        },
    ),
    "retract_join": Spec(
        "a fixed batch's retraction-join cost does not grow with the folded state: no state shuffle or rewrite",
        20_000, _rj_setup, lambda spark, ctx: _rj_stream(spark, ctx), FLAT_SHUFFLE, _rj_check,
    ),
}
