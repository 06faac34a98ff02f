"""Similarity search over embedding columns (array<float>).

* :func:`brute_force_topk` — EXACT cosine top-k: queries are
  broadcast (small side), each partition computes a vectorized
  numpy partial top-k over its rows, and a final window takes the
  global top-k. Shuffle volume is O(num_queries * k * partitions),
  never the corpus. This is the correctness baseline and is
  linearly scalable: 100 TB of vectors stream through matmul
  batches.
* :func:`lsh_bucket_topk` — random-hyperplane LSH (Charikar 2002):
  sign-bit signatures bucket the corpus (one Exchange); queries
  probe their bucket (+ optional multi-probe) and rerank exactly.
  The scale path when queries are many.
* :func:`cosine_pairs_ge` — all pairs above a cosine threshold
  within a label partition (blocked pairwise matmul). EXACT —
  quadratic FLOPs by semantics; gated by ``max_exact_rows``.
* :func:`cosine_pairs_approx` — the scale path for threshold pair
  mining: banded random-hyperplane LSH generates candidate pairs
  (one Exchange, no all-pairs stage), then EXACT cosine verification
  runs JVM-side (``zip_with``/``aggregate`` in whole-stage codegen),
  so precision is 1 and only recall is approximate, with the
  band/bit parameters derived from the target recall.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _matrix(series: pd.Series) -> np.ndarray:
    return np.vstack(series.to_numpy())


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def brute_force_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    queries: [(query_id, vector), ...] — driver-side small list,
    closure-broadcast to executors. Returns (query_id, vec_id,
    cosine, rank) with deterministic ties (vec_id ascending).
    """
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qm = _normalize(np.array([q[1] for q in queries], dtype=np.float64))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cm = _normalize(_matrix(pdf[vec_col]).astype(np.float64))
            sims = qm @ cm.T  # (nq, nc)
            ids = pdf[id_col].to_numpy()
            take = min(k, sims.shape[1])
            # partial top-k per query within this batch
            part = np.argpartition(-sims, take - 1, axis=1)[:, :take]
            rows = {
                "query_id": np.repeat(qids, take),
                id_col: ids[part].ravel(),
                "cosine": np.take_along_axis(sims, part, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    partials = corpus.select(id_col, vec_col).mapInPandas(
        partial, schema=f"query_id long, {id_col} long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_signature_udf(dim: int, num_bits: int = 16, seed: int = 42):
    """Pandas UDF: sign-bit LSH signature (int) of an embedding."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, num_bits))

    @F.pandas_udf("long")
    def sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            m = _matrix(s).astype(np.float64)
            bits = (m @ planes) > 0
            vals = (bits * (1 << np.arange(num_bits, dtype=np.int64))).sum(axis=1)
            yield pd.Series(vals)

    return sig


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    dim: int = 64,
    num_bits: int = 12,
    multi_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe corpus rows sharing the query's
    hyperplane bucket (plus all buckets within Hamming distance
    ``multi_probe`` of it — standard multi-probe LSH), rerank
    candidates exactly. Recall < 1 by design; multi_probe trades
    probe fan-out for recall without re-bucketing the corpus."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, num_bits))
    sig = hyperplane_signature_udf(dim, num_bits, seed)
    bucketed = corpus.withColumn("__bucket", sig(F.col(vec_col)))

    qm = np.array([q[1] for q in queries], dtype=np.float64)
    qbits = (qm @ planes) > 0
    qsig = (qbits * (1 << np.arange(num_bits, dtype=np.int64))).sum(axis=1)
    qdf_rows = []
    for q, s in zip(queries, qsig):
        probes = {int(s)}
        if multi_probe >= 1:
            probes |= {int(s) ^ (1 << b) for b in range(num_bits)}
        if multi_probe >= 2:
            probes |= {
                int(s) ^ (1 << a) ^ (1 << b)
                for a in range(num_bits) for b in range(a + 1, num_bits)
            }
        for p in probes:
            qdf_rows.append((int(q[0]), [float(x) for x in q[1]], p))
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        qdf_rows, f"query_id long, qvec array<double>, __bucket long"
    )
    joined = bucketed.join(F.broadcast(qdf), "__bucket")

    def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cm = _normalize(_matrix(pdf[vec_col]).astype(np.float64))
            qv = _normalize(_matrix(pdf["qvec"]).astype(np.float64))
            cos = (cm * qv).sum(axis=1)
            yield pd.DataFrame({
                "query_id": pdf["query_id"],
                id_col: pdf[id_col],
                "cosine": cos,
            })

    scored = joined.mapInPandas(
        rerank, schema=f"query_id long, {id_col} long, cosine double"
    ).dropDuplicates(["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    num_centroids: int = 64,
    nprobe: int = 4,
    sample_rows: int = 20000,
    kmeans_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Scale path for many queries over a huge corpus: a coarse
    centroid codebook is trained driver-side on a bounded sample
    (mini Lloyd's over spherical k-means), the corpus is assigned to
    its nearest centroid in one vectorized pass (this is the only
    full-corpus work, and it's a map — no shuffle), and each query
    exactly reranks only the ``nprobe`` nearest centroid lists.
    Candidate volume is ~corpus * nprobe / num_centroids per query.
    """
    rng = np.random.default_rng(seed)
    # Hash-gated row sample, NOT .limit() (biased on any
    # sorted/clustered corpus) and NOT .sample() (partition-layout
    # dependent, so the codebook would differ across sessions):
    # xxhash64 of the row id is content-deterministic regardless of
    # parallelism. count() on parquet is metadata-only.
    n_corpus = corpus.count()
    frac = min(1.0, sample_rows * 1.2 / max(n_corpus, 1))
    # ceil + floor-at-1: int() truncation would zero the gate for
    # corpora past ~2.5e10 rows (frac * 2^20 < 1 → empty sample →
    # driver crash) and silently halve it near the boundary
    gate = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 20)
    ) < max(1, math.ceil(frac * (1 << 20)))
    # no .limit() after the gate — limit takes partition-order-
    # dependent rows; the gate already bounds the sample to
    # ~1.2x sample_rows
    sample = corpus.filter(gate).select(vec_col).toPandas()
    sm = _normalize(_matrix(sample[vec_col]).astype(np.float64))
    # spherical k-means on the sample
    cents = sm[rng.choice(len(sm), size=min(num_centroids, len(sm)),
                          replace=False)]
    for _ in range(kmeans_iters):
        assign = (sm @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = sm[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    cents = np.ascontiguousarray(cents)

    @F.pandas_udf("int")
    def nearest_centroid(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            m = _normalize(_matrix(s).astype(np.float64))
            yield pd.Series((m @ cents.T).argmax(axis=1).astype(np.int32))

    listed = corpus.withColumn("__list", nearest_centroid(F.col(vec_col)))

    qm = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    qsims = qm @ cents.T
    probe_rows = []
    for (qid, vec), sims in zip(queries, qsims):
        for c in np.argsort(-sims)[:nprobe]:
            probe_rows.append(
                (int(qid), [float(x) for x in vec], int(c))
            )
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<double>, __list int"
    )
    joined = listed.join(F.broadcast(qdf), "__list")

    def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cm = _normalize(_matrix(pdf[vec_col]).astype(np.float64))
            qv = _normalize(_matrix(pdf["qvec"]).astype(np.float64))
            yield pd.DataFrame({
                "query_id": pdf["query_id"],
                id_col: pdf[id_col],
                "cosine": (cm * qv).sum(axis=1),
            })

    scored = joined.mapInPandas(
        rerank, schema=f"query_id long, {id_col} long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_pairs_ge(
    corpus: DataFrame,
    threshold: float,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 16,
    max_exact_rows: int | None = 1_000_000,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold — EXACT.

    With ``block_col``, only pairs within the same semantic block are
    considered (user-supplied blocking; one Exchange, matmul per
    block). Without it, the full n² pair space is covered by tiling:
    rows are hashed into ``num_blocks`` tiles and every unordered
    tile pair (bi <= bj) becomes one independent task computing a
    bounded (n/B × n/B) matmul. Each row is replicated to B tasks
    and each task holds at most two tiles, so memory per task is
    O(n/B · dim) and parallelism is B(B+1)/2 — no task ever sees the
    whole corpus, and every row pair lands in exactly one tile pair.

    The n² FLOPs are inherent to the exact semantics, so the
    unblocked path is gated: corpora over ``max_exact_rows`` raise
    rather than silently schedule a quadratic job (at 10^9 rows the
    plan is fine but the arithmetic is 10^18 dot products — pass
    ``max_exact_rows=None`` only deliberately). The default scale
    path is :func:`cosine_pairs_approx` (same output columns,
    precision 1, recall set by parameters).
    """

    def pairs(key, pdf):
        m = _normalize(_matrix(pdf[vec_col]).astype(np.float64))
        ids = pdf[id_col].to_numpy()
        sims = m @ m.T
        ia, ib = np.where(np.triu(sims >= threshold, k=1))
        return pd.DataFrame({
            "id_a": np.minimum(ids[ia], ids[ib]),
            "id_b": np.maximum(ids[ia], ids[ib]),
            "cosine": sims[ia, ib],
        })

    if block_col:
        return corpus.groupBy(block_col).applyInPandas(
            pairs, schema="id_a long, id_b long, cosine double"
        )

    if max_exact_rows is not None:
        n_rows = corpus.count()
        if n_rows > max_exact_rows:
            raise ValueError(
                f"cosine_pairs_ge without block_col is exact all-pairs "
                f"(quadratic FLOPs) and the corpus has {n_rows} rows > "
                f"max_exact_rows={max_exact_rows}. Use "
                f"cosine_pairs_approx for the sub-quadratic candidate "
                f"path, pass block_col to restrict the pair space, or "
                f"raise/disable max_exact_rows deliberately."
            )

    def tile_pairs(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        if bi == bj:
            return pairs(key, pdf)
        left = pdf[pdf["__tile"] == bi]
        right = pdf[pdf["__tile"] == bj]
        if not len(left) or not len(right):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ml = _normalize(_matrix(left[vec_col]).astype(np.float64))
        mr = _normalize(_matrix(right[vec_col]).astype(np.float64))
        ila = left[id_col].to_numpy()
        irb = right[id_col].to_numpy()
        sims = ml @ mr.T
        ia, ib = np.where(sims >= threshold)
        return pd.DataFrame({
            "id_a": np.minimum(ila[ia], irb[ib]),
            "id_b": np.maximum(ila[ia], irb[ib]),
            "cosine": sims[ia, ib],
        })

    spark = corpus.sparkSession
    # unpivoted tile-pair membership (pair -> the 1-2 tiles it reads):
    # joining on the single equality column keeps this a
    # BroadcastHashJoin — an OR of two equalities can't hash-join and
    # planned as BroadcastNestedLoopJoin (every row scanned against
    # all B(B+1)/2 pairs)
    members = [
        (i, j, t)
        for i in range(num_blocks)
        for j in range(i, num_blocks)
        for t in ({i, j})
    ]
    tiles = spark.createDataFrame(members, "bi int, bj int, tile int")
    tiled = corpus.select(id_col, vec_col).withColumn(
        "__tile", F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int")
    )
    # each row joins the tile pairs it participates in (replication
    # factor B)
    rep = tiled.join(
        F.broadcast(tiles), F.col("__tile") == F.col("tile")
    ).drop("tile")
    return rep.groupBy("bi", "bj").applyInPandas(
        tile_pairs, schema="id_a long, id_b long, cosine double"
    )


def collision_probability(threshold: float) -> float:
    """P[one random hyperplane agrees] for a pair at exactly the
    cosine threshold (Goemans-Williamson / Charikar 2002):
    1 - theta/pi with theta = arccos(threshold)."""
    t = min(1.0, max(-1.0, float(threshold)))
    return 1.0 - math.acos(t) / math.pi


def plan_bands(
    threshold: float, bits_per_band: int, target_recall: float
) -> int:
    """Bands L such that a pair AT the threshold is caught with
    probability >= target_recall: 1-(1-p^b)^L >= r. Pairs above the
    threshold collide more and are caught with higher probability."""
    p_band = collision_probability(threshold) ** bits_per_band
    if p_band >= 1.0:
        return 1
    return max(1, math.ceil(math.log1p(-target_recall) / math.log1p(-p_band)))


def banded_signatures(
    corpus: DataFrame,
    bands: int,
    bits_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(id, array<long> of ``bands`` sign-bit band signatures) per
    row — one vectorized matmul per Arrow batch against a plane
    matrix generated deterministically from (dim, seed) on each
    worker (no broadcast needed; the matrix is dim x bands*bits
    doubles, a few hundred KB at most)."""
    total_bits = bands * bits_per_band

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        weights = (
            1 << np.arange(bits_per_band, dtype=np.int64)
        )
        for pdf in batches:
            if not len(pdf):
                continue
            m = _matrix(pdf[vec_col]).astype(np.float64)
            if planes is None:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((m.shape[1], total_bits))
            bits = (m @ planes) > 0  # (n, bands*bits)
            sigs = (
                bits.reshape(len(m), bands, bits_per_band) * weights
            ).sum(axis=2)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "band_sigs": list(sigs.astype(np.int64)),
            })

    return corpus.select(id_col, vec_col).mapInPandas(
        compute, schema=f"{id_col} long, band_sigs array<long>"
    )


def cosine_pairs_approx(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = 8,
    bands: int | None = None,
    target_recall: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """(id_a < id_b, cosine) pairs with cosine >= threshold via
    banded hyperplane LSH — the packaged sub-quadratic counterpart
    of :func:`cosine_pairs_ge`, mirroring what
    ``dedup.near_dup_pairs`` packages for Jaccard.

    Three stages:

    1. ``banded_signatures`` — per-row band fingerprints, map-only;
    2. candidate generation — explode to (id, band, sig), self-join
       on the band bucket (ONE Exchange pair; Spark's hash shuffle
       IS the LSH bucketing), ``distinct`` the surviving id pairs;
    3. EXACT cosine verification entirely in whole-stage codegen
       (``zip_with`` dot product + precomputed norms) — no Python,
       no matmul, touches only candidates.

    Output therefore has precision 1 (every emitted pair truly
    clears the threshold, with its exact cosine); recall is
    1-(1-p^b)^L for a pair at the threshold, where p =
    ``collision_probability(threshold)`` — ``bands`` defaults to
    :func:`plan_bands` for ``target_recall``.

    Scale honesty: sign-LSH's amplification gap is
    rho = ln(1/p1)/ln(1/p0) with p0 = 1/2 for orthogonal background
    pairs, so candidate volume is ~n^(1+rho) — genuinely
    sub-quadratic but weakly so at low thresholds (rho ~ 0.65 at
    t = 0.42, vs 0.23 at t = 0.9). Mining *weak* similarity at 100 TB
    is expensive in any formulation; for near-duplicate thresholds
    (>= 0.8, the training-data case) the candidate volume is near-
    linear. Buckets hotter than ~10^4 rows indicate degenerate
    (e.g. all-zero) vectors that upstream dedup should drop.
    """
    p1 = collision_probability(threshold)
    if bands is None:
        bands = plan_bands(threshold, bits_per_band, target_recall)

    sigs = banded_signatures(
        corpus, bands, bits_per_band, id_col, vec_col, seed
    )
    sliced = sigs.select(
        F.col(id_col),
        F.posexplode("band_sigs").alias("band", "sig"),
    )
    left, right = sliced.alias("l"), sliced.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )

    # exact verify in codegen: dot/(|a||b|) via zip_with + aggregate
    prepped = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn(
        "__n",
        F.sqrt(
            F.aggregate(
                F.transform("__v", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    va = prepped.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = prepped.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = F.when(
        (F.col("__na") > 0) & (F.col("__nb") > 0),
        dot / (F.col("__na") * F.col("__nb")),
    ).otherwise(F.lit(0.0))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
