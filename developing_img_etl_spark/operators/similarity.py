"""Nearest neighbours over embedding columns (SURVEY.md §2.8 M5 +
training-data mandate).

Exact tiers share one ranking contract — cosine rounded half away
from zero to 6 places, row_number over (sim desc, vec_id) per probe,
rows with rk <= k kept (``_ranked``):
  1. cosine_ranking — Catalyst zip_with/aggregate fold against a
     broadcast probe projection (``probe_projection``). The oracle
     path: q13, q68's positive leg, the dense leg of q93/q110/q150 and
     brute_force_topk are this one body. Exact, linear in the corpus,
     but the fold is interpreted: right for small probe sets.
  2. numpy_topk (m8, mapInPandas) and arrow_topk (m13, mapInArrow) —
     one matmul per Arrow batch against the probe matrix, scored by one
     numpy kernel (``_batch_topk``). Each keeps its own batch boundary,
     which is what the two queries measure. Shuffle-free: per-partition
     top-k, then the global tail.
Approximate tiers, recall-checked against tier 1 in tests (never
value-hashed); their survivors get the exact rerank
``_rerank_survivors``:
  3. rp_lsh_topk — random-hyperplane LSH: sign-bit sketch → Hamming
     bucket join → exact cosine only within buckets.
  4. ivf_topk — k-means inverted lists (bounded driver-side training,
     map-side assignment, nprobe-list search). Prefer over LSH when
     embeddings are genuinely clustered (fewer lists probed for the
     same recall).
  5. pq_topk (operators/pq.py) — product-quantized ADC scan.

Embedding-cosine near-dup pairs (cosine ≥ τ) reuse tier 3's bucketing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm

# Broadcast guards for the candidate-rerank stage. At the declared
# probe scale everything broadcasts; with production probe batches the
# candidate-pair set or probe-embedding set can exceed Spark's
# broadcast threshold, so each broadcast is size-gated and falls back
# to a plain shuffled hash/sort-merge join on the same keys (the pairs
# side still carries only two longs per row either way).
PAIR_BROADCAST_MAX_ROWS = 2_000_000  # (probe_id, vec_id) longs ≈ 32 MB
PROBE_BROADCAST_MAX_ROWS = 100_000  # rows with an embedding payload


def _maybe_broadcast(df: DataFrame, n_rows: int, budget: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= budget else df


def round6(x: np.ndarray) -> np.ndarray:
    """Half-AWAY-FROM-ZERO to 6 places, like Catalyst F.round and DuckDB
    ROUND (np.round is banker's half-to-even and can flip ties)."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; an all-zero row stays zero."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _ranked(scored: DataFrame, k: int | None, rk: str = "rk") -> DataFrame:
    """The ranking tail of every exact tier: ``rk`` = row_number over
    (sim desc, vec_id) per probe; rows with rk <= k kept (all of them
    when k is None)."""
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), "vec_id")
    ranked = scored.withColumn(rk, F.row_number().over(w))
    return ranked if k is None else ranked.filter(F.col(rk) <= k)


def probe_projection(probes: DataFrame) -> DataFrame:
    """(probe_id, probe_emb, probe_nrm): the probe side that
    cosine_ranking broadcasts. q68 joins this same frame for its
    negative leg, so that join reuses the broadcast."""
    return probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"),
        norm(F.col("embedding")).alias("probe_nrm"),
    )


def cosine_ranking(
    emb: DataFrame, probes: DataFrame, k: int | None = None, *, rk: str = "rk"
) -> DataFrame:
    """Exact cosine ranking (probe_id, vec_id, sim, rk) of every corpus
    vector but the probe itself, for each row of ``probes`` (a
    ``probe_projection``)."""
    # Norms are materialized per side BELOW the join (projections don't
    # collapse across a join), so each pair pays ONE interpreted
    # aggregate-fold (the dot) instead of three — HOFs aren't codegen'd,
    # the fold is the per-pair cost that dominates at scale.
    cand = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    # Broadcast the tiny probe side; candidates stream map-side — no
    # shuffle of the big embedding table, scales linearly with candidate
    # count.
    pairs = cand.crossJoin(F.broadcast(probes)).filter(F.col("vec_id") != F.col("probe_id"))
    sim = dot(F.col("probe_emb"), F.col("embedding")) / (F.col("probe_nrm") * F.col("nrm"))
    return _ranked(pairs.select("probe_id", "vec_id", F.round(sim, 6).alias("sim")), k, rk)


def brute_force_topk(emb: DataFrame, probes: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k (probe_id, vec_id, sim): the recall tests'
    ground truth."""
    return cosine_ranking(emb, probe_projection(probes), k).drop("rk")


def _rerank_survivors(
    emb: DataFrame, pairs: DataFrame, probes: DataFrame, *, k: int, n_probes: int
) -> DataFrame:
    """Re-attach embeddings to candidate (probe_id, vec_id) pairs and
    exact-cosine-rank the survivors. The pair set is persisted and
    counted once (it is consumed once, and the count decides whether it
    broadcasts or shuffles)."""
    from pyspark import StorageLevel

    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    n_pairs = pairs.count()
    pe = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    scored = (
        emb.select("vec_id", "embedding")
        .join(_maybe_broadcast(pairs, n_pairs, PAIR_BROADCAST_MAX_ROWS), "vec_id")
        .join(_maybe_broadcast(pe, n_probes, PROBE_BROADCAST_MAX_ROWS), "probe_id")
    )
    sim = dot(F.col("probe_emb"), F.col("embedding")) / (
        norm(F.col("probe_emb")) * norm(F.col("embedding"))
    )
    ranked = scored.select("probe_id", "vec_id", F.round(sim, 6).alias("sim"))
    return _ranked(ranked, k).drop("rk")


def _probe_matrix(probes_pd: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(unit probe matrix, probe ids) from a (vec_id, embedding) frame."""
    pm = np.array(probes_pd["embedding"].tolist(), dtype=np.float64)
    pm /= np.linalg.norm(pm, axis=1, keepdims=True)
    return pm, probes_pd["vec_id"].to_numpy()


def _batch_topk(
    ids: np.ndarray, cm: np.ndarray, pm: np.ndarray, probe_ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The per-batch kernel of numpy_topk and arrow_topk: normalize the
    candidate rows ``cm`` in place, one matmul against the unit probe
    matrix, then each probe's top ``k`` as (probe_id, vec_id, sim)
    columns."""
    cm /= np.linalg.norm(cm, axis=1, keepdims=True)
    sims = cm @ pm.T  # (batch, n_probes)
    out_pid, out_vid, out_sim = [], [], []
    for j, pid in enumerate(probe_ids):
        mask = ids != pid
        # rank by (rounded sim desc, vec_id asc) — the same total order
        # the Catalyst/oracle path uses, so per-partition pruning can
        # never drop a global winner on a rounding tie
        r = round6(sims[:, j][mask])
        cand_ids = ids[mask]
        order = np.lexsort((cand_ids, -r))[: min(k, len(r))]
        out_pid.append(np.full(len(order), pid, dtype=np.int64))
        out_vid.append(cand_ids[order])
        out_sim.append(r[order])
    return np.concatenate(out_pid), np.concatenate(out_vid), np.concatenate(out_sim)


def numpy_topk(emb: DataFrame, probes_pd: pd.DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k with one matmul per Arrow batch.

    ``probes_pd``: pandas frame with columns (vec_id, embedding list).
    The probe matrix rides to executors inside the serialized closure
    (same effect as a broadcast variable at this size); candidates are
    scanned once, map-side; per-partition top-k keeps the shuffle to
    k rows per probe per partition."""
    pm, probe_ids = _probe_matrix(probes_pd)

    out_schema = "probe_id long, vec_id long, sim double"

    def score(batches):
        for pdf in batches:
            cm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            pid, vid, sim = _batch_topk(pdf["vec_id"].to_numpy(), cm, pm, probe_ids, k)
            yield pd.DataFrame({"probe_id": pid, "vec_id": vid, "sim": sim})

    partial = emb.select("vec_id", "embedding").mapInPandas(score, out_schema)
    return _ranked(partial, k).drop("rk")


def rp_multi_sketch(
    emb: DataFrame, *, tables: int = 16, bits: int = 4, dim: int = 64, seed: int = 42
) -> DataFrame:
    """ALL `tables` sign sketches in ONE pandas-UDF pass: a single
    (tables·bits × dim) matmul per Arrow batch, returned as
    `array<long>` of length `tables`. One corpus scan regardless of
    table count — the round-1 per-table loop cost 16 scans + 16 UDF
    launches for the same information. The plane matrix is a
    deterministic seeded RNG draw closed over the UDF — identical on
    every executor. (A Catalyst zip_with version was tried first:
    bits×dim literal nodes bloat the plan and the interpreted fold
    costs more than the Arrow hop.)"""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((tables * bits, dim))
    weights = (2 ** np.arange(bits)).astype(np.int64)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    @pandas_udf(T.ArrayType(T.LongType()))
    def sketch_udf(embedding: pd.Series) -> pd.Series:
        m = np.array(embedding.tolist(), dtype=np.float64)
        signs = (m @ planes.T).reshape(len(m), tables, bits) > 0
        return pd.Series(list(signs @ weights))

    return emb.withColumn("sketches", sketch_udf(F.col("embedding")))


def rp_lsh_topk(
    emb: DataFrame,
    probes: DataFrame,
    *,
    k: int = 5,
    bits: int = 4,
    tables: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Multi-table random-hyperplane LSH top-k: candidates = vectors
    sharing a sketch with the probe in ANY table; exact cosine ranks the
    survivors. Recall grows with `tables`; cost stays
    O(candidates-in-matching-buckets) instead of O(n).

    Plan shape (the round-1 16-scan loop rewritten):
      1. ONE sketch pass over the corpus (`rp_multi_sketch`) and one
         over the probes; posexplode to (table_id, sketch) id rows —
         embeddings are pruned before the explode, so nothing fat is
         ever duplicated 16×.
      2. ONE broadcast join on (table_id, sketch) + ids-only distinct:
         the dedup shuffle carries two longs per row, never arrays.
      3. Embeddings re-attached by key — candidate ids broadcast back
         against the corpus (map-side; the corpus never shuffles), probe
         vectors broadcast. Exact cosine only on survivors.
    The candidate-id set is ~n_probes·tables·n/2^bits before dedup; all
    broadcasts are size-gated (see _rerank_survivors) so oversized
    probe batches degrade to shuffled joins instead of OOMing."""
    n_probes = probes.count()
    c_long = rp_multi_sketch(
        emb.select("vec_id", "embedding"), tables=tables, bits=bits, dim=dim
    ).select("vec_id", F.posexplode("sketches").alias("table_id", "sketch"))
    p_long = rp_multi_sketch(
        probes.select("vec_id", "embedding"), tables=tables, bits=bits, dim=dim
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.posexplode("sketches").alias("table_id", "sketch"),
    )
    pairs = (
        c_long.join(
            _maybe_broadcast(p_long, n_probes * tables, PAIR_BROADCAST_MAX_ROWS),
            ["table_id", "sketch"],
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
    )
    return _rerank_survivors(emb, pairs, probes, k=k, n_probes=n_probes)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-bucketed tier
# --------------------------------------------------------------------------
def hash_sample_unit(emb: DataFrame, sample_target: int) -> np.ndarray:
    """Unit rows of a deterministic hash-sample of about
    ``sample_target`` embeddings — the training set of both IVF
    centroids and PQ codebooks. The sample is bounded regardless of
    corpus size, so training cost does not grow with the data; only the
    map-side assignment pass does. xxhash64 on vec_id: the same sample
    on every run."""
    step = max(1, emb.count() // sample_target)
    sample_pd = (
        emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(step)) == 0)
        .select("embedding")
        .toPandas()
    )
    return unit_rows(np.array(sample_pd["embedding"].tolist(), dtype=np.float64))


def ivf_train_centroids(
    emb: DataFrame, *, n_centroids: int = 16, dim: int = 64,
    sample_target: int = 4096, iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """Driver-side Lloyd's k-means (cosine) on ``hash_sample_unit``;
    deterministic: hash-based sampling + fixed seed."""
    x = hash_sample_unit(emb, sample_target)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T  # cosine on normalized vectors
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def _assign_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: nprobe nearest centroid ids per vector (one matmul
    per Arrow batch). nprobe=1 for corpus assignment."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(embedding: pd.Series) -> pd.Series:
        m = unit_rows(np.array(embedding.tolist(), dtype=np.float64))
        sims = m @ centroids.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(top))

    return assign


def ivf_topk(
    emb: DataFrame,
    probes: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 10,
    dim: int = 64,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are inverted-listed under their
    nearest centroid; each probe searches only its nprobe closest
    lists. Same slim-shuffle discipline as rp_lsh_topk: the bucket join
    carries (id, cluster) longs only; embeddings are re-attached by key
    for the exact-cosine rerank of survivors.

    Scale: centroids train on a bounded driver-side sample; the corpus
    assignment is one map-side pandas-UDF pass; candidate volume is
    ~ n·nprobe/n_centroids per probe. Raise n_centroids with corpus
    size (√n rule of thumb) to keep lists short. The default nprobe is
    tuned for UNSTRUCTURED embeddings (the synthetic fixture is nearly
    isotropic, so neighbors spread across many lists — recall 0.9 at
    nprobe=10/16); genuinely clustered real-world embeddings reach the
    same recall at far smaller nprobe/n_centroids ratios."""
    cent = ivf_train_centroids(emb, n_centroids=n_centroids, dim=dim)
    n_probes = probes.count()
    c_assign = emb.select("vec_id", "embedding").withColumn(
        "cluster", F.element_at(_assign_udf(cent, 1)(F.col("embedding")), 1)
    )
    p_assign = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.explode(_assign_udf(cent, nprobe)(F.col("embedding"))).alias("cluster"),
    )
    pairs = (
        c_assign.select("vec_id", "cluster")
        .join(
            _maybe_broadcast(p_assign, n_probes * nprobe, PAIR_BROADCAST_MAX_ROWS),
            "cluster",
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
    )
    return _rerank_survivors(emb, pairs, probes, k=k, n_probes=n_probes)


def arrow_topk(emb: DataFrame, probes_pd: pd.DataFrame, k: int = 5) -> DataFrame:
    """numpy_topk on mapInArrow: the candidate matrix is rebuilt from
    the Arrow ListArray's FLAT values buffer (one reshape, no
    per-row list materialization and no Arrow→pandas conversion) — the
    cheapest Python-side path Spark offers for dense vector math. Same
    kernel and tail as numpy_topk, so q13, m8 and m13 share one
    oracle."""
    import pyarrow as pa

    pm, probe_ids = _probe_matrix(probes_pd)

    out_schema = "probe_id long, vec_id long, sim double"

    def score(batches):
        for batch in batches:
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            col = batch.column("embedding")
            if isinstance(col, pa.ChunkedArray):  # pragma: no cover
                col = col.combine_chunks()
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            pid, vid, sim = _batch_topk(ids, flat.reshape(len(ids), -1), pm, probe_ids, k)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(pid, type=pa.int64()),
                    pa.array(vid, type=pa.int64()),
                    pa.array(sim, type=pa.float64()),
                ],
                names=["probe_id", "vec_id", "sim"],
            )

    partial = emb.select("vec_id", "embedding").mapInArrow(score, out_schema)
    return _ranked(partial, k).drop("rk")
