"""Product-quantization ANN (Jégou/Douze/Schmid, TPAMI 2011) — the
memory tier of the similarity stack (SURVEY.md §2.8 M5/M9 family).

IVF (`similarity.ivf_topk`) prunes WHICH vectors a probe compares
against; PQ compresses WHAT is compared: each normalized vector is cut
into ``n_subspaces`` subvectors and every subvector replaced by the id
of its nearest per-subspace centroid — 64 float32 (256 B) become 8
uint8 codes (8 B, 32× smaller), so a 100 TB embedding corpus scans as
~3 TB of codes. Probe scoring is **asymmetric distance computation**
(ADC): the probe builds one lookup table of subvector·centroid dot
products per subspace (`n_subspaces × n_codes` floats, computed ONCE),
and a vector's approximate cosine is a pure table-gather sum — no
float vector math per candidate.

Spark shape (same discipline as the rest of the stack):
- codebooks train driver-side on a bounded deterministic hash-sample
  (cost independent of corpus size), broadcast in the UDF closure;
- encoding is one map-side pandas-UDF pass, codes live in a slim
  (vec_id, codes) frame — the fat embedding column never shuffles;
- the ADC scan is mapInPandas over the CODES frame (map-side, partial
  top-n per batch), survivors get an exact-cosine rerank by key
  (`_rerank_survivors`) — approximate recall, exact final ordering.

Recall knob: ``refine`` — ADC keeps ``refine × k`` candidates per
probe for the exact rerank. The synthetic fixture's embeddings are
near-isotropic (PQ-hostile: subspace structure is noise), so defaults
here favor recall; clustered real-world embeddings reach higher recall
at smaller refine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _rerank_survivors, hash_sample_unit, unit_rows


def pq_train_codebooks(
    emb: DataFrame,
    *,
    n_subspaces: int = 8,
    n_codes: int = 64,
    dim: int = 64,
    sample_target: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace Lloyd's k-means (Euclidean, the PQ objective) on
    ``hash_sample_unit``. Returns
    (n_subspaces, n_codes, dim // n_subspaces)."""
    assert dim % n_subspaces == 0, "dim must split evenly into subspaces"
    sub = dim // n_subspaces
    x = hash_sample_unit(emb, sample_target)
    rng = np.random.default_rng(seed)
    books = np.empty((n_subspaces, n_codes, sub), dtype=np.float64)
    for s in range(n_subspaces):
        xs = x[:, s * sub : (s + 1) * sub]
        cent = xs[rng.choice(len(xs), size=min(n_codes, len(xs)), replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s, : len(cent)] = cent
        if len(cent) < n_codes:  # degenerate tiny sample: pad by repeat
            books[s, len(cent) :] = cent[0]
    return books


def pq_encode(emb: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """(vec_id, codes array<int>) — one map-side pandas-UDF pass."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    n_subspaces, _n_codes, sub = codebooks.shape

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(embedding: pd.Series) -> pd.Series:
        m = unit_rows(np.array(embedding.tolist(), dtype=np.float64))
        codes = np.empty((len(m), n_subspaces), dtype="int32")
        for s in range(n_subspaces):
            xs = m[:, s * sub : (s + 1) * sub]
            d2 = ((xs[:, None, :] - codebooks[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return emb.select("vec_id", encode(F.col("embedding")).alias("codes"))


def pq_topk(
    emb: DataFrame,
    probes: DataFrame,
    *,
    k: int = 5,
    refine: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 64,
    dim: int = 64,
) -> DataFrame:
    """PQ-ADC ANN top-k with exact rerank of the refined candidates."""
    books = pq_train_codebooks(
        emb, n_subspaces=n_subspaces, n_codes=n_codes, dim=dim
    )
    codes = pq_encode(emb, books)
    probes_pd = probes.select("vec_id", "embedding").toPandas()
    pm = unit_rows(np.array(probes_pd["embedding"].tolist(), dtype=np.float64))
    probe_ids = probes_pd["vec_id"].to_numpy()
    n_probes = len(probe_ids)
    sub = dim // n_subspaces
    # ADC lookup tables: luts[s][p, c] = probe_p_sub_s · centroid_c  —
    # approximate cosine(probe, v) = Σ_s luts[s][p, codes_v[s]]
    luts = np.stack(
        [pm[:, s * sub : (s + 1) * sub] @ books[s].T for s in range(n_subspaces)]
    )
    keep = refine * k

    def adc(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            cm = np.array(pdf["codes"].tolist(), dtype="int32")
            # gather-sum: (n_batch, n_probes)
            approx = np.zeros((len(ids), n_probes), dtype=np.float64)
            for s in range(n_subspaces):
                approx += luts[s][:, cm[:, s]].T
            out_pid, out_vid, out_sim = [], [], []
            for j, pid in enumerate(probe_ids):
                mask = ids != pid
                s_j = approx[:, j][mask]
                cand = ids[mask]
                top = np.argsort(-s_j)[: min(keep, len(s_j))]
                out_pid.append(np.full(len(top), pid, dtype=np.int64))
                out_vid.append(cand[top])
                out_sim.append(s_j[top])
            yield pd.DataFrame(
                {
                    "probe_id": np.concatenate(out_pid),
                    "vec_id": np.concatenate(out_vid),
                    "approx": np.concatenate(out_sim),
                }
            )

    partial = codes.mapInPandas(adc, "probe_id long, vec_id long, approx double")
    w = Window.partitionBy("probe_id").orderBy(F.desc("approx"), "vec_id")
    pairs = (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= keep)
        .select("probe_id", "vec_id")
    )
    return _rerank_survivors(emb, pairs, probes, k=k, n_probes=n_probes)
