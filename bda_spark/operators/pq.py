"""Product quantization (PQ) ANN: a codebook per subspace plus
asymmetric-distance (ADC) scoring — the third member of the
quantization family beside SQ8 (``operators/quantize.py``) and IVF
(``operators/similarity.py``).

Reference parity note: the reference repo (amajczyk/2024Z_BigDataAnalytics)
has no ANN surface; this module extends the LLM-pipeline vector toolkit
(SURVEY §2 extensions) with the standard PQ/ADC design (Jegou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
FAISS ``IndexPQ`` discipline).

Scale shape, stage by stage:

- TRAIN (``pq_train``): m independent kmeans fits over ONE bounded
  driver-side sample (``similarity.bounded_training_sample`` — the same
  probe/hint/Bernoulli discipline as the IVF coarse quantizer). The
  codebooks are m x k x (dim/m) doubles — a few hundred KB — and travel
  as a broadcast/closure, never a shuffle. Training distributed on the
  full corpus would scan 100 TB maxIter times for codebooks
  statistically identical to the sample's.

- ENCODE (``pq_encode``): one Arrow-batched projection; per batch each
  subspace assigns with a single (batch x k) distance matmul. No
  shuffle. Codes are m small ints per vector (m bytes at k<=256) vs
  8*dim bytes for raw doubles — at 100 TB of float64[64] embeddings the
  compressed table is ~1.6% of the bytes, which is the whole point: the
  scan stage of every later search reads codes, not vectors.

- SEARCH (``pq_adc_topk``): broadcast queries x corpus codes. ADC
  builds, per distinct query per Arrow batch, one m x k lookup table of
  subspace dot products (k*dim flops — independent of corpus size) and
  scores each row by fancy-indexed gather+sum, never touching float
  vectors. A per-query coarse top (k*oversample) keeps the float rerank
  bounded; the final cosines come from ``similarity._topk_rescore`` —
  exact math, shared tie-break with every other ANN family.

Approximate-norm bookkeeping: cosine needs |x|; the reconstruction
norm decomposes exactly over subspaces (|x_hat|^2 = sum_j |c_j,code_j|^2
because subspaces are disjoint coordinates), so encode emits it as a
per-row column and ADC never reconstructs a vector.

Exactness regimes (how a lossy structure gets exact tests):
- If every subspace's distinct subvector count is <= k, ``pq_train``
  returns the distinct subvectors themselves as the codebook (kmeans
  with k >= n degenerates to the points) — encoding is LOSSLESS and
  ADC scores equal exact scores to fp rounding.
- With ``oversample`` covering the corpus, the coarse stage keeps
  everything and the exact rerank IS brute force — provably exact
  whatever the codebooks (the same trick as ``ivf_topk``'s full-probe
  oracle row). The compressed-domain pruning regime (small oversample)
  is pinned by tests/test_pq.py recall bounds instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm_col
from .similarity import (
    _coarse_window,
    _cosine,
    _kmeans_fit,
    _topk_rescore,
    bounded_training_sample,
)


def _split_dims(dim: int, m: int) -> list[tuple[int, int]]:
    """[start, end) coordinate ranges of the m subspaces. dim need not
    divide evenly: the first (dim % m) subspaces get one extra
    coordinate (the FAISS convention is to require divisibility; we
    relax it so 64-dim works with any m)."""
    base, extra = divmod(dim, m)
    if base == 0:
        raise ValueError(f"pq: m={m} exceeds embedding dim {dim}")
    spans, start = [], 0
    for j in range(m):
        width = base + (1 if j < extra else 0)
        spans.append((start, start + width))
        start += width
    return spans


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codewords: int = 256,
    seed: int = 42,
    max_iter: int = 10,
    train_per_codeword: int = 32,
    n_hint: int | None = None,
    col: str = "embedding",
) -> list[list[list[float]]]:
    """Fit m per-subspace codebooks on one bounded driver-side sample.
    Returns codebooks[j] = list of codewords (each dim/m floats);
    subspace j's codebook may hold FEWER than ``n_codewords`` entries
    when the sample has fewer distinct subvectors — in that regime the
    distinct subvectors ARE the codebook (exact-encode), no kmeans
    noise. One sample feeds all m fits: the subspaces partition the
    coordinates, so a row contributes its j-th slice to fit j."""
    X = bounded_training_sample(
        embeddings,
        int(train_per_codeword) * int(n_codewords),
        seed,
        n_hint=n_hint,
        col=col,
    )
    if len(X) == 0:
        raise ValueError("pq_train: empty corpus")
    spans = _split_dims(X.shape[1], int(m))
    books: list[list[list[float]]] = []
    for j, (s, e) in enumerate(spans):
        Xj = np.ascontiguousarray(X[:, s:e])
        distinct = np.unique(Xj, axis=0)
        if len(distinct) <= int(n_codewords):
            books.append(distinct.tolist())
        else:
            # per-subspace seed: identical subspace data must not be
            # forced onto identical codebooks by a shared RNG stream
            C = _kmeans_fit(Xj, int(n_codewords), seed + j, max_iter)
            books.append(C.tolist())
    return books


def pq_code_udf(codebooks: list[list[list[float]]]):
    """Pandas UDF: embedding -> struct(codes array<int>, dn double).
    Per batch, subspace j assigns with one (batch x k_j) distance
    matmul (|c|^2 - 2 x.c; the |x|^2 term is constant per row and
    cannot move the argmin). ``dn`` is the reconstruction L2 norm,
    assembled from codeword norms — disjoint coordinates make the
    decomposition exact, so search never reconstructs. The justified-
    pandas_udf case (same discipline as the SimHash matmul and IVF
    assignment): the builtin equivalent is m interpreted HOF
    aggregate chains against plan-literal codebooks, measured far
    slower than one Arrow round trip. No shuffle: encode is a map."""
    Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    c2s = [(C ** 2).sum(axis=1) for C in Cs]
    dim = sum(C.shape[1] for C in Cs)
    spans = _split_dims(dim, len(Cs))

    @F.pandas_udf("struct<codes: array<int>, dn: double>")
    def _encode(emb: pd.Series) -> pd.DataFrame:
        if not len(emb):
            return pd.DataFrame({"codes": [], "dn": []})
        X = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        codes = np.empty((len(X), len(Cs)), dtype=np.int32)
        n2 = np.zeros(len(X), dtype=np.float64)
        for j, (s, e) in enumerate(spans):
            d = c2s[j][None, :] - 2.0 * (X[:, s:e] @ Cs[j].T)
            cj = d.argmin(axis=1)
            codes[:, j] = cj
            n2 += c2s[j][cj]
        return pd.DataFrame(
            {"codes": list(codes), "dn": np.sqrt(n2)}
        )

    return _encode


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>, dn double): the compressed corpus —
    m small ints + one double per vector. One Arrow-batched map pass,
    no shuffle; at scale this frame is what search scans instead of
    the float table."""
    enc = pq_code_udf(codebooks)(F.col(col).cast("array<double>"))
    return embeddings.select("vec_id", enc.alias("_pq")).select(
        "vec_id", F.col("_pq.codes").alias("codes"), F.col("_pq.dn").alias("dn")
    )


def adc_dot_udf(codebooks: list[list[list[float]]]):
    """Pandas UDF: (query_id, qv, codes) -> approximate dot(q, x_hat).
    Per Arrow batch, ONE m x k lookup table per DISTINCT query (k*dim
    flops, corpus-size-independent), then every row scores as a
    fancy-indexed gather+sum over its m codes — no per-pair vector
    math, which is the asymmetric-distance trick that makes the
    compressed-domain scan cheap. Grouping by query_id inside the
    batch amortizes the LUT across the (typically few) queries."""
    Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dim = sum(C.shape[1] for C in Cs)
    spans = _split_dims(dim, len(Cs))

    @F.pandas_udf("double")
    def _adc(qid: pd.Series, qv: pd.Series, codes: pd.Series) -> pd.Series:
        n = len(qid)
        if not n:
            return pd.Series([], dtype="float64")
        code_mat = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        out = np.empty(n, dtype=np.float64)
        ids = qid.to_numpy()
        # first occurrence of each distinct query in the batch carries
        # its vector; rows are grouped via argsort on the id
        order = np.argsort(ids, kind="stable")
        sorted_ids = ids[order]
        boundaries = np.flatnonzero(
            np.r_[True, sorted_ids[1:] != sorted_ids[:-1]]
        )
        for bi, start in enumerate(boundaries):
            end = (
                boundaries[bi + 1]
                if bi + 1 < len(boundaries)
                else len(sorted_ids)
            )
            rows = order[start:end]
            q = np.asarray(qv.iloc[rows[0]], dtype=np.float64)
            acc = np.zeros(len(rows), dtype=np.float64)
            for j, (s, e) in enumerate(spans):
                lut = Cs[j] @ q[s:e]  # k_j flops * subdim
                acc += lut[code_mat[rows, j]]
            out[rows] = acc
        return pd.Series(out)

    return _adc


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codewords: int = 256,
    oversample: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    n_hint: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ/ADC top-k: compressed-domain scan + exact float rerank.
    Output (query_id, neighbor_id, cosine, rk) — cosine is EXACT (the
    rerank recomputes it from float vectors via the shared
    ``_topk_rescore`` tail), approximation only decides WHICH
    k*oversample candidates reach the rerank. Queries broadcast (small
    by contract, external query vectors are first-class); the corpus
    is scanned once as codes. ``oversample >= corpus/k`` keeps every
    row past the coarse stage, making the result provably exact
    whatever the codebooks — the oracle-row regime."""
    if codebooks is None:
        codebooks = pq_train(
            embeddings,
            m=m,
            n_codewords=n_codewords,
            seed=seed,
            max_iter=max_iter,
            n_hint=n_hint,
        )
    codes = pq_encode(embeddings, codebooks)
    v = F.col("embedding").cast("array<double>")
    q = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), v.alias("qv"))
        .withColumn("_qn", l2_norm_col("qv"))
    )
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "_adc",
            adc_dot_udf(codebooks)(
                F.col("query_id"), F.col("qv"), F.col("codes")
            ),
        )
    )
    cands = _coarse_window(
        scored,
        _cosine(F.col("_adc"), F.col("_qn"), F.col("dn")),
        int(k) * int(oversample),
    )
    return _topk_rescore(cands, queries, embeddings, k)
