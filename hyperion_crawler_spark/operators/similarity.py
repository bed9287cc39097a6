"""Embedding similarity search — exact cosine top-k (baseline) and the
ANN scale paths: hyperplane LSH, IVF, PQ and IVFADC. Training-data-
pipeline operator over ``embeddings(vec_id, embedding array<float>,
label)``.

Dot products are pure Catalyst higher-order functions
(``zip_with`` + ``aggregate``) over the array column, computed in
double — stays in codegen, no Python. Summation order is array order,
matching DuckDB's ``list_dot_product`` fold exactly, so the oracle can
value-hash the cosines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import xxh64


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def _unit(m):
    """Row-wise L2 normalization; zero rows stay zero."""
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k over ``(q_id, n_id, cos)`` rows under the
    (cos DESC, n_id ASC) total order every operator here selects by."""
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("q_id", "n_id", "cos", "rank"))


def _stable_topk(cos_rounded, k):
    """Per-row top-k COLUMN indices under (score DESC, column order
    ASC). Callers pre-sort candidate columns by n_id ascending, so the
    STABLE argsort breaks ties by n_id — exactly the total order the
    final `(cos DESC, n_id ASC)` window applies. A partial selection
    that uses a different order (raw unrounded scores, arbitrary
    argpartition ties) can drop the row the global window would rank
    k-th whenever raw scores differ by < 5e-7 but round to the same
    6-decimal value, making results shuffle-dependent (review r6).
    Score the matrix ALREADY ROUNDED to 6 decimals."""
    import numpy as np

    kk = min(k, cos_rounded.shape[1])
    return np.argsort(-cos_rounded, axis=1, kind="stable")[:, :kk]


def _merge_topk(best_c, best_n, add_c, add_n, k):
    """Per-row merge of two candidate sets (running best + a chunk's
    top-k) under the same (score DESC, n_id ASC) order — numeric ids
    compare numerically, anything else as strings. Both sides are ≤ k
    wide, so the per-row lexsort is O(k log k). -inf entries are
    padding and never selected."""
    import numpy as np

    for qi in range(best_c.shape[0]):
        mc = np.concatenate([best_c[qi], add_c[qi]])
        mn = np.concatenate([best_n[qi], add_n[qi]])
        fin = np.nonzero(np.isfinite(mc))[0]
        best_c[qi, :] = -np.inf
        if len(fin) == 0:
            continue
        key2 = mn[fin]
        # branch on the ids' actual TYPE, not on whether an int64 cast
        # happens to succeed: digit-only STRING ids ('2', '10') cast
        # fine but must merge ties lexicographically ('10' < '2'),
        # matching the per-chunk pandas sort and the final Spark
        # window on the string column (r6 ADVICE, low)
        if all(isinstance(v, (int, np.integer)) for v in key2):
            key2 = key2.astype(np.int64)
        else:
            key2 = key2.astype(str)
        sel = fin[np.lexsort((key2, -mc[fin]))[:k]]
        best_c[qi, :len(sel)] = mc[sel]
        best_n[qi, :len(sel)] = mn[sel]
    return best_c, best_n


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int | None = None) -> DataFrame:
    """Exact cosine top-k neighbors per query (baseline / verifier).

    Plan: broadcast the (small) query set against the corpus — one
    pass, no corpus shuffle; the only shuffle is the per-query top-k
    window on |queries|·|corpus| scored rows. At cluster scale the
    corpus side stays partition-local (this is the textbook
    broadcast-NL-join scoring shape); for big query sets use the LSH
    path below.

    ``dim``: when the embedding dimension is known, scoring runs in a
    bit-exact numpy kernel (``_exact_scored_rows``): the dot and the
    norms accumulate with the SAME left-associated fp order as the HOF
    fold (one vectorized rank-1 update per dimension), RAW doubles
    cross Arrow losslessly, and the output ``cos`` is still computed by
    Catalyst's own ``round`` — so values are identical to the fold form
    (pinned in tests) while per-pair cost is vectorized instead of
    ~1.7 µs of interpreted/codegen element access (measured: the 800 ×
    20k sf1.0 shape drops ~200 s → ~2 s; a pure-Catalyst codegen chain
    still costs ~36 s because every pair pays 128 generic array reads).
    ``None`` keeps the HOF fold form (dim-agnostic, the DuckDB-oracle
    twin shape)."""
    if dim is not None:
        scored = _exact_scored_rows(queries, corpus, k, id_col, vec_col, dim)
    else:
        # Norms are PER-ROW quantities — computing them inside the pair
        # expression would re-run the O(dim) fold |q|·|corpus| times
        # (and Catalyst does not CSE across HOF lambdas). Precompute
        # each side's norm as an attribute before the join; the
        # per-pair work is then just the dot fold. Same fold →
        # bit-identical cos values, so the q20 value oracle is
        # unaffected.
        q = F.broadcast(queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
            norm(_as_double(F.col(vec_col))).alias("_qn")))
        c = corpus.select(
            F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
            norm(_as_double(F.col(vec_col))).alias("_nn"))
        scored = (
            q.crossJoin(c)
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id",
                    F.round(dot(_as_double(F.col("q_vec")),
                                _as_double(F.col("n_vec")))
                            / (F.col("_qn") * F.col("_nn")), 6).alias("cos"))
        )
    return _rank_topk(scored, k)


#: hard cap on the query set ``brute_force_topk(dim=...)`` collects to
#: the driver and broadcasts into its scoring kernel: 100k × 64-dim
#: float64 ≈ 50 MB. Past this, use a path that keeps the queries
#: distributed (lsh_bucket_topk, ivfpq_topk).
GEMM_MAX_QUERIES = 100_000


def _exact_scored_rows(queries: DataFrame, corpus: DataFrame, k: int,
                       id_col: str, vec_col: str, dim: int) -> DataFrame:
    """Per-partition exact scoring feed for ``brute_force_topk``:
    returns ``(q_id, n_id, cos)`` rows containing every candidate that
    can reach the global top-k, with ``cos`` computed by Catalyst's
    ``round`` over the RAW dot/norm doubles the kernel emits.

    Bit-exactness contract (vs the HOF fold / the DuckDB oracle):

    * dot and squared-norm accumulate as ``acc = acc + x_i·y_i`` in
      ascending i — ONE vectorized rank-1 update per dimension, so
      every element follows the fold's exact left-associated IEEE
      order; ``sqrt`` and the ``raw / (qn·nn)`` division are correctly
      rounded in both numpy and the JVM. Raw float64 cross Arrow
      losslessly, and the 6-decimal ``cos`` is produced by the same
      Catalyst ``round`` expression as the fold form.
    * per-partition candidate SELECTION uses floor-rounding
      (``floor(x·1e6+0.5)/1e6``) with the (score DESC, n_id ASC)
      stable order and a 2k+16 slack: floor-rounding and Catalyst's
      shortest-repr HALF_UP agree except within an ulp of a .5
      boundary, so a discrepancy can only demote a candidate by one
      6-decimal grain — the slack would have to be consumed by 2k+11
      simultaneous boundary cases in one partition for the global
      window to ever miss a true top-k row. Exact score ties carry
      identical raw values on every path and keep the n_id order.

    The query set is collected ONCE at plan build (bounded by
    GEMM_MAX_QUERIES) and broadcast; the corpus is never shuffled and
    only (queries × slack × partitions) skinny rows reach the final
    window (guide §8: decide with small rows, move nothing heavy)."""
    import numpy as np
    from pyspark.sql import types as T

    q_rows = queries.select(id_col, vec_col).limit(GEMM_MAX_QUERIES + 1).collect()
    if len(q_rows) > GEMM_MAX_QUERIES:
        raise ValueError(
            f"brute_force_topk(dim=...) collects the query set to the driver "
            f"and is capped at {GEMM_MAX_QUERIES} queries; use lsh_bucket_topk "
            f"for larger query sets.")
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    # ids keep their own type end to end: the output schema comes from
    # the inputs, as in the fold form, so non-numeric ids work too
    q_ids = np.array([r[0] for r in q_rows])
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, qm))
    kk_target = 2 * k + 16

    def _norms(mat):
        acc = np.zeros(mat.shape[0])
        for i in range(mat.shape[1]):        # fold order: acc + x_i²
            x = mat[:, i]
            acc = acc + x * x
        return np.sqrt(acc)

    def kernel(batches):
        import pandas as pd

        ids, qmat = bq.value
        qn = _norms(qmat)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(id_col)    # column order = n_id ASC
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            n_ids = pdf[id_col].to_numpy()
            nn = _norms(cm)
            raw = np.zeros((len(ids), len(n_ids)))
            for i in range(qmat.shape[1]):   # fold order per element
                raw = raw + qmat[:, i][:, None] * cm[:, i][None, :]
            raw = raw / (qn[:, None] * nn[None, :])
            sel_score = np.floor(raw * 1e6 + 0.5) / 1e6
            sel_score[ids[:, None] == n_ids[None, :]] = -np.inf   # self
            kk = min(kk_target, sel_score.shape[1])
            top = _stable_topk(sel_score, kk)          # ties → n_id ASC
            keep_raw = np.take_along_axis(raw, top, axis=1)
            keep_sel = np.take_along_axis(sel_score, top, axis=1)
            mask = np.isfinite(keep_sel)
            out = {
                "q_id": np.broadcast_to(ids[:, None], keep_raw.shape)[mask],
                "n_id": n_ids[top][mask],
                "raw": keep_raw[mask],
            }
            yield pd.DataFrame(out)

    schema = T.StructType([
        T.StructField("q_id", queries.schema[id_col].dataType),
        T.StructField("n_id", corpus.schema[id_col].dataType),
        T.StructField("raw", T.DoubleType()),
    ])
    local = corpus.select(id_col, vec_col).mapInPandas(kernel, schema)
    return local.select("q_id", "n_id", F.round(F.col("raw"), 6).alias("cos"))


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no runtime RNG):
    component (i,j) from xxh64 mapped to [-1, 1]."""
    return [
        [(xxh64(f"plane-{i}-{j}".encode(), seed=0) % 2_000_001) / 1_000_000.0 - 1.0
         for j in range(dim)]
        for i in range(n_planes)
    ]


def _table_sig(vec: Column, planes: list[list[float]]) -> Column:
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(_as_double(vec), F.array(*[F.lit(w) for w in p]),
                           lambda x, y: x * y),
                F.lit(0.0), lambda acc, x: acc + x) >= 0, F.lit(1)
        ).otherwise(F.lit(0)) * F.lit(1 << i)
        for i, p in enumerate(planes)
    ]
    return sum(bits[1:], bits[0])


def lsh_bucket_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
                    n_planes: int = 4, n_tables: int = 8, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """ANN scale path: MULTI-TABLE random-hyperplane LSH → bucket
    equi-join per table → dedup candidates → exact cosine → top-k.

    OR-amplification across ``n_tables`` independent plane sets: a true
    neighbor at angle θ collides in one table with p = (1-θ/π)^n_planes
    and is missed everywhere with (1-p)^n_tables — recall tunes by
    (n_planes, n_tables) without touching the join shape. Candidates
    are an equi-join on (table, bucket) so shuffle ∝ collisions, not
    |q|·|corpus|. Recall measured against brute_force_topk in tests
    (standard ANN recall@k methodology)."""
    all_planes = _hyperplanes(n_planes * n_tables, dim)
    tables = [all_planes[t * n_planes:(t + 1) * n_planes] for t in range(n_tables)]

    def sigs(vec: Column) -> Column:
        return F.array(*[
            F.struct(F.lit(t).alias("tbl"), _table_sig(vec, tables[t]).alias("bucket"))
            for t in range(n_tables)
        ])

    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
                       F.explode(sigs(F.col(vec_col))).alias("tb")) \
               .select("q_id", "q_vec", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
                      F.explode(sigs(F.col(vec_col))).alias("tb")) \
              .select("n_id", "n_vec", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    cand = (
        q.join(c, ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "q_vec", "n_id", "n_vec")
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = cand.select(
        "q_id", "n_id", F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos"))
    return _rank_topk(scored, k)


def ivf_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4, train_iters: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) ANN — the coarse-quantizer scale path
    alongside the hyperplane LSH tables.

    Train: deterministic seed centroids (the ``n_centroids`` corpus
    vectors with smallest ``xxhash64(vec_id)`` — no RNG) refined by
    ``train_iters`` Lloyd steps run AS DATAFRAME JOBS (assign via
    broadcast-centroid argmax, new centroids via posexplode +
    per-dimension avg; only n_centroids×dim rows ever reach the
    driver). Index: one corpus pass assigns each vector to its nearest
    (unit-normalized) centroid — a plain int bucket column. Search:
    each query probes its ``n_probe`` nearest centroids and equi-joins
    the corpus on the bucket id, so the shuffle is ∝ probed-cluster
    sizes, not |q|·|corpus|; exact cosine + window top-k on the
    candidates. Standard IVF recall/probe trade-off, measured vs
    brute_force_topk in tests (same methodology as lsh_bucket_topk).

    At 100 TB the assignment column is materialized once (or bucketed
    into the table layout) and only probed clusters are scanned — the
    Iceberg-partition-by-cluster analog of FAISS IVF.

    Assignment physical form: for small centroid counts (≤ 32) the
    argmax is a pure Catalyst fold expression (stays in codegen); past
    that the literal centroid matrix would bloat generated code, so
    assignment/probing switch to an Arrow ``mapInPandas`` kernel doing
    one numpy GEMM per batch against the broadcast centroid matrix —
    the FAISS-style shape that holds at thousands of centroids.
    """
    import numpy as np

    CATALYST_MAX_CENTROIDS = 32

    seeds = (corpus.select(F.col(vec_col).alias("v"),
                           F.xxhash64(F.col(id_col).cast("string")).alias("h"))
             .orderBy("h").limit(n_centroids).collect())
    if not seeds:  # empty corpus → empty result, typed from the inputs
        return (queries.select(F.col(id_col).alias("q_id"))
                .crossJoin(corpus.select(F.col(id_col).alias("n_id")))
                .withColumn("cos", F.lit(0.0))
                .withColumn("rank", F.lit(0))
                .limit(0))
    n_centroids = min(n_centroids, len(seeds))  # corpus smaller than k
    cents = _unit(np.array([r["v"] for r in seeds], dtype=np.float64))
    use_gemm = n_centroids > CATALYST_MAX_CENTROIDS

    def _assign_expr(c: np.ndarray, vec: Column) -> Column:
        scored = F.array(*[
            F.named_struct(F.lit("s"),
                           dot(_as_double(vec), F.array(*[F.lit(float(w)) for w in c[i]])),
                           F.lit("c"), F.lit(i))
            for i in range(len(c))
        ])
        return F.array_max(scored)["c"]

    def _assign_gemm(df: DataFrame, out_id: str, out_vec: str,
                     c: np.ndarray, top_n: int) -> DataFrame:
        """(id, vec) → (id, vec, cids array<int>): one BLAS GEMM per
        Arrow batch against the broadcast unit-centroid matrix."""
        import pandas as pd
        from pyspark.sql import types as T

        narrowed = df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))
        schema = T.StructType(list(narrowed.schema)
                              + [T.StructField("cids", T.ArrayType(T.IntegerType()))])
        bc = df.sparkSession.sparkContext.broadcast(c)

        def kernel(batches):
            cm = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.array(list(pdf[out_vec]), dtype=np.float64)
                scores = m @ cm.T                       # (rows, n_centroids)
                nn = min(top_n, scores.shape[1])
                top = np.argsort(-scores, axis=1)[:, :nn].astype(np.int32)
                out = pdf[[out_id, out_vec]].copy()
                out["cids"] = list(top)
                yield out

        return narrowed.mapInPandas(kernel, schema)

    def _assigned(df: DataFrame, out_id: str, out_vec: str, c: np.ndarray) -> DataFrame:
        if use_gemm:
            return _assign_gemm(df, out_id, out_vec, c, 1).select(
                out_id, out_vec, F.col("cids")[0].alias("cid"))
        return df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec),
                         _assign_expr(c, F.col(vec_col)).alias("cid"))

    for _ in range(train_iters):
        assigned = _assigned(corpus, "_id", "_v", cents).select(
            "cid", F.posexplode(F.col("_v")).alias("pos", "val"))
        rows = assigned.groupBy("cid", "pos").agg(F.avg("val").alias("m")).collect()
        new = cents.copy()
        by_c: dict[int, list] = {}
        for r in rows:
            by_c.setdefault(r["cid"], [None] * dim)[r["pos"]] = r["m"]
        for cid, vals in by_c.items():
            if all(v is not None for v in vals):
                new[cid] = vals
        cents = _unit(new)

    def _probe_expr(vec: Column) -> Column:
        scored = F.array(*[
            F.named_struct(F.lit("s"),
                           dot(_as_double(vec), F.array(*[F.lit(float(w)) for w in cents[i]])),
                           F.lit("c"), F.lit(i))
            for i in range(n_centroids)
        ])
        top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
        return F.transform(top, lambda t: t["c"])

    c_idx = _assigned(corpus, "n_id", "n_vec", cents)
    if use_gemm:
        q_idx = _assign_gemm(queries, "q_id", "q_vec", cents, n_probe).select(
            "q_id", "q_vec", F.explode("cids").alias("cid"))
    else:
        q_idx = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
                               F.explode(_probe_expr(F.col(vec_col))).alias("cid"))
    # per-ROW norm hoist (see brute_force_topk) — bit-identical cos
    c_idx = c_idx.withColumn("_nn", norm(_as_double(F.col("n_vec"))))
    q_idx = q_idx.withColumn("_qn", norm(_as_double(F.col("q_vec"))))
    cand = (q_idx.join(c_idx, "cid")
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id",
                    F.round(dot(_as_double(F.col("q_vec")),
                                _as_double(F.col("n_vec")))
                            / (F.col("_qn") * F.col("_nn")), 6).alias("cos")))
    return _rank_topk(cand, k)


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             dim: int = 64, n_planes: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the LSH bucket join
    (id1 < id2, cosine ≥ threshold)."""
    planes = _hyperplanes(n_planes, dim)

    # norms precomputed per ROW (same attribute-hoist as
    # brute_force_topk — bit-identical cos, O(dim) per pair not 3·O(dim))
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                     norm(_as_double(F.col(vec_col))).alias("nrm"),
                     _table_sig(F.col(vec_col), planes).alias("bucket"))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
                F.round(dot(_as_double(F.col("a.vec")), _as_double(F.col("b.vec")))
                        / (F.col("a.nrm") * F.col("b.nrm")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _nearest_code(xb, cents):
    """Row-wise nearest centroid in squared-L2, GEMM form:
    argmin_c |x−c|² = argmin_c (|c|² − 2·x·cᵀ) — the |x|² term is
    constant per row and dropped. One BLAS matmul instead of
    materializing the (n, k, d) broadcast-subtract tensor (at
    exact-oracle codebook sizes that tensor is hundreds of MB per
    block and dominates the encode kernel). Used by BOTH the driver
    trainer and the executor encode kernels so assignments (incl.
    first-index tie-breaks on duplicate centroids) agree exactly."""
    import numpy as np

    d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (xb @ cents.T)
    return d.argmin(axis=1)


def _lloyd_blocks(x, m_blocks: int, k_codes: int, train_iters: int):
    """Per-block Lloyd k-means over a (n, dim) sample matrix: split dims
    into ``m_blocks`` sub-vectors, train ``min(k_codes, n)`` centroids
    per block (seeds = the first rows in the caller's deterministic
    order; no RNG). Returns (m_blocks, k, dim // m_blocks) float64 —
    the shared PQ training kernel for ``train_pq_codebooks`` (raw
    vectors) and ``ivfpq_index`` (cell residuals)."""
    import numpy as np

    n, dim = x.shape
    assert dim % m_blocks == 0, "dim must divide evenly into blocks"
    sub = dim // m_blocks
    books = np.zeros((m_blocks, min(k_codes, n), sub))
    for m in range(m_blocks):
        xb = x[:, m * sub:(m + 1) * sub]
        cents = xb[:books.shape[1]].copy()
        for _ in range(train_iters):
            assign = _nearest_code(xb, cents)
            for c in range(len(cents)):
                mask = assign == c
                if mask.any():
                    cents[c] = xb[mask].mean(axis=0)
        books[m] = cents
    return books


def train_pq_codebooks(corpus: DataFrame, dim: int, m_blocks: int = 16,
                       k_codes: int = 256, train_iters: int = 5,
                       sample_cap: int = 10_000,
                       id_col: str = "vec_id", vec_col: str = "embedding"):
    """Train product-quantization codebooks (FAISS ``PQ{m}x{bits}``
    shape): split the ``dim`` dims into ``m_blocks`` sub-vectors and
    Lloyd-train ``k_codes`` centroids per block on a DETERMINISTIC
    bounded sample (the ``sample_cap`` vectors with smallest
    ``xxhash64(vec_id)`` — no RNG, stable across runs/partitionings).

    Training on a bounded sample is the production shape: FAISS trains
    PQ on ~10⁴-10⁵ vectors regardless of corpus size, so the driver
    collect here is capped, not O(corpus). Returns a numpy array
    ``(m_blocks, k_codes, dim // m_blocks)`` float64.
    """
    import numpy as np

    assert dim % m_blocks == 0, "dim must divide evenly into blocks"
    sub = dim // m_blocks
    rows = (corpus.select(F.col(vec_col).alias("v"),
                          F.xxhash64(F.col(id_col).cast("string")).alias("h"))
            .orderBy("h").limit(sample_cap).collect())
    if not rows:
        return np.zeros((m_blocks, k_codes, sub))
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    return _lloyd_blocks(x, m_blocks, k_codes, train_iters)


def pq_encode(corpus: DataFrame, books, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode each corpus vector as ``m_blocks`` small codes (nearest
    per-block centroid) plus the reconstruction norm — one numpy
    distance computation per Arrow batch against the broadcast
    codebooks; output is (id, codes array<int>, recon_norm), ~m bytes
    of code per vector instead of 4·dim, the 100 TB memory shape."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    m_blocks, k_codes, sub = books.shape
    bc = corpus.sparkSession.sparkContext.broadcast(books)
    narrowed = corpus.select(F.col(id_col).alias("n_id"),
                             F.col(vec_col).alias("_v"))
    schema = T.StructType([
        T.StructField("n_id", narrowed.schema["n_id"].dataType),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
        T.StructField("recon_norm", T.DoubleType()),
    ])

    def kernel(batches):
        cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["_v"]), dtype=np.float64)
            codes = np.zeros((len(x), m_blocks), dtype=np.int32)
            recon = np.zeros_like(x)
            for m in range(m_blocks):
                xb = x[:, m * sub:(m + 1) * sub]
                codes[:, m] = _nearest_code(xb, cb[m])
                recon[:, m * sub:(m + 1) * sub] = cb[m][codes[:, m]]
            out = pd.DataFrame({"n_id": pdf["n_id"],
                                "codes": list(codes),
                                "recon_norm": np.linalg.norm(recon, axis=1)})
            yield out

    return narrowed.mapInPandas(kernel, schema)


def pq_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 5,
            m_blocks: int = 16, k_codes: int = 256, train_iters: int = 5,
            query_cap: int = 100_000, sample_cap: int = 10_000,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Product-quantization ANN: asymmetric-distance (ADC) top-k.

    Scale shape (FAISS ADC scan): codebooks are trained on a bounded
    sample and broadcast; the corpus is ENCODED once into m small
    codes per vector (the compressed index a 10^10-vector corpus can
    actually hold in memory); each query precomputes an m×k_codes
    dot-product lookup table, and scoring a corpus row is m table
    lookups — no per-pair float math. The scan emits only a per-query
    PARTIAL top-k per partition (k rows per query per partition cross
    the shuffle, never the |q|·|corpus| score matrix), then a window
    takes the global top-k. Approximate by construction (quantization
    error) — recall measured vs ``brute_force_topk`` in tests, same
    methodology as the LSH/IVF paths. cos ≈ q·recon(x)/(|q|·|recon(x)|).

    ``query_cap``: the broadcast query-table guard (same pattern as
    ``brute_force_topk(dim=...)``) — above it, raise rather than
    silently broadcast an unbounded table."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    books = train_pq_codebooks(corpus, dim, m_blocks, k_codes, train_iters,
                               sample_cap=sample_cap,
                               id_col=id_col, vec_col=vec_col)
    m_blocks, k_codes, sub = books.shape
    q_rows = (queries.select(F.col(id_col).alias("q_id"),
                             F.col(vec_col).alias("q_vec"))
              .limit(query_cap + 1).collect())
    if len(q_rows) > query_cap:
        raise ValueError(f"pq_topk: query set exceeds cap {query_cap}")
    if not q_rows:
        return pq_encode(corpus, books, id_col, vec_col).select(
            F.col("n_id").alias("q_id"), "n_id",
            F.lit(0.0).alias("cos"), F.lit(0).alias("rank")).limit(0)
    qm = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    q_ids = np.array([r["q_id"] for r in q_rows])
    q_norm = np.linalg.norm(qm, axis=1)
    q_norm[q_norm == 0] = 1.0
    # ADC tables: tables[qi, m, c] = dot(q_block, centroid_mc)
    tables = np.stack([
        qm[:, m * sub:(m + 1) * sub] @ books[m].T for m in range(m_blocks)
    ], axis=1)
    encoded = pq_encode(corpus, books, id_col, vec_col)
    sc = corpus.sparkSession.sparkContext
    bc_t, bc_qid, bc_qn = sc.broadcast(tables), sc.broadcast(q_ids), sc.broadcast(q_norm)
    out_schema = T.StructType([
        T.StructField("q_id", encoded.schema["n_id"].dataType),
        T.StructField("n_id", encoded.schema["n_id"].dataType),
        T.StructField("cos", T.DoubleType()),
    ])

    def scan(batches):
        t, qid, qn = bc_t.value, bc_qid.value, bc_qn.value
        nq = len(qid)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("n_id")   # column order = n_id ASC
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            rn = pdf["recon_norm"].to_numpy()
            rn = np.where(rn == 0, 1.0, rn)
            # scores[qi, n] = sum_m t[qi, m, codes[n, m]]
            scores = np.zeros((nq, len(codes)))
            for m in range(codes.shape[1]):
                scores += t[:, m, :][:, codes[:, m]]
            cos = np.round(scores / (qn[:, None] * rn[None, :]), 6)
            n_ids = pdf["n_id"].to_numpy()
            cos[qid[:, None] == n_ids[None, :]] = -np.inf   # self excluded
            nn = min(k, len(codes))
            top = _stable_topk(cos, nn)                     # ties → n_id ASC
            rows = []
            for qi in range(nq):
                for j in top[qi]:
                    if np.isfinite(cos[qi, j]):
                        rows.append((qid[qi], n_ids[j], float(cos[qi, j])))
            yield pd.DataFrame(rows, columns=["q_id", "n_id", "cos"])

    return _rank_topk(encoded.mapInPandas(scan, out_schema), k)


def ivfpq_index(corpus: DataFrame, dim: int, n_centroids: int = 16,
                m_blocks: int = 16, k_codes: int = 256,
                coarse_iters: int = 3, train_iters: int = 5,
                sample_cap: int = 10_000,
                id_col: str = "vec_id", vec_col: str = "embedding"):
    """Build an IVFADC index (FAISS ``IVF{n},PQ{m}x{bits}`` shape):
    coarse quantizer + product-quantized RESIDUALS.

    Train (driver-side numpy over the same deterministic bounded sample
    ``train_pq_codebooks`` uses — FAISS trains both quantizers on
    ~10⁴-10⁵ vectors regardless of corpus size, so the collect is
    capped, not O(corpus)): Lloyd k-means for ``n_centroids`` unit
    coarse centroids, then per-block Lloyd codebooks over the sample's
    cell RESIDUALS (x − centroid(cell(x))) — residual quantization is
    what makes IVFADC strictly more accurate than PQ alone at equal
    code size (Jégou et al., TPAMI'11 §IV).

    Encode (one ``mapInPandas`` pass, GEMM per Arrow batch): each
    corpus vector gets its cell id, the PQ codes of its residual, and
    the reconstruction norm (|centroid + decode(codes)| — needed for
    cosine). Output ``(n_id, cid int, codes array<int>, recon_norm)``:
    m bytes of code + 1 int per vector, the compressed-index memory
    shape, keyed by cell so a search groups the corpus on ``cid`` (the
    Iceberg partition-by-cluster analog).

    Returns ``(cents, means, books, encoded)`` — ``encoded`` is None
    for an empty corpus; feed to ``ivfpq_topk`` via ``index=`` to
    reuse one index across query batches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    assert dim % m_blocks == 0, "dim must divide evenly into blocks"
    rows = (corpus.select(F.col(vec_col).alias("v"),
                          F.xxhash64(F.col(id_col).cast("string")).alias("h"))
            .orderBy("h").limit(sample_cap).collect())
    if not rows:
        z = np.zeros((1, dim))
        return (z, z.copy(),
                np.zeros((m_blocks, k_codes, dim // m_blocks)), None)
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    nc = min(n_centroids, len(x))
    cents = _unit(x[:nc].copy())               # hash-ordered seeds
    means = x[:nc].copy()
    for _ in range(coarse_iters):
        assign = (x @ cents.T).argmax(axis=1)  # cosine cells: unit cents
        new = cents.copy()
        for c in range(nc):
            mask = assign == c
            if mask.any():
                new[c] = x[mask].mean(axis=0)
        cents = _unit(new)
    # residuals against the cell's actual MEAN, not the unit direction:
    # subtracting a unit vector from data of a different norm INFLATES
    # residual variance (measured: worse-than-PQ recall on diffuse
    # vectors); the k-means mean is the variance-minimizing origin.
    # Assignment/probing stay on the unit centroids (cosine cells).
    assign = (x @ cents.T).argmax(axis=1)
    for c in range(nc):
        mask = assign == c
        if mask.any():
            means[c] = x[mask].mean(axis=0)
        else:
            means[c] = cents[c]
    resid = x - means[assign]
    books = _lloyd_blocks(resid, m_blocks, k_codes, train_iters)
    m_blocks, _, sub = books.shape

    narrowed = corpus.select(F.col(id_col).alias("n_id"),
                             F.col(vec_col).alias("_v"))
    schema = T.StructType([
        T.StructField("n_id", narrowed.schema["n_id"].dataType),
        T.StructField("cid", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
        T.StructField("recon_norm", T.DoubleType()),
    ])
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((cents, means, books))

    def kernel(batches):
        cm, mm, cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xm = np.array(list(pdf["_v"]), dtype=np.float64)
            cid = (xm @ cm.T).argmax(axis=1)
            res = xm - mm[cid]
            codes = np.zeros((len(xm), len(cb)), dtype=np.int32)
            recon = mm[cid].copy()
            for m in range(len(cb)):
                rb = res[:, m * sub:(m + 1) * sub]
                codes[:, m] = _nearest_code(rb, cb[m])
                recon[:, m * sub:(m + 1) * sub] += cb[m][codes[:, m]]
            yield pd.DataFrame({"n_id": pdf["n_id"],
                                "cid": cid.astype(np.int32),
                                "codes": list(codes),
                                "recon_norm": np.linalg.norm(recon, axis=1)})

    return cents, means, books, narrowed.mapInPandas(kernel, schema)


def ivfpq_topk(queries: DataFrame, corpus: DataFrame | None = None,
               dim: int = 64, k: int = 5, n_centroids: int = 16,
               n_probe: int = 4, m_blocks: int = 16, k_codes: int = 256,
               coarse_iters: int = 3, train_iters: int = 5,
               sample_cap: int = 10_000, index=None, q_chunk: int = 1024,
               c_chunk: int = 65_536, cell_splits: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVFADC ANN: IVF coarse cells × PQ compressed scoring (FAISS
    IVFADC search). ``pq_topk`` alone ADC-scans the whole corpus per
    query; here a query is scored only against the cells it probes, so
    per-query work is ∝ probed-cell sizes over m-byte codes.

    Queries stay a DataFrame end to end — nothing about them ever
    reaches the driver and there is no query cap, so the query set may
    be the corpus itself (SemDeDup-style self-dedup, ``ivfpq_self_pairs``):

    1. probe assignment: one ``mapInPandas`` pass over the queries
       emits (cid, q_id, q_vec) rows for each query's ``n_probe``
       nearest coarse cells — a GEMM per Arrow batch against the
       broadcast unit-centroid matrix (the ONLY broadcast state is the
       index quantizers: centroids + cell means + PQ codebooks,
       O(n_cells·dim + m·k_codes·sub) — independent of |queries| and
       |corpus|);
    2. candidate generation: ``groupBy(cid).cogroup`` of query probes
       × the encoded corpus — an equi-join-shaped shuffle on the cell
       id. There is no plan-side ``cid`` prune: every cell of the
       corpus is grouped, and a cell that no query probes emits
       nothing;
    3. scoring: inside the cogrouped Arrow kernel, per cell:
       ``score(q, x) = q·mean(cid) + Σ_m ADC_m[code_m]``, i.e. cosine
       against cell mean + decoded residual, normalized by
       |q|·|recon|. ADC tables are built per (cell, query-chunk)
       from the broadcast codebooks — never materialized for the full
       query set — and the corpus side is scanned in ``c_chunk``
       blocks so the SCORE MATRIX peaks at
       O(q_chunk · max(k_codes, c_chunk)). Honest caveat:
       ``cogroup().applyInPandas`` materializes each (cell-queries,
       cell-corpus) group pair as pandas frames before the kernel
       runs, so a task's resident input is O(cell population · m +
       probing-query count · dim) — the chunk loops bound the
       quadratic term, not the group frames. At scale, cell size is
       the knob: grow ``n_centroids`` with the corpus (FAISS practice
       ~√|corpus| cells) so cells stay task-sized; for a
       pathologically hot cell pass ``cell_splits > 1`` — the salted
       sub-cell split below bounds a subgroup to ~cell/cell_splits
       corpus rows at the cost of a cell_splits× query shuffle, with
       BIT-IDENTICAL output (each n_id lives in one sub-cell; the
       global window merges sub-cell top-ks under the same order);
       only each query's per-cell top-k leaves the kernel;
    4. global top-k: one window over ≤ n_probe·k rows per query.

    Approximate by construction; recall vs ``brute_force_topk`` is
    measured in tests and must dominate PQ-alone at equal code size
    (residual quantization). Chunk boundaries and query partitioning
    don't reorder any per-pair arithmetic, so results are identical
    across repartitions. With ``n_probe = n_centroids``,
    ``sample_cap/k_codes ≥ |corpus|`` and ``train_iters = 0`` every
    vector reconstructs exactly and the result degenerates to exact
    cosine top-k (the q58 oracle mode). Pass a prebuilt
    ``ivfpq_index`` as ``index=`` to reuse one index across query
    batches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if index is None:
        index = ivfpq_index(corpus, dim, n_centroids, m_blocks, k_codes,
                            coarse_iters, train_iters, sample_cap,
                            id_col, vec_col)
    cents, means, books, encoded = index
    if encoded is None:                         # empty corpus
        return (queries.select(F.col(id_col).alias("q_id"))
                .withColumn("n_id", F.col("q_id"))
                .withColumn("cos", F.lit(0.0))
                .withColumn("rank", F.lit(0)).limit(0))
    m_blocks, _, sub = books.shape
    npb = min(n_probe, cents.shape[0])
    sc = encoded.sparkSession.sparkContext
    bidx = sc.broadcast((cents, means, books))

    q_narrow = queries.select(F.col(id_col).alias("q_id"),
                              F.col(vec_col).alias("q_vec"))
    probe_schema = T.StructType([
        T.StructField("cid", T.IntegerType()),
        T.StructField("q_id", q_narrow.schema["q_id"].dataType),
        T.StructField("q_vec", q_narrow.schema["q_vec"].dataType),
    ])

    def assign(batches):
        cm = bidx.value[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.array(list(pdf["q_vec"]), dtype=np.float64)
            top = np.argsort(-(qm @ cm.T), axis=1)[:, :npb].astype(np.int32)
            yield pd.DataFrame({
                "cid": top.ravel(),
                "q_id": pdf["q_id"].to_numpy().repeat(npb),
                "q_vec": [v for v in pdf["q_vec"] for _ in range(npb)],
            })

    q_probe = q_narrow.mapInPandas(assign, probe_schema)

    out_schema = T.StructType([
        T.StructField("q_id", q_narrow.schema["q_id"].dataType),
        T.StructField("n_id", encoded.schema["n_id"].dataType),
        T.StructField("cos", T.DoubleType()),
    ])

    def score_cell(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"q_id": [], "n_id": [], "cos": []},
                                columns=["q_id", "n_id", "cos"])
        _cm, mm, cb = bidx.value
        cid = int(right["cid"].iloc[0])
        right = right.sort_values("n_id")   # column order = n_id ASC
        out_q, out_n, out_c = [], [], []
        for qs in range(0, len(left), q_chunk):
            qpdf = left.iloc[qs:qs + q_chunk]
            qm = np.array(list(qpdf["q_vec"]), dtype=np.float64)
            qid = qpdf["q_id"].to_numpy()
            qn = np.linalg.norm(qm, axis=1)
            qn[qn == 0] = 1.0
            bias = qm @ mm[cid]                       # (nq,)
            adc = np.stack([qm[:, m * sub:(m + 1) * sub] @ cb[m].T
                            for m in range(m_blocks)], axis=1)
            # per-query running top-k across corpus chunks, always
            # under the global (cos DESC, n_id ASC) order on ROUNDED
            # scores: chunk selection is a stable argsort over
            # n_id-sorted columns, the running merge a per-row lexsort
            # over ≤ 2k candidates (_merge_topk) — chunk boundaries
            # can neither reorder arithmetic nor flip a 6-decimal tie
            best_c = np.full((len(qm), k), -np.inf)
            best_n = np.empty((len(qm), k), dtype=object)
            for cs in range(0, len(right), c_chunk):
                cpdf = right.iloc[cs:cs + c_chunk]
                codes = np.array(list(cpdf["codes"]), dtype=np.int64)
                rn = cpdf["recon_norm"].to_numpy()
                rn = np.where(rn == 0, 1.0, rn)
                n_ids = cpdf["n_id"].to_numpy()
                scores = np.broadcast_to(bias[:, None],
                                         (len(qm), len(codes))).copy()
                for m in range(codes.shape[1]):
                    scores += adc[:, m, :][:, codes[:, m]]
                cos = np.round(scores / (qn[:, None] * rn[None, :]), 6)
                cos[qid[:, None] == n_ids[None, :]] = -np.inf  # self
                ctop = _stable_topk(cos, k)
                chunk_c = np.take_along_axis(cos, ctop, axis=1)
                chunk_n = np.broadcast_to(
                    n_ids[None, :], (len(qm), len(n_ids)))
                chunk_n = np.take_along_axis(
                    chunk_n.astype(object), ctop, axis=1)
                best_c, best_n = _merge_topk(best_c, best_n,
                                             chunk_c, chunk_n, k)
            keep = np.isfinite(best_c)
            rows_q = np.broadcast_to(qid[:, None], best_c.shape)[keep]
            out_q.append(rows_q)
            out_n.append(best_n[keep])
            out_c.append(best_c[keep].astype(np.float64))
        return pd.DataFrame({"q_id": np.concatenate(out_q),
                             "n_id": np.concatenate(out_n),
                             "cos": np.concatenate(out_c)})

    if cell_splits > 1:
        # hot-cell salt (same cure as the per-host top-k): each cell
        # splits into `cell_splits` deterministic sub-cells by n_id
        # hash, queries replicate to every sub-cell of each probed
        # cell. A subgroup's resident frames shrink ~cell_splits×; the
        # query shuffle grows cell_splits×. Every n_id lives in
        # exactly one sub-cell, so no (q, n) pair scores twice, each
        # sub-cell emits its top-k under the same global order, and
        # the window over the superset returns EXACTLY the
        # cell_splits=1 result (equality pinned in tests).
        s = int(cell_splits)
        enc2 = encoded.withColumn(
            "scid", (F.col("cid") * s
                     + F.pmod(F.xxhash64(F.col("n_id")), F.lit(s))
                     ).cast("long"))
        qp2 = q_probe.withColumn(
            "_sub", F.explode(F.array(*[F.lit(i) for i in range(s)]))
        ).withColumn("scid", (F.col("cid") * s + F.col("_sub")).cast("long"))
        partial = (qp2.groupBy("scid")
                   .cogroup(enc2.groupBy("scid"))
                   .applyInPandas(score_cell, out_schema))
    else:
        partial = (q_probe.groupBy("cid")
                   .cogroup(encoded.groupBy("cid"))
                   .applyInPandas(score_cell, out_schema))
    return _rank_topk(partial, k)


def ivfpq_self_pairs(corpus: DataFrame, dim: int = 64, threshold: float = 0.9,
                     k: int = 10, n_centroids: int = 16, n_probe: int = 4,
                     m_blocks: int = 16, k_codes: int = 256,
                     coarse_iters: int = 3, train_iters: int = 5,
                     sample_cap: int = 10_000, index=None,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic near-duplicate PAIRS: the corpus is its
    own query set (Abbas et al. '23 — remove semantically redundant
    training data by embedding-cosine). Runs entirely on
    ``ivfpq_topk``, whose query side stays distributed, so it holds
    when |queries| = |corpus| = 10^10: per-vector candidate work ∝
    probed-cell populations over m-byte codes, and nothing is ever
    collected to the driver.

    Returns unordered pairs (id1 < id2, cos) with ADC cosine ≥
    ``threshold`` among each vector's top-``k`` probed neighbors —
    feed to ``dedup.dup_clusters`` + ``keep_cluster_representatives``
    for the keep-one-per-cluster finish, exactly like the text LSH
    pipelines."""
    top = ivfpq_topk(
        corpus, corpus, dim=dim, k=k, n_centroids=n_centroids,
        n_probe=n_probe, m_blocks=m_blocks, k_codes=k_codes,
        coarse_iters=coarse_iters, train_iters=train_iters,
        sample_cap=sample_cap, index=index, id_col=id_col, vec_col=vec_col)
    return (top.filter(F.col("cos") >= threshold)
            .select(F.least("q_id", "n_id").alias("id1"),
                    F.greatest("q_id", "n_id").alias("id2"),
                    "cos")
            .groupBy("id1", "id2").agg(F.max("cos").alias("cos")))
