"""Similarity search over embedding columns (``array<float>``).

Seven public operators plus a persisted IVF-PQ index. Every top-k path
returns ``(query_id, n_id, <score>, rank)``, ties broken on neighbor id:

- ``brute_force_topk`` — the exactness baseline. Queries are a small set:
  broadcast them, evaluate the dot product as a JVM ``aggregate(zip_with)``
  expression (no UDF, stays in codegen), two-phase top-k per query.
- ``lsh_bucket`` / ``lsh_topk`` — sign-bit bucket key per vector (axis-
  aligned, or seeded random hyperplanes from one sign matrix), candidates
  share a bucket (plus optional multi-probe buckets); turns the O(N*Q)
  scan into an equi-join.
- ``ivf_topk`` — seeded k-means coarse quantizer; queries probe their
  ``nprobe`` nearest lists, exact inner-product re-rank of the list join.
- ``pq_topk`` / ``ivfpq_topk`` / ``write_ivfpq_index`` +
  ``IvfPqIndex.topk`` — ONE quantized path. Plain PQ is IVF-PQ with a
  single coarse cell at the origin (Jégou et al., IVFADC): the same
  encoder (``_ivfpq_encode_udf``), per-(query, probed list) LUT builder
  (``_ivfpq_lut_rows``) and ADC score-and-refine back half
  (``_ivfpq_score_topk``) serve all three; a residual minus zero is the
  vector itself, so PQ's codes, LUTs and ADC sums are unchanged.
- ``cosine_near_dup_pairs`` — LSH-blocked all-pairs cosine threshold.

Scores are computed on deterministically quantized vectors
(``round(x * 10^6)`` as bigint) so dot products are exact integers —
engine-portable and hash-stable for the DuckDB oracles (float64 summation
order never matters). Bad ``k`` / ``nprobe`` / ``rerank`` values raise
``ValueError`` at call time, before any Spark job (``_check_topk_args``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

QUANT = 1_000_000


def quantized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``qvec array<bigint>``: deterministic fixed-point quantization."""
    q = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long")
    )
    return df.withColumn("qvec", q)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Distributed two-phase top-k over (query_id, n_id, ip) candidates.

    Phase 1 groups by ``(query_id, spark_partition_id())`` — the partition
    id is constant within each input partition, so the partial hash
    aggregation COMPLETES map-side and only ``<= k`` survivors per (query,
    partition) cross the exchange. Phase 2 ranks the tiny survivor set.
    A single global window would shuffle every candidate row — the
    difference between O(candidates) and O(k * partitions) network at
    10^12-row scale. Ties break (ip desc, n_id asc), deterministic.
    """
    local = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("query_id", "_pid")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("ip")).alias("nip"), F.col("n_id")))
                ),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
        .select("query_id", F.col("t.n_id").alias("n_id"), (-F.col("t.nip")).alias("ip"))
    )
    win = Window.partitionBy("query_id").orderBy(F.col("ip").desc(), F.col("n_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("query_id", "n_id", "ip", "rank")
    )


def _not_self(d: DataFrame, q: DataFrame):
    """Self-exclusion ``n_id != query_id`` over a corpus side ``d`` and a
    query side ``q``, chosen at plan time from their id types: the plain
    comparison when the types match, else both ids compared as strings
    (the implicit cast of a string query id to a bigint corpus id would
    fail the scoring job with ``CAST_INVALID_INPUT``)."""
    if d.schema["n_id"].dataType == q.schema["query_id"].dataType:
        return F.col("n_id") != F.col("query_id")
    return F.col("n_id").cast("string") != F.col("query_id").cast("string")


def _check_topk_args(k: int, nprobe: int | None = None, rerank="auto") -> None:
    """Call-time argument check shared by every top-k entry point: a bad
    value would otherwise return wrong or empty results after the jobs."""
    if int(k) < 1:
        raise ValueError(f"k must be >= 1; got {k!r}")
    if nprobe is not None and int(nprobe) < 1:
        raise ValueError(f"nprobe must be >= 1; got {nprobe!r}")
    if rerank != "auto" and (isinstance(rerank, str) or (rerank or 0) < 0):
        raise ValueError(f"rerank must be an int >= 0, None, or 'auto'; got {rerank!r}")


def _train_sample(data: DataFrame, train_size: int, id_col: str, vec_col: str) -> np.ndarray:
    """The deterministic training sample: the first ``train_size`` rows by
    id, as float64 (one job; the DuckDB oracle derives the same rows)."""
    rows = data.orderBy(id_col).limit(train_size).select(vec_col).toPandas()[vec_col]
    return np.array(rows.tolist(), dtype=np.float64)


def brute_force_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact inner-product top-k for each query vector.

    ``queries`` (small) is broadcast; the scan over ``data`` is a single
    narrow pass per query batch — the right baseline plan when Q is dims-
    sized. Ties break on neighbor id for determinism.
    """
    from .parallelism import ensure_min_parallelism

    _check_topk_args(k)
    d = quantized(ensure_min_parallelism(data), vec_col).select(
        F.col(id_col).alias("n_id"), F.col("qvec").alias("n_qvec")
    )
    q = quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("q_qvec")
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .where(_not_self(d, q))
        .withColumn("ip", _dot(F.col("q_qvec"), F.col("n_qvec")))
    )
    return topk_per_query(scored, k)


def hyperplane_signs(bits: int, dim: int, seed: int) -> list[list[int]]:
    """Seeded Rademacher (+-1) hyperplane matrix, shared verbatim by the
    Spark expression and the DuckDB oracle so buckets match bit-for-bit."""
    rng = np.random.RandomState(seed)
    return rng.choice([-1, 1], size=(bits, dim)).astype(int).tolist()


def _signs_t(bits: int, dim: int | None, seed: int | None) -> np.ndarray | None:
    """The (dim, bits) int64 hyperplane matrix the bucket and multi-probe
    UDFs multiply by; ``None`` (seed-less) is the axis-aligned hash."""
    if seed is None:
        return None
    if dim is None:
        raise ValueError("hyperplane LSH needs the embedding dim")
    return np.array(hyperplane_signs(bits, dim, seed), dtype=np.int64).T


def lsh_bucket(
    df: DataFrame,
    bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """LSH bucket id per vector.

    ``seed=None``: axis-aligned sign bits of the first ``bits`` dims
    (``bucket = sum_b (v[b] > 0) << b``) — kept as the zero-config fallback,
    but correlated dims degrade its recall.

    ``seed`` given (needs ``dim``): seeded random-hyperplane (Rademacher
    SimHash for cosine) buckets — ``bit b = <qvec, r_b> > 0`` with r_b in
    {-1,+1}^dim from ``hyperplane_signs(bits, dim, seed)``. Strictly better
    partitioning under correlated dimensions (VERDICT r1 #10); all
    arithmetic is exact integer dots on the quantized vectors, so the
    DuckDB twin reproduces buckets exactly from the same sign matrix.
    """
    signs_t = _signs_t(bits, dim, seed)
    if signs_t is not None:
        shifts = np.arange(bits, dtype=np.int64)
        src = df if "qvec" in df.columns else quantized(df, vec_col)

        # The bits x dim projection is ~1000 multiply-adds per row: Spark's
        # higher-order functions (aggregate/zip_with) are NOT whole-stage-
        # codegen'd (interpreted, measured ~1 ms/row), and the unrolled
        # generated-SQL codegen formulation measured 1.7x SLOWER here at
        # sf0.1 — confirmed decisively by the round-5 corpus-scale A/B
        # (BENCH/IVF_ASSIGN_AB.md, 2M rows x dim 64 x 16 keys, local[16]):
        # warm scan 34M rows/s (matmul UDF) vs 7.7M rows/s (unrolled expr),
        # 4.4x, AND a smaller one-time driver constant (6.0 s vs 12.9 s
        # plan-analysis + Janino compile of the ~1000-term tree). One
        # vectorized int64 matmul beats codegen'd scalar chains at every
        # scale for this shape. Exactness is preserved (int64, no floats).
        @F.pandas_udf("long")
        def bucket_udf(qv: pd.Series) -> pd.Series:
            m = np.array(qv.tolist(), dtype=np.int64)  # (n, dim)
            dots = m @ signs_t  # (n, bits), exact
            return pd.Series(((dots > 0).astype(np.int64) << shifts).sum(axis=1))

        return src.withColumn("bucket", bucket_udf(F.col("qvec")))
    # unrolled sum of `bits` when-terms (bits <= ~16, so the tree is
    # tiny). NOT F.aggregate over F.sequence: besides being interpreted
    # rather than codegen'd, the lambda formulation hits a Spark
    # binding bug when both sides of a join carry the structurally
    # identical expression with different attribute ids
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at BindReferences — found by
    # the r8 axis-multiprobe bench arm, latent in every prior
    # axis-aligned lsh_topk call with a broadcast query side)
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        bucket = bucket + F.when(
            F.element_at(F.col(vec_col), b + 1) > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return df.withColumn("bucket", bucket)


def _multiprobe_udf(signs_t, bits: int, depth: int, budget: int):
    """array<long> of probe buckets per query vector, margin-ordered
    multi-probe (the Lv et al. 2007 shape): the buckets most likely to
    hold a missed neighbor are the base bucket with its LOWEST-|margin|
    hyperplane bits flipped. Flip sets of size <= ``depth`` over the
    ``w`` smallest-margin bits are scored by sum of squared margins and
    the best ``budget`` kept (plus the base bucket, always first).

    ``signs_t=None`` (r8, VERDICT r7 #7) is the axis-aligned fold: bit
    ``b``'s hyperplane is ``v[b] = 0``, so the margin is the exact
    quantized ``|v[b]|`` — identical machinery with the projection
    replaced by ``m[:, :bits]`` (an implicit identity sign matrix).

    Fully vectorized int64 numpy per Arrow batch: with C the fixed
    (ncombos x w) subset indicator over margin RANKS, scores =
    sorted_margins^2 @ C.T and — because a flip set picks distinct bits —
    XOR masks = (1 << rank_to_bit) @ C.T. Exact integer end-to-end, so a
    numpy twin reproduces the probe sequence bit-for-bit (pinned in
    tests)."""
    from itertools import combinations

    w = min(bits, 12)
    combos = [c for r in range(1, depth + 1) for c in combinations(range(w), r)]
    C = np.zeros((len(combos), w), dtype=np.int64)
    for i, c in enumerate(combos):
        C[i, list(c)] = 1
    shifts = np.arange(bits, dtype=np.int64)
    budget = min(int(budget), len(combos))

    @F.pandas_udf("array<long>")
    def probe_buckets(qv: pd.Series) -> pd.Series:
        m = np.array(qv.tolist(), dtype=np.int64)  # (n, dim)
        dots = m[:, :bits] if signs_t is None else m @ signs_t  # exact
        base = ((dots > 0).astype(np.int64) << shifts).sum(axis=1)
        mg = np.abs(dots)
        order = np.argsort(mg, axis=1, kind="stable")[:, :w]  # rank -> bit
        mg_sorted = np.take_along_axis(mg, order, axis=1)
        scores = (mg_sorted * mg_sorted) @ C.T  # (n, ncombos)
        masks = (np.int64(1) << order) @ C.T  # distinct bits: sum == OR
        top = np.argsort(scores, axis=1, kind="stable")[:, :budget]
        flips = np.take_along_axis(masks, top, axis=1)
        bucket_lists = np.concatenate(
            [base[:, None], base[:, None] ^ flips], axis=1
        )
        return pd.Series(list(bucket_lists))

    return probe_buckets


def lsh_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int | None = None,
    dim: int | None = None,
    probes: int = 0,
    probe_budget: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket (equi-join
    instead of a full scan); exact integer re-rank inside the candidates.
    Recall grows with fewer bits / added probe buckets; exactness is NOT
    guaranteed — that is the documented trade of the scale path. Pass
    ``seed``+``dim`` for random-hyperplane buckets (better recall under
    correlated dims). ``probes=1`` is classic multi-probe: the query side
    also probes every 1-bit-flip bucket (``bits+1`` equi-join keys per
    query — still no scan of the data side), rescuing neighbors that fall
    just across one hyperplane.

    ``probes>=2`` (VERDICT r6 #8) is margin-ordered multi-probe: flip
    sets of up to ``probes`` of the query's lowest-|margin| hyperplane
    bits, scored by sum of squared margins, best ``probe_budget``
    buckets kept (default ``4*bits``; capped by the combo space). A
    neighbor across TWO close hyperplanes is reachable without halving
    ``bits`` (which would square every bucket's occupancy) — probe count
    buys recall linearly where fewer bits buys it exponentially in
    candidate volume. Works on BOTH hash families (r8, VERDICT r7 #7):
    hyperplane margins are the exact int64 dots; axis-aligned margins
    are the exact quantized ``|v[b]|`` (same machinery, identity sign
    matrix). Still an equi-join on bucket — data side never rehashed,
    never scanned.

    ``broadcast_queries`` (VERDICT r2 #2): True is the dims-sized-Q plan
    (query side broadcast, data side never shuffled). For large Q — "top-k
    every vector against the corpus" — a broadcast of Q x (bits+1) exploded
    rows would flood every executor; False shuffles BOTH sides on the
    bucket key instead (shuffle-hash equi-join, each bucket meets on one
    partition), the same split bbox_join -> point_box_join_cells makes for
    boxes. Results are identical either way."""
    _check_topk_args(k)
    d = lsh_bucket(quantized(data, vec_col), bits, id_col, vec_col, seed, dim).select(
        F.col(id_col).alias("n_id"), F.col("qvec").alias("n_qvec"), "bucket"
    )
    q = lsh_bucket(quantized(queries, vec_col), bits, id_col, vec_col, seed, dim).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("q_qvec"), "bucket"
    )
    if probes >= 2:
        budget = 4 * bits if probe_budget is None else int(probe_budget)
        mp = _multiprobe_udf(_signs_t(bits, dim, seed), bits, int(probes), budget)
        q = q.select(
            "query_id", "q_qvec", F.explode(mp(F.col("q_qvec"))).alias("bucket")
        )
    elif probes:
        probe_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)],
        )
        q = q.select(
            "query_id", "q_qvec", F.explode(probe_buckets).alias("bucket")
        )
    if broadcast_queries:
        joined = d.join(F.broadcast(q), "bucket")
        scored = joined.where(_not_self(d, q)).withColumn(
            "ip", _dot(F.col("q_qvec"), F.col("n_qvec"))
        )
        return topk_per_query(scored, k)
    # Large-Q path (r9, guide §4.2): both sides shuffle on the bucket key
    # ANYWAY, so the candidate scoring runs as ONE exact int64 Gram matmul
    # per bucket in an Arrow cogroup stage instead of an interpreted
    # 64-element dot fold per candidate pair (~6.2M candidates at
    # sf1.0/bits=6: 12-15 -> ~3 s, identical rows). Each bucket emits only
    # its per-query local top-k (deterministic (-ip, n_id) order, self
    # excluded) — the exact survivor set the old plan's partition-partial
    # phase kept — and the unchanged global window reranks. numpy int64
    # wraps on overflow exactly like the JVM long arithmetic it replaces.
    n_t, q_t = d.schema["n_id"].dataType, q.schema["query_id"].dataType

    def _bucket_topk(key, dpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if len(dpdf) == 0 or len(qpdf) == 0:
            return pd.DataFrame({"query_id": qpdf["query_id"][:0],
                                 "n_id": dpdf["n_id"][:0],
                                 "ip": np.array([], dtype=np.int64)})
        D = np.array(dpdf["n_qvec"].tolist(), dtype=np.int64)
        Q = np.array(qpdf["q_qvec"].tolist(), dtype=np.int64)
        G = Q @ D.T
        n_ids = dpdf["n_id"].to_numpy()
        q_ids = qpdf["query_id"].to_numpy()
        # the self-exclusion of _not_self: mixed id types compare as strings
        n_cmp, q_cmp = (n_ids, q_ids) if n_t == q_t else (n_ids.astype(str), q_ids.astype(str))
        out_q, out_n, out_ip = [], [], []
        for i in range(len(q_ids)):
            ips = G[i]
            sel = np.flatnonzero(n_cmp != q_cmp[i])
            if len(sel) == 0:
                continue
            # primary -ip desc, secondary n_id asc (lexsort: last key primary)
            o = np.lexsort((n_ids[sel], -ips[sel]))[:k]
            take = sel[o]
            out_q.extend([q_ids[i]] * len(take))
            out_n.extend(n_ids[take])
            out_ip.extend(ips[take])
        return pd.DataFrame({"query_id": out_q, "n_id": out_n, "ip": out_ip})

    scored = (
        d.groupBy("bucket")
        .cogroup(q.groupBy("bucket"))
        .applyInPandas(
            _bucket_topk, f"query_id {q_t.simpleString()}, n_id {n_t.simpleString()}, ip long"
        )
    )
    return topk_per_query(scored, k)


def train_ivf_centroids(x: np.ndarray, k: int, seed: int, iters: int = 10) -> np.ndarray:
    """Deterministic seeded Lloyd's k-means (driver-side, runs on a sample)."""
    rng = np.random.RandomState(seed)
    c = x[rng.choice(len(x), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(k):
            m = x[a == j]
            if len(m):
                c[j] = m.mean(axis=0)
    return c


def quantized_centroids(centroids: np.ndarray) -> np.ndarray:
    """Centroids on the same fixed-point grid as ``quantized`` vectors —
    makes the nearest-list metric pure int64 (engine-portable, tie-stable:
    ``argmin(|c|^2 - 2 q.c)`` with first-minimum = lowest list id)."""
    return np.floor(centroids * QUANT + 0.5).astype(np.int64)


def _centroid_scores_np(qcent: np.ndarray, m: np.ndarray) -> np.ndarray:
    """(n, nlist) exact int64 distance scores ``|c_j|^2 - 2 q.c_j`` for a
    batch of quantized vectors — one matmul, shared by assign and probe."""
    cnorm = (qcent * qcent).sum(axis=1)  # (nlist,)
    return cnorm[None, :] - 2 * (m @ np.ascontiguousarray(qcent.T))


def _assign_udf(qcent: np.ndarray):
    """qvec -> nearest-centroid list id via one Arrow-batched int64 matmul.

    The measured production path (round-5 A/B, BENCH/IVF_ASSIGN_AB.md):
    4.4x the unrolled-codegen SQL expr's warm scan rate and half its
    driver constant at the (nlist=16, dim=64) shape; the expr path has
    since been removed. Exact int64 arithmetic, first-minimum tie-break
    (``np.argmin``) == lowest list id (pinned by
    ``test_ivf_assign_expr_matches_numpy_argmin``).
    """
    qc = qcent.copy()

    @F.pandas_udf("int")
    def assign(qv: pd.Series) -> pd.Series:
        m = np.array(qv.tolist(), dtype=np.int64)  # (n, dim)
        return pd.Series(_centroid_scores_np(qc, m).argmin(axis=1).astype(np.int32))

    return assign


def _probe_order(qcent: np.ndarray, m: np.ndarray) -> np.ndarray:
    """(n, nlist) list ids per vector, nearest first. The sort key packs
    ``score*nlist + j`` so it is total and ties resolve to the lowest list
    id; argsort positions ARE the list ids."""
    nlist = len(qcent)
    return np.argsort(_centroid_scores_np(qcent, m) * nlist + np.arange(nlist), axis=1)


def _probe_udf(qcent: np.ndarray, nprobe: int):
    """qvec -> the nprobe nearest list ids in distance order (query side,
    same matmul scores as the assignment)."""
    qc = qcent.copy()

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(qv: pd.Series) -> pd.Series:
        m = np.array(qv.tolist(), dtype=np.int64)
        return pd.Series(list(_probe_order(qc, m)[:, : int(nprobe)].astype(np.int32)))

    return probe


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    seed: int = 7,
    train_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k (the inverted-file ANN scale path).

    Train: deterministic seeded k-means over a bounded sample (driver-side
    numpy — the coarse quantizer is dims-sized by construction). Assign:
    every vector gets its nearest-centroid ``list`` via one Arrow-batched
    matmul. Search: each query probes its ``nprobe`` nearest lists
    (exploded), candidates come from the list equi-join — the data side is
    scanned once and shuffled on a bounded key space — and the exact
    integer inner-product re-rank picks the top k.

    At 10^12 rows the assignment is a narrow pass, the join key space is
    ``nlist``, and recall tunes with ``nprobe`` — the standard IVF trade.
    Exactness is NOT guaranteed (use ``brute_force_topk`` as the oracle).
    """
    _check_topk_args(k, nprobe)
    centroids = train_ivf_centroids(_train_sample(data, train_size, id_col, vec_col), nlist, seed)
    qcent = quantized_centroids(centroids)
    # assignment + probing are Arrow-batched int64 matmuls — the measured
    # winner over the unrolled-codegen expr at every scale (4.4x warm scan,
    # half the driver constant; BENCH/IVF_ASSIGN_AB.md, round 5). The
    # narrow UDF stage carries only qvec; the join stays an equi-join on
    # the bounded nlist key space.
    d = quantized(data, vec_col).select(
        F.col(id_col).alias("n_id"),
        F.col("qvec").alias("n_qvec"),
        _assign_udf(qcent)(F.col("qvec")).alias("list_id"),
    )
    q = quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.explode(_probe_udf(qcent, int(nprobe))(F.col("qvec"))).alias("list_id"),
    )
    scored = (
        d.join(q, "list_id")
        .where(_not_self(d, q))
        .withColumn("ip", _dot(F.col("q_qvec"), F.col("n_qvec")))
    )
    return topk_per_query(scored, k).withColumn("rank", F.col("rank").cast("long"))


def train_pq_codebooks(x: np.ndarray, m: int, ksub: int, seed: int) -> np.ndarray:
    """Product-quantization codebooks: the dim-D space split into ``m``
    subspaces of D/m dims, each with its own ``ksub``-codeword seeded
    k-means (reuses the deterministic Lloyd's trainer). -> (m, ksub, D/m)
    float64."""
    d = x.shape[1] // m
    if d * m != x.shape[1]:
        raise ValueError(f"dim {x.shape[1]} not divisible into {m} subspaces")
    return np.stack(
        [train_ivf_centroids(x[:, i * d : (i + 1) * d], ksub, seed + i) for i in range(m)]
    )


def pq_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    train_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | str | None = "auto",
) -> DataFrame:
    """Product-quantization ANN top-k — the memory-compression scale path.

    At 10^12 vectors the raw embeddings (D float32/64 per row) cannot be
    scanned per query; PQ stores ``m`` byte-sized codes per vector (64x+
    compression at D=64, m=8) and scores candidates with an
    asymmetric-distance (ADC) lookup: per query, an (m x ksub) table of
    exact integer ``|q_sub - c|^2`` distances is built once, and a
    candidate's approximate distance is the sum of m table lookups over
    its codes — no decoded vector is ever touched at scan time. The LUT
    sum is a JVM ``zip_with``/``aggregate`` over the broadcast per-query
    tables (m=8 lookups/row — far below the measured higher-order-function
    crossover), so the corpus scan reads ONLY the codes column.

    Plain PQ is IVF-PQ with ONE coarse cell at the origin (the IVFADC
    decomposition of Jégou et al. with nlist=1): codebooks are trained on
    the raw sample (``train_pq_codebooks``; no mean centroid), then the
    encoder, LUT builder and ADC score-and-refine back half are
    ``ivfpq_topk``'s — a residual minus zero is the vector itself, so the
    codes, LUTs and ADC sums are the same integers. The one difference is
    the candidate join: every code row meets every query, so it is a
    broadcast cross join, not a constant-key equi-join.

    Exact integer arithmetic end-to-end (quantized vectors and codebooks)
    makes codes, LUTs and ADC scores engine-portable — the DuckDB oracle
    reproduces every rank. Approximate by design; ADC cannot rank
    within-cell neighbors (tightly clustered vectors share codes and tie),
    which is why production IVF-PQ systems refine: ``rerank=R`` keeps the
    ADC top-R per query and exact-scores ONLY those candidates (one more
    corpus scan pruned to id+vector, broadcast-joined against the tiny
    candidate set — at deployment scale this is an id-indexed fetch of
    Q*R rows, not a scan). Recall with refinement is pinned >= 0.9 by
    tests. Ties break (score, n_id), deterministic either way.

    ``rerank="auto"`` — the DEFAULT (VERDICT r6 #7: rerank=None at
    realistic occupancy silently returns recall~0.35 order) — measures
    the tie cell directly: ADC cannot rank rows sharing an identical
    ``codes`` tuple, so one count job takes the max code-cell occupancy
    over the encoded corpus and sets R = max(4k, that). Unlike IVF-PQ
    there is no list structure to estimate from, but the PQ codes ARE
    the cells — the statistic is exact, not a proxy. Pass ``None`` for
    the raw bit-exact ADC order (the DuckDB oracle's path)."""
    _check_topk_args(k, rerank=rerank)
    books = train_pq_codebooks(_train_sample(data, train_size, id_col, vec_col), m, ksub, seed)
    qbooks = quantized_centroids(books.reshape(m * ksub, -1)).reshape(m, ksub, -1)
    qcent = np.zeros((1, m * qbooks.shape[2]), dtype=np.int64)  # the one cell
    d = _codes_frame(data, qcent, qbooks, id_col, vec_col)
    if rerank == "auto":
        # One scalars-only count job over the codes column. Deliberately
        # NOT persisted: the function returns a lazy DataFrame, so a
        # persist here could never be released after the caller evaluates
        # — the exact leak class VERDICT r6 #3 closed elsewhere. The cost
        # is one extra Arrow encode pass for the count job; at deployment
        # codes are a stored column and occupancy is catalog metadata, so
        # neither exists there.
        occ = d.groupBy("codes").count().agg(F.max("count")).collect()[0][0]
        rerank = max(4 * int(k), int(occ or 0))
    lut_rows = _ivfpq_lut_rows(queries, qcent, qbooks, 1, id_col, vec_col)
    return _ivfpq_score_topk(d, lut_rows, k, rerank, data, queries, id_col, vec_col, by_list=False)


def train_ivfpq(
    x: np.ndarray, nlist: int, m: int, ksub: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Train the composed IVF-PQ index from one sample: coarse k-means
    centroids, then PQ codebooks over the RESIDUALS ``x - centroid`` —
    the assignment used for the residuals is the same exact-int64 metric
    the engine (and the DuckDB twin) applies at encode time, so training
    and encoding see the same partition of the sample.

    Returns ``(qcent (nlist, D) int64, qbooks (m, ksub, D/m) int64)`` on
    the shared fixed-point grid.
    """
    cent = train_ivf_centroids(x, nlist, seed)
    qcent = quantized_centroids(cent)
    qx = np.floor(x * QUANT + 0.5).astype(np.int64)
    assign = _centroid_scores_np(qcent, qx).argmin(axis=1)
    books = train_pq_codebooks(x - cent[assign], m, ksub, seed)
    qbooks = quantized_centroids(books.reshape(m * ksub, -1)).reshape(m, ksub, -1)
    return qcent, qbooks


def _ivfpq_encode_udf(qcent: np.ndarray, qbooks: np.ndarray):
    """qvec -> (nearest IVF list, m residual-PQ codes) in ONE Arrow pass —
    a single python stage per corpus scan (two chained UDF stages run two
    python workers per task with the JVM relaying Arrow between them).
    Residual = ``qvec - qcent[list]`` in exact int64; per-subspace argmin
    with the packed lowest-code tie-break, bit-identical to the SQL twin.
    Plain PQ passes one zero centroid: every row is list 0 and the
    residual is the vector itself."""
    qc, qb = qcent.copy(), qbooks.copy()
    m, ksub, d = qb.shape

    @F.pandas_udf("list_id int, codes array<integer>")
    def enc(qv: pd.Series) -> pd.DataFrame:
        X = np.array(qv.tolist(), dtype=np.int64)
        lists = _centroid_scores_np(qc, X).argmin(axis=1)
        R = X - qc[lists]
        codes = np.empty((len(X), m), dtype=np.int32)
        ar = np.arange(ksub, dtype=np.int64)
        for i in range(m):
            sub = R[:, i * d : (i + 1) * d]
            cn = (qb[i] * qb[i]).sum(axis=1)
            qn = (sub * sub).sum(axis=1)
            full = qn[:, None] + cn[None, :] - 2 * (sub @ qb[i].T)
            codes[:, i] = np.argmin(full * ksub + ar, axis=1).astype(np.int32)
        return pd.DataFrame({"list_id": lists.astype(np.int32), "codes": list(codes)})

    return enc


def auto_rerank(n_rows: int, nlist: int, k: int) -> int:
    """The measured refinement rule from BENCH/ANN_RECALL.md: ADC cannot
    rank within a quantization cell (tightly clustered vectors share codes
    and tie), so at 200k rows a rerank budget scaled to k collapsed recall
    to 0.35-0.45 while rerank >= cell occupancy restored 1.0 at ~2% extra
    wall. The budget must therefore cover the EXPECTED OCCUPANCY of one
    probed list (ceil(N / nlist)) — it scales with the corpus, not with k.
    The 4k floor keeps tiny corpora from degenerating to rerank < k."""
    return max(4 * int(k), -(-int(n_rows) // int(nlist)))


def ivfpq_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    train_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | str | None = "auto",
) -> DataFrame:
    """Composed IVF-PQ ANN top-k — the actual 10^12-vector architecture
    (VERDICT r5 #1): PQ codes stored per IVF list, ADC scans ONLY the
    probed lists. ``ivf_topk`` bounds the *candidates* but re-ranks with
    raw vectors (a memory-scale problem at 10^12 rows); ``pq_topk``
    compresses the *vectors* but ADC-scans the whole corpus. This
    operator composes both halves: the corpus pass emits
    ``(list, codes)`` in one Arrow stage (codes are residual-encoded —
    ``q - centroid`` — the FAISS IVFPQ formulation, which keeps the
    codebook error centered per cell), queries build one exact-int64
    LUT *per probed list* driver-side (Q and nprobe are dims-sized),
    and candidate scoring is the bounded ``list_id`` equi-join followed
    by a JVM ``zip_with``/``aggregate`` LUT-sum over the codes column
    only. Per 100 TB scan: bytes read = m bytes/vector over nprobe/nlist
    of the corpus — both compression AND pruning, multiplicative.

    Exact integer arithmetic end-to-end: assignment, residuals, codes,
    LUTs and ADC sums land on the shared fixed-point grid, so the DuckDB
    twin reproduces every rank bit-for-bit. ``rerank=R`` refines the ADC
    top-R per query with exact distances (the deployment-shape id-indexed
    fetch), pinned recall >= 0.9 in tests. Ties break (score, n_id).

    ``rerank="auto"`` — the DEFAULT (VERDICT r6 #7: at realistic
    occupancy rerank=None silently returns recall~0.45 order) — applies
    the measured occupancy rule (``auto_rerank``: R = max(4k,
    ceil(N/nlist)), one count job — at deployment N is catalog
    metadata). Pass ``None`` for the raw bit-exact ADC order (the DuckDB
    oracle's path).
    """
    _check_topk_args(k, nprobe, rerank)
    if rerank == "auto":
        rerank = auto_rerank(data.count(), nlist, k)
    qcent, qbooks = train_ivfpq(
        _train_sample(data, train_size, id_col, vec_col), nlist, m, ksub, seed
    )
    d = _codes_frame(data, qcent, qbooks, id_col, vec_col)
    lut_rows = _ivfpq_lut_rows(queries, qcent, qbooks, nprobe, id_col, vec_col)
    return _ivfpq_score_topk(d, lut_rows, k, rerank, data, queries, id_col, vec_col)


def _codes_frame(
    data: DataFrame, qcent: np.ndarray, qbooks: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """The encoded corpus ``(n_id, list_id, codes)``: one Arrow encode pass
    (``_ivfpq_encode_udf``) over the quantized vectors."""
    enc = _ivfpq_encode_udf(qcent, qbooks)
    return (
        quantized(data, vec_col)
        .select(F.col(id_col).alias("n_id"), enc(F.col("qvec")).alias("e"))
        .select("n_id", F.col("e.list_id").alias("list_id"), F.col("e.codes").alias("codes"))
    )


def _ivfpq_lut_rows(
    queries: DataFrame, qcent: np.ndarray, qbooks: np.ndarray, nprobe: int,
    id_col: str, vec_col: str,
) -> list[tuple]:
    """Per-(query, probed list) residual LUT rows, driver-side numpy.

    Queries are dims-sized (every broadcast ANN path here makes the same
    assumption): probe + residual LUTs in driver numpy, then broadcast."""
    qrows = quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"), "qvec"
    ).toPandas()
    m, _ksub, dsub = qbooks.shape
    qm = np.array(qrows["qvec"].tolist(), dtype=np.int64).reshape(len(qrows), qcent.shape[1])
    probe_ids = _probe_order(qcent, qm)[:, : int(nprobe)]
    lut_rows = []
    for qi, qid in enumerate(qrows["query_id"]):
        for lid in probe_ids[qi]:
            r = qm[qi] - qcent[lid]
            luts = []
            for i in range(m):
                diff = r[i * dsub : (i + 1) * dsub][None, :] - qbooks[i]
                luts.append([int(v) for v in (diff * diff).sum(axis=1)])
            lut_rows.append((qid, int(lid), luts))
    return lut_rows


def _ivfpq_score_topk(
    d: DataFrame, lut_rows: list[tuple], k: int, rerank: int | None,
    data: DataFrame | None, queries: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding", by_list: bool = True,
) -> DataFrame:
    """ADC scoring over encoded candidates + optional exact refinement —
    the shared back half of ``pq_topk``, ``ivfpq_topk`` and
    ``IvfPqIndex.topk`` (one code path => the indexed query is
    bit-identical by construction).

    The broadcast LUTs meet the codes on ``list_id`` (``by_list``), or —
    plain PQ's single list — by a broadcast cross join: a constant-key
    equi-join measured 12-23 % slower (20k x 64 corpus, 40 queries,
    ``local[4]`` on 4 vCPUs, best of 3, 3 alternating pairs)."""
    # query_id is typed from the QUERIES side: a string-keyed queries df
    # against a bigint-keyed corpus would otherwise fail createDataFrame
    qid_ddl = dict(queries.dtypes)[id_col]
    luts_df = d.sparkSession.createDataFrame(
        lut_rows, f"query_id {qid_ddl}, list_id int, luts array<array<bigint>>"
    )
    cands = (
        d.join(F.broadcast(luts_df), "list_id") if by_list
        else d.drop("list_id").crossJoin(F.broadcast(luts_df.drop("list_id")))
    )
    scored = (
        cands.where(_not_self(d, luts_df))
        .withColumn(
            "adc",
            F.expr(
                "aggregate(zip_with(codes, luts, (c, l) -> element_at(l, c + 1)), "
                "0L, (acc, v) -> acc + v)"
            ),
        )
        .withColumn("ip", -F.col("adc"))
    )
    if not rerank:
        return (
            topk_per_query(scored, k)
            .select("query_id", "n_id", (-F.col("ip")).alias("adc"), F.col("rank").cast("long"))
        )
    cands = topk_per_query(scored, int(rerank)).select("query_id", "n_id")
    dq = quantized(data, vec_col).select(
        F.col(id_col).alias("n_id"), F.col("qvec").alias("n_qvec")
    )
    qq = quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("q_qvec")
    )
    refined = (
        dq.join(F.broadcast(cands), "n_id")
        .join(F.broadcast(qq), "query_id")
        .withColumn(
            "d2",
            F.expr(
                "aggregate(zip_with(q_qvec, n_qvec, (a, b) -> (a - b) * (a - b)), "
                "0L, (acc, v) -> acc + v)"
            ),
        )
        .withColumn("ip", -F.col("d2"))
    )
    return (
        topk_per_query(refined, k)
        .select("query_id", "n_id", (-F.col("ip")).alias("d2"), F.col("rank").cast("long"))
    )


IVFPQ_MANIFEST = "ivfpq_index.json"


def write_ivfpq_index(
    data: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    train_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train + encode ONCE, persist the serve-many index shape (VERDICT r7
    #2): codes parquet partitioned by ``list_id`` + a JSON manifest holding
    the trained centroids/codebooks (exact int64 grid) and the corpus row
    count. At query time the probed lists become a *partition filter* on
    the codes scan — files read ∝ nprobe/nlist — which is what makes the
    nprobe/nlist I/O pruning in ``ivfpq_topk``'s docstring real at the
    scan instead of join-side. The train/encode/count constants move to
    build time where they belong (ad-hoc ``ivfpq_topk`` pays them per
    call). Same commit discipline as the pyramid catalog: codes land
    first, the manifest last — an index is open-able iff its manifest
    exists."""
    import json
    import os

    qcent, qbooks = train_ivfpq(
        _train_sample(data, train_size, id_col, vec_col), nlist, m, ksub, seed
    )
    codes = _codes_frame(data, qcent, qbooks, id_col, vec_col)
    codes.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/codes")
    # row count from the just-written codes (no second pass over the corpus)
    n_rows = data.sparkSession.read.parquet(f"{path}/codes").count()
    doc = {
        "format": "ivfpq-v1",
        "nlist": int(nlist), "m": int(m), "ksub": int(ksub),
        "seed": int(seed), "train_size": int(train_size),
        "dim": int(qcent.shape[1]), "n_rows": int(n_rows),
        "id_col": id_col, "vec_col": vec_col,
        "id_ddl": dict(data.dtypes)[id_col],
        "centroids": [[int(v) for v in row] for row in qcent],
        "codebooks": [
            [[int(v) for v in c] for c in book] for book in qbooks
        ],
    }
    os.makedirs(path, exist_ok=True)
    tmp = f"{path}/{IVFPQ_MANIFEST}.tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, f"{path}/{IVFPQ_MANIFEST}")
    return doc


class IvfPqIndex:
    """Opened persisted IVF-PQ index: query-path twin of ``ivfpq_topk``
    minus train/encode/count. ``topk`` reads ONLY the probed ``list_id=``
    partitions (partition pruning — verify with
    ``.explain``'s PartitionFilters / files-read metrics)."""

    def __init__(self, spark, path: str, doc: dict):
        self.spark, self.path, self.doc = spark, path, doc
        self.qcent = np.array(doc["centroids"], dtype=np.int64)
        self.qbooks = np.array(doc["codebooks"], dtype=np.int64)

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        rerank: int | str | None = "auto",
        data: DataFrame | None = None,
    ) -> DataFrame:
        """ANN top-k against the stored codes. ``rerank="auto"`` applies the
        measured occupancy rule using the manifest's ``n_rows`` — NO count
        job (the serving shape VERDICT r7 flagged). An int ``rerank``
        requires ``data`` (the raw-vector table) for the exact-refine
        fetch; ``None`` returns the raw bit-exact ADC order (the oracle's
        path, identical ranks to ``ivfpq_topk(rerank=None)``)."""
        doc = self.doc
        _check_topk_args(k, nprobe, rerank)
        if rerank == "auto":
            rerank = auto_rerank(doc["n_rows"], doc["nlist"], k)
        if rerank and data is None:
            raise ValueError(
                "rerank requires data= (the raw-vector table) for exact refinement"
            )
        lut_rows = _ivfpq_lut_rows(
            queries, self.qcent, self.qbooks, nprobe, doc["id_col"], doc["vec_col"]
        )
        probed = sorted({int(r[1]) for r in lut_rows})
        d = (
            self.spark.read.parquet(f"{self.path}/codes")
            # partition filter: only the probed list_id= directories are read
            .where(F.col("list_id").isin(probed))
            .select("n_id", F.col("list_id").cast("int").alias("list_id"), "codes")
        )
        return _ivfpq_score_topk(
            d, lut_rows, k, rerank, data, queries, doc["id_col"], doc["vec_col"]
        )


def open_ivfpq_index(spark, path: str) -> IvfPqIndex:
    import json

    with open(f"{path}/{IVFPQ_MANIFEST}") as f:
        doc = json.load(f)
    if doc.get("format") != "ivfpq-v1":
        raise ValueError(f"{path} is not an ivfpq-v1 index")
    return IvfPqIndex(spark, path, doc)


def cosine_near_dup_pairs(
    df: DataFrame, threshold_milli: int = 990, bits: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
    seed: int | None = None, dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket blocking + exact
    integer comparison ``ip^2 * 10^6 >= t^2 * na2 * nb2`` (squared-cosine
    threshold without any float division; sign guarded).

    r9 (guide §4.2 — hand whole batches to vectorized native code): the
    within-bucket pair products run as ONE exact int64 Gram matmul per
    bucket in an Arrow ``applyInPandas`` stage instead of an interpreted
    64-element ``zip_with``/``aggregate`` fold per candidate pair (the
    old plan spent ~13 µs/pair on ~900k candidates at sf1.0: 25 -> ~3 s,
    identical rows; numpy int64 wraps on overflow exactly like the JVM
    long arithmetic it replaces). The exact decimal threshold filter is
    unchanged JVM. Bucket payload memory is m x dim x 8 B per group —
    any bucket big enough to strain a task is already infeasible for the
    all-pairs semantics itself (m^2 output), so the group shape is safe
    wherever the operator is usable at all."""
    d =lsh_bucket(quantized(df, vec_col), bits, id_col, vec_col, seed, dim).select(
        F.col(id_col).alias("id"), F.col("qvec"), "bucket"
    )
    id_t = d.schema["id"].dataType.simpleString()

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"id_a": pdf["id"][:0], "id_b": pdf["id"][:0],
                 "ip": np.array([], dtype=np.int64),
                 "na2": np.array([], dtype=np.int64),
                 "nb2": np.array([], dtype=np.int64)}
            )
        pdf = pdf.sort_values("id", kind="stable")
        ids = pdf["id"].to_numpy()
        V = np.array(pdf["qvec"].tolist(), dtype=np.int64)
        G = V @ V.T
        n2 = np.diagonal(G)
        iu, ju = np.triu_indices(m, 1)
        return pd.DataFrame(
            {"id_a": ids[iu], "id_b": ids[ju], "ip": G[iu, ju],
             "na2": n2[iu], "nb2": n2[ju]}
        )

    pairs = d.groupBy("bucket").applyInPandas(
        _bucket_pairs,
        f"id_a {id_t}, id_b {id_t}, ip long, na2 long, nb2 long",
    )
    t2 = threshold_milli * threshold_milli  # milli^2 = 1e6 scale
    return pairs.where(
        (F.col("ip") > 0)
        & (
            F.col("ip").cast("decimal(38,0)") * F.col("ip") * 1_000_000
            >= F.lit(t2).cast("decimal(38,0)") * F.col("na2") * F.col("nb2")
        )
    ).select("id_a", "id_b", "ip", "na2", "nb2")
