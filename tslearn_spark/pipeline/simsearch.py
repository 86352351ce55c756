"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k: one BLAS matmul of each
  candidate Arrow batch against the broadcast query side.  This is the
  correctness baseline.
* lsh_topk — random-hyperplane LSH: queries and candidates bucketed by
  sign bits of projections onto fixed random planes; the top-k runs
  per-bucket.  Candidate volume drops by ~2^bits, the scale path.

Both keep every intermediate distributed; only the final k rows per
query come back.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tslearn_spark import session
from tslearn_spark.ckernel import rows_from_arrow
from tslearn_spark.session import size_tasks
from tslearn_spark.topk import topk_matrix_tiebreak


def _dot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), 0.0D, (s, v) -> s + v)"


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def cosine_col(a: str, b: str):
    """Expression cosine, evaluated in whole-stage codegen.

    For pair rows that already carry BOTH vectors this beats the Arrow
    path end-to-end: the pandas-UDF kernel is faster per-dot (BLAS), but
    shipping 2 x dim x 8 bytes per pair through the Python workers
    dominates at dim<=O(1k) (round 6 measured ann_lsh_topk 3.7s -> 2.9s
    switching to this).  The UDF stays the right tool when a BLAS
    matmul can amortize the transfer (brute_force_topk's broadcast
    query matrix)."""
    return F.expr(
        f"{_dot(a, b)} / (CASE WHEN {_norm(a)} * {_norm(b)} = 0.0D THEN 1.0D "
        f"ELSE {_norm(a)} * {_norm(b)} END)"
    )


def norm_col(a: str):
    """Per-row L2 norm of an embedding column.

    Norms are per-ROW quantities: a bucket join that scores pairs as
    ``dot(qv, cv) / (qn * cn)`` with the norms computed BELOW the join
    (this column) and carried through it as scalars pays one fold per
    pair instead of cosine_col's five (dot + 2x2 norm folds — higher-
    order functions are interpreted, and Catalyst re-evaluates the CASE
    duplicate too).  The join is a collapse barrier, so the per-row
    folds stay per-row.  The quotient is the SAME expression tree
    cosine_col builds — values are bit-identical."""
    return F.expr(_norm(a))


def cosine_from_norms(dot_a: str, dot_b: str, n_a: str, n_b: str):
    """cosine from a pair's vectors + its per-row norms (see norm_col);
    zero-norm guard identical to cosine_col's."""
    return F.expr(
        f"{_dot(dot_a, dot_b)} / (CASE WHEN {n_a} * {n_b} = 0.0D THEN 1.0D "
        f"ELSE {n_a} * {n_b} END)"
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top ``k`` rows per query by (cosine DESC, neighbor_id ASC)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _unit_rows(X: np.ndarray) -> np.ndarray:
    """Each row of ``X`` over its L2 norm (a zero row stays zero)."""
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)


def _unit_vectors(batch, id_col: str, vec_col: str):
    """int64 ids and ``_unit_rows`` vectors of an Arrow batch."""
    return (batch.column(id_col).to_numpy().astype(np.int64),
            _unit_rows(rows_from_arrow(batch.column(vec_col))))


def _broadcast_side(df: DataFrame, id_col: str, vec_col: str, what: str,
                    instead: str):
    """``_unit_vectors`` of a side to broadcast, in partition order, collected
    under the broadcast budget (``session.collect_within``); past it a
    ValueError names the budget and ``instead``."""
    tab = session.collect_within(
        df.select(F.col(id_col), F.col(vec_col).alias("values")))
    if tab is None:
        raise ValueError(
            f"{what} holds more than session.BROADCAST_LIMIT_VALUES = "
            f"{session.BROADCAST_LIMIT_VALUES:,} values; use {instead}")
    return _unit_vectors(tab, id_col, "values")


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drop_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, neighbor_id, cosine, rank).

    Scale design: the query matrix is broadcast to every partition; each
    candidate partition computes one BLAS matmul (candidates x queries^T)
    via mapInArrow and emits only its *partial* top-k per query — the
    final window reduce sees (#partitions x k) rows per query, never the
    full pair set.  This is orders of magnitude faster than a crossJoin
    with interpreted higher-order-function dot products, and the shuffle
    volume is O(n_queries x k x n_partitions) regardless of candidate
    count.  A query side over ``session.BROADCAST_LIMIT_VALUES`` vector
    values raises ValueError: use lsh_topk for it.
    """
    q_ids, Qn = _broadcast_side(queries, id_col, vec_col,
                                "brute_force_topk's query side", "lsh_topk")
    bc = candidates.sparkSession.sparkContext.broadcast((q_ids, Qn))

    def gen(batches):
        from tslearn_spark.blasctl import limit_blas_threads
        from tslearn_spark.topk import merge_topk_columns, topk_rows_of_matrix

        # 32 workers x 32 default OpenBLAS threads oversubscribes the
        # box and bimodally collapses this GEMM stage (0.8 s <-> 20 s
        # measured r12) — one BLAS thread per task-parallel worker
        limit_blas_threads(1)
        ids_b, Qn_b = bc.value
        n_q = len(ids_b)
        # query-chunked, QUERY-MAJOR scoring: sims for a 4096-query
        # chunk land as (cq, n_cand) — BLAS writes the layout row-wise
        # selection wants, so no transposed copy, and the reused ~20 MB
        # buffer keeps the task's working set small.  The naive
        # cand-major whole-matrix path allocated 100-400 MB per task;
        # with 32 concurrent tasks that thrashed DRAM and the allocator
        # (measured: the same matmul+select 5-10x slower inside busy
        # workers than on the driver).
        q_chunk = max(1, min(4096, n_q))
        best_s = best_i = None  # running per-TASK partial (k, n_query)
        sims_buf = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cid, Cn = _unit_vectors(batch, id_col, vec_col)
            CnT = np.ascontiguousarray(Cn.T)   # (d, n_cand), tiny
            n_cand = Cn.shape[0]
            kk = min(k, n_cand)
            part_s = np.empty((kk, n_q))
            part_i = np.empty((kk, n_q), dtype=np.int64)
            if sims_buf is None or sims_buf.shape[1] != n_cand:
                sims_buf = np.empty((q_chunk, n_cand))
            for lo in range(0, n_q, q_chunk):
                hi = min(lo + q_chunk, n_q)
                sims = np.dot(Qn_b[lo:hi], CnT, out=sims_buf[: hi - lo])
                if drop_self:
                    sims[ids_b[lo:hi][:, None] == cid[None, :]] = -np.inf
                # tie-aware per-row top-k; ties at the cutoff resolved by
                # smallest id so the final (cosine DESC, id ASC) window
                # never loses a tied row
                sel = topk_rows_of_matrix(sims, cid, kk, largest=True)
                rows = np.arange(hi - lo)[:, None]
                part_s[:, lo:hi] = sims[rows, sel].T
                part_i[:, lo:hi] = cid[sel].T
            # fold batches into ONE partial per task: the final window's
            # shuffle input stays O(q x k x tasks) however many Arrow
            # batches a 128 MB split holds (per-batch emits would grow
            # it by the batch count, ~64x at scale)
            if best_s is None:
                best_s, best_i = part_s, part_i
            else:
                best_s, best_i = merge_topk_columns(
                    best_s, best_i, part_s, part_i, k)
        if best_s is not None:
            yield pa.RecordBatch.from_arrays(
                [np.repeat(ids_b, best_s.shape[0]), best_i.T.ravel(),
                 best_s.T.ravel()], ["query_id", "neighbor_id", "cosine"])

    partial = size_tasks(
        candidates.select(id_col, vec_col), float(Qn.size),
        # parquet float32 array + id: ~5 B/element + fixed overhead
        row_bytes=16.0 + 5.0 * Qn.shape[1]
    ).mapInArrow(
        gen, "query_id long, neighbor_id long, cosine double"
    ).where(F.col("cosine") > float("-inf"))
    return _rank_topk(partial, k)


def assign_ivf_lists(
    candidates: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "list_id",
) -> DataFrame:
    """Materialize the IVF inverted-list assignment as a column — the
    index-BUILD half of ivf_topk, split out so a 100-TB corpus pays the
    |D| x n_lists assignment matmul ONCE at ingest instead of on every
    query batch.  Write the result partitioned (or bucketed) by
    ``list_col`` and pass ``list_col=`` to ivf_topk: the probe filter
    then prunes unread partitions at the parquet scan.

    Assignment is bit-identical to ivf_topk's inline pass: vectors are
    L2-normalized first, argmax returns the FIRST max -> lowest centroid
    index on ties.
    """
    Cen = _unit_rows(np.asarray(centroids, dtype=np.float64))
    bc = candidates.sparkSession.sparkContext.broadcast(Cen)

    def gen(batches):
        from tslearn_spark.blasctl import limit_blas_threads

        limit_blas_threads(1)  # task-parallel workers: 1 BLAS thread each
        C = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            Vn = _unit_rows(rows_from_arrow(batch.column(vec_col)))
            yield batch.append_column(list_col, pa.array(
                np.argmax(Vn @ C.T, axis=1).astype(np.int32)))

    schema = candidates.select(id_col, vec_col).schema.add(
        list_col, "integer")
    return size_tasks(
        candidates.select(id_col, vec_col), float(Cen.size),
        row_bytes=16.0 + 5.0 * Cen.shape[1]).mapInArrow(gen, schema)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_lists: int | str = 16,
    n_probe: int | str = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    drop_self: bool = True,
    list_col: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate cosine top-k — the DEFAULT batch
    ANN path for static corpora (r11/r12 measured: recall 1.0 at 4.3x
    brute-force speed with the shipped auto params on the clustered 100k
    corpus, vs 0.4-1.0x for multi-probe LSH at every size the bench
    reaches).  Prefer :func:`lsh_topk` only where a quantizer cannot be
    trained first — streaming ingest, or one-shot corpora whose
    training pass would dominate the query cost.

    Structure: (1) coarse centroids; (2) one BLAS pass assigns every
    candidate to its nearest centroid's inverted list (equi-joinable
    ``list_id`` — cost |D| x n_lists, embarrassingly parallel); (3) each
    query probes its ``n_probe`` nearest lists; (4) exact cosine re-rank
    inside the probed lists only, so scored pairs drop to roughly
    |D| x n_probe / n_lists per query instead of |D|.

    Centroids default to the ``n_lists`` lowest-id candidate vectors — a
    deterministic quantizer a SQL oracle can replay with the same
    normalize-then-sum association this path uses (each element divided
    by its vector's norm FIRST, cosine = sum of normalized products);
    an oracle that divides a raw aggregated dot by the norm product can
    differ in final ulps and flip argmax/rank on near-tie data, so the
    shipped oracles mirror the association (pinned by the exact-tie
    fixture in tests/test_pipeline.py).  Production would train k-means
    centroids (MLlib KMeans over the embedding column) and pass them via
    ``centroids``; every stage downstream of the centroid matrix is
    identical.

    Execution is ONE pass over the candidates (assignment and scoring
    fused — no pair join, no vector pairs on the wire): each partition
    assigns its rows to lists, runs one BLAS block per list against the
    broadcast probing queries, and emits only its partial top-k per
    query; the final window reduce sees O(q x k x partitions) scalar
    rows, like brute_force_topk but with the per-list candidate cut,
    and the same ValueError past the broadcast budget.

    Ties break identically on both engines: assignment by lowest
    centroid index, probe order and final rank by (cosine DESC, id ASC).

    ``list_col``: name of a PREBUILT assignment column (see
    assign_ivf_lists).  The per-call assignment matmul is skipped, and
    the probed-list filter is pushed into the scan — on a corpus
    written partitioned by the list column, unprobed inverted lists are
    never read at all (real partition pruning, the 100-TB index shape).
    Results are identical to the inline path by construction PROVIDED
    the same quantizer is used on both sides — so ``centroids`` is
    REQUIRED (ValueError otherwise) whenever ``list_col`` is passed:
    pass back the matrix you gave assign_ivf_lists.
    """
    spark = candidates.sparkSession
    if list_col is not None and centroids is None:
        # A prebuilt assignment is only valid against the SAME quantizer
        # that built it: deriving default centroids here would silently
        # route probes to inverted lists that don't match the stored
        # list_col (an index built with trained centroids would drop
        # neighbors with no error).  The caller must hand back the
        # centroid matrix it gave assign_ivf_lists.
        raise ValueError(
            "ivf_topk(list_col=...) requires the explicit `centroids` "
            "matrix used by assign_ivf_lists when the index was built; "
            "deriving default centroids would mis-route probes against "
            "the prebuilt assignment."
        )
    if n_lists == "auto" or n_probe == "auto":
        # size the index from the corpus (one count job), like
        # lsh_topk(bits="auto") — the scale knob a 100-TB user should
        # not have to hand-tune
        al, ap = auto_ivf_params(candidates.count())
        n_lists = al if n_lists == "auto" else n_lists
        # an explicit small n_lists with n_probe="auto" must not inherit
        # the corpus-sized probe count (n_lists=8 would get n_probe~19 —
        # probing "all lists" silently): derive from the ACTUAL n_lists
        n_probe = min(ap, max(int(n_lists) // 16, 4), int(n_lists)) \
            if n_probe == "auto" else n_probe
    if centroids is None:
        Cen = _broadcast_side(
            candidates.orderBy(id_col).limit(n_lists), id_col, vec_col,
            "ivf_topk's default centroids", "lsh_topk")[1]
    else:
        Cen = _unit_rows(np.asarray(centroids, dtype=np.float64))

    # probes on the driver; stable argsort -> ascending centroid index
    # on ties
    q_ids, Qn = _broadcast_side(queries, id_col, vec_col,
                                "ivf_topk's query side", "lsh_topk")
    order = np.argsort(-(Qn @ Cen.T), axis=1, kind="stable")[:, : min(n_probe, len(Cen))]
    probers = {
        int(l): np.where((order == l).any(axis=1))[0] for l in range(len(Cen))
    }
    bc = spark.sparkContext.broadcast((q_ids, Qn, Cen, probers))

    def score_gen(batches):
        from tslearn_spark.blasctl import limit_blas_threads
        from tslearn_spark.topk import merge_topk_columns

        limit_blas_threads(1)  # task-parallel workers: 1 BLAS thread each
        q_ids_b, Qn_b, C, probers_b = bc.value
        # running per-TASK partial over ALL queries (k rows, -inf pads):
        # per-(batch, list) emits would grow the final window's shuffle
        # input with the Arrow batch count; folding keeps it
        # O(q x k x tasks) like brute_force_topk
        n_q = len(q_ids_b)
        best_s = np.full((k, n_q), -np.inf)
        best_i = np.full((k, n_q), np.iinfo(np.int64).max, dtype=np.int64)
        touched = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cid, Vn = _unit_vectors(batch, id_col, vec_col)
            if list_col is not None:
                # prebuilt index: the assignment matmul already ran at
                # ingest (assign_ivf_lists) and rode in as a column
                lists = batch.column(list_col).to_numpy().astype(np.int64)
            else:
                # argmax returns the FIRST max -> lowest centroid index
                # on ties
                lists = np.argmax(Vn @ C.T, axis=1)
            for l in np.unique(lists):
                qsel = probers_b.get(int(l))
                if qsel is None or len(qsel) == 0:
                    continue
                rows = np.where(lists == l)[0]
                sims = Vn[rows] @ Qn_b[qsel].T  # (n_list_cand, n_probing_q)
                if drop_self:
                    mask = cid[rows][:, None] == q_ids_b[qsel][None, :]
                    sims = np.where(mask, -np.inf, sims)
                kk = min(k, sims.shape[0])
                cid_l = cid[rows]
                sel = topk_matrix_tiebreak(sims, cid_l, kk, largest=True)
                cols = np.arange(sims.shape[1])[None, :]
                ms, mi = merge_topk_columns(
                    best_s[:, qsel], best_i[:, qsel],
                    sims[sel, cols], cid_l[sel], k)
                best_s[:ms.shape[0], qsel] = ms
                best_i[:mi.shape[0], qsel] = mi
                touched = True
        if touched:
            emit = best_s > -np.inf  # (k, n_q) mask of real partials
            n_per_q = emit.sum(axis=0)
            yield pa.RecordBatch.from_arrays(
                [np.repeat(q_ids_b, n_per_q), best_i.T[emit.T],
                 best_s.T[emit.T]], ["query_id", "neighbor_id", "cosine"])

    if list_col is not None:
        probed = sorted(int(l) for l, q in probers.items() if len(q) > 0)
        # pushed-down probe filter: on a corpus partitioned by list_col
        # this prunes unprobed inverted lists at the scan
        cand_src = candidates.where(
            F.col(list_col).isin(probed)
        ).select(id_col, vec_col, list_col)
    else:
        cand_src = candidates.select(id_col, vec_col)
    # per-row work: inline assignment (n_lists x d, skipped on the
    # prebuilt-index path) + scoring vs the probing queries of the
    # row's list (exact expectation from the prober table)
    d_dim = Qn.shape[1]
    avg_probers = (sum(len(v) for v in probers.values())
                   / max(len(Cen), 1))
    fpr = avg_probers * d_dim + (0.0 if list_col is not None
                                 else float(Cen.size))
    partial = size_tasks(
        cand_src, fpr, row_bytes=16.0 + 5.0 * d_dim).mapInArrow(
        score_gen, "query_id long, neighbor_id long, cosine double")
    return _rank_topk(partial, k)


def train_ivf_centroids(
    vectors: DataFrame,
    n_lists: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> np.ndarray:
    """Production IVF quantizer: k-means centroids trained with MLlib
    KMeans over the embedding column (distributed Lloyd iterations —
    scales to any corpus MLlib does).  Pass the result to
    ``ivf_topk(..., centroids=...)``; the deterministic lowest-id
    centroid default stays as the SQL-replayable oracle path.

    Vectors are L2-normalized before training so euclidean k-means on
    the sphere approximates spherical (cosine) k-means — matching the
    cosine geometry ivf_topk assigns and probes with.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_lists == "auto":
        n_lists = auto_ivf_params(vectors.count())[0]
    norm = F.sqrt(F.aggregate(
        F.transform(vec_col, lambda x: x.cast("double") * x),
        F.lit(0.0), lambda s, v: s + v,
    ))
    feats = vectors.select(
        array_to_vector(
            F.transform(
                vec_col,
                lambda x: x.cast("double")
                / F.when(norm == 0.0, F.lit(1.0)).otherwise(norm),
            )
        ).alias("features")
    )
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(feats)
    return np.array([np.asarray(c) for c in model.clusterCenters()],
                    dtype=np.float64)


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rs = np.random.RandomState(seed)
    return rs.randn(bits, dim).tolist()


def lsh_bucket_col(vec_col: str, planes: list[list[float]]):
    """Sign-bit bucket id from fixed random hyperplanes — pure SQL."""
    terms = []
    for i, p in enumerate(planes):
        arr = "array(" + ", ".join(f"{float(x)!r}D" for x in p) + ")"
        terms.append(
            f"(CASE WHEN {_dot(vec_col, arr)} > 0.0D THEN {1 << i}L ELSE 0L END)"
        )
    return F.expr(" + ".join(terms))


def _blas_buckets_udf(dim: int, bits: int, n_tables: int, seed: int):
    """Pandas UDF: embedding -> array<long> of the n_tables home
    buckets, computed with one GEMM over the concatenated hyperplanes —
    the multiprobe candidate-side hashing (same numpy arithmetic as
    multiprobe_buckets_udf's query side)."""
    P = np.concatenate([
        np.asarray(_hyperplanes(dim, bits, seed + 1000 * t),
                   dtype=np.float64)
        for t in range(n_tables)
    ])  # (n_tables * bits, dim)
    pw2 = np.tile(1 << np.arange(bits, dtype=np.int64),
                  n_tables).reshape(n_tables, bits)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def gen(vec: pd.Series) -> pd.Series:
        from tslearn_spark.blasctl import limit_blas_threads

        limit_blas_threads(1)  # task-parallel workers: 1 BLAS thread each
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        if V.size == 0:
            return pd.Series([], dtype=object)
        D = (V @ P.T).reshape(len(V), n_tables, bits)
        B = ((D > 0) * pw2[None]).sum(axis=2)
        return pd.Series(list(B))

    return gen


def probe_masks(z_abs: np.ndarray, bits: int, n_probes: int) -> list[int]:
    """XOR bit-flip masks of the ``n_probes`` most promising buckets for
    one (query, table), home bucket first (mask 0).

    Query-directed multi-probe (Lv et al., VLDB'07, public technique):
    |dot_i| scores how likely the neighbor sits just across hyperplane
    i; masks are the lowest-score bit-flip subsets, enumerated in
    increasing score order with the classic shift/expand heap (each
    subset generated exactly once from {0}).  Shared by the batch query
    side (multiprobe_buckets_udf) and the streaming candidates operator
    (streaming.stream_ann_lsh_candidates) so both probe the SAME
    buckets for the same vector.
    """
    import heapq

    masks = [0]
    if n_probes <= 1:
        return masks
    order = np.argsort(z_abs, kind="stable")
    zs = z_abs[order]
    heap = [(float(zs[0]), (0,))]
    while heap and len(masks) < n_probes:
        s, S = heapq.heappop(heap)
        mask = 0
        for j in S:
            mask |= 1 << int(order[j])
        masks.append(mask)
        mx = S[-1]
        if mx + 1 < bits:
            heapq.heappush(heap, (s + float(zs[mx + 1]), S + (mx + 1,)))
            heapq.heappush(
                heap, (s - float(zs[mx]) + float(zs[mx + 1]),
                       S[:-1] + (mx + 1,)))
    return masks


def multiprobe_buckets_udf(dim: int, bits: int, n_tables: int, seed: int,
                           n_probes: int):
    """Pandas UDF: embedding -> array<struct<t,bucket>> of the
    ``n_probes`` most promising buckets per table (home bucket first;
    enumeration in probe_masks).  Multi-probe buys the recall extra
    TABLES would buy without replicating the candidate index n_tables
    more times — the scale lever when IVF training is too expensive
    (e.g. streaming corpora).
    """
    planes_all = [
        np.asarray(_hyperplanes(dim, bits, seed + 1000 * t),
                   dtype=np.float64)
        for t in range(n_tables)
    ]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<t: int, bucket: long>>")
    def gen(vec: pd.Series) -> pd.Series:
        from tslearn_spark.blasctl import limit_blas_threads

        limit_blas_threads(1)  # task-parallel workers: 1 BLAS thread each
        out = []
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        if V.size == 0:
            return pd.Series([], dtype=object)
        pw2 = (1 << np.arange(bits, dtype=np.int64))
        dots = [V @ P.T for P in planes_all]          # (n, bits) per table
        homes = [((D > 0) * pw2).sum(axis=1) for D in dots]
        for i in range(len(V)):
            entries = []
            for t in range(len(planes_all)):
                home = int(homes[t][i])
                entries.extend(
                    {"t": t, "bucket": home ^ m}
                    for m in probe_masks(np.abs(dots[t][i]), bits, n_probes))
            out.append(entries)
        return pd.Series(out)

    return gen


def auto_ivf_params(n_candidates: int) -> tuple[int, int]:
    """(n_lists, n_probe) defaults from corpus size — the IVF twin of
    auto_lsh_bits.  n_lists ~ sqrt(n) keeps inverted lists at ~sqrt(n)
    rows (per-query scored pairs = n_probe * n / n_lists, so both the
    assignment cost |D| x n_lists and the probe cost stay balanced as
    the corpus grows); n_probe = n_lists / 16 (floor 4) probes enough
    lists that a trained quantizer's neighbor lists are covered —
    measured >=0.9 recall@10 on the clustered sf1 bench corpus
    (BENCH ann_recall.clustered) without hand-tuning, at a ~16x
    scored-pair reduction vs brute force.
    """
    import math

    n_lists = int(min(max(round(math.sqrt(max(n_candidates, 1))), 16), 4096))
    n_probe = int(min(max(n_lists // 16, 4), 64))
    return n_lists, n_probe


def auto_lsh_bits(n_candidates: int, target_occupancy: int = 64,
                  min_bits: int = 4, max_bits: int = 24) -> int:
    """Hyperplane count that holds expected bucket occupancy at
    ``target_occupancy`` rows: bits = ceil(log2(n / occupancy)).

    THE scale knob for lsh_topk: at fixed bits a growing corpus packs
    linearly more rows per bucket on BOTH sides of the self-join, so
    scored pairs grow quadratically (bench.py measured 164s at 10x rows
    with bits=6).  Growing bits with log2(n) keeps per-bucket pair work
    ~occupancy^2 and total candidate volume ~linear in n.
    """
    import math

    if n_candidates <= target_occupancy:
        return min_bits
    return int(min(max(math.ceil(math.log2(n_candidates / target_occupancy)),
                       min_bits), max_bits))


def auto_lsh_probes(bits: int) -> int:
    """Multi-probe count matched to the hash width: ~8*bits/3.

    More hyperplanes shrink per-bucket occupancy ~2^-bits, so the probe
    sequence must widen with bits for the query to keep touching the
    buckets its true neighbors land in (Lv et al. 2007 grow probes with
    the hash length for exactly this reason).  The r12 sweep on the
    clustered 5000-vector sample measured the knee here: b9/t4/p24
    (p = 8*9/3) reached 0.974 candidate recall of the brute-force
    top-10 at a 2048-row state bound, while p=1 at the same index sat
    at 0.26 — probes cost query-side work only (they never insert), so
    this is the default for the streaming op, where the index cannot be
    retrained to the corpus.
    """
    return max(1, round(8 * bits / 3))


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    bits: int | str = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    drop_self: bool = True,
    broadcast_queries: bool = True,
    dim: int | None = None,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: per-table bucket equi-join, union, exact
    re-rank of the candidate union.  Recall grows with n_tables; cost per
    table ~ |D| / 2^bits per bucket.

    **When to use which (measured r11/r12):** for a STATIC corpus,
    :func:`ivf_topk` is the documented default — its trained quantizer
    reached recall 1.0 at 4.3x brute-force speed on the clustered 100k
    benchmark corpus, and a prebuilt index prunes unprobed lists at the
    parquet scan.  At the corpus sizes the bench measures (<= 100k x
    64-dim, where one exact GEMM pass is seconds), multi-probe
    hyperplane LSH lands at 0.4-1.0x brute-force speed: hashing has no
    training cost to amortize, so its win only appears where scoring
    dominates — corpora too large or too wide for the per-task GEMM
    budget, or STREAMING ingest where a quantizer cannot be trained
    before data arrives (stream_ann_lsh_candidates shares this module's
    probe enumeration and keeps bounded state).  If you can train a
    quantizer, use IVF; reach for LSH when you cannot.

    ``n_probes`` > 1 turns on query-directed multi-probe (Lv'07, see
    multiprobe_buckets_udf): each QUERY probes its home bucket plus the
    n_probes-1 nearest bit-flip buckets per table, while the candidate
    index stays exactly one bucket per table — recall comparable to
    n_probes x the tables at the index cost of one.  The candidate-side
    plan is unchanged; only the (small) query side explodes n_probes x
    wider.

    ``bits="auto"`` sizes the hyperplane count from the candidate row
    count (one count job) via auto_lsh_bits, so bucket occupancy — and
    with it the scored-pair volume per row — stays constant as the
    corpus grows instead of the quadratic blowup a fixed bits causes.

    ``broadcast_queries=False`` switches the per-table bucket join to a
    plain shuffle equi-join on the bucket id — use it when the query
    side itself is TB-scale (both sides then shuffle once per table;
    same results, no driver/executor memory ceiling on the query set).

    Shuffle discipline: each table SCORES its own bucket pairs (the
    embedding vectors never leave the map side of the bucket join), and
    the cross-table dedup is a groupBy on (query_id, neighbor_id)
    carrying ONE double — cosine is table-invariant, so max() of the
    per-table copies is the value itself.  The dedup shuffle moves 16
    bytes of ids + 8 bytes of score per pair instead of 2 x dim x 8
    bytes of vectors.

    Per-pair work is ONE interpreted dot fold: the vector norms are
    computed per ROW below the join (norm_col) and ride through it as
    scalars, so the O(pairs) stage never re-folds them (values are
    bit-identical to cosine_col's — same expression tree, factored).
    A pair colliding in several tables pays that one fold per table.
    Round 6 MEASURED the alternative (dedup ids first, then score each
    distinct pair once through an id-join): at bits=6 / 4 tables on the
    sf0.1 embeddings the cross-table duplicate factor is only 1.05x, so
    score-once saved ~5% of scoring rows while its dedup exchange + two
    scoring joins benched 1.9x SLOWER end-to-end (5.0s vs 2.7s, both
    warm, broadcasts forced).  Duplicates shrink further as corpora grow
    (bucket occupancy ~|D|/2^bits per table is tuned to stay small), so
    score-in-table is the keeper at scale too.

    ``dim``: embedding width; pass it to avoid the one-row probe job
    that otherwise reads it from the first candidate row.
    """
    if bits == "auto":
        bits = auto_lsh_bits(candidates.count())
    if dim is None:
        first = candidates.select(vec_col).first()
        dim = len(first[vec_col])
    # ONE join on (table, bucket) instead of a union of n_tables joins:
    # each side computes all table buckets in a single scan and
    # posexplodes them, so the broadcast is built once (n_tables x rows
    # of scalars+vector) and the plan has one scoring stage — at scale,
    # one shuffle (broadcast_queries=False) instead of n_tables.
    buckets = F.array(*[
        lsh_bucket_col(vec_col, _hyperplanes(dim, bits, seed + 1000 * t))
        for t in range(n_tables)
    ])
    if n_probes > 1:
        probes = multiprobe_buckets_udf(dim, bits, n_tables, seed, n_probes)
        qb = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            norm_col(vec_col).alias("qn"),
            F.explode(probes(vec_col)).alias("tb"),
        ).select("query_id", "qv", "qn",
                 F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
        # candidate hashing via ONE Arrow GEMM instead of n_tables x bits
        # interpreted fold-dots per row (measured 2x on the 100k
        # clustered corpus — the SQL hashing alone cost more than the
        # whole scoring join).  Both sides now hash with the SAME numpy
        # arithmetic, so borderline dots cannot flip sign between
        # engines; the n_probes=1 path keeps the pure-SQL hashing its
        # DuckDB oracle replays bit-for-bit.
        cand_buckets = _blas_buckets_udf(dim, bits, n_tables, seed)
        cb = candidates.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
            norm_col(vec_col).alias("cn"),
            F.posexplode(cand_buckets(vec_col)).alias("t", "bucket"),
        )
    elif queries is candidates:
        # self-ANN (the common dedup/kNN-graph call): hash + norm the
        # corpus ONCE and explode both join sides from the materialized
        # row — the two sides are otherwise independent subtrees, so
        # the n_tables x bits interpreted hash dots (the linear-pass
        # cost at scale) would run twice per row (r14 interleaved A/B
        # at sf0.1: 1.21 -> 0.71 s; values identical — same hashes,
        # same norms, computed once instead of twice).
        hashed = candidates.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
            norm_col(vec_col).alias("_n"), buckets.alias("_b"),
        ).localCheckpoint()
        qb = hashed.select(
            F.col("_id").alias("query_id"), F.col("_v").alias("qv"),
            F.col("_n").alias("qn"), F.posexplode("_b").alias("t", "bucket"),
        )
        cb = hashed.select(
            F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv"),
            F.col("_n").alias("cn"), F.posexplode("_b").alias("t", "bucket"),
        )
    else:
        qb = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            norm_col(vec_col).alias("qn"),
            F.posexplode(buckets).alias("t", "bucket"),
        )
        cb = candidates.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
            norm_col(vec_col).alias("cn"),
            F.posexplode(buckets).alias("t", "bucket"),
        )
    if broadcast_queries:
        # a broadcast join inherits the candidate scan's parallelism; a
        # small-file scan would score every bucket pair in one task, so
        # spread the exploded rows first: one row per task up to the
        # slots, since a row's bucket-partner count follows the bucket
        # skew, which the plan does not show.
        cb = size_tasks(cb)
    qside = F.broadcast(qb) if broadcast_queries else qb
    scored = cb.join(qside, ["t", "bucket"]).select(
        "query_id", "neighbor_id",
        cosine_from_norms("qv", "cv", "qn", "cn").alias("cosine"),
    )
    # ONE exchange for the dedup + rank tail: hash partitioning on
    # query_id alone satisfies both the (query_id, neighbor_id) dedup
    # aggregate's clustered distribution and the rank window's, so the
    # plan keeps a single Exchange where groupBy-then-Window needed two
    # (r14 interleaved A/B at sf0.1: -0.2 s; same rows, same hashes).
    # Partition count is the session shuffle default — AQE coalesces.
    deduped = scored.repartition("query_id").groupBy(
        "query_id", "neighbor_id"
    ).agg(F.max("cosine").alias("cosine"))
    if drop_self:
        deduped = deduped.where(F.col("query_id") != F.col("neighbor_id"))
    return _rank_topk(deduped, k)
