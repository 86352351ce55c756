"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design notes (the whole point of these):

* exact: md5 of normalized text -> groupBy(hash) -> keep min doc_id.
  One shuffle on a short key; skew-free (hashes are uniform).
* n-gram Jaccard: token inverted index + equi-join on token, count
  common tokens per pair, then Jaccard from per-doc distinct counts.
  This is THE scalable near-dup join: candidate pairs are generated only
  for documents sharing a token, never a crossJoin.  Ubiquitous tokens
  are capped (df_cap) — they add candidates without discriminating,
  and they are exactly the skewed join keys.
* MinHash: k independent permutations h_i(t) = (a_i * x + b_i) mod p
  over md5-derived 60-bit token ids (md5 is available in both Spark and
  DuckDB, so the oracle can replay signatures bit-for-bit).  LSH bands
  hash k/r rows per band -> band-bucket equi-join -> verified Jaccard.
* SimHash: 64-bit sign-aggregated token hashes; near-dups = signatures
  at small Hamming distance, joined on rotated prefix buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tslearn_spark.session import size_tasks

# Mersenne prime 2^61 - 1: fingerprint space for 60-bit token ids
MERSENNE_P = (1 << 61) - 1
# Mersenne prime 2^31 - 1: MinHash permutation modulus.  Chosen so that
# a * tid (a < 2^31, tid < 2^28) stays far below 2^63 — the same SQL
# runs overflow-free in Spark AND the DuckDB oracle (DuckDB raises on
# BIGINT overflow; Spark would silently wrap — both are avoided).
MINHASH_P = (1 << 31) - 1


# task-sizing work of tokenizing one document (flop-equivalents, see
# session.TASK_WORK): regex split + lowercase + per-token md5 measured at
# ~50 us per ~300-char sf0.1 document on one core.  Doc tables are
# byte-small but md5/regex-heavy — the classic one-partition trap.
DOC_WORK = 1e5


def _norm_text(col: str = "text") -> Column:
    return F.lower(F.trim(F.col(col)))


def tokens_col(col: str = "text") -> Column:
    """Lowercased word tokens (split on non-alphanumeric runs)."""
    return F.expr(
        f"filter(split(lower({col}), '[^a-z0-9]+'), t -> t != '')"
    )


def token_id_col(token: Column) -> Column:
    """Deterministic 60-bit token id from md5 — replayable in DuckDB:
    DuckDB: ('0x' || substr(md5(t), 1, 15))::BIGINT
    Spark : conv(substr(md5(t), 1, 15), 16, 10)::BIGINT
    """
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")


def token_id28_col(token: Column) -> Column:
    """28-bit token id (7 md5 hex chars) for modular MinHash arithmetic."""
    return F.conv(F.substring(F.md5(token), 1, 7), 16, 10).cast("long")


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: (hash, canonical doc, dup count) for hashes seen >1.

    groupBy on md5 — a single shuffle on uniform keys; at 100 TB this is
    the cheapest possible full-corpus pass.
    """
    return (
        docs.select(F.col("doc_id"), F.md5(_norm_text(text_col)).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


def _doc_token_arrays(docs: DataFrame, text_col: str, n_shingle: int = 1) -> DataFrame:
    """(doc_id, toks array<string>) with per-doc distinct tokens.

    Dedup happens via array_distinct INSIDE each row — a map-side
    expression — instead of a cluster-wide ``.distinct()`` shuffle of the
    exploded table (the distinct key is (doc_id, token), so per-row
    dedup is equivalent and free).  Input is spread first: size_tasks at
    DOC_WORK per document.
    """
    base = size_tasks(docs, DOC_WORK).select("doc_id", tokens_col(text_col).alias("toks"))
    if n_shingle > 1:
        base = base.select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, greatest(size(toks) - {n_shingle}, 0)), i -> "
                f"array_join(slice(toks, i + 1, {n_shingle}), ' '))"
            ).alias("toks"),
        )
    return base.select("doc_id", F.array_distinct("toks").alias("toks"))


def _doc_tokens(docs: DataFrame, text_col: str, n_shingle: int = 1) -> DataFrame:
    """(doc_id, token) distinct; token = word or word-n-gram shingle."""
    return _doc_token_arrays(docs, text_col, n_shingle).select(
        "doc_id", F.explode("toks").alias("token")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_shingle: int = 1,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by token-set Jaccard via inverted-index join.

    (id1 < id2, inter, n1, n2, jaccard >= threshold).  Candidate pairs
    come from the token equi-join — documents sharing zero tokens are
    never paired, so cost is sum over tokens of df(t)^2, not |D|^2.
    df_cap drops tokens appearing in more than df_cap docs (stopword-ish
    tokens generate quadratic candidates and no signal — and they are
    exactly the skewed keys AQE would otherwise have to split).
    """
    base = _doc_token_arrays(docs, text_col, n_shingle)
    if df_cap is not None:
        # r14 (guide §2.4/§5): the cap is applied INSIDE one dataflow —
        # no driver-side hot_exists probe action, no pre-materialized
        # caches of the exploded token table.  The hot-token list
        # (df > cap — small by construction: at most |tokens|/cap
        # entries) is collected into a single-row array, broadcast, and
        # subtracted per-row with array_except, so the surviving-token
        # count n_tok is size(toks) again — sizes need no recount
        # aggregate + join, and the no-hot case costs one trivial
        # array_except against an empty list.  base is cached because
        # the hot aggregate and the main pass both read the tokenize+
        # shingle output (best-effort, like the old probe caches).
        # Under AQE the hot subtree's shuffles materialize as ordinary
        # query stages; only the tiny one-row result is broadcast.
        base = base.cache()
        hot_list = (
            base.select(F.explode("toks").alias("token"))
            .groupBy("token").count().where(F.col("count") > df_cap)
            .agg(F.collect_list("token").alias("_hot"))
        )
        base = base.crossJoin(F.broadcast(hot_list)).select(
            "doc_id", F.array_except("toks", "_hot").alias("toks")
        )
    # n_tok counts the SURVIVING tokens (toks after the cap) so jaccard
    # is the true similarity of the capped token sets
    tok = base.select(
        "doc_id", F.size("toks").alias("n_tok"), F.explode("toks").alias("token")
    )
    tok = tok.cache()
    t1 = tok.select(F.col("doc_id").alias("id1"), "token", F.col("n_tok").alias("_n1"))
    t2 = tok.select(F.col("doc_id").alias("id2"), "token", F.col("n_tok").alias("_n2"))
    # size-ratio prefilter DURING the index join: jaccard <=
    # min(n1,n2)/max(n1,n2), so a pair whose token-set sizes differ by
    # more than the threshold ratio can never qualify — dropped before
    # the per-pair aggregate (semantics-preserving; kills the
    # boilerplate-vs-short-doc candidate explosion at scale)
    common = (
        t1.join(t2, "token")
        .where(F.col("id1") < F.col("id2"))
        .where(
            F.least("_n1", "_n2") >= F.lit(threshold) * F.greatest("_n1", "_n2")
        )
        .groupBy("id1", "id2")
        .agg(
            F.count("*").alias("inter"),
            F.first("_n1").alias("n1"),
            F.first("_n2").alias("n2"),
        )
    )
    return common.select(
        "id1", "id2", "inter", "n1", "n2",
        (F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    n_shingle: int = 1,
    seed: int = 42,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig array<bigint>) — k min-hash values per document.

    h_i(x) = (a_i * x + b_i) mod p over md5-derived token ids; (a_i, b_i)
    are a fixed LCG of the seed so the oracle can regenerate them.
    Computed as one grouped aggregate: explode tokens -> min over each
    permutation — map-side combinable, single shuffle by doc_id.

    ``toks``: pre-computed (doc_id, toks) array table (see
    _doc_token_arrays) — pass a persisted one to share the
    tokenize+shingle pass with a downstream verifier.
    """
    coefs = minhash_coefficients(num_hashes, seed)
    if toks is None:
        tok = _doc_tokens(size_tasks(docs, DOC_WORK), text_col, n_shingle)
    else:
        tok = toks.select("doc_id", F.explode("toks").alias("token"))
    tok = tok.select("doc_id", token_id28_col(F.col("token")).alias("tid"))
    aggs = [
        F.min((F.lit(a) * F.col("tid") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(coefs)
    ]
    sig = tok.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_coefficients(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a 64-bit LCG — replayable anywhere."""
    coefs = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        a = state % (MINHASH_P - 1) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        b = state % MINHASH_P
        coefs.append((a, b))
    return coefs


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n_shingle: int = 1,
    seed: int = 42,
    verify_threshold: float | None = None,
) -> DataFrame:
    """LSH banding: equal band-signature -> candidate pair.

    rows_per_band = num_hashes / bands; a pair collides in a band iff all
    its rows match — the classic S-curve.  The band bucket join is an
    equi-join on (band, bucket-hash): shuffle scales with the number of
    (doc, band) rows, never |D|^2.  With verify_threshold set, each
    candidate pair is verified with exact Jaccard by joining the pair
    ids to the per-doc token arrays (two id equi-joins) and folding
    ``size(array_intersect(...))`` per pair — cost O(|candidates|), so
    verification never reintroduces the Σdf² inverted-index join that
    LSH exists to avoid.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    toks = None
    if verify_threshold is not None:
        # the verifier needs the same token arrays the signatures hash;
        # persist ONE tokenize+shingle pass and share it across both
        # subtrees (Catalyst has no cross-branch subexpression reuse).
        # The cache is pinned by the returned lazy DataFrame and is
        # never explicitly unpersisted (same convention as
        # ngram_jaccard_pairs's .cache() chain): Spark's LRU storage
        # evicts it under pressure, and sessions that interleave many
        # verified calls should catalog.clearCache() between them.
        toks = _doc_token_arrays(docs, text_col, n_shingle).persist()
    sig = minhash_signatures(docs, text_col, num_hashes, n_shingle, seed,
                             toks=toks)
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(0, {bands - 1}), b -> slice(sig, b * {r} + 1, {r}))")
        ).alias("band", "band_sig"),
    )
    b1 = banded.select(F.col("doc_id").alias("id1"), "band", "band_sig")
    b2 = banded.select(F.col("doc_id").alias("id2"), "band", "band_sig")
    cands = (
        b1.join(b2, ["band", "band_sig"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    if verify_threshold is None:
        return cands
    return verify_candidate_pairs(cands, docs, text_col, n_shingle,
                                  verify_threshold, toks=toks)


def verify_candidate_pairs(
    cands: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    n_shingle: int = 1,
    threshold: float = 0.5,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id1, id2) pairs.

    Two id equi-joins bring the per-doc distinct token arrays onto each
    candidate row; ``array_intersect`` folds the exact intersection
    per pair.  The token payload shuffled is bounded by the candidate
    set — the whole-corpus inverted index is never rebuilt, so this
    stays O(|candidates| · doc_len) at any corpus size (the property
    the LSH candidate generator is there to guarantee).

    ``toks``: pre-computed (doc_id, toks) table to reuse (see
    minhash_lsh_candidates, which persists one shared pass).
    """
    if toks is None:
        toks = _doc_token_arrays(docs, text_col, n_shingle)
    t1 = toks.select(F.col("doc_id").alias("id1"), F.col("toks").alias("_t1"))
    t2 = toks.select(F.col("doc_id").alias("id2"), F.col("toks").alias("_t2"))
    return (
        cands.select("id1", "id2")
        .join(t1, "id1")
        .join(t2, "id2")
        .select(
            "id1", "id2",
            F.size(F.array_intersect("_t1", "_t2")).alias("inter"),
            F.size("_t1").alias("n1"),
            F.size("_t2").alias("n2"),
        )
        .select(
            "id1", "id2", "inter", "n1", "n2",
            (F.col("inter")
             / (F.col("n1") + F.col("n2") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= float(threshold))
    )


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", bits: int = 64
) -> DataFrame:
    """SimHash: per doc, sign-sum of token-hash bits -> packed signature.

    Fully SQL: explode tokens, per-bit +/-1 contributions aggregated,
    repacked with bit arithmetic.  One shuffle by doc_id.
    """
    tok = _doc_tokens(size_tasks(docs, DOC_WORK), text_col)
    tok = tok.select("doc_id", token_id_col(F.col("token")).alias("tid"))
    # 60 usable bits from the md5-derived id
    bits = min(bits, 60)
    # r14 (guide §4.1): branch-free bit counting.  The sign-sum
    # sum(+/-1 per bit) equals 2*sum(bit_i) - n, so aggregate the raw
    # bit values plus one count instead of ``bits`` CASE expressions
    # per row; the packed bit is 1 iff 2*sum(bit_i) - n > 0, i.e.
    # 2*s_i > n — exact integer arithmetic, identical signatures
    # (measured ~35%% off the aggregate stage at sf0.1).
    bit_sums = [
        F.sum(F.shiftright(F.col("tid"), i).bitwiseAND(F.lit(1))).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(F.count("*").alias("_n"), *bit_sums)
    packed = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") * 2 > F.col("_n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(1 << i).cast("long")
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.alias("simhash"))


def _simhash_band_bounds(n_bands: int, bits: int = 60) -> list[tuple[int, int]]:
    """(shift, width) per band: ``bits`` split into ``n_bands`` contiguous
    chunks whose widths differ by at most one, covering every bit."""
    bounds = []
    shift = 0
    for i in range(n_bands):
        width = bits // n_bands + (1 if i < bits % n_bands else 0)
        bounds.append((shift, width))
        shift += width
    return bounds


def simhash_pairs_from_signatures(
    sig: DataFrame, max_hamming: int = 3, n_bands: int | None = None,
    id_col: str = "doc_id", sig_col: str = "simhash", bits: int = 60,
) -> DataFrame:
    """Hamming-near pairs over a (id, simhash) DataFrame.

    Banding with GUARANTEED recall: the ``bits`` signature bits are split
    into ``n_bands = max_hamming + 1`` contiguous bands covering every
    bit, so by pigeonhole any pair at Hamming distance <= max_hamming
    agrees exactly on at least one whole band and is always a candidate.
    The band join is an equi-join on (band, bucket) — shuffle scales with
    (doc, band) rows, never |D|^2 — and candidates are verified with the
    exact ``bit_count(xor)``.

    ``bits`` must match the signature width: bands laid over bits the
    signatures never set would put EVERY document in the same bucket
    for those bands — a full cross product.
    """
    if n_bands is None:
        # each band needs >= 1 bit; max_hamming >= bits cannot be banded
        # (a complement pair agrees on no band) so it degrades to the
        # best guarantee banding can give (hamming <= bits - 1)
        n_bands = min(max_hamming + 1, bits)
    if n_bands > bits:
        # a zero-width band masks with (1<<0)-1 = 0: every doc lands in
        # bucket 0 and the band join degenerates to |D|^2 — refuse
        raise ValueError(
            f"n_bands={n_bands} exceeds the signature width ({bits} bits); "
            "each band needs at least one bit"
        )
    bounds = _simhash_band_bounds(n_bands, bits)
    banded = sig.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col(sig_col), shift)
                .bitwiseAND(F.lit((1 << width) - 1))
                for shift, width in bounds
            ])
        ).alias("band", "bucket"),
    )
    s1 = banded.select(F.col("doc_id").alias("id1"), "band", "bucket")
    s2 = banded.select(F.col("doc_id").alias("id2"), "band", "bucket")
    cands = (
        s1.join(s2, ["band", "bucket"]).where(F.col("id1") < F.col("id2"))
        .select("id1", "id2").distinct()
    )
    sigs1 = sig.select(F.col(id_col).alias("id1"), F.col(sig_col).alias("h1"))
    sigs2 = sig.select(F.col(id_col).alias("id2"), F.col(sig_col).alias("h2"))
    return (
        cands.join(sigs1, "id1").join(sigs2, "id2")
        .select("id1", "id2",
                F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       max_hamming: int = 3,
                       n_bands: int | None = None) -> DataFrame:
    """SimHash near-dup pairs with guaranteed recall at
    hamming <= max_hamming (see simhash_pairs_from_signatures)."""
    sig = simhash_signatures(docs, text_col)
    return simhash_pairs_from_signatures(sig, max_hamming, n_bands, bits=60)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1, id2, cosine) with
    id1 < id2 and cosine >= threshold — the semantic twin of the text
    near-dup generators over an embedding column, feeding the same
    ``canonicalize`` / ``connected_components`` materializer.

    bits=None (exact): the normalized matrix is broadcast, every
    partition runs one BLAS matmul against its candidate rows and emits
    ONLY above-threshold pairs (the n^2 similarity matrix never
    materializes anywhere, and the shuffle carries just the survivor
    triples).  The correctness baseline; a table over
    ``session.BROADCAST_LIMIT_VALUES`` vector values (8M: 125k vectors
    of dim 64) raises ValueError, so pass ``bits=`` for it.

    bits=k (scale path): random-hyperplane LSH bucketing
    (simsearch.lsh_bucket_col, literal planes — replayable in SQL), one
    equi-join per table, exact cosine re-scoring of the candidate union.
    Recall < 1 like every LSH scheme; candidates per table drop ~2^bits.

    ``dim``: embedding width (LSH path only); pass it to avoid the
    one-row probe job that otherwise reads it from the first row.
    """
    from tslearn_spark.pipeline.simsearch import (
        _broadcast_side, _hyperplanes, _unit_vectors, cosine_from_norms,
        lsh_bucket_col, norm_col,
    )

    import numpy as np
    import pyarrow as pa

    if bits is None:
        ids, Qn = _broadcast_side(
            embeddings, id_col, vec_col,
            "embedding_neardup_pairs(bits=None)'s embedding table",
            "bits= (the LSH path)")
        bc = embeddings.sparkSession.sparkContext.broadcast((ids, Qn))
        thr = float(threshold)

        def gen(batches):
            from tslearn_spark.blasctl import limit_blas_threads

            limit_blas_threads(1)  # task-parallel: 1 BLAS thread each
            ids_b, Qn_b = bc.value
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                cid, Cn = _unit_vectors(batch, id_col, vec_col)
                sims = Cn @ Qn_b.T  # (n_cand, n_all)
                # emit each unordered pair once: candidate id strictly below
                keep = (sims >= thr) & (cid[:, None] < ids_b[None, :])
                r, c = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [cid[r], ids_b[c], sims[r, c]], ["id1", "id2", "cosine"])

        # like brute_force_topk: a byte-sized scan must not serialize
        # the GEMM stage on one single-BLAS-thread worker.  Per row one
        # dot against the whole broadcast matrix; the row count is the
        # driver-side matrix's.
        return size_tasks(
            embeddings.select(F.col(id_col), F.col(vec_col)),
            float(Qn.size), n_rows=len(ids)).mapInArrow(
            gen, "id1 long, id2 long, cosine double"
        )

    if dim is None:
        # one-row probe job; callers that know the width pass dim= to skip it
        dim = len(embeddings.select(vec_col).first()[vec_col])
    # fused form, mirroring lsh_topk: all table buckets in one scan per
    # side, posexplode to a (t, bucket) key, ONE self-join instead of
    # n_tables joins + union; per-row norms ride through the join so the
    # O(pairs) cosine is a single fold
    buckets = F.array(*[
        lsh_bucket_col(vec_col, _hyperplanes(dim, bits, seed + 1000 * t))
        for t in range(n_tables)
    ])
    side = embeddings.select(
        F.col(id_col), F.col(vec_col), norm_col(vec_col).alias("_nrm"),
        F.posexplode(buckets).alias("t", "bucket"),
    )
    a = side.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"),
                    F.col("_nrm").alias("n1"), "t", "bucket")
    b = side.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"),
                    F.col("_nrm").alias("n2"), "t", "bucket")
    cands = (
        a.join(b, ["t", "bucket"]).where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "v1", "v2", "n1", "n2")
        .dropDuplicates(["id1", "id2"])
    )
    return (
        cands.withColumn("cosine", cosine_from_norms("v1", "v2", "n1", "n2"))
        .where(F.col("cosine") >= float(threshold))
        .select("id1", "id2", "cosine")
    )


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         driver_cap: int = 2_000_000) -> DataFrame:
    """Connected components over near-dup pair edges -> (doc_id, component).

    component = the smallest doc_id reachable through the pair graph —
    iterative min-label propagation, the standard Spark pattern: each
    round joins current labels across edges and keeps the per-node min.
    Rounds needed = graph diameter; near-dup clusters are shallow (most
    are cliques from the same template), so a handful of rounds closes
    them.  Each round is one broadcast-or-shuffle join + one groupBy on
    (id, component) pairs — never an adjacency matrix — and the frontier
    is localCheckpoint'ed so lineage stays flat across iterations.

    ``driver_cap``: edge sets at or below this size (near-dup graphs are
    tiny relative to the corpus — edges exist only between duplicates)
    skip the iteration entirely: one collect, a driver union-find, one
    createDataFrame back.  Identical labels — union-find with min-id
    roots computes the same smallest-reachable-id — at a fraction of
    the per-round scheduling cost.  0 disables the fast path; the cap
    (~32 MB of id pairs at the default) bounds driver memory like the
    other documented driver handoffs.
    """
    edges = pairs.select(
        F.col("id1").cast("long").alias("id1"), F.col("id2").cast("long").alias("id2")
    ).distinct()
    persisted = False
    if driver_cap:
        # limit() probe instead of count(): at scale a full count of a
        # huge edge set just to REJECT the fast path would scan it all.
        # toPandas (Arrow) lands two int64 columns — the ~32 MB the cap
        # promises — where collect() would build 100+-byte Row objects.
        # persist() first: the probe materializes the (expensive) upstream
        # near-dup pipeline, and when the edge set EXCEEDS the cap the
        # distributed loop below must not recompute it from scratch —
        # the iterative path reads the cached blocks instead.
        edges = edges.persist()
        persisted = True
        head = edges.limit(driver_cap + 1).toPandas()
        if len(head) <= driver_cap:
            edges.unpersist()
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while x != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            id1s = head["id1"].to_numpy()
            id2s = head["id2"].to_numpy()
            for a0, b0 in zip(id1s.tolist(), id2s.tolist()):
                a, b = find(a0), find(b0)
                if a != b:
                    lo, hi = (a, b) if a < b else (b, a)
                    parent[hi] = lo
            nodes = set(id1s.tolist()) | set(id2s.tolist())
            out = [(n, find(n)) for n in nodes]
            return pairs.sparkSession.createDataFrame(
                out, "doc_id long, component long")
    sym = edges.unionByName(
        edges.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    ).localCheckpoint()
    if persisted:
        edges.unpersist()  # sym is materialized; the edge cache is done
    comp = (
        sym.groupBy(F.col("id1").alias("doc_id"))
        .agg(F.min("id2").alias("_min_nb"))
        .select("doc_id", F.least("doc_id", "_min_nb").alias("component"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nb = (
            sym.join(
                comp.select(F.col("doc_id").alias("id2"),
                            F.col("component").alias("nb_comp")),
                "id2",
            )
            .groupBy(F.col("id1").alias("doc_id"))
            .agg(F.min("nb_comp").alias("nb_comp"))
        )
        # change flag computed IN the update join (old label is already
        # on the row) — the convergence count then reads the checkpointed
        # blocks instead of paying a second join per round
        new_comp = (
            comp.join(nb, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("component"),
                        F.coalesce("nb_comp", "component")).alias("component"),
                (F.coalesce("nb_comp", "component")
                 < F.col("component")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = new_comp.where(F.col("_changed")).count()
        comp = new_comp.drop("_changed")
        if changed == 0:
            break
    else:
        # min-label propagation advances one hop per round, so a component
        # whose diameter exceeds max_iter exits with stale labels — fail
        # loudly instead of returning silently unconverged components
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter for "
            "long-chain graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    return comp


def canonicalize(pairs: DataFrame) -> DataFrame:
    """Near-dup materializer: (doc_id, keep_doc_id) for every document in
    a near-dup cluster; keep_doc_id = the cluster's smallest doc_id.

    The "dedup-then-keep-canonical" step a real pipeline runs after pair
    generation: anti-join the corpus against rows where
    doc_id != keep_doc_id to drop duplicates.
    """
    comp = connected_components(pairs)
    return comp.select("doc_id", F.col("component").alias("keep_doc_id"))
