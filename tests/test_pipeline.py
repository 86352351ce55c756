"""Data-pipeline operators: dedup, text analysis, similarity search,
multimodal plumbing, streaming (batch-mode plans)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tslearn_spark import pipeline as pl


def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),          # near dup of 0
        (3, "completely different content about spark engines"),
        (4, "der schnelle braune fuchs und der faule hund ist nicht da"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact(self, spark):
        from tslearn_spark.pipeline import exact_duplicates

        out = exact_duplicates(docs_df(spark)).collect()
        assert len(out) == 1
        assert out[0]["keep_doc_id"] == 0 and out[0]["n_copies"] == 2

    def test_jaccard_unigram(self, spark):
        from tslearn_spark.pipeline import ngram_jaccard_pairs

        pairs = {(r["id1"], r["id2"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(docs_df(spark), threshold=0.5).collect()}
        assert pairs[(0, 1)] == pytest.approx(1.0)
        assert pairs[(0, 2)] == pytest.approx(7 / 9)  # 8 distinct toks, 7 common
        assert (0, 3) not in pairs

    def test_minhash_similarity(self, spark):
        from tslearn_spark.pipeline import minhash_signatures

        sigs = {r["doc_id"]: r["sig"]
                for r in minhash_signatures(docs_df(spark), num_hashes=32).collect()}
        assert sigs[0] == sigs[1]  # identical docs -> identical signatures
        agree02 = np.mean([a == b for a, b in zip(sigs[0], sigs[2])])
        agree03 = np.mean([a == b for a, b in zip(sigs[0], sigs[3])])
        assert agree02 > agree03

    def test_lsh_candidates_find_near_dups(self, spark):
        from tslearn_spark.pipeline import minhash_lsh_candidates

        cands = {(r["id1"], r["id2"])
                 for r in minhash_lsh_candidates(
                     docs_df(spark), num_hashes=32, bands=16).collect()}
        assert (0, 1) in cands
        assert (0, 2) in cands

    def test_simhash_hamming(self, spark):
        from tslearn_spark.pipeline import simhash_signatures
        from tslearn_spark.pipeline.dedup import simhash_near_pairs

        sigs = {r["doc_id"]: r["simhash"]
                for r in simhash_signatures(docs_df(spark)).collect()}
        assert sigs[0] == sigs[1]
        near = {(r["id1"], r["id2"]): r["hamming"]
                for r in simhash_near_pairs(docs_df(spark), max_hamming=60).collect()}
        assert near[(0, 1)] == 0

    def test_simhash_banding_guaranteed_recall(self, spark):
        # pigeonhole property: with n_bands = max_hamming + 1 bands
        # covering all 60 bits, EVERY planted pair at hamming <=
        # max_hamming must surface — including pairs engineered to
        # defeat the old 3x16-bit rotated-prefix banding (one flipped
        # bit per 16-bit window, plus diffs in the uncovered bits 48-59)
        from tslearn_spark.pipeline.dedup import simhash_pairs_from_signatures

        rs = np.random.RandomState(7)
        rows = []
        expected = set()
        base_id = 0
        for trial in range(12):
            for max_h in (1, 2, 3):
                sig = int(rs.randint(0, 1 << 60, dtype=np.uint64))
                # spread the flipped bits across distinct 15/16-bit
                # windows AND the high bits to stress the banding
                positions = rs.choice(60, size=max_h, replace=False)
                other = sig
                for p in positions:
                    other ^= 1 << int(p)
                rows.append((base_id, sig))
                rows.append((base_id + 1, other))
                expected.add((base_id, base_id + 1, max_h))
                base_id += 2
        # adversarial fixed case for max_hamming=3: bits 10, 25, 55 —
        # one diff in each old 16-bit window region + an uncovered bit
        sig = 0x0ABCDEF12345678
        rows.append((base_id, sig))
        rows.append((base_id + 1, sig ^ (1 << 10) ^ (1 << 25) ^ (1 << 55)))
        expected.add((base_id, base_id + 1, 3))
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        for max_h in (1, 2, 3):
            got = {(r["id1"], r["id2"])
                   for r in simhash_pairs_from_signatures(
                       df, max_hamming=max_h).collect()}
            for i1, i2, h in expected:
                if h <= max_h:
                    assert (i1, i2) in got, (
                        f"planted pair ({i1},{i2}) at hamming {h} missed "
                        f"with max_hamming={max_h}")

    def test_minhash_verify_path_bounded_by_candidates(self, spark):
        # the verify branch must score ONLY the LSH candidates — never
        # rebuild the whole-corpus inverted index (the Σdf² join LSH
        # exists to avoid).  Plan check: no token equi-join, only
        # array_intersect on candidate rows.
        from tslearn_spark.pipeline import minhash_lsh_candidates, ngram_jaccard_pairs

        verified = minhash_lsh_candidates(
            docs_df(spark), num_hashes=32, bands=16, verify_threshold=0.5)
        plan = verified._jdf.queryExecution().optimizedPlan().toString()
        assert "array_intersect" in plan
        # signatures legitimately explode tokens (map-side, O(corpus
        # tokens)); what must NOT appear is a JOIN keyed on token —
        # that would be the inverted-index self-join
        join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
        assert join_lines  # band join + two id joins exist
        assert not any("token" in ln for ln in join_lines)
        got = {(r["id1"], r["id2"]): r["jaccard"] for r in verified.collect()}
        # verified jaccards agree exactly with the inverted-index operator
        exact = {(r["id1"], r["id2"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(docs_df(spark), threshold=0.5).collect()}
        assert set(got) <= set(exact)
        assert (0, 1) in got and got[(0, 1)] == pytest.approx(1.0)
        for p, j in got.items():
            assert j == pytest.approx(exact[p])


    def test_embedding_neardup_exact(self, spark):
        from tslearn_spark.pipeline import embedding_neardup_pairs

        rs = np.random.RandomState(3)
        base = rs.randn(8)
        vecs = [base + rs.randn(8) * 0.05, base + rs.randn(8) * 0.05,
                rs.randn(8), rs.randn(8), -base]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        out = {(r["id1"], r["id2"]): r["cosine"]
               for r in embedding_neardup_pairs(df, threshold=0.9).collect()}
        assert set(out) == {(0, 1)}
        V = np.array(vecs)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        assert out[(0, 1)] == pytest.approx(float(Vn[0] @ Vn[1]), abs=1e-12)

    def test_ivf_trained_centroids_recall(self, spark):
        """MLlib-KMeans-trained centroids (the production quantizer) must
        match or beat the deterministic lowest-id oracle centroids on
        recall@10 vs brute force, on the sf0.1 embeddings."""
        import os

        from tslearn_spark.pipeline import (
            brute_force_topk, ivf_topk, train_ivf_centroids,
        )

        path = "/root/testdata/sf0.1/embeddings.parquet"
        if not os.path.exists(path):
            pytest.skip("sf0.1 testdata absent")
        emb = spark.read.parquet(path).cache()
        queries = emb.where(F.col("vec_id") % 40 == 0)  # 50 probes

        def topk_sets(df):
            out = {}
            for r in df.collect():
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return out

        truth = topk_sets(brute_force_topk(queries, emb, k=10))

        def recall(cents):
            got = topk_sets(ivf_topk(queries, emb, k=10, n_lists=16,
                                     n_probe=4, centroids=cents))
            return np.mean([
                len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
            ])

        r_lowest = recall(None)  # deterministic lowest-id default
        cents = train_ivf_centroids(emb, n_lists=16, seed=42)
        assert cents.shape[0] == 16
        r_trained = recall(cents)
        # trained centroids partition the sphere evenly; lowest-id ones
        # are arbitrary points.  Require a real win, not a tie.
        assert r_trained >= r_lowest
        assert r_trained >= 0.5, (r_trained, r_lowest)

    def test_embedding_neardup_lsh_subset(self, spark):
        # LSH path returns a SUBSET of the exact pairs (recall < 1), with
        # identical cosines on shared pairs
        from tslearn_spark.pipeline import embedding_neardup_pairs

        rs = np.random.RandomState(5)
        vecs = rs.randn(30, 8)
        vecs[11] = vecs[4] + rs.randn(8) * 0.03
        vecs[22] = vecs[4] + rs.randn(8) * 0.03
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        exact = {(r["id1"], r["id2"]): r["cosine"]
                 for r in embedding_neardup_pairs(df, threshold=0.9).collect()}
        lsh = {(r["id1"], r["id2"]): r["cosine"]
               for r in embedding_neardup_pairs(
                   df, threshold=0.9, bits=4, n_tables=8).collect()}
        assert set(lsh) <= set(exact)
        assert (4, 11) in exact and (4, 22) in exact
        for k, v in lsh.items():
            assert v == pytest.approx(exact[k], abs=1e-9)

    def test_connected_components_chain(self, spark):
        # a 5-node chain needs multiple propagation rounds; plus an
        # isolated pair and a node absent from any edge (not returned)
        from tslearn_spark.pipeline import canonicalize, connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id1 long, id2 long"
        )
        comp = {r["doc_id"]: r["component"]
                for r in connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
        keep = {r["doc_id"]: r["keep_doc_id"]
                for r in canonicalize(edges).collect()}
        assert keep[5] == 1 and keep[11] == 10

    def test_connected_components_reversed_chain(self, spark):
        # min id at the FAR end, edges pointing away from it: worst case
        # for min propagation direction.  driver_cap=0 pins the
        # DISTRIBUTED propagation loop (the default takes the driver
        # union-find fast path for graphs this small).
        from tslearn_spark.pipeline import connected_components

        edges = spark.createDataFrame(
            [(9, 8), (8, 7), (7, 6), (6, 1)], "id1 long, id2 long"
        )
        comp = {r["doc_id"]: r["component"]
                for r in connected_components(edges, driver_cap=0).collect()}
        assert set(comp.values()) == {1}

    def test_connected_components_paths_agree(self, spark):
        # driver union-find fast path vs distributed min-label loop on a
        # random multi-component graph: identical labelings
        import random

        from tslearn_spark.pipeline import connected_components

        rng = random.Random(7)
        edges_py = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
        edges = spark.createDataFrame(
            [(a, b) for a, b in edges_py], "id1 long, id2 long"
        )
        fast = {r["doc_id"]: r["component"]
                for r in connected_components(edges).collect()}
        dist = {r["doc_id"]: r["component"]
                for r in connected_components(edges, driver_cap=0).collect()}
        assert fast == dist and fast


class TestText:
    def test_langid(self, spark):
        from tslearn_spark.pipeline import language_id

        out = {r["doc_id"]: r["pred_lang"] for r in language_id(docs_df(spark)).collect()}
        assert out[0] == "en"
        assert out[4] == "de"

    def test_quality(self, spark):
        from tslearn_spark.pipeline import quality_scores

        q = {r["doc_id"]: r for r in quality_scores(docs_df(spark)).collect()}
        assert q[0]["n_words"] == 9
        assert q[0]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' x2
        assert q[0]["punct_ratio"] == 0.0

    def test_token_counts(self, spark):
        from tslearn_spark.pipeline import token_counts

        out = {r["doc_id"]: r for r in token_counts(docs_df(spark)).collect()}
        assert out[0]["n_words"] == 9
        assert out[0]["n_ws_tokens"] == 9
        assert out[0]["n_subwords"] == sum(
            int(np.ceil(len(w) / 4)) for w in
            "the quick brown fox jumps over the lazy dog".split()
        )

    def test_fingerprints_match_for_dups(self, spark):
        from tslearn_spark.pipeline import document_fingerprints

        out = {r["doc_id"]: r["fingerprint"]
               for r in document_fingerprints(docs_df(spark)).collect()}
        assert out[0] == out[1]


class TestSimsearch:
    def make_vecs(self, spark, n=30, d=8, seed=0):
        rs = np.random.RandomState(seed)
        v = rs.randn(n, d).astype(np.float32)
        rows = [(int(i), v[i].tolist()) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), v

    def test_brute_force_matches_numpy(self, spark):
        from tslearn_spark.pipeline import brute_force_topk

        df, v = self.make_vecs(spark)
        out = brute_force_topk(df, df, k=3)
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        sims = vn @ vn.T
        np.fill_diagonal(sims, -np.inf)
        for q in range(30):
            expect = set(np.argsort(-sims[q])[:3])
            got = {r["neighbor_id"] for r in out.collect() if r["query_id"] == q}
            assert got == expect

    @pytest.mark.parametrize("call, budget, what, instead", [
        (lambda df: pl.brute_force_topk(df, df, k=3), 100,
         "brute_force_topk's query side", "use lsh_topk"),
        (lambda df: pl.ivf_topk(df, df, k=3, n_lists=4, n_probe=2), 100,
         "ivf_topk's query side", "use lsh_topk"),
        # 4 centroids x 8 values are over a budget of 10
        (lambda df: pl.ivf_topk(df, df, k=3, n_lists=4, n_probe=2), 10,
         "ivf_topk's default centroids", "use lsh_topk"),
        (lambda df: pl.embedding_neardup_pairs(df, threshold=0.9), 100,
         "embedding_neardup_pairs(bits=None)'s embedding table",
         "use bits="),
    ])
    def test_broadcast_side_past_budget_raises(self, spark, monkeypatch,
                                               call, budget, what, instead):
        """A side over the broadcast budget (here 30 x 8 values) fails
        loudly with a ValueError naming the budget and the distributed
        alternative, instead of collecting it to the driver."""
        from tslearn_spark import session as S

        df, _ = self.make_vecs(spark)
        monkeypatch.setattr(S, "BROADCAST_LIMIT_VALUES", budget)
        with pytest.raises(ValueError) as err:
            call(df)
        msg = str(err.value)
        assert what in msg and instead in msg
        assert f"BROADCAST_LIMIT_VALUES = {budget:,}" in msg

    def test_lsh_recall(self, spark):
        from tslearn_spark.pipeline import brute_force_topk, lsh_topk

        df, _ = self.make_vecs(spark, n=50)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in brute_force_topk(df, df, k=1).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in lsh_topk(df, df, k=1, bits=4, n_tables=8).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5  # 8 tables x 4 bits on 50 vecs: should be high

    def test_multiprobe_lsh_recall_and_probe_set(self, spark):
        """n_probes > 1 (Lv'07 query-directed probing): (1) the probe
        UDF emits exactly n_probes buckets per table, home first, with
        the 1-bit flips of the NEAREST hyperplanes before farther ones;
        (2) end-to-end recall at the same (bits, tables) is >= the
        single-probe run's (strictly better on this fixture)."""
        import heapq

        from tslearn_spark.pipeline import brute_force_topk, lsh_topk
        from tslearn_spark.pipeline.simsearch import (
            _hyperplanes, multiprobe_buckets_udf,
        )

        # clustered fixture: 6 centers x 10 points, dim 16
        rs = np.random.RandomState(3)
        centers = rs.randn(6, 16) * 4
        V = np.concatenate([c + rs.randn(10, 16) * 0.4 for c in centers])
        rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(V)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        # (1) probe-set replay against a direct numpy enumeration
        bits, n_tables, n_probes, seed = 10, 2, 5, 42
        udf = multiprobe_buckets_udf(16, bits, n_tables, seed, n_probes)
        got = {r["vec_id"]: [(e["t"], e["bucket"]) for e in r["p"]]
               for r in df.select("vec_id", udf("embedding").alias("p"))
               .collect()}
        pw2 = 1 << np.arange(bits, dtype=np.int64)
        for i in (0, 17, 59):
            want = []
            for t in range(n_tables):
                P = np.asarray(_hyperplanes(16, bits, seed + 1000 * t))
                dots = P @ V[i]
                home = int(((dots > 0) * pw2).sum())
                want.append((t, home))
                z = np.abs(dots)
                order = np.argsort(z, kind="stable")
                heap = [(float(z[order[0]]), (0,))]
                emitted = 1
                while heap and emitted < n_probes:
                    s, S = heapq.heappop(heap)
                    mask = 0
                    for j in S:
                        mask |= 1 << int(order[j])
                    want.append((t, home ^ mask))
                    emitted += 1
                    mx = S[-1]
                    if mx + 1 < bits:
                        heapq.heappush(
                            heap, (s + float(z[order[mx + 1]]), S + (mx + 1,)))
                        heapq.heappush(
                            heap, (s - float(z[order[mx]])
                                   + float(z[order[mx + 1]]),
                                   S[:-1] + (mx + 1,)))
            assert got[i] == want, i
            assert len(got[i]) == n_tables * n_probes
        # (2) recall: multiprobe >= single probe at identical index
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in brute_force_topk(df, df, k=3).collect()}
        r1 = {(r["query_id"], r["neighbor_id"])
              for r in lsh_topk(df, df, k=3, bits=bits,
                                n_tables=n_tables).collect()}
        rp = {(r["query_id"], r["neighbor_id"])
              for r in lsh_topk(df, df, k=3, bits=bits, n_tables=n_tables,
                                n_probes=8).collect()}
        rec1 = len(exact & r1) / len(exact)
        recp = len(exact & rp) / len(exact)
        assert recp >= rec1
        assert recp >= 0.9

    def test_auto_bits_holds_bucket_occupancy(self, spark):
        """bits="auto" is the fixed-parameter-quadratic escape hatch:
        the hyperplane count grows with log2(n / target_occupancy), so
        expected bucket occupancy — and per-row candidate work — stays
        constant as the corpus grows."""
        from tslearn_spark.pipeline import auto_lsh_bits, lsh_topk

        assert auto_lsh_bits(50) == 4                 # floor
        assert auto_lsh_bits(64 * 2**6) == 6
        assert auto_lsh_bits(64 * 2**6 * 10) == 10    # 10x rows -> +log2(10)
        assert auto_lsh_bits(10**12) == 24            # ceiling
        # end-to-end: "auto" resolves and the query still runs
        df, _ = self.make_vecs(spark, n=40)
        out = lsh_topk(df, df, k=1, bits="auto", n_tables=8)
        assert out.where(F.col("rank") == 1).count() > 0

    def test_auto_lsh_probes_tracks_bits(self):
        """r13: the streaming default probe count widens with the hash
        width (~8*bits/3) — the measured 0.974-recall knee at b9 is
        p=24; never below one probe (the home bucket)."""
        from tslearn_spark.pipeline.simsearch import auto_lsh_probes

        assert auto_lsh_probes(9) == 24
        assert auto_lsh_probes(12) == 32
        assert auto_lsh_probes(0) == 1
        assert all(auto_lsh_probes(b + 1) >= auto_lsh_probes(b)
                   for b in range(1, 24))

    def test_ivf_prebuilt_index_matches_inline(self, spark, tmp_path):
        """assign_ivf_lists + ivf_topk(list_col=...) — the 100-TB index
        shape: identical results to the inline assignment (bit-identical
        argmax on L2-normalized vectors), and the probe filter appears
        as a pushed-down predicate on the list column so a partitioned
        corpus prunes unprobed inverted lists at the scan."""
        from tslearn_spark.pipeline import ivf_topk
        from tslearn_spark.pipeline.simsearch import assign_ivf_lists

        df, v = self.make_vecs(spark, n=60, d=8, seed=4)
        cen = np.asarray(v[:8], dtype=np.float64)
        inline = ivf_topk(df, df, k=3, n_lists=8, n_probe=3,
                          centroids=cen).collect()
        indexed = assign_ivf_lists(df, cen)
        # write partitioned by list_id, read back — the production layout
        path = str(tmp_path / "ivf_index")
        indexed.write.partitionBy("list_id").parquet(path)
        corpus = spark.read.parquet(path)
        pre = ivf_topk(df, corpus, k=3, n_lists=8, n_probe=3,
                       centroids=cen, list_col="list_id")
        got = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                      r["cosine"]) for r in pre.collect())
        want = sorted((r["query_id"], r["rank"], r["neighbor_id"],
                       r["cosine"]) for r in inline)
        # ids/ranks identical; cosines only to ~1 ulp — GEMM blocking
        # differs with batch shape (partitioned read groups by list)
        assert [g[:3] for g in got] == [w[:3] for w in want]
        np.testing.assert_allclose([g[3] for g in got],
                                   [w[3] for w in want], rtol=1e-12)
        # the probe filter reaches the scan (PartitionFilters on the
        # list_id partition column)
        plan = pre._jdf.queryExecution().executedPlan().toString()
        assert "list_id" in plan and ("PartitionFilters: [" in plan
                                      or "list_id IN" in plan)

    def test_ivf_prebuilt_requires_explicit_centroids(self, spark):
        """list_col= with centroids=None must raise: default centroids
        derived at query time can't be proven to match the quantizer
        that built the stored assignment (mis-routed probes silently
        drop neighbors otherwise)."""
        import pytest
        from tslearn_spark.pipeline import ivf_topk

        df, _ = self.make_vecs(spark, n=20)
        with pytest.raises(ValueError, match="centroids"):
            ivf_topk(df, df, k=1, n_lists=4, n_probe=2, list_col="list_id")

    def test_ivf_exhaustive_probe_is_exact(self, spark):
        """n_probe == n_lists probes every inverted list, so IVF must
        reproduce the brute-force ranking exactly."""
        from tslearn_spark.pipeline import brute_force_topk, ivf_topk

        df, _ = self.make_vecs(spark, n=40)
        exact = {(r["query_id"], r["rank"]): r["neighbor_id"]
                 for r in brute_force_topk(df, df, k=3).collect()}
        ivf = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in ivf_topk(df, df, k=3, n_lists=8, n_probe=8).collect()}
        assert ivf == exact

    def test_ivf_recall_on_clustered_vectors(self, spark):
        """With clustered vectors the true neighbor shares the query's
        list, so a 2-of-8 probe keeps recall high while scoring a
        fraction of the pairs."""
        from tslearn_spark.pipeline import brute_force_topk, ivf_topk

        rs = np.random.RandomState(3)
        centers = rs.randn(8, 8) * 4
        v = np.vstack([c + rs.randn(8, 8) * 0.2 for c in centers])
        rows = [(int(i), v[i].tolist()) for i in range(len(v))]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in brute_force_topk(df, df, k=1).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in ivf_topk(df, df, k=1, n_lists=8, n_probe=2).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8

    @staticmethod
    def _dyadic_tie_vectors(seed: int, n: int = 60, d: int = 4) -> np.ndarray:
        """Vectors whose normalized entries AND pairwise dots are exact
        dyadic rationals: entries in {-2..2} with norm² in {1, 4, 16},
        so normalization divides by 1/2/4 and every GEMM product/sum is
        exact in double under ANY blocking or FMA use.  Cross-batch-
        shape comparisons of brute_force/ivf scores are then exact —
        randint data makes near-ties whose last-ulp rounding differs
        per BLAS kernel (hardware-dependent: flipped the k-cutoff set
        on this sandbox's dispatch), which is NOT what these tests pin.
        The tiny pool gives heavy exact ties, resolved by id."""
        rs = np.random.RandomState(seed)
        out = []
        while len(out) < n:
            cand = rs.randint(-2, 3, size=d).astype(float)
            if (cand * cand).sum() in (1.0, 4.0, 16.0):
                out.append(cand)
        return np.array(out)

    def test_brute_force_per_task_merge_multi_batch(self, spark):
        """gen folds per-Arrow-batch partials into ONE per-task partial
        (merge_topk_columns): results must be identical however small
        the Arrow batches are — incl. exact ties resolved by id."""
        from tslearn_spark.pipeline import brute_force_topk

        v = self._dyadic_tie_vectors(9)  # heavy EXACT ties
        rows = [(int(i), v[i].tolist()) for i in range(len(v))]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>").coalesce(2)
        key = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
            small = {(r["query_id"], r["neighbor_id"])
                     for r in brute_force_topk(df, df, k=5).collect()}
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", key)
        big = {(r["query_id"], r["neighbor_id"])
               for r in brute_force_topk(df, df, k=5).collect()}
        # scores are exact (dyadic construction), so the neighbor sets
        # must match bit-for-bit however the batches were shaped
        assert small == big

    def test_ivf_per_task_merge_multi_batch(self, spark):
        """ivf_topk folds per-(batch, list) partials into one per-task
        partial — results identical under tiny Arrow batches."""
        from tslearn_spark.pipeline import ivf_topk

        v = self._dyadic_tie_vectors(4)
        rows = [(int(i), v[i].tolist()) for i in range(len(v))]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>").coalesce(2)
        key = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
            small = {(r["query_id"], r["neighbor_id"])
                     for r in ivf_topk(df, df, k=4, n_lists=6,
                                       n_probe=6).collect()}
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", key)
        big = {(r["query_id"], r["neighbor_id"])
               for r in ivf_topk(df, df, k=4, n_lists=6, n_probe=6).collect()}
        # scores are exact (dyadic construction), so the neighbor sets
        # must match bit-for-bit however the batches were shaped
        assert small == big

    def test_size_tasks_work_derived(self, spark):
        """session.size_tasks sizes the task count by WORK (work_per_row
        x rows vs the per-task quantum), capped at the slot count, and
        leaves an input alone when it is already that wide (or wider,
        at the slot cap); a wider input holding less work is brought
        down to its target.
        Partitioning never affects results (per-task partial top-k +
        exact tie-aware final rank — pinned by the per-task-merge tests
        above); this pins the task-count derivation itself."""
        import pandas as pd

        from tslearn_spark.session import TASK_WORK, size_tasks

        slots = spark.sparkContext.defaultParallelism
        df = spark.range(1000).selectExpr("id as vec_id").coalesce(1)
        # light rows (one task quantum covers everything) -> unchanged
        assert size_tasks(df, TASK_WORK / 2000, n_rows=1000) is df
        # heavy rows (a full quantum EACH) -> one task per row, capped
        heavy = size_tasks(df, TASK_WORK, n_rows=1000)
        assert heavy.rdd.getNumPartitions() == min(slots, 1000)
        # intermediate: 1000 rows x quantum/500 -> 2 tasks
        mid = size_tasks(df, TASK_WORK / 500, n_rows=1000)
        assert mid.rdd.getNumPartitions() == min(slots, 2)
        # no work estimate (a row's cost unknown): one task per row
        assert size_tasks(df).rdd.getNumPartitions() == min(slots, 1000)
        # already >= the target (real scale): untouched, no shuffle
        wide = df.repartition(slots)
        assert size_tasks(wide, TASK_WORK, n_rows=10**9) is wide
        # ... and so is a materialized cache of that width, read through
        # a projection
        cached = spark.range(1000).repartition(slots + 1).cache()
        cached.count()
        proj = cached.selectExpr("id * 2 AS y")
        assert size_tasks(proj) is proj
        # ... but little work on that many partitions is brought down to
        # its target: 1000 rows x quantum/2000 -> one task
        if slots > 1:
            assert size_tasks(proj, TASK_WORK / 2000).rdd.getNumPartitions() == 1
        cached.unpersist()
        # no caller row count: plan statistics carry it (50 local rows,
        # behind a key shuffle whose width AQE decides)
        local = spark.createDataFrame(pd.DataFrame({"x": np.arange(50)}))
        sized = size_tasks(local.repartition("x"), TASK_WORK / 10)
        assert sized.rdd.getNumPartitions() == min(slots, 5)

    def test_size_tasks_launches_no_job(self, spark, tmp_path):
        """Sizing reads plan statistics only: on an events_to_ts output (a
        shuffle-rooted plan, whose RDD would run the shuffle stage under
        AQE) it must launch no Spark job at all."""
        import pandas as pd

        from tslearn_spark.dataset import events_to_ts
        from tslearn_spark.session import TASK_WORK, _plan_width, size_tasks

        rs = np.random.RandomState(0)
        n = 1000  # an sf0.001-sized event log
        path = str(tmp_path / "events.parquet")
        spark.createDataFrame(pd.DataFrame({
            "event_id": np.arange(n),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n), "s"),
            "user_id": rs.randint(0, 40, n),
            "value": rs.randn(n),
        })).write.parquet(path)
        scan = spark.read.parquet(path)
        ts = events_to_ts(scan)
        sc = spark.sparkContext
        group = "size_tasks_no_job"
        sc.setJobGroup(group, "task sizing must not run a job")
        try:
            sized = size_tasks(ts, TASK_WORK)
            width = _plan_width(scan)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert sized is not ts  # a shuffle output's width is unknown
        # a file scan's width is the split count Spark plans for it
        assert width == scan.rdd.getNumPartitions()

    def test_auto_ivf_params(self):
        """Corpus-size defaults: n_lists ~ sqrt(n) (clamped), n_probe =
        n_lists/16 (floor 4) — the no-hand-tuning IVF path (measured
        recall 1.0 at 5x exact speed on the clustered bench corpus)."""
        from tslearn_spark.pipeline import auto_ivf_params

        assert auto_ivf_params(100) == (16, 4)       # clamp floor
        assert auto_ivf_params(100_000) == (316, 19)
        nl, np_ = auto_ivf_params(10**12)
        assert nl == 4096 and np_ == 64              # clamp ceiling

    def test_ivf_auto_resolves_from_count(self, spark):
        """n_lists='auto'/n_probe='auto' size the index from one count
        job; with 40 rows that clamps to (16, 4) and the trained-free
        default path still returns k results per query."""
        from tslearn_spark.pipeline import ivf_topk

        df, _ = self.make_vecs(spark, n=40)
        out = ivf_topk(df, df, k=2, n_lists="auto", n_probe="auto")
        counts = {r["query_id"]: 0 for r in out.collect()}
        assert len(counts) == 40

    def test_clustered_corpus_generator(self, spark, tmp_path, monkeypatch):
        """tools.gen_scale_data.generate_clustered: deterministic under
        re-generation, labels = mixture component, same-cluster cosine
        far above cross-cluster (the geometry the recall bench relies
        on)."""
        import tools.gen_scale_data as g

        monkeypatch.setattr(g, "N_CLUSTERED", 600)
        monkeypatch.setattr(g, "CLUSTER_K", 12)
        g.generate_clustered(spark, str(tmp_path))
        p = str(tmp_path / "embeddings_clustered.parquet")
        pdf = spark.read.parquet(p).toPandas().sort_values("vec_id")
        V = np.array([list(v) for v in pdf["embedding"]])
        lab = pdf["label"].to_numpy()
        assert V.shape == (600, g.CLUSTER_DIM)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = Vn @ Vn.T
        same = S[(lab[:, None] == lab[None, :]) & ~np.eye(600, dtype=bool)]
        diff = S[lab[:, None] != lab[None, :]]
        assert same.mean() > 0.8 and abs(diff.mean()) < 0.2
        g.generate_clustered(spark, str(tmp_path))
        V2 = np.array([
            list(v) for v in spark.read.parquet(p).toPandas()
            .sort_values("vec_id")["embedding"]])
        np.testing.assert_array_equal(V, V2)


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        from tslearn_spark.pipeline.multimodal import (
            MEDIA_SCHEMA, extract_features, frame_sample,
        )

        rows = [
            (0, "image", b"aaa", "image/png", 8, 8, None),
            (1, "image", b"bbb", "image/png", 8, 8, None),
            (2, "video", b"ccc", "video/mp4", 64, 64, 3500),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = extract_features(media).collect()
        assert len(feats) == 3
        assert len(feats[0]["feat_vec"]) == 64
        # deterministic fake: same payload -> same features
        f0 = [f for f in feats if f["media_id"] == 0][0]
        assert 0.0 <= f0["feat_mean"] <= 1.0
        frames = frame_sample(media, every_ms=1000).collect()
        assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]

    @staticmethod
    def _wav_bytes(samples, framerate=8000):
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(framerate)
            w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
        return buf.getvalue()

    @staticmethod
    def _bmp_bytes(pixels):
        """Minimal uncompressed 24-bit BMP from an (h, w, 3) RGB uint8."""
        import struct

        px = np.asarray(pixels, dtype=np.uint8)
        h, w, _ = px.shape
        row_bytes = ((w * 3 + 3) // 4) * 4
        body = b""
        for r in range(h - 1, -1, -1):  # bottom-up rows, BGR order
            row = px[r, :, ::-1].tobytes()
            body += row + b"\x00" * (row_bytes - len(row))
        header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           len(body), 2835, 2835, 0, 0)
        return header + info + body

    def test_mp4_webm_metadata_roundtrip(self):
        """parse(build(params)) recovers every field; truncated/garbage
        bytes return None instead of raising (100-TB batch safety)."""
        from tslearn_spark.pipeline.multimodal import (
            build_mp4, build_webm, parse_media_metadata,
        )

        p = build_mp4(duration_ms=12345, n_tracks=2, n_samples=30,
                      sample_size=512, brand="mp42")
        assert parse_media_metadata(p) == {
            "container": "mp4", "brand": "mp42", "duration_ms": 12345,
            "n_tracks": 2, "n_samples": 60, "sample_bytes": 512 * 60}
        w = build_webm(duration_ms=7777, n_tracks=3)
        mw = parse_media_metadata(w)
        assert (mw["container"], mw["duration_ms"], mw["n_tracks"]) == \
            ("webm", 7777, 3)
        assert parse_media_metadata(b"") is None
        assert parse_media_metadata(b"\x00" * 100) is None
        assert parse_media_metadata(b"RIFF1234WAVE") is None
        for payload in (p, w):
            for cut in (3, 9, 17, len(payload) // 2, len(payload) - 1):
                parse_media_metadata(payload[:cut])  # never raises

    def test_extract_metadata_distributed(self, spark):
        """extract_metadata parses real container bytes per row; rows
        with unparseable payloads come back as nulls."""
        from tslearn_spark.pipeline.multimodal import (
            build_mp4, build_webm, extract_metadata,
        )

        rows = [
            (0, bytearray(build_mp4(1000, n_tracks=1, n_samples=4,
                                    sample_size=100))),
            (1, bytearray(build_webm(2500, n_tracks=2))),
            (2, bytearray(b"not a container")),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {r["media_id"]: r for r in extract_metadata(df).collect()}
        assert got[0]["container"] == "mp4"
        assert got[0]["duration_ms"] == 1000
        assert got[0]["n_samples"] == 4
        assert got[0]["sample_bytes"] == 400
        assert got[1]["container"] == "webm"
        assert got[1]["duration_ms"] == 2500 and got[1]["n_tracks"] == 2
        assert got[2]["container"] is None

    def test_real_wav_decode(self):
        from tslearn_spark.pipeline.multimodal import decode_wav

        samples = [0, 16384, -16384, 32767]
        arr = decode_wav(self._wav_bytes(samples))
        assert arr.shape == (4, 1)
        np.testing.assert_allclose(
            arr[:, 0], np.array(samples) / 32768.0, atol=1e-9)

    def test_real_bmp_decode(self):
        from tslearn_spark.pipeline.multimodal import decode_bmp

        px = np.array([[[255, 0, 0], [0, 255, 0]],
                       [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8)
        arr = decode_bmp(self._bmp_bytes(px))
        assert arr.shape == (2, 2, 3)
        np.testing.assert_allclose(arr, px / 255.0)

    def test_codecs_stdlib_dispatch(self, spark):
        """codecs='stdlib' decodes real WAV/BMP payloads and falls back
        to the fake for everything else; the default path is unchanged
        (the hash-gated driver query depends on that)."""
        from tslearn_spark.pipeline.multimodal import (
            MEDIA_SCHEMA, decode_image, extract_features,
        )

        from tests.test_properties import _encode_png

        wav = self._wav_bytes([16384] * 8)
        bmp = self._bmp_bytes(np.full((2, 2, 3), 255, dtype=np.uint8))
        png = _encode_png(np.full((2, 2, 3), 255, dtype=np.uint8), [0, 1])
        rows = [
            (0, "audio", wav, "audio/wav", None, None, 1),
            (1, "image", bmp, "image/bmp", 2, 2, None),
            (2, "image", b"opaque", "image/png", 8, 8, None),
            (3, "image", png, "image/png", 2, 2, None),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        real = {r["media_id"]: r for r in
                extract_features(media, codecs="stdlib").collect()}
        assert real[0]["feat_mean"] == pytest.approx(0.5)      # constant wav
        assert real[1]["feat_mean"] == pytest.approx(1.0)      # white bmp
        assert real[2]["feat_mean"] == pytest.approx(
            float(decode_image(b"opaque").mean()))             # fake fallback
        assert real[3]["feat_mean"] == pytest.approx(1.0)      # white png
        # default path: ALL payloads take the fake, even real WAV/BMP
        fake = {r["media_id"]: r for r in extract_features(media).collect()}
        assert fake[0]["feat_mean"] == pytest.approx(
            float(decode_image(wav).mean()))


class TestAnnOracleTieRobust:
    """Round-8 lock: the ANN oracles replay the engine's normalize-then-sum
    association, so ranking agrees even on adversarial tie data.

    The fixture's vectors have power-of-two norms and small-integer
    entries, so every normalized element is an exact dyadic (x/8 or
    x/16) and every cosine is EXACT in float64 regardless of summation
    order — both engines compute bit-identical cosines, and deliberate
    multi-way ties (duplicates, same-direction different-magnitude,
    permutations sharing a dot product, a zero vector) force the
    (cosine DESC, id ASC) tie-break to decide the ranking on both
    sides.  An oracle using the dot/(|a||b|) association passes on
    generic random data but is not guaranteed to here."""

    # all rows: sum of squares = 64 (norm 8) except #10 (256 -> norm 16)
    # and the zero vector #11; ids 8 and 2 are exact duplicates; #10 is
    # 2x #2 (same direction); #7/#9 tie with #2 against query #0
    _V = [
        (8, 0, 0, 0, 0, 0, 0, 0),      # 0
        (0, 8, 0, 0, 0, 0, 0, 0),      # 1
        (4, 4, 4, 4, 0, 0, 0, 0),      # 2
        (0, 0, 0, 0, 4, 4, 4, 4),      # 3
        (6, 4, 2, 2, 2, 0, 0, 0),      # 4
        (2, 6, 4, 2, 0, 2, 0, 0),      # 5
        (-8, 0, 0, 0, 0, 0, 0, 0),     # 6
        (4, 4, -4, -4, 0, 0, 0, 0),    # 7
        (4, 4, 4, 4, 0, 0, 0, 0),      # 8  dup of 2
        (4, -4, 4, -4, 0, 0, 0, 0),    # 9
        (8, 8, 8, 8, 0, 0, 0, 0),      # 10 same direction as 2, norm 16
        (0, 0, 0, 0, 0, 0, 0, 0),      # 11 zero vector
        (0, 0, 8, 0, 0, 0, 0, 0),      # 12
        (0, 0, 0, 8, 0, 0, 0, 0),      # 13
        (2, 2, 2, 2, 2, 2, 2, 6),      # 14
        (6, 2, 2, 2, 2, 2, 2, 2),      # 15
        (4, 0, 4, 0, 4, 0, 4, 0),      # 16
        (0, 4, 0, 4, 0, 4, 0, 4),      # 17
    ]

    def test_exact_tie_fixture_matches_duckdb(self, spark, tmp_path):
        import duckdb

        import __spark_entry__ as entrymod

        rows = [(i, [float(x) for x in v]) for i, v in enumerate(self._V)]
        fix = tmp_path / "annfix"
        fix.mkdir()
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(fix / "embeddings.parquet"))
        qs, osql = entrymod.queries(), entrymod.oracle_sql()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{fix}/embeddings.parquet/*.parquet')")
        for name in ("ann_cosine_topk", "ann_ivf_topk"):
            got = qs[name](spark, str(fix)).toPandas().sort_values(
                ["query_id", "rank"]).reset_index(drop=True)
            want = con.execute(osql[name]).fetchdf().sort_values(
                ["query_id", "rank"]).reset_index(drop=True)
            assert list(got["query_id"]) == list(want["query_id"]), name
            assert list(got["neighbor_id"]) == list(want["neighbor_id"]), name
            np.testing.assert_array_equal(
                got["cosine"].to_numpy(), want["cosine"].to_numpy(), name)
        # the fixture is genuinely adversarial: query 0's top-5 contains
        # tied cosines decided only by the id tie-break
        q0 = got[got["query_id"] == 0]["cosine"].to_numpy()
        assert len(np.unique(q0)) < len(q0)


class TestStreamingBatch:
    def events(self, spark):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        rows = []
        for u in range(2):
            for i in range(10):
                rows.append((u, base + datetime.timedelta(seconds=30 * i), float(i)))
        return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    def test_tumbling_paa(self, spark):
        from tslearn_spark.streaming import stream_tumbling_paa

        out = stream_tumbling_paa(self.events(spark), window_duration="1 minute")
        rows = [r for r in out.collect() if r["user_id"] == 0]
        assert len(rows) == 5  # 10 events x 30s = 5 minutes
        first = sorted(rows, key=lambda r: r["win_start"])[0]
        assert first["segment_mean"] == pytest.approx(0.5)
        assert first["n_events"] == 2

    def test_envelope(self, spark):
        from tslearn_spark.streaming import stream_envelope

        out = stream_envelope(self.events(spark), window_duration="2 minutes",
                              slide="1 minute")
        rows = [r for r in out.collect() if r["user_id"] == 0]
        assert all(r["env_lower"] <= r["env_upper"] for r in rows)

    def test_running_zscore_stateful(self, spark, tmp_path):
        """applyInPandasWithState custom operator over a real stream:
        per-event z against the PRIOR history, checked against a
        straight pandas replay of the Welford recurrence."""
        import datetime

        import numpy as np

        from tslearn_spark.streaming import stream_running_zscore

        base = datetime.datetime(2024, 1, 1)
        rng = np.random.RandomState(7)
        vals = rng.randn(30).tolist() + [50.0]  # big spike at the end
        rows = [(0, base + datetime.timedelta(seconds=i), float(v))
                for i, v in enumerate(vals)]
        src_dir = str(tmp_path / "zsrc")
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src_dir)
        out = stream_running_zscore(stream, threshold=3.0, min_obs=10)
        q = (
            out.writeStream.format("memory").queryName("run_z")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["ts"]: (r["z"], r["is_anomaly"])
               for r in spark.sql("SELECT * FROM run_z").collect()}
        assert len(got) == len(vals)
        # pandas replay of the same recurrence
        n, mean, m2 = 0, 0.0, 0.0
        for i, v in enumerate(vals):
            std = (m2 / (n - 1)) ** 0.5 if n > 1 else 0.0
            z = (v - mean) / std if std > 0 else 0.0
            ts = base + datetime.timedelta(seconds=i)
            assert got[ts][0] == pytest.approx(z, abs=1e-9)
            assert got[ts][1] == (abs(z) > 3.0 and n >= 10)
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
        assert got[base + datetime.timedelta(seconds=30)][1]  # spike flagged

    def test_stream_matrix_profile_stateful(self, spark, tmp_path):
        """Online matrix profile over a real stream: each point's newest
        subsequence scored against the bounded-horizon history, checked
        against a straight numpy replay of the same rolling buffer."""
        import datetime

        import numpy as np

        from tslearn_spark.streaming import stream_matrix_profile

        m, horizon = 4, 20
        band, keep = 1, horizon + m - 1
        base = datetime.datetime(2024, 1, 1)
        rng = np.random.RandomState(9)
        vals = np.tile(np.sin(np.linspace(0, 2 * np.pi, 8)), 6).tolist()
        vals[40] = 9.0  # a discord spike
        rows = [(0, base + datetime.timedelta(seconds=i), float(v))
                for i, v in enumerate(vals)]
        src_dir = str(tmp_path / "mpsrc")
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src_dir)
        # default NoTimeout: with ProcessingTimeTimeout the availableNow
        # trigger lingers until pending timeouts fire (~timeout duration),
        # which is correct engine behavior but pointless test wall-time
        out = stream_matrix_profile(stream, subsequence_length=m, horizon=horizon,
                                    scale=False)
        q = (
            out.writeStream.format("memory").queryName("mp_stream")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["ts"]: r["mp"]
               for r in spark.sql("SELECT * FROM mp_stream").collect()}

        # numpy replay of the identical rolling-buffer recurrence
        buf: list[float] = []
        expected = {}
        for i, v in enumerate(vals):
            buf.append(float(v))
            if len(buf) > keep:
                buf = buf[-keep:]
            n = len(buf)
            if n < m + band + 1:
                continue
            arr = np.asarray(buf)
            w_new = arr[n - m:]
            n_prev = n - m - band
            idx = np.arange(m)[None, :] + np.arange(n_prev)[:, None]
            d2 = ((arr[idx] - w_new[None, :]) ** 2).sum(axis=1)
            expected[base + datetime.timedelta(seconds=i)] = float(np.sqrt(d2.min()))
        assert set(got) == set(expected)
        for ts in expected:
            assert got[ts] == pytest.approx(expected[ts], abs=1e-9)
        # the spike's subsequences stand out from the periodic history
        spike_ts = base + datetime.timedelta(seconds=40)
        normal = np.median([v for t, v in got.items() if abs((t - spike_ts).total_seconds()) > 5])
        assert got[spike_ts] > 5 * max(normal, 1e-9)

    def test_stream_matrix_profile_scaled(self, spark, tmp_path):
        """scale=True (the batch-mirroring default): every window is
        z-normalized before the distance, checked against a normalized
        numpy replay."""
        import datetime

        import numpy as np

        from tslearn_spark.streaming import stream_matrix_profile

        m, horizon = 4, 20
        band, keep = 1, horizon + m - 1
        base = datetime.datetime(2024, 1, 1)
        vals = np.tile(np.sin(np.linspace(0, 2 * np.pi, 8)), 4).tolist()
        rows = [(0, base + datetime.timedelta(seconds=i), float(v))
                for i, v in enumerate(vals)]
        src_dir = str(tmp_path / "mpssrc")
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src_dir)
        out = stream_matrix_profile(stream, subsequence_length=m, horizon=horizon)
        q = (
            out.writeStream.format("memory").queryName("mps_stream")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["ts"]: r["mp"]
               for r in spark.sql("SELECT * FROM mps_stream").collect()}

        def znorm(W):
            mu = W.mean(axis=-1, keepdims=True)
            sd = W.std(axis=-1, keepdims=True)
            sd = np.where(sd == 0.0, 1.0, sd)
            return (W - mu) / sd

        buf: list[float] = []
        expected = {}
        for i, v in enumerate(vals):
            buf.append(float(v))
            if len(buf) > keep:
                buf = buf[-keep:]
            n = len(buf)
            if n < m + band + 1:
                continue
            arr = np.asarray(buf)
            w_new = znorm(arr[n - m:])
            n_prev = n - m - band
            idx = np.arange(m)[None, :] + np.arange(n_prev)[:, None]
            W = znorm(arr[idx])
            d2 = ((W - w_new[None, :]) ** 2).sum(axis=1)
            expected[base + datetime.timedelta(seconds=i)] = float(np.sqrt(d2.min()))
        assert set(got) == set(expected)
        for ts in expected:
            assert got[ts] == pytest.approx(expected[ts], abs=1e-9)

    def test_stream_matrix_profile_idle_eviction(self, spark, tmp_path):
        """idle_timeout_ms eviction FIRES: after a quiet period longer
        than the timeout, the key's buffer state is dropped, so a second
        burst restarts cold (its early points emit no mp rows where a
        retained buffer would have scored them all)."""
        import datetime
        import time

        from tslearn_spark.streaming import stream_matrix_profile

        m = 4  # band=1 -> a point emits only once its key has >= 6 points
        base = datetime.datetime(2024, 1, 1)

        def burst(start_s, n):
            return [(0, base + datetime.timedelta(seconds=start_s + i), float(i % 3))
                    for i in range(n)]

        src_dir = str(tmp_path / "evsrc")
        spark.createDataFrame(
            burst(0, 10), "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src_dir)
        out = stream_matrix_profile(
            stream, subsequence_length=m, horizon=20, idle_timeout_ms=1500,
        )
        q = (
            out.writeStream.format("memory").queryName("mp_evict")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds").start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM mp_evict").first()["c"] >= 5:
                    break
                time.sleep(0.5)
            n_first = spark.sql("SELECT count(*) c FROM mp_evict").first()["c"]
            assert n_first == 5  # burst 1: points 6..10 emit
            # quiet period >> timeout: no-data micro-batches fire the
            # ProcessingTimeTimeout and the state is removed
            time.sleep(5)
            spark.createDataFrame(
                burst(100, 6), "user_id long, ts timestamp, value double"
            ).coalesce(1).write.mode("append").parquet(src_dir)
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM mp_evict").first()["c"] > n_first:
                    break
                time.sleep(0.5)
            n_total = spark.sql("SELECT count(*) c FROM mp_evict").first()["c"]
            # cold restart: only the 6th point of burst 2 emits.  A
            # retained buffer would have emitted all 6 (n_total == 11).
            assert n_total == n_first + 1
        finally:
            q.stop()

    def test_stream_exact_dedup_ttl_eviction(self, spark, tmp_path):
        """ttl_ms bounds dedup state (the dropDuplicatesWithinWatermark
        trade): within the TTL a duplicate is dropped; after a quiet
        period longer than the TTL the hash is forgotten and the same
        content is re-admitted."""
        import time

        from tslearn_spark.streaming import stream_exact_dedup

        src_dir = str(tmp_path / "ttlsrc")
        spark.createDataFrame(
            [(0, "alpha text"), (1, "beta text"), (2, "alpha text")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
        out = stream_exact_dedup(stream, ttl_ms=1500)
        q = (
            out.writeStream.format("memory").queryName("dedup_ttl")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds").start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                got = {r["doc_id"] for r in spark.sql("SELECT * FROM dedup_ttl").collect()}
                if got >= {0, 1}:
                    break
                time.sleep(0.5)
            # within-TTL duplicate (id 2) dropped, first-seens emitted
            assert got == {0, 1}
            time.sleep(5)  # > TTL with no traffic: state evicted
            spark.createDataFrame(
                [(10, "alpha text")], "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(src_dir)
            deadline = time.time() + 60
            while time.time() < deadline:
                got = {r["doc_id"] for r in spark.sql("SELECT * FROM dedup_ttl").collect()}
                if 10 in got:
                    break
                time.sleep(0.5)
            # the forgotten hash re-admits the late duplicate
            assert got == {0, 1, 10}
        finally:
            q.stop()

    def test_stream_running_zscore_idle_eviction(self, spark, tmp_path):
        """idle_timeout_ms drops a key's Welford state: after a quiet
        period a wild value scores z=0 (cold statistics), where retained
        state would have flagged it."""
        import datetime
        import time

        from tslearn_spark.streaming import stream_running_zscore

        base = datetime.datetime(2024, 1, 1)
        rows = [(0, base + datetime.timedelta(seconds=i), float(i % 2))
                for i in range(12)]
        src_dir = str(tmp_path / "zevsrc")
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src_dir)
        out = stream_running_zscore(stream, threshold=3.0, min_obs=5,
                                    idle_timeout_ms=1500)
        q = (
            out.writeStream.format("memory").queryName("z_evict")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds").start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM z_evict").first()["c"] >= 12:
                    break
                time.sleep(0.5)
            assert spark.sql("SELECT count(*) c FROM z_evict").first()["c"] == 12
            time.sleep(5)  # > idle timeout: Welford state evicted
            spike_ts = base + datetime.timedelta(seconds=100)
            spark.createDataFrame(
                [(0, spike_ts, 50.0)], "user_id long, ts timestamp, value double"
            ).coalesce(1).write.mode("append").parquet(src_dir)
            deadline = time.time() + 60
            row = None
            while time.time() < deadline:
                rows2 = spark.sql(
                    "SELECT * FROM z_evict WHERE value = 50.0"
                ).collect()
                if rows2:
                    row = rows2[0]
                    break
                time.sleep(0.5)
            # cold restart: n=0 -> z defined as 0.0, no anomaly flag.
            # Retained state would have scored |z| >> 3 with n=12 >= min_obs.
            assert row is not None
            assert row["z"] == 0.0 and not row["is_anomaly"]
        finally:
            q.stop()

    def test_stream_exact_dedup_stateful(self, spark, tmp_path):
        """First-seen-wins dedup over a real stream: duplicate payloads
        across micro-batches are dropped by the per-hash state."""
        from tslearn_spark.streaming import stream_exact_dedup

        rows = [
            (0, "alpha text"), (1, "beta text"), (2, "alpha text"),
            (3, "  ALPHA TEXT "), (4, "gamma text"), (5, "beta text"),
        ]
        src_dir = str(tmp_path / "dsrc")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
        out = stream_exact_dedup(stream)
        q = (
            out.writeStream.format("memory").queryName("dedup_s")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["doc_id"] for r in spark.sql("SELECT * FROM dedup_s").collect()}
        assert got == {0, 1, 4}  # 2/3 dup alpha (normalized), 5 dup beta

    def test_stream_exact_dedup_batch_twin(self, spark):
        from tslearn_spark.streaming import stream_exact_dedup

        rows = [(0, "a"), (1, "b"), (2, "a"), (3, "c"), (4, "b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"] for r in stream_exact_dedup(df).collect()}
        assert got == {0, 1, 3}

    def test_stream_lsh_candidates_batch_vs_stream(self, spark, tmp_path):
        """Streaming MinHash-LSH candidates == the batch twin on the same
        docs, and an exact duplicate collides in every band."""
        from tslearn_spark.streaming import stream_lsh_candidates

        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "completely different payload about spark engines"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox leaps over the lazy dog"),
            (4, "another unrelated text with its own tokens"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        batch = {(r.band, r.id1, r.id2)
                 for r in stream_lsh_candidates(df).collect()}
        # identical docs 0/2 share every band signature
        assert {(b, 0, 2) for b in range(8)} <= batch
        assert all(i1 < i2 for _, i1, i2 in batch)

        src_dir = str(tmp_path / "lsh_src")
        df.coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
        out = stream_lsh_candidates(stream)
        q = (
            out.writeStream.format("memory").queryName("lsh_s")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {(r.band, r.id1, r.id2)
               for r in spark.sql("SELECT * FROM lsh_s").collect()}
        assert got == batch

    def test_stream_lsh_candidates_bucket_cap(self, spark):
        """bucket_cap=1: only the bucket's first doc seeds pairs — later
        members pair with it but never with each other."""
        from tslearn_spark.streaming import stream_lsh_candidates

        rows = [(i, "same text for every doc") for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.id1, r.id2)
               for r in stream_lsh_candidates(df, bucket_cap=1).collect()}
        assert got == {(0, 1), (0, 2), (0, 3)}

    @staticmethod
    def clustered_vecs(spark, n=60, d=8, seed=7):
        rs = np.random.RandomState(seed)
        centers = rs.randn(6, d) * 4
        v = np.vstack([c + rs.randn(n // 6, d) * 0.15 for c in centers])
        rows = [(int(i), v[i].tolist()) for i in range(len(v))]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"), v

    def test_stream_ann_lsh_batch_vs_stream(self, spark, tmp_path):
        """Streaming hyperplane-LSH ANN candidates == the batch twin on
        id-ordered micro-batches, with multi-probe ON (the r10 batch
        lever reused by streaming)."""
        from tslearn_spark.streaming import stream_ann_lsh_candidates

        df, _ = self.clustered_vecs(spark)
        kw = dict(dim=8, bits=6, n_tables=2, n_probes=4)
        batch = {(r.t, r.id1, r.id2)
                 for r in stream_ann_lsh_candidates(df, **kw).collect()}
        assert batch and all(i1 < i2 for _, i1, i2 in batch)

        src_dir = str(tmp_path / "ann_src")
        # range-partitioned by id: micro-batch order == global id order,
        # the precondition for stream == batch-twin equality
        df.repartitionByRange(3, "vec_id").write.mode(
            "overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).option("maxFilesPerTrigger", 1).parquet(src_dir)
        out = stream_ann_lsh_candidates(stream, **kw)
        q = (
            out.writeStream.format("memory").queryName("ann_lsh_s")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {(r.t, r.id1, r.id2)
               for r in spark.sql("SELECT * FROM ann_lsh_s").collect()}
        assert got == batch

    def test_stream_ann_lsh_multiprobe_state_and_recall(self, spark):
        """Multi-probe widens the QUERY side only: candidate coverage of
        the true top-1 pairs rises vs single-probe while the stored
        index (home-bucket members) is identical by construction."""
        from tslearn_spark.pipeline import brute_force_topk
        from tslearn_spark.streaming import stream_ann_lsh_candidates

        rs = np.random.RandomState(9)
        centers = rs.randn(6, 8) * 4
        v = np.vstack([c + rs.randn(20, 8) * 1.0 for c in centers])
        df = spark.createDataFrame(
            [(int(i), v[i].tolist()) for i in range(len(v))],
            "vec_id long, embedding array<double>")
        # bucket_cap above the cluster size: recall then measures PROBE
        # coverage, not cap truncation; spread 1.0 puts true neighbors
        # across hyperplane boundaries where probing is what finds them
        kw = dict(dim=8, bits=10, n_tables=2, bucket_cap=64)
        single = {(r.id1, r.id2)
                  for r in stream_ann_lsh_candidates(
                      df, n_probes=1, **kw).collect()}
        multi = {(r.id1, r.id2)
                 for r in stream_ann_lsh_candidates(
                     df, n_probes=8, **kw).collect()}
        # earlier-only contract: compare against earlier-neighbor truths
        exact = {(r["neighbor_id"], r["query_id"])
                 for r in brute_force_topk(df, df, k=1).collect()
                 if r["neighbor_id"] < r["query_id"]}
        rec1 = len(exact & single) / max(len(exact), 1)
        recp = len(exact & multi) / max(len(exact), 1)
        assert recp > rec1  # measured 0.848 -> 1.0 on this fixture
        assert recp >= 0.95
        # probing never inserts: single-probe candidates are a subset
        # (same home buckets, same stored members)
        assert single <= multi

    def test_stream_ann_lsh_probe_sequence_shared(self):
        """The streaming op and the batch multiprobe UDF enumerate the
        SAME probe masks — probe_masks is the single shared source."""
        from tslearn_spark.pipeline.simsearch import probe_masks

        rs = np.random.RandomState(3)
        z = np.abs(rs.randn(10))
        masks = probe_masks(z, 10, 16)
        assert masks[0] == 0 and len(masks) == 16
        assert len(set(masks)) == 16
        # replay the shift/expand heap independently
        import heapq
        order = np.argsort(z, kind="stable")
        zs = z[order]
        heap = [(float(zs[0]), (0,))]
        want = [0]
        while heap and len(want) < 16:
            s, S = heapq.heappop(heap)
            m = 0
            for j in S:
                m |= 1 << int(order[j])
            want.append(m)
            mx = S[-1]
            if mx + 1 < 10:
                heapq.heappush(heap, (s + float(zs[mx + 1]), S + (mx + 1,)))
                heapq.heappush(heap, (s - float(zs[mx]) + float(zs[mx + 1]),
                                      S[:-1] + (mx + 1,)))
        assert masks == want

    def test_sessions(self, spark):
        import datetime

        from tslearn_spark.streaming import stream_session_stats

        base = datetime.datetime(2024, 1, 1)
        rows = [(0, base + datetime.timedelta(seconds=s), 1.0) for s in (0, 10, 20)]
        rows += [(0, base + datetime.timedelta(seconds=s), 2.0) for s in (1000, 1010)]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = stream_session_stats(ev, gap="1 minute").collect()
        assert len(out) == 2
        ns = sorted(r["n_events"] for r in out)
        assert ns == [2, 3]

    def test_streaming_mode_runs(self, spark, tmp_path):
        """True readStream->writeStream micro-batch over a file source."""
        import datetime

        from tslearn_spark.streaming import stream_tumbling_paa

        src = str(tmp_path / "stream_src")
        self.events(spark).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src)
        out = stream_tumbling_paa(stream, window_duration="1 minute")
        q = (
            out.writeStream.format("memory").queryName("paa_stream")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        got = spark.sql("SELECT count(*) AS n FROM paa_stream").first()["n"]
        assert got == 10  # 2 users x 5 windows

    def test_watermark_drops_late_events_and_state(self, spark, tmp_path):
        """Round-8 lock: late-data semantics under a real watermark.

        Two checkpointed availableNow runs over a file source with a
        file sink (append mode — the mode where watermarks finalize
        windows).  Run 1 establishes watermark = max(ts) - 2min and
        flushes every window ending at or before it.  Run 2 injects an
        event BEHIND that watermark into an already-finalized window
        plus on-time events: the late event must be dropped (the
        finalized window is never re-emitted and never corrected), the
        on-time windows must emit, and the final output must equal the
        batch twin over the NON-LATE events restricted to windows the
        final watermark finalized.  The state store must shrink to the
        un-finalized tail — the 100-TB streaming concern (unbounded
        window state).
        """
        import datetime

        from tslearn_spark.streaming import stream_tumbling_paa

        def t(m, s=10):
            return datetime.datetime(2024, 1, 1, 10, m, s)

        src = tmp_path / "wm_src"
        sink = tmp_path / "wm_sink"
        ckpt = tmp_path / "wm_ckpt"
        src.mkdir()

        def run_once():
            stream = spark.readStream.schema(
                "user_id long, ts timestamp, value double"
            ).parquet(str(src))
            out = stream_tumbling_paa(
                stream, window_duration="1 minute", watermark="2 minutes")
            q = (
                out.writeStream.format("parquet")
                .option("path", str(sink))
                .option("checkpointLocation", str(ckpt))
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            return q

        batch1 = [(1, t(0), 1.0), (1, t(1), 2.0), (1, t(2), 3.0),
                  (1, t(5, 50), 4.0)]
        spark.createDataFrame(
            batch1, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(str(src / "b1"))
        # single-dir file source: register both batches' files under src
        import shutil
        for f in (src / "b1").glob("*.parquet"):
            shutil.move(str(f), str(src / f.name))
        run_once()
        emitted1 = spark.read.parquet(str(sink))
        # watermark = 10:05:50 - 2min = 10:03:50 -> windows ending
        # <= 10:03:50 finalized: 10:00, 10:01, 10:02 starts
        got1 = {r["win_start"].minute: (r["n_events"], r["segment_mean"])
                for r in emitted1.collect()}
        assert got1 == {0: (1, 1.0), 1: (1, 2.0), 2: (1, 3.0)}

        # run 2: a LATE event behind the watermark aimed at the already-
        # finalized 10:00 window, plus on-time events advancing the
        # watermark to 10:06:00 (finalizing the 10:04 and 10:05 windows)
        batch2 = [(1, t(0, 30), 100.0),          # late -> must be dropped
                  (1, t(4), 5.0),                # on-time, new window
                  (1, t(8, 0), 6.0)]             # advances watermark
        spark.createDataFrame(
            batch2, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(str(src / "b2"))
        for f in (src / "b2").glob("*.parquet"):
            shutil.move(str(f), str(src / f.name))
        q2 = run_once()

        final = spark.read.parquet(str(sink))
        got = {r["win_start"].minute: (r["n_events"], r["segment_mean"])
               for r in final.collect()}
        # the late 100.0 never lands: the 10:00 window keeps its run-1
        # values and is not duplicated; 10:05:50's window [10:05,10:06)
        # finalizes exactly at watermark == window end
        assert got == {0: (1, 1.0), 1: (1, 2.0), 2: (1, 3.0),
                       4: (1, 5.0), 5: (1, 4.0)}
        assert final.count() == 5  # no re-emission of finalized windows
        # batch-twin agreement on the finalized region over NON-late data
        batch_all = spark.createDataFrame(
            batch1 + batch2[1:], "user_id long, ts timestamp, value double")
        twin = {r["win_start"].minute: (r["n_events"], r["segment_mean"])
                for r in stream_tumbling_paa(batch_all).collect()
                if r["win_start"].minute < 6}
        assert got == twin
        # state store kept only the un-finalized tail (the 10:08 window)
        prog = q2.lastProgress
        if prog and prog.get("stateOperators"):
            assert prog["stateOperators"][0]["numRowsTotal"] <= 2

    def test_session_window_watermark_merge_and_late_drop(self, spark,
                                                          tmp_path):
        """Session windows under a real watermark: a late event aimed at
        an already-finalized session is dropped (never re-opens it), an
        on-time event that bridges into a live session MERGES with it,
        and only sessions whose (end + gap) fell behind the watermark
        are emitted."""
        import datetime

        from tslearn_spark.streaming import stream_session_stats

        def t(m, s=0):
            return datetime.datetime(2024, 1, 1, 10, m, s)

        src = tmp_path / "sw_src"
        sink = tmp_path / "sw_sink"
        ckpt = tmp_path / "sw_ckpt"
        src.mkdir()
        import shutil

        def add(rows, name):
            spark.createDataFrame(
                rows, "user_id long, ts timestamp, value double"
            ).coalesce(1).write.mode("append").parquet(str(src / name))
            for f in (src / name).glob("*.parquet"):
                shutil.move(str(f), str(src / f"{name}_{f.name}"))

        def run_once():
            stream = spark.readStream.schema(
                "user_id long, ts timestamp, value double"
            ).parquet(str(src))
            out = stream_session_stats(stream, gap="1 minute",
                                       watermark="2 minutes")
            q = (
                out.writeStream.format("parquet").option("path", str(sink))
                .option("checkpointLocation", str(ckpt))
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        # run 1: session A = two events within the gap; a far heartbeat
        # advances the watermark to 10:08 and finalizes A
        add([(1, t(0, 0), 1.0), (1, t(0, 30), 2.0), (1, t(10), 9.0)], "b1")
        run_once()
        got1 = {(r["session_start"].minute, r["n_events"],
                 r["mean_value"])
                for r in spark.read.parquet(str(sink)).collect()}
        assert got1 == {(0, 2, 1.5)}  # A emitted once; heartbeat still open

        # run 2: late event inside finalized A (dropped), an on-time
        # event whose gap-window bridges INTO the live heartbeat session
        # (merges), and a final event advancing the watermark past both
        add([(1, t(0, 45), 100.0),   # late -> dropped, A never re-emitted
             (1, t(9, 30), 3.0),     # merges with the 10:10 heartbeat
             (1, t(20), 0.0)], "b2")
        run_once()
        got = {(r["session_start"].minute, r["session_start"].second,
                r["n_events"], r["mean_value"])
               for r in spark.read.parquet(str(sink)).collect()}
        # A keeps its run-1 values; merged session spans 10:09:30-10:11
        assert got == {(0, 0, 2, 1.5), (9, 30, 2, 6.0)}


class TestTopkTiebreak:
    """Pure-numpy lock on the tie-aware partial top-k helpers."""

    def test_matrix_matches_per_column_on_planted_ties(self):
        from tslearn_spark.topk import topk_matrix_tiebreak, topk_rows_tiebreak

        rs = np.random.RandomState(11)
        scores = rs.randint(0, 6, size=(40, 17)).astype(float)  # many ties
        ids = rs.permutation(40).astype(np.int64)
        for largest in (False, True):
            sel = topk_matrix_tiebreak(scores, ids, 5, largest=largest)
            for qi in range(scores.shape[1]):
                want = topk_rows_tiebreak(scores[:, qi], ids, 5,
                                          largest=largest)
                got_set = {(scores[r, qi], ids[r]) for r in sel[:, qi]}
                want_set = {(scores[r, qi], ids[r]) for r in want}
                assert got_set == want_set, (qi, largest)

    def test_cutoff_tie_resolves_by_smallest_id(self):
        from tslearn_spark.topk import topk_rows_tiebreak

        scores = np.array([1.0, 2.0, 2.0, 2.0, 3.0])
        ids = np.array([50, 40, 10, 30, 5])
        rows = topk_rows_tiebreak(scores, ids, 2)
        # 1.0 always in; the 2.0 three-way tie must pick id 10
        assert set(ids[rows]) == {50, 10}
