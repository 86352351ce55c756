"""Physical-plan shape locks for the hot operators.

tools/explain_audit.py audits the full driver-query roster and writes
PLANS.md; these tests pin the subset of plan properties that a future
refactor could silently regress — the 100-TB-critical shapes:

* broadcast joins where a small side must never shuffle,
* no CartesianProduct outside declared all-pairs operators,
* scalar-only shuffles (vectors/series payloads projected away before
  the exchange),
* Python stages vectorized (ArrowEvalPython / MapInPandas /
  MapInArrow, never BatchEvalPython row-at-a-time UDFs).

Each test builds the SAME DataFrame the operator builds in production
on tiny in-memory inputs — plan shape is data-size independent for the
properties asserted here (strategy-affecting gates like the broadcast
byte budgets are forced through their intended branch explicitly).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def series_df(spark, n=12, sz=16, seed=0):
    rs = np.random.RandomState(seed)
    rows = [
        (i, [[float(x)] for x in rs.randn(sz)], int(i % 2)) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "series_id long, values array<array<double>>, label int"
    )


def embeddings_df(spark, n=20, d=8, seed=1):
    rs = np.random.RandomState(seed)
    return spark.createDataFrame(
        [(i, [float(x) for x in rs.randn(d)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


class TestNoRowAtATimePython:
    def test_knn_generic_pair_join_is_arrow(self, spark):
        """The elastic-metric kernel must be an Arrow-batched pandas UDF
        (ArrowEvalPython), never a pickled row-at-a-time one."""
        from tslearn_spark.neighbors import kneighbors

        df = series_df(spark)
        nn = kneighbors(df, df, k=3, metric="softdtw", drop_self=True)
        plan = plan_of(nn)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan


class TestBroadcastShapes:
    def test_stream_ann_lsh_batch_twin_is_arrow_single_shuffle(self, spark):
        """stream_ann_lsh_candidates' batch twin: the signature/probe
        stage is MapInPandas (Arrow), never a row-at-a-time Python UDF,
        and the plan has exactly ONE exchange — the (t, bucket) grouped
        aggregate; pair expansion happens in-row after it."""
        from tslearn_spark.streaming import stream_ann_lsh_candidates

        import re

        df = embeddings_df(spark)
        plan = plan_of(stream_ann_lsh_candidates(
            df, dim=8, bits=6, n_tables=2, n_probes=4))
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" in plan
        # count NODES, not substring hits: explain("formatted") prints
        # every node twice (tree line + detail header), so a bare
        # plan.count("Exchange") reads 2 for a single shuffle
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1

    def test_knn_classify_label_join_broadcast(self, spark):
        """The (tiny) train-label join must be a BroadcastHashJoin — a
        shuffle join here would move every scored pair for a dim table."""
        from tslearn_spark.neighbors import knn_classify

        df = series_df(spark)
        pred = knn_classify(df, df, k=3, metric="euclidean")
        plan = plan_of(pred)
        assert "BroadcastHashJoin" in plan

    @pytest.mark.parametrize("op", ["classify", "regress"])
    def test_broadcast_dtw_predict_is_one_map_stage(self, spark, op):
        """Broadcast-DTW kNN predict ranks and votes inside the kernel
        task: one MapInArrow, no Window, no label BroadcastHashJoin and
        exactly one Exchange (size_tasks' round-robin below the map)."""
        import re

        from tslearn_spark.neighbors import knn_classify, knn_regress

        # three query partitions for one task's work: size_tasks
        # round-robins them to one
        df = series_df(spark).withColumn("y", F.col("label") * 1.5)
        q = df.repartition(3)
        if op == "classify":
            pred = knn_classify(q, df, k=3, metric="dtw",
                                sakoe_chiba_radius=2)
        else:
            pred = knn_regress(q, df, k=3, metric="dtw", weights="distance")
        plan = plan_of(pred)
        assert len(re.findall(r"\(\d+\) MapInArrow\b", plan)) == 1
        assert "Window" not in plan
        assert "BroadcastHashJoin" not in plan
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1

    def test_broadcast_dtw_kneighbors_has_no_window(self, spark):
        from tslearn_spark.neighbors import kneighbors

        df = series_df(spark)
        plan = plan_of(kneighbors(df, df, k=3, metric="dtw", drop_self=True))
        assert "MapInArrow" in plan
        assert "Window" not in plan

    def test_euclidean_gate_falls_back_past_byte_budget(self, spark, monkeypatch):
        """Past the broadcast values budget the euclidean path must use
        the generic distributed pair join, not a driver collect."""
        import tslearn_spark.neighbors as N
        import tslearn_spark.session as S

        df = series_df(spark, n=10, sz=16)
        monkeypatch.setattr(S, "BROADCAST_LIMIT_VALUES", 10)
        nn = N.kneighbors(df, df, k=2, metric="euclidean", drop_self=True)
        plan = plan_of(nn)
        # generic path: no MapInArrow partial-top-k stage (that is the
        # broadcast fast path's signature); still exact
        assert "MapInArrow" not in plan
        got = {r["id1"] for r in nn.collect()}
        assert got == set(range(10))

    def test_euclidean_gate_uses_broadcast_under_budget(self, spark):
        from tslearn_spark.neighbors import kneighbors

        df = series_df(spark, n=10, sz=16)
        nn = kneighbors(df, df, k=2, metric="euclidean", drop_self=True)
        assert "MapInArrow" in plan_of(nn)


class TestNoCartesianProduct:
    @pytest.mark.parametrize("builder", ["lsh_topk", "ivf_topk", "minhash"])
    def test_bucketed_operators_never_cross_join(self, spark, builder):
        """Every near-dup / ANN generator must pair through an equi-join
        on bucket keys — a CartesianProduct or BroadcastNestedLoopJoin
        means the bucketing silently degenerated to all-pairs."""
        docs = spark.createDataFrame(
            [(i, f"doc number {i} common words here") for i in range(10)],
            "doc_id long, text string",
        )
        if builder == "lsh_topk":
            from tslearn_spark.pipeline import lsh_topk

            df = lsh_topk(embeddings_df(spark), embeddings_df(spark), k=3,
                          bits=4, n_tables=2, dim=8)
        elif builder == "ivf_topk":
            from tslearn_spark.pipeline import ivf_topk

            df = ivf_topk(embeddings_df(spark), embeddings_df(spark), k=3,
                          n_lists=4, n_probe=2)
        else:
            from tslearn_spark.pipeline import minhash_lsh_candidates

            df = minhash_lsh_candidates(docs, num_hashes=16, bands=4,
                                        verify_threshold=0.3)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestScalarOnlyShuffles:
    def test_lsh_topk_dedup_shuffle_carries_no_vectors(self, spark):
        """The cross-table dedup aggregate must shuffle (id, id, cosine)
        scalars — the embedding arrays stay on the map side of the
        bucket join (the r5 '!partial_first(qv)' check)."""
        from tslearn_spark.pipeline import lsh_topk

        df = lsh_topk(embeddings_df(spark), embeddings_df(spark), k=3,
                      bits=4, n_tables=2, dim=8)
        plan = plan_of(df)
        assert "partial_max(cosine" in plan
        assert "partial_first(qv" not in plan
        assert "partial_first(cv" not in plan

    def test_knn_topk_shuffle_carries_no_series(self, spark):
        """kneighbors projects the series payloads away before the
        top-k window shuffle: the exchange below the Window must move
        only (id1, id2, dist)."""
        from tslearn_spark.neighbors import kneighbors

        df = series_df(spark)
        nn = kneighbors(df, df, k=3, metric="softdtw", drop_self=True)
        plan = plan_of(nn)
        # the Window input exchange hashes id1; 'values' must not appear
        # in any Exchange's output attribute list
        import re

        for m in re.finditer(r"\(\d+\) Exchange[^\n]*\n((?:   [^\n]*\n)*)", plan):
            assert "values" not in m.group(1), m.group(0)


class TestPushdownAndPruning:
    def test_parquet_filter_and_column_pushdown(self, spark, tmp_path):
        """A filtered 2-column projection over parquet must reach the
        scan: PushedFilters non-empty and ReadSchema pruned."""
        path = str(tmp_path / "t.parquet")
        spark.range(100).select(
            F.col("id"), (F.col("id") % 7).alias("k"),
            F.lit("payload").alias("junk1"), F.lit(1.5).alias("junk2"),
        ).write.parquet(path)
        df = spark.read.parquet(path).where(F.col("k") > 3).select("id", "k")
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(k), GreaterThan(k,3)]" in plan
        assert "junk1" not in plan.split("ReadSchema")[1].splitlines()[0]

    def test_video_metadata_plan_is_pruned_map_only(self, spark):
        """multimodal_video_metadata plan lock: the documents scan reads
        ONLY (doc_id, n_chars) — the wide text column is pruned — and
        the whole query is two chained MapInPandas stages with ZERO
        exchanges (build container bytes, parse them back)."""
        import os

        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        if not os.path.exists(sf):
            import pytest as _pytest

            _pytest.skip("driver testdata absent")
        df = entry.queries()["multimodal_video_metadata"](spark, sf)
        plan = plan_of(df)
        read_schema = plan.split("ReadSchema")[1].splitlines()[0]
        assert "doc_id" in read_schema and "n_chars" in read_schema
        assert "text" not in read_schema
        # two nodes, each named in the tree AND its detail section
        assert plan.count("MapInPandas") == 4
        assert "Exchange" not in plan


class TestDeclaredAllPairs:
    def test_cdist_triangle_is_declared_all_pairs(self, spark):
        """cdist_* IS all-pairs by reference semantics — the triangle
        builds through a broadcast nested-loop on id1 < id2.  Locked
        here so the exemption list in TestNoCartesianProduct stays
        explicit and auditable."""
        from tslearn_spark.metrics import self_pairs

        df = series_df(spark, n=6)
        edges = self_pairs(df)
        plan = plan_of(edges)
        assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan


class TestFitLaziness:
    def test_sax_fit_triggers_no_jobs(self, spark):
        """SAX/PAA fit is plan-only (scale=False): the _X_fit_dims_ probe
        the numpy instance methods need is a LAZY plan, so Spark
        pipelines (ts_paa_sax, knn_sax_classify) never pay an extra
        upstream scan at fit time.  Regression lock for the round-7
        eager-dims slip."""
        from tslearn_spark import dataset as DS
        from tslearn_spark.piecewise import PiecewiseAggregateApproximation, SAX

        df = DS.dataset_to_df(spark, [[1.0, 2.0, 3.0, 4.0],
                                      [4.0, 3.0, 2.0, 1.0]])
        df.count()  # warm the input so fit-time jobs are attributable
        st = spark.sparkContext.statusTracker()
        before = len(st.getJobIdsForGroup(None) or [])
        sax = SAX(n_segments=2, alphabet_size_avg=4).fit(df)
        paa = PiecewiseAggregateApproximation(n_segments=2).fit(df)
        after = len(st.getJobIdsForGroup(None) or [])
        assert after - before == 0
        # the numpy surface still works — dims materialize on demand
        assert sax.distance([1.0, 2.0, 3.0, 4.0],
                            [4.0, 3.0, 2.0, 1.0]) >= 0.0
        assert paa.distance([1.0, 2.0, 3.0, 4.0],
                            [4.0, 3.0, 2.0, 1.0]) > 0.0


class TestSaxWordDedup:
    """Round-8 lock: the SAX kNN pair join is word-bounded, not n^2.

    MINDIST depends only on (query word, train word, query length), so
    _sax_knn scores DISTINCT word pairs and joins the k survivors back
    to the series ids (neighbors.py _sax_knn docstring).  On a corpus
    whose words collapse, the scored pair set must shrink with the word
    space — the property that makes knn_sax_classify scale-invariant
    once the word space saturates (592 words at both sf0.1 and sf1)."""

    def _wordy_df(self, spark, n=60, sz=32):
        # 3 prototype shapes + sub-breakpoint jitter -> exactly 3 SAX words
        protos = [
            np.sin(np.linspace(0.0, 4.0, sz)),
            np.linspace(-1.5, 1.5, sz),
            np.concatenate([np.full(sz // 2, -1.0), np.full(sz - sz // 2, 1.0)]),
        ]
        rs = np.random.RandomState(7)
        rows = [
            (i, [[float(x + 0.01 * rs.rand())] for x in protos[i % 3]],
             int(i % 3))
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "series_id long, values array<array<double>>, label int"
        )

    def test_candidate_set_is_word_bounded(self, spark):
        from tslearn_spark.neighbors import _sax_word_candidates
        from tslearn_spark.piecewise import SAX

        df = self._wordy_df(spark)
        k = 2
        sax = SAX(n_segments=4, alphabet_size_avg=4).fit(df)
        q_sym = sax.transform(df).select(
            F.col("series_id").alias("id1"), F.col("sax").alias("sax1"),
            F.flatten("sax").alias("w1"), F.size("values").alias("sz1"))
        q_words = q_sym.groupBy("w1", "sz1").agg(F.first("sax1").alias("sax1"))
        t_words = sax.transform(df).select(
            F.col("series_id").alias("id2"), F.col("sax").alias("sax2"),
            F.flatten("sax").alias("w2"),
        ).groupBy("w2").agg(
            F.slice(F.sort_array(F.collect_list("id2")), 1, k).alias("_ids"),
            F.first("sax2").alias("sax2"))
        t_cand = t_words.select("sax2", F.explode("_ids").alias("id2"))
        n_words = df.count() and q_words.count()
        assert n_words <= 3  # the corpus collapses to <=3 words
        # train side carries at most k ids per word — 60 rows never reach
        # the join; the scored pair set is words x (words * k), not n^2
        assert t_cand.count() <= n_words * k
        cand = _sax_word_candidates(q_words, t_cand, sax, keep=k)
        assert cand.count() <= n_words * k

    def test_dedup_path_matches_naive_full_join(self, spark):
        """Exactness: the word-dedup result set (id1, id2, rank) equals
        the naive all-pairs MINDIST top-k, including id tie-breaks."""
        from tslearn_spark.neighbors import kneighbors
        from tslearn_spark.piecewise import SAX

        df = self._wordy_df(spark, n=40)
        k = 3
        out = kneighbors(df, df, k=k, metric="sax", drop_self=True,
                         n_segments=4, alphabet_size_avg=4)
        got = {(r["id1"], r["rank"]): r["id2"] for r in out.collect()}
        sax = SAX(n_segments=4, alphabet_size_avg=4).fit(df)
        q = sax.transform(df).select(
            F.col("series_id").alias("id1"), F.col("sax").alias("sax1"),
            F.size("values").alias("sz1"))
        t = sax.transform(df).select(
            F.col("series_id").alias("id2"), F.col("sax").alias("sax2"))
        from pyspark.sql import Window
        naive = (
            q.crossJoin(F.broadcast(t))
            .where(F.col("id1") != F.col("id2"))
            .withColumn("dist", sax.distance_col("sax1", "sax2", "sz1"))
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("id1").orderBy(
                    F.col("dist").asc(), F.col("id2").asc())))
            .where(F.col("rank") <= k)
        )
        want = {(r["id1"], r["rank"]): r["id2"] for r in naive.collect()}
        assert got == want

    def test_raw_rows_never_feed_the_cross_join(self, spark):
        """Plan lock: the only nested-loop join in the sax kNN plan sits
        above AGGREGATED word tables — the raw series rows reach it
        only through a groupBy (objhashaggregate on collect_list /
        first), so the join input row counts are word-space-bounded."""
        from tslearn_spark.neighbors import kneighbors

        df = self._wordy_df(spark)
        out = kneighbors(df, df, k=1, metric="sax", drop_self=True,
                         n_segments=4, alphabet_size_avg=4)
        plan = plan_of(out)
        # one join instance == two mentions (tree node + detail section)
        assert plan.count("BroadcastNestedLoopJoin") == 2
        # both word tables are built by aggregates (collect_list slice on
        # the train side, first() on the query side)
        assert "collect_list" in plan and "slice" in plan
        assert "ObjectHashAggregate" in plan or "SortAggregate" in plan


class TestSampledBoardPushdown:
    """r13 --sample-mod mode: the query-side sampling predicate must
    reach the QUERY side of the pairs join (below the join), so the
    big-scale board's engine pass is O(n/mod * n) — not an O(n^2) join
    followed by a filter."""

    def test_paa_pairs_sample_filter_below_join(self, spark, monkeypatch):
        import __spark_entry__ as entry

        monkeypatch.setenv("SPARK_GRAFT_ORACLE_SAMPLE_MOD", "3")
        df = entry.ts_paa_dist_pairs(spark, "/root/testdata/sf0.001")
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        # the modulo predicate survives optimization...
        assert "% 3) = 0" in opt
        # ...and sits INSIDE the join's input subtree: in the optimized
        # logical tree children print AFTER their parent, so a pushed
        # filter's line index is greater than the Join's — an unpushed
        # filter over the join result would print before it
        lines = opt.splitlines()
        join_idx = [i for i, ln in enumerate(lines) if " Join " in ln
                    or ln.lstrip("+- :").startswith("Join ")]
        filt_idx = [i for i, ln in enumerate(lines)
                    if "% 3) = 0" in ln and "Filter" in ln]
        assert join_idx and filt_idx
        assert min(filt_idx) > min(join_idx)


class TestOneTaskSizingRule:
    def test_only_size_tasks_reads_slots_or_partitions(self):
        """Task sizing has one policy, session.size_tasks: no other
        engine module reads the slot count or asks a DataFrame for its
        partition count (which, on a shuffle-rooted plan, runs the
        shuffle under AQE).  Cheap source scan, no Spark."""
        import pathlib
        import re

        import tslearn_spark

        pkg = pathlib.Path(tslearn_spark.__file__).parent
        banned = re.compile(r"defaultParallelism|getNumPartitions\s*\(")
        offenders = sorted(
            str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
            if p != pkg / "session.py" and banned.search(p.read_text())
        )
        assert offenders == []


class TestOneBroadcastBudget:
    def test_only_session_collects_arrow_streams(self):
        """The broadcast budget has one policy, session.collect_within:
        no other engine module starts an Arrow collect of its own, and
        the gate it replaced is gone.  Cheap source scan, no Spark."""
        import pathlib

        import tslearn_spark

        pkg = pathlib.Path(tslearn_spark.__file__).parent
        sources = {p: p.read_text() for p in pkg.rglob("*.py")}
        arrow = sorted(str(p.relative_to(pkg)) for p, src in sources.items()
                       if "collectAsArrowToPython" in src)
        assert arrow == ["session.py"]
        assert not [p for p, src in sources.items()
                    if "broadcast_gate" in src]

    def test_no_per_row_vector_decoders_or_unbounded_handoffs(self):
        """Vectors cross the Arrow boundary one way: blocks decode from
        the list offsets (ckernel.rows_from_arrow / Flat.from_arrow), so
        no ``list(v) for v in`` decoder is left in the engine; and a
        side headed for the driver goes through collect_within, so no
        ``toPandas()`` is left in pipeline/ or neighbors.py.  The one
        allowed toPandas is connected_components' edge probe: it reads
        ``limit(driver_cap + 1)``, so it holds at most driver_cap + 1
        rows of two int64s by construction.  Source scan, no Spark."""
        import ast
        import pathlib
        import re

        import tslearn_spark

        pkg = pathlib.Path(tslearn_spark.__file__).parent
        decoder = re.compile(r"list\(v\)\s+for\s+v\s+in")
        assert sorted(str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
                      if decoder.search(p.read_text())) == []

        handoffs = []
        for p in [*(pkg / "pipeline").rglob("*.py"), pkg / "neighbors.py"]:
            for fn in ast.parse(p.read_text()).body:
                handoffs += [
                    (str(p.relative_to(pkg)), getattr(fn, "name", None))
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "toPandas"]
        assert handoffs == [("pipeline/dedup.py", "connected_components")]


class TestPostShuffleWidth:
    @staticmethod
    def _post_shuffle_tasks(session, sf_dir, group):
        """Tasks of ``events_to_ts``'s post-shuffle stage on ``sf_dir``,
        read from the status store (the last stage of the group's last
        job: AQE runs the map stage first, then the reduce side)."""
        from tslearn_spark.dataset import events_to_ts
        from tslearn_spark.session import load_tables

        events = load_tables(session, sf_dir)["events"]
        sc = session.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setJobGroup(group, "events_to_ts post-shuffle width")
        try:
            (events_to_ts(events).write.format("noop").mode("overwrite")
             .save())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        last_job = max(st.getJobIdsForGroup(group))
        last_stage = max(st.getJobInfo(last_job).stageIds)
        return st.getStageInfo(last_stage).numTasks

    def test_events_to_ts_runs_on_every_slot(self, spark):
        """On the sf0.1 events table (perfbench's byte-for-byte copy) the
        shuffle is ~2 MB, which AQE's default 1 MB coalescing floor packed
        onto 2 tasks.  Both session kinds the engine runs on put the
        stage on defaultParallelism tasks: a session of the get_spark
        context (its confs, its own temp views), and a vanilla session
        once load_tables has set the shared confs."""
        import pathlib

        from tslearn_spark.session import _sql_confs

        sf01 = str(pathlib.Path(__file__).resolve().parents[1]
                   / "perfbench" / "data")
        if not pathlib.Path(sf01, "events.parquet").exists():
            pytest.skip("sf0.1 events copy absent")
        slots = spark.sparkContext.defaultParallelism
        built = spark.newSession()
        assert self._post_shuffle_tasks(built, sf01, "width_built") == slots

        vanilla = spark.newSession()
        for key, _ in _sql_confs():
            vanilla.conf.unset(key)
        assert vanilla.conf.get("spark.sql.shuffle.partitions") == "200"
        assert self._post_shuffle_tasks(vanilla, sf01,
                                        "width_vanilla") == slots
        for session in (spark, built, vanilla):
            for key, val in _sql_confs():
                assert session.conf.get(key) == val, key
