"""Plan audit: captures .explain("formatted") for headline queries and
checks the plan properties that matter at 100 TB:

* parquet scans carry PushedFilters / pruned ReadSchema,
* small dimension joins are BroadcastHashJoin,
* per-series transforms stay in one WholeStageCodegen span (no shuffle),
* pair-join UDF stages read ArrowEvalPython (vectorized, not BatchEval).

Writes PLANS.md.  Run: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tslearn_spark import get_spark

# (query, [required plan substrings], max #Exchange nodes or None, notes)
# A required entry prefixed "!" asserts the substring must NOT appear.
AUDITS = [
    ("q1_pricing_summary", ["partial_sum", "HashAggregate"], 1,
     "map-side partial agg, one shuffle, scan pruned to the 6 used columns"),
    ("q3_top_orders", ["BroadcastHashJoin", "TakeOrderedAndProject"], None,
     "customer filter broadcast to lineitem; global top-10 without full sort"),
    ("q5_region_revenue", ["BroadcastHashJoin"], None,
     "star joins all broadcast (dims << fact)"),
    ("ts_scale", ["ObjectHashAggregate"], 1,
     "series build = the ONLY shuffle; both scalers+explode are map-only projections"),
    ("ts_paa_sax", ["ObjectHashAggregate"], 1,
     "series build = the ONLY shuffle; raw PAA + z-scale + quantize are "
     "per-row projections over the same scan, no join"),
    ("ts_barycenter", ["HashAggregate", "partial_sum"], 2,
     "positionwise mean = posexplode projections + ONE partial-agg "
     "shuffle on (t, dim) after the series-build agg; the r12 1/64 "
     "quantization is a map-only transform inside the same projection "
     "(exact sums in any association — no plan cost)"),
    ("dedup_minhash", ["HashAggregate", "partial_min"], None,
     "signature = one grouped aggregate, map-side combinable"),
    ("dedup_minhash_verified", ["array_intersect", "partial_min"], None,
     "LSH banding -> candidate equi-join -> exact-Jaccard verify via two "
     "id joins + array_intersect; the whole-corpus inverted index is "
     "never rebuilt (no token-keyed join anywhere in the plan — "
     "test_pipeline.py asserts it)"),
    ("ann_cosine_topk", ["MapInArrow", "Window"], None,
     "BLAS matmul per partition, partial top-k, tiny final window"),
    ("kernel_kmeans_assign_tiny", ["ArrowEvalPython", "Window"], None,
     "hash-gated kernel-kmeans assignment: Arrow-vectorized GAK cross-"
     "Gram edges -> one grouped criterion aggregate -> argmin window; "
     "only (id, cluster, d2) scalars shuffle"),
    ("cdist_dtw_tiny", ["ArrowEvalPython", "BroadcastNestedLoopJoin"], None,
     "hash-gated exact DTW: the same triangle+mirror cdist machinery on "
     "tiny integer series; kernel Arrow-vectorized"),
    ("knn_euclidean_16", ["MapInArrow", "Window"], None,
     "broadcast-queries BLAS matmul per partition + partial top-k; final "
     "window sees (id,id,dist) only"),
    ("knn_sax_classify", ["Window"], None,
     "SAX MINDIST evaluated in codegen over the pair join — the whole "
     "scoring path is JVM-side, no Python stage"),
    ("dedup_ngram_jaccard", ["HashAggregate"], None,
     "inverted-index equi-join with size-ratio prefilter during the join; "
     "token sets deduped per-row (array_distinct), no cluster-wide distinct"),
    ("knn_dtw_classify", ["MapInArrow", "!Window", "!BroadcastHashJoin"], 1,
     "broadcast-train banded DTW in ONE map stage (r11: hash-gated "
     "integer sample): the train series and labels are broadcast, each "
     "query task runs the fused top-k DP, ranks and votes its own "
     "queries; the only Exchange is size_tasks' round-robin below the "
     "map — no rank window, no label join, no vote shuffle"),
    ("knn_dtw_classify_full", ["MapInArrow", "!Window", "!BroadcastHashJoin"], 1,
     "the full-population perf twin keeps the identical one-stage "
     "broadcast-DTW plan at quadratic pair count"),
    ("clustering_labels", ["ArrowEvalPython", "!SortMergeJoin"], 2,
     "r11 hash-gated explicit-init Lloyd: the returned labels_ plan is "
     "ONE Arrow-vectorized assignment pass over the checkpointed series "
     "(centers broadcast driver-side as numpy); the only Exchanges are "
     "the series build + cache population"),
    ("svc_gak_classify", ["ArrowEvalPython", "!SortMergeJoin"], None,
     "r11 hash-gated one-SV-per-class GAK SVC: Arrow-vectorized "
     "cross-Gram edges against the 2-row broadcast train side, grouped "
     "kernel-row assembly, broadcast predict+decision join — no "
     "sort-merge anywhere"),
    ("stream_ann_lsh_batch", ["MapInPandas", "!BatchEvalPython"], 1,
     "streaming ANN-LSH batch twin: hashing+probing in ONE MapInPandas "
     "pass, a single groupBy(t, bucket) shuffle, in-row pair expansion"),
    ("events_sessionize", ["Window"], 1,
     "gap sessionization: lag let-bound in a CTE (single window eval), "
     "both windows + the session aggregate reuse ONE user_id shuffle "
     "(groupBy(user_id, session_no) is clustering-satisfied by the "
     "window partitioning)"),
    ("events_cumulative", ["Window"], 1,
     "running per-user aggregates: one named window frame, one shuffle "
     "on user_id"),
    ("revenue_grouping_sets", ["Expand", "partial_sum"], 2,
     "rolled up from the finest grain (r14): one full-scan aggregate "
     "on (flag, status) — map-side combined, one shuffle — then Expand "
     "+ grouping-sets aggregate over the SIX-row intermediate (second "
     "shuffle moves 6 rows).  The old single-stage form Expanded every "
     "scan row 3x, tripling the exact-integer aggregate work"),
    ("dedup_exact", ["HashAggregate", "partial_"], 1,
     "exact dedup = one shuffle on uniform md5 keys with map-side combine"),
    ("events_asof_orders", ["Union", "Window"], 1,
     "as-of join = union both streams + ONE shuffle on the key + one "
     "sorted carry-forward window — never a pairwise join"),
    ("ann_ivf_topk", ["MapInArrow", "WindowGroupLimit"], None,
     "IVF assignment+scoring fused in one candidate pass; only partial "
     "top-k scalars shuffle; rank pushdown via WindowGroupLimit"),
    ("ann_lsh_topk", ["!ArrowEvalPython", "partial_max(cosine", "!partial_first(qv"], None,
     "per-table scoring keeps vectors map-side AND fully JVM-side (r6: "
     "cosine moved from the Arrow UDF to a codegen zip_with fold — no "
     "Python stage in the whole plan); cross-table dedup is a "
     "groupBy(query_id, neighbor_id) max(cosine) — the shuffle carries "
     "scalar (id, id, score) rows, never qv/cv embedding arrays (round "
     "6 also measured score-once-after-id-dedup 1.9x slower at a 1.05x "
     "duplicate factor; see lsh_topk docstring)"),
    ("ts_lb_keogh_pairs", ["BroadcastNestedLoopJoin", "BroadcastExchange"], None,
     "declared all-pairs: envelope side broadcast, LB evaluated in the "
     "join condition projection — no payload shuffle"),
    ("stream_tumbling_paa_batch", ["HashAggregate"], 1,
     "tumbling window = plain grouped aggregate, map-side combinable, "
     "one shuffle"),
    ("matrix_profile_events", ["ArrowEvalPython", "ObjectHashAggregate"], 2,
     "series build shuffle + size_tasks' round-robin repartition "
     "(one series per task up to the slots: partitioning follows "
     "compute for the O(sz^2) kernel, not bytes); "
     "the profile kernel is an Arrow-vectorized map"),
    ("stream_lsh_batch", ["MapInPandas", "!ArrowEvalPython"], 1,
     "streaming-LSH batch twin: signatures+banding in ONE MapInPandas "
     "pass (a pandas_udf+explode form would evaluate the UDF twice), "
     "then a single groupBy(bucket) shuffle with in-row pair expansion "
     "— no ranked self-join, no second UDF evaluation"),
]


def _stream_lsh_batch(spark, sf_dir):
    from tslearn_spark.streaming import stream_lsh_candidates

    return stream_lsh_candidates(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def _stream_ann_lsh_batch(spark, sf_dir):
    from tslearn_spark.streaming import stream_ann_lsh_candidates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    return stream_ann_lsh_candidates(emb, dim=dim, bits=8, n_tables=2,
                                     n_probes=4)


# audited plans that are not registered driver queries
EXTRA_BUILDERS = {
    "stream_lsh_batch": _stream_lsh_batch,
    "stream_ann_lsh_batch": _stream_ann_lsh_batch,
    "knn_dtw_classify_full": entrymod.knn_dtw_classify_full,
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by tools/explain_audit.py on {sf_dir};",
        "each section lists the properties asserted for 100 TB readiness,",
        "then the formatted physical plan.",
        "",
    ]
    failures = []
    for name, required, max_exchanges, note in AUDITS:
        df = (qs[name] if name in qs else EXTRA_BUILDERS[name])(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        missing = [
            r for r in required
            if ((r[1:] in plan) if r.startswith("!") else (r not in plan))
        ]
        # formatted plans render shuffle nodes as "(3) Exchange"; counting
        # the literal "(Exchange" matches nothing (BroadcastExchange is a
        # different node and deliberately excluded)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        if max_exchanges is not None and n_ex > max_exchanges:
            missing.append(f"expected <= {max_exchanges} Exchange, got {n_ex}")
        status = "OK" if not missing else f"MISSING {missing}"
        if missing:
            failures.append((name, missing))
        print(f"{name:24s} {status}")
        out.append(f"## {name}\n")
        out.append(f"*{note}*  — asserted: `{'`, `'.join(required)}` → **{status}**\n")
        out.append("```\n" + plan.strip()[:4000] + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("\nwrote PLANS.md;", "ALL OK" if not failures else f"failures: {failures}")
    spark.stop()


if __name__ == "__main__":
    main()
