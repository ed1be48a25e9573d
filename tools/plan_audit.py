"""Whole-registry physical-plan audit.

Builds (does not execute) every registered query at the given sf_dir,
counts its physical nodes with ``plans.shape`` (initial plan,
subqueries, each cached plan once) and flags the scale red flags the
100 TB design review cares about:

- CartesianProduct / BroadcastNestedLoopJoin outside an allowlisted
  candidate-generation pattern (broadcast-small-side crossJoin is fine
  and appears as BroadcastNestedLoopJoin — we flag only when BOTH
  sides are unbounded relations, approximated here by an allowlist).
- WindowExec with an empty partition spec (single-partition sort).
- Python row-at-a-time UDFs (BatchEvalPython, BatchEvalPythonUDTF) —
  Arrow paths (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
  are fine.

Some queries legitimately cross-join a BROADCAST side (probe tables,
centroid lists, k×k band matrices, 1-row aggregates); those names are
allowlisted with the reason inline.

The audit runs with SPARK_GRAFT_BARRIER=noop (r11 ADVICE item): with
the default eager barrier, every funnel hub (1) EXECUTES during what
claims to be a build-only scan and (2) truncates the plan to a
LogicalRDD leaf, hiding everything upstream — the funnel interiors,
the kfold/GBT frames — from the audit. noop makes barrier() the
identity, so plans here are the FULL untruncated trees and nothing
materializes. release_pinned() runs per query so lazily registered
pins don't accumulate across the whole-registry session.

With --write it writes PLAN_AUDIT.md and PLAN_SHAPE.json at the repo
root. PLAN_SHAPE.json records the sf it was built at and one line per
query with that query's node counts (sorted keys), so a `git diff` of
it is the before/after plan-shape record of a change.

Usage: python tools/plan_audit.py [sf_dir] [--write PLAN_AUDIT.md]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# queries whose BroadcastNestedLoopJoin / cross join is a bounded
# broadcast side by construction (documented in each op's docstring)
CROSS_OK = {
    "st13_stream_drift_psi": "1-row baseline-span aggregate broadcast",
    "ldiv1_l_diversity": "1-row sensitive-domain aggregate broadcast",
    "p14_rank_gauss": "1-row corpus-count broadcast over the rank relation",
    "match1_caliper_matching": "two 1-row aggregates (naive diff, ATT) broadcast",
    "calib1_reliability_table": "1-row total-count aggregate broadcast",
    "cur1_curriculum_sample": "1-row count + decile×phase rate table broadcast",
    "zipf1_token_zipf": "1-row corpus-total broadcast",
    "dsir1_importance_resample": "1-row feature-totals broadcast over the bounded bucket relation",
    "deval1_dedup_quality": "1-row weighted pair-count aggregates broadcast (quotient eval)",
    "ndcg1_ann_quality": "fixed 40-query anchor batch (ss1/ss4's bounded probe shape)",
    "tw1_dr_trustworthiness": "fixed 40-anchor non-equi pair batch (O(anchors·n)) + 1-row corpus count",
    "mm6_crossmodal_alignment": "1-row mean/std aggregate broadcast",
    "rpt1_corpus_report": "two 1-row aggregate broadcasts (base stats, lang entropy)",
    "j5_range_join": "5-row band dim broadcast (range predicate)",
    "j6_zip_join_task_table": "4×3 param×fold metadata table",
    "sk2_salted_join": "3-row dim × 8 salts explosion (24 rows)",
    "t3_lang_id_naive_bayes": "×|langs| model fan-out + 1-row vocab broadcast",
    "shuf1_epoch_shuffle": "×SHUF_EPOCHS (2) broadcast epoch fan-out (t3's bounded-fan-out shape)",
    "lp1_nb_loglik_quality": "×|langs| score fan-out + 1-row vocab broadcast (t3's shape)",
    "cm1_langid_confusion": "inherits t3's ×|langs| fan-out + 1-row vocab broadcast",
    "t12_tfidf_keywords": "1-row corpus-count broadcast",
    "an4_rfm_segmentation": "two 1-row broadcasts (corpus max-ts, tercile thresholds)",
    "f6_histogram": "bin edges (1-row aggregate) broadcast",
    "zo1_zorder_curve": "1-row global-extent aggregate broadcast (min-max scaling)",
    "dq3_volume_anomaly": "1-row mean/stddev aggregate broadcast",
    "ss8_hard_negative_mining": "fixed 40-anchor query batch broadcast (ss1's envelope)",
    "ss9_mmr_diversified_topk": "fixed 40-anchor pool via ss1's broadcast query batch",
    "f7_entropy": "1-row total broadcast",
    "f8_mutual_info": "1-row total broadcast",
    "d1_variation_of_information": "1-row total broadcast",
    "p9_permute_column": "1-row count broadcast",
    "c3_fraction_resource": "1-row cutoff broadcast",
    "q11_important_stock": "1-row threshold broadcast",
    "q22_dormant_customers": "1-row avg balance broadcast",
    "m2_quartic_error": "1-row mean broadcast",
    "f3_power_mean": "1-row mean broadcast",
    "x4_linear_shap": "p-row coefficient table broadcast",
    "w2_rank_importance": "triangular partition-offset metadata join",
    "ru1_running_distinct_users": "triangular day-prefix join on the calendar-bounded daily relation",
    "dd4_simhash_dedup": "64-row bit/band tables broadcast",
    "ss1_cosine_topk_brute": "bounded query-set broadcast (documented)",
    "rrf1_hybrid_retrieval": "bounded query-set broadcast (ss1's vector scan feeding the rank fusion)",
    "ss2_cosine_topk_lsh": "plane matrix broadcast",
    "ss3_knn_label_vote": "bounded query-set broadcast",
    "ss5_multiprobe_lsh": "plane matrix + probe fan-out broadcast",
    "ss4_cosine_topk_ivf": "k-centroid table broadcast",
    "ss6_pq_adc_topk": "codebook/ADC table broadcast",
    "ss7_ivfpq_topk": "centroid + ADC table broadcast",
    "km1_kmeans_quantizer": "k-centroid table broadcast",
    "dd5_embedding_neardup": "plane matrix broadcast",
    "t5_vocab_oov": "VOCAB_K-row vocabulary broadcast",
    "t6_bm25_topk": "query tokens + 1-row corpus stats broadcast",
    "mw1_mix_weights": "1-row normalizer broadcast",
    "mw4_doremi_mixture": "two 1-row aggregate broadcasts (corpus totals, EG normalizer)",
    "mw2_mixture_sample": "lang-count rate table broadcast",
    "t9_landmark_mds": "landmark distance matrix broadcast",
    "d5_optimal_clusters": "p×p distance matrix (feature count) broadcast",
    "t3_reduction_sweep": "fixed 40-anchor trust batch broadcast (tw1's shape) + (cfg,fold) coef table broadcast",
    "t1_lhs_kfold_search": "LHS param table broadcast",
    "t5_hyperband": "rung table broadcast",
    "c2_lhs_param_table": "param axes broadcast",
    "x2_forward_selection": "candidate feature set broadcast",
    "d3_distance_corr": "feature-pair relation (p², driver-bounded)",
    "d2b_pairwise_ace": "feature-pair relation (p², driver-bounded)",
    "d2_pairwise_spearman": "feature-pair relation (p², driver-bounded)",
    "d4_pairwise_corr_matrix": "feature-pair relation (p², driver-bounded)",
    "dc1_benchmark_decontam": "benchmark shingle set broadcast",
    "u4_python_udtf": "UDTF demo over a 1-row relation",
    "mm3_frame_sample": "frame-index fan-out (bounded per clip)",
    "t2_kfold_cv_eval": "fold×fold suffstats matrix (k², driver-bounded)",
    "t2b_kfold_cv_gbt": "fold×fold suffstats matrix (k², driver-bounded)",
    "x1_mda_importance": "fold coef table broadcast",
    "x1b_mda_suffstats": "fold suffstats broadcast",
    "x1c_mda_importance_gbt": "fold stump-model table broadcast",
    "t7_fit_transform_pca": "p×k loadings broadcast",
    "t8_distributed_pca": "p×k loadings broadcast",
    "pipe1_corpus_curation": "1-row funnel counters + hot-shingle broadcast",
    "pipe2_export_manifest": "inherits pipe1's funnel broadcasts (hot-shingle, benchmark shingles)",
    "an2_funnel_conversion": "1-row step totals broadcast",
    "prof1_column_profile": "single-row profile explode",
    "mm2_feature_extract": "1-row normalizer broadcast",
    "gq1_gopher_rules": "1-row survivors aggregate broadcast",
    "rs1_kmv_bottomk": "1-row k-th-hash max broadcast over the 64-row sketch",
    "rs2_kmv_overlap": "segment-pair theta-join on the |segments|xk sketch relation (bounded)",
    "kano1_k_anonymity": "|ks|-row k-values broadcast over the QI-group relation",
    "sky1_pareto_front": "triangular partition-offset metadata join (w2's prefix-min pattern)",
    "dp1_noisy_counts": "|eps|-row mechanism-parameter broadcast over the per-type count relation",
    "auc1_roc_auc": "triangular partition-offset prefix sum + two 1-row aggregate broadcasts",
    "cls2b_classifier_eval": "auc1's prefix-sum shape + three 1-row aggregate broadcasts (rank-sum, bin total, AUC verdict)",
    "ab1_cuped_abtest": "two 1-row broadcasts (event span, CUPED theta)",
    "pr1_global_pct_rank": "triangular partition-offset join + 1-row count broadcast (w2's pattern)",
    "srv1_kaplan_meier": "triangular prefix joins on the calendar-bounded duration relation (ru1's pattern)",
    "chi1_independence": "1-row total broadcast over the |lang|x|source| cell relation",
    "ks1_two_sample": "triangular partition-offset prefix sums + 1-row sizes broadcast (auc1's pattern)",
    "psi1_population_stability": "1-row span/extent broadcast over the fact scan",
    "gini1_revenue_concentration": "triangular partition-offset rank join + 1-row totals broadcast (w2's pattern)",
}

ROW_UDF_OK = {
    "u1_scalar_pandas_udf",  # the UDF-surface demo family is the point
    "u2_grouped_agg_pandas_udf",
    "u4_python_udtf",
    "u6_polymorphic_udtf",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    write = "--write" in sys.argv

    # build-only + full visibility: see module docstring
    os.environ["SPARK_GRAFT_BARRIER"] = "noop"

    from reduction_dask_spark.caching import release_pinned
    from reduction_dask_spark.plans import EMPTY_PARTITION_WINDOW, shape
    from reduction_dask_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark()
    qs = entry.queries()
    rows, errors, shapes = [], [], {}
    for name, fn in qs.items():
        t0 = time.time()
        try:
            counts = shape(fn(spark, sf_dir))
        except Exception:
            errors.append((name, traceback.format_exc(limit=1)))
            continue
        finally:
            release_pinned()
        shapes[name] = counts
        flags = []
        if counts["CartesianProduct"]:
            flags.append("CARTESIAN")
        if counts["BroadcastNestedLoopJoin"] and name not in CROSS_OK:
            flags.append("NESTED_LOOP")
        if counts[EMPTY_PARTITION_WINDOW]:
            flags.append(f"EMPTY_PARTITION_WINDOW×{counts[EMPTY_PARTITION_WINDOW]}")
        if (counts["BatchEvalPython"] or counts["BatchEvalPythonUDTF"]) and name not in ROW_UDF_OK:
            flags.append("ROW_UDF")
        rows.append((name, flags, round(time.time() - t0, 2)))

    flagged = [(n, f) for n, f, _ in rows if f]
    lines = [
        "# PLAN_AUDIT — whole-registry physical-plan red-flag scan",
        "",
        f"{len(rows)} query plans built at {sf_dir}; "
        f"{len(flagged)} flagged; {len(errors)} failed to build.",
        "",
    ]
    if flagged:
        lines.append("## Flagged")
        for n, f in flagged:
            lines.append(f"- **{n}**: {', '.join(f)}")
        lines.append("")
    if errors:
        lines.append("## Build errors")
        for n, e in errors:
            lines.append(f"- **{n}**: `{e.splitlines()[-1]}`")
        lines.append("")
    lines.append(
        f"## Allowlisted bounded-broadcast cross joins ({len(CROSS_OK)})"
    )
    for n, why in sorted(CROSS_OK.items()):
        lines.append(f"- {n}: {why}")
    out = "\n".join(lines) + "\n"
    print(out)
    if write:
        root = Path(__file__).resolve().parent.parent
        root.joinpath("PLAN_AUDIT.md").write_text(out)
        body = ",\n".join(
            f"{json.dumps(n)}: {json.dumps(c, sort_keys=True)}"
            for n, c in sorted(shapes.items())
        )
        root.joinpath("PLAN_SHAPE.json").write_text(
            f'{{"sf": {json.dumps(Path(sf_dir).name)}, "queries": {{\n{body}\n}}}}\n'
        )
    sys.exit(1 if (flagged or errors) else 0)


if __name__ == "__main__":
    main()
