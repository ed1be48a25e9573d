"""Query/oracle registry backing the driver contract.

Every operator from SURVEY.md §2 that is implemented registers a
``QuerySpec`` here: a callable ``(spark, sf_dir) -> DataFrame`` plus,
when the semantics are ANSI-SQL-expressible, an equivalent DuckDB SQL
string run against the same parquet tables. ``__spark_entry__.py``
re-exports the registry as ``queries()`` / ``oracle_sql()``.

Design rule (FIXTURES.md §4): oracle-checked queries never rely on
engine-native randomness, engine hash functions, approximate
aggregates, or unstable float summation — pseudo-randomness comes from
portable arithmetic/md5 hashes and float aggregates are rounded in
BOTH engines so value hashes match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator registering an operator query under ``name``."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return fn

    return wrap


# The driver's CORRECTNESS gate checks the first 50 registry entries, in
# registration order. Registration order is an import-order artifact, so
# this explicit window comes first; the rest keep their module order.
# tools/rotate_window.py rotates long-green names out for never-checked
# oracle queries and never leaves a tag family without a name in the
# window. The rotation history lives in ROTATION_r*.log and git.
PRIORITY_WINDOW: tuple[str, ...] = (
    "s1_scan_projection",
    "p3_filter_isin",
    "pipe3_span_excision",
    "pipe4_gated_funnel",
    "f2_onehot_pivot",
    "o2_topk_per_group",
    "m1_spearman_by_era",
    "d2_pairwise_spearman",
    "rec1_hierarchy_closure",
    "pipe1_corpus_curation",
    "sk2_salted_join",
    "wsamp1_weighted_sample",
    "rs2_kmv_overlap",
    "zo1_zorder_curve",
    "st12_custom_source_stream",
    "st13_stream_drift_psi",
    "unpivot1_melt_measures",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_dominant_supplier",
    "q22_dormant_customers",
    "j8_asof_forward_tolerance",
    "f10_json_extract",
    "f11_datetime_extract",
    "f13_null_semantics",
    "c2_lhs_param_table",
    "mm3_frame_sample",
    "mm4_resize_thumbnail",
    "iso1_isotonic_calibration",
    "gr3_kcore",
    "mm2_feature_extract",
    "mm6_crossmodal_alignment",
    "u1_scalar_pandas_udf",
    "u2_grouped_agg_pandas_udf",
    "u3_map_in_arrow",
    "u4_python_udtf",
    "t3_lang_id_naive_bayes",
    "pipe2_export_manifest",
    "pipe5_clean_export",
    "pr1_global_pct_rank",
    "w4_sessionize_batch",
    "w5_session_window_builtin",
    "w7_trailing_range_window",
    "w9_first_last_nth",
    "f12_string_funcs",
    "f14_variant_extract",
    "rep1_repetition_rules",
)


def load_all_operators() -> None:
    """Import every operator module so its @query decorators run, then
    reorder the registry so :data:`PRIORITY_WINDOW` comes first."""
    from . import operators, streaming  # noqa: F401

    operators.load_all()

    missing = [n for n in PRIORITY_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"PRIORITY_WINDOW names missing from registry: {missing}")
    ordered = {n: REGISTRY[n] for n in PRIORITY_WINDOW}
    ordered.update((n, spec) for n, spec in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)
