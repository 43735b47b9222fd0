"""Workload definitions: the seeded op sequence of each workload, and
the output checks that run after the timed region.

A workload is a fixed amount of work for a given ``--seconds``: the op
count is derived from ``--seconds`` and the nominal op costs below
(measured on a 4-core, 15 GB host), so ``wall_s`` times the same work
on every commit and the run measures for about ``--seconds``.
"""

from __future__ import annotations

import math
import random

SF = 0.1

# ---- dashboard -------------------------------------------------------------

# The 19 registered queries of queries/incidents.py, filters.py and
# presentation.py (the client fails loudly if one is no longer registered).
DASHBOARD_QUERIES = (
    "filter_dashboard_pipeline", "filter_or_contains_text", "filter_range_inlist_orders",
    "filter_regex_road", "inc_daily_trend", "inc_daily_trend_gapfill", "inc_display_formats",
    "inc_flagship_county_status", "inc_geo_imputation", "inc_kpi_counts", "inc_minmax_bounds",
    "inc_nearest_center", "inc_normalize", "inc_status_rank_order", "inc_table_view",
    "inc_type_distribution", "setop_except_users", "setop_intersect_users",
    "setop_union_pages_dedup",
)
SCAN_DAYS = (1, 3, 7, 15, 30)
DASHBOARD_NOMINAL_OP_S = 2.0  # a refresh ~2.2 s, a registered query ~1.5 s
WIDGETS = ("kpis", "county_bar", "daily_trend", "type_dist", "map_viewport", "table")

# ---- analytics -------------------------------------------------------------

# Curation batch work, in the order the workload definition fixes; the
# queries a ROADMAP item or carried defect names come first. A run takes
# the longest prefix whose nominal cost fits in ``--seconds``.
ANALYTICS_QUERIES = (
    "dedup_semantic_embeddings", "sim_neardup_embeddings", "graph_local_clustering",
    "curation_pipeline", "curation_pipeline_v2", "curation_pipeline_v3",
    "curation_pipeline_v4", "curation_pipeline_v5", "curation_pipeline_v6",
    "sim_ivf_nprobe_sweep", "dedup_lsh_calibration", "dedup_simhash_calibration",
    "sim_ann_ivf_pq_probe", "sim_ivf_compact",
    "graph_label_propagation", "graph_common_neighbor_linkpred", "dedup_clusters",
    "multimodal_dedup_incremental",
    "streaming_sessionize_stateful", "source_xml_feed_stream",
    "streaming_bitmap_distinct_monitor", "vocab_bpe_merge_rounds",
    "dedup_simhash_candidates", "dedup_lsh_banding_sweep",
    "dedup_ngram_jaccard_prefix", "dedup_golden_record", "sim_pq_recall",
    "text_tfidf_top_terms",
    "graph_jaccard_linkpred", "graph_triangle_count", "graph_personalized_pagerank",
    "streaming_join_then_window", "streaming_cusum_monitor", "streaming_foreachbatch_upsert",
)
# The list's streaming queries, in list order.
STREAMING_QUERIES = (
    "streaming_sessionize_stateful", "source_xml_feed_stream", "streaming_bitmap_distinct_monitor",
    "streaming_join_then_window", "streaming_cusum_monitor", "streaming_foreachbatch_upsert",
)
# Build + materialize seconds after set-up, cold process, sf0.1, local[4]
# (medians of twenty runs for the first two).
ANALYTICS_NOMINAL_S = {
    "dedup_semantic_embeddings": 6.7,
    "sim_neardup_embeddings": 2.7,
    "graph_local_clustering": 12.0,
    "curation_pipeline": 2.0,
    "curation_pipeline_v2": 3.5,
    "curation_pipeline_v3": 7.2,
}
ANALYTICS_DEFAULT_NOMINAL_S = 5.0
# Derived artifacts each query of the list reads: (module, builder)
# pairs that set-up calls before the timed phase, for the queries a run
# times.
_IVF = ("queries.llmdata", "_ivf_ensure_index")
_PQ = ("queries.llmdata", "_ivf_ensure_pq")
_APPENDED = ("queries.llmdata", "_ivf_ensure_appended_index")
_EDGES = ("queries.graph", "ensure_edge_table")
_BUCKETED = ("operators.bucketing", "ensure_bucketed_orders_lineitem")
ANALYTICS_ARTIFACTS = {
    "dedup_semantic_embeddings": [_IVF],
    "sim_ivf_nprobe_sweep": [_IVF],
    "sim_ann_ivf_pq_probe": [_IVF, _PQ],
    "sim_pq_recall": [_IVF, _PQ],
    "sim_ivf_compact": [_IVF, _APPENDED],
    "graph_label_propagation": [_EDGES],
    "graph_common_neighbor_linkpred": [_EDGES, _BUCKETED],
    "graph_jaccard_linkpred": [_EDGES, _BUCKETED],
    "graph_triangle_count": [_EDGES, _BUCKETED],
    "graph_personalized_pagerank": [_EDGES],
    "streaming_sessionize_stateful": [("streaming.sessionize", "stage_time_ordered_chunks")],
    "source_xml_feed_stream": [("queries.source_feed", "ensure_feed_dir")],
}

# ---- etl_merge -------------------------------------------------------------

ETL_NOMINAL_BATCH_S = 6.0  # one poll: ~1,550 rows re-sent over 30 partitions


def analytics_list(seconds: float) -> list[str]:
    out, total = [], 0.0
    for name in ANALYTICS_QUERIES:
        cost = ANALYTICS_NOMINAL_S.get(name, ANALYTICS_DEFAULT_NOMINAL_S)
        if out and total + cost > seconds:
            break
        out.append(name)
        total += cost
    return out


def plan(workload: str, seed: int, seconds: float) -> dict:
    """The seeded op sequence of one run."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "dashboard":
        n_ops = max(4, round(seconds / DASHBOARD_NOMINAL_OP_S))
        n_refresh = n_ops // 2 + 1  # odd split: the median op is a refresh
        n_query = n_ops - n_refresh
        picked: list[str] = []
        while len(picked) < n_query:
            picked += rng.sample(DASHBOARD_QUERIES, min(len(DASHBOARD_QUERIES), n_query - len(picked)))
        ops = [
            {
                "kind": "refresh",
                "scan_days": rng.choice(SCAN_DAYS),
                "top_counties": rng.randint(5, 15),
                "table_rows": rng.choice((50, 100, 200)),
            }
            for _ in range(n_refresh)
        ] + [{"kind": "query", "name": q} for q in picked]
        rng.shuffle(ops)
        seen, repeats = set(), 0
        for op in ops:
            if op["kind"] == "refresh":
                repeats += op["scan_days"] in seen
                seen.add(op["scan_days"])
        return {"ops": ops, "repeat_scan_days_share": repeats / n_refresh}
    if workload == "analytics":
        return {"ops": [{"kind": "query", "name": n} for n in analytics_list(seconds)]}
    if workload == "etl_merge":
        # batch 0, the initial load, runs in set-up; the ops are the polls
        n = max(2, round(seconds / ETL_NOMINAL_BATCH_S))
        return {"ops": [{"kind": "etl", "batch": b} for b in range(1, n + 1)]}
    raise ValueError(f"unknown workload {workload!r}")


def artifacts_for(ops: list[dict]) -> list[tuple[str, str]]:
    seen: list[tuple[str, str]] = []
    for op in ops:
        for pair in ANALYTICS_ARTIFACTS.get(op.get("name", ""), []):
            if pair not in seen:
                seen.append(pair)
    return seen


# ---- output checks ---------------------------------------------------------


def widget_sql(widget: str, scan_days: int, top_counties: int, table_rows: int) -> str:
    """DuckDB statement for one dashboard widget over the incidents CTE."""
    from trafik_etl_modular_spark.constants import NOW_UTC
    from trafik_etl_modular_spark.pipelines.incidents import incidents_cte_sql

    head = (
        f"WITH {incidents_cte_sql()}, base AS (SELECT * FROM incidents WHERE start_time_utc > "
        f"TIMESTAMP '{NOW_UTC}' - INTERVAL {int(scan_days)} DAYS) "
    )
    body = {
        "kpis": "SELECT SUM(CASE WHEN status = 'PÅGÅR' THEN 1 ELSE 0 END) AS pagar, "
        "SUM(CASE WHEN status = 'KOMMANDE' THEN 1 ELSE 0 END) AS kommande, "
        "COUNT(*) AS total FROM base",
        "county_bar": "SELECT county_name, COUNT(*) AS count FROM base GROUP BY county_name "
        f"ORDER BY count DESC, county_name ASC LIMIT {int(top_counties)}",
        "daily_trend": "SELECT CAST(start_time_utc AS DATE) AS date, COUNT(*) AS count "
        "FROM base GROUP BY 1",
        "type_dist": "SELECT message_type, COUNT(*) AS count FROM base GROUP BY message_type",
        "map_viewport": "SELECT MIN(latitude) AS lat_min, MAX(latitude) AS lat_max, "
        "MIN(longitude) AS lon_min, MAX(longitude) AS lon_max FROM base "
        "WHERE latitude IS NOT NULL AND longitude IS NOT NULL",
        "table": "SELECT * FROM base ORDER BY modified_time_utc DESC, incident_id ASC "
        f"LIMIT {int(table_rows)}",
    }[widget]
    return head + body


def pandas_rows(pdf, schema) -> tuple[list[tuple], list[str]]:
    """Rows of a ``toPandas`` result, with the values the Arrow transfer
    changed restored by the Spark schema (NaN back to NULL, integer
    columns widened to float back to int, arrays back to lists)."""
    from pyspark.sql.types import ArrayType, ByteType, IntegerType, LongType, ShortType

    ints = (ByteType, IntegerType, LongType, ShortType)
    fixers = []
    for field in schema.fields:
        dt = field.dataType
        if isinstance(dt, ints):
            fixers.append(lambda v: None if _isnull(v) else int(v))
        elif isinstance(dt, ArrayType):
            fixers.append(lambda v: None if v is None else list(v))
        else:
            fixers.append(lambda v: None if _isnull(v) else (v.to_pydatetime() if hasattr(v, "to_pydatetime") else v))
    rows = [
        tuple(fix(v) for fix, v in zip(fixers, row))
        for row in pdf.itertuples(index=False, name=None)
    ]
    return rows, list(pdf.columns)


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v)) or type(v).__name__ == "NaTType"
