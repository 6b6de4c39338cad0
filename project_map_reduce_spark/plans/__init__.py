"""The declared query inventory (SURVEY.md §2 Part B).

Importing this package registers every query with
``project_map_reduce_spark.registry``. One module per inventory family.
Nothing depends on registration order: consumers look queries up by
name or sort them.
"""

from project_map_reduce_spark.plans import (  # noqa: F401
    windows,
    udfs,
    text_analysis,
    streaming_shaped,
    agg_extra,
    joins,
    scalars,
    dedup,
    similarity,
    aggregates,
    scans,
    filters,
    sort_topk,
    setops,
    sampling,
    olap_extra,
    pipeline_guard,
    event_analytics,
    sql_surface,
    packing,
    multimodal_shaped,
    warehouse,
    graph,
)
