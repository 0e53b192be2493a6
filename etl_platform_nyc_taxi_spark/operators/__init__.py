"""Composable DataFrame operators (SURVEY.md §2 inventory + extensions).

Every operator takes and returns DataFrames so pipelines compose into ONE
Catalyst plan — the reference's per-file loop + union (its defect C5/D1)
is the anti-pattern this design eliminates.
"""

from etl_platform_nyc_taxi_spark.operators.core import (
    aggregate,
    union_all,
    union_by_name,
)
from etl_platform_nyc_taxi_spark.operators.windows import (
    ranked,
    top_k_by_count,
    top_k_per_group,
)
from etl_platform_nyc_taxi_spark.operators.joins import (
    join_dim,
    join_facts,
    semi_join,
    anti_join,
    range_join,
    asof_join,
)

__all__ = [
    "aggregate",
    "union_all",
    "union_by_name",
    "ranked",
    "top_k_by_count",
    "top_k_per_group",
    "join_dim",
    "join_facts",
    "semi_join",
    "anti_join",
    "range_join",
    "asof_join",
]
