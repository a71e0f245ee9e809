from acrawler_spark.operators.dedup import admit_new_candidates  # noqa: F401
from acrawler_spark.operators.politeness import apply_host_budgets  # noqa: F401
from acrawler_spark.operators.frontier import (  # noqa: F401
    FRONTIER_SCHEMA,
    candidates_from_links,
    seeds_frontier,
)
