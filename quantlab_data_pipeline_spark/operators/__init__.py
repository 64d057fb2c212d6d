from .dedup import (
    dedupe_assets_master,
    dedupe_first_non_null,
    drop_duplicates_ordered,
)
from .dividends import attach_close_prices, clean_dividends
from .factors import (
    FACTOR_NAME_MAP,
    cumulative_index,
    join_momentum,
    melt_factors,
    risk_free,
)
from .intervals import (
    derive_ibes_coverage,
    explode_membership,
    interval_overlap_join,
    point_in_time_join,
    trading_calendar,
)
from .asof import as_of_join
from .returns import delist_adjust, pct_change, with_adj_close
from .diff import snapshot_diff
from .hierarchy import resolve_hierarchy
from .impute import impute_by_group
from .profile import cms_frequencies, profile_table
from .rangejoin import bucketed_range_join
from .scd2 import merge_intervals, scd2_apply_changes, scd2_from_changelog
from .skew import grouped_global_cumsum, grouped_global_rank, salted_join

__all__ = [
    "FACTOR_NAME_MAP",
    "as_of_join",
    "grouped_global_cumsum",
    "grouped_global_rank",
    "salted_join",
    "attach_close_prices",
    "clean_dividends",
    "cumulative_index",
    "dedupe_assets_master",
    "dedupe_first_non_null",
    "delist_adjust",
    "drop_duplicates_ordered",
    "explode_membership",
    "derive_ibes_coverage",
    "interval_overlap_join",
    "join_momentum",
    "melt_factors",
    "bucketed_range_join",
    "resolve_hierarchy",
    "snapshot_diff",
    "merge_intervals",
    "scd2_apply_changes",
    "cms_frequencies",
    "impute_by_group",
    "pct_change",
    "profile_table",
    "scd2_from_changelog",
    "point_in_time_join",
    "risk_free",
    "trading_calendar",
    "with_adj_close",
]
