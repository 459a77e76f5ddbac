"""Physical-plan inspection: make scale properties checkable, not assumed.

The engine's scale contract (SURVEY §4) is that Catalyst produces plans
with predicates pushed into the parquet scan, columns pruned to the
read set, dimension joins broadcast, aggregations partial+final around a
single exchange, and hot expressions fused into whole-stage codegen.
On a laptop a bad plan still finishes; at 100 TB it doesn't — so these
properties are part of the test suite, via the assertions here, instead
of something a reviewer eyeballs in ``explain()`` output once.

Usage::

    from echem_dft_etl_spark import plans
    plans.assert_pushed_filters(df, ["l_shipdate", "l_quantity"])
    plans.assert_read_columns(df, absent=["l_comment"])
    plans.assert_broadcast_join(df)
    assert plans.exchange_count(df) <= 1
"""

from .inspect import (
    exchange_count,
    has_operator,
    physical_plan,
    pushed_filters,
    read_schema,
    plan_summary,
    query_plan_summaries,
    wholestage_span_count,
)
from .asserts import (
    assert_broadcast_join,
    assert_no_cartesian_product,
    assert_no_sort_merge_join,
    assert_pushed_filters,
    assert_read_columns,
    assert_single_shuffle_agg,
    assert_wholestage_codegen,
)

__all__ = [
    "physical_plan",
    "pushed_filters",
    "read_schema",
    "exchange_count",
    "wholestage_span_count",
    "has_operator",
    "plan_summary",
    "query_plan_summaries",
    "assert_pushed_filters",
    "assert_read_columns",
    "assert_broadcast_join",
    "assert_no_sort_merge_join",
    "assert_no_cartesian_product",
    "assert_single_shuffle_agg",
    "assert_wholestage_codegen",
]
