"""Read-path operator library (SURVEY.md §2.2-2.8).

Every operator is a pure function DataFrame -> DataFrame built from
Catalyst-optimizable primitives — no UDFs, no collect loops — so predicate
pushdown, column pruning, broadcast selection and whole-stage codegen apply.
"""

from waddleml_spark.operators.core import (  # noqa: F401
    equality_filter,
    last_per_group,
    paginate,
    pivot_wide,
    search_filter,
    stale_status,
    top_n_per_group,
)
