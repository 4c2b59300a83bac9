"""Column-level building blocks shared by operators.

Everything here is a pure Catalyst expression (no Python UDFs) so the whole
engine core stays inside whole-stage codegen — the reference's middle stage
has the same property (all builtin exprs, ``/root/reference/summarizer.py:61-104``)
and we preserve it deliberately (SURVEY.md §2.7).

Determinism note: several helpers exist to make floating-point aggregates
*bitwise reproducible* across engines (Spark vs the DuckDB oracle) and across
partitionings: double sums are order-sensitive, so we sum in exact DECIMAL
and only convert to double at the end.  At 100 TB this also means a re-run
after a partial failure produces the identical answer.
"""

from .columns import (
    avg_exact,
    sum_exact,
    count_if,
    normalize_bool_string,
    epoch_seconds_to_ts,
    word_shingles,
    cosine_similarity,
    cosine_prepare,
    cosine_prepared,
    dot_product,
    l2_norm,
)

__all__ = [
    "avg_exact",
    "sum_exact",
    "count_if",
    "normalize_bool_string",
    "epoch_seconds_to_ts",
    "word_shingles",
    "cosine_similarity",
    "cosine_prepare",
    "cosine_prepared",
    "dot_product",
    "l2_norm",
]
