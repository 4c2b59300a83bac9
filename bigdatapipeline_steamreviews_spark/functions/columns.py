"""Reusable Catalyst column expressions (zero Python UDFs).

See package docstring for the determinism rationale.  Reference citations
point into ``/root/reference/`` per SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "avg_exact",
    "sum_exact",
    "count_if",
    "normalize_bool_string",
    "epoch_seconds_to_ts",
    "word_shingles",
    "dot_product",
    "l2_norm",
    "cosine_similarity",
    "cosine_prepare",
    "cosine_prepared",
]

# Exact decimal accumulator for double inputs: wide enough for 1e18 row
# sums of ~1e8-magnitude values, 10 fractional digits.  Spark promotes the
# sum to decimal(38,10); overflow would surface as null, not silent garbage.
_ACC_DECIMAL = "decimal(28,10)"


def sum_exact(col: Column | str) -> Column:
    """Order-independent double sum: accumulate in exact DECIMAL, cast once.

    ``sum(double)`` differs in the last ulps depending on partitioning /
    merge order; a DECIMAL accumulator is associative-exact, so the result
    is identical on 1 partition or 10,000 — and identical to the DuckDB
    oracle which uses the same recipe.
    """
    c = F.col(col) if isinstance(col, str) else col
    return _dec_to_double(F.sum(c.cast(_ACC_DECIMAL)))


def avg_exact(col: Column | str) -> Column:
    """Deterministic mean: exact decimal sum, one double division at the end."""
    c = F.col(col) if isinstance(col, str) else col
    return _dec_to_double(F.sum(c.cast(_ACC_DECIMAL))) / F.count(c)


def _dec_to_double(c: Column) -> Column:
    """Correctly-rounded decimal->double via a string round-trip.

    A direct decimal->double cast is NOT correctly rounded in every engine
    once the scaled integer exceeds 2^53 (DuckDB divides the scaled int by
    10^scale in double arithmetic), which broke bitwise parity on money
    sums.  Decimal->string->double is correctly rounded everywhere.
    """
    return c.cast("string").cast("double")


def count_if(pred: Column) -> Column:
    """A4 — conditional count as sum(bool::int), the reference's idiom
    (``summarizer.py:85,87-88``: ``F.sum(col.cast('int'))``).

    Coalesced to 0: a group whose predicate is NULL on every row (all
    ``value`` NULL in a (day,type) slice) sums to NULL in Spark but 0
    under the oracle's ``CASE WHEN .. ELSE 0`` — an edge the fixtures
    don't currently hit, closed here rather than left fixture-dependent.
    """
    return F.coalesce(F.sum(pred.cast("int").cast("long")), F.lit(0).cast("long"))


def normalize_bool_string(col: Column | str) -> Column:
    """P5 — the reference's string->bool normalization with null->False
    (``summarizer.py:68-70``): "true"->True, "false"->False, else False."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == "true", F.lit(True))
        .when(c == "false", F.lit(False))
        .otherwise(F.lit(False))
    )


def epoch_seconds_to_ts(col: Column | str) -> Column:
    """P3 — unix epoch seconds -> TimestampType.

    The reference does ``from_unixtime(col).cast(TimestampType())``
    (``summarizer.py:66``) which round-trips through a session-timezone
    string; ``timestamp_seconds`` is the direct, tz-safe builtin.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Contiguous word n-grams (shingles) of a whitespace-tokenized text.

    Pure expression: ``transform`` over token indices + ``array_join`` —
    no explode needed at the call site, no UDF.  Empty result for texts
    shorter than ``n`` tokens.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    k = F.size(toks) - (n - 1)
    # Guard: sequence(1, 0) would count DOWN ([1, 0]); short texts get [].
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )


def _to_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic order)."""
    return F.aggregate(
        F.zip_with(_to_double_array(a), _to_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_to_double_array(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """X3 — cosine similarity over ``array<float>`` embeddings.

    All math in double with a sequential left-to-right fold.  The array's
    element order is fixed per row (no partitioning involvement), so the
    value is fully deterministic — and bitwise identical to any engine that
    folds lists sequentially (DuckDB's list_sum does; verified empirically).

    This per-pair form re-derives both norms for every pair (eight
    interpreted higher-order-function passes per pair).  Where one side's
    rows meet many rows of the other, prepare each side once with
    :func:`cosine_prepare` and score with :func:`cosine_prepared` — the
    same doubles, bit for bit.
    """
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


# --- Prepared cosine: per-row work once, per-pair work once ---------------
# Higher-order functions (aggregate / zip_with / transform) are not
# compiled to code: each is an interpreted pass over the array.  A pair
# scored with cosine_similarity pays eight such passes — two widening
# transforms, zip_with + aggregate for the dot, transform + aggregate per
# norm — although the widening and the norms depend on ONE row only.  The
# prepare step widens and norms each row once (inside the projection the
# caller already has, so the plan gains no operator); the score step is
# then one zip_with + aggregate and one division per pair.
#
# Bitwise equal to cosine_similarity: the float->double array cast is
# exact and equals transform(x -> double(x)); the folds start at the same
# double zero and run in the same left-to-right order; the quotient is
# dot / (norm_a * norm_b) as before.
#
# The folds are SQL strings over column NAMES: one F.expr is one JVM
# round trip, where building the same fold from Python lambdas takes
# dozens (every lambda variable, literal and operator is a py4j call).


def _sql_name(name: str) -> str:
    """Backtick-quote a (possibly ``alias.column``-qualified) column name."""
    return ".".join(f"`{part}`" for part in name.split("."))


def cosine_prepare(vec: str, vec_as: str, norm_as: str) -> list[Column]:
    """Prepare step of the prepared cosine: ``vec`` widened to
    ``array<double>`` (as ``vec_as``) and its L2 norm (as ``norm_as``),
    computed once per row.  Splice into the side's existing projection:
    ``df.select(id_col, *cosine_prepare("embedding", "qv", "qn"))``."""
    v = f"cast({_sql_name(vec)} AS array<double>)"
    return [
        F.expr(f"{v} AS {_sql_name(vec_as)}"),
        F.expr(f"sqrt(aggregate({v}, 0D, (acc, x) -> acc + x * x)) AS {_sql_name(norm_as)}"),
    ]


def cosine_prepared(a: str, a_norm: str, b: str, b_norm: str) -> Column:
    """Score step of the prepared cosine over two prepared sides: one dot
    fold over the double vectors ``a`` and ``b``, divided by the product
    of their prepared norms.  Bitwise equal to ``cosine_similarity`` on
    the unprepared vectors (NULL for a zero or NULL vector: 0/0 is NULL
    with ANSI off)."""
    return F.expr(
        f"aggregate(zip_with({_sql_name(a)}, {_sql_name(b)}, (x, y) -> x * y),"
        f" 0D, (acc, x) -> acc + x)"
        f" / ({_sql_name(a_norm)} * {_sql_name(b_norm)})"
    )
