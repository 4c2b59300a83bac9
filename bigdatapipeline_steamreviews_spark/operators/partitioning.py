"""Partitioning utilities — parallelism guards for explode-heavy operators.

Spark sizes a parquet scan's partitions by bytes
(``spark.sql.files.maxPartitionBytes``), so a compact input — one small
file locally, or a handful of heavily-compressed row groups anywhere —
can enter the plan as one or two partitions.  That is fine for a scan,
but an operator that *expands* its input (shingle explode, token explode:
5-50x row growth) then does all its downstream join/aggregate work at the
input's parallelism: broadcast joins add no exchange, so nothing ever
re-partitions and one task does everything.

``ensure_min_parallelism`` is the declarative fix: round-trip through one
hash repartition only when the input has fewer partitions than the
session's default parallelism.  On a real cluster reading a real table
(thousands of splits) it is a no-op; on a compact input it buys full
fan-out for one cheap shuffle of the *pre-explode* rows — always smaller
than shuffling the exploded output.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["ensure_min_parallelism", "salted_join"]


_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", v)
    if not m or m.group(2).lower() not in _SIZE_UNITS:
        raise ValueError(f"unparseable byte size {v!r}")
    return int(m.group(1)) * _SIZE_UNITS[m.group(2).lower()]


# Logical-plan node names that preserve the scan's partitioning 1:1.
# Anything else (joins, aggregates, windows, limits, unions, set ops,
# repartitions...) changes the partition count downstream of the scan, so
# the file-split estimate below would be wrong — those frames fall back
# to the RDD probe.
_NARROW_NODES = frozenset(
    {"Project", "Filter", "Generate", "SubqueryAlias", "Relation", "View"}
)
_NODE_NAME = re.compile(r"^[\s:+|-]*'?([A-Za-z0-9_]+)")


def _file_split_estimate(df: DataFrame) -> int | None:
    """Scan partition count of a narrow file-source-backed frame WITHOUT
    converting the plan to an RDD (r17 verdict ask #6: ``df.rdd`` runs
    full physical planning + RDD DAG construction per call — measured
    ~1.1 s on a cold session and a deprecated conversion besides).

    Mirrors ``FilePartition.maxSplitBytes`` + the greedy split packing of
    ``FilePartition.getFilePartitions`` (Spark 4.x): splittable-format
    splits of ``min(maxPartitionBytes, max(openCost, totalBytes/minPart))``
    bytes, packed largest-first with each file charged ``openCost``.
    Returns None (caller falls back to the RDD probe) unless the analyzed
    plan is narrow transforms over exactly ONE local, unpartitioned
    parquet relation — the only shape whose partitioning the estimate can
    reproduce exactly.  A partitioned relation is declined because
    ``inputFiles()`` lists every file before partition pruning (a
    partition filter would be over-counted); any other format because
    its splittability (compressed CSV/JSON are not) is not modelled.
    """
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        lines = analyzed.treeString().splitlines()
        n_rel = 0
        for ln in lines:
            m = _NODE_NAME.match(ln)
            if not m:
                continue
            name = m.group(1)
            if name not in _NARROW_NODES:
                return None
            if name == "Relation":
                n_rel += 1
                # LogicalRelation prints its source's short name last.
                if not ln.rstrip().endswith(" parquet"):
                    return None
        if n_rel != 1:
            return None
        if analyzed.collectLeaves().head().relation().partitionSchema().nonEmpty():
            return None
        files = df.inputFiles()
        if not files:
            return None
        sizes = []
        for f in files:
            if f.startswith("file:"):
                f = re.sub(r"^file:(//)?", "", f)
            elif "://" in f:
                return None  # non-local FS: stat not portable, fall back
            sizes.append(os.stat(f).st_size)
        conf = df.sparkSession.conf
        max_part = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes"))
        open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes"))
        min_parts = conf.get("spark.sql.files.minPartitionNum", None)
        if min_parts is None:
            min_parts = conf.get(
                "spark.sql.leafNodeDefaultParallelism", None
            )
        min_parts = (
            int(min_parts)
            if min_parts is not None
            else df.sparkSession.sparkContext.defaultParallelism
        )
        total = sum(s + open_cost for s in sizes)
        bytes_per_core = total // max(min_parts, 1)
        max_split = min(max_part, max(open_cost, bytes_per_core))
        splits: list[int] = []
        for s in sizes:
            off = 0
            while off < s:
                splits.append(min(max_split, s - off))
                off += max_split
        splits.sort(reverse=True)
        n, cur, has = 0, 0, False
        for sp in splits:
            if has and cur + sp > max_split:
                n, cur, has = n + 1, 0, False
            cur += sp + open_cost
            has = True
        return n + 1 if has else n
    except Exception:
        return None  # any surprise → the exact (RDD) probe decides


def ensure_min_parallelism(
    df: DataFrame, *keys: Column | str, min_partitions: int | None = None
) -> DataFrame:
    """Repartition ``df`` (hash on ``keys`` if given, else round-robin) up
    to the session default parallelism — but only if the plan currently has
    fewer partitions.  No-op (and no shuffle) on already-parallel inputs.

    The partition count comes from a non-materializing file-split estimate
    when the frame is narrow-over-one-file-relation (the shape every hot
    caller has), falling back to the exact ``df.rdd`` probe otherwise —
    the estimate/probe agreement across every call site x SF is pinned by
    tests/test_scale_layout.py::test_split_estimate_matches_rdd_probe.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    current = _file_split_estimate(df)
    if current is None:
        current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: split every hot key across ``n_salts`` reducers.

    A shuffled join on a skewed key sends each key's entire row volume to
    ONE reducer — the classic straggler at 100 TB (one task runs for hours
    while the rest idle).  Salting rewrites the join key to
    ``(key, salt)``: the big/skewed ``left`` side gets a salt derived from
    its row content (any routing value works — correctness never depends
    on it), and the smaller ``right`` side is replicated once per salt
    value, so every (key, salt) bucket joins independently.  Hot-key work
    now spreads across ``n_salts`` tasks at the cost of an ``n_salts``-x
    blow-up of the right side — the standard trade when the right side is
    modest but too big (or too mutable) to broadcast.

    Prefer AQE's automatic skew-join splitting
    (``spark.sql.adaptive.skewJoin``) when post-shuffle partition stats
    are available; explicit salting is for the cases AQE can't see —
    pre-aggregated inputs, stream-side joins, or deliberately pinned
    plans.  The ``shuffle_hash`` hint keeps the planner from broadcasting
    the replicated side, which would defeat the demonstration (and with a
    broadcast there is no shuffle to skew in the first place).

    Only ``inner`` and ``left`` modes are sound: the right side is
    replicated once per salt value BEFORE the join, so any mode that
    preserves unmatched right rows ('right'/'full') would emit each of
    them ``n_salts`` times.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only (got {how!r}): "
            "right-preserving modes would duplicate unmatched right rows "
            "once per salt"
        )
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts)
    ).cast("int")
    salted_left = left.withColumn("__salt", salt)
    salted_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).hint("shuffle_hash")
    joined = salted_left.join(salted_right, [key, "__salt"], how)
    return joined.drop("__salt")
