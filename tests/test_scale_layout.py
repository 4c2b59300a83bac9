"""Physical-layout scale claims, made checkable: bucketed tables join with
no exchange and no sort; partitioned serving tables prune to the matching
directories under time-drilldown filters.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatapipeline_steamreviews_spark.operators.serving import with_date_parts
from bigdatapipeline_steamreviews_spark.sources.layout import (
    read_partitioned,
    write_bucketed_table,
    write_partitioned,
)
from bigdatapipeline_steamreviews_spark.sources.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    l = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(o, "orders_b", "o_orderkey", 4, str(base / "orders_b"))
    write_bucketed_table(l, "lineitem_b", "l_orderkey", 4, str(base / "lineitem_b"))
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_exchange_or_sort(spark, bucketed_tables):
    o_name, l_name = bucketed_tables
    o, l = spark.table(o_name), spark.table(l_name)
    joined = o.hint("merge").join(l, o.o_orderkey == l.l_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # Both sides pre-shuffled on the join key at write time: the
    # sort-merge join runs with NO exchange on either side — the shuffle
    # (the expensive stage at 100 TB) was paid once by the write and is
    # amortized over every future join.  (Per-bucket sorts remain: Spark
    # only trusts sortBy file order when each bucket is a single file.)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan
    # And the answer is still the join's answer.
    assert joined.count() == l.count()


def test_unbucketed_join_pays_the_exchanges(spark):
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    l = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = (
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # The contrast case: same join over plain parquet shuffles both sides.
    assert plan.count("Exchange hashpartitioning") == 2


def test_partitioned_serving_table_prunes(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serving_parted") / "daily")
    daily = with_date_parts(
        load_table(spark, SF_DIR, "orders").select(
            F.col("o_orderdate").alias("time"), "o_orderkey", "o_totalprice"
        ),
        "time",
    )
    write_partitioned(daily, path, "time_year", "time_month")

    back = read_partitioned(spark, path).filter(
        (F.col("time_year") == 1995) & (F.col("time_month") == 3)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    # Drilldown filters must land in PartitionFilters (directory pruning),
    # not in post-scan Filter nodes reading the whole table.
    assert "PartitionFilters" in plan
    assert "time_year#" in plan.split("PartitionFilters", 1)[1][:400]
    expected = daily.filter(
        (F.col("time_year") == 1995) & (F.col("time_month") == 3)
    ).count()
    assert back.count() == expected


def _overlap_fraction(path: str, col: str, lo: float, hi: float) -> float:
    """Fraction of parquet row groups whose [min,max] for ``col`` overlaps
    [lo, hi] — i.e. the fraction a stats-pruning reader must actually read."""
    import glob

    import pyarrow.parquet as pq

    total = overlapping = 0
    for f in glob.glob(f"{path}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}[col]
        for rg in range(meta.num_row_groups):
            stats = meta.row_group(rg).column(idx).statistics
            total += 1
            if stats.min <= hi and stats.max >= lo:
                overlapping += 1
    return overlapping / total


def test_zorder_skips_on_both_dimensions(spark, tmp_path_factory):
    from bigdatapipeline_steamreviews_spark.sources.layout import write_zordered

    base = tmp_path_factory.mktemp("zorder")
    e = load_table(spark, SF_DIR, "events").select("user_id", "value", "event_id")

    # Contrast layout: clustered on user_id only (single-column sort).
    single = str(base / "single")
    e.repartitionByRange(16, "user_id").sortWithinPartitions("user_id").write.mode(
        "overwrite"
    ).parquet(single)
    # Z-ordered on (user_id, value).
    zpath = str(base / "zorder")
    # 64 files -> the top 3 bits of each dimension select a file strip;
    # fewer files would make each strip too coarse to show pruning on a
    # 1000-row fixture (at 100 TB the file count is in the thousands).
    write_zordered(e, zpath, ["user_id", "value"], bits=8, target_files=64)

    # Query ranges holding ~10% of the ROWS (quantile-based, not span-based:
    # on skewed columns a 10%-of-span range can hold half the data, and no
    # layout can skip data the query actually selects).
    u_lo, u_hi = e.approxQuantile("user_id", [0.45, 0.55], 0.01)
    v_lo, v_hi = e.approxQuantile("value", [0.45, 0.55], 0.01)

    # Single-column sort: skips on the sort column, reads everything for the
    # other dimension.
    assert _overlap_fraction(single, "user_id", u_lo, u_hi) <= 0.3
    assert _overlap_fraction(single, "value", v_lo, v_hi) >= 0.9
    # Z-order: a 10% range on EITHER dimension prunes most row groups.
    assert _overlap_fraction(zpath, "user_id", u_lo, u_hi) <= 0.5
    assert _overlap_fraction(zpath, "value", v_lo, v_hi) <= 0.5

    # And the rewrite is lossless.
    assert spark.read.parquet(zpath).count() == e.count()


def test_compaction_bin_packs_by_bytes(spark, tmp_path_factory):
    from bigdatapipeline_steamreviews_spark.sources.layout import compact_files

    base = tmp_path_factory.mktemp("compact")
    frag = str(base / "fragmented")
    e = load_table(spark, SF_DIR, "events")
    # Simulate a trigger-cadence sink: 64 tiny files.
    e.repartition(64).write.mode("overwrite").parquet(frag)

    import glob
    import os

    sizes = [os.path.getsize(f) for f in glob.glob(f"{frag}/*.parquet")]
    target = sum(sizes) // 4  # aim for ~4 output files

    dest = str(base / "compacted")
    n = compact_files(spark, frag, dest, target_file_bytes=target)
    out_files = glob.glob(f"{dest}/*.parquet")
    assert len(out_files) == n
    assert 3 <= n <= 6
    assert spark.read.parquet(dest).count() == e.count()


def test_src_partitioned_pruned_scan_has_partition_filter(spark):
    """The registered partition-pruned source query must plan its
    event_type equality as a PartitionFilter on the scan (directory
    pruning), not a post-scan Filter over all partitions."""
    from bigdatapipeline_steamreviews_spark.queries_sources import (
        src_partitioned_pruned_scan,
    )

    df = src_partitioned_pruned_scan(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1][:400]


def test_dynamic_partition_overwrite_backfill(spark, tmp_path_factory):
    """Backfill discipline: with partitionOverwriteMode=dynamic, re-running
    one day's batch replaces ONLY that day's directory — static overwrite
    would truncate the whole table first, the classic backfill footgun."""
    path = str(tmp_path_factory.mktemp("backfill") / "daily")
    e = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    ).select("day", "event_id", "value")
    e.write.partitionBy("day").mode("overwrite").parquet(path)
    days = [r["day"] for r in e.select("day").distinct().orderBy("day").collect()]
    target, others = days[0], days[1:]
    before_other = (
        spark.read.parquet(path).filter(F.col("day") != target).count()
    )

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # The corrected backfill: same day, values doubled, half the rows.
        fixed = (
            e.filter(F.col("day") == target)
            .filter(F.col("event_id") % 2 == 0)
            .withColumn("value", F.col("value") * 2)
        )
        n_fixed = fixed.count()
        fixed.write.partitionBy("day").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(path)
    # Only the target day was replaced...
    assert back.filter(F.col("day") == target).count() == n_fixed
    # ...and every other partition survived untouched.
    assert back.filter(F.col("day") != target).count() == before_other
    # (the reader infers the partition value as DATE; compare as strings)
    assert {str(r["day"]) for r in back.select("day").distinct().collect()} == set(days)


# ---------------------------------------------------------------------------
# File-skipping index (round 14): stats table + point-lookup pruning
# ---------------------------------------------------------------------------


def test_file_stats_index_eliminates_files_and_loses_nothing(
    spark, tmp_path_factory
):
    """Build the skipping index over a range-clustered write and probe a
    point key: (a) the candidate set must be a strict subset of the
    files (elimination — the reason the index exists), and (b) the
    pruned read must equal the full scan exactly (soundness)."""
    from bigdatapipeline_steamreviews_spark.sources.layout import (
        file_stats_table,
        prune_files_for_point,
    )

    base = str(tmp_path_factory.mktemp("skipidx") / "events")
    ev = load_table(spark, SF_DIR, "events")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(base)
    )
    stats = file_stats_table(spark, base, ["user_id"]).collect()
    n_files = len(stats)
    assert n_files >= 4  # clustering really produced multiple files
    # stats row counts cover the table exactly
    assert sum(r["n_rows"] for r in stats) == ev.count()

    probe = max(r["max_user_id"] for r in stats if r["max_user_id"] is not None) // 2
    cand = prune_files_for_point(stats, "user_id", probe)
    assert 0 < len(cand) < n_files, (
        f"no elimination: {len(cand)} of {n_files} files"
    )
    pruned = (
        spark.read.schema(ev.schema)
        .parquet(*cand)
        .filter(F.col("user_id") == probe)
        .count()
    )
    full = ev.filter(F.col("user_id") == probe).count()
    assert pruned == full > 0


def test_prune_files_handles_gaps_and_null_only_files(spark):
    """A probe in a range gap returns no candidates (and the lookup is
    then provably empty without touching data); an all-NULL file can
    never be a candidate for a point predicate."""
    from bigdatapipeline_steamreviews_spark.sources.layout import (
        prune_files_for_point,
    )

    stats = [
        {"file": "f1", "min_user_id": 0, "max_user_id": 9, "n_rows": 10},
        {"file": "f2", "min_user_id": 20, "max_user_id": 29, "n_rows": 10},
        {"file": "f3", "min_user_id": None, "max_user_id": None, "n_rows": 3},
    ]
    assert prune_files_for_point(stats, "user_id", 15) == []
    assert prune_files_for_point(stats, "user_id", 25) == ["f2"]
    assert prune_files_for_point(stats, "user_id", 9) == ["f1"]


def test_src_skipping_index_registered_query_nonvacuous(spark):
    """The registered query's probe key (max of file maxes) exists by
    construction, so its gate can never pass on 0==0 — pinned here after
    the round-14 30x probe caught a mid-range probe (max//2) landing in
    a user-id gap on the replicated corpus (rows_ratio 0.0)."""
    from bigdatapipeline_steamreviews_spark import queries

    out = queries()["src_skipping_index"](spark, SF_DIR).collect()
    assert len(out) > 0
    assert sum(r["n_events"] for r in out) > 0


def test_split_estimate_matches_rdd_probe(spark, tmp_path):
    """ensure_min_parallelism's non-materializing file-split estimate
    (r17 verdict ask #6) must agree with the exact ``df.rdd`` probe on
    every plan shape the guard sees: raw scans, filtered/projected scans,
    exploded scans, multi-file staged directories — plus refuse (None)
    the shapes whose partitioning is NOT the scan's (joins, aggregates,
    repartitions, in-memory frames)."""
    from bigdatapipeline_steamreviews_spark.operators.partitioning import (
        _file_split_estimate,
    )

    frames = []
    for table in ("events", "documents", "lineitem", "nation", "embeddings"):
        t = load_table(spark, SF_DIR, table)
        frames.append(t)
        frames.append(t.select(*t.columns[:2]))
    docs = load_table(spark, SF_DIR, "documents")
    frames.append(docs.filter(F.col("doc_id") % 2 == 1))
    frames.append(
        docs.filter(F.col("text").isNotNull()).select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
    )
    # multi-file directory (3 small files)
    multi = str(tmp_path / "multi")
    docs.limit(30).repartition(3).write.parquet(multi)
    frames.append(spark.read.parquet(multi))
    for df in frames:
        est = _file_split_estimate(df)
        assert est is not None, df._jdf.queryExecution().analyzed().treeString()
        assert est == df.rdd.getNumPartitions(), (
            df._jdf.queryExecution().analyzed().treeString()
        )
    # Shapes the estimate must decline (fall back to the exact probe):
    ev = load_table(spark, SF_DIR, "events")
    declined = [
        ev.groupBy("event_type").count(),
        ev.join(docs, ev.event_id == docs.doc_id),
        ev.repartition(7),
        ev.limit(5),
        spark.createDataFrame([(1, "a")], "id long, s string"),
        ev.select("event_id").union(ev.select("user_id")),
    ]
    # A hive-partitioned directory: inputFiles() lists every partition's
    # files before pruning, so a partition filter would be over-counted.
    # A CSV scan: splittability is format- and codec-dependent.
    parted = str(tmp_path / "parted")
    docs.limit(60).withColumn("part", F.col("doc_id") % 3).write.partitionBy(
        "part"
    ).parquet(parted)
    csv_dir = str(tmp_path / "csv")
    docs.limit(30).select("doc_id", "lang").write.csv(csv_dir, header=True)
    declined += [
        spark.read.parquet(parted).filter(F.col("part") == 1),
        spark.read.parquet(parted),
        spark.read.csv(csv_dir, header=True),
    ]
    for df in declined:
        assert _file_split_estimate(df) is None, (
            df._jdf.queryExecution().analyzed().treeString()
        )
