#!/usr/bin/env python
"""Per-trigger cost profile for the streaming replays (r17 verdict ask #1).

Runs a registered streaming query's EXACT pipeline construction but keeps
the StreamingQuery handle, so each micro-batch's ``StreamingQueryProgress``
is captured: durationMs breakdown (addBatch / getBatch / latestOffset /
queryPlanning / walCommit / commitOffsets / triggerExecution) and
stateOperators commit times — the instrument the wall-clock bench cannot
provide (run_to_memory_table returns only the final table).

Variants (A/B'd back-to-back in ONE session per the host-steal protocol —
memory/host-steal-bench-protocol.md):

* provider: hdfs (default) | rocksdb | rocksdb_changelog
* state partitions: --parts N
* trigger sizing: --files-per-trigger N

Usage:
  python scripts/stream_profile.py sessionization --reps 3 \
      --variants hdfs,rocksdb,rocksdb_changelog
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipeline_steamreviews_spark import get_spark  # noqa: E402
from bigdatapipeline_steamreviews_spark.queries_streaming import (  # noqa: E402
    _stage_events_chunks,
)
from bigdatapipeline_steamreviews_spark.streaming.sessions import (  # noqa: E402
    streaming_sessionize,
    streaming_sessionize_disordered,
)
from bigdatapipeline_steamreviews_spark.streaming.summarizer import (  # noqa: E402
    CHANGELOG_CONF,
    PROVIDER_CONF,
    ROCKSDB_PROVIDER,
    events_file_stream,
    stream_start_conf,
    streaming_daily_summary,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _steal_ticks():
    parts = open("/proc/stat").readline().split()
    v = [int(x) for x in parts[1:]]
    return sum(v) - v[3] - v[4], v[7]


def build(spark, which: str, files_per_trigger: int):
    stage = _stage_events_chunks(spark, SF_DIR)
    stream = events_file_stream(
        spark, stage, max_files_per_trigger=files_per_trigger
    )
    if which == "sessionization":
        return streaming_sessionize(stream, 1800, "30 minutes"), "append"
    if which == "disordered":
        return (
            streaming_sessionize_disordered(stream, 1800, "30 minutes"),
            "append",
        )
    if which == "daily_summary":
        return streaming_daily_summary(stream, watermark=None), "complete"
    raise SystemExit(f"unknown target {which}")


def run_one(spark, which, variant, parts, files_per_trigger, tag):
    result, mode = build(spark, which, files_per_trigger)
    ckpt = tempfile.mkdtemp(prefix="spark_graft_prof_")
    conf = {"spark.sql.shuffle.partitions": str(parts)}
    if variant.startswith("rocksdb"):
        conf[PROVIDER_CONF] = ROCKSDB_PROVIDER
        conf[CHANGELOG_CONF] = "true" if variant == "rocksdb_changelog" else "false"
    b0, s0 = _steal_ticks()
    t0 = time.time()
    with stream_start_conf(spark, ckpt, conf):
        q = (
            result.writeStream.format("memory")
            .queryName(tag)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    wall = time.time() - t0
    b1, s1 = _steal_ticks()
    prog = [json.loads(p.json) for p in q.recentProgress]
    n_rows = spark.table(tag).count()
    spark.catalog.dropTempView(tag)
    batches = []
    for p in prog:
        d = p.get("durationMs", {})
        so = p.get("stateOperators", [])
        batches.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": d,
                "stateCommitMs": [s.get("commitTimeMs") for s in so],
                "stateRowsUpdated": [s.get("numRowsUpdated") for s in so],
            }
        )
    return {
        "wall_s": round(wall, 3),
        "steal_pct": round(100.0 * (s1 - s0) / max(b1 - b0, 1), 1),
        "n_out_rows": n_rows,
        "n_batches": len(batches),
        "batches": batches,
    }


def run_registered(spark, qname: str, tag: str):
    """Run ANY registered stream_* query exactly as the bench does, but
    intercept run_to_memory_table so the StreamingQueryProgress events are
    captured (the wall-clock bench cannot see per-trigger durations)."""
    import bigdatapipeline_steamreviews_spark.queries_streaming as qs
    from bigdatapipeline_steamreviews_spark.registry import REGISTRY

    captured = {}
    real = qs.run_to_memory_table

    def wrapper(result, query_name, checkpoint_dir, output_mode="complete",
                shuffle_partitions=None, **kw):
        conf = {}
        if shuffle_partitions is not None:
            conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        with stream_start_conf(spark, checkpoint_dir, conf):
            q = (
                result.writeStream.format("memory")
                .queryName(query_name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        captured.setdefault("progress", []).extend(
            json.loads(p.json) for p in q.recentProgress
        )
        return spark.table(query_name)

    qs.run_to_memory_table = wrapper
    try:
        b0, s0 = _steal_ticks()
        t0 = time.time()
        df = REGISTRY[qname].fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        b1, s1 = _steal_ticks()
    finally:
        qs.run_to_memory_table = real
    batches = []
    for p in captured.get("progress", []):
        d = p.get("durationMs", {})
        so = p.get("stateOperators", [])
        batches.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": d,
                "stateCommitMs": [s.get("commitTimeMs") for s in so],
            }
        )
    return {
        "wall_s": round(wall, 3),
        "steal_pct": round(100.0 * (s1 - s0) / max(b1 - b0, 1), 1),
        "n_batches": len(batches),
        "batches": batches,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("target")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--variants", default="hdfs")
    ap.add_argument("--parts", type=int, default=None)
    ap.add_argument("--files-per-trigger", type=int, default=2)
    args = ap.parse_args()
    default_parts = {"sessionization": 16, "disordered": 16, "daily_summary": 2}
    spark = get_spark("stream_profile")
    if args.target.startswith("stream_"):
        # Registered-query mode: run the exact bench path N times and dump
        # per-trigger progress (no variants — the query picks its own).
        out = {"target": args.target, "runs": []}
        for rep in range(args.reps):
            spark.catalog.clearCache()
            r = run_registered(spark, args.target, f"prof_{rep}")
            r["rep"] = rep
            out["runs"].append(r)
            print(
                json.dumps(
                    {
                        "rep": rep,
                        "wall_s": r["wall_s"],
                        "steal": r["steal_pct"],
                        "batches": [
                            (
                                b["numInputRows"],
                                b["durationMs"].get("addBatch"),
                                b["durationMs"].get("queryPlanning"),
                            )
                            for b in r["batches"]
                        ],
                    }
                ),
                flush=True,
            )
        path = os.environ.get("STREAM_PROFILE_OUT", "/tmp/stream_profile.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print("wrote", path)
        return
    parts = args.parts or default_parts[args.target]
    variants = args.variants.split(",")
    out = {"target": args.target, "parts": parts, "fpt": args.files_per_trigger, "runs": []}
    counter = 0
    # warmup (untimed): spin executors/codegen
    run_one(spark, args.target, "hdfs", parts, args.files_per_trigger, "warmup_prof")
    for rep in range(args.reps):
        for v in variants:  # alternate variants within each rep (steal protocol)
            counter += 1
            spark.catalog.clearCache()
            r = run_one(
                spark, args.target, v, parts, args.files_per_trigger,
                f"prof_{counter}",
            )
            r["variant"] = v
            r["rep"] = rep
            out["runs"].append(r)
            print(
                json.dumps(
                    {
                        "variant": v,
                        "rep": rep,
                        "wall_s": r["wall_s"],
                        "steal": r["steal_pct"],
                        "rows": r["n_out_rows"],
                        "addBatch": [
                            b["durationMs"].get("addBatch") for b in r["batches"]
                        ],
                        "commit": r["batches"][0]["stateCommitMs"] if r["batches"] else None,
                    }
                ),
                flush=True,
            )
    path = os.environ.get("STREAM_PROFILE_OUT", "/tmp/stream_profile.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
