#!/usr/bin/env python
"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries" (per-query
sec), "sf"}.

Execution is measured end-to-end through a noop sink (full plan runs, no
driver-side collect), after one small warmup to exclude JVM/session start.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdatapipeline_steamreviews_spark import get_spark, queries  # noqa: E402
from perfbench.stats import steal_pct, steal_ticks  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship + one representative per operator family.
BENCH_QUERIES = [
    "flagship_daily_summary",      # A1-A4 windowed aggregate
    "stream_daily_summary",        # the same, as a live streaming replay
    "stream_sessionization",       # applyInPandasWithState session windows
    "serving_upsert_compaction",   # A7 keyed compaction (window function)
    "serving_monthly_rollup",      # A5 re-aggregation rollup
    "q1_pricing_summary",          # fact-scan aggregate (decimal-exact sums)
    "q3_top_revenue_orders",       # fact-fact join + top-N
    "j1_region_enrichment",        # broadcast star join
    "j3_salted_segment_stats",     # salted skew join
    "w2_session_stats",            # sessionization (window functions)
    "t1_asof_latest_order",        # as-of join (union-tag)
    "x1_exact_dedup",              # digest groupBy dedup
    "x2_ngram_jaccard",            # set-similarity self-join
    "x2_minhash_lsh",              # MinHash+LSH banding
    "x2_simhash",                  # SimHash signatures
    "x3_cosine_topk",              # brute-force ANN baseline
    "x3_cosine_topk_bucketed",     # IVF-style ANN scale path
    "x4_quality_score",            # text quality scoring
    "x4_tfidf_top_terms",          # tf-idf (explode + join + window)
    "x5_feature_extract",          # Arrow/pandas multimodal path
    # r5 additions — keep the 20 above untouched so the r1/r4 series stays
    # comparable; these give the r4-born operator families a perf artifact.
    "q9_product_profit",           # heaviest TPC-H join tree (5-way)
    "g4_status_priority_cube",     # grouping-set multiplier (CUBE)
    "x1_paragraph_dedup",          # explode-heavy sub-document dedup
    "j4_fuzzy_name_match",         # deletion-variant fuzzy join (r5-born)
    "x4_bigram_pmi",               # double-explode collocations (r5-born)
    # r5 third-session algorithmic families (25 above stay comparable):
    "a19_pareto_frontier",         # two-phase bucket-pruned skyline
    "a20_equidepth_histogram",     # multi-rank two-phase selection
    "w18_peak_concurrency",        # distributed sweep-line prefix sum
    "x3_pq_adc_topk",              # product quantization + ADC
    # r5 fourth-session additions (29 above stay comparable):
    "x1_span_dedup",               # token-window span dedup (interval union)
    "a22_kmv_distinct_users",      # KMV sketch + mergeable rollup
    # r9 births (31 above stay comparable):
    "stream_sessionization_disordered",  # buffered disorder-tolerant sessions
    "x3_ivf_pq_topk",              # IVF+PQ composed ANN (exhaustive probe)
    "x4_model_scores",             # Arrow model-inference seam
    "x4_bpe_tokens",               # vocab-confined BPE token accounting
    # r10 birth (35 above stay comparable):
    "x3_ivf_pq_persisted",         # probe-only ANN from staged index
    # r11 birth (36 above stay comparable):
    "x3_ivf_pq_incremental",       # streaming ANN index maintenance
    # r13 births (37 above stay comparable):
    "a23_quantile_sketch",         # mergeable quantile sketch (KLL-style pool)
    "obs_ingest_metrics",          # observe() in-flight metrics, one pass
    "x4_dsir_sample",              # DSIR importance sampling (explode + 3 aggs)
    "t6_interval_overlap_join",    # banded temporal overlap join
    # r14 births (41 above stay comparable):
    "stream_quantile_sketch",      # bottom-k pool as streaming state
    "x3_cosine_topk_blas",         # GEMM candidate selection + exact rescore
    "src_skipping_index",          # stats-table-pruned point lookup
    # r15 births (44 above stay comparable):
    "x3_ivf_pq_residual",          # residual-encoding IVF+PQ (FAISS recipe)
    "x3_ivf_pq_residual_persisted",  # its train-once/probe-many form
    "stream_curation_pipeline",    # rules -> exact -> LSH as one stream
    # r16 births (47 above stay comparable):
    "x3_ivf_pq_rerank",            # ADC shortlist + exact rescore (refine)
    "x3_ivf_pq_residual_recall",   # approximate-probe recall-as-a-query
    "stream_curation_semantic",    # curation stream + SemDeDup stage
]


def build_output(
    per_query: dict[str, float],
    errors: dict[str, str],
    n_queries: int,
    sf_dir: str,
    samples: dict[str, list] | None = None,
) -> dict:
    """Assemble the one-line JSON artifact.  Pure, so the partial-total
    guard is unit-testable: a partial sum must NEVER be reported as
    ``value`` (it reads as a perf win to any consumer that misses the
    flag — the round-3 failure class, shifted from crash to silent
    undercount).  A warmup-only error leaves the total intact: all timed
    queries ran.

    ``samples`` carries every timed run per query; the artifact records
    them plus a per-query ``spread`` (max-min) so the round-over-round
    comparison carries its own variance band (r7 verdict What's-wrong #1:
    a 12% headline swing was judged host contention from PERF.md prose
    because the best-of-N artifact discarded the evidence)."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline query wall-clock, noop sink",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "n_completed": len(per_query),
        "n_queries": n_queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if samples:
        out["samples"] = samples
        out["spread"] = {
            q: round(max(s) - min(s), 3) for q, s in samples.items() if s
        }
    if errors:
        out["errors"] = errors
    if len(per_query) < n_queries:
        out["value"] = None
        out["incomplete"] = True
    return out


# The driver records only the LAST 2000 characters of stdout and parses the
# final JSON line; the round-8 artifact was truncated mid-JSON because the
# samples-laden line had grown past the cap (r8 verdict ask #7).  The stdout
# line must therefore stay compact; the full artifact (samples, spread,
# untruncated errors) goes to a sidecar file.
STDOUT_BYTE_BUDGET = 2000


def compact_output(out: dict) -> dict:
    """Strip the stdout line down to what the judge reads (headline total +
    per-query minima) so it always fits the driver's tail capture.  samples
    and spread live in the sidecar artifact only; error messages are
    truncated and capped in count (a mass failure must not evict the
    per-query numbers from the capture window)."""
    slim = {k: v for k, v in out.items() if k not in ("samples", "spread", "steal_pct")}
    # Steal summary (r17 verdict ask #2): the per-query steal map cannot
    # ride the compact line (50 long-named entries would blow the 2000-char
    # capture budget the test above pins), but PERF's round-over-round
    # comparison needs to see per-query contention without opening the
    # sidecar — so the line carries the run-level number (main() adds
    # run_steal_pct) plus the WORST per-query window and how many queries
    # were measured over the 5% dirty threshold.  Full map: sidecar.
    steal = out.get("steal_pct")
    if steal:
        slim["steal_hi"] = max(steal.values())
        slim["steal_n_over5"] = sum(1 for v in steal.values() if v > 5.0)
    if "errors" in slim:
        errs = {k: v[:80] for k, v in list(slim["errors"].items())[:5]}
        if len(slim["errors"]) > len(errs):
            errs["__more__"] = f"{len(slim['errors']) - len(errs)} more"
        slim["errors"] = errs
    return slim


def main() -> None:
    spark = get_spark("bench")
    regs = queries()

    # Evict staged parquet built from corpus fingerprints no live source
    # matches (the driver regenerates testdata in place between rounds;
    # without GC every regeneration leaks an immutable stage generation).
    from bigdatapipeline_steamreviews_spark.sources.staging import prune_all_stages

    prune_all_stages()

    def run_once(name: str) -> float:
        # Every timed run starts with a cold in-memory cache: queries may
        # persist() small multi-consumer intermediates, and the SECOND
        # best-of-2 run would otherwise get those subtrees free from the
        # CacheManager (same logical plan), flattering the number.  The
        # durable staged-parquet indexes (LSH bands, span digests) stay —
        # those are deliberate storage artifacts, not warm-cache luck.
        spark.catalog.clearCache()
        t0 = time.time()
        df = regs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def run(name: str) -> tuple[float, list[float]]:
        # Best-of-3 (r7 verdict): the first run pays one-time costs
        # (codegen cache, Python-worker spawn, replay staging) that are
        # not the query's steady-state cost; the min is the stable,
        # comparable number, and ALL samples go into the artifact so the
        # per-query spread distinguishes host contention from a real
        # plan regression without appealing to prose.
        samples = [round(run_once(name), 3) for _ in range(3)]
        return min(samples), samples

    # Warmup: spin up executors / codegen on a tiny query, untimed.
    # Guarded like the timed queries: one broken query must never zero out
    # the whole round's perf signal (round-3 postmortem).
    errors: dict[str, str] = {}
    try:
        regs["serving_distinct_types"](spark, SF_DIR).count()
    except Exception as e:  # noqa: BLE001 - record and continue
        errors["__warmup__"] = f"{type(e).__name__}: {e}"[:300]

    per_query: dict[str, float] = {}
    samples: dict[str, list] = {}
    # Hypervisor steal per query and per run (/proc/stat): loadavg cannot
    # see a co-tenant taking this VM's vCPUs, so each window carries the
    # steal it was measured under.  The sidecar gets the per-query map; the
    # compact stdout line keeps the run-level number and a summary.
    steal: dict[str, float] = {}
    run_t0 = steal_ticks()
    for name in BENCH_QUERIES:
        q_t0 = steal_ticks()
        try:
            per_query[name], samples[name] = run(name)
        except Exception as e:  # noqa: BLE001 - record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            samples.pop(name, None)
        steal[name] = round(steal_pct(q_t0, steal_ticks()), 1)

    out = build_output(per_query, errors, len(BENCH_QUERIES), SF_DIR, samples)
    out["steal_pct"] = steal
    out["run_steal_pct"] = round(steal_pct(run_t0, steal_ticks()), 1)
    # Full artifact (samples + spread + untruncated errors) to a sidecar.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_last_full.json")
    try:
        with open(full_path, "w") as f:
            json.dump(out, f)
            f.write("\n")
    except OSError as e:
        print(f"bench: could not write full artifact: {e}", file=sys.stderr)
    # ONE compact JSON line, last on stdout: the driver keeps only the final
    # 2000 characters, so this line alone must parse (r8 ask #7).
    print(json.dumps(compact_output(out)))


if __name__ == "__main__":
    main()
