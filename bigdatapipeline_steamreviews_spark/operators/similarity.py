"""X3 — similarity search over embedding columns (SURVEY.md §2.8), plus
the X2 family's vector members (embedding near-dup, semantic dedup).

Every top-k variant is a composition of the same four steps, and each
step has one implementation in this module:

* **partition** — the coarse cell a corpus vector lives in: none (brute
  force), sign bits (:func:`sign_bucket`), random-projection bits
  (:func:`rp_bucket`), or a centroid list (:func:`train_ivf`, or
  :func:`seeded_centroids` + :func:`assign_to_centroids`, the
  zero-shuffle broadcast argmin);
* **probe** — the cells a query visits: its own bucket, its Hamming-1
  neighbours (:func:`cosine_topk_multiprobe`), or its ``n_probe``
  nearest centroids (:func:`_coarse_probe`);
* **encode** — how candidates are held: raw floats, prepared once per
  row for the cosine (``cosine_prepare``), or PQ codes
  (:func:`_pq_encode`, over the vectors or their residuals against the
  list centroid, :func:`_residual_index`);
* **score and rank** — the prepared-cosine pair select
  (:func:`_cosine_pairs`) or the ADC fold against a per-query lookup
  table (:func:`_pq_lut`, :func:`_adc_topk`), ranked by the one
  per-query window :func:`_topk` (score, then neighbor_id).

Every squared distance is the one sequential fold :func:`_sq_dist` and
every centroid mean the one quantized exact-decimal recipe
:func:`_exact_means`, so all of it is bitwise reproducible against the
DuckDB oracles under any partitioning.  At 100 TB the cell key is the
partition column the corpus (or its code table) is written by, so a
probe prunes to files.

No row-at-a-time Python UDFs anywhere: `zip_with`/`transform`/`aggregate`
keep the math in the JVM.  Those higher-order functions are interpreted,
not compiled, so every pair site scores from sides prepared once per row
and pays one dot fold per pair.  At 64-256 dims the expressions are
competitive and keep plans fusable; above ~1k dims the arithmetic
dominates and one Arrow-batched numpy/BLAS hop wins — that path is
:func:`cosine_topk_blas`, which uses BLAS for SELECTION only and
re-scores the surviving <= |q|*2k pairs with the exact expression fold,
so its output is bitwise identical to :func:`cosine_topk` whenever both
agree on the top-k SET (measured crossover: PERF.md r14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import avg_exact, cosine_prepare, cosine_prepared

__all__ = [
    "cosine_topk_blas",
    "sign_bucket",
    "rp_hyperplanes",
    "rp_bucket",
    "cosine_topk_rp",
    "cosine_topk",
    "cosine_topk_bucketed",
    "cosine_topk_multiprobe",
    "embedding_near_dup_pairs",
    "train_ivf",
    "cosine_topk_ivf",
    "label_centroids",
    "cluster_inertia",
    "scalar_quantize",
    "assign_to_centroids",
    "seeded_centroids",
    "semantic_dedup_pairs",
    "pq_adc_topk",
    "ivf_pq_topk",
    "ivf_pq_residual_topk",
    "ivf_pq_rerank_topk",
    "train_pq",
]


def sign_bucket(emb: Column, bits: int = 4) -> Column:
    """Deterministic coarse quantizer: bit j = sign of dimension j.

    Equivalent to LSH with axis-aligned hyperplanes — chosen over random
    hyperplanes so any engine (and the oracle) derives identical buckets.
    """
    acc = None
    for j in range(bits):
        term = (F.element_at(emb, j + 1) > 0).cast("long") * F.lit(2**j)
        acc = term if acc is None else acc + term
    return acc


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left fold — the same fold order
    as DuckDB's ``list_sum``, so the double is bitwise engine-portable."""
    diffsq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffsq, F.lit(0.0), lambda acc, x: acc + x)


def _topk(
    pairs: DataFrame,
    k: int,
    score: str = "cosine",
    ascending: bool = False,
    extra: tuple = (),
) -> DataFrame:
    """Rank step: each query's top ``k`` pairs by ``score`` (descending
    for a similarity, ascending for a distance), ties broken by
    neighbor_id.  Returns (query_id, neighbor_id, *extra, score, rank)."""
    order = F.col(score) if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", *extra, score, "rank")
    )


def _prepared(df: DataFrame, role: str, id_col: str, vec_col: str, *extra) -> DataFrame:
    """One side of a cosine pair, prepared once per row: the query side
    (``role="q"``: query_id, qv, qn) or the corpus side (``role="c"``:
    neighbor_id, cv, cn), plus ``extra`` columns."""
    key = "query_id" if role == "q" else "neighbor_id"
    return df.select(
        F.col(id_col).alias(key), *cosine_prepare(vec_col, role + "v", role + "n"), *extra
    )


def _cosine_pairs(
    c: DataFrame,
    q: DataFrame,
    on: str | None = None,
    extra: tuple = (),
    drop_self: bool = True,
) -> DataFrame:
    """Score step on raw vectors: the prepared corpus side joined to the
    broadcast prepared query side (on the cell key ``on``, or as a cross
    join), self pairs dropped, one prepared-cosine fold per pair.
    ``drop_self=False`` is for pair sets that cannot hold a self pair
    (a shortlist); a filter there would land above its window."""
    pairs = c.crossJoin(F.broadcast(q)) if on is None else c.join(F.broadcast(q), on)
    if drop_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    return pairs.select(
        "query_id",
        "neighbor_id",
        *extra,
        cosine_prepared("qv", "qn", "cv", "cn").alias("cosine"),
    )


def spread_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for the heavy per-row vector-math
    stages (centroid argmin, PQ encode, cosine folds: ~1k interpreted
    higher-order-function evaluations PER ROW), whose wall-clock is
    bounded by the SCAN's parallelism — a single-row-group parquet file
    plans as one task no matter what ``maxPartitionBytes`` says
    (optimization guide §2.5, "one huge unsplittable file ... repartition
    immediately after the read").  Delegates to the repo-wide
    ``ensure_min_parallelism`` guard: a no-op at production scale (scan
    partitions >= cores), one cheap narrow-row shuffle on compact inputs.
    Every consumer below the exchange is row-local or totally ordered, so
    results are bitwise independent of placement."""
    from .partitioning import ensure_min_parallelism

    if df.isStreaming:
        return df
    return ensure_min_parallelism(df)


def cosine_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_pred: Column | None = None,
) -> DataFrame:
    """Brute-force top-k cosine neighbors for each query row.

    The query side is broadcast; the corpus is scanned exactly once with no
    shuffle of the candidate side.  The per-query top-k window partitions
    by query id, so ranking state is tiny regardless of corpus size.

    ``corpus_pred`` is the *filtered-ANN* knob (metadata-constrained
    retrieval: "nearest neighbors WHERE label IN (...)"): the predicate is
    applied to the candidate side BEFORE any distance math, so Catalyst
    pushes it into the parquet scan (row-group/partition pruning at scale)
    and the expensive cosine runs only on surviving rows — filter-then-rank,
    never rank-then-filter, which would both waste distance computations
    and return short result lists.

    Each side is PREPARED once per row inside its existing projection
    (``cosine_prepare``: the double-widened vector and its norm), so a
    pair pays one dot fold and one division instead of re-running the
    widening and both norm folds — higher-order functions are interpreted,
    not compiled, so every pass over the array counts.  The scores are
    bitwise those of the per-pair ``cosine_similarity``.
    """
    q = _prepared(embeddings.filter(query_pred), "q", id_col, vec_col)
    corpus = embeddings if corpus_pred is None else embeddings.filter(corpus_pred)
    # The dot fold below costs ~dim interpreted lambda evaluations per
    # (corpus row x query); spread the corpus scan so that math is not
    # serialized on a single-split file (no-op at scale, guide §2.5).
    c = spread_scan(_prepared(corpus, "c", id_col, vec_col))
    return _topk(_cosine_pairs(c, q), k)


# --- BLAS query-block staging (r15: lifts the driver .collect()) ---------
# Query chunk width for the GEMM: bounds per-batch scratch at
# |batch| x chunk doubles (~80 MB at 10k-row Arrow batches) so corpus-
# scale query sets cannot OOM a worker.
_BLAS_QUERY_CHUNK = 1024

# Driver-side: per-call scratch stage directories minted this process
# (only the NON-fingerprintable fallback path mints these — see
# _stage_query_block), swept at interpreter exit.
_BLAS_QUERY_STAGES: list = []

# Idle stages older than this are reclaimed at the next staging call —
# the cross-process leak bound (r15 ADVICE similarity.py:163: a
# long-lived driver's distinct query blocks, or a crashed process's
# leftovers, previously accumulated until interpreter exit / forever).
# Reused stages get their mtime touched, so anything this stale is dead.
_BLAS_STAGE_TTL_S = 6 * 3600

# Executor-worker-side: one slot is enough — every task of one query
# execution reads the same staged block, and a single slot caps worker
# memory at one query matrix regardless of how many calls a long-lived
# worker serves.
_BLAS_QUERY_CACHE: dict = {}


def _blas_stage_root() -> str:
    """Root for staged query blocks.  Configurable (r15 ADVICE): on a
    real cluster executors cannot read the driver's local /tmp, so ops
    points ``SPARK_GRAFT_SCRATCH_ROOT`` at shared storage (the lakehouse
    scratch area) and every stage lands there; the local-mode default
    stays the process tmpdir, where driver and workers share a
    filesystem by construction."""
    import os
    import tempfile

    base = os.environ.get("SPARK_GRAFT_SCRATCH_ROOT") or tempfile.gettempdir()
    return os.path.join(base, "spark_graft_blas_q")


def _query_block_fingerprint(q: DataFrame) -> "str | None":
    """Deterministic identity of a query block: source-file identity
    (path + size + mtime — the staging-module fingerprint recipe, so an
    in-place testdata regeneration invalidates) folded with the
    normalized analyzed plan (predicate + projection; expression ids are
    session-volatile and normalized out, the PLANS.json discipline).
    None when the block is not file-backed (in-memory test literals) —
    those callers fall back to per-call scratch."""
    import hashlib
    import os
    import re

    try:
        files = sorted(q.inputFiles())
    except Exception:  # noqa: BLE001 - any failure => no reuse, not a crash
        return None
    if not files:
        return None
    h = hashlib.md5()
    for f in files:
        local = re.sub(r"^file:/{0,2}", "/", f) if f.startswith("file:") else f
        try:
            st = os.stat(local)
        except OSError:
            return None
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
    try:
        plan = q._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001
        return None
    h.update(re.sub(r"#\d+L?", "#x", plan).encode())
    return h.hexdigest()[:16]


def _stage_query_block(q: DataFrame) -> str:
    """Write the (query_id, qv double[]) block to a parquet stage and
    return its path.  The driver only ever holds this PATH — never the
    vectors.

    Leak discipline (r15 ADVICE similarity.py:163): file-backed query
    blocks stage under a FINGERPRINT-keyed path and are REUSED across
    calls (a long-lived driver re-running the same query set — the bench
    best-of-3, the registry sweeps, a serving loop — touches one
    directory, not one per call; first-writer-wins atomic publish, the
    staging-module convention), while anything idle past
    ``_BLAS_STAGE_TTL_S`` is reclaimed at the next staging call, so dead
    processes' leftovers are bounded in time rather than forever.
    Non-file-backed blocks (no stable identity) keep the per-call
    scratch + exit-time sweep."""
    import atexit
    import os
    import shutil
    import time
    import uuid

    root = _blas_stage_root()
    os.makedirs(root, exist_ok=True)
    now = time.time()
    for entry in os.listdir(root):
        p = os.path.join(root, entry)
        try:
            if now - os.path.getmtime(p) > _BLAS_STAGE_TTL_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass

    key = _query_block_fingerprint(q)
    if key is not None:
        from ..sources.staging import publish_dir

        path = os.path.join(root, f"q_{key}")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            try:
                os.utime(path)  # keep live stages out of the TTL sweep
            except OSError:
                pass
            return path
        tmp = f"{path}.build{os.getpid()}_{uuid.uuid4().hex[:8]}"
        q.write.mode("overwrite").parquet(tmp)
        publish_dir(tmp, path)
        return path

    path = os.path.join(root, f"{os.getpid()}_{uuid.uuid4().hex}")
    q.write.mode("overwrite").parquet(path)
    if not _BLAS_QUERY_STAGES:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True)
                for p in _BLAS_QUERY_STAGES
            ]
        )
    _BLAS_QUERY_STAGES.append(path)
    return path


def _load_query_block(path: str):
    """(qids int64[nq], Q float64[nq x d], qn float64[nq]) from a staged
    query block, cached per worker process (single slot, see above)."""
    import glob
    import os

    import numpy as np
    import pandas as pd

    hit = _BLAS_QUERY_CACHE.get(path)
    if hit is None:
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        frames = [pd.read_parquet(p) for p in parts]
        pdf = (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame({"query_id": [], "qv": []})
        )
        qids = pdf["query_id"].to_numpy(dtype="int64")
        Q = (
            np.array(list(pdf["qv"]), dtype="float64")
            if len(pdf)
            else np.zeros((0, 1))
        )
        qn = np.sqrt((Q * Q).sum(axis=1))
        qn[qn == 0.0] = 1.0  # degenerate queries: selection-only anyway
        _BLAS_QUERY_CACHE.clear()
        _BLAS_QUERY_CACHE[path] = (qids, Q, qn)
        hit = (qids, Q, qn)
    return hit


def cosine_topk_blas(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k cosine neighbors via an Arrow-batched numpy/BLAS
    hop — the high-dimensional twin of :func:`cosine_topk` (round-14
    verdict ask #4: ``similarity.py``'s own header concedes codegen'd
    array expressions lose above ~1k dims; the crossover is measured in
    PERF.md).

    Same output contract as :func:`cosine_topk` (query_id, neighbor_id,
    cosine, rank), bitwise: BLAS is used for CANDIDATE SELECTION only —

    1. the query block NEVER materializes on the driver (r15, r14
       verdict ask #6 — the first version ``.collect()``'ed it): it is
       written as a parquet stage on shared storage (default the process
       tmpdir; a real cluster points ``SPARK_GRAFT_SCRATCH_ROOT`` at the
       lakehouse scratch area — r15 ADVICE) and each executor
       Python worker loads it once per process from a single-slot cache,
       so driver memory is flat in |q| and 10^4-query blocks are fine
       (PERF.md, "BLAS query-side scalability");
    2. one ``mapInPandas`` pass computes the batch x query score matrix
       with a float64 GEMM (query-chunked so peak memory is
       O(batch x chunk), not O(batch x |q|)) and emits each query's
       per-batch top ``2k`` candidates — per-partition heaps,
       the distributed analogue of TakeOrderedAndProject, so the hop's
       output is O(partitions x |q| x 2k) regardless of corpus
       size.  Per-batch selection is DETERMINISTIC under score ties
       (r14 ADVICE similarity.py:202): every row strictly above the
       argpartition boundary survives, and boundary-TIED rows are
       admitted in ascending neighbor_id order — the same
       (score desc, neighbor_id asc) total order the global prune below
       ranks by, so a true top-k neighbor can never be dropped at a
       batch cut by bit-equal scores (degenerate corpora produce exactly
       those);
    3. the surviving <= |q| x 2k pairs are re-scored with the
       EXACT sequential-fold expression (the prepared cosine on the
       carried vectors — the query norms are staged with the block,
       float->double widening is exact) and the final top-k ranks on
       that exact score.

    Float64 GEMM and the sequential fold round differently at the ulp
    level, so BLAS scores are used only to pick candidates with ``k``
    extra of slack: the exact top-k set is missed only if ulp noise
    reorders a true top-k pair past ``2k`` candidates — i.e. 2k+1 pairs
    within ~1e-15 of each other.  The
    bitwise-equality gate against :func:`cosine_topk` is pytest- and
    driver-enforced on the registered corpus.
    """
    import numpy as np
    import pandas as pd

    take = 2 * k
    spark = embeddings.sparkSession
    out_schema = (
        "query_id long, neighbor_id long, blas double, cv array<double>"
    )
    # float->double cast is exact, so staging doubles keeps the rescore
    # join bitwise-identical to the old driver-side float() conversion.
    # The block also carries each query's norm for the rescore.
    q = embeddings.filter(query_pred).select(
        F.col(id_col).cast("long").alias("query_id"),
        *cosine_prepare(vec_col, "qv", "qn"),
    )
    if q.limit(1).count() == 0:
        empty = spark.createDataFrame([], out_schema)
        return empty.select(
            "query_id",
            "neighbor_id",
            F.col("blas").alias("cosine"),
            F.lit(0).cast("int").alias("rank"),
        ).limit(0)
    qpath = _stage_query_block(q)
    # bound into the closure (not read from module globals worker-side):
    # the worker process re-imports the module, so a test/ops override of
    # the chunk width must travel with the pickled function
    qchunk = _BLAS_QUERY_CHUNK

    def gen(batches):
        qids, Q, qn = _load_query_block(qpath)
        nq = len(qids)
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf[vec_col]), dtype="float64")  # n x d
            nids = pdf[id_col].to_numpy(dtype="int64")
            mn = np.sqrt((M * M).sum(axis=1))
            mn[mn == 0.0] = 1.0
            ri_parts, qi_parts, sc_parts = [], [], []
            # query-chunked GEMM: peak scratch is n x QCHUNK, flat in |q|
            for lo in range(0, nq, qchunk):
                hi = min(lo + qchunk, nq)
                # cosine ~ (M @ Q.T) / (|M| * |Q|): ulp-inexact vs the
                # fold, selection-only (see the slack note in docstring)
                S = (M @ Q[lo:hi].T) / np.outer(mn, qn[lo:hi])
                S[nids[:, None] == qids[None, lo:hi]] = -np.inf  # self
                t = min(take, S.shape[0])
                part = np.argpartition(-S, t - 1, axis=0)[:t]  # t x cq
                bnd = np.take_along_axis(S, part, axis=0).min(axis=0)
                for j in range(hi - lo):
                    col = S[:, j]
                    # widen to every row tied at the boundary, then cut
                    # at t in the SAME (score desc, nid asc) total order
                    # the downstream global window ranks by — the
                    # deterministic-tiebreak fix (r14 ADVICE, medium)
                    rows = np.nonzero(col >= bnd[j])[0]
                    order = np.lexsort((nids[rows], -col[rows]))
                    sel = rows[order[:t]]
                    sel = sel[col[sel] != -np.inf]  # self-only batches
                    ri_parts.append(sel)
                    qi_parts.append(np.full(len(sel), lo + j, dtype="int64"))
                    sc_parts.append(col[sel])
            ri = np.concatenate(ri_parts) if ri_parts else np.array([], dtype="int64")
            qi = np.concatenate(qi_parts) if qi_parts else np.array([], dtype="int64")
            sc = np.concatenate(sc_parts) if sc_parts else np.array([], dtype="float64")
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "neighbor_id": nids[ri],
                    "blas": sc,
                    "cv": [
                        np.asarray(v, dtype="float64")
                        for v in pdf[vec_col].iloc[ri]
                    ],
                }
            )

    cand = embeddings.select(id_col, vec_col).mapInPandas(gen, out_schema)
    wb = Window.partitionBy("query_id").orderBy(
        F.col("blas").desc(), F.col("neighbor_id")
    )
    pruned = (
        cand.withColumn("brank", F.row_number().over(wb))
        .filter(F.col("brank") <= take)
        .select("query_id", "neighbor_id", *cosine_prepare("cv", "cv", "cn"))
    )
    # rescore against the staged block read back through Spark — the
    # query side stays distributed end-to-end (broadcast is plan-side);
    # schema-memoized read (r17): the block is an immutable published
    # stage, so the per-call footer inference is catalog work, not query
    # work.
    from ..sources.staging import read_stage_parquet

    qframe = read_stage_parquet(spark, qpath)
    return _topk(_cosine_pairs(pruned, qframe, "query_id", drop_self=False), k)


def rp_hyperplanes(bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-random-projection
    LSH (Charikar's SimHash for cosine): component (j, d) is derived from
    md5 over the indices, mapped to [-1, 1] with 1e-3 resolution.  Every
    engine that runs the same arithmetic derives the same planes, so
    Spark and the DuckDB oracle bucket identically — the same portability
    trick as the Carter-Wegman MinHash family (dedup.py)."""
    import hashlib

    planes = []
    for j in range(bits):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"rp_lsh_v1|{j}|{d}".encode()).hexdigest()[:15], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


def rp_bucket(emb: Column, planes: list[list[float]]) -> Column:
    """LSH code over random hyperplanes: bit j = sign of the projection
    onto plane j.  Each projection is a sequential left-to-right fold
    (``F.aggregate``) over the zipped element products — the same fold
    order as DuckDB's ``list_sum``, so the double result (and therefore
    the sign, and the bucket) is bitwise engine-portable.  Pure
    per-row projection arithmetic: shuffle-free, whole-stage codegen."""
    acc = None
    for j, row in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                emb,
                F.array(*[F.lit(v) for v in row]),
                lambda x, h: x.cast("double") * h,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        term = (proj > 0).cast("long") * F.lit(2**j)
        acc = term if acc is None else acc + term
    return acc


def cosine_topk_rp(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane-LSH approximate top-k: candidates restricted to
    the query's sign-random-projection bucket.

    Versus :func:`cosine_topk_bucketed` (axis-aligned sign bits), random
    hyperplanes give the standard SimHash collision guarantee
    P[bit agrees] = 1 - angle/pi for ANY data distribution — axis-aligned
    bits degrade when mass concentrates on few coordinates.  Cost shape
    is identical: per-row bucket projection (no shuffle), equality hash
    join on the bucket, per-query top-k window.  At 100 TB the bucket
    count (2^bits) is the partition-pruning knob: persist the corpus
    bucketed/partitioned by the code and a query touches one partition.
    """
    planes = rp_hyperplanes(bits, dim)
    # Defensive, applied identically in the oracle: a vector of the wrong
    # length or with NULL elements has no well-defined projection, and the
    # two engines disagree on what a null-poisoned fold yields (Spark's
    # aggregate propagates NULL; DuckDB's list_sum skips it) — exclude
    # them symmetrically so the bucketing can't silently diverge.
    clean = embeddings.filter(
        (F.size(F.col(vec_col)) == dim)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )
    with_bucket = spread_scan(clean).withColumn(
        "bucket", rp_bucket(F.col(vec_col), planes)
    )
    return _bucket_topk(with_bucket, query_pred, k, id_col, vec_col, extra=("bucket",))


def _bucket_topk(
    with_bucket: DataFrame,
    query_pred: Column,
    k: int,
    id_col: str,
    vec_col: str,
    q_bucket: "Column | str" = "bucket",
    extra: tuple = (),
) -> DataFrame:
    """Probe + score + rank over a bucketed corpus: each query (in the
    bucket(s) ``q_bucket``) is equi-joined to the corpus rows of its
    bucket and ranked by exact cosine."""
    q = _prepared(with_bucket.filter(query_pred), "q", id_col, vec_col, q_bucket)
    c = _prepared(with_bucket, "c", id_col, vec_col, "bucket")
    return _topk(_cosine_pairs(c, q, "bucket", extra), k, extra=extra)


def cosine_topk_bucketed(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: candidates restricted to the query's
    sign bucket.  The cross join becomes an equality join on the bucket —
    a hash join that scales with bucket size, not corpus size."""
    with_bucket = embeddings.withColumn("bucket", sign_bucket(F.col(vec_col), bits))
    return _bucket_topk(with_bucket, query_pred, k, id_col, vec_col, extra=("bucket",))


def cosine_topk_multiprobe(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe bucketed top-k: each query searches its own bucket plus
    every bucket at Hamming distance 1 (one sign bit flipped) — the
    standard recall/cost lever for LSH-bucketed ANN (Lv et al.,
    "Multi-Probe LSH").  A true neighbor lost to one borderline dimension
    sign is recovered; candidates grow (1 + bits)x, still a 2^bits /
    (1 + bits) reduction over brute force.  Each candidate lives in
    exactly one bucket, so no probe produces duplicate pairs.
    """
    with_bucket = embeddings.withColumn("bucket", sign_bucket(F.col(vec_col), bits))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(bits)],
    )
    return _bucket_topk(
        with_bucket, query_pred, k, id_col, vec_col, F.explode(probes).alias("bucket")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    min_cosine: float,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X2d — embedding-cosine near-duplicate pairs, bucket-prefiltered.

    Only same-bucket pairs are scored (candidate space / 2^bits); returns
    (a_id, b_id, cosine) with a_id < b_id and cosine >= threshold.  Recall
    loss is bounded: a pair above ~0.9 cosine rarely disagrees on leading
    sign bits; raise `bits` = cheaper + lossier, 0 = exact quadratic.
    """
    with_bucket = embeddings.select(
        F.col(id_col).alias("id"),
        *cosine_prepare(vec_col, "v", "n"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    return _cell_pairs(with_bucket, "bucket", min_cosine)


def _cell_pairs(prepared: DataFrame, cell: str, min_cosine: float, *out) -> DataFrame:
    """Near-dup step shared by the bucket and cluster dedups: every
    same-``cell`` pair of prepared rows (id, v, n) once (a_id < b_id),
    scored by the prepared cosine and kept at >= ``min_cosine``."""
    a, b = prepared.alias("a"), prepared.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{cell}") == F.col(f"b.{cell}"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            *out,
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            cosine_prepared("a.v", "a.n", "b.v", "b.n").alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(min_cosine))
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding — the E-step of k-means, the class
    prototype of a nearest-centroid classifier, and the cluster summary a
    curation pipeline ships instead of raw vectors.

    Shape: ``posexplode`` fans each vector into (label, pos, val) rows —
    dim x |corpus|, but the groupBy key (label, pos) partial-aggregates
    map-side, so the shuffle carries at most |labels| x dim rows per task
    regardless of corpus size.  Component means use the exact-decimal
    recipe (order-independent => partitioning-independent, bitwise equal
    to the oracle); the final per-label array reassembly sorts collected
    (pos, mean) structs, whose count per group is exactly the dimension.

    Determinism detail: raw float components are quantized to 1e-8 in
    double space (floor(x*1e8 + 0.5)/1e8 — identical IEEE ops in every
    engine) before the decimal accumulation, because double->DECIMAL
    rounding of arbitrary binary fractions is engine-specific in the last
    decimal digit (Java BigDecimal HALF_UP on the exact expansion vs
    scaled-double rounding); a double that IS a 1e-8 multiple converts
    identically everywhere.  1e-8 absolute is at/below float ulp for
    unit-scale embeddings.

    Returns (label, centroid array<double>, n_vecs).
    """
    # Prototypes need a label: a NULL-label "cluster" is meaningless as
    # a prototype and its sort position in argmin tie-breaks is engine-
    # dependent (null-injection audit).
    embeddings = embeddings.filter(F.col(label_col).isNotNull())
    assembled = _exact_means(
        embeddings, (F.col(label_col).alias("label"),), vec_col, "centroid"
    )
    counts = embeddings.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    return assembled.join(counts, "label").select("label", "centroid", "n_vecs")


def _exact_means(rows: DataFrame, keys: tuple, vec: str, out: str) -> DataFrame:
    """Mean vector of ``vec`` per ``keys`` group (names or aliased
    columns), as ``out``: components fan out by ``posexplode``, are
    quantized to 1e-8 in double space and averaged in exact decimal (the
    :func:`label_centroids` recipe), then reassemble in position order.
    Shared by every centroid update."""
    val_q = F.floor(F.col("val").cast("double") * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)
    exploded = rows.select(*keys, F.posexplode(F.col(vec)).alias("pos", "val"))
    keys = exploded.columns[: len(keys)]
    return (
        exploded.groupBy(*keys, "pos")
        .agg(avg_exact(val_q).alias("m"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias(out)
        )
    )


def _sum_1e8(dist: Column) -> Column:
    """Order-independent SUM of non-negative doubles: each is quantized to
    integer 1e-8 units and summed in DECIMAL(38,0), so a cluster total is
    exact under any partitioning."""
    dq = F.floor(dist * F.lit(1e8) + F.lit(0.5)).cast("long")
    return F.sum(dq.cast("decimal(38,0)")).cast("string").cast("double") / F.lit(1e8)


def scalar_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Per-vector scalar quantization to ``levels+1`` codes (int8-style)
    — the storage-compression pass an embedding corpus goes through
    before ANN serving: 4-byte floats become 1-byte codes plus two
    per-vector floats (min, max).

    Map-only: every output is a per-row array expression (no shuffle, no
    UDF).  Codes: round((x - vmin) / (vmax - vmin) * levels) via
    floor(y + 0.5) — half-up rounding spelled in primitives both engines
    evaluate identically (engine-native round() differs on ties).
    ``sq_err`` is the per-vector reconstruction error (sequential fold,
    deterministic), the quality metric that picks `levels`.

    Degenerate constant vectors (vmax == vmin) map to code 0 everywhere
    and reconstruct exactly.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vmin = F.array_min(v)
    vmax = F.array_max(v)
    scale = vmax - vmin
    lv = F.lit(float(levels))
    codes = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor((x - vmin) / scale * lv + F.lit(0.5)).cast("int"))
    )
    tmp = embeddings.select(
        F.col(id_col),
        vmin.alias("vmin"),
        vmax.alias("vmax"),
        v.alias("__v"),
        codes.alias("codes"),
    )
    dequant = F.transform(
        F.col("codes"),
        lambda c: F.col("vmin") + c.cast("double") * (F.col("vmax") - F.col("vmin")) / lv,
    )
    sq_err = _sq_dist(F.col("__v"), dequant)
    return tmp.select(id_col, "vmin", "vmax", "codes", sq_err.alias("sq_err"))


def train_ivf(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train the IVF index: k-means inverted lists + per-vector list
    assignment.  Returns ``(assignments, centroids)`` —
    ``(id, vec, list_id)`` and ``(list_id, centroid)`` — the two tables a
    pipeline PERSISTS between queries (train once, probe many; see
    ``sources/staging.py``).  ``cosine_topk_ivf`` accepts them prebuilt."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = embeddings.sparkSession
    dense = embeddings.withColumn(
        "__v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    if not dense.head(1):
        # MLlib KMeans.fit throws on an empty corpus; an empty partition
        # of the lake must yield an empty index, not a crash.  (The
        # head(1) probe is one tiny job on the train path, which already
        # runs a full k-means.)
        assignments = embeddings.select(id_col, vec_col).limit(0).withColumn(
            "list_id", F.lit(0).cast("long")
        )
        centroids = spark.createDataFrame(
            [], "list_id long, centroid array<double>"
        )
        return assignments, centroids
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="__v", predictionCol="list_id"
    ).fit(dense)
    assignments = model.transform(dense).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("list_id").cast("long").alias("list_id"),
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "list_id long, centroid array<double>",
    )
    return assignments, centroids


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 3,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF with *trained* centroids: k-means (MLlib) learns ``n_lists``
    inverted lists from the data, each corpus vector is assigned to its
    nearest centroid once, and a query probes only its ``n_probe`` closest
    lists, re-ranked by exact cosine.

    Against ``cosine_topk_bucketed``'s fixed sign-hyperplane quantizer this
    is the data-adaptive upgrade: cells follow the embedding distribution,
    so candidate lists are balanced even when the corpus is clustered
    (sign buckets degenerate to a few hot cells on clustered data — the
    same skew problem salting solves for joins, solved here by training).

    Scale shape: training samples/aggregates per-partition (MLlib), the
    assignment is one model.transform map, and search is an equi-join on
    list_id — candidates per query ~ n_probe/n_lists of the corpus.  At
    100 TB the corpus would be written partitioned by list_id so probes
    prune to files.  Centroids travel as a small broadcast-joined
    DataFrame (n_lists rows), NOT as plan literals: a literal array of
    n_lists x dim struct expressions compiles fine at 16 lists but the
    plan itself explodes at realistic 4-64k lists, while a broadcast of
    the same rows is metadata-sized at any n_lists (r1 verdict finding).

    ``index`` accepts a prebuilt ``(assignments, centroids)`` pair — the
    persisted trained index (train once, probe many); when given, no
    training happens in this call.

    Non-SQL-expressible (iterative training) => registered rows-only; the
    recall-vs-brute-force property is pytest-asserted instead.
    """
    if index is None:
        index = train_ivf(embeddings, n_lists, seed, id_col, vec_col)
    assignments, centroids = index
    corpus = _prepared(assignments, "c", id_col, vec_col, "list_id")
    q = _prepared(embeddings.filter(query_pred), "q", id_col, vec_col)
    probe = _coarse_probe(q, centroids, n_probe, "qv", "qn")
    return _topk(_cosine_pairs(corpus, probe, "list_id"), k)


def _coarse_probe(q: DataFrame, centroids: DataFrame, n_probe: int, *carry) -> DataFrame:
    """Probe step over centroid lists: each query's (query_id, qv)
    squared distance to every broadcast (list_id, centroid) row, keeping
    its ``n_probe`` nearest lists — a distance tie goes to the lower
    list_id.  Returns (query_id, list_id, *carry); ``carry`` may read
    ``qv`` and ``centroid``.  Centroids travel as a broadcast DataFrame,
    never as plan literals, so the plan stays small at any n_lists."""
    w = Window.partitionBy("query_id").orderBy("dist", "list_id")
    return (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("dist", _sq_dist(F.col("qv"), F.col("centroid")))
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "list_id", *carry)
    )


def seeded_centroids(
    embeddings: DataFrame,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse-quantizer seeding: the ``n_lists`` SMALLEST
    present ids' vectors as ``(list_id, centroid)`` — the ``_pq_codebook``
    seeding recipe at full dimensionality.  Oracle-expressible (ORDER BY
    id LIMIT n + row_number relabel, no MLlib randomness), which is what
    lets an index built on these centroids hash-gate end to end; k-means
    REFINEMENT of a frozen quantizer is the separately-gated
    ``kmeans_lloyd`` / ``train_pq(lloyd_iters=...)`` machinery.  orderBy +
    limit compiles to TakeOrderedAndProject (map-side partial top-k, no
    corpus sort) and the relabel window runs on n_lists rows."""
    return (
        embeddings.select(
            F.col(id_col).alias("__sid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "centroid"
            ),
        )
        .orderBy("__sid")
        .limit(n_lists)
        .withColumn(
            "list_id",
            (F.row_number().over(Window.orderBy("__sid")) - 1).cast("long"),
        )
        .select("list_id", "centroid")
    )


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    centroid_col: str = "centroid",
    carry_centroid: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffle of the corpus.

    The centroid table (small: one row per cluster) collapses to a single
    array-of-structs row, broadcast against the corpus; each vector picks
    its cluster via ``array_min`` over per-centroid (distance, cluster)
    structs — struct ordering is lexicographic, so this IS
    ``argmin(distance)`` with a deterministic tie-break on the smaller
    cluster id.  The corpus is scanned once, map-only: no window, no
    groupBy, no per-row Python.  At 100 TB this is the assignment shape
    that matters — the alternative (explode corpus x centroids + window
    or min_by) shuffles |corpus| x n_clusters rows.

    Every distance is evaluated exactly once (the structs are built by
    ``transform``, then reduced), and the fold arithmetic is a sequential
    left-to-right double sum — bitwise reproducible in any engine.

    Adds ``__v`` (the double-cast vector, reusable by callers) and
    ``cluster_col`` to ``embeddings``.

    ``carry_centroid`` (r17): also emit the MATCHED centroid's vector
    under this column name, picked by the SAME single argmin — the
    residual encoder needs ``x - centroid(list(x))``, and joining back to
    the centroid table on ``cluster_col`` both re-broadcasts a table this
    operator already holds AND lets the optimizer push the inner join's
    inferred ``isnotnull(cluster)`` below the projection, where it
    substitutes the whole argmin expression into a join condition — the
    full-corpus assignment fold evaluated TWICE per row (r17 plan audit,
    ops 15-16 of the residual plan; the captured plans are in git
    history at 0e10fe3).  The argmin
    struct gains the centroid as its LAST field, strictly after the
    (distance, cluster) pair that already totally orders the entries, so
    the picked centroid is exactly the one the join would have fetched.
    The picked struct is materialized in its own projection and the
    fields extracted a projection above: CollapseProject keeps a
    non-cheap alias referenced twice in the lower project, so the fold
    runs once per row.
    """
    cent_arr = centroids.select(
        F.struct(
            F.col(cluster_col).alias("c"), F.col(centroid_col).alias("cv")
        ).alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("__cents"))

    fields = {"c": cluster_col}
    if carry_centroid is not None:
        fields["cv"] = carry_centroid
    scored = F.transform(
        F.col("__cents"),
        lambda s: F.struct(
            _sq_dist(F.col("__v"), s["cv"]).alias("d"), *[s[f].alias(f) for f in fields]
        ),
    )
    picked = (
        embeddings.withColumn(
            "__v", F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        .crossJoin(F.broadcast(cent_arr))
        .withColumn("__picked", F.array_min(scored))
        .drop("__cents")
    )
    keep = [c for c in picked.columns if c != "__picked"]
    return picked.select(
        *keep, *[F.col("__picked")[f].alias(name) for f, name in fields.items()]
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    min_cosine: float,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """X2e — semantic dedup, the SemDeDup shape (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus first, then search for
    near-duplicate pairs only WITHIN each cluster.

    Clustering makes the quadratic step tractable: candidate pairs shrink
    from |corpus|^2 to sum over clusters of |cluster|^2, and the
    within-cluster join is a plain hash equi-join on cluster id.  Here the
    prototypes are the exact per-label centroids (``label_centroids`` —
    deterministic, so the whole operator is oracle-checkable end-to-end;
    a production run would swap in k-means prototypes with k in the tens
    of thousands, which also removes the few-hot-clusters skew this
    label-count-sized variant would have at scale) and assignment is the
    shuffle-free ``assign_to_centroids`` fold.

    Returns (cluster, a_id, b_id, cosine) with a_id < b_id and
    cosine >= ``min_cosine``.  Downstream survivor selection composes with
    ``connected_components`` or an anti-join, same as the MinHash family.

    The assigned table is materialized once (``localCheckpoint``)
    before the self-join — a self-join plans its
    subtree twice, and the subtree here contains the full centroid
    aggregation plus the per-row argmin fold.  At 100 TB the same move is
    "write the (id, cluster) assignment once, join from storage" —
    cluster assignments are reused across curation runs anyway.
    """
    cents = label_centroids(embeddings, label_col, vec_col).select(
        F.col("label").alias("cluster"), "centroid"
    )
    assigned = assign_to_centroids(
        embeddings,
        cents,
        id_col=id_col,
        vec_col=vec_col,
        cluster_col="cluster",
        centroid_col="centroid",
    ).select(F.col(id_col).alias("id"), *cosine_prepare("__v", "v", "n"), "cluster")
    return _cell_pairs(
        assigned.localCheckpoint(),
        "cluster",
        min_cosine,
        F.col("a.cluster").alias("cluster"),
    )


def cluster_inertia(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster quality metric: within-cluster sum of squared distances
    (k-means inertia) and its per-vector mean, against the label centroids.

    The evaluation half of the clustering family: ``label_centroids`` is
    the E-step summary, this is the objective it minimizes — a curation
    pipeline tracks it per label to spot clusters that are too loose to
    trust for semantic dedup (SemDeDup prunes by exactly this radius).

    Shape: centroids are |labels| rows — broadcast to the corpus scan, so
    the per-vector distance is map-side work on an unshuffled corpus; the
    only shuffle is the final |labels|-row aggregate (map-side partials).
    Determinism: the per-vector distance is a sequential double fold
    (deterministic, matches DuckDB's list_sum), then quantized to integer
    1e-8 units so the cluster SUM accumulates exactly under any
    partitioning — the label_centroids recipe applied to distances.

    Returns (label, n_vecs, inertia, mean_sqdist).
    """
    cents = label_centroids(embeddings, label_col, vec_col)
    e = embeddings.select(
        F.col(label_col).alias("label"), F.col(vec_col).alias("__e")
    )
    dist = _sq_dist(
        F.transform(F.col("__e"), lambda x: x.cast("double")), F.col("centroid")
    )
    per = e.join(F.broadcast(cents), "label").select("label", dist.alias("__d"))
    inertia = _sum_1e8(F.col("__d"))
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        inertia.alias("inertia"),
        (inertia / F.count(F.lit(1))).alias("mean_sqdist"),
    )


def mmr_diversify(
    embeddings: DataFrame,
    query_pred: Column,
    pool_k: int = 10,
    select_k: int = 3,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's ``pool_k`` most-relevant candidates, greedily select
    ``select_k`` results trading relevance against redundancy —
    step 1 takes the most relevant candidate, every later step takes
    argmax of ``lam·rel(c) − (1−lam)·max_{s∈selected} sim(c, s)``.

    Returns (query_id, step, neighbor_id, rel).  Deterministic: every
    cosine is the exact-decimal fold (bitwise identical across engines),
    and each argmax tie-breaks on neighbor_id — so the greedy TRAJECTORY
    itself is hash-gateable, not just the final set.

    Scale shape: the corpus-sized work is the candidate generation
    (``cosine_topk`` — one corpus scan); everything after operates on the
    ``pool_k·|Q|`` pool and its ``pool_k²·|Q|`` pairwise-similarity
    table, both ``localCheckpoint``-materialized so the ``select_k``
    greedy rounds (small joins) re-read a cached kB-scale table instead
    of re-triggering the corpus scan per round.  Swap ``cosine_topk`` for
    the IVF/LSH variants when the pool generation itself needs the
    approximate path.
    """
    pool = cosine_topk(
        embeddings, query_pred, k=pool_k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"))
    pool = pool.localCheckpoint()

    vecs = _prepared(embeddings, "c", id_col, vec_col)
    pvec = vecs.join(F.broadcast(pool), "neighbor_id")
    a = pvec.select(
        "query_id",
        F.col("neighbor_id").alias("a_id"),
        F.col("cv").alias("av"),
        F.col("cn").alias("an"),
    )
    b = pvec.select(
        "query_id",
        F.col("neighbor_id").alias("b_id"),
        F.col("cv").alias("bv"),
        F.col("cn").alias("bn"),
    )
    psim = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            cosine_prepared("av", "an", "bv", "bn").alias("s"),
        )
        .localCheckpoint()
    )

    # Each greedy step is an argmax: the rank step at k=1.
    selected = _topk(pool, 1, "rel").select(
        "query_id", "neighbor_id", "rel", F.lit(1).alias("step")
    )
    for step in range(2, select_k + 1):
        sel_ids = selected.select("query_id", F.col("neighbor_id").alias("b_id"))
        cand = pool.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        ms = (
            cand.join(
                psim.withColumnRenamed("a_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
            )
            .join(sel_ids, ["query_id", "b_id"])
            .groupBy("query_id", "neighbor_id", "rel")
            .agg(F.max("s").alias("maxsim"))
        )
        scored = ms.withColumn(
            "mmr",
            F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("maxsim"),
        )
        selected = selected.unionByName(
            _topk(scored, 1, "mmr", extra=("rel",)).select(
                "query_id", "neighbor_id", "rel", F.lit(step).alias("step")
            )
        )
    return selected.select("query_id", "step", "neighbor_id", "rel")


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Native Lloyd's k-means on the DataFrame engine — no MLlib — with a
    statically-unrolled iteration count so the whole algorithm is one
    declarative plan, and every arithmetic step bit-portable so even the
    ITERATIVE TRAJECTORY hash-gates against a SQL oracle (the same
    discipline as the fixed-point PageRank).

    Per round: assignment is a broadcast of the k centroids onto an
    unshuffled corpus scan (distance = the deterministic sequential
    squared-diff fold; argmin via min(struct(dist, cid))), and the
    M-step recomputes centroids with the ``label_centroids`` recipe
    (1e-8 quantized components, exact-decimal means).  Deterministic
    seeding: the first ``k`` vector ids are the initial centroids — a
    k-means++ seeder would add a random stream the oracle can't mirror.

    Returns per-centroid (centroid_id, n_assigned, inertia) after the
    final assignment.  Scale: each round is one corpus scan + one
    (k·dim)-row shuffle; ``iters`` is a static trip count (production
    runs pick it by elbow offline — convergence probing would add a
    driver action per round like connected_components').
    """
    e = embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    cents = e.filter(F.col("vid") < k).select(
        F.col("vid").cast("long").alias("cid"), F.col("v").alias("c")
    )

    def assign(cents: DataFrame) -> DataFrame:
        dist = _sq_dist(F.col("v"), F.col("c"))
        return (
            e.crossJoin(F.broadcast(cents))
            .select("vid", "cid", dist.alias("dist"))
            .groupBy("vid")
            .agg(F.min(F.struct(F.col("dist"), F.col("cid"))).alias("m"))
            .select("vid", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))
        )

    asg = assign(cents)
    for _ in range(iters - 1):
        asg = assign(_exact_means(asg.join(e, "vid"), ("cid",), "v", "c"))
    return asg.groupBy(F.col("cid").alias("centroid_id")).agg(
        F.count(F.lit(1)).alias("n_assigned"), _sum_1e8(F.col("dist")).alias("inertia")
    )


def _pq_sliced_corpus(
    embeddings: DataFrame,
    query_pred: Column,
    n_sub: int,
    dim: int,
    id_col: str,
    vec_col: str,
    spread: bool = True,
):
    """Shared PQ front door: (vid, v, is_q) projection + subspace geometry.
    ``n_sub`` is arbitrary as long as it divides ``dim`` (round-10: the
    former n_sub=2 unroll is gone — subspaces are DATA now, see
    ``_pq_codebook``).

    ``spread=False`` is the per-path opt-out of the r16 ``spread_scan``
    (r17 verdict ask #3, the ``cosine_topk_bucketed`` precedent): the
    plain-ADC path's per-row math (4x4 sub-distances per vector) is an
    order of magnitude lighter than the IVF paths' coarse argmin, so the
    round-robin exchange costs more than the fan-out buys there —
    measured by an in-session alternating A/B (PERF.md, negative
    results)."""
    if n_sub < 1 or dim % n_sub != 0:
        raise ValueError(
            f"n_sub must be >= 1 and divide dim: n_sub={n_sub}, dim={dim}"
        )
    sub_dim = dim // n_sub
    e = embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        query_pred.alias("is_q"),
    )
    if spread:
        e = spread_scan(e)
    return e, sub_dim


def _subspace_rows(n_sub: int, sub_dim: int, name: str) -> Column:
    """Generator over ``v``: one (s, ``name``) row per subspace slice —
    subspaces as DATA, so plan depth stays O(1) at any n_sub."""
    return F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("int").alias("s"),
                    F.slice(F.col("v"), 1 + s * sub_dim, sub_dim).alias(name),
                )
                for s in range(n_sub)
            ]
        )
    )


def _pq_codebook(
    e: DataFrame, n_sub: int, sub_dim: int, codebook_k: int, skip: int = 0
) -> DataFrame:
    """Codebook as LONG rows ``(s, cid, c)`` — one row per (subspace,
    centroid), from the codebook_k SMALLEST PRESENT vec_ids' slices (not
    ``vid < codebook_k``: if any of ids 0..k-1 is missing or dropped by
    vector hygiene, that formulation silently shrinks the codebook and
    degrades results with no error).  orderBy+limit is a
    TakeOrderedAndProject top-k — map-side partial, no corpus sort; the
    row_number relabel runs on k rows.  Subspace-as-data: ONE ``inline``
    over an array of (s, slice) structs emits every subspace row — plan
    depth stays O(1) at any n_sub (the expression is O(n_sub) wide,
    bounded by the vector dim).  This long table is also the PERSISTED
    artifact shape (n_sub x codebook_k tiny rows).

    ``skip`` (r15, residual encoding): seed from the codebook_k smallest
    vids AFTER skipping the first ``skip`` — a RESIDUAL corpus's first
    ``n_lists`` vids are the coarse seeds themselves, whose residuals are
    identically zero; seeding on them would collapse the fine codebook to
    duplicate zero centroids (every code ties to cid 0, ADC degenerates
    to ||query residual||^2).  Offset+limit is still a bounded top-k."""
    seed_src = e.orderBy("vid")
    if skip > 0:
        seed_src = seed_src.offset(skip)
    seeds = seed_src.limit(codebook_k).withColumn(
        "cid", (F.row_number().over(Window.orderBy("vid")) - 1).cast("long")
    )
    return seeds.select("cid", _subspace_rows(n_sub, sub_dim, "c")).select("s", "cid", "c")


def _validate_pq_index(
    cb: DataFrame,
    n_sub: int,
    sub_dim: int,
    codebook_k: int,
    codes: DataFrame | None = None,
) -> None:
    """Assert a caller-supplied (prebuilt / persisted) codebook matches the
    call's PQ geometry BEFORE any LUT is built.  Without this, a codebook
    trained at a different ``n_sub`` silently produces garbage: the LUT
    slices queries with the caller's sub_dim while the stored codes have a
    different length, and the positional ``zip_with`` in the ADC fold pads
    the shorter array with NULL — NULL adc_dist, nonsense rankings, no
    error (round-11 ADVICE fix).  The check is one aggregate over the tiny
    n_sub x codebook_k codebook — negligible next to the probe itself.

    An EMPTY codebook passes: it is what training on an empty corpus
    legitimately yields (seeds = top-k of zero rows), and the pinned
    empty-input contract (DIRTYDATA §1, tests/test_empty_input.py) is
    empty index -> empty result set, not a crash.  Geometry can only
    MISMATCH where geometry exists — the round-11 empty-corpus audit
    caught the first version of this guard rejecting empty stages (and
    its error message doing ``NULL - 1`` arithmetic on the empty max).

    An UNDERSIZED codebook also passes, as long as every subspace has
    the SAME count <= codebook_k AND its cid space is DENSE (cids
    exactly 0..cnt-1): ``_pq_codebook`` seeds min(n, k) centroids per
    subspace by design, so a corpus with 1-3 clean vectors legitimately
    trains k_per_s < codebook_k (round-12 ADVICE fix — the first
    version rejected these on the prebuilt-index paths).  Per-subspace
    counts are checked as min/max, not a global average: a corrupted
    codebook with e.g. 3 and 5 centroids in two subspaces averages 4
    and would slip an average-based check while still degrading ADC
    rankings silently.  The density check (max cid == cnt-1, distinct
    cids == cnt) exists because ``_pq_lut`` indexes LUT rows
    POSITIONALLY via ``element_at`` — a codebook missing cid 0 would
    shift every lookup by one with no error.

    ``codes`` (the paired code table), when supplied, is cross-checked
    too: every stored code must index an existing centroid
    (per-subspace max code < that subspace's count).  This is what
    distinguishes a legitimately-undersized TRAINED codebook from a
    TRUNCATED one (e.g. a lost parquet row group holding the high-cid
    rows): both are uniform and dense, but only the truncated one has
    codes pointing past the end of the LUT — NULL adc_dist, nonsense
    rankings, the exact silent failure this guard exists to prevent.

    COST/MEMOIZATION (round-14 fix): the codes cross-check is a full
    scan of the code table — fine once, wrong PER QUERY (it showed up
    as the r13 close-to-close IVF+PQ drift: +0.6-0.8 s on each of the
    three staged-index queries while the no-validation control stayed
    flat; at 100 TB it would be a full-index scan per probe).  A
    FILE-BACKED pair (the staged train-once/probe-many artifacts —
    immutable, atomically published, content-addressed paths) is
    therefore validated once per process and memoized by its input
    files + geometry; in-memory pairs (tests, ad-hoc frames) have no
    stable identity and are validated every call.  Production stores
    the max cid in stage metadata and never rescans."""
    key = None
    try:
        cb_files = tuple(sorted(cb.inputFiles()))
        code_files = (
            tuple(sorted(codes.inputFiles())) if codes is not None else ()
        )
        if cb_files and (codes is None or code_files):
            # Files alone under-key the memo: a filtered/truncated
            # DERIVED frame over a previously-validated stage shares its
            # inputFiles, so a later degenerate pair would silently skip
            # validation (r14 ADVICE similarity.py:1180).  Folding the
            # normalized logical-plan hash (semanticHash: stable across
            # processes for the same plan shape, distinct for any added
            # operator) restricts each memo entry to one exact plan over
            # those immutable files — repeated probes of a staged index
            # still hit, a subset view revalidates.
            key = (
                cb_files,
                code_files,
                cb.semanticHash(),
                codes.semanticHash() if codes is not None else None,
                n_sub,
                sub_dim,
                codebook_k,
            )
    except Exception:
        key = None  # non-file-backed plan shapes: validate every call
    if key is not None and key in _VALIDATED_PQ_PAIRS:
        return
    per_s = cb.groupBy("s").agg(
        F.count("*").alias("cnt"),
        F.countDistinct("cid").alias("ncid"),
        F.max("cid").alias("cid_hi"),
        F.min(F.size("c")).alias("dlo"),
        F.max(F.size("c")).alias("dhi"),
    )
    row = per_s.agg(
        F.count("*").alias("n_sub"),
        (F.max("s") + 1).alias("s_hi"),
        F.min("cnt").alias("k_lo"),
        F.max("cnt").alias("k_hi"),
        F.min("dlo").alias("dim_lo"),
        F.max("dhi").alias("dim_hi"),
        F.max(
            F.when(
                (F.col("ncid") != F.col("cnt"))
                | (F.col("cid_hi") != F.col("cnt") - 1),
                1,
            ).otherwise(0)
        ).alias("sparse_cids"),
    ).first()
    if row["n_sub"] == 0:
        # An empty codebook is legitimate ONLY with an empty (or absent)
        # code table — the empty-corpus staging contract.  Non-empty
        # codes paired with a zero-row codebook are the truncation case
        # in its most extreme form (the whole LUT lost, every ADC lookup
        # NULL), and must fail the same way a partially-truncated pair
        # does (round-13 ADVICE fix — the early return used to skip the
        # codes cross-check entirely here).
        if codes is not None and codes.limit(1).count() > 0:
            raise ValueError(
                "pq_index codes are non-empty but the codebook has zero "
                "rows — the codebook is truncated (fully lost) relative "
                "to the codes (every ADC lookup would return NULL); "
                "retrain or re-stage the pair together"
            )
        if key is not None:
            _VALIDATED_PQ_PAIRS.add(key)
        return
    if (
        row["n_sub"] != n_sub
        or row["s_hi"] != n_sub
        or row["dim_lo"] != sub_dim
        or row["dim_hi"] != sub_dim
        or row["k_lo"] != row["k_hi"]
        or row["k_hi"] > codebook_k
        or row["sparse_cids"] == 1
    ):
        raise ValueError(
            "supplied pq_index does not match call geometry: codebook has "
            f"n_sub={row['n_sub']} (s up to {row['s_hi']} - 1), "
            f"sub_dim in [{row['dim_lo']}, {row['dim_hi']}], "
            f"centroids/subspace in [{row['k_lo']}, {row['k_hi']}], "
            f"sparse_cids={row['sparse_cids']}; call expects "
            f"n_sub={n_sub}, sub_dim={sub_dim}, uniform DENSE "
            f"(0..cnt-1) centroids/subspace <= codebook_k={codebook_k}"
        )
    if codes is not None:
        k_cnt = int(row["k_lo"])
        hi = codes.agg(
            F.max(F.array_max("codes")).alias("code_hi")
        ).first()["code_hi"]
        if hi is not None and hi >= k_cnt:
            raise ValueError(
                f"pq_index codes reference cid {hi} but the codebook has "
                f"only {k_cnt} centroids/subspace — the codebook is "
                "truncated relative to the codes (ADC lookups would "
                "return NULL); retrain or re-stage the pair together"
            )
    if key is not None:  # memoize only a fully-successful validation
        _VALIDATED_PQ_PAIRS.add(key)


# Successfully-validated FILE-BACKED (codebook, codes) pairs, keyed by
# input files + geometry — staged artifacts are immutable (atomic
# publish, content-addressed), so one validation per process suffices.
_VALIDATED_PQ_PAIRS: set = set()


def _pq_codebook_nested(cb: DataFrame, n_sub: int) -> DataFrame:
    """Fold the long codebook into ONE row carrying
    ``cb: array[s] of array<struct<cid, c>>`` (cid-ascending within each
    subspace) — the broadcast shape the encode/LUT expressions index with
    ``element_at``.  Runs once over n_sub x codebook_k rows."""
    flat = F.array_sort(F.collect_list(F.struct("s", "cid", "c")))
    per_s = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: F.transform(
            F.filter(F.col("flat"), lambda x: x["s"] == s),
            lambda x: F.struct(x["cid"].alias("cid"), x["c"].alias("c")),
        ),
    )
    return (
        cb.groupBy()
        .agg(flat.alias("flat"))
        .select(per_s.alias("cb"))
    )


def _pq_sub_dists(vec: str, s: int, sub_dim: int, score) -> Column:
    """``score(d, entry)`` for every centroid entry of subspace ``s`` of
    the joined-in nested codebook ``cb``, ``d`` the squared distance from
    that subspace's slice of ``vec``."""
    sl = F.slice(F.col(vec), 1 + s * sub_dim, sub_dim)
    return F.transform(
        F.element_at(F.col("cb"), s + 1), lambda ent: score(_sq_dist(sl, ent["c"]), ent)
    )


def _pq_encode(
    rows: DataFrame, cb: DataFrame, n_sub: int, sub_dim: int, *carry, vec: str = "v"
) -> DataFrame:
    """Encode step: ``(*carry, codes: array<long>)`` with ``codes[s]`` the
    argmin centroid of subspace s of ``vec``.  The whole encode is ONE
    narrow expression per row against the one-row broadcast nested
    codebook — a single scan, ZERO shuffles — and the code table is the
    persisted artifact (n_sub small ints per vector).  Every index build
    (plain, IVF-fused, residual, and the streaming incremental append)
    encodes here, so they can never drift.

    Argmin per subspace is ``array_min`` over (dist, cid) structs —
    smallest distance, then smallest cid, exactly the oracle's
    ``row_number() ORDER BY dist, cid`` tie-break; distances are the
    sequential folds of :func:`_sq_dist`, so codes are
    bitwise-reproducible under any partitioning."""
    def argmin(d: Column, ent: Column) -> Column:
        return F.struct(d.alias("d"), ent["cid"].alias("cid"))

    codes = [
        F.array_min(_pq_sub_dists(vec, s, sub_dim, argmin))["cid"] for s in range(n_sub)
    ]
    return rows.crossJoin(F.broadcast(_pq_codebook_nested(cb, n_sub))).select(
        *carry, F.array(*codes).alias("codes")
    )


def _pq_lut(
    q: DataFrame, cb: DataFrame, n_sub: int, sub_dim: int, vec: str, *carry
) -> DataFrame:
    """Per-query lookup table ``(*carry, lut: array[s] of array<double>)``
    — ``lut[s][cid]`` is the squared distance from the subspace-s slice
    of ``vec`` (the query, or its residual against a probed list) to
    centroid cid (cid-dense, so ADC is a positional ``element_at``).
    Broadcast-sized by construction: one row per query (or probe)."""
    lut = [_pq_sub_dists(vec, s, sub_dim, lambda d, ent: d) for s in range(n_sub)]
    return q.crossJoin(F.broadcast(_pq_codebook_nested(cb, n_sub))).select(
        *carry, F.array(*lut).alias("lut")
    )


def _adc_topk(cand: DataFrame, k: int) -> DataFrame:
    """Score + rank step on codes: each candidate's ADC distance — the
    sequential left fold of ``lut[s][codes[s]]`` in subspace order,
    ``(0.0 + d0) + d1 + ...``, bitwise-identical to the oracle's
    ``list_reduce(list(ld ORDER BY s))`` — self pairs dropped, ascending
    top-k.  ``cand`` carries (query_id, vid, codes, lut)."""
    per_s = F.zip_with(
        F.col("codes"),
        F.col("lut"),
        lambda code, row: F.element_at(row, code.cast("int") + 1),
    )
    adc = cand.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.aggregate(per_s, F.lit(0.0), lambda acc, x: acc + x).alias("adc_dist"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    return _topk(adc, k, "adc_dist", ascending=True)


# PQ codebooks train on a bounded deterministic sample (the smallest
# vids), FAISS-style: never the full corpus.
_PQ_TRAIN_SAMPLE = 4096


def _pq_lloyd_codebook(
    e: DataFrame, n_sub: int, sub_dim: int, codebook_k: int, iters: int
) -> DataFrame:
    """Per-subspace Lloyd's k-means over the SEEDED codebook — the
    production PQ trainer (first-k seeding is the deterministic
    initializer, k-means is what real PQ ships).  Runs on the
    ``_PQ_TRAIN_SAMPLE`` smallest vids, with the :func:`kmeans_lloyd`
    arithmetic discipline (:func:`_exact_means`) so the trained
    centroids are partition-independent bitwise.

    Empty clusters RETAIN their previous centroid (left-join + coalesce):
    the ADC lookup is POSITIONAL (``lut[s][code]`` with cid-dense
    arrays), so a vanished cid would misindex every later code in that
    subspace — density is a correctness invariant, not cosmetics."""
    sample = e.orderBy("vid").limit(_PQ_TRAIN_SAMPLE)
    long = sample.select("vid", _subspace_rows(n_sub, sub_dim, "sl"))
    cb = _pq_codebook(e, n_sub, sub_dim, codebook_k)
    for _ in range(iters):
        asg = (
            long.join(F.broadcast(cb), "s")
            .select("vid", "s", "cid", _sq_dist(F.col("sl"), F.col("c")).alias("dist"))
            .groupBy("vid", "s")
            .agg(F.min(F.struct("dist", "cid")).alias("m"))
            .select("vid", "s", F.col("m.cid").alias("cid"))
        )
        means = _exact_means(asg.join(long, ["vid", "s"]), ("s", "cid"), "sl", "c_new")
        cb = cb.join(means, ["s", "cid"], "left").select(
            "s", "cid", F.coalesce(F.col("c_new"), F.col("c")).alias("c")
        )
    return cb


def train_pq(
    embeddings: DataFrame,
    n_sub: int = 4,
    codebook_k: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
    spread: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Build the PQ pair a pipeline PERSISTS between queries: ``(codes,
    codebook)`` — ``(vid, codes: array<long>)`` (n_sub small ints per
    vector; the artifact that replaces the float corpus at query time)
    and the long codebook ``(s, cid, c)`` (n_sub x codebook_k tiny rows).
    ``ivf_pq_topk`` / ``pq_adc_topk`` accept the pair prebuilt via
    ``pq_index`` — train once, probe many, the :func:`train_ivf`
    convention (see ``sources/staging.py``).

    ``lloyd_iters=0`` (default) keeps the deterministic first-k-seeded
    codebook the registered queries oracle against; ``lloyd_iters>0``
    refines it with per-subspace k-means on a bounded deterministic
    sample (:func:`_pq_lloyd_codebook`) — the production
    configuration.  Encode/ADC are codebook-agnostic: the
    ADC-equals-reconstruction-distance identity and the IVF
    exhaustive-probe identity hold for ANY codebook and are
    pytest-pinned for the trained one (tests/test_dedup_similarity.py).
    ``spread=False`` skips the ``spread_scan`` (see
    :func:`pq_adc_topk`)."""
    e, sub_dim = _pq_sliced_corpus(
        embeddings, F.lit(False), n_sub, dim, id_col, vec_col, spread=spread
    )
    if lloyd_iters > 0:
        cb = _pq_lloyd_codebook(e, n_sub, sub_dim, codebook_k, lloyd_iters)
    else:
        cb = _pq_codebook(e, n_sub, sub_dim, codebook_k)
    return _pq_encode(e, cb, n_sub, sub_dim, "vid"), cb


def _pq_pair(
    pq_index, embeddings, n_sub, sub_dim, codebook_k, dim, id_col, vec_col, spread=True
) -> tuple[DataFrame, DataFrame]:
    """The (codes, codebook) pair of a PQ probe: trained inline, or the
    caller's prebuilt pair after the :func:`_validate_pq_index` guard."""
    if pq_index is None:
        return train_pq(
            embeddings, n_sub, codebook_k, dim, id_col, vec_col, spread=spread
        )
    _validate_pq_index(pq_index[1], n_sub, sub_dim, codebook_k, codes=pq_index[0])
    return pq_index


def pq_adc_topk(
    embeddings: DataFrame,
    query_pred: Column,
    n_sub: int = 4,
    codebook_k: int = 4,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC)
    — the memory-compression half of the IVF+PQ recipe behind
    billion-vector indexes.

    The vector space splits into ``n_sub`` subspaces (ANY n_sub dividing
    dim — real deployments run 8-96); each subspace gets a
    ``codebook_k``-entry codebook (deterministic seeding: the first
    ``codebook_k`` vectors' slices — codebook *training* is k-means,
    covered by :func:`kmeans_lloyd`; PQ's own contribution is the encode +
    ADC machinery).  Every corpus vector is encoded as ``n_sub`` small
    codes (a 512-byte float64 vector becomes n_sub log2(codebook_k)-bit
    codes), and query-to-vector distance is approximated as the SUM of
    query-to-centroid distances looked up per code — queries never touch
    the corpus floats.

    Plan shape (round-10, subspace-as-data): ONE corpus scan computes the
    whole ``(vid, codes: array)`` table as a narrow expression against the
    one-row broadcast nested codebook — zero shuffles on the encode path;
    the per-query LUT (|queries| rows of n_sub x codebook_k doubles)
    broadcast-joins onto the code table and ADC is a positional
    ``lut[s][codes[s]]`` fold.  The corpus is never shuffled and its
    floats are read exactly once — at 100 TB the code table (bytes per
    vector) is what persists, the float corpus is cold storage.

    Distances are deterministic sequential squared-diff folds and the ADC
    sum is an ordered fold, so the whole pipeline (codes, ADC values,
    ranking) hash-gates bitwise at any n_sub.

    This path OPTS OUT of the ``spread_scan`` its siblings keep (r17
    verdict ask #3) — plain ADC's per-row math
    (n_sub x codebook_k tiny sub-distances) is too light to pay for the
    round-robin exchange, the same evidence class that reverted the
    ``cosine_topk_bucketed`` spread in r16; decided by an in-session
    alternating A/B (PERF.md, negative results).  Placement-only either way —
    results are bitwise identical.
    """
    e, sub_dim = _pq_sliced_corpus(
        embeddings, query_pred, n_sub, dim, id_col, vec_col, spread=False
    )
    codes, cb = _pq_pair(
        pq_index, embeddings, n_sub, sub_dim, codebook_k, dim, id_col, vec_col, spread=False
    )
    q = e.filter(F.col("is_q"))
    lut = _pq_lut(q, cb, n_sub, sub_dim, "v", F.col("vid").alias("query_id"))
    return _adc_topk(codes.crossJoin(F.broadcast(lut)), k)


def ivf_pq_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 3,
    n_sub: int = 4,
    codebook_k: int = 4,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
    pq_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF+PQ — the production billion-vector ANN composition: coarse
    k-means inverted lists prune the candidate set (``cosine_topk_ivf``'s
    machinery), then asymmetric-distance PQ scores the survivors
    (``pq_adc_topk``'s machinery).  Queries touch corpus floats NOWHERE:
    candidate pruning reads only the broadcast centroid table, scoring
    reads only the per-vector code table.

    Plan shape: the corpus floats are scanned once at index-train/assign
    time (amortized: ``index`` accepts the persisted ``train_ivf`` pair)
    and the PQ encode is FUSED onto the assignment table (r16) — it
    carries the vectors, so codes come out of the same pass/artifact as
    the list ids with no second corpus scan and no corpus-keyed
    codes ⋈ assignments join; ``pq_index`` still accepts the persisted
    ``(codes, codebook)`` pair from :func:`train_pq`, and with both
    supplied the probe-side plan never touches a corpus float and never
    fits k-means.  Per query: centroid
    ranking is a broadcast of n_lists rows, probing is an equi-join of
    the code table against a broadcast (query_id, list_id) probe set —
    candidates ~ n_probe/n_lists of the corpus — and ADC is a broadcast
    LUT join + a positional ``lut[s][codes[s]]`` fold + a partitioned
    top-k window.  At 100 TB the code table is written partitioned by
    list_id so probes prune to files, and nothing in this plan shuffles
    the corpus.

    Exhaustive-probe identity (the correctness gate): at
    ``n_probe = n_lists`` every list is probed, each corpus vector sits in
    exactly one list, so the candidate set is the whole corpus and the
    result equals ``pq_adc_topk`` with the same PQ params — bitwise (ADC
    sums are deterministic sequential folds).  The recall-vs-probes
    property of the approximate configs is pytest-asserted
    (tests/test_dedup_similarity.py).
    """
    if index is None:
        index = train_ivf(embeddings, n_lists, seed, id_col, vec_col)
    assignments, centroids = index

    e, sub_dim = _pq_sliced_corpus(embeddings, query_pred, n_sub, dim, id_col, vec_col)
    if pq_index is None and vec_col in assignments.columns:
        # Fused encode (r16, guide §1.2 step 1 / §2.4): the assignment
        # table already carries the vectors, so the codes come out of one
        # map pass over it — no second corpus scan through train_pq and
        # no corpus-keyed codes ⋈ assignments join (2 Exchanges).  The
        # codebook is train_pq's own seeding recipe, so codes are bitwise
        # those of the join path.
        cb = _pq_codebook(e, n_sub, sub_dim, codebook_k)
        asg = spread_scan(
            assignments.select(
                F.col(id_col).alias("vid"),
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
                "list_id",
            )
        )
        coded = _pq_encode(asg, cb, n_sub, sub_dim, "vid", "list_id")
    else:
        codes, cb = _pq_pair(
            pq_index, embeddings, n_sub, sub_dim, codebook_k, dim, id_col, vec_col
        )
        coded = codes.join(
            assignments.select(F.col(id_col).alias("vid"), "list_id"), "vid"
        )
    q = e.filter(F.col("is_q"))
    lut = _pq_lut(q, cb, n_sub, sub_dim, "v", F.col("vid").alias("query_id"))
    probe = _coarse_probe(
        q.select(F.col("vid").alias("query_id"), F.col("v").alias("qv")),
        centroids,
        n_probe,
    )
    # Each vector lives in exactly one list and each (query, list) probe
    # pair is unique, so no (query, neighbor) pair can duplicate.
    return _adc_topk(
        coded.join(F.broadcast(probe), "list_id").join(F.broadcast(lut), "query_id"), k
    )


def ivf_pq_rerank_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    shortlist_k: int | None = None,
    n_lists: int = 16,
    n_probe: int = 16,
    n_sub: int = 4,
    codebook_k: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """IVF+PQ with an exact REFINE/RE-RANK stage — the standard FAISS
    deployment knob (``IndexRefineFlat`` over an IVFPQ base; r15 verdict
    ask #2) the residual index family was missing:

    1. **ADC shortlist**: :func:`ivf_pq_residual_topk` returns the
       ``shortlist_k`` (default 4k) nearest candidates per query by
       compressed-domain reconstruction distance — corpus floats touched
       NOWHERE on this path (broadcast centroids + byte-width code
       table);
    2. **exact re-score of the shortlist only**: the |q| x shortlist_k
       pair set (broadcast-sized by construction) joins back to the
       corpus for the candidates' float vectors — the ONLY point corpus
       floats are read on the probe path, and only shortlist rows'
       vectors ever reach the distance math (the join is a broadcast
       hash join keyed on neighbor_id; at 100 TB it is the point-lookup
       against the id-sorted vector store every ANN service keeps next
       to its index) — and each survivor is re-scored with the exact
       sequential-fold cosine (``cosine_prepared``);
    3. final top-``k`` ranks on the exact score (ties broken by
       neighbor_id, the engine-wide total order).

    Quantization error can demote a true neighbor in ADC order but not
    past rank shortlist_k unless the index misses it outright, so
    recall@k is >= the un-reranked index at equal probes
    (pytest-asserted on the registered corpus) while the exact-math cost
    stays O(|q| x shortlist_k) instead of O(|q| x corpus).  Every stage
    is deterministic, so the whole composition hash-gates bitwise: the
    oracle composes the registered residual oracle (as a subquery, at
    k=shortlist_k) with the brute-force cosine recipe restricted to it.
    """
    if shortlist_k is None:
        shortlist_k = 4 * k
    short = ivf_pq_residual_topk(
        embeddings,
        query_pred,
        k=shortlist_k,
        n_lists=n_lists,
        n_probe=n_probe,
        n_sub=n_sub,
        codebook_k=codebook_k,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        index=index,
    ).select("query_id", "neighbor_id")
    cand = _prepared(embeddings, "c", id_col, vec_col).join(
        F.broadcast(short), "neighbor_id"
    )
    q = _prepared(embeddings.filter(query_pred), "q", id_col, vec_col)
    return _topk(_cosine_pairs(cand, q, "query_id", drop_self=False), k)


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 16,
    n_sub: int = 4,
    codebook_k: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: "tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """IVF+PQ with RESIDUAL encoding — the actual FAISS-style composition
    (r15, r14 verdict ask #2): the fine quantizer encodes
    ``x - centroid(list(x))`` rather than ``x`` itself, which is what
    makes coarse + fine quantization COMPOSE at billion scale — coarse
    centroids absorb the corpus's global structure, so the residuals the
    PQ codebook has to cover live in a much smaller ball and the same
    code budget buys strictly finer resolution (recall >= the raw-vector
    encoder at equal probes; pytest-asserted on the registered corpus).

    Mechanics on top of :func:`ivf_pq_topk`'s plan (reference parity:
    this is the IVFPQ index of Jegou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011 — public-paper recipe, not a
    reference-repo operator):

    * coarse quantizer: :func:`seeded_centroids` (deterministic,
      oracle-expressible) + :func:`assign_to_centroids` — the zero-
      shuffle broadcast argmin; each vector's residual is one
      ``zip_with`` subtraction against its own list's broadcast centroid;
    * fine codebook: :func:`_pq_codebook` over the RESIDUAL corpus,
      seeded past the coarse seeds (``skip=n_lists`` — coarse-seed
      residuals are identically zero and would collapse the codebook);
    * query side: a query probing list ``l`` scores candidates of ``l``
      against its OWN residual ``q - centroid(l)`` — the LUT is keyed
      (query_id, list_id), |q| x n_probe rows of n_sub x codebook_k
      doubles, broadcast-sized; ADC stays the positional
      ``lut[s][codes[s]]`` ordered fold, so ``adc_dist`` IS the exact
      reconstruction distance ``||q_res - decode(codes)||^2`` summed
      subspace-wise (the identity the oracle recomputes; bitwise).

    The index comes from :func:`_residual_index`, the one builder the
    staged form uses too: corpus floats are read exactly ONCE at build
    time and NEVER at probe time; nothing shuffles the corpus.  At
    100 TB the (vid, list_id, codes) table is written partitioned by
    list_id so probes prune to files — identical layout
    story to :func:`ivf_pq_topk`, one extra subtraction per vector at
    build time.  Registered in the exhaustive-probe configuration
    (n_probe = n_lists): every candidate is scored exactly once against
    its own list, so the oracle needs no probe ranking, while the
    recall-vs-probes property of approximate configs is pytest-asserted.

    ``index`` (r15, the train-once/probe-many form): the persisted
    4-tuple ``(assignments, centroids, codes, codebook)`` —
    ``(vid, list_id)``, ``(list_id, centroid)``, ``(vid, codes)``,
    ``(s, cid, c)`` — from a prior build.  With it supplied, the probe
    path reads corpus floats ONLY for the query block (a real service's
    queries arrive externally) and never re-derives any artifact; the
    codebook/codes pair goes through the same :func:`_validate_pq_index`
    truncation guard as every prebuilt PQ pair.
    """
    e, sub_dim = _pq_sliced_corpus(embeddings, query_pred, n_sub, dim, id_col, vec_col)
    if index is None:
        centroids, cb, coded = _residual_index(
            embeddings, e, n_lists, codebook_k, n_sub, sub_dim, id_col, vec_col
        )
    else:
        asg, centroids, codes, cb = index
        _validate_pq_index(cb, n_sub, sub_dim, codebook_k, codes=codes)
        coded = codes.join(asg.select("vid", "list_id"), "vid")
    lut = _residual_lut(e, centroids, cb, n_probe, n_sub, sub_dim)
    # Null-safe equality on the probe join (r17): a plain inner join on
    # list_id makes the optimizer infer isnotnull(list_id) on the coded
    # side and push it below the encode projection, where it substitutes
    # the whole argmin fold into a filter — the full-corpus assignment
    # math evaluated twice per row.  <=> carries no notnull constraint
    # and is the same join as long as neither side holds a NULL list_id
    # (tests/test_dedup_similarity.py pins that for the inline build,
    # the staged build and an empty corpus).  The planner still picks
    # BroadcastHashJoin (EqualNullSafe is an equi-key).
    return _adc_topk(
        coded.join(F.broadcast(lut), coded["list_id"].eqNullSafe(lut["list_id"])), k
    )


def _residual_index(
    embeddings: DataFrame,
    e: DataFrame,
    n_lists: int,
    codebook_k: int,
    n_sub: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the residual index from the sliced corpus ``e``:
    ``(centroids, codebook, coded)`` with ``coded`` = (vid, list_id,
    codes).  The one builder behind the inline and the staged residual
    paths.

    Each row's residual is ``v - centroid(list(v))`` with the centroid
    carried out of the assignment argmin itself (``carry_centroid``): a
    join back to the centroid table would let the optimizer push an
    inferred ``isnotnull(list_id)`` below the projection — the argmin
    fold evaluated twice per row.  Assignment -> residual -> encode is
    one map pass over the corpus.  The fine-codebook seeds are the
    codebook_k smallest-vid residuals PAST the coarse seeds (whose
    residuals are identically zero), a property of ``n_lists +
    codebook_k`` rows only, so those rows are cut BEFORE the argmin
    math — TakeOrdered by vid commutes with the row-local residual."""
    centroids = seeded_centroids(embeddings, n_lists, id_col, vec_col)

    def residuals(rows: DataFrame) -> DataFrame:
        asg = assign_to_centroids(
            rows, centroids, id_col="vid", vec_col="v", cluster_col="list_id",
            carry_centroid="__cent",
        )
        return asg.select(
            "vid", "list_id", F.zip_with("v", "__cent", lambda a, b: a - b).alias("v")
        )

    seed_rows = e.orderBy("vid").limit(n_lists + codebook_k)
    cb = _pq_codebook(residuals(seed_rows), n_sub, sub_dim, codebook_k, skip=n_lists)
    return centroids, cb, _pq_encode(residuals(e), cb, n_sub, sub_dim, "vid", "list_id")


def _residual_lut(
    e: DataFrame, centroids: DataFrame, cb: DataFrame, n_probe: int, n_sub: int, sub_dim: int
) -> DataFrame:
    """Residual LUT per (query, probed list): the coarse probe carries
    each query's residual ``qr = q - centroid(list)``, and
    ``lut[s][cid] = ||qr_s - c||^2``.  Returns (query_id, list_id, lut)."""
    q = e.filter(F.col("is_q")).select(F.col("vid").alias("query_id"), F.col("v").alias("qv"))
    qr = F.zip_with(F.col("qv"), F.col("centroid"), lambda a, b: a - b).alias("qr")
    probe = _coarse_probe(q, centroids, n_probe, qr)
    return _pq_lut(probe, cb, n_sub, sub_dim, "qr", "query_id", "list_id")
