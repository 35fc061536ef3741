"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and an IVF-style variant
(assign to nearest centroid, search only the probed cells) as the scale
path. All dot products are built-in higher-order functions
(``zip_with`` + ``aggregate``) — JVM-side, no Python.
"""

from __future__ import annotations

import math
from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_double(a):
    # widen BEFORE multiplying: float*float then widening loses bits and
    # diverges from engines (e.g. DuckDB oracle) that cast elements first
    return F.transform(a, lambda x: x.cast("double"))


def dot_expr(a, b):
    return F.aggregate(F.zip_with(_as_double(a), _as_double(b),
                                  lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a):
    return F.sqrt(F.aggregate(F.transform(_as_double(a), lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_expr(a, b):
    """Cosine similarity with a zero-norm guard: under ANSI mode
    (Spark 4's default) a bare division THROWS DIVIDE_BY_ZERO, so one
    all-zero (padded/corrupt) embedding would kill the whole query.
    cosine against a zero vector is defined as 0 (no similarity)."""
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom > 0, dot_expr(a, b) / denom).otherwise(F.lit(0.0))


def _vec_lit(vec: Sequence[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(embs: DataFrame, query_vec: Sequence[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force top-k by cosine. One narrow scan + a k-row
    ordered limit (Spark runs it as TakeOrdered — no full sort shuffle)."""
    q = _vec_lit(query_vec)
    return (embs.select(F.col(id_col),
                        cosine_expr(F.col(vec_col), q).alias("cosine"))
                .orderBy(F.desc("cosine"), F.asc(id_col))
                .limit(k))


def _py_norm(vec: Sequence[float]) -> float:
    # driver-side L2 norm with the EXACT op order of norm_expr (left fold
    # of acc + x*x over doubles, then sqrt) — Python floats are IEEE
    # doubles, so the result is bit-identical to evaluating norm_expr on
    # the same literal JVM-side
    acc = 0.0
    for x in vec:
        xd = float(x)
        acc = acc + xd * xd
    return math.sqrt(acc)


def assign_centroid(embs: DataFrame, centroids: List[Sequence[float]],
                    vec_col: str = "embedding") -> DataFrame:
    """IVF cell assignment: argmax cosine over a broadcast centroid list
    (a literal array-of-arrays — evaluated JVM-side per row).

    The naive form (``cosine_expr`` per centroid) plants THREE
    aggregate-lambda trees per centroid in the plan; at 16 centroids ×
    dim 64 Catalyst spends tens of seconds just analyzing the tree.
    Here the vector's double-cast and norm are staged ONCE and centroid
    norms are folded driver-side (:func:`_py_norm` replays norm_expr's
    IEEE op order, so scores are bit-identical) — the per-centroid tree
    is a single dot product, ~3x smaller and ~constant-factor cheaper to
    both plan and run. Tie rule unchanged: equal scores → higher cell id
    (struct max compares score then id)."""
    for tmp in ("__ac_vd", "__ac_norm"):
        if tmp in embs.columns:
            raise ValueError(
                f"assign_centroid: input already has internal column {tmp!r}")
    staged = (embs
              .withColumn("__ac_vd", _as_double(F.col(vec_col)))
              .withColumn("__ac_norm", norm_expr(F.col("__ac_vd"))))
    scored = F.array(*[
        F.struct(
            F.when(F.col("__ac_norm") * F.lit(_py_norm(c)) > 0,
                   F.aggregate(F.zip_with(F.col("__ac_vd"), _vec_lit(c),
                                          lambda x, y: x * y),
                               F.lit(0.0), lambda acc, v: acc + v)
                   / (F.col("__ac_norm") * F.lit(_py_norm(c))))
             .otherwise(F.lit(0.0)).alias("s"),
            F.lit(i).alias("c"))
        for i, c in enumerate(centroids)])
    best = F.array_max(scored)
    return (staged.withColumn("centroid", best["c"])
                  .drop("__ac_vd", "__ac_norm"))


def _probe_cells(centroids: List[Sequence[float]],
                 query_vec: Sequence[float], n_probe: int) -> List[int]:
    """Indices of the ``n_probe`` centroids nearest (cosine) to the query;
    ties keep the lower index (stable sort)."""
    import math
    q = list(query_vec)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb) if na and nb else 0.0

    order = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], q))
    return order[:n_probe]


def ivf_topk(embs: DataFrame, centroids: List[Sequence[float]],
             query_vec: Sequence[float], k: int = 10, n_probe: int = 1,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: score only the ``n_probe`` cells nearest to the
    query. This variant assigns cells on the fly (full scan per query) —
    use :func:`build_ivf_index` + :func:`ivf_topk_indexed` to amortize
    assignment into a centroid-partitioned layout whose probes prune at
    scan time."""
    probe = _probe_cells(centroids, query_vec, n_probe)
    assigned = assign_centroid(embs, centroids, vec_col)
    q = list(query_vec)
    return (assigned.filter(F.col("centroid").isin(probe))
                    .select(F.col(id_col),
                            cosine_expr(F.col(vec_col), _vec_lit(q)).alias("cosine"))
                    .orderBy(F.desc("cosine"), F.asc(id_col))
                    .limit(k))


def build_ivf_index(embs: DataFrame, centroids: List[Sequence[float]],
                    path: str, vec_col: str = "embedding") -> None:
    """One-time IVF build: assign every vector to its nearest centroid and
    write parquet **partitioned by centroid**. Queries then read only the
    probed cells — Hive partition pruning (PartitionFilters in the scan
    node), so a probe touches n_probe/k of the data instead of all of it.
    The pre-``repartition("centroid")`` gives one file per cell per write
    (not one per task per cell).

    The centroids are stamped beside the data (``_ivf_centroids.json`` —
    the leading underscore keeps it out of parquet directory listings,
    like ``_SUCCESS``) so :func:`append_ivf_index` can ingest later
    batches into the SAME cell space and :func:`ivf_topk_indexed` can
    probe without the caller re-supplying the centroid list."""
    import json

    from .. import fsio

    assigned = assign_centroid(embs, centroids, vec_col)
    (assigned.repartition("centroid")
             .write.mode("overwrite").partitionBy("centroid").parquet(path))
    fsio.write_text(embs.sparkSession, f"{path}/_ivf_centroids.json",
                    json.dumps([[float(x) for x in c] for c in centroids]))


def load_ivf_centroids(spark, path: str) -> List[List[float]]:
    """The centroid stamp a :func:`build_ivf_index` layout was built
    with. Raises ``ValueError`` for a pre-stamp or non-index directory —
    appending with guessed centroids would scatter vectors into the
    wrong cells, silently breaking probe recall, so there is no
    fallback."""
    import json

    from .. import fsio

    txt = fsio.read_text(spark, f"{path}/_ivf_centroids.json")
    if txt is None:
        raise ValueError(
            f"no _ivf_centroids.json under {path!r}: not an IVF index "
            "built by build_ivf_index (or the stamp was deleted); "
            "rebuild the index rather than appending blind")
    return [[float(x) for x in c] for c in json.loads(txt)]


def append_ivf_index(embs: DataFrame, path: str,
                     vec_col: str = "embedding") -> None:
    """Incremental vector ingestion: assign ONLY the new batch against
    the index's stamped centroids and append it into the existing
    centroid partitions — O(|batch|) per call, history is never
    re-read or re-clustered, and partition pruning keeps working
    because the cell space is unchanged. New parquet files land beside
    the old ones inside each ``centroid=N`` directory (append is
    visible only after the write commits, so readers never see a
    half-ingested batch).

    Centroids drift as the corpus grows; when recall degrades, re-run
    :func:`kmeans_centroids` over a sample and :func:`build_ivf_index`
    a fresh layout — rebalancing in place would re-shuffle history,
    which is exactly what this path exists to avoid."""
    centroids = load_ivf_centroids(embs.sparkSession, path)
    assigned = assign_centroid(embs, centroids, vec_col)
    (assigned.repartition("centroid")
             .write.mode("append").partitionBy("centroid").parquet(path))


def ivf_topk_indexed(spark, path: str, centroids: List[Sequence[float]],
                     query_vec: Sequence[float], k: int = 10,
                     n_probe: int = 1, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Top-k over a :func:`build_ivf_index` layout: the centroid filter is
    a partition predicate, so Spark lists and scans only the probed
    directories. Pass ``centroids=None`` to probe with the index's own
    stamped centroid list (always correct after appends — the stamp is
    the cell space the data is laid out in)."""
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    probe = _probe_cells(centroids, query_vec, n_probe)
    q = list(query_vec)
    df = spark.read.parquet(path).filter(F.col("centroid").isin(probe))
    return (df.select(F.col(id_col),
                      cosine_expr(F.col(vec_col), _vec_lit(q)).alias("cosine"))
              .orderBy(F.desc("cosine"), F.asc(id_col))
              .limit(k))


def kmeans_centroids(embs: DataFrame, k: int = 4, n_iter: int = 3,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> List[List[float]]:
    """Deterministic Lloyd iterations for IVF centroids: seeds are the
    ``k`` lowest-id vectors; each round assigns (broadcast centroid
    literals, JVM-side) and recomputes cell means via one
    posexplode + groupBy(centroid, pos) average — k·dim rows to the
    driver per round, never the data itself. Empty cells keep their
    previous centroid."""
    seeds = (embs.orderBy(id_col).limit(k)
                 .select(vec_col).collect())
    centroids = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(n_iter):
        assigned = assign_centroid(embs, centroids, vec_col)
        means = (assigned.select("centroid",
                                 F.posexplode(_as_double(F.col(vec_col)))
                                  .alias("pos", "val"))
                         .groupBy("centroid", "pos")
                         .agg(F.avg("val").alias("m"))
                         .collect())
        nxt = [list(c) for c in centroids]
        for r in means:
            nxt[r["centroid"]][r["pos"]] = float(r["m"])
        centroids = nxt
    return centroids


# ---------------------------------------------------------------------------
# int8 scalar quantization: 4x smaller vectors for the candidate scan,
# exact float rescoring of the survivors — the standard memory/recall
# trade every production ANN deployment makes (public pattern: faiss
# SQ8 / Lucene int8 HNSW).

def quantize_embeddings(embs: DataFrame, vec_col: str = "embedding",
                        q_col: str = "q8", scale_col: str = "q8_scale"
                        ) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q_i = round(v_i / s)``
    with ``s = max(|v|) / 127`` — adds ``q_col:array<int>`` and
    ``scale_col:double``. All-zero vectors get scale 0 and an all-zero
    code (the cosine path already defines zero-norm similarity as 0).

    Narrow map-only projection (JVM higher-order functions, no UDF, no
    shuffle); at 100 TB this is the column you persist next to (or
    instead of) the float vectors — 4x less scan bandwidth for the
    candidate pass."""
    v = _as_double(F.col(vec_col))
    maxabs = F.array_max(F.transform(v, F.abs))
    s = (maxabs / F.lit(127.0)).alias(scale_col)
    q = F.when(maxabs > 0,
               F.transform(v, lambda x: F.round(x / (maxabs / 127.0))
                           .cast("int"))) \
         .otherwise(F.transform(v, lambda x: F.lit(0))) \
         .alias(q_col)
    return embs.select("*", q, s)


def _int_dot(a, b):
    # exact integer dot product (bigint accumulator: 128*127*127 < 2^21,
    # safe for any realistic dim)
    return F.aggregate(F.zip_with(a, b, lambda x, y:
                                  (x * y).cast("bigint")),
                       F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def semantic_duplicates(embs: DataFrame,
                        centroids: "List[Sequence[float]]",
                        threshold: float = 0.95,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """SemDeDup-style semantic dedup (public method: Abbas et al. 2023,
    arXiv:2303.09540): cluster-cell assignment bounds the pair search —
    cosine pairs are generated ONLY within a cell, never across the
    corpus. Returns ``(centroid, id_a, id_b, cosine)`` with
    ``id_a < id_b`` and ``cosine >= threshold``.

    Scale shape: one broadcast-centroid map pass (the same
    :func:`assign_centroid` the IVF index uses — argmax cosine, ties →
    higher centroid) + one equi-join on the cell id. Within-cell cost
    is quadratic in CELL size only — SemDeDup's contract is that the
    number of centroids grows with the corpus so cells stay small
    (the paper clusters 100M+ embeddings into 50k cells). The join
    shuffles on the cell id, so parallelism is bounded by #centroids
    and a hot cell lands on one reducer: size the centroid list so
    cells stay in the 10²-10³ range and leave AQE skew-join on (both
    already required for the quadratic bound to hold at all)."""
    from .veccand import cell_score_candidates
    # Candidate nomination (NumPy, margin-safe superset: every cell
    # within MARGIN of a vector's best score × every pair clearing
    # threshold − MARGIN, degenerate rows force-paired) — then the
    # EXACT argmax assignment and the exact cosine expression decide,
    # so results are bit-identical to the legacy per-pair evaluation
    # while the |cell|² interpreted folds collapse to one matmul per
    # cell (guide §4.2). Norms are computed once per ROW (norm_expr on
    # the same column ⇒ the same doubles cosine_expr derived per pair).
    cand = cell_score_candidates(embs, centroids, vec_col, id_col,
                                 threshold).distinct()
    a = assign_centroid(embs, centroids, vec_col).select(
        F.col("centroid"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_sem_va"),
        norm_expr(F.col(vec_col)).alias("_sem_na"))
    b = assign_centroid(embs, centroids, vec_col).select(
        F.col("centroid"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_sem_vb"),
        norm_expr(F.col(vec_col)).alias("_sem_nb"))
    j1 = a.join(F.broadcast(cand), ["centroid", "id_a"])
    j2 = b.join(F.broadcast(j1), ["centroid", "id_b"])
    denom = F.col("_sem_na") * F.col("_sem_nb")
    cos = F.when(denom > 0,
                 dot_expr(F.col("_sem_va"), F.col("_sem_vb")) / denom) \
           .otherwise(F.lit(0.0))
    return (j2.filter(F.col("id_a") < F.col("id_b"))
              .withColumn("cosine", cos)
              .filter(F.col("cosine") >= F.lit(float(threshold)))
              .select("centroid", "id_a", "id_b", "cosine"))


def quantized_topk(embs: DataFrame, query_vec, k: int = 10, *,
                   rescore: int | None = None,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Two-phase top-k: (1) scan int8 codes with an integer dot-product
    estimate ``dot ≈ int_dot(qa, qb) * sa * sb``, keep the top
    ``rescore`` (default ``4*k``) candidates; (2) recompute EXACT float
    cosine on those survivors only and return the final top-k.

    Phase 1 is a narrow scan + TakeOrdered over ``rescore`` rows (no
    full sort); phase 2 touches ``rescore`` rows — constant work. The
    quantized estimate orders candidates, never final results, so a
    quantization error can only cost recall (bounded by the rescore
    margin), never report a wrong score."""
    if rescore is None:
        rescore = 4 * k
    if rescore < k:
        raise ValueError("rescore pool must be >= k")
    import math
    qv = [float(x) for x in query_vec]
    qmax = max((abs(x) for x in qv), default=0.0)
    qscale = qmax / 127.0

    def _half_away(x: float) -> int:
        # HALF_UP away-from-zero, matching Spark's F.round / DuckDB's
        # round() — python's builtin round() is banker's and diverges
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    qcode = F.array(*[F.lit(_half_away(x / qscale) if qscale > 0 else 0)
                      for x in qv])
    qz = quantize_embeddings(embs, vec_col)
    est = (_int_dot(F.col("q8"), qcode).cast("double")
           * F.col("q8_scale") * F.lit(qscale))
    cands = (qz.select(id_col, vec_col, est.alias("est_dot"))
               .orderBy(F.desc("est_dot"), F.asc(id_col))
               .limit(rescore))
    q = _vec_lit(qv)
    return (cands.select(F.col(id_col),
                         cosine_expr(F.col(vec_col), q).alias("cosine"))
                 .orderBy(F.desc("cosine"), F.asc(id_col))
                 .limit(k))
