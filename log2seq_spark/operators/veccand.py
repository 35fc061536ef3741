"""Margin-safe vectorized candidate generation for exact cosine-pair
operators (guide §4.2: hand whole batches to native vectorized code;
guide §8: decide with small proxies, confirm with the exact path).

The contract that keeps results BIT-IDENTICAL to the pure-expression
formulations in :mod:`dedup` / :mod:`similarity`:

* NumPy never decides an output row. It only nominates a CANDIDATE
  SUPERSET — every pair whose float64-BLAS cosine clears
  ``threshold - MARGIN``. The final filter re-computes cosine with the
  exact same Spark expression tree (``dot_expr``/``norm_expr`` left
  folds) the legacy plan used, so any pair the legacy plan would emit
  is emitted with the identical double, and any it would drop is
  dropped.
* ``MARGIN`` (1e-6) exceeds the worst-case |BLAS cosine − fold cosine|
  by >6 orders of magnitude: both approximate the real cosine with
  relative error ≤ ~(2·dim+4)·eps (≈3e-13 at dim 4096), so a pair at
  exact cosine ≥ t always has BLAS cosine ≥ t − 1e-6. No false
  negatives; false positives only cost a few exact re-scores.
* Degenerate rows (zero-norm or non-finite vectors) are FORCE-PAIRED:
  all their pairs become candidates unconditionally, so whatever the
  exact expression does with them (0-division, NaN propagation, the
  ``cosine_expr`` zero guard) happens exactly as before.
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udf import _drop_zip_finders

MARGIN = 1e-6
# n × dim float64 bytes of the matrix the brute path builds on the
# driver and broadcasts (its unit-row copy is the same size again)
MAX_BRUTE_BYTES = 512 << 20


def _arrow_id_type(spark_dt):
    try:
        from pyspark.sql.pandas.types import to_arrow_type
        return to_arrow_type(spark_dt)
    except Exception:
        import pyarrow as pa
        m = {"bigint": pa.int64(), "int": pa.int32(), "string": pa.string(),
             "double": pa.float64(), "float": pa.float32()}
        return m.get(spark_dt.simpleString(), pa.int64())


def _matrix(vecs) -> "object":
    """list-of-sequences -> (n, dim) float64 ndarray, or None if ragged/
    missing. None elements inside a vector become NaN (and the row is
    then force-paired), matching the legacy NULL-propagation drop."""
    import numpy as np
    if any(v is None for v in vecs):
        return None
    try:
        mat = np.array([[float("nan") if x is None else x for x in v]
                        for v in vecs], dtype=np.float64)
    except (TypeError, ValueError):
        return None
    if mat.ndim != 2:
        return None
    return mat


def _force_rows(mat) -> "object":
    """Rows whose pairs must bypass the prefilter: zero vectors (the
    exact path divides by a 0.0 norm product — replay that, whatever it
    does) and non-finite vectors (norm Inf/NaN — the exact expression's
    propagation, not NumPy's, must decide)."""
    import numpy as np
    finite = np.isfinite(mat).all(axis=1)
    zero = (mat == 0.0).all(axis=1)
    return zero | ~finite


def _unit_rows(mat):
    """Row-normalized copy; degenerate rows (handled by _force_rows)
    are zeroed so they never accidentally clear the margin."""
    import numpy as np
    norms = np.sqrt((mat * mat).sum(axis=1))
    bad = ~np.isfinite(norms) | (norms == 0.0)
    safe = np.where(bad, 1.0, norms)
    unit = mat / safe[:, None]
    unit[bad] = 0.0
    return unit


def brute_pair_candidates(e: DataFrame, threshold: float,
                          max_rows: int) -> DataFrame | None:
    """Candidate (id_a, id_b) pairs for the exact brute-force cosine
    join over ``e`` (columns ``_id``, ``_v``): the all-pairs O(n²·dim)
    scoring runs as float64 BLAS blocks across executors instead of
    2·n² interpreted lambda folds; survivors (≥ threshold − MARGIN,
    plus force-paired degenerate rows) go back to the exact expression.

    Returns None when the fast path cannot guarantee equivalence
    (ragged/missing vectors, unorderable or non-finite ids) — caller
    falls back to the legacy crossJoin. Raises ValueError when the
    input exceeds ``max_rows`` (same contract as the legacy guard) or
    when its n × dim float64 matrix exceeds ``MAX_BRUTE_BYTES``."""
    import math

    rows = e.select("_id", "_v").limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"embedding_near_duplicates(n_planes=0) is the exact "
            f"O(n²) crossJoin baseline; input exceeds "
            f"max_brute_rows={max_rows}. Use n_planes>0 "
            f"(banded hyperplane LSH) at scale, or raise/disable "
            f"max_brute_rows if the input really is small.")
    # NULL ids never pair under `id_a < id_b` — drop them up front
    rows = [r for r in rows if r[0] is not None]
    dim = max((len(r[1]) for r in rows if r[1] is not None), default=0)
    nbytes = len(rows) * dim * 8
    if nbytes > MAX_BRUTE_BYTES:
        raise ValueError(
            f"embedding_near_duplicates(n_planes=0): {len(rows)} vectors "
            f"of dim {dim} make a {nbytes}-byte matrix, "
            f"over MAX_BRUTE_BYTES={MAX_BRUTE_BYTES}. Use n_planes>0 "
            f"(banded hyperplane LSH) at scale.")
    ids = [r[0] for r in rows]
    for i in ids:
        if isinstance(i, float) and not math.isfinite(i):
            return None   # NaN ids break total ordering — legacy path
    mat = _matrix([r[1] for r in rows])
    if mat is None or not len(ids):
        return None if mat is None else _empty_pairs(e)
    import numpy as np
    try:
        order = sorted(range(len(ids)), key=ids.__getitem__)
    except TypeError:
        return None
    # strict-< rank: equal ids share a rank so they never pair (the
    # legacy filter is id_a < id_b on VALUES)
    rank = np.empty(len(ids), dtype=np.int64)
    r = -1
    prev = object()
    for pos, idx in enumerate(order):
        if pos == 0 or ids[idx] != prev:
            r += 1
            prev = ids[idx]
        rank[idx] = r

    unit = _unit_rows(mat)
    force = _force_rows(mat)
    spark = e.sparkSession
    sc = spark.sparkContext
    bc = sc.broadcast((unit, force, rank, ids))
    thr = float(threshold) - MARGIN
    id_dt = e.schema["_id"].dataType
    pa_t = _arrow_id_type(id_dt)
    n = len(ids)
    # block rows so the per-task score matrix stays ~tens of MB
    block = max(16, int(4_000_000 // max(n, 1)))

    def gen(batches):
        _drop_zip_finders()
        import numpy as np
        import pyarrow as pa
        u, fr, rk, id_list = bc.value
        ut = np.ascontiguousarray(u.T)
        id_np = None
        try:
            id_np = np.asarray(id_list)
            if id_np.dtype == object:
                id_np = None
        except Exception:
            id_np = None
        for batch in batches:
            idx = batch.column(0).to_numpy()
            for s in range(0, len(idx), block):
                part = idx[s:s + block]
                c = u[part] @ ut
                mask = c >= thr
                mask |= fr[part, None]
                mask |= fr[None, :]
                mask &= rk[part, None] < rk[None, :]
                ii, jj = np.nonzero(mask)
                if not len(ii):
                    continue
                gi = part[ii]
                if id_np is not None:
                    a = pa.array(id_np[gi], type=pa_t)
                    b = pa.array(id_np[jj], type=pa_t)
                else:
                    a = pa.array([id_list[k] for k in gi], type=pa_t)
                    b = pa.array([id_list[k] for k in jj], type=pa_t)
                yield pa.RecordBatch.from_arrays([a, b],
                                                 ["id_a", "id_b"])

    ddl = id_dt.simpleString()
    par = min(max(1, n), sc.defaultParallelism * 2)
    cand = (spark.range(0, n, numPartitions=par)
                 .mapInArrow(gen, f"id_a {ddl}, id_b {ddl}"))
    return cand.distinct()


def _empty_pairs(e: DataFrame) -> DataFrame:
    ddl = e.schema["_id"].dataType.simpleString()
    return e.sparkSession.createDataFrame([], f"id_a {ddl}, id_b {ddl}")


def bucket_pair_candidates(buckets: DataFrame, threshold: float,
                           items_col: str = "items",
                           carry_cols: Sequence[str] = ()) -> DataFrame:
    """Candidate pairs from bucketed rows (``items``: array of
    struct<_id, _v>): per-bucket pairwise cosine in NumPy with the
    MARGIN/force contract. Pairs are POSITIONAL within a bucket
    (duplicate ids pair with themselves, exactly like the legacy
    sorted-slice expansion) and emitted value-ordered as
    (min_id, max_id). ``carry_cols`` values of the bucket row are
    replicated onto each emitted pair (e.g. the SemDeDup cell id).
    Output still needs ``.distinct()`` and the exact re-score."""
    import pyarrow as pa
    id_dt = (buckets.schema[items_col].dataType
             .elementType["_id"].dataType)
    pa_t = _arrow_id_type(id_dt)
    carry_dts = [buckets.schema[c].dataType for c in carry_cols]
    carry_pa = [_arrow_id_type(dt) for dt in carry_dts]
    thr = float(threshold) - MARGIN
    n_carry = len(carry_cols)

    def gen(batches):
        _drop_zip_finders()
        import numpy as np
        import pyarrow as pa
        for batch in batches:
            col = batch.column(n_carry)
            carry_vals = [batch.column(k).to_pylist()
                          for k in range(n_carry)]
            out_a: list = []
            out_b: list = []
            out_carry: list = [[] for _ in range(n_carry)]
            for rno, row in enumerate(col.to_pylist()):
                ids = [s["_id"] for s in row]
                mat = _matrix([s["_v"] for s in row])
                nloc = len(ids)
                if mat is None:
                    # ragged/missing vectors: nominate every positional
                    # pair; the exact expression decides, as legacy did
                    ii, jj = np.triu_indices(nloc, k=1)
                else:
                    u = _unit_rows(mat)
                    fr = _force_rows(mat)
                    c = u @ u.T
                    mask = c >= thr
                    mask |= fr[:, None]
                    mask |= fr[None, :]
                    ii, jj = np.nonzero(np.triu(mask, k=1))
                n_emit = 0
                for i, j in zip(ii.tolist(), jj.tolist()):
                    x, y = ids[i], ids[j]
                    if x is None or y is None:
                        continue
                    if y < x:
                        x, y = y, x
                    out_a.append(x)
                    out_b.append(y)
                    n_emit += 1
                for k in range(n_carry):
                    out_carry[k].extend([carry_vals[k][rno]] * n_emit)
            arrays = [pa.array(out_carry[k], type=carry_pa[k])
                      for k in range(n_carry)]
            arrays += [pa.array(out_a, type=pa_t),
                       pa.array(out_b, type=pa_t)]
            yield pa.RecordBatch.from_arrays(
                arrays, list(carry_cols) + ["id_a", "id_b"])

    ddl = id_dt.simpleString()
    out_ddl = ", ".join(
        [f"{c} {dt.simpleString()}"
         for c, dt in zip(carry_cols, carry_dts)]
        + [f"id_a {ddl}", f"id_b {ddl}"])
    return buckets.select(*carry_cols, items_col).mapInArrow(gen, out_ddl)


def attach_pair_vectors(cand: DataFrame, e: DataFrame) -> DataFrame:
    """Join the (small) candidate pair list back to vectors+norms:
    ``e`` is streamed twice against a broadcast of the pair list — no
    shuffle of the vector table (guide §3.1)."""
    ea = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"),
                  F.col("_norm").alias("na"))
    eb = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
                  F.col("_norm").alias("nb"))
    j1 = ea.join(F.broadcast(cand), "id_a")
    return eb.join(F.broadcast(j1), "id_b")


def cell_score_candidates(embs: DataFrame, centroids: Sequence,
                          vec_col: str, id_col: str,
                          threshold: float) -> DataFrame:
    """SemDeDup candidate pairs: (centroid, id_a, id_b) such that both
    vectors *may* be argmax-assigned to ``centroid`` (all cells within
    MARGIN of each vector's best score are nominated — a superset of
    the exact ``assign_centroid`` tie rule on both branches) and the
    pair's BLAS cosine clears threshold − MARGIN (or either row is
    degenerate). The caller joins back against the EXACT assignment, so
    a pair nominated under a wrong cell simply finds no match."""
    import numpy as np
    cmat = np.array([[float(x) for x in c] for c in centroids],
                    dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    spark = embs.sparkSession
    id_dt = embs.schema[id_col].dataType
    pa_t = _arrow_id_type(id_dt)
    bc = spark.sparkContext.broadcast((cmat, cnorm))
    thr = float(threshold) - MARGIN
    n_cells = len(centroids)

    def assign_gen(batches):
        _drop_zip_finders()
        import numpy as np
        import pyarrow as pa
        cm, cn = bc.value
        for batch in batches:
            ids = batch.column(0)
            vecs = batch.column(1).to_pylist()
            mat = _matrix(vecs)
            if mat is None:
                # degenerate batch: nominate every row for every cell
                scores = None
            else:
                norms = np.sqrt((mat * mat).sum(axis=1))
                denom = norms[:, None] * cn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = (mat @ cm.T) / denom
                scores = np.where(denom > 0, scores, 0.0)
                badrow = ~np.isfinite(scores).all(axis=1)
                scores[badrow] = np.nan
            out_cell: list = []
            out_idx: list = []
            nb = len(vecs)
            if scores is None:
                for i in range(nb):
                    out_idx.extend([i] * n_cells)
                    out_cell.extend(range(n_cells))
            else:
                best = np.nanmax(scores, axis=1)
                for i in range(nb):
                    if not np.isfinite(best[i]):
                        out_idx.extend([i] * n_cells)
                        out_cell.extend(range(n_cells))
                        continue
                    cells = np.nonzero(
                        scores[i] >= best[i] - MARGIN)[0]
                    out_idx.extend([i] * len(cells))
                    out_cell.extend(cells.tolist())
            id_out = ids.take(pa.array(out_idx, type=pa.int32())) \
                if out_idx else pa.array([], type=ids.type)
            vec_out = batch.column(1).take(
                pa.array(out_idx, type=pa.int32())) \
                if out_idx else batch.column(1).slice(0, 0)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_cell, type=pa.int32()), id_out, vec_out],
                ["centroid", "_id", "_v"])

    vec_ddl = embs.schema[vec_col].dataType.simpleString()
    ddl = id_dt.simpleString()
    cellified = (embs.select(F.col(id_col), F.col(vec_col))
                     .mapInArrow(assign_gen,
                                 f"centroid int, _id {ddl}, _v {vec_ddl}"))
    grouped = (cellified.groupBy("centroid")
               .agg(F.collect_list(F.struct("_id", "_v")).alias("items")))
    return bucket_pair_candidates(grouped, threshold,
                                  carry_cols=("centroid",))
