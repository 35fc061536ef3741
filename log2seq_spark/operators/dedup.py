"""Deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame plans over built-in functions (no Python
UDFs): hashing via ``md5`` (stable across engines, so DuckDB oracles can
replay the exact computation), shingling via higher-order array functions.

Scale notes (100 TB): exact dedup is one hash-shuffle on a 32-char key;
MinHash-LSH shuffles once on (band_id, band_hash) buckets whose expected
size is tiny, so the candidate-pair join never materializes the quadratic
pair space; n-gram Jaccard verification runs only inside buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import _local_frame


def normalized_text(col):
    """Lowercase, collapse whitespace, strip punctuation — the canonical
    form used for fingerprints and shingles.

    One fused regex: every maximal run of [^a-z0-9] (spaces included)
    becomes a single space, then trim. Provably identical to the
    two-pass form the oracles replay (char-wise [^a-z0-9 ]→' ' then
    ' +'→' '): both map each maximal run of {space ∪ stripped} chars to
    one space and runs of kept chars to themselves. The char-wise pass
    fired the regex replacement machinery once per punctuation CHAR —
    measured 16x slower than the run-wise match at sf1.0 (2.7s → 0.2s
    for fingerprint md5 over 50k docs), and this normalization is the
    head of every shingle/ownership/fingerprint pipeline."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup → one row per duplicated content:
    (text_hash, n_docs, keep_id). Map-side partial aggregation makes this
    a single cheap shuffle at any scale."""
    return (docs
            .withColumn("text_hash", F.md5(F.col(text_col)))
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_docs") > 1))


def shingle_rows(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """(_id, pos, shingle) rows — shingles materialized ONCE per doc, the
    scalable base for MinHash / Jaccard (aggregation-shaped, not
    nested-array-expression-shaped)."""
    words = F.split(normalized_text(F.col(text_col)), " ")
    sh = F.transform(
        F.sequence(F.lit(1),
                   F.greatest(F.size("_w") - F.lit(shingle_n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice("_w", i, shingle_n), " "))
    return (docs.select(F.col(id_col).alias("_id"), words.alias("_w"))
                .select("_id", F.posexplode(sh).alias("pos", "shingle")))


def minhash_near_duplicates(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n_hashes: int = 8,
                            bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """MinHash + LSH banding: docs sharing any band of the signature land
    in one bucket; buckets with >1 doc are near-duplicate candidates.
    Returns (band, band_hash, n_docs, keep_id).

    Shaped as ONE map-side-combining ``groupBy(_id)`` over the shingle
    rows computing all ``n_hashes`` per-seed mins as columns (an earlier
    formulation exploded a seed column first — ``n_hashes``× the shuffle
    rows and an extra (doc, seed) shuffle plus a collect_list band pass,
    for no semantic difference); the only other shuffle is the tiny
    bucket groupBy. For seed s the hash is ``md5(s || '#' || shingle)``:
    an ANSI-SQL oracle reproduces the signature bit-for-bit."""
    return (minhash_band_signatures(docs, text_col, id_col, n_hashes,
                                    bands, shingle_n)
            .groupBy("band", "band_hash")
            .agg(F.count("*").alias("n_docs"), F.min("_id").alias("keep_id"))
            .filter(F.col("n_docs") > 1))


def minhash_band_signatures(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n_hashes: int = 8,
                            bands: int = 4,
                            shingle_n: int = 3) -> DataFrame:
    """(_id, _th, band, band_hash) LSH band signatures — the shared
    feed for batch bucketing (:func:`minhash_near_duplicates`) and the
    incremental index (:func:`minhash_index` /
    :func:`near_dup_against_index`). One map-side-combining groupBy over
    the shingle rows; band hashing is a pure projection.

    One signature set per distinct (id, content) — ``_th`` is the
    null-safe content hash. Signing per id alone would fold the
    shingles of an id repeated with different payloads into ONE merged
    signature that matches neither document (missing true near-dups of
    both and poisoning the bucket index); on unique-id corpora the two
    keyings sign identically."""
    rows_per_band = n_hashes // bands
    keyed = docs.select(
        F.struct(F.col(id_col).alias("i"),
                 _nullsafe_text_hash(text_col).alias("h")).alias("_k"),
        F.col(text_col).alias("_t"))
    sh = shingle_rows(keyed, "_t", "_k", shingle_n)
    mins = [F.min(F.md5(F.concat(F.lit(f"{s}#"), F.col("shingle"))))
             .alias(f"_m{s}") for s in range(1, n_hashes + 1)]
    sig = sh.groupBy("_id").agg(*mins)
    bnds = [F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[
                    F.col(f"_m{b * rows_per_band + r + 1}")
                    for r in range(rows_per_band)])).alias("band_hash"))
            for b in range(bands)]
    return (sig.select("_id", F.explode(F.array(*bnds)).alias("bb"))
               .select(F.col("_id.i").alias("_id"),
                       F.col("_id.h").alias("_th"),
                       "bb.band", "bb.band_hash"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.5,
                        max_shingles_per_doc: int = 200,
                        max_docs_per_shingle: int = 100) -> DataFrame:
    """n-gram Jaccard over candidate pairs discovered via shared shingles
    (inverted-index join, never a cross join). Returns (id_a, id_b,
    jaccard).

    Two caps bound the candidate space at scale: ``max_shingles_per_doc``
    truncates giant documents, and ``max_docs_per_shingle`` drops
    stop-shingles whose document frequency exceeds the cap *before* the
    self-join — without it, one shingle shared by 10⁶ docs materializes
    10¹² candidate pairs. Jaccard is computed over the filtered shingle
    vocabulary (set sizes recomputed post-filter), the standard
    stop-shingle treatment: a shingle in >cap docs carries ~no similarity
    signal but dominates join cost.

    A size-ratio prefilter (the standard length-filter bound from
    set-similarity joins: ``jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|)``,
    so ``jaccard ≥ t`` requires ``min ≥ t·max``) discards candidate rows
    right after the inverted-index join, BEFORE the per-pair groupBy —
    pairs it drops provably cannot reach the threshold, so output is
    unchanged while the pair-counting shuffle shrinks (dramatically for
    high thresholds over size-diverse corpora).

    ``id_col`` IS the document identity: rows sharing an id contribute
    to ONE shingle set (an id repeated with different payloads compares
    as their union), and null-id docs never pair (``id_a < id_b`` has
    no ordering for null). Key by a composite orderable value upstream
    when ids may repeat or be null — pair outputs are ids, so the
    identity must be meaningful to the caller."""
    sh = (shingle_rows(docs, text_col, id_col, shingle_n)
          .filter(F.col("pos") < max_shingles_per_doc)
          .select("_id", "shingle").distinct())
    rare = (sh.groupBy("shingle").agg(F.count("*").alias("_df"))
              .filter(F.col("_df") <= max_docs_per_shingle)
              .select("shingle"))
    sh = sh.join(rare, "shingle")
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    posts = sh.join(sizes, "_id")
    a = posts.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"),
                     "shingle")
    b = posts.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"),
                     "shingle")
    inter = (a.join(b, "shingle")
              .filter(F.col("id_a") < F.col("id_b"))
              .filter(F.least("n_a", "n_b")
                      >= threshold * F.greatest("n_a", "n_b"))
              .groupBy("id_a", "id_b", "n_a", "n_b")
              .agg(F.count("*").alias("n_common")))
    jac = (F.col("n_common")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    return (inter.withColumn("jaccard", jac)
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))


def dedup_decisions(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", shingle_n: int = 3,
                    threshold: float = 0.5,
                    max_shingles_per_doc: int = 200,
                    max_docs_per_shingle: int = 100,
                    near_pairs: DataFrame | None = None) -> DataFrame:
    """Composed dedup policy — the keep/drop list a training pipeline
    actually applies. Per doc: ``drop_exact`` when its content hash has
    an earlier (min-id) occurrence; else ``drop_near`` when it is the
    higher id of any verified near-dup pair
    (:func:`ngram_jaccard_pairs` at ``threshold``); else ``keep``.
    Pairwise (non-transitive) rule: deterministic, order-free, and
    replayable in ANSI SQL — no union-find / iterative clustering.
    Returns (id, decision).

    The NEAR leg treats ``id_col`` as the document identity (see
    :func:`ngram_jaccard_pairs`): it requires unique ids and never
    marks null-id docs drop_near (``id_a < id_b`` has no ordering for
    them — they can still be drop_exact). Policy decisions keyed by an
    id only make sense when the id names one document; de-duplicate or
    synthesize ids upstream when they may repeat."""
    # exact-dup flag via one window over the content hash: a single
    # shuffle on _h and ONE scan of docs (the earlier groupBy + self-join
    # formulation scanned docs twice — md5 over the full corpus twice —
    # and added a join exchange for the same answer)
    from pyspark.sql import Window
    wh = Window.partitionBy("_h")
    h = docs.select(F.col(id_col),
                    _nullsafe_text_hash(text_col).alias("_h"))
    # null-safe keeper compare: a null-id duplicate of a real-id doc
    # must be drop_exact (plain != yields NULL -> never flags); all-null
    # owner groups elect a null keeper, so null-id docs sharing content
    # behave as one doc (the family-wide convention)
    ex = h.select(id_col,
                  ((F.count("*").over(wh) > 1)
                   & ~F.col(id_col).eqNullSafe(F.min(id_col).over(wh)))
                  .alias("_ex"))
    # near_pairs lets a caller reuse an already-materialized pair feed
    # (the expensive step) across several consumers; must be the output
    # of ngram_jaccard_pairs at compatible parameters
    if near_pairs is None:
        near_pairs = ngram_jaccard_pairs(docs, text_col, id_col, shingle_n,
                                         threshold, max_shingles_per_doc,
                                         max_docs_per_shingle)
    near = (near_pairs
            .select(F.col("id_b").alias(id_col)).distinct()
            .withColumn("_nr", F.lit(True)))
    decision = (F.when(F.col("_ex"), F.lit("drop_exact"))
                 .when(F.coalesce(F.col("_nr"), F.lit(False)),
                       F.lit("drop_near"))
                 .otherwise(F.lit("keep")))
    return (ex.join(near, id_col, "left")
              .select(id_col, decision.alias("decision")))


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       out_col: str = "simhash") -> DataFrame:
    """Narrow ``(id_col, out_col)`` 60-bit SimHash table: each token's
    md5 prefix (15 hex chars → below 2^60, exact in bigint) is a bit
    lattice; majority-vote each bit. Shaped as one explode_outer → one
    hash-aggregate with 60 vectorized bit-vote sums (an earlier nested
    higher-order-function formulation ran ~50× slower — interpreted
    lambda aggregates, no codegen). ``explode_outer`` keeps token-less
    docs as a single null-token row so every doc appears in the
    aggregate (simhash 0) WITHOUT a join back to the input — callers
    that only need signatures (e.g. a dedup key) skip that shuffle and
    the second full-table scan entirely."""
    norm = normalized_text(F.col(text_col))
    words = F.array_remove(F.split(norm, " "), "")
    toks = (df.select(F.col(id_col), F.explode_outer(words).alias("_w"))
              .withColumn("_h", F.conv(F.substring(F.md5("_w"), 1, 15), 16, 10)
                                  .cast("bigint")))
    votes = [F.sum(F.when(F.col("_w").isNull(), 0)
                    .when(F.shiftright("_h", b).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)).alias(f"_b{b}")
             for b in range(60)]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = sum(F.shiftleft(F.when(F.col(f"_b{b}") > 0, 1).otherwise(0)
                          .cast("bigint"), b)
              for b in range(60))
    return agg.select(F.col(id_col), sim.alias(out_col))


def plane_sign_table(n_planes: int, dim: int) -> list[list[int]]:
    """±1 Rademacher components for plane j at dimension d, derived from
    ``md5(f"{j}#{d}")`` first-byte parity — the exact formula the DuckDB
    oracles replay in SQL (``('0x' || substr(md5(j || '#' || d), 1, 2))::INT
    % 2``), computed once driver-side and shipped as plan constants."""
    import hashlib
    return [[1 if int(hashlib.md5(f"{j}#{d}".encode()).hexdigest()[:2],
                      16) % 2 == 1 else -1
             for d in range(dim)]
            for j in range(n_planes)]


def hyperplane_signatures(embs: DataFrame, vec_col: str = "embedding",
                          id_col: str = "vec_id", n_planes: int = 16,
                          bands: int = 4, dim: int | None = None,
                          carry: "list[tuple] | None" = None) -> DataFrame:
    """Sign-random-projection LSH signatures: (_id, band, band_key) rows.

    Plane ``j``'s component at dimension ``d`` is ±1 derived from
    ``md5(j '#' d)`` — a Rademacher projection, the same LSH family for
    cosine as Gaussian hyperplanes (Charikar's SimHash scheme), so vectors
    at angle θ share a sign bit with probability 1 − θ/π and near-parallel
    vectors collide in a band with high probability. Vector elements are
    quantized to ``round(v·1e6)`` so each projection is an exact *integer*
    sum: order-independent, hence bit-replayable by an ANSI-SQL oracle.

    Shape: a PURE PROJECTION — each projection is a ``zip_with`` of the
    quantized vector against the plane's constant ±1 array folded by
    ``aggregate``, so the signature step has NO shuffle at all (the only
    shuffle in the whole LSH path is the tiny band-bucket groupBy
    downstream). An earlier formulation exploded to (n·dim) rows and
    hash-aggregated ``n_planes`` conditional sums: same bits, but it
    shuffled n·dim rows and its generated code (16 sums × a 64-element
    literal lookup each) paid a ~5s first-invocation JIT compile at
    bench scale; the HOF fold is interpreted per element but steady
    (measured 1.6s vs 7.0s cold / equal warm), and interpreted cost is
    per-vector work that scales embarrassingly parallel.

    The ±1 components depend only on (plane, dimension), so they are
    materialized driver-side (hashlib md5 ≡ Spark/DuckDB md5 on the same
    string) and enter the plan as constant arrays.
    """
    rows_per_band = n_planes // bands
    assert rows_per_band * bands == n_planes, "bands must divide n_planes"

    if dim is None:
        # vectors in one table share a dimension; a LIMIT-1 probe costs one
        # row at any scale (pass dim explicitly to skip even that)
        row = embs.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = (row and row[0]) or 0
    signs = plane_sign_table(n_planes, dim)

    # A nonuniform table fails LOUDLY at execution: a mis-sized vector
    # would otherwise project to NULL, and the band-bit `otherwise('0')`
    # would encode it as a valid-looking all-zero key — a silent mis-hash
    # that escapes near-dup detection. The guard is woven into the used
    # expression (not a standalone assert column, which column pruning
    # would eliminate).
    checked = F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)) \
               .otherwise(F.raise_error(F.concat(
                   F.lit(f"hyperplane_signatures: vector dimension != {dim}"
                         " for id "),
                   F.col(id_col).cast("string"))))
    qvec = F.transform(checked,
                       lambda x: F.round(x.cast("double") * 1e6)
                                  .cast("bigint"))
    carry = carry or []
    carry_names = [name for name, _ in carry]
    base = embs.select(F.col(id_col).alias("_id"), qvec.alias("_q"),
                       *[col.alias(name) for name, col in carry])

    def proj(j: int):
        arr = F.array(*[F.lit(s) for s in signs[j]])
        return F.aggregate(F.zip_with("_q", arr, lambda x, y: x * y),
                           F.lit(0).cast("bigint"), lambda a, v: a + v)

    agg = base.select("_id", *carry_names,
                      *[proj(j).alias(f"_p{j}") for j in range(n_planes)])
    band_structs = []
    for b in range(bands):
        bits = F.concat(*[
            F.when(F.col(f"_p{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(b * rows_per_band, (b + 1) * rows_per_band)])
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(F.lit(f"{b}#"), bits)).alias("band_key")))
    return (agg.select("_id", *carry_names,
                       F.explode(F.array(*band_structs)).alias("_bk"))
               .select("_id", *carry_names,
                       F.col("_bk.band").alias("band"),
                       F.col("_bk.band_key").alias("band_key")))


def embedding_near_duplicates(embs: DataFrame, vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.95,
                              n_planes: int = 0,
                              bands: int = 4,
                              max_bucket_size: int = 10_000,
                              max_brute_rows: int | None = 100_000)\
        -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a, id_b, cosine).

    With ``n_planes > 0`` candidates come from banded random-hyperplane
    LSH (:func:`hyperplane_signatures`): only pairs sharing a band bucket
    are scored, so the pair space is bounded by bucket sizes — the 100-TB
    path. ``n_planes = 0`` is the exact brute-force crossJoin baseline for
    small data / verification. Both paths apply the exact cosine filter,
    so LSH output ⊆ brute output (recall governed by n_planes/bands).

    ``max_bucket_size`` caps the LSH band buckets, mirroring the
    stop-shingle ``max_docs_per_shingle`` cap in
    :func:`ngram_jaccard_pairs`: a degenerate band key (e.g. many
    near-zero vectors sharing one sign pattern) would otherwise
    ``collect_list`` an unbounded array on a single row — one hot key at
    100 TB is a single-task OOM. Buckets above the cap are dropped: a
    band shared by >cap vectors carries ~no locality signal (any genuine
    near-dup pair inside it still has ``bands - 1`` other chances to
    collide in a non-degenerate bucket). Pass ``None`` to disable.

    ``max_brute_rows`` guards the brute path only: the crossJoin is
    O(n²) by construction — correct as a recall baseline, catastrophic
    if pointed at production-scale data — so with ``n_planes = 0`` the
    input is counted first and anything above the cap raises
    ``ValueError`` (telling the caller to use the LSH path). ``None``
    disables the guard (you are asserting the input is small)."""
    from . import veccand
    from .similarity import dot_expr, norm_expr
    # norm computed ONCE per vector before the pair join (per-pair norm
    # recomputation tripled the work at bench scale)
    e = embs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                    norm_expr(F.col(vec_col)).alias("_norm"))
    if n_planes > 0:
        # vectors ride INTO the band buckets (carry) so the per-bucket
        # pairwise scoring runs as one NumPy matmul per bucket instead
        # of |bucket|² interpreted lambda folds; only the margin-safe
        # SURVIVORS (veccand contract: provable candidate superset,
        # degenerate rows force-paired) reach the distinct + exact
        # re-score, so the shuffle after the buckets carries ~output
        # rows, not all colliding pairs (guide §2.3/§4.2).
        sig = hyperplane_signatures(embs, vec_col, id_col, n_planes,
                                    bands, carry=[("_v", F.col(vec_col))])
        # bucket-size prefilter BEFORE collect_list: a window count over
        # the same keys shares the groupBy's hash partitioning (one
        # shuffle total, no extra exchange), and rows of an over-cap
        # bucket are dropped before any array is built — the giant
        # single-row array never materializes, not even transiently.
        from pyspark.sql import Window
        nbkt = F.count("*").over(Window.partitionBy("band", "band_key"))
        keep = F.col("_n") > 1
        if max_bucket_size is not None:
            keep = keep & (F.col("_n") <= max_bucket_size)
        # NULL ids never paired (collect_list dropped them); the window
        # count above still sees them, exactly as before
        buckets = (sig.withColumn("_n", nbkt).filter(keep)
                      .filter(F.col("_id").isNotNull())
                      .groupBy("band", "band_key")
                      .agg(F.collect_list(F.struct("_id", "_v"))
                            .alias("items")))
        cand = veccand.bucket_pair_candidates(
            buckets, threshold).distinct()
        pairs = veccand.attach_pair_vectors(cand, e)
    else:
        if max_brute_rows is not None:
            # bounded input (the guard counts it): score all pairs as
            # distributed float64 BLAS blocks over a broadcast matrix,
            # then exact-rescore the margin survivors — same contract
            # as the bucket path. Falls back to the legacy crossJoin
            # when equivalence can't be guaranteed (ragged vectors,
            # unorderable ids).
            cand = veccand.brute_pair_candidates(e, threshold,
                                                 max_brute_rows)
        else:
            cand = None   # unbounded input asserted small: legacy path
        if cand is not None:
            pairs = veccand.attach_pair_vectors(cand, e)
        else:
            a = e.select(F.col("_id").alias("id_a"),
                         F.col("_v").alias("va"),
                         F.col("_norm").alias("na"))
            b = e.select(F.col("_id").alias("id_b"),
                         F.col("_v").alias("vb"),
                         F.col("_norm").alias("nb"))
            pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    # one dot product per pair; norms carried from the join inputs
    pairs = pairs.withColumn("cosine",
                             dot_expr(F.col("va"), F.col("vb"))
                             / (F.col("na") * F.col("nb")))
    return (pairs.filter(F.col("cosine") >= threshold)
                 .select("id_a", "id_b", "cosine"))


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", out_id: str = "doc_id",
                       max_iter: int = 25,
                       driver_threshold: int = 1_000_000) -> DataFrame:
    """Transitive duplicate clustering: connected components over an
    undirected near-dup pair graph. Returns one row per node that appears
    in any pair: ``(out_id, cluster_id)`` with ``cluster_id`` = the
    minimum node id in the component (the canonical/keep document).

    This is the step pairwise keep-lists (:func:`dedup_decisions`) skip:
    with pairs a~b and b~c but not a~c, pairwise dropping keeps a and c
    (both survive their own pairs) even though all three are one
    duplicate family. Cluster-canonical selection keeps exactly one doc
    per family.

    Scale shape: iterative min-label propagation fused with pointer
    jumping — per round, (1) every node takes the min label over its
    neighbors (one shuffle join edges⋈labels + hash aggregate), then (2)
    follows its label's own label one hop (one self-join), which doubles
    the propagation distance per round, so rounds are O(log diameter)
    rather than O(diameter). LSH/Jaccard dup graphs have tiny components,
    so this converges in 2-3 rounds; the label table is `localCheckpoint`ed
    each round to truncate lineage (an un-checkpointed iterative plan
    re-executes all prior rounds every action). Labels only decrease and
    are bounded below by the component min, and a fixed point forces
    equal labels across every edge, so the changed-row convergence test
    is exact, never heuristic. For adversarially long path graphs at
    extreme scale the alternating large-star/small-star formulation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) bounds round count the same way; the pointer-jumping step
    here is the same doubling idea with one fewer join per round.
    """
    # materialize the pair list BEFORE symmetrizing: both union branches
    # reference it, and Spark executes the (expensive — LSH/Jaccard
    # candidate generation) subtree once per reference; persist + the
    # count below make it once total (persist rather than localCheckpoint:
    # the RDD-checkpoint path showed a long-session performance anomaly —
    # see BENCH/DELTAS.md; the checkpoints in the iterative rounds below
    # stay, since lineage truncation is their whole point).
    # Pair lists are tiny relative to the corpus.
    e = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
              .persist())
    try:
        return _duplicate_clusters_impl(e, out_id, max_iter,
                                        driver_threshold)
    finally:
        # both return paths are lineage-independent of `e` by the time
        # they return (driver path: collected rows; distributed path:
        # localCheckpointed edges/labels), so the cache can be released
        # eagerly — repeated calls in a long session must not accumulate
        # blocks in the memory store
        e.unpersist()


def _duplicate_clusters_impl(e: DataFrame, out_id: str, max_iter: int,
                             driver_threshold: int) -> DataFrame:
    # SIZE-GATED strategy: the checkpointed edge count is already known,
    # so when the pair graph is small (≤ driver_threshold edges ≈ tens of
    # MB) the exact union-find runs driver-side in one pass — the
    # distributed rounds below cost 6-8 fixed-overhead stages PER ROUND
    # regardless of data size, which dwarfs microseconds of union-find.
    # Big graphs (a duplicate-heavy corpus can produce them) take the
    # distributed path; the two paths are equality-tested on random
    # graphs (tests/test_operators.py::TestDuplicateClusters).
    n_edges = e.count()
    if n_edges <= driver_threshold:
        spark = e.sparkSession
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:      # path compression
                parent[x], x = r, parent[x]
            return r

        for row in e.collect():
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root IS the canonical label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # follow the caller's id type
        node_t = e.schema["src"].dataType.simpleString()
        return _local_frame(spark, [(n, find(n)) for n in parent],
                            f"`{out_id}` {node_t}, cluster_id {node_t}")

    # pre-partitioned on dst, the key every round's neighbor join probes,
    # so only the (much smaller) label table shuffles per round
    edges = (e.union(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))
              .distinct().repartition("dst").localCheckpoint())
    labels = (edges.groupBy("src").agg(F.min("dst").alias("_m"))
                   .select("src", F.least("src", "_m").alias("lbl"))
                   .localCheckpoint())
    for _ in range(max_iter):
        # (1) min label over neighbors; prev label carried through so the
        # convergence test is a scan of the checkpointed round output, not
        # a join + recompute
        nb = (edges.join(labels.select(F.col("src").alias("dst"),
                                       F.col("lbl").alias("dlbl")), "dst")
                   .groupBy("src").agg(F.min("dlbl").alias("nlbl")))
        cand = (labels.join(nb, "src", "left")
                      .select("src", F.col("lbl").alias("prev"),
                              F.least(F.col("lbl"),
                                      F.coalesce("nlbl", "lbl")).alias("lbl")))
        # (2) pointer jumping: lbl <- label(lbl) (labels are node ids, so
        # every label has its own row); doubles reach per round
        ptr = cand.select(F.col("src").alias("lbl"),
                          F.col("lbl").alias("plbl"))
        new = (cand.join(ptr, "lbl", "left")
                   .select("src", "prev",
                           F.least(F.col("lbl"),
                                   F.coalesce("plbl", "lbl")).alias("lbl"))
                   .localCheckpoint())
        changed = new.filter(F.col("lbl") != F.col("prev")).count()
        labels = new.select("src", "lbl")
        if changed == 0:
            break
    return labels.select(F.col("src").alias(out_id),
                         F.col("lbl").alias("cluster_id"))


def contamination_report(train: DataFrame, evalset: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         shingle_n: int = 3,
                         threshold: float = 0.5,
                         train_shingles: DataFrame | None = None,
                         eval_shingles: DataFrame | None = None
                         ) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct word n-grams that also occur anywhere in the evaluation
    set. Returns (id, n_shingles, n_overlap, overlap_ratio, contaminated)
    for documents with any overlap.

    Scale shape: the eval shingle vocabulary is small by construction
    (benchmarks are tiny next to a training corpus), so it broadcasts —
    the training shingles take ONE distinct-shuffle and one broadcast
    join + hash aggregate; the corpus is never reshuffled against itself.

    ``train_shingles`` / ``eval_shingles`` accept a precomputed
    (possibly persisted) distinct shingle feed — (_id, shingle) /
    (shingle,) — so a pipeline running several decontamination flavors
    (this, the Bloom twin, fuzzy) materializes the explode+distinct
    once and fans out instead of recomputing it per report."""
    ev = ((eval_shingles if eval_shingles is not None else
           shingle_rows(evalset, text_col, id_col, shingle_n)
           .select("shingle").distinct())
          .withColumn("_hit", F.lit(1)))
    tr = (train_shingles if train_shingles is not None else
          shingle_rows(train, text_col, id_col, shingle_n)
          .select("_id", "shingle").distinct())
    hits = tr.join(F.broadcast(ev), "shingle", "left")
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return (hits.groupBy("_id")
                .agg(F.count("*").alias("n_shingles"),
                     F.count("_hit").alias("n_overlap"))
                .filter(F.col("n_overlap") > 0)
                .select(F.col("_id").alias(id_col), "n_shingles", "n_overlap",
                        F.round(ratio, 6).alias("overlap_ratio"),
                        (ratio >= threshold).alias("contaminated")))


def fuzzy_contamination(train: DataFrame, evalset: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_hashes: int = 8, bands: int = 4,
                        shingle_n: int = 3, threshold: float = 0.5,
                        verify: bool = True) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: training documents that
    are MinHash-LSH candidates of any evaluation document, optionally
    verified with the exact cross-corpus n-gram Jaccard. Returns
    (``id_col``, eval_id, n_train_shingles, n_eval_shingles, n_overlap,
    jaccard) — the count columns and jaccard are null when
    ``verify=False`` (candidates only).

    :func:`contamination_report` catches verbatim n-gram overlap; a
    paraphrased or lightly-edited eval item (reworded prompt, renamed
    variables, shifted whitespace) shares few exact shingles in
    aggregate ratio yet is still leakage. This is the fuzzy twin: both
    corpora are banded with the SAME signature machinery as
    :func:`minhash_near_duplicates` (bit-identical hashes, so a doc
    contaminates iff it would bucket with the eval doc in a single
    joint corpus), candidates come from a band-bucket join, and the
    expensive exact Jaccard runs only on candidate pairs.

    Scale shape: the eval side is small by construction (benchmarks vs
    a training corpus), so its band signatures and shingle sets
    broadcast; the training corpus is never self-joined and never
    reshuffled — one signature aggregate + one broadcast band join,
    then verification bounded by the candidate count. With default
    8 hashes / 4 bands, P[candidate] = 1-(1-s^2)^4 ≈ 0.78 at s=0.5 and
    ≥0.96 at s=0.7 — raise ``n_hashes``/``bands`` for a sharper gate
    (the eval side stays broadcast-sized).
    """
    sig_tr = minhash_band_signatures(train, text_col, id_col,
                                     n_hashes, bands, shingle_n)
    sig_ev = (minhash_band_signatures(evalset, text_col, id_col,
                                      n_hashes, bands, shingle_n)
              .select("band", "band_hash",
                      F.col("_id").alias("eval_id")))
    cand = (sig_tr.join(F.broadcast(sig_ev), ["band", "band_hash"])
                  .select("_id", "eval_id").distinct())
    if not verify:
        nul = F.lit(None).cast("bigint")
        return cand.select(F.col("_id").alias(id_col), "eval_id",
                           nul.alias("n_train_shingles"),
                           nul.alias("n_eval_shingles"),
                           nul.alias("n_overlap"),
                           F.lit(None).cast("double").alias("jaccard"))

    # exact cross-corpus Jaccard on candidate pairs only: distinct
    # shingle sets per side, intersection via one broadcast equi-join
    # on the shingle, sizes rejoined (eval sizes broadcast)
    tr_sh = (shingle_rows(train.join(cand.select("_id").distinct()
                                         .withColumnRenamed("_id", id_col),
                                     id_col, "semi"),
                          text_col, id_col, shingle_n)
             .select("_id", "shingle").distinct())
    ev_sh = (shingle_rows(evalset, text_col, id_col, shingle_n)
             .select(F.col("_id").alias("eval_id"), "shingle").distinct())
    inter = (tr_sh.join(F.broadcast(ev_sh), "shingle")
                  .groupBy("_id", "eval_id")
                  .agg(F.count("*").alias("_n_inter"))
                  .join(cand, ["_id", "eval_id"], "semi"))
    tr_sz = tr_sh.groupBy("_id").agg(F.count("*").alias("_n_tr"))
    ev_sz = ev_sh.groupBy("eval_id").agg(F.count("*").alias("_n_ev"))
    jac = F.col("_n_inter") / (F.col("_n_tr") + F.col("_n_ev")
                               - F.col("_n_inter"))
    return (inter.join(tr_sz, "_id").join(F.broadcast(ev_sz), "eval_id")
                 .filter(jac >= threshold)
                 .select(F.col("_id").alias(id_col), "eval_id",
                         F.col("_n_tr").alias("n_train_shingles"),
                         F.col("_n_ev").alias("n_eval_shingles"),
                         F.col("_n_inter").alias("n_overlap"),
                         F.round(jac, 6).alias("jaccard")))


def line_ownership(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """Internal feed for corpus-level line dedup: one row per (doc,
    line position) with the line's corpus ownership — ``_ndocs`` =
    number of distinct documents containing this exact line, ``_keeper``
    = the lowest document id among them. Empty lines are never dup
    candidates (``_ndocs``/``_keeper`` null): deduplicating blank
    separators would silently reflow every document.

    ``sep`` sets the unit granularity: the default ``"\\n"`` dedups
    lines; ``"\\n\\n"`` dedups paragraphs (the Gopher/MassiveText
    boilerplate granularity — repeated nav bars, footers, license
    blocks). ``sep`` is treated as a literal string, not a regex.

    Shape at scale: explode to one row per line (bounded by text
    volume), then ownership annotated by ONE window pass partitioned on
    the line's md5 — same single-subtree reshape as
    :func:`duplicate_window_ownership` (the old distinct + aggregate +
    join-back evaluated the explode subtree twice and paid an extra
    shuffle).
    """
    from pyspark.sql import Window
    keyed = _keyed_lines(docs, text_col, id_col, sep)
    w = Window.partitionBy("_h")
    has_h = F.col("_h").isNotNull()
    # masked so the single null-hash partition (one row per empty line)
    # never accumulates collect_set state
    masked_id = F.when(has_h, F.col("_id"))
    keeper = F.min(masked_id).over(w)
    ndocs = (F.size(F.collect_set(masked_id).over(w)).cast("long")
             + F.max(F.when(has_h & F.col("_id").isNull(), 1)
                      .otherwise(0)).over(w).cast("long"))
    return keyed.select(
        "_id", "pos", "line",
        F.when(has_h, keeper).alias("_keeper"),
        F.when(has_h, ndocs).alias("_ndocs"))


def _keyed_lines(docs: DataFrame, text_col: str, id_col: str,
                 sep: str) -> DataFrame:
    """One row per (doc, line position): (_id, pos, line, _h) with
    ``_h`` the line's md5, null for empty lines (never dup candidates —
    deduplicating blank separators would reflow every document). The
    split stage shared by the batch and incremental line-dedup family;
    ``sep`` is stamped into the ``pos`` schema metadata for the
    consumer-side granularity check."""
    import re as _re
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col),
                             _re.escape(sep))).alias("pos", "line"))
    # record the split granularity in the schema so consumers that take
    # a precomputed ownership frame can verify their sep matches (a
    # mismatch would silently reassemble with the wrong separator)
    lines = lines.withMetadata("pos", {"sep": sep})
    return lines.withColumn(
        "_h", F.when(F.col("line") != "", F.md5("line")))


def _checked_ownership(ownership: DataFrame, sep: str) -> DataFrame:
    """Assert a precomputed :func:`line_ownership` frame was split with
    the same separator the consumer will reassemble with — reading the
    granularity stamped into the ``pos`` column's schema metadata (no
    job). A mismatch (e.g. paragraph-split ownership fed to a
    newline-joining drop_duplicate_lines) would silently corrupt every
    reassembled document."""
    meta = ownership.schema["pos"].metadata or {}
    stamped = meta.get("sep")
    if stamped is not None and stamped != sep:
        raise ValueError(
            f"ownership frame was built with sep={stamped!r} but the "
            f"consumer was called with sep={sep!r}; pass matching sep= "
            f"to both, or rebuild the ownership frame")
    return ownership


def line_dedup_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     ownership: DataFrame | None = None,
                     sep: str = "\n") -> DataFrame:
    """Per-doc corpus-level duplicate-line profile (the C4 line-dedup
    signal — Raffel et al. 2020 §2.2 discard duplicate lines across the
    corpus; distinct from :func:`~log2seq_spark.operators.textstats.\
repetition_stats`'s WITHIN-doc ``dup_line_ratio``). Returns
    (``id_col``, n_lines, n_corpus_dup_lines): how many of this doc's
    non-empty lines also appear verbatim in at least one OTHER doc.

    ``ownership`` shares one (possibly persisted)
    :func:`line_ownership` subtree with :func:`drop_duplicate_lines`."""
    own = (_checked_ownership(ownership, sep) if ownership is not None
           else line_ownership(docs, text_col, id_col, sep))
    return (own.groupBy("_id")
               .agg(F.count("*").alias("n_lines"),
                    F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
                     .alias("n_corpus_dup_lines"))
               .withColumnRenamed("_id", id_col))


def line_dedup_profile(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       ownership: DataFrame | None = None,
                       sep: str = "\n") -> DataFrame:
    """:func:`line_dedup_stats` + :func:`drop_duplicate_lines`'s
    ``clean_text`` in ONE aggregate over the ownership feed — equal to
    the two-operator inner join on ``id_col`` for every doc that emits
    at least one line row (any non-NULL text; NULL-text docs have no
    ownership rows, and the composite's inner join dropped them via
    the missing stats row anyway). The composite paid a second
    aggregation pass over the (corpus-line-sized) ownership feed plus
    two joins; here stats and the kept-line reassembly ride one
    groupBy — collect_list skips the NULL the keep-condition CASE
    leaves on removed lines."""
    own = (_checked_ownership(ownership, sep) if ownership is not None
           else line_ownership(docs, text_col, id_col, sep))
    keep = (F.col("_ndocs").isNull()
            | (F.col("_ndocs") == 1)
            | (F.col("_id") == F.col("_keeper")))
    return (own.groupBy("_id")
               .agg(F.count("*").alias("n_lines"),
                    F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0))
                     .alias("n_corpus_dup_lines"),
                    F.array_sort(F.collect_list(
                        F.when(keep, F.struct("pos", "line"))))
                     .alias("_arr"))
               .select(F.col("_id").alias(id_col), "n_lines",
                       "n_corpus_dup_lines",
                       F.concat_ws(sep, F.col("_arr.line"))
                        .alias("clean_text")))


def drop_duplicate_lines(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         ownership: DataFrame | None = None,
                         sep: str = "\n") -> DataFrame:
    """C4-style corpus-level line deduplication: a non-empty line that
    occurs verbatim in more than one document is kept ONLY in the
    lowest-id document (deterministic first-occurrence rule — order-free
    and replayable in ANSI SQL); every other occurrence is removed.
    Empty lines always survive (see :func:`line_ownership`). Returns
    (``id_col``, clean_text) for EVERY input doc — a doc whose lines
    were all removed comes back with empty text, not silently dropped.

    ``id_col`` IS the document identity: rows sharing an id reassemble
    as ONE doc (their kept lines interleave by position). When ids may
    repeat with different payloads, key by a composite — any orderable
    value works, including a struct (:func:`~log2seq_spark.operators.\
corpus.clean_corpus` feeds ``struct(id-null-flag, id, content-hash)``).

    Reassembly is a per-doc sort of (position, line) structs collected
    from the kept rows — partitioned by doc id, no global sort."""
    own = (_checked_ownership(ownership, sep) if ownership is not None
           else line_ownership(docs, text_col, id_col, sep))
    kept = own.filter(F.col("_ndocs").isNull()
                      | (F.col("_ndocs") == 1)
                      | (F.col("_id") == F.col("_keeper")))
    return _reassembled_docs(docs, kept, id_col, sep)


def _reassembled_docs(docs: DataFrame, kept_lines: DataFrame,
                      id_col: str, sep: str) -> DataFrame:
    """Rebuild (``id_col``, clean_text) from surviving (_id, pos, line)
    rows — a per-doc sort of (position, line) structs, partitioned by
    doc id, no global sort. Every input doc returns a row: a doc whose
    lines were all removed comes back with empty text, not silently
    dropped. The join back to the doc roster is null-safe: a plain
    ``_id`` equi-join never matches a null key, which would blank the
    whole text of any null-id document (its kept lines group under the
    null key but the join discards them)."""
    clean = (kept_lines.groupBy("_id")
             .agg(F.array_sort(F.collect_list(
                 F.struct("pos", "line"))).alias("_arr"))
             .select(F.col("_id").alias("_cid"), F.concat_ws(
                 sep, F.col("_arr.line")).alias("clean_text")))
    return (docs.select(F.col(id_col).alias("_id")).distinct()
                .join(clean, F.col("_id").eqNullSafe(F.col("_cid")),
                      "left")
                .select(F.col("_id").alias(id_col),
                        F.coalesce("clean_text", F.lit(""))
                         .alias("clean_text")))


def duplicate_window_ownership(docs: DataFrame, k: int = 8,
                               text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """Internal feed for exact substring-span dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): one row
    per (doc, k-token window position) over :func:`normalized_text`
    tokens, annotated with corpus ownership of that window's content —
    ``_ndocs`` = distinct docs containing the same k-token run,
    ``_keeper`` = the lowest doc id among them. Docs shorter than ``k``
    tokens emit one null-window row (``pos``/``_h`` null) so they stay
    visible to per-doc consumers without a second join; full-doc dups of
    short docs are :func:`exact_duplicates`' job.

    Shape at scale: window hashes are built per-row with higher-order
    functions (no shuffle), exploded to ~n_tokens rows (bounded by text
    volume, same as any shingle pass), then ownership is annotated by
    ONE window pass partitioned on the 32-char hash — the earlier
    distinct + hash-aggregate + equi-join-back shape evaluated the
    tokenize/hash/explode subtree TWICE (once per join side) and paid
    a third shuffle for the join; the window computes the same
    (keeper, ndocs) with the subtree evaluated once (measured 6.9s →
    4.3s at 2.4M windows). No self-join, no pair explosion.
    """
    from pyspark.sql import Window
    toks = F.filter(F.split(normalized_text(F.col(text_col)), " "),
                    lambda t: t != "")
    base = docs.select(F.col(id_col).alias("_id"), toks.alias("_w"))
    hashes = F.transform(
        F.sequence(F.lit(1), F.size("_w") - F.lit(k - 1)),
        lambda i: F.md5(F.array_join(F.slice("_w", i, k), "\x1e")))
    # sequence(1, m) runs DESCENDING when m < 1 — guard short docs
    wins = F.when(F.size("_w") >= k, hashes) \
            .otherwise(F.array().cast("array<string>"))
    rows = base.select(
        "_id", F.size("_w").alias("n_toks"),
        F.posexplode_outer(wins).alias("pos", "_h"))
    w = Window.partitionBy("_h")
    has_h = F.col("_h").isNotNull()
    # inputs masked with has_h so the single null-hash partition (one
    # row per short doc) never accumulates state — collect_set over it
    # would otherwise hold every short-doc id in one task
    masked_id = F.when(has_h, F.col("_id"))
    keeper = F.min(masked_id).over(w)
    # distinct-doc count: collect_set drops nulls, so a null-id doc is
    # re-added via the max-flag term (the old distinct-then-count(*)
    # counted a null id as one distinct owner)
    ndocs = (F.size(F.collect_set(masked_id).over(w)).cast("long")
             + F.max(F.when(has_h & F.col("_id").isNull(), 1)
                      .otherwise(0)).over(w).cast("long"))
    return rows.select(
        "_id", "n_toks", "pos",
        F.when(has_h, keeper).alias("_keeper"),
        F.when(has_h, ndocs).alias("_ndocs"))


def _is_dup_window():
    """A window occurrence is removable when its content exists in more
    than one doc and this doc is not the designated keeper. Null-safe:
    a null-id doc sharing a window with a real-id keeper must read
    removable (plain != yields NULL -> never removable); all-null owner
    groups collapse to one distinct owner and stay _ndocs=1."""
    return ((F.col("_ndocs") > 1)
            & ~F.col("_id").eqNullSafe(F.col("_keeper")))


def _dup_span_fold(own: DataFrame, k: int):
    """Per-doc duplicate-window aggregate over a
    :func:`duplicate_window_ownership` frame plus the span merge over
    it: ``(per, fold)`` where ``per`` has (_id, n_toks, n_windows,
    n_dup_windows, _dp) with ``_dp`` the sorted removable-window
    positions, and ``fold`` is a struct Column over ``_dp`` whose
    ``spans`` / ``covered`` fields are the merged maximal span count
    and the token positions covered by removable windows.

    The merge is a single ``aggregate`` fold over the sorted position
    array (state = (spans, covered, prev_end)) — per-doc work bounded
    by doc length, no window-function shuffle beyond the one
    groupBy."""
    per = (own.groupBy("_id", "n_toks")
              .agg(F.count("pos").alias("n_windows"),
                   F.sum(F.when(_is_dup_window(), 1).otherwise(0))
                    .alias("n_dup_windows"),
                   F.array_sort(F.collect_list(
                       F.when(_is_dup_window(), F.col("pos")))).alias("_dp")))
    fold = F.aggregate(
        "_dp",
        F.struct(F.lit(0).cast("long").alias("spans"),
                 F.lit(0).cast("long").alias("covered"),
                 F.lit(-1).cast("long").alias("prev_end")),
        lambda acc, p: F.struct(
            (acc["spans"] + F.when(p > acc["prev_end"], 1).otherwise(0)
             ).alias("spans"),
            (acc["covered"] + F.when(p > acc["prev_end"], F.lit(k))
              .otherwise(p + F.lit(k - 1) - acc["prev_end"])).alias("covered"),
            F.greatest(acc["prev_end"], p + F.lit(k - 1)).alias("prev_end")))
    return per, fold


def duplicate_span_stats(docs: DataFrame, k: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         ownership: DataFrame | None = None) -> DataFrame:
    """Per-doc exact duplicate-substring profile: how much of each doc
    is covered by k-token runs that also appear verbatim in another
    (lower-id) document. Returns (``id_col``, n_toks, n_windows,
    n_dup_windows, n_spans, dup_tokens): ``n_spans`` = count of merged
    maximal duplicated spans, ``dup_tokens`` = token positions covered
    by at least one removable window (span merge: :func:`_dup_span_fold`).

    ``ownership`` lets a caller that also runs
    :func:`drop_duplicate_spans` share (e.g. persist) one
    :func:`duplicate_window_ownership` subtree instead of computing the
    window hashes twice."""
    own = (ownership if ownership is not None
           else duplicate_window_ownership(docs, k, text_col, id_col))
    per, fold = _dup_span_fold(own, k)
    return (per.select(F.col("_id").alias(id_col), "n_toks", "n_windows",
                       "n_dup_windows",
                       fold["spans"].alias("n_spans"),
                       fold["covered"].alias("dup_tokens")))


def duplicate_span_profile(docs: DataFrame, k: int = 8,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           ownership: DataFrame | None = None) -> DataFrame:
    """:func:`duplicate_span_stats` + :func:`drop_duplicate_spans`'s
    ``clean_text`` fused into ONE per-doc pass — the shape a caller that
    inner-joins the two on ``id_col`` gets, without the token-granularity
    join: equal by construction to
    ``duplicate_span_stats(...).join(drop_duplicate_spans(...), id_col)``
    for corpora with unique non-null ids (the only corpora that inner
    join is meaningful for). A null id fails the action with a
    ``duplicate_span_profile: null <id_col>`` error instead of the doc
    vanishing from the result.

    Why per-doc arrays beat the row shape (guide §2.3 "shuffle keys and
    metadata instead of payloads"): the composite path posexplodes every
    token of every doc to a row, shuffles ~corpus-token rows into a
    token-level anti join against the exploded covered positions, then
    collect_list/array_sorts them back into per-doc arrays. But every
    decision is per-doc once the ownership pass has run: this path
    aggregates only the (bounded) duplicated window POSITIONS per doc,
    joins that small per-doc row back to the doc's token array, and
    filters the array in place with ``array_except`` (which preserves
    left-operand order, so kept tokens stay in position order). Tokens
    never leave their doc's row. Measured 16s → 2s on a 2.8M-window
    corpus for identical output.
    """
    own = (ownership if ownership is not None
           else duplicate_window_ownership(docs, k, text_col, id_col))
    per, fold = _dup_span_fold(own, k)
    toks = F.filter(F.split(normalized_text(F.col(text_col)), " "),
                    lambda t: t != "")
    # a null id never equals itself, so the join below would drop the
    # doc without a word: fail the action instead. Woven into the
    # projected id (like hyperplane_signatures' dimension guard), so it
    # costs no extra job and column pruning cannot remove it
    tid = F.when(F.col(id_col).isNull(), F.raise_error(F.lit(
        f"duplicate_span_profile: null {id_col}; every doc needs an id"))
    ).otherwise(F.col(id_col))
    tok_arr = docs.select(tid.alias("_tid"), toks.alias("_w"))
    # covered token positions, expanded per dup window; array_except
    # both dedups repeats and preserves the ascending order of the
    # sequence() left operand, so the kept positions are the sorted
    # surviving indices — exactly what the composite's anti-join +
    # array_sort reassembly produced
    covered = F.flatten(F.transform(
        "_dp", lambda p: F.sequence(p, p + F.lit(k - 1))))
    all_pos = F.when(F.size("_w") > 0,
                     F.sequence(F.lit(0), F.size("_w") - 1)) \
               .otherwise(F.array().cast("array<int>"))
    kept = F.array_except(all_pos, covered)
    clean = F.concat_ws(" ", F.transform(
        kept, lambda i: F.element_at("_w", i + 1)))
    return (per.join(tok_arr, per["_id"] == tok_arr["_tid"])
               .select(F.col("_id").alias(id_col), "n_toks", "n_windows",
                       "n_dup_windows",
                       fold["spans"].alias("n_spans"),
                       fold["covered"].alias("dup_tokens"),
                       clean.alias("clean_text")))


def drop_duplicate_spans(docs: DataFrame, k: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         ownership: DataFrame | None = None) -> DataFrame:
    """Exact substring-span deduplication: remove every token covered by
    a removable duplicate window (see :func:`duplicate_window_ownership`
    — content kept intact in the lowest-id owner). Returns (``id_col``,
    clean_text) for EVERY input doc. clean_text is reassembled from the
    surviving NORMALIZED tokens (lowercased, punctuation stripped,
    single-space joined) — span dedup operates on the token stream, so
    original byte-level formatting is not preserved; use
    :func:`drop_duplicate_lines` for layout-preserving dedup."""
    own = (ownership if ownership is not None
           else duplicate_window_ownership(docs, k, text_col, id_col))
    covered = (own.filter(_is_dup_window())
                  .select(F.col("_id").alias("_cid"),
                          F.explode(F.sequence(
                      "pos", F.col("pos") + F.lit(k - 1))).alias("_cidx"))
                  .distinct())
    toks = F.filter(F.split(normalized_text(F.col(text_col)), " "),
                    lambda t: t != "")
    tok_rows = (docs.select(F.col(id_col).alias("_id"), toks.alias("_w"))
                    .select("_id", F.posexplode("_w").alias("idx", "tok")))
    # null-safe anti join: a plain _id key never matches the null key,
    # so a null-id doc's removable tokens would all survive
    kept = tok_rows.join(
        covered,
        F.col("_id").eqNullSafe(F.col("_cid"))
        & (F.col("idx") == F.col("_cidx")), "left_anti")
    clean = (kept.groupBy("_id")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("idx", "tok"))).alias("_arr"))
                 .select(F.col("_id").alias("_kid"), F.concat_ws(
                     " ", F.col("_arr.tok")).alias("clean_text")))
    # null-safe roster join (same reason as _reassembled_docs): a doc
    # whose id is null must come back with its text, not ''
    return (docs.select(F.col(id_col).alias("_id")).distinct()
                .join(clean, F.col("_id").eqNullSafe(F.col("_kid")),
                      "left")
                .select(F.col("_id").alias(id_col),
                        F.coalesce("clean_text", F.lit(""))
                         .alias("clean_text")))


def _nullsafe_text_hash(text_col: str):
    """md5 of the content with NULL mapped to a sentinel that no md5 hex
    digest can equal: batch ``exact_duplicates`` groups null texts
    together (groupBy treats NULL as a key), so the incremental index
    must too — a plain md5 would produce NULL hashes that equi-joins
    silently drop, letting null-content duplicates through."""
    return F.coalesce(F.md5(F.col(text_col)), F.lit(":null:"))


def exact_dedup_index(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Content-hash index for INCREMENTAL exact dedup: one row per
    distinct content, (text_hash, keep_id) with ``keep_id`` = the
    lowest doc id seen with that content (null content hashes to the
    ``:null:`` sentinel so it dedups like any other content, matching
    batch :func:`exact_duplicates` grouping). Persist/write this (e.g.
    parquet bucketed by text_hash) between ingestion batches; it grows
    with distinct content, not with corpus size. One hash-shuffle."""
    return (docs.select(_nullsafe_text_hash(text_col).alias("text_hash"),
                        F.col(id_col))
                .groupBy("text_hash")
                .agg(F.min(id_col).alias("keep_id")))


def _join_index(batch: DataFrame, idx: DataFrame, on: list, probe,
                index_bloom: dict | None) -> DataFrame:
    """``batch`` left-joined to the index rows ``idx`` on ``on``. With
    ``index_bloom`` (a sidecar over — or over a superset of — the
    index's ``probe`` values) only the rows that may be in the index
    enter the join; the rest take NULL for every ``idx`` column, which
    is what the join would have given them."""
    if index_bloom is None:
        return batch.join(idx, on, "left")
    from .bloom import with_might_contain
    # EAGER localCheckpoint, deliberately: (1) the batch is probed
    # exactly once (the hot/cold branches re-read the materialized rows
    # instead of re-running the batch plan + probe per branch), and (2)
    # it severs the logical lineage so Catalyst's
    # InferFiltersFromConstraints cannot copy the probe across the
    # equi-join onto the INDEX side — measured doing exactly that,
    # re-probing every index row for zero pruning (all members pass
    # their own filter). Bounded by the batch, which already fits by
    # assumption.
    flagged = with_might_contain(batch, probe, index_bloom,
                                 "_maybe").localCheckpoint()
    hot = flagged.where(F.col("_maybe")).drop("_maybe")
    cold = flagged.where(~F.col("_maybe")).drop("_maybe")
    for f in idx.schema.fields:
        if f.name not in on:
            cold = cold.withColumn(f.name, F.lit(None).cast(f.dataType))
    return hot.join(idx, on, "left").unionByName(cold)


def dedup_against_index(new_docs: DataFrame, index: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        index_bloom: dict | None = None) -> DataFrame:
    """Incremental exact dedup of a NEW ingestion batch against the
    historical :func:`exact_dedup_index` — the production shape for a
    continuously-growing corpus: the history is never re-scanned, only
    its (small) hash index is joined.

    Returns one row per distinct (``id_col``, content) in the batch:
    (``id_col``, text_hash, decision, keep_id) where decision is
    ``drop_seen`` (content already in the index), ``drop_batch``
    (duplicate within this batch, an earlier batch id keeps it), or
    ``keep``; ``keep_id`` is the retained owner and ``text_hash`` the
    null-safe content hash — carrying it lets consumers join decisions
    back to rows on (id, hash) without re-hashing and without the
    fan-out / null-drop pathologies of an id-only equi-join (ids may
    repeat with different payloads, or be null). The invariant
    (unit-tested): decisions equal what batch-mode
    :func:`exact_duplicates` over history ∪ batch would decide for the
    batch rows, provided batch ids sort after history ids.

    Shape at scale: one window over the batch's own hashes (batch-sized)
    + one equi-join against the index on the 32-char hash — broadcast
    when the index is small, shuffle-bucketed otherwise.

    ``index_bloom`` (operators/bloom.py dict, built over — or over a
    SUPERSET of — the index's ``text_hash`` values) short-circuits the
    join: a batch hash that fails the probe is definitely not in the
    index, so its rows take their within-batch decision without ever
    entering the join — for a mostly-novel shard, the join's batch
    side shrinks from shard-sized to (~FPP + true-dup)-sized. A
    superset/stale-extra filter only sends more rows through the join
    (false positives find no match and fall through correctly); a
    filter MISSING index entries would be wrong — keep the sidecar a
    superset (update it before publishing new index entries).
    """
    from pyspark.sql import Window
    wh = Window.partitionBy("_h")
    h = (new_docs.select(F.col(id_col),
                         _nullsafe_text_hash(text_col).alias("_h"))
                 .distinct())
    batch = h.select(
        id_col, "_h",
        F.min(id_col).over(wh).alias("_batch_keeper"))
    # "_in_index" is an explicit presence marker: an index entry whose
    # keep_id is null (content first seen under a null-id doc) must
    # still read as SEEN — testing _seen_keeper.isNotNull() would
    # re-keep that content in every later batch
    idx = index.select(F.col("text_hash").alias("_h"),
                       F.col("keep_id").alias("_seen_keeper"),
                       F.lit(True).alias("_in_index"))
    joined = _join_index(batch, idx, ["_h"], F.col("_h"), index_bloom)
    # null-safe keeper comparison: a null-id row sharing content with a
    # real-id row must be drop_batch (plain != yields NULL -> would
    # fall through to a second bogus keep)
    decision = (
        F.when(F.col("_in_index").isNotNull(), F.lit("drop_seen"))
         .when(~F.col(id_col).eqNullSafe(F.col("_batch_keeper")),
               F.lit("drop_batch"))
         .otherwise(F.lit("keep")))
    # for drop_seen the historical owner is authoritative even when it
    # is a null id (coalesce would misattribute it to the batch keeper)
    keep_id = F.when(F.col("_in_index").isNotNull(),
                     F.col("_seen_keeper")) \
               .otherwise(F.col("_batch_keeper"))
    return joined.select(id_col, F.col("_h").alias("text_hash"),
                         decision.alias("decision"),
                         keep_id.alias("keep_id"))


def updated_dedup_index(index: DataFrame,
                        batch_decisions: DataFrame,
                        id_col: str = "doc_id",
                        delta_only: bool = False) -> DataFrame:
    """The index after absorbing a batch: prior entries plus one row per
    content first seen in this batch (its batch keeper). Feed the result
    of :func:`dedup_against_index` as ``batch_decisions`` — it carries
    the content hash, so no join back to the docs is needed (and a
    null or repeated id can't lose its hash). First-wins via anti-join,
    like :func:`updated_minhash_index`: prior
    entries are appended to, never re-aggregated — per-batch cost scales
    with the BATCH, not with the (corpus-novelty-sized) index that
    accumulates over many ingestions.

    ``delta_only=True`` returns JUST the fresh entries (disjoint from
    ``index`` by construction) instead of the union — the seam for
    log-structured index storage, where each ingestion publishes only
    its novelty and readers union the committed segments: persisting
    the full union would make every publish O(corpus novelty) instead
    of O(batch novelty)."""
    fresh = (batch_decisions.filter(F.col("decision") == "keep")
                            .select("text_hash",
                                    F.col(id_col).alias("keep_id")))
    # the screen only keeps unseen hashes, so fresh is disjoint from the
    # index by construction; the aggregate + anti-join (both batch-sized
    # probes) keep that true for a frame screened against another index
    fresh = (fresh.groupBy("text_hash")
                  .agg(F.min("keep_id").alias("keep_id"))
                  .join(index.select("text_hash"), "text_hash",
                        "left_anti"))
    return fresh if delta_only else index.unionByName(fresh)


def minhash_index(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n_hashes: int = 8,
                  bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """LSH bucket index for INCREMENTAL near-dup detection: one row per
    occupied (band, band_hash) bucket with ``keep_id`` = the lowest doc
    id ever signed into it. Persist between ingestion batches; size is
    bounded by ``bands ×`` distinct signatures, not corpus size."""
    return (minhash_band_signatures(docs, text_col, id_col, n_hashes,
                                    bands, shingle_n)
            .groupBy("band", "band_hash")
            .agg(F.min("_id").alias("keep_id")))


def bucket_key_expr(band_col="band", band_hash_col="band_hash"):
    """The composite LSH bucket identity as ONE probe-able string —
    what the near-dup index's Bloom sidecar is built over and probed
    with (band is a small int, so the concat is collision-free)."""
    return F.concat_ws("#", F.col(band_col).cast("string"),
                       F.col(band_hash_col))


def near_dup_against_index(new_docs: DataFrame, index: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id", n_hashes: int = 8,
                           bands: int = 4, shingle_n: int = 3,
                           signatures: DataFrame | None = None,
                           index_bloom: dict | None = None) -> DataFrame:
    """Incremental MinHash-LSH near-dup screening of a new batch against
    the historical :func:`minhash_index` (the near-dup twin of
    :func:`dedup_against_index`; parameters must match the index's).

    Returns one row per distinct (``id_col``, content) in the batch:
    (``id_col``, text_hash, is_near_dup, match_id) — the
    :func:`dedup_against_index` convention: carrying the null-safe
    content hash lets consumers join verdicts back to rows on
    (id, hash), so an id repeated with different payloads gets one
    verdict PER PAYLOAD instead of one cross-labeled verdict for all.
    ``is_near_dup`` when any of the doc's band signatures hits an
    already-occupied historical bucket OR a bucket an earlier doc of
    this batch signed into — "earlier" by the (real-ids-first, lowest
    id, content hash) identity ordering, so null-id and repeated-id
    batch collisions are surfaced too; ``match_id`` is the lowest such
    prior owner (null when fresh — and also null, with ``is_near_dup``
    still true, when the only prior owner is a null-id doc). LSH semantics are
    unchanged from the batch operator: a band collision is a CANDIDATE
    near-dup — verify with :func:`ngram_jaccard_pairs` where exactness
    matters.

    Shape at scale: signatures are one aggregate over the batch's
    shingles; the screen is one equi-join on (band, band_hash) against
    the index plus one batch-local window — history is never re-read.

    ``signatures`` accepts the batch's precomputed (persisted)
    :func:`minhash_band_signatures` so a caller that also feeds
    :func:`updated_minhash_index` pays the signature aggregate ONCE
    per batch, not twice (``dedup --index-dir --mode near`` does this).

    ``index_bloom`` (operators/bloom.py dict over — or over a SUPERSET
    of — the index's :func:`bucket_key_expr` values) short-circuits
    the bucket join exactly like :func:`dedup_against_index`'s
    sidecar: a signature row whose bucket fails the probe cannot be
    historically occupied, so it skips the join and keeps only its
    batch-local collision verdict. Superset-safe / subset-wrong, same
    contract.
    """
    from pyspark.sql import Window
    sigs = (signatures if signatures is not None
            else minhash_band_signatures(new_docs, text_col, id_col,
                                         n_hashes, bands, shingle_n))
    wb = Window.partitionBy("band", "band_hash")
    # in-batch priority follows the (real-ids-first, lowest id, content
    # hash) identity ordering — null-safe by construction: a plain
    # `min(id) < id` test is NULL for null-id rows (a null-id doc
    # colliding with a real-id batch peer was never flagged) and blind
    # to two same-id payloads sharing a bucket
    sk = F.struct(F.col("_id").isNull().alias("z"),
                  F.col("_id").alias("i"), F.col("_th").alias("h"))
    sigs = (sigs.withColumn("_sk", sk)
                .withColumn("_bmin", F.min("_sk").over(wb)))
    # "_occ" is an explicit occupancy marker: a bucket whose historical
    # owner is a null-id doc carries keep_id NULL, and F.least would
    # silently drop it — the bucket would read as unoccupied and the
    # collision would be missed
    idx = index.select("band", "band_hash",
                       F.col("keep_id").alias("_seen"),
                       F.lit(True).alias("_occ"))
    joined = _join_index(sigs, idx, ["band", "band_hash"],
                         bucket_key_expr(), index_bloom)
    batch_prior = ~F.col("_sk").eqNullSafe(F.col("_bmin"))
    prior = F.least(
        F.col("_seen"),
        F.when(batch_prior, F.col("_bmin.i")))
    hit = F.col("_occ").isNotNull() | batch_prior
    per_doc = (joined.groupBy("_id", "_th")
                     .agg(F.max(hit).alias("_hit"),
                          F.min(prior).alias("match_id")))
    # null-safe roster join on (id, content hash): a null-id doc's
    # verdict groups under the null key, which a plain equi-join would
    # discard
    roster = (new_docs.select(
                  F.col(id_col).alias("_rid"),
                  _nullsafe_text_hash(text_col).alias("_rth"))
              .distinct())
    return (roster
            .join(per_doc,
                  F.col("_rid").eqNullSafe(F.col("_id"))
                  & F.col("_rth").eqNullSafe(F.col("_th")), "left")
            .select(F.col("_rid").alias(id_col),
                    F.col("_rth").alias("text_hash"),
                    F.coalesce("_hit", F.lit(False)).alias("is_near_dup"),
                    "match_id"))


def updated_minhash_index(index: DataFrame, new_docs: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id", n_hashes: int = 8,
                          bands: int = 4, shingle_n: int = 3,
                          signatures: DataFrame | None = None,
                          delta_only: bool = False) -> DataFrame:
    """The LSH index after absorbing a batch: prior bucket owners win
    (first-seen-keeps, matching the screen's verdicts), plus one row
    per bucket first occupied in this batch. First-wins via anti-join
    rather than min-over-union: min() ignores NULL ids, so a bucket
    owned by a null-id doc would silently hand ownership to the first
    real-id batch doc the screen just told to drop. Equals
    min-over-union under the ids-sort-after-history contract (and never
    re-aggregates the history rows). ``signatures`` = precomputed
    :func:`minhash_band_signatures`, see
    :func:`near_dup_against_index`. ``delta_only=True`` returns just
    the first-occupied buckets (see :func:`updated_dedup_index`)."""
    sigs = (signatures if signatures is not None
            else minhash_band_signatures(new_docs, text_col, id_col,
                                         n_hashes, bands, shingle_n))
    fresh = (sigs.groupBy("band", "band_hash")
                 .agg(F.min("_id").alias("keep_id"))
                 .join(index.select("band", "band_hash"),
                       ["band", "band_hash"], "left_anti"))
    return fresh if delta_only else index.unionByName(fresh)


