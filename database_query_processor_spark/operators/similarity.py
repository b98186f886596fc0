"""Similarity search over embedding columns (array<float>).

No reference analog (the reference has exactly three scalar types,
src/qp/utils/Attribute.java:11-13); this is the LLM-pipeline ANN
extension surface.

Scale design:
  * Brute-force cosine top-k: broadcast the query vector, scan-side
    dot products (JVM higher-order functions, no Python), and a
    TakeOrderedAndProject top-k — per-partition heaps + driver merge
    of k rows, never a global sort. Linear scan; the correct baseline
    and the exact oracle.
  * Random-hyperplane LSH (ann_lsh_topk): bucket = sign-bit vector of
    H hyperplane projections. Candidate set is one bucket (≈ n/2^H
    docs) → top-k within. At 100 TB: partition by bucket, broadcast
    the hyperplanes, and the scan prunes to matching partitions. An
    IVF variant would swap sign-buckets for k-means cells — same
    plumbing.

All float math is done as float→double casts with sequential
aggregation, which both Spark and DuckDB evaluate bit-identically
(verified: 500/500 exact matches) — so even the LSH path has a full
value-hash oracle. The Arrow/numpy kernels repeat the same fold (see
the numpy kernel primitives).
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from database_query_processor_spark.cache import persist

NUM_HYPERPLANES = 6
_EMB_DIM = 64


def _hyperplanes(num: int = NUM_HYPERPLANES, dim: int = _EMB_DIM, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num)]


HYPERPLANES = _hyperplanes()


def dot_d(a: Column, b: Column) -> Column:
    """Σ double(a_i)·double(b_i), sequential — bit-stable across
    engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (comparison-neutral, matching DuckDB's
    x/0 = NULL) for zero-norm vectors — an unguarded divide would be a
    job-killing DIVIDE_BY_ZERO under the session's pinned ANSI mode."""
    return F.try_divide(
        dot_d(a, b), F.sqrt(dot_d(a, a)) * F.sqrt(dot_d(b, b))
    )


def _py_dot(a, b) -> float:
    """Driver-side double dot product, sequential — bit-identical to
    dot_d / sql_dot (same fold order, same IEEE ops)."""
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _py_cos(a, b) -> float:
    import math

    nrm = math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b))
    # zero-norm vector: cosine is undefined — treat as no similarity
    # (0.0) instead of a driver-side ZeroDivisionError; the Spark-side
    # `cosine` expression degrades the same comparison-neutral way.
    return _py_dot(a, b) / nrm if nrm else 0.0


# --- numpy kernel primitives -------------------------------------------
#
# Every Arrow/numpy kernel below (the IVF/SemDeDup cell assignment, the
# PQ encode, the pair scans of embedding_dup_pairs and semantic_dedup)
# is built from these four functions, and this is the one argument for
# why their results are bit-identical to the Column expressions above
# and to the DuckDB oracle (sql_dot, _sql_l2sq_sub):
#   * _np_vectors widens float32 → float64 exactly, as cast("double")
#     does, and rejects NULL and non-finite vectors: np.argmin/argmax
#     and `>=` order NaN differently from Spark's and DuckDB's sorts,
#     so a NaN would silently diverge instead of failing.
#   * _np_fold adds the float64 products (or squared differences) one
#     component at a time, left to right from 0.0 — the same IEEE ops
#     in the same order as dot_d's aggregate() and _py_dot, which the
#     oracle's list_sum (sql_dot) reproduces; starting from 0.0 as
#     aggregate() does, an all-zero dot is +0.0 here too.
#   * _np_cos divides by sqrt(|a|²)·sqrt(|b|²), as `cosine`, and maps a
#     zero divisor to -inf where try_divide and DuckDB give NULL: below
#     every real cosine, it fails every `>= threshold` and loses every
#     argmax, as NULL does in F.greatest(struct) and under DuckDB's
#     NULLS LAST.
#   * np.argmax/np.argmin return the FIRST extreme, so kernels that
#     sort their candidates by id (centroid id, code index) get the
#     smaller-id tie-break of the SQL `ORDER BY …, id`.
# Pinned by the x05/x13/x49/x66 oracle checks and tests/test_recall.py.


def _np_vectors(values, col: str) -> np.ndarray:
    """One (n, d) float64 matrix from a column of vectors; raises
    ValueError naming ``col`` on a NULL, ragged or non-finite vector."""
    try:
        mat = np.stack(list(values)).astype(np.float64)
    except (TypeError, ValueError) as exc:
        raise ValueError(f"vector column {col!r}: NULL or ragged vector") from exc
    if not np.isfinite(mat).all():
        raise ValueError(f"vector column {col!r}: non-finite component")
    return mat


def _np_fold(a: np.ndarray, b: np.ndarray, l2: bool = False) -> np.ndarray:
    """Σ a_i·b_i (``l2``: Σ (a_i − b_i)²) over the last axis as one
    sequential fold, broadcasting the leading axes — the numpy mirror
    of dot_d (``l2``: of the oracle's _sql_l2sq_sub)."""
    acc = 0.0
    for i in range(a.shape[-1]):
        x, y = a[..., i], b[..., i]
        if l2:
            x = y = x - y
        acc = acc + x * y
    return acc


def _np_cos(dots: np.ndarray, denom: np.ndarray) -> np.ndarray:
    """dots / denom with a zero divisor (a zero-norm vector) → -inf."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0, -np.inf, dots / denom)


_PAIR_BLOCK = 64  # rows folded at once: 64 × n temporaries, like one row's (n, 64) product


def _np_pair_cosines(mat: np.ndarray):
    """For each row i of an id-sorted (n, d) matrix, yield (i, cosines
    of row i to rows i+1…). Rows are folded in blocks of _PAIR_BLOCK,
    so memory stays linear in n."""
    nrm = np.sqrt(_np_fold(mat, mat))
    for lo in range(0, len(mat) - 1, _PAIR_BLOCK):
        hi = min(lo + _PAIR_BLOCK, len(mat) - 1)
        cos = _np_cos(
            _np_fold(mat[lo:hi, None, :], mat[None, lo + 1 :, :]),
            nrm[lo:hi, None] * nrm[None, lo + 1 :],
        )
        for i in range(lo, hi):
            yield i, cos[i - lo, i - lo :]


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in v])


def hyperplane_bucket(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """LSH bucket id: bit j = sign(vec · hyperplane_j).

    The vector dimension must equal the planes' dimension: zip_with
    pads a shorter array with NULLs, every plane dot would go NULL,
    and EVERY vector would silently land in bucket 0 — collapsing the
    LSH blocking into one corpus-wide mega-bucket (brute-force scan /
    quadratic pair space with no error). Fails loudly instead."""
    dim = len((planes if planes is not None else HYPERPLANES)[0])
    guard = F.assert_true(
        F.size(vec) == dim,
        F.concat(
            F.lit(f"hyperplane_bucket: vector dim != plane dim {dim}: got "),
            F.size(vec).cast("string"),
        ),
    )
    # assert_true yields NULL on success; summing its int cast keeps
    # the guard in the expression tree (a branch whose arms are equal
    # would be constant-folded away, silently dropping the check).
    bucket = F.coalesce(guard.cast("int"), F.lit(0))
    for j, h in enumerate(planes if planes is not None else HYPERPLANES):
        bucket = bucket + F.when(dot_d(vec, _lit_vec(h)) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_id: int, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors of one corpus vector (excluding
    itself), deterministic tie-break on id."""
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qv"))
    return (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine(F.col(vec_col), F.col("qv")).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ann_lsh_topk(
    df: DataFrame, id_col: str, vec_col: str, query_id: int, k: int = 10
) -> DataFrame:
    """Approximate top-k: restrict the scan to the query's hyperplane
    bucket, then exact cosine within. Same output columns as
    cosine_topk plus the bucket id."""
    with_bucket = df.select(
        F.col(id_col), F.col(vec_col), hyperplane_bucket(F.col(vec_col)).alias("bucket")
    )
    q = with_bucket.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        with_bucket.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select(F.col(id_col), F.col("bucket"), cosine(F.col(vec_col), F.col("qv")).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _q8(vec: Column, scale: Column) -> Column:
    """Symmetric int8-range scalar quantization with a corpus-global
    scale: floor(x · 127 / scale) as BIGINTs. floor (not round) —
    round-half rules differ across engines; floor is exact in both."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * 127 / scale).cast("long")
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i over integer arrays — exact, order-free."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ann_sq8_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    pool: int = 50,
) -> DataFrame:
    """ANN via scalar quantization: int8-range quantized vectors give
    a cheap integer-dot prefilter (the SQ8 path every production
    vector store ships — 4x less memory bandwidth, SIMD int8 dots),
    an approximate-cosine pool cut, then EXACT float cosine reranking
    of the constant-size pool. Recall loss is bounded by quantization
    error; the rerank restores exact ordering within the pool.

    Cross-engine exactness: quantized values are floor(x·127/s) with
    a corpus-global scale s = max|x| (no arithmetic in the max, so s
    is bit-identical in both engines); integer dots/norms are exact
    and order-free; approx = dot / sqrt(nq·nv) is a 3-IEEE-op chain
    (no reordered float sums), ROUND 9 before the pool cut with id
    tie-break.

    Scale shape: ONE corpus pass for the scale aggregate (broadcast
    back), one quantized scan for the pool cut (TakeOrderedAndProject
    per-partition heaps), exact rerank on ≤pool rows. At 100 TB the
    quantized representation would be materialized once as an int8
    column, making the prefilter scan ~4x lighter than float32."""
    # greatest(·, 1e-300) guards the all-zero-corpus edge: sc = 0 would
    # make the _q8 divide a job-killing ANSI DIVIDE_BY_ZERO (same class
    # as the nq*nv norm guard below). Identity on any real corpus, and
    # the degenerate case quantizes to all-zero vectors in both engines.
    scale = df.agg(
        F.greatest(
            F.max(F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))),
            F.lit(1e-300),
        ).alias("sc")
    )
    q = (
        df.filter(F.col(id_col) == query_id)
        .crossJoin(F.broadcast(scale))
        .select(
            F.col(vec_col).alias("qv"),
            _q8(F.col(vec_col), F.col("sc")).alias("q8"),
            F.col("sc"),
        )
    )
    base = (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.col(vec_col),
            "qv",
            _q8(F.col(vec_col), F.col("sc")).alias("v8"),
            "q8",
        )
    )
    nq = _int_dot(F.col("q8"), F.col("q8"))
    nv = _int_dot(F.col("v8"), F.col("v8"))
    approx = F.round(
        _int_dot(F.col("v8"), F.col("q8")).cast("double")
        / F.sqrt(F.greatest(nq * nv, F.lit(1)).cast("double")),
        9,
    )
    cand = (
        base.select(F.col(id_col), F.col(vec_col), "qv", approx.alias("approx"))
        .orderBy(F.col("approx").desc(), F.col(id_col).asc())
        .limit(pool)
    )
    return (
        cand.select(
            F.col(id_col),
            "approx",
            F.round(cosine(F.col(vec_col), F.col("qv")), 9).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def sql_ann_sq8_rerank(query_id: int, k: int = 10, pool: int = 50) -> str:
    """DuckDB oracle mirroring ann_sq8_rerank: same global scale, same
    floor quantization, exact integer dots, identical 3-op approx
    chain, ROUND 9 + id tie-break at both cuts."""
    q8 = "[CAST(floor(CAST(x AS DOUBLE) * 127 / sc) AS BIGINT) for x in embedding]"
    idot = (
        "CAST(list_sum([{a}[i] * {b}[i] for i in range(1, len({a}) + 1)]) AS BIGINT)"
    )
    nq = idot.format(a="q8", b="q8")
    nv = idot.format(a="v8", b="v8")
    dq = idot.format(a="v8", b="q8")
    return f"""
WITH s AS (SELECT greatest(MAX(list_max([abs(x) for x in embedding])), 1e-300) AS sc
           FROM embeddings),
q AS (SELECT embedding AS qv, {q8} AS q8
      FROM embeddings, s WHERE vec_id = {query_id}),
base AS (SELECT vec_id, embedding, qv, {q8} AS v8, q8
         FROM embeddings, s, q WHERE vec_id <> {query_id}),
cand AS (
  SELECT vec_id, embedding, qv,
         ROUND(CAST({dq} AS DOUBLE)
               / sqrt(CAST(greatest({nq} * {nv}, 1) AS DOUBLE)), 9) AS approx
  FROM base
  ORDER BY approx DESC, vec_id ASC LIMIT {pool})
SELECT vec_id, approx,
       ROUND({sql_cosine('embedding', 'qv')}, 9) AS cos
FROM cand
ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


IVF_CELLS = 8
IVF_NPROBE = 2


def _ids_codebook(df: DataFrame, id_col: str, vec_col: str, cells: int) -> list[tuple[int, list[float]]]:
    """Deterministic codebook: the vectors of the ``cells`` smallest
    ids (oracle-reproducible in plain SQL)."""
    rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(cells)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv"))
        .collect()
    )
    return [(r["cent_id"], [float(x) for x in r["cv"]]) for r in rows]


def _kmeans_codebook(
    df: DataFrame, vec_col: str, cells: int, seed: int = 42, sample_cap: int = 100_000
) -> list[tuple[int, list[float]]]:
    """KMeans-trained codebook (pyspark.ml) — the production centroid
    quality path. Fit runs on a bounded deterministic sample (the fit
    is iterative over its input, so cap it; centroid quality needs a
    representative sample, not the corpus), and only the ``cells``
    centers ever leave the JVM. cent_id = center index.

    The centers are a function of the input vectors (as a multiset),
    ``cells`` and ``seed`` only — not of how the rows are partitioned,
    which follows the host's core count. ``DataFrame.sample`` and the
    k-means|| init both draw per partition with a seed derived from
    the partition index, so the fit input is made canonical first:
      * above ``sample_cap`` rows, the sample keeps a row when a
        content hash, ``xxhash64(vec, seed)`` mod 10⁶, falls under
        10⁶·sample_cap/n — about ``sample_cap`` rows, chosen by value
        rather than by position;
      * the fit input is sorted by ``vec_col`` and coalesced into one
        partition, so KMeans sees the same rows in the same order and
        sums them in one fixed order (across tasks, its partial sums
        merge in completion order). The input is bounded by
        ``sample_cap``, so one task is affordable."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = df.count()
    sample = df
    if n > sample_cap:
        buckets = 1_000_000
        keep = F.pmod(F.xxhash64(F.col(vec_col), F.lit(seed)), F.lit(buckets)) < buckets * sample_cap / n
        sample = df.filter(keep)
    canonical = sample.orderBy(F.col(vec_col)).coalesce(1)
    feats = canonical.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=cells, seed=seed, featuresCol="features").fit(feats)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def _resolve_codebook(
    df: DataFrame, id_col: str, vec_col: str, cells: int, codebook: str
) -> list[tuple[int, list[float]]]:
    """Codebook dispatch shared by ann_ivf_topk and semantic_dedup:
    'ids' (deterministic, oracle-reproducible) or 'kmeans' (balanced
    cells, the production knob)."""
    if codebook == "kmeans":
        return _kmeans_codebook(df.select(vec_col), vec_col, cells)
    if codebook == "ids":
        return _ids_codebook(df, id_col, vec_col, cells)
    raise ValueError(f"unknown codebook {codebook!r} (want 'ids' or 'kmeans')")


def _assign_cells(
    df: DataFrame, id_col: str, vec_col: str, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """argmax-cosine Voronoi assignment of every vector to its nearest
    centroid; ties break to the smaller cent_id. One scan-side
    mapInPandas kernel (no shuffle), oracle-exact at every codebook
    size (see the numpy kernel primitives): per Arrow batch, the
    (rows, cells) cosine matrix comes from the shared fold and the
    first-max argmax over cid-sorted centroids gives the smaller-cid
    tie-break of the oracle's ORDER BY cos DESC, cent_id. ``cell``
    has the centroid ids' type: long for integer ids (k-means
    indices, integral id columns), else the id column's type."""
    ordered = sorted(cents, key=lambda cc: cc[0])
    cid_arr = np.array([cid for cid, _ in ordered])
    C = _np_vectors([cv for _, cv in ordered], vec_col)
    c_nrm = np.sqrt(_np_fold(C, C))
    id_t = df.schema[id_col].dataType.simpleString()
    cell_t = "long" if isinstance(ordered[0][0], int) else id_t
    vec_t = df.schema[vec_col].dataType.simpleString()
    schema = f"`{id_col}` {id_t}, `{vec_col}` {vec_t}, cell {cell_t}"

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = _np_vectors(pdf[vec_col], vec_col)
            cos = _np_cos(
                _np_fold(V[:, None, :], C), np.sqrt(_np_fold(V, V))[:, None] * c_nrm
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cell": cid_arr[np.argmax(cos, axis=1)],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, schema)


def ann_ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    codebook: str = "ids",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into
    ``cells`` Voronoi cells, probe the ``nprobe`` cells nearest the
    query, exact cosine within the probed cells only.

    Codebook (``codebook=``):
      * ``"ids"`` (default): vectors of the ``cells`` smallest ids — a
        deterministic stand-in so the DuckDB oracle can reproduce the
        exact partition (centroid *quality* changes recall, not the
        algebra).
      * ``"kmeans"``: a pyspark.ml KMeans fit on a bounded sample —
        the production centroid-quality path; same plumbing, better
        cell balance (recall pinned vs the exact oracle in
        tests/test_recall.py). The fit input is a content-hash
        sample, sorted by vector, in one task, so the cells do not
        change with the input's partitioning or the host's core
        count (see _kmeans_codebook).

    Scale path (100 TB): centroids are tiny → collected and shipped
    in the task closure of _assign_cells' Arrow kernel, so assignment
    is a pure scan-side map (no shuffle). Writing the corpus partitioned by
    ``cell`` turns probing into partition pruning: a query touches
    nprobe/cells of the data."""
    cents = _resolve_codebook(df, id_col, vec_col, cells, codebook)
    cent_rows = [{"cent_id": cid, "cv": cv} for cid, cv in cents]
    q_row = df.filter(F.col(id_col) == query_id).select(vec_col).first()
    if q_row is None:
        # Absent query id: empty result, the same contract as
        # cosine_topk/ann_lsh_topk (whose filter-join shape yields
        # zero rows naturally) — not a TypeError on None[0].
        return df.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("cell"),
            F.lit(None).cast("double").alias("cos"),
        ).limit(0)
    qv = [float(x) for x in q_row[0]]
    probe_ids = [
        cid
        for _, cid in sorted(
            ((-_py_cos(qv, [float(x) for x in r["cv"]]), r["cent_id"]) for r in cent_rows)
        )[:nprobe]
    ]
    assigned = _assign_cells(df, id_col, vec_col, cents)
    return (
        assigned.filter(F.col(id_col) != query_id)
        .filter(F.col("cell").isin(probe_ids))
        .select(F.col(id_col), F.col("cell"), cosine(F.col(vec_col), _lit_vec(qv)).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


PQ_M = 8   # subspaces (64-dim -> 8 subvectors of 8)
PQ_K = 16  # centroids per subspace codebook


def ann_pq_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    pool: int = 50,
    m: int = PQ_M,
    ncodes: int = PQ_K,
) -> DataFrame:
    """ANN via PRODUCT QUANTIZATION with asymmetric distance (ADC) —
    the memory-bandwidth workhorse of production vector search
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011): the vector is split into ``m`` subvectors,
    each coarse-quantized against a per-subspace codebook of
    ``ncodes`` centroids, so a D-dim float32 vector compresses to m
    code bytes (here 64×4 B → 8 B, 32×). The query is NOT quantized:
    per subspace, a table of query↔centroid distances is precomputed
    once, and a corpus vector's approximate distance is m table
    lookups summed — no float math per vector at scan time. The
    approximate pool is then reranked with exact cosine.

    Codebook: the subvectors of the ``ncodes`` smallest-id vectors
    (the IVF ids-codebook trick) — deterministic and reproducible by
    the DuckDB oracle in plain SQL; a k-means codebook is a centroid-
    QUALITY knob (same algebra), like ann_ivf_topk's. RECALL SIZING:
    with the coarse 16-centroid ids-codebooks, the pool must absorb
    the quantization error — measured on the sf0.01 corpus: top-10
    recall 5/10 at pool=50 but 10/10 at pool=150 or ncodes=32+
    (gated in tests/test_recall.py); production tuning is
    per-subspace k-means + pool ≈ 10-20×k.

    Cross-engine exactness: encode is the first-min argmin of the
    shared L2² fold (see the numpy kernel primitives), so ties go to
    the smaller code index; ADC sums m doubles in subspace order
    (first-element-init fold both sides); ROUND 9 + id tie-break
    before the pool cut; rerank is the proven cosine contract.

    Scale shape (100 TB): ONE bounded collect (ncodes rows); encode
    is a scan-side Arrow kernel with the codebook and the query's
    distance tables riding the task closure; at scale the codes
    column is materialized once and the ADC scan reads m bytes/vector
    instead of the float corpus."""
    cents = _ids_codebook(df, id_col, vec_col, ncodes)
    q_row = df.filter(F.col(id_col) == query_id).select(vec_col).first()
    if q_row is None:
        return df.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("approx"),
            F.lit(None).cast("double").alias("cos"),
        ).limit(0)
    qv = [float(x) for x in q_row[0]]
    dim = len(qv)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    d = dim // m
    # query↔centroid distance tables T[s][j], once on the driver; per
    # subspace a row's code is the nearest centroid and its ADC
    # distance the left-assoc sum of its codes' table entries. Since
    # r12 this is an Arrow kernel: the expression form was m·ncodes
    # (128) interpreted 8-dim folds per row (CodegenFallback), ~8 s of
    # x66's 9 s at sf0.1 (OPTIMIZATION_r12.md §16).
    qc = _np_vectors([qv] + [cv for _, cv in cents], vec_col)
    q, cb = qc[0], qc[1:]
    subs = [slice(s * d, (s + 1) * d) for s in range(m)]
    tables = [_np_fold(q[sl], cb[:, sl], l2=True) for sl in subs]

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            mat = _np_vectors(pdf["_v"], vec_col)
            acc = None
            for sl, t in zip(subs, tables):
                code = np.argmin(_np_fold(mat[:, None, sl], cb[:, sl], l2=True), axis=1)
                acc = t[code] if acc is None else acc + t[code]
            yield pd.DataFrame(
                {"_id": pdf["_id"], "_v": pdf["_v"], "_approx": acc}
            )

    encoded = df.filter(F.col(id_col) != query_id).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(
        _encode,
        f"_id {df.schema[id_col].dataType.simpleString()}, "
        f"_v {df.schema[vec_col].dataType.simpleString()}, _approx double",
    )
    cand = (
        encoded.select(
            F.col("_id").alias(id_col), "_v", F.round("_approx", 9).alias("approx")
        )
        .orderBy(F.col("approx").asc(), F.col(id_col).asc())
        .limit(pool)
    )
    return (
        cand.select(
            F.col(id_col),
            "approx",
            F.round(cosine(F.col("_v"), _lit_vec(qv)), 9).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _sql_l2sq_sub(a: str, b: str, s: str, d: int) -> str:
    """DuckDB expression mirroring _np_fold(l2=True) over subspace
    ``s`` (0-based column/expr) of ``a``/``b``: 1-based element
    indexing, same diff product (NOT pow — integer-exponent pow may
    take a different libm path), same sequential fold."""
    diff = f"(cast({a}[{s}*{d}+i] as double) - cast({b}[{s}*{d}+i] as double))"
    return f"list_sum([{diff} * {diff} for i in range(1, {d + 1})])"


def sql_ann_pq_rerank(query_id: int, k: int = 10, pool: int = 50,
                      m: int = PQ_M, ncodes: int = PQ_K, dim: int = _EMB_DIM) -> str:
    """DuckDB oracle mirroring ann_pq_rerank: same ids-codebook, same
    argmin encode (row_number with code tie-break), same per-subspace
    distance tables, ordered ADC fold, ROUND 9 + id tie-break at both
    cuts."""
    d = dim // m
    return f"""
WITH cents AS (SELECT embedding AS cv,
                      row_number() OVER (ORDER BY vec_id) - 1 AS j
               FROM embeddings ORDER BY vec_id LIMIT {ncodes}),
subs AS (SELECT unnest(range({m})) AS s),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
enc AS (
  SELECT e.vec_id, subs.s, cents.j,
         row_number() OVER (PARTITION BY e.vec_id, subs.s
           ORDER BY {_sql_l2sq_sub('e.embedding', 'cents.cv', 'subs.s', d)} ASC,
                    cents.j ASC) AS rn
  FROM embeddings e CROSS JOIN subs CROSS JOIN cents),
codes AS (SELECT vec_id, s, j AS code FROM enc WHERE rn = 1),
qtab AS (SELECT subs.s, cents.j,
                {_sql_l2sq_sub('q.qv', 'cents.cv', 'subs.s', d)} AS t
         FROM q CROSS JOIN subs CROSS JOIN cents),
approx AS (
  SELECT codes.vec_id, ROUND(list_sum(list(qtab.t ORDER BY codes.s)), 9) AS approx
  FROM codes JOIN qtab ON qtab.s = codes.s AND qtab.j = codes.code
  GROUP BY codes.vec_id),
cand AS (SELECT vec_id, approx FROM approx WHERE vec_id <> {query_id}
         ORDER BY approx ASC, vec_id ASC LIMIT {pool})
SELECT cand.vec_id, cand.approx,
       ROUND({sql_cosine('e.embedding', 'qv')}, 9) AS cos
FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY cos DESC, cand.vec_id ASC LIMIT {k}
"""


DUP_BANDS = 3
_BITS_PER_BAND = NUM_HYPERPLANES // DUP_BANDS


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    exact: bool = False,
    num_planes: int = NUM_HYPERPLANES,
    bands: int = DUP_BANDS,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold.

    Default path is LSH-banded blocking: ``num_planes`` hyperplane
    sign bits split into ``bands`` bands of num_planes/bands bits;
    two vectors are candidates iff they agree on at least one band,
    and candidates get an exact cosine verify. The blocking key is
    (band, band_value) — one shuffle on a real key, so the pair space
    is Σ_bucket |bucket|² instead of n²: this is the 100 TB path.
    Banding is deterministic (fixed seeded hyperplanes, double math),
    so the DuckDB oracle reproduces the candidate set exactly.
    Recall < 1 by construction (a near-dup pair disagreeing on every
    band is missed).

    VERIFY KERNEL (r12, guide §4.3): the within-bucket pair verify is
    an Arrow-batched numpy kernel (applyInPandas per bucket), not a
    self-join — the r11 join form evaluated an interpreted
    aggregate/zip_with dot per candidate pair (higher-order functions
    are CodegenFallback), measured 13 s of x05's 16 s at sf0.1 with a
    3 s join skeleton (artifacts/DOT_SHAPE_AB_r12.json; a flat 64-term
    codegen chain measured 2x WORSE — it trips the huge-method limit).
    The kernel sorts each bucket by id and scans its pairs with
    _np_pair_cosines, so survivors and their cosines are bit-identical
    to the fold (see the numpy kernel primitives); ids keep the id
    column's type. Pinned by tests/test_recall.py (banded-vs-exact)
    and the x05 oracle.

    SIZING (measured, SCALE.md 10x probe): bucket count per band is
    2^(num_planes/bands), a CONSTANT — so expected bucket size grows
    linearly with the corpus and the within-bucket pair space
    quadratically. The demo default (6 planes → 4 buckets/band) is
    right for the sf0.01 oracle corpus and wrong at 10x+; size
    bits-per-band ≈ log2(n / target_bucket) (target a few hundred),
    i.e. planes grow with log n. More bits per band also sharpens
    the match probability curve (fewer false candidates, lower
    per-band recall) — compensate with more bands, which adds a
    linear factor, never a quadratic one.

    ``exact=True`` keeps the all-pairs O(n²) form — the recall oracle
    for tests, never the production path."""
    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
            .filter(F.col("cos") >= threshold)
        )
    if num_planes % bands:
        raise ValueError("num_planes must divide evenly into bands")
    if num_planes > 30:
        raise ValueError("num_planes > 30 overflows the int bucket id")
    bits_per_band = num_planes // bands
    planes = (
        HYPERPLANES
        if num_planes == NUM_HYPERPLANES
        else _hyperplanes(num=num_planes)
    )
    mask = (1 << bits_per_band) - 1
    # the full num_planes projection is materialized ONCE per row
    # (`_hb`) and bit-sliced per band — inlining hyperplane_bucket
    # inside the explode array would evaluate all num_planes dot
    # products `bands` times per row, and CollapseProject keeps a
    # multiply-referenced non-cheap alias as its own projection, so
    # the hoist survives optimization.
    bands_df = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        hyperplane_bucket(F.col(vec_col), planes).alias("_hb"),
    ).select(
        "_id",
        "_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright(F.col("_hb"), bits_per_band * j)
                        .bitwiseAND(mask)
                        .alias("bval"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "_v", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))

    def _verify(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_id", kind="stable")
        ids = pdf["_id"].to_numpy()
        out_a, out_b, out_c = [ids[:0]], [ids[:0]], [np.empty(0)]
        for i, cos in _np_pair_cosines(_np_vectors(pdf["_v"], vec_col)):
            keep = cos >= threshold  # -inf (zero norm) fails, like NULL
            if keep.any():
                out_a.append(np.repeat(ids[i : i + 1], keep.sum()))
                out_b.append(ids[i + 1 :][keep])
                out_c.append(cos[keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    id_t = df.schema[id_col].dataType.simpleString()
    return (
        bands_df.groupBy("band", "bval")
        .applyInPandas(_verify, f"id_a {id_t}, id_b {id_t}, cos double")
        .distinct()
    )


def knn_join_exact(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    """Batch k-NN join: for EVERY query vector, its exact top-k cosine
    neighbors from the corpus — the retrieval / embedding-level
    decontamination shape (query batch ≪ corpus). The query side
    broadcasts (a query batch is small by construction), so the corpus
    streams through map-side with NO shuffle of the big side; the only
    shuffle is the per-query window top-k, keyed by query id over
    k·|queries| candidate rows per partition — at 1000 executors the
    window input is |corpus|·|queries|/executors pairs scored locally,
    reduced to top-k per partition by the rank pushdown before the
    exchange."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), cosine(F.col(vec_col), F.col("qv")).alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col), "cos", "rn")
    )


def knn_join_lsh(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    """Approximate k-NN join for query batches too big to broadcast:
    hyperplane-bucket BOTH sides and equi-join on the bucket — the
    cross product collapses to within-bucket pairs and the join
    shuffles on a real key, so both sides may be arbitrarily large.
    Recall < 1 by construction (neighbors in other buckets are
    missed); same deterministic scoring as the exact form."""
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_bucket(F.col(vec_col)).alias("bucket"),
    )
    cb = corpus.select(
        F.col(id_col), F.col(vec_col), hyperplane_bucket(F.col(vec_col)).alias("cbucket")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        cb.join(qb, (F.col("cbucket") == F.col("bucket")) & (F.col(id_col) != F.col("query_id")))
        .select("query_id", F.col(id_col), cosine(F.col(vec_col), F.col("qv")).alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col), "cos", "rn")
    )


# --- DuckDB oracle SQL fragments (shared constants inlined) ---


def sql_dot(a: str, b: str) -> str:
    """DuckDB expression mirroring dot_d bit-for-bit."""
    return (
        f"list_sum([cast({a}[i] as double)*cast({b}[i] as double) "
        f"for i in range(1, len({a})+1)])"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"


def sql_hyperplane_bucket(vec: str, planes: list[list[float]] | None = None) -> str:
    """DuckDB expression mirroring hyperplane_bucket (same optional
    ``planes`` override — pass _hyperplanes(num=N) on both sides for
    scale-sized bandings). Float literals use repr() round-tripping
    so both engines parse identical doubles."""
    terms = []
    for j, h in enumerate(HYPERPLANES if planes is None else planes):
        lit = "[" + ", ".join(repr(x) for x in h) + "]"
        terms.append(f"(case when {sql_dot(vec, lit)} > 0 then {1 << j} else 0 end)")
    return "(" + " + ".join(terms) + ")"


SEM_CELLS = 8  # coarse clusters for semantic dedup
SEM_TAU = 0.85  # within-cluster cosine cutoff


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cells: int = SEM_CELLS,
    tau: float = SEM_TAU,
    codebook: str = "ids",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic
    deduplication — coarse-cluster the corpus, then inside each
    cluster drop every vector that has a lower-id neighbor with
    cosine ≥ ``tau``. Returns one row per vector:
    (vec_id, cell, kept).

    Differs from `embedding_dup_pairs` (LSH banding) in blocking
    geometry: Voronoi cells from a codebook give each vector exactly
    ONE block, so the pair join touches each cluster once and the
    output is a per-document keep/drop verdict rather than a pair
    list — the form a curation pipeline consumes directly.

    Drop rule = "∃ lower-id in-cluster neighbor ≥ tau" (not greedy
    chain removal): deterministic, order-free — the published SemDeDup
    approximation. The within-cell pair scan is the same Arrow-batched
    numpy kernel as embedding_dup_pairs' verify (r12, guide §4.3): the
    r11 self-join evaluated THREE interpreted fold dots per candidate
    pair in the join filter (cosine un-hoisted); the kernel shares
    _np_pair_cosines, so verdicts are bit-identical to the fold (see
    the numpy kernel primitives).

    Scale shape (100 TB): codebook is tiny (collected and shipped to
    _assign_cells' scan-side kernel, no shuffle); the only shuffle is
    the cell-keyed pair scan. Within-cell cost is O(size²):
    production uses enough cells to bound sizes (√n rule) via
    ``codebook="kmeans"`` — the same knob as IVF; the "ids" codebook
    keeps the DuckDB oracle exact. Measured (SCALE.md 10x probe):
    cells=8 at 10k vectors is 232s (quadratic within cells), cells=√n
    at 20k is 142s and linear — dominated by the assignment argmax,
    which is O(cells·dim) per row."""
    cents = _resolve_codebook(df, id_col, vec_col, cells, codebook)
    # assigned feeds BOTH self-join sides and the final verdict join:
    # unpersisted, the O(cells·dim)-per-row argmax assignment (the
    # measured dominant cost at 10x scale, see docstring) re-evaluates
    # once per reference (r12, guide §2.1). Row-bounded by the corpus;
    # the caller's query scope releases it (cache.py).
    assigned = persist(_assign_cells(df, id_col, vec_col, cents))

    def _drop(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="stable")
        dropped = np.zeros(len(pdf), dtype=bool)
        # pair (i < j): j is dropped if cos(i, j) >= tau — EVERY
        # lower-id i counts, dropped or not (no greedy chaining)
        for i, cos in _np_pair_cosines(_np_vectors(pdf[vec_col], vec_col)):
            dropped[i + 1 :] |= cos >= tau
        return pd.DataFrame({"_dropped_id": pdf[id_col].to_numpy()[dropped]})

    dropped = assigned.groupBy("cell").applyInPandas(
        _drop, f"_dropped_id {df.schema[id_col].dataType.simpleString()}"
    )
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["_dropped_id"], "left"
        )
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("_dropped_id").isNull().alias("kept"),
        )
    )
