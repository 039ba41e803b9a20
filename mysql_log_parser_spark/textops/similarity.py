"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the correctness baseline.  Query side is small
  (broadcast); the corpus side streams — one pass, no corpus shuffle.  Dot
  products via zip_with/aggregate stay JVM-side.
- LSH-bucketed ANN: deterministic random-hyperplane signatures (seeded via
  md5 arithmetic, no RNG state), candidates from bucket equality, exact
  cosine rerank.  The scale path: candidate generation shuffles bucket keys
  only.
- Embedding-cosine near-dup pairs: same kernels, pair output.
- Nearest-centroid cells (IVF, k-means, SemDeDup): `centroid_dots` and
  `with_nearest_centroid`, which every centroid gate calls.

Centroid cells and hyperplane signatures each come as a kernel pair: a
Catalyst nested-literal fold that the DuckDB oracles replay in plain SQL,
and an Arrow matmul (`*_arrow`) that takes over past ~8k literals, where
a literal tree stops being viable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Three interpreted HOF folds per call (norm(a), norm(b), dot) — fine
    for one-off column math; in candidate-join rerank loops use
    cosine_prenorm with per-side norm columns instead (one fold per pair)."""
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_prenorm(a: Column, b: Column, a_nrm: Column, b_nrm: Column) -> Column:
    """cosine with the per-side norms precomputed BEFORE the candidate join.

    Catalyst higher-order functions are interpreted and never CSE'd, so the
    plain cosine() evaluates three O(dim) folds per candidate pair and
    recomputes the query-side norm for every candidate.  Computing norm once
    per row on each join input (the join materializes the scalar, so it is
    NOT re-inlined past the exchange) leaves a single dot fold per pair —
    ~3x less interpreted-expression work in the rerank stage."""
    d = a_nrm * b_nrm
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_topk_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Top-k neighbors for each query vector (exact).  `queries` must be
    small: it is broadcast; the corpus is scanned once.  Norms are computed
    once per side before the join (see cosine_prenorm).  `round_to` rounds
    the cosine BEFORE ranking so ranks are reproducible across engines whose
    float summation order differs (oracle-exactness knob; ties broken by
    neighbor id either way)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnrm"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        norm(F.col(vec_col)).alias("nnrm"),
    )
    cos = cosine_prenorm(F.col("qvec"), F.col("nvec"), F.col("qnrm"), F.col("nnrm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos)
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def centroid_dots(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of dot(vec, centroid_i) via ONE nested-array literal and
    one transform — expression size stays a single CreateArray tree and the
    per-row work one pass over k*dim, independent of how many centroids the
    caller asks for (the per-centroid-fold form is O(k) separate interpreted
    aggregates and stops being viable past a handful of cells)."""
    m = F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in centroids])
    return F.transform(m, lambda c: dot(vec, c))


def centroid_cells_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "v",
    out_col: str = "cell",
) -> DataFrame:
    """argmax-dot centroid cell via ONE Arrow-batched pandas_udf: a numpy
    (batch x d) @ (d x k) matmul + argmax per batch, so the physical plan
    carries a single constant-size ArrowEvalPython node — no O(k*d) literal
    tree — and per-row cost is a BLAS matmul instead of an interpreted fold.
    The scale path for production cell counts (SemDeDup's k ~ sqrt(N) means
    10^4-10^5 cells at d >= 768, where a literal tree is not viable).

    A scalar pandas_udf (ArrowEvalPython) rather than mapInPandas on
    purpose: the UDF touches only `vec_col`, so projection pruning and the
    rest of the row's codegen pipeline survive; mapInPandas would funnel
    every column through Arrow.

    Tie-breaking matches the Catalyst kernel exactly (np.argmax returns the
    FIRST maximum = array_position of array_max).  For arbitrary floats a
    dot within one ulp of a tie may assign differently (BLAS vs
    left-to-right summation) — same caveat as hyperplane_signatures_arrow;
    cells are coarse buckets and downstream cosine checks are exact."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    C = np.asarray(centroids, dtype=np.float64)  # k x d

    @pandas_udf(LongType())
    def cell(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        return pd.Series(np.argmax(m @ C.T, axis=1).astype(np.int64))

    return df.withColumn(out_col, cell(vec_col))


# Past this many literal matrix entries the Catalyst nested-literal kernels
# switch to the Arrow matmul form (same threshold for centroids and
# hyperplanes): below it the literal tree is small and stays oracle-
# replicable in plain SQL; above it expression size and interpreted-fold
# cost grow with k*d while the Arrow plan stays constant-size.
_ARROW_LITERAL_SWITCH = 8192


def with_nearest_centroid(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "v",
    out_col: str = "cell",
    kernel: str = "auto",
) -> DataFrame:
    """Append argmax-dot centroid cell (ties to the smallest index).

    `kernel` picks the implementation: 'catalyst' (nested-literal fold,
    oracle-replicable in plain SQL — the dot array is materialized in its
    own projection first because Catalyst HOFs are interpreted and never
    CSE'd, so referencing the fold from both array_position and array_max
    directly would evaluate it twice), 'arrow' (one pandas_udf matmul —
    constant plan size, the path for production k; see
    centroid_cells_arrow), or 'auto' (arrow once the centroid matrix
    passes ~8k literals)."""
    if kernel == "auto":
        k = len(centroids)
        d = len(centroids[0]) if k else 0
        kernel = "arrow" if k * d >= _ARROW_LITERAL_SWITCH else "catalyst"
    if kernel == "arrow":
        return centroid_cells_arrow(df, centroids, vec_col, out_col)
    dotted = df.withColumn("_dots", centroid_dots(F.col(vec_col), centroids))
    cell = (F.array_position("_dots", F.array_max("_dots")) - 1).cast("long")
    return dotted.withColumn(out_col, cell).drop("_dots")


def _plane(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic +/-1 hyperplane from md5 parity (precomputed literals —
    no RNG state; identical across engines/runs)."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"t{table}p{plane}d{j}".encode()).hexdigest()[0], 16) % 2
        else -1.0
        for j in range(dim)
    ]


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 8, table: int = 0) -> Column:
    """n_planes sign bits of dot(vec, plane) -> int bucket key.

    The plane matrix is ONE nested-array literal folded in a single
    transform + zip_with pass (one expression subtree), not one interpreted
    aggregate per plane each embedding its own dim-literal array — the
    per-plane form multiplies both expression size and fold count by
    n_planes.  For production embedding widths (dim >= ~256) use the Arrow
    kernel (hyperplane_signatures_arrow): a literal tree is still O(n_planes
    * dim) nodes, and the numpy matmul path keeps the plan O(1) regardless
    of dim."""
    planes = F.array(
        *[F.array(*[F.lit(x) for x in _plane(table, p, dim)]) for p in range(n_planes)]
    )
    weights = F.array(*[F.lit(2**p) for p in range(n_planes)])
    dots = F.transform(planes, lambda pl: dot(vec, pl))
    bits = F.zip_with(
        dots, weights, lambda d, w: F.when(d > 0, w).otherwise(F.lit(0))
    )
    return F.aggregate(bits, F.lit(0), lambda a, x: a + x)


def hyperplane_signatures_arrow(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    vec_col: str = "embedding",
    out_col: str = "_sigs",
) -> DataFrame:
    """All n_tables bucket keys in ONE Arrow-batched pandas_udf: signatures
    come from a numpy (batch x dim) @ (dim x n_planes) matmul per table, so
    the physical plan carries a single ArrowEvalPython node of constant size
    — no O(n_planes*dim) literal tree — and the per-row cost is a BLAS
    matmul instead of interpreted folds.  The scale path for dim >= ~256.

    Sign-bit parity with the Catalyst path holds whenever the dot products
    are exactly representable (e.g. integer-valued inputs against the +/-1
    planes); for arbitrary floats a dot within one ulp of zero may bucket
    differently (BLAS vs left-to-right summation) — irrelevant to ANN
    semantics because buckets are hash buckets and the rerank is exact."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [[_plane(t, p, dim) for p in range(n_planes)] for t in range(n_tables)]
    )  # n_tables x n_planes x dim
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def sigs(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        out = np.stack(
            [((m @ planes[t].T) > 0) @ weights for t in range(n_tables)], axis=1
        )
        return pd.Series(list(out))

    return df.withColumn(out_col, sigs(vec_col))


def cosine_topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    kernel: str = "auto",
) -> DataFrame:
    """Multi-table random-hyperplane ANN: a candidate is any vector sharing a
    bucket with the query in ANY of `n_tables` independent tables; exact
    cosine rerank on the deduped candidate set.  Recall/cost tunable via
    (n_planes, n_tables): fewer planes -> bigger buckets, more tables ->
    higher recall.  Candidate generation shuffles bucket keys only — never
    all pairs.

    `kernel` picks the signature implementation: 'catalyst' (nested-literal
    fold, oracle-replicable in plain SQL), 'arrow' (one pandas_udf matmul —
    constant plan size, the path for production embedding widths), or
    'auto' (arrow once the plane matrix passes ~8k literals)."""
    if kernel == "auto":
        kernel = (
            "arrow"
            if dim * n_planes * n_tables >= _ARROW_LITERAL_SWITCH
            else "catalyst"
        )

    def with_sigs(df: DataFrame) -> DataFrame:
        if kernel == "arrow":
            sigged = hyperplane_signatures_arrow(
                df, dim, n_planes, n_tables, vec_col=vec_col
            )
            return sigged.select(
                "*",
                *[F.element_at("_sigs", t + 1).alias(f"b{t}") for t in range(n_tables)],
            ).drop("_sigs")
        return df.select(
            "*",
            *[
                hyperplane_signature(F.col(vec_col), dim, n_planes, t).alias(f"b{t}")
                for t in range(n_tables)
            ],
        )

    nrm = norm(F.col(vec_col))
    c = with_sigs(emb).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"),
        nrm.alias("nnrm"), *[F.col(f"b{t}") for t in range(n_tables)],
    )
    q = with_sigs(queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        nrm.alias("qnrm"), *[F.col(f"b{t}") for t in range(n_tables)],
    )
    c_long = c.select(
        "neighbor_id", "nvec", "nnrm",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b")) for t in range(n_tables)
        ])).alias("tb"),
    ).select("neighbor_id", "nvec", "nnrm", "tb.t", "tb.b")
    q_long = q.select(
        "query_id", "qvec", "qnrm",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b")) for t in range(n_tables)
        ])).alias("tb"),
    ).select("query_id", "qvec", "qnrm", "tb.t", "tb.b")
    cands = (
        c_long.join(F.broadcast(q_long), on=["t", "b"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "qnrm", "neighbor_id", "nvec", "nnrm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = cosine_prenorm(F.col("qvec"), F.col("nvec"), F.col("qnrm"), F.col("nnrm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = cands.withColumn("cosine", cos)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def near_dup_pairs_cosine(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, LSH-bucketed.

    `dim` is required (every caller knows its embedding width; inferring it
    via .first() would schedule an extra driver-side job in a library
    construction path).  Norms are computed once per row before the
    self-join (see cosine_prenorm)."""
    sig = hyperplane_signature(F.col(vec_col), dim, n_planes)
    s = emb.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("nrm"),
        sig.alias("bucket"),
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn(
            "cosine",
            cosine_prenorm(
                F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                F.col("a.nrm"), F.col("b.nrm"),
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine",
        )
    )
