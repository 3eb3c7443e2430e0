"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the scale path. Since round 5 the single-query
scorers and bucket projections run as Arrow-batched numpy with
FOLD-EXACT numerics (bit-identical to the Column-HOF forms — see the
block comment above ``pair_dot_pandas``); the `F.zip_with` /
`F.aggregate` higher-order forms remain for composition sites where
per-row volume is small (multi-query crossJoin scoring, argmax
assignment), since HOF lambdas are JVM-interpreted, never
whole-stage-codegen'd.

Scale notes:
* brute-force single query: the query vector ships as a literal array —
  a pure map over the table, no shuffle, then a top-k reduce
  (``orderBy().limit(k)`` → Spark's TakeOrderedAndProject, which keeps
  only k rows per partition).
* multi-query: broadcast the (small) query set and crossJoin — each
  partition scores locally; per-query top-k via window over query id.
* LSH: bucket by sign-bits against deterministic hyperplanes; same-bucket
  scan shrinks the scored set ~2^planes-fold at some recall cost (probe
  neighboring buckets to recover recall).
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F


def _lit_vec(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --------------------------------------------------------------------------
# Arrow-vectorized variants with FOLD-EXACT numerics
#
# The higher-order-function forms above never enter WholeStageCodegen —
# Spark evaluates aggregate/zip_with/transform lambdas interpreted, per
# row (~130 ns per fused multiply-add). On per-ROW projections that is
# tolerable; on per-PAIR verify relations (LSH candidates — potentially
# orders of magnitude more rows than the table) the interpretation
# dominated the stage: the semantic-dedup hot-cluster bench twin spent
# ~50 s of its 72 s wall in HOF cosine over ~30M candidates. Unrolling
# the fold into plain Column expressions does NOT fix it: at dim 64 the
# generated Java exceeds Janino's 64 KB method limit inside the
# Generate/join consume ("Failed to compile the generated Java code"),
# Spark falls back to interpreted eval, and a 4096-node interpreted tree
# is ~3× SLOWER than the HOF loop (measured).
#
# So the hot paths use Arrow-batched pandas UDFs — the same standard
# production shape as this repo's BPE/media operators — with one crucial
# property: the numpy code VECTORIZES OVER ROWS but FOLDS SEQUENTIALLY
# OVER DIMENSIONS (``acc = acc + A[:, i] * B[:, i]`` starting from 0.0),
# so every scalar result is produced by the exact IEEE op sequence of
# the HOF fold above. No np.dot/matmul (those reassociate/pairwise-sum
# and drift in the last ulp) — the SQL-oracle replays (DuckDB
# list_reduce, also a sequential fold) stay hash-identical.
# --------------------------------------------------------------------------


def _stack_vectors(series: pd.Series, dim: int, who: str):
    """One Arrow batch of array values → the float64 rows×``dim`` matrix
    every fold-exact scorer walks. Raises ValueError for a NULL vector and
    for any width other than ``dim``: a wider vector would otherwise fold
    only its first ``dim`` elements and silently return a WRONG score."""
    import numpy as np

    if series.isna().any():
        raise ValueError(f"{who}: null embedding vector")
    widths = {len(v) for v in series}
    if widths != {dim}:
        raise ValueError(
            f"{who}: expected vectors of width {dim}, got widths {sorted(widths)}"
        )
    return np.stack(series.to_numpy()).astype("float64", copy=False)


def pair_dot_pandas(dim: int):
    """Arrow-batched dot product of two array columns, fold-exact (see
    block comment above). Inputs must be non-null ``dim``-width arrays;
    returns double. ~64 SIMD ops per Arrow batch instead of ~450
    interpreted expression nodes per row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = _stack_vectors(a, dim, f"pair_dot_pandas(dim={dim})")
        B = _stack_vectors(b, dim, f"pair_dot_pandas(dim={dim})")
        acc = np.zeros(len(A), dtype="float64")
        for i in range(dim):
            acc = acc + A[:, i] * B[:, i]
        return pd.Series(acc)

    return _dot


def query_cosine_pandas(query_vec: Sequence[float]):
    """Arrow-batched cosine-to-a-LITERAL-query scorer, fold-exact — the
    scalar twin of ``cosine(vec, _lit_vec(q))``: same sequential fold
    over dimensions (vectorized over rows), query norm folded in Python
    in the same IEEE order, so scores are bit-identical to the HOF form
    (pinned by test_arrow_vector_math_is_fold_exact's method). This is
    the brute-force scan's hot path: at 10⁹ rows per query the
    interpreted HOF fold costs ~8 µs/row; the Arrow fold is ~dim SIMD
    ops per batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    q = [float(x) for x in query_vec]
    dim = len(q)
    qn_acc = 0.0
    for x in q:
        qn_acc = qn_acc + x * x
    qn = math.sqrt(qn_acc)
    if qn == 0.0:
        raise ValueError("query_cosine_pandas: zero-norm query vector")

    @pandas_udf("double")
    def _score(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="float64")
        M = _stack_vectors(v, dim, "query_cosine_pandas")
        acc = np.zeros(len(M), dtype="float64")
        nrm = np.zeros(len(M), dtype="float64")
        for i in range(dim):
            col = M[:, i]
            acc = acc + col * q[i]
            nrm = nrm + col * col
        if not nrm.all():
            # parity with the Column form under ANSI mode (the session
            # default): 0/0 raises DIVIDE_BY_ZERO there, so raise loudly
            # here instead of silently scoring NaN
            raise ValueError(
                "query_cosine_pandas: zero-norm embedding vector"
            )
        return pd.Series(acc / (np.sqrt(nrm) * qn))

    return _score


def band_buckets_pandas(
    planes: int, bands: int, seed: int, dim: int
):
    """Arrow-batched twin of :func:`hyperplane_band_buckets` — same
    deterministic LCG planes, same sign-bit packing, fold-exact
    projections (the accumulator walks dimensions in order, vectorized
    across rows AND planes), so every band id is bit-identical to the
    HOF form. Because the per-batch cost is ~``dim`` numpy ops
    regardless of ``planes``, the plane budget is effectively free here
    — which is what makes fine (8-12 bit) bands affordable, and fine
    bands are what keep same-bucket candidate groups small on dense
    embedding regions."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    assert planes % bands == 0, "planes must divide evenly into bands"
    per = planes // bands
    P = np.array(_hyperplanes(dim, planes, seed), dtype="float64").T  # dim×planes

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        M = _stack_vectors(v, dim, f"band_buckets_pandas(dim={dim})")
        acc = np.zeros((len(M), planes), dtype="float64")
        for i in range(dim):
            acc = acc + M[:, i : i + 1] * P[i : i + 1, :]
        bits = acc > 0
        out = np.zeros((len(M), bands), dtype="int64")
        for b in range(bands):
            for j in range(per):
                out[:, b] += bits[:, b * per + j].astype("int64") << j
        return pd.Series(list(out))

    return _buckets


def cosine_topk(
    emb_df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to one query vector: (id, sim) — map + top-k
    reduce, zero shuffles. Scoring is the Arrow fold-exact scan
    (:func:`query_cosine_pandas` — bit-identical to the Column-HOF
    form, ~100× cheaper per row); vectors must be non-null and match
    the query's width.

    Crossover note (measured): the Arrow scan carries ~0.4 s of fixed
    Python-worker roundtrip per query, so below ~10⁶ rows the
    interpreted HOF form is faster wall-clock locally (0.17 s vs 0.59 s
    on 16k rows); per-row the Arrow fold is ~100× cheaper, which is
    what matters for the brute-force scan this function exists for —
    compose ``cosine(vec, _lit_vec(q))`` directly if you are scoring a
    tiny relation inside a larger plan."""
    scored = emb_df.select(
        F.col(id_col), query_cosine_pandas(query_vec)(F.col(vec_col)).alias("sim")
    )
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)


def cosine_topk_multi(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Per-query exact top-k: broadcast crossJoin + window rank.

    (q_id, id, sim, rank) — the fact table is scanned once; the query side
    is broadcast, so no fact shuffle before the rank window."""
    joined = emb_df.crossJoin(F.broadcast(queries_df))
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_multi_pandas(
    emb_df: DataFrame,
    queries: Sequence,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched multi-query exact top-k, the AT-SCALE shape of
    :func:`cosine_topk_multi`: ``queries`` is a small driver-side list of
    ``(q_id, vector)`` pairs (the crossJoin variant broadcasts the same
    relation — both assume a broadcastable query set).

    Two things make this the 100 TB path: (1) scoring is ONE Arrow
    stage — every batch scores all queries against all its rows in
    numpy, fold-exact over dimensions (bit-identical sims to the HOF
    crossJoin, pinned by test), so no q×n row explosion ever
    materializes in the plan; (2) each batch emits only its own top-k
    per query, so the final exact window ranks ≤ k·batches rows instead
    of q×n (top-k of per-batch top-ks contains the global top-k for any
    batch boundaries). Output matches :func:`cosine_topk_multi`:
    (q_id, id, sim, rank)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf  # noqa: F401 (parity import)

    q_ids = [q[0] for q in queries]
    Q = [[float(x) for x in q[1]] for q in queries]
    dim = len(Q[0])
    nq = len(Q)
    # dim×nq, fold axis first — acc walks dimensions in order
    QT = [[Q[qi][i] for qi in range(nq)] for i in range(dim)]

    def score(batches):
        import numpy as np  # noqa: F811 — runs on executors
        import pandas as pd

        Qm = np.array(QT, dtype="float64")  # dim × nq
        qn = np.zeros(nq, dtype="float64")
        for i in range(dim):
            qn = qn + Qm[i, :] * Qm[i, :]
        qn = np.sqrt(qn)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _stack_vectors(pdf[vec_col], dim, "cosine_topk_multi_pandas")
            acc = np.zeros((len(M), nq), dtype="float64")
            nrm = np.zeros(len(M), dtype="float64")
            for i in range(dim):
                col = M[:, i]
                acc = acc + col[:, None] * Qm[i : i + 1, :]
                nrm = nrm + col * col
            if not nrm.all():
                # ANSI parity: the crossJoin form raises DIVIDE_BY_ZERO
                raise ValueError(
                    "cosine_topk_multi_pandas: zero-norm embedding vector"
                )
            sims = acc / (np.sqrt(nrm)[:, None] * qn[None, :])
            ids = pdf[id_col].to_numpy()
            out_q, out_id, out_s = [], [], []
            kk = min(k, len(M))
            for qi in range(nq):
                s = sims[:, qi]
                # top-k by (sim desc, id asc) — same tiebreak as the
                # window. Spark's desc ordering treats NaN as LARGEST
                # (a zero-norm vector scores NaN), while numpy sorts
                # NaN last either sign — map NaN to -inf on the negated
                # key so it sorts first, matching the crossJoin variant
                # for any batch boundaries.
                key = np.where(np.isnan(s), -np.inf, -s)
                order = np.lexsort((ids, key))[:kk]
                out_q.extend([q_ids[qi]] * len(order))
                out_id.extend(ids[order])
                out_s.extend(s[order])
            yield pd.DataFrame(
                {"q_id": out_q, id_col: out_id, "sim": out_s}
            )

    qid_type = "string" if isinstance(q_ids[0], str) else "long"
    id_type = emb_df.schema[id_col].dataType.simpleString()
    scored = emb_df.select(id_col, vec_col).mapInPandas(
        score, schema=f"q_id {qid_type}, {id_col} {id_type}, sim double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH
# --------------------------------------------------------------------------


def _hyperplanes(dim: int, planes: int, seed: int) -> List[List[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (pure python LCG —
    reproducible across sessions/machines, no numpy RNG state)."""
    out: List[List[float]] = []
    state = seed & 0x7FFFFFFF or 1
    for _ in range(planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            # map to (-1, 1)
            row.append(2.0 * state / float(1 << 31) - 1.0)
        out.append(row)
    return out


def hyperplane_bucket(
    vec: Column, planes: int = 16, seed: int = 42, dim: int = 64
) -> Column:
    """Bucket id from sign bits of <vec, plane_i> — a single fused
    projection per row."""
    hp = _hyperplanes(dim, planes, seed)
    bucket = None
    for i, plane in enumerate(hp):
        bit = F.when(dot(vec, _lit_vec(plane)) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def hyperplane_band_buckets(
    vec: Column, planes: int = 16, bands: int = 4, seed: int = 42,
    dim: int = 64,
) -> Column:
    """Array of ``bands`` band-bucket ids (OR-construction): the plane set
    splits into ``bands`` contiguous groups; each band's id packs that
    group's sign bits. Two vectors are LSH candidates when ANY band id
    matches — band collision probability (1-θ/π)^(planes/bands) per band,
    so recall rises with ``bands`` while candidate volume stays bounded by
    the per-band bit width. One fused projection per row."""
    assert planes % bands == 0, "planes must divide evenly into bands"
    per = planes // bands
    hp = _hyperplanes(dim, planes, seed)
    band_cols = []
    for b in range(bands):
        acc = None
        for j in range(per):
            i = b * per + j
            bit = F.when(
                dot(vec, _lit_vec(hp[i])) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            acc = bit if acc is None else acc + bit
        band_cols.append(acc.cast("long"))
    return F.array(*band_cols)


def ann_lsh_topk(
    emb_df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane bucket is
    within ``probe_hamming`` bits of the query's bucket (multi-probe).

    The bucket column would be precomputed/persisted in a real pipeline
    (write-once per table); then each query touches ~(1+planes)/2^planes
    of the data. The bucket projection and candidate scoring run on the
    Arrow fold-exact twins (bit-identical to the Column-HOF forms —
    ``band_buckets_pandas`` with one band packs exactly
    ``hyperplane_bucket``'s bit order).
    """
    dim = len(query_vec)
    hp = _hyperplanes(dim, planes, seed)
    qbucket = 0
    for i, plane in enumerate(hp):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            qbucket |= 1 << i
    with_bucket = emb_df.withColumn(
        "__bucket",
        F.element_at(
            band_buckets_pandas(planes=planes, bands=1, seed=seed, dim=dim)(
                F.col(vec_col)
            ),
            1,
        ),
    )
    cand = with_bucket.filter(
        F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qbucket))) <= probe_hamming
    )
    scored = cand.select(
        F.col(id_col), query_cosine_pandas(query_vec)(F.col(vec_col)).alias("sim")
    )
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)


def ivf_index(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
):
    """IVF coarse quantizer: k-means centroids + per-vector list
    assignment (the classic inverted-file ANN layout).

    Build ONCE per table (like the hyperplane buckets, the ``list_id``
    column would be persisted — e.g. as an Iceberg partition/bucket — so
    queries prune to probed lists at the scan). Returns
    (centroids: List[List[float]], assigned: DataFrame + list_id).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb_df.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__features"),
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__features",
                predictionCol="list_id")
    model = km.fit(feat)
    assigned = model.transform(feat).select(id_col, vec_col, "list_id")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return centroids, assigned


def ivf_assign(
    emb_df: DataFrame,
    centroids: List[List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """List assignment against FIXED centroid literals: list_id = argmax
    cosine (first index on exact ties). One fused projection — no fit, no
    shuffle — so the assignment is a pure deterministic function of
    (vector, centroids) that an external SQL oracle can replay exactly;
    use :func:`ivf_index` when you want learned (k-means) centroids
    instead. Same persistence story: write list_id once per table."""
    v = F.col(vec_col)
    scores = F.array(*[cosine(v, _lit_vec(c)) for c in centroids])
    return emb_df.select(
        F.col(id_col),
        v.alias(vec_col),
        (F.array_position(scores, F.array_max(scores)) - 1)
        .cast("int")
        .alias("list_id"),
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: List[List[float]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN query against an IVF index: rank centroids driver-side (tiny),
    scan only the ``n_probe`` nearest lists, exact cosine rerank inside.

    With list_id as a partition column the probe filter becomes partition
    pruning — each query touches ~n_probe/n_lists of the data."""

    def cos(a: Sequence[float], b: Sequence[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1e-12
        nb = math.sqrt(sum(x * x for x in b)) or 1e-12
        return num / (na * nb)

    ranked = sorted(
        range(len(centroids)), key=lambda i: -cos(centroids[i], query_vec)
    )
    probe = ranked[:n_probe]
    cand = assigned.filter(F.col("list_id").isin(probe))
    scored = cand.select(
        F.col(id_col), query_cosine_pandas(query_vec)(F.col(vec_col)).alias("sim")
    )
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)

