"""Approximate-nearest-neighbor search over embedding columns.

[extension] SURVEY.md §2 extension surface. Two strategies:

1. ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
   query set against the (huge) corpus, evaluate cosine JVM-side, and
   take per-query top-k with a ranking window. The corpus side never
   shuffles *rows* — only (query_id, score) pairs, pre-pruned
   map-side by InferWindowGroupLimit, reach the window shuffle. This
   is the correct 100 TB baseline when |queries| is broadcastable.

2. ``lsh_topk`` — random-hyperplane LSH (sign-bit buckets): corpus and
   queries hash to ``n_planes``-bit keys; candidates are equi-joined
   per (band, bucket) so the cross product never materializes; exact
   cosine re-ranks candidates. Recall grows with ``n_bands``
   (OR-amplification), precision with bits per band. The bucket join
   is a plain shuffle/broadcast equi-join — Catalyst/AQE pick the
   strategy and split skewed buckets.

Hyperplanes are generated from a seeded RNG on the driver (tiny:
n_planes × dim floats) and inlined as literal arrays — deterministic
across runs, no UDF, no closure serialization of numpy state.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import _sql_dot, _sql_double_array, cosine_similarity
from ..operators.dedup import dedup_latest


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    vectorized: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score) — k rows per
    query, ranked by (score desc, neighbor_id asc) for determinism.

    ``vectorized=True`` (default): the query matrix broadcasts and each
    Arrow batch of corpus rows scores against it with one BLAS matrix
    product, emitting only its local top-k per query (ties at the
    boundary included, so the global result stays EXACT); the final
    window ranks ~partitions×k candidates instead of the whole corpus.
    ``vectorized=False`` keeps the all-JVM expression path (no Python
    workers) — same results, ~20× slower arithmetic at 64 dims.
    """
    qid = query_id_col or id_col
    if vectorized:
        return _brute_force_topk_blas(
            corpus, queries, k, id_col, vec_col, qid, exclude_self
        )
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("__qvec__")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec__")
    )
    # Broadcast the query side: the corpus stays partition-local.
    pairs = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity("__qvec__", "__cvec__").alias("score"),
    )
    return dedup_topk(scored, k)


def _pair_schema(corpus, queries, id_col: str, qid: str) -> str:
    """Output schema derived from the actual id column types — ids are
    NOT assumed integral (string doc ids work)."""
    q_t = queries.schema[qid].dataType.simpleString()
    n_t = corpus.schema[id_col].dataType.simpleString()
    return f"query_id {q_t}, neighbor_id {n_t}, score double"


def _brute_force_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    qid: str,
    exclude_self: bool,
) -> DataFrame:
    """BLAS inner loop for ``brute_force_topk``: one broadcast of the
    normalized query matrix, an embarrassingly parallel scan of the
    corpus (no corpus shuffle), per-batch exact top-k pruning, then
    the global ranking window over the pruned candidate set."""
    import numpy as np

    def _unit(mat: "np.ndarray") -> "np.ndarray":
        with np.errstate(invalid="ignore", divide="ignore"):
            return mat / np.linalg.norm(mat, axis=1, keepdims=True)

    spark = corpus.sparkSession
    schema = _pair_schema(corpus, queries, id_col, qid)
    q_rows = queries.select(
        F.col(qid), F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ).collect()
    if not q_rows:
        return spark.createDataFrame([], schema)
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = _unit(np.array([r[1] for r in q_rows], dtype=np.float64))
    b_qids = spark.sparkContext.broadcast(q_ids)
    b_qmat = spark.sparkContext.broadcast(q_mat)

    raw = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double"))
        .alias("_cv"),
    )

    def score_batches(batches):
        import pandas as pd

        ids_q = b_qids.value
        mat_q = b_qmat.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = _unit(np.array(list(pdf["_cv"]), dtype=np.float64))
            with np.errstate(invalid="ignore"):
                s = c_mat @ mat_q.T  # (n_corpus_batch, n_queries)
            # Zero-norm vectors score NaN, which Spark's DESC ordering
            # ranks ABOVE every number — mask to -inf so undefined
            # similarity is excluded, matching the expression path
            # (cosine_similarity → null → dropped in dedup_topk).
            s = np.where(np.isnan(s), -np.inf, s)
            if exclude_self:
                s = np.where(
                    c_ids[:, None] == ids_q[None, :], -np.inf, s
                )
            n = s.shape[0]
            out_q, out_n, out_s = [], [], []
            for j in range(s.shape[1]):
                col = s[:, j]
                if n > k:
                    kth = np.partition(col, n - k)[n - k]
                    cand = np.nonzero(col >= kth)[0]  # ties included
                else:
                    cand = np.arange(n)
                out_q.append(np.full(len(cand), ids_q[j]))
                out_n.append(c_ids[cand])
                out_s.append(col[cand])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                }
            )

    scored = raw.mapInPandas(score_batches, schema).filter(
        F.col("score") != float("-inf")
    )
    return dedup_topk(scored, k)


def dedup_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (score desc, neighbor_id asc).

    Rows with undefined similarity (null or NaN score — zero-norm
    vectors) are excluded up front so every search path agrees: they
    are never candidates, instead of ranking first (NaN sorts above
    all numbers in Spark DESC) or last (null).
    """
    from pyspark.sql import Window

    scored = scored.filter(
        F.col("score").isNotNull() & ~F.isnan(F.col("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= k)
        .drop("__rk__")
    )


def lsh_plan(
    threshold: float,
    target_recall: float = 0.95,
    n_rows: int = 1_000_000,
    target_bucket_rows: int = 64,
    max_bands: int = 64,
) -> tuple[int, int]:
    """Choose ``(n_bands, bits_per_band)`` for sign-bit LSH from first
    principles — the knob that keeps LSH *sub-quadratic as the corpus
    grows* instead of silently saturating.

    With FIXED band parameters, expected candidate pairs scale as
    ``n² / 2^bits`` per band: quadratic over a constant, which is why
    a 4× corpus costs ~4× even though the plan "looks" bucketed. The
    scale-correct discipline is to grow ``bits`` with ``log2(n)`` so
    the expected bucket stays ``target_bucket_rows`` (candidates then
    scale ~linearly), and to compensate the recall loss by adding
    bands via the standard S-curve: a pair at cosine ``threshold``
    agrees on one sign bit with probability ``p = 1 − arccos(θ)/π``
    (Goemans–Williamson), survives a band with ``p^bits``, and is
    caught by ≥1 of ``r`` bands with ``1 − (1 − p^bits)^r ≥ recall``
    ⇒ ``r = ln(1−recall)/ln(1−p^bits)``.

    If the required bands exceed ``max_bands`` (tiny buckets + high
    recall + low threshold), bits step down until feasible — trading
    candidate volume for hash work, loudly deterministic. Returns the
    planned ``(n_bands, bits_per_band)``; the collision-probability
    guarantee is against the *threshold* cosine — pairs far above θ
    are caught with higher probability.

    The band solve budgets per-pair miss probability at
    ``(1 − target_recall)/4``, not ``1 − target_recall``: the S-curve
    is an EXPECTATION over hyperplane draws, but a deployment uses ONE
    fixed draw, and pairs sitting exactly at θ share that draw — on a
    small truth set a single unlucky draw drags observed recall well
    under the expectation (measured in r4: 0.857 observed vs 0.959
    expected on 14 θ-adjacent pairs). Quartering the budget costs
    ~40% more bands and restored observed recall to 1.0 at both bench
    sizes.
    """
    import math

    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1) cosine")
    if not 0 < target_recall < 1:
        raise ValueError("target_recall must be in (0, 1)")
    miss_budget = (1.0 - target_recall) / 4.0
    p = 1.0 - math.acos(threshold) / math.pi
    bits = max(1, math.ceil(math.log2(max(n_rows, 2) / target_bucket_rows)))
    while bits > 1:
        p_band = p ** bits
        if p_band > 1e-12:
            r = math.ceil(math.log(miss_budget) / math.log(1.0 - p_band))
            if r <= max_bands:
                return r, bits
        bits -= 1
    r = math.ceil(math.log(miss_budget) / math.log(1.0 - p))
    return min(r, max_bands), 1


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]



def _train_spherical_kmeans(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    seed: int = 42,
    sample_size: int = 4096,
    iters: int = 5,
):
    """Coarse-quantizer training shared by the per-query IVF path and
    the persisted index: spherical k-means on a BOUNDED, deterministic
    sample (orderBy(id).limit — reproducible across runs), driver-side
    numpy. The result is a tiny n_centroids×dim array that travels as
    a plan literal; nothing corpus-sized is ever collected."""
    import numpy as np

    sample = np.array(
        [
            [float(x) for x in r[0]]
            for r in corpus.select(vec_col).orderBy(id_col)
            .limit(sample_size).collect()
        ],
        dtype=np.float64,
    )
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = sample / norms
    rng = np.random.RandomState(seed)
    centroids = unit[rng.choice(len(unit), size=n_centroids, replace=False)]
    for _ in range(iters):  # spherical k-means on the sample
        sims = unit @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = unit[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    centroids[c] = m / n
    return centroids


def _centroid_scores_expr(centroids):
    """Column-name → array<double> of centroid dot products, as ONE
    parsed SQL expression: building it from per-coefficient Column
    objects would cost ~70 py4j calls per dot of driver time; a parsed
    SQL string is one call and identical Catalyst expressions."""

    def scores(vec_name: str) -> "F.Column":
        # plain column NAME only — it is embedded in SQL text; a
        # Column object's repr is not a valid identifier (e.g. Spark
        # Connect's "Column<'x'>") and would mis-compile silently
        if not isinstance(vec_name, str):
            raise TypeError(
                "_centroid_scores_expr needs a plain column name "
                f"(str), got {type(vec_name).__name__}"
            )
        dots = ", ".join(
            _sql_dot(f"`{vec_name}`", _sql_double_array(c)) for c in centroids
        )
        return F.expr(f"array({dots})")

    return scores


def _argmax_cell(scores) -> "F.Column":
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _assign_argmax(df: DataFrame, scores: "F.Column", out: str) -> DataFrame:
    """``df`` + column ``out`` = argmax index of the ``scores`` array,
    with the array materialized ONCE through an intermediate projection.

    ``array_position(a, array_max(a))`` embeds its argument twice, and
    for the centroid-score arrays each copy is n_centroids fold
    expressions — inlining doubles the parse/analysis tree and the
    per-row work (r14 measured on the PQ encode analogue: optimized
    plan 196 KB → 101 KB, noop-sink exec 3.3 → 2.2 s, codes
    bit-identical). The two-step projection halves it: the scores
    alias is referenced twice but is non-cheap, so CollapseProject
    keeps the layering (verified in-plan)."""
    tmp = f"__{out}_scores__"
    return (
        df.withColumn(tmp, scores)
        .withColumn(
            out,
            (F.array_position(F.col(tmp), F.array_max(F.col(tmp))) - 1)
            .cast("int"),
        )
        .drop(tmp)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 4096,
    iters: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means-partition the corpus, probe
    only the ``n_probe`` nearest cells per query, exact-rerank inside.

    The coarse quantizer is trained driver-side on a bounded sample
    (numpy, seeded — centroids are a tiny n_centroids×dim literal,
    broadcast inside the plan as constant arrays). Cell assignment is
    a pure JVM expression (argmax over centroid dot products), so the
    corpus pass is scan-local; the probe join is an equi-join on
    cell id. At 100 TB: cells give ~n_probe/n_centroids scan
    fraction, the assignment can be precomputed and partitioned-by —
    then each query touches only its probed partitions.
    """
    centroids = _train_spherical_kmeans(
        corpus, id_col, vec_col, n_centroids,
        seed=seed, sample_size=sample_size, iters=iters,
    )
    _cell_scores = _centroid_scores_expr(centroids)

    c_assigned = _assign_argmax(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec__"),
        ),
        _cell_scores("__cvec__"),
        "cell",
    )
    # queries probe their top-n_probe cells
    q_scored = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec__"),
        _cell_scores(vec_col).alias("__cs__"),
    )
    probe = q_scored.select(
        "query_id",
        "__qvec__",
        F.explode(
            F.slice(
                F.reverse(F.array_sort(
                    F.transform(
                        F.col("__cs__"),
                        lambda s, i: F.struct(s.alias("s"), i.alias("cell")),
                    )
                )),
                1,
                n_probe,
            )
        ).alias("p"),
    ).select("query_id", "__qvec__", F.col("p.cell").alias("cell"))

    cand = c_assigned.join(F.broadcast(probe), "cell")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_similarity("__qvec__", "__cvec__").alias("score"),
    )
    return dedup_topk(scored, k)


def _band_buckets_blas(
    df: DataFrame,
    id_col: str,
    out_id: str,
    vec_col: str,
    plane_mat,
    n_bands: int,
    bits_per_band: int,
) -> DataFrame:
    """Sign-bit band buckets as ONE Arrow-batched matrix multiply —
    the same rewrite as operators/neardup.py:cosine_neardup_pairs:
    building ``bands×bits`` inline aggregate expressions costs seconds
    of FIXED driver time (Catalyst optimizing ~100 zip_with·aggregate
    plane dots) before any data moves, dominating small inputs. A
    (rows×dim) @ (dim×planes) BLAS product computes every projection
    at once; one (band, bucket) pair per row per band comes back via
    posexplode. Embarrassingly parallel; no shuffle."""
    import numpy as np
    import pandas as pd  # noqa: F401 — mapInPandas batch type

    bit_weights = 1 << np.arange(bits_per_band, dtype=np.int64)
    id_type = df.schema[id_col].dataType.simpleString()
    nb, bpb = n_bands, bits_per_band

    def band_batches(batches):
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            mat = np.array(pdf["_rv"].tolist(), dtype=np.float64)
            proj = mat @ plane_mat.T                      # (m, bands*bits)
            bits_m = (proj >= 0).astype(np.int64).reshape(m, nb, bpb)
            buckets = (bits_m * bit_weights).sum(axis=2)  # (m, bands)
            yield pd.DataFrame(
                {out_id: pdf[id_col], "buckets": list(buckets)}
            )

    raw = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double"))
        .alias("_rv"),
    )
    return raw.mapInPandas(
        band_batches, schema=f"{out_id} {id_type}, buckets array<long>"
    ).select(out_id, F.posexplode("buckets").alias("band", "bucket"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bands: int = 8,
    bits_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH banding.

    Banding is the Arrow-batched matrix multiply
    (:func:`_band_buckets_blas`); candidates travel NARROW (ids only)
    through the band join and the vectors re-attach afterwards via id
    equi-joins — shuffling two ~KB vectors per candidate pair through
    the band join is measurably slower than the extra joins (same
    finding as the neardup LSH path)."""
    import numpy as np

    planes = _hyperplanes(dim, n_bands * bits_per_band, seed)
    plane_mat = np.asarray(planes, dtype=np.float64)

    c = _band_buckets_blas(
        corpus, id_col, "neighbor_id", vec_col, plane_mat,
        n_bands, bits_per_band,
    )
    q = _band_buckets_blas(
        queries, id_col, "query_id", vec_col, plane_mat,
        n_bands, bits_per_band,
    )
    cand = (
        c.join(q, ["band", "bucket"])
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec__"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec__")
    )
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("__qvec__", "__cvec__").alias("score"),
        )
    )
    return dedup_topk(scored, k)

def hard_negatives_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus vectors whose LABEL DIFFERS — the
    near-boundary examples a contrastive loss learns most from (random
    negatives are trivially far; same-label neighbors are positives).

    Same scale shape as the non-vectorized brute-force scorer (query
    side broadcasts, corpus stays partition-local, one ranking window
    over the scored frame) with the label-mismatch predicate applied
    BEFORE scoring, so excluded pairs never pay the dot product. For
    corpus-scale mining, route candidates through the IVF/LSH indexes
    first and apply the same label filter to the candidate set.
    Returns (query_id, neighbor_id, neighbor_label, score).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec__"),
        F.col(label_col).alias("__qlab__"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec__"),
        F.col(label_col).alias("neighbor_label"),
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neighbor_label") != F.col("__qlab__")),
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        cosine_similarity("__qvec__", "__cvec__").alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= k)
        .drop("__rn__")
    )
