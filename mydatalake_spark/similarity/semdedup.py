"""SemDeDup: cluster-scoped semantic deduplication of embeddings.

[extension] The SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication"):
partition the embedding space into clusters, compare vectors only
*within* their cluster, and drop every vector that has a
higher-priority near-identical neighbor (cosine ≥ θ) in the same
cluster. Compared to global pairwise near-dup (operators/neardup.py:
cosine_neardup_pairs) the pair candidate space shrinks from n² to
Σ cellᵢ² — with k balanced cells that is n²/k, and the cluster
assignment itself is a map-only pass.

Determinism: production SemDeDup uses k-means centroids (see
similarity/search.py:ivf_topk for that quantizer); here the centroid
*election* is content-addressed — the ``n_clusters`` vectors with the
smallest ``md5(id)`` — so the whole operator is reproducible and
oracle-expressible in ANSI SQL, independent of partitioning. Cell
assignment is argmax of cosine (rounded to 6 dp so both engines agree
at ties) with the centroid ordinal as tie-breaker.

Scale: assignment is a pure JVM expression against ``n_clusters``
literal centroid arrays (no UDF, no shuffle); the intra-cell pair join
is an equi-join on cell id, so AQE splits a skewed cell the same way
it splits any hot join key. At 100 TB you raise ``n_clusters`` so the
expected cell is small (SemDeDup's paper setting: 50k clusters for
LAION-scale corpora) and optionally pre-partition the assigned corpus
by cell, after which every cell's pair scan is partition-local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import _sql_dot, _sql_double_array, dot, l2_norm


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_backend: str = "blas",
) -> DataFrame:
    """One row per input vector: ``(id_col, cell int, is_dup boolean)``
    where ``is_dup`` marks vectors having a same-cell neighbor with a
    smaller id at cosine ≥ ``threshold`` (the keep-lowest-id survivor
    policy — deterministic, the SemDeDup "keep one per semantic
    duplicate set within a cluster" rule).

    ``pair_backend="blas"`` (default) resolves each cell with ONE
    grouped Arrow batch: sort the cell by id, one normalized gram
    matrix, upper-triangle any() — the whole intra-cell scan is a
    single ``applyInPandas`` after one shuffle on cell id, with no
    pair join and no dedup pass (3× the expression path at sf0.1;
    this is also how production SemDeDup runs, on GPUs).
    ``pair_backend="expr"`` keeps the pure-JVM pair equi-join for
    Python-worker-free deployments — identical results.

    Cell assignment scores every vector against the elected centroids
    with ONE ``transform`` over an ``array<array<double>>`` literal of
    them, so building the plan costs a constant number of JVM calls at
    any ``n_clusters``; NaN/±inf centroid components survive the
    literal bit for bit."""
    if pair_backend not in ("blas", "expr"):
        raise ValueError(f"unknown pair_backend: {pair_backend!r}")
    # Content-addressed centroid election: tiny (n_clusters × dim),
    # bounded collect — the deterministic stand-in for a k-means fit.
    cent_rows = (
        df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("__h__", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h__")
        .limit(n_clusters)
        .collect()
    )
    centroids = [list(r["v"]) for r in cent_rows]

    # Per-row norm computed ONCE, as a real column, and carried through
    # the pair join: each candidate pair then costs a single fold (the
    # dot product) instead of three — dot/(na·nb) is the exact same
    # arithmetic as cosine_similarity (and DuckDB's
    # LIST_COSINE_SIMILARITY), just with the row-constant factors
    # hoisted out of the O(Σcell²) loop (measured 3× on the sf0.1 pair
    # stage, bit-identical results). The centroid lambda below reads it
    # too, instead of re-folding the row vector per centroid.
    normed = df.withColumn("__nrm__", l2_norm(vec_col))
    # Centroid scores as ONE parsed expression over the n_clusters × dim
    # literal (the functions/vectors.py rule): the build costs the same
    # few JVM calls at any n_clusters. _sql_dot is vectors.dot's fold, so
    # scores are bit-identical to the Column-built cosine; zero-norm
    # vectors score -2, below every cosine.
    v = "`" + vec_col.replace("`", "``") + "`"
    denom = f"__nrm__ * sqrt({_sql_dot('__c', '__c')})"
    cents = ", ".join(_sql_double_array(c) for c in centroids)
    scores = F.expr(
        f"transform(cast(array({cents}) as array<array<double>>), "
        f"__c -> coalesce(round(CASE WHEN {denom} > 0 "
        f"THEN {_sql_dot(v, '__c')} / ({denom}) END, 6), -2.0D))"
    )
    # Cell = argmax of the centroid-score array; the array (n_clusters
    # cosine folds) is materialized ONCE through an intermediate
    # projection instead of being inlined twice by
    # array_position(a, array_max(a)) — see search._assign_argmax.
    from .search import _assign_argmax

    assigned = _assign_argmax(normed, scores, "cell").select(
        F.col(id_col),
        F.col(vec_col).alias("__v__"),
        F.col("__nrm__"),
        F.col("cell"),
    )

    if pair_backend == "blas":
        import numpy as np
        import pandas as pd  # noqa: F401 — applyInPandas batch type

        id_type = df.schema[id_col].dataType.simpleString()

        def scan_cell(pdf):
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            mat = np.array(pdf["__v__"].tolist(), dtype=np.float64)
            nrm = pdf["__nrm__"].to_numpy()
            safe = np.where(nrm > 0, nrm, 1.0)
            unit = mat / safe[:, None]
            g = unit @ unit.T
            # zero-norm rows have undefined cosine: never dup partners
            g[nrm == 0, :] = -2.0
            g[:, nrm == 0] = -2.0
            hit = np.triu(g >= threshold, k=1)  # i<j pairs only
            return pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": pdf["cell"],
                    "is_dup": hit.any(axis=0),
                }
            )

        return assigned.groupBy("cell").applyInPandas(
            scan_cell,
            schema=f"{id_col} {id_type}, cell int, is_dup boolean",
        )

    a = assigned.select(
        F.col(id_col).alias("__ida__"),
        F.col("__v__").alias("__va__"),
        F.col("__nrm__").alias("__na__"),
        "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("__idb__"),
        F.col("__v__").alias("__vb__"),
        F.col("__nrm__").alias("__nb__"),
        "cell",
    )
    pair_cos = F.when(
        F.col("__na__") * F.col("__nb__") > 0,
        dot("__va__", "__vb__") / (F.col("__na__") * F.col("__nb__")),
    )
    dup_ids = (
        a.join(b, "cell")
        .where(F.col("__ida__") < F.col("__idb__"))
        .where(pair_cos >= threshold)
        .select(F.col("__idb__").alias(id_col))
        .distinct()
        .withColumn("__dup__", F.lit(True))
    )
    return (
        assigned.join(dup_ids, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(F.col("__dup__"), F.lit(False)).alias("is_dup"),
        )
    )
