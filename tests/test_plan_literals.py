"""Literal-heavy plan builders: exact double literals and a build cost
in JVM round trips that does not grow with the literal's size."""

import gc
import hashlib
import struct
from unittest import mock

from py4j import protocol as proto
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from mydatalake_spark.functions.vectors import _sql_double_array
from mydatalake_spark.operators.neardup import minhash_signatures
from mydatalake_spark.similarity.search import _centroid_scores_expr
from mydatalake_spark.similarity.semdedup import semantic_dedup

EDGE_DOUBLES = [
    float("nan"),
    float("inf"),
    float("-inf"),
    -0.0,
    5e-324,
    1e-05,
    1.7976931348623157e308,
]


def _bits(x):
    return struct.pack("<d", x)


def test_sql_double_array_round_trips_every_bit(spark):
    got = spark.range(1).select(
        F.expr(_sql_double_array(EDGE_DOUBLES)).alias("a")
    ).first().a
    assert [_bits(x) for x in got] == [_bits(x) for x in EDGE_DOUBLES]


def test_centroid_scores_expr_takes_non_finite_coefficients(spark):
    # one 1-dim centroid per edge value scored against [1.0]: the fold
    # is 0.0 + 1.0 * x, which Python evaluates in the same IEEE order
    scores = _centroid_scores_expr([[x] for x in EDGE_DOUBLES])
    got = spark.createDataFrame([([1.0],)], "v array<double>").select(
        scores("v").alias("s")
    ).first().s
    assert [_bits(x) for x in got] == [
        _bits(0.0 + 1.0 * x) for x in EDGE_DOUBLES
    ]


def _round_trips(build) -> int:
    """py4j commands sent while ``build()`` constructs its plan, after
    a warm-up build has done the one-time imports and JVM lookups.

    Memory-release commands are left out: they free handles to JVM
    objects whenever Python drops them, so they land in whichever
    build happens to be running, not in the one that made them."""
    build()
    gc.collect()
    calls = 0
    real = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        nonlocal calls
        calls += not command.startswith(proto.MEMORY_COMMAND_NAME)
        return real(self, command, *args, **kwargs)

    gc.disable()
    try:
        with mock.patch.object(GatewayClient, "send_command", counting):
            plan = build()
    finally:
        gc.enable()
    del plan
    return calls


def test_minhash_build_round_trips_do_not_grow_with_num_hashes(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i} shares some words with the rest") for i in range(8)],
        "doc_id long, text string",
    )
    small = _round_trips(lambda: minhash_signatures(docs, num_hashes=8))
    large = _round_trips(lambda: minhash_signatures(docs, num_hashes=64))
    assert large <= small, (small, large)


def test_semantic_dedup_build_round_trips_do_not_grow_with_n_clusters(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 11) - 5.0 for d in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    small = _round_trips(lambda: semantic_dedup(emb, n_clusters=2))
    large = _round_trips(lambda: semantic_dedup(emb, n_clusters=16))
    assert large <= small, (small, large)


def test_semantic_dedup_assigns_a_cell_to_non_finite_embeddings(spark):
    ids = list(range(12))
    # centroid election is the n_clusters smallest md5(id): make the
    # first two elected vectors carry NaN and +inf, and one vector that
    # is not elected carry -inf
    elected = sorted(
        ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )
    vecs = {i: [float(i % 5) - 2.0, 1.0, float(i % 3)] for i in ids}
    vecs[elected[0]][0] = float("nan")
    vecs[elected[1]][1] = float("inf")
    vecs[elected[-1]][2] = float("-inf")
    emb = spark.createDataFrame(
        [(i, vecs[i]) for i in ids], "vec_id long, embedding array<double>"
    )
    for backend in ("blas", "expr"):
        rows = semantic_dedup(
            emb, n_clusters=3, pair_backend=backend
        ).collect()
        assert sorted(r.vec_id for r in rows) == ids, backend
        assert all(r.cell is not None for r in rows), backend


def test_semantic_dedup_of_no_embeddings_is_empty(spark):
    # no centroid is elected, so the centroid literal is an empty array
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for backend in ("blas", "expr"):
        assert semantic_dedup(emb, pair_backend=backend).collect() == []
