"""Near-duplicate detection: exact, MinHash+LSH, SimHash, n-gram Jaccard.

[extension] SURVEY.md §2 extension surface — the deduplication family a
training-data pipeline needs. All-pairs comparison is quadratic and
off the table at 100 TB; every operator here reduces to
hash → band/bucket → equi-join → verify:

- ``exact_dedup``: groupBy on a content fingerprint (one shuffle on
  the hash, map-side combine).
- ``minhash_signatures`` + ``minhash_candidates``: k independent
  min-hashes over token shingles (affine transforms of xxhash64 —
  deterministic, JVM-side); banding ORs r-size AND-bands so only
  bucket-colliding pairs are joined.
- ``simhash``: 64-bit bit-majority fingerprint; near-dups differ in
  few bits. Candidate pairing joins on rotated bit-blocks (pigeonhole:
  ≤d differing bits ⇒ some block of 4 matches exactly for d ≤ 3).
- ``ngram_jaccard_pairs``: exact token/shingle Jaccard via
  explode + equi-join on shingle + group count — the verify step for
  candidate pairs, or a standalone exact method at moderate scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import adopt, transfer
from ..functions.text import doc_fingerprint, shingles, tokens, normalize_text

# Prime just above 2^32 for affine minhash transforms; coefficients are
# bounded < 2^30 so a·h stays < 2^62 — no 64-bit overflow wrap.
_PRIME = 4294967311


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One survivor (min id) per normalized-content fingerprint."""
    return (
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _token_hashes(text_col: str, shingle_n: int) -> Column:
    """Distinct shingle hashes as array<long>.

    Tokens are hashed ONCE (xxhash64) and shingle hashes are built by
    polynomial combination of consecutive token hashes — far cheaper
    than materializing shingle strings and re-hashing them (string
    concat + hash per shingle dominated the minhash profile)."""
    from ..functions.text import let

    raw = F.transform(
        tokens(normalize_text(text_col)), lambda t: F.xxhash64(t)
    )
    if shingle_n <= 1:
        return F.array_distinct(raw)

    # let-bind the token-hash array: element_at references inside the
    # lambda would otherwise re-evaluate tokenize+hash per element.
    def build(th: Column) -> Column:
        k = F.size(th) - F.lit(shingle_n - 1)
        idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
            F.array().cast("array<int>")
        )

        def _combine(i):
            # Modular polynomial combine, values bounded < _PRIME
            # (~2^32) so acc·1000003 + h stays ≪ 2^63 — no overflow
            # even under ANSI mode (a wrapping combine throws there).
            acc = F.pmod(F.element_at(th, (i + 1).cast("int")), F.lit(_PRIME))
            for j in range(1, shingle_n):
                nxt = F.pmod(
                    F.element_at(th, (i + j + 1).cast("int")), F.lit(_PRIME)
                )
                acc = F.pmod(acc * F.lit(1000003) + nxt, F.lit(_PRIME))
            return acc

        return F.array_distinct(F.transform(idx, _combine))

    return let(raw, build)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>[num_hashes]) — minₛ (aᵢ·h(s)+bᵢ mod p)
    per hash family member. Pure expressions over xxhash64; empty docs
    get null signatures. The signature is one ``transform`` over the
    literal array of the family's (a, b) coefficients, so building the
    plan costs a constant number of JVM calls at any ``num_hashes``."""
    import random

    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(num_hashes)
    ]
    # Stage the token-hash array as a real column first: Catalyst does
    # NOT share the shingle+hash subtree across the num_hashes min
    # expressions below, so inlining it recomputes tokenization 32×
    # per row (measured: >100× slowdown at sf0.1). Pre-reducing each
    # hash mod p once also keeps the per-family work to one
    # multiply+add per element.
    staged = df.select(
        F.col(id_col),
        F.transform(
            _token_hashes(text_col, shingle_n),
            lambda h: F.pmod(h, F.lit(_PRIME)),
        ).alias("__th__"),
    )
    th = F.col("__th__")

    # The whole family is ONE parsed expression over a literal array of
    # (a, b) structs (the functions/vectors.py rule), so the build costs
    # the same few JVM calls at any num_hashes.
    family = ", ".join(f"named_struct('a', {a}, 'b', {b})" for a, b in coeffs)
    sig = F.expr(
        f"transform(array({family}), c -> array_min("
        f"transform(__th__, h -> pmod(h * c.a + c.b, {_PRIME}))))"
    )
    return staged.select(
        F.col(id_col), F.when(F.size(th) > 0, sig).alias("signature")
    )


def minhash_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 8,
) -> DataFrame:
    """LSH banding: pairs sharing any band bucket. One shuffle on
    (band, bucket-hash); bucket sizes follow collision probability, and
    AQE splits skewed buckets."""
    n_hashes = None  # derived per-row via slice
    sig = signatures.filter(F.col("signature").isNotNull())
    rows_per_band = F.floor(F.size("signature") / F.lit(n_bands)).cast("int")
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(
                            F.col("signature"),
                            (b * rows_per_band + 1).cast("int"),
                            rows_per_band,
                        ).cast("string")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def incremental_dedup_pipeline(
    catalog,
    sig_table: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    n_bands: int = 8,
    verify_threshold: float = 0.5,
    corpus_docs: DataFrame | None = None,
) -> DataFrame:
    """The production incremental-dedup cadence, end to end: compute
    the increment's minhash signatures, band-join them against the
    PERSISTED corpus signature table, exact-verify candidates against
    the documents, and append the increment's signatures to the table
    for the next batch.

    Per daily batch the corpus is touched exactly once (reading the
    signature table — a fraction of the corpus bytes), never re-
    shingled and never self-joined; cost scales with the increment.
    First run bootstraps the signature table from the increment alone.

    ``corpus_docs`` supplies the text for exact verification of
    increment-vs-corpus candidate pairs (defaults to ``new_docs``
    only — pass the full document table when historical text is
    retrievable). Returns verified near-dup pairs touching the
    increment; signatures are appended AFTER the pairs materialize so
    a failed run can simply re-run.
    """
    new_sigs = minhash_signatures(
        new_docs, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    ).cache()

    if catalog.exists(sig_table):
        corpus_sigs = catalog.read(sig_table)
        cand = incremental_minhash_candidates(
            new_sigs, corpus_sigs, id_col=id_col, n_bands=n_bands
        )
    else:
        cand = minhash_candidates(new_sigs, id_col=id_col, n_bands=n_bands)

    verify_docs = corpus_docs if corpus_docs is not None else new_docs
    pairs = verify_candidates_jaccard(
        cand, verify_docs, text_col=text_col, id_col=id_col,
        n=shingle_n, threshold=verify_threshold,
    )
    # Materialize pairs BEFORE mutating the signature table. This
    # cache is load-bearing for CORRECTNESS, not just speed: an
    # uncached `pairs` re-evaluated after the append below would
    # re-scan the signature table that now already contains the
    # increment (phantom self-pairs / changed results). Ownership of
    # the cache transfers to the caller (caching.release(result)).
    out = pairs.cache()
    out.count()

    if catalog.exists(sig_table):
        existing = catalog.read(sig_table)
        catalog.overwrite_via_staging(
            existing.unionByName(new_sigs), sig_table
        )
    else:
        catalog.overwrite(new_sigs, sig_table)
    new_sigs.unpersist()
    return adopt(out, out)


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 40,
    max_df: int | None = 100,
    guard_max_df: int | None = 10_000,
    family: str = "portable",
) -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprints: explode →
    DF-cap → self-equi-join on fingerprint → count shared ≥
    ``min_shared``. ``family`` picks the k-gram hash
    (:func:`winnow_fingerprints`): "portable" md5 replays in the
    oracle; "native" xxhash64 is the codegen production path — the
    join itself is family-agnostic (equi-join on whatever the
    fingerprint values are).

    ``max_df`` drops STOP-FINGERPRINTS — hashes occurring in more than
    ``max_df`` documents (boilerplate/common substrings). This is the
    standard MOSS refinement, and at scale it is load-bearing, not
    cosmetic: join output grows as Σ df(fp)², so one fingerprint
    shared by 3% of a corpus single-handedly quadratics the join
    (measured at sf0.1: hottest fp in 3,379/5,000 docs → 190M join
    rows, 82 s; capped at 100 → sub-second). A ubiquitous fingerprint
    also carries no near-dup signal — dropping it is what makes
    "shared fingerprints" mean similarity rather than popularity.
    The DF computation is one cheap aggregate on the exploded
    fingerprints; ``max_df=None`` disables the cap.

    The ``max_df=None`` escape hatch is GUARDED, not open: disabling
    the cap runs one bounded probe (operators/guards.py) that refuses
    with the offending fingerprint if any df exceeds ``guard_max_df``
    (default 10⁴ → ≤~5·10⁷ join rows from the hottest fingerprint) —
    the measured failure mode is one boilerplate hash in 3% of a
    corpus quadraticing the join. ``guard_max_df=None`` additionally
    disables the probe — an explicit double opt-in for intentionally
    unbounded runs on pre-cleaned corpora.
    """
    # The exploded fingerprints feed three plan branches (the DF
    # aggregate and both join sides); without a cache the md5-window
    # selection expression recomputes 3×. In a real pipeline this
    # frame is a persisted silver table (like minhash signatures).
    fps_cached = df.select(
        F.col(id_col),
        F.explode(
            winnow_fingerprints(F.col(text_col), k=k, w=w, family=family)
        ).alias("fp"),
    ).cache()
    fps = fps_cached
    if max_df is not None:
        dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df__"))
        fps = fps.join(
            dfreq.filter(F.col("__df__") <= max_df).select("fp"), "fp"
        )
    elif guard_max_df is not None:
        from .guards import assert_bounded_groups

        try:
            assert_bounded_groups(
                fps_cached,
                ["fp"],
                guard_max_df,
                "winnow_pairs(max_df=None)",
                "Set max_df to drop stop-fingerprints (the default "
                "path), raise guard_max_df, or pass guard_max_df=None "
                "to run unbounded on a pre-cleaned corpus.",
            )
        except Exception:
            fps_cached.unpersist()
            raise
    a, b = fps.alias("a"), fps.alias("b")
    # The exploded-fingerprint cache must outlive this call (three
    # branches of the returned lazy plan read it); the caller releases
    # it via mydatalake_spark.caching.release(result) after the action.
    return adopt(
        a.join(b, "fp")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared),
        fps_cached,
    )


def incremental_minhash_candidates(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 8,
) -> DataFrame:
    """Candidate pairs for an INCREMENT against a persisted corpus —
    the production dedup cadence (daily batch vs. the accumulated
    signature table), where re-running the full self-join would redo
    all historical work.

    Band-joins the increment's signatures against (corpus ∪ increment),
    so it finds both new-vs-corpus and new-vs-new pairs; cost scales
    with |increment| × collision rate, NOT |corpus|² — the corpus side
    is only scanned and hashed once per run (and its banded form can
    itself be a persisted table, making the incremental run's shuffle
    proportional to the increment alone). Pairs are canonicalized
    (id_a < id_b) and deduplicated across bands.
    """
    def banded(sigs: DataFrame) -> DataFrame:
        sig = sigs.filter(F.col("signature").isNotNull())
        rows_per_band = F.floor(
            F.size("signature") / F.lit(n_bands)
        ).cast("int")
        return sig.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("signature"),
                                (b * rows_per_band + 1).cast("int"),
                                rows_per_band,
                            ).cast("string")
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        ).select(id_col, "bb.band", "bb.bucket")

    left = banded(new_sigs).alias("a")
    right = banded(corpus_sigs.unionByName(new_sigs)).alias("b")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
            .alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
            .alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash long): bit-majority over token xxhash64 values.
    Expressed as an aggregate over a per-bit contribution array — one
    pass, no UDF."""
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits")
    hashes = _token_hashes(text_col, 1)
    # Literal per-bit weights: 2^0..2^62, and long-min for the sign bit
    # (1<<63 overflows; the sign-bit weight IS long-min). Bit test uses
    # bit_get (unsigned semantics); shift functions reject column
    # positions, so everything is driven off these literal arrays.
    weights = [1 << i for i in range(min(bits, 63))] + (
        [-(1 << 63)] if bits == 64 else []
    )
    positions = F.array(*[F.lit(i) for i in range(bits)])
    weight_arr = F.array(*[F.lit(w).cast("long") for w in weights])
    zero = F.array(*[F.lit(0).cast("long") for _ in range(bits)])

    counts = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            positions,
            lambda c, i: c + F.when(F.bit_get(h, i) == 1, 1).otherwise(-1),
        ),
    )
    # Each weight occupies a distinct bit, so summing set weights == OR.
    fingerprint = F.aggregate(
        F.zip_with(
            counts,
            weight_arr,
            lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col),
        F.when(F.size(hashes) > 0, fingerprint).alias("simhash"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    guard_max_df: int | None = 10_000,
    family: str = "portable",
) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold.

    ``family="portable"`` (default) shuffles and joins on the raw
    shingle STRINGS — byte-replayable in the oracle. ``family=
    "native"`` joins on ``xxhash64(shingle)`` instead: an 8-byte
    fixed-width shuffle key versus a ~20–40-byte string, which at
    100 TB is less shuffle I/O and cheaper hash-join probes for the
    operator's dominant cost (the Σdf² self-join). Jaccard values are
    identical unless two distinct shingles collide in xxhash64
    (P ≈ n_distinct²/2⁶⁵ — a ~10⁹-shingle corpus has odds ~3·10⁻²,
    and one collision perturbs one pair's count by 1); the per-round
    md5/string-vs-native cost is measured in BENCH's
    ``hash_family_tax`` section.

    explode → equi-join on shingle → per-pair intersection count →
    |A∪B| = |A|+|B|−|A∩B|. The join key is the shingle, so only docs
    *sharing* a shingle ever pair — no cross join, but join output
    still grows as Σ df(shingle)², so one boilerplate shingle in 3%
    of a corpus quadratics it (winnow_pairs measured exactly this).
    Unlike winnow, DROPPING hot shingles here would corrupt the exact
    Jaccard values, so the operator REFUSES instead (guards.py): any
    shingle hotter than ``guard_max_df`` raises with the offending
    key, pointing at the minhash path (near-dup semantics without
    exactness) or boilerplate_strip (remove template chrome first).
    ``guard_max_df=None`` opts out for pre-cleaned corpora.
    """
    # The exploded shingle frame feeds the guard probe plus three plan
    # branches (sizes, both join sides); cache it so shingling runs
    # once, not 3-4× (same ownership pattern as winnow_pairs: the
    # returned lazy plan adopts the cache, the caller releases it via
    # caching.release(result) after the action).
    if family not in ("portable", "native"):
        raise ValueError(f"unknown hash family {family!r}")
    sh = df.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("shingle")
    )
    if family == "native":
        # generators can't nest inside expressions; hash post-explode
        # (projection fuses into the same codegen stage as the explode)
        sh = sh.select(
            F.col(id_col), F.xxhash64("shingle").alias("shingle")
        )
    sh = sh.cache()
    if guard_max_df is not None:
        from .guards import assert_bounded_groups

        try:
            assert_bounded_groups(
                sh,
                ["shingle"],
                guard_max_df,
                "ngram_jaccard_pairs",
                "Strip boilerplate first (operators/paradedup.py:"
                "boilerplate_strip), switch to minhash_candidates (banded, "
                "df-bounded), raise guard_max_df, or pass guard_max_df=None "
                "for a pre-cleaned corpus.",
            )
        except Exception:
            sh.unpersist()
            raise
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b")
    )
    # Filter on the RAW ratio and round only in the output — mirroring
    # the ANSI-SQL shape ``WHERE ratio >= t SELECT ROUND(ratio, 6)`` so
    # a pair sitting just under t can't round itself into the result.
    raw = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return adopt(
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard")),
        sh,
    )


def verify_candidates_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-verify candidate pairs: true shingle Jaccard computed for
    ONLY the ``(id_a, id_b)`` pairs in ``candidates``.

    This is the second half of the standard near-dup pipeline
    (minhash_signatures → minhash_candidates → HERE): the quadratic
    exact comparison runs on the tiny candidate set, not the corpus.
    Each side of the pair joins against the per-doc distinct-shingle
    array (two broadcast-able hash joins on doc id); the intersection
    size is a per-row ``array_intersect`` — no explode, no shuffle
    beyond the id joins.

    Output (id_a, id_b, jaccard≥threshold) matches
    :func:`ngram_jaccard_pairs` exactly on any candidate set with full
    recall — which is what makes an end-to-end SQL oracle possible:
    candidates→verify equals the exact all-pairs result iff the
    candidate generator missed nothing above the threshold.
    """
    sh = df.select(F.col(id_col), shingles(text_col, n).alias("__sh__"))
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("__sh__").alias("__sha__")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("__sh__").alias("__shb__")
    )
    inter = F.size(F.array_intersect("__sha__", "__shb__"))
    raw = inter / (
        F.size("__sha__") + F.size("__shb__") - inter
    )
    return (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )


def simhash_hamming_pairs(
    pairs: DataFrame,
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """Attach ``hamming`` = popcount(simhash_a XOR simhash_b) to each
    ``(id_a, id_b)`` pair — two id equi-joins + a per-row bit_count,
    no shuffle beyond the joins."""
    fa = fingerprints.select(
        F.col(id_col).alias("id_a"), F.col(sim_col).alias("__ha__")
    )
    fb = fingerprints.select(
        F.col(id_col).alias("id_b"), F.col(sim_col).alias("__hb__")
    )
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("__ha__").bitwiseXOR(F.col("__hb__"))),
        )
        .drop("__ha__", "__hb__")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool | None = None,
    n_bands: int | None = None,
    bits_per_band: int | None = None,
    dim: int | None = None,
    max_exact_rows: int = 1_000_000,
    auto_plan: bool = True,
    auto_recall: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, score)``
    with ``id_a < id_b`` and ``cosine >= threshold``.

    Completes the dedup family (exact / minhash / simhash / jaccard /
    embedding-cosine; reference has none of these — [extension] per
    SURVEY.md §7.1 M5). Vectors are L2-normalized in ONE projection
    pass so the pairwise step is a bare dot product.

    ``exact=True`` is the verifiable baseline: all-pairs, computed as a
    blocked matrix product — the corpus's normalized matrix broadcasts
    to executors once and each Arrow batch of rows multiplies against
    it with BLAS (``mapInPandas``; a JVM theta-join with per-pair
    higher-order-function dots measured ~25× slower at 2k vectors).
    Work distributes over the row side; the broadcast side must fit in
    executor memory (~3 GB at 10^6 × 384-dim float64), which bounds
    this path at ~10^6 vectors — and in BYTES by
    :data:`EXACT_BLAS_BYTES_CAP` (rows × dim × 8 vs a 1 GiB driver
    budget, probed BEFORE the collect; ``ExactCorpusExceeded`` names
    the LSH remediation), since the row-count route alone admits
    multi-GB driver transfers at high dim — beyond that, block the
    corpus side too, or use ``exact=False``: candidates from the same
    random-hyperplane LSH banding as ``similarity.search.lsh_topk``
    (band equi-join ⇒ shuffle on band buckets, no cross join), then
    the exact cosine filter verifies — a recall<1 scale path, mirroring
    minhash_signatures → minhash_candidates → ngram_jaccard_pairs.
    ``auto_plan=True`` (the DEFAULT) derives ``(n_bands,
    bits_per_band)`` from the corpus size via
    ``similarity.search.lsh_plan`` (bits ∝ log2(n) keeps buckets —
    and thus candidate growth — bounded; extra bands restore
    ``auto_recall``, with the planner's quartered miss budget covering
    single-draw variance). Passing explicit ``n_bands`` AND
    ``bits_per_band`` pins the banding and disables the planner —
    for reproducible fixed parameters (e.g. the oracle queries).

    ``exact=None`` (the DEFAULT) auto-selects: corpora up to
    ``max_exact_rows`` take the exact broadcast path, larger ones the
    LSH-blocked path — so the default NEVER drives a corpus-sized
    ``collect()``/broadcast into an OOM at scale. The row count is one
    ``df.count()`` (metadata-cheap on parquet); ``dim`` is probed from
    the first vector when not given.
    """
    from ..functions.vectors import dot, l2_norm
    from ..similarity.search import _hyperplanes, lsh_plan

    n_rows: int | None = None
    if exact is None:
        n_rows = df.count()
        exact = n_rows <= max_exact_rows
    if not exact and dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            exact = True  # empty input: trivially fine on the exact path
        else:
            dim = first["d"]
    if not exact:
        pinned = n_bands is not None and bits_per_band is not None
        if auto_plan and not pinned and (
            n_bands is not None or bits_per_band is not None
        ):
            # Pinning is all-or-nothing: the planner derives the pair
            # jointly (bands×bits trade recall vs bucket growth), so a
            # single supplied value would be silently overridden —
            # fail loudly instead of surprising the caller.
            raise ValueError(
                "cosine_neardup_pairs: supply BOTH n_bands and "
                "bits_per_band to pin the banding, or neither to let "
                "the planner choose (got exactly one with "
                "auto_plan=True; pass auto_plan=False to use the "
                "fixed defaults for the missing value)"
            )
        if not pinned and not auto_plan:
            n_bands = n_bands if n_bands is not None else 8
            bits_per_band = (
                bits_per_band if bits_per_band is not None else 4
            )
        elif not pinned:
            if n_rows is None:
                n_rows = df.count()
            n_bands, bits_per_band = lsh_plan(
                threshold, target_recall=auto_recall, n_rows=n_rows
            )

    if exact:
        # raw vectors travel; normalization happens vectorized in numpy
        # on both sides (cosine = dot of unit vectors)
        raw = df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
            .alias("_nv"),
        )
        return _exact_pairs_blas(raw, id_col, threshold, n_rows=n_rows)

    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / l2_norm(vec_col)
    )
    # Cached: feeds the verify-side vector attaches (twice).
    normed = df.select(F.col(id_col), unit.alias("_nv")).cache()
    planes = _hyperplanes(dim, n_bands * bits_per_band, seed=2024)
    # Banding = ONE Arrow-batched matrix multiply (mapInPandas), not
    # n_bands×bits inline aggregate expressions: profiling at sf0.1
    # showed the expression-tree form spends ~8 s of FIXED driver time
    # (Catalyst optimizing 96 zip_with·aggregate plane dots) before any
    # data moves, dominating the runtime at both scales. A (rows×dim)
    # @ (dim×planes) BLAS product computes every projection at once;
    # sign(P·v) is invariant to positive scaling, so the banding reads
    # RAW vectors (no normalize pass) and emits one array<long> of
    # bucket keys per row — n_bands longs across Arrow, exploded
    # JVM-side. Embarrassingly parallel; no shuffle.
    import pandas as pd  # noqa: F401 — mapInPandas batch type
    import numpy as np

    plane_mat = np.asarray(planes, dtype=np.float64)  # (bands*bits, dim)
    bit_weights = (1 << np.arange(bits_per_band, dtype=np.int64))
    id_type = df.schema[id_col].dataType.simpleString()
    nb, bpb = n_bands, bits_per_band

    def _band_batches(batches):
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            mat = np.array(pdf["_rv"].tolist(), dtype=np.float64)
            proj = mat @ plane_mat.T                      # (m, bands*bits)
            bits_m = (proj >= 0).astype(np.int64).reshape(m, nb, bpb)
            buckets = (bits_m * bit_weights).sum(axis=2)  # (m, bands)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "buckets": list(buckets)}
            )

    raw = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double"))
        .alias("_rv"),
    )
    bucketed = raw.mapInPandas(
        _band_batches, schema=f"{id_col} {id_type}, buckets array<long>"
    )
    # Candidates are NARROW (ids only): carrying the vectors through
    # the band join would shuffle |candidates| × 2 vectors (~1 KB/row
    # at 64-dim double — measured 10× slower at sf0.1); instead pairs
    # dedupe as 16-byte rows and the vectors attach afterwards via two
    # id-joins against the corpus — the standard candidates→verify
    # shape (minhash_candidates → verify_candidates_jaccard).
    banded = bucketed.select(
        id_col, F.posexplode("buckets").alias("band", "bucket")
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    va = normed.select(
        F.col(id_col).alias("id_a"), F.col("_nv").alias("_va")
    )
    vb = normed.select(
        F.col(id_col).alias("id_b"), F.col("_nv").alias("_vb")
    )
    score = dot(F.col("_va"), F.col("_vb"))
    # `normed` stays cached past the return (it feeds the banding and
    # both verify-side joins of the returned lazy plan); ownership
    # transfers to the caller via caching.adopt — call
    # mydatalake_spark.caching.release(result) after the action.
    return adopt(
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", score.alias("_s"))
        .filter(F.col("_s") >= threshold)
        .select("id_a", "id_b", F.round("_s", 4).alias("score")),
        normed,
    )


#: Driver-side budget for the exact BLAS broadcast path: the collected
#: corpus materializes rows × dim float64 on the driver BEFORE the
#: broadcast, so the row-count auto-route alone (≤1 M rows) still
#: admits multi-GB transfers at high dim (1 M × 256-dim ≈ 2 GB).
#: Mirrors similarity.pq.ADC_QUERY_BATCH_CAP: a bytes-denominated
#: refusal with the scale-path remediation in the message.
EXACT_BLAS_BYTES_CAP = 1 << 30


class ExactCorpusExceeded(ValueError):
    """The exact all-pairs corpus would exceed the driver-side byte
    budget; the caller should take the LSH-blocked route."""


def _exact_pairs_blas(
    normed: DataFrame,
    id_col: str,
    threshold: float,
    bytes_cap: int = EXACT_BLAS_BYTES_CAP,
    n_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine via blocked BLAS: broadcast the corpus matrix
    (L2-normalized in numpy), stream Arrow batches of the row side
    through ``mapInPandas``, and emit pairs ``id_a < id_b`` with
    score >= threshold. No shuffle at all — one broadcast + an
    embarrassingly parallel map over the row-side partitions.
    Zero-norm vectors produce nan scores, which never pass the
    threshold (cosine undefined ⇒ excluded, matching the SQL oracle).

    Refuses (``ExactCorpusExceeded``) when rows × dim × 8 bytes would
    exceed ``bytes_cap`` (:data:`EXACT_BLAS_BYTES_CAP`): the corpus
    ``collect()`` lands on the DRIVER before broadcasting, and the
    ≤1 M-row auto-route bounds rows but not bytes — one cheap
    count+dim agg up front beats an OOM mid-collect.
    """
    import numpy as np

    def _unit(mat: "np.ndarray") -> "np.ndarray":
        with np.errstate(invalid="ignore", divide="ignore"):
            return mat / np.linalg.norm(mat, axis=1, keepdims=True)

    spark = normed.sparkSession
    # schema follows the actual id type — ids are not assumed integral
    id_t = normed.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_t}, id_b {id_t}, score double"
    if n_rows is not None:
        # auto-route already paid df.count(); still agg the TRUE max
        # dim (a first-row probe would let one short/null leading
        # vector understate a ragged corpus and defeat the OOM guard)
        n = n_rows
        d = normed.agg(F.max(F.size("_nv")).alias("d")).first()["d"]
    else:
        stats = normed.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size("_nv")).alias("d")
        ).first()
        n, d = stats["n"], stats["d"]
    est_bytes = n * (d or 0) * 8
    if est_bytes > bytes_cap:
        raise ExactCorpusExceeded(
            f"exact all-pairs corpus is ~{est_bytes:,} bytes "
            f"({n:,} rows × {d}-dim float64), over "
            f"the {bytes_cap:,}-byte driver budget. Use the "
            f"LSH-blocked route (cosine_neardup_pairs(exact=False) / "
            f"lower max_exact_rows) — recall<1 but corpus-size-"
            f"independent on the driver."
        )
    corpus = normed.collect()
    if not corpus:
        return spark.createDataFrame([], schema)
    c_ids = np.array([r[0] for r in corpus])
    c_mat = _unit(np.array([r[1] for r in corpus], dtype=np.float64))
    b_ids = spark.sparkContext.broadcast(c_ids)
    b_mat = spark.sparkContext.broadcast(c_mat)

    def compute(batches):
        import pandas as pd

        ids_c = b_ids.value
        mat_c = b_mat.value
        for pdf in batches:
            if pdf.empty:
                continue
            row_ids = pdf[id_col].to_numpy()
            rows = _unit(np.array(list(pdf["_nv"]), dtype=np.float64))
            with np.errstate(invalid="ignore"):
                scores = rows @ mat_c.T
                mask = (scores >= threshold) & (
                    row_ids[:, None] < ids_c[None, :]
                )
            i, j = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": row_ids[i],
                    "id_b": ids_c[j],
                    "score": np.round(scores[i, j], 4),
                }
            )

    return normed.mapInPandas(compute, schema)


def winnow_fingerprints(
    col: Column | str,
    k: int = 8,
    w: int = 4,
    family: str = "portable",
) -> Column:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03): hash every char ``k``-gram of the normalized text,
    slide a window of ``w`` consecutive hashes, keep each window's
    minimum, return the distinct selected hashes. Guarantees every
    match of length ≥ k+w−1 shares a fingerprint, with ~2/(w+1)
    density — the standard local fingerprinting scheme for plagiarism
    and near-dup detection.

    Two hash families, same contract (the MOSS guarantee holds for
    any hash; the SELECTED fingerprints differ between families, so
    pick one per corpus and stick to it):

    - ``family="portable"`` (default): md5 *hex* k-gram hash, window
      minimum = lexicographic string min — the exact same selection
      replays in any engine with md5 (the DuckDB oracle reproduces it
      list-for-list). This is what makes the winnow registry queries
      hash-checkable.
    - ``family="native"``: xxhash64 k-gram hash (whole-stage codegen,
      no digest string materialized), numeric min — the production
      default at scale, same split the bloom family made in r7;
      the md5-vs-xxhash64 cost is measured per round in BENCH's
      ``hash_family_tax`` section.

    All higher-order Column expressions
    — one pass, no UDF, no shuffle; at 100 TB this fuses with the
    scan like the other text operators, and fingerprints feed the
    same explode → equi-join pairing as minhash bands (never
    all-pairs)."""
    from ..functions.text import let as _let

    if family not in ("portable", "native"):
        raise ValueError(f"unknown hash family {family!r}")

    def build(t: Column) -> Column:
        n_grams = F.length(t) - F.lit(k - 1)
        gram_idx = F.when(n_grams > 0, F.sequence(F.lit(1), n_grams)) \
            .otherwise(F.array().cast("array<int>"))
        if family == "native":
            hashes = F.transform(
                gram_idx,
                lambda i: F.xxhash64(F.substring(t, i, F.lit(k))),
            )
        else:
            hashes = F.transform(
                gram_idx, lambda i: F.md5(F.substring(t, i, F.lit(k)))
            )

        def select_mins(hs: Column) -> Column:
            n_windows = F.greatest(F.size(hs) - F.lit(w - 1), F.lit(1))
            win_idx = F.when(
                F.size(hs) > 0, F.sequence(F.lit(1), n_windows)
            ).otherwise(F.array().cast("array<int>"))
            return F.array_distinct(
                F.transform(
                    win_idx,
                    lambda j: F.array_min(F.slice(hs, j, w)),
                )
            )

        return _let(hashes, select_mins)

    c = F.col(col) if isinstance(col, str) else col
    return _let(normalize_text(c), build)


def dedup_summary(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_n: int = 3,
    jaccard_threshold: float = 0.2,
    catalog=None,
    sig_table: str | None = None,
    n_bands: int = 8,
) -> DataFrame:
    """Corpus dedup dashboard: ONE row summarizing what the dedup
    family would remove — exact-duplicate rows (fingerprint groups
    beyond their keeper; the null-text group excluded) and
    near-duplicate membership (docs in ≥1 Jaccard≥threshold pair).
    Three one-row aggregates combined by broadcast scalar cross-joins.

    Near-pair generation has two paths:

    - **fed** (``catalog`` + existing ``sig_table``): band-join the
      PERSISTED minhash signature table (built by
      :func:`incremental_dedup_pipeline`) and exact-verify only the
      candidates — O(signatures + candidates), the 100 TB cadence
      where the dashboard reads silver-layer state instead of
      re-shingling the corpus. Recall follows the banding S-curve,
      so the fed number is the production estimate.
    - **recompute** (fallback): exact :func:`ngram_jaccard_pairs`
      over the documents — full recall, full shingle self-join cost;
      this is the oracle-checked path.
    """
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    fp = exact_dedup(docs, text_col=text_col).where(
        F.col("fingerprint").isNotNull()
    )
    exact = fp.agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum(F.col("n_copies") - 1).alias("n_exact_dup_rows"),
    )
    if (
        catalog is not None
        and sig_table is not None
        and catalog.exists(sig_table)
    ):
        cand = minhash_candidates(
            catalog.read(sig_table), id_col=id_col, n_bands=n_bands
        )
        near = verify_candidates_jaccard(
            cand, docs, text_col=text_col, id_col=id_col,
            n=jaccard_n, threshold=jaccard_threshold,
        )
    else:
        near = ngram_jaccard_pairs(
            docs, text_col=text_col, id_col=id_col,
            n=jaccard_n, threshold=jaccard_threshold,
        )
    near_docs = (
        near.select(F.explode(F.array("id_a", "id_b")).alias("id"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_near_docs"))
    )
    # ownership of any pair-generator cache moves to the frame the
    # caller releases (near.select(...) above orphaned the attribute)
    return transfer(
        near,
        total.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(near_docs))
        .select(
            "n_docs",
            "n_fingerprints",
            "n_exact_dup_rows",
            F.round(
                F.col("n_exact_dup_rows") / F.col("n_docs"), 6
            ).alias("exact_dup_ratio"),
            "n_near_docs",
            F.round(F.col("n_near_docs") / F.col("n_docs"), 6).alias(
                "near_dup_ratio"
            ),
        ),
    )

def portable_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures from an md5 hash family — ENGINE-PORTABLE
    and replayable in ANSI SQL, unlike the xxhash64 family of
    :func:`minhash_signatures`, which is the production path. This
    variant exists so the *estimator itself* can be oracle-measured:
    est-vs-exact Jaccard calibration needs both engines to derive
    bit-identical signatures.

    Family (r7, 4 LANES PER DIGEST): h_i(s) = the 8 hex chars at
    offset 8·(i % 4) of md5((i // 4)|s) — one md5 digest carries four
    independent 32-bit hash values, so k hashes cost ⌈k/4⌉ digests
    per shingle instead of k. Measured at sf0.1: the 16-hash
    signature pass drops 4.06 → 2.76 s (−32%). The digest arrays are
    staged as REAL COLUMNS first: Catalyst does not share the
    md5 subtree across separate array_min(transform(..)) expressions
    (the same non-CSE trap minhash_signatures documents for
    tokenization — measured: inlining recomputes md5 per lane and
    erases the whole win).
    """
    staged = df.select(
        F.col(id_col), shingles(text_col, shingle_n).alias("__sh__")
    )
    sh = F.col("__sh__")
    n_seeds = (num_hashes + 3) // 4

    def _digests(j: int):
        return F.transform(
            sh, lambda s: F.md5(F.concat_ws("|", F.lit(str(j)), s))
        )

    staged = staged.select(
        F.col(id_col),
        sh,
        *[_digests(j).alias(f"__m{j}__") for j in range(n_seeds)],
    )

    def _lane(i: int):
        j, lane = divmod(i, 4)
        return F.array_min(
            F.transform(
                F.col(f"__m{j}__"),
                lambda m: F.conv(
                    F.substring(m, 1 + 8 * lane, 8), 16, 10
                ).cast("long"),
            )
        )

    sig = F.array(*[_lane(i) for i in range(num_hashes)])
    return staged.select(
        F.col(id_col), F.when(F.size(sh) > 0, sig).alias("signature")
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Estimator-quality measurement: for every exact-Jaccard pair ≥
    ``threshold``, the MinHash estimate (matching-signature-position
    fraction) next to the exact value and the absolute error.

    The accuracy claim LSH dedup rests on ("k hashes ⇒ ±1/√k error")
    becomes a measured, oracle-checkable table instead of folklore.
    Cost shape: the exact pair set comes from the shingle equi-join
    (bounded, never all-pairs); signatures add one map-side pass; the
    estimate join touches only the surviving pairs.
    """
    pairs = ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, n=shingle_n,
        threshold=threshold,
    )
    sigs = portable_minhash_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        shingle_n=shingle_n,
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("__siga__")
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("__sigb__")
    )
    matches = F.size(
        F.filter(
            F.zip_with(
                F.col("__siga__"), F.col("__sigb__"), lambda x, y: x == y
            ),
            lambda m: m,
        )
    )
    est = matches.cast("double") / float(num_hashes)
    # the pair generator adopted its shingle cache onto `pairs`; the
    # joins below derive a new frame, so ownership moves to the frame
    # the caller actually releases
    return transfer(
        pairs,
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(est, 6).alias("est_jaccard"),
            F.round(F.abs(F.col("jaccard") - est), 6).alias("abs_err"),
        ),
    )

def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Exact-substring duplication stats (the windowed form of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better": long verbatim spans shared across documents are the
    highest-value dedup target). A ``window``-char window slides with
    ``stride`` over the normalized text; a position is DUPLICATED when
    its exact content appears in ≥2 distinct documents (internal
    repeats within one doc don't count — the cross-doc contract of the
    decontamination family). Returns per-doc
    (doc_id, n_windows, n_dup, frac_dup).

    Stride tradeoff: ``stride > 1`` only detects copies ALIGNED to the
    stride grid in both documents (full copies and common
    boilerplate-at-position are; arbitrarily-shifted fragments need
    ``stride=1`` at window×cost, or the suffix-array construction of
    the paper).

    Scale shape: windows explode to (doc, position) rows —
    len/stride per doc, a bounded constant-factor blowup chosen by
    ``stride`` — then ONE groupBy on window content (the join key is
    the content itself, so only genuinely repeated spans ever meet)
    and one doc-keyed rollup. No all-pairs anything; the hot keys are
    boilerplate spans, which is exactly what AQE skew-splits.
    """
    from ..functions.text import normalize_text

    norm = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__s__")
    ).where(F.length("__s__") >= window)
    pos = norm.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.lit(1),
                F.length("__s__") - F.lit(window - 1),
                F.lit(stride),
            )
        ).alias("__p__"),
        "__s__",
    )
    wins = pos.select(
        F.col(id_col),
        F.substring(F.col("__s__"), F.col("__p__"), F.lit(window))
        .alias("__w__"),
    )
    docs_per = (
        wins.distinct()
        .groupBy("__w__")
        .agg(F.count(F.lit(1)).alias("__nd__"))
    )
    return (
        wins.join(docs_per, "__w__")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("__nd__") >= 2).cast("long")).alias("n_dup"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ).alias("frac_dup"),
        )
    )
