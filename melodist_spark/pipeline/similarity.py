"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query set against the corpus, dot products via ``zip_with``/
``aggregate`` (JVM-side, no Python). Scale path: LSH bucketing via
random hyperplanes (signs of projections) so candidate generation is
an equi-join on bucket signatures, and an IVF-style coarse quantizer
(nearest of k sampled centroids) for partition pruning.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    # zero vectors → null (instead of an ANSI division error). A NaN
    # COMPONENT must also come out NULL: Spark compares NaN as larger
    # than every number, so an unguarded NaN cosine would pass every
    # `>= threshold` re-check (declaring a NaN-poisoned vector a
    # duplicate of its whole bucket) and rank TOP in every
    # descending ANN ordering — the exact trap the Arrow kernel's
    # wrapper already nulls out (_pair_cosine); the expr twin must
    # degrade identically (round 12).
    c = F.try_divide(_dot(a, b), _norm(a) * _norm(b))
    return F.when(~F.isnan(c), c)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbours for each query vector.

    ``queries`` is expected small → broadcast; the corpus is scanned
    once, the per-query ranking is a window top-k (rank over the
    crossed frame). Self-matches (same id) are excluded.
    Returns (query_id, neighbor_id, cos_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    crossed = c.join(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    sims = crossed.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (no RNG state —
    any session, any engine literal reproduces it).

    Components are md5-seeded Box-Muller gaussians, which makes the
    plane family isotropic and FULL-RANK — the property SimHash's
    collision bound 1 − θ/π (Charikar 2002, random-hyperplane
    rounding) actually requires. The original
    ``sin(a + p·131.071 + j·17.23)`` generator looked uniform per
    plane but decomposes as sin(jθ)cos(φ_p) + cos(jθ)sin(φ_p): every
    plane lived in ONE 2-dimensional subspace (measured rank 2 at 16
    planes, pairwise |cos| up to 0.99), so k planes cut ~2k angular
    sectors of a 2-D shadow instead of 2^k cells — at a 2M-vector
    corpus, 14 planes produced 28 distinct buckets of ~71k vectors
    where true hyperplanes give ~16k buckets of ~122. Candidate
    generation was correct (the exact-cosine re-check keeps only
    true pairs) but quadratically over-generated; pinned by
    ``test_hyperplane_family_full_rank``."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:{j}".encode()).hexdigest()
        # two independent 60-bit uniforms from one digest; u1 in (0,1]
        u1 = (int(h[:15], 16) + 1) / float((1 << 60) + 1)
        u2 = int(h[15:30], 16) / float(1 << 60)
        vals.append(
            math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
        )
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


def lsh_bucket_signature(
    vec: Column, dim: int, num_planes: int = 16
) -> Column:
    """Random-hyperplane LSH: the sign pattern of ``num_planes``
    projections as an integer bucket id. Cosine-similar vectors
    collide with high probability.

    Column-expression form — exact but builds a ``num_planes × dim``
    literal expression tree whose codegen cost dwarfs the data work.
    Prefer :func:`lsh_bucket_udf` (one Arrow-batched matmul) in real
    plans; this stays as the expression-only reference.
    """
    sig = F.lit(0)
    for p in range(num_planes):
        plane = _hyperplane(dim, p)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    # degenerate vectors bucket to NULL instead of colliding: a
    # zero-norm or NaN-poisoned vector projects to no-positive-sign
    # on EVERY plane of EVERY table, so all such vectors would share
    # bucket 0 — one quadratic candidate clique at crawl scale (the
    # embedding twin of the blank-doc minhash guard; the cosine
    # re-check already NULLs their similarity, making the pairs pure
    # wasted join work). NULL never equi-joins, so they generate no
    # candidates and near-dup retains them.
    bad = F.exists(
        vec,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    zero = (
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double"))
        )
        == 0
    )
    return F.when(
        vec.isNull() | bad | zero, F.lit(None).cast("long")
    ).otherwise(sig)


def lsh_bucket_udf(dim: int, num_planes: int = 16, plane_offset: int = 0):
    """Vectorized LSH signature: for each Arrow batch, one
    ``(batch × dim) @ (dim × planes)`` float64 matmul, then pack the
    sign bits into a long. Same planes and same per-element
    ``double(x) * plane[j]`` math as :func:`lsh_bucket_signature`, so
    the bucket ids agree; the per-row cost is a BLAS row instead of an
    interpreted fold, which is what survives a 100 TB corpus.

    ``plane_offset`` selects a DISJOINT slice of the deterministic
    plane table — table ``t`` of an OR-amplified index uses planes
    ``t*k .. (t+1)*k - 1`` (:func:`embedding_index` ``num_tables``)."""
    planes = np.array(
        [
            _hyperplane(dim, plane_offset + p)
            for p in range(num_planes)
        ],
        dtype=np.float64,
    ).T  # (dim, planes)
    powers = (np.int64(1) << np.arange(num_planes, dtype=np.int64))

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        raw = v.to_numpy()
        isnull = np.array([a is None for a in raw])
        x = np.vstack(
            [np.zeros(dim) if a is None else a for a in raw]
        ).astype(np.float64)  # (n, dim)
        # same degenerate-vector guard as lsh_bucket_signature: NULL
        # bucket (no candidates) for zero-norm / non-finite / null
        # vectors, which would otherwise all collide in bucket 0
        ok = (
            ~isnull
            & np.isfinite(x).all(axis=1)
            & (np.abs(x).sum(axis=1) > 0)
        )
        proj = x @ planes  # (n, planes)
        vals = ((proj > 0) * powers).sum(axis=1)
        # dtype=object: nullable long — int64 would coerce to float64
        return pd.Series(
            [int(b) if o else None for b, o in zip(vals, ok)],
            dtype="object",
        )

    # asNondeterministic: __bucket becomes a join/filter key downstream
    # (candidate equi-joins null-reject their keys), and the optimizer
    # pushes a copy of that isnotnull below the projection, duplicating
    # the ArrowEvalPython so every vector pays the matmul twice (guide
    # §4.4). The kernel is pure; the flag only stops the cloning.
    return _bucket.asNondeterministic()


def neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 4096,
    arrow: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidate join.

    The all-pairs O(n²) cosine comparison becomes an equi self-join on
    the hyperplane bucket (collision probability rises with cosine
    similarity), then an exact cosine re-check ≥ ``threshold`` on the
    candidates only. ``id_a < id_b`` canonicalizes each pair. At corpus
    scale the bucket join is the only shuffle; fewer planes trade more
    candidate work for higher recall.

    Skew guard (same construction as ``lsh_candidate_pairs``): buckets
    larger than ``max_bucket`` split into g salt groups by an id hash,
    the left side replicated across partner salts — identical pair
    set, O(m²) straggler task becomes g tasks of ~m²/g.
    """
    bucket = lsh_bucket_udf(dim, num_planes)
    b = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        bucket(F.col(vec_col)).alias("__bucket"),
    )
    return _bucketed_cosine_pairs(b, threshold, max_bucket, arrow=arrow)


def _bucketed_cosine_pairs(
    b: DataFrame, threshold: float, max_bucket: int | None,
    arrow: bool = False,
) -> DataFrame:
    """Salted equi self-join on ``__bucket`` + exact cosine re-check —
    the shared candidate machinery of :func:`neardup_pairs` (LSH
    buckets) and :func:`semantic_dedup` (k-means cells). ``b`` carries
    (__id, __v, __bucket); returns (id_a, id_b, cos_sim) with
    ``id_a < id_b`` and ``cos_sim >= threshold``.

    ``arrow=True`` swaps the per-pair JVM HOF dot (zip_with +
    aggregate — CodegenFallback, interpreted per element) for ONE
    Arrow-batched numpy kernel over the joined pair batches
    (row-wise einsum over the stacked float64 matrices). The join
    shape — and therefore the candidate set, the salting, and the
    shuffle — is IDENTICAL; only the scalar cosine moves to the
    vectorized worker pool. numpy's SIMD-blocked summation is not
    bit-identical to the JVM's sequential fold (differences land at
    ~1e-16 relative), so the expr form remains the engine-portable
    oracle shape and the Arrow form is the scale kernel — the same
    twin policy as ``minhash_signature_arrow``; the differential
    test pins the pair sets equal and values to 1e-12."""
    if max_bucket is None:
        x = b.select(
            F.col("__id").alias("id_a"), F.col("__v").alias("__va"), "__bucket"
        )
        y = b.select(
            F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), "__bucket"
        )
        pairs = x.join(y, "__bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        # window count instead of groupBy+self-join: the two join
        # branches share one shuffle of b (ReuseExchange), so the
        # Arrow-batched bucket UDF runs once over the corpus, not
        # once per branch
        sized = b.withColumn(
            "__m", F.count("*").over(Window.partitionBy("__bucket"))
        )
        g = F.greatest(
            F.lit(1), F.ceil(F.col("__m") / F.lit(max_bucket))
        ).cast("int")
        salt = F.pmod(F.xxhash64(F.col("__id")), g).cast("int")
        x = sized.select(
            "__bucket",
            F.col("__id").alias("id_a"),
            F.col("__v").alias("__va"),
            F.explode(F.sequence(F.lit(0), g - 1)).alias("__salt"),
        )
        y = sized.select(
            "__bucket",
            F.col("__id").alias("id_b"),
            F.col("__v").alias("__vb"),
            salt.alias("__salt"),
        )
        pairs = x.join(y, ["__bucket", "__salt"]).filter(
            F.col("id_a") < F.col("id_b")
        )
    cos = _pair_cosine(F.col("__va"), F.col("__vb"), arrow)
    sims = pairs.select("id_a", "id_b", cos.alias("cos_sim"))
    return sims.filter(F.col("cos_sim") >= threshold)


def _pair_cosine(va: Column, vb: Column, arrow: bool) -> Column:
    """The two cosine kernels behind every pair re-check: the JVM
    HOF-expression form (engine-portable — the oracle shape) or the
    Arrow batched-einsum form (one row-wise numpy kernel per joined
    batch — the scale shape). A zero vector must come out NULL in
    BOTH forms: the expr form's ``try_divide`` does it natively; the
    kernel's 0/0 is NaN, and Spark orders NaN ABOVE every number, so
    an unguarded NaN would sail through ``>= threshold`` and declare
    a zero vector a near-duplicate of its whole bucket — the wrapper
    nulls it out (the UDF is extracted into its own ArrowEvalPython
    node, so the double reference evaluates it once). Malformed rows
    degrade identically in both forms: a NULL array or a
    length-mismatched pair comes out NULL from the expr twin
    (``zip_with`` pads with nulls, the null poisons the sum), so the
    kernel masks them to NaN instead of letting ``np.vstack`` raise a
    task failure — the NaN wrapper then absorbs them. Rows are
    grouped by length so a ragged-but-valid batch (mixed-dim corpora)
    still vectorizes per dim."""
    if not arrow:
        return cosine_similarity(va, vb)

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if n == 0:
            return pd.Series([], dtype="float64")
        av, bv = a.to_numpy(), b.to_numpy()

        def _len(r) -> int:
            return len(r) if r is not None and np.ndim(r) == 1 else -1

        la = np.fromiter((_len(r) for r in av), dtype=np.int64, count=n)
        lb = np.fromiter((_len(r) for r in bv), dtype=np.int64, count=n)
        valid = (la > 0) & (la == lb)
        out = np.full(n, np.nan)
        for d in np.unique(la[valid]):
            m = valid & (la == d)
            x = np.vstack(av[m]).astype(np.float64)
            y = np.vstack(bv[m]).astype(np.float64)
            num = np.einsum("ij,ij->i", x, y)
            den = np.sqrt(np.einsum("ij,ij->i", x, x)) * np.sqrt(
                np.einsum("ij,ij->i", y, y)
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                out[m] = num / den
        return pd.Series(out)

    c = _cos(va, vb)
    return F.when(~F.isnan(c), c)


def embedding_index(
    corpus: DataFrame,
    dim: int,
    num_planes: int = 8,
    num_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Durable embedding near-dup state for incremental ingest:
    ``(id, embedding, bucket_0..bucket_{T-1})`` — the embedding-side
    analogue of :func:`dedup.minhash_index`. Unlike MinHash (where
    the signature suffices), the exact cosine re-check needs the
    vector itself, so the state is the embedding plus its
    precomputed hyperplane buckets (~4·dim + 8·T B per doc — i.e.
    the vector store IS the index, which is how production embedding
    dedup works anyway). Store partitioned/bucketed BY ``bucket_0``:
    the incremental check's only shuffle is the bucket equi-join.
    Union each surviving batch's index in to advance the state.

    ``num_planes`` / ``num_tables`` are the standard LSH AND-OR
    knobs (the cosine analogue of MinHash banding): each table ANDs
    ``num_planes`` sign bits over its own DISJOINT slice of the
    deterministic plane family, and a candidate collides if ANY
    table's buckets agree. Recall for a pair whose per-plane
    agreement is ``p``: ``1 - (1 - p^planes)^tables`` — more planes
    cut bucket sizes (candidate work), more tables buy the recall
    back at 8 B/doc each. All T tables' buckets come from ONE Arrow
    matmul against the stacked ``(dim × T·k)`` plane matrix — one
    pass over the vectors regardless of T; table ``t`` uses the same
    deterministic planes ``t·k .. (t+1)·k − 1`` as
    ``lsh_bucket_udf(plane_offset=t·k)``, so any session reproduces
    the same buckets.

    Every ``bucket_t`` field carries ``num_planes`` / ``num_tables``
    / the plane-family tag as schema metadata (:func:`_emb_meta`) —
    it survives select/union and the parquet round trip, so
    :func:`embedding_neardup_against` can verify a stored index was
    built with the parameters the caller now claims instead of
    silently missing duplicates on a planes mismatch (the bucket
    values of different plane counts live in the same long space)."""
    planes = np.array(
        [_hyperplane(dim, p) for p in range(num_tables * num_planes)],
        dtype=np.float64,
    ).T  # (dim, T*k)
    powers = np.int64(1) << np.arange(num_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        raw = v.to_numpy()
        isnull = np.array([a is None for a in raw])
        x = np.vstack(
            [np.zeros(dim) if a is None else a for a in raw]
        ).astype(np.float64)
        # degenerate-vector guard (see lsh_bucket_signature): NULL
        # bucket array — element_at yields NULL per table, explode
        # emits no rows — instead of every zero/NaN vector sharing
        # bucket 0 in EVERY table
        ok = (
            ~isnull
            & np.isfinite(x).all(axis=1)
            & (np.abs(x).sum(axis=1) > 0)
        )
        bits = (x @ planes) > 0  # (n, T*k)
        out = bits.reshape(len(x), num_tables, num_planes) @ powers
        return pd.Series(
            [list(row) if o else None for row, o in zip(out, ok)],
            dtype="object",
        )

    tmp = "__bkts"
    while tmp in corpus.columns:
        tmp += "_"
    meta = _emb_meta(num_planes, num_tables)
    # asNondeterministic: bucket_t columns key the table equi-joins;
    # see lsh_bucket_udf — stops filter-pushdown duplication
    return corpus.withColumn(
        tmp, _buckets.asNondeterministic()(F.col(vec_col))
    ).select(
        F.col(id_col),
        F.col(vec_col),
        *[
            F.element_at(tmp, t + 1).alias(f"bucket_{t}", metadata=meta)
            for t in range(num_tables)
        ],
    )


def _emb_meta(num_planes: int, num_tables: int) -> dict:
    """Schema metadata stamped on every ``bucket_t`` column of an
    :func:`embedding_index` frame: the AND-OR parameters and the
    plane-family tag the buckets were computed with. ``plane_family``
    names the deterministic ``_hyperplane`` construction so a future
    plane-generation change cannot silently mix bucket spaces."""
    return {
        "num_planes": num_planes,
        "num_tables": num_tables,
        "plane_family": "deterministic_v1",
    }


def stamp_embedding_index(
    df: DataFrame, num_planes: int, num_tables: int
) -> DataFrame:
    """Attach plane/table metadata to an index frame that lost it
    (schema rebuilt by an external writer). The caller asserts the
    parameters — bucket values of different plane counts are
    indistinguishable, so only use this for frames whose provenance
    is known."""
    meta = _emb_meta(num_planes, num_tables)
    others = [c for c in df.columns if not c.startswith("bucket_")]
    return df.select(
        *others,
        *[
            F.col(f"bucket_{t}").alias(f"bucket_{t}", metadata=meta)
            for t in range(num_tables)
        ],
    )


def _check_index_tables(
    df: DataFrame, num_tables: int, what: str, num_planes: int | None = None
) -> None:
    """Fail loudly when an :func:`embedding_index` frame was built
    with different parameters than the caller now claims — a mismatch
    would otherwise degrade SILENTLY into missed duplicates (too few
    tables read → lost OR-amplification recall; a planes mismatch →
    disjoint bucket spaces, zero collisions) or an AnalysisException
    naming an internal column (too many tables). Two layers: the
    bucket COLUMNS pin T structurally (``bucket_0 .. bucket_{T-1}``
    present, ``bucket_T`` absent), and the schema METADATA stamped by
    :func:`embedding_index` pins ``num_planes`` + the plane family —
    the half no column shape can reveal. Metadata-less frames (built
    outside :func:`embedding_index`) fail the planes check with a
    pointer to :func:`stamp_embedding_index`."""
    missing = [
        f"bucket_{t}" for t in range(num_tables) if f"bucket_{t}" not in df.columns
    ]
    if missing:
        raise ValueError(
            f"{what} is missing bucket columns {missing}: it was built "
            f"with fewer than num_tables={num_tables} tables (columns: "
            f"{df.columns})"
        )
    if f"bucket_{num_tables}" in df.columns:
        raise ValueError(
            f"{what} has column bucket_{num_tables}: it was built with "
            f"MORE than num_tables={num_tables} tables — pass the value "
            "the index was built with or duplicates will be missed "
            f"(columns: {df.columns})"
        )
    if num_planes is None:
        return
    want = _emb_meta(num_planes, num_tables)
    meta = dict(df.schema["bucket_0"].metadata or {})
    got = {k: meta.get(k) for k in want}
    if got["num_planes"] is None:
        raise ValueError(
            f"{what} carries no plane metadata on bucket_0 — it was "
            "built outside embedding_index() (or its schema was "
            "rebuilt without metadata). Rebuild it, or assert its "
            "provenance with stamp_embedding_index(df, num_planes, "
            "num_tables); matching blindly would read a planes "
            "mismatch as zero collisions (silently missed duplicates)."
        )
    if got != want:
        raise ValueError(
            f"{what} was built with {got} but this call asks for "
            f"{want} — buckets from different plane parameters share "
            "the long space, so a mismatch reads as missed duplicates. "
            "Pass the values the index was built with."
        )


def _bucket_long_form(
    df: DataFrame, tag: str, id_col: str, num_tables: int
) -> DataFrame:
    """(id, table, bucket) long form of an :func:`embedding_index`
    frame — one narrow posexplode of the T bucket columns; vectors
    deliberately left behind (joined back per candidate). Shared by
    the AND-OR candidate joins of :func:`embedding_neardup_against`
    and :func:`lsh_topk`."""
    return df.select(
        F.col(id_col).alias(tag),
        F.posexplode(
            F.array(*[f"bucket_{t}" for t in range(num_tables)])
        ).alias("__tbl", "__bucket"),
    )


def embedding_neardup_against(
    batch: DataFrame,
    index: DataFrame,
    dim: int,
    threshold: float = 0.9,
    num_planes: int = 8,
    num_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = False,
    batch_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: drop batch documents whose
    cosine against any previously-indexed embedding reaches
    ``threshold`` — the daily-ingest increment for semantic dedup,
    without re-comparing the historical corpus against itself (the
    analogue of :func:`dedup.neardup_against`, with the exact-cosine
    re-check MinHash can't give).

    Candidates come from the batch buckets equi-joined against the
    stored index buckets (a two-table join, NOT the self-join — AQE
    skew splitting covers hot buckets; there is no quadratic term in
    the index size, only in per-bucket collision counts). Matches
    re-check exact cosine (``arrow=True`` for the einsum kernel) and
    hit batch ids are anti-joined away.

    ``num_planes`` / ``num_tables`` must match the values the index
    was built with — the planes are deterministic, so any session
    reproduces the same buckets. BOTH are verified against the index
    frame itself and a mismatch raises (silently it would read as
    missed duplicates): ``num_tables`` structurally from the bucket
    columns, ``num_planes`` + the plane family from the schema
    metadata :func:`embedding_index` stamps on them (parquet
    round-trips it). With T tables a pair is a candidate
    when ANY table's buckets agree (OR-amplification); the candidate
    id pairs are deduplicated BEFORE the vectors join in, so a pair
    colliding in several tables pays one cosine. ``batch_index``
    passes the batch's own :func:`embedding_index` when already in
    hand (computed for the index advance); streaming ingest composes
    this per micro-batch via ``foreachBatch``, the standard
    stream-vs-index shape (same policy as the minhash incremental
    path).

    Returns the surviving batch rows; union their
    :func:`embedding_index` into the store afterwards."""
    _check_index_tables(index, num_tables, "stored index", num_planes)
    bidx = (
        batch_index
        if batch_index is not None
        else embedding_index(
            batch, dim, num_planes, num_tables, id_col, vec_col
        )
    )
    if batch_index is not None:
        _check_index_tables(bidx, num_tables, "batch_index", num_planes)

    cand = (
        _bucket_long_form(bidx, "__bid", id_col, num_tables)
        .join(
            _bucket_long_form(index, "__iid", id_col, num_tables),
            ["__tbl", "__bucket"],
        )
        .select("__bid", "__iid")
        .distinct()
    )
    bs = bidx.select(
        F.col(id_col).alias("__bid"), F.col(vec_col).alias("__bv")
    )
    isx = index.select(
        F.col(id_col).alias("__iid"), F.col(vec_col).alias("__iv")
    )
    hits = (
        cand.join(bs, "__bid")
        .join(isx, "__iid")
        .withColumn("__cos", _pair_cosine(F.col("__bv"), F.col("__iv"), arrow))
        .filter(F.col("__cos") >= float(threshold))
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return batch.join(hits, id_col, "left_anti")


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    k: int = 64,
    threshold: float = 0.95,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 4096,
    centroids: "np.ndarray | None" = None,
    arrow: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, compare pairs
    only *within* a cluster, keep one representative per
    cosine-≥-threshold duplicate group.

    Composition of existing scale-shaped pieces: the deterministic
    Lloyd quantizer (:func:`train_kmeans_centroids` — the k×dim model
    is the only driver round-trip), the Arrow-matmul cell assignment
    (:func:`ivf_assign`), the salted within-cell cosine join (shared
    with :func:`neardup_pairs` — ``max_cell`` bounds a popular cell's
    join work), and connected-components labeling
    (``dedup.duplicate_clusters``). The SemDeDup approximation is
    inherited deliberately: duplicates that k-means separates into
    different cells are not compared — that is what makes the method
    sub-quadratic; raise ``k`` for tighter cells (paper uses
    k ≈ n/10⁴) and ``threshold`` for precision.

    Returns (id, cluster_id, keep): every corpus row labeled with its
    duplicate-group representative (its own id when unique), ``keep``
    true exactly once per group (the min id — deterministic).

    ``centroids`` (k × dim) skips the Lloyd training and dedups
    against a PRE-TRAINED coarse quantizer — the production shape:
    the quantizer is a model artifact trained once per corpus (the
    same one IVF search uses, e.g. ``pinned.IVF_CENTROIDS``), and
    given the literal matrix the whole op is a pure function of the
    data that an external engine can replay (assignment is the
    ``ivf_assign`` argmax, the rest is joins) — which is what puts
    it under the DuckDB oracle as the ``semantic_dedup`` registry
    row.

    ``arrow=True`` runs the within-cell cosine as the Arrow einsum
    kernel instead of the per-pair JVM HOF dot — same candidate set
    and join shape, vectorized scalar; the scale path (see
    ``_bucketed_cosine_pairs`` and tools/semdedup_scale_smoke.py).

    ``checkpoint_dir`` / ``resume`` pass through to the
    connected-components labeling: on a real cluster the CC rounds
    should truncate to reliable storage (executor loss replays one
    round) instead of executor-local localCheckpoint blocks, and a
    restart with ``resume=True`` continues the rounds from the
    recorded manifest instead of label round 0 — same contract as
    ``dedup.duplicate_clusters`` (the quantizer/assign/pair stages
    upstream of CC are recomputed; only the CC fixpoint resumes).
    """
    from .dedup import duplicate_clusters

    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        if cents.ndim != 2 or cents.shape[0] == 0:
            raise ValueError(
                "centroids must be a non-empty 2-D (k, dim) matrix, "
                f"got shape {cents.shape}"
            )
        if cents.shape[1] != dim:
            raise ValueError(
                f"centroids dim {cents.shape[1]} != corpus dim {dim}"
            )
    else:
        cents = train_kmeans_centroids(
            corpus, k=k, dim=dim, iters=iters, id_col=id_col, vec_col=vec_col
        )
    b = ivf_assign(corpus, cents, vec_col=vec_col).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col("__cell").alias("__bucket"),
    )
    pairs = _bucketed_cosine_pairs(b, threshold, max_cell, arrow=arrow)
    labels = duplicate_clusters(
        pairs, checkpoint_dir=checkpoint_dir, resume=resume
    )
    return (
        corpus.select(id_col)
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize each query to its
    nearest cell centroid (cosine), then exact top-k within that cell
    only.

    Cells are the values of ``label_col`` — a pre-existing partition
    key, or the assignment from :func:`train_kmeans_centroids` +
    :func:`ivf_assign`. At corpus scale the probe touches ``n_probe``
    cells instead of the whole corpus — candidate generation is an
    equi-join on the assigned cells; the centroid table (cells × dim,
    long form) broadcasts. Raising ``n_probe`` trades work for recall
    exactly as in FAISS-style IVF. Returns
    (query_id, neighbor_id, cos_sim, rank).
    """
    # cell centroids, long form (label, pos, c)
    cent = (
        corpus.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(label_col, "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    ql = queries.select(
        F.col(id_col).alias("query_id"), F.posexplode(vec_col).alias("pos", "qv")
    ).withColumn("qv", F.col("qv").cast("double"))
    cell_sims = (
        ql.join(F.broadcast(cent), "pos")
        .groupBy("query_id", label_col)
        .agg(
            F.sum(F.col("qv") * F.col("c")).alias("dot"),
            F.sum(F.col("qv") * F.col("qv")).alias("qq"),
            F.sum(F.col("c") * F.col("c")).alias("cc"),
        )
        .withColumn(
            "cell_cos",
            F.try_divide(F.col("dot"), F.sqrt("qq") * F.sqrt("cc")),
        )
    )
    wcell = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col(label_col).asc()
    )
    assigned = (
        cell_sims.withColumn("__rn", F.row_number().over(wcell))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", label_col)
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).join(F.broadcast(assigned), "query_id")
    cand = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), label_col
    ).join(F.broadcast(q), label_col).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sims = cand.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane bucket in ANY
    of ``num_tables`` tables (the LSH AND-OR construction — see
    :func:`embedding_index`), then exact cosine re-rank over the
    deduplicated candidates. At 100 TB the bucket join replaces the
    full cross product; ``num_planes`` prices candidate work (bucket
    size halves per plane), ``num_tables`` buys recall back — the
    same knobs, measured in `tools/embedding_increment_smoke.py` and
    `tools/ann_scale_smoke.py`."""
    c = embedding_index(corpus, dim, num_planes, num_tables, id_col, vec_col)
    q = embedding_index(queries, dim, num_planes, num_tables, id_col, vec_col)

    cand = (
        _bucket_long_form(c, "neighbor_id", id_col, num_tables)
        .join(
            F.broadcast(
                _bucket_long_form(q, "query_id", id_col, num_tables)
            ),
            ["__tbl", "__bucket"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    sims = (
        cand.join(
            F.broadcast(
                q.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("__qv"),
                )
            ),
            "query_id",
        )
        .join(
            c.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__cv"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def train_kmeans_centroids(
    corpus: DataFrame,
    k: int,
    dim: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 65536,
) -> np.ndarray:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer,
    trained on a bounded sample (FAISS-style — the same boundary as
    :func:`train_pq_codebooks`).

    The first ``sample`` corpus vectors in md5(id) order are a
    reproducible, partitioning-invariant draw; init is the first
    ``k`` of those. Lloyd then runs driver-side in numpy over the
    sample — assignment uses the exact cosine-argmax/lowest-index
    tie-break arithmetic of :func:`ivf_assign`, so the sample-trained
    cells mean the same thing the full-corpus ingest assignment later
    applies. The (k × dim) centroid matrix IS the model (k·dim
    floats); the corpus is touched ONCE, by the sampling scan —
    previously each Lloyd iteration was a full corpus scan + matmul
    (3 scans of a 100 TB table before ingest even starts; measured
    46 s of a 2M-vector smoke), which is exactly why FAISS trains
    coarse quantizers on samples. Keep :func:`ivf_assign` full-corpus
    only for the single final ingest assignment.

    Empty cells keep their previous centroid. Returns (k, dim) float64.
    """
    h = F.md5(F.col(id_col).cast("string"))
    rows = (
        corpus.select(h.alias("__h"), F.col(vec_col))
        .orderBy("__h")
        .limit(max(int(sample), k))
        .collect()
    )
    if not rows:
        raise ValueError("cannot train k-means centroids on an empty corpus")
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    cents = x[:k].copy()
    xn = _normalize_rows(x)

    for _ in range(iters):
        cell = _nearest_cell(xn, _normalize_rows(cents))
        nxt = cents.copy()
        for c in range(len(cents)):
            pts = x[cell == c]
            if len(pts):
                nxt[c] = pts.mean(axis=0)
        cents = nxt
    return cents


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "__cell",
) -> DataFrame:
    """Attach each vector's nearest-centroid index (cosine argmax) via
    one Arrow-batched matmul per batch against the broadcast
    (k × dim) matrix. Ties break to the lowest cell index
    (numpy argmax), deterministically."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-30
    )

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        xn = _normalize_rows(np.vstack(v.to_numpy()).astype(np.float64))
        return pd.Series(_nearest_cell(xn, cn).astype("int32"))

    # NOTE: deliberately NOT asNondeterministic (unlike lsh_bucket_udf
    # and pq_encode): semantic_dedup's salted window path relies on its
    # two join branches canonicalizing EQUAL so the sized shuffle is
    # reused; a nondeterministic _cell breaks that equality and the
    # row re-runs the shuffle+matmul per branch (measured +80% at
    # sf0.1). The IVF probe joins key on the query side's collected
    # cells, so the filter-pushdown duplication the others guard
    # against does not bite here.
    return corpus.withColumn(out_col, _cell(F.col(vec_col)))


def _normalize_rows(x: np.ndarray) -> np.ndarray:
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)


def _nearest_cell(xn: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """Cosine argmax of normalized rows ``xn`` over normalized
    centroids ``cn``; ties break to the lowest cell index."""
    return (xn @ cn.T).argmax(axis=1)


def _pq_codes(xn: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) uint8 PQ codes of normalized rows ``xn``: per subspace,
    the nearest sub-centroid by L2 (ties to the lowest code)."""
    m, _, dsub = books.shape
    codes = np.empty((len(xn), m), dtype=np.uint8)
    for s in range(m):
        xs = xn[:, s * dsub : (s + 1) * dsub]
        cs = books[s]
        d2 = (
            (xs * xs).sum(axis=1, keepdims=True)
            - 2.0 * xs @ cs.T
            + (cs * cs).sum(axis=1)
        )
        codes[:, s] = d2.argmin(axis=1).astype(np.uint8)
    return codes


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
    sample: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks, FAISS-style: train on a
    bounded deterministic sample, encode the corpus distributed.

    The vector space splits into ``m`` subspaces of ``dim/m``
    dimensions; each gets its own ``ksub``-centroid Lloyd quantizer,
    trained here in numpy over the first ``sample`` corpus vectors in
    md5(id) order (a reproducible draw — the industry-standard
    sample-then-train boundary: the *model* is m·ksub·dsub floats, the
    corpus never leaves the cluster). Vectors are L2-normalized first
    so PQ distances approximate cosine, matching the other ANN paths.

    Returns (m, ksub, dim//m) float64.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if not 1 <= ksub <= 256:
        # codes are stored as uint8 — a larger ksub would silently
        # wrap argmin indices into wrong centroids
        raise ValueError(f"ksub must be in [1, 256], got {ksub}")
    dsub = dim // m
    h = F.md5(F.col(id_col).cast("string"))
    rows = (
        corpus.select(h.alias("__h"), F.col(vec_col))
        .orderBy("__h")
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    x = _normalize_rows(np.array([r[vec_col] for r in rows], dtype=np.float64))
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        k = min(ksub, len(xs))
        cents = xs[:k].copy()
        for _ in range(iters):
            d2 = (
                (xs * xs).sum(axis=1, keepdims=True)
                - 2.0 * xs @ cents.T
                + (cents * cents).sum(axis=1)
            )
            code = d2.argmin(axis=1)
            for c in range(k):
                pts = xs[code == c]
                if len(pts):
                    cents[c] = pts.mean(axis=0)
        if k < ksub:  # degenerate tiny corpus: pad with repeats
            cents = np.vstack([cents, np.repeat(cents[:1], ksub - k, axis=0)])
        books[s] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector to ``m`` bytes (nearest sub-centroid per
    subspace, L2 over the normalized vector) — a BINARY column, so a
    64-dim float corpus compresses 32× before any index is built.
    One Arrow-batched distance matmul per subspace per batch; ties
    break to the lowest code (argmin), deterministically."""
    books = codebooks.copy()

    @pandas_udf("binary")
    def _enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = _normalize_rows(np.vstack(v.to_numpy()).astype(np.float64))
        return pd.Series([c.tobytes() for c in _pq_codes(x, books)])

    # asNondeterministic: see lsh_bucket_udf — stops filter-pushdown
    # duplication of the encode matmuls
    return df.withColumn(
        out_col, _enc.asNondeterministic()(F.col(vec_col))
    )


def _decode_pq_codes(pdf, code_col: str, m: int) -> np.ndarray:
    """Binary m-byte codes column -> (n, m) uint8 matrix."""
    return np.frombuffer(
        b"".join(pdf[code_col].to_numpy()), dtype=np.uint8
    ).reshape(len(pdf), m)


def _adc_scores(lut_q: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Asymmetric-distance scores for one query: sum of per-subspace
    LUT gathers. ``lut_q`` is (m, ksub), ``codes`` (n, m)."""
    m = codes.shape[1]
    return lut_q[np.arange(m), codes].sum(axis=1)


def _empty_topk(spark, schema):
    return spark.createDataFrame([], schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation:
    each query builds an (m × ksub) inner-product lookup table against
    the codebooks (driver-side — queries are the small side), and a
    corpus code's score is the sum of m table gathers — no float
    vector is touched at scan time, so the working set is the m-byte
    codes (the 100 TB story: a 32×-compressed corpus scan).

    Each Arrow batch emits only its per-query top-k partials
    (q·k rows), so the final exact window ranks a tiny frame.
    Pass ``code_col`` to reuse a pre-encoded corpus (else encodes
    on the fly). Returns (query_id, neighbor_id, pq_score, rank).
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    m, ksub, dsub = codebooks.shape
    spark = corpus.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return _empty_topk(
            spark,
            "query_id long, neighbor_id long, pq_score double, rank long",
        )
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qx = _normalize_rows(
        np.array([r[vec_col] for r in qrows], dtype=np.float64)
    )
    # LUT[q, s, c] = <query subvector, codebook centroid>
    lut = np.einsum(
        "qsd,scd->qsc", qx.reshape(len(qx), m, dsub), codebooks
    )
    bc = spark.sparkContext.broadcast((qids, lut))

    if code_col is None:
        corpus = pq_encode(corpus, codebooks, vec_col=vec_col)
        code_col = "pq_code"
    src = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(code_col))
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("pq_score", DoubleType()),
        ]
    )
    kk = int(k)
    ccol = code_col

    def score(batches):
        ids_q, tbl = bc.value
        nq = len(ids_q)
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            codes = _decode_pq_codes(pdf, ccol, m)
            nid = pdf["neighbor_id"].to_numpy(np.int64)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                s = _adc_scores(tbl[qi], codes)
                s[nid == ids_q[qi]] = -np.inf  # exclude self-match
                top = min(kk, n)
                part = np.argpartition(-s, top - 1)[:top]
                out_q.append(np.full(top, ids_q[qi]))
                out_n.append(nid[part])
                out_s.append(s[part])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "pq_score": np.concatenate(out_s),
                }
            )

    partial = src.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .filter(F.col("pq_score") > float("-inf"))
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    code_col: str | None = None,
) -> DataFrame:
    """IVF-PQ — the standard billion-scale ANN layout: an IVF coarse
    quantizer prunes the scan to ``n_probe`` cells per query AND the
    pruned scan reads only m-byte PQ codes (ADC LUT scoring), so at
    100 TB the per-query work is (corpus/cells · n_probe) rows ×
    m bytes — both factors compound.

    ``coarse_centroids`` (cells × dim) and ``codebooks``
    (m × ksub × dsub) come from :func:`train_kmeans_centroids` and
    :func:`train_pq_codebooks`. Pass ``cell_col``/``code_col`` to
    reuse a pre-assigned, pre-encoded corpus (the deployment shape:
    assign+encode once at ingest, store codes next to ids, drop the
    float vectors from the hot path). Queries probe their ``n_probe``
    nearest cells (cosine, driver-side — queries are the small side).
    Returns (query_id, neighbor_id, pq_score, rank).
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    m, ksub, dsub = codebooks.shape
    spark = corpus.sparkSession
    if cell_col is None:
        corpus = ivf_assign(corpus, coarse_centroids, vec_col=vec_col)
        cell_col = "__cell"
    if code_col is None:
        corpus = pq_encode(corpus, codebooks, vec_col=vec_col)
        code_col = "pq_code"

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return _empty_topk(
            spark,
            "query_id long, neighbor_id long, pq_score double, rank long",
        )
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qx = _normalize_rows(
        np.array([r[vec_col] for r in qrows], dtype=np.float64)
    )
    cn = _normalize_rows(coarse_centroids.astype(np.float64))
    order = np.argsort(-(qx @ cn.T), axis=1, kind="stable")
    probes = order[:, : int(n_probe)]  # (q, n_probe) cell ids
    lut = np.einsum("qsd,scd->qsc", qx.reshape(len(qx), m, dsub), codebooks)
    bc = spark.sparkContext.broadcast((qids, probes, lut))

    # scan only the union of probed cells (partition pruning when the
    # corpus is stored partitioned/clustered by cell)
    probed = sorted({int(c) for row in probes for c in row})
    src = corpus.filter(F.col(cell_col).isin(probed)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("__cell_v"),
        F.col(code_col),
    )
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("pq_score", DoubleType()),
        ]
    )
    kk = int(k)
    ccol = code_col

    def score(batches):
        ids_q, prb, tbl = bc.value
        nq = len(ids_q)
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            codes = _decode_pq_codes(pdf, ccol, m)
            nid = pdf["neighbor_id"].to_numpy(np.int64)
            cell = pdf["__cell_v"].to_numpy(np.int64)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                mask = np.isin(cell, prb[qi]) & (nid != ids_q[qi])
                if not mask.any():
                    continue
                s = _adc_scores(tbl[qi], codes[mask])
                top = min(kk, len(s))
                part = np.argpartition(-s, top - 1)[:top]
                out_q.append(np.full(top, ids_q[qi]))
                out_n.append(nid[mask][part])
                out_s.append(s[part])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "pq_score": np.concatenate(out_s),
                    }
                )

    partial = src.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
    )


def pq_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Both PQ deployment shapes from ONE scored corpus scan,
    method-tagged 'pq' / 'ivfpq' (round 14, guide §2.3/§2.4/§4.1):
    running :func:`pq_topk` and :func:`ivf_pq_topk` side by side
    encodes the corpus twice and crosses the Python boundary five
    times (two encode evals, one cell eval, two scoring scans) for
    scores that are literally the same numbers — an ivfpq score is
    the pq ADC score of a row whose cell the query probes. This
    kernel normalizes each batch once, derives codes and cells with
    the helpers ``pq_encode`` and ``ivf_assign`` call
    (:func:`_pq_codes`, :func:`_nearest_cell`) and the per-query ADC
    scores once, and emits BOTH methods' per-batch top-k partials;
    one window per (method, query) ranks the tiny partial frame.

    Identical to the pair of public ops up to within-batch ties: the
    codes, cells and scores are the same float ops, but when several
    rows tie at a batch's k-th score, ``argpartition`` may keep a
    different one than the public op's scan does. Pin-tested
    (``test_pq_ivfpq_fused_matches_public_ops``). The fused form is
    the bench/deployment shape; the public ops remain the
    composable API (and the ``cell_col``/``code_col`` injection
    parameters remain the encode-once-at-ingest path).
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    m, ksub, dsub = codebooks.shape
    spark = corpus.sparkSession
    out_schema = StructType(
        [
            StructField("method", StringType()),
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("pq_score", DoubleType()),
        ]
    )
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return _empty_topk(
            spark,
            "method string, query_id long, neighbor_id long, "
            "pq_score double, rank long",
        )
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qx = _normalize_rows(
        np.array([r[vec_col] for r in qrows], dtype=np.float64)
    )
    lut = np.einsum("qsd,scd->qsc", qx.reshape(len(qx), m, dsub), codebooks)
    cn = _normalize_rows(coarse_centroids.astype(np.float64))
    order = np.argsort(-(qx @ cn.T), axis=1, kind="stable")
    probes = order[:, : int(n_probe)]  # (q, n_probe) cell ids
    bc = spark.sparkContext.broadcast((qids, probes, lut, cn))
    books = codebooks.copy()
    kk = int(k)

    src = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col)
    )
    vcol = vec_col

    def score(batches):
        ids_q, prb, tbl, cents_n = bc.value
        nq = len(ids_q)
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            xn = _normalize_rows(
                np.vstack(pdf[vcol].to_numpy()).astype(np.float64)
            )
            codes = _pq_codes(xn, books)
            cell = _nearest_cell(xn, cents_n)
            nid = pdf["neighbor_id"].to_numpy(np.int64)
            out_m, out_q, out_n, out_s = [], [], [], []
            for qi in range(nq):
                s_all = _adc_scores(tbl[qi], codes)
                # pq partial: full scan, self masked to -inf
                # (filtered after the rank window, as in pq_topk)
                s_pq = s_all.copy()
                s_pq[nid == ids_q[qi]] = -np.inf
                top = min(kk, n)
                part = np.argpartition(-s_pq, top - 1)[:top]
                out_m.append(np.full(top, "pq", dtype=object))
                out_q.append(np.full(top, ids_q[qi]))
                out_n.append(nid[part])
                out_s.append(s_pq[part])
                # ivfpq partial: probed cells only, self excluded
                # (ivf_pq_topk's mask), scores are the same gathers
                mask = np.isin(cell, prb[qi]) & (nid != ids_q[qi])
                if mask.any():
                    s_iv = s_all[mask]
                    top2 = min(kk, len(s_iv))
                    part2 = np.argpartition(-s_iv, top2 - 1)[:top2]
                    out_m.append(np.full(top2, "ivfpq", dtype=object))
                    out_q.append(np.full(top2, ids_q[qi]))
                    out_n.append(nid[mask][part2])
                    out_s.append(s_iv[part2])
            yield pd.DataFrame(
                {
                    "method": np.concatenate(out_m),
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "pq_score": np.concatenate(out_s),
                }
            )

    partial = src.mapInPandas(score, out_schema)
    w = Window.partitionBy("method", "query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .filter(
            (F.col("method") == "ivfpq")
            | (F.col("pq_score") > float("-inf"))
        )
    )
