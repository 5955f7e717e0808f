"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k is the correctness baseline; the IVF variant
restricts the candidate set to the query's coarse cluster. The coarse
quantizer is a REAL deterministic k-means (``train_ivf_centroids``:
fixed seed, fixed iteration count, k-means++ init) trained offline on
a bounded deterministic sample (``load_embedding_sample`` — Spark-free
pyarrow read, so the DuckDB oracle trains the identical centroids);
the trained centroids embed as plan-time literals (the ``lsh_planes``
pattern) and assignment is a pure Column argmin — at 100 TB the
centroids broadcast by closure and the scan side streams without a
shuffle. All variants are pure DataFrame ops: the probe side is tiny
and **broadcast**.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _side(
    df,
    id_col: str,
    vec_col: str,
    id_alias: str,
    vec_alias: str,
    norm_alias: str,
    extra: dict | None = None,
):
    """Project (id, double vector, PRECOMPUTED norm [, extras]): norms
    cost O(rows·d) here vs O(queries·rows·d) if recomputed per pair
    inside the join."""
    v = _as_double(vec_col)
    cols = [
        F.col(id_col).alias(id_alias),
        v.alias(vec_alias),
        _norm(v).alias(norm_alias),
    ]
    for alias, col in (extra or {}).items():
        cols.append(col.alias(alias))
    return df.select(*cols)


def _ranked_topk(q, c, pred, k: int):
    """Score-join + per-query top-k shared by all three variants —
    rounding and tie-break semantics live in exactly one place.
    try_divide: a zero-norm vector (padded/empty doc) yields null cos
    (sorted last) instead of an ANSI DIVIDE_BY_ZERO job failure."""
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = c.join(F.broadcast(q), pred).select(
        "query_id",
        "neighbor_id",
        F.round(F.try_divide(dot, F.col("qn") * F.col("cn")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: every query row against every corpus
    row. Query side is broadcast (small by construction); corpus side
    never shuffles until the per-query top-k window, which AQE keeps
    partitioned by query_id. Output: (query_id, neighbor_id, cos, rank).

    Cosine is rounded to 6 before ranking so result order is stable
    across engines/float summation orders; ties break by neighbor id.
    Self-matches are excluded.
    """
    q = _side(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _side(emb, id_col, vec_col, "neighbor_id", "cv", "cn")
    return _ranked_topk(q, c, F.col("query_id") != F.col("neighbor_id"), k)


def lsh_planes(n_planes: int = 8, dim: int = 64, seed: int = 7) -> list[list[float]]:
    """Deterministic random-hyperplane set for sign-LSH, rounded so
    the identical literals embed in the DuckDB oracle SQL."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in row] for row in rs.standard_normal((n_planes, dim))]


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-LSH bucket id: bit i = (v · plane_i) > 0. Pure Column
    expression; the planes are plan-time literals (broadcast by
    closure, the inverse of the reference's rebuild-every-time prompt
    anti-pattern, SURVEY.md §4 X10). A string column name takes the
    single-parse SQL path (the ``ivf_assign`` builder note: 8 planes ×
    64-double literal arrays ≈ 500 py4j round trips as Columns)."""
    if isinstance(vec_col, str):
        v = f"transform({vec_col}, x -> cast(x as double))"
        terms = []
        for i, plane in enumerate(planes):
            arr = "array(" + ",".join(_sql_double(x) for x in plane) + ")"
            dot = (
                f"aggregate(zip_with({v}, {arr}, (a, b) -> a * b), "
                f"0.0D, (acc, x) -> acc + x)"
            )
            terms.append(f"(case when {dot} > 0.0D then {1 << i} else 0 end)")
        return F.expr("cast((" + " + ".join(terms) + ") as int)")
    v = F.transform(vec_col, lambda x: x.cast("double"))
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, lit_plane, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(0)
    return bucket.cast("int")


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Sign-LSH-bucketed ANN (single probe): candidates share the
    query's hyperplane-sign bucket; exact cosine top-k within. With 8
    planes the corpus shards into ≤256 buckets — the scale path where
    brute force is the fallback and recall trades against candidate
    count. Same output shape as ``cosine_topk``."""
    planes = lsh_planes(n_planes, dim)
    q = _side(queries, id_col, vec_col, "query_id", "qv", "qn").withColumn(
        "qb", lsh_bucket("qv", planes)
    )
    c = _side(emb, id_col, vec_col, "neighbor_id", "cv", "cn").withColumn(
        "cb", lsh_bucket("cv", planes)
    )
    return _ranked_topk(
        q,
        c,
        (F.col("qb") == F.col("cb")) & (F.col("query_id") != F.col("neighbor_id")),
        k,
    )


def load_embedding_sample(
    parquet_path: str, max_rows: int = 4096, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic, Spark-free training sample for the coarse
    quantizer: rows sorted by id, strided down to ≤ ``max_rows``.

    Spark-free (pyarrow) on purpose — ``oracle_sql()`` must train the
    IDENTICAL centroids without a session. At 100 TB the analogous
    offline step samples ~1e6 vectors via
    ``pmod(xxhash64(id), stride) = 0`` into the trainer; IVF coarse
    quantizers train on a bounded sample regardless of corpus size
    (the candidate-list structure, not the training set, is what
    scales)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    # sort + stride on the Arrow table; only the ≤max_rows sample ever
    # materializes as Python objects (the full table stays Arrow)
    t = t.take(pc.sort_indices(t, sort_keys=[(id_col, "ascending")]))
    stride = max(1, -(-len(t) // max_rows))
    sample = t.take(list(range(0, len(t), stride))[:max_rows])
    return [[float(x) for x in v] for v in sample[vec_col].to_pylist()]


def train_ivf_centroids(
    vectors: list[list[float]],
    n_clusters: int = 8,
    n_iters: int = 10,
    seed: int = 13,
) -> list[list[float]]:
    """Deterministic Lloyd k-means: k-means++ init from a fixed
    RandomState, exactly ``n_iters`` iterations, empty clusters
    reseeded to the deterministic farthest point. Centroids round to 6
    so the identical literals embed in both the Spark plan and the
    DuckDB oracle SQL (the ``lsh_planes`` pattern)."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    n = len(X)
    rs = np.random.RandomState(seed)
    # k-means++ seeding
    centers = [X[rs.randint(n)]]
    for _ in range(1, min(n_clusters, n)):
        d2 = np.min(
            [np.sum((X - c) ** 2, axis=1) for c in centers], axis=0
        )
        total = d2.sum()
        if total <= 0:
            centers.append(X[rs.randint(n)])
            continue
        # clip: float error can leave cumsum[-1] just under 1.0, and a
        # draw above it would index one past the end
        idx = min(np.searchsorted(np.cumsum(d2 / total), rs.rand()), n - 1)
        centers.append(X[idx])
    C = np.asarray(centers)
    for _ in range(n_iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
            else:  # deterministic reseed: globally farthest point
                C[j] = X[d2.min(axis=1).argmax()]
    return [[round(float(x), 6) for x in c] for c in C]


# -- single-parse SQL builders for quantizer expressions --------------------
#
# The Column-builder form of these expressions crosses py4j once per
# function call: at (m=8, 16 codes) a PQ lookup table is ~128 codeword
# arrays × (array + zip_with + aggregate + round) ≈ thousands of
# driver round trips — measured ~4 s of pure plan-CONSTRUCTION latency
# per query. Emitting the identical expression as ONE SQL string
# parses JVM-side in a single call (~10×). Semantics are unchanged
# (same functions, same 0.0D seed, same round-6); the q26/q56/q58
# oracles and the pq parity tests pin the equivalence.


def _sql_double(x: float) -> str:
    return repr(float(x)) + "D"


def _sql_d2(col_sql: str, center: list[float]) -> str:
    arr = "array(" + ",".join(_sql_double(x) for x in center) + ")"
    return (
        f"round(aggregate(zip_with({col_sql}, {arr}, "
        f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), 6)"
    )


def _sql_d2_array(col_sql: str, book: list[list[float]]) -> str:
    return "array(" + ",".join(_sql_d2(col_sql, c) for c in book) + ")"


def _sql_residual(vec_sql: str, coarse_sql: str, centroids: list[list[float]]) -> str:
    """Residual ``x − centroid[coarse]`` as one SQL expression: the
    centroid table rides the plan as an array-of-arrays literal indexed
    by the (0-based) coarse column. Exact float subtraction — residuals
    are deterministic given the assignment, so the DuckDB oracle's
    ``[[..],[..]][cluster + 1]`` lookup reproduces them bit-for-bit."""
    cents = (
        "array("
        + ",".join(
            "array(" + ",".join(_sql_double(x) for x in c) + ")" for c in centroids
        )
        + ")"
    )
    return (
        f"zip_with({vec_sql}, element_at({cents}, {coarse_sql} + 1), "
        f"(a, b) -> a - b)"
    )


def ivf_assign(vec_col, centroids: list[list[float]]):
    """Coarse-quantizer assignment as a pure Column expression: argmin
    of per-centroid squared-L2 distance (rounded to 6 for cross-engine
    float parity; ties break to the lowest centroid index — both
    ``array_position`` and DuckDB ``list_position`` return the first
    match). Centroid literals ride the plan (broadcast by closure).
    A string ``vec_col`` takes the single-parse SQL path (hot);
    Column input keeps the builder form (interactive/tests).

    Plan-size bound: literals are right for the coarse-quantizer
    regime (k ≲ 256; k·d doubles in the plan). A FAISS-scale k (4096+)
    would bloat the plan — there, broadcast a centroid DataFrame and
    assign in an Arrow-batched pandas UDF (same contract, different
    transport); the trained-sample/offline structure is unchanged."""
    if isinstance(vec_col, str):
        d = _sql_d2_array(vec_col, centroids)
        return F.expr(
            f"cast(array_position({d}, array_min({d})) - 1 as int)"
        )
    v = vec_col
    dists = []
    for c in centroids:
        lit_c = F.array(*[F.lit(x) for x in c])
        d2 = F.aggregate(
            F.zip_with(v, lit_c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dists.append(F.round(d2, 6))
    darr = F.array(*dists)
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def ivf_probes(vec_col, centroids: list[list[float]], nprobe: int):
    """The query's ``nprobe`` nearest coarse clusters, as an int array
    ordered by distance (ties → lower index; array_sort on (d, i)
    structs is lexicographic). String input = single-parse SQL path."""
    if isinstance(vec_col, str):
        entries = ",".join(
            f"struct({_sql_d2(vec_col, c)} as d, {i} as i)"
            for i, c in enumerate(centroids)
        )
        return F.expr(
            f"transform(slice(array_sort(array({entries})), 1, {nprobe}),"
            f" e -> cast(e.i as int))"
        )
    v = vec_col
    entries = []
    for i, c in enumerate(centroids):
        lit_c = F.array(*[F.lit(x) for x in c])
        d2 = F.aggregate(
            F.zip_with(v, lit_c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        entries.append(
            F.struct(F.round(d2, 6).alias("d"), F.lit(i).alias("i"))
        )
    ordered = F.array_sort(F.array(*entries))
    return F.transform(
        F.slice(ordered, 1, nprobe), lambda e: e["i"].cast("int")
    )


def _round_half_away_6(x):
    """Round to 6 half-AWAY-from-zero: np.round is banker's (half-even)
    but F.round and DuckDB round are half-away — a squared-L2 distance
    landing exactly on a .5e-6 boundary must pick the same cluster in
    training (numpy), the Column plan, and the oracle (same rule as
    dedup's ``_round_half_away_4`` for cosines)."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1_000_000 + 0.5) / 1_000_000


def assign_coarse(vectors: list[list[float]], centroids: list[list[float]]) -> list[int]:
    """Python twin of :func:`ivf_assign` for offline/training use:
    per-vector coarse cluster via round-6 (half-away, matching F.round)
    squared-L2 FIRST-MATCH argmin — the exact plan semantics, so
    residual training and the DuckDB oracle assign identically to the
    Spark encode path."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    d2 = _round_half_away_6(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
    return [int(i) for i in d2.argmin(axis=1)]


def train_pq_codebooks(
    vectors: list[list[float]],
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 10,
    seed: int = 17,
    centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou/Douze/Schmid 2011,
    public): split the dimension into ``m`` subspaces and train an
    independent deterministic k-means codebook per subspace — reusing
    :func:`train_ivf_centroids`'s seed discipline so the DuckDB oracle
    trains IDENTICAL books from the same sample. At 10^12 vectors the
    point is memory: codes are ``m`` small ints per vector instead of
    4·d bytes, which is what makes exhaustive ADC scans (or IVF-PQ
    candidate rescoring) feasible at all.

    ``centroids`` switches to RESIDUAL training (Jégou 2011 §III, the
    FAISS IVFPQ default): each sample vector is replaced by
    ``x − centroid[coarse(x)]`` before the subspace k-means, so the
    books model the within-cluster displacement rather than absolute
    position — at the same (m, n_codes) budget the codewords spend no
    capacity re-describing the coarse structure, which materially
    improves recall on clustered data. Coarse assignment uses
    :func:`assign_coarse` (the plan's round-6 first-match rule) so
    the training-time and encode-time residuals agree."""
    d = len(vectors[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if centroids is not None:
        import numpy as np

        X = np.asarray(vectors, dtype=np.float64)
        C = np.asarray(centroids, dtype=np.float64)
        X = X - C[assign_coarse(vectors, centroids)]
        vectors = [[float(x) for x in row] for row in X]
    sub = d // m
    return [
        train_ivf_centroids(
            [v[s * sub : (s + 1) * sub] for v in vectors],
            n_clusters=n_codes,
            n_iters=n_iters,
            seed=seed + s,
        )
        for s in range(m)
    ]


def _sliced(df: DataFrame, id_col, id_alias: str, vec_col: str, m: int, sub: int):
    """Project (id, _s0.._s{m-1}) with the double-cast and the
    subspace slices as BOUND COLUMNS — the HOF-projection remedy:
    inlining ``transform(vec, cast)`` into every per-codeword lambda
    re-evaluates the full-array cast m·n_codes times per row (no CSE
    across higher-order functions; measured ~60 s → ~2 s at sf0.1).
    Two projection levels: the cast is referenced m times, each slice
    n_codes times — both multi-use non-cheap aliases, which keeps
    CollapseProject from re-inlining them."""
    casted = df.select(
        F.col(id_col).alias(id_alias),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    return casted.select(
        id_alias,
        *[F.slice("_v", s * sub + 1, sub).alias(f"_s{s}") for s in range(m)],
    )


def _codes_from_slices(codebooks: list[list[list[float]]]):
    """Code array over the ``_s*`` bound slice columns: per-subspace
    argmin of the codeword distances (rounded 6; first-match ties —
    the ``ivf_assign`` rule). Single-parse SQL (see the builder note
    above ``ivf_assign``)."""
    codes = []
    for s, book in enumerate(codebooks):
        d = _sql_d2_array(f"_s{s}", book)
        codes.append(f"cast(array_position({d}, array_min({d})) - 1 as int)")
    return F.expr("array(" + ",".join(codes) + ")")


# Bump when the encode semantics change (rounding, tie-break, layout):
# materialized codes relations key their cache/compatibility on this.
# v2: the relation may carry RESIDUAL codes (encode of x − centroid
# [coarse] when residual=True) — raw-vector codes fed to a residual
# query plan (or vice versa) would silently score garbage, so at-rest
# caches must rekey.
PQ_CODES_VERSION = 2


def pq_codes(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """Encode-once relation for PQ codes **at rest**: (id, codes[,
    coarse]) — ``codes`` is the m-int PQ code array, ``coarse`` (when
    ``centroids`` is given) the IVF cluster assignment. This is the
    relation a production index materializes ONCE (write it to parquet
    / a SnapshotTable: m small ints + one int per vector instead of
    4·d bytes) and feeds back to :func:`pq_topk` / :func:`ivfpq_topk`
    via their ``codes=`` parameter, so every subsequent query scans
    codes, not vectors — the actual Jégou 2011 memory win, realized
    across queries instead of re-encoding inside each plan.

    Encoding is bit-identical to the inline path by construction: both
    route through ``_sliced`` + ``_codes_from_slices`` (round-6
    distances, first-match argmin), pinned by the at-rest parity test.

    ``residual=True`` (requires ``centroids``; codebooks must have been
    trained with the same ``centroids`` — see
    :func:`train_pq_codebooks`) encodes ``x − centroid[coarse]``
    instead of ``x``: the Jégou 2011 §III / FAISS-default IVFPQ shape.
    Consumers must query with :func:`ivfpq_topk(residual=True)`;
    ``PQ_CODES_VERSION`` keys at-rest relations so raw and residual
    codes can't silently mix.
    """
    m, sub = len(codebooks), len(codebooks[0][0])
    if residual and centroids is None:
        raise ValueError("residual=True requires centroids")
    casted = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    if residual:
        # three bound-projection levels (the _sliced discipline): the
        # coarse argmin reads _v once; the residual reads (_v, coarse)
        # once; each slice reads _rv once
        with_coarse = casted.select(
            id_col, "_v", ivf_assign("_v", centroids).alias("coarse")
        )
        with_res = with_coarse.select(
            id_col,
            "coarse",
            F.expr(_sql_residual("_v", "coarse", centroids)).alias("_rv"),
        )
        sliced = with_res.select(
            id_col,
            "coarse",
            *[F.slice("_rv", s * sub + 1, sub).alias(f"_s{s}") for s in range(m)],
        )
        return sliced.select(
            F.col(id_col), _codes_from_slices(codebooks).alias("codes"), "coarse"
        )
    sliced = casted.select(
        id_col,
        F.col("_v"),
        *[F.slice("_v", s * sub + 1, sub).alias(f"_s{s}") for s in range(m)],
    )
    cols = [F.col(id_col), _codes_from_slices(codebooks).alias("codes")]
    if centroids is not None:
        cols.append(ivf_assign("_v", centroids).alias("coarse"))
    return sliced.select(*cols)


def pq_topk(
    emb: DataFrame | None,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: the corpus side reduces to
    its CODE ARRAY (at scale these are precomputed once and stored —
    m bytes/vector); each query carries per-subspace lookup tables
    (distance from its slice to every codeword), and the approximate
    distance inside the join is just ``m`` array lookups summed —
    no full-vector arithmetic touches the corpus×query cross product.
    Ascending approx L2 ranks (ties → neighbor id); on unit-norm
    embeddings the L2 order IS the cosine order. Output:
    (query_id, neighbor_id, approx_d2, rank).

    Recall is a property of the DATA and the (m, n_codes) budget, not
    of this plan: on the synthetic unit-sphere testdata (distance
    concentration — PQ's worst case) measured recall@10 vs exact L2 is
    0.26 at (m=8, 16 codes), 0.38 at (8, 64), 0.68 at (16, 64) — the
    standard PQ trade curve; real embedding corpora cluster and do far
    better at the same budget — and RESIDUAL encoding
    (:func:`ivfpq_topk(residual=True)` over residual-trained books)
    recovers much of the gap on clustered data at the same budget
    (measured 0.66 vs 0.42, pinned in pytest). Codebook literals put m·n_codes·(d/m)
    doubles in the plan: beyond ~(16, 64) switch transport to a
    broadcast codebook DataFrame + pandas-UDF encode, same contract
    (the ``ivf_assign`` escape-hatch note).

    ``codes=`` feeds a PRECOMPUTED codes relation (:func:`pq_codes`,
    typically read back from parquet) — the corpus side then never
    touches vectors at all and ``emb`` may be None; omitted, codes are
    derived inline (ad-hoc / test path)."""
    m, sub = len(codebooks), len(codebooks[0][0])
    if codes is not None:
        c = codes.select(F.col(id_col).alias("neighbor_id"), "codes")
    else:
        c = _sliced(emb, id_col, "neighbor_id", vec_col, m, sub).select(
            "neighbor_id", _codes_from_slices(codebooks).alias("codes")
        )
    lut = F.expr(
        "array("
        + ",".join(_sql_d2_array(f"_s{s}", book) for s, book in enumerate(codebooks))
        + ")"
    )
    q = _sliced(queries, id_col, "query_id", vec_col, m, sub).select(
        "query_id", lut.alias("lut")
    )
    approx = F.round(
        F.aggregate(
            F.zip_with(
                F.col("lut"),
                F.col("codes"),
                lambda l, cd: F.element_at(l, cd + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", approx.alias("approx_d2"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


def ivfpq_topk(
    emb: DataFrame | None,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the canonical 10^12-vector index shape (FAISS IVFPQ,
    Jégou et al. 2011 §V) — the coarse quantizer restricts candidates
    to the query's ``nprobe`` clusters AND the fine comparison is ADC
    over PQ codes, so the scan touches |nprobe·cluster| candidates at
    m lookups each, never full vectors. Composes the two trained
    quantizers this module already ships; both ride the plan as
    literals, both sides project the cast/slices once (the
    ``_sliced`` discipline). Output: (query_id, neighbor_id,
    approx_d2, rank).

    ``codes=`` feeds a precomputed (id, codes, coarse) relation from
    :func:`pq_codes(centroids=...)` — the at-rest path: the corpus
    side is then a pure codes scan (``emb`` may be None).

    ``residual=True`` scores ADC over RESIDUAL codes (Jégou 2011 §III,
    the FAISS IVFPQ default; codes and codebooks must both be
    residual-trained — :func:`train_pq_codebooks(centroids=...)`,
    :func:`pq_codes(residual=True)`). The query side then needs one
    lookup table PER PROBED CLUSTER (the query residual differs per
    centroid), so probes are exploded to (query, probe) rows — still
    |queries|·nprobe broadcast rows, and the join becomes an equi-join
    on the coarse id instead of an array_contains theta-join: at scale
    the candidate restriction hash-partitions instead of nested-loop
    scanning. At the same (m, n_codes) budget residual ADC materially
    improves recall on clustered corpora (the codewords stop
    re-describing coarse structure); pinned by the recall test."""
    m, sub = len(codebooks), len(codebooks[0][0])

    def prep(df, id_alias):
        casted = df.select(
            F.col(id_col).alias(id_alias),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        return casted.select(
            id_alias,
            F.col("_v"),
            *[F.slice("_v", s * sub + 1, sub).alias(f"_s{s}") for s in range(m)],
        )

    lut = F.expr(
        "array("
        + ",".join(_sql_d2_array(f"_s{s}", book) for s, book in enumerate(codebooks))
        + ")"
    )

    if codes is not None:
        c = codes.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("coarse").alias("cc"),
            "codes",
        )
    elif residual:
        # inline encode routes through pq_codes — ONE residual encode
        # pipeline, so at-rest and inline codes cannot drift (review r6)
        c = pq_codes(
            emb, codebooks, id_col=id_col, vec_col=vec_col,
            centroids=centroids, residual=True,
        ).select(
            F.col(id_col).alias("neighbor_id"),
            F.col("coarse").alias("cc"),
            "codes",
        )
    else:
        c = prep(emb, "neighbor_id").select(
            "neighbor_id",
            ivf_assign("_v", centroids).alias("cc"),
            _codes_from_slices(codebooks).alias("codes"),
        )

    if residual:
        # one LUT per (query, probed cluster): explode the probe list,
        # compute the residual against THAT centroid, then the tables
        casted_q = queries.select(
            F.col(id_col).alias("query_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        probed = casted_q.select(
            "query_id",
            "_v",
            F.explode(ivf_probes("_v", centroids, nprobe)).alias("probe"),
        )
        with_res = probed.select(
            "query_id",
            "probe",
            F.expr(_sql_residual("_v", "probe", centroids)).alias("_rv"),
        )
        q = with_res.select(
            "query_id",
            "probe",
            *[F.slice("_rv", s * sub + 1, sub).alias(f"_s{s}") for s in range(m)],
        ).select("query_id", "probe", lut.alias("lut"))
        join_pred = (F.col("probe") == F.col("cc")) & (
            F.col("query_id") != F.col("neighbor_id")
        )
    else:
        q = prep(queries, "query_id").select(
            "query_id",
            ivf_probes("_v", centroids, nprobe).alias("qp"),
            lut.alias("lut"),
        )
        join_pred = F.array_contains(F.col("qp"), F.col("cc")) & (
            F.col("query_id") != F.col("neighbor_id")
        )
    approx = F.round(
        F.aggregate(
            F.zip_with(
                F.col("lut"),
                F.col("codes"),
                lambda l, cd: F.element_at(l, cd + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = c.join(F.broadcast(q), join_pred).select(
        "query_id", "neighbor_id", approx.alias("approx_d2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    cluster_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-bucketed ANN: search the query's ``nprobe`` nearest coarse
    clusters. With ``centroids`` (the trained quantizer) the corpus
    side is assigned via :func:`ivf_assign` and the query side probes
    via :func:`ivf_probes`; without, a precomputed ``cluster_col`` is
    trusted (legacy/externally-clustered corpora; nprobe must be 1).
    Same output shape as ``cosine_topk``; recall rises with nprobe
    (nprobe = n_clusters degenerates to exact brute force) — the scale
    knob trades candidate-set size |nprobe·cluster| ≪ |corpus| against
    recall, exactly FAISS's IVF contract."""
    if centroids is not None:
        qs = _side(queries, id_col, vec_col, "query_id", "qv", "qn")
        qs = qs.withColumn("qp", ivf_probes("qv", centroids, nprobe))
        cs = _side(emb, id_col, vec_col, "neighbor_id", "cv", "cn")
        cs = cs.withColumn("cc", ivf_assign("cv", centroids))
        pred = F.array_contains(F.col("qp"), F.col("cc"))
    else:
        if nprobe != 1:
            raise ValueError("nprobe > 1 requires trained centroids")
        qs = _side(
            queries, id_col, vec_col, "query_id", "qv", "qn",
            extra={"qc": F.col(cluster_col)},
        )
        cs = _side(
            emb, id_col, vec_col, "neighbor_id", "cv", "cn",
            extra={"cc": F.col(cluster_col)},
        )
        pred = F.col("qc") == F.col("cc")
    return _ranked_topk(
        qs,
        cs,
        pred & (F.col("query_id") != F.col("neighbor_id")),
        k,
    )
