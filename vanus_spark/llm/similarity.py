"""Similarity search over an embedding column (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline. The query set is small
  (by construction) so it BROADCASTS against the corpus — no shuffle
  of the big side at all; per-partition local top-k via window.
- LSH-bucketed ANN: random-hyperplane signatures; candidates share a
  signature bucket. At 100 TB this is the scale path: the corpus is
  hashed once (linear scan), buckets are the join key, and recall is
  tuned by (#planes, #tables). An IVF variant would k-means the
  corpus and probe nearest centroids — same join shape.

Vector math stays in Catalyst (zip_with / aggregate over arrays) —
no Python in the hot path.
"""

from __future__ import annotations

import json
import math
import random

from pyspark.sql import Column, DataFrame, Window, functions as F

from vanus_spark.llm.dedup import bound


def lit_vec(vals) -> Column:
    """Literal array<double> built JVM-side in ONE py4j round trip.

    ``F.lit(list)`` / ``F.array(*[F.lit(x) ...])`` cost one py4j call
    PER ELEMENT — for model literals (hyperplanes, centroids,
    codebooks: k x dim doubles) that is thousands of driver round
    trips per query build (measured ~1 s per 6x64 plane set). A SQL
    ``array(...)`` string parses JVM-side; ``repr`` is shortest
    round-trip so the doubles are bit-identical. Non-finite values
    fall back to from_json (constant-folded by Catalyst either way).
    """
    vs = [float(v) for v in vals]
    if all(math.isfinite(v) for v in vs):
        return F.expr("array(" + ",".join(repr(v) + "D" for v in vs) + ")")
    return F.from_json(F.lit(json.dumps(vs)), "array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _vec_sql(vals) -> str:
    """SQL fragment for a literal array<double> (see lit_vec)."""
    return "array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")"


def _dot_sql(a: str, b: str) -> str:
    """SQL fragment parsing to the exact tree ``dot`` builds.

    Why strings at all: on this box a py4j round trip costs ~1 ms and
    creating ONE higher-order-function lambda via the Column API costs
    dozens of them — profiling pq_encode showed 11 096 py4j calls /
    ~11 s of socket wait per build, nearly all under
    ``_create_lambda``. A SQL string parses JVM-side in one trip and
    yields the identical parsed expression (verified: same analyzed
    plan, same oracle hashes)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, v) -> acc + v)"
    )


def _nearest_structs_sql(centroids: list[list[float]]) -> str:
    """SQL fragment for the (distance, index) struct array over a
    lambda variable ``v`` — the body both nearest-chain builders
    share. The ``dot(v, v)`` term is INLINED per centroid exactly as
    the Column form duplicated it (Column reuse copies the subtree),
    so the parsed tree — and therefore the plan and the oracle hash —
    is unchanged."""
    vv = _dot_sql("v", "v")
    items = []
    for i, c in enumerate(centroids):
        cc = repr(float(sum(v * v for v in c))) + "D"
        # NB: operand order matches the Column form exactly — pyspark's
        # `2.0 * col` goes through __rmul__ and lands as `col * 2.0`
        d = f"{vv} - {_dot_sql('v', _vec_sql(c))} * 2.0D + {cc}"
        items.append(f"named_struct('d', {d}, 'c', {i})")
    return "array(" + ",".join(items) + ")"


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def _l2_norm_sql(a: str) -> str:
    """SQL fragment parsing to the exact tree ``l2_norm`` builds."""
    return (
        f"sqrt(aggregate({a}, 0.0D,"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * v))"
    )


def _cosine_sql(q: str, c: str, qn: str, cn: str) -> str:
    """SQL fragment for the staged-norm cosine the scorers share:
    dot(q, c) / (qn * cn) — the exact tree the Column form built."""
    return f"{_dot_sql(q, c)} / ({qn} * {cn})"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _topk_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """Shared per-query top-k tail, emitted as ONE selectExpr trip:
    the same WindowExpression tree the Window.partitionBy/orderBy
    Column form built (DESC = NULLS LAST, ASC = NULLS FIRST defaults
    on both paths), ~30 fewer py4j round trips per call site."""
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cosine",
        "row_number() OVER (PARTITION BY query_id"
        " ORDER BY cosine DESC, neighbor_id ASC) AS rank",
    ).where(f"rank <= {int(k)}")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self).

    queries is expected small -> broadcast; the corpus is scanned once
    per partition with no shuffle until the final per-query top-k
    window (rows = #queries × k after the filter, tiny).
    """
    # norms are per-VECTOR, so compute them per side before the join:
    # #queries + #corpus norm evaluations instead of #queries × #corpus
    # (the cosine value is unchanged — same expressions, staged)
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS q_vec",
        _l2_norm_sql(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)") + " AS q_norm",
    )
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS c_vec",
        _l2_norm_sql(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)") + " AS c_norm",
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            _cosine_sql("q_vec", "c_vec", "q_norm", "c_norm")
            + " AS cosine",
        )
    )
    return _topk_by_cosine(scored, k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _lsh_signature_sql(vec: str, planes: list[list[float]]) -> str:
    cases = ",".join(
        f"CASE WHEN {_dot_sql('v', _vec_sql(p))} >= 0 THEN '1'"
        " ELSE '0' END"
        for p in planes
    )
    return (
        f"get(transform(array(CAST({vec} AS ARRAY<DOUBLE>)),"
        f" v -> concat({cases})), 0)"
    )


def lsh_signature(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = (vec · plane_i) >= 0. Emitted as a
    bit string so it works as a plain join key. The casted vector is
    lambda-bound (see dedup.bound) so the O(dim) cast runs once per
    row, not once per plane. (An unrolled-SQL variant was measured
    SLOWER warm than the HOF form — the giant generated method falls
    out of JIT/codegen sweet spots — so the HOF stays; the string
    path below builds the SAME HOF tree, just parsed JVM-side in one
    py4j trip instead of ~n_planes × 2 lambda creations.)"""
    if isinstance(vec, str):
        return F.expr(_lsh_signature_sql(vec, planes))

    def bits(v: Column) -> Column:
        return F.concat(
            *[
                F.when(
                    dot(v, lit_vec(plane)) >= 0, F.lit("1")
                ).otherwise(F.lit("0"))
                for plane in planes
            ]
        )

    return bound(vec.cast("array<double>"), bits)


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only same-bucket candidates are scored.
    One corpus scan to sign -> equi-join on the signature -> local
    top-k. Recall < 1.0 by design; raise n_planes/tables for
    precision at scale."""
    planes = random_hyperplanes(dim, n_planes, seed)
    # two-stage: project the cast once to a named column, then the
    # unrolled signature references that ATTRIBUTE (CollapseProject
    # keeps the stages separate because the cast is referenced dim x
    # n_planes times — so the cast really runs once per row)
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS c_vec",
    ).selectExpr(
        "neighbor_id",
        "c_vec",
        _l2_norm_sql("c_vec") + " AS c_norm",
        _lsh_signature_sql("c_vec", planes) + " AS bucket",
    )
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS q_vec",
    ).selectExpr(
        "query_id",
        "q_vec",
        _l2_norm_sql("q_vec") + " AS q_norm",
        _lsh_signature_sql("q_vec", planes) + " AS bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            _cosine_sql("q_vec", "c_vec", "q_norm", "c_norm")
            + " AS cosine",
        )
    )
    return _topk_by_cosine(scored, k)


def _sq_dist(vec: Column, centroid: list[float], vec_dot: Column) -> Column:
    """Squared L2 to a literal centroid via the expansion
    |x|^2 - 2 x.c + |c|^2 — one corpus-side dot per centroid, and the
    exact formula the DuckDB oracle mirrors (bit-identical folds)."""
    c = lit_vec(centroid)
    cc = float(sum(v * v for v in centroid))
    return vec_dot - 2.0 * dot(vec, c) + F.lit(cc)


def _nearest_clusters(
    vec: Column | str, centroids: list[list[float]], n: int
) -> Column:
    """Array of the n nearest centroid indices (ties -> lower index),
    via array_sort over (distance, index) structs. The vector is
    lambda-bound (see dedup.bound) so its cast/derivation runs once
    per row, not once per centroid. Pass ``vec`` as a SQL fragment
    string to build the whole chain in ONE py4j trip (the Column form
    costs ~1.6 s of driver round trips per call on this box); the
    Column overload keeps the identical tree for callers holding a
    Column."""
    if isinstance(vec, str):
        body = f"slice(array_sort({_nearest_structs_sql(centroids)}), 1, {n}).c"
        return F.expr(f"get(transform(array({vec}), v -> {body}), 0)")

    def inner(v: Column) -> Column:
        vv = dot(v, v)
        ds = F.array(
            *[
                F.named_struct(
                    F.lit("d"), _sq_dist(v, c, vv), F.lit("c"), F.lit(i)
                )
                for i, c in enumerate(centroids)
            ]
        )
        return F.slice(F.array_sort(ds), 1, n).getField("c")

    return bound(vec, inner)


def kmeans_centroids(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 3,
) -> list[list[float]]:
    """Seeded Lloyd iterations, Spark-shaped: init = the vectors of
    the ``n_clusters`` lowest ids (deterministic); each iteration
    assigns every vector to its nearest centroid (broadcast literal
    centroids, argmin in pure Columns — a map over the corpus) and
    recomputes element-wise means via posexplode + partial-agg
    groupBy(cluster, pos) — shuffle is #clusters × dim rows. The
    k × dim centroid model collects to the driver per iteration (the
    standard k-means model-broadcast loop; at 100 TB you train on a
    sample — pass ``corpus.where(...)``). Means are ROUNDED so the
    centroid table is engine-portable (the DuckDB oracle re-derives
    identical centroids); empty clusters keep their previous centroid.
    """
    vec = F.col(vec_col).cast("array<double>")
    seed_rows = (
        corpus.orderBy(id_col).limit(n_clusters).select(vec.alias("v")).collect()
    )
    # seeds stay RAW (float32->double is exact in every engine); only
    # the aggregated means get rounded — Spark round and DuckDB round
    # are both HALF_UP, Python's round() is banker's, so never round
    # centroids driver-side
    centroids = [[float(x) for x in r.v] for r in seed_rows]
    for _ in range(iters):
        # stage the assignment BEFORE the explode: a generator select
        # evaluates its other expressions once per OUTPUT row, so an
        # inline cluster expression would re-run the whole
        # nearest-centroid chain dim times per vector (measured 4x
        # slower at sf0.1)
        staged = corpus.select(vec.alias("_v")).select(
            _nearest_clusters("_v", centroids, 1)[0].alias("cluster"),
            F.col("_v"),
        )
        assigned = staged.select(
            "cluster", F.posexplode("_v").alias("pos", "val")
        )
        means = (
            assigned.groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), round_decimals).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.col("pm.m").alias("c"))
            .collect()
        )
        new_centroids = list(centroids)  # empty cluster -> keep previous
        for r in means:
            new_centroids[r.cluster] = [float(x) for x in r.c]
        centroids = new_centroids
    return centroids


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 2,
    iters: int = 1,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: k-means the corpus into ``n_clusters``
    inverted lists, probe each query's ``n_probe`` nearest lists, and
    score cosine only inside them — the classic IVF-Flat shape. At
    scale the inverted index is the corpus WRITTEN partitioned by
    ``cluster`` (probing prunes partitions); here the cluster id is a
    computed column and the probe is a broadcast equi-join, which is
    the same plan shape. Recall is tuned by n_probe/n_clusters."""
    if centroids is None:
        centroids = kmeans_centroids(corpus, n_clusters, iters, id_col, vec_col)
    inverted = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS c_vec",
    ).select(
        "neighbor_id",
        "c_vec",
        F.expr(_l2_norm_sql("c_vec") + " AS c_norm"),
        _nearest_clusters("c_vec", centroids, 1)[0].alias("cluster"),
    )
    probes = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS q_vec",
    ).select(
        "query_id",
        "q_vec",
        F.expr(_l2_norm_sql("q_vec") + " AS q_norm"),
        F.explode(_nearest_clusters("q_vec", centroids, n_probe)).alias(
            "cluster"
        ),
    )
    scored = (
        inverted.join(F.broadcast(probes), ["cluster"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            _cosine_sql("q_vec", "c_vec", "q_norm", "c_norm")
            + " AS cosine",
        )
    )
    return _topk_by_cosine(scored, k)


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join.

    ``n_planes=None`` sizes the signature to the corpus:
    ceil(log2(n / target_bucket_rows)) planes, so mean bucket
    occupancy — and with it the within-bucket quadratic pair volume —
    stays CONSTANT as the corpus grows (a fixed plane count makes
    candidate pairs grow as n^2/2^planes: the round-7 10x probe
    measured 31x wall time on 10x vectors at the fixed default).
    Costs one count() job; callers with a known corpus size pass an
    explicit count-derived value instead. Fixed-oracle registry
    queries pin n_planes explicitly so the DuckDB twin stays in
    lockstep."""
    if n_planes is None:
        import math

        n = corpus.count()
        n_planes = max(1, math.ceil(math.log2(max(n, 2) / target_bucket_rows)))
    planes = random_hyperplanes(dim, n_planes, seed)
    signed = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).select(
        F.col(id_col),
        F.col("_v"),
        l2_norm(F.col("_v")).alias("_norm"),
        lsh_signature("_v", planes).alias("bucket"),
    )
    a, b = signed.alias("a"), signed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (dot(F.col("a._v"), F.col("b._v"))
             / (F.col("a._norm") * F.col("b._norm"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# scalar quantization (int8 codes + reconstruction error)
# ---------------------------------------------------------------------------

def embedding_minmax(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) across the corpus — the trained half
    of scalar quantization. posexplode -> partial-agg groupBy(pos):
    shuffle is dim x #partitions rows; the dim-sized model collects to
    the driver (bounded, like the k-means centroid model — at 100 TB
    train on a sample)."""
    stats = (
        corpus.select(F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("pos")
        .agg(F.min("col").alias("lo"), F.max("col").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    return [r.lo for r in stats], [r.hi for r in stats]


def quantize_embeddings_int8(
    corpus: DataFrame,
    mins: list[float] | None = None,
    maxs: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, mse): per-dimension affine int8 codes
    code_i = round((x_i - min_i) * 255 / (max_i - min_i)) plus the
    reconstruction mean-squared-error — 4x storage compression for
    ANN shortlists, with the error column quantifying recall risk.
    Quantization itself is a pure-Column projection (zero shuffle);
    the fold orders inside mse are left-to-right so the DuckDB oracle
    reproduces the float arithmetic exactly."""
    if mins is None or maxs is None:
        mins, maxs = embedding_minmax(corpus, vec_col)
    lo = lit_vec(mins)
    rng = lit_vec(b - a for a, b in zip(mins, maxs))
    vec = F.col(vec_col).cast("array<double>")

    def code(x, i):
        r = F.get(rng, i)
        raw = F.when(r == 0, F.lit(0.0)).otherwise(
            F.round((x - F.get(lo, i)) * 255.0 / r, 0)
        )
        return F.least(F.greatest(raw, F.lit(0.0)), F.lit(255.0)).cast("int")

    staged = corpus.select(F.col(id_col), vec.alias("_v"))
    coded = staged.select(
        F.col(id_col),
        F.col("_v"),
        F.transform("_v", code).alias("codes"),
    )
    recon = F.zip_with(
        F.col("codes"),
        F.sequence(F.lit(0), F.size("codes") - 1),
        lambda c, i: F.get(lo, i) + c * F.get(rng, i) / 255.0,
    )
    sq = F.zip_with(F.col("_v"), recon, lambda x, r: (x - r) * (x - r))
    mse = F.aggregate(sq, F.lit(0.0), lambda a, v: a + v) / F.size("codes")
    return coded.select(F.col(id_col), F.col("codes"), mse.alias("mse"))


# ---------------------------------------------------------------------------
# multi-table LSH (OR-amplification)
# ---------------------------------------------------------------------------

def lsh_ann_multi(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 3,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OR-amplified LSH ANN: ``n_tables`` independent hyperplane
    tables; a pair is a candidate if it collides in ANY table, so
    recall rises to 1-(1-p^b)^T while each table's join stays a plain
    equi-join on (table_id, bucket). The standard recall knob when a
    single signature misses near neighbors on the wrong side of one
    hyperplane.

    Shape: per side, one projection emits (id, table_id, bucket) via
    posexplode of the T signatures (the signature array is the
    generator input — computed once per row); candidates are the
    DISTINCT union of per-table collisions; scoring joins vectors
    back by id so each vector's norm is computed once."""
    tables = [
        random_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def signed(df: DataFrame, out_id: str) -> DataFrame:
        # one projected cast shared by all T signatures, each table's
        # signature an unrolled-SQL expression over the attribute
        sigs = ",".join(_lsh_signature_sql("_v", pl) for pl in tables)
        return df.selectExpr(
            f"`{id_col}` AS {out_id}",
            f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS _v",
        ).selectExpr(
            out_id,
            f"posexplode(array({sigs})) AS (table_id, bucket)",
        )

    c = signed(corpus, "neighbor_id")
    q = signed(queries, "query_id")
    cands = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    cn = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"{vec_sql} AS c_vec",
        _l2_norm_sql(vec_sql) + " AS c_norm",
    )
    qn = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"{vec_sql} AS q_vec",
        _l2_norm_sql(vec_sql) + " AS q_norm",
    )
    scored = (
        cands.join(cn, "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            _cosine_sql("q_vec", "c_vec", "q_norm", "c_norm")
            + " AS cosine",
        )
    )
    return _topk_by_cosine(scored, k)


# ---------------------------------------------------------------------------
# product quantization (per-subvector k-means codebooks)
# ---------------------------------------------------------------------------

def _nearest_with_dist(
    vec: Column | str, centroids: list[list[float]]
) -> Column:
    """struct(d, c) of the nearest centroid (ties -> lower index) —
    the chosen squared distance IS the subvector's reconstruction
    error, so PQ needs no separate reconstruction arithmetic. String
    ``vec`` builds in one py4j trip (see _nearest_clusters)."""
    if isinstance(vec, str):
        body = f"get(array_sort({_nearest_structs_sql(centroids)}), 0)"
        return F.expr(f"get(transform(array({vec}), v -> {body}), 0)")

    def inner(v: Column) -> Column:
        vv = dot(v, v)
        ds = F.array(
            *[
                F.named_struct(
                    F.lit("d"), _sq_dist(v, c, vv), F.lit("c"), F.lit(i)
                )
                for i, c in enumerate(centroids)
            ]
        )
        return F.get(F.array_sort(ds), 0)

    return bound(vec, inner)


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    n_clusters: int = 8,
    iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """One seeded k-means codebook per contiguous ``dim/m``-dim
    subvector (the classic PQ trainer), trained JOINTLY: one corpus
    scan per Lloyd iteration computes all m assignments (one bound
    nearest-chain per subvector in a single projection) and one
    partial-agg groupBy((subvector, cluster, pos)) recomputes every
    mean — 2 driver collects total instead of 2 per codebook.
    Centroid values are identical to training each slice separately
    (same seeds, same assignments, same rounded means), which is what
    the SQL oracle mirrors."""
    sub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    seed_rows = (
        corpus.orderBy(id_col).limit(n_clusters).select(vec.alias("v")).collect()
    )
    books = [
        [[float(x) for x in r.v[s * sub : (s + 1) * sub]] for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(iters):
        staged = corpus.select(
            *[
                F.slice(vec, s * sub + 1, sub).alias(f"_s{s}")
                for s in range(m)
            ],
            vec.alias("_v"),
        ).select(
            *[
                _nearest_clusters(f"_s{s}", books[s], 1)[0].alias(f"_c{s}")
                for s in range(m)
            ],
            F.col("_v"),
        )
        exploded = staged.select(
            *[f"_c{s}" for s in range(m)], F.posexplode("_v").alias("pos", "val")
        )
        subv = F.floor(F.col("pos") / sub).cast("int")
        cluster = None
        for s in range(m):
            term = F.when(subv == s, F.col(f"_c{s}"))
            cluster = term if cluster is None else cluster.when(
                subv == s, F.col(f"_c{s}")
            )
        means = (
            exploded.select(
                subv.alias("s"),
                cluster.alias("cluster"),
                (F.col("pos") % sub).alias("pos"),
                "val",
            )
            .groupBy("s", "cluster", "pos")
            .agg(F.round(F.avg("val"), 3).alias("mval"))
            .groupBy("s", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
            .select("s", "cluster", F.col("pm.mval").alias("c"))
            .collect()
        )
        new_books = [list(b) for b in books]  # empty cluster keeps previous
        for r in means:
            new_books[r.s][r.cluster] = [float(x) for x in r.c]
        books = new_books
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
    m: int = 4,
    n_clusters: int = 8,
    iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, mse): each vector's per-subvector
    nearest-codeword indices (m log2(k)-bit codes ~ 32x compression
    at m=4, k=8 over float32x64) plus the reconstruction MSE — the
    sum of the chosen codewords' squared distances over dim. Encoding
    is a zero-shuffle projection against broadcast literal codebooks;
    at 100 TB the codebooks train on a sample and the encoded table
    is what ANN shortlists scan."""
    if codebooks is None:
        codebooks = pq_train(corpus, m, n_clusters, iters, dim, id_col, vec_col)
    sub = dim // m
    staged = corpus.select(
        F.col(id_col),
        *[
            F.slice(F.col(vec_col).cast("array<double>"), s * sub + 1, sub).alias(
                f"_s{s}"
            )
            for s in range(len(codebooks))
        ],
    )
    picks = staged.select(
        F.col(id_col),
        *[
            _nearest_with_dist(f"_s{s}", codebooks[s]).alias(f"_p{s}")
            for s in range(len(codebooks))
        ],
    )
    total_err = None
    for s in range(len(codebooks)):
        d = F.col(f"_p{s}.d")
        total_err = d if total_err is None else total_err + d
    return picks.select(
        F.col(id_col),
        F.array(*[F.col(f"_p{s}.c") for s in range(len(codebooks))]).alias("codes"),
        (total_err / F.lit(dim)).alias("mse"),
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.5,
    n_clusters: int = 8,
    iters: int = 1,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, compare
    cosine ONLY within a cluster, and drop the higher id of every pair
    at or above ``threshold`` — the surviving corpus keeps one
    representative per semantic near-duplicate group.

    Scale shape: the pairwise work is bounded per cluster (never a
    corpus-wide self-join); at 100 TB the cluster id is a write-time
    partition key and each partition dedups independently. The k×dim
    centroid model is the only driver-side state (trained on a sample
    upstream via ``centroids=``)."""
    if centroids is None:
        centroids = kmeans_centroids(corpus, n_clusters, iters, id_col, vec_col)
    cvec = F.col(vec_col).cast("array<double>")
    # Cluster assignment stays a pure Column (the exact argmin chain
    # the DuckDB oracle mirrors); the WITHIN-cluster pairwise compare
    # is per-cluster vectorized numpy (Arrow-grouped matmul) — the
    # shape SemDeDup actually runs. A pure-Column pair join costs an
    # interpreted HOF dot per pair (measured ~2.4 s for 250 k pairs at
    # sf0.1); one float64 Gram matrix per cluster is ~50x cheaper and
    # identical under the threshold compare (margins >> 1e-12).
    tagged = corpus.select(F.col(id_col), cvec.alias("_v")).select(
        F.col(id_col),
        F.col("_v"),
        _nearest_clusters("_v", centroids, 1)[0].alias("cluster"),
    )

    def _cluster_drops(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({id_col: ids[:0]})
        mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        # drop the higher id of EVERY pair >= threshold (even when the
        # lower id is itself dropped) — same rule as the pair join:
        # g is dropped iff ANY i < g has cosine(i, g) >= threshold
        dropped = np.zeros(n, dtype=bool)
        block = 2048  # bound the Gram slab to block x n per task
        for start in range(0, n, block):
            stop = min(start + block, n)
            gram = unit[start:stop] @ unit.T  # (stop-start, n)
            for r in range(stop - start):
                g = start + r
                if g and (gram[r, :g] >= threshold).any():
                    dropped[g] = True
        return pd.DataFrame({id_col: ids[dropped]})

    id_field = tagged.schema[id_col]
    drops = tagged.groupBy("cluster").applyInPandas(
        _cluster_drops, f"{id_col} {id_field.dataType.simpleString()}"
    )
    return corpus.join(drops, id_col, "left_anti")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: per query
    vector, the top-k most similar corpus vectors with a DIFFERENT
    label — the near-the-margin negatives a retrieval/embedding
    trainer wants, as opposed to random negatives that teach nothing.

    Same scale shape as :func:`cosine_topk` (broadcast queries, one
    corpus scan, per-query top-k window); the label-mismatch predicate
    joins the broadcast condition, so same-label rows never enter the
    score stage at all. At 100 TB swap the brute-force scan for the
    IVF route and apply the label filter on the probed lists."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("c_norm"),
    )
    scored = c.join(
        F.broadcast(q), F.col("n_label") != F.col("q_label")
    ).select(
        "query_id",
        "neighbor_id",
        F.col("n_label").alias("neg_label"),
        (
            dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neg_label", "cosine", "rank")
    )


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: project each vector
    onto ``out_dim`` seeded gaussian directions, scaled by
    1/sqrt(out_dim) so pairwise distances are preserved in expectation
    (the JL lemma) — the cheap dimensionality-reduction step pipelines
    run before ANN indexing or clustering when PCA's train pass is too
    expensive.

    Scale shape: the projection matrix is out_dim x dim DRIVER-SIDE
    literals (same seeded generator as the LSH hyperplanes, embedded
    via lit_vec's repr round-trip), so the whole operator is a pure
    per-row map over the scan — zero shuffle, zero UDF, constant-folded
    by Catalyst. Appends ``proj`` (array<double>, length out_dim).
    """
    planes = random_hyperplanes(dim, out_dim, seed=seed)
    scale = 1.0 / math.sqrt(out_dim)
    # whole projection emitted as ONE SQL fragment parsed JVM-side (the
    # _dot_sql discipline): the Column form cost ~1.6k py4j round trips
    # per build (out_dim x (zip_with + aggregate) lambda creations).
    # Identical parsed tree: bound() is get(transform(array(c), f), 0),
    # `dot * lit(scale)` is Multiply(dot, Literal), repr keeps the
    # scale double bit-exact.
    body = "array(" + ",".join(
        f"{_dot_sql('v', _vec_sql(p))} * {repr(scale)}D" for p in planes
    ) + ")"
    return df.withColumn(
        "proj",
        F.expr(
            f"get(transform(array(CAST(`{vec_col}` AS ARRAY<DOUBLE>)),"
            f" v -> {body}), 0)"
        ),
    )


def mmr_select(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 5,
    lam: float = 0.75,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple]:
    """Maximal Marginal Relevance selection: greedily pick ``k``
    vectors maximizing lam*cos(query) - (1-lam)*max cos(chosen) — the
    diversity-aware retrieval/dedup pass run over candidate prompts
    or passages so the selected set isn't k near-copies of the same
    document. Returns [(round, id, qsim, mmr_score)] with the scores
    rounded Spark-side (round 6).

    Shape per round (k rounds, k small by definition): one scan of
    the scored candidate frame + a bounded TakeOrdered(1) — the same
    driver-loop profile as kmeans_centroids / greedy_max_coverage;
    chosen vectors re-enter as lit_vec literals (one py4j round trip
    each), never as a join. The query-similarity column is computed
    once and pinned with a lazy localCheckpoint. lam defaults to
    0.75 so both lam and 1-lam are EXACT doubles (python's 1-0.7 is
    0.30000000000000004 — a cross-engine literal trap).

    Cross-engine note: scores ORDER unrounded (the similarity_topk
    convention); vectors are cast to array<double> up front so both
    engines multiply doubles, mirroring the oracle's ::DOUBLE[]."""
    # per-round expressions emitted as SQL fragments parsed JVM-side in
    # one trip each (the _dot_sql discipline): the Column form cost
    # ~5k py4j round trips per call (k rounds x #chosen cosine lambda
    # chains). The parsed trees — and the doubles they produce — are
    # unchanged: cosine stays dot/(l2*l2) with the same fold order,
    # lam/(1-lam) literals embed via repr (both exact for 0.75).
    def _cos_sql(a: str, b: str) -> str:
        return (
            f"{_dot_sql(a, b)} / ({_l2_norm_sql(a)} * {_l2_norm_sql(b)})"
        )

    # chosen rows are excluded by a surrogate row id pinned by the
    # checkpoint, so the NOT IN list holds only long literals whatever
    # the id's type or content (quotes, DATE, DECIMAL, NaN, NULL)
    base = emb.selectExpr(
        f"`{id_col}`",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS _v",
        "monotonically_increasing_id() AS _rid",
    ).withColumn("_qsim", F.expr(_cos_sql("_v", _vec_sql(query_vec))))
    base = base.localCheckpoint(eager=False)
    chosen: list[tuple] = []
    out: list[tuple] = []
    for i in range(k):
        cands = (
            base.where(f"_rid NOT IN ({','.join(str(c[0]) for c in chosen)})")
            if chosen
            else base
        )
        if chosen:
            sims = [_cos_sql("_v", _vec_sql(v)) for _, v in chosen]
            pen = sims[0] if len(sims) == 1 else (
                "greatest(" + ",".join(sims) + ")"
            )
            score = f"(_qsim * {lam!r}D) - (({pen}) * {1 - lam!r}D)"
        else:
            score = f"_qsim * {lam!r}D"
        pick = (
            cands.selectExpr(
                f"`{id_col}`",
                "_rid",
                "_v",
                "round(_qsim, 6) AS _qsim_r",
                f"{score} AS _score",
                f"round({score}, 6) AS _score_r",
            )
            .orderBy(F.desc("_score"), F.col(id_col))
            .limit(1)
            .collect()[0]
        )
        chosen.append((pick["_rid"], list(pick["_v"])))
        out.append((i + 1, pick[id_col], pick["_qsim_r"], pick["_score_r"]))
    return out
