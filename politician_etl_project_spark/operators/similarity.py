"""Similarity-search operators (SURVEY §2.10 V1-V3 + north-star ANN).

The reference delegates vector search to Pinecone (top-k cosine over
1536-dim bill embeddings, app/app.py:338-367).  Here the embedding is a
first-class ``array<float>`` column and search is a Spark job:

- ``cosine`` / ``dot`` / ``l2_norm``: native higher-order-function
  expressions (zip_with + aggregate) — JVM-side, left-fold summation so
  results are bit-deterministic.
- ``knn_bruteforce``: broadcast the query vector, score every row,
  TakeOrderedAndProject top-k.  O(n·d) — the exact baseline.
- ``ann_lsh``: random-hyperplane LSH — deterministic plane family from
  md5 of (plane, dim), bucket by sign bits, score only within the probe's
  bucket (multi-probe over hamming-1 neighbors).  The 100 TB path: one
  narrow map for bucketing + a bucket-pruned scan; recall/latency trade
  set by n_planes.
- ``token_sort_ratio``: Arrow-batched pandas UDF fuzzy scorer
  (reference's fuzz.token_sort_ratio, scripts/ingest_fec_links.py:130)
  for the entity-resolution join when native levenshtein isn't enough.
"""

import functools
import hashlib

import pandas as pd  # noqa: F401  (module-level so pandas_udf type hints resolve)
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType


def dot(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def knn_bruteforce(
    emb: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine: broadcast the 1-row query, score all, take-ordered.

    ``query_vec`` must have one row with column ``q`` (array<float>).
    Ordering ties broken by id so results are deterministic."""
    scored = emb.crossJoin(F.broadcast(query_vec)).select(
        F.col(id_col),
        F.round(cosine(vec_col, "q"), 4).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


@functools.lru_cache(maxsize=32)
def _plane_family(n_planes: int, dim: int) -> tuple[tuple[float, ...], ...]:
    """Plane p's component d = (md5-derived int of 'p|d') scaled to [-1, 1]
    — computed driver-side in IEEE-754 double, bit-identical to the SQL
    `conv(substring(md5('p|d'),1,8),16,10)/2147483647.5 - 1.0` the DuckDB
    oracle replays (pinned by test_hyperplane_family_matches_sql)."""
    return tuple(
        tuple(
            int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8], 16) / 2147483647.5
            - 1.0
            for d in range(dim)
        )
        for p in range(n_planes)
    )


def hyperplane_bits(vec_col: str | Column, n_planes: int, dim: int) -> Column:
    """Sign-bit bucket id from deterministic pseudo-random hyperplanes.

    The plane family ships as ONE nested-array literal (a single Catalyst
    Literal node) folded with zip_with + aggregate, so the expression tree
    is O(n_planes) regardless of dim — at the reference's real vector
    width (1536-dim, scripts/hydrate_vectors.py:98-106) × 16 planes the
    previous generated-SQL form was a ~25k-term expression, codegen-blowup
    territory.  Dot products left-fold in dimension order, matching the
    literal `+` chain the DuckDB oracle uses, so bucket signs are
    bit-for-bit reproducible (q_ann_lsh's hash oracle depends on this).
    No driver-side state beyond the literal; identical on every executor."""
    vec = F.slice(F.col(vec_col) if isinstance(vec_col, str) else vec_col, 1, dim)
    planes = F.lit([list(row) for row in _plane_family(n_planes, dim)])

    def _dot(plane: Column) -> Column:
        return F.aggregate(
            F.zip_with(plane, vec, lambda a, b: a * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bits = F.transform(
        planes,
        lambda plane, i: F.when(
            _dot(plane) >= 0, F.pow(F.lit(2.0), i.cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    return F.aggregate(bits, F.lit(0.0), lambda acc, v: acc + v).cast("int")


def ann_lsh(
    emb: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k with ON-THE-FLY bucketing: every row's bucket is
    computed in the scan, so CPU is saved (only ~5/2^planes of rows are
    cosine-scored) but I/O is not — the filter cannot prune files.  Use
    :func:`build_lsh_index` + :func:`ann_lsh_indexed` when the corpus is
    stored: the bucket becomes a partition column and the probe prunes
    directories at planning time (the 100 TB path)."""
    bucketed = emb.withColumn("bucket", hyperplane_bits(vec_col, n_planes, dim))
    q = query_vec.withColumn("qbucket", hyperplane_bits("q", n_planes, dim))
    joined = bucketed.crossJoin(F.broadcast(q))
    if multiprobe:
        probe = F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1
    else:
        probe = F.col("bucket") == F.col("qbucket")
    return (
        joined.filter(probe)
        .select(F.col(id_col), F.round(cosine(vec_col, "q"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _write_index_meta(path: str, meta: dict) -> None:
    """Params sidecar beside the index data (underscore-prefixed, so
    Spark's parquet discovery ignores it).  Probes check it so a
    parameter mismatch errors loudly instead of silently returning
    near-empty results (wrong n_planes ⇒ probe buckets that barely
    exist)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "_index_meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, "_index_meta.json"))


def _read_index_meta(path: str) -> dict | None:
    import json
    import os

    p = os.path.join(path, "_index_meta.json")
    if not os.path.exists(p):
        return None  # pre-sidecar index: tolerate (no check possible)
    with open(p) as fh:
        return json.load(fh)


def _read_index_or_empty(spark, path: str, meta: dict | None) -> DataFrame:
    """Read index data; an empty index (sidecar only, zero data files —
    the empty-corpus build) serves a typed empty frame from the
    sidecar's recorded schema instead of failing schema inference."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import StructType

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        if meta is not None and "schema" in meta:
            return spark.createDataFrame([], StructType.fromJson(meta["schema"]))
        raise


def _check_index_meta(path: str, kind: str, **params) -> dict | None:
    meta = _read_index_meta(path)
    if meta is None:
        return None
    mism = {
        k: (meta.get(k), v) for k, v in (("kind", kind), *params.items())
        if meta.get(k) != v
    }
    if mism:
        raise ValueError(
            f"stored index at {path} was built with different parameters: "
            + ", ".join(f"{k}: built={b!r} probed={p!r}" for k, (b, p) in mism.items())
            + " — rebuild the index or probe with the build-time parameters"
        )
    return meta


def build_lsh_index(
    emb: DataFrame,
    path: str,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
) -> None:
    """Materialize the hyperplane bucket as a STORED partition column:
    parquet directory-partitioned by ``bucket`` (2^n_planes directories).
    Probing then reads only the probed partitions — `PartitionFilters`
    in the scan, ~(1+n_planes)/2^planes of the files touched — instead
    of scanning every row to recompute its bucket (plan-asserted in
    tests/test_plans.py).  Index build is one narrow map + write; build
    params land in a ``_index_meta.json`` sidecar that probes and
    extends validate."""
    from politician_etl_project_spark.storage import write_partitioned

    bucketed = emb.withColumn("bucket", hyperplane_bits(vec_col, n_planes, dim))
    meta = {
        "kind": "lsh",
        "n_planes": n_planes,
        "dim": dim,
        "schema": bucketed.schema.jsonValue(),
    }
    if bucketed.isEmpty():
        # a partitioned write of zero rows emits no data files at all —
        # the sidecar alone carries the schema, so probes return a typed
        # empty frame and the FIRST extend appends the first bucket=
        # directories (a flat empty file here would leave a mixed
        # flat+partitioned layout after extend, bricking every read)
        _write_index_meta(path, meta)
        return
    write_partitioned(bucketed, path, ["bucket"])
    _write_index_meta(path, meta)


def extend_lsh_index(
    spark,
    index_path: str,
    new_emb: DataFrame,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental index maintenance: append NEW vectors to a stored LSH
    index.  The batch is written with ``partitionBy("bucket")`` in append
    mode, so it adds files to the bucket directories it lands in and
    never rewrites a stored file — a 100-vector batch against a
    billion-vector index touches ≤ 100 directories, not the index.

    Contract: incoming ids must be NEW.  A *changed* embedding can move
    to a different hyperplane bucket, and removing it from its old bucket
    would require scanning every partition (the old bucket is unknown) —
    exactly the pruning this layout exists to keep.  Production systems
    handle re-embeds with delete bitmaps or periodic rebuild; here one
    column-pruned id scan refuses a batch that holds an indexed id, and
    the batch itself keeps one row per id."""
    import os

    from politician_etl_project_spark.operators.upsert import dedup_keys

    _check_index_meta(index_path, "lsh", n_planes=n_planes, dim=dim)
    bucketed = dedup_keys(
        new_emb.withColumn("bucket", hyperplane_bits(vec_col, n_planes, dim)), [id_col]
    )
    # an index built from an empty corpus holds only its sidecar: there
    # is nothing to clash with, and no parquet to scan for ids
    if os.path.isdir(index_path) and any(
        fn.startswith("bucket=") for fn in os.listdir(index_path)
    ):
        existing = spark.read.parquet(index_path).select(id_col)
        clash = existing.join(bucketed.select(id_col), id_col, "semi").limit(1).collect()
        if clash:
            raise ValueError(
                f"extend_lsh_index: id {clash[0][id_col]} already indexed — "
                "changed embeddings need a rebuild (bucket may move), not an extend"
            )
    bucketed.write.mode("append").partitionBy("bucket").parquet(index_path)
    spark.catalog.refreshByPath(index_path)


def ann_lsh_indexed(
    spark,
    index_path: str,
    query_vec: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: bool = True,
) -> DataFrame:
    """Probe a stored LSH index (see :func:`build_lsh_index`).

    The query's bucket and its hamming-1 multiprobe neighbors are a
    driver-side computation over the single query row; the resulting
    IN-list on the partition column prunes non-probed directories at
    planning time.  Same results as :func:`ann_lsh` (identical plane
    family and probe set), different I/O shape."""
    meta = _check_index_meta(index_path, "lsh", n_planes=n_planes, dim=dim)
    qrow = (
        query_vec.withColumn("qbucket", hyperplane_bits("q", n_planes, dim))
        .select("qbucket")
        .first()
    )
    if qrow is None:  # empty query: empty top-k, same as ann_lsh
        probes: list[int] = []
    else:
        qb = qrow["qbucket"]
        probes = [qb] + ([qb ^ (1 << p) for p in range(n_planes)] if multiprobe else [])
    idx = _read_index_or_empty(spark, index_path, meta).filter(
        F.col("bucket").isin(probes) if probes else F.lit(False)
    )
    return (
        idx.crossJoin(F.broadcast(query_vec))
        .select(F.col(id_col), F.round(cosine(vec_col, "q"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def token_sort_ratio_udf():
    """Arrow-batched pandas UDF computing token_sort_ratio (0-100), the
    reference's rapidfuzz scorer (scripts/ingest_fec_links.py:130):
    tokens sorted, joined, then Levenshtein similarity ratio.  Pure-python
    Levenshtein over the *sorted-token* strings, vectorized per batch —
    used only off the hot path (entity resolution after blocking)."""
    def _lev(a: str, b: str) -> int:
        if a == b:
            return 0
        if not a:
            return len(b)
        if not b:
            return len(a)
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    @F.pandas_udf(IntegerType())
    def _ratio(left: pd.Series, right: pd.Series) -> pd.Series:
        def score(a, b):
            if a is None or b is None:
                return 0
            sa = " ".join(sorted(str(a).split()))
            sb = " ".join(sorted(str(b).split()))
            longest = max(len(sa), len(sb))
            if longest == 0:
                return 100
            return int(round(100.0 * (longest - _lev(sa, sb)) / longest))

        return pd.Series([score(a, b) for a, b in zip(left, right)])

    return _ratio


# --- IVF (inverted-file) coarse quantization --------------------------------


def ivf_train_assign(
    emb: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic mini k-means: seeds = the first `n_clusters` vectors
    by id, then `n_iters` Lloyd iterations (assign via broadcast cross
    join, recentre via per-dimension mean).  Returns (assigned, centroids)
    where assigned = emb + `cluster` and centroids has (cluster, centroid).

    ``dim`` defaults to the length of the first stored vector (one 1-row
    driver lookup) — recentring needs a static per-dimension column list.

    Scale shape: every iteration is ONE broadcast cross join (n_clusters
    rows ship to executors) + one narrow argmin map + one n_clusters-group
    aggregate — no pairwise shuffle.  This is IVF coarse-quantizer
    training; at 100 TB you train on a sample and assign the full table
    in a single pass.
    """
    if dim is None:
        row = emb.select(vec_col).first()
        # empty input (or null first vector): dim 0 → empty centroids →
        # empty assignment, matching the pre-inference behavior
        dim = 0 if row is None or row[0] is None else len(row[0])
    centroids = (
        emb.orderBy(id_col)
        .limit(n_clusters)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cluster"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
    )
    # recentre via an EXACT decimal sum, then one double division — a
    # float AVG's value depends on partition/summation order, which would
    # make both the assignment nondeterministic across partitionings and
    # the DuckDB oracle replay impossible; the decimal sum is
    # order-independent and identical on both engines
    def _mean(d: int):
        s = F.sum(F.element_at(F.col(vec_col), d + 1).cast("decimal(27,10)"))
        return s.cast("double") / F.count(F.lit(1))

    for _ in range(n_iters):
        assigned = _assign(emb, centroids, vec_col, id_col)
        # eager k-row checkpoint: the next round's _assign collects these
        # centroids, and without materialization that collect would
        # recompute every earlier round's assignment pass (quadratic
        # recompute across the Lloyd loop).  One corpus pass per round —
        # the k-means optimum — plus the final assignment pass.
        centroids = (
            assigned.groupBy("cluster")
            .agg(F.array(*[_mean(d) for d in range(dim)]).alias("centroid"))
            .localCheckpoint(eager=True)
        )
    return _assign(emb, centroids, vec_col, id_col), centroids


def _assign(emb: DataFrame, centroids: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Nearest-centroid assignment (squared L2) as a NARROW MAP: the k
    centroid vectors (k is a small constant — the coarse-quantizer /
    codebook size) are collected and inlined as a literal
    array<struct<centroid,cluster>>, and the argmin is
    ``array_min(transform(...))`` — struct comparison is lexicographic
    (d2, cluster), the exact ORDER BY d2, cluster tie-break the DuckDB
    oracle replays.

    Scale contract: the earlier crossJoin+groupBy form re-shuffled the
    FULL corpus (vector column included) on (id, vec) every Lloyd
    iteration — corpus-sized exchanges that dominate at 100 TB.  This
    form shuffles nothing: per-row fold over k inlined centroids, the
    same pattern MLlib k-means uses (broadcast centers, map-side
    assignment).  (x-y)*(x-y), not pow(x-y, 2): self-multiplication is
    bit-identical across engines while libm pow may differ in the last
    ulp — required for the DuckDB oracle replay of q_ann_ivf/q_ann_pq.
    """
    rows = centroids.orderBy("cluster").collect()  # k rows, k = O(16..256)
    if not rows:
        return (
            emb.select(id_col, vec_col)
            .withColumn("cluster", F.lit(0).cast("int"))
            .filter(F.lit(False))
        )
    cents = F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(v)) for v in r["centroid"]]).alias("centroid"),
                F.lit(int(r["cluster"])).cast("int").alias("cluster"),
            )
            for r in rows
        ]
    )

    def per_centroid(c):
        d2 = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                c.getField("centroid"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.struct(d2.alias("d2"), c.getField("cluster").alias("cluster"))

    best = F.array_min(F.transform(cents, per_centroid)).getField("cluster")
    return emb.select(id_col, vec_col, best.alias("cluster"))


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_clusters: int = 8,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> None:
    """Materialize IVF as a STORED index: vectors directory-partitioned
    by their inverted list (`cluster=` dirs) plus the trained centroids
    as a tiny sibling parquet.  A probe then reads n_probe/n_clusters of
    the FILES — partition pruning at planning time — instead of
    re-training the quantizer and scanning the corpus per query
    (the stored twin of :func:`ann_ivf`, same relationship
    :func:`build_lsh_index` has to :func:`ann_lsh`)."""
    assigned, centroids = ivf_train_assign(
        emb, n_clusters=n_clusters, n_iters=n_iters, vec_col=vec_col, id_col=id_col, dim=dim
    )
    from politician_etl_project_spark.storage import write_partitioned

    lists = assigned.select(id_col, vec_col, "cluster")
    if lists.isEmpty():
        lists.write.mode("overwrite").parquet(f"{path}/lists")
    else:
        write_partitioned(lists, f"{path}/lists", ["cluster"])
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    _write_index_meta(path, {"kind": "ivf", "n_clusters": n_clusters, "dim": dim})


def ann_ivf_indexed(
    spark,
    index_path: str,
    query_vec: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a stored IVF index: rank the (tiny, driver-collected)
    centroid set against the query, then scan ONLY the n_probe nearest
    `cluster=` partitions via an IN-list that folds into the scan's
    PartitionFilters (plan-asserted).  Same results as :func:`ann_ivf`
    over the same quantizer; I/O proportional to n_probe/n_clusters."""
    _check_index_meta(index_path, "ivf")
    centroids = spark.read.parquet(f"{index_path}/centroids")
    d2 = F.aggregate(
        F.zip_with(
            F.col("q"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    probe_rows = (
        centroids.crossJoin(F.broadcast(query_vec))
        .select("cluster", d2.alias("d2"))
        .orderBy("d2", "cluster")
        .limit(n_probe)
        .collect()
    )
    probes = [r["cluster"] for r in probe_rows]
    lists = spark.read.parquet(f"{index_path}/lists").filter(
        F.col("cluster").isin(probes) if probes else F.lit(False)
    )
    return (
        lists.crossJoin(F.broadcast(query_vec))
        .select(F.col(id_col), F.round(cosine(vec_col, "q"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ann_ivf(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: rank centroids by distance to the query, scan only the
    `n_probe` nearest inverted lists, exact-score within them.  Scans
    ~n_probe/n_clusters of the table (vs all of it for brute force)."""
    d2 = F.aggregate(
        F.zip_with(
            F.col("q"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    probe = (
        centroids.crossJoin(F.broadcast(query_vec))
        .select("cluster", d2.alias("d2"), "q")
        .orderBy("d2", "cluster")
        .limit(n_probe)
    )
    return (
        assigned.join(F.broadcast(probe), "cluster")
        .select(F.col(id_col), F.round(cosine(vec_col, "q"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ann_lsh_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q",
    multiprobe: bool = True,
) -> DataFrame:
    """Batched LSH top-k: MANY query vectors served in ONE job — the
    serving-throughput shape (the single-query :func:`ann_lsh` pays a
    full job per request).  The query batch broadcasts with its buckets
    precomputed; each corpus row is bucketed once and scored only
    against queries within hamming<=1 of its bucket; per-query top-k is
    a window over the (tiny) surviving candidate set.

    Scale: corpus-side work is one narrow map + a filtered broadcast
    join — no shuffle until the per-query ranking, whose input is
    O(batch * bucket_size) rows.  Against a stored index
    (build_lsh_index) the same batch folds into a partition IN-list of
    the union of all probed buckets."""
    bucketed = emb.withColumn("bucket", hyperplane_bits(vec_col, n_planes, dim))
    qb = queries.withColumn("qbucket", hyperplane_bits(q_vec_col, n_planes, dim))
    joined = bucketed.join(
        F.broadcast(qb),
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= (1 if multiprobe else 0),
    )
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(vec_col, q_vec_col), 4).alias("score"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy(q_id_col, F.desc("score"), F.asc(id_col))
    )


# --- Product quantization (PQ) ---------------------------------------------


def _subspace(vec_col: str, j: int, dsub: int, out: str) -> "F.Column":
    """j-th sub-vector as array<double> (slice is 1-based)."""
    return F.expr(
        f"transform(slice({vec_col}, {j * dsub + 1}, {dsub}), x -> CAST(x AS DOUBLE))"
    ).alias(out)


def pq_train_codes(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 4,
    n_iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[DataFrame]]:
    """Product-quantization training: split each vector into ``m``
    subspaces of dim/m dims and run the deterministic mini k-means of
    :func:`ivf_train_assign` independently per subspace (``ksub``
    centroids each).  Returns ``(codes, codebooks)`` — codes carries one
    ``code_j`` column per subspace (the vector compresses from dim
    floats to m small ints: 64x here), codebooks is the per-subspace
    centroid frame list.

    Scale shape: per subspace the Lloyd loop is broadcast-crossjoin +
    argmin + ksub-group mean (see ivf_train_assign); the code table is
    built by m id-joins that AQE plans as broadcasts once the per-
    subspace assignment frames are small, and at 100 TB you train the
    codebooks on a sample and assign the full corpus in one narrow
    pass.  Reference analog: none — this is the storage-compressed ANN
    path Pinecone runs internally for the index the reference queries
    (app/INDEX.md 1536-dim corpus)."""
    dsub = dim // m
    codes = emb.select(id_col)
    books: list[DataFrame] = []
    for j in range(m):
        sub = emb.select(id_col, _subspace(vec_col, j, dsub, "sub"))
        assigned, cents = ivf_train_assign(
            sub, n_clusters=ksub, n_iters=n_iters, vec_col="sub", id_col=id_col, dim=dsub
        )
        codes = codes.join(
            assigned.select(id_col, F.col("cluster").alias(f"code_{j}")), id_col
        )
        books.append(cents)
    return codes, books


def _adc_topk(
    codes: DataFrame,
    books_by_sub,
    query_vec: DataFrame,
    m: int,
    dim: int,
    k: int,
    id_col: str,
    q_col: str,
) -> DataFrame:
    """Shared ADC serving core for the inline (:func:`ann_pq_adc`) and
    stored-index (:func:`ann_pq_indexed`) paths: per subspace a ksub-row
    LUT of squared distances query-sub -> centroid broadcasts onto the
    code table, and the approximate distance is the explicit
    left-to-right sum d2_0 + ... + d2_{m-1} — a fixed-order float
    expression both engines evaluate identically, never a re-associable
    aggregate (the DuckDB oracle replays exactly this).
    ``books_by_sub(j)`` returns subspace j's (cluster, centroid) frame."""
    dsub = dim // m
    d2 = F.aggregate(
        F.zip_with(
            F.col("qs"),
            F.col("centroid"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = codes
    for j in range(m):
        qs = query_vec.select(_subspace(q_col, j, dsub, "qs"))
        lut = (
            books_by_sub(j)
            .crossJoin(F.broadcast(qs))
            .select(F.col("cluster").alias(f"code_{j}"), d2.alias(f"d2_{j}"))
        )
        scored = scored.join(F.broadcast(lut), f"code_{j}")
    adc = F.col("d2_0")
    for j in range(1, m):
        adc = adc + F.col(f"d2_{j}")
    # fixed-point 1e-4 units via the established FLOOR(x*1e4 + 0.5)
    # idiom (distances are >= 0): ROUND() would hit the engines'
    # HALF_UP-vs-HALF_EVEN .5 disagreement in double space, a latent
    # hash/cutoff mismatch at a rounding boundary (round-3 advice)
    return (
        scored.select(
            id_col,
            F.floor(adc * 10000 + F.lit(0.5)).cast("bigint").alias("adc_e4"),
        )
        .orderBy(F.asc("adc_e4"), F.asc(id_col))
        .limit(k)
    )


def ann_pq_adc(
    emb: DataFrame,
    query_vec: DataFrame,
    m: int = 4,
    ksub: int = 4,
    n_iters: int = 2,
    dim: int = 64,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_col: str = "q",
) -> DataFrame:
    """Inline-train ADC top-k over PQ codes (see :func:`_adc_topk` for
    the serving contract).  The scan never touches the original vectors:
    at serving time only the m-byte codes are read (the whole point of
    PQ at 100 TB — the float corpus stays cold)."""
    codes, books = pq_train_codes(
        emb, m=m, ksub=ksub, n_iters=n_iters, dim=dim, vec_col=vec_col, id_col=id_col
    )
    return _adc_topk(codes, lambda j: books[j], query_vec, m, dim, k, id_col, q_col)


def build_pq_index(
    emb: DataFrame,
    path: str,
    m: int = 4,
    ksub: int = 4,
    n_iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize PQ as a STORED index: the m-code table plus the
    per-subspace codebooks as a tiny sibling parquet — train offline
    once, serve many (the same stored-twin relationship
    :func:`build_ivf_index` has to :func:`ann_ivf`).  At serving time
    only the code table is scanned; the float corpus is never read."""
    codes, books = pq_train_codes(
        emb, m=m, ksub=ksub, n_iters=n_iters, dim=dim, vec_col=vec_col, id_col=id_col
    )
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    merged = None
    for j, b in enumerate(books):
        tagged = b.select(F.lit(j).alias("sub"), "cluster", "centroid")
        merged = tagged if merged is None else merged.unionByName(tagged)
    merged.write.mode("overwrite").parquet(f"{path}/codebooks")
    _write_index_meta(path, {"kind": "pq", "m": m, "ksub": ksub, "dim": dim})


def ann_pq_indexed(
    spark,
    index_path: str,
    query_vec: DataFrame,
    m: int = 4,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "q",
) -> DataFrame:
    """Serve ADC top-k from a stored PQ index (see :func:`_adc_topk`).
    Identical results to :func:`ann_pq_adc` over the same codebooks, at
    one code-table scan per batch."""
    _check_index_meta(index_path, "pq", m=m, dim=dim)
    books = spark.read.parquet(f"{index_path}/codebooks")
    codes = spark.read.parquet(f"{index_path}/codes")
    return _adc_topk(
        codes, lambda j: books.filter(F.col("sub") == j), query_vec, m, dim, k, id_col, q_col
    )
