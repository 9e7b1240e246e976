"""Vector / semantic-search declared queries over ``embeddings`` (SURVEY
§2.10; reference = Pinecone top-k cosine, app/app.py:338-367, replaced by
an array<float> column + Spark jobs).

Float determinism: cosine is computed as a left-fold over the array in
index order in BOTH engines (Spark ``aggregate``/``zip_with``; DuckDB
``list_sum(list_transform(range ...))``), so the doubles are
bit-identical and `round(.,4)` hash-matches.  Centroid aggregation floors
elements to integer micro-units first — order-independent, unlike double
sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from politician_etl_project_spark.catalog import load_table
from politician_etl_project_spark.operators.similarity import dot, knn_bruteforce, l2_norm
from politician_etl_project_spark.queries.registry import declared_query

_DUCK_DOT_AB = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
_DUCK_NORM = (
    "sqrt(list_sum(list_transform(range(1, 65), "
    "i -> CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE))))"
)


@declared_query(
    "q_knn_bruteforce",
    oracle=f"""
SELECT b.vec_id, ROUND({_DUCK_DOT_AB} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='b')}), 4) AS score
FROM embeddings a, embeddings b
WHERE a.vec_id = 0
ORDER BY score DESC, b.vec_id
LIMIT 10
""",
    ops=("V2", "O3"),
    doc="Brute-force exact top-10 cosine against the vec_id=0 query vector "
    "(reference Pinecone query top_k=10, app/app.py:347-351). Query row "
    "broadcast; executes as a narrow scored scan + TakeOrderedAndProject.",
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return knn_bruteforce(emb, qv, k=10)


@declared_query(
    "q_vector_norms",
    oracle=f"""
SELECT vec_id, label, ROUND({_DUCK_NORM.format(t='embeddings')}, 4) AS l2
FROM embeddings
WHERE vec_id < 100
ORDER BY vec_id
""",
    ops=("V1",),
    doc="Per-vector L2 norm via native array fold (embedding hygiene / "
    "normalization stage of the reference's hydrate_vectors pipeline, "
    "scripts/hydrate_vectors.py:72-95).",
)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return emb.select("vec_id", "label", F.round(l2_norm("embedding"), 4).alias("l2")).orderBy("vec_id")


@declared_query(
    "q_label_centroid",
    oracle="""
SELECT label,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(CAST(embeddings.embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_dim0_micro,
       CAST(SUM(CAST(FLOOR(CAST(embeddings.embedding[2] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_dim1_micro
FROM embeddings
GROUP BY label
ORDER BY label
""",
    ops=("V2", "A2"),
    doc="Per-label centroid components in integer micro-units (IVF-style "
    "coarse quantizer training — the scale path for ANN). Elements are "
    "floored to µ-units in double space (bit-identical across engines — "
    "float→DECIMAL casts are NOT: Spark rounds the shortest decimal repr, "
    "DuckDB the binary expansion) and summed as exact BIGINTs, "
    "order-independent under partial aggregation.",
)
def q_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    def micro(idx: int):
        return F.floor(F.element_at("embedding", idx).cast("double") * 1000000).cast("bigint")

    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(micro(1)).cast("bigint").alias("sum_dim0_micro"),
            F.sum(micro(2)).cast("bigint").alias("sum_dim1_micro"),
        )
        .orderBy("label")
    )


_NEAR_COS = """
WITH all_e AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50
), b AS (
  SELECT vec_id, embedding,
         (CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN CAST(embedding[2] AS DOUBLE) >= 0 THEN 1 ELSE 0 END) AS bucket,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
  FROM all_e
)
SELECT id_a, id_b, score FROM (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         ROUND(list_sum(list_transform(range(1, 65),
                   i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
               / (l.norm * r.norm), 4) AS score
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
WHERE score >= 0.35
ORDER BY id_a, id_b
"""


@declared_query(
    "q_embed_near_dup",
    oracle=_NEAR_COS,
    ops=("TXT-embed-neardup", "V2", "J9"),
    doc="Embedding-cosine near-dup pairs (north-star dedup family): "
    "2-bit sign-LSH blocking (coordinate hyperplanes — identical rows "
    "always share a bucket, so exact dups are never lost) then cosine "
    "within buckets, threshold 0.35. The fixture embeddings are random "
    "(max natural cosine 0.51), so 50 exact copies are planted under "
    "shifted ids to exercise the dup path; the 0.35 threshold keeps the "
    "natural-pair path non-trivial too. At 100 TB: more sign bits + "
    "multiprobe, same plan shape — shuffle on bucket, O(bucket²) scoring.",
)
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    all_e = emb.unionByName(planted)
    bucket = (
        F.when(F.element_at("embedding", 1).cast("double") >= 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 2).cast("double") >= 0, 1).otherwise(0)
    )
    # norms are computed ONCE per vector before the pair join — computing
    # cosine() per pair would redo both norms for every one of the
    # O(bucket²) candidates (measured 3x slower at sf0.1)
    b = all_e.withColumn("bucket", bucket).withColumn("norm", l2_norm("embedding"))
    # BROADCAST the right side and spread the left: a shuffle join on a
    # 4-value bucket key lands every candidate pair on <=4 reduce tasks
    # (measured 6.7 s at sf0.1 — 1/8 of the cores scoring); broadcasting
    # keeps pair enumeration + scoring at scan parallelism (0.86 s).  At
    # 100 TB the bucketed side no longer fits a broadcast — there the
    # answer is more sign bits (more, smaller buckets) + salting the
    # bucket key, not a 4-key exchange.
    left = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        "bucket",
    )
    right = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        "bucket",
    )
    # guard the explicit broadcast (bypasses autoBroadcastJoinThreshold):
    # past ~2M vectors x 64 doubles the build side nears driver/broadcast
    # limits, so fall back to the shuffle join rather than fail outright.
    # The row count comes from the parquet FOOTER on the driver — zero
    # Spark jobs — with a distributed count only as a fallback.
    import os

    try:
        import pyarrow.parquet as _pq

        n_vecs = _pq.ParquetFile(
            os.path.join(sf_dir, "embeddings.parquet")
        ).metadata.num_rows
    except Exception:  # no pyarrow / dir-shaped table: distributed count
        n_vecs = emb.count()
    if n_vecs <= 2_000_000:
        # spread the (small, possibly few-partition) scan across the
        # cluster before the map-side join so scoring parallelism equals
        # compute parallelism; pointless in the shuffle branch, where the
        # bucket exchange re-partitions anyway
        par = emb.sparkSession.sparkContext.defaultParallelism
        joined = left.repartition(par).join(F.broadcast(right), ["bucket"])
    else:
        joined = left.join(right, ["bucket"])
    return (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 4).alias("score"),
        )
        .filter(F.col("score") >= 0.35)
        .orderBy("id_a", "id_b")
    )


def _stored_index_path(spark: SparkSession, sf_dir: str, kind: str, params: str, builder) -> str:
    """Shared build-once stored-index cache (LSH / IVF / PQ): a
    catalog.stored_dir store keyed on the embeddings fingerprint, the
    index params and the engine source, so a regenerated corpus or a
    changed algorithm rebuilds instead of silently serving stale data.
    ``builder(emb, staging)`` performs the actual build."""
    from politician_etl_project_spark.catalog import stored_dir

    return stored_dir(
        kind,
        sf_dir,
        ("embeddings.parquet",),
        lambda staging: builder(load_table(spark, sf_dir, "embeddings"), staging),
        params=params,
    )


def _lsh_index_path(spark: SparkSession, sf_dir: str, n_planes: int, dim: int) -> str:
    """Build-once stored LSH index: parquet partitioned by the
    hyperplane bucket (see build_lsh_index)."""
    from politician_etl_project_spark.operators.similarity import build_lsh_index

    return _stored_index_path(
        spark, sf_dir, "lsh", f"{n_planes}|{dim}",
        lambda emb, staging: build_lsh_index(emb, staging, n_planes=n_planes, dim=dim),
    )


def _duck_bucket_expr(tbl: str, n_planes: int = 4, dim: int = 64) -> str:
    """DuckDB replica of operators/similarity.hyperplane_bits: identical
    md5-derived plane coefficients, identical left-to-right term order —
    the float sums are bit-for-bit equal, so bucket signs agree (a SUM
    aggregate would NOT guarantee summation order; the literal `+` chain
    does)."""
    planes = []
    for p in range(n_planes):
        comps = " + ".join(
            f"(CAST('0x' || substr(md5('{p}|{d}'), 1, 8) AS BIGINT) / 2147483647.5 - 1.0)"
            f" * CAST({tbl}.embedding[{d + 1}] AS DOUBLE)"
            for d in range(dim)
        )
        planes.append(f"(CASE WHEN ({comps}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(planes) + " AS INTEGER)"


_ANN_LSH_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_duck_bucket_expr("embeddings")} AS bucket
  FROM embeddings
), q AS (
  SELECT embedding AS qe, bucket AS qbucket FROM b WHERE vec_id = 0
)
SELECT vec_id, score FROM (
  SELECT b.vec_id,
         ROUND(list_sum(list_transform(range(1, 65),
                   i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, 65),
                       i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                       i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))), 4) AS score,
         bit_count(xor(b.bucket, q.qbucket)) AS ham
  FROM b, q
)
WHERE ham <= 1
ORDER BY score DESC, vec_id
LIMIT 10
"""


@declared_query(
    "q_ann_lsh",
    oracle=_ANN_LSH_ORACLE,
    ops=("V2", "TXT-ann"),
    doc="Approximate top-10 cosine via random-hyperplane LSH (4 planes, "
    "multi-probe hamming≤1 → 5/16 of buckets probed) over a STORED index: "
    "the bucket is a parquet partition column, so the probe prunes "
    "non-probed directories at planning time (PartitionFilters — "
    "plan-asserted in tests/test_plans.py) instead of scanning every row "
    "to recompute its bucket. Plane count trades recall for scan "
    "fraction; random 64-dim data has near-orthogonal neighbors, so "
    "shallow planes + multiprobe is the right corner. Recall vs "
    "q_knn_bruteforce is asserted in tests/test_operators.py.  The "
    "md5-derived plane family makes even this APPROXIMATE query "
    "hash-verifiable: the oracle replays the exact bucket/probe/score "
    "computation in DuckDB (_duck_bucket_expr).",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.similarity import ann_lsh_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    index = _lsh_index_path(spark, sf_dir, n_planes=4, dim=64)
    return ann_lsh_indexed(spark, index, qv, k=10, n_planes=4, dim=64)


def _ivf_oracle(n_clusters: int = 8, n_iters: int = 2, n_probe: int = 4, dim: int = 64, k: int = 10) -> str:
    """DuckDB replay of ivf_train_assign + ann_ivf, CTE per Lloyd step.

    Exactness contract with the Spark side (operators/similarity.py):
    seeds = first n_clusters vectors by id; squared distance is a
    list-ordered fold of (x-y)*(x-y) (Spark F.aggregate ≡ DuckDB
    list_sum over list_transform — same summation order); argmin ties
    break on cluster id; recentring sums DECIMAL(27,10) exactly (order-
    independent on both engines) then does ONE double division.  Every
    float op therefore sees identical operands in identical order."""
    dd = f"""list_sum(list_transform(range(1, {dim + 1}),
        j -> (CAST(e.embedding[j] AS DOUBLE) - c.centroid[j])
           * (CAST(e.embedding[j] AS DOUBLE) - c.centroid[j])))"""
    ctes = [
        f"""seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cluster,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_clusters})
)"""
    ]
    cent = "seeds"
    for i in range(n_iters):
        ctes.append(f"""a{i} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dd}, c.cluster) AS rn
    FROM embeddings e, {cent} c
  ) WHERE rn = 1
)""")
        ctes.append(f"""c{i} AS (
  SELECT cluster, list(m ORDER BY d) AS centroid FROM (
    SELECT a.cluster, d.range AS d,
           CAST(SUM(CAST(a.embedding[d.range] AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
    FROM a{i} a, range(1, {dim + 1}) d
    GROUP BY a.cluster, d.range
  ) GROUP BY cluster
)""")
        cent = f"c{i}"
    ctes.append(f"""afin AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dd}, c.cluster) AS rn
    FROM embeddings e, {cent} c
  ) WHERE rn = 1
)""")
    qd = dd.replace("e.embedding", "q.qe")
    ctes.append(f"""qv AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
)""")
    ctes.append(f"""probe AS (
  SELECT cluster FROM (
    SELECT c.cluster, ROW_NUMBER() OVER (ORDER BY {qd}, c.cluster) AS rn
    FROM {cent} c, qv q
  ) WHERE rn <= {n_probe}
)""")
    body = f"""SELECT vec_id, score FROM (
  SELECT a.vec_id,
         ROUND(list_sum(list_transform(range(1, {dim + 1}),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, {dim + 1}),
                       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, {dim + 1}),
                       i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))), 4) AS score
  FROM afin a JOIN probe USING (cluster), qv q
)
ORDER BY score DESC, vec_id
LIMIT {k}"""
    return "WITH " + ",\n".join(ctes) + "\n" + body


@declared_query(
    "q_ann_ivf",
    oracle=_ivf_oracle(),
    ops=("V2", "TXT-ann-ivf"),
    doc="Approximate top-10 cosine via IVF: deterministic mini k-means "
    "coarse quantizer (8 clusters, 2 Lloyd iterations — each iteration "
    "one broadcast cross join + argmin + 8-group mean), then probe the "
    "4 nearest inverted lists only. The second ANN scale path next to "
    "LSH (q_ann_lsh): IVF wins when the data clusters, LSH when it "
    "doesn't. Recall + pruning asserted in tests/test_operators.py.  "
    "Hash-verifiable despite being approximate: seeds are the first "
    "n_clusters ids, recentring is an exact decimal-sum mean, distances "
    "are literal (x-y)*(x-y) folds — so the DuckDB oracle replays the "
    "whole Lloyd loop bit-for-bit (_ivf_oracle).",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.similarity import ann_ivf_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    index = _ivf_index_path(spark, sf_dir, n_clusters=8, n_iters=2)
    return ann_ivf_indexed(spark, index, qv, k=10, n_probe=4)


def _ivf_index_path(spark: SparkSession, sf_dir: str, n_clusters: int, n_iters: int) -> str:
    """Build-once stored IVF index: trained inverted lists partitioned by
    cluster + centroids parquet (see build_ivf_index)."""
    from politician_etl_project_spark.operators.similarity import build_ivf_index

    return _stored_index_path(
        spark, sf_dir, "ivf", f"ivf|{n_clusters}|{n_iters}",
        lambda emb, staging: build_ivf_index(
            emb, staging, n_clusters=n_clusters, n_iters=n_iters
        ),
    )


_EMBED_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_NEAR_COS})
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk(n, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, w.r FROM walk w JOIN edges e ON e.u = w.n
), comp AS (
  SELECT n AS vec_id, MIN(r) AS cluster_id FROM walk GROUP BY n
)
SELECT c.vec_id, c.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size
FROM comp c
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id) s
  USING (cluster_id)
ORDER BY vec_id
"""


@declared_query(
    "q_embed_dup_clusters",
    oracle=_EMBED_CLUSTERS_ORACLE,
    ops=("TXT-embed-neardup", "TXT-components"),
    doc="Semantic duplicate clusters: connected components "
    "(operators/components.py, same star-contraction as q_dup_clusters) "
    "over the embedding-cosine near-dup pairs of q_embed_near_dup — "
    "cosine similarity is even less transitive than Jaccard, so "
    "cluster-level dedup is the policy that actually removes paraphrase "
    "groups.  Demonstrates the components operator composing over any "
    "pair source (token LSH, shingle LSH, embedding LSH) unchanged.",
)
def q_embed_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.components import duplicate_clusters

    pairs = q_embed_near_dup(spark, sf_dir)
    return (
        duplicate_clusters(pairs)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy("vec_id")
    )


_BATCH_COS = """ROUND(list_sum(list_transform(range(1, 65),
                   i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, 65),
                       i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                       i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))), 4)"""

_ANN_BATCH_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_duck_bucket_expr("embeddings")} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, embedding AS qe, bucket AS qbucket FROM b WHERE vec_id < 5
), cand AS (
  SELECT q.q_id, b.vec_id, {_BATCH_COS} AS score
  FROM b JOIN q ON bit_count(xor(b.bucket, q.qbucket)) <= 1
)
SELECT q_id, vec_id, score FROM (
  SELECT q_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
  FROM cand
)
WHERE rn <= 3
ORDER BY q_id, score DESC, vec_id
"""


@declared_query(
    "q_ann_batch",
    oracle=_ANN_BATCH_ORACLE,
    ops=("V2", "TXT-ann", "W1"),
    doc="BATCHED ANN serving: 5 query vectors answered in ONE job — "
    "corpus rows bucket once (narrow map), the tiny query batch "
    "broadcasts with precomputed buckets, candidates survive only "
    "within hamming<=1 of a query's bucket, and per-query top-3 is a "
    "window over the candidate set.  This is the throughput shape the "
    "reference's per-request Pinecone path (app/app.py:338-367) can't "
    "express: amortizing the corpus scan across a request batch.  The "
    "md5 plane family makes the whole probe hash-verifiable "
    "(operators/similarity.ann_lsh_batch; oracle replays bucket, probe "
    "set, and scores bit-for-bit).",
)
def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.similarity import ann_lsh_batch

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q")
    )
    return ann_lsh_batch(emb, queries, k=3, n_planes=4, dim=64)


# ---------------------------------------------------------------------------
# int8 symmetric quantization — embedding storage compression
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH q AS (
  SELECT vec_id, label,
         greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127 AS scale,
         embedding
  FROM embeddings WHERE vec_id < 200
), err AS (
  SELECT vec_id, label, scale,
         list_max(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale))) AS max_err,
         list_sum(list_transform(range(1, 65),
            i -> abs(CAST(embedding[i] AS DOUBLE)
                     - floor(CAST(embedding[i] AS DOUBLE) / scale + 0.5) * scale))) AS sum_err
  FROM q
)
SELECT vec_id, label,
       CAST(FLOOR(scale * 1000000000) AS BIGINT) AS scale_nano,
       CAST(FLOOR(max_err * 1000000000) AS BIGINT) AS max_err_nano,
       CAST(FLOOR(sum_err * 1000000000) AS BIGINT) AS sum_err_nano
FROM err
ORDER BY vec_id
"""


@declared_query(
    "q_embed_quantize",
    oracle=_QUANT_ORACLE,
    ops=("V1", "TXT-quantize", "D2"),
    doc="Symmetric int8 quantization audit for embedding storage: per "
    "vector, scale = max|x|/127 (zero-guard 1e-12), codes = "
    "floor(x/scale + 0.5) — round-half-up pinned explicitly because "
    "Spark round() and DuckDB round() disagree on .5 in double space — "
    "and the reconstruction error stats (max and L1 in nano-units) "
    "that decide whether a corpus can ship int8 (4x smaller ANN "
    "index, the standard serving trade).  Everything is per-row "
    "element-wise double math in index order (max is order-free, the "
    "L1 fold replays left-to-right in both engines — the dot-product "
    "precedent at module top), then floored to exact BIGINT "
    "nano-units, so the hash is bit-exact.  Narrow map over the "
    "corpus: no shuffle at all at any scale.  Reference analog: "
    "hydrate_vectors.py ships float32 to Pinecone; this is the op "
    "that would cut that index cost 4x.",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    x = "CAST(e AS DOUBLE)"
    scale = (
        "greatest(aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, e) -> greatest(acc, abs(CAST(e AS DOUBLE)))), 1e-12d) / 127"
    )
    dequant_err = f"abs({x} - floor({x} / scale + 0.5d) * scale)"
    q = emb.select(
        "vec_id",
        "label",
        F.expr(scale).alias("scale"),
        "embedding",
    )
    err = q.select(
        "vec_id",
        "label",
        "scale",
        F.expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE), "
            f"(acc, e) -> greatest(acc, {dequant_err}))"
        ).alias("max_err"),
        F.expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE), "
            f"(acc, e) -> acc + {dequant_err})"
        ).alias("sum_err"),
    )
    return err.select(
        "vec_id",
        "label",
        F.floor(F.col("scale") * 1000000000).cast("bigint").alias("scale_nano"),
        F.floor(F.col("max_err") * 1000000000).cast("bigint").alias("max_err_nano"),
        F.floor(F.col("sum_err") * 1000000000).cast("bigint").alias("sum_err_nano"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Product quantization ANN (ADC) — the third ANN scale path
# ---------------------------------------------------------------------------


def _pq_oracle(m: int = 4, ksub: int = 4, n_iters: int = 2, dim: int = 64, k: int = 10) -> str:
    """DuckDB replay of pq_train_codes + ann_pq_adc: per subspace the
    identical deterministic Lloyd loop the IVF oracle replays
    (_ivf_oracle contract: id-ordered seeds, (x-y)*(x-y) list-ordered
    folds, decimal-sum recentring, argmin ties on cluster id), then the
    ADC distance as the explicit fixed-order sum d2_0 + ... + d2_{m-1}."""
    dsub = dim // m
    subs_cols = ", ".join(
        f"list_transform(range({j * dsub + 1}, {j * dsub + dsub + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE)) AS sub{j}"
        for j in range(m)
    )
    ctes = [f"subs AS (\n  SELECT vec_id, {subs_cols} FROM embeddings\n)"]
    for j in range(m):
        dd = (
            f"""list_sum(list_transform(range(1, {dsub + 1}),
        t -> (e.sub{j}[t] - c.centroid[t]) * (e.sub{j}[t] - c.centroid[t])))"""
        )
        ctes.append(f"""seeds{j} AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cluster, sub{j} AS centroid
  FROM (SELECT vec_id, sub{j} FROM subs ORDER BY vec_id LIMIT {ksub})
)""")
        cent = f"seeds{j}"
        for i in range(n_iters):
            ctes.append(f"""a{j}_{i} AS (
  SELECT vec_id, sub{j}, cluster FROM (
    SELECT e.vec_id, e.sub{j}, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dd}, c.cluster) AS rn
    FROM subs e, {cent} c
  ) WHERE rn = 1
)""")
            ctes.append(f"""c{j}_{i} AS (
  SELECT cluster, list(mm ORDER BY d) AS centroid FROM (
    SELECT a.cluster, d.range AS d,
           CAST(SUM(CAST(a.sub{j}[d.range] AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mm
    FROM a{j}_{i} a, range(1, {dsub + 1}) d
    GROUP BY a.cluster, d.range
  ) GROUP BY cluster
)""")
            cent = f"c{j}_{i}"
        ctes.append(f"""afin{j} AS (
  SELECT vec_id, cluster AS code_{j} FROM (
    SELECT e.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dd}, c.cluster) AS rn
    FROM subs e, {cent} c
  ) WHERE rn = 1
)""")
        qd = dd.replace("e.sub", "q.qsub")
        ctes.append(f"""lut{j} AS (
  SELECT c.cluster AS code_{j}, {qd} AS d2_{j}
  FROM {cent} c, (SELECT sub{j} AS qsub{j} FROM subs WHERE vec_id = 0) q
)""")
    joins = " ".join(
        f"JOIN afin{j} USING (vec_id)" if j else "afin0" for j in range(m)
    )
    lut_joins = " ".join(f"JOIN lut{j} USING (code_{j})" for j in range(m))
    adc = " + ".join(f"d2_{j}" for j in range(m))
    body = f"""SELECT vec_id, CAST(FLOOR(({adc}) * 10000 + 0.5) AS BIGINT) AS adc_e4
FROM {joins} {lut_joins}
ORDER BY adc_e4, vec_id
LIMIT {k}"""
    return "WITH " + ",\n".join(ctes) + "\n" + body


@declared_query(
    "q_ann_pq",
    oracle=_pq_oracle(),
    ops=("V2", "TXT-ann-pq"),
    doc="Approximate top-10 nearest neighbors via product quantization "
    "with asymmetric distance (ADC): 64 dims split into 4 subspaces, a "
    "deterministic 4-centroid mini k-means per subspace compresses each "
    "vector to 4 small codes (64x storage reduction), and serving sums "
    "4 broadcast lookup-table entries per row — the corpus floats stay "
    "cold, only codes are scanned.  Completes the ANN family next to "
    "hyperplane LSH (q_ann_lsh) and IVF (q_ann_ivf): PQ is the "
    "memory-bound regime's answer (codes fit in RAM when vectors "
    "don't).  Served from a STORED index (codes + codebooks parquet, "
    "train-once cache keyed on the corpus fingerprint): measured 5.9 s "
    "inline-train vs 0.63 s stored at sf0.1.  Hash-verifiable despite "
    "approximation: the oracle "
    "replays each subspace Lloyd loop bit-for-bit (same exactness "
    "contract as _ivf_oracle) and the ADC sum is a fixed-order float "
    "expression, not a re-associable aggregate.  Reference analog: the "
    "compressed index tier behind Pinecone serving (app/INDEX.md "
    "30k x 1536-dim corpus).",
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.similarity import ann_pq_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    index = _pq_index_path(spark, sf_dir, m=4, ksub=4, n_iters=2)
    return ann_pq_indexed(spark, index, qv, m=4, dim=64, k=10)


def _pq_index_path(spark: SparkSession, sf_dir: str, m: int, ksub: int, n_iters: int) -> str:
    """Build-once stored PQ index: the code table plus per-subspace
    codebooks (see build_pq_index) — train offline, serve online."""
    from politician_etl_project_spark.operators.similarity import build_pq_index

    return _stored_index_path(
        spark, sf_dir, "pq", f"pq|{m}|{ksub}|{n_iters}",
        lambda emb, staging: build_pq_index(emb, staging, m=m, ksub=ksub, n_iters=n_iters, dim=64),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: keyword + vector lists fused by reciprocal rank
# ---------------------------------------------------------------------------

_HYBRID_ORACLE = f"""
WITH kw AS (
  SELECT doc_id, rnk AS kw_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS rnk
    FROM (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t = 'merge')) AS tf
      FROM documents
    ) WHERE tf > 0
  ) WHERE rnk <= 20
), vec AS (
  SELECT vec_id AS doc_id, rnk AS vec_rank FROM (
    SELECT b.vec_id,
           ROW_NUMBER() OVER (ORDER BY {_DUCK_DOT_AB} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='b')}) DESC, b.vec_id) AS rnk
    FROM embeddings a, embeddings b
    WHERE a.vec_id = 0
  ) WHERE rnk <= 20
)
SELECT doc_id,
       CAST(COALESCE(1000000 // (60 + kw_rank), 0)
          + COALESCE(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_micro,
       CAST(COALESCE(kw_rank, -1) AS BIGINT) AS kw_rank,
       CAST(COALESCE(vec_rank, -1) AS BIGINT) AS vec_rank
FROM kw FULL OUTER JOIN vec USING (doc_id)
ORDER BY rrf_micro DESC, doc_id
LIMIT 10
"""


@declared_query(
    "q_hybrid_rrf",
    oracle=_HYBRID_ORACLE,
    ops=("V2", "P7", "O3", "TXT-hybrid"),
    doc="Hybrid retrieval with reciprocal-rank fusion: a keyword list "
    "(exact whole-token term frequency for 'merge', top-20) and a "
    "semantic list (cosine vs the vec_id=0 query, top-20) fuse by "
    "rrf = sum(1e6 DIV (60+rank)) — integer micro-units, so the fused "
    "score is exact and order-independent, unlike float RRF.  This is "
    "the reference's dual retrieval path made one engine query: "
    "app_old.py:469-491 fans out a LIKE donor search AND a Pinecone "
    "semantic query, then merges in Python.  Scale shape: each list is "
    "a TakeOrderedAndProject over a narrow map (top-20 never leaves "
    "the executors unsorted), the fusion joins two 20-row frames — "
    "broadcast trivially; absent ranks surface as the -1 sentinel "
    "(FIXTURES nullable-numeric rule).",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from politician_etl_project_spark.operators.similarity import cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    tf = F.expr("size(filter(split(trim(text), '\\\\s+'), t -> t = 'merge'))")
    kw_top = (
        docs.select("doc_id", tf.alias("tf"))
        .filter(F.col("tf") > 0)
        .orderBy(F.desc("tf"), F.asc("doc_id"))
        .limit(20)
    )
    kw = kw_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("tf"), F.asc("doc_id")))
        .alias("kw_rank"),
    )

    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    vec_top = (
        emb.crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), cosine("embedding", "q").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )
    vec = vec_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("vec_rank"),
    )

    fused = kw.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.expr("1000000 div (60 + kw_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000 div (60 + vec_rank)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_micro"),
        F.coalesce("kw_rank", F.lit(-1)).cast("bigint").alias("kw_rank"),
        F.coalesce("vec_rank", F.lit(-1)).cast("bigint").alias("vec_rank"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# ANN quality harness: recall@10 vs the exact baseline, as one query
# ---------------------------------------------------------------------------

_BRUTE_IDS = f"""SELECT b.vec_id FROM embeddings a, embeddings b
  WHERE a.vec_id = 0
  ORDER BY {_DUCK_DOT_AB} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='b')}) DESC, b.vec_id
  LIMIT 10"""


def _ann_recall_oracle() -> str:
    return f"""
WITH brute AS ({_BRUTE_IDS}),
lsh AS (SELECT vec_id FROM ({_ANN_LSH_ORACLE})),
ivf AS (SELECT vec_id FROM ({_ivf_oracle()}))
SELECT method, CAST(10 AS BIGINT) AS k, n_hits, CAST(n_hits * 10 AS BIGINT) AS recall_pct
FROM (
  SELECT 'lsh' AS method, CAST(COUNT(*) AS BIGINT) AS n_hits FROM lsh JOIN brute USING (vec_id)
  UNION ALL
  SELECT 'ivf', CAST(COUNT(*) AS BIGINT) FROM ivf JOIN brute USING (vec_id)
)
ORDER BY method
"""


@declared_query(
    "q_ann_recall_eval",
    oracle=_ann_recall_oracle(),
    ops=("V2", "TXT-ann", "DQ-recall"),
    doc="ANN quality harness as ONE query: recall@10 of the stored LSH "
    "and IVF probes against the exact brute-force baseline for the "
    "vec_id=0 query — the evaluation loop every ANN deployment runs "
    "before trading recall for scan fraction, expressed as three "
    "top-k plans + two tiny joins instead of an offline script.  "
    "Driver-verifiable end-to-end because every branch (brute ranking, "
    "hyperplane buckets, the IVF Lloyd loop) is replayed bit-for-bit "
    "by the composed oracle.  Scale: each branch is the corresponding "
    "partition-pruned probe; the recall join touches 10-row frames.",
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.similarity import (
        ann_ivf_indexed,
        ann_lsh_indexed,
        knn_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    # materialize the exact baseline ONCE: it feeds both recall joins,
    # and without the checkpoint the O(n·d) full-corpus scoring subtree
    # would execute twice in the one job (no subplan reuse for
    # TakeOrderedAndProject subtrees)
    brute = knn_bruteforce(emb, qv, k=10).select("vec_id").localCheckpoint(eager=False)
    lsh = ann_lsh_indexed(
        spark, _lsh_index_path(spark, sf_dir, n_planes=4, dim=64), qv, k=10, n_planes=4, dim=64
    ).select("vec_id")
    ivf = ann_ivf_indexed(
        spark, _ivf_index_path(spark, sf_dir, n_clusters=8, n_iters=2), qv, k=10, n_probe=4
    ).select("vec_id")

    def row(method: str, hits: DataFrame) -> DataFrame:
        return hits.join(brute, "vec_id").agg(
            F.lit(method).alias("method"),
            F.lit(10).cast("bigint").alias("k"),
            F.count("*").cast("bigint").alias("n_hits"),
            (F.count("*") * 10).cast("bigint").alias("recall_pct"),
        ).select("method", "k", "n_hits", "recall_pct")

    return row("ivf", ivf).unionByName(row("lsh", lsh)).orderBy("method")


# ---------------------------------------------------------------------------
# Incremental index maintenance, driver-grade (S16 + extend_lsh_index)
# ---------------------------------------------------------------------------


def _extended_lsh_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once stored LSH index constructed INCREMENTALLY: the base
    index holds vec_id % 7 != 0, then the held-out slice arrives as a
    new-vector batch through operators/similarity.extend_lsh_index (a
    bucket-partitioned append that adds files only to the buckets the
    batch lands in).  Cached under the 'lshx' kind."""
    from politician_etl_project_spark.operators.similarity import (
        build_lsh_index,
        extend_lsh_index,
    )

    def _builder(emb: DataFrame, staging: str) -> None:
        build_lsh_index(emb.filter(F.col("vec_id") % 7 != 0), staging, n_planes=4, dim=64)
        extend_lsh_index(
            spark, staging, emb.filter(F.col("vec_id") % 7 == 0), n_planes=4, dim=64
        )

    return _stored_index_path(spark, sf_dir, "lshx", "4|64|mod7", _builder)


@declared_query(
    "q_ann_index_extend",
    oracle=_ANN_LSH_ORACLE,
    ops=("V2", "S16", "S11", "TXT-ann"),
    doc="Incremental ANN index maintenance at driver grade: the stored "
    "LSH index is built WITHOUT every 7th vector, the held-out batch is "
    "then appended via extend_lsh_index (a bucket-partitioned append — "
    "files land only in the buckets the batch touches and no stored "
    "file is rewritten, new-id contract enforced), and the probe runs "
    "against the extended index.  The "
    "oracle is IDENTICAL to q_ann_lsh's full-corpus replay, so the hash "
    "match PROVES the incremental path converges to the full rebuild — "
    "the invariant that makes continuous ingestion into a 100 TB ANN "
    "store safe (a billion-vector index absorbs a batch by touching "
    "<= batch-size bucket directories, never the index).  Previously "
    "pytest-only (tests/test_operators.py extend cases); this makes the "
    "maintenance path part of the driver correctness surface.",
)
def q_ann_index_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.similarity import ann_lsh_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    index = _extended_lsh_index_path(spark, sf_dir)
    return ann_lsh_indexed(spark, index, qv, k=10, n_planes=4, dim=64)


# ---------------------------------------------------------------------------
# Two-stage retrieval: PQ candidates -> exact re-rank
# ---------------------------------------------------------------------------


@declared_query(
    "q_pq_rerank",
    oracle=f"""
WITH cand AS (
{_pq_oracle(k=50)}
)
SELECT b.vec_id, ROUND({_DUCK_DOT_AB} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='b')}), 4) AS score
FROM cand
JOIN embeddings b ON cand.vec_id = b.vec_id
CROSS JOIN (SELECT * FROM embeddings WHERE vec_id = 0) a
ORDER BY score DESC, b.vec_id
LIMIT 10
""",
    ops=("V2", "TXT-ann-pq", "O3"),
    doc="Two-stage retrieval — the standard billion-scale serving "
    "pattern: stage 1 scans only the PQ CODE table (ADC over broadcast "
    "lookup tables, corpus floats stay cold) for 50 candidates; stage 2 "
    "re-ranks just those 50 with EXACT cosine against the full vectors "
    "and returns the top 10.  This is what production vector stores "
    "(FAISS IVFPQ + refine, Pinecone's re-ranking tier) actually run: "
    "the compressed index bounds I/O, the exact pass removes "
    "quantization error from the final ordering.  Cross-engine exact: "
    "the oracle replays the per-subspace Lloyd training bit-for-bit "
    "(the q_ann_pq contract) and the re-rank reuses the brute-force "
    "cosine expression (ROUND(x, 4), ties by id).  Scale: stage-2 cost "
    "is O(candidates), independent of corpus size; the candidate "
    "id-join prunes the vector scan to 50 rows.",
)
def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.similarity import ann_pq_indexed, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    index = _pq_index_path(spark, sf_dir, m=4, ksub=4, n_iters=2)
    cand = ann_pq_indexed(spark, index, qv, m=4, dim=64, k=50).select("vec_id")
    return (
        emb.join(cand, "vec_id", "left_semi")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", F.round(cosine("embedding", "q"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Semantic search end to end (the reference /search request as ONE action)
# ---------------------------------------------------------------------------

_SEARCH_QUESTION = "fast spark stream join query"
_SEARCH_DIM = 64


def _search_oracle() -> str:
    from politician_etl_project_spark.rag import (
        HASH_EMBED_DUCK_BUCKET_FMT,
        HASH_EMBED_DUCK_SIGN_FMT,
        hash_embedding_components,
    )

    qc = hash_embedding_components(_SEARCH_QUESTION, _SEARCH_DIM)
    q2 = sum(v * v for v in qc.values())
    qvals = ", ".join(f"({b}, {v})" for b, v in sorted(qc.items()))
    bucket = HASH_EMBED_DUCK_BUCKET_FMT.format(t="t", dim=_SEARCH_DIM)
    sign = HASH_EMBED_DUCK_SIGN_FMT.format(t="t")
    return f"""
WITH expl AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_split_to_array(trim(lower(substr(text, 1, 10000))), '\\s+'))) AS t
  FROM documents
), comp AS (
  SELECT doc_id, {bucket} AS b, SUM({sign}) AS v
  FROM expl GROUP BY doc_id, {bucket}
), q(b, qv) AS (VALUES {qvals}),
scored AS (
  SELECT c.doc_id,
         CAST(SUM(c.v * COALESCE(q.qv, 0)) AS BIGINT) AS dot,
         CAST(SUM(c.v * c.v) AS BIGINT) AS n2
  FROM comp c LEFT JOIN q ON c.b = q.b
  GROUP BY c.doc_id
)
SELECT s.doc_id, d.lang, d.source, s.dot,
       ROUND(s.dot / sqrt(CAST(greatest(s.n2 * {q2}, 1) AS DOUBLE)), 4) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY score DESC, s.doc_id
LIMIT 10
"""


@declared_query(
    "q_semantic_search_e2e",
    oracle=_search_oracle(),
    ops=("V1", "V2", "V3", "O3", "J7"),
    doc="The reference's semantic-search request end to end as ONE "
    "action (app/app.py:338-367: embed the question, Pinecone top-k, "
    "metadata join-back): the QUESTION is a constant string embedded "
    "driver-side by rag.hash_embedding_components (hashlib.md5 == "
    "Spark md5 == DuckDB md5) and broadcast as a literal VALUES "
    "table; the CORPUS side replays the same formula sparsely — "
    "explode distinct tokens, md5 bucket + sign, one groupBy to "
    "signed per-bucket counts — so the dot product and norms are "
    "EXACT BIGINTs and the only float op is the final one-chain "
    "round(dot/sqrt(n2*q2), 4), bit-identical on both engines.  All "
    "three formula spellings (dense Column expr, sparse replay, "
    "DuckDB twin) come from the same rag.HASH_EMBED_*_FMT constants "
    "and tests/test_rag.py pins sparse == dense cosine, so the "
    "oracle genuinely checks the production embedding.  Scale: the "
    "sparse form never materializes the dense array — one shuffle "
    "on (doc_id, bucket) bounded by tokens, a broadcast of the "
    "|question| buckets, and TakeOrderedAndProject for the top-k; "
    "this is also the serving shape for query-time scoring over a "
    "100 TB corpus where most docs share no bucket with the query.",
)
def q_semantic_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.rag import (
        HASH_EMBED_BUCKET_FMT,
        HASH_EMBED_SIGN_INT_FMT,
        HASH_EMBED_TOKENS_FMT,
        hash_embedding_components,
    )

    qc = hash_embedding_components(_SEARCH_QUESTION, _SEARCH_DIM)
    q2 = sum(v * v for v in qc.values())
    qvals = ", ".join(f"({b}, {v})" for b, v in sorted(qc.items()))
    qdf = spark.sql(f"SELECT * FROM VALUES {qvals} AS t(b, qv)")

    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(HASH_EMBED_TOKENS_FMT.format(ident="`text`", max_chars=10_000))
    comp = (
        docs.select("doc_id", F.explode(toks).alias("t"))
        .select(
            "doc_id",
            F.expr(HASH_EMBED_BUCKET_FMT.format(t="t", dim=_SEARCH_DIM)).alias("b"),
            F.expr(HASH_EMBED_SIGN_INT_FMT.format(t="t")).alias("s"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("s").alias("v"))
    )
    scored = (
        comp.join(F.broadcast(qdf), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("v") * F.coalesce("qv", F.lit(0))).cast("bigint").alias("dot"),
            F.sum(F.col("v") * F.col("v")).cast("bigint").alias("n2"),
        )
    )
    return (
        scored.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            "dot",
            F.round(
                F.col("dot")
                / F.sqrt(F.greatest(F.col("n2") * F.lit(q2), F.lit(1)).cast("double")),
                4,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )
