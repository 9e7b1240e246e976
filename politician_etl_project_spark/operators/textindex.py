"""Stored inverted text index with BM25 serving — the lexical twin of
the stored ANN tiers (operators/similarity.build_lsh_index /
build_ivf_index): train/build once offline, serve probes that read only
the slice of the index the query touches.

Layout (all plain parquet):

- ``postings/`` partitioned by ``term_bucket`` (crc32(term) mod
  n_buckets): one row per (term, doc_id) with the term frequency and
  the document length — the Lucene-postings analog.  A probe computes
  its query terms' buckets DRIVER-SIDE and scans only those partitions
  (``PartitionFilters`` — plan-asserted in tests/test_plans.py), so
  serving cost is O(matched postings), not O(corpus).
- ``terms/``   partitioned the same way: one row per term with its
  document frequency (df) — the tiny dictionary side of the index.
- ``stats/``   one row: corpus document count and average doc length.

The BM25 math is IDENTICAL to queries/webcorpus.q_bm25_topk (k1=1.2,
b=0.75, per-(doc, term) contributions fixed-pointed to micro-units so
per-doc scores are order-independent BIGINT sums) — q_bm25_indexed is
therefore hash-verified against the SAME DuckDB oracle, proving the
stored index loses nothing vs the scan-everything form.

Reference analog: the reference's keyword search is a SQL LIKE per
request (app/app_old.py donor search); this is what that becomes when
the corpus is 100 TB and the query rate is real.
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_K1 = 1.2
_B = 0.75


def _bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side twin of the writer's crc32 bucket (zlib.crc32 and
    Spark's F.crc32 agree on unsigned CRC-32)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _postings_frame(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """The shared tokenize → per-(doc, term) postings construction used
    by BOTH build_text_index and extend_text_index — one definition so
    the extend==rebuild bit-identity is structural, not coincidental
    (the empty-token rule below is correctness-critical and must never
    drift between the two).  Returns (arrs, postings): arrs carries the
    per-doc token arrays for the corpus scalars, postings is the
    bucket-tagged (doc_id, dl, term, tf) frame."""
    arrs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_remove(F.split(F.trim(text_col), r"\s+"), "").alias("toks"),
    )
    tok = arrs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.explode("toks").alias("term"),
    )
    postings = (
        tok.groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .withColumn("term_bucket", F.pmod(F.crc32("term"), F.lit(n_buckets)).cast("int"))
    )
    return arrs, postings


def build_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Build the postings/terms/stats triple under ``path``.  One token
    explode + one (doc, term) aggregate — the same single-shuffle cost
    as any tf computation; df and the scalars fold from the postings.

    Empty tokens are removed before any aggregation (inside
    ``_postings_frame``): split() on an empty or whitespace-only
    document yields [''] — a single empty-string token — which would
    index empty docs with dl=1 and an '' posting, skewing avgdl and
    corpus df stats relative to treating them as zero-length.
    queries/webcorpus.q_bm25_topk (and its DuckDB oracle) apply the
    identical rule, so the stored index stays hash-equal to the scan
    form."""
    arrs, postings = _postings_frame(docs, text_col, id_col, n_buckets)
    # repartition ON THE BUCKET before the partitioned write: without it
    # every shuffle task holding rows of a bucket emits its own file —
    # n_buckets x shuffle_partitions small files whose per-task scan
    # overhead dominated probe latency (measured 345 files / ~4 s probe
    # at the 25k-doc point; single-file buckets cut the probe to the
    # actual matched-postings cost).  One file per bucket is the Lucene
    # segment analog; at 100 TB the same layout holds with a target
    # bucket size instead of a bucket count.
    postings.repartition(n_buckets, "term_bucket").write.partitionBy(
        "term_bucket"
    ).mode("overwrite").parquet(os.path.join(path, "postings"))
    # df folds from the in-memory postings frame (no read-back: a
    # partitioned write of ZERO rows emits no files, so reading it back
    # during the build would fail schema inference on an empty corpus)
    postings.groupBy("term_bucket", "term").agg(
        F.count("*").cast("bigint").alias("df")
    ).repartition(n_buckets, "term_bucket").write.partitionBy("term_bucket").mode(
        "overwrite"
    ).parquet(os.path.join(path, "terms"))
    # total_dl is kept as an exact BIGINT beside the derived avgdl so
    # extend_text_index can update the corpus scalars without float
    # drift: (total_dl + new_dl) / (n + new_n) is the same two exact
    # integers a full rebuild divides, hence bit-identical avgdl.
    # coalesce(sum, 0): an EMPTY corpus sums to NULL, and a NULL
    # total_dl would crash the first extend with int(None)
    arrs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.coalesce(F.sum(F.size("toks")), F.lit(0)).cast("bigint").alias("total_dl"),
        (F.sum(F.size("toks")).cast("double") / F.count("*")).alias("avgdl"),
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "stats"))
    import json

    with open(os.path.join(path, "_META.json"), "w") as fh:
        json.dump({"kind": "bm25", "n_buckets": n_buckets}, fh)


def extend_text_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[int]:
    """Incrementally MERGE a batch of NEW documents into a stored BM25
    index, rewriting ONLY the term buckets the batch touches — the
    inverted-index twin of similarity.extend_lsh_index (whose buckets
    only gain files, since LSH postings never merge).  Returns the
    touched bucket ids.

    Cost contract (100 TB): new postings are one token shuffle over the
    BATCH; each touched bucket is re-read, unioned and rewritten, so
    maintenance I/O is O(batch + touched buckets), never O(corpus).
    Corpus scalars update from exact integers (see build_text_index's
    total_dl), so the extended index is BIT-IDENTICAL to a full rebuild
    over base ∪ batch — asserted by tests and by q_bm25_index_extend's
    shared oracle.

    Preconditions: batch doc ids must be NEW (an update/delete needs a
    delete-list tier this index does not carry), and like compact() on
    the snapshot store this is a single-writer maintenance op.  Crash
    safety (round-7 advice — the old per-bucket reap-as-you-go swap was
    not transactional across buckets): the staged state is published
    under a journal.  ``_EXTEND_INPROGRESS.json`` records the swap plan
    (run token + which target dirs are replaced vs newly created) and
    is written ATOMICALLY before the first rename; every replaced dir
    moves aside to a ``.old-<token>`` sibling that is reaped only AFTER
    the journal is removed.  A crash anywhere inside the swap window
    therefore leaves a complete rollback recipe on disk:
    ``recover_text_index`` (called automatically at the start of the
    next extend) restores every ``.old-<token>`` sibling and removes
    any half-created dirs, returning the index to the exact pre-extend
    state — at which point the batch ids are still new and the extend
    can simply be re-run.  Probes refuse a journaled index
    (``bm25_topk_indexed`` raises) so merged postings are never scored
    against stale n/total_dl/avgdl scalars."""
    import json
    import shutil
    import uuid

    recover_text_index(path)  # roll back any torn prior extend first
    with open(os.path.join(path, "_META.json")) as fh:
        meta = json.load(fh)
    if meta.get("kind") != "bm25":
        raise ValueError(f"not a bm25 index at {path}: {meta}")
    n_buckets = meta["n_buckets"]

    arrs, raw_postings = _postings_frame(new_docs, text_col, id_col, n_buckets)
    new_postings = raw_postings.localCheckpoint(eager=False)
    touched = sorted(
        r["term_bucket"] for r in new_postings.select("term_bucket").distinct().collect()
    )
    batch_stats = arrs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.coalesce(F.sum(F.size("toks")), F.lit(0)).cast("bigint").alias("total_dl"),
    ).first()
    if not touched and batch_stats["n"] == 0:
        return []

    schema = "doc_id bigint, dl bigint, term string, tf bigint, term_bucket int"
    old = (
        spark.read.schema(schema)
        .parquet(os.path.join(path, "postings"))
        .filter(F.col("term_bucket").isin(touched))
    )
    merged = old.unionByName(new_postings)
    staging = f"{path}-extend-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    merged.repartition(max(len(touched), 1), "term_bucket").write.partitionBy(
        "term_bucket"
    ).mode("overwrite").parquet(os.path.join(staging, "postings"))
    # df re-derives from the merged postings of the touched buckets only
    # — exact, and bounded by those buckets' size
    merged.groupBy("term_bucket", "term").agg(
        F.count("*").cast("bigint").alias("df")
    ).repartition(max(len(touched), 1), "term_bucket").write.partitionBy(
        "term_bucket"
    ).mode("overwrite").parquet(os.path.join(staging, "terms"))

    old_stats = spark.read.parquet(os.path.join(path, "stats")).first()
    n2 = int(old_stats["n"]) + int(batch_stats["n"])
    total2 = int(old_stats["total_dl"]) + int(batch_stats["total_dl"])
    spark.createDataFrame(
        [(n2, total2, (float(total2) / n2) if n2 else 0.0)],
        "n bigint, total_dl bigint, avgdl double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "stats_new"))

    # Journaled publish: enumerate the swap plan, write it atomically,
    # THEN rename.  Old dirs move ASIDE to .old-<token> siblings (never
    # deleted before their replacement is live) and are reaped only
    # after the journal is gone — so a crash at ANY rename leaves a
    # complete rollback recipe for recover_text_index.
    swaps = []  # (staged src abs path, target path relative to index root)
    for sub in ("postings", "terms"):
        for b in touched:
            src = os.path.join(staging, sub, f"term_bucket={b}")
            if not os.path.isdir(src):
                continue  # bucket present in batch ids but empty after agg
            swaps.append((src, os.path.join(sub, f"term_bucket={b}")))
    swaps.append((os.path.join(staging, "stats_new"), "stats"))

    token = uuid.uuid4().hex[:8]
    journal = {
        "token": token,
        "replaced": [rel for _, rel in swaps if os.path.isdir(os.path.join(path, rel))],
        "created": [rel for _, rel in swaps if not os.path.isdir(os.path.join(path, rel))],
    }
    marker = os.path.join(path, "_EXTEND_INPROGRESS.json")
    tmp_marker = f"{marker}.tmp-{token}"
    with open(tmp_marker, "w") as fh:
        json.dump(journal, fh)
    os.replace(tmp_marker, marker)  # atomic: journal is all-or-nothing

    for src, rel in swaps:
        dst = os.path.join(path, rel)
        if os.path.isdir(dst):
            os.replace(dst, f"{dst}.old-{token}")
        os.replace(src, dst)
    os.remove(marker)  # commit point: after this the new state is final
    for rel in journal["replaced"]:
        shutil.rmtree(f"{os.path.join(path, rel)}.old-{token}", ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return touched


def recover_text_index(path: str) -> bool:
    """Roll back a torn ``extend_text_index`` publish (round-7 advice).

    If ``_EXTEND_INPROGRESS.json`` is present the previous extend
    crashed inside its swap window; this restores every ``.old-<token>``
    sibling the journal names, removes any half-created target dirs,
    and deletes the journal — returning the index to the exact
    pre-extend state (the crashed batch's ids are then still new, so
    the extend is safely re-runnable).  Idempotent: re-entrant crashes
    during recovery just re-run it.  Returns True when a rollback was
    performed.

    It also sweeps ORPHANED ``.old-<token>`` siblings (round-8 advice):
    a crash between ``os.remove(marker)`` and the post-commit reap loop
    leaves already-committed ``.old-*`` dirs with no journal pointing at
    them.  The pinned-schema bucket filter in ``bm25_topk_indexed``
    ignores them, but whole-directory parquet reads would
    partition-discover them as stale duplicate postings — so any
    ``.old-*`` under postings/, terms/, or beside stats that the live
    journal does NOT reference is reaped here unconditionally."""
    import glob as _glob
    import json
    import shutil

    marker = os.path.join(path, "_EXTEND_INPROGRESS.json")
    rolled_back = False
    keep: set[str] = set()
    if os.path.exists(marker):
        with open(marker) as fh:
            journal = json.load(fh)
        token = journal["token"]
        for rel in journal["replaced"]:
            dst = os.path.join(path, rel)
            trash = f"{dst}.old-{token}"
            keep.add(trash)
            if os.path.isdir(trash):
                if os.path.isdir(dst):
                    shutil.rmtree(dst)  # drop the half-published merge
                os.replace(trash, dst)
        for rel in journal["created"]:
            dst = os.path.join(path, rel)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
        os.remove(marker)
        rolled_back = True
    for pattern in ("postings/*.old-*", "terms/*.old-*", "stats.old-*"):
        for orphan in _glob.glob(os.path.join(path, pattern)):
            if orphan not in keep:
                shutil.rmtree(orphan, ignore_errors=True)
    return rolled_back


def bm25_topk_indexed(
    spark: SparkSession,
    index_path: str,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Serve BM25 top-k per query from the stored index.  The query
    terms' buckets are computed driver-side and pushed as partition
    predicates, so only the touched index slices are read; everything
    else (df dictionary rows, corpus scalars) broadcasts."""
    import json

    from pyspark.sql import Window

    with open(os.path.join(index_path, "_META.json")) as fh:
        meta = json.load(fh)
    if meta.get("kind") != "bm25":
        raise ValueError(f"not a bm25 index at {index_path}: {meta}")
    if os.path.exists(os.path.join(index_path, "_EXTEND_INPROGRESS.json")):
        # a torn extend left merged postings beside stale corpus scalars
        # — scoring would be quietly wrong; fail loudly and point at the
        # recovery path instead
        raise RuntimeError(
            f"bm25 index at {index_path} has an unfinished extend journal; "
            "run recover_text_index(path) (or re-run extend_text_index, "
            "which recovers automatically) before probing"
        )
    n_buckets = meta["n_buckets"]
    terms = sorted({t for _, t in queries})
    buckets = sorted({_bucket_of(t, n_buckets) for t in terms})

    # schemas pinned explicitly: a partitioned write of an EMPTY corpus
    # emits no data files, and schema inference over a file-less dir
    # throws — the pinned schema makes an empty index a valid one
    postings = (
        spark.read.schema("doc_id bigint, dl bigint, term string, tf bigint, term_bucket int")
        .parquet(os.path.join(index_path, "postings"))
        .filter(F.col("term_bucket").isin(buckets))  # PartitionFilters prune
        .filter(F.col("term").isin(terms))
    )
    df_ = (
        spark.read.schema("term string, df bigint, term_bucket int")
        .parquet(os.path.join(index_path, "terms"))
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("term", "df")
    )
    scalars = spark.read.parquet(os.path.join(index_path, "stats"))
    q = F.broadcast(spark.createDataFrame(queries, "query_id int, term string"))

    contrib = (
        postings.join(q, "term")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.lit(1_000_000)
                * (
                    F.log(
                        ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5))
                        / (F.col("df").cast("double") + F.lit(0.5))
                        + F.lit(1.0)
                    )
                    * (
                        F.col("tf").cast("double")
                        / (
                            F.col("tf").cast("double")
                            + F.lit(_K1)
                            * (
                                F.lit(1.0)
                                - F.lit(_B)
                                + F.lit(_B) * (F.col("dl").cast("double") / F.col("avgdl"))
                            )
                        )
                    )
                )
            )
            .cast("bigint")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").cast("bigint").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
