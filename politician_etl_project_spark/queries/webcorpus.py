"""Web-corpus curation operators: URL canonicalization + URL-level
dedup, per-domain corpus stats behind a blocklist, and an interpolated
bigram language-model quality score.

These are the curation passes a Common-Crawl-scale training-data
pipeline runs between fetch and dedup (the reference scrapes pages and
stores raw source URLs verbatim — app/app_old.py keeps one row per
scraped URL string; verbatim matching under-dedups the same page
arriving as ``https://WWW.Site.com:443/p#frag`` and ``https://site.com/p``).

The documents table has no URL column, so each query SYNTHESIZES a
deterministic raw URL per document from (doc_id, source) — four spelling
variants of the same logical page — and the operator under test is the
normalization/aggregation, not the synthesis.  Both engines build the
identical raw string, so the oracle exercises the same rule chain.

Cross-engine determinism follows FIXTURES.md: integer micro-units for
logs (floor(1e6*ln p), the tfidf idiom), identical double expression
trees, total ORDER BY on unique keys, no DECIMAL/HUGEINT/nullable
numerics in final projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from politician_etl_project_spark.catalog import load_table
from politician_etl_project_spark.functions.url import canonical_url, url_host
from politician_etl_project_spark.queries.registry import declared_query

# ---------------------------------------------------------------------------
# Deterministic raw-URL synthesis (shared by the URL queries)
# ---------------------------------------------------------------------------
# variant v = (doc_id // 100) % 4 — consecutive id blocks rotate through
# the four spellings, so every pid-group holds several variants; page id
# pid = doc_id % 100 — documents sharing (source, pid) are the SAME
# logical page and must collapse after canonicalization.

_SPARK_RAW_URL = """
CASE CAST(pmod(floor(doc_id / 100), 4) AS INT)
  WHEN 0 THEN concat('https://www.', source, '.example.com/docs/', CAST(doc_id % 100 AS STRING))
  WHEN 1 THEN concat('HTTPS://', upper(source), '.EXAMPLE.COM:443/docs/', CAST(doc_id % 100 AS STRING), '#frag')
  WHEN 2 THEN concat('https://', source, '.example.com/docs/', CAST(doc_id % 100 AS STRING), '?utm_source=feed&ref=rss')
  ELSE concat('https://www.', source, '.example.com:443/docs/', CAST(doc_id % 100 AS STRING), '?utm_campaign=x')
END
"""

_DUCK_RAW_URL = """
CASE CAST((doc_id // 100) % 4 AS INTEGER)
  WHEN 0 THEN 'https://www.' || source || '.example.com/docs/' || CAST(doc_id % 100 AS VARCHAR)
  WHEN 1 THEN 'HTTPS://' || upper(source) || '.EXAMPLE.COM:443/docs/' || CAST(doc_id % 100 AS VARCHAR) || '#frag'
  WHEN 2 THEN 'https://' || source || '.example.com/docs/' || CAST(doc_id % 100 AS VARCHAR) || '?utm_source=feed&ref=rss'
  ELSE 'https://www.' || source || '.example.com:443/docs/' || CAST(doc_id % 100 AS VARCHAR) || '?utm_campaign=x'
END
"""

# The DuckDB mirror of functions/url.CANON_RULES — RE2 syntax, \\1
# backrefs, explicit 'g' flag, SAME order.  Kept adjacent to the Spark
# rule table by construction so a rule change breaks the oracle loudly.
_DUCK_CANON = """
regexp_replace(
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(lower({u}), '#.*$', '', 'g'),
              '([?&])utm_[a-z0-9_]+=[^&]*', '\\1', 'g'),
            '&&+', '&', 'g'),
          '\\?&', '?', 'g'),
        '[?&]$', '', 'g'),
      '^https://([^/:]+):443($|[/?])', 'https://\\1\\2', 'g'),
    '^http://([^/:]+):80($|[/?])', 'http://\\1\\2', 'g'),
  '^(https?://)www\\.', '\\1', 'g')
"""


@declared_query(
    "q_url_canonicalize",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_DUCK_RAW_URL} AS raw_url FROM documents
), canon AS (
  SELECT doc_id, raw_url, {_DUCK_CANON.format(u="raw_url")} AS canonical FROM raw
)
SELECT canonical AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
       MIN(doc_id) AS first_doc
FROM canon
GROUP BY canonical
ORDER BY canonical_url
""",
    ops=("WEB-url-canon", "F11", "A2", "U2"),
    doc="URL canonicalization + URL-level dedup: four raw spellings of "
    "the same page (case, www., explicit :443, #fragment, utm_* "
    "tracking params) collapse to one canonical URL; a non-tracking "
    "query param (?ref=rss) correctly does NOT collapse.  The rule "
    "chain is six regexp_replace steps in whole-stage codegen "
    "(functions/url.py), mirrored rule-for-rule in RE2 on the oracle "
    "side.  Scale: per-row narrow map + one groupBy shuffle on the "
    "canonical key — the 100 TB form of crawl dedup's first pass.",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SPARK_RAW_URL).alias("raw_url")
    )
    return (
        d.select("doc_id", "raw_url", canonical_url("raw_url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("raw_url").cast("bigint").alias("n_raw_forms"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("canonical_url")
    )


# hosts whose sources are blocklisted in q_domain_stats — a stand-in for
# the spam/adult/SEO blocklists crawl pipelines anti-join against
_BLOCKED_SOURCES = ("src3", "src7", "src11", "src15")


@declared_query(
    "q_domain_stats",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, n_chars, {_DUCK_RAW_URL} AS raw_url FROM documents
), canon AS (
  SELECT doc_id, n_chars, {_DUCK_CANON.format(u="raw_url")} AS canonical FROM raw
), hosted AS (
  SELECT doc_id, n_chars, canonical,
         regexp_extract(canonical, '^https?://([^/:?]+)', 1) AS host
  FROM canon
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_pages,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(FLOOR(1000000.0 * (CAST(SUM(n_chars) AS DOUBLE) / COUNT(*))) AS BIGINT)
         AS mean_chars_micro
FROM hosted
WHERE host NOT IN ({", ".join(f"'{s}.example.com'" for s in _BLOCKED_SOURCES)})
GROUP BY host
ORDER BY host
""",
    ops=("WEB-domain-stats", "J6", "J7", "A2"),
    doc="Per-domain corpus stats behind a blocklist: host extracted "
    "from the canonical URL, blocklisted domains removed by a "
    "broadcast left-anti join (the crawl pipeline's domain-filter "
    "pass), then per-host doc/page/char rollups.  mean_chars is "
    "fixed-pointed to micro-units (floor of one double division) so "
    "the hash is engine-exact.  Scale: the blocklist is the canonical "
    "small-side broadcast; the rollup is one shuffle on host — domain "
    "cardinality (~1e7 on the web) fits comfortably.",
)
def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr(_SPARK_RAW_URL).alias("raw_url")
    )
    hosted = d.select(
        "doc_id",
        "n_chars",
        canonical_url("raw_url").alias("canonical"),
    ).withColumn("host", url_host("canonical"))
    blocklist = F.broadcast(
        hosted.sparkSession.createDataFrame(
            [(f"{s}.example.com",) for s in _BLOCKED_SOURCES], "host string"
        )
    )
    return (
        hosted.join(blocklist, "host", "left_anti")
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("canonical").cast("bigint").alias("n_pages"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.floor(
                F.lit(1_000_000.0)
                * (F.sum("n_chars").cast("double") / F.count("*"))
            )
            .cast("bigint")
            .alias("mean_chars_micro"),
        )
        .orderBy("host")
    )


@declared_query(
    "q_bigram_lm_score",
    oracle="""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS token FROM arrs
), uni AS (
  SELECT token, COUNT(*) AS c1 FROM tok GROUP BY token
), tot AS (
  SELECT SUM(c1) AS t FROM uni
), big AS (
  SELECT a.doc_id, a.toks[i - 1] AS w1, a.toks[i] AS w2
  FROM arrs a, unnest(range(2, len(a.toks) + 1)) AS idx(i)
), bmodel AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
), scored AS (
  SELECT big.doc_id,
         CAST(FLOOR(1000000 * ln(
           0.75 * (CAST(m.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
           + 0.25 * (CAST(u2.c1 AS DOUBLE) / CAST(tt.t AS DOUBLE))
         )) AS BIGINT) AS lp
  FROM big
  JOIN bmodel m ON big.w1 = m.w1 AND big.w2 = m.w2
  JOIN uni u1 ON big.w1 = u1.token
  JOIN uni u2 ON big.w2 = u2.token
  CROSS JOIN tot tt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(lp) AS BIGINT) AS sum_logp_micro,
       CAST(FLOOR(CAST(SUM(lp) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_logp_micro
FROM scored
GROUP BY doc_id
ORDER BY avg_logp_micro DESC, doc_id
LIMIT 50
""",
    ops=("WEB-bigram-lm", "A2", "J7", "D1"),
    doc="Interpolated bigram LM quality score — one Markov order above "
    "q_lm_quality_score's unigram filter, the shape KenLM-scored "
    "pretraining filters use.  p(w2|w1) = 0.75*c(w1w2)/c(w1) + "
    "0.25*c(w2)/T; each bigram's log-prob is fixed-pointed to "
    "micro-units (floor(1e6*ln p), tfidf idiom) so per-doc sums are "
    "order-independent BIGINTs.  Bigrams come from an in-row array "
    "zip (transform over sequence — narrow, no per-doc shuffle); the "
    "unigram model broadcasts; the bigram model join is a key shuffle "
    "AQE may demote to broadcast at small SF.  At 100 TB the model "
    "trains on a sample and the scoring pass joins against the fixed "
    "model — identical plan, smaller model side.",
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    tok = arrs.select("doc_id", F.explode("toks").alias("token"))
    uni = tok.groupBy("token").agg(F.count("*").alias("c1")).localCheckpoint(eager=False)
    tot = uni.agg(F.sum("c1").alias("t"))
    # size >= 2 guard: Spark's sequence(2, 1) yields a DESCENDING [2, 1]
    # rather than an empty range, so single-token docs must be filtered
    # out before the zip (DuckDB's range(2, 2) is naturally empty)
    big = (
        arrs.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(toks)), i -> struct(toks[i - 2] AS w1, toks[i - 1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bmodel = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    scored = (
        big.join(bmodel, ["w1", "w2"])
        .join(F.broadcast(uni.withColumnRenamed("token", "w1")), "w1")
        .join(
            F.broadcast(
                uni.withColumnRenamed("token", "w2").withColumnRenamed("c1", "c2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.floor(
                F.lit(1_000_000)
                * F.log(
                    F.lit(0.75) * (F.col("c12").cast("double") / F.col("c1").cast("double"))
                    + F.lit(0.25) * (F.col("c2").cast("double") / F.col("t").cast("double"))
                )
            )
            .cast("bigint")
            .alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("lp").cast("bigint").alias("sum_logp_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_logp_micro",
            F.floor(F.col("sum_logp_micro").cast("double") / F.col("n_bigrams"))
            .cast("bigint")
            .alias("avg_logp_micro"),
        )
        .orderBy(F.desc("avg_logp_micro"), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# MinHash calibration: sketch estimate vs exact Jaccard
# ---------------------------------------------------------------------------

_MC_K = 8  # hash families; 4 bands of 2 generate the candidate pairs


def _duck_mc_sig(j: int) -> str:
    return (
        f"list_aggregate(list_transform(dt, t -> md5('{j}|' || t)), 'min') AS sig{j}"
    )


_MC_ORACLE = f"""
WITH d AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS dt
  FROM documents WHERE doc_id < 300
), sigs AS (
  SELECT doc_id, dt, {", ".join(_duck_mc_sig(j) for j in range(_MC_K))}
  FROM d
), bands AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, md5(sig{2 * b} || '|' || sig{2 * b + 1}) AS band_key FROM sigs"
    for b in range(_MC_K // 2)
  )}
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
), scored AS (
  SELECT
    CAST({" + ".join(f"CAST(a.sig{j} = b.sig{j} AS INTEGER)" for j in range(_MC_K))} AS INTEGER) AS n_match,
    CAST(FLOOR(1000000 * (
      CAST(len(list_intersect(a.dt, b.dt)) AS DOUBLE)
      / CAST(greatest(len(a.dt) + len(b.dt) - len(list_intersect(a.dt, b.dt)), 1) AS DOUBLE)
    )) AS BIGINT) AS jac_micro
  FROM cand c
  JOIN sigs a ON c.id_a = a.doc_id
  JOIN sigs b ON c.id_b = b.doc_id
)
SELECT n_match,
       CAST(n_match * 125000 AS BIGINT) AS est_micro,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(FLOOR(CAST(SUM(jac_micro) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_exact_micro,
       CAST(FLOOR(CAST(SUM(ABS(n_match * 125000 - jac_micro)) AS DOUBLE) / COUNT(*)) AS BIGINT)
         AS mean_abs_err_micro
FROM scored
GROUP BY n_match
ORDER BY n_match
"""


@declared_query(
    "q_minhash_calibration",
    oracle=_MC_ORACLE,
    ops=("TXT-minhash", "TXT-sketch-calibration", "J9", "A2"),
    doc="MinHash calibration harness: for every LSH candidate pair "
    "(k=8 signature, 4 bands of 2), the sketch's Jaccard estimate "
    "(matching components / k) is compared against the EXACT "
    "distinct-token Jaccard, bucketed by estimate — the recall-eval "
    "discipline of q_ann_recall_eval applied to the dedup sketch "
    "family, and the measurement that justifies a production "
    "band/threshold choice.  All arithmetic is fixed-pointed "
    "(estimate = n_match*125000 exactly; exact sim and error as "
    "floor(1e6*x) of one double division) so the oracle hash is "
    "engine-exact.  Scale: candidates come from the band join (never "
    "all pairs); the per-pair exact check is the same bounded "
    "verify stage the capped near-dup pipeline runs.",
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.dedup import (
        distinct_tokens,
        minhash_signature_from,
    )

    sigs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .withColumn("dt", distinct_tokens())
        .select("doc_id", "dt", *minhash_signature_from("dt", _MC_K))
    )
    bands = None
    for b in range(_MC_K // 2):
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws("|", f"sig{2 * b}", f"sig{2 * b + 1}")).alias("band_key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    left = bands.select(
        F.col("doc_id").alias("id_a"), "band_id", "band_key"
    )
    right = bands.select(
        F.col("doc_id").alias("id_b"), "band_id", "band_key"
    )
    cand = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.col("dt").alias("dt_a"),
        *[F.col(f"sig{j}").alias(f"a{j}") for j in range(_MC_K)],
    )
    b_ = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.col("dt").alias("dt_b"),
        *[F.col(f"sig{j}").alias(f"b{j}") for j in range(_MC_K)],
    )
    inter = F.size(F.array_intersect("dt_a", "dt_b"))
    union = F.greatest(F.size("dt_a") + F.size("dt_b") - inter, F.lit(1))
    n_match = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(_MC_K)
    ).cast("int")
    scored = (
        cand.join(a, "id_a")
        .join(b_, "id_b")
        .select(
            n_match.alias("n_match"),
            F.floor(F.lit(1_000_000) * (inter.cast("double") / union.cast("double")))
            .cast("bigint")
            .alias("jac_micro"),
        )
    )
    return (
        scored.groupBy("n_match")
        .agg(
            (F.col("n_match") * 125000).cast("bigint").alias("est_micro"),
            F.count("*").cast("bigint").alias("n_pairs"),
            F.floor(F.sum("jac_micro").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("mean_exact_micro"),
            F.floor(
                F.sum(F.abs(F.col("n_match") * 125000 - F.col("jac_micro"))).cast("double")
                / F.count("*")
            )
            .cast("bigint")
            .alias("mean_abs_err_micro"),
        )
        .orderBy("n_match")
    )


# ---------------------------------------------------------------------------
# BM25 top-k retrieval
# ---------------------------------------------------------------------------

# (query_id, term) pairs — the keyword workload; terms come from the
# corpus vocabulary so every query has matches at every SF
_BM25_QUERIES = [(1, "spark"), (1, "join"), (2, "data"), (2, "stream"), (3, "hash"), (3, "table")]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
_BM25_TERMS = sorted({t for _, t in _BM25_QUERIES})
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH arrs AS (
  -- list_filter mirrors the Spark side's array_remove(toks, ''): empty
  -- docs are zero-length, no phantom '' term
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != '') AS toks
  FROM documents
), tok AS (
  -- dl rides along with every token (functionally dependent on doc_id,
  -- so carrying it through the tf GROUP BY key costs nothing and saves
  -- the per-doc-length join); the token stream is filtered to query
  -- terms IN-ROW before the unnest, so only matches are ever exploded
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         unnest(list_filter(toks, t -> t IN ({_BM25_TERMS_SQL}))) AS term
  FROM arrs
), scalars AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM arrs
), q AS (
  SELECT * FROM (VALUES {", ".join(f"({qid}, '{t}')" for qid, t in _BM25_QUERIES)})
    AS t(query_id, term)
), tf AS (
  SELECT tok.doc_id, tok.dl, tok.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok JOIN q ON tok.term = q.term
  GROUP BY tok.doc_id, tok.dl, tok.term
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT q.query_id, tf.doc_id,
         CAST(FLOOR(1000000 * (
           ln((CAST(s.n - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf.tf AS DOUBLE)
              / (CAST(tf.tf AS DOUBLE)
                 + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (CAST(tf.dl AS DOUBLE) / s.avgdl))))
         )) AS BIGINT) AS c
  FROM tf
  JOIN q ON tf.term = q.term
  JOIN df ON tf.term = df.term
  CROSS JOIN scalars s
), scored AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
  FROM contrib GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score_micro,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) <= {_BM25_TOPK}
ORDER BY query_id, rank
"""


@declared_query(
    "q_bm25_topk",
    oracle=_BM25_ORACLE,
    ops=("WEB-bm25", "TXT-invindex", "A3", "J7", "O3"),
    doc="BM25 top-k retrieval (k1=1.2, b=0.75) — the lexical ranking "
    "function behind the keyword half of every RAG/hybrid stack, "
    "upgrading q_hybrid_rrf's raw-tf keyword list to the real scoring "
    "model (idf with +1 smoothing, tf saturation, document-length "
    "normalization).  Cross-engine exact: each (doc, term) "
    "contribution is fixed-pointed to micro-units (floor(1e6*x) of an "
    "identically parenthesized double tree), so per-doc scores are "
    "order-independent BIGINT sums; ranking breaks ties by doc_id.  "
    "Scale: the query-term list broadcasts (semi-join prunes the "
    "token stream before any aggregation), tf is one shuffle on "
    "(doc, term), df/avgdl are tiny side aggregates — the same plan "
    "serves a million-query batch by swapping the literal for a "
    "query table.",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # array_remove drops the '' token split() yields on empty or
    # whitespace-only docs — they count as zero-length for dl/avgdl/df
    # instead of carrying a phantom '' term (identical rule in the
    # stored index, operators/textindex.build_text_index, and the oracle)
    arrs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_remove(F.split(F.trim("text"), r"\s+"), "").alias("toks")
    )
    # dl = size of the token array — a narrow per-row expression, NOT an
    # explode+groupBy (saves a full token shuffle); it rides through the
    # tf GROUP BY key (functionally dependent on doc_id, zero extra
    # cardinality), which also eliminates the per-doc-length join.  The
    # token stream is filtered to the query vocabulary IN-ROW (codegen
    # `filter` over the array), so the explode emits only matches —
    # ~vocabulary-hit-rate of the corpus tokens instead of all of them.
    # A million-query workload would swap the literal for a broadcast
    # semi-join; for a bounded term list the literal keeps the prune
    # inside the scan stage.
    terms_lit = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tok = arrs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.explode(F.expr(f"filter(toks, t -> t IN ({terms_lit}))")).alias("term"),
    )
    scalars = arrs.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum(F.size("toks")).cast("double") / F.count("*")).alias("avgdl"),
    )
    q = F.broadcast(
        spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    )
    tf = tok.groupBy("doc_id", "dl", "term").agg(F.count("*").cast("bigint").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    contrib = (
        tf.join(q, "term")
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
                            + F.lit(_BM25_K1)
                            * (
                                F.lit(1.0)
                                - F.lit(_BM25_B)
                                + F.lit(_BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
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
        .filter(F.col("rank") <= _BM25_TOPK)
        .orderBy("query_id", "rank")
    )


def _text_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once stored BM25 inverted index over documents (postings
    partitioned by term bucket + term dictionary + corpus scalars),
    a catalog.stored_dir store like the stored ANN indexes."""
    from politician_etl_project_spark.catalog import stored_dir
    from politician_etl_project_spark.operators.textindex import build_text_index

    return stored_dir(
        "bm25",
        sf_dir,
        ("documents.parquet",),
        lambda staging: build_text_index(load_table(spark, sf_dir, "documents"), staging),
    )


@declared_query(
    "q_bm25_indexed",
    oracle=_BM25_ORACLE,
    ops=("WEB-bm25", "TXT-invindex", "S16", "O3"),
    doc="BM25 top-k served from a STORED inverted index "
    "(operators/textindex.py): postings partitioned by "
    "crc32(term) bucket, so the probe's driver-side bucket IN-list "
    "prunes non-touched index partitions at planning time "
    "(PartitionFilters — plan-asserted in tests/test_plans.py), the "
    "same serve-from-index discipline as the stored LSH/IVF/PQ "
    "vector tiers.  Runs the IDENTICAL math as q_bm25_topk and is "
    "hash-verified against the SAME oracle — proof the index "
    "round-trip loses nothing vs scanning the corpus.  At 100 TB the "
    "corpus is cold: a probe reads O(matched postings), df rows and "
    "corpus scalars broadcast, and the index builds with one token "
    "shuffle offline (the Lucene-segment analog, maintained like any "
    "other table).",
)
def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.textindex import bm25_topk_indexed

    return bm25_topk_indexed(
        spark, _text_index_path(spark, sf_dir), _BM25_QUERIES, k=_BM25_TOPK
    )


def _extended_text_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Base index over 90% of the corpus (doc_id % 10 != 0), then the
    remaining 10% MERGED in via extend_text_index — cached as one
    artifact, so the cache holds an index that PASSED through the
    incremental-maintenance path."""
    from politician_etl_project_spark.catalog import stored_dir
    from politician_etl_project_spark.operators.textindex import (
        build_text_index,
        extend_text_index,
    )

    def _build(staging: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        build_text_index(docs.filter(F.col("doc_id") % 10 != 0), staging)
        extend_text_index(spark, staging, docs.filter(F.col("doc_id") % 10 == 0))

    return stored_dir("bm25ext", sf_dir, ("documents.parquet",), _build)


@declared_query(
    "q_bm25_index_extend",
    oracle=_BM25_ORACLE,
    ops=("WEB-bm25", "TXT-invindex", "S16", "T5", "O3"),
    doc="Incremental inverted-index maintenance: the stored BM25 index "
    "is built over 90% of the corpus, then the remaining 10% is "
    "MERGED in by operators/textindex.extend_text_index — only the "
    "term buckets the batch touches are re-read and rewritten "
    "(O(batch + touched buckets), never O(corpus)), and the corpus "
    "scalars update from exact integer totals so avgdl is "
    "bit-identical to a full rebuild.  Serves the SAME probe as "
    "q_bm25_indexed against the SAME oracle — a green hash proves "
    "extend-then-serve equals rebuild-then-serve, the inverted-index "
    "twin of q_ann_index_extend's LSH-bucket append.  At 100 TB this "
    "is how the index follows daily ingest without nightly rebuilds.",
)
def q_bm25_index_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.operators.textindex import bm25_topk_indexed

    return bm25_topk_indexed(
        spark, _extended_text_index_path(spark, sf_dir), _BM25_QUERIES, k=_BM25_TOPK
    )
