"""FEC bulk-file pipeline (SURVEY S1-S2, F6-F8, A14, J7; reference
``scripts/ingest_bulk_donations.py`` / ``scripts/ingest_fec_links.py``).

The reference streams itcont.txt through pandas in 500k-row chunks with
driver dicts as lookup tables.  Spark-first: the chunking disappears into
the partitioned scan, the dicts become broadcast hash joins, and every
per-row transform is a Column expression.

Scale: itcont at 100 TB is a plain partitioned CSV scan — filters
(AMNDT_IND, committee IN-set) are evaluated during the scan; the
committee linkage (thousands of rows) broadcasts; the only shuffle is the
donor dedup, keyed on the composite donor uid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from politician_etl_project_spark.functions.scalar import composite_key
from politician_etl_project_spark.schemas import FEC_CCL, FEC_CN, FEC_ITCONT


def read_itcont(spark: SparkSession, path: str) -> DataFrame:
    """Pipe-delimited, headerless, all-string, malformed lines tolerated
    (reference: sep='|', header=None, dtype=str, on_bad_lines='warn',
    ingest_bulk_donations.py:191-199)."""
    return spark.read.csv(path, sep="|", schema=FEC_ITCONT, header=False, mode="PERMISSIVE")


def read_ccl(spark: SparkSession, *paths: str) -> DataFrame:
    """Candidate-committee linkage files, unioned across years and deduped
    (U1/U4: pd.concat + drop_duplicates, ingest_bulk_donations.py:61-63)."""
    df = spark.read.csv(list(paths), sep="|", schema=FEC_CCL, header=False)
    return df.distinct()


def read_cn(spark: SparkSession, *paths: str) -> DataFrame:
    """Candidate master, keep-last dedup by CAND_ID (keep='last' over file
    order, ingest_fec_links.py:76-81 — made deterministic by ordering on
    election year desc)."""
    df = spark.read.csv(list(paths), sep="|", schema=FEC_CN, header=False)
    w = Window.partitionBy("CAND_ID").orderBy(F.desc("CAND_ELECTION_YR"), F.desc("CAND_PCC"))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def transform_donations(itcont: DataFrame, target_committees: DataFrame) -> DataFrame:
    """The chunk transform of ingest_bulk_donations.py:85-151 as one
    declarative plan:

    - keep only new filings: AMNDT_IND == 'N'           (:96, P2)
    - restrict to linked committees                      (:92, P4 → broadcast semi join)
    - donor uid = NAME|ZIP_CODE|EMPLOYER null-safe       (:98-100, F6)
    - date: MMDDYYYY parsed, bad → NULL via try_to_date  (:141, F7;
      Spark 4 ANSI mode would otherwise throw)
    - amount: decimal(12,2), bad → NULL via try_cast     (:142, F8)
    - drop rows missing amount or date                   (:147, P6)
    """
    keep = itcont.filter(F.col("AMNDT_IND") == "N").join(
        F.broadcast(target_committees.select("CMTE_ID").distinct()), "CMTE_ID", "left_semi"
    )
    return keep.select(
        F.col("CMTE_ID").alias("fec_committee_id"),
        composite_key("NAME", "ZIP_CODE", "EMPLOYER").alias("donor_uid"),
        F.col("NAME").alias("donor_name"),
        F.col("CITY").alias("city"),
        F.col("STATE").alias("state"),
        F.col("ZIP_CODE").alias("zip_code"),
        F.col("EMPLOYER").alias("employer"),
        F.col("OCCUPATION").alias("occupation"),
        F.try_to_date("TRANSACTION_DT", "MMddyyyy").alias("date"),
        F.col("TRANSACTION_AMT").try_cast("decimal(12,2)").alias("amount"),
        F.col("SUB_ID").alias("fec_filing_id"),
        F.when(F.col("ENTITY_TP").isin("PAC", "COM", "ORG"), F.lit("PAC"))
        .otherwise(F.lit("Individual"))
        .alias("donor_type"),
    ).na.drop(subset=["amount", "date"])


def build_donors(donations: DataFrame) -> DataFrame:
    """Distinct donors keyed by donor_uid, first-wins on attributes
    (reference donors_dict insert-if-absent, ingest_bulk_donations.py:104-116),
    with deterministic dense surrogate ids (S18: row_number over the
    natural key, never monotonically_increasing_id — SURVEY §7 hard-part 2)."""
    from politician_etl_project_spark.operators.upsert import surrogate_ids

    # first-wins as ONE aggregate (min_by over the unique fec_filing_id),
    # not a row_number window + filter (r12, guide §2.3 aggregate-before-
    # shuffle): the window sorts every donor_uid partition in full before
    # discarding all but one row per key, while the aggregate partial-
    # combines map-side — at a billion-donor dimension the pre-shuffle
    # row count drops from |facts| to |distinct donors per map task|.
    # Row-identical (filing ids are unique, so the min_by winner is the
    # window's rn=1 row; measured byte-equal at 337810 rows, 1.14 ->
    # 0.94 s on the bench macro's donors stage).
    # The ordering key is never NULL: an empty SUB_ID reads as NULL and
    # min_by skips NULL keys, so a donor whose every filing id is NULL
    # would get an all-NULL row.  Non-NULL ids sort first, so the minimum
    # still wins; among NULL ids the attributes break the tie.
    attrs = ["donor_name", "donor_type", "city", "state", "zip_code",
             "employer", "occupation"]
    winner = F.struct(*attrs)
    key = F.struct(F.col("fec_filing_id").isNull(), F.col("fec_filing_id"), winner)
    distinct = (
        donations.groupBy("donor_uid")
        .agg(F.min_by(winner, key).alias("_w"))
        .select("donor_uid", *[F.col(f"_w.{c}").alias(c) for c in attrs])
    )
    # surrogate_ids = row_number over donor_uid order, computed via the
    # prefix-bucketed two-level plan — no single-task global sort on a
    # dimension that is donor-count-sized
    return surrogate_ids(distinct, ["donor_uid"], "donor_id").select(
        "donor_id",
        F.col("donor_uid").alias("donor_source_key"),
        F.col("donor_name").alias("name"),
        "donor_type", "city", "state", "zip_code", "employer", "occupation",
    )


def link_candidates(cn: DataFrame, ccl: DataFrame) -> DataFrame:
    """House/Senate candidates joined to their committees (reference
    ingest_fec_links.py:67-93: CAND_OFFICE in (H,S) filter + linkage merge)."""
    hs = cn.filter(F.col("CAND_OFFICE").isin("H", "S"))
    return hs.join(ccl.select("CAND_ID", "CMTE_ID").distinct(), "CAND_ID")


def fuzzy_link_politicians(
    politicians: DataFrame,
    candidates: DataFrame,
    threshold: int = 85,
    use_pandas_udf: bool = False,
) -> DataFrame:
    """FEC entity resolution (reference ingest_fec_links.py:95-148, SURVEY
    J9/W1/D2): block on state, score normalized names, threshold, keep the
    best candidate per politician (first-wins on ties via CAND_ID order).

    Politicians' names are normalized to the FEC 'LAST FIRST' shape; score
    is a token-sort similarity 0-100 (native levenshtein by default, the
    pandas-UDF rapidfuzz-style scorer when use_pandas_udf).  Blocking makes
    the pair count O(sum state² ) not O(n²); skewed states (CA/TX) are
    handled by AQE skew-join splitting."""
    from politician_etl_project_spark.functions.scalar import normalize_name

    pol = politicians.select(
        "politician_id",
        F.col("state").alias("p_state"),
        normalize_name(F.concat_ws(" ", "last_name", "first_name")).alias("p_name"),
    )
    cand_cols = [
        F.col("CAND_ID"),
        F.col("CAND_OFFICE_ST").alias("c_state"),
        normalize_name("CAND_NAME").alias("c_name"),
        (F.col("CMTE_ID") if "CMTE_ID" in candidates.columns else F.col("CAND_PCC")).alias("CMTE_ID"),
    ]
    cand = candidates.select(*cand_cols)
    blocked = pol.join(cand, pol.p_state == cand.c_state)
    if use_pandas_udf:
        from politician_etl_project_spark.operators.similarity import token_sort_ratio_udf

        score = token_sort_ratio_udf()(F.col("p_name"), F.col("c_name"))
    else:
        longest = F.greatest(F.length("p_name"), F.length("c_name"))
        score = (
            (longest - F.levenshtein("p_name", "c_name")) * 100.0 / F.greatest(longest, F.lit(1))
        ).cast("int")
    scored = blocked.withColumn("score", score).filter(F.col("score") > threshold)
    w = Window.partitionBy("politician_id").orderBy(F.desc("score"), F.asc("CAND_ID"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("politician_id", F.col("CAND_ID").alias("fec_candidate_id"),
                F.col("CMTE_ID").alias("fec_committee_id"), "score")
    )
