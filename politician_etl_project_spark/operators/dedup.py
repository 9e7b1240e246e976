"""Deduplication operator family for LLM-data-pipeline scale (north-star
extension per BASELINE.json; exact-dedup analog in the reference is
drop_duplicates / ON CONFLICT DO NOTHING, SURVEY A14/S13).

Five operators, all built from *native* Column expressions — md5, array
lambdas (transform/aggregate/array_min), bit ops — so the entire pipeline
stays inside whole-stage codegen with zero Python in the hot path:

- exact:      md5 fingerprint of normalized text, groupBy
- minhash:    k lexicographic-min md5 signatures over the token set
- LSH:        band the signature, shuffle once on (band_id, band_key),
              emit candidate pairs inside buckets
- n-gram Jaccard: exact verify on shingle sets (array_intersect-free
              portable form)
- simhash:    16-bit sign-of-weighted-bits sketch + hamming distance

Scale design (100 TB): near-dup via LSH is the only operator that
shuffles by content; its shuffle key is the *band hash*, so volume is
O(docs × bands) tiny rows, never O(docs²).  Candidate pairs are verified
with exact Jaccard only inside buckets.  Skewed buckets (a band key
shared by thousands of near-identical docs) are handled by AQE skew
splitting; for pathological cases cap bucket size before pairing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- tokenization ----------------------------------------------------------


def tokens(col: str = "text") -> Column:
    """Whitespace tokens of trimmed text (reference-free; SURVEY §7 text analysis)."""
    return F.split(F.trim(F.col(col)), r"\s+")


def distinct_tokens(col: str = "text") -> Column:
    return F.array_distinct(tokens(col))


def shingles(col: str = "text", n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles as an array column (no explode — the whole
    shingle set is built per-row inside codegen).  ``distinct=False``
    keeps duplicate grams (repetition analysis wants them as the signal).

    The tokenizer is BOUND to a lambda variable by transforming a
    one-element array (``transform(array(split(..)), t -> ...)``): lambda
    variables evaluate once, so neither the n per-gram references nor
    Catalyst's filter-pushdown substitution can re-tokenize per element
    (the inlined form measured ~400 tokenizations per row —
    n parts × every sequence element × every predicate reference).
    Docs shorter than n yield an EMPTY set — the naive
    ``sequence(1, size-n+1)`` is DESCENDING ``[1, 0]`` when size < n and
    emits junk grams."""
    # i is 1-based over the sequence; array access t[...] is 0-based
    parts = ", ".join(f"t[i + {j} - 1]" for j in range(n))
    grams = (
        f"flatten(transform(array(split(trim({col}), '\\\\s+')), "
        f"t -> case when size(t) < {n} then array() "
        f"else transform(sequence(1, size(t) - {n - 1}), i -> concat_ws(' ', {parts})) end))"
    )
    return F.expr(f"array_distinct({grams})" if distinct else grams)


# --- exact dedup -----------------------------------------------------------


def fingerprint(col: str = "text") -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " "))


def exact_dup_groups(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with count and
    the keeper id (min id — deterministic, matching the engine's
    first-wins upsert policy)."""
    return (
        df.select(fingerprint(col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


# --- minhash + LSH ---------------------------------------------------------


def minhash_signature_from(tokens_col: str, n_hashes: int = 4) -> list[Column]:
    """k minhash values over a PRE-MATERIALIZED distinct-token array
    column.  Hash family j is md5('<j>|' || token); the minimum is taken
    lexicographically on the hex digest — portable across engines (no
    64-bit int parsing needed) and uniform enough for banding.

    Always prefer this over inlining the tokenizer per hash: an inlined
    ``array_distinct(split(...))`` is re-evaluated once PER HASH FAMILY
    (expression CSE does not rescue multi-referenced subtrees — the same
    pitfall measured at 5x on simhash, see :func:`token_hashes`)."""
    return [
        F.expr(f"array_min(transform({tokens_col}, t -> md5(concat('{j}|', t))))").alias(f"sig{j}")
        for j in range(n_hashes)
    ]


def minhash_signature(col: str = "text", n_hashes: int = 4) -> list[Column]:
    """One-shot signature for single-use contexts; hot paths should
    ``withColumn`` a :func:`distinct_tokens` array first and use
    :func:`minhash_signature_from` (tokenizes once, not once per hash)."""
    toks = "array_distinct(split(trim({col}), '\\\\s+'))".format(col=col)
    return [
        F.expr(f"array_min(transform({toks}, t -> md5(concat('{j}|', t))))").alias(f"sig{j}")
        for j in range(n_hashes)
    ]


def band_key_array(n_hashes: int, rows_per_band: int) -> Column:
    """THE MinHash banding formula — an array of md5 band keys over the
    ``sig{j}`` columns, one element per band.  Single definition shared
    by batch pair generation (:func:`lsh_candidate_pairs`,
    :func:`lsh_bucket_pairs`) and the stored bands index
    (operators/ingest), so the persisted index can never silently drift
    from the batch formula: a scheme change here changes every call
    site at once (and invalidates stored indexes loudly, since their
    keys stop matching everywhere rather than in one forgotten copy)."""
    n_bands = n_hashes // rows_per_band
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[f"sig{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band)]
                )
            )
            for b in range(n_bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    n_hashes: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    tokens_col: str | None = None,
    carry_cols: list[str] | None = None,
    distinct_pairs: bool = True,
) -> DataFrame:
    """MinHash-LSH candidate pairs: sign, band, bucket-join.

    One shuffle on (band_id, band_key); pairs are generated only within
    buckets via a self-join, so cost is sum(bucket²) not n².  Returns
    (id_a, id_b) with id_a < id_b, distinct across bands.

    ``tokens_col``: name of a pre-materialized distinct-token array
    column (e.g. cached upstream and shared with the Jaccard verify) —
    skips tokenization entirely.  Otherwise the text is tokenized ONCE
    into a temp column before the per-hash transforms.

    ``carry_cols``: payload columns carried THROUGH the band shuffle and
    emitted per-pair as ``<c>_a`` / ``<c>_b`` — a downstream verify
    (e.g. exact Jaccard on token sets) then needs no join-back to the
    corpus.  Tradeoff at scale: the band shuffle rows get fatter by the
    payload (× n_bands), but two whole shuffle joins disappear; right
    for kilobyte payloads (token arrays), wrong for raw documents —
    leave it None there and join the verify columns back by id.

    ``distinct_pairs=False`` skips the cross-band pair dedup exchange —
    correct whenever the consumer aggregates per-id anyway (e.g. "drop
    the larger id of any verified pair"): verifying a duplicate pair
    twice is cheaper than a full shuffle of all pairs."""
    carry = list(carry_cols or [])
    if tokens_col is not None:
        sigs = df.select(
            F.col(id_col), *[F.col(c) for c in carry], *minhash_signature_from(tokens_col, n_hashes)
        )
    else:
        sigs = df.withColumn("_toks", distinct_tokens(col)).select(
            F.col(id_col), *[F.col(c) for c in carry], *minhash_signature_from("_toks", n_hashes)
        )
    # One projection + posexplode: signatures are computed once per doc and
    # each doc emits n_bands (band_id, band_key) rows — no per-band union
    # branches re-reading the source.
    bands = sigs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(band_key_array(n_hashes, rows_per_band)).alias("band_id", "band_key"),
    )
    if max_bucket is not None:
        # skew guard: a band key shared by m docs yields m^2/2 candidate
        # pairs — cap pathological buckets (near-identical boilerplate
        # floods) by keeping only the max_bucket smallest ids per bucket;
        # exact dedup (fingerprint groupBy) catches what this skips
        from pyspark.sql import Window as _W

        w = _W.partitionBy("band_id", "band_key").orderBy(F.asc(id_col))
        bands = (
            bands.withColumn("_bn", F.row_number().over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    left = bands.alias("l")
    right = bands.alias("r")
    out = left.join(
        right,
        (F.col("l.band_id") == F.col("r.band_id"))
        & (F.col("l.band_key") == F.col("r.band_key"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry],
    )
    return out.distinct() if distinct_pairs else out


def lsh_bucket_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 32,
    tokens_col: str = "toks",
    min_jaccard: float = 0.80,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Jaccard-verified near-dup pairs in ONE shuffle: sign →
    band-explode → exchange on (band_id, band_key) → [window skew-cap →
    bucket collect → in-row pair enumeration + Jaccard verify] all in a
    single stage.  Emits (id_a, id_b, jaccard) with id_a < id_b, one row
    per (bucket, qualifying pair) — a pair surviving in both bands
    appears twice; callers ``distinct()`` (jaccard is a pure function of
    the pair, so pair-distinct and row-distinct agree).

    The self-join form (:func:`lsh_candidate_pairs` + verify) shuffles
    three more times (join build, pair distinct, verify join-back); here
    each bucket's ≤``max_bucket`` members are collected into an array —
    bounded, because the row_number cap runs FIRST — and the i<j pairs
    are enumerated by nested ``transform``/``filter`` lambdas inside
    whole-stage codegen.  The groupBy key equals the window partition
    key, so both run off the one band exchange.

    Use :func:`lsh_candidate_pairs` instead when buckets must stay
    uncapped (collect_list over an unbounded bucket is the OOM hazard
    this cap exists to prevent) or when the verify payload is too fat to
    carry through the shuffle."""
    from pyspark.sql import Window as _W

    if bands is None:
        sigs = df.select(
            F.col(id_col), F.col(tokens_col), *minhash_signature_from(tokens_col, n_hashes)
        )
        bands = sigs.select(
            F.col(id_col),
            F.col(tokens_col),
            F.posexplode(band_key_array(n_hashes, rows_per_band)).alias("band_id", "band_key"),
        )
    else:
        # caller-supplied (id, tokens, band_id, band_key) rows — e.g. a
        # PERSISTED banding shared with a store probe (ingest.py), so
        # the minhash pass is paid once; the banding formula must be
        # the same band_key_array scheme or candidates drift
        bands = bands.select(id_col, tokens_col, "band_id", "band_key")
    w = _W.partitionBy("band_id", "band_key").orderBy(F.asc(id_col))
    capped = (
        bands.withColumn("_bn", F.row_number().over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    # array_sort on struct orders by id (first field; unique, so the
    # token array never participates in the comparison) — the i<j pair
    # order is deterministic regardless of collect_list arrival order
    buckets = capped.groupBy("band_id", "band_key").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col(tokens_col).alias("t")))
        ).alias("m")
    )
    m = F.col("m")

    def _pairs(x, i):
        # jaccard is evaluated ONCE per pair (into the struct) before the
        # threshold filter — expression CSE would not rescue a
        # filter-then-project double reference (round-1 lesson)
        rest = F.slice(m, i + F.lit(2), F.size(m))
        withj = F.transform(
            rest,
            lambda y: F.struct(
                x["id"].alias("id_a"), y["id"].alias("id_b"), jaccard(x["t"], y["t"]).alias("jaccard")
            ),
        )
        return F.filter(withj, lambda p: p["jaccard"] >= min_jaccard)

    return buckets.select(
        F.explode(F.flatten(F.transform(m, _pairs))).alias("p")
    ).select("p.id_a", "p.id_b", "p.jaccard")


def lsh_bucket_drops(
    df: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 32,
    tokens_col: str = "toks",
    min_jaccard: float = 0.80,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup DROP ids — the larger id of each verified pair — via
    :func:`lsh_bucket_pairs` (same one-shuffle plan; the jaccard value is
    already computed for the ≥ filter, so projecting it away costs
    nothing).  Callers ``distinct()`` or aggregate per id."""
    return lsh_bucket_pairs(
        df, id_col, n_hashes, rows_per_band, max_bucket, tokens_col, min_jaccard, bands=bands
    ).select("id_b")


# --- n-gram Jaccard verify -------------------------------------------------


def jaccard(a: str | Column, b: str | Column) -> Column:
    """Exact Jaccard of two string-array columns, written as
    filter+contains so Spark and SQL oracles share one formula."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return (inter.cast("decimal(18,4)") / F.greatest(union, F.lit(1))).cast("decimal(18,6)")


# --- simhash ---------------------------------------------------------------


def _token_hashes_sql(col: str) -> str:
    return (
        f"transform(array_distinct(split(trim({col}), '\\\\s+')), "
        "t -> cast(conv(substring(md5(t), 1, 4), 16, 10) as int))"
    )


def token_hashes(col: str = "text") -> Column:
    """16-bit md5 hash per distinct token, as an int array.  Materialize
    this ONCE (``withColumn``) before fanning into the per-bit votes —
    inlining it in all 16 bit expressions tokenizes + md5s the text 16
    times (measured ~5x slower).  CollapseProject keeps the two-step
    projection separate because the column is referenced 16 times."""
    return F.expr(_token_hashes_sql(col))


def simhash16_from_hashes(hashes_col: str) -> Column:
    """16-bit SimHash from a precomputed token-hash array column: per-bit
    vote = sum of ±1 over hashes; bit set iff vote>0.  16 array-aggregates
    over a small int array, fused by codegen."""
    bit_terms = []
    for b in range(16):
        vote = (
            f"aggregate({hashes_col}, 0, (acc, h) -> acc + "
            f"(case when (shiftright(h, {b}) & 1) = 1 then 1 else -1 end))"
        )
        bit_terms.append(f"(case when ({vote}) > 0 then {1 << b} else 0 end)")
    return F.expr(" + ".join(bit_terms)).cast("int")


def hamming16(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 3,
) -> DataFrame:
    """Corpus-level EXACT segment deduplication — the line/paragraph
    dedup stage of public pretraining pipelines (C4 drops repeated
    lines, CCNet dedups on paragraph hashes): every document splits
    into consecutive ``seg_tokens``-token segments, and each distinct
    segment survives only at its FIRST corpus occurrence (lowest
    ``(doc_id, seg_idx)``); later copies are dropped and the document
    is reassembled from its surviving segments.

    Returns ``(id_col, n_segs BIGINT, n_kept BIGINT, kept_text
    STRING)`` — ``kept_text`` is NULL when every segment of the doc
    was seen earlier (nullable STRING, driver-safe).

    Scale (100 TB): the keep-first winner per segment is
    ``min(struct(doc_id, seg_idx))`` grouped by segment — a
    PLAIN AGGREGATE, deliberately not a row_number window: partial
    aggregation combines map-side, so a boilerplate segment repeated
    billions of times ("all rights reserved") collapses to one row
    per map task before the exchange, where a window would sort the
    entire hot partition on one task.  Total cost: one agg shuffle on
    the segment digest + one groupBy(doc) to reassemble + one join on
    doc id.  No window, no self-join, no per-row Python.

    The winner exchange carries digests, never segment text: the
    winner agg keys on a 16-byte MD5 of the segment, so the hot
    exchange carries digests + ids (O(segments x 16B); keying on the
    raw text grew that exchange 4.17x on a 5x corpus step, SCALE.md).
    Survivor text is then RE-DERIVED ROW-LOCALLY by re-slicing each
    doc's own token array at the surviving indices (a winner is fully
    identified by (doc, seg_idx)), so the reassembly groupBy is
    ids-only too.  No segment-text key can ever hot-spot an exchange,
    and 128-bit digests make collisions ignorable at any corpus size
    (~2^64 segments for a 50% birthday bound).  Checked against a
    pure-Python keep-first reference (tests) and q_segment_dedup's
    DuckDB oracle.

    Reference analog: no dedup tier exists in the reference
    (documents are served verbatim, app/database.py); this is part of
    the LLM-data-pipeline surface the Spark engine adds.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * seg_tokens + 1, seg_tokens)),
            )
        ).alias("seg_idx", "seg"),
    )
    # per-doc totals from a NARROW projection, not a second pass over the
    # corpus-wide explode: n_segs is derivable row-locally, and the
    # where-clause mirrors posexplode's NULL-text row drop
    per_doc = docs.select(
        F.col(id_col),
        F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("bigint").alias("n_segs"),
    ).where(F.col("n_segs").isNotNull())

    # hot exchange carries (16B digest, ids) — the segment text is
    # dropped BEFORE the shuffle and re-derived row-locally at the end
    winners = (
        segs.select(F.unhex(F.md5("seg")).alias("dg"), id_col, "seg_idx")
        .groupBy("dg")
        .agg(F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("w"))
    )
    kept_idx_per_doc = (
        winners.select(
            F.col(f"w.{id_col}").alias(id_col), F.col("w.seg_idx").alias("seg_idx")
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.array_sort(F.collect_list("seg_idx")).alias("kept_idx"),
        )
    )
    # survivor text re-derived from the doc's OWN token array — a
    # winner is uniquely (doc, seg_idx), so re-slicing reproduces the
    # exploded segment bit-for-bit with zero text ever shuffled on a
    # segment key
    doc_toks = docs.select(F.col(id_col), toks.alias("_toks"))
    rebuilt = F.concat_ws(
        " ",
        F.transform(
            F.col("kept_idx"),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("_toks"), i * seg_tokens + 1, seg_tokens)
            ),
        ),
    )
    joined = per_doc.join(kept_idx_per_doc, id_col, "left").join(doc_toks, id_col)
    return joined.select(
        F.col(id_col),
        "n_segs",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
        F.when(F.col("kept_idx").isNotNull(), rebuilt).alias("kept_text"),
    )
