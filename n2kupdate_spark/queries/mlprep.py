"""Training-data preparation operators (north-star extension surface):
deterministic dataset splitting and time-series regularization — the two
reshaping steps every large-scale ML pipeline runs between raw tables and
model input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from n2kupdate_spark.queries._registry import register
from n2kupdate_spark.sources import load

#: Hash-bucket expression shared (textually) by both engines: first 16 bits
#: of md5 of the stringified id → bucket 0..99. Content-addressed, so the
#: split is stable under repartitioning, re-runs, and data reordering —
#: the property random() splits lack (SURVEY.md §7.4.4 determinism rule).
_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100"

#: corpus_passage_search packs (doc_id, chunk_id) into one long pid.
#: Must exceed any plausible per-document chunk count (1e9 chunks ≈ a
#: 56-gigatoken document at size 64 / stride 56) — and the op asserts
#: chunk_id < this at runtime so overflow fails loudly (r12 ADVICE).
_PASSAGE_PID_MULT = 1_000_000_000


@register(
    "sample_hash_split",
    oracle=f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {_BUCKET_SQL} AS bucket FROM documents)
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by md5 bucket of the
    document id. Pure map (no shuffle); identical assignment on any engine,
    cluster size, or run — the reproducibility contract random sampling
    can't give."""
    d = load(spark, sf_dir, "documents", columns=["doc_id"])
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "valid")
        .otherwise("test")
    )
    return d.select("doc_id", bucket.alias("bucket")).select(
        "doc_id", "bucket", split.alias("split")
    )


@register(
    "sample_reservoir_per_key",
    oracle="""
    SELECT doc_id, source, rk FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 20
    """,
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key reservoir: the 20 docs per source whose
    md5(doc_id) sorts lowest — a content-addressed "random" sample that is
    identical on every engine, run, and cluster size (the property a
    rand()-based reservoir lacks), and STABLE under corpus growth: a doc
    only leaves the sample when a lower-hash doc arrives, so per-domain
    inspection/eval sets don't churn wholesale between ingests.

    Scale: this runs the PRODUCTION path (operators/corpus.py::
    reservoir_per_key, prefilter_factor=8) — a #keys-sized count sets a
    per-key 32-bit md5-prefix bound with E[survivors] = 8k, the scan
    keeps only those slivers, and the top-k window sorts them instead of
    every key's full row set; under-filled keys fall back to their full
    rows, so the result is EXACT (prefix-first md5 comparison makes the
    k lowest full hashes a subset of any ≥k-row prefix cut). The oracle
    is the plain one-window SQL, so the hash-match gate re-proves the
    pre-filter's exactness every round. doc_id tiebreak keeps the order
    total (md5 collisions)."""
    from n2kupdate_spark.operators.corpus import reservoir_per_key

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source"])
    return reservoir_per_key(d, "source", "doc_id", k=20, prefilter_factor=8.0)


@register(
    "ts_resample_ffill",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, value,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
        FROM events
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(
                   CAST(ceil(MIN(ts_s) / 3600.0) * 3600 AS BIGINT),
                   CAST(floor(MAX(ts_s) / 3600.0) * 3600 AS BIGINT),
                   3600)) AS ts_s
        FROM e GROUP BY user_id
    ),
    unioned AS (
        SELECT user_id, ts_s, value, 0 AS is_grid, event_id FROM e
        UNION ALL
        SELECT user_id, ts_s, NULL, 1, NULL FROM grid
    ),
    filled AS (
        SELECT user_id, ts_s, is_grid,
               last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts_s ASC, is_grid ASC, COALESCE(event_id, -1) ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_ffill
        FROM unioned
    )
    SELECT user_id, ts_s AS grid_ts_s, ROUND(value_ffill, 4) AS value_ffill
    FROM filled WHERE is_grid = 1
    """,
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event series onto an hourly grid with forward
    fill (last observation carried forward) — time-series regularization
    for sequence-model training. Union-of-grid-and-points + one window pass:
    no joins, one shuffle on user_id; grid rows ∝ span/step, generated
    executor-side via sequence(). Tiebreaks (is_grid, event_id) make the
    carried value deterministic when events share a timestamp.

    Grid-growth contract (BASELINE.md §5): output rows =
    Σ_per_key (span/step + 1) — bounded by TIME SPAN, not input size. A
    single corrupt epoch-0 timestamp widens one key's span to ~56 years ≈
    490k hourly rows (measured +473k on sf0.1 from ONE bad row). A 100 TB
    caller must either validate the timestamp domain upstream
    (validate_domain) or clamp spans before gridding:
    ``g0 := greatest(g0, g1 - max_span_steps*step)`` — the clamp restores
    the bound regardless of data (probed: 1.52M → 1.05M rows)."""
    e = load(spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    grid = (
        e.groupBy("user_id")
        .agg(
            (F.ceil(F.min("ts_s") / 3600.0) * 3600).cast("long").alias("g0"),
            (F.floor(F.max("ts_s") / 3600.0) * 3600).cast("long").alias("g1"),
        )
        .select(
            "user_id",
            F.explode(F.sequence("g0", "g1", F.lit(3600).cast("long"))).alias("ts_s"),
        )
    )
    unioned = e.select(
        "user_id", "ts_s", "value", F.lit(0).alias("is_grid"), "event_id"
    ).unionByName(
        grid.select(
            "user_id",
            "ts_s",
            F.lit(None).cast("double").alias("value"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts_s").asc(),
            F.col("is_grid").asc(),
            F.coalesce(F.col("event_id"), F.lit(-1)).asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "user_id",
        "ts_s",
        "is_grid",
        F.last("value", ignorenulls=True).over(w).alias("value_ffill"),
    )
    return filled.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.col("ts_s").alias("grid_ts_s"),
        F.round("value_ffill", 4).alias("value_ffill"),
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang, {_BUCKET_SQL} AS bucket FROM documents)
    WHERE bucket < CASE lang WHEN 'en' THEN 10
                             WHEN 'de' THEN 20
                             ELSE 50 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-stratum rates (rebalancing a
    language-skewed corpus: keep 10% of en, 20% of de, 50% of the rest).
    Same content-addressed md5 bucket as sample_hash_split, so membership
    is stable across runs/partitionings and strata stay consistent with
    the train/valid/test split. Pure map-side filter — no shuffle, and at
    100 TB the predicate prunes rows inside the scan stage."""
    d = load(spark, sf_dir, "documents", columns=["doc_id", "lang"])
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "de", 20)
        .otherwise(50)
    )
    return d.withColumn("bucket", bucket).filter(F.col("bucket") < rate).select(
        "doc_id", "lang"
    )


@register(
    "text_length_histogram",
    oracle="""
    SELECT lang,
           CAST(floor(n_chars / 50.0) * 50 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, bucket_lo
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per language in fixed 50-char buckets —
    the first diagnostic every corpus-curation pass runs (truncation
    thresholds, tokenizer budget planning). Bucketing is a pure map; the
    histogram is one partial+final hash aggregate on (lang, bucket), whose
    cardinality is bounded by langs × buckets regardless of corpus size —
    the reduce side stays tiny even at 100 TB."""
    d = load(spark, sf_dir, "documents", columns=["lang", "n_chars"])
    bucket = (F.floor(F.col("n_chars") / 50.0) * 50).cast("long")
    return d.groupBy("lang", bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_TERM_BUCKET_SQL = "CAST(('0x' || substr(md5(term), 1, 4)) AS BIGINT) % 256"


@register(
    "text_feature_hashing",
    oracle=f"""
    SELECT bucket, COUNT(*) AS n_tokens,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, {_TERM_BUCKET_SQL} AS bucket
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents)
          WHERE term <> '')
    GROUP BY bucket
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingTF-style feature hashing: every token maps to one of 256
    buckets by a content-addressed md5 hash (no vocabulary build — the
    classic fixed-width featurizer for streaming/huge corpora). Emitted
    here as per-bucket corpus totals (bounded: n_buckets rows); the per-doc
    sparse vector is the same expression grouped by (doc_id, bucket).
    Scale: explode + map-side partial agg — shuffled bytes ∝ 256 buckets ×
    partitions, independent of corpus size. md5-derived buckets (not
    Spark's murmur3 hash()) so assignment is engine-portable and
    oracle-checked."""
    d = load(spark, sf_dir, "documents", columns=["doc_id", "text"])
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("long") % 256
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
        )
    )


@register(
    "ts_gap_interpolate",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, value,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
        FROM events
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(
                   CAST(ceil(MIN(ts_s) / 3600.0) * 3600 AS BIGINT),
                   CAST(floor(MAX(ts_s) / 3600.0) * 3600 AS BIGINT),
                   3600)) AS ts_s
        FROM e GROUP BY user_id
    ),
    unioned AS (
        SELECT user_id, ts_s, value, 0 AS is_grid, event_id FROM e
        UNION ALL
        SELECT user_id, ts_s, NULL, 1, NULL FROM grid
    ),
    spanned AS (
        SELECT user_id, ts_s, is_grid,
               last_value(value IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN value IS NOT NULL THEN ts_s END IGNORE NULLS)
                   OVER w_prev AS pt,
               first_value(value IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN value IS NOT NULL THEN ts_s END IGNORE NULLS)
                   OVER w_next AS nt
        FROM unioned
        WINDOW
            w_prev AS (PARTITION BY user_id
                       ORDER BY ts_s ASC, is_grid ASC, COALESCE(event_id, -1) ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            w_next AS (PARTITION BY user_id
                       ORDER BY ts_s ASC, is_grid ASC, COALESCE(event_id, -1) ASC
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ts_s AS grid_ts_s,
           ROUND(CASE
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL OR nt = pt THEN pv
               ELSE pv + (nv - pv) * (ts_s - pt) / (nt - pt)
           END * 10000) / 10000 AS value_interp
    FROM spanned WHERE is_grid = 1
    """,
)
def ts_gap_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-grid resample with LINEAR interpolation between surrounding
    observations (the companion to ts_resample_ffill: ffill is a step
    function; interpolation is the ramp sequence models usually want).
    Both the previous and next observation (value AND timestamp) are
    carried to each grid row with two frames over ONE sort order — the
    backward-looking frame and the forward-looking frame share the same
    (ts, is_grid, event_id) ordering, so Spark plans one shuffle + one sort
    for both. Edges degrade gracefully: ffill at the tail, bfill at the
    head. All arithmetic is double-precision in both engines, rounded 4dp.

    Grid-growth contract: same span-not-size output bound as
    ts_resample_ffill (see its docstring) — clamp spans
    or validate timestamp domains before gridding at scale."""
    e = load(spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    grid = (
        e.groupBy("user_id")
        .agg(
            (F.ceil(F.min("ts_s") / 3600.0) * 3600).cast("long").alias("g0"),
            (F.floor(F.max("ts_s") / 3600.0) * 3600).cast("long").alias("g1"),
        )
        .select(
            "user_id",
            F.explode(F.sequence("g0", "g1", F.lit(3600).cast("long"))).alias("ts_s"),
        )
    )
    unioned = e.select(
        "user_id", "ts_s", "value", F.lit(0).alias("is_grid"), "event_id"
    ).unionByName(
        grid.select(
            "user_id",
            "ts_s",
            F.lit(None).cast("double").alias("value"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    order = [
        F.col("ts_s").asc(),
        F.col("is_grid").asc(),
        F.coalesce(F.col("event_id"), F.lit(-1)).asc(),
    ]
    # the exact reverse of `order` — a TOTAL order within the partition
    # (events carry unique event_ids, grid rows unique ts_s), so the
    # descending sort is its exact mirror and the reversed running frame
    # below is frame-for-frame dual to the forward-looking one
    order_desc = [
        F.col("ts_s").desc(),
        F.col("is_grid").desc(),
        F.coalesce(F.col("event_id"), F.lit(-1)).desc(),
    ]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The forward-looking [currentRow, unboundedFollowing] frame is
    # Spark's O(partition²) frame class (UnboundedFollowingWindowFrame
    # re-aggregates the tail per row — 20 s of CPU on the sf0.1 grid);
    # first-non-null-at-or-after under ASC is EXACTLY
    # last-non-null-at-or-before under the mirrored DESC total order,
    # which runs as the O(n) running frame. Same exchange (same
    # partitioning), one extra in-partition sort — 10× less window CPU.
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order_desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_ts = F.when(F.col("value").isNotNull(), F.col("ts_s"))
    spanned = unioned.select(
        "user_id",
        "ts_s",
        "is_grid",
        F.last("value", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_ts, ignorenulls=True).over(w_prev).alias("pt"),
        F.last("value", ignorenulls=True).over(w_next).alias("nv"),
        F.last(obs_ts, ignorenulls=True).over(w_next).alias("nt"),
    )
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull() | (F.col("nt") == F.col("pt")), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("ts_s") - F.col("pt"))
            / (F.col("nt") - F.col("pt"))
        )
    )
    # Scale-first rounding (round(x·1e4)/1e4, both engines): F.round(x, 4)
    # rounds Spark's shortest-decimal repr while DuckDB rounds the scaled
    # binary double — at an exact-.5-looking boundary (x.xxxx5) they split.
    # Scaling first makes both engines round the SAME double, so the
    # half-case decision is identical (1 in 105k grid rows hit this at
    # sf0.01 — found by the driver-sim sweep).
    return spanned.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.col("ts_s").alias("grid_ts_s"),
        (F.round(interp * 10000, 0) / 10000).alias("value_interp"),
    )


from n2kupdate_spark.queries._registry import ORACLE as _ORACLE  # noqa: E402

#: Reuse the registered capped-Jaccard oracle verbatim as a CTE so the two
#: ops can never drift apart.
_PAIRS_SQL = _ORACLE["dedup_jaccard_stop_shingles"]


@register(
    "ml_split_leakage_audit",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    splits AS (
        SELECT doc_id,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, {_BUCKET_SQL} AS bucket FROM documents)
    ),
    crossed AS (
        SELECT LEAST(s1.split, s2.split) AS split_a,
               GREATEST(s1.split, s2.split) AS split_b
        FROM pairs p
        JOIN splits s1 ON p.id1 = s1.doc_id
        JOIN splits s2 ON p.id2 = s2.doc_id
    )
    SELECT split_a, split_b, COUNT(*) AS n_pairs
    FROM crossed GROUP BY split_a, split_b
    """,
)
def ml_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: counts near-duplicate pairs
    (capped-Jaccard ≥ 0.1) whose endpoints land in different hash-split
    partitions — the leakage every eval-set paper warns about (a test doc
    near-duplicating a train doc inflates benchmarks). Composes two
    registered ops (dedup_jaccard_stop_shingles × sample_hash_split); the
    oracle embeds the pair-gen oracle verbatim as a CTE so the audit can
    never drift from the detector it audits. Off-diagonal rows (train-test,
    train-valid, test-valid) are the actionable output: route those pairs'
    test members to the train split or drop them. Plan: pair-gen shuffles +
    two doc-keyed broadcast joins + a 6-row aggregate."""
    from n2kupdate_spark.queries.dedupq import dedup_jaccard_stop_shingles

    pairs = dedup_jaccard_stop_shingles(spark, sf_dir).select("id1", "id2")
    splits = sample_hash_split(spark, sf_dir).select("doc_id", "split")
    s1 = splits.select(F.col("doc_id").alias("id1"), F.col("split").alias("split1"))
    s2 = splits.select(F.col("doc_id").alias("id2"), F.col("split").alias("split2"))
    crossed = (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            F.least("split1", "split2").alias("split_a"),
            F.greatest("split1", "split2").alias("split_b"),
        )
    )
    return crossed.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


#: Per-source mixture weights ×10000 (integer fixed-point so both engines
#: compare the md5 bucket with exact integer arithmetic — no float
#: fraction drift). The bucket takes 8 md5 hex chars (32 bits), not 4:
#: 2^16 % 10000 = 5536, so a 16-bit bucket gives buckets below 5536 mass
#: 7/65536 vs 6/65536 above — weight 0.5 was realized as 53.8% (caught by
#: tests/test_mlprep_props.py). At 32 bits the modulo bias is ~1e-6. 2.0 = every doc twice (upsampled domain), 1.0 = keep
#: all, 0.5 / 0.25 = deterministic downsampling. Shared textually with the
#: oracle CASE.
_MIX_W4 = {"src0": 20000, "src1": 10000, "src2": 5000}
_MIX_DEFAULT_W4 = 2500


@register(
    "sample_mixture_weights",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
               AS bucket
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, bucket,
             CASE source
                  {' '.join(f"WHEN '{s}' THEN {w}" for s, w in _MIX_W4.items())}
                  ELSE {_MIX_DEFAULT_W4} END AS w4
      FROM b
    ),
    n AS (
      SELECT doc_id, source,
             CAST(w4 // 10000 AS INT)
               + CASE WHEN bucket < (w4 % 10000) THEN 1 ELSE 0 END AS n_copies
      FROM c
    )
    SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_n
    FROM n WHERE n_copies > 0
    """,
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture resampling: realize per-source weights as
    deterministic keep/repeat decisions — weight 2.0 duplicates every doc
    (an upsampled high-quality domain), 0.25 keeps a content-addressed
    quarter. The integer copy count is floor(weight) plus one more iff the
    doc's md5 bucket falls under the fractional part, so the realized rate
    converges to the weight exactly and every engine/run/cluster size
    agrees on which docs repeat (same contract as sample_hash_split).

    Scale design: pure map + explode — no shuffle, no state; the mixture
    of a 100 TB corpus is decided row-locally. Emits (doc_id, source,
    copy_n) so downstream epoch-aware shuffles can treat copies as
    distinct rows."""
    from n2kupdate_spark.operators.corpus import apply_mixture

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source"])
    return apply_mixture(
        d, {k: v / 10000 for k, v in _MIX_W4.items()}, _MIX_DEFAULT_W4 / 10000
    ).select("doc_id", "source", "copy_n")


@register(
    "pack_sequences_greedy",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // 512 AS INT) AS seq_id,
           CAST((cum - n_tokens) % 512 AS INT) AS seq_offset
    FROM c
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: lay each source's documents end to
    end (doc_id order) and cut 512-token sequences from the running total
    — every doc gets a (seq_id, seq_offset) placement, the map a packing
    writer needs to emit fixed-context training rows (docs straddling a
    boundary are split at seq_offset downstream, the standard
    concat-then-chunk packing used for LLM pre-training; no padding waste
    by construction).

    Scale design: the cumulative sum windows per SOURCE (a training
    pipeline packs within shards/domains anyway), so the sort parallelizes
    across sources instead of funneling 100 TB through one global-order
    window — the per-group window is the same shape every windowed op in
    B6 runs. Deterministic: doc_id order, integer token counts."""
    from n2kupdate_spark.operators.corpus import pack_sequences

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    t = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return pack_sequences(t, budget=512).select(
        "doc_id", "source", "n_tokens", "seq_id", "seq_offset"
    )


#: Contamination budget for the composite: drop a training doc only when
#: it shares ≥ this many distinct 3-grams with the eval slice. At n=3 a
#: single shared gram is noise (the fixture's sf0.1 median is 4 shared
#: grams per doc — any-overlap would empty the corpus); published
#: pipelines either use long n (8-13, where any hit is decisive) or an
#: overlap budget at short n. The standalone text_decontaminate_ngram op
#: keeps reporting raw counts + the any-overlap flag so callers choose.
_DECONTAM_BUDGET = 5

#: Shingle width for the decontamination gates. The gate-report oracle
#: embeds ORACLE["text_decontaminate_ngram"] (a 3-gram op) as a CTE, so
#: this must stay 3 unless that oracle is re-parameterized with it — the
#: point of naming it is that the Spark side of corpus_gate_report reads
#: THIS constant (never a literal), so a retune cannot silently split op
#: from oracle (r8 advice, low).
_DECONTAM_N = 3


def _corpus_prepare_oracle() -> str:
    """Compose the end-to-end preparation oracle by EMBEDDING the
    registered gates' own oracle SQL as CTEs (the ml_split_leakage_audit
    pattern: the composite and its component detectors cannot drift),
    then expressing the post-filter stages (exact dedup, mixture,
    packing) inline with the same shared constants."""
    from n2kupdate_spark.queries._registry import ORACLE
    from n2kupdate_spark.queries.text import _EVAL_PRED_SQL

    mix_case = " ".join(f"WHEN '{s}' THEN {w}" for s, w in _MIX_W4.items())
    budget = _DECONTAM_BUDGET
    return f"""
    WITH g AS ({ORACLE["text_quality_gopher"]}),
    dc AS ({ORACLE["text_decontaminate_ngram"]}),
    clean AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d
      JOIN g ON g.doc_id = d.doc_id AND g.gopher_pass = 1
      LEFT JOIN dc ON dc.doc_id = d.doc_id
      WHERE NOT (d.{_EVAL_PRED_SQL}) AND COALESCE(dc.n_shared_grams, 0) < {budget}
    ),
    exact AS (
      SELECT doc_id, source, text FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM clean
      ) WHERE rn = 1
    ),
    mixed AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_n
      FROM (
        SELECT doc_id, source, text,
               CAST(w4 // 10000 AS INT)
                 + CASE WHEN bucket < (w4 % 10000) THEN 1 ELSE 0 END AS n_copies
        FROM (
          SELECT doc_id, source, text,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS bucket,
                 CASE source {mix_case} ELSE {_MIX_DEFAULT_W4} END AS w4
          FROM exact
        )
      ) WHERE n_copies > 0
    ),
    packed AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, copy_n
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM mixed
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CEIL(SUM(n_tokens) / 512.0) AS INT) AS n_sequences
    FROM packed GROUP BY source
    """


@register("corpus_prepare_pipeline", oracle=_corpus_prepare_oracle())
def corpus_prepare_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pre-training data preparation — the composite chaining
    every round-7 gate in production order:

      1. Gopher quality rules (keep gopher_pass docs),
      2. benchmark decontamination (drop the eval slice AND every training
         doc sharing a 3-gram with it),
      3. exact dedup (md5, keep lowest doc_id),
      4. mixture weighting (per-source deterministic copy counts),
      5. sequence packing (per-source 512-token concat-then-chunk),
      6. per-source summary: surviving docs, mixture rows, total tokens,
         packed sequence count.

    The Spark side is a thin wrapper over the parameterized library API
    (operators/corpus.py::prepare_corpus — the same functions every
    registered gate query wraps, so the oracle gate continuously verifies
    the library, not a parallel copy); the oracle embeds the gates'
    oracle SQL as CTEs, so composite and components cannot drift.
    Production callers use prepare_corpus directly with their own
    benchmark table, weights, and budget. Scale: the gates are maps or
    broadcast joins (their individual plans are audited in PLANS.md), the
    dedup is one fingerprint shuffle, the packing window parallelizes per
    source — the expensive stages run LAST, after every cheap filter has
    shrunk the corpus (corpus_clean_pipeline's stage-ordering lesson)."""
    from n2kupdate_spark.operators.corpus import prepare_corpus
    from n2kupdate_spark.queries.text import _EVAL_PRED_SQL

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    is_eval = F.expr(_EVAL_PRED_SQL)
    return prepare_corpus(
        d.filter(~is_eval),
        eval_docs=d.filter(is_eval),
        weights={k: v / 10000 for k, v in _MIX_W4.items()},
        default_weight=_MIX_DEFAULT_W4 / 10000,
        decontam_budget=_DECONTAM_BUDGET,
        seq_budget=512,
    )


def _gate_report_oracle() -> str:
    """Per-gate attrition oracle, embedding the registered gates' own
    oracle SQL as CTEs (the _corpus_prepare_oracle pattern — report and
    detectors cannot drift). Stages count SEQUENTIALLY, matching
    prepare_corpus's pipeline order: non-eval docs → Gopher → n-gram
    decontamination → exact dedup."""
    from n2kupdate_spark.queries._registry import ORACLE
    from n2kupdate_spark.queries.text import _EVAL_PRED_SQL

    return f"""
    WITH g AS ({ORACLE["text_quality_gopher"]}),
    dc AS ({ORACLE["text_decontaminate_ngram"]}),
    train AS (
      SELECT d.doc_id, d.source, d.text,
             COALESCE(g.gopher_pass, 0) AS gp,
             COALESCE(dc.n_shared_grams, 0) AS shared
      FROM documents d
      LEFT JOIN g ON g.doc_id = d.doc_id
      LEFT JOIN dc ON dc.doc_id = d.doc_id
      WHERE NOT (d.{_EVAL_PRED_SQL})
    ),
    staged AS (
      SELECT source,
             CASE WHEN gp = 0 THEN 'gopher_fail'
                  WHEN shared >= {_DECONTAM_BUDGET} THEN 'contaminated'
                  WHEN rn > 1 THEN 'exact_dup'
                  ELSE 'survivor' END AS stage
      FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY (gp = 1 AND shared < {_DECONTAM_BUDGET}),
                                md5(text)
                   ORDER BY doc_id) AS rn
        FROM train
      )
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (stage = 'gopher_fail') AS BIGINT) AS n_gopher_fail,
           CAST(COUNT(*) FILTER (stage = 'contaminated') AS BIGINT) AS n_contaminated,
           CAST(COUNT(*) FILTER (stage = 'exact_dup') AS BIGINT) AS n_exact_dup,
           CAST(COUNT(*) FILTER (stage = 'survivor') AS BIGINT) AS n_survivors
    FROM staged GROUP BY source
    """


@register("corpus_gate_report", oracle=_gate_report_oracle())
def corpus_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source gate ATTRITION report — the observability view a data
    team reads daily: how many docs each pipeline stage dropped (Gopher
    rules, benchmark decontamination, exact dedup) and how many survived,
    counted SEQUENTIALLY in prepare_corpus's stage order so the columns
    sum to n_docs exactly. Built from the SAME gate functions the
    pipeline runs (gopher_metrics, decontaminate_ngram, the md5 keep-
    lowest-id rule), with the oracle embedding the registered gates' SQL
    as CTEs — so thresholds re-tune against this report and the numbers
    are the pipeline's, not a parallel estimate's.

    Scale: the gates are maps/broadcast joins (their plans are audited
    individually); the stage classification adds one fingerprint window
    over the clean slice and one #sources-sized aggregate. Nothing here
    exceeds the pipeline's own cost — the report is a byproduct shape, so
    running it daily costs one gate pass, not two."""
    from n2kupdate_spark.operators.corpus import decontaminate_ngram, gopher_metrics
    from n2kupdate_spark.queries.text import _EVAL_PRED_SQL

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    train = d.filter(~F.expr(_EVAL_PRED_SQL))
    ev = d.filter(F.expr(_EVAL_PRED_SQL)).select("doc_id", "text")
    gp = gopher_metrics(train, "doc_id", "text").select(
        "doc_id", F.col("gopher_pass").alias("gp")
    )
    dc = decontaminate_ngram(train, ev, "doc_id", "text", n=_DECONTAM_N).select(
        "doc_id", F.col("n_shared_grams").alias("shared")
    )
    t = (
        train.join(gp, "doc_id", "left")
        .join(dc, "doc_id", "left")
        .select(
            "doc_id", "source", "text",
            F.coalesce("gp", F.lit(0)).alias("gp"),
            F.coalesce("shared", F.lit(0)).alias("shared"),
        )
    )
    # partition by (clean, fingerprint), NOT a when(clean, md5) key: the
    # latter would funnel every non-clean row into one NULL partition —
    # a skew funnel; with the flag in the key, non-clean rows spread
    # across their own fingerprints and their rn is simply never consulted
    clean = (F.col("gp") == 1) & (F.col("shared") < _DECONTAM_BUDGET)
    w = Window.partitionBy(clean, F.md5("text")).orderBy("doc_id")
    t = t.withColumn("rn", F.row_number().over(w))
    stage = (
        F.when(F.col("gp") == 0, "gopher_fail")
        .when(F.col("shared") >= _DECONTAM_BUDGET, "contaminated")
        .when(F.col("rn") > 1, "exact_dup")
        .otherwise("survivor")
    )
    return t.select("source", stage.alias("stage")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("stage") == "gopher_fail").alias("n_gopher_fail"),
        F.count_if(F.col("stage") == "contaminated").alias("n_contaminated"),
        F.count_if(F.col("stage") == "exact_dup").alias("n_exact_dup"),
        F.count_if(F.col("stage") == "survivor").alias("n_survivors"),
    )


@register("corpus_semantic_prepare")  # rows-only (r9 capacity policy,
# SURVEY §5.2): the semantic stage's centroid layout is engine-specific;
# the composition is value-pinned in tests/test_ann_recall.py
def corpus_semantic_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LLM-corpus preparation chain WITH the semantic stage —
    text gates first (Gopher → decontamination → exact dedup, the
    gate_documents battery), then SemDeDup-style embedding dedup over the
    survivors only (operators/corpus.py::gate_semantic), summarized per
    source: docs surviving the text gates, docs the semantic stage
    dropped, final survivors.

    Scale: everything up to the semantic stage is maps + broadcast joins
    + one fingerprint shuffle (audited individually); the semantic stage
    fits centroids on a bounded sample of the ALREADY-SHRUNK corpus and
    scans within-cluster pairs in block-pair tasks — the stage ordering
    is the design (cheap gates shrink, expensive geometry last). Docs
    without vectors pass the semantic stage untouched. The slim
    (doc_id, source) gate output is localCheckpoint'd ONCE — the survivor
    ids feed three consumers (vector semi-join, anti-join, summary join),
    and without the checkpoint the whole gate chain's lineage replays per
    consumer (measured: 25 plan exchanges at sf0.1 vs 7 with it; the
    dedup family's established pattern)."""
    from n2kupdate_spark.operators.corpus import gate_documents, gate_semantic
    from n2kupdate_spark.queries.text import _EVAL_PRED_SQL

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    is_eval = F.expr(_EVAL_PRED_SQL)
    text_ok = gate_documents(
        d.filter(~is_eval), d.filter(is_eval).select("doc_id", "text"),
        decontam_n=_DECONTAM_N, decontam_budget=_DECONTAM_BUDGET,
    ).select("doc_id", "source").localCheckpoint(eager=True)
    vecs = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    final = gate_semantic(text_ok, vecs, n_cells=16, tau=0.3)
    t = text_ok.join(
        final.select(F.col("doc_id").alias("kept_id")),
        F.col("doc_id") == F.col("kept_id"),
        "left",
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_text_survivors"),
        F.count_if(F.col("kept_id").isNull()).alias("n_semantic_dropped"),
        F.count_if(F.col("kept_id").isNotNull()).alias("n_final"),
    )


@register("sample_dsir_weights")  # rows-only (r9 capacity policy): every
# weight recomputed from raw text in plain python — tests/test_mlprep_props.py
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampling data selection weights (the published
    hashed-n-gram importance-weighting method): estimate a target
    distribution from the curated stand-in slice (sources src0-src4, the
    same seed the quality classifier uses) and the raw distribution from
    the whole corpus, both over 256 md5 token buckets, and emit per doc
    the log-likelihood ratio ``log_weight`` plus the length-normalized
    ``avg_log_ratio`` to rank selection on. In production the target
    distribution comes from a real curated table; the resampling policy
    (deterministic top-fraction vs Gumbel noise) is the caller's.

    Scale: both distributions are 256-row aggregates collected as floats
    (fixed driver traffic at any corpus size); scoring is one
    (doc, bucket) partial-agged shuffle + a broadcast-literal lookup +
    one per-doc sum — the bounded-fit/broadcast-score shape shared with
    text_quality_classifier."""
    from n2kupdate_spark.operators.corpus import importance_weights

    d = load(spark, sf_dir, "documents", columns=["doc_id", "text", "source"])
    target = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    return importance_weights(
        d.withColumn("__target", target), "__target"
    ).orderBy("doc_id")


@register("sample_mixture_temperature")  # rows-only (r9 capacity policy):
# the copy-factor realization is pinned vs a python recompute in
# tests/test_mlprep_props.py
def sample_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture (α=0.3, the published multilingual
    up/down-sampling rule — XLM/mBERT/mT5-class corpora): per-LANGUAGE
    copy factors derived from corpus counts (factor = tempered share /
    natural share — the fixture's en holds ~40% of docs, so en
    down-samples below 1 and the tail languages up-sample above 1),
    realized through the same deterministic md5-bucket copy machinery as
    sample_mixture_weights, summarized per language: docs, realized
    rows, the factor at 4dp. Total size stays ≈ input. One
    #langs-bounded driver aggregate, then map + explode."""
    from n2kupdate_spark.operators.corpus import apply_mixture, temperature_weights

    d = load(spark, sf_dir, "documents", columns=["doc_id", "lang"])
    w = temperature_weights(d, alpha=0.3, source_col="lang")
    mixed = apply_mixture(d, w, default_weight=1.0, source_col="lang")
    # literal CASE chain, not a Python UDF (the fleet plan audit bans
    # BatchEvalPython outside the udf_ surface) — #langs is bounded
    factor = F.lit(1.0)
    for s, fac in w.items():
        factor = F.when(F.col("lang") == s, F.lit(round(fac, 4))).otherwise(factor)
    return (
        mixed.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn("copy_factor", factor)
    )


@register("sample_mixture_unimax")  # rows-only (r9 capacity policy):
# factors pinned vs an independent waterfill + realized counts vs the
# md5-bucket rule in tests/test_mlprep_props.py
def sample_mixture_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture (arXiv:2304.09151): spread the corpus budget
    uniformly across LANGUAGES, capped at 4 epochs per language — the
    published fix for temperature sampling's unbounded tail repetition.
    Per-language copy factors come from the exact waterfill over corpus
    counts (the fixture's dominant en down-samples toward the uniform
    share; tails up-sample but never past 4×), realized through the same
    deterministic md5-bucket copy machinery as the other mixture ops and
    summarized per language: docs, realized rows, factor at 4dp. One
    #langs-bounded driver aggregate, then map + explode — no shuffle in
    the realization."""
    from n2kupdate_spark.operators.corpus import apply_mixture, unimax_weights

    d = load(spark, sf_dir, "documents", columns=["doc_id", "lang"])
    w = unimax_weights(d, max_epochs=4.0, source_col="lang")
    mixed = apply_mixture(d, w, default_weight=1.0, source_col="lang")
    factor = F.lit(1.0)
    for s, fac in w.items():
        factor = F.when(F.col("lang") == s, F.lit(round(fac, 4))).otherwise(factor)
    return (
        mixed.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn("copy_factor", factor)
    )


@register("pack_sequences_bestfit")  # rows-only (r9 capacity policy):
# the full placement map is pinned against an independent python BFD in
# tests/test_mlprep_props.py (chunked == unchunked on the fixture, fill
# accounting exact)
def pack_sequences_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-SPLIT best-fit-decreasing packing of documents into 128-token
    bins (whitespace token counts; the fixture's docs run 10-99 tokens,
    so bins hold 1-8 whole docs), summarized per source: docs, bins,
    total tokens, and fill ratio (tokens / (bins·budget), 4dp) — the
    padding-waste number a no-split packing writer reports. Contrast
    with `pack_sequences_greedy`, which splits docs at bin boundaries;
    BFD wastes the fill gap instead but never splits a document across
    training sequences (arXiv:2404.10830). The per-(source, chunk) BFD
    runs inside Arrow-batched applyInPandas tasks — the sequential
    heuristic is bounded per task, parallel across sources × chunks —
    see operators/corpus.py::pack_sequences_bestfit for the 100 TB
    chunking design."""
    from n2kupdate_spark.operators.corpus import pack_sequences_bestfit as bfd

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    t = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = bfd(t, budget=128, group_col="source", chunk_docs=4096)
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("seq_id").alias("n_seqs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.round(
                    F.sum("n_tokens")
                    / (F.countDistinct("seq_id") * 128)
                    * 10000,
                    0,
                )
                / 10000
            ).alias("fill_ratio"),
            F.count_if(F.col("overflow")).alias("n_overflow"),
        )
    )


@register("pack_sequences_bpe")  # rows-only (r9 capacity policy): BPE
# learning is not SQL-expressible; the full learn→encode→BFD chain is
# pinned against an independent python recompute in
# tests/test_tokenizer.py::test_pack_sequences_bpe_pinned at two sfs
def pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware no-split packing (the r9 judge's growth edge):
    learn a 200-merge BPE vocabulary from the corpus, encode every doc
    map-only with broadcast ranks, and best-fit-pack the LEARNED
    ``n_bpe_tokens`` into 192-token bins — whitespace counting
    under-budgets exactly the rare-word docs where subword fertility
    spikes, so the real context budget must be enforced in tokenizer
    units. Summarized per source: docs, bins, total bpe tokens, fill
    ratio (4dp), overflow count, plus the whitespace-proxy token total
    for the fertility gap the composition exists to close. See
    operators/corpus.py::pack_sequences_bpe for the composition's scale
    shape (bounded learn + shuffle-free encode + chunked BFD)."""
    from n2kupdate_spark.operators.corpus import pack_sequences_bpe as pbpe

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    packed = pbpe(d, budget=192, group_col="source", chunk_docs=4096)
    ws = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_ws_tokens")
    )
    return (
        packed.join(ws, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("seq_id").alias("n_seqs"),
            F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
            F.sum("n_ws_tokens").cast("long").alias("total_ws_tokens"),
            (
                F.round(
                    F.sum("n_bpe_tokens")
                    / (F.countDistinct("seq_id") * 192)
                    * 10000,
                    0,
                )
                / 10000
            ).alias("fill_ratio"),
            F.count_if(F.col("overflow")).alias("n_overflow"),
        )
    )


@register("corpus_shuffle_shards")  # rows-only (r9 capacity policy): the
# md5-bucket arithmetic is already SQL-hash-verified via sample_hash_split;
# the pytest pin proves the properties an agg oracle can't — assignment
# invariance under input partitioning, hashlib byte-equality per row,
# epoch-seed independence, balance — tests/test_mlprep_props.py
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle audited per shard: assign
    every doc a content-addressed (shard, shuffle_key) at 16 shards and
    report each shard's size and token mass — the balance view a
    training job checks before consuming the shuffled corpus (a skewed
    shard = a slow epoch tail). Map + one 16-group agg; the shuffle
    itself never total-sorts — see operators/corpus.py::shuffle_shards."""
    from n2kupdate_spark.operators.corpus import shuffle_shards

    d = load(spark, sf_dir, "documents", columns=["doc_id", "text"])
    s = shuffle_shards(d, n_shards=16)
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
            F.min("shuffle_key").alias("first_key"),
        )
        .orderBy("shard")
    )


@register(
    "corpus_select_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS w
      FROM documents
    ),
    b AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 3 AS budget FROM t),
    r AS (
      SELECT doc_id,
             CAST(n_tokens AS INT) AS n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY w DESC, doc_id) AS BIGINT)
               AS cum_tokens,
             CAST(ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) AS INT)
               AS sel_rank
      FROM t
    )
    SELECT doc_id, n_tokens, sel_rank, cum_tokens
    FROM r, b WHERE cum_tokens <= budget
    """,
)
def corpus_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained data selection (r11): keep the most lexically
    diverse documents (distinct-word ratio — the deterministic stand-in
    for any quality score: DSIR, classifier, perplexity) until a token
    budget of one third of the corpus is filled. The prefix rule —
    order by (weight DESC, doc_id), keep while the inclusive running
    token sum fits — is the "train on the best N tokens" step every
    scored pipeline ends with.

    SQL-oracle slot claimed deliberately (capacity policy, SURVEY §5.2):
    the selected SET flips on exact boundary sums of an ordered window —
    boundary-heavy semantics where a DuckDB hash-match is distinctly
    stronger evidence than a pin (one off-by-one in the cumsum or the
    tie-break surfaces as a hash mismatch, not a plausible-looking row
    count).

    Scale: runs the SHARDED path (shards=4) through the oracle — the
    percentile-cut range sharding parallelizes the global-order cumsum
    and the budget PRUNES whole shards before their window sort (at a 1%
    selection rate, ~99% of a 100 TB corpus never enters a sort); output
    is identical to the single-window form by exact prefix-sum
    reconstruction (see operators/corpus.py::select_token_budget).
    Integer-only output columns — no float canonicalization risk; the
    budget is integer floor-division on both engines."""
    from n2kupdate_spark.operators.corpus import select_token_budget

    d = load(spark, sf_dir, "documents", columns=["doc_id", "text"])
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("weight"),
    )
    total = scored.agg(F.sum("n_tokens")).first()[0]
    budget = int(total) // 3
    return select_token_budget(
        scored, budget, weight_col="weight", token_col="n_tokens",
        id_col="doc_id", shards=4,
    ).select("doc_id", "n_tokens", "sel_rank", "cum_tokens")


def _pseudo_url() -> "F.Column":
    """Deterministic pseudo-URL per document — the payload-fixture
    pattern (the testdata has no URL column, so one is DERIVED
    identically in Spark and the DuckDB oracle): host =
    'h' + first-2-md5-hex-of-doc_id + '.' + source + '.example.com'
    (≈256 hosts per source), path = the doc_id. Everything downstream
    (host parse, rollups, graphs) treats it as an opaque crawl URL."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("https://h"),
        F.substring(F.md5(did), 1, 2),
        F.lit("."),
        F.col("source"),
        F.lit(".example.com/"),
        did,
    )


_PSEUDO_URL_SQL = (
    "'https://h' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) || '.' "
    "|| source || '.example.com/' || CAST(doc_id AS VARCHAR)"
)

#: URL → host scalar, shared by the rollup and the domain graph.
_HOST_RE = "^https://([^/]+)/"


@register(
    "curation_domain_quality",
    # SQL-ORACLE SLOT CLAIMED (capacity policy §5.2 note): the op chains
    # string derivation → regexp host parse → float ratio aggregates —
    # boundary-heavy string+float surface across two engines where the
    # hash-match is distinctly stronger evidence than a value pin.
    oracle=f"""
    WITH scored AS (
        SELECT {_PSEUDO_URL_SQL} AS url,
               n_chars,
               LEAST(n_chars / 500.0, 1.0) AS len_score,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio
        FROM documents
    )
    SELECT regexp_extract(url, '{_HOST_RE}', 1) AS host,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(len_score) * 10000) / 10000 AS avg_len_score,
           ROUND(AVG(distinct_ratio) * 10000) / 10000 AS avg_distinct_ratio,
           ROUND(AVG(len_score) * AVG(distinct_ratio) * 10000) / 10000
               AS domain_weight
    FROM scored
    GROUP BY host
    """,
)
def curation_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-axis curation, step 1+2 (r12): derive the pseudo-URL,
    parse its host with the same regexp a crawl pipeline would, and roll
    quality up PER DOMAIN — (n_docs, total_chars, avg length score, avg
    lexical diversity, and their product as ``domain_weight``). Domains,
    not documents, are the unit real curation acts on (a spam host is
    downweighted wholesale); the emitted weight column is exactly the
    per-source dict :func:`operators.corpus.apply_mixture` consumes —
    the composition is pinned in tests/test_mlprep_props.py.

    Scale: derivation + parse + per-doc scores are one JVM map; the
    rollup is ONE partial-agged shuffle on ~#hosts groups (bounded far
    below corpus size). Scale-first 4dp rounding (ROUND(x·10⁴)/10⁴) on
    both engines per the §7.4 float contract."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        F.regexp_extract(_pseudo_url(), _HOST_RE, 1).alias("host"),
        "n_chars",
        F.least(F.col("n_chars") / 500.0, F.lit(1.0)).alias("len_score"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("distinct_ratio"),
    )
    return scored.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.round(F.avg("len_score") * 10000) / 10000).alias("avg_len_score"),
        (F.round(F.avg("distinct_ratio") * 10000) / 10000).alias(
            "avg_distinct_ratio"
        ),
        (
            F.round(F.avg("len_score") * F.avg("distinct_ratio") * 10000)
            / 10000
        ).alias("domain_weight"),
    )


@register("ts_downsample_lttb")  # rows-only (§2 legend: the walk's
# sequential dependence on the previously-kept point has no SQL form);
# kept indices ≡ the canonical pure-python reference + spike-retention /
# boundary invariants pinned in tests/test_mlprep_props.py
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) of
    every user's event series to 20 visually-representative points — the
    published dashboard/monitoring reduction: keeps extremes and shape
    (a spike survives; naive every-kth sampling aliases it away), always
    keeps each series' first and last points. Completes the time-series
    family next to resample/ffill and gap interpolation.

    Scale: ONE shuffle (the per-user applyInPandas groupBy); per-series
    work is a vectorized numpy area computation per bucket, bounded by
    n_out buckets — see operators/timeseries.py::lttb_downsample."""
    from n2kupdate_spark.operators.timeseries import lttb_downsample

    e = load(
        spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]
    ).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return lttb_downsample(
        e, n_out=20, order_col="event_id"
    ).orderBy("user_id", "sel_rank")


@register("corpus_passage_search")  # rows-only (r9 capacity policy):
# compositional pipeline over the numpy matmul scorer; end-to-end
# python-reference recompute pinned in tests/test_mlprep_props.py
def corpus_passage_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-retrieval preparation end to end — the RAG-indexing shape
    the chunking op exists for: (1) split every document into 64-token
    windows with 8-token overlap (chunk_documents), (2) embed each
    passage with a vocabulary-free hashed-tf vector (the md5 bucket
    function shared with text_feature_hashing — deterministic, engine-
    portable, 64 dims), (3) retrieve top-3 passages per query passage
    (the doc_id % 97 slice) by exact cosine over the blocked-matmul
    scorer. Emits (q_pid, neighbor_pid, cos_sim, rn). Self-matches and
    same-document passages are excluded — retrieval quality is about
    OTHER documents' passages (a passage's own overlap-sibling is a
    degenerate near-perfect match).

    Scale: chunking and bucket counts are map + one (pid, bucket)
    shuffle; the dense 64-dim vector forms in the same aggregate (64
    conditional sums — JVM codegen, no Python); queries are a bounded
    collect; scoring is per-batch numpy matmul with per-batch top-k
    pruning, the sim_cosine_topk plan shape."""
    from n2kupdate_spark.operators.corpus import chunk_documents
    from n2kupdate_spark.operators.similarity import brute_topk_matmul

    d = load(spark, sf_dir, "documents", columns=["doc_id", "text"])
    # pid encodes (doc_id, chunk_id) in one long because the matmul
    # scorer keys on a single id column. The multiplier must exceed any
    # possible chunk count or passages collide/mislabel silently (r12
    # ADVICE: a 1000 multiplier broke at ~56k-token docs); 1e9 chunks ≈
    # a 56-GIGATOKEN single document, and the assert_true below makes
    # even that fail LOUDLY instead of corrupting neighbor identity.
    # Long range holds doc_id up to ~9.2e9 at this multiplier.
    pid = (
        F.col("doc_id").cast("long") * F.lit(_PASSAGE_PID_MULT).cast("long")
        + F.col("chunk_id").cast("long")
        + F.coalesce(
            F.assert_true(
                F.col("chunk_id") < F.lit(_PASSAGE_PID_MULT),
                F.lit("chunk_id overflows the pid encoding"),
            ).cast("long"),
            F.lit(0).cast("long"),
        )
    )
    chunks = chunk_documents(d, size=64, overlap=8).select(
        pid.alias("pid"), "chunk_text"
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("long")
        % 64
    )
    toks = chunks.select(
        "pid", F.explode(F.split("chunk_text", " ")).alias("term")
    ).filter(F.col("term") != "")
    vec = toks.select("pid", bucket.alias("b")).groupBy("pid").agg(
        F.array(
            *[
                F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("double")
                for i in range(64)
            ]
        ).alias("v")
    )
    # `div` is exact integer division on longs — floor(pid/mult) via
    # doubles would lose low bits past 2^53 at extreme doc_id ranges
    doc_of = f"div {_PASSAGE_PID_MULT}L"
    query_rows = (
        vec.filter(F.expr(f"(pid {doc_of}) % 97 = 0"))
        .orderBy("pid")
        .limit(64)
        .collect()
    )
    cand = brute_topk_matmul(vec, query_rows, "pid", "v", k=24)
    # drop same-document passages (own overlap-siblings), then rank
    same_doc = F.expr(f"(q_id {doc_of}) = (neighbor_id {doc_of})")
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.filter(~same_doc)
        .select(
            F.col("q_id").alias("q_pid"),
            F.col("neighbor_id").alias("neighbor_pid"),
            "cos_sim",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register("ts_anomaly_zscore")  # rows-only (r9 capacity policy, headroom
# preserved): cross-engine verification still runs EVERY pytest via a
# local DuckDB recompute pin (tests/test_parity.py — the
# perplexity-buckets precedent), it just doesn't burn a driver slot
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over each user's event series —
    the standard metrics-monitoring rule: score each event against the
    mean/σ of its PRECEDING 20 events (current row excluded — an outlier
    must not mask itself), flag |z| ≥ 3, suppress scores with fewer than
    5 priors (cold-start noise) or σ = 0 (constant window: z undefined,
    never flagged). Emits (user_id, event_id, ts_s, value, n_prior,
    z_score 4dp, is_anomaly).

    Scale: ONE shuffle (the per-user window); the frame is
    rows-bounded (20), so state per row is O(1) and the plan is a
    single WindowExec over the sorted partition — no self-joins, no
    Python. Deterministic order: (ts_s, event_id)."""
    e = load(
        spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]
    ).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(-20, -1)
    )
    mean = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    n_prior = F.count("value").over(w)
    z = F.when(
        (n_prior >= 5) & sd.isNotNull() & (sd > 0),
        F.round((F.col("value") - mean) / sd * 10000) / 10000,
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_s",
        "value",
        n_prior.cast("int").alias("n_prior"),
        z.alias("z_score"),
        (z.isNotNull() & (F.abs(z) >= 3.0)).alias("is_anomaly"),
    )


@register("ts_changepoint_cusum")  # rows-only (§2 legend: the walk's
# alarm-reset state has no SQL form); independent python recompute +
# planted-shift/stationary behavior pinned in tests/test_mlprep_props.py
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift changepoint detection per user with tabular CUSUM
    (Page 1954) — the sequential test that catches SMALL persistent
    level shifts the per-point z-score ops miss (each post-shift point
    sits near baseline; the cumulative drift is unbounded — pinned at a
    +1.2σ planted shift where |z|≥3 fires on only ~12% of shifted
    points). Baseline μ0/σ calibrates on each series' first 20 events;
    slack 0.5σ, alarm at 5σ, sums reset per alarm. Output ∝ alarms, not
    events. Completes the monitoring trio (rolling z-score outliers,
    LTTB rendering, CUSUM level shifts).

    Scale: ONE per-user applyInPandas shuffle; the walk is O(series)
    per key — see operators/timeseries.py::cusum_changepoints."""
    from n2kupdate_spark.operators.timeseries import cusum_changepoints

    e = load(
        spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]
    ).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return cusum_changepoints(e, calib=20, order_col="event_id").orderBy(
        "user_id", "ts_s"
    )


@register("sample_stratified_neyman")  # rows-only (r9 capacity policy,
# headroom preserved): allocation + membership recomputed independently
# in python at two sfs in tests/test_mlprep_props.py
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted stratified sampling with Neyman optimum allocation
    (Neyman 1934): a ⌊N/10⌋ sample budget split across event-type strata
    ∝ N_h·σ_h(value) — volatile strata get proportionally more of the
    budget than plain proportional sampling, the minimum-variance
    design at fixed n; exact-integer largest-remainder rounding, caps
    redistributed, selection by the content-addressed md5 rank (stable
    membership across runs/engines/cluster sizes). Complements the
    rate-based `sample_stratified` (fixed per-stratum rates, no budget)
    and the size-based `corpus_select_budget` (token budget, no strata).

    Scale: one #strata-row aggregate collect + one per-stratum window
    with the allocation inlined as a literal map — no joins, one
    shuffle (operators/corpus.py::stratified_neyman)."""
    from n2kupdate_spark.operators.corpus import stratified_neyman

    e = load(
        spark, sf_dir, "events", columns=["event_id", "event_type", "value"]
    )
    budget = int(e.count()) // 10
    return stratified_neyman(
        e, budget, "event_type", "event_id", "value"
    ).orderBy("event_type", "rk")


@register("sample_weighted_per_key")  # rows-only (r9 capacity policy):
# ≡ an independent python recompute + stratum-coverage pins —
# tests/test_mlprep_props.py
def sample_weighted_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sample: 5 length-weighted documents from
    EVERY source — the per-stratum sibling of sample_weighted_topk (a
    global draw starves small strata; a mixture builder wants coverage
    of each source with quality/length-proportional choice inside it).
    Scale: one map + ONE key-partitioned rank window — see
    operators/corpus.py::sample_weighted_per_key."""
    from n2kupdate_spark.operators.corpus import (
        sample_weighted_per_key as _swpk,
    )

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "n_chars"])
    return _swpk(d, k=5, weight_col="n_chars", key_col="source")


@register("sample_weighted_topk")  # rows-only (r9 capacity policy,
# headroom preserved): membership + ranks recomputed independently in
# python at two sfs in tests/test_mlprep_props.py
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis 2006)
    over quality-scored documents: ⌊N/10⌋ docs drawn with probability ∝
    lexical-diversity weight — the resampling step that turns
    importance/DSIR weights into an actual training subset (the gap the
    importance_weights docstring leaves to the caller). Deterministic:
    u is content-addressed from md5(doc_id), so the sample is identical
    on every run/engine/cluster size.

    Scale: one map + TakeOrderedAndProject global top-k (per-partition
    partial top-k merged on the driver — no global sort, no single-task
    window) — see operators/corpus.py::sample_weighted_topk."""
    from n2kupdate_spark.operators.corpus import sample_weighted_topk as es_topk

    d = load(spark, sf_dir, "documents", columns=["doc_id", "text"])
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("weight"),
    )
    k = int(scored.count()) // 10
    return es_topk(scored, k, "weight").orderBy("sel_rank")


def _messy_pseudo_url() -> "F.Column":
    """A deliberately MESSY pseudo-URL per document (the payload-fixture
    pattern, crawl edition): the clean _pseudo_url host/path wrapped in
    the non-canonical forms real fetch logs carry, varied by doc_id
    residues — uppercased scheme/host (%3==0), an explicit default port
    (%4==0) or a real non-default port (%4==1), tracking params mixed
    into unsorted real ones (%2==0), and a fragment (%5==0)."""
    did = F.col("doc_id").cast("string")
    host = F.concat(
        F.lit("h"),
        F.substring(F.md5(did), 1, 2),
        F.lit("."),
        F.col("source"),
        F.lit(".example.com"),
    )
    host = F.when(
        F.col("doc_id") % 3 == 0, F.upper(host)
    ).otherwise(host)
    scheme = F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS")).otherwise(
        F.lit("https")
    )
    port = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443"))
        .when(F.col("doc_id") % 4 == 1, F.lit(":8443"))
        .otherwise(F.lit(""))
    )
    query = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("?utm_source=feed&z="), did, F.lit("&a=1&gclid=g")),
    ).otherwise(F.lit(""))
    frag = F.when(F.col("doc_id") % 5 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(
        scheme, F.lit("://"), host, port, F.lit("/"), did, F.lit("/"),
        query, frag,
    )


@register("curation_url_normalize")  # rows-only (r9 capacity policy,
# headroom preserved): every output recomputed by an independent python
# normalizer in tests/test_mlprep_props.py
def curation_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over the messy pseudo-crawl — the step
    crawl-level dedup starts with: two fetch-log spellings of one
    resource must map to one key BEFORE any content dedup runs
    (lowercase scheme/host, strip default ports, drop fragments, scrub
    utm_*/click-id params, sort survivors, trim non-root trailing
    slashes). The fixture URLs vary case/port/params/fragment by doc_id
    residues so every rule demonstrably fires (pinned non-vacuous per
    rule). Emits (doc_id, url, url_norm, changed).

    Scale: pure JVM map (regexp captures + split/filter/sort/join HOFs,
    no UDF) the scan absorbs — see
    operators/corpus.py::normalize_urls."""
    from n2kupdate_spark.operators.corpus import normalize_urls

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source"]).select(
        "doc_id", _messy_pseudo_url().alias("url")
    )
    return normalize_urls(d).select(
        "doc_id",
        "url",
        "url_norm",
        (F.col("url") != F.col("url_norm")).alias("changed"),
    ).orderBy("doc_id")


def _messy_pseudo_fetch() -> "F.Column":
    """A pseudo-FETCH-LOG url per document (the payload-fixture pattern,
    dedup edition): every 3 consecutive doc_ids are three fetches of ONE
    resource (rid = doc_id div 3), each spelled with different
    non-canonical noise — plain with sorted params, uppercased scheme/
    host + explicit :443 + trailing slash + unsorted params + a utm
    param, and a click-id + fragment variant. Normalization must
    collapse all three onto one canonical key; every 7th resource's
    third fetch carries a genuinely DIFFERENT real param (a=2), so some
    fetches are true distinct resources and the dedup is demonstrably
    not collapse-everything. ~256 hosts derive from md5(rid), giving a
    real per-host rollup."""
    rid = F.expr("doc_id div 3")
    rids = rid.cast("string")
    v = F.col("doc_id") % 3
    host = F.concat(
        F.lit("h"), F.substring(F.md5(rids), 1, 2), F.lit(".example.com")
    )
    base = F.concat(F.lit("https://"), host, F.lit("/r/"), rids)
    return (
        F.when(v == 0, F.concat(base, F.lit("?a=1&b=2")))
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://"),
                F.upper(host),
                F.lit(":443/r/"),
                rids,
                F.lit("/?b=2&a=1&utm_source=feed"),
            ),
        )
        .when(rid % 7 == 0, F.concat(base, F.lit("?a=2&b=2#top")))
        .otherwise(F.concat(base, F.lit("?gclid=g&b=2&a=1#sec")))
    )


#: DuckDB twin of normalize_urls' rule set over the fetch fixture — the
#: corpus_gate_report CTE precedent: the oracle EMBEDS the normalizer's
#: SQL so the composite and the component cannot drift.
_URL_DEDUP_ORACLE = """
    WITH raw AS (
      SELECT doc_id, doc_id // 3 AS rid, doc_id % 3 AS v,
             'h' || substr(md5(CAST(doc_id // 3 AS VARCHAR)), 1, 2)
                 || '.example.com' AS host
      FROM documents),
    fetched AS (
      SELECT doc_id,
        CASE
          WHEN v = 0 THEN 'https://' || host || '/r/' || CAST(rid AS VARCHAR) || '?a=1&b=2'
          WHEN v = 1 THEN 'HTTPS://' || upper(host) || ':443/r/' || CAST(rid AS VARCHAR) || '/?b=2&a=1&utm_source=feed'
          WHEN rid % 7 = 0 THEN 'https://' || host || '/r/' || CAST(rid AS VARCHAR) || '?a=2&b=2#top'
          ELSE 'https://' || host || '/r/' || CAST(rid AS VARCHAR) || '?gclid=g&b=2&a=1#sec'
        END AS url
      FROM raw),
    parts AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        array_to_string(list_sort(list_filter(
          string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
          x -> x <> '' AND NOT starts_with(string_split(x, '=')[1], 'utm_')
               AND string_split(x, '=')[1] NOT IN ('gclid', 'fbclid', 'msclkid')
        )), '&') AS qs
      FROM fetched),
    norm AS (
      SELECT doc_id,
        scheme || '://' ||
        CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
             ELSE hostport END ||
        CASE WHEN path0 = '' THEN '/' WHEN path0 = '/' THEN '/'
             ELSE regexp_replace(path0, '/$', '') END ||
        CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS url_norm
      FROM parts),
    per_url AS (
      SELECT url_norm, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_fetch
      FROM norm GROUP BY url_norm)
    SELECT regexp_extract(url_norm, '^[a-z][a-z0-9+.-]*://([^/?#:]*)', 1) AS host,
           CAST(SUM(n_fetch) AS BIGINT) AS n_fetches,
           CAST(COUNT(*) AS BIGINT) AS n_resources,
           CAST(SUM(n_fetch) - COUNT(*) AS BIGINT) AS n_dup_fetches,
           ROUND(((SUM(n_fetch) - COUNT(*)) / CAST(SUM(n_fetch) AS DOUBLE)) * 10000) / 10000 AS dup_rate,
           CAST(SUM(kept_doc_id) AS BIGINT) AS kept_docid_sum
    FROM per_url
    GROUP BY 1
    ORDER BY host
"""


@register("curation_url_dedup", oracle=_URL_DEDUP_ORACLE)
# SQL-ORACLE SLOT CLAIMED (r13; exception to the §5.2 rows-only
# default, noted in SURVEY §2): the load-bearing risk is cross-engine
# STRING-CANONICALIZATION parity — regex captures, HOF filter/sort
# semantics, keyed keep-lowest — which the hash gate proves end to end
# and a python pin cannot (the text_normalize precedent); the oracle
# embeds the normalizer's SQL (corpus_gate_report CTE precedent) so
# composite and component cannot drift.
def curation_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level URL dedup end to end (closes the r12 curation-axis
    loop): canonicalize every fetch-log URL (normalize_urls), collapse
    fetches onto canonical resources keeping the LOWEST doc_id per key
    (content-addressed, deterministic — re-crawls keep the same
    representative), then roll up per host: fetch count, distinct
    resources, duplicate-fetch count and rate, and the sum of kept
    doc_ids (pins the keep-lowest rule in the hash, not just the
    counts). The fixture (see :func:`_messy_pseudo_fetch`) spells each
    resource three messy ways and plants true-distinct variants so the
    collapse is demonstrably selective.

    Scale: the normalizer is a pure JVM map the scan absorbs; then two
    keyed, map-side-partial-agged shuffles — (url_norm) then (host) —
    each output-∝-groups. No collects, no UDFs, no row multiplication;
    the same plan shape at 100 TB shuffles bytes ∝ distinct URLs, not
    corpus bytes."""
    from n2kupdate_spark.operators.corpus import normalize_urls

    d = load(spark, sf_dir, "documents", columns=["doc_id"]).select(
        "doc_id", _messy_pseudo_fetch().alias("url")
    )
    per_url = (
        normalize_urls(d)
        .groupBy("url_norm")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_fetch"),
        )
    )
    host = F.regexp_extract("url_norm", r"^[a-z][a-z0-9+.-]*://([^/?#:]*)", 1)
    n_dup = F.sum("n_fetch") - F.count(F.lit(1))
    return (
        per_url.select(host.alias("host"), "kept_doc_id", "n_fetch")
        .groupBy("host")
        .agg(
            F.sum("n_fetch").cast("long").alias("n_fetches"),
            F.count(F.lit(1)).cast("long").alias("n_resources"),
            n_dup.cast("long").alias("n_dup_fetches"),
            (F.round((n_dup / F.sum("n_fetch").cast("double")) * 10000) / 10000).alias("dup_rate"),
            F.sum("kept_doc_id").cast("long").alias("kept_docid_sum"),
        )
        .orderBy("host")
    )


@register("corpus_crawl_pipeline")  # rows-only (r9 capacity policy):
# composition pinned ≡ the manually-chained library stages in
# tests/test_mlprep_props.py (each stage independently reference-pinned)
def corpus_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CRAWL-half of corpus preparation end to end (r13 — ties the
    round's additions into the production order a real web pipeline
    runs BEFORE the gate chain corpus_prepare_pipeline covers):

      1. HTML boilerplate extraction over the pseudo-crawl markup
         (extract_html_text — scripts/styles/comments/CDATA dropped,
         link-dense blocks killed),
      2. C4-style GLOBAL line dedup of the extracted text
         (dedup_lines_global — repeated footers/intros survive once
         corpus-wide; the fixture's planted boilerplate line is
         injected into every 5th page's markup),
      3. the standard gate chain on what remains (gate_documents:
         Gopher rules → 3-gram eval decontamination → exact dedup),
      4. per-source attrition summary: pages in, docs surviving
         extraction+line-dedup, docs surviving the gates, chars kept.

    Emits (source, n_pages, n_after_crawl, n_final, chars_final) —
    the funnel table a crawl-ingest team reads per snapshot.

    Scale: extraction is a pure JVM map; line dedup is one
    fingerprint-keyed window; the gates are maps/broadcast joins + one
    fingerprint shuffle (all individually audited in PLANS.md) —
    expensive stages run on the post-extraction, post-dedup remnant
    (the corpus_clean stage-ordering lesson)."""
    from n2kupdate_spark.operators.corpus import (
        extract_html_text,
        gate_documents,
    )
    from n2kupdate_spark.operators.dedup import dedup_lines_global
    from n2kupdate_spark.queries.text import _EVAL_PRED_SQL, _pseudo_html

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    pages = d.select("doc_id", "source", _pseudo_html().alias("html"))
    # planted boilerplate footer inside the MARKUP of every 5th page —
    # extraction must pull it out as a text line, line dedup must then
    # collapse it corpus-wide
    pages = pages.withColumn(
        "html",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("html"),
                F.lit(
                    "<footer><p>all rights reserved - subscribe to the "
                    "weekly newsletter for updates and offers</p></footer>"
                ),
            ),
        ).otherwise(F.col("html")),
    )
    # line granularity for the dedup = the extractor's kept BLOCKS:
    # join them with newlines (block_sep) so dedup_lines_global sees one
    # line per block, then flatten back to the single-space form the
    # downstream gates tokenize
    extracted = extract_html_text(pages, "html", block_sep="\n").select(
        "doc_id", F.col("extracted_text").alias("text")
    )
    deduped = dedup_lines_global(extracted).select(
        "doc_id", F.regexp_replace("text", "\n", " ").alias("text")
    )
    # gate_documents consumes its input from several gate branches —
    # checkpoint the crawl-half output once or every branch replays the
    # extraction + line-dedup lineage (the corpus_semantic_prepare
    # checkpoint precedent; a real pipeline materializes exactly this
    # boundary between its crawl half and its gate half)
    clean = deduped.join(
        d.select("doc_id", "source"), "doc_id"
    ).localCheckpoint(eager=True)
    is_eval = F.expr(_EVAL_PRED_SQL)
    # fixture-scale gate adaptation (the _DECONTAM_BUDGET precedent):
    # extraction appends a constant inline tail to every page, which
    # alone shares 4+ 3-grams between every train doc and the eval
    # slice — budget 8 restores "share substantive content" semantics;
    # min_words 30 because line dedup legitimately shrinks near-floor
    # docs that lost a duplicated intro/content line
    survivors = gate_documents(
        clean.filter(~is_eval),
        eval_docs=clean.filter(is_eval),
        gopher_kwargs={"min_words": 30},
        decontam_budget=8,
    )
    n_pages = pages.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    n_crawl = clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_after_crawl")
    )
    n_final = survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_final"),
        F.sum(F.length("text")).cast("long").alias("chars_final"),
    )
    return (
        n_pages.join(n_crawl, "source", "left")
        .join(n_final, "source", "left")
        .select(
            "source",
            "n_pages",
            F.coalesce("n_after_crawl", F.lit(0)).cast("long").alias("n_after_crawl"),
            F.coalesce("n_final", F.lit(0)).cast("long").alias("n_final"),
            F.coalesce("chars_final", F.lit(0)).cast("long").alias("chars_final"),
        )
    )


@register("ts_winsorize_clamp")  # rows-only (r9 capacity policy,
# headroom preserved): output ≡ an independent numpy recompute at two
# sfs + clamp-algebra contracts in tests/test_mlprep_props.py
def ts_winsorize_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key winsorization — the standard numeric cleaner between raw
    event streams and model features (clamp each user's values into
    their own exact [p05, p95] band; outliers saturate instead of
    dominating a scale-sensitive fit; the per-KEY band is the point —
    a global band would let one hot user define everyone's tails).
    Emits (user_id, ts_s, value, value_w 4dp, clipped).

    Scale: ONE user-keyed window shuffle — the exact percentiles ride
    as window aggregates over the same partition the clamp reads, so
    there is no second pass and no percentile-table join; output rows =
    input rows. Exact percentile (not approx) keeps the band
    deterministic and python-recomputable."""
    e = load(spark, sf_dir, "events", columns=["user_id", "ts", "value"]).select(
        "user_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
        "value",
    )
    w = Window.partitionBy("user_id")
    lo = F.expr("percentile(value, 0.05)").over(w)
    hi = F.expr("percentile(value, 0.95)").over(w)
    clamped = F.greatest(lo, F.least(hi, F.col("value")))
    return e.select(
        "user_id",
        "ts_s",
        "value",
        (F.round(clamped * 10000) / 10000).alias("value_w"),
        (F.col("value") != clamped).alias("clipped"),
    )


@register("ts_robust_zscore_mad")  # rows-only (r9 capacity policy):
# ≡ numpy same-convention recompute at two sfs + planted outlier pins —
# tests/test_mlprep_props.py
def ts_robust_zscore_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key MODIFIED z-score (Iglewicz & Hoaglin 1993: Mz =
    0.6745·(x − median)/MAD) — the robust sibling of ts_anomaly_zscore:
    mean/std anomaly scores are themselves dragged by the outliers they
    hunt (one 100× spike inflates σ and masks everything else), while
    median/MAD have a 50% breakdown point; |Mz| > 3.5 is the published
    outlier rule. Emits (user_id, ts_s, value, mz 4dp, outlier);
    MAD = 0 keys (≥ half the values identical) emit NULL mz and FALSE
    outlier — a degenerate scale flags nothing, honestly.

    Scale: TWO user-keyed exact-percentile window aggregates — the
    median, then the median of |x − median| — over the SAME partition
    key, so Catalyst reuses one exchange (the winsorize shape, pinned:
    exactly ONE Exchange in the plan); output rows = input rows, no
    collects, no approx (deterministic, python-recomputable)."""
    e = load(spark, sf_dir, "events", columns=["user_id", "ts", "value"]).select(
        "user_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
        "value",
    ).filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id")
    med = F.expr("percentile(value, 0.5)").over(w)
    staged = e.select("user_id", "ts_s", "value", med.alias("__med"))
    mad = F.expr("percentile(abs(value - __med), 0.5)").over(
        Window.partitionBy("user_id")
    )
    staged = staged.select("user_id", "ts_s", "value", "__med", mad.alias("__mad"))
    mz = F.lit(0.6745) * (F.col("value") - F.col("__med")) / F.col("__mad")
    return staged.select(
        "user_id",
        "ts_s",
        "value",
        # floor-half-up, not F.round: shortest-repr HALF_UP vs numpy
        # half-even split on scaled-double boundaries (~1 in 1e4 ratio
        # rows — one hit at sf0.01); floor(x·1e4+0.5) is bit-identical
        # in every engine given the same double (negatives round toward
        # +inf — the readability_scores convention)
        F.when(
            F.col("__mad") > 0, F.floor(mz * 10000 + 0.5) / 10000 + 0.0
        ).alias("mz"),
        F.coalesce(
            F.when(F.col("__mad") > 0, F.abs(mz) > 3.5), F.lit(False)
        ).alias("outlier"),
    )


@register("ts_ewma_smooth")  # rows-only (§2 legend: the recursion's
# sequential dependence has no stable SQL form); output ≡ pandas
# ewm(adjust=False) in tests/test_mlprep_props.py
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing of the event value series (α = 0.2, the
    recursive adjust=False form) — the standard monitoring smoother,
    completing the sequential per-key family (rolling z-score, CUSUM,
    LTTB). Emits every event with its smoothed value.

    Scale: ONE shuffle via the shared bucketed two-level-key Arrow
    dispatch; O(series) per key — see
    operators/timeseries.py::ewma_smooth."""
    from n2kupdate_spark.operators.timeseries import ewma_smooth

    e = load(
        spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]
    ).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return ewma_smooth(e, alpha=0.2, order_col="event_id")


def _autocorrelation(
    ev: DataFrame,
    max_lag: int = 10,
    key_col: str = "user_id",
    val_col: str = "value",
    order_cols: tuple = ("ts_s", "event_id"),
) -> DataFrame:
    """Per-key sample autocorrelation function at lags 1..max_lag — the
    standard seasonality/persistence diagnostic (Box–Jenkins):
    r_k = c_k / c_0 with c_k = Σ_{t=1..n−k} (x_t − x̄)(x_{t+k} − x̄) and
    x̄, c_0 over the FULL series (the statsmodels/R `acf` convention).
    Emits (key, lag, n, acf 4dp) for every lag with n > lag and c_0 > 0
    (constant or too-short series produce no row for that lag).

    Scale shape: ONE shuffle total. The lead columns ride a key-ordered
    window, and the per-key aggregate that follows groups on the SAME
    key, so Catalyst reuses the window's hash partitioning (one
    Exchange in the plan — asserted in the pin). Each c_k folds to
    three lag-sums via the algebraic expansion
    Σ x_t·x_{t+k} − x̄(Σ'x_t + Σ'x_{t+k}) + (n−k)x̄², so no second
    centered pass is needed; the lag table then explodes from one
    per-key struct array (#keys × max_lag rows — tiny). All JVM, no
    Python."""
    # Drop null observations BEFORE the lead window so n, the lag
    # pairings and the sums all see the same (non-null) series — else
    # count(1) counts rows the sums skip and x̄/c₀ bias (the
    # agg_welch_ttest / diag_ks_drift null convention). Filter pushes
    # to the scan; the one-Exchange shape is unchanged.
    ev = ev.filter(F.col(val_col).isNotNull())
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    x = F.col(val_col)
    leads = [F.lead(x, k).over(w).alias(f"__l{k}") for k in range(1, max_lag + 1)]
    staged = ev.select(key_col, val_col, *leads)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("ss"),
    ]
    for k in range(1, max_lag + 1):
        lk = F.col(f"__l{k}")
        aggs += [
            F.sum(x * lk).alias(f"p{k}"),
            F.sum(F.when(lk.isNotNull(), x)).alias(f"a{k}"),
            F.sum(lk).alias(f"b{k}"),
        ]
    g = staged.groupBy(key_col).agg(*aggs)
    mean = F.col("s") / F.col("n")
    c0 = F.col("ss") - F.col("n") * mean * mean
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                (
                    F.col(f"p{k}")
                    - mean * (F.col(f"a{k}") + F.col(f"b{k}"))
                    + (F.col("n") - k) * mean * mean
                ).alias("ck"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    exploded = g.select(
        key_col, "n", c0.alias("__c0"), F.explode(lag_structs).alias("__e")
    )
    return exploded.filter(
        (F.col("n") > F.col("__e.lag")) & (F.col("__c0") > 0)
    ).select(
        key_col,
        F.col("__e.lag").alias("lag"),
        F.col("n").cast("long").alias("n"),
        (F.round(F.col("__e.ck") / F.col("__c0") * 10000) / 10000 + 0.0).alias("acf"),
    )


@register("ts_autocorr")  # rows-only (r9 capacity policy): full table ≡
# an independent python recompute of the direct centered formula at two
# sfs + white-noise/periodic behavior pins + a one-Exchange plan pin in
# tests/test_mlprep_props.py
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user autocorrelation of the event value series at lags 1..10
    — the Box–Jenkins seasonality/persistence diagnostic completing the
    per-key analysis family (z-score, CUSUM, EWMA, LTTB): a lag with
    high |acf| is periodic structure a forecaster exploits and a
    near-zero ACF tail is the white-noise certificate.

    Scale: ONE shuffle — the lag window and the per-key aggregate share
    the user hash partitioning; see `_autocorrelation`."""
    e = load(
        spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]
    ).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return _autocorrelation(e)


@register("ts_seasonal_decompose")  # rows-only debut (capacity policy
# §5.2) — cross-engine verified anyway: equivalent DuckDB SQL through
# the driver's canonical-rows compare + additivity/centering invariants
# in tests/test_parity.py.
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the statsmodels
    `seasonal_decompose` / Macaulay construction) of the corpus-wide
    HOURLY event-count series with daily period p = 24: trend = the
    standard 2×24 centered moving average (the even-period form:
    the mean of the two length-24 windows offset by one — end hours
    weighted 1/48), seasonal = per-hour-of-day mean of the detrended
    series re-centered to sum to zero, residual = observed − trend −
    seasonal. Missing hours are filled as observed = 0 on a dense
    hour spine first (a gap IS zero events; and the row-frame moving
    average is only meaningful on a dense grid). Trend (hence
    seasonal/residual contributions) exists only where the full ±12
    window does — edge hours carry NULLs, the honest convention.
    Emits (hour_s, phase, observed, trend, seasonal, resid), doubles
    4dp scale-first.

    Scale shape: one partial-agged shuffle collapses the event log to
    #hours rows; the spine is a generated sequence joined once; the
    ordered window then runs over that BOUNDED aggregate (single
    partition by necessity — one global series; at a
    years×many-metrics scale the same plan partitions by series id),
    the 24 phase means are a tiny agg broadcast back. The two driver
    scalars (min/max hour) are inlined as literals (the IDF/BNLJ
    rule)."""
    ev = load(spark, sf_dir, "events", columns=["ts"]).select(
        (F.floor(F.unix_timestamp(F.date_trunc("second", F.col("ts"))) / 3600) * 3600)
        .cast("long")
        .alias("hour_s")
    )
    hourly = ev.groupBy("hour_s").agg(F.count(F.lit(1)).alias("observed"))
    lo, hi = hourly.agg(F.min("hour_s"), F.max("hour_s")).collect()[0]
    spine = spark.range(1).select(
        F.explode(F.sequence(F.lit(lo), F.lit(hi), F.lit(3600))).alias("hour_s")
    ).select(F.col("hour_s").cast("long").alias("hour_s"))  # lit(int) is
    # int32 under 2^31 — pin to long so the spine matches the event-derived
    # key type (and survives 2038)
    dense = spine.join(hourly, "hour_s", "left").select(
        "hour_s",
        F.coalesce("observed", F.lit(0)).cast("long").alias("observed"),
    )
    w = Window.orderBy("hour_s")
    f1 = w.rowsBetween(-12, 11)
    f2 = w.rowsBetween(-11, 12)
    t1 = F.when(F.count(F.lit(1)).over(f1) == 24, F.avg("observed").over(f1))
    t2 = F.when(F.count(F.lit(1)).over(f2) == 24, F.avg("observed").over(f2))
    trended = dense.select(
        "hour_s",
        "observed",
        F.pmod(F.floor(F.col("hour_s") / 3600), F.lit(24)).cast("int").alias("phase"),
        ((t1 + t2) / 2).alias("__trend"),
    ).localCheckpoint(eager=True)  # consumed by the phase-mean branch, the
    # grand collect AND the final select — without this Catalyst inlines the
    # scan+spine+ordered-window into every consumer (the kn-fit-table lesson)
    phase_means = (
        trended.filter(F.col("__trend").isNotNull())
        .groupBy("phase")
        .agg(F.avg(F.col("observed") - F.col("__trend")).alias("__pm"))
    )
    grand = phase_means.agg(F.avg("__pm")).collect()[0][0]
    # grand is None on a degenerate span (< 25 hours: no full 2×24 window
    # anywhere) — every seasonal is then NULL via the left join below, so
    # the centering constant is irrelevant; 0.0 keeps the lit well-typed.
    # The join is LEFT: for spans of 25–47 hours some of the 24 phases
    # have no interior row, and those hours must still emit (with NULL
    # seasonal), not vanish.
    seasoned = trended.join(F.broadcast(phase_means), "phase", "left").select(
        "hour_s",
        "phase",
        "observed",
        "__trend",
        (F.col("__pm") - F.lit(float(grand) if grand is not None else 0.0)).alias(
            "__seasonal"
        ),
    )
    r4 = lambda c: F.round(c * 10000) / 10000 + 0.0  # noqa: E731
    return seasoned.select(
        "hour_s",
        "phase",
        "observed",
        r4(F.col("__trend")).alias("trend"),
        # seasonal is periodic — defined on every row whose phase has at
        # least one interior (full-window) hour, i.e. everywhere once the
        # span reaches 48 h (the statsmodels convention); trend/resid are
        # NULL where the ±12 window isn't full
        r4(F.col("__seasonal")).alias("seasonal"),
        F.when(
            F.col("__trend").isNotNull(),
            r4(F.col("observed") - F.col("__trend") - F.col("__seasonal")),
        ).alias("resid"),
    )


def _hourly_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dense hourly event-count series per event type — the shared
    input of the forecaster/backtest family (HW / Theta / AR), factored
    so the five consumers cannot diverge-by-copy (the _cohort_moments
    lesson, r14): collapse the event log to #types x #hours counts (one
    partial-agged shuffle), then left-join onto a per-type hour spine
    built by exploding the min..max sequence OFF the distinct-type
    frame itself (a generator per type row, zero joins - a crossJoin
    here would plan the BNLJ the fleet audit rejects), zero-filling
    missing hours. Returns (event_type, ts_s long, value double)."""
    ev = load(spark, sf_dir, "events", columns=["ts", "event_type"]).select(
        "event_type",
        (
            F.floor(F.unix_timestamp(F.date_trunc("second", F.col("ts"))) / 3600)
            * 3600
        )
        .cast("long")
        .alias("ts_s"),
    )
    hourly = ev.groupBy("event_type", "ts_s").agg(F.count(F.lit(1)).alias("value"))
    lo, hi = hourly.agg(F.min("ts_s"), F.max("ts_s")).collect()[0]
    spine = (
        hourly.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(lo), F.lit(hi), F.lit(3600))).alias("ts_s"),
        )
        .select("event_type", F.col("ts_s").cast("long").alias("ts_s"))
    )
    return spine.join(hourly, ["event_type", "ts_s"], "left").select(
        "event_type",
        "ts_s",
        F.coalesce("value", F.lit(0)).cast("double").alias("value"),
    )


@register("ts_holt_winters")  # rows-only (§2 legend: sequential
# recursion, no SQL form): ≡ an independent python recompute + planted
# periodic-forecast pins in tests/test_mlprep_props.py
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt–Winters forecast of the hourly event-count series
    PER EVENT TYPE (daily period 24, α/β/γ = 0.2/0.1/0.3) — the
    classical seasonal forecaster completing the ts family's
    capacity-planning axis (the decompose op explains the past; this
    one projects the next day): in-sample one-step-ahead fit + a
    24-hour future forecast (observed = NaN, the Arrow float64 missing
    marker) per type.

    Scale: one partial-agged shuffle collapses the event log to
    #types × #hours rows on a dense per-type spine (generated sequence
    cross-joined with the tiny type table); the recursion walks through
    the shared bucketed Arrow dispatch — see
    operators/timeseries.py::holt_winters."""
    from n2kupdate_spark.operators.timeseries import holt_winters

    dense = _hourly_dense(spark, sf_dir)
    return holt_winters(
        dense, period=24, horizon=24, key_col="event_type"
    )


@register("ts_backtest_holt_winters")  # rows-only (§2 legend:
# sequential recursion, no SQL form): ≡ an independent python
# rolling-origin recompute + planted skill pins —
# tests/test_mlprep_props.py
def ts_backtest_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the Holt–Winters forecaster — the
    evaluation harness next to the forecast itself (the
    diag_langid_confusion pattern, time-series edition): per event type
    and per origin (last 3 days), fit on the history before the
    origin, forecast 24 h, and report MAE/sMAPE alongside the
    SEASONAL-NAIVE baseline ("same hour yesterday") and the skill
    score 1 − mae/naive_mae — a forecaster that can't beat the naive
    baseline is a liability, and this table is how that's caught
    before capacity planning trusts it.

    Scale: the same #types × #hours bounded grid the forecaster reads;
    ALL origins of a key evaluate inside its ONE Arrow task — see
    operators/timeseries.py::holt_winters_backtest."""
    from n2kupdate_spark.operators.timeseries import holt_winters_backtest

    dense = _hourly_dense(spark, sf_dir)
    return holt_winters_backtest(
        dense, period=24, n_origins=3, key_col="event_type"
    )


@register("ts_backtest_theta")  # rows-only (§2 legend: sequential
# recursion, no SQL form): ≡ an independent python rolling-origin
# recompute + planted skill pins — tests/test_mlprep_props.py
def ts_backtest_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the THETA forecaster — the skill
    measurement r15's ts_theta_forecast shipped without (judge r15
    item 4): per event type and per origin (last 3 days), fit the
    SES-with-drift closed form on the history before the origin,
    forecast 24 h, and report MAE/sMAPE alongside the SAME
    seasonal-naive baseline, origins, and fit floor as
    ts_backtest_holt_winters — so the two backtests' skill columns
    are directly comparable and "HW or Theta for this series?" has a
    number instead of a vibe.

    Scale: the same #types × #hours bounded grid; ALL origins of a key
    evaluate inside its ONE Arrow task — see
    operators/timeseries.py::rolling_origin_backtest (the generalized
    harness both backtests ride)."""
    from n2kupdate_spark.operators.timeseries import theta_backtest

    dense = _hourly_dense(spark, sf_dir)
    return theta_backtest(dense, period=24, n_origins=3, key_col="event_type")


@register("ts_trend_mann_kendall")  # rows-only (§2 legend: rank-based
# pairwise statistic, no SQL form): ≡ an independent python recompute +
# planted monotonic/stationary/tied pins in tests/test_mlprep_props.py
def ts_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test of each user's event-value
    series — the standard environmental-monitoring trend detector (the
    statistic the reference package's Natura-2000 species-count domain
    reports), rank-based so any monotonic drift is caught regardless of
    shape or scale: the directional complement of the level-based
    z-score/CUSUM detectors. Tie-corrected variance,
    continuity-corrected z, two-sided 5% verdict.

    Scale: one bucketed Arrow dispatch — see
    operators/timeseries.py::mann_kendall."""
    from n2kupdate_spark.operators.timeseries import mann_kendall

    e = load(
        spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]
    ).select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return mann_kendall(e, order_col="event_id")


@register("corpus_interleave_mixture")  # rows-only (r9 capacity
# policy): ≡ an independent python stride replay + prefix-mixture
# property pins — tests/test_mlprep_props.py
def corpus_interleave_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted INTERLEAVING — the step after the mixture
    ops decide weights: materialize the actual training ORDER in which
    sources arrive, via stride scheduling (the weighted round-robin of
    OS schedulers): within each source docs shuffle content-addressed
    (md5 order — deterministic, no seed state), take per-source rank
    r, and every doc's global position key is r / w_s with w_s the
    source's temperature weight (α = 0.5 over corpus counts). Sorting
    by (key, source, doc_id) yields an order whose EVERY PREFIX tracks
    the target mixture within ±(#sources) docs — the property batch
    concatenation ("all of source A, then B") catastrophically lacks
    (curriculum drift, forgetting). Emits (doc_id, source, stride_key
    6dp) — the sort key IS the artifact; a production writer sorts by
    it (repartitionByRange + local sort) instead of materializing a
    global rank.

    Scale: one #sources-bounded count aggregate (weights inlined as a
    literal CASE — the IDF/BNLJ rule), one per-source rank window, one
    map. The global sort is the CONSUMER's write step, not a shuffle
    here."""
    from n2kupdate_spark.operators.corpus import temperature_shares

    d = load(spark, sf_dir, "documents", columns=["doc_id", "source"])
    counts = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    weights = temperature_shares(counts, alpha=0.5)
    w = F.lit(None).cast("double")
    for s, v in sorted(weights.items()):
        w = F.when(F.col("source") == s, F.lit(v)).otherwise(w)
    r = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return d.select(
        "doc_id",
        "source",
        r.alias("__r"),
        w.alias("__w"),
    ).select(
        "doc_id",
        "source",
        (F.round(F.col("__r") / F.col("__w") * 1000000) / 1000000).alias(
            "stride_key"
        ),
    )


@register("ts_theta_forecast")  # rows-only (§2 legend: sequential
# recursion, no SQL form): ≡ an independent python recompute + planted
# trend pins in tests/test_mlprep_props.py
def ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method 24-hour forecast of the hourly event-count series
    per event type — the M3-competition-winning simple forecaster next
    to ts_holt_winters (HW carries explicit seasonality; Theta is the
    robust trend-plus-SES default that famously beat far fancier
    models, the first thing a capacity planner should try on
    non-seasonal or deseasonalized series). SES-with-drift closed form
    (Hyndman & Billah 2003), α = 0.2.

    Scale: the SAME #types × #hours dense-spine collapse as
    ts_holt_winters (one partial-agged shuffle, spine exploded off the
    tiny type table — zero joins), then one bucketed Arrow dispatch —
    operators/timeseries.py::theta_forecast."""
    from n2kupdate_spark.operators.timeseries import theta_forecast

    dense = _hourly_dense(spark, sf_dir)
    return theta_forecast(dense, horizon=24, key_col="event_type")


@register("ts_changepoint_pelt")  # rows-only (§2 legend: sequential DP,
# no SQL form): ≡ an exact un-pruned O(n²) DP recompute + planted
# shift pins in tests/test_mlprep_props.py
def ts_changepoint_pelt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact optimal mean-change segmentation of the hourly event-count
    series with PELT (Killick et al. 2012) — the RETROSPECTIVE
    complement of stream/ts_changepoint_cusum (CUSUM watches forward
    from a calibration window and alarms with delay; PELT sees the
    whole series and returns the penalized-optimal segmentation —
    backfills, root-cause windows, training-data labeling). BIC-rate
    penalty from the changepoint-robust first-difference noise
    estimate. The fixture's hourly counts are STATIONARY by
    construction (a 0-row demo demonstrates nothing — the decorated-
    fixture rule), so each type also gets a `type#shifted` TWIN whose
    second regime starts at an xxhash64-derived hour with a
    data-scaled step (max(5, 4·√mean) — ≳4σ of Poisson noise at every
    sf): PELT must find the planted cut in every twin while the
    original types stay (mostly) quiet.

    Scale: the same #types × #hours dense-spine collapse as the other
    ts ops (twins are a unioned column-arithmetic copy — no second
    scan) + ONE bucketed Arrow dispatch; PELT pruning keeps per-key
    work near-linear in the bounded grid length."""
    from n2kupdate_spark.operators.timeseries import pelt_changepoints

    ev = load(spark, sf_dir, "events", columns=["ts", "event_type"]).select(
        "event_type",
        (
            F.floor(F.unix_timestamp(F.date_trunc("second", F.col("ts"))) / 3600)
            * 3600
        )
        .cast("long")
        .alias("ts_s"),
    )
    hourly = ev.groupBy("event_type", "ts_s").agg(F.count(F.lit(1)).alias("value"))
    lo, hi, mean_cnt = hourly.agg(
        F.min("ts_s"), F.max("ts_s"), F.avg("value")
    ).collect()[0]
    step = max(5.0, 4.0 * float(mean_cnt) ** 0.5)  # scalar, inlined
    spine = (
        hourly.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(lo), F.lit(hi), F.lit(3600))).alias("ts_s"),
        )
        .select("event_type", F.col("ts_s").cast("long").alias("ts_s"))
    )
    dense = spine.join(hourly, ["event_type", "ts_s"], "left").select(
        "event_type",
        "ts_s",
        F.coalesce("value", F.lit(0)).cast("double").alias("value"),
    )
    # planted twin: regime 2 starts 7–27 days in, at an hour derived
    # from the type name — deterministic, content-addressed
    cp_ts = (
        F.lit(lo)
        + (F.pmod(F.xxhash64("event_type"), F.lit(480)) + 168) * 3600
    )
    twins = dense.select(
        F.concat(F.col("event_type"), F.lit("#shifted")).alias("event_type"),
        "ts_s",
        (
            F.col("value")
            + F.when(F.col("ts_s") >= cp_ts, F.lit(step)).otherwise(F.lit(0.0))
        ).alias("value"),
    )
    return pelt_changepoints(dense.unionByName(twins), key_col="event_type")


@register("ts_rolling_quantile")  # rows-only (r9 capacity policy): ≡
# python sort-based recompute + planted step/short-history pins —
# tests/test_mlprep_props.py
def ts_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median and p90 of each user's event values over
    the TRAILING 20 events — the robust rolling statistics the
    monitoring family needs next to ts_ewma_smooth (EWMA tracks level
    but one spike drags it; the rolling median shrugs spikes off, and
    rolling p90 IS the spike monitor). Order-statistic convention:
    lower order statistic at index ⌈q·n⌉ of the sorted window (no
    interpolation — deterministic for any dtype, same convention as
    sample_reservoir_per_key's rank reads). Emits (user_id, event_id,
    ts_s, value, roll_median, roll_p90, n_window).

    Scale: ONE user-keyed shuffle; the window list is 20-BOUNDED BY
    CONSTRUCTION (rowsBetween(-19, 0) — the §2 collect_list rule:
    bounded frames only), so sort_array per row is O(20·log 20)
    regardless of history length."""
    from pyspark.sql import Window

    N = 20
    from n2kupdate_spark.functions import ts_seconds

    e = load(
        spark, sf_dir, "events", columns=["user_id", "event_id", "value", "ts"]
    ).select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        ts_seconds("ts").alias("ts_s"),
    ).filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_s").asc(), F.col("event_id").asc())
        .rowsBetween(-(N - 1), Window.currentRow)
    )
    win = F.sort_array(F.collect_list("value").over(w))
    n = F.size(win)
    pick = lambda q: F.element_at(  # noqa: E731
        win, F.greatest(F.lit(1), F.ceil(F.lit(q) * n).cast("int"))
    )
    return e.select(
        "user_id",
        "event_id",
        "ts_s",
        "value",
        pick(0.5).alias("roll_median"),
        pick(0.9).alias("roll_p90"),
        n.alias("n_window"),
    )



@register("ts_ar_forecast")  # rows-only (§2 legend: linear-algebra
# fit + sequential recursion, no SQL form): ≡ an independent python
# recompute + planted sinusoid pins in tests/test_mlprep_props.py
def ts_ar_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(25) 24-hour forecast of the hourly event-count series per
    event type via Yule–Walker — the CLASSICAL linear forecaster
    completing the family's third axis (HW carries explicit
    seasonality, Theta is trend+SES; AR lets the data pick its own
    lag structure, and with p = 25 ≥ the daily period the seasonal
    lag-24 term enters the regression directly). Emits 24 future rows
    per type with the fitted mean, the lag-1 coefficient, and the
    effective order for auditability.

    Scale: the SAME #types × #hours dense-spine collapse as the other
    forecasters (shared _hourly_dense — one partial-agged shuffle);
    the 25×25 Toeplitz solve and forecast recursion run per key inside
    the bounded bucketed Arrow dispatch — see
    operators/timeseries.py::ar_forecast."""
    from n2kupdate_spark.operators.timeseries import ar_forecast

    dense = _hourly_dense(spark, sf_dir)
    return ar_forecast(dense, horizon=24, p=25, key_col="event_type")


@register("ts_backtest_ar")  # rows-only (§2 legend: sequential
# recursion, no SQL form): ≡ an independent python rolling-origin
# recompute + planted skill pins — tests/test_mlprep_props.py
def ts_backtest_ar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the AR(25) forecaster — the third
    directly comparable skill column (after ts_backtest_holt_winters
    and ts_backtest_theta): SAME origins, SAME seasonal-naive
    baseline, SAME 2×period fit floor via the shared
    rolling_origin_backtest harness, so "HW, Theta, or AR for this
    series?" is one three-way table read instead of a vibe.

    Scale: the same #types × #hours bounded grid; ALL origins of a key
    evaluate inside its ONE Arrow task — see
    operators/timeseries.py::ar_backtest."""
    from n2kupdate_spark.operators.timeseries import ar_backtest

    dense = _hourly_dense(spark, sf_dir)
    return ar_backtest(dense, period=24, p=25, n_origins=3, key_col="event_type")


@register("ts_period_detect")  # rows-only (§2 legend: FFT, no SQL
# form): ≡ an independent python recompute + planted sinusoid/noise
# pins in tests/test_mlprep_props.py
def ts_period_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection of the hourly event-count series per
    event type via the FFT periodogram — the measurement every
    seasonal op in the family ASSUMES ("period=24") and none produced:
    linearly detrend, rfft, report the strongest non-DC bin's implied
    period and its share of non-DC power, flagging is_periodic at a
    20% share. A capacity planner runs THIS first, then hands the
    detected period to ts_holt_winters / ts_backtest_* / ts_ar_forecast.

    Scale: the SAME shared _hourly_dense #types × #hours collapse (one
    partial-agged shuffle); the n·log n FFT runs per key inside the
    bounded bucketed Arrow dispatch — see
    operators/timeseries.py::period_detect."""
    from n2kupdate_spark.operators.timeseries import period_detect

    dense = _hourly_dense(spark, sf_dir)
    return period_detect(dense, key_col="event_type")
