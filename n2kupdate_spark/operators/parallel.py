"""Scan-parallelism helpers shared by the operator library.

The deficit this fixes: a parquet scan yields at most one task per file
row-group, so a heavy per-row map (gram explode, tokenizer, decoder)
FUSED into the scan stage of a one-file table runs on one core while
the rest of the box idles (guide §2.6 idle capacity / §6 input splits —
the r13 10×-probe lesson, now shared instead of per-op).

At production scale a table is many files and the scan already carries
at least as many partitions as cores — then :func:`fan_out` is the
identity and costs nothing. The round-robin exchange only fires on a
partition deficit, where the shuffled bytes are small by construction
(a table small enough to be one file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (app id, analyzed-plan semantic hash) → physical partition count.
#: ``df.rdd.getNumPartitions()`` forces logical→physical→RDD conversion on
#: the driver per call — the same plan-construction cost class the r16
#: load() cache removed (r16 verdict "What's wrong" #4). The semantic hash
#:  only re-uses the already-analyzed plan, so repeat probes of the same
#: frame (3 bench reps, repeated helper calls per query build) are a dict
#: hit. The cached value is a WIDTH DECISION, never data: a stale or
#: hash-colliding entry could only mis-size a repartition, not change rows.
_NPART_MEMO: dict[tuple[str, int], int] = {}


def _plan_partitions(df: DataFrame) -> int:
    """Physical partition count of ``df``, memoized per analyzed plan."""
    from n2kupdate_spark.sources.catalog import _app_id

    try:
        key = (_app_id(df.sparkSession), df.semanticHash())
    except Exception:
        return df.rdd.getNumPartitions()
    n = _NPART_MEMO.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_NPART_MEMO) > 4096:
            _NPART_MEMO.clear()
        _NPART_MEMO[key] = n
    return n


def materialize(df: DataFrame, mode: str = "local") -> DataFrame:
    """Eager materialize-and-truncate for build-phase intermediates
    (bounded fit tables, drop sets, per-iteration graph frames).

    ``mode='local'`` (default): ``localCheckpoint`` — executor-local
    blocks, fastest, but a lost executor loses its blocks and the
    truncated lineage cannot recompute them. ``mode='reliable'``:
    ``checkpoint`` to the fault-tolerant directory set via
    ``spark.sparkContext.setCheckpointDir`` — survives executor loss on
    preemptible clusters. Same frames, bit-identical results; only the
    storage/recovery contract differs.

    Plan-audit note: the audit tooling (plans_report.py) captures the
    PRE-checkpoint plan of every eager materialization by wrapping
    DataFrame.localCheckpoint/checkpoint around the query build
    (plans.capture_pre_ckpt_plans), so checkpointed pipelines stop
    reading as `Scan ExistingRDD` in PLANS.md (r16 verdict: the audit
    under-reported every eager builder). Nothing here records anything on the normal path."""
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint_mode='reliable' requires "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant dir>)"
            )
        return df.checkpoint(eager=True)
    if mode != "local":
        raise ValueError(f"unknown checkpoint_mode: {mode!r}")
    return df.localCheckpoint(eager=True)


def full_width(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit repartition by ``keys`` at min(shuffle.partitions,
    4 × cores) immediately before a grouped Python dispatch
    (applyInPandas). AQE coalesces exchanges by shuffle BYTES, but a
    grouped-pandas stage's cost is per-row PYTHON compute — a few-MB
    exchange gets squeezed to 2 tasks and the stage runs on 2 cores
    (r16 stage profiles). A user-specified repartition count is exempt
    from coalescing, and the following groupBy on the same keys reuses
    the partitioning (guide §2.4): still one exchange, now full width.
    The cap keeps a plain 200-partition session from paying hundreds of
    near-empty dispatches; both terms scale with the configured
    cluster, nothing is a local[32] constant."""
    spark = df.sparkSession
    nparts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        4 * spark.sparkContext.defaultParallelism,
    )
    return df.repartition(nparts, *keys)


def fan_out(
    df: DataFrame,
    *keys: str,
    min_partitions: int | None = None,
    fraction: float = 1.0,
) -> DataFrame:
    """Repartition ``df`` up to the session's core count (or
    ``min_partitions``) IF its current plan has fewer partitions —
    otherwise return it unchanged. Use immediately before a heavy
    narrow map whose input may be a single-file scan; never changes
    values, only placement.

    Pass ``keys`` (a high-cardinality column — the row id) whenever one
    exists: hash partitioning is a pure exchange. The keyless fallback
    is ROUND-ROBIN, which Spark prepends a full-row local SORT to (for
    deterministic placement under task retry, SPARK-23207) — on wide
    text rows that sort can cost more than the map being parallelized
    (r16: the corpus-scorer composite regressed 2× keyless, recovered
    keyed).

    ``fraction`` scales the target below the core count (still
    cluster-relative, never an absolute constant): each task pays a
    fixed CPU cost (codegen/shuffle-reader setup, broadcast
    deserialization), so a moderately heavy map over a small table is
    fastest well below full width — the r16 quality-scorer sweep
    measured 1-task 1.5 s / 8-16 tasks 0.7 s / 32 tasks 1.2 s for the
    same stage. Use 0.5 for such mid-weight maps; leave 1.0 for heavy
    ones (gram explodes)."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or max(2, int(sc.defaultParallelism * fraction))
    if _plan_partitions(df) >= target:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-built small frame (bounded rows: fit outputs, mapping
    tables, report rows). The classic ``createDataFrame(list)`` pickles
    rows into a defaultParallelism-sliced RDD — 32 Python-worker tasks
    and ~0.2–0.5 s of dispatch per frame at local[32] (r16 stage
    profiles). When the session has Arrow enabled (ours do; foreign
    sessions are left untouched because Arrow changes toPandas
    semantics), route None-free, NaN-free rows through ONE pandas→Arrow
    batch instead: a LocalRelation, zero tasks. Any other shape falls
    back to the classic path — same rows either way (A/B hash-pinned at
    the call sites). NaN floats take the classic path because pyarrow's
    from_pandas treats NaN as null while createDataFrame(list) keeps it
    as NaN — the two paths would disagree (r16 ADVICE)."""
    import math

    rows = list(rows)
    try:
        arrow_on = str(
            spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
        ).lower() == "true"
        if arrow_on and rows and not any(
            v is None or (isinstance(v, float) and math.isnan(v))
            for t in rows
            for v in t
        ):
            import pandas as pd

            if isinstance(schema, str):
                from pyspark.sql.types import _parse_datatype_string

                names = [f.name for f in _parse_datatype_string(schema).fields]
            elif isinstance(schema, (list, tuple)):
                names = list(schema)
            else:
                names = [f.name for f in schema.fields]
            pdf = pd.DataFrame.from_records(rows, columns=names)
            return spark.createDataFrame(pdf, schema)
    except Exception:
        # The Arrow fast path is an optimization, never a semantics
        # change — fall back to the classic path, but say so ONCE so a
        # regression here doesn't silently reintroduce the 32-task
        # dispatch cost with no signal (r16 ADVICE).
        global _ARROW_PATH_WARNED
        if not _ARROW_PATH_WARNED:
            _ARROW_PATH_WARNED = True
            import warnings

            warnings.warn(
                "local_frame: Arrow fast path failed; using the classic "
                "createDataFrame fallback (correct but slower)",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark.createDataFrame(rows, schema)


_ARROW_PATH_WARNED = False
