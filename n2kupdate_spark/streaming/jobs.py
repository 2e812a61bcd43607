"""B10 — Structured Streaming execution (SURVEY.md §2 B10).

The reference's whole purpose is *incremental idempotent update* of a
warehouse; in Spark that is a stream: source → event-time windowed
transforms bounded by watermarks → ``foreachBatch`` running the same merge
transforms (operators/merge.py) against the sink. The batch-equivalent
logical plans are oracle-checked in queries/streaming_batch.py; this module
is the streaming runtime wiring, smoke-tested in tests/test_streaming.py.

Scale notes: state stores (dedup, windows) are bounded by the watermark —
without it, state grows with the key space forever (measured plateau:
test_state_store_plateaus_at_watermark_horizon).
When the horizon itself holds billions of keys, switch the provider to
RocksDB (``spark.sql.streaming.stateStore.providerClass`` →
``...state.RocksDBStateStoreProvider``): state moves to native memory +
local disk instead of the executor heap, with identical semantics
(asserted in test_rocksdb_state_store_provider). foreachBatch executes
merges once per micro-batch with the batch's epoch id available for
exactly-once sinks that can record it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n2kupdate_spark.sources.catalog import SCHEMAS


def events_file_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream with the events schema (parquet files dropped into
    ``source_dir`` become micro-batches). The explicit schema is mandatory
    for streaming reads — no inference pass exists. ``max_files_per_trigger``
    caps files per micro-batch (honored by availableNow too), which both
    bounds batch size in production backfills and gives deterministic
    one-file-per-batch replay for state-growth probes."""
    reader = spark.readStream.schema(SCHEMAS["events"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def stream_tumbling_agg(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-hour counts by event type with late data bounded by the
    watermark (stream_tumbling_counts + stream_watermark_late)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "total_value")
    )


def stream_session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming per-user sessions via the built-in ``session_window``:
    a session's state row lives until the watermark passes its (dynamic)
    end + gap, then the closed session is emitted and the row evicted —
    so state holds only sessions still open within the horizon, never the
    full history. Batch-equivalent semantics are oracle-checked as
    ``stream_session_agg`` (queries/streaming_batch.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup by event_id within the watermark horizon — the
    streaming form of the reference's fingerprint idempotence
    (stream_dedup_watermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_upsert_foreachbatch(
    events: DataFrame,
    merge_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """The n2kupdate analog: every micro-batch is staged and merged by
    ``merge_fn(batch_df, epoch_id)`` — e.g. a closure over
    ``sources.jdbc.upsert`` or ``operators.merge.merge_scd1`` + a table
    write. Returns the started StreamingQuery."""
    writer = (
        events.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_fn)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon_minutes: int = 30,
) -> DataFrame:
    """Stream-stream inner join: each purchase joins the same user's clicks
    from the preceding ``horizon_minutes`` (attribution window). Both sides
    carry watermarks and the join condition carries the time bound — that
    pair is what lets Spark EXPIRE join state: click state older than
    watermark + horizon is dropped instead of growing forever. Without the
    interval condition a stream-stream join must keep every row of both
    streams in state — unbounded at 100 TB. Smoke-tested end-to-end in
    tests/test_streaming.py; the batch-equivalent semantics are an interval
    join (queries/joins.py::join_interval_overlap family)."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
SESSION_STATE_SCHEMA = "start long, end long, n int, total double"


def _sessionize_user(key, pdf_iter, state):
    """Custom stateful sessionizer for ``applyInPandasWithState``: per-user
    running session (30-min inactivity gap). Emits a closed session when the
    state times out; otherwise folds the micro-batch into state. Pure
    pandas inside — Arrow-batched, no per-row Python."""
    import pandas as pd

    GAP_S = 30 * 60
    if state.hasTimedOut:
        start, end, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start, unit="s")],
                "session_end": [pd.Timestamp(end, unit="s")],
                "n_events": [n],
                "total_value": [round(total, 4)],
            }
        )
        return

    rows = pd.concat(list(pdf_iter)).sort_values("ts")
    ts = rows["ts"].astype("int64") // 1_000_000_000
    vals = rows["value"].fillna(0.0)
    if state.exists:
        start, end, n, total = state.get
    else:
        start, end, n, total = int(ts.iloc[0]), int(ts.iloc[0]), 0, 0.0
    closed = []
    for t, v in zip(ts, vals):
        if t - end > GAP_S and n > 0:
            closed.append((start, end, n, total))
            start, n, total = int(t), 0, 0.0
        end = int(t)
        n += 1
        total += float(v)
    state.update((start, end, n, total))
    state.setTimeoutDuration(GAP_S * 1000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "session_start": [pd.Timestamp(s, unit="s") for s, *_ in closed],
                "session_end": [pd.Timestamp(e, unit="s") for _, e, *_ in closed],
                "n_events": [n_ for *_, n_, _t in closed],
                "total_value": [round(t_, 4) for *_, t_ in closed],
            }
        )


def _session_processor(gap_s: int):
    """StatefulProcessor for :func:`stream_sessions_tws`; built lazily
    because the base-class import requires Spark 4's transformWithState
    stack."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Proc(StatefulProcessor):
        def init(self, handle):
            self._handle = handle
            self._state = handle.getValueState(
                "sess", "start long, end long, n int, total double"
            )

        def _emit(self, key, closed):
            import pandas as pd

            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="s") for s, *_ in closed],
                    "session_end": [pd.Timestamp(e, unit="s") for _, e, *_ in closed],
                    "n_events": [n for *_, n, _t in closed],
                    "total_value": [round(t, 4) for *_, t in closed],
                }
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            pdf = pd.concat(list(rows)).sort_values("ts")
            ts = pdf["ts"].astype("int64") // 1_000_000_000
            vals = pdf["value"].fillna(0.0)
            if self._state.exists():
                start, end, n, total = self._state.get()
            else:
                start, end, n, total = int(ts.iloc[0]), int(ts.iloc[0]), 0, 0.0
            closed = []
            for t, v in zip(ts, vals):
                if t - end > gap_s and n > 0:
                    closed.append((start, end, n, total))
                    start, n, total = int(t), 0, 0.0
                end = int(t)
                n += 1
                total += float(v)
            self._state.update((start, end, n, total))
            # Flush-on-idle: if no further input arrives for a gap's worth
            # of processing time, the timer closes the open session.
            self._handle.registerTimer(
                timer_values.get_current_processing_time_in_ms() + gap_s * 1000
            )
            if closed:
                yield self._emit(key, closed)

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            if self._state.exists():
                row = self._state.get()
                self._state.clear()
                yield self._emit(key, [tuple(row)])

        def close(self):
            pass

    return Proc()


def stream_sessions_tws(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """The :func:`stream_stateful_sessions` semantics on Spark 4's
    transformWithState API (``transformWithStateInPandas``) — the
    current-generation stateful operator: typed ValueState, first-class
    timers (vs the single timeout of applyInPandasWithState), and a
    state-schema registry. Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``), which is also the
    right provider for large state — see test_rocksdb_state_store_provider.
    Equivalence with the old-API sessionizer is pinned in
    tests/test_streaming.py::test_transform_with_state_sessionizer."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_session_processor(gap_minutes * 60),
            outputStructType=SESSION_OUT_SCHEMA,
            outputMode="Append",
            timeMode="ProcessingTime",
        )
    )


def stream_stateful_sessions(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the task's
    mandated escape hatch when built-in ``session_window`` can't express the
    semantics — e.g. emitting per-session custom payloads on timeout).
    State is per user_id, bounded by processing-time timeout; the watermark
    bounds late arrivals. Batch-equivalent: ``stream_session_agg``
    (queries/streaming_batch.py, lag+cumsum) — oracle-checked there."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_user,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="ProcessingTimeTimeout",
        )
    )


BLOOM_DEDUP_OUT_SCHEMA = (
    "doc_id long, fp string, bloom_group int, "
    "n_inserted long, est_fp double, saturated boolean"
)
BLOOM_DEDUP_STATE_SCHEMA = "bits binary, n_inserted long"


def _bloom_hashes(rows):
    """(h1, h2) uint64 arrays for a sorted batch. The streaming wrappers
    compute both JVM-side (``xxhash64(fp, seed)`` columns — codegen, before
    the shuffle) so the Python fold does NO per-row hashing; the fallback
    derives them from the md5 hex fingerprint for unit tests that drive the
    fold directly. h2 is forced odd so the Kirsch–Mitzenmacher stride
    ``h1 + i·h2`` never degenerates (arXiv/ESA 2006: two hashes simulate k
    independent ones with no FP-rate loss)."""
    import numpy as np

    if "h1" in rows.columns:
        h1 = rows["h1"].to_numpy().astype(np.uint64)
        h2 = rows["h2"].to_numpy().astype(np.uint64)
    else:
        import hashlib

        digests = [hashlib.md5(fp.encode("utf-8")).digest() for fp in rows["fp"]]
        h1 = np.array(
            [int.from_bytes(d[:8], "big") for d in digests], dtype=np.uint64
        )
        h2 = np.array(
            [int.from_bytes(d[8:], "big") for d in digests], dtype=np.uint64
        )
    return h1, h2 | np.uint64(1)


def _bloom_est_fp(n: int, m_bits: int, k: int) -> float:
    """Analytic false-positive probability after ``n`` inserts:
    (1 − e^(−k·n/m))^k — the rate at which NEW docs are wrongly dropped."""
    import math

    return (1.0 - math.exp(-k * n / m_bits)) ** k


def _bloom_dedup_fold(m_bits: int, k: int, fp_budget: float = 1e-3):
    """Per-group fold for :func:`stream_dedup_bloom`: probe-then-insert each
    fingerprint against the group's Bloom bitset held in state. Exposed as a
    factory so the FP-bound unit test can drive it against a fake state at
    an undersized ``m_bits`` (tests/test_streaming.py).

    Saturation contract (r11, r10 verdict item 2): every emitted row carries
    the group's post-batch ``n_inserted`` and analytic ``est_fp``, and
    ``saturated`` flips true once est_fp exceeds ``fp_budget`` — a fixed-size
    filter sized too small can then be SEEN drifting toward silent new-doc
    loss (and alerted on) instead of discovered after the fact. For an
    escalation that keeps the budget instead of just alarming, use
    :func:`stream_dedup_bloom_scalable`."""

    def fold(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            raw, n_inserted = state.get
            bits = np.frombuffer(raw, dtype=np.uint8).copy()
        else:
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            n_inserted = 0
        # Deterministic within-batch order: keep-lowest doc_id per batch
        # (cross-batch it is keep-first-arrival, the streaming contract).
        rows = pd.concat(list(pdf_iter)).sort_values("doc_id")
        h1, h2 = _bloom_hashes(rows)
        # (n, k) probe positions, vectorized (r12): the whole batch
        # probes the PRE-STATE filter in one fancy-indexed matrix op;
        # since bits only ever get SET, a row seen against pre-state is
        # seen in any sequential order — dropped outright. Of the rest,
        # a candidate whose positions are disjoint from every OTHER
        # candidate's cannot be affected by (or affect) in-batch inserts,
        # so its sequential outcome is provably "insert" — accepted and
        # written with one bitwise_or.at. Only candidates whose bits
        # intersect another candidate's (in-batch exact duplicates, or
        # position collisions) replay through the sequential loop, whose
        # outcome then exactly matches the r11 row-at-a-time fold.
        accept = np.zeros(len(rows), dtype=bool)
        if len(rows):
            strides = np.arange(k, dtype=np.uint64)
            pos_all = (
                (h1[:, None] + strides[None, :] * h2[:, None])
                % np.uint64(m_bits)
            ).astype(np.int64)
            masks = np.uint8(1) << (pos_all & 7).astype(np.uint8)
            pre_seen = ((bits[pos_all >> 3] & masks) != 0).all(axis=1)
            cand = np.flatnonzero(~pre_seen)
            flat = pos_all[cand].ravel()
            uniq, n_occ = np.unique(flat, return_counts=True)
            shared = uniq[n_occ > 1]
            conflict = (
                np.isin(pos_all[cand], shared).any(axis=1)
                if len(shared)
                else np.zeros(len(cand), dtype=bool)
            )
            free = cand[~conflict]
            accept[free] = True
            if len(free):
                fp_pos = pos_all[free].ravel()
                np.bitwise_or.at(
                    bits, fp_pos >> 3, np.uint8(1) << (fp_pos & 7).astype(np.uint8)
                )
            for i in cand[conflict]:
                pos = pos_all[i]
                if all((bits[p >> 3] >> (p & 7)) & 1 for p in pos):
                    continue  # in-batch duplicate (or bounded-rate FP)
                for p in pos:
                    bits[p >> 3] |= np.uint8(1 << (p & 7))
                accept[i] = True
            n_inserted += int(accept.sum())
        state.update((bits.tobytes(), n_inserted))
        if accept.any():
            kept = rows[accept]
            est_fp = _bloom_est_fp(n_inserted, m_bits, k)
            yield pd.DataFrame(
                {
                    "doc_id": kept["doc_id"].astype("int64").to_numpy(),
                    "fp": kept["fp"].to_numpy(),
                    "bloom_group": int(key[0]),
                    "n_inserted": int(n_inserted),
                    "est_fp": est_fp,
                    "saturated": est_fp > fp_budget,
                }
            )

    return fold


def _bloom_keyed(docs: DataFrame, n_groups: int) -> DataFrame:
    """Shared map-side prep for the Bloom dedup ops: fingerprint, group
    stamp, and the Kirsch–Mitzenmacher hash pair — ALL JVM codegen (r10
    verdict nit (a): the k probe positions derive from two xxhash64
    columns computed before the shuffle, so the Python fold never hashes)."""
    return (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .withColumn(
            "bloom_group", F.pmod(F.xxhash64("fp"), F.lit(n_groups)).cast("int")
        )
        .withColumn("h1", F.xxhash64("fp", F.lit(1)))
        .withColumn("h2", F.xxhash64("fp", F.lit(2)))
    )


def stream_dedup_bloom(
    docs: DataFrame,
    n_groups: int = 64,
    m_bits: int = 1 << 17,
    k: int = 4,
    fp_budget: float = 1e-3,
) -> DataFrame:
    """Fixed-memory streaming dedup: emit only first-seen document
    fingerprints, with the seen-set held as per-group Bloom bitsets in
    ``applyInPandasWithState`` state instead of exact keys.

    Why: ``dropDuplicates`` state stores EVERY distinct key — unbounded at
    corpus scale (billions of fingerprints), and
    ``dropDuplicatesWithinWatermark`` only bounds it by forgetting, which
    re-admits old duplicates. Here total state is EXACTLY
    ``n_groups × m_bits / 8`` bytes forever (1 MiB at the defaults) at any
    key cardinality.

    The Bloom trade, quantified: a true duplicate always probes
    all-bits-set (inserted by its first occurrence, same hash family), so
    NO duplicate is ever emitted — the dedup guarantee is exact. The cost
    is wrongly-dropped NEW docs at the false-positive rate: with n keys
    inserted into a group's filter, p ≈ (1 − e^(−k·n/m))^k; keys spread
    over groups by xxhash64, so n ≈ N_total / n_groups — at the defaults
    p stays < 1e-4 up to ~220 k distinct docs (~410 k before crossing the
    1e-3 ``fp_budget``); the sizing recipe below scales it. Both
    directions pinned in tests/test_streaming.py.

    Scale shape: fingerprint + group stamp are JVM map-side; the one
    shuffle is the groupBy on ``n_groups`` buckets (raise for parallelism
    — state cost scales with it, 16 KiB per group); the probe positions
    derive from two JVM-codegen xxhash64 columns (Kirsch–Mitzenmacher),
    and the fold itself is numpy-vectorized (r12): one matrix bit-test
    against pre-state, one ``bitwise_or.at`` for conflict-free inserts,
    row-at-a-time Python only for candidates whose positions intersect
    another candidate's (4.7–27× measured, BASELINE §5; bit-exact vs the
    sequential reference). Determinism: within
    a micro-batch the keep-lowest doc_id survives; across batches,
    first-arrival. NoTimeout: the seen-set is corpus-lifetime by design —
    that is the semantics exact dedup cannot afford.

    Saturation (r11): the FP rate grows without bound as inserts pass the
    sizing point, and a statically-undersized filter would silently drop
    good NEW docs. Every emitted row therefore carries the group's
    ``(n_inserted, est_fp, saturated)`` — monitor ``saturated`` (est_fp >
    ``fp_budget``) and resize, or run
    :func:`stream_dedup_bloom_scalable`, which escalates automatically.
    Sizing recipe: a filter of m bits with k hashes absorbs
    n = −(m/k)·ln(1 − p^(1/k)) inserts before its FP rate crosses p
    (same formula as :func:`_scalable_bloom_capacity`) — at the default
    k=4 that is ~38 bits/doc for p=1e-4, i.e. set
    ``m_bits ≥ 38 · N / n_groups`` for N expected distinct docs
    (defaults hold p<1e-4 to ~220 k docs). The textbook
    ``1.44 · log2(1/p)`` bits/doc (~19 for p=1e-4) is reachable only at
    the OPTIMAL ``k ≈ 0.7 · m/n`` (≈13 for p=1e-4) — raise k with m if
    you need that density. Beware ``m_bits = 1.44 · k · n`` alone: that
    sizes for p ≈ 2^−k (~6 % at k=4), not any chosen target."""
    return _bloom_keyed(docs, n_groups).groupBy("bloom_group").applyInPandasWithState(
        _bloom_dedup_fold(m_bits, k, fp_budget),
        outputStructType=BLOOM_DEDUP_OUT_SCHEMA,
        stateStructType=BLOOM_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


SCALABLE_BLOOM_OUT_SCHEMA = (
    "doc_id long, fp string, bloom_group int, "
    "n_filters int, total_inserted long, est_fp double"
)
SCALABLE_BLOOM_STATE_SCHEMA = "bits binary, counts binary"


def _scalable_bloom_capacity(m_bits: int, k: int, budget: float) -> int:
    """Inserts a filter of ``m_bits`` can absorb before its analytic FP
    rate crosses ``budget``: n = −(m/k)·ln(1 − budget^(1/k))."""
    import math

    return max(1, int(-(m_bits / k) * math.log(1.0 - budget ** (1.0 / k))))


def _scalable_bloom_fold(m0_bits: int, k: int, fp_budget: float):
    """Per-group fold for :func:`stream_dedup_bloom_scalable` — a Scalable
    Bloom Filter (Almeida et al., IPL 2007): a CHAIN of plain Bloom filters
    where filter i has geometrically growing size ``m0·2^i`` and
    geometrically tightening error budget ``fp_budget·2^−(i+1)``, so the
    chain's total FP rate stays ≤ Σ budgets ≤ ``fp_budget`` FOREVER while
    memory grows only when capacity is actually consumed (O(log N)
    filters for N inserts). Probe = maybe-seen if ANY filter matches
    (duplicates are still NEVER emitted — each fp was inserted into
    exactly one filter, which keeps matching it); inserts go to the
    newest filter only, and crossing its analytic capacity chains the
    next one.

    State layout: ``bits`` is the filters' bitsets concatenated (sizes
    derivable from m0 and the count vector's length), ``counts`` an int64
    array of per-filter insert counts."""

    def fold(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            raw, counts_raw = state.get
            counts = np.frombuffer(counts_raw, dtype=np.int64).copy()
            bits = np.frombuffer(raw, dtype=np.uint8).copy()
        else:
            counts = np.zeros(1, dtype=np.int64)
            bits = np.zeros(m0_bits // 8, dtype=np.uint8)
        sizes = [m0_bits << i for i in range(len(counts))]
        offsets = np.concatenate(([0], np.cumsum([m // 8 for m in sizes])))
        filters = [
            bits[offsets[i] : offsets[i + 1]] for i in range(len(sizes))
        ]
        budgets = [fp_budget / (1 << (i + 1)) for i in range(len(sizes))]
        cap_last = _scalable_bloom_capacity(sizes[-1], k, budgets[-1])

        rows = pd.concat(list(pdf_iter)).sort_values("doc_id")
        h1, h2 = _bloom_hashes(rows)
        strides = np.arange(k, dtype=np.uint64)
        # batch-probe the WHOLE chain vectorized (r12): one fancy-indexed
        # matrix test per filter; a row seen against any pre-state filter
        # is seen in any sequential order (bits only get set) — dropped.
        probes_all = h1[:, None] + strides[None, :] * h2[:, None]  # (n, k)
        pre_seen = np.zeros(len(rows), dtype=bool)
        for f, m in zip(filters, sizes):
            pos = (probes_all % np.uint64(m)).astype(np.int64)
            masks = np.uint8(1) << (pos & 7).astype(np.uint8)
            pre_seen |= ((f[pos >> 3] & masks) != 0).all(axis=1)
        cand = np.flatnonzero(~pre_seen)
        accept = np.zeros(len(rows), dtype=bool)
        # candidates process in CHUNKS bounded by the newest filter's
        # remaining capacity, so no chunk can cross a chain boundary and
        # every chunk gets the fixed-filter fast path: conflict-free
        # candidates (no newest-filter position shared with any other
        # chunk member) provably insert — accepted with one
        # bitwise_or.at; intersecting ones replay sequentially. Between
        # chunks the survivors re-probe the (only-dirtied) newest filter
        # vectorized, and a full filter chains the next (2× size, half
        # budget) exactly where the r11 row-at-a-time loop would.
        while len(cand):
            room = cap_last - int(counts[-1])
            if room <= 0:
                m_next = sizes[-1] << 1
                sizes.append(m_next)
                filters.append(np.zeros(m_next // 8, dtype=np.uint8))
                budgets.append(fp_budget / (1 << (len(sizes) + 0)))
                counts = np.append(counts, np.int64(0))
                cap_last = _scalable_bloom_capacity(m_next, k, budgets[-1])
                continue
            chunk, rest = cand[:room], cand[room:]
            m_new = sizes[-1]
            f_new = filters[-1]
            pos_chunk = (probes_all[chunk] % np.uint64(m_new)).astype(
                np.int64
            )
            flat = pos_chunk.ravel()
            uniq, n_occ = np.unique(flat, return_counts=True)
            shared = uniq[n_occ > 1]
            conflict = (
                np.isin(pos_chunk, shared).any(axis=1)
                if len(shared)
                else np.zeros(len(chunk), dtype=bool)
            )
            free = chunk[~conflict]
            accept[free] = True
            if len(free):
                fp_pos = pos_chunk[~conflict].ravel()
                np.bitwise_or.at(
                    f_new,
                    fp_pos >> 3,
                    np.uint8(1) << (fp_pos & 7).astype(np.uint8),
                )
            for i, pos in zip(chunk[conflict], pos_chunk[conflict]):
                if all((f_new[p >> 3] >> (p & 7)) & 1 for p in pos):
                    continue
                for p in pos:
                    f_new[p >> 3] |= np.uint8(1 << (p & 7))
                accept[i] = True
            counts[-1] += int(accept[chunk].sum())
            if len(rest):
                pos_rest = (probes_all[rest] % np.uint64(m_new)).astype(
                    np.int64
                )
                masks = np.uint8(1) << (pos_rest & 7).astype(np.uint8)
                now_seen = ((f_new[pos_rest >> 3] & masks) != 0).all(axis=1)
                rest = rest[~now_seen]
            cand = rest
        state.update(
            (np.concatenate(filters).tobytes(), counts.tobytes())
        )
        if accept.any():
            kept = rows[accept]
            # chain-wide FP estimate: 1 − Π(1 − p_i)
            miss = 1.0
            for n_i, m_i in zip(counts, sizes):
                miss *= 1.0 - _bloom_est_fp(int(n_i), m_i, k)
            yield pd.DataFrame(
                {
                    "doc_id": kept["doc_id"].astype("int64").to_numpy(),
                    "fp": kept["fp"].to_numpy(),
                    "bloom_group": int(key[0]),
                    "n_filters": len(sizes),
                    "total_inserted": int(counts.sum()),
                    "est_fp": 1.0 - miss,
                }
            )

    return fold


def stream_dedup_bloom_scalable(
    docs: DataFrame,
    n_groups: int = 64,
    m0_bits: int = 1 << 17,
    k: int = 4,
    fp_budget: float = 1e-3,
) -> DataFrame:
    """Streaming dedup with a Scalable Bloom Filter per group — the
    escalation path for :func:`stream_dedup_bloom`'s saturation problem:
    instead of a fixed filter whose new-doc loss rate grows without bound
    past its sizing point, each group chains geometrically growing
    filters with geometrically tightening budgets, keeping the total
    wrongly-dropped-NEW rate ≤ ``fp_budget`` at ANY cardinality. Memory
    per group is no longer constant but grows in O(log N) chained steps
    and only when capacity is actually consumed; duplicates are still
    never emitted. Same JVM-side hash prep and per-group shuffle shape as
    the fixed variant; emitted rows carry ``(n_filters, total_inserted,
    est_fp)`` so escalation is observable downstream."""
    return _bloom_keyed(docs, n_groups).groupBy("bloom_group").applyInPandasWithState(
        _scalable_bloom_fold(m0_bits, k, fp_budget),
        outputStructType=SCALABLE_BLOOM_OUT_SCHEMA,
        stateStructType=SCALABLE_BLOOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def documents_file_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream with the documents schema — parquet files
    dropped into ``source_dir`` become micro-batches of corpus ingest
    (the recurring-crawl shape). Same contract as events_file_stream."""
    reader = spark.readStream.schema(SCHEMAS["documents"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def stream_corpus_publish(
    docs: DataFrame,
    eval_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    decontam_n: int = 3,
    decontam_budget: int = 5,
    gopher_kwargs: dict | None = None,
    decontam_method: str = "exact",
    trigger_available_now: bool = True,
    vectors: DataFrame | None = None,
    semantic_index_path: str | None = None,
    semantic_tau: float = 0.95,
    semantic_n_cells: int = 16,
):
    """Streaming corpus ingest with EXACTLY-ONCE manifest publication:
    every micro-batch runs the batch pipeline's own gates
    (operators/corpus.py::gate_documents — Gopher → decontamination
    [``decontam_method`` picks the exact, fixed-memory Bloom, or r11
    two-stage bloom_exact gate, same as prepare_corpus] → within-batch exact dedup; per-micro-batch
    ≡ batch is pinned by test_corpus_gates_are_streaming_ready), lands in an immutable
    ``batch-epoch-<id>`` subdir, and becomes visible atomically via
    publish_append_manifest — readers of the published table never see a
    torn batch, and a crashed commit leaves the prior version intact.

    Exactly-once: idempotence is keyed to the EPOCH ID, not the manifest
    version (r8 advice, high — version-keyed skip collided with
    compact_manifest_table/rollback_manifest, which allocate
    max_version+1 on the same table, silently dropping the next epoch's
    batch). Each commit records its epoch in the manifest doc plus a
    carried-forward ``max_epoch`` watermark; a RETRIED epoch checks
    ``last_committed_epoch`` — already-committed epochs skip, and the
    manifest version is allocated as max+1 at commit time so any
    compaction/rollback interleaving is harmless. If the crash hit
    between the subdir write and the manifest flip, the overwrite-mode
    rewrite of the same epoch-named subdir is idempotent and the flip
    completes. That is the classic epoch-id sink protocol, here with the
    manifest rename as the commit point.

    With ``vectors`` + ``semantic_index_path`` (r9), each micro-batch
    additionally runs INCREMENTAL semantic dedup: the first batch seeds
    the persisted index (operators/similarity.py::persist_semantic_index),
    later batches resume against it (fixed codebook, batch-side pairs
    only) and roll it forward in place; semantically-dropped docs leave
    the batch before it lands. Docs without vectors pass. The index roll
    is CONTENT-idempotent, so the crash window between index roll and
    manifest flip retries cleanly. Returns the started query."""
    from n2kupdate_spark.operators.corpus import gate_documents
    from n2kupdate_spark.sources.maintenance import (
        last_committed_epoch,
        publish_append_manifest,
    )

    spark = docs.sparkSession
    ev = eval_docs.select("doc_id", "text").localCheckpoint(eager=True)
    vecs = (
        vectors.select("vec_id", "v").localCheckpoint(eager=True)
        if vectors is not None and semantic_index_path is not None
        else None
    )

    def _semantic_filter(gated: DataFrame) -> DataFrame:
        """SEMANTIC stage per micro-batch (vectors + index path given):
        batch docs' vectors resume against the persisted index, the index
        rolls forward in place, and dropped docs leave the batch — docs
        without vectors pass. The FIRST batch seeds the index
        (persist_semantic_index) and applies its own internal drop set
        (batch ids − kept). Crash safety: the index roll commits BEFORE
        the manifest flip; a retry after a crash in between re-rolls the
        index to a CONTENT-identical version (dropDuplicates in the
        roll-forward) and then completes the manifest — so the published
        table stays exactly-once and the index never duplicates ids."""
        from n2kupdate_spark.operators.dedup import index_versions
        from n2kupdate_spark.operators.similarity import (
            _SEM_INDEX_TABLES,
            persist_semantic_index,
            semantic_dedup_resume,
        )

        bvecs = vecs.join(
            gated.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        if not index_versions(spark, semantic_index_path):
            persist_semantic_index(
                bvecs, semantic_index_path,
                n_cells=semantic_n_cells, tau=semantic_tau,
            )
            from n2kupdate_spark.operators.dedup import _load_index

            _, _, kept = _load_index(
                spark, semantic_index_path, tables=_SEM_INDEX_TABLES
            )
            drops = bvecs.join(
                kept.select("vec_id"), "vec_id", "left_anti"
            ).select(F.col("vec_id").alias("doc_id"))
        else:
            drops = semantic_dedup_resume(
                bvecs, semantic_index_path, tau=semantic_tau,
                update_index_path=semantic_index_path,
            ).select(F.col("drop_id").alias("doc_id"))
        return gated.join(drops, "doc_id", "left_anti")

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        if int(epoch_id) <= last_committed_epoch(spark, out_dir):
            return  # retried epoch, already committed — exactly-once skip
        gated = gate_documents(
            batch_df,
            ev,
            decontam_n=decontam_n,
            decontam_budget=decontam_budget,
            gopher_kwargs=gopher_kwargs,
            decontam_method=decontam_method,
        )
        if vecs is not None:
            gated = _semantic_filter(gated.localCheckpoint(eager=True))
        subdir = f"batch-epoch-{int(epoch_id):010d}"
        gated.write.mode("overwrite").parquet(f"{out_dir}/{subdir}")
        publish_append_manifest(spark, out_dir, subdir, epoch=int(epoch_id))

    writer = (
        docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_commit)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


CUSUM_OUT_SCHEMA = (
    "user_id long, ts_s long, value double, direction string, "
    "s_value double, n_seen long"
)
CUSUM_STATE_SCHEMA = (
    "n long, s1 double, s2 double, mu double, sigma double, "
    "s_pos double, s_neg double"
)


def _cusum_stream_fold(calib: int, slack_k: float, threshold_h: float):
    """Per-user fold for :func:`stream_changepoint_cusum`: the tabular
    CUSUM walk (operators/timeseries.py::_cusum_walk semantics) held as
    7 scalars of per-user state. Phase 1 (n < calib) accumulates
    (n, Σx, Σx²); the row that completes calibration fixes μ0 = Σx/calib
    and population σ (σ ≤ 0 → degenerate: state keeps σ = 0 and the user
    never alarms, mirroring the batch operator's empty result); phase 2
    advances S⁺/S⁻ per row, emits an alarm row when either crosses h·σ
    and resets both sums — identical arithmetic to the batch walk, so a
    single-batch stream equals the batch operator row-for-row and any
    batch split of the same arrival order produces the same alarms
    (pinned in tests/test_streaming.py). Within a micro-batch rows walk
    in (ts_s, event_id) order; across batches arrival order IS the
    stream order (the streaming contract — there is no future to sort)."""

    def fold(key, pdf_iter, state):
        import math

        import pandas as pd

        if state.exists:
            n, s1, s2, mu, sigma, s_pos, s_neg = state.get
        else:
            n, s1, s2, mu, sigma, s_pos, s_neg = 0, 0.0, 0.0, None, None, 0.0, 0.0
        rows = pd.concat(list(pdf_iter)).sort_values(["ts_s", "event_id"])
        out_ts, out_val, out_dir, out_s, out_n = [], [], [], [], []
        for ts_s, value in zip(rows["ts_s"], rows["value"]):
            n += 1
            if mu is None:
                s1 += float(value)
                s2 += float(value) * float(value)
                if n == calib:
                    mu = s1 / calib
                    var = s2 / calib - mu * mu
                    sigma = math.sqrt(var) if var > 0 else 0.0
                continue
            if sigma <= 0.0:
                continue  # degenerate baseline: never alarms
            k = slack_k * sigma
            h = threshold_h * sigma
            s_pos = max(0.0, s_pos + (float(value) - mu - k))
            s_neg = max(0.0, s_neg + (mu - float(value) - k))
            if s_pos > h or s_neg > h:
                up = s_pos > h
                out_ts.append(int(ts_s))
                out_val.append(float(value))
                out_dir.append("up" if up else "down")
                out_s.append(round(s_pos if up else s_neg, 4))
                out_n.append(n)
                s_pos = s_neg = 0.0
        state.update((n, s1, s2, mu, sigma, s_pos, s_neg))
        if out_ts:
            yield pd.DataFrame(
                {
                    "user_id": int(key[0]),
                    "ts_s": out_ts,
                    "value": out_val,
                    "direction": out_dir,
                    "s_value": out_s,
                    "n_seen": out_n,
                }
            )

    return fold


def stream_changepoint_cusum(
    events: DataFrame,
    calib: int = 20,
    slack_k: float = 0.5,
    threshold_h: float = 5.0,
) -> DataFrame:
    """Streaming mean-shift changepoint detection — the stateful form of
    :func:`operators.timeseries.cusum_changepoints` (tabular CUSUM, Page
    1954) for a live metrics/ingest stream: per-user state is SEVEN
    scalars forever (calibration moments + μ0/σ + the two cumulative
    sums), so unlike windowed anomaly detection there is no per-event
    state growth at any stream length; alarms emit as they happen,
    output ∝ level shifts, not traffic. Degenerate baselines (σ = 0)
    never alarm; arrival order is the stream order across micro-batches
    (within a batch rows sort by (ts_s, event_id)).

    Scale: the one shuffle is the per-user state partitioning every
    applyInPandasWithState op pays; the fold is O(batch rows) with O(1)
    state per user — checkpoint size ∝ distinct users, not events."""
    prepped = events.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _cusum_stream_fold(calib, slack_k, threshold_h),
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


EWMA_OUT_SCHEMA = "user_id long, ts_s long, event_id long, value double, ewma double"
EWMA_STATE_SCHEMA = "n long, y double"


def _ewma_stream_fold(alpha: float):
    """Per-user fold for :func:`stream_ewma_smooth`: the EWMA recursion
    (y_t = α·x_t + (1−α)·y_{t−1}, y_0 = x_0 — identical arithmetic to
    operators/timeseries.py::ewma_smooth) held as TWO scalars of
    per-user state (count + last smoothed value), so a single-batch
    stream equals the batch operator row-for-row and ANY batch split of
    the same arrival order produces identical output and final state
    (pinned in tests/test_streaming.py — the recursion's entire memory
    IS y_{t−1}). Every input row emits with its smoothed value (a
    smoother is a transform, not a detector: output rows = input rows).
    Within a micro-batch rows walk in (ts_s, event_id) order; across
    batches arrival order is the stream order. 4dp rounding happens at
    EMIT only — state carries the unrounded y, so smoothing error never
    accumulates from the rounding."""

    def fold(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            n, y = state.get
        else:
            n, y = 0, 0.0
        rows = pd.concat(list(pdf_iter)).sort_values(["ts_s", "event_id"])
        out = []
        for ts_s, eid, value in zip(rows["ts_s"], rows["event_id"], rows["value"]):
            v = float(value)
            y = v if n == 0 else alpha * v + (1.0 - alpha) * y
            n += 1
            out.append((int(ts_s), int(eid), v, float(np.round(y * 10000) / 10000 + 0.0)))
        state.update((n, y))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": int(key[0]),
                    "ts_s": [o[0] for o in out],
                    "event_id": [o[1] for o in out],
                    "value": [o[2] for o in out],
                    "ewma": [o[3] for o in out],
                }
            )

    return fold


def stream_ewma_smooth(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming per-user EWMA — the stateful twin of the batch
    :func:`operators.timeseries.ewma_smooth` (same recursion, same 4dp
    emit) for a live metrics stream: per-user state is TWO scalars
    forever (no growth at any stream length), output rows = input rows
    with the smoothed value attached as they arrive.

    Scale: the one shuffle is the per-user state partitioning every
    applyInPandasWithState op pays; the fold is O(batch rows) with O(1)
    state per user — checkpoint size ∝ distinct users, not events."""
    prepped = events.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _ewma_stream_fold(alpha),
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


MG_OUT_SCHEMA = (
    "event_type string, n long, item long, est_lo long, err_bound long, "
    "rank int"
)
MG_STATE_SCHEMA = "items array<long>, counts array<long>, ledger long, n long"


def _mg_stream_fold(k: int, top: int):
    """Per-type fold for :func:`stream_heavy_hitters`: the Misra–Gries
    summary (≤ k item/count pairs + the decrement ledger + the row
    total) held as per-group state. Each micro-batch merges its EXACT
    value counts into the summary at full precision, runs ONE
    k-compress (operators/misra_gries.py::_mg_compress — the same
    compress as the batch op, so the two cannot diverge-by-copy), adds
    the threshold to the ledger, and emits the current top-``top``
    with certified bounds. The MG invariants hold under ANY batch
    split (pinned in tests/test_streaming.py): est_lo ≤ true ≤
    est_lo + ledger for present items, true ≤ ledger for absent ones,
    and ledger ≤ n/(k+1) — every compress removes ≥ (k+1)·thr mass, so
    the ledger can never outrun the classic single-pass bound no
    matter how the stream is batched. Ties in the emitted ranking
    break by string item order (the batch op's lexsort convention)."""

    def fold(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        from n2kupdate_spark.operators.misra_gries import _mg_compress

        if state.exists:
            s_items, s_counts, ledger, n = state.get
            d = {int(i): int(c) for i, c in zip(s_items, s_counts)}
        else:
            d, ledger, n = {}, 0, 0
        rows = pd.concat(list(pdf_iter))
        vals = rows["user_id"].to_numpy()
        n += len(vals)
        bi, bc = np.unique(vals, return_counts=True)
        for it, c in zip(bi, bc):
            d[int(it)] = d.get(int(it), 0) + int(c)
        items = np.array(sorted(d), dtype=np.int64)
        counts = np.array([d[int(i)] for i in items], dtype=np.int64)
        items, counts, thr = _mg_compress(items, counts, k)
        ledger += int(thr)
        state.update(
            (
                [int(x) for x in items],
                [int(x) for x in counts],
                int(ledger),
                int(n),
            )
        )
        order = np.lexsort((items.astype(str), -counts))[:top]
        if len(order):
            yield pd.DataFrame(
                {
                    "event_type": str(key[0]),
                    "n": int(n),
                    "item": [int(items[i]) for i in order],
                    "est_lo": [int(counts[i]) for i in order],
                    "err_bound": int(ledger),
                    "rank": list(range(1, len(order) + 1)),
                }
            )

    return fold


def stream_heavy_hitters(
    events: DataFrame, k: int = 256, top: int = 5
) -> DataFrame:
    """Streaming Misra–Gries heavy hitters per event type — the
    stateful twin of the batch ``agg_mg_heavy_hitters`` (same compress,
    same certificate semantics) for a live ingest stream: per type the
    state is ≤ k item/count pairs + two scalars FOREVER (no growth at
    any stream length — the whole point over an exact groupBy count,
    whose state is #distinct-users and unbounded), and every
    micro-batch emits the current top-``top`` user_ids with hard
    two-sided bounds: est_lo ≤ true-count-so-far ≤ est_lo + err_bound,
    err_bound ≤ n/(k+1) certified (never a probabilistic claim — the
    CMS contrast). Output ∝ #batches × top, not traffic.

    Scale: the one shuffle is the per-type state partitioning every
    applyInPandasWithState op pays; the fold is O(batch distinct
    values) with O(k) state per type — checkpoint size ∝ #types × k,
    independent of stream length."""
    prepped = events.select("event_type", "user_id").filter(
        F.col("user_id").isNotNull()
    )
    return prepped.groupBy("event_type").applyInPandasWithState(
        _mg_stream_fold(k, top),
        outputStructType=MG_OUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
