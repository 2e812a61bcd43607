"""Property tests for the merge family — the reference's own test strategy
(SURVEY.md §5.1): idempotence (storing the same batch twice is a no-op),
branch coverage (insert/update/close), and junk-input validation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from n2kupdate_spark.operators import (
    full_outer_diff,
    merge_insert_ignore,
    merge_scd1,
    merge_scd2_close,
    merge_set_replace,
)
from n2kupdate_spark.queries import fixtures as FX
from n2kupdate_spark.sources import load
from n2kupdate_spark.sources.catalog import SchemaValidationError, validate_schema


def _canon(df):
    return sorted(map(tuple, df.toPandas().itertuples(index=False, name=None)))


@pytest.mark.parametrize(
    "merge_fn,kwargs",
    [
        (merge_scd1, {"keys": ["c_custkey"]}),
        (merge_insert_ignore, {"keys": ["c_custkey"]}),
    ],
)
def test_dim_merges_idempotent(spark, sf_dir, merge_fn, kwargs):
    target = FX.dim_target(spark, sf_dir)
    incoming = FX.dim_incoming(spark, sf_dir)
    once = merge_fn(target, incoming, **kwargs)
    twice = merge_fn(once, incoming, **kwargs)
    assert _canon(once) == _canon(twice)


def test_set_replace_idempotent(spark, sf_dir):
    t = FX.membership_target(spark, sf_dir)
    i = FX.membership_incoming(spark, sf_dir)
    once = merge_set_replace(t, i, group_cols=["grp"])
    twice = merge_set_replace(once, i, group_cols=["grp"])
    assert _canon(once) == _canon(twice)


def test_scd2_close_idempotent_and_branches(spark, sf_dir):
    target = FX.from_sql(spark, sf_dir, FX.MEMBERSHIP_SCD2_TARGET_SQL)
    incoming = FX.membership_incoming(spark, sf_dir)
    once = merge_scd2_close(target, incoming, ["grp", "member"], FX.BATCH_TS)
    # branches all exercised
    pdf = once.toPandas()
    closed = pdf[pdf.valid_to.notna()]
    opened = pdf[(pdf.valid_from == FX.BATCH_TS) & pdf.valid_to.isna()]
    kept = pdf[(pdf.valid_from == "2025-01-01 00:00:00") & pdf.valid_to.isna()]
    assert len(closed) and len(opened) and len(kept)
    # replay: closing again with the same batch changes nothing
    twice = merge_scd2_close(once, incoming, ["grp", "member"], FX.BATCH_TS)
    assert _canon(once) == _canon(twice)


def test_full_outer_diff_covers_all_branches(spark, sf_dir):
    diff = full_outer_diff(
        FX.dim_target(spark, sf_dir),
        FX.dim_incoming(spark, sf_dir),
        keys=["c_custkey"],
        compare_cols=["c_acctbal"],
    )
    kinds = {r["change"] for r in diff.select("change").distinct().collect()}
    assert {"insert", "update", "delete"} <= kinds


def test_validate_schema_rejects_junk(spark, sf_dir):
    good = load(spark, sf_dir, "customer")
    validate_schema(good, "customer")  # passes

    with pytest.raises(SchemaValidationError, match="missing"):
        validate_schema(good.drop("c_name"), "customer")
    with pytest.raises(SchemaValidationError, match="unexpected"):
        validate_schema(good.withColumn("junk", F.lit(1)), "customer")
    with pytest.raises(SchemaValidationError, match="type mismatches"):
        validate_schema(
            good.withColumn("c_acctbal", F.col("c_acctbal").cast("string")), "customer"
        )


def test_asof_null_payload_supersedes(spark):
    """A newer right row with a NULL payload field must supersede an older
    non-null one, and multiple payload columns must come from the SAME right
    row (latest-row atomicity) — the struct-carry contract in
    operators.relational.asof_join."""
    from n2kupdate_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 100)], "k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 10, 5, "old_a", "old_b"), (1, 20, 6, None, "new_b")],
        "k int, ts int, seq int, a string, b string",
    )
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        payload_cols=["a", "b"], right_tiebreak="seq",
    ).collect()
    assert len(out) == 1
    # latest right row (ts=20) wins atomically: a=NULL, b='new_b' — never
    # the mix (a='old_a', b='new_b') that per-column carry produced.
    assert out[0]["a"] is None and out[0]["b"] == "new_b"


def test_asof_tie_boundaries(spark):
    """Boundary pins for the two tie cases the fixtures barely/never cover
    (the session-oracle lesson, r6: divergent formulations hide at exact
    boundaries): (a) a right row at EXACTLY left_ts is visible — the as-of
    match is inclusive, mirroring the oracle's c.ts <= p.ts; (b) two right
    rows tied on ts resolve to the GREATEST right_tiebreak, mirroring
    ORDER BY ts DESC, tiebreak DESC."""
    from n2kupdate_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 50), (2, 50)], "k int, ts int")
    right = spark.createDataFrame(
        [
            (1, 50, 7, "exact-tie"),     # right_ts == left_ts -> visible
            (1, 40, 8, "earlier"),
            (2, 30, 1, "low-seq"),       # two right rows tied on ts=30
            (2, 30, 9, "high-seq"),      # -> greatest seq wins
        ],
        "k int, ts int, seq int, a string",
    )
    out = {
        r["k"]: r["a"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            payload_cols=["a"], right_tiebreak="seq",
        ).collect()
    }
    assert out == {1: "exact-tie", 2: "high-seq"}


def test_asof_unmatched_left_keeps_nulls(spark):
    from n2kupdate_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 5), (2, 100)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 10, 1, "late")], "k int, ts int, seq int, a string"
    )
    out = {
        r["k"]: r["a"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            payload_cols=["a"], right_tiebreak="seq",
        ).collect()
    }
    assert out == {1: None, 2: None}  # right row is later than left ts=5


def test_scd2_changes_idempotent_and_branches(spark, sf_dir):
    """Re-applying the same batch to the merged history is a no-op (changed
    rows now match incoming, so the close-and-reopen branch goes quiet), and
    all four branches are exercised by the partial-change fixture."""
    from pyspark.sql import functions as F

    from n2kupdate_spark.operators import merge_scd2_changes
    from n2kupdate_spark.queries import fixtures as FX

    target = FX.from_sql(spark, sf_dir, FX.DIM_SCD2_TARGET_SQL)
    inc = FX.dim_incoming_partial(spark, sf_dir)
    kw = dict(
        keys=["c_custkey"],
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        batch_ts=FX.BATCH_TS,
    )
    once = merge_scd2_changes(target, inc, **kw).cache()
    twice = merge_scd2_changes(once, inc, **kw)
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0 and twice.exceptAll(once).count() == 0

    open_rows = once.filter(F.col("valid_to").isNull())
    closed = once.filter(F.col("valid_to") == FX.BATCH_TS)
    reopened = open_rows.filter(F.col("valid_from") == FX.BATCH_TS)
    untouched = open_rows.filter(F.col("valid_from") < FX.BATCH_TS)
    assert closed.count() > 0 and reopened.count() > 0 and untouched.count() > 0
    once.unpersist()


def test_scd3_idempotent_and_branches(spark, sf_dir):
    """r14: SCD3 previous-value merge. Idempotence (re-applying the
    same batch is a no-op — the changed branch sees current == incoming
    the second time); branch battery on a hand-built frame: changed
    overlap shifts current → prev, unchanged overlap keeps its existing
    history untouched, target-only rows pass through, new keys insert
    with NULL history; null-safe compare (NULL → value counts as a
    change, value → equal value does not)."""
    from n2kupdate_spark.operators import merge_scd3
    from n2kupdate_spark.queries import fixtures as FX

    target = FX.from_sql(spark, sf_dir, FX.DIM_SCD3_TARGET_SQL)
    incoming = FX.dim_incoming_partial(spark, sf_dir)
    once = merge_scd3(target, incoming, keys=["c_custkey"], tracked_col="c_acctbal")
    twice = merge_scd3(once, incoming, keys=["c_custkey"], tracked_col="c_acctbal")

    def canon_null(df):  # _canon is not NaN-safe; prev column is nullable
        import math

        return sorted(
            tuple(
                None if isinstance(v, float) and math.isnan(v) else v
                for v in row
            )
            for row in df.toPandas().itertuples(index=False, name=None)
        )

    assert canon_null(once) == canon_null(twice)

    t = spark.createDataFrame(
        [
            (1, 10.0, "x", 5.0),    # changed by batch: prev 5.0 -> becomes 10.0's prev
            (2, 20.0, "y", 15.0),   # unchanged overlap: history kept
            (3, 30.0, "z", None),   # target-only: untouched
            (4, None, "w", 2.0),    # NULL current, batch sets a value -> change
        ],
        "k: long, v: double, attr: string, prev_v: double",
    )
    b = spark.createDataFrame(
        [
            (1, 11.0, "x2"),
            (2, 20.0, "y-ignored"),  # same tracked value: SCD1 attrs NOT applied (row untouched)
            (4, 4.0, "w2"),
            (5, 50.0, "new"),
        ],
        "k: long, v: double, attr: string",
    )
    got = {
        r["k"]: (r["v"], r["attr"], r["prev_v"])
        for r in merge_scd3(t, b, keys=["k"], tracked_col="v", prev_col="prev_v").collect()
    }
    assert got == {
        1: (11.0, "x2", 10.0),
        2: (20.0, "y", 15.0),
        3: (30.0, "z", None),
        4: (4.0, "w2", None),   # prev takes the old current, which was NULL
        5: (50.0, "new", None),
    }


def test_asof_join_tolerance_matches_pandas(spark):
    """r14: asof_join(tolerance=...) ≡ pandas merge_asof(tolerance=...)
    on random keyed series — the independent reference implementation
    of the exact parameter; battery: inclusive bound (age == tolerance
    joins), stale quotes null out rather than silently joining,
    tolerance=None reproduces the untolerated op byte-for-byte."""
    import numpy as np
    import pandas as pd

    from n2kupdate_spark.operators import asof_join

    rng = np.random.RandomState(21)
    lrows, rrows = [], []
    rid = 0
    for k in range(6):
        for t in sorted(rng.choice(300, size=25, replace=False)):
            lrows.append((k, int(t)))
        for t in sorted(rng.choice(300, size=12, replace=False)):
            rrows.append((k, int(t), rid, float(rng.randn())))
            rid += 1
    left = spark.createDataFrame(lrows, "k: int, lts: long")
    right = spark.createDataFrame(rrows, "k: int, rts: long, rid: long, px: double")

    for tol in (10, 37, 0):
        got = {
            (r["k"], r["lts"]): (r["rid"], r["px"])
            for r in asof_join(
                left, right, on=["k"], left_ts="lts", right_ts="rts",
                payload_cols=["rid", "px"], right_tiebreak="rid",
                tolerance=tol,
            ).collect()
        }
        lp = pd.DataFrame(lrows, columns=["k", "lts"]).sort_values("lts")
        rp = pd.DataFrame(rrows, columns=["k", "rts", "rid", "px"]).sort_values("rts")
        m = pd.merge_asof(
            lp, rp, left_on="lts", right_on="rts", by="k",
            tolerance=tol, allow_exact_matches=True,
        )
        want = {
            (int(r.k), int(r.lts)): (
                None if pd.isna(r.rid) else int(r.rid),
                None if pd.isna(r.px) else float(r.px),
            )
            for r in m.itertuples()
        }
        assert got == want, tol

    # inclusive bound: a right row exactly `tol` old joins
    l1 = spark.createDataFrame([(1, 100)], "k: int, lts: long")
    r1 = spark.createDataFrame([(1, 90, 7, 1.5)], "k: int, rts: long, rid: long, px: double")
    row = asof_join(
        l1, r1, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols=["rid", "px"], right_tiebreak="rid", tolerance=10,
    ).collect()[0]
    assert row["rid"] == 7
    row = asof_join(
        l1, r1, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols=["rid", "px"], right_tiebreak="rid", tolerance=9,
    ).collect()[0]
    assert row["rid"] is None

    # timestamp ts columns work WITH tolerance (review r14: the gate
    # computed timestamp − double and failed analysis)
    lt = spark.createDataFrame([(1, 100)], "k: int, e: long").selectExpr(
        "k", "to_timestamp(from_unixtime(e)) AS lts"
    )
    rt = spark.createDataFrame([(1, 90, 7, 1.5)], "k: int, e: long, rid: long, px: double").selectExpr(
        "k", "to_timestamp(from_unixtime(e)) AS rts", "rid", "px"
    )
    row = asof_join(
        lt, rt, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols=["rid", "px"], right_tiebreak="rid", tolerance=10,
    ).collect()[0]
    assert row["rid"] == 7

    # None reproduces the untolerated op exactly
    a = sorted(map(tuple, asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols=["rid", "px"], right_tiebreak="rid",
    ).collect()))
    b = sorted(map(tuple, asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols=["rid", "px"], right_tiebreak="rid", tolerance=None,
    ).collect()))
    assert a == b


def test_scd4_idempotent_and_branches(spark, sf_dir):
    """r15: SCD4 current+history merge. Idempotence — re-applying the
    same batch leaves BOTH tables unchanged (the changed branch sees
    current == incoming the second time, so history gains nothing);
    branch battery on a hand-built frame: changed overlap moves the
    old row into history stamped batch_ts and the incoming row into
    current, unchanged overlap and target-only pass through with no
    archive, new keys insert with no archive, pre-existing history
    rows survive untouched; null-safe compare (NULL → value is a
    change)."""
    from n2kupdate_spark.operators import merge_scd4
    from n2kupdate_spark.queries import fixtures as FX

    kw = dict(
        keys=["c_custkey"],
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        batch_ts=FX.BATCH_TS,
    )
    target = FX.dim_target(spark, sf_dir)
    hist0 = FX.dim_history(spark, sf_dir)
    incoming = FX.dim_incoming_partial(spark, sf_dir)
    cur1, hist1 = merge_scd4(target, hist0, incoming, **kw)
    cur1, hist1 = cur1.localCheckpoint(), hist1.localCheckpoint()
    cur2, hist2 = merge_scd4(cur1, hist1, incoming, **kw)
    assert _canon(cur1) == _canon(cur2)
    assert _canon(hist1) == _canon(hist2)
    # every archived row carries the batch stamp; pre-existing history intact
    assert hist1.count() == hist0.count() + hist1.filter(
        F.col("archived_at") == FX.BATCH_TS
    ).count()
    assert _canon(hist1.filter(F.col("archived_at") != FX.BATCH_TS)) == _canon(hist0)

    t = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z"), (4, None, "w")],
        "k: long, v: double, attr: string",
    )
    h = spark.createDataFrame(
        [(1, 5.0, "x-old", "2025-06-01 00:00:00")],
        "k: long, v: double, attr: string, archived_at: string",
    )
    b = spark.createDataFrame(
        [
            (1, 11.0, "x"),        # v changed -> archive (1, 10.0)
            (2, 20.0, "y"),        # identical -> no-op
            (4, 4.0, "w"),         # NULL -> value: a change, archives (4, NULL)
            (5, 50.0, "new"),      # new key -> insert, no archive
        ],
        "k: long, v: double, attr: string",
    )
    cur, hist = merge_scd4(
        t, h, b, keys=["k"], compare_cols=["v", "attr"], batch_ts="2026-02-02 00:00:00"
    )
    got_cur = {r["k"]: (r["v"], r["attr"]) for r in cur.collect()}
    assert got_cur == {
        1: (11.0, "x"),
        2: (20.0, "y"),
        3: (30.0, "z"),   # target-only untouched
        4: (4.0, "w"),
        5: (50.0, "new"),
    }
    got_hist = sorted(
        (r["k"], r["v"], r["attr"], r["archived_at"]) for r in hist.collect()
    )
    assert got_hist == [
        (1, 5.0, "x-old", "2025-06-01 00:00:00"),      # pass-through
        (1, 10.0, "x", "2026-02-02 00:00:00"),         # superseded v
        (4, None, "w", "2026-02-02 00:00:00"),         # superseded NULL
    ]


def test_asof_join_directions_match_pandas(spark):
    """r15: asof_join(direction=...) ≡ pandas merge_asof for all three
    directions, with and without tolerance, on random keyed series —
    including the exact-tie-takes-backward nearest convention and
    forward's inclusive bound; the registered join_asof_nearest query
    ≡ merge_asof(nearest) on the fixture events at sf0.001."""
    import numpy as np
    import pandas as pd

    from n2kupdate_spark.operators import asof_join
    from n2kupdate_spark.queries import QUERIES
    from n2kupdate_spark.sources import load

    rng = np.random.RandomState(33)
    lrows, rrows = [], []
    rid = 0
    for k in range(6):
        for t in sorted(rng.choice(300, size=25, replace=False)):
            lrows.append((k, int(t)))
        for t in sorted(rng.choice(300, size=12, replace=False)):
            rrows.append((k, int(t), rid, float(rng.randn())))
            rid += 1
        # explicit SAME-TS right duplicates (review r15: replace=False made
        # per-key timestamps distinct, so the positional-duplicate
        # conventions — forward takes the first, backward the last — were
        # never exercised)
        for t in (50, 151, 250):
            for _dup in range(3):
                rrows.append((k, t, rid, float(rng.randn())))
                rid += 1
    left = spark.createDataFrame(lrows, "k: int, lts: long")
    right = spark.createDataFrame(rrows, "k: int, rts: long, rid: long, px: double")
    lp = pd.DataFrame(lrows, columns=["k", "lts"]).sort_values("lts")
    # pandas picks same-ts duplicates POSITIONALLY, so the right frame's
    # order IS the convention — stable-sort by (rts, rid) to pin it
    # (default quicksort scrambles equal-rts rows run to run)
    rp = pd.DataFrame(rrows, columns=["k", "rts", "rid", "px"]).sort_values(
        ["rts", "rid"], kind="mergesort"
    )

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 10, 37):
            got = {
                (r["k"], r["lts"]): (r["rid"], r["px"])
                for r in asof_join(
                    left, right, on=["k"], left_ts="lts", right_ts="rts",
                    payload_cols=["rid", "px"], right_tiebreak="rid",
                    tolerance=tol, direction=direction,
                ).collect()
            }
            m = pd.merge_asof(
                lp, rp, left_on="lts", right_on="rts", by="k",
                tolerance=tol, direction=direction, allow_exact_matches=True,
            )
            want = {
                (int(r.k), int(r.lts)): (
                    None if pd.isna(r.rid) else int(r.rid),
                    None if pd.isna(r.px) else float(r.px),
                )
                for r in m.itertuples()
            }
            assert got == want, (direction, tol)

    sf = "/root/testdata/sf0.001"
    e = (
        load(spark, sf, "events")
        .selectExpr(
            "event_id", "user_id", "event_type",
            "CAST(unix_timestamp(date_trunc('second', ts)) AS LONG) AS ts_s",
        )
        .toPandas()
    )
    pp = e[e.event_type == "purchase"][["event_id", "user_id", "ts_s"]].sort_values("ts_s")
    cc = (
        e[e.event_type == "click"][["event_id", "user_id", "ts_s"]]
        .rename(columns={"event_id": "click_id", "ts_s": "r_ts_s"})
        .sort_values("r_ts_s")
    )
    cc["click_ts_s"] = cc["r_ts_s"]
    m = pd.merge_asof(
        pp, cc, left_on="ts_s", right_on="r_ts_s", by="user_id",
        direction="nearest",
    )
    want = {
        int(r.event_id): (
            None if pd.isna(r.click_id) else int(r.click_id),
            None if pd.isna(r.click_ts_s) else int(r.click_ts_s),
        )
        for r in m.itertuples()
    }
    got = {
        r["event_id"]: (r["click_id"], r["click_ts_s"])
        for r in QUERIES["join_asof_nearest"](spark, sf).collect()
    }
    assert got == want


def test_scd6_idempotent_and_branches(spark, sf_dir):
    """r16: SCD6 hybrid merge (type-2 chain + retroactive type-1
    current-value sweep). Idempotence — re-applying the same batch is
    a no-op (the fresh current row now equals the incoming tracked
    value); invariants on the fixture merge: exactly one open current
    row per key, every closed row of a changed key carries the NEW
    current_acctbal while keeping its own historical c_acctbal;
    branch battery on a hand-built frame: change closes + opens +
    sweeps all history versions, unchanged/target-only pass through,
    new keys insert open, null-safe compare (NULL → value is a
    change)."""
    from n2kupdate_spark.operators import merge_scd6
    from n2kupdate_spark.queries import fixtures as FX

    kw = dict(
        keys=["c_custkey"],
        tracked_col="c_acctbal",
        batch_ts=FX.BATCH_TS,
        current_col="current_acctbal",
    )
    target = FX.scd6_target(spark, sf_dir)
    incoming = FX.dim_incoming_partial(spark, sf_dir)
    m1 = merge_scd6(target, incoming, **kw).localCheckpoint()
    m2 = merge_scd6(m1, incoming, **kw)
    assert _canon(m1) == _canon(m2)
    # exactly one open current row per key
    per_key = m1.groupBy("c_custkey").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_cur")
    )
    assert per_key.filter(F.col("n_cur") != 1).count() == 0
    # the type-1 sweep: every version of a key agrees on current_acctbal,
    # and it equals the open row's tracked value
    cur_vals = m1.filter("is_current").select(
        "c_custkey", F.col("c_acctbal").alias("__cv")
    )
    disagree = (
        m1.join(cur_vals, "c_custkey")
        .filter(~F.col("current_acctbal").eqNullSafe(F.col("__cv")))
        .count()
    )
    assert disagree == 0
    # changed keys (% 4 == 0 overlap) produce a closed row stamped batch_ts
    closed = m1.filter(F.col("valid_to") == FX.BATCH_TS)
    assert closed.count() > 0
    assert closed.filter(F.col("is_current")).count() == 0
    # closed rows keep their historical value: new - old == 10 on this fixture
    assert (
        closed.filter(
            F.round(F.col("current_acctbal") - F.col("c_acctbal"), 2) != 10.0
        ).count()
        == 0
    )

    t = spark.createDataFrame(
        [
            (1, 10.0, "x", 10.0, "2025-01-01", None, True),
            (1, 5.0, "x0", 10.0, "2024-01-01", "2025-01-01", False),
            (2, 20.0, "y", 20.0, "2025-01-01", None, True),
            (3, 30.0, "z", 30.0, "2025-01-01", None, True),
            (4, None, "w", None, "2025-01-01", None, True),
            (6, 60.0, "q", 60.0, "2025-01-01", None, True),
            (6, 55.0, "q0", 60.0, "2024-01-01", "2025-01-01", False),
        ],
        "k: long, v: double, attr: string, current_v: double, "
        "valid_from: string, valid_to: string, is_current: boolean",
    )
    b = spark.createDataFrame(
        [
            (1, 11.0, "x1"),   # change: close, open, sweep BOTH versions
            (2, 20.0, "y"),    # identical: no-op
            (4, 4.0, "w"),     # NULL -> value: a change
            (5, 50.0, "new"),  # new key: open row
            (6, None, "q1"),   # value -> NULL WITH history: the sweep
                               # must write NULL, not coalesce-keep 60
        ],
        "k: long, v: double, attr: string",
    )
    out = merge_scd6(
        t, b, keys=["k"], tracked_col="v", batch_ts="2026-02-02",
        current_col="current_v",
    )
    # sort by (k, valid_from) — unique per row, and NULL-safe (v is None
    # on the planted NULL-tracked row, so v can't be in the sort key)
    got = sorted(
        (
            (r["k"], r["v"], r["attr"], r["current_v"], r["valid_from"],
             r["valid_to"], r["is_current"])
            for r in out.collect()
        ),
        key=lambda row: (row[0], row[4]),
    )
    assert got == [
        (1, 5.0, "x0", 11.0, "2024-01-01", "2025-01-01", False),   # swept
        (1, 10.0, "x", 11.0, "2025-01-01", "2026-02-02", False),   # closed
        (1, 11.0, "x1", 11.0, "2026-02-02", None, True),           # fresh
        (2, 20.0, "y", 20.0, "2025-01-01", None, True),            # no-op
        (3, 30.0, "z", 30.0, "2025-01-01", None, True),            # absent
        (4, None, "w", 4.0, "2025-01-01", "2026-02-02", False),    # NULL closed
        (4, 4.0, "w", 4.0, "2026-02-02", None, True),
        (5, 50.0, "new", 50.0, "2026-02-02", None, True),
        (6, 55.0, "q0", None, "2024-01-01", "2025-01-01", False),  # NULL swept
        (6, 60.0, "q", None, "2025-01-01", "2026-02-02", False),   # NULL closed
        (6, None, "q1", None, "2026-02-02", None, True),           # NULL fresh
    ]
