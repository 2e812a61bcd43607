"""Law test: the merge family's diff-projection operators equal the
join-and-branch forms they replaced.

``merge_scd2_changes``, ``full_outer_diff``, ``merge_scd3``, ``merge_scd4``
and ``merge_scd6`` are projections of one ``_keyed_diff``. The functions
below are their earlier implementations, kept verbatim (docstrings
dropped) as the reference. Each battery is built by hand so that every
branch — target-only, incoming-only, matched-equal, matched-changed —
meets every attribute pattern: NULL→NULL, NULL→value, value→NULL, equal,
differ. The SCD4 and SCD6 batteries add history rows on changed and
unchanged keys. Each operator costs one collect: the two ``exceptAll``
directions, tagged, in one relation.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import product

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from n2kupdate_spark.operators import merge as M

TS = "2026-02-02 00:00:00"

#: (target value, incoming value) for one attribute of a matched key.
PATTERNS = {
    "nn": (None, None),
    "nv": (None, 2),
    "vn": (1, None),
    "eq": (1, 1),
    "df": (1, 2),
}


def _s(v):
    return None if v is None else f"s{v}"


def _f(v):
    return None if v is None else float(v)


def _battery():
    """Target and incoming rows ``(k, a, b)``: one matched key per pair of
    patterns on (a, b) — key ``5 * i + j`` for the i-th a-pattern and the
    j-th b-pattern — plus target-only and incoming-only keys with values
    and with NULLs. Returns (target rows, incoming rows, matched keys)."""
    tgt, inc = [], []
    for k, ((ta, ia), (tb, ib)) in enumerate(product(PATTERNS.values(), repeat=2)):
        tgt.append((k, _s(ta), _f(tb)))
        inc.append((k, _s(ia), _f(ib)))
    n = len(tgt)
    tgt += [(n, "t", 1.0), (n + 1, None, None)]  # target-only
    inc += [(n + 2, "i", 2.0), (n + 3, None, None)]  # incoming-only
    return tgt, inc, n


def _assert_same(new: DataFrame, ref: DataFrame) -> None:
    assert [(f.name, f.dataType) for f in new.schema] == [
        (f.name, f.dataType) for f in ref.schema
    ]
    diff = (
        new.exceptAll(ref).withColumn("__side", F.lit("new only"))
        .unionByName(ref.exceptAll(new).withColumn("__side", F.lit("ref only")))
        .collect()
    )
    assert not diff, diff[:6]


def test_scd2_changes_equals_reference(spark):
    tgt, inc, n = _battery()
    target = spark.createDataFrame(
        [(k, a, b, "2025-01-01", None) for k, a, b in tgt]
        # closed history on a changed (4: nn/df), an unchanged (3: nn/eq)
        # and an absent key
        + [(4, "old", 0.0, "2024-01-01", "2025-01-01"),
           (3, None, None, "2024-01-01", "2025-01-01"),
           (n + 9, "gone", 9.0, "2024-01-01", "2025-01-01")],
        "k long, a string, b double, valid_from string, valid_to string",
    )
    incoming = spark.createDataFrame(inc, "k long, a string, b double")
    kw = dict(keys=["k"], compare_cols=["a", "b"], batch_ts=TS)
    _assert_same(
        M.merge_scd2_changes(target, incoming, **kw), merge_scd2_changes(target, incoming, **kw)
    )


def test_full_outer_diff_equals_reference(spark):
    tgt, inc, _ = _battery()
    # an uncompared column that differs everywhere must not count
    target = spark.createDataFrame([(*r, "x") for r in tgt], "k long, a string, b double, z string")
    incoming = spark.createDataFrame([(*r, "y") for r in inc], "k long, a string, b double, z string")
    kw = dict(keys=["k"], compare_cols=["a", "b"])
    _assert_same(M.full_outer_diff(target, incoming, **kw), full_outer_diff(target, incoming, **kw))


def test_scd3_equals_reference(spark):
    # tracked b crossed with attribute a (a follows SCD1, never detects)
    tgt, inc, _ = _battery()
    target = spark.createDataFrame(
        [(k, a, b, None if k % 2 else 0.5) for k, a, b in tgt],
        "k long, a string, b double, prev_b double",
    )
    incoming = spark.createDataFrame(inc, "k long, a string, b double")
    kw = dict(keys=["k"], tracked_col="b")
    _assert_same(M.merge_scd3(target, incoming, **kw), merge_scd3(target, incoming, **kw))


def test_scd4_equals_reference(spark):
    tgt, inc, n = _battery()
    current = spark.createDataFrame(tgt, "k long, a string, b double")
    # history on a changed (4: nn/df), an unchanged (0: nn/nn), a
    # current-only and an unknown key
    history = spark.createDataFrame(
        [(4, "h", 0.0, "2025-06-01"), (0, None, None, "2025-06-01"),
         (n, "h", 0.0, "2025-06-01"), (n + 9, "h", 9.0, "2025-06-01")],
        "k long, a string, b double, archived_at string",
    )
    incoming = spark.createDataFrame(inc, "k long, a string, b double")
    kw = dict(keys=["k"], compare_cols=["a", "b"], batch_ts=TS)

    def both(cur: DataFrame, hist: DataFrame) -> DataFrame:
        return cur.withColumn("archived_at", F.lit(None).cast("string")).unionByName(hist)

    _assert_same(
        both(*M.merge_scd4(current, history, incoming, **kw)),
        both(*merge_scd4(current, history, incoming, **kw)),
    )


def test_scd6_equals_reference(spark):
    tgt, inc, n = _battery()
    rows = [(k, a, b, b, "2025-01-01", None, True) for k, a, b in tgt]
    # history on keys whose tracked b changes (1: nv, 2: vn, 4: df), on
    # unchanged ones (0: nn/nn, 5: a alone changes, 18: eq/eq), a
    # target-only and an unknown key
    for k in (1, 2, 4, 0, 5, 18, n, n + 9):
        cur_b = next((b for kk, _, b in tgt if kk == k), 7.0)
        rows.append((k, "h", -1.0, cur_b, "2024-01-01", "2025-01-01", False))
    target = spark.createDataFrame(
        rows,
        "k long, a string, b double, current_b double, "
        "valid_from string, valid_to string, is_current boolean",
    )
    incoming = spark.createDataFrame(inc, "k long, a string, b double")
    kw = dict(keys=["k"], tracked_col="b", batch_ts=TS, current_col="current_b")
    _assert_same(M.merge_scd6(target, incoming, **kw), merge_scd6(target, incoming, **kw))


# --- the reference: the operators as they were before _keyed_diff ----------


def merge_scd2_changes(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    batch_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    keys = list(keys)
    compare_cols = list(compare_cols)
    open_rows = target.filter(F.col(valid_to).isNull())
    closed_rows = target.filter(F.col(valid_to).isNotNull())

    i = incoming.select(
        *keys,
        F.lit(1).alias("__in_inc"),
        *[F.col(c).alias(f"__i_{c}") for c in compare_cols],
    )
    j = open_rows.withColumn("__in_tgt", F.lit(1)).join(i, on=keys, how="full")

    changed: Column = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__i_{c}"))
    in_tgt = F.col("__in_tgt").isNotNull()
    in_inc = F.col("__in_inc").isNotNull()

    def _version(cols: list[Column], vf: Column, vt: Column) -> Column:
        return F.struct(
            *[c.alias(f"_{n}") for n, c in zip(compare_cols, cols)],
            vf.cast("string").alias("_vf"),
            vt.cast("string").alias("_vt"),
        )

    tgt_attrs = [F.col(c) for c in compare_cols]
    inc_attrs = [F.col(f"__i_{c}") for c in compare_cols]
    null_ts = F.lit(None).cast("string")
    keep_open = _version(tgt_attrs, F.col(valid_from), null_ts)
    close_tgt = _version(tgt_attrs, F.col(valid_from), F.lit(batch_ts))
    open_inc = _version(inc_attrs, F.lit(batch_ts), null_ts)

    versions = (
        F.when(in_tgt & in_inc & ~changed, F.array(keep_open))
        .when(in_tgt & in_inc & changed, F.array(close_tgt, open_inc))
        .when(in_tgt & ~in_inc, F.array(close_tgt))
        .otherwise(F.array(open_inc))
    )
    merged_open = (
        j.select(*keys, F.explode(versions).alias("__v"))
        .select(
            *keys,
            *[F.col(f"__v._{c}").alias(c) for c in compare_cols],
            F.col("__v._vf").alias(valid_from),
            F.col("__v._vt").alias(valid_to),
        )
    )
    tgt_cols = keys + compare_cols + [valid_from, valid_to]
    return closed_rows.select(*tgt_cols).unionByName(merged_open)


def full_outer_diff(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    change_col: str = "change",
) -> DataFrame:
    keys = list(keys)
    t = target.select(
        *[F.col(k) for k in keys],
        F.lit(1).alias("__in_target"),
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
    )
    i = incoming.select(
        *[F.col(k) for k in keys],
        F.lit(1).alias("__in_incoming"),
        *[F.col(c).alias(f"{c}_new") for c in compare_cols],
    )
    joined = t.join(i, on=keys, how="full")

    changed: Column = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))

    classify = (
        F.when(F.col("__in_target").isNull(), F.lit("insert"))
        .when(F.col("__in_incoming").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.withColumn(change_col, classify).drop("__in_target", "__in_incoming")


def merge_scd3(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    tracked_col: str,
    prev_col: str | None = None,
) -> DataFrame:
    keys = list(keys)
    prev_col = prev_col or f"prev_{tracked_col}"
    dtype = target.schema[tracked_col].dataType
    inc = incoming.select(
        *keys,
        *[c for c in incoming.columns if c not in keys],
    )
    t_alias, i_alias = target.alias("__t"), inc.alias("__i")
    overlap = t_alias.join(i_alias, on=keys, how="inner")
    changed = overlap.filter(
        ~F.col(f"__i.{tracked_col}").eqNullSafe(F.col(f"__t.{tracked_col}"))
    ).select(
        *keys,
        *[
            F.col(f"__i.{c}").alias(c)
            for c in inc.columns
            if c not in keys
        ],
        F.col(f"__t.{tracked_col}").cast(dtype).alias(prev_col),
    )
    unchanged = overlap.filter(
        F.col(f"__i.{tracked_col}").eqNullSafe(F.col(f"__t.{tracked_col}"))
    ).select(*[F.col(f"__t.{c}").alias(c) for c in target.columns])
    target_only = target.join(inc.select(*keys), on=keys, how="left_anti")
    new_rows = inc.join(target.select(*keys), on=keys, how="left_anti").withColumn(
        prev_col, F.lit(None).cast(dtype)
    )
    cols = target.columns
    return (
        changed.select(*cols)
        .unionByName(unchanged.select(*cols))
        .unionByName(target_only.select(*cols))
        .unionByName(new_rows.select(*cols))
    )


def merge_scd4(
    current: DataFrame,
    history: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    batch_ts: str,
    archived_col: str = "archived_at",
) -> tuple[DataFrame, DataFrame]:
    keys = list(keys)
    compare_cols = list(compare_cols)
    cur_cols = current.columns
    t_alias, i_alias = current.alias("__t"), incoming.alias("__i")
    overlap = t_alias.join(i_alias, on=keys, how="inner")
    diff = F.lit(False)
    for c in compare_cols:
        diff = diff | ~F.col(f"__i.{c}").eqNullSafe(F.col(f"__t.{c}"))
    changed_new = overlap.filter(diff).select(
        *keys,
        *[F.col(f"__i.{c}").alias(c) for c in incoming.columns if c not in keys],
    )
    changed_old = overlap.filter(diff).select(
        *[F.col(f"__t.{c}").alias(c) for c in cur_cols]
    ).withColumn(archived_col, F.lit(batch_ts))
    unchanged = overlap.filter(~diff).select(
        *[F.col(f"__t.{c}").alias(c) for c in cur_cols]
    )
    current_only = current.join(incoming.select(*keys), on=keys, how="left_anti")
    new_rows = incoming.join(current.select(*keys), on=keys, how="left_anti")
    new_current = (
        changed_new.select(*cur_cols)
        .unionByName(unchanged.select(*cur_cols))
        .unionByName(current_only.select(*cur_cols))
        .unionByName(new_rows.select(*cur_cols))
    )
    new_history = history.unionByName(changed_old.select(*history.columns))
    return new_current, new_history


def merge_scd6(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    tracked_col: str,
    batch_ts: str,
    current_col: str | None = None,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    flag_col: str = "is_current",
) -> DataFrame:
    keys = list(keys)
    current_col = current_col or f"current_{tracked_col}"
    cols = target.columns
    cur = target.filter(F.col(flag_col))
    hist = target.filter(~F.col(flag_col))
    c_alias, i_alias = cur.alias("__t"), incoming.alias("__i")
    changed = (
        c_alias.join(i_alias, on=keys, how="inner")
        .filter(
            ~F.col(f"__i.{tracked_col}").eqNullSafe(F.col(f"__t.{tracked_col}"))
        )
        .select(
            *keys,
            *[
                F.col(f"__i.{c}").alias(c)
                for c in incoming.columns
                if c not in keys
            ],
        )
    )
    chg_keys = changed.select(*keys)
    # __chg marks a matched changed key so the history sweep can write a
    # NULL new value: a COALESCE there would silently keep the stale
    # mirror on a value→NULL change (review r16) — exactly the
    # disagreement the sweep exists to prevent.
    new_val = changed.select(
        *keys,
        F.col(tracked_col).alias("__new_val"),
        F.lit(True).alias("__chg"),
    )
    closed = (
        cur.alias("__t")
        .join(new_val, on=keys, how="inner")
        .select(
            *[
                F.col(f"__t.{c}").alias(c)
                for c in cols
                if c not in (current_col, to_col, flag_col)
            ],
            F.col("__new_val").alias(current_col),
            F.lit(batch_ts).alias(to_col),
            F.lit(False).alias(flag_col),
        )
    )
    fresh = changed.select(
        *keys,
        *[c for c in incoming.columns if c not in keys],
        F.col(tracked_col).alias(current_col),
        F.lit(batch_ts).alias(from_col),
        F.lit(None).cast(target.schema[to_col].dataType).alias(to_col),
        F.lit(True).alias(flag_col),
    )
    cur_pass = cur.join(chg_keys, on=keys, how="left_anti")
    new_rows = incoming.join(cur.select(*keys), on=keys, how="left_anti").select(
        *incoming.columns,
        F.col(tracked_col).alias(current_col),
        F.lit(batch_ts).alias(from_col),
        F.lit(None).cast(target.schema[to_col].dataType).alias(to_col),
        F.lit(True).alias(flag_col),
    )
    hist_swept = (
        hist.alias("__h")
        .join(new_val, on=keys, how="left")
        .select(
            *[
                F.col(f"__h.{c}").alias(c)
                for c in cols
                if c != current_col
            ],
            F.when(F.col("__chg"), F.col("__new_val"))
            .otherwise(F.col(f"__h.{current_col}"))
            .alias(current_col),
        )
    )
    return (
        closed.select(*cols)
        .unionByName(fresh.select(*cols))
        .unionByName(cur_pass.select(*cols))
        .unionByName(new_rows.select(*cols))
        .unionByName(hist_swept.select(*cols))
    )
