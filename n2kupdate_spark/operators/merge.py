"""The merge/upsert family — the reference's core semantics as pure
DataFrame transforms.

Reference analog (SURVEY.md §2 B11, §3.1): every n2kupdate ``store_*``
function stages a batch then runs server-side merge SQL — insert-missing
(anti-join), update-changed (SCD1), close-removed (SCD2 / set-replacement)
— inside a transaction (⟨pub⟩ R/store_language.R, R/store_analysis.R,
R/store_location_group_location.R [H/M]).

Here each merge is a *pure function of (current_state, incoming_batch)*:
  - idempotent: ``merge(merge(t, b), b) == merge(t, b)`` (tested),
  - retry-safe and oracle-checkable (no side effects, no now()),
  - executed as joins/unions, so Catalyst plans them and they scale with the
    shuffle (no driver-side row loops — SURVEY.md §7.1 design rule).

``n2kupdate_spark.sources.jdbc`` is the SQL twin of these transforms (a
staging table merged server-side); tests/test_jdbc_sink.py asserts the two
give equal results.

The attribute-diffing merges (``merge_scd2_changes``, ``full_outer_diff``,
``merge_scd3``, ``merge_scd4``, ``merge_scd6``) are projections of one
change-detection step, ``_keyed_diff``, and compare through one null-safe
predicate, ``_differs``.

Scale notes: every transform is key-partitioned joins + unions only. The
incoming batch is typically ≪ target; Spark/AQE broadcast the small side
automatically. ``merge_set_replace`` touches only groups present in the
batch, so the common "replace one group's membership" case never rewrites
unrelated groups' rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_scd1(target: DataFrame, incoming: DataFrame, keys: Sequence[str]) -> DataFrame:
    """SCD type-1 upsert: new keys inserted, existing keys' attributes
    overwritten by the incoming row.

    Reference: dimension-table INSERT-missing + UPDATE-changed pattern
    (⟨pub⟩ R/store_language.R et al. [H]).
    """
    keys = list(keys)
    kept = target.join(incoming.select(*keys), on=keys, how="left_anti")
    return incoming.unionByName(kept)


def merge_insert_ignore(target: DataFrame, incoming: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Append-only insert-if-absent: existing keys keep their *target* row.

    Reference: versioned-entity append — analysis version chains are
    append-only (⟨pub⟩ R/store_analysis.R [M]).
    """
    keys = list(keys)
    new_rows = incoming.join(target.select(*keys), on=keys, how="left_anti")
    return target.unionByName(new_rows)


def merge_set_replace(
    target: DataFrame, incoming: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Set-replacement membership merge: for every group present in the
    incoming batch, the membership set is replaced wholesale; groups absent
    from the batch are untouched.

    Reference: ``store_location_group_location`` / ``store_species_group_species``
    (⟨pub⟩ [M], SURVEY.md §2 B11 ``merge_set_replace``).
    """
    group_cols = list(group_cols)
    touched = incoming.select(*group_cols).distinct()
    untouched = target.join(touched, on=group_cols, how="left_anti")
    return incoming.unionByName(untouched)


def merge_scd2_close(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    batch_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """SCD type-2 / validity-window merge over membership rows.

    ``target`` carries ``valid_from``/``valid_to`` (NULL = open); ``incoming``
    is the new full key set. Open target rows absent from incoming are closed
    at ``batch_ts``; keys new to the target are opened at ``batch_ts``;
    matching open rows are untouched. Closed target rows pass through.

    ``batch_ts`` is an explicit string literal, never now() — the reference
    uses a destroy-timestamp; we make it a parameter so the merge is
    deterministic and oracle-checkable (SURVEY.md §7.4.7).
    """
    keys = list(keys)
    open_rows = target.filter(F.col(valid_to).isNull())
    closed_rows = target.filter(F.col(valid_to).isNotNull())

    still_open = open_rows.join(incoming.select(*keys), on=keys, how="left_semi")
    to_close = open_rows.join(incoming.select(*keys), on=keys, how="left_anti").withColumn(
        valid_to, F.lit(batch_ts)
    )
    opened = (
        incoming.join(open_rows.select(*keys), on=keys, how="left_anti")
        .withColumn(valid_from, F.lit(batch_ts))
        .withColumn(valid_to, F.lit(None).cast("string"))
    )
    return (
        closed_rows  # history rows pass through untouched
        .unionByName(still_open)
        .unionByName(to_close)
        .unionByName(opened.select(*still_open.columns))
    )


def _differs(cols: Sequence[str]) -> Column:
    """Some ``c`` in ``cols`` differs from its incoming twin ``__i_<c>``,
    NULL-safely: TRUE or FALSE, never NULL, so it may be negated. The
    Column twin of ``sources.jdbc._differs``."""
    out: Column = F.lit(False)
    for c in cols:
        out = out | ~F.col(c).eqNullSafe(F.col(f"__i_{c}"))
    return out


def _keyed_diff(
    target: DataFrame, incoming: DataFrame, keys: Sequence[str], compare_cols: Sequence[str]
) -> DataFrame:
    """The change-detection step every attribute-diffing merge projects:
    ONE full-outer join of ``target`` and ``incoming`` on ``keys`` alone.

    Each row holds the key columns, the target's other columns by name,
    the incoming's as ``__i_<c>``, and three flags, each TRUE or FALSE:
    ``__in_t`` and ``__in_i`` (the key is on that side) and ``__chg``
    (on both sides, and ``_differs`` on ``compare_cols``).

    Keys are unique within each side, so each key is one row; a key
    repeated in one side would yield one row per pair, which no merge
    here expects. Joining on the keys only, never on the compared
    attributes, lets a target and a batch bucketed on the merge key run
    the merge with no exchange (tests/test_plans.py)."""
    keys = list(keys)
    inc = incoming.select(
        *keys,
        F.lit(True).alias("__in_i"),
        *[F.col(c).alias(f"__i_{c}") for c in incoming.columns if c not in keys],
    )
    j = target.withColumn("__in_t", F.lit(True)).join(inc, on=keys, how="full")
    in_t, in_i = F.col("__in_t").isNotNull(), F.col("__in_i").isNotNull()
    return j.withColumns(
        {"__in_t": in_t, "__in_i": in_i, "__chg": in_t & in_i & _differs(compare_cols)}
    )


def _upserted(c: str) -> Column:
    """Column ``c`` of a ``_keyed_diff`` row after an SCD1 overwrite: the
    incoming value for a new or changed key, the target's otherwise."""
    take = F.col("__chg") | ~F.col("__in_t")
    return F.when(take, F.col(f"__i_{c}")).otherwise(F.col(c)).alias(c)


def merge_scd2_changes(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    batch_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """SCD type-2 merge WITH attribute-change detection — the full classic:

    - open target rows whose key is absent from incoming → closed at
      ``batch_ts``;
    - open rows whose key matches with *identical* compare_cols → untouched;
    - open rows whose key matches with *different* compare_cols → closed at
      ``batch_ts`` AND a new version opened at ``batch_ts`` with the
      incoming attributes (close-and-reopen);
    - keys new to the target → opened at ``batch_ts``;
    - already-closed history rows pass through.

    This is :func:`merge_scd2_close` (presence-only) extended with the
    update-changed branch of :func:`merge_scd1` — i.e. the versioned form
    of the reference's insert-missing/update-changed/close-removed triple
    in one transform. Attribute comparison is null-safe (``_differs``).
    Contract: ``target`` columns are exactly keys + compare_cols +
    validity columns; ``incoming`` is keys + compare_cols.

    Scale: the open rows' ``_keyed_diff`` against the batch, then one
    projection that emits each key's 0-2 output versions through
    ``inline`` — no window, no driver work; idempotent (re-applying the
    same batch changes nothing — property-tested)."""
    keys = list(keys)
    compare_cols = list(compare_cols)
    open_rows = target.filter(F.col(valid_to).isNull())
    closed_rows = target.filter(F.col(valid_to).isNotNull())
    d = _keyed_diff(open_rows, incoming, keys, compare_cols)

    def version(prefix: str, vf: Column, vt: Column) -> Column:
        return F.struct(
            *[F.col(prefix + c).alias(c) for c in compare_cols],
            vf.cast("string").alias(valid_from),
            vt.cast("string").alias(valid_to),
        )

    close = version("", F.col(valid_from), F.lit(batch_ts))
    reopen = version("__i_", F.lit(batch_ts), F.lit(None))
    versions = (
        F.when(F.col("__chg"), F.array(close, reopen))
        .when(~F.col("__in_i"), F.array(close))
        .when(~F.col("__in_t"), F.array(reopen))
        .otherwise(F.array(version("", F.col(valid_from), F.lit(None))))
    )
    tgt_cols = keys + compare_cols + [valid_from, valid_to]
    return closed_rows.select(*tgt_cols).unionByName(d.select(*keys, F.inline(versions)))


def full_outer_diff(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    change_col: str = "change",
) -> DataFrame:
    """Full diff of incoming vs target: classify each key as
    insert / update / delete / unchanged.

    Reference: the union of the merge branches in every store function —
    made explicit so a pipeline can route rows (SURVEY.md §2
    ``join_full_outer_diff``).

    Output: key columns + target/incoming values of the compared columns
    (``<c>_old`` / ``<c>_new``) + ``change``.
    """
    keys = list(keys)
    d = _keyed_diff(target, incoming, keys, compare_cols)
    change = (
        F.when(~F.col("__in_t"), F.lit("insert"))
        .when(~F.col("__in_i"), F.lit("delete"))
        .when(F.col("__chg"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return d.select(
        *keys,
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
        *[F.col(f"__i_{c}").alias(f"{c}_new") for c in compare_cols],
        change.alias(change_col),
    )


def scd2_asof(
    history: DataFrame,
    as_of: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time reconstruction over an SCD2 validity-window history:
    the rows live at ``as_of`` are those with ``valid_from <= as_of`` and an
    open or later-closing window. The read-side complement of
    :func:`merge_scd2_close` — together they give write/read round-trip over
    versioned state (the reference's destroy-timestamp tables are queried
    exactly this way ⟨pub⟩ R/store_species_group_species.R [M]).

    Timestamps are ISO-format strings, so lexicographic comparison is
    chronological in every engine. A pure filter: partition-pruning-friendly
    at scale if the history is stored partitioned on date(valid_from)."""
    return history.filter(
        (F.col(valid_from) <= F.lit(as_of))
        & (F.col(valid_to).isNull() | (F.col(valid_to) > F.lit(as_of)))
    )


def merge_scd3(
    target: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    tracked_col: str,
    prev_col: str | None = None,
) -> DataFrame:
    """SCD type-3 merge: the dimension keeps the CURRENT value of one
    tracked attribute plus its immediately-previous value in a
    ``prev_`` column — the "limited history" design (Kimball's SCD3)
    for attributes where downstream only ever asks "what was it
    before?" (a segment migration, a reclassification) and a full SCD2
    row chain is overkill.

    Branch semantics (the standard SCD1/SCD3 hybrid — non-tracked
    attributes follow SCD1):
      - overlap, tracked attribute CHANGED (null-safe compare): the
        incoming row wins, ``prev`` := the target's old current value;
      - overlap, unchanged: the target row passes through untouched
        (``prev`` keeps whatever history it held — re-applying the same
        batch is a no-op, the family's idempotence contract);
      - target-only keys: untouched;
      - incoming-only keys: inserted with ``prev`` NULL (no history).

    One projection of ``_keyed_diff`` on the tracked column — no
    window, no sort."""
    keys = list(keys)
    prev_col = prev_col or f"prev_{tracked_col}"
    dtype = target.schema[tracked_col].dataType
    d = _keyed_diff(target, incoming, keys, [tracked_col])
    prev = (
        F.when(F.col("__chg"), F.col(tracked_col).cast(dtype))
        .when(F.col("__in_t"), F.col(prev_col))
        .alias(prev_col)
    )
    return d.select(
        *[c if c in keys else prev if c == prev_col else _upserted(c) for c in target.columns]
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
    """SCD type-4 merge: a CURRENT table that always holds exactly the
    latest row per key (SCD1 overwrite semantics) plus a separate full
    HISTORY table that archives every superseded version — Kimball's
    "history table" design for dimensions queried mostly at their
    current state, where the audit trail must exist but must not slow
    the hot current-table joins (the reason it beats SCD2 at scale:
    the current table stays #keys-sized while history grows append-only
    and partition-prunes on date(archived_at)).

    Returns ``(new_current, new_history)`` — both pure transforms of
    the three inputs, computed from ONE ``_keyed_diff``:
      - overlap, any ``compare_cols`` CHANGED (null-safe): incoming row
        replaces the current row; the superseded current row is
        appended to history stamped ``archived_col = batch_ts``;
      - overlap, unchanged: current row passes through, NO history row
        (re-applying the same batch is a no-op — the family's
        idempotence contract);
      - current-only keys: untouched, no history row;
      - incoming-only keys: inserted into current; no history row
        (there is no prior version to archive);
      - existing history rows always pass through untouched.

    ``history`` must carry the current table's columns plus
    ``archived_col``; ``batch_ts`` is an explicit literal, never now()
    (deterministic + oracle-checkable, SURVEY.md §7.4.7).

    Scale: history is touched only by an append (no join against it),
    so the merge cost is independent of accumulated history size."""
    keys = list(keys)
    cur_cols = current.columns
    d = _keyed_diff(current, incoming, keys, compare_cols)
    new_current = d.select(*[c if c in keys else _upserted(c) for c in cur_cols])
    archived = d.filter(F.col("__chg")).select(*cur_cols, F.lit(batch_ts).alias(archived_col))
    return new_current, history.unionByName(archived.select(*history.columns))


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
    """SCD type-6 merge (Kimball's 1+2+3 hybrid — the last SCD variant
    after the family's 1/2/3/4): the dimension keeps a full type-2 row
    chain (``valid_from``/``valid_to``/``is_current``) where every row
    carries BOTH the tracked attribute's row-scoped HISTORICAL value
    (``tracked_col`` — type 2) and its dimension-wide CURRENT value
    (``current_col``, default ``current_<tracked>`` — type 1,
    retroactively overwritten on every version of the key, history
    included). That dual column is the type-3 "current vs historical"
    answer without a second dimension: point-in-time joins read
    ``tracked_col``, as-is-today rollups read ``current_col`` on ANY
    version — no self-join to the current row.

    Branch semantics (change detection on the CURRENT row's tracked
    value, null-safe):
      - overlap, tracked CHANGED: the current row is closed
        (``valid_to`` = batch_ts, ``is_current`` = false) keeping its
        historical value; a fresh current row opens at batch_ts with
        the incoming attributes; and the type-1 sweep rewrites
        ``current_col`` := the new value on EVERY version of the key —
        the closed row and all prior history rows included;
      - overlap, unchanged: every version passes through untouched
        (re-applying the same batch is a no-op — the family's
        idempotence contract);
      - target-only keys: untouched;
      - incoming-only keys: inserted as an open current row with
        ``current_col`` = ``tracked_col``; no history.

    ``batch_ts`` is an explicit literal, never now() (deterministic +
    oracle-checkable, SURVEY.md §7.4.7).

    Scale: the current rows' ``_keyed_diff`` against the batch yields
    each key's 1-2 current-side versions through ``inline``. The type-1
    sweep is a LEFT join of history against the (batch-sized)
    changed-key set, not a scan-and-rewrite of the whole dimension:
    cost tracks batch size."""
    keys = list(keys)
    current_col = current_col or f"current_{tracked_col}"
    cols = target.columns
    d = _keyed_diff(target.filter(F.col(flag_col)), incoming, keys, [tracked_col])
    new_val = F.col(f"__i_{tracked_col}")

    def version(prefix: str, over: dict[str, Column]) -> Column:
        return F.struct(
            *[(over[c] if c in over else F.col(c if c in keys else prefix + c)).alias(c) for c in cols]
        )

    closed = version("", {current_col: new_val, to_col: F.lit(batch_ts), flag_col: F.lit(False)})
    to_null = F.lit(None).cast(target.schema[to_col].dataType)
    fresh = version(
        "__i_",
        {current_col: new_val, from_col: F.lit(batch_ts), to_col: to_null, flag_col: F.lit(True)},
    )
    versions = (
        F.when(F.col("__chg"), F.array(closed, fresh))
        .when(~F.col("__in_t"), F.array(fresh))
        .otherwise(F.array(version("", {})))
    )
    # __swept marks a changed key so the sweep can write a NULL new value:
    # a COALESCE would keep the stale mirror on a value→NULL change.
    changed = d.filter(F.col("__chg")).select(
        *keys, new_val.alias("__new_val"), F.lit(True).alias("__swept")
    )
    hist = target.filter(~F.col(flag_col)).join(changed, on=keys, how="left")
    swept = hist.withColumn(
        current_col,
        F.when(F.col("__swept"), F.col("__new_val")).otherwise(F.col(current_col)),
    )
    return d.select(F.inline(versions)).unionByName(swept.select(*cols))
