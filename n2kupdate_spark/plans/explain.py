"""Physical-plan inspection helpers.

The 100 TB design goal is enforced as *tests over plans* (tests/
test_plans.py): filters must reach the parquet scan, projections must prune
the read schema, dimension joins must broadcast, and hot paths must sit in
whole-stage codegen. `.explain()` output is the ground truth Catalyst
gives us; these helpers parse the formatted text.
"""

from __future__ import annotations

import contextlib
import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


#: Eager checkpoints (localCheckpoint / checkpoint) truncate lineage, so a
#: post-build ``explain`` of a checkpointed pipeline shows only `Scan
#: ExistingRDD` — the r16 plan audit under-reported diag_dedup_overlap and
#: graph_hits this way (r16 verdict "What's wrong" #3). Audit tooling wraps
#: a query build in :func:`capture_pre_ckpt_plans`, which intercepts
#: DataFrame.localCheckpoint/checkpoint and records each frame's plan as
#: Catalyst planned it, BEFORE truncation. Nothing is patched outside the
#: context manager: zero overhead on the normal path.
_PRE_CKPT_CAPTURE: list[str] | None = None


@contextlib.contextmanager
def capture_pre_ckpt_plans():
    """Collect the formatted pre-truncation plan of every eager
    materialization performed while the context is active (audit-only
    tooling — plans_report.py). Yields the list, filled in
    materialization order. Reentrant: an inner capture shadows, then
    restores, the outer one."""
    global _PRE_CKPT_CAPTURE
    prev_cap = _PRE_CKPT_CAPTURE
    _PRE_CKPT_CAPTURE = captured = []

    # Spark 4 splits the API: pyspark.sql.DataFrame is the abstract
    # parent and sessions hand out pyspark.sql.classic.dataframe
    # subclass instances that OVERRIDE these methods — patch every
    # class that defines them in its own __dict__.
    classes = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF

        classes.append(_ClassicDF)
    except ImportError:
        pass
    targets = [
        (cls, meth)
        for cls in classes
        for meth in ("localCheckpoint", "checkpoint")
        # an already-patched method (nested capture) is left alone: the
        # existing wrapper records into whatever list is active
        if meth in cls.__dict__
        and not getattr(cls.__dict__[meth], "_n2k_capture_patch", False)
    ]
    originals = {(cls, meth): cls.__dict__[meth] for cls, meth in targets}

    def _record(df: DataFrame) -> None:
        if _PRE_CKPT_CAPTURE is not None:
            try:
                _PRE_CKPT_CAPTURE.append(explain_str(df))
            except Exception:  # the audit must never break the build
                pass

    def _make_patched(orig):
        def patched(self, *args, **kwargs):
            _record(self)
            return orig(self, *args, **kwargs)

        patched._n2k_capture_patch = True
        return patched

    for cls, meth in targets:
        setattr(cls, meth, _make_patched(originals[(cls, meth)]))
    try:
        yield captured
    finally:
        for cls, meth in targets:
            setattr(cls, meth, originals[(cls, meth)])
        _PRE_CKPT_CAPTURE = prev_cap


def has_pushed_filters(df: DataFrame, *needles: str) -> bool:
    """True if the scan node reports non-empty PushedFilters (optionally
    containing each needle, e.g. a column name)."""
    plan = explain_str(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if not m or not m.group(1).strip():
        return False
    return all(n in m.group(1) for n in needles)


def read_schema_columns(df: DataFrame, table_hint: str | None = None) -> list[list[str]]:
    """Column lists of each scan's ReadSchema (what parquet actually reads)."""
    plan = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (wider spans = fewer = better)."""
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", explain_str(df))))
