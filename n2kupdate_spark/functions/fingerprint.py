"""Content fingerprints — the reference's idempotence mechanism.

Reference analog: every n2kupdate store function computes
``fingerprint = digest::sha1(<ordered natural-key values>)`` client-side and
uses it as the stable surrogate key, so re-storing the same logical row is a
no-op (⟨pub⟩ internal helpers used by every R/store_*.R [H], SURVEY.md §1.2).

We keep the semantics (hash of ordered key values joined by a separator) but
default to md5/sha256 because the DuckDB oracle has no sha1
(SURVEY.md §7.4.1); ``algo='sha1'`` stays available for faithful parity.

Scale notes: fingerprints are computed with JVM-side built-ins inside
whole-stage codegen — no Python boundary — and, unlike monotonic ids, are
deterministic across runs, partitionings and retries, which is what makes
merge retries safe at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Separator between natural-key values inside the hashed string.
FINGERPRINT_SEP = "|"


def fingerprint(cols: list[str], algo: str = "md5") -> Column:
    """Stable row fingerprint = hash of the ordered values of the named
    columns: :func:`fingerprint_sql` as a Column, so the two share one
    preimage.

    Null-safe: nulls hash as the empty string (concat_ws skips nulls), which
    matches DuckDB's concat_ws and keeps both engines byte-identical.
    """
    return F.expr(fingerprint_sql([f"`{c.replace('`', '``')}`" for c in cols], algo))


_SQL_HASH = {"md5": "md5({})", "sha256": "sha2({}, 256)", "sha1": "sha1({})"}


def fingerprint_sql(exprs: list[str], algo: str = "md5") -> str:
    """The fingerprint as Spark SQL text: the one definition of its hash
    and preimage, which ``fingerprint()`` wraps as a Column, for a
    projection built in one ``selectExpr``. ``exprs`` go into the text as
    given (e.g. backtick-quoted, already checked names)."""
    if algo not in _SQL_HASH:
        raise ValueError(f"unsupported fingerprint algo {algo!r}")
    parts = ", ".join(f"CAST({e} AS STRING)" for e in exprs)
    return _SQL_HASH[algo].format(f"concat_ws('{FINGERPRINT_SEP}', {parts})")
