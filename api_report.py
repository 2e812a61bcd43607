"""Generate API.md: the engine's public library surface, one line per
function — signature + first docstring sentence — grouped by module.

Run: python api_report.py   (writes API.md at the repo root;
tests/test_api_report.py fails while API.md is stale)

Complements PLANS.md (physical plans of every registered query) and
SURVEY.md §2 (the operator contract): this is the page a user migrating
from the reference reads to find the callable behind each capability.
Regenerate after adding public functions; underscore-prefixed names and
registered query wrappers (already cataloged in SURVEY §2) are skipped.
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
API_MD = os.path.join(ROOT, "API.md")
sys.path.insert(0, ROOT)

MODULES = [
    "n2kupdate_spark.api",
    "n2kupdate_spark.session",
    "n2kupdate_spark.functions",
    "n2kupdate_spark.sources",
    "n2kupdate_spark.sources.catalog",
    "n2kupdate_spark.sources.maintenance",
    "n2kupdate_spark.sources.jdbc",
    "n2kupdate_spark.sources.pg_psql",
    "n2kupdate_spark.operators.relational",
    "n2kupdate_spark.operators.merge",
    "n2kupdate_spark.operators.dedup",
    "n2kupdate_spark.operators.similarity",
    "n2kupdate_spark.operators.corpus",
    "n2kupdate_spark.operators.tokenizer",
    "n2kupdate_spark.operators.multimodal",
    "n2kupdate_spark.streaming.jobs",
]


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(undocumented)"
    text = " ".join(doc.strip().split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text if len(text) < 200 else text[:197] + "…"


def render() -> str:
    """The text of API.md for the package as currently imported."""
    from n2kupdate_spark.queries import QUERIES

    lines = [
        "# API — public library surface (generated by api_report.py)",
        "",
        "One line per public function/class: what a user migrating from the",
        f"reference calls directly. The {len(QUERIES)} registered demo "
        "queries wrap these",
        "(SURVEY.md §2 is their contract; PLANS.md their physical plans).",
        "",
    ]
    for modname in MODULES:
        mod = importlib.import_module(modname)
        rows = []
        for name, obj in sorted(vars(mod).items()):
            if name.startswith("_") or not callable(obj):
                continue
            if getattr(obj, "__module__", None) != modname:
                continue  # re-exports documented at their home module
            try:
                sig = str(inspect.signature(obj))
            except (TypeError, ValueError):
                sig = "(…)"
            if len(sig) > 110:
                sig = sig[:107] + "…)"
            rows.append(f"- `{name}{sig}` — {first_sentence(inspect.getdoc(obj))}")
        if not rows:
            continue
        lines.append(f"## {modname}")
        lines.append("")
        moddoc = first_sentence(inspect.getdoc(mod))
        lines.append(f"_{moddoc}_")
        lines.append("")
        lines.extend(rows)
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    text = render()
    with open(API_MD, "w") as fh:
        fh.write(text)
    print(f"wrote API.md ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
