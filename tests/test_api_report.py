"""API.md is generated; it must match the package it documents."""

from __future__ import annotations

import api_report


def test_api_md_is_current():
    with open(api_report.API_MD) as fh:
        committed = fh.read()
    assert committed == api_report.render(), (
        "API.md is stale: regenerate it with `python api_report.py`"
    )
