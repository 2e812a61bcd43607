"""Worked example: pinning a bucketed layout for a recurring fact⋈fact job.

The single biggest shuffle lever this engine has measured
(BASELINE.md §5): bucketing both fact tables on their
join key removes EVERY hash exchange from agg→HAVING→join pipelines —
28% faster even in local mode, where a shuffle never crosses a network;
at 1000 executors the removed all-to-all transfer is the job.

This script shows the two-step production pattern on the Q18-shaped
`composite_large_order_customers` query:

1. one-time (amortized over every future run): materialize bucketed twins
   with `register_bucketed`;
2. per run: execute the UNCHANGED registered query inside
   `bucketed_layout`, which routes `load()` to the twins.

It prints the physical plan's exchange count both ways so the difference
is visible, and asserts the results are identical.

    python examples/bucketed_recurring_job.py [sf_dir]   # default sf0.01
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from n2kupdate_spark.queries import QUERIES  # noqa: E402
from n2kupdate_spark.session import get_spark  # noqa: E402
from n2kupdate_spark.sources import bucketed_layout  # noqa: E402


def exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange hashpartitioning", plan))


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="bucketed-recurring-job")
    spark.sparkContext.setLogLevel("ERROR")
    q = QUERIES["composite_large_order_customers"]

    plain_df = q(spark, sf)
    plain_rows = sorted(map(tuple, plain_df.collect()))
    n_plain = exchanges(plain_df)

    # Step 1+2: twins materialize on first entry (spec-named, reused after)
    with bucketed_layout(
        spark, sf,
        {"lineitem": (["l_orderkey"], 8), "orders": (["o_orderkey"], 8)},
    ):
        bucketed_df = q(spark, sf)
        bucketed_rows = sorted(map(tuple, bucketed_df.collect()))
        n_bucketed = exchanges(bucketed_df)

    assert bucketed_rows == plain_rows, "layout swap must be purely physical"
    print(f"plain layout   : {n_plain} hash exchange(s)")
    print(f"bucketed layout: {n_bucketed} hash exchange(s)")
    print(f"rows identical : {len(plain_rows)} rows either way")


if __name__ == "__main__":
    main()
