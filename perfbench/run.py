"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Workloads:

- ``store_pg``: the write path. ``N2kStore`` upserts into a throwaway
  PostgreSQL 15 — dimensions, set-replace memberships, observation fact
  batches staged by ``PgParallelBackend``, a replay of a stored batch, an
  incremental batch and an SCD2 round (see ``wl_store.py``).
- ``query_mix``: short JVM-only registered queries, BPE tokenization in
  Python workers and a semantic-dedup resume against an index persisted in
  set-up (``wl_queries.py``).

Each run generates its inputs from ``--seed`` (``datagen.py``) while the
Spark session starts, builds the workload's fixtures, and warms up with
full rounds of the workload on its own input (``WARMUP_ROUNDS``, from
``WARMUP_CLIENTS`` clients at once): all of that is ``setup_s``.
It then runs whole rounds of the seed-shuffled mix, one client in a closed
loop — as many as fill ``--seconds`` on the reference host, and at least
the workload's minimum (``timed_rounds``) — and checks the outputs. A
traced run reports ``trace.timed_wall_s``; tracing overhead is that minus
the timed wall of an untraced run (``steady.py --overhead``). The last
line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(``tracing.py``). A readable report goes to standard error and, with every
span of a traced run, to ``.perfbench_run/<workload>/``. ``steady.py``
repeats runs over seeds and reports their spread.

End-to-end metrics (the timed phase is the sum of operation latencies, so
the client's own input preparation between operations is not counted):

- ``setup_s``: process start to the first timed operation.
- ``ops_per_s``: operations completed per second of the timed phase,
  taking each operation at its median latency over the timed rounds: the
  mix's size over the sum of those medians. A stall that hits one round
  moves it less than it moves a plain average.
- ``rows_per_s``: rows handled per second, on the same medians — rows
  passed to ``store_*`` on ``store_pg``, result rows on ``query_mix``.
- ``op_p50_s``: median operation latency.
- ``op_tail_s``: latency at the highest percentile that leaves at least ten
  samples above it (the percentile and sample count are in the report).
- ``peak_rss_mb``: peak summed RSS of the process tree (``procmem.py``).

An operation that raises, or whose output check fails, counts in
``failed``; ``failed / attempted`` is the failure ratio.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("store_pg", "query_mix")
#: Engine metrics summed over the stages each operation ran (tracing.SparkRest).
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "executor_run_s": "s",
    "executor_cpu_s": "s", "jvm_gc_s": "s", "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B", "input_bytes": "B", "spill_bytes": "B",
}
TAIL_MARGIN = 10  # samples that must lie above the tail percentile
sys.path.insert(0, HERE)

from common import log  # noqa: E402


class Context:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.seed = args.seed
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "data")
        self.spark = None
        self.tracer = None
        self.rest = None
        self.nproc = 1
        self.rss = None


def tail_index(n: int) -> int:
    """Index into sorted latencies of the highest percentile with at least
    ``TAIL_MARGIN`` samples above it (the minimum if there are fewer)."""
    return max(0, n - 1 - TAIL_MARGIN)


class Runner:
    def __init__(self, ctx: Context, workload) -> None:
        self.ctx = ctx
        self.wl = workload
        self.records: list[dict] = []
        self._next_op = 0

    def run_round(self, ops: list, phase: str) -> None:
        ctx = self.ctx
        traced = phase == "traced"
        for op in ops:
            if op.prepare is not None:
                op.prepare()
            self._next_op += 1
            op_id = self._next_op
            if traced:
                ctx.rest.mark()
                ctx.tracer.op_id = op_id
            ok = True
            t0 = time.perf_counter()
            try:
                if traced:
                    with ctx.tracer.span("op", query=op.name):
                        op.run()
                else:
                    op.run()
            except Exception:
                ok = False
                log(f"operation {op.name} failed:\n{traceback.format_exc()}")
            latency = time.perf_counter() - t0
            rec = {"id": op_id, "name": op.name, "kind": op.kind, "phase": phase,
                   "latency_s": latency, "ok": ok, "rows": op.rows}
            if traced:
                ctx.tracer.op_id = None
                try:
                    rec["spark"] = ctx.rest.collect()
                except OSError as e:
                    log(f"Spark REST read failed for {op.name}: {e}")
                self.wl.after_traced_op(op, rec)
            self.records.append(rec)

    def run_rounds(self, phase: str, first_round: int, rounds: int) -> None:
        for r in range(first_round, first_round + rounds):
            self.run_round(self.wl.round_ops(r), phase)

    def warm_up(self) -> None:
        """The workload's warm-up rounds, from ``WARMUP_CLIENTS`` clients
        at once (one client runs them in order)."""
        with ThreadPoolExecutor(self.wl.WARMUP_CLIENTS) as pool:
            list(pool.map(lambda r: self.run_round(self.wl.round_ops(r), "warmup"),
                          range(self.wl.WARMUP_ROUNDS)))


def timed_rounds(workload, seconds: float) -> int:
    """Whole rounds that fill about ``seconds`` on the reference host, and
    no fewer than the workload needs for its tail. The count, not the
    clock, ends the timed phase, so every run of a workload has the same
    operations and its order statistics stay comparable."""
    return max(workload.MIN_ROUNDS, round(seconds / workload.ROUND_S))


def end_to_end(records: list[dict], setup_s: float, peak_mb: float) -> dict:
    lat = sorted(r["latency_s"] for r in records)
    by_op = defaultdict(list)
    for r in records:
        by_op[r["name"]].append(r)
    mix_s = sum(statistics.median(x["latency_s"] for x in rs) for rs in by_op.values())
    mix_rows = sum(statistics.median(x["rows"] for x in rs) for rs in by_op.values())
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(by_op) / mix_s, "unit": "op/s"},
        "rows_per_s": {"value": mix_rows / mix_s, "unit": "rows/s"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": lat[tail_index(len(lat))], "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MiB"},
    }


def per_layer(ctx: Context, wl, records: list[dict], timed_wall: float) -> dict:
    tr = ctx.tracer
    ops = {r["id"] for r in records}
    n = max(1, len(records))
    m: dict[str, tuple[float, str]] = {"session.get_spark_s": (ctx.get_spark_s, "s")}
    calls = tr.counters["catalog.load_calls"]
    m["catalog.load_calls"] = (calls / n, "count")
    m["catalog.load_s"] = (tr.span_seconds("catalog.load", ops) / n, "s")
    m["catalog.plan_reuse_ratio"] = (tr.counters["catalog.load_reused"] / calls if calls else 0.0, "ratio")
    for q in sorted({r["name"] for r in records if r["kind"] == "query"}):
        for span, suffix in (("query.build", "build_s"), ("spark.exec", "exec_s")):
            xs = [s["end"] - s["start"] for s in tr.spans
                  if s["name"] == span and s.get("query") == q and s["op"] in ops]
            m[f"query.{q}.{suffix}"] = (statistics.median(xs) if xs else 0.0, "s")
    with_spark = [r for r in records if "spark" in r]
    for k, unit in SPARK_UNITS.items():
        total = sum(r["spark"][k] for r in with_spark)
        m[f"spark.{k}"] = (total / max(1, len(with_spark)), unit)
    run_s = sum(r["spark"]["executor_run_s"] for r in with_spark)
    wall = sum(r["latency_s"] for r in with_spark)
    m["spark.slot_busy_ratio"] = (run_s / (wall * ctx.nproc) if wall else 0.0, "ratio")
    self_s = tr.self_seconds(ops)
    for layer, v in self_s.items():
        m[f"self.{layer}_s"] = (v / n, "s")
    # tracing overhead is this minus the untraced run's timed wall
    # (steady.py --overhead)
    m["trace.timed_wall_s"] = (timed_wall, "s")
    lat = sorted(r["latency_s"] for r in records)
    m["op_tail.percentile"] = (100.0 * (tail_index(len(lat)) + 1) / len(lat), "%")
    m["op_tail.samples"] = (float(len(lat)), "count")
    m.update(wl.per_layer(records, n))
    return m


def layer_output(m: dict) -> dict:
    """The per-layer metrics in ``BENCHMARK.json`` order; a layer the
    workload does not use reads 0."""
    out = {}
    for k, unit in per_layer_units().items():
        v, u = m.get(k, (0.0, unit))
        if u != unit:
            raise ValueError(f"{k}: unit {u} != {unit}")
        out[k] = {"value": float(v), "unit": unit}
    return out


def per_layer_units() -> dict[str, str]:
    """Name → unit of every per-layer metric of the benchmarked workloads."""
    from wl_queries import ANALYTICS, CORPUS
    from wl_store import STORE_METRICS

    units = {"session.get_spark_s": "s", "catalog.load_calls": "count",
             "catalog.load_s": "s", "catalog.plan_reuse_ratio": "ratio"}
    for q in ANALYTICS + CORPUS:
        units[f"query.{q}.build_s"] = "s"
        units[f"query.{q}.exec_s"] = "s"
    units.update({f"spark.{k}": u for k, u in SPARK_UNITS.items()})
    units["spark.slot_busy_ratio"] = "ratio"
    units.update(STORE_METRICS)
    units["dedup.index_bytes"] = "B"
    from tracing import LAYERS

    units.update({f"self.{layer}_s": "s" for layer in LAYERS})
    units.update({"trace.timed_wall_s": "s",
                  "op_tail.percentile": "%", "op_tail.samples": "count"})
    return units


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def make_workload(name: str, ctx: Context):
    if name == "store_pg":
        from wl_store import StoreWorkload

        return StoreWorkload(ctx)
    from wl_queries import QueryWorkload

    return QueryWorkload(ctx)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "n2kupdate_spark")):
        log(f"no n2kupdate_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sys.path.insert(0, ROOT)

    import settings

    env = settings.apply(run_dir)
    from procmem import PeakRss

    ctx = Context(args, run_dir)
    ctx.nproc = int(env["SPARK_GRAFT_CPUS"])
    ctx.rss = PeakRss().start()
    wl = None
    try:
        import datagen

        phases = {"start": time.perf_counter() - PROCESS_START}
        from n2kupdate_spark.session import get_spark

        confs = settings.spark_confs(run_dir, env, ui=bool(args.trace))
        # the inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(datagen.generate, ctx.sf_dir, args.seed)
            t0 = time.perf_counter()
            ctx.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_confs=confs)
            ctx.get_spark_s = time.perf_counter() - t0
            counts = inputs.result()
        phases["session_and_datagen"] = time.perf_counter() - PROCESS_START
        ctx.spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            import tracing

            ctx.tracer = tracing.Tracer()
            ctx.rest = tracing.SparkRest(ctx.spark.sparkContext)
        wl = make_workload(args.workload, ctx)
        runner = Runner(ctx, wl)
        wl.setup()
        phases["fixtures"] = time.perf_counter() - PROCESS_START
        runner.warm_up()
        setup_s = phases["warmup"] = time.perf_counter() - PROCESS_START
        rounds = timed_rounds(wl, args.seconds)
        phase = "traced" if args.trace else "timed"
        if args.trace:
            tracing.install(ctx.tracer)
            wl.install_tracing()
        t0 = time.perf_counter()
        runner.run_rounds(phase, wl.WARMUP_ROUNDS, rounds)
        timed_wall = time.perf_counter() - t0
        timed = [r for r in runner.records if r["phase"] in ("timed", "traced")]
        phases["timed"] = time.perf_counter() - PROCESS_START
        errors = wl.check(timed)
        phases["check"] = time.perf_counter() - PROCESS_START
        ctx.rss.sample()
        failed = sum(1 for r in timed if not r["ok"] or r["name"] in errors)
        attempted = len(timed)
        for r in timed:
            r["rows"] = r["rows"] or wl.op_rows(r["name"])
        if args.trace:
            layers = per_layer(ctx, wl, timed, timed_wall)
            metrics = layer_output(layers)
            ctx.tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        else:
            metrics = end_to_end(timed, setup_s, ctx.rss.peak_mb)
        lat = sorted(r["latency_s"] for r in timed)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "settings": env, "inputs": counts, "setup_s": setup_s,
            "tail_percentile": 100.0 * (tail_index(len(lat)) + 1) / len(lat),
            "samples": len(lat), "timed_wall_s": timed_wall, "errors": errors,
            "layers": layers if args.trace else None, "phases_end_s": phases, "metrics": metrics,
            "ops": runner.records,
        }
        with open(os.path.join(run_dir, "report.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        for name, err in errors.items():
            log(f"check failed: {name}: {err}")
        log(f"{args.workload} seed={args.seed}: {len(timed)} ops, {failed} failed "
            f"(failed_ratio {failed / max(1, attempted):.4f}), tail = p{report['tail_percentile']:.1f} "
            f"of {len(lat)} samples")
        log("  phases (s since start): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
        for k, v in metrics.items():
            log(f"  {k:48s} {v['value']:.6g} {v['unit']}")
        result = {"correct": failed == 0 and not errors, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        if wl is not None:
            wl.close()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        ctx.rss.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
