"""``query_mix``: the read path and the LLM-data path in one closed loop.

One client runs a fixed mix of registered queries, shuffled by the seed
each round; every timed operation builds the query's frame
(``queries.QUERIES[name]``) and runs it into Spark's noop sink. The first
warm-up round collects each result instead, and those results are checked
after the timed phase. The mix:

- twelve JVM-only, oracle-declared queries at sf0.1 scale. They are short,
  so planning, ``sources.catalog`` plan reuse and shuffle/AQE costs
  dominate. The three merges are the DataFrame twins of the SQL merges
  that ``store_pg`` runs in PostgreSQL.
- two LLM-data operations: BPE tokenization in Python workers over Arrow
  batches, and a semantic-dedup resume of a new batch of embeddings
  against an index persisted in set-up (``operators.dedup`` versioned
  index tables, ``operators.similarity`` codebook assignment and cosine
  scoring). The resume is composed from the same public operators the
  registered ``dedup_semantic_resume`` query calls, because that query
  keeps its index under a fixed ``/tmp`` path.
"""

from __future__ import annotations

import os
import random
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from common import Op

ANALYTICS = [
    "agg_group_sums",
    "scan_filter_pushdown",
    "join_star_multiway",
    "composite_shipping_priority",
    "window_topn_per_group",
    "topk_order_limit",
    "agg_grouping_rollup",
    "join_asof",
    "dedup_keep_latest",
    "merge_scd1",
    "merge_scd2_close",
    "merge_scd6",
]
CORPUS = ["text_bpe_tokenize", "dedup_semantic_resume"]

#: Semantic-dedup threshold and cell count of the registered resume query.
SEM_TAU, SEM_CELLS = 0.3, 16


def _embeddings(spark, sf_dir: str):
    import n2kupdate_spark.sources as src
    from pyspark.sql import functions as F

    return src.load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


class QueryWorkload:
    """``query_mix``. The two LLM-data operations declare no oracle; their
    results are checked against the invariants the program's tests pin."""

    names = ANALYTICS + CORPUS
    #: Wall seconds of one round on the reference host (4 CPUs).
    ROUND_S = 7.0
    MIN_ROUNDS = 3
    #: The first run of a query costs 1.5-10x a later one, and with one
    #: client round times keep falling for about ten rounds as the JIT
    #: compiles the engine's shared code paths. Three clients at once,
    #: which one client leaves a third of the CPUs to, reach that code
    #: more often per second of set-up.
    WARMUP_ROUNDS, WARMUP_CLIENTS = 4, 3

    def __init__(self, ctx) -> None:
        from n2kupdate_spark.queries import QUERIES

        self.ctx = ctx
        self.factories = {n: QUERIES[n] for n in ANALYTICS + ["text_bpe_tokenize"]}
        self.factories["dedup_semantic_resume"] = self._resume
        self.index_path = os.path.join(ctx.run_dir, "sem_index")
        self._index_pool = ThreadPoolExecutor(1)
        self._index = None
        self.result_rows: dict[str, int] = {}
        self.results: dict[str, pd.DataFrame] = {}

    # --- operations ---------------------------------------------------------

    def build(self, name: str):
        return self.factories[name](self.ctx.spark, self.ctx.sf_dir)

    def run_op(self, name: str) -> None:
        tr = self.ctx.tracer
        if tr is None:
            self.build(name).write.format("noop").mode("overwrite").save()
            return
        with tr.span("query.build", query=name):
            df = self.build(name)
        with tr.span("spark.exec", query=name):
            df.write.format("noop").mode("overwrite").save()

    def op_rows(self, name: str) -> int:
        """Rows the operation produces; known once :meth:`check` ran."""
        return self.result_rows.get(name, 0)

    def round_ops(self, r: int) -> list:
        """Round 0, the first warm-up round, collects each result for the
        output check instead of discarding it in the noop sink."""
        order = list(self.names)
        random.Random(self.ctx.seed * 1_000_003 + r).shuffle(order)
        run = self._collect if r == 0 else self.run_op
        return [Op(n, lambda n=n: run(n)) for n in order]

    def _collect(self, name: str) -> None:
        self.results[name] = self.build(name).toPandas()

    def setup(self) -> None:
        """Start persisting the semantic index of the base vectors (four in
        five). The warm-up's other queries run meanwhile; the resume waits
        for the index."""
        from n2kupdate_spark.operators.similarity import persist_semantic_index

        base = _embeddings(self.ctx.spark, self.ctx.sf_dir).filter("vec_id % 5 != 0")
        self._index = self._index_pool.submit(
            persist_semantic_index, base, self.index_path, n_cells=SEM_CELLS, tau=SEM_TAU)

    def _resume(self, spark, sf_dir: str):
        from n2kupdate_spark.operators.similarity import semantic_dedup_resume

        self._index.result()
        batch = _embeddings(spark, sf_dir).filter("vec_id % 5 = 0")
        return semantic_dedup_resume(batch, self.index_path, tau=SEM_TAU)

    def install_tracing(self) -> None:
        pass

    def after_traced_op(self, op, rec: dict) -> None:
        pass

    def per_layer(self, records: list[dict], n: int) -> dict:
        total = 0
        for dirpath, _, files in os.walk(self.index_path):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return {"dedup.index_bytes": (total, "B")}

    def close(self) -> None:
        self._index_pool.shutdown(wait=True)

    # --- output checks ------------------------------------------------------

    def check(self, records: list[dict]) -> dict[str, str]:
        """Check the results the warm-up round collected. Returns
        ``{name: error}`` for the queries whose output is wrong."""
        from n2kupdate_spark.queries import ORACLE

        errors: dict[str, str] = {}
        oracle_con = None
        for name in self.names:
            pdf = self.results.get(name)
            if pdf is None:
                errors[name] = "no result collected"
                continue
            self.result_rows[name] = len(pdf)
            try:
                if name in ORACLE:
                    if oracle_con is None:
                        oracle_con = self._oracle_con()
                    err = compare_frames(pdf, oracle_con.execute(ORACLE[name]).fetchdf())
                else:
                    err = getattr(self, f"_check_{name}")(pdf)
            except Exception as e:  # a failing check is a result, not a crash
                err = f"{type(e).__name__}: {e}"
            if err:
                errors[name] = err
        if oracle_con is not None:
            oracle_con.close()
        return errors

    def _oracle_con(self):
        import duckdb

        con = duckdb.connect()
        for f in sorted(os.listdir(self.ctx.sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(self.ctx.sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con

    def _check_text_bpe_tokenize(self, pdf: pd.DataFrame) -> str | None:
        docs = pq.read_table(os.path.join(self.ctx.sf_dir, "documents.parquet")).to_pandas()
        docs = docs.set_index("doc_id")
        if sorted(pdf["doc_id"]) != sorted(docs.index):
            return "not one row per document"
        d = docs.loc[pdf["doc_id"]]
        words = d["text"].str.split().str.len().to_numpy()
        letters = d["text"].str.replace(r"\s", "", regex=True).str.len().to_numpy()
        toks = pdf["n_bpe_tokens"].to_numpy()
        if (toks < words).any() or (toks > letters).any():
            return "token count outside [words, letters]"
        ratio = np.round(pdf["n_chars"].to_numpy() / toks, 4)
        if np.abs(ratio - pdf["chars_per_token"].to_numpy()).max() > 1e-4:
            return "chars_per_token inconsistent"
        return None

    def _check_dedup_semantic_resume(self, pdf: pd.DataFrame) -> str | None:
        """The whole drop set against a numpy recomputation of the
        documented rule over the persisted index, as the program's tests pin
        it: a batch vector drops iff a kept vector or a lower-id batch
        vector of its cell lies at round(cos, 4) >= tau; its representative
        is the lowest such id."""
        from n2kupdate_spark.operators.dedup import _load_index
        from n2kupdate_spark.operators.similarity import _SEM_INDEX_TABLES

        spark = self.ctx.spark
        _, cent, kept = _load_index(spark, self.index_path, 1, tables=_SEM_INDEX_TABLES)
        c = cent.toPandas().sort_values("cell")
        k = kept.select("vec_id", "cluster", "v").toPandas()
        b = _embeddings(spark, self.ctx.sf_dir).filter("vec_id % 5 = 0").toPandas()
        b = b.sort_values("vec_id", ignore_index=True)

        def unit(col):
            m = np.stack(col.map(np.asarray)).astype(np.float64)
            return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)

        bv = np.stack(b["v"].map(np.asarray)).astype(np.float64)
        b_cl = np.argmax(bv @ np.stack(c["v"].map(np.asarray)).T, axis=1) + 1
        ub, uk = unit(b["v"]), unit(k["v"])
        s_bk = np.round(ub @ uk.T, 4) + 0.0
        s_bb = np.round(ub @ ub.T, 4) + 0.0
        hit_k = (k["cluster"].to_numpy()[None, :] == b_cl[:, None]) & (s_bk >= SEM_TAU)
        hit_b = np.tril((b_cl[None, :] == b_cl[:, None]) & (s_bb >= SEM_TAU), -1)
        ids = np.concatenate([k["vec_id"].to_numpy(), b["vec_id"].to_numpy()])
        hits = np.concatenate([hit_k, hit_b], axis=1)
        sims = np.concatenate([s_bk, s_bb], axis=1)
        want = {}
        for j in np.flatnonzero(hits.any(axis=1)):
            cand = np.flatnonzero(hits[j])
            best = cand[np.argmin(ids[cand])]
            want[int(b["vec_id"][j])] = (int(ids[best]), int(b_cl[j]), float(sims[j, best]))
        if not want:
            return "the batch collides with nothing: the check would prove nothing"
        got = {int(d): (int(r), int(cl), float(cs))
               for d, r, cl, cs in pdf[["drop_id", "rep_id", "cluster", "cos_sim"]].itertuples(index=False)}
        if set(got) != set(want):
            return f"drop set: {len(set(got) - set(want))} extra, {len(set(want) - set(got))} missing"
        for d, (rep, cl, cs) in want.items():
            if got[d][:2] != (rep, cl) or abs(got[d][2] - cs) > 1e-6:
                return f"drop {d}: got {got[d]}, want {(rep, cl, cs)}"
        return None


# --- order-insensitive frame comparison --------------------------------------


def _canon_column(s: pd.Series) -> np.ndarray:
    """uint64 hash per value, equal across engines for equal values: numbers
    as float64 rounded to 4 places (so int/long/double/decimal agree and
    -0.0 equals 0.0), timestamps as epoch nanoseconds, the rest as text."""
    if pd.api.types.is_datetime64_any_dtype(s):
        s = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
        vals = s.astype("int64").to_numpy().astype(object)
        vals[s.isna().to_numpy()] = None
        return pd.util.hash_array(vals.astype(str).astype(object))
    if pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
        f = np.round(s.astype("float64").to_numpy(), 4) + 0.0
        return pd.util.hash_array(np.where(np.isnan(f), np.nan, f))
    if pd.api.types.infer_dtype(s, skipna=True) in ("string", "empty"):
        # the per-value path below, vectorized
        vals = s.to_numpy(dtype=object, copy=True)
        vals[s.isna().to_numpy()] = "\x00"
        return pd.util.hash_array(vals)

    def text(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "\x00"
        if isinstance(v, (int, float, np.number)) and not isinstance(v, bool):
            return repr(float(np.round(float(v), 4)) + 0.0)
        if hasattr(v, "is_finite"):  # Decimal
            return repr(float(round(float(v), 4)) + 0.0)
        if isinstance(v, (np.ndarray, list, tuple)):
            return repr([text(x) for x in v])
        if isinstance(v, pd.Timestamp):
            return str(v.value)
        return str(v)

    return pd.util.hash_array(np.array([text(v) for v in s], dtype=object))


def frame_digest(pdf: pd.DataFrame) -> np.ndarray:
    """Sorted per-row hashes of ``pdf`` (column order matters, row order
    does not)."""
    if pdf.empty:
        return np.array([], dtype=np.uint64)
    cols = pd.DataFrame({i: _canon_column(pdf.iloc[:, i]) for i in range(pdf.shape[1])})
    return np.sort(pd.util.hash_pandas_object(cols, index=False).to_numpy())


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if [c.lower() for c in got.columns] != [c.lower() for c in want.columns]:
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} expected"
    if not np.array_equal(frame_digest(got), frame_digest(want)):
        return "row values differ"
    return None
