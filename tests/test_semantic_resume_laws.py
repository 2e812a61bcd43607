"""Law: the one-pass float ``semantic_dedup_resume`` returns the drop set of
the three-stage pipeline it replaced (cross scorer + pairwise scorer + a
``row_number`` window over ``drop_id``), kept below verbatim as the
reference. One collect per side and case, over a battery of the shapes
that separate them: a replayed batch, an empty batch, a cell with batch
rows but no kept rows, a cell with kept rows only, exact-``tau`` ties
after rounding, ``block_rows`` small enough to split a cell's kept rows
into several buckets, and an ``update_index_path`` roll. The artifact
cache is pinned here too: a re-persisted or rolled version is seen by the
next call, another session reloads, and concurrent calls agree."""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from n2kupdate_spark.operators.dedup import (
    _commit_index_version,
    _load_index,
    _next_index_version,
    index_versions,
)
from n2kupdate_spark.operators.similarity import (
    _SEM_INDEX_CACHE,
    _SEM_INDEX_CACHE_LOCK,
    _SEM_INDEX_TABLES,
    _resume_scorer,
    _sem_index,
    best_cell,
    cross_cosine_by_group,
    pairwise_cosine_by_group,
    persist_semantic_index,
    semantic_dedup_resume,
)
from n2kupdate_spark.sources import load

TAU = 0.3


def reference_resume(
    new_vectors, index_path, id_col="vec_id", vec_col="v", tau=0.95,
    block_rows=4096, update_index_path=None, index_version=None,
):
    """The float resume as it stood before the one-pass scorer."""
    spark = new_vectors.sparkSession
    tables = _SEM_INDEX_TABLES
    v0, cent_df, kept = _load_index(spark, index_path, index_version, tables=tables)
    cent_rows = sorted(cent_df.collect(), key=lambda r: r["cell"])
    cents = np.stack([np.asarray(r["v"], dtype=np.float64) for r in cent_rows])

    empty = not new_vectors.select(id_col).limit(1).collect()
    if empty:
        batch = None
        drops = spark.createDataFrame(
            [], "drop_id long, rep_id long, cluster int, cos_sim double"
        )
    else:
        batch = new_vectors.select(id_col, vec_col).withColumn(
            "cluster", best_cell(vec_col, cents)
        )
        batch = batch.localCheckpoint(eager=True)  # cross, self-pairs, roll
        cross = cross_cosine_by_group(
            batch, kept.select(id_col, "cluster", vec_col),
            "cluster", id_col, vec_col, tau=tau, block_rows=block_rows,
        ).filter(F.col("probe_id") != F.col("base_id"))
        bb = pairwise_cosine_by_group(
            batch, "cluster", id_col, vec_col, tau=tau, block_rows=block_rows
        )
        cand = cross.select(
            F.col("probe_id").alias("drop_id"),
            F.col("base_id").alias("rep_id"),
            "cluster",
            "cos_sim",
        ).unionByName(
            bb.select(
                F.col("id2").alias("drop_id"),
                F.col("id1").alias("rep_id"),
                "cluster",
                "cos_sim",
            )
        )
        w = Window.partitionBy("drop_id").orderBy("rep_id")
        drops = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    if update_index_path is not None:
        drops = drops.localCheckpoint(eager=True)  # consumed twice below
        v1 = _next_index_version(spark, update_index_path, tables=tables)
        vdir = f"v{v1:010d}"
        cent_df.coalesce(1).write.mode("overwrite").parquet(
            f"{update_index_path}/centroids/{vdir}"
        )
        merged = kept if batch is None else kept.unionByName(
            batch.join(
                drops.select(F.col("drop_id").alias(id_col)), id_col, "left_anti"
            ).select(*kept.columns)
        ).dropDuplicates([id_col])
        merged.write.mode("overwrite").parquet(f"{update_index_path}/kept/{vdir}")
        _commit_index_version(spark, update_index_path, v1, tables=tables)
    return drops


def _drops(df) -> dict:
    return {
        r["drop_id"]: (r["rep_id"], r["cluster"], r["cos_sim"]) for r in df.collect()
    }


def _agree(batch, idx, **kw) -> dict:
    got = _drops(semantic_dedup_resume(batch, idx, **kw))
    want = _drops(reference_resume(batch, idx, **kw))
    assert got == want, (
        f"extra={set(got) - set(want)}, missing={set(want) - set(got)}, "
        f"differ={ {d: (got[d], want[d]) for d in set(got) & set(want) if got[d] != want[d]} }"
    )
    return got


def _vectors(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


@pytest.fixture(scope="module")
def base_index(spark, sf_dir, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("sem_laws") / "idx")
    persist_semantic_index(
        _vectors(spark, sf_dir).filter(F.col("vec_id") < 250), idx, n_cells=16, tau=TAU
    )
    return idx


def test_resume_equals_reference_on_fixture_batches(spark, sf_dir, base_index, tmp_path):
    e = _vectors(spark, sf_dir)
    batch = e.filter(F.col("vec_id") >= 250)
    drops = _agree(batch, base_index, tau=TAU)
    assert drops, "the batch must collide with the base at tau=0.3"
    # 4-row buckets split every cell holding more kept rows (nb > 1)
    counts = _sem_index(spark, base_index, None, False).cell_counts
    assert max(counts.values()) > 4
    assert _agree(batch, base_index, tau=TAU, block_rows=4) == drops
    assert _agree(batch.filter(F.lit(False)), base_index, tau=TAU) == {}

    # roll: both sides roll the same batch from the same version into
    # their own path and commit the same tables and rows
    new, ref = str(tmp_path / "new"), str(tmp_path / "ref")
    got = _drops(semantic_dedup_resume(batch, base_index, tau=TAU, update_index_path=new))
    want = _drops(reference_resume(batch, base_index, tau=TAU, update_index_path=ref))
    assert got == want == drops
    assert index_versions(spark, new) == index_versions(spark, ref) == [1]
    for root in (new, ref):
        with open(os.path.join(root, "_index-manifest-0000000001.json")) as f:
            assert json.load(f)["tables"] == {
                t: f"{t}/v0000000001" for t in _SEM_INDEX_TABLES
            }
    rolled = [_load_index(spark, p, 1, tables=_SEM_INDEX_TABLES) for p in (new, ref)]
    for i in (1, 2):
        a, b = (sorted(map(tuple, t[i].collect())) for t in rolled)
        assert a == b

    # replay: the batch again, against the version it rolled into (its
    # survivors' ids are now in kept), split buckets included
    assert _agree(batch, new, tau=TAU) == drops
    assert _agree(batch, new, tau=TAU, block_rows=4) == drops


def _write_index(spark, path, cents, kept):
    """Commit a hand-built version: centroid ``i`` is cell ``i + 1`` and
    ``kept`` lists (vec_id, cluster, v)."""
    v = _next_index_version(spark, path, tables=_SEM_INDEX_TABLES)
    vdir = f"v{v:010d}"
    spark.createDataFrame(
        [(i + 1, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, v array<double>",
    ).write.parquet(f"{path}/centroids/{vdir}")
    spark.createDataFrame(
        [(i, [float(x) for x in vec], c) for i, c, vec in kept],
        "vec_id long, v array<double>, cluster int",
    ).write.parquet(f"{path}/kept/{vdir}")
    _commit_index_version(spark, path, v, tables=_SEM_INDEX_TABLES)
    return v


def _at(deg, cell, dim=8):
    """A unit vector in ``cell`` (of the ``np.eye(dim)`` codebook) at
    ``deg`` degrees from the cell's axis, toward the next axis: two such
    vectors of one cell lie at cos(deg1 - deg2)."""
    v = np.zeros(dim)
    v[cell - 1], v[cell % dim] = np.cos(np.radians(deg)), np.sin(np.radians(deg))
    return v


def _off(t, deg=30.0):
    """The angle that puts a vector at cosine ``t`` to one at ``deg``."""
    return deg - np.degrees(np.arccos(t))


def test_resume_equals_reference_on_constructed_cells(spark, tmp_path):
    """tau = 0.5 over eight axis cells. Cells 1-3 hold one kept and one
    batch row at cosines exactly on tau, on the half-way point that may
    round onto it, and just below after round(·, 4); cell 4 holds batch
    rows only (batch-batch pairs, lower id wins); cell 5 kept rows only;
    cell 6 nothing; in cell 7 a batch row has both a kept and a batch
    neighbour. Then the batch replays against a version that keeps its
    survivors under their own ids."""
    tau = 0.5
    cents = np.eye(8)
    kept = [(1, 1, _at(30, 1)), (2, 2, _at(30, 2)), (3, 3, _at(30, 3)),
            (5, 5, _at(40, 5)), (6, 5, _at(-40, 5)), (7, 7, _at(30, 7))]
    batch_rows = [
        (101, _at(_off(0.5), 1)),
        (102, _at(_off(0.49995), 2)),
        (103, _at(_off(0.49994), 3)),
        (201, _at(30, 4)),
        (202, _at(_off(0.6), 4)),
        (203, _at(_off(0.49995), 4) * 3.0),  # norm 3: scored as unit
        (701, _at(29, 7)),
        (702, _at(28, 7)),
    ]
    idx = str(tmp_path / "built")
    _write_index(spark, idx, cents, kept)
    batch = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in batch_rows],
        "vec_id long, v array<double>",
    )
    drops = _agree(batch, idx, tau=tau)
    assert drops[101] == (1, 1, 0.5) and drops[202] == (201, 4, 0.6)
    assert 103 not in drops and 201 not in drops and 203 in drops
    assert drops[701][:2] == (7, 7) and drops[702][:2] == (7, 7)
    assert _agree(batch, idx, tau=tau, block_rows=1) == drops
    _write_index(spark, idx, cents, kept + [
        (i, int(np.argmax(v)) + 1, v) for i, v in batch_rows if i not in drops
    ])
    assert _agree(batch, idx, tau=tau) == drops
    assert _agree(batch, idx, tau=tau, block_rows=1) == drops


def test_resume_scorer_scores_each_batch_pair_in_one_task():
    """One task of the one-pass scorer, without Spark: batch-batch pairs
    are scored in bucket 0 only (a cell split into buckets replicates its
    batch rows to each), and a kept row under a batch row's own id is
    that row replayed, not its neighbour."""
    score = _resume_scorer("vec_id", "v", 0.5)
    task = pd.DataFrame({
        "vec_id": [1, 103, 101, 102, 103],
        "v": [_at(30, 1), _at(0, 3), _at(-40, 1), _at(-41, 1), _at(0, 3)],
        "__side": [0, 0, 1, 1, 1],
    })

    def drops(bk):
        out = score((1, bk), task)
        return {d: (r, c) for d, r, c in zip(out["drop_id"], out["rep_id"], out["cluster"])}

    assert drops(0) == {102: (101, 1)}
    assert drops(1) == {}


def test_artifact_cache_follows_versions_sessions_and_threads(spark, sf_dir, tmp_path):
    e = _vectors(spark, sf_dir)
    base, batch = e.filter(F.col("vec_id") < 250), e.filter(F.col("vec_id") >= 250)
    idx = str(tmp_path / "idx")
    cents = np.eye(64)[:16]
    # a version that keeps nothing in common with the re-persist below
    _write_index(spark, idx, cents, [])
    stale = _agree(batch, idx, tau=TAU)
    # re-persisted at the same path and version: the next call sees it
    shutil.rmtree(idx)
    persist_semantic_index(base, idx, n_cells=16, tau=TAU)
    first = _agree(batch, idx, tau=TAU)
    assert first and first != stale
    # rolled at the same path: the next call resumes against v2, where
    # the batch's survivors are kept, so they find themselves (guarded)
    semantic_dedup_resume(batch, idx, tau=TAU, update_index_path=idx).count()
    assert index_versions(spark, idx) == [1, 2]
    assert _sem_index(spark, idx, None, False).version == 2
    assert _agree(batch, idx, tau=TAU) == first

    # another session reloads instead of reusing this session's frames
    other = spark.newSession()
    ix = _sem_index(other, idx, None, False)
    assert ix.kept.sparkSession is other and ix is not _sem_index(spark, idx, None, False)
    assert _drops(semantic_dedup_resume(
        other.createDataFrame(batch.collect(), batch.schema), idx, tau=TAU
    )) == first

    # concurrent calls, cold: they race on loading and caching the version
    with _SEM_INDEX_CACHE_LOCK:
        _SEM_INDEX_CACHE.clear()
    with ThreadPoolExecutor(4) as pool:
        runs = list(pool.map(
            lambda _: _drops(semantic_dedup_resume(batch, idx, tau=TAU)), range(4)
        ))
    assert all(r == first for r in runs)
