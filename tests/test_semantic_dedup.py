"""Semantic dedup (SemDeDup-style): brute-force numpy replay of the full
pipeline — cell sizing, nearest-centroid assignment with tie-break, the
(centroid_sim ASC, vec_id) keep order, and the epsilon drop rule — plus
structural invariants the oracle hash can't state directly."""

import pytest
import math

import numpy as np
import pyarrow.parquet as pq

from training_data_ops.operators.dedup import (
    SEMANTIC_DUP_THRESHOLD,
    SEMANTIC_MIN_CELLS,
    semantic_cells_for,
)
from training_data_ops.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"


def _model(sf_dir):
    """Pure-numpy reference: returns {vec_id: (cell_id, is_kept)}."""
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = tbl["vec_id"].to_numpy()
    emb = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    n = len(ids)
    cells = semantic_cells_for(n)
    cent_mask = ids < cells
    cent_ids = ids[cent_mask]
    cent = emb[cent_mask]
    sims = (emb @ cent.T) / (
        np.linalg.norm(emb, axis=1)[:, None] * np.linalg.norm(cent, axis=1)[None, :]
    )
    # argmax with tie-break to the LOWEST cent_id: argmax takes the first
    # max, and cent rows are in ascending vec_id order in the fixture
    assert np.all(np.diff(cent_ids) > 0)
    best = sims.argmax(axis=1)
    cell = cent_ids[best]
    cent_sim = sims[np.arange(n), best]
    out = {}
    norms = np.linalg.norm(emb, axis=1)
    for c in np.unique(cell):
        members = np.where(cell == c)[0]
        order = sorted(members, key=lambda i: (cent_sim[i], ids[i]))
        for i in order:
            # drop rule compares against ALL earlier-ordered members (kept
            # or not), exactly like the registered query's pair join
            dup = any(
                (emb[i] @ emb[j]) / (norms[i] * norms[j])
                >= SEMANTIC_DUP_THRESHOLD
                for j in order
                if (cent_sim[j], ids[j]) < (cent_sim[i], ids[i])
            )
            out[int(ids[i])] = (int(c), not dup)
    return out, cells


def test_matches_numpy_brute_force(spark):
    rows = all_queries()["dedup_semantic"].spark(spark, SF_DIR).collect()
    model, cells = _model(SF_DIR)
    assert len(rows) == len(model)
    for r in rows:
        mc, mk = model[r.vec_id]
        assert r.cell_id == mc, (r.vec_id, r.cell_id, mc)
        assert r.is_kept == mk, (r.vec_id, r.is_kept, mk)


def test_first_ordered_member_of_every_cell_is_kept(spark):
    """The keep order starts at the member FARTHEST from the centroid —
    that representative can never be dropped (nothing precedes it)."""
    rows = all_queries()["dedup_semantic"].spark(spark, SF_DIR).collect()
    first = {}
    for r in rows:
        key = (r.cent_sim, r.vec_id)
        if r.cell_id not in first or key < first[r.cell_id][0]:
            first[r.cell_id] = (key, r.is_kept)
    assert first and all(kept for _, kept in first.values())


def test_cell_sizing_formula():
    for n in [0, 1, 15, 16, 255, 256, 257, 10_000, 123_456,
              99_980_001, 99_980_002]:  # 9999^2 and 9999^2+1
        assert semantic_cells_for(n) == max(SEMANTIC_MIN_CELLS, math.isqrt(n))


def _write_embeddings(tmpdir, vecs):
    import pyarrow as pa

    n = len(vecs)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * n, pa.int32()),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/embeddings.parquet")
    return str(tmpdir)


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# integer-valued components 1..8: every dot product / norm² is an exact
# small integer, so cosine doubles are bit-identical under ANY summation
# order — numpy model, Spark fold, and DuckDB fold can never disagree by
# an ulp, making ordering and threshold comparisons deterministic
_vec = st.lists(st.integers(1, 8), min_size=3, max_size=3)
_corpus = st.lists(_vec, min_size=1, max_size=32)


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
@settings(max_examples=10, deadline=None)
@given(vecs=_corpus)
def test_property_matches_numpy_model_on_generated_corpora(
    spark, tmp_path_factory, vecs
):
    d = _write_embeddings(tmp_path_factory.mktemp("sem"), vecs)
    rows = all_queries()["dedup_semantic"].spark(spark, d).collect()
    model, _ = _model(d)
    assert len(rows) == len(model)
    for r in rows:
        mc, mk = model[r.vec_id]
        assert (r.cell_id, r.is_kept) == (mc, mk), (r.vec_id, vecs)


# ---------------------------------------------------------------------------
# two-level (coarse-quantizer) variant
# ---------------------------------------------------------------------------

from training_data_ops.operators.dedup import (  # noqa: E402
    SEMANTIC_CELL_TARGET,
    SEMANTIC_COARSE_MIN,
    semantic_2level_cells_for,
    semantic_coarse_for,
)


def _model_2level(sf_dir):
    """Pure-numpy reference for the two-level assignment + drop rule."""
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = tbl["vec_id"].to_numpy()
    emb = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    n = len(ids)
    cells = semantic_2level_cells_for(n)
    k = semantic_coarse_for(cells)
    norms = np.linalg.norm(emb, axis=1)

    def best(sims, cand_ids):
        # argmax, ties to the LOWEST candidate id (rows ascend by id)
        return cand_ids[sims.argmax()]

    coarse_mask, fine_mask = ids < k, ids < cells
    co_ids, q = ids[coarse_mask], emb[coarse_mask]
    fi_ids, c = ids[fine_mask], emb[fine_mask]
    qn, cn = np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1)
    # fine centroid -> coarse group; a fine centroid that IS a coarse
    # centroid anchors its own cell (two_level_index orphan pin)
    group = {}
    for i, fid in enumerate(fi_ids):
        if fid < k:
            group[fid] = fid
            continue
        sims = (c[i] @ q.T) / (cn[i] * qn)
        group[fid] = best(sims, co_ids)

    def top2(sims, cand_ids):
        # top-2 by (sim DESC, id ASC) — the multi-probe coarse selection
        order = sorted(range(len(cand_ids)), key=lambda j: (-sims[j], cand_ids[j]))
        return {cand_ids[j] for j in order[:2]}

    cell = np.empty(n, dtype=np.int64)
    cent_sim = np.empty(n)
    for i in range(n):
        s1 = (emb[i] @ q.T) / (norms[i] * qn)
        probed = top2(s1, co_ids)
        members = np.array([fid for fid in fi_ids if group[fid] in probed])
        mi = np.searchsorted(fi_ids, members)
        s2 = (emb[i] @ c[mi].T) / (norms[i] * cn[mi])
        cell[i] = best(s2, members)
        cent_sim[i] = s2.max()
    out = {}
    for cc in np.unique(cell):
        mem = np.where(cell == cc)[0]
        order = sorted(mem, key=lambda i: (cent_sim[i], ids[i]))
        for i in order:
            dup = any(
                (emb[i] @ emb[j]) / (norms[i] * norms[j])
                >= SEMANTIC_DUP_THRESHOLD
                for j in order
                if (cent_sim[j], ids[j]) < (cent_sim[i], ids[i])
            )
            out[int(ids[i])] = (int(cc), not dup)
    return out


def test_2level_matches_numpy_brute_force(spark):
    rows = all_queries()["dedup_semantic_2level"].spark(spark, SF_DIR).collect()
    model = _model_2level(SF_DIR)
    assert len(rows) == len(model)
    for r in rows:
        mc, mk = model[r.vec_id]
        assert (r.cell_id, r.is_kept) == (mc, mk), (r.vec_id, r.cell_id, mc, mk)


def test_2level_plan_is_scale_shaped(spark):
    """The verdict's pin: the coarse stage broadcasts <= sqrt(C) centroids
    and both assignment argmaxes are scalar HASH aggregates — no sort
    aggregate (the wide-row max_by trap), no cartesian product, and the
    n-row relation is never range/hash-partitioned by anything but
    vec_id."""
    from training_data_ops.operators.dedup import (
        dedup_semantic_2level,
    )

    df = dedup_semantic_2level(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # both argmax stages partial-aggregate BEFORE their exchange (map-side
    # combine: the shuffle carries one slim row per vector, never n×K)
    assert "partial_max_by" in plan
    # the aggregated values are scalar ids — a max_by struct carrying the
    # vector would force the wide-row sort the flat docstring warns about
    assert "max_by(v#" not in plan and "max_by(embedding#" not in plan
    # round-10: BOTH broadcast-fold stages (v×coarse, fine×coarse) moved
    # to Arrow GEMM kernels — the plan carries MapInPandas / cogroup
    # FlatMapCoGroupsInPandas nodes instead of BroadcastNestedLoopJoins
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # stage-1 GEMM + fine-grouping GEMM
    assert "FlatMapCoGroupsInPandas" in plan  # stage-2 per-cell GEMM
    assert "BroadcastHashJoin" in plan  # fine_grouped equi-join on co_id


def test_coarse_sizing_formula():
    for c in [0, 1, 4, 15, 16, 17, 256, 1024, 99980001]:
        assert semantic_coarse_for(c) == max(SEMANTIC_COARSE_MIN, math.isqrt(c))
    # bounded-population fine sizing: C = max(min_cells, n div B)
    for n in [0, 1, 500, 1024, 20_000, 200_000, 10**9]:
        assert semantic_2level_cells_for(n) == max(16, n // SEMANTIC_CELL_TARGET)


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
@settings(max_examples=8, deadline=None)
@given(vecs=_corpus)
def test_2level_property_matches_numpy_model(spark, tmp_path_factory, vecs):
    d = _write_embeddings(tmp_path_factory.mktemp("sem2"), vecs)
    rows = all_queries()["dedup_semantic_2level"].spark(spark, d).collect()
    model = _model_2level(d)
    assert len(rows) == len(model)
    for r in rows:
        assert (r.cell_id, r.is_kept) == model[r.vec_id], (r.vec_id, vecs)


def test_prototype_pruning_cut_is_exact_per_cell(spark):
    """corpus_prune_prototypes: per cell, EXACTLY floor(cnt*ppm/1e6) rows
    are dropped, they are the most-prototypical prefix under
    (cent_sim DESC, vec_id), and ties never straddle the cut ambiguously
    (the vec_id tie-break totalizes the order)."""
    from training_data_ops.operators.dedup import (
        PROTO_PRUNE_PPM,
    )

    rows = (
        all_queries()["corpus_prune_prototypes"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell_id, []).append(r)
    assert sum(len(v) for v in by_cell.values()) == 500
    for cell, members in by_cell.items():
        cnt = len(members)
        want_drop = (cnt * PROTO_PRUNE_PPM) // 1_000_000
        dropped = [m for m in members if not m.is_kept]
        assert len(dropped) == want_drop, (cell, cnt)
        # the dropped set is the top of the (cent_sim DESC, vec_id) order
        order = sorted(members, key=lambda m: (-m.cent_sim, m.vec_id))
        assert {m.vec_id for m in order[:want_drop]} == {
            m.vec_id for m in dropped
        }, cell


def test_two_level_index_kernels_agree(spark):
    """Round-10: the fine→coarse grouping moved to the GEMM kernel
    (flat_assign_arrow) because C·K = C^1.5 interpreted fold cosines were
    the super-linear phase of the family (29.7 s / 13.5x per decade at
    sf100).  The arrow and fold kernels must produce the IDENTICAL
    (cent_id → co_id) map — on the fixture corpus AND on an engineered
    near-tie: a fine centroid sitting ~1e-14 from equidistant between two
    coarse centroids (100x the GEMM-vs-fold ulp noise on 64-dim dots, so
    stable on a sane platform, loud on a divergent one)."""
    import pyspark.sql.functions as F

    from training_data_ops.operators.dedup import (
        semantic_2level_cells_for,
        semantic_coarse_for,
    )
    from training_data_ops.operators.similarity import (
        two_level_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cells = semantic_2level_cells_for(emb.count())
    k = semantic_coarse_for(cells)

    def grouping(kernel, src, c, kk):
        _, fg = two_level_index(src, cells=c, k=kk, kernel=kernel)
        return {
            r["cent_id"]: r["co_id"]
            for r in fg.select("cent_id", "co_id").collect()
        }

    assert grouping("arrow", emb, cells, k) == grouping("fold", emb, cells, k)

    # engineered near-tie: coarse 0 = e0, coarse 1 = e1; fine centroid 3
    # at 45 degrees + 1e-14 tilt toward e1 — both kernels must agree on
    # the SAME winner (whichever it is), not silently diverge
    dim = 8
    e = np.eye(dim)
    tilt = 1e-14
    rows = [
        (0, e[0].tolist()),
        (1, e[1].tolist()),
        (2, (0.9 * e[0] + 0.1 * e[2]).tolist()),
        (3, ((1.0 - tilt) * e[0] + (1.0 + tilt) * e[1]).tolist()),
        (4, e[3].tolist()),
        (5, (0.7 * e[1] + 0.3 * e[4]).tolist()),
    ]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ga = grouping("arrow", tiny, 6, 2)
    gf = grouping("fold", tiny, 6, 2)
    assert ga == gf
    assert ga[3] == 1  # the 1e-14 tilt decides identically in both
