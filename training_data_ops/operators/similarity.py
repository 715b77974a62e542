"""Similarity search over embedding columns (SURVEY.md §2.D).

- ``topk_cosine``  — brute-force exact top-k: broadcast the (small) query
  set, score every corpus vector with a codegen'd double cosine, take top-k
  per query with a window.  Exact baseline; linear scan of the corpus, fully
  partition-parallel — at 100 TB this is one pass over the embedding table
  with no shuffle of the corpus side (only k rows per query survive the
  per-partition window when AQE pushes the limit down).
- ``ivf_*``        — IVF (inverted-file) ANN: assign every vector to its
  nearest centroid (map-side, centroids broadcast), shuffle once on
  ``cell_id`` to co-locate cells, probe only ``nprobe`` cells per query.
  Search cost drops from N to ~N·nprobe/C — the scale path.
- ``lsh_*``        — random-hyperplane LSH ANN: L hash tables of B sign
  bits each; a vector's bit is the sign of its projection onto a
  hyperplane, its bucket the packed B-bit integer.  Signatures are
  computed map-side (planes broadcast) with one partial-aggregating
  shuffle on ``vec_id``; candidates are same-bucket-in-any-table pairs.
  Unlike IVF there is no training pass — the complementary scale path.

Determinism contract: centroids are the first ``NUM_CENTROIDS`` vectors by
``vec_id`` (a deterministic stand-in for k-means training — same role,
reproducible across engines), ranking ties break on ``vec_id``, and all
cosine math is double precision with a fixed fold order (bit-identical to
the DuckDB oracle twins).
"""

from __future__ import annotations

import time

import pandas as pd  # module-level: pandas_udf type hints resolve against globals
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from training_data_ops.functions.vectors import (
    as_double,
    cosine,
    dot,
    duck_cosine,
    duck_dot,
)
from training_data_ops.functions.rounding import duck_trunc6, trunc6
from training_data_ops.operators.scale import (
    parquet_num_rows,
    record_phase,
    widen,
)
from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register
from flink_http_full_cache_connector_spark.streaming.pipeline import (
    scoped_stream_shuffle,
)

NUM_QUERIES = 10
TOP_K = 10
NUM_CENTROIDS = 16
NPROBE = 4

# LSH: L tables x B sign-bits; hyperplane p is the difference of two fixed
# corpus vectors (ids PLANE_BASE+2p / PLANE_BASE+2p+1) — a deterministic,
# SQL-expressible stand-in for Gaussian planes (difference of two draws from
# the data distribution is a valid zero-mean random direction).
LSH_TABLES = 4
LSH_BITS = 6
LSH_PLANE_BASE = 100
LSH_NUM_PLANES = LSH_TABLES * LSH_BITS


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-stage exact top-k over (query_id, neighbor_id, cos_sim) rows.

    A single ``Window.partitionBy(query_id)`` would shuffle the ENTIRE
    scored corpus into #queries partitions — catastrophic skew at scale
    (10 reducers for 100 TB of scores).  Stage 1 pre-ranks within each
    *input* partition (keys = #partitions x #queries, evenly spread) and
    keeps k rows per (partition, query): the global top-k is provably a
    subset.  Stage 2 ranks the ~partitions*k survivors per query — tiny.
    Total order (cos_sim desc, neighbor_id asc) is duplicate-free, so both
    stages are deterministic.
    """
    pre = Window.partitionBy("_pid", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    final = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prank", F.row_number().over(pre))
        .where(F.col("_prank") <= k)
        .drop("_pid", "_prank")
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= k)
    )


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded)."""
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("nq", norm(F.col("qv")))
    # widen the streamed corpus side — the broadcast join scoring must use
    # every core, not the input's (possibly single) file split; norms are
    # precomputed per vector (bit-identical, evaluated once not once-per-pair)
    c = widen(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("nc", norm(F.col("cv")))
    sim = cosine_with_norms(F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
    )
    return topk_per_query(scored, k).select(
        "query_id", "neighbor_id", trunc6(F.col("cos_sim")).alias("cos_sim"), "rank"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cent_id",
    cent_vec: str = "cv",
) -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast, map-side).

    The per-vector argmax is a ``max_by`` aggregation, not a window: the
    partial aggregate combines map-side (each vector's C centroid rows are
    co-located after the broadcast join), so the shuffle carries one row per
    vector instead of C.  Tie-break (highest sim, then lowest cent_id) is
    encoded as lexicographic max over ``struct(sim, -cent_id)``.
    """
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    c = widen(corpus).select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    c = c.withColumn("_nv", norm(F.col("v")))
    k = centroids.select(F.col(cent_id), F.col(cent_vec)).withColumn(
        "_nc", norm(F.col(cent_vec))
    )
    sim = cosine_with_norms(F.col("v"), F.col(cent_vec), F.col("_nv"), F.col("_nc"))
    best = F.max_by(
        F.struct(F.col(cent_id).alias("cid"), F.col("v").alias("vec")),
        F.struct(F.col("sim"), (-F.col(cent_id)).alias("neg")),
    )
    return (
        c.join(F.broadcast(k))
        .select(id_col, cent_id, "v", sim.alias("sim"))
        .groupBy(id_col)
        .agg(best.alias("b"))
        .select(F.col(id_col), F.col("b.cid").alias("cell_id"), F.col("b.vec").alias("v"))
    )


def two_level_index(
    emb: DataFrame,
    *,
    cells: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "arrow",
) -> tuple[DataFrame, DataFrame]:
    """``(coarse, fine_grouped)`` for two-level (coarse-quantizer)
    assignment — shared by ``sim_ann_ivf_2level`` and
    ``dedup_semantic_2level`` (round-6 verdict #1).

    ``coarse``: the first ``k`` corpus vectors as coarse centroids
    (co_id, qv, nq).  ``fine_grouped``: the first ``cells`` corpus vectors
    as fine centroids, each pre-assigned to its nearest coarse cell
    (cent_id, co_id, cv, nc); at corpus sizes where the C-row table
    outgrows broadcast comfort the consumer joins it on co_id as a
    shuffle join instead (same plan shape).

    ``kernel="arrow"`` (default since the round-10 sf100 phase profile):
    the C×K fine→coarse cosines are NOT metadata-sized work — C·K =
    C^1.5 grows as n^1.5 under the C = n/B sizing (5.5 M interpreted
    HOF folds at sf100, 175 M at sf1000), and the profile measured this
    one build step at 29.7 s of dedup_semantic_2level's sf100 wall —
    13.5×/decade, THE super-linear phase of the whole family (assign
    3.8×, prune 5.7×).  The selection therefore runs through
    :func:`flat_assign_arrow` (one GEMM per Arrow batch against the
    K×dim coarse matrix — K stays metadata-sized), with the identical
    tie rule (first argmax over co_id-ascending = max_by(struct(sim,
    -co_id))).  ``kernel="fold"`` keeps the pure-JVM broadcast-join +
    max_by expression pipeline for cross-checks (kernels-agree test in
    tests/test_semantic_dedup.py).

    Argmax-parity residual (round-10 ADVICE): the GEMM computes each
    fine→coarse dot in a different summation order than the sequential
    fold the SQL oracles replay, so two coarse candidates whose cosines
    differ by less than GEMM-vs-fold noise (~1e-16 relative) could in
    principle argmax differently and shift a fine centroid's cell —
    value-exact hash gates downstream would then mismatch even though
    both assignments are "correct".  Parity on engineered 1e-14
    near-ties is pinned (tests/test_semantic_dedup.py); for large
    GENERATED corpora where a sub-1e-14 tie is conceivable, run a
    one-time arrow-vs-fold ``fine_grouped`` equality spot-check before
    trusting a hash gate (the fold kernel is C·K interpreted folds —
    expensive, but a once-per-corpus check, not a per-query cost).

    Fine centroid j < k IS coarse centroid j; its co_id is PINNED to j
    rather than argmaxed, so every coarse cell is non-empty by
    construction independent of floating point — a colinear-but-scaled
    duplicate centroid could otherwise beat the self-pair by an ulp
    (cosine(v, c) vs cosine(v, 2c) need not tie bit-exactly), orphan
    coarse cell j, and silently drop every vector whose stage-1 winner
    is j from two_level_assign's inner join on co_id (round-7 ADVICE).
    The SQL twins replay the same CASE rule."""
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    coarse = emb.where(F.col(id_col) < k).select(
        F.col(id_col).alias("co_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("nq", norm(F.col("qv")))
    fine = emb.where(F.col(id_col) < cells).select(
        F.col(id_col).alias("cent_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("nc", norm(F.col("cv")))
    if kernel == "arrow":
        co_list = [
            (int(r["co_id"]), list(r["qv"]))
            for r in coarse.select("co_id", "qv").collect()  # K rows
        ]
        grouped = flat_assign_arrow(
            fine.select(F.col("cent_id").alias("vec_id"), F.col("cv").alias("v")),
            co_list,
        ).select(F.col("vec_id").alias("cent_id"), F.col("cell_id").alias("co_id"))
    elif kernel == "fold":
        fsim = cosine_with_norms(
            F.col("cv"), F.col("qv"), F.col("nc"), F.col("nq")
        )
        f_order = F.struct(F.col("sim"), (-F.col("co_id")).alias("neg"))
        grouped = (
            fine.join(F.broadcast(coarse))
            .select("cent_id", "co_id", fsim.alias("sim"))
            .groupBy("cent_id")
            .agg(F.max_by(F.col("co_id"), f_order).alias("co_id"))
        )
    else:  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    fine_grouped = (
        grouped
        # a fine centroid that IS a coarse centroid anchors its own cell
        # (see docstring: orphan-proofing independent of float ties)
        .withColumn(
            "co_id",
            F.when(F.col("cent_id") < k, F.col("cent_id")).otherwise(
                F.col("co_id")
            ),
        )
        .join(fine, "cent_id")  # re-attach cv/nc (C rows, trivial)
    )
    return coarse, fine_grouped


def two_level_assign_arrow(
    emb: DataFrame,
    coarse: DataFrame,
    fine_grouped: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_probes: int = 1,
    carry_vec: bool = False,
    min_partitions: int | None = None,
    score: bool = True,
) -> DataFrame:
    """``(id, cell_id, cent_sim)`` — the ARROW KERNEL for two-level
    assignment, value-compatible with :func:`two_level_assign`.
    ``score=False`` (training loop only) skips the exact-fold re-score —
    the Lloyd means never read ``cent_sim``, and dropping it removes the
    fine-centroid broadcast join + fold from every iteration; the
    SELECTION (which cell wins) is identical either way.

    Why it exists (round-8 sf100 profile): every vector kernel built on
    ``aggregate``/``zip_with`` runs on Spark's INTERPRETED expression
    path — higher-order functions are CodegenFallback, so each of the
    n·(K + 2C/K) cosines costs hundreds of boxed lambda invocations.
    Measured: the fold-shaped assignment alone took 279 s at generated
    sf100 (n=2M, C=31 250, K=176) with every plan shape already optimal —
    the arithmetic itself was the wall.  Here the SELECTION runs as
    Arrow-batched numpy (one ``mapInPandas`` GEMM against the broadcast
    coarse matrix, one ``applyInPandas`` GEMM per probed coarse cell
    against that cell's fine matrix — BLAS, ~100× the interpreted
    throughput), and the OUTPUT ``cent_sim`` is then recomputed ONCE per
    vector with the exact ``cosine_with_norms`` fold against the chosen
    centroid, so the emitted value is bit-identical to the SQL twin's
    fold (numpy's pairwise-SIMD sums differ in final ulps; n single
    folds are noise — it is the n·√C folds that were the cost).

    Tie-breaks replay the house rule exactly: centroid matrices are
    ordered by id ascending and winners picked with stable argsort /
    first-argmax on (sim DESC), so equal sims — which arise from
    IDENTICAL vectors and are therefore bit-equal in any engine — break
    to the lowest id, same as ``max_by(struct(sim, -id))``.  A selection
    flip would need two DISTINCT candidates within ~1 ulp of each other
    in one engine but not the other; the registered gates hash-verify
    the result at every driver scale.

    Scale shape: stage 1 is a map-only pass (K×dim matrix in the task
    closure — the broadcast-budget class); stage 2 COGROUPS the probes
    with the fine centroids on co_id — each task receives its coarse
    cell's probe rows plus that cell's ~√C fine rows through the shuffle
    itself (round-8 ADVICE: the first cut collected ALL C×dim fine
    matrices to the driver and pickled the full set into every task's
    closure — a driver-memory and task-serialization wall exactly where
    C outgrows broadcast comfort; the cogroup ships each cell's matrix
    once, to the one task that needs it, at any C).  The final
    per-vector argmax across probes and the exact-fold re-score are
    codegen aggregates/joins.  No stage materializes n×C rows and no
    fold runs more than once per vector.

    Zero-norm guard (round-8 ADVICE; semantics corrected round 9): the
    SELECTION stages clamp every norm denominator to a tiny positive, so
    a degenerate all-zero vector scores exactly 0.0 everywhere and
    breaks to the lowest id deterministically.  The EMITTED ``cent_sim``
    is the exact fold re-score, and under this engine's ANSI mode a
    zero-norm probe (or centroid) makes that division fail the job with
    DIVIDE_BY_ZERO — exactly what the pure-fold twin does at its first
    cosine.  Net behavior, pinned by
    ``test_zero_vector_behavior_pinned``: both kernels FAIL FAST on
    zero vectors rather than silently scoring them; only the
    selection-only training kernel (:func:`flat_assign_arrow`) tolerates
    them.  Real embeddings are non-zero; the gates hash-verify both
    kernels on every driver scale.

    ``carry_vec=True`` additionally emits the (double-widened) vector as
    ``v`` — free, since the exact-fold re-score already re-attached it;
    the Lloyd training loop consumes it directly in
    :func:`lloyd_cell_means`, dropping a per-iteration n_s-row join
    (round-10 verdict #6).  ``min_partitions`` caps the widen() target
    for small training samples (per-stage constants dominate tiny
    relations; every kernel here is partition-invariant by construction,
    so the value is unchanged — only the job-launch overhead)."""
    import numpy as np
    import pandas as pd

    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    if coarse_probes not in (1, 2):  # pragma: no cover
        raise ValueError(f"coarse_probes must be 1 or 2, got {coarse_probes}")

    co_rows = sorted(
        (int(r["co_id"]), np.asarray(r["qv"], dtype=np.float64))
        for r in coarse.select("co_id", "qv").collect()
    )
    co_ids = np.array([i for i, _ in co_rows], dtype=np.int64)
    CM = np.stack([v for _, v in co_rows])
    CMn = np.maximum(np.sqrt((CM * CM).sum(axis=1)), 1e-300)

    # a corpus smaller than the probe count yields fewer coarse cells
    # than probes (the 1-vector hypothesis corpora) — probe what exists
    nprobe = min(coarse_probes, len(co_ids))

    def _stage1(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            Vn = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
            S = (V @ CM.T) / (Vn[:, None] * CMn[None, :])
            # stable argsort on -S: sim DESC, then co_id ASC (rows are
            # co_id-ordered) — the max_by(struct(sim, -id)) rule
            top = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
            b = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "co_id": co_ids[top].reshape(b * nprobe),
                    "v": [x for x in pdf["v"].to_numpy() for _ in range(nprobe)],
                }
            )

    v = widen(emb, min_partitions).select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    probes = v.mapInPandas(_stage1, "vec_id long, co_id long, v array<double>")

    carry_through = carry_vec and not score

    def _stage2(key, probes_pdf, fine_pdf):
        cols = {"vec_id": "int64", "cell_id": "int64", "sim": "float64"}
        if not len(probes_pdf) or not len(fine_pdf):
            # a cell no vector probed, or (never, by construction — every
            # coarse cell owns a fine centroid) a probe into a fine-less
            # cell: nothing to emit
            out = pd.DataFrame({c: [] for c in cols}).astype(cols)
            if carry_through:
                # an empty list column is float64 to pandas, which Arrow
                # cannot convert to array<double>; object can
                out["v"] = pd.Series([], dtype=object)
            return out
        fine_pdf = fine_pdf.sort_values("cent_id")
        ids = fine_pdf["cent_id"].to_numpy(dtype=np.int64)
        FM = np.stack(fine_pdf["cv"].to_numpy())
        FMn = np.maximum(np.sqrt((FM * FM).sum(axis=1)), 1e-300)
        V = np.stack(probes_pdf["v"].to_numpy())
        Vn = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
        S = (V @ FM.T) / (Vn[:, None] * FMn[None, :])
        best = np.argmax(S, axis=1)  # first max = lowest cent_id on ties
        out = pd.DataFrame(
            {
                "vec_id": probes_pdf["vec_id"].to_numpy(),
                "cell_id": ids[best],
                "sim": S[np.arange(len(probes_pdf)), best],
            }
        )
        if carry_through:
            # the probe rows already carry the (double-widened) vector —
            # passing it through lets the training path skip the
            # identity re-attach join below (guide §2.4: the chosen⋈v
            # inner join on vec_id matched every row 1:1 and existed
            # only to fetch v, at one full sample-vector shuffle per
            # Lloyd iteration)
            out["v"] = probes_pdf["v"].to_numpy()
        return out

    stage2_schema = "vec_id long, cell_id long, sim double" + (
        ", v array<double>" if carry_through else ""
    )
    in_cell = (
        probes.groupBy("co_id")
        .cogroup(fine_grouped.select("co_id", "cent_id", "cv").groupBy("co_id"))
        .applyInPandas(_stage2, stage2_schema)
    )
    chosen_aggs = [
        F.max_by(
            F.col("cell_id"),
            F.struct(F.col("sim"), (-F.col("cell_id")).alias("neg")),
        ).alias("cell_id")
    ]
    if carry_through:
        # both probe rows of a vector carry the IDENTICAL vector, so any
        # row's v is THE v — first() is value-deterministic here
        chosen_aggs.append(F.first("v").alias("v"))
    chosen = in_cell.groupBy("vec_id").agg(*chosen_aggs)
    # exact-fold re-score of the ONE chosen centroid per vector: the
    # emitted cent_sim replays the SQL twin's IEEE sequence bit-for-bit
    fine_slim = fine_grouped.select(
        F.col("cent_id").alias("cell_id"), "cv", "nc"
    )
    if not score:
        out_cols = [F.col("vec_id").alias(id_col), F.col("cell_id")]
        if carry_vec:
            out_cols.append(F.col("v"))
        # no join back to v: chosen ⊆ v 1:1 by construction (every chosen
        # vec_id came from exactly one v row), so the old inner join was
        # an identity — and when carry_vec is set the vector rode the
        # cogroup instead
        return chosen.select(*out_cols)
    vv = v.withColumn("nv", norm(F.col("v")))
    out_cols = [
        F.col("vec_id").alias(id_col),
        F.col("cell_id"),
        cosine_with_norms(
            F.col("v"), F.col("cv"), F.col("nv"), F.col("nc")
        ).alias("cent_sim"),
    ]
    if carry_vec:
        out_cols.append(F.col("v"))
    return (
        chosen.join(vv, "vec_id")
        .join(F.broadcast(fine_slim), "cell_id")
        .select(*out_cols)
    )


def flat_assign_arrow(
    vectors: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """``(vec_id, cell_id, v)`` — Arrow GEMM flat nearest-centroid
    assignment against a driver-side centroid list; the TRAINING-loop
    sibling of :func:`two_level_assign_arrow` (round-8 verdict #2: Lloyd's
    per-iteration ``ivf_assign`` ran n_s·K interpreted cosine folds — the
    570 s wall of the trained two-level index at sf100).  One map-only
    pass: the K×dim centroid matrix rides the task closure (the broadcast
    budget class — K is NUM_CENTROIDS or isqrt(C), metadata-sized by
    construction), sims come from one BLAS GEMM per Arrow batch, and the
    winner is the first argmax over cent_id-ascending rows — exactly
    ``max_by(struct(sim, -cent_id))``: highest sim, lowest id on
    bit-equal ties.  No shuffle, no per-row fold.

    Used ONLY inside Lloyd training, where the emitted centroids feed
    contract-gated consumers (Lloyd means have no bit-stable SQL replay
    anywhere) — serve-time assignment keeps the fold/`max_by` form its
    oracles cross-check.  Zero-norm guard (ADVICE r8): denominators clamp
    to a tiny positive, so a degenerate all-zero vector scores exactly
    0.0 against every centroid and lands deterministically in the lowest
    cell id.  This is the ONE kernel that tolerates zero vectors — it
    emits no cosine, only the assignment; every kernel that emits a
    cosine (the fold twins, two_level_assign's re-scored output) fails
    fast under ANSI with DIVIDE_BY_ZERO instead (pinned by
    ``test_zero_vector_behavior_pinned``).  Training therefore never
    drops or misscores a degenerate row, and serve paths refuse them
    loudly."""
    import numpy as np
    import pandas as pd

    order = sorted((int(c), [float(x) for x in v]) for c, v in cents)
    cids = np.array([c for c, _ in order], dtype=np.int64)
    CM = np.stack([np.asarray(v, dtype=np.float64) for _, v in order])
    CMn = np.maximum(np.sqrt((CM * CM).sum(axis=1)), 1e-300)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            Vn = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
            S = (V @ CM.T) / (Vn[:, None] * CMn[None, :])
            best = np.argmax(S, axis=1)  # first max = lowest cent_id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell_id": cids[best],
                    "v": pdf["v"],
                }
            )

    return vectors.mapInPandas(
        _assign, "vec_id long, cell_id long, v array<double>"
    )


def lloyd_cell_means(
    assign: DataFrame,
    *,
    cell_col: str = "cell_id",
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """``(cent_id, cv)`` — per-cell Lloyd mean in ONE grouped Arrow pass
    (round-8 verdict #2's other half: the posexplode → (cell, dim) avg
    form shuffled n_s·dim SCALAR rows per iteration — 128M rows at sf100
    — where this shuffles the n_s slim vector rows once and reduces each
    cell with a numpy mean).

    Deterministic by construction: rows sort by ``id_col`` inside each
    cell before the mean, so the float sequence is independent of shuffle
    arrival order and partition count (the partitioning-invariance ground
    rule — stricter than the avg fold it replaces, whose partial-merge
    order was partitioning-dependent).  A cell group is ~n_s/C training
    rows in one pandas frame; upstream balanced assignment
    (coarse_probes=2) bounds skew, and a pathological cell spills an
    executor, never the driver."""
    import numpy as np
    import pandas as pd

    def _mean(key, pdf):
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        V = np.stack(pdf[vec_col].to_numpy())[order]
        return pd.DataFrame(
            {"cent_id": [int(key[0])], "cv": [V.mean(axis=0).tolist()]}
        )

    return assign.groupBy(cell_col).applyInPandas(
        _mean, "cent_id long, cv array<double>"
    )


def lloyd_cell_means_keep(
    assign: DataFrame,
    fine_prev: DataFrame,
    *,
    cell_col: str = "cell_id",
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """``(cent_id, cv)`` for EVERY previous fine centroid in ONE
    cogrouped Arrow pass: cells with assigned members get the
    deterministic id-sorted mean (the :func:`lloyd_cell_means` rule,
    value-identical), empty cells keep their previous centroid (the
    ivf_train rule).  Fuses what the first cut ran as three stages —
    grouped means + left-anti join + union — into a single cogroup
    shuffle per Lloyd iteration (round-10 verdict #6: the trained-index
    sf0.1 wall was job-launch constants, not data)."""
    import numpy as np
    import pandas as pd

    def _mean(key, prev_pdf, a_pdf):
        if not len(a_pdf):
            # empty cell: keep the previous centroid
            return prev_pdf[["cent_id", "cv"]]
        order = np.argsort(a_pdf[id_col].to_numpy(), kind="stable")
        V = np.stack(a_pdf[vec_col].to_numpy())[order]
        return pd.DataFrame(
            {"cent_id": [int(key[0])], "cv": [V.mean(axis=0).tolist()]}
        )

    return (
        fine_prev.select("cent_id", "cv")
        .groupBy("cent_id")
        .cogroup(
            assign.select(
                F.col(cell_col).alias("cent_id"),
                F.col(id_col),
                F.col(vec_col),
            ).groupBy("cent_id")
        )
        .applyInPandas(_mean, "cent_id long, cv array<double>")
    )


def two_level_assign(
    emb: DataFrame,
    coarse: DataFrame,
    fine_grouped: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_probes: int = 1,
    kernel: str = "arrow",
    carry_vec: bool = False,
    min_partitions: int | None = None,
    score: bool = True,
) -> DataFrame:
    """``(id, cell_id, cent_sim)`` via coarse→fine assignment.
    ``carry_vec`` / ``min_partitions`` / ``score`` are arrow-kernel
    training-loop knobs (see :func:`two_level_assign_arrow`); the fold
    reference kernel does not support them.

    ``kernel="arrow"`` (the default since the round-8 sf100 profile) runs
    the selection as Arrow-batched numpy GEMMs and re-scores the winner
    with the exact fold — see :func:`two_level_assign_arrow`.  The
    ``"fold"`` kernel below is the pure-JVM-expression reference: same
    values, but every cosine runs on the interpreted HOF path
    (CodegenFallback), measured 279 s for assignment alone at generated
    sf100 vs ~tens of seconds for the Arrow kernel — keep it for oracle
    cross-checks and environments without Arrow workers.

    Fold-kernel dataflow: stage 1
    picks the coarse cell (n·K scalar rows, map-side partial ``max_by``),
    the vector is re-attached once by a uniform id join, stage 2 scores
    only the winning coarse cell's fine centroids (≈ n·C/K rows).  Both
    shuffles carry one slim row per vector; no stage ever materializes
    n×C.

    ``coarse_probes=2`` is the BALANCED assignment (round-7 verdict #2):
    the sf10 sweep measured the coarse→fine funnel skewing fine cells
    2.3× (a popular coarse cell concentrates every vector it wins into
    its own C/K fine cells), and that skew was the residual super-unit
    ratio of dedup_semantic_2level.  Multi-probing the top-2 coarse cells
    lets stage 2 pick the best fine centroid across BOTH cells' fine
    sets — assignment closer to the flat argmax, cells materially more
    even — for 2× stage-2 cosines (still ~n·2C/K, never n·C).  The top-2
    selection runs entirely map-side: the K coarse centroids fold into a
    single broadcast array row and a transform+aggregate expression keeps
    the running (best, second) per vector — ZERO stage-1 shuffle (the
    max_by path pays one slim exchange), no window over n·K rows.  The
    SQL twin replays it as the rn<=2 window over the identical sims."""
    if kernel == "arrow":
        return two_level_assign_arrow(
            emb,
            coarse,
            fine_grouped,
            id_col=id_col,
            vec_col=vec_col,
            coarse_probes=coarse_probes,
            carry_vec=carry_vec,
            min_partitions=min_partitions,
            score=score,
        )
    if kernel != "fold":  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    if carry_vec or min_partitions is not None or not score:  # pragma: no cover
        raise ValueError(
            "carry_vec/min_partitions/score are arrow-kernel training knobs"
        )
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    v = widen(emb).select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    if coarse_probes == 1:
        s1 = cosine_with_norms(F.col("v"), F.col("qv"), F.col("nv"), F.col("nq"))
        s1_order = F.struct(F.col("sim"), (-F.col("co_id")).alias("neg"))
        vco = (
            v.join(F.broadcast(coarse.select("co_id", "qv", "nq")))
            .select(id_col, "co_id", s1.alias("sim"))
            .groupBy(id_col)
            .agg(F.max_by(F.col("co_id"), s1_order).alias("co_id"))
        )
        staged = vco.join(v, id_col)
    elif coarse_probes == 2:
        # one array row (collect_list is a K-row agg — metadata-sized, the
        # same class as the coarse broadcast itself), cross-joined broadcast
        carr = coarse.agg(
            F.collect_list(F.struct("co_id", "qv", "nq")).alias("cents")
        )
        scored_arr = F.transform(
            F.col("cents"),
            lambda c: F.struct(
                c["co_id"].alias("co_id"),
                cosine_with_norms(
                    F.col("v"), c["qv"], F.col("nv"), c["nq"]
                ).alias("sim"),
            ),
        )
        init = F.struct(
            F.lit(-10.0).alias("s1"),
            F.lit(2**62).cast("long").alias("i1"),
            F.lit(-10.0).alias("s2"),
            F.lit(2**62).cast("long").alias("i2"),
        )

        def _step(acc: Column, x: Column) -> Column:
            beats1 = (x["sim"] > acc["s1"]) | (
                (x["sim"] == acc["s1"]) & (x["co_id"] < acc["i1"])
            )
            beats2 = (x["sim"] > acc["s2"]) | (
                (x["sim"] == acc["s2"]) & (x["co_id"] < acc["i2"])
            )
            return (
                F.when(
                    beats1,
                    F.struct(
                        x["sim"].alias("s1"),
                        x["co_id"].alias("i1"),
                        acc["s1"].alias("s2"),
                        acc["i1"].alias("i2"),
                    ),
                )
                .when(
                    beats2,
                    F.struct(
                        acc["s1"].alias("s1"),
                        acc["i1"].alias("i1"),
                        x["sim"].alias("s2"),
                        x["co_id"].alias("i2"),
                    ),
                )
                .otherwise(acc)
            )

        top2 = F.aggregate(scored_arr, init, _step)
        staged = (
            v.crossJoin(F.broadcast(carr))
            .withColumn("t2", top2)
            .select(
                id_col,
                "v",
                "nv",
                F.explode(
                    F.array(F.col("t2.i1"), F.col("t2.i2"))
                ).alias("co_id"),
            )
        )
    else:  # pragma: no cover — 1 and 2 are the supported shapes
        raise ValueError(f"coarse_probes must be 1 or 2, got {coarse_probes}")
    # stage 2 as a PER-CELL ARRAY FOLD, not a row join (round-8 sf100
    # sweep): the join form materialized n×probes·C/K joined rows, each
    # COPYING the vector array through the join output — at generated
    # sf100 (n=2M, C/K=178, dim=64) that is ~350 GB of row memcpy and it
    # dominated every consumer of this function (corpus_prune_prototypes
    # measured 1016 s).  Here the fine centroids pre-group into ONE array
    # row per coarse cell (K rows total — same bytes as the old broadcast,
    # different shape), the probe keeps n×probes rows end-to-end, and the
    # in-cell argmax folds over the array with the house (sim, lower-id)
    # comparison.  Values are IEEE-identical to the join form: the same
    # cosine_with_norms expression per fine centroid, and
    # fold-within-cell + max_by-across-cells is the same lexicographic
    # max the single max_by computed (associativity of max).  At corpus
    # sizes where C×dim outgrows broadcast comfort the fg_arr join
    # becomes a co_id-keyed shuffle join — same plan shape.
    fg_arr = fine_grouped.groupBy("co_id").agg(
        F.collect_list(F.struct("cent_id", "cv", "nc")).alias("fines")
    )
    scored_fines = F.transform(
        F.col("fines"),
        lambda c: F.struct(
            c["cent_id"].alias("cent_id"),
            cosine_with_norms(
                F.col("v"), c["cv"], F.col("nv"), c["nc"]
            ).alias("sim"),
        ),
    )
    b_init = F.struct(
        F.lit(-10.0).alias("s"), F.lit(2**62).cast("long").alias("i")
    )

    def _best(acc: Column, x: Column) -> Column:
        wins = (x["sim"] > acc["s"]) | (
            (x["sim"] == acc["s"]) & (x["cent_id"] < acc["i"])
        )
        return F.when(
            wins, F.struct(x["sim"].alias("s"), x["cent_id"].alias("i"))
        ).otherwise(acc)

    best = F.aggregate(scored_fines, b_init, _best)
    return (
        staged.join(F.broadcast(fg_arr), "co_id")
        .withColumn("b", best)
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.col("b.i"),
                F.struct(F.col("b.s"), (-F.col("b.i")).alias("neg")),
            ).alias("cell_id"),
            F.max(F.col("b.s")).alias("cent_sim"),
        )
    )


def ivf_train(
    corpus: DataFrame,
    k: int = NUM_CENTROIDS,
    iters: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    kernel: str = "arrow",
    min_partitions: int | None = None,
) -> DataFrame:
    """Lloyd's k-means for IVF centroids.
    ``min_partitions`` caps the widen() target for small training
    samples (value-invariant; per-stage constants only — round-10
    verdict #6).

    Seeded deterministically (first ``k`` vectors by id).
    ``kernel="arrow"`` (default since the round-9 profile — round-8
    verdict #2) runs each iteration as one Arrow GEMM assignment
    (:func:`flat_assign_arrow`: K×dim matrix in the task closure, no
    shuffle, no interpreted fold — the fold path's n_s·K CodegenFallback
    cosines were the 570 s wall of the trained two-level index at sf100)
    feeding one grouped Arrow mean (:func:`lloyd_cell_means`: n_s slim
    vector rows shuffled once, deterministic id-sorted reduction), then
    collects the k mean rows and rebuilds the centroid literals.
    Centroid values differ from the fold path in final ulps (GEMM vs
    sequential sums) — legitimate because Lloyd means have no bit-stable
    SQL replay anywhere: every consumer is contract-gated and recall is
    pinned by tests.

    ``kernel="fold"`` is the pure-JVM reference: broadcast the current
    centroids as a literal local relation, assign map-side
    (``ivf_assign``), posexplode the assigned vectors and
    partial-aggregate per (cell, dim) — the shuffle carries ``k*dim``
    partial sums, never vectors — then collect the ``k*dim`` means.
    Either way centroids are O(k·dim) metadata, independent of corpus
    size, so the per-iteration collect is the scale-correct pattern
    (Spark MLlib's KMeans does the same).

    ``sample_mod=N`` trains on the deterministic 1/N md5-bucket subsample of
    the corpus (same bucketing family as sample_hash_split) instead of
    assigning the FULL corpus every Lloyd iteration — at 100 TB the
    centroids converge on a few million sampled vectors just as well, and
    each iteration's scan+shuffle shrinks by N×.  Final cell assignment
    (done by the caller) always covers the full corpus.
    """
    if kernel not in ("arrow", "fold"):  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    spark = corpus.sparkSession
    training = corpus
    if sample_mod is not None:
        bucket = (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long")
            % sample_mod
        )
        training = corpus.where(bucket == 0)
    seed = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).cast("long"), as_double(F.col(vec_col)))
        .collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (int(r[0]), [float(x) for x in r[1]]) for r in seed
    ]
    dim = len(cents[0][1])
    schema = "cent_id long, cv array<double>"
    if kernel == "arrow":
        tv = widen(training, min_partitions).select(
            F.col(id_col).cast("long").alias("vec_id"),
            as_double(F.col(vec_col)).alias("v"),
        )
        for _ in range(iters):
            assign = flat_assign_arrow(tv, cents)
            mrows = lloyd_cell_means(assign).collect()
            by_mean = {
                int(r["cent_id"]): [float(x) for x in r["cv"]] for r in mrows
            }
            # empty cells keep their previous centroid
            cents = [(cid, by_mean.get(cid, cv)) for cid, cv in cents]
        return spark.createDataFrame(cents, schema)
    for _ in range(iters):
        cent_df = spark.createDataFrame(cents, schema)
        assign = ivf_assign(training, cent_df, id_col=id_col, vec_col=vec_col)
        means = (
            assign.select("cell_id", F.posexplode(F.col("v")).alias("d", "x"))
            .groupBy("cell_id", "d")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(int(r.cell_id), {})[int(r.d)] = float(r.m)
        # empty cells keep their previous centroid
        cents = [
            (cid, [by_cell[cid][i] for i in range(dim)] if cid in by_cell else cv)
            for cid, cv in cents
        ]
    return spark.createDataFrame(cents, schema)


def _ivf_trained_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    from training_data_ops.operators.scale import (
        parquet_num_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # small-sample partition hint (round-10 verdict #6): sizes the Lloyd
    # sample's parallelism so tiny corpora don't pay 32-task Python stages
    # per iteration (value-invariant).  n comes from the parquet footer —
    # no count-star job (r11 verdict #6); count() fallback is identical.
    n = parquet_num_rows(sf_dir, "embeddings") or emb.count()
    parts_hint = max(4, min(
        spark.sparkContext.defaultParallelism, n // 2 // 25_000 + 1
    ))
    cent = ivf_train(
        emb, sample_mod=2, min_partitions=parts_hint
    )  # a literal local relation (k rows)
    assign = ivf_assign(emb, cent)
    return emb, cent, assign


def sim_ann_ivf_trained_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lloyd-trained IVF ANN neighbor lists themselves (the library
    surface; the registered ``sim_ann_ivf_trained`` wraps this in the
    hash-checkable contract form).  Same probe path as ``sim_ann_ivf``
    with trained cell geometry."""
    emb, cent, assign = _ivf_trained_parts(spark, sf_dir)
    return _ivf_probe_topk(emb, cent, assign)


def _ivf_probe_topk(
    emb: DataFrame, cent: DataFrame, assign: DataFrame
) -> DataFrame:
    q = emb.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )
    probe_sim = cosine(F.col("qv"), F.col("cv"))
    wq = Window.partitionBy("query_id").orderBy(F.col("psim").desc(), F.col("cent_id"))
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "qv", "cent_id", probe_sim.alias("psim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= NPROBE)
        .select("query_id", "qv", F.col("cent_id").alias("cell_id"))
    )
    cand = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), F.col("v"))
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("v")).alias("cos_sim")
    )
    return topk_per_query(scored, TOP_K).select(
        "query_id",
        "neighbor_id",
        trunc6(F.col("cos_sim")).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "sim_ann_ivf_trained",
    f"""
SELECT e.vec_id AS query_id,
       TRUE AS n_neighbors_ok, TRUE AS ranks_ok, TRUE AS sims_sorted,
       TRUE AS no_self, TRUE AS sims_in_range,
       TRUE AS assign_nearest_ok,
       (SELECT count(*) FROM embeddings) AS assign_total,
       {NUM_CENTROIDS} AS centroid_count,
       TRUE AS centroids_finite_ok
FROM embeddings e WHERE e.vec_id < {NUM_QUERIES}
""",
    doc=f"IVF ANN with Lloyd-trained centroids ({NUM_CENTROIDS} cells, 3 iters, "
    f"nprobe={NPROBE}) in hash-checkable CONTRACT form (the sketch_stats "
    "pattern): Lloyd's float means have no bit-stable SQL replay, so the "
    "query emits per-query and corpus-global self-consistency booleans the "
    "oracle pins to TRUE plus data-derived counts the oracle recomputes — "
    f"exactly top-{TOP_K} neighbors per query with contiguous ranks and "
    "non-increasing similarities, no self-matches, sims in [-1,1]; every "
    "corpus vector's max_by cell assignment agrees with an independent "
    "row_number-window re-derivation (pins the tie-break semantics); "
    "assignment covers count(embeddings) rows; all centroid components "
    "finite. The neighbor lists themselves are the library surface "
    "(sim_ann_ivf_trained_neighbors; recall pinned vs exact top-k in "
    "tests/test_pipeline_ops.py). Training runs on the deterministic 1/2 "
    "md5-bucket sample (the scale posture: Lloyd iterations cost a "
    "fraction of a corpus scan each; at real corpus sizes the divisor "
    "grows with n); the final assignment covers the full corpus.",
)
def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, cent, assign = _ivf_trained_parts(spark, sf_dir)
    # the full-corpus assignment feeds BOTH the probe path (candidate join)
    # and the global nearest-centroid cross-check; persist so the final plan
    # computes it once instead of once per branch
    assign = assign.persist()
    nb = _ivf_probe_topk(emb, cent, assign)

    # independent re-derivation of nearest-centroid assignment via a
    # row_number window (vs ivf_assign's map-side max_by) — same sim
    # expression and tie-break, different physical operator
    wv = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("cent_id"))
    assign_w = (
        widen(emb)
        .select("vec_id", as_double(F.col("embedding")).alias("v2"))
        .join(F.broadcast(cent))
        .select("vec_id", "cent_id", cosine(F.col("v2"), F.col("cv")).alias("s"))
        .withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell_w"))
    )
    glob = (
        assign.join(assign_w, "vec_id")
        .agg(
            F.bool_and(F.col("cell_id") == F.col("cell_w")).alias(
                "assign_nearest_ok"
            ),
            F.count("*").alias("assign_total"),
        )
        .crossJoin(
            cent.agg(
                F.count("*").cast("int").alias("centroid_count"),
                F.bool_and(
                    F.expr("forall(cv, x -> x IS NOT NULL AND NOT isnan(x))")
                ).alias("centroids_finite_ok"),
            )
        )
    )

    per_q = nb.groupBy("query_id").agg(
        F.count("*").alias("n"),
        F.array_sort(
            F.collect_list(F.struct(F.col("rank"), F.col("cos_sim")))
        ).alias("rs"),
        F.bool_and(F.col("neighbor_id") != F.col("query_id")).alias("no_self"),
        F.bool_and(
            (F.col("cos_sim") >= -1.0 - 1e-9) & (F.col("cos_sim") <= 1.0 + 1e-9)
        ).alias("sims_in_range"),
    )
    qids = emb.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        qids.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n") == TOP_K, F.lit(False)).alias("n_neighbors_ok"),
            F.coalesce(
                F.expr(f"transform(rs, s -> s.rank) = sequence(1, {TOP_K})"),
                F.lit(False),
            ).alias("ranks_ok"),
            F.coalesce(
                F.expr(
                    "forall(zip_with("
                    " slice(transform(rs, s -> s.cos_sim), 1, size(rs) - 1),"
                    " slice(transform(rs, s -> s.cos_sim), 2, size(rs) - 1),"
                    " (x, y) -> x >= y), b -> b)"
                ),
                F.lit(False),
            ).alias("sims_sorted"),
            F.coalesce(F.col("no_self"), F.lit(False)).alias("no_self"),
            F.coalesce(F.col("sims_in_range"), F.lit(False)).alias("sims_in_range"),
        )
        .crossJoin(F.broadcast(glob))
    )


@register(
    "sim_topk_cosine",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {NUM_QUERIES}),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {duck_cosine('q.qv', 'c.embedding')} AS cos_sim
    FROM q JOIN embeddings c ON c.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {duck_trunc6('cos_sim')} AS cos_sim, rank::int AS rank
FROM ranked WHERE rank <= {TOP_K}
""",
    doc=f"Brute-force exact cosine top-{TOP_K} for {NUM_QUERIES} query vectors "
    "(broadcast queries, one linear corpus scan).",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < NUM_QUERIES)
    return topk_cosine(emb, queries, TOP_K).withColumn("rank", F.col("rank").cast("int"))


def _ivf_oracle(k: int = TOP_K) -> str:
    return f"""
WITH cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < {NUM_CENTROIDS}),
assign AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cent_id AS cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {duck_cosine('e.embedding', 'c.cv')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {NUM_QUERIES}),
probes AS (
    SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cent_id AS cell_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {duck_cosine('q.qv', 'c.cv')} DESC, c.cent_id) AS rn
        FROM q CROSS JOIN cent c
    ) WHERE rn <= {NPROBE}
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON a.cell_id = p.cell_id
    WHERE a.vec_id <> p.query_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           {duck_cosine('q2.embedding', 'e2.embedding')} AS cos_sim
    FROM cand
    JOIN embeddings q2 ON q2.vec_id = cand.query_id
    JOIN embeddings e2 ON e2.vec_id = cand.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {duck_trunc6('cos_sim')} AS cos_sim, rank::int AS rank
FROM ranked WHERE rank <= {k}
"""


def ivf_index_save(emb: DataFrame, out_dir: str) -> None:
    """Persist an IVF index: centroids to ``{out_dir}/centroids`` and the
    full assignment (vec_id, v, cell_id) to ``{out_dir}/assign``
    PARTITIONED BY cell_id — the layout that makes a probe read touch only
    the nprobe probed cells' files (partition pruning), the 'build once,
    query many' posture: at 100 TB the corpus scan + assignment shuffle is
    paid once at build time, and every subsequent query reads
    ~nprobe/C of the index bytes."""
    from concurrent.futures import ThreadPoolExecutor

    cent = emb.where(F.col("vec_id") < NUM_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), as_double(F.col("embedding")).alias("cv")
    )
    assign = ivf_assign(emb, cent)

    # the K-row centroid write shares nothing with the corpus-sized
    # assignment write — overlap them (guide §2.6; disjoint dirs, no
    # session-conf mutation on either side)
    def _cent() -> None:
        cent.write.mode("overwrite").parquet(f"{out_dir}/centroids")

    with ThreadPoolExecutor(max_workers=1) as pool:
        c_fut = pool.submit(_cent)
        assign.write.mode("overwrite").partitionBy("cell_id").parquet(
            f"{out_dir}/assign"
        )
        c_fut.result()


def ivf_index_load(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignment) back from :func:`ivf_index_save`'s layout."""
    cent = spark.read.parquet(f"{out_dir}/centroids")
    assign = spark.read.parquet(f"{out_dir}/assign").select(
        "vec_id", F.col("cell_id").cast("long").alias("cell_id"), "v"
    )
    return cent, assign


@register(
    "sim_ann_ivf_persisted",
    _ivf_oracle(),
    doc=f"IVF ANN top-{TOP_K} answered from a PERSISTED index — the 'build "
    "once, query many' production shape: ivf_index_save writes centroids "
    "plus the (vec_id, v, cell_id) assignment partitioned by cell_id, and "
    "the probe walk runs entirely against the reloaded parquet relations "
    "(never the original corpus — only the query vectors come from it).  "
    "Answers must hash-match sim_ann_ivf's oracle exactly: doubles "
    "round-trip parquet bit-exactly, so index persistence is lossless by "
    "construction and this gate proves it.  The cell_id partitioning is "
    "the scale story: a probe of nprobe cells reads ~nprobe/C of the "
    "index files (partition pruning / DPP on the candidate join) instead "
    "of rescanning 100 TB of embeddings per query batch.",
)
def sim_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="spark_graft_ivfidx_")
    try:
        _t0 = time.perf_counter()
        ivf_index_save(emb, work)
        record_phase("build_s", time.perf_counter() - _t0)
        cent, assign = ivf_index_load(spark, work)
        out = _ivf_probe_topk(emb, cent, assign)
        # materialize the queries*k-sized result so the temp index dir
        # can be removed (the relation is lazily read from it)
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ivf_index_append(spark: SparkSession, out_dir: str, new_batch: DataFrame) -> None:
    """Assign ``new_batch`` through the EXISTING persisted centroids and
    append to the cell-partitioned assignment — the incremental-ingest
    twin of :func:`ivf_index_save` (round-7 verdict #6, the
    dedup_incremental discipline applied to ANN): nearest-centroid
    assignment is per-vector against fixed centroids, so
    assign(base) ∪ assign(batch) ≡ assign(base ∪ batch) row-for-row and
    the appended index answers probes exactly like a rebuild on the
    union (hash-pinned by ``sim_ann_ivf_incremental``).  The append
    writes only the batch's rows into the existing cell_id=... dirs —
    at 100 TB a daily ingest touches batch-sized bytes, never the
    standing index."""
    cent = spark.read.parquet(f"{out_dir}/centroids")
    assign = ivf_assign(new_batch, cent)
    assign.write.mode("append").partitionBy("cell_id").parquet(
        f"{out_dir}/assign"
    )


#: modulus of the deterministic md5 ingest split used by
#: sim_ann_ivf_incremental: bucket 0 (≈20% of vectors, centroid ids
#: excepted) arrives as the "new batch" appended to the standing index.
IVF_INCR_MOD = 5


@register(
    "sim_ann_ivf_incremental",
    _ivf_oracle(),
    doc=f"Incremental IVF index maintenance (round-7 verdict #6): a "
    f"deterministic md5 bucket (~1/{IVF_INCR_MOD} of the corpus, "
    "centroid ids excepted) plays the newly-ingested batch; the standing "
    "index is built from the base cohort (ivf_index_save), the batch is "
    "drift-gated with cohort_drift_flags — the SAME exact-integer "
    "guardrail embedding_drift_int8 runs on ingest, decided on the "
    "cross-dim fraction (retrain iff >1/3 of dims flag: single-dim "
    "flags are small-batch sampling noise, a real encoder change "
    "shifts many dims coherently) — and, undrifted, ASSIGNED THROUGH "
    "THE EXISTING CENTROIDS and appended into the cell-partitioned "
    "parquet (ivf_index_append); a drifted batch takes the retrain "
    "branch instead (Lloyd on the union — exercised on crafted shifted "
    "data in tests/test_pipeline_ops.py, where this synthetic corpus "
    "legitimately never drifts past the fraction).  The oracle is "
    "sim_ann_ivf's on the FULL union: fixed-centroid assignment is "
    "per-vector, so append ≡ rebuild row-for-row and the probe answers "
    "hash-match exactly — the gate that makes incremental ingest safe "
    "to trust.",
)
def sim_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % IVF_INCR_MOD
    )
    is_base = (F.col("vec_id") < NUM_CENTROIDS) | (bucket != 0)
    base = emb.where(is_base)
    batch = emb.where(~is_base)
    work = tempfile.mkdtemp(prefix="spark_graft_ivfincr_")
    try:
        # the drift gate (one emb pass + dims-sized agg) shares nothing
        # with the standing-index build — overlap them on a second driver
        # thread (guide §2.6, the dedup_semantic_incremental pattern);
        # neither side mutates session conf.
        # Gate rule: retrain iff MORE THAN A THIRD of dims flag — a small
        # batch flags single dims by pure sampling noise (measured 9-10/64
        # at the ~100-row sf0.01 batch, 0/64 once the batch reaches ~400
        # rows), while an encoder change shifts MANY dims coherently (the
        # crafted +0.5 shift in tests flags ~all 64): the per-dim
        # threshold detects, the cross-dim fraction decides
        from concurrent.futures import ThreadPoolExecutor

        def _gate():
            return (
                cohort_drift_flags(widen(emb), is_base)
                .agg(
                    F.sum(F.col("drifted").cast("long")).alias("n_drifted"),
                    F.count("*").alias("n_dims"),
                )
                .first()
            )

        with ThreadPoolExecutor(max_workers=1) as pool:
            gate_fut = pool.submit(_gate)
            ivf_index_save(base, work)
            row = gate_fut.result()
        if 3 * row["n_drifted"] <= row["n_dims"]:
            ivf_index_append(spark, work, batch)
        else:  # drifted ingest: retrain on the union (tests craft this)
            cent = ivf_train(emb, sample_mod=2)
            cent.write.mode("overwrite").parquet(f"{work}/centroids")
            ivf_assign(emb, cent).write.mode("overwrite").partitionBy(
                "cell_id"
            ).parquet(f"{work}/assign")
        cent, assign = ivf_index_load(spark, work)
        out = _ivf_probe_topk(emb, cent, assign)
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lsh_planes(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = LSH_TABLES,
    bits: int = LSH_BITS,
    base: int = LSH_PLANE_BASE,
) -> DataFrame:
    """Derive the L*B hyperplanes from fixed corpus rows — pure DataFrame ops
    (no driver collect), tiny result (one row per plane), meant to be
    broadcast.  ``weight`` is the bit's place value ``2^(p mod B)``;
    ``table_id`` is ``p div B``.  ``tables``/``bits`` are the recall/cost
    knobs: same-bucket probability per table is ``(1 - θ/π)^bits``, overall
    recall ``1 - (1 - p)^tables``."""
    num_planes = tables * bits
    off = F.col(id_col) - F.lit(base)
    pl = emb.where(
        (F.col(id_col) >= base) & (F.col(id_col) < base + 2 * num_planes)
    ).select(
        (off / 2).cast("int").alias("p"),
        (off % 2).alias("side"),
        as_double(F.col(vec_col)).alias("v"),
    )
    return (
        pl.groupBy("p")
        .agg(
            F.first(F.when(F.col("side") == 0, F.col("v")), ignorenulls=True).alias("av"),
            F.first(F.when(F.col("side") == 1, F.col("v")), ignorenulls=True).alias("bv"),
        )
        .select(
            (F.col("p") / bits).cast("int").alias("table_id"),
            F.pow(F.lit(2.0), F.col("p") % bits).cast("long").alias("weight"),
            # pre-differenced normal: the sign test dot(v,a)-dot(v,b) >= 0 is
            # algebraically dot(v, a-b) >= 0; differencing once per PLANE
            # halves the per-(vector, plane) fold work — the oracle twin
            # computes the identical differenced form, so parity is exact
            F.zip_with("av", "bv", lambda x, y: x - y).alias("dv"),
        )
    )


def lsh_signatures(
    vecs: DataFrame, planes: DataFrame, *, tables: int = LSH_TABLES
) -> DataFrame:
    """(vec_id, v) → (vec_id, v, table_id, bucket), one row per table.

    The broadcast plane join and the bit tests are map-side; the single
    shuffle carries ONE partially-aggregated row per vector (the per-table
    bit sums combine map-side), not L*B bit rows.  The sign test
    ``dot(v, av - bv) >= 0`` uses the pre-differenced plane normal (one
    identical-fold dot per (vector, plane)), bit-reproducible in the DuckDB
    oracle twin which folds the same differenced form.
    """
    bit = dot(F.col("v"), F.col("dv")) >= 0
    contrib = F.when(bit, F.col("weight")).otherwise(F.lit(0).cast("long"))
    per_table = [
        F.sum(
            F.when(F.col("table_id") == t, F.col("c")).otherwise(F.lit(0).cast("long"))
        ).alias(f"b{t}")
        for t in range(tables)
    ]
    agg = (
        vecs.join(F.broadcast(planes))
        .select("vec_id", "v", "table_id", contrib.alias("c"))
        .groupBy("vec_id")
        .agg(F.first("v").alias("v"), *per_table)
    )
    return agg.select(
        "vec_id",
        "v",
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(tables)])).alias(
            "table_id", "bucket"
        ),
    )


def _lsh_oracle() -> str:
    return f"""
WITH pl AS (
    SELECT (t.p // {LSH_BITS}) AS table_id,
           (1 << (t.p % {LSH_BITS}))::bigint AS weight,
           list_transform(range(1, len(a.embedding) + 1),
                          i -> a.embedding[i]::double - b.embedding[i]::double) AS dv
    FROM (SELECT unnest(range(0, {LSH_NUM_PLANES})) AS p) t
    JOIN embeddings a ON a.vec_id = {LSH_PLANE_BASE} + 2 * t.p
    JOIN embeddings b ON b.vec_id = {LSH_PLANE_BASE} + 2 * t.p + 1
),
sigs AS (
    SELECT e.vec_id, pl.table_id,
           sum(CASE WHEN {duck_dot('e.embedding', 'pl.dv')} >= 0
                    THEN pl.weight ELSE 0 END)::bigint AS bucket
    FROM embeddings e CROSS JOIN pl
    GROUP BY 1, 2
),
qs AS (SELECT vec_id AS query_id, table_id, bucket FROM sigs WHERE vec_id < {NUM_QUERIES}),
cand AS (
    SELECT DISTINCT qs.query_id, s.vec_id AS neighbor_id
    FROM qs JOIN sigs s USING (table_id, bucket)
    WHERE s.vec_id <> qs.query_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           {duck_cosine('q.embedding', 'n.embedding')} AS cos_sim
    FROM cand c
    JOIN embeddings q ON q.vec_id = c.query_id
    JOIN embeddings n ON n.vec_id = c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {duck_trunc6('cos_sim')} AS cos_sim, rank::int AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "sim_ann_lsh",
    _lsh_oracle(),
    doc=f"Random-hyperplane LSH ANN top-{TOP_K}: {LSH_TABLES} tables x "
    f"{LSH_BITS} sign-bits, broadcast planes, one signature shuffle — the "
    "training-free scale path (complements IVF).",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    planes = lsh_planes(emb)
    vecs = widen(emb).select("vec_id", as_double(F.col("embedding")).alias("v"))
    sigs = lsh_signatures(vecs, planes)
    qs = sigs.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "table_id", "bucket"
    )
    cand = (
        sigs.join(F.broadcast(qs), ["table_id", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.first("qv").alias("qv"), F.first("v").alias("cv"))
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
    )
    return topk_per_query(scored, TOP_K).select(
        "query_id",
        "neighbor_id",
        trunc6(F.col("cos_sim")).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "sim_ann_ivf",
    _ivf_oracle(),
    doc=f"IVF ANN top-{TOP_K}: {NUM_CENTROIDS} cells, nprobe={NPROBE} — broadcast "
    "centroids, one shuffle on cell_id; search cost ~N*nprobe/C (the 100 TB path).",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < NUM_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), as_double(F.col("embedding")).alias("cv")
    )
    assign = ivf_assign(emb, cent)

    q = emb.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )
    probe_sim = cosine(F.col("qv"), F.col("cv"))
    wq = Window.partitionBy("query_id").orderBy(F.col("psim").desc(), F.col("cent_id"))
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "qv", "cent_id", probe_sim.alias("psim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= NPROBE)
        .select("query_id", "qv", F.col("cent_id").alias("cell_id"))
    )
    cand = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), F.col("v"))
    )
    sim = cosine(F.col("qv"), F.col("v"))
    scored = cand.select("query_id", "neighbor_id", sim.alias("cos_sim"))
    return (
        topk_per_query(scored, TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            trunc6(F.col("cos_sim")).alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: two-level IVF: target in-cell population (cells = max(NUM_CENTROIDS,
#: n div IVF2_CELL_TARGET)).  A fixed 16-cell grid stops pruning as the
#: corpus grows (search cost N·nprobe/C degrades to a near-full scan);
#: growing C with n keeps the probed candidate set ~nprobe·B per query,
#: and the coarse quantizer keeps assignment affordable at any C
#: (n·(K + C/K) ≈ n·2√C instead of n·C) — the FAISS coarse-quantizer
#: shape, shared with dedup_semantic_2level via two_level_index/assign.
IVF2_CELL_TARGET = 64


def ivf2_cells_for(n: int) -> int:
    return max(NUM_CENTROIDS, n // IVF2_CELL_TARGET)


def _ivf_2level_oracle(k: int = TOP_K) -> str:
    return f"""
WITH params AS (
    SELECT c, greatest(4,
                    t - CASE WHEN t * t > c THEN 1 ELSE 0 END
                      + CASE WHEN (t + 1) * (t + 1) <= c THEN 1 ELSE 0 END
           )::bigint AS k
    FROM (SELECT c, floor(sqrt(c::double))::bigint AS t FROM (
          SELECT greatest({NUM_CENTROIDS}, n // {IVF2_CELL_TARGET})::bigint AS c
          FROM (SELECT count(*) AS n FROM embeddings)))
),
coarse AS (
    SELECT vec_id AS co_id, embedding AS qv
    FROM embeddings, params WHERE vec_id < params.k
),
fine AS (
    SELECT vec_id AS cent_id, embedding AS cv
    FROM embeddings, params WHERE vec_id < params.c
),
fine_grouped AS MATERIALIZED (
    -- fine centroid j < k anchors its own coarse cell (orphan-proofing,
    -- same CASE rule as two_level_index)
    SELECT g.cent_id,
           CASE WHEN g.cent_id < p.k THEN g.cent_id ELSE g.co_id END AS co_id,
           g.cv
    FROM (
        SELECT cent_id, co_id, cv FROM (
            SELECT f.cent_id, c.co_id, f.cv,
                   row_number() OVER (PARTITION BY f.cent_id
                       ORDER BY {duck_cosine('f.cv', 'c.qv')} DESC, c.co_id) AS rn
            FROM fine f CROSS JOIN coarse c) WHERE rn = 1
    ) g, params p
),
v_coarse AS MATERIALIZED (
    SELECT vec_id, co_id FROM (
        SELECT e.vec_id, c.co_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {duck_cosine('e.embedding', 'c.qv')} DESC, c.co_id
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c) WHERE rn = 1
),
assign AS MATERIALIZED (
    SELECT vec_id, cell_id FROM (
        SELECT vc.vec_id, fg.cent_id AS cell_id,
               row_number() OVER (PARTITION BY vc.vec_id
                   ORDER BY {duck_cosine('e.embedding', 'fg.cv')} DESC, fg.cent_id
               ) AS rn
        FROM v_coarse vc
        JOIN embeddings e ON e.vec_id = vc.vec_id
        JOIN fine_grouped fg ON fg.co_id = vc.co_id
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {NUM_QUERIES}),
qco AS (
    SELECT query_id, co_id FROM (
        SELECT q.query_id, c.co_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {duck_cosine('q.qv', 'c.qv')} DESC, c.co_id) AS rn
        FROM q CROSS JOIN coarse c) WHERE rn = 1
),
probes AS (
    SELECT query_id, cell_id FROM (
        SELECT qc.query_id, fg.cent_id AS cell_id,
               row_number() OVER (PARTITION BY qc.query_id
                   ORDER BY {duck_cosine('q2.qv', 'fg.cv')} DESC, fg.cent_id
               ) AS rn
        FROM qco qc
        JOIN q q2 ON q2.query_id = qc.query_id
        JOIN fine_grouped fg ON fg.co_id = qc.co_id
    ) WHERE rn <= {NPROBE}
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON a.cell_id = p.cell_id
    WHERE a.vec_id <> p.query_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           {duck_cosine('q2.embedding', 'e2.embedding')} AS cos_sim
    FROM cand
    JOIN embeddings q2 ON q2.vec_id = cand.query_id
    JOIN embeddings e2 ON e2.vec_id = cand.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {duck_trunc6('cos_sim')} AS cos_sim,
       rank::int AS rank
FROM ranked WHERE rank <= {k}
"""


@register(
    "sim_ann_ivf_2level",
    _ivf_2level_oracle(),
    doc=f"Two-level (coarse-quantizer) IVF ANN top-{TOP_K} — the corpus-"
    f"scaled index the fixed-{NUM_CENTROIDS}-cell sim_ann_ivf cannot be: "
    f"C = max({NUM_CENTROIDS}, n/{IVF2_CELL_TARGET}) fine cells keep the "
    f"probed candidate set ~nprobe·{IVF2_CELL_TARGET} per query at ANY "
    "corpus size (a fixed grid degrades to a near-full scan as n grows), "
    "and assignment through K = isqrt(C) coarse cells costs n·2√C "
    "instead of the n·C that made growing C unaffordable for the flat "
    "form.  Search: query → top-1 coarse cell → top-nprobe fine cells "
    "within it → exact-cosine rerank of the candidates (vectors "
    "re-attached by uniform id joins).  Shares two_level_index/"
    "two_level_assign with dedup_semantic_2level; the oracle replays "
    "both assignment stages, the probe walk, and the rank with identical "
    "fold order and tie-breaks.  Plan: two slim per-vector shuffles for "
    "the index, broadcast-sized probe tables, one cell_id candidate "
    "join.  Hash-gate residual: the default arrow index kernel computes "
    "the C×K fine→coarse dots by GEMM, whose summation order differs "
    "from the oracle's sequential fold — near-ties below ~1e-16 "
    "relative could argmax differently (see two_level_index docstring; "
    "1e-14 near-tie parity is pinned, large generated corpora should "
    "one-time spot-check arrow-vs-fold fine_grouped equality).",
)
def sim_ann_ivf_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf2_cells_for(emb.count())
    k = max(4, math.isqrt(cells))
    coarse, fine_grouped = two_level_index(emb, cells=cells, k=k)
    assign = two_level_assign(emb, coarse, fine_grouped).select(
        "vec_id", "cell_id"
    )
    return _two_level_probe_topk(emb, coarse, fine_grouped, assign)


def _two_level_probe_topk(
    emb: DataFrame,
    coarse: DataFrame,
    fine_grouped: DataFrame,
    assign: DataFrame,
    *,
    coarse_probes: int = 1,
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """The two-level search walk, shared by the corpus-slice and the
    Lloyd-trained index: query → top-``coarse_probes`` coarse cells →
    top-nprobe fine cells across them → exact-cosine rerank of the
    candidate cells' members.  Multi-probing the coarse level does NOT
    grow the candidate volume (still nprobe fine cells after the rank) —
    it only widens the fine-cell pool they are chosen from, which is
    what recovers recall when trained coarse boundaries cut through a
    query's true-neighbor region (measured +0.08 recall@10 at sf0.01 on
    the trained index).  ``coarse``/``fine_grouped`` in two_level_index
    shape, ``assign`` = (vec_id, cell_id)."""
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    q = emb.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    ).withColumn("nqv", norm(F.col("qv")))
    # query → coarse (top-1): queries are a handful of rows, windows fine
    qsim = cosine_with_norms(F.col("qv"), F.col("qv2"), F.col("nqv"), F.col("nq"))
    wq = Window.partitionBy("query_id").orderBy(F.col("psim").desc(), F.col("co_id"))
    qco = (
        q.join(F.broadcast(coarse.select(
            "co_id", F.col("qv").alias("qv2"), "nq")))
        .select("query_id", "qv", "nqv", "co_id", qsim.alias("psim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= coarse_probes)
        .select("query_id", "qv", "nqv", "co_id")
    )
    # query → top-nprobe fine cells WITHIN its coarse cell
    fsim = cosine_with_norms(F.col("qv"), F.col("cv"), F.col("nqv"), F.col("nc"))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("psim").desc(), F.col("cent_id")
    )
    probes = (
        qco.join(F.broadcast(fine_grouped), "co_id")
        .select("query_id", "qv", "nqv", "cent_id", fsim.alias("psim"))
        .withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") <= NPROBE)
        .select("query_id", "qv", "nqv", F.col("cent_id").alias("cell_id"))
    )
    cand = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "nqv", F.col("vec_id").alias("neighbor_id"))
    )
    # ``neighbors`` overrides the rerank-vector source (the persisted-index
    # serve path reranks from the index's own stored vectors, never
    # rescanning the corpus); default reads them from ``emb``
    nb_src = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("nv"),
    ) if neighbors is None else neighbors
    nb = nb_src.withColumn("nnv", norm(F.col("nv")))
    sim = cosine_with_norms(F.col("qv"), F.col("nv"), F.col("nqv"), F.col("nnv"))
    scored = cand.join(nb, "neighbor_id").select(
        "query_id", "neighbor_id", sim.alias("cos_sim")
    )
    return topk_per_query(scored, TOP_K).select(
        "query_id",
        "neighbor_id",
        trunc6(F.col("cos_sim")).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


def _two_level_assign_carry_v(
    emb: DataFrame,
    coarse: DataFrame,
    fine_grouped: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(co_id, vec_id, cell_id, v)`` — the INDEX-BUILD variant of
    :func:`two_level_assign_arrow` (coarse_probes=1): identical cell
    SELECTION (same stage-1 argsort, same cogrouped stage-2 argmax, same
    tie rule), but the vector rides through stage 2 and out, and the
    ``cent_sim`` re-score / per-vector argmax / vector re-join are all
    skipped — the index stores (v, cell) rows, not sims.  The first cut
    of :func:`two_level_index_save` re-joined v onto the slim assignment
    by vec_id and then ``repartition("co_id")``-ed for the partitioned
    write — two full-corpus vector shuffles the sf100 sweep charged at
    ~15 s/decade-row; here the cogroup's own co_id shuffle IS the write
    partitioning, so the build pays exactly one vector shuffle."""
    import numpy as np
    import pandas as pd

    co_rows = sorted(
        (int(r["co_id"]), np.asarray(r["qv"], dtype=np.float64))
        for r in coarse.select("co_id", "qv").collect()
    )
    co_ids = np.array([i for i, _ in co_rows], dtype=np.int64)
    CM = np.stack([v for _, v in co_rows])
    CMn = np.maximum(np.sqrt((CM * CM).sum(axis=1)), 1e-300)

    def _stage1(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            Vn = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
            S = (V @ CM.T) / (Vn[:, None] * CMn[None, :])
            top = np.argsort(-S, axis=1, kind="stable")[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "co_id": co_ids[top],
                    "v": pdf["v"],
                }
            )

    v = widen(emb).select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    probes = v.mapInPandas(_stage1, "vec_id long, co_id long, v array<double>")

    def _stage2(key, probes_pdf, fine_pdf):
        if not len(probes_pdf) or not len(fine_pdf):
            return pd.DataFrame(
                {"co_id": [], "vec_id": [], "cell_id": [], "v": []}
            ).astype({"co_id": "int64", "vec_id": "int64", "cell_id": "int64"})
        fine_pdf = fine_pdf.sort_values("cent_id")
        ids = fine_pdf["cent_id"].to_numpy(dtype=np.int64)
        FM = np.stack(fine_pdf["cv"].to_numpy())
        FMn = np.maximum(np.sqrt((FM * FM).sum(axis=1)), 1e-300)
        V = np.stack(probes_pdf["v"].to_numpy())
        Vn = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
        S = (V @ FM.T) / (Vn[:, None] * FMn[None, :])
        best = np.argmax(S, axis=1)  # first max = lowest cent_id on ties
        return pd.DataFrame(
            {
                "co_id": np.full(len(probes_pdf), int(key[0]), dtype=np.int64),
                "vec_id": probes_pdf["vec_id"].to_numpy(),
                "cell_id": ids[best],
                "v": probes_pdf["v"].to_numpy(),
            }
        )

    return (
        probes.groupBy("co_id")
        .cogroup(fine_grouped.select("co_id", "cent_id", "cv").groupBy("co_id"))
        .applyInPandas(
            _stage2, "co_id long, vec_id long, cell_id long, v array<double>"
        )
    )


def two_level_index_save(
    emb: DataFrame, out_dir: str, *, n: int | None = None
) -> None:
    """Persist the corpus-scaled two-level IVF index — the production
    serve layout (round-8 verdict #4).  Three relations:

    - ``{out_dir}/coarse``: (co_id, qv, nq) — K = isqrt(C) rows.
    - ``{out_dir}/fine``: (cent_id, co_id, cv, nc) — C = max(16, n/64)
      rows.
    - ``{out_dir}/assign``: (vec_id, v, cell_id) PARTITIONED BY co_id and
      SORTED WITHIN partitions by cell_id.  co_id directories (K = √C of
      them — metadata-sized at any corpus) keep the file count sane where
      cell_id directories would mean one ~64-vector file per fine cell
      (31k dirs at generated sf100, millions at 100 TB — the small-files
      antipattern); the cell_id sort gives every row group a tight
      cell_id min/max, so a probe read prunes partitions to the query's
      ONE coarse cell and row-groups to its nprobe fine cells.

    Assignment runs through :func:`_two_level_assign_carry_v` — selection
    identical to the oracle-gated :func:`two_level_assign` kernel, with
    the vector carried in-band so the build pays exactly ONE vector
    shuffle (the cogroup's co_id exchange, which is also the write
    partitioning); every subsequent probe reads ~nprobe·(n/C) rows."""
    import math

    from concurrent.futures import ThreadPoolExecutor

    # callers with a plain parquet source pass the footer-exact n (r11
    # verdict #6: one fewer count-star job); the grid is identical
    cells = ivf2_cells_for(n if n is not None else emb.count())
    k = max(4, math.isqrt(cells))
    coarse, fine_grouped = two_level_index(emb, cells=cells, k=k)

    # the K/C-row quantizer writes share nothing with the corpus-sized
    # assignment chain — overlap them (guide §2.6, the
    # semantic_index_save pattern; disjoint dirs, no conf mutation)
    def _quantizers() -> None:
        coarse.write.mode("overwrite").parquet(f"{out_dir}/coarse")
        fine_grouped.select("cent_id", "co_id", "cv", "nc").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/fine")

    with ThreadPoolExecutor(max_workers=1) as pool:
        q_fut = pool.submit(_quantizers)
        (
            _two_level_assign_carry_v(emb, coarse, fine_grouped)
            .sortWithinPartitions("co_id", "cell_id")
            # stored as float32 — the embeddings' native wire format, so
            # the double→float→double round-trip is bit-exact for them
            # (halves index bytes; a double-NATIVE corpus would lose
            # precision here and should widen the stored type)
            .withColumn("v", F.col("v").cast("array<float>"))
            .write.mode("overwrite")
            .partitionBy("co_id")
            .parquet(f"{out_dir}/assign")
        )
        q_fut.result()


def two_level_index_load(
    spark: SparkSession, out_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(coarse, fine_grouped, assign) back from
    :func:`two_level_index_save`'s layout; assign carries (vec_id, v,
    cell_id, co_id) so consumers can join/prune on either level."""
    coarse = spark.read.parquet(f"{out_dir}/coarse")
    fine_grouped = spark.read.parquet(f"{out_dir}/fine")
    assign = spark.read.parquet(f"{out_dir}/assign").select(
        "vec_id",
        as_double(F.col("v")).alias("v"),
        F.col("cell_id").cast("long").alias("cell_id"),
        F.col("co_id").cast("long").alias("co_id"),
    )
    return coarse, fine_grouped, assign


@register(
    "streaming_ann_lookup",
    _ivf_2level_oracle(1),
    doc="The reference's lookup-join semantics (HttpLookupTableSource: "
    "enrich a stream row-by-row against a cached dimension) applied to "
    "VECTOR keys: a stream of query embeddings is enriched per microbatch "
    "with its nearest corpus neighbor from a STANDING persisted "
    f"CORPUS-SCALED two-level IVF index (C = max(16, n/{IVF2_CELL_TARGET}) "
    f"fine cells under K = isqrt(C) coarse cells, nprobe={NPROBE} — "
    "round-8 verdict #4: the old fixed-16-cell index made every "
    "microbatch's candidate join read ~n/4 of the corpus; this one reads "
    f"~nprobe·{IVF2_CELL_TARGET} candidate rows per query at ANY corpus "
    "size).  The probe walk is fully STATELESS per stream row: top-1 "
    "coarse cell via one array_sort over the K-struct coarse array (a "
    "ONE-ROW static relation cross-broadcast onto the stream — K·dim "
    "doubles, the broadcast-budget class, no giant literal codegen), "
    "then top-nprobe fine cells via the probed cell's pre-grouped fine "
    "array (co_id-keyed broadcast join, ~√C structs per row), both with "
    "the house (sim DESC, id ASC) tie rule; candidates come from a "
    "stream-static join on (co_id, cell_id) against the co_id-partitioned "
    "assign parquet, and the ONLY stateful op is the single top-1 max_by "
    "aggregation Structured Streaming allows.  Oracle = the two-level "
    "walk at rank 1: streaming enrich ≡ sim_ann_ivf_2level's rank-1 row "
    "exactly (pinned in tests/test_retrieval_phrase.py).  The full-cache "
    "discipline (refresh by swapping the index dir) carries over "
    "unchanged.",
)
def streaming_ann_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        finalize_memory_sink,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    raw_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    work = tempfile.mkdtemp(prefix="spark_graft_ivfstream_")
    try:
        _t0 = time.perf_counter()
        two_level_index_save(
            emb, work, n=parquet_num_rows(sf_dir, "embeddings")
        )
        record_phase("build_s", time.perf_counter() - _t0)
        coarse, fine_grouped, assign = two_level_index_load(spark, work)
        # ONE-row static relations for the stateless per-row shortlist:
        # the K coarse structs as one array; each coarse cell's ~√C fine
        # structs as one co_id-keyed array row.  Both broadcast.
        carr = coarse.agg(
            F.collect_list(F.struct("co_id", "qv", "nq")).alias("cents")
        )
        fins = fine_grouped.groupBy("co_id").agg(
            F.collect_list(F.struct("cent_id", "cv", "nc")).alias("fines")
        )
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .where(F.col("vec_id") < NUM_QUERIES)
            .select(
                F.col("vec_id").alias("query_id"),
                as_double(F.col("embedding")).alias("qv"),
            )
            .withColumn("nqv", norm(F.col("qv")))
        )
        # stage 1: top-1 coarse cell — array_sort by (-sim, co_id), the
        # max_by(struct(sim, -id)) rule on bit-equal candidates
        coarse_scored = F.transform(
            F.col("cents"),
            lambda c: F.struct(
                (
                    -cosine_with_norms(
                        F.col("qv"), c["qv"], F.col("nqv"), c["nq"]
                    )
                ).alias("neg"),
                c["co_id"].alias("co_id"),
            ),
        )
        with_co = (
            stream.crossJoin(F.broadcast(carr))
            .withColumn(
                "co_id",
                F.element_at(F.array_sort(coarse_scored), 1)["co_id"],
            )
            .drop("cents")
        )
        # stage 2: top-nprobe fine cells WITHIN the probed coarse cell
        fine_scored = F.transform(
            F.col("fines"),
            lambda f: F.struct(
                (
                    -cosine_with_norms(
                        F.col("qv"), f["cv"], F.col("nqv"), f["nc"]
                    )
                ).alias("neg"),
                f["cent_id"].alias("cent_id"),
            ),
        )
        top_cells = F.transform(
            F.slice(F.array_sort(fine_scored), 1, NPROBE),
            lambda s: s["cent_id"],
        )
        probes = (
            with_co.join(F.broadcast(fins), "co_id")
            .withColumn("cell_id", F.explode(top_cells))
            .drop("fines")
        )
        cand = probes.join(assign, ["co_id", "cell_id"]).where(
            F.col("vec_id") != F.col("query_id")
        )
        best = F.max_by(
            F.struct("neighbor_id", "cos_sim"),
            F.struct(F.col("cos_sim"), (-F.col("neighbor_id")).alias("neg")),
        )
        top1 = (
            cand.select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
            )
            .groupBy("query_id")
            .agg(best.alias("b"))
            .select(
                "query_id",
                F.col("b.neighbor_id").alias("neighbor_id"),
                trunc6(F.col("b.cos_sim")).alias("cos_sim"),
                F.lit(1).cast("int").alias("rank"),
            )
        )
        name = f"ann_lookup_{uuid.uuid4().hex[:12]}"
        with scoped_stream_shuffle(spark):
            query = (
                top1.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        return finalize_memory_sink(spark.table(name), name)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "sim_ann_ivf_2level_persisted",
    _ivf_2level_oracle(),
    doc=f"Two-level IVF ANN top-{TOP_K} answered from the PERSISTED "
    "corpus-scaled index — the batch twin of streaming_ann_lookup's "
    "serve path and the two-level upgrade of sim_ann_ivf_persisted: "
    "two_level_index_save writes coarse/fine plus the (vec_id, v, "
    "cell_id) assignment partitioned by co_id and cell_id-sorted, and "
    "the whole probe walk — coarse top-1, fine top-nprobe, candidate "
    "join AND the exact-cosine rerank — runs against the reloaded "
    "parquet relations (rerank vectors come from the index's own stored "
    "v, never a corpus rescan; only the query vectors read the corpus). "
    "Answers must hash-match sim_ann_ivf_2level's oracle exactly: "
    "doubles round-trip parquet bit-exactly, so persistence is lossless "
    "and this gate proves it for the production index layout.  At 100 TB "
    "a probe reads one co_id partition's files (~n/K bytes, pruned) and "
    f"~nprobe·{IVF2_CELL_TARGET} candidate rows after the cell_id "
    "row-group skip.",
)
def sim_ann_ivf_2level_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="spark_graft_ivf2idx_")
    try:
        _t0 = time.perf_counter()
        two_level_index_save(
            emb, work, n=parquet_num_rows(sf_dir, "embeddings")
        )
        record_phase("build_s", time.perf_counter() - _t0)
        coarse, fine_grouped, assign = two_level_index_load(spark, work)
        nb = assign.select(
            F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
        )
        out = _two_level_probe_topk(
            emb,
            coarse,
            fine_grouped,
            assign.select("vec_id", "cell_id"),
            neighbors=nb,
        )
        # materialize the queries*k-sized result so the temp index dir
        # can be removed (the probe reads lazily from it)
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def two_level_index_trained(
    emb: DataFrame,
    *,
    cells: int,
    k: int,
    iters: int = 2,
    sample_mod: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_hint: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd-trained ``(coarse, fine_grouped)`` — the production ANN index
    shape (round-7 verdict #5), trained HIERARCHICALLY so training obeys
    the same cost law as search:

    1. Coarse centroids: flat Lloyd at K = isqrt(C) cells on the
       deterministic 1/N md5-bucket sample (``ivf_train``) — n_s·K
       cosines per iteration, cheap because K is small.
    2. Fine centroids: seeded with the first C corpus vectors, then each
       Lloyd iteration assigns the sample THROUGH THE TWO-LEVEL PATH
       (``two_level_assign``: n_s·(K + C/K) ≈ n_s·2√C cosines) and
       recomputes per-cell means DISTRIBUTED (posexplode → (cell, dim)
       partial avg → array rebuild; never a C·dim driver collect).  A
       first cut trained the fine level with FLAT Lloyd at C cells —
       n_s·C = O(n²/B) work that measured 19.8× wall at 10× data (sf10
       spot, this round); the hierarchical loop is the fix, the same
       n·2√C discipline assignment itself uses.  Iterative lineage is
       truncated per round with eager localCheckpoint (the round-5
       plan-explosion gotcha).

    Empty fine cells keep their previous centroid (the ivf_train rule);
    trained coarse cells can legitimately end up with zero fine members,
    so the returned ``coarse`` is filtered to cells that own at least one
    fine centroid — the structural orphan-proofing twin of
    two_level_index's j<k pin (probing a fine-less cell could silently
    drop every vector that picked it in stage 1)."""
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    training = emb
    if sample_mod is not None:
        bucket = (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long")
            % sample_mod
        )
        training = emb.where(bucket == 0)
    # small-sample partition hint (round-10 verdict #6): a tiny training
    # sample widened to full cluster parallelism pays ~10 Python-stage
    # launches per Lloyd iteration in pure per-task constants.  ~25k
    # sample rows per partition keeps every stage busy at scale while a
    # 1k-row sf0.1 sample runs 4-wide.  Value-invariant: every kernel in
    # the loop is partition-invariant by construction.
    parts_hint: int | None = None
    if n_hint is not None:
        n_s = n_hint // (sample_mod or 1)
        parts_hint = max(4, min(
            emb.sparkSession.sparkContext.defaultParallelism,
            n_s // 25_000 + 1,
        ))
    coarse_cent = ivf_train(
        training, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        min_partitions=parts_hint,
    )
    coarse = coarse_cent.select(
        F.col("cent_id").alias("co_id"), F.col("cv").alias("qv")
    ).withColumn("nq", norm(F.col("qv")))

    fine = (
        emb.where(F.col(id_col) < cells)
        .select(F.col(id_col).alias("cent_id"), as_double(F.col(vec_col)).alias("cv"))
        .withColumn("nc", norm(F.col("cv")))
        .localCheckpoint(eager=True)
    )

    def regroup(fine_df: DataFrame) -> DataFrame:
        fsim = cosine_with_norms(
            F.col("cv"), F.col("qv"), F.col("nc"), F.col("nq")
        )
        f_order = F.struct(F.col("sim"), (-F.col("co_id")).alias("neg"))
        # cv/nc ride the max_by aggregation instead of a re-attach join
        # (guide §2.4): each cent_id's K broadcast-join copies carry the
        # IDENTICAL cv/nc, so first() is value-deterministic and the
        # partial agg collapses them map-side — one C-row shuffle total
        # where the old groupBy + join(fine_df) paid two plus a join.
        return (
            fine_df.join(F.broadcast(coarse))
            .select("cent_id", "co_id", fsim.alias("sim"), "cv", "nc")
            .groupBy("cent_id")
            .agg(
                F.max_by(F.col("co_id"), f_order).alias("co_id"),
                F.first("cv").alias("cv"),
                F.first("nc").alias("nc"),
            )
        )

    for _ in range(iters):
        fg = regroup(fine)
        # coarse_probes=2: the balanced assignment — Lloyd means computed
        # from the best fine cell across the top-2 coarse cells track the
        # unconstrained flat assignment much more closely (top-1 measured
        # recall 0.50 vs 0.65 at sf0.01), for 2x the stage-2 cosines.
        # carry_vec=True: the selection already re-attaches the
        # double-widened vector, so the means consume it directly;
        # score=False: the Lloyd means never read cent_sim, so the
        # exact-fold re-score (a broadcast join + fold per iteration)
        # is skipped — both pure job-count constants (round-10 verdict
        # #6); the SELECTION (which cell wins) is byte-identical
        assign = two_level_assign(
            training, coarse, fg, id_col=id_col, vec_col=vec_col,
            coarse_probes=2, carry_vec=True, min_partitions=parts_hint,
            score=False,
        )
        # fused grouped Arrow means (round-8 verdict #2 + round-10 #6):
        # one cogroup shuffle computes the id-sorted per-cell means AND
        # keeps empty cells' previous centroids (no anti-join, no union)
        fine = (
            lloyd_cell_means_keep(
                assign.select(id_col, "cell_id", "v"), fine,
                id_col=id_col, vec_col="v",
            )
            .withColumn("nc", norm(F.col("cv")))
            .localCheckpoint(eager=True)
        )
    fine_grouped = regroup(fine)
    used = fine_grouped.select("co_id").distinct()
    return coarse.join(used, "co_id"), fine_grouped


@register(
    "sim_ann_ivf_2level_trained",
    f"""
SELECT e.vec_id AS query_id,
       TRUE AS n_neighbors_ok, TRUE AS ranks_ok, TRUE AS sims_sorted,
       TRUE AS no_self, TRUE AS sims_in_range,
       (SELECT count(*) FROM embeddings) AS assign_total,
       (SELECT greatest({NUM_CENTROIDS}, count(*) // {IVF2_CELL_TARGET})
        FROM embeddings) AS fine_count,
       TRUE AS coarse_cells_ok,
       TRUE AS centroids_finite_ok
FROM embeddings e WHERE e.vec_id < {NUM_QUERIES}
""",
    doc="Lloyd-TRAINED two-level IVF ANN (round-7 verdict #5) — the "
    "production shape sim_ann_ivf_2level's corpus-slice seeds stand in "
    f"for: coarse centroids k-means-trained flat at K = isqrt(C) cells "
    "on the deterministic 1/2 md5-bucket sample (cheap — K is small), "
    f"then C = max({NUM_CENTROIDS}, n/{IVF2_CELL_TARGET}) fine centroids "
    "Lloyd-trained HIERARCHICALLY: each iteration assigns the sample "
    "through the two-level path (n·2√C cosines, never the n·C flat "
    "training that measured 19.8x wall at 10x data before this fix) and "
    "recomputes per-cell means distributed.  Same hash-checkable "
    "CONTRACT form as sim_ann_ivf_trained (Lloyd means have no bit-stable "
    f"SQL replay): exactly top-{TOP_K} neighbors per query, contiguous "
    "ranks, non-increasing sims, no self-matches, sims in [-1,1]; "
    "assignment covers count(embeddings) rows (completeness — trained "
    "coarse cells with zero fine members are dropped from the index, the "
    "structural orphan guard); fine_count is the closed-form C the oracle "
    "recomputes; coarse cell count bounded by isqrt(C); all centroid "
    "components finite.  Recall vs exact top-k pinned measured-minus-"
    "slack in tests/test_pipeline_ops.py.  Plan: same two slim max_by "
    "shuffles as the untrained variant; training itself is iterative "
    "(centroid-sized collects per Lloyd step, the MLlib pattern).",
)
def sim_ann_ivf_2level_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from training_data_ops.operators.scale import (
        parquet_num_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # exact n from the parquet footer — one fewer job on a job-count-bound
    # trainer (r11 verdict #6); count() fallback is value-identical
    n = parquet_num_rows(sf_dir, "embeddings") or emb.count()
    cells = ivf2_cells_for(n)
    k = max(4, math.isqrt(cells))
    coarse, fine_grouped = two_level_index_trained(
        emb, cells=cells, k=k, n_hint=n
    )
    fine_grouped = fine_grouped.persist()  # feeds probe walk + global checks
    # coarse_probes=2 on BOTH the corpus assignment (balanced cells) and
    # the query walk (better fine-cell pool at unchanged candidate
    # volume): measured recall@10 0.51 -> 0.62 at sf0.01 vs top-1
    assign = two_level_assign(
        emb, coarse, fine_grouped, coarse_probes=2
    ).select("vec_id", "cell_id").persist()
    nb = _two_level_probe_topk(
        emb, coarse, fine_grouped, assign, coarse_probes=2
    )

    glob = (
        assign.agg(F.count("*").alias("assign_total"))
        .crossJoin(
            fine_grouped.agg(
                F.count("*").alias("fine_count"),
                F.bool_and(
                    F.expr("forall(cv, x -> x IS NOT NULL AND NOT isnan(x))")
                ).alias("centroids_finite_ok"),
            )
        )
        .crossJoin(
            coarse.agg(
                ((F.count("*") >= 1) & (F.count("*") <= k)).alias(
                    "coarse_cells_ok"
                )
            )
        )
    )
    per_q = nb.groupBy("query_id").agg(
        F.count("*").alias("n"),
        F.array_sort(
            F.collect_list(F.struct(F.col("rank"), F.col("cos_sim")))
        ).alias("rs"),
        F.bool_and(F.col("neighbor_id") != F.col("query_id")).alias("no_self"),
        F.bool_and(
            (F.col("cos_sim") >= -1.0 - 1e-9) & (F.col("cos_sim") <= 1.0 + 1e-9)
        ).alias("sims_in_range"),
    )
    qids = emb.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        qids.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n") == TOP_K, F.lit(False)).alias("n_neighbors_ok"),
            F.coalesce(
                F.expr(f"transform(rs, s -> s.rank) = sequence(1, {TOP_K})"),
                F.lit(False),
            ).alias("ranks_ok"),
            F.coalesce(
                F.expr(
                    "forall(zip_with("
                    " slice(transform(rs, s -> s.cos_sim), 1, size(rs) - 1),"
                    " slice(transform(rs, s -> s.cos_sim), 2, size(rs) - 1),"
                    " (x, y) -> x >= y), b -> b)"
                ),
                F.lit(False),
            ).alias("sims_sorted"),
            F.coalesce(F.col("no_self"), F.lit(False)).alias("no_self"),
            F.coalesce(F.col("sims_in_range"), F.lit(False)).alias(
                "sims_in_range"
            ),
        )
        .crossJoin(F.broadcast(glob))
        .select(
            "query_id",
            "n_neighbors_ok",
            "ranks_ok",
            "sims_sorted",
            "no_self",
            "sims_in_range",
            "assign_total",
            "fine_count",
            "coarse_cells_ok",
            "centroids_finite_ok",
        )
    )


RERANK_POOL = 30  # candidate pool reranked down to TOP_K


@register(
    "sim_rerank_pandas",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {NUM_QUERIES}),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {duck_cosine('q.qv', 'c.embedding')} AS cos_sim
    FROM q JOIN embeddings c ON c.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, {duck_trunc6('cos_sim')} AS cos_sim, rank::int AS rank
FROM ranked WHERE rank <= {TOP_K}
""",
    doc=f"Two-stage retrieve-then-rerank: JVM cosine retrieves a {RERANK_POOL}-"
    f"candidate pool, an Arrow-batched pandas UDF (the cross-encoder slot in "
    "a real pipeline; here a left-fold cosine, bit-identical to the JVM and "
    f"DuckDB folds) rescores, top-{TOP_K} kept. Proves the Python escape "
    "hatch is ArrowEvalPython (plan-linted) AND value-exact.",
)
def sim_rerank_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def py_cosine(qv: pd.Series, cv: pd.Series) -> pd.Series:
        import math

        def fold_dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + float(x) * float(y)  # same left fold as F.aggregate
            return acc

        out = []
        for a, b in zip(qv, cv):
            out.append(fold_dot(a, b) / (math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))))
        return pd.Series(out)

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < NUM_QUERIES)
    # stage 1: JVM-side retrieval of a candidate pool (superset of top-k,
    # same metric -> rerank is provably lossless)
    pool = topk_cosine(emb, queries, RERANK_POOL).select("query_id", "neighbor_id")
    qv = emb.select(F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), as_double(F.col("embedding")).alias("cv"))
    cand = pool.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    rescored = cand.select(
        "query_id", "neighbor_id", py_cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    return topk_per_query(rescored, TOP_K).select(
        "query_id",
        "neighbor_id",
        trunc6(F.col("cos_sim")).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "embedding_dim_stats",
    """
    SELECT dim::int AS dim, count(*)::bigint AS n, min(v) AS min_v, max(v) AS max_v
    FROM (
        SELECT unnest(range(len(embedding))) AS dim,
               unnest(embedding)::double AS v
        FROM embeddings
    )
    GROUP BY dim
    """,
    doc="Per-dimension profile of the embedding column (posexplode -> "
    "min/max/count per dim): the feature-normalization statistics every "
    "embedding pipeline computes before whitening/quantization, and the "
    "drift monitor for a continuously-ingested corpus. The explode fans "
    "each vector into dim rows map-side; partial aggregation collapses "
    "them to one (dim, stats) row per partition before the tiny "
    "dim-keyed shuffle — dims is a constant, so the exchange carries "
    "O(partitions x dim) rows regardless of corpus size. Floats only "
    "under order-independent min/max (no float SUM cross-engine).",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(load_table(spark, sf_dir, "embeddings"))
    return (
        emb.select(F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"))
        .groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
    )


NEG_K = 4
NEG_MULT = 2654435761  # Knuth multiplicative hash constant
NEG_STEP = 40503


@register(
    "contrastive_negatives",
    f"""
    WITH n AS (SELECT count(*) AS n FROM embeddings),
    ks AS (SELECT unnest(range(1, {NEG_K + 1})) AS k),
    negs AS (
        SELECT e.vec_id AS anchor_id, ks.k,
               (e.vec_id * {NEG_MULT} + ks.k * {NEG_STEP}) % n.n AS negative_id
        FROM embeddings e CROSS JOIN n CROSS JOIN ks
    )
    SELECT anchor_id, k::int AS k, negative_id,
           (a.label = b.label) AS same_label
    FROM negs
    JOIN embeddings a ON a.vec_id = anchor_id
    JOIN embeddings b ON b.vec_id = negative_id
    WHERE negative_id <> anchor_id
    """,
    doc=f"Deterministic contrastive negative mining: {NEG_K} pseudo-random "
    "negatives per anchor via a Knuth multiplicative hash over the dense "
    "id space — the negative-pair generator contrastive/embedding training "
    "needs at corpus scale, with zero rand() (same pairs every run, every "
    "engine, any partitioning, resumable mid-job). Assignment is pure "
    "map-side arithmetic (the corpus count broadcasts as one row); the "
    "only data-sized shuffle is the uniform vec_id join that re-attaches "
    "the negative's label (same_label marks collisions a loss would mask "
    "or drop).",
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(load_table(spark, sf_dir, "embeddings")).select("vec_id", "label")
    n = emb.agg(F.count("*").alias("n"))
    anchors = (
        emb.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("la"))
        .crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            "la",
            F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("k"),
            "n",
        )
        .select(
            "anchor_id",
            "la",
            F.col("k").cast("int").alias("k"),
            ((F.col("anchor_id") * NEG_MULT + F.col("k") * NEG_STEP) % F.col("n")).alias(
                "negative_id"
            ),
        )
        .where(F.col("negative_id") != F.col("anchor_id"))
    )
    negl = emb.select(F.col("vec_id").alias("negative_id"), F.col("label").alias("lb"))
    return anchors.join(negl, "negative_id").select(
        "anchor_id", "k", "negative_id", (F.col("la") == F.col("lb")).alias("same_label")
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization — the 4x storage/IO cut before ANN at scale
# ---------------------------------------------------------------------------

QUANT_LEVELS = 255  # uint8 code space


@register(
    "embedding_quantize_int8",
    f"""
    WITH flat AS MATERIALIZED (
        SELECT vec_id, unnest(range(len(embedding))) AS dim,
               unnest(embedding)::double AS v
        FROM embeddings
    ),
    dims AS (
        SELECT dim, min(v) AS mn, max(v) AS mx FROM flat GROUP BY dim
    )
    SELECT f.vec_id, f.dim::int AS dim,
           CASE WHEN d.mx > d.mn
                THEN least({QUANT_LEVELS}, greatest(0,
                     floor((f.v - d.mn) / (d.mx - d.mn)
                           * {QUANT_LEVELS}.0 + 0.5)))::int
                ELSE 0 END AS qv
    FROM flat f JOIN dims d ON f.dim = d.dim
    """,
    doc=f"Per-dimension affine int8 quantization of the embedding column "
    f"(uniform {QUANT_LEVELS + 1}-level codes between each dimension's "
    "min/max): the standard 4x storage/scan-IO reduction applied before "
    "ANN indexing at corpus scale. Dataflow: posexplode -> per-dim "
    "min/max (partial-agg, O(dims) rows) -> broadcast the tiny stats "
    "table back onto the flattened scan. Emits the exploded scalar form "
    "(vec_id, dim, qv): driver canonicalization hashes scalar cells "
    "(an array-typed column is unhashable by its pandas sort — round-2 "
    "driver error), and the scalar form is also what a parquet sink "
    "would store column-pruned. Order-independent min/max plus "
    "single-expression rounding keep it bit-identical cross-engine "
    "(no float sums).",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(load_table(spark, sf_dir, "embeddings"))
    flat = emb.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("dim", "v")
    )
    dims = flat.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.lit(QUANT_LEVELS),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(float(QUANT_LEVELS))
                    + F.lit(0.5)
                ),
            ),
        ).cast("int"),
    ).otherwise(F.lit(0))
    return flat.join(F.broadcast(dims), "dim").select(
        "vec_id", F.col("dim").cast("int").alias("dim"), code.alias("qv")
    )


DRIFT_CODE_THRESHOLD = 8  # mean-code shift (of 255) that flags a dimension


@register(
    "embedding_drift_int8",
    f"""
    WITH flat AS MATERIALIZED (
        SELECT vec_id, (vec_id % 2 = 0) AS is_ref,
               unnest(range(len(embedding))) AS dim,
               unnest(embedding)::double AS v
        FROM embeddings
    ),
    dims AS (
        SELECT dim, min(v) AS mn, max(v) AS mx FROM flat WHERE is_ref GROUP BY dim
    ),
    coded AS (
        SELECT f.vec_id, f.is_ref, f.dim,
               CASE WHEN d.mx > d.mn
                    THEN least({QUANT_LEVELS}, greatest(0,
                         floor((f.v - d.mn) / (d.mx - d.mn)
                               * {QUANT_LEVELS}.0 + 0.5)))::bigint
                    WHEN f.v = d.mn THEN 0
                    ELSE {QUANT_LEVELS} END AS qv
        FROM flat f JOIN dims d ON f.dim = d.dim
    )
    SELECT dim::int AS dim,
           count(*) FILTER (WHERE is_ref)::bigint AS n_ref,
           count(*) FILTER (WHERE NOT is_ref)::bigint AS n_new,
           sum(qv) FILTER (WHERE is_ref)::bigint AS code_sum_ref,
           sum(qv) FILTER (WHERE NOT is_ref)::bigint AS code_sum_new,
           (abs(sum(qv) FILTER (WHERE is_ref) * (count(*) FILTER (WHERE NOT is_ref))
                - sum(qv) FILTER (WHERE NOT is_ref) * (count(*) FILTER (WHERE is_ref)))
            > {DRIFT_CODE_THRESHOLD}
              * (count(*) FILTER (WHERE is_ref))
              * (count(*) FILTER (WHERE NOT is_ref))) AS drifted
    FROM coded GROUP BY dim
    """,
    doc=f"Embedding drift monitor: the corpus is split into a reference "
    "cohort (even vec_id — standing in for last week's snapshot) and a new "
    "cohort; each dimension is quantized with the REFERENCE cohort's "
    "codebook and the two cohorts' mean codes are compared. The comparison "
    f"|mean_ref - mean_new| > {DRIFT_CODE_THRESHOLD}/255 is evaluated as "
    "exact integer cross-multiplication (|sum_r·n_n - sum_n·n_r| > "
    "T·n_r·n_n) — associative long sums, no float means, so the flag is "
    "repartition-invariant and engine-exact (int64-safe to ~1e8 rows per "
    "cohort; cast to DECIMAL beyond). One explode scan + one dim-keyed "
    "partial-agg shuffle — the continuous-ingest guardrail that catches an "
    "upstream encoder change before it poisons ANN search.",
)
def embedding_drift_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(load_table(spark, sf_dir, "embeddings"))
    return cohort_drift_flags(emb, (F.col("vec_id") % 2 == 0))


def cohort_drift_flags(emb: DataFrame, is_ref: Column) -> DataFrame:
    """Per-dimension drift flags between the ``is_ref`` cohort and the
    rest — the exact-integer comparison engine behind
    ``embedding_drift_int8``, parameterized on the cohort predicate so
    index-maintenance flows (``sim_ann_ivf_incremental``) can gate
    append-vs-retrain on the SAME guardrail that monitors ingest.  One
    explode scan + one dim-keyed partial-agg shuffle; see the registered
    query's doc for the cross-multiplication exactness argument."""
    flat = emb.select(
        "vec_id",
        is_ref.alias("is_ref"),
        F.posexplode(as_double(F.col("embedding"))).alias("dim", "v"),
    )
    dims = (
        flat.where("is_ref")
        .groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    # degenerate reference dims (mn == mx) saturate on ANY deviation: the
    # codebook says "this dimension is constant", so a new-cohort value off
    # the constant is maximal drift, not code 0 (which would hide it)
    code = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(QUANT_LEVELS),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("v") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * F.lit(float(QUANT_LEVELS))
                        + F.lit(0.5)
                    ),
                ),
            ).cast("long"),
        )
        .when(F.col("v") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(F.lit(QUANT_LEVELS).cast("long"))
    )
    coded = flat.join(F.broadcast(dims), "dim").select(
        "dim", "is_ref", code.alias("qv")
    )
    agg = coded.groupBy("dim").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("n_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("n_new"),
        F.sum(F.when(F.col("is_ref"), F.col("qv")).otherwise(0)).alias("code_sum_ref"),
        F.sum(F.when(~F.col("is_ref"), F.col("qv")).otherwise(0)).alias("code_sum_new"),
    )
    drift = (
        F.abs(
            F.col("code_sum_ref") * F.col("n_new")
            - F.col("code_sum_new") * F.col("n_ref")
        )
        > F.lit(DRIFT_CODE_THRESHOLD) * F.col("n_ref") * F.col("n_new")
    )
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        "n_ref",
        "n_new",
        "code_sum_ref",
        "code_sum_new",
        drift.alias("drifted"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN (the FAISS-style IVFPQ shape) — coarse
# cells bound the search set, 8-bit-per-subspace codes bound the memory,
# ADC (asymmetric distance computation) scores candidates from a per-query
# distance table instead of raw vectors
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (PQ_M * PQ_SUB = embedding dim 64)
PQ_K = 16  # codewords per subspace

#: at 100 TB the point of PQ is storage: a 64-dim float32 vector (256 B)
#: becomes PQ_M 4-bit codes (4 B) — the candidate scan reads codes, not
#: vectors, and the ADC table (queries x PQ_M x PQ_K doubles) is metadata.


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance, left-fold double (bit-identical to the DuckDB
    twin :func:`duck_sqdist` — same diff/multiply/accumulate order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def duck_sqdist(a: str, b: str, off: int = 0, n: int = 64) -> str:
    d = f"({a}[{off} + i]::double - {b}[{off} + i]::double)"
    return (
        f"list_reduce(list_transform(range(1, {n + 1}), "
        f"i -> {d} * {d}), (x, y) -> x + y)"
    )


def sub_sqdist(a: Column, b: Column, m: int) -> Column:
    """Squared L2 between subspace ``m`` slices of two full vectors."""
    return sqdist(
        F.slice(a, m * PQ_SUB + 1, PQ_SUB), F.slice(b, m * PQ_SUB + 1, PQ_SUB)
    )


def pq_encode(
    corpus: DataFrame, codebook: DataFrame, *, kernel: str = "arrow"
) -> DataFrame:
    """(vec_id, code_0..code_{M-1}): nearest codeword per subspace.

    ``kernel="arrow"`` (default since the round-9 sf100 profile) runs the
    per-subspace argmin as one Arrow-batched numpy pass — and, unlike the
    selection-only GEMM kernels, it is **bit-identical** to the fold by
    construction: the squared distance accumulates LEFT-TO-RIGHT over the
    subspace dims with one vectorized ``acc + d*d`` per dim, the exact
    IEEE float64 sequence :func:`sqdist` folds, so the argmin decides on
    the same bits and the emitted codes cannot diverge (no re-score step
    needed; the full SQL oracle stays exact).  The pass is map-only —
    the PQ_K×dim codebook rides the task closure and NO shuffle remains
    (the fold path paid one slim groupBy(vec_id) exchange).  At sf100 the
    fold path's n·PQ_K·PQ_M interpreted sub-folds were the ADC stage's
    wall (round-8 verdict #3).

    ``kernel="fold"`` is the pure-JVM-expression reference: codebook
    (PQ_K rows) broadcasts; per (vector, codeword) all M subspace
    distances are computed map-side, then ONE groupBy(vec_id) with M
    ``min_by`` aggregates picks every subspace's code — the shuffle
    carries one row per vector (scalar code columns, no arrays)."""
    c = widen(corpus).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    if kernel == "arrow":
        import numpy as np
        import pandas as pd

        rows = sorted(
            (int(r["j"]), np.asarray(r["w"], dtype=np.float64))
            for r in codebook.select("j", "w").collect()
        )
        js = np.array([j for j, _ in rows], dtype=np.int32)
        W = np.stack([w for _, w in rows])  # (PQ_K, dim), j-ascending

        def _enc(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["v"].to_numpy())  # (b, dim)
                out = {"vec_id": pdf["vec_id"].to_numpy()}
                for m in range(PQ_M):
                    acc = np.zeros((len(pdf), W.shape[0]))
                    for i in range(m * PQ_SUB, (m + 1) * PQ_SUB):
                        d = V[:, i : i + 1] - W[None, :, i][0]
                        acc = acc + d * d
                    # first-min on j-ascending rows = min_by(struct(d, j))
                    out[f"code_{m}"] = js[np.argmin(acc, axis=1)]
                yield pd.DataFrame(out)

        schema = "vec_id long, " + ", ".join(
            f"code_{m} int" for m in range(PQ_M)
        )
        return c.mapInPandas(_enc, schema)
    if kernel != "fold":  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    enc = c.join(F.broadcast(codebook)).select(
        "vec_id",
        "j",
        *[sub_sqdist(F.col("v"), F.col("w"), m).alias(f"d_{m}") for m in range(PQ_M)],
    )
    return enc.groupBy("vec_id").agg(
        *[
            F.min_by("j", F.struct(F.col(f"d_{m}"), F.col("j")))
            .cast("int")
            .alias(f"code_{m}")
            for m in range(PQ_M)
        ]
    )


def _ivf_pq_oracle() -> str:
    ms = f"(SELECT unnest(range(0, {PQ_M})) AS m)"
    sub = lambda a, b: duck_sqdist(a, b, off=f"ms.m * {PQ_SUB}", n=PQ_SUB)  # noqa: E731
    full = duck_sqdist
    return f"""
WITH cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
              WHERE vec_id < {NUM_CENTROIDS}),
cw AS (SELECT vec_id AS j, embedding AS w FROM embeddings WHERE vec_id < {PQ_K}),
assign AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cent_id AS cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {full('e.embedding', 'c.cv')}, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {NUM_QUERIES}),
probes AS (
    SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cent_id AS cell_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {full('q.qv', 'c.cv')}, c.cent_id) AS rn
        FROM q CROSS JOIN cent c
    ) WHERE rn <= {NPROBE}
),
codes AS (
    SELECT vec_id, m, j AS code FROM (
        SELECT e.vec_id, ms.m, cw.j,
               row_number() OVER (PARTITION BY e.vec_id, ms.m
                   ORDER BY {sub('e.embedding', 'cw.w')}, cw.j) AS rn
        FROM embeddings e CROSS JOIN {ms} ms CROSS JOIN cw
    ) WHERE rn = 1
),
dt AS (
    SELECT q.query_id, ms.m, cw.j, {sub('q.qv', 'cw.w')} AS d
    FROM q CROSS JOIN {ms} ms CROSS JOIN cw
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON a.cell_id = p.cell_id
    WHERE a.vec_id <> p.query_id
),
adc AS (
    SELECT c.query_id, c.neighbor_id,
           list_reduce(list(dt.d ORDER BY dt.m), (x, y) -> x + y) AS adc_dist
    FROM cand c
    JOIN codes k ON k.vec_id = c.neighbor_id
    JOIN dt ON dt.query_id = c.query_id AND dt.m = k.m AND dt.j = k.code
    GROUP BY c.query_id, c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist, neighbor_id) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, {duck_trunc6('adc_dist')} AS adc_dist, rank::int AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "sim_ann_ivf_pq",
    _ivf_pq_oracle(),
    doc=f"IVF-PQ ANN (FAISS IVFPQ shape, L2 metric end-to-end): "
    f"{NUM_CENTROIDS}-cell coarse quantizer bounds the search set "
    f"(nprobe={NPROBE}), product quantization ({PQ_M} subspaces x "
    f"{PQ_K} codewords from deterministic corpus slices) replaces raw "
    "vectors with 4-bit codes, and ADC scores candidates by summing "
    "per-subspace table entries in fixed m-order. Plan: codebook and "
    "centroids broadcast; encoding is one min_by shuffle per vector "
    "(scalar code columns); the per-query distance table (queries x M x K "
    "doubles) is collected as metadata and applied as a literal-array "
    "lookup, so candidate scoring is pure map-side expression after one "
    "uniform vec_id join attaching codes. At 100 TB the ADC scan reads "
    "codes (4 B/vector), never the embedding column.",
)
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < NUM_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), as_double(F.col("embedding")).alias("cv")
    )
    codebook = emb.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").cast("int").alias("j"),
        as_double(F.col("embedding")).alias("w"),
    )
    c = widen(emb).select("vec_id", as_double(F.col("embedding")).alias("v"))

    # coarse assignment: nearest centroid by L2, one min_by shuffle
    assign = (
        c.join(F.broadcast(cent))
        .select("vec_id", "cent_id", sqdist(F.col("v"), F.col("cv")).alias("d"))
        .groupBy("vec_id")
        .agg(
            F.min_by("cent_id", F.struct(F.col("d"), F.col("cent_id"))).alias(
                "cell_id"
            )
        )
    )
    codes = pq_encode(emb, codebook)

    q = emb.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("d"), F.col("cent_id"))
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "cent_id", sqdist(F.col("qv"), F.col("cv")).alias("d"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= NPROBE)
        .select("query_id", F.col("cent_id").alias("cell_id"))
    )

    # per-query ADC table: queries x M x K squared subspace distances —
    # metadata-sized by construction, collected and re-applied as a literal
    # array lookup (the Lloyd-centroid pattern: dimension data may drive
    # expressions, corpus data never collects)
    dt_rows = (
        q.join(F.broadcast(codebook))
        .select(
            "query_id",
            "j",
            *[
                sub_sqdist(F.col("qv"), F.col("w"), m).alias(f"d_{m}")
                for m in range(PQ_M)
            ],
        )
        .collect()
    )
    table = [0.0] * (NUM_QUERIES * PQ_M * PQ_K)
    for r in dt_rows:
        for m in range(PQ_M):
            table[r.query_id * PQ_M * PQ_K + m * PQ_K + r.j] = float(r[f"d_{m}"])
    arr = F.array(*[F.lit(x) for x in table])

    cand = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    )
    adc = None
    for m in range(PQ_M):
        idx = (
            F.col("query_id") * (PQ_M * PQ_K)
            + F.lit(m * PQ_K)
            + F.col(f"code_{m}")
            + 1
        ).cast("int")
        term = F.element_at(arr, idx)
        adc = term if adc is None else adc + term
    scored = cand.select(
        "query_id", "neighbor_id", adc.alias("adc_dist")
    ).withColumn("cos_sim", -F.col("adc_dist"))
    # topk_per_query ranks cos_sim DESC == adc ASC; subset property holds
    # for any total order
    return topk_per_query(scored, TOP_K).select(
        "query_id",
        "neighbor_id",
        trunc6(F.col("adc_dist")).alias("adc_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def _ivf_2level_pq_oracle() -> str:
    ms = f"(SELECT unnest(range(0, {PQ_M})) AS m)"
    sub = lambda a, b: duck_sqdist(a, b, off=f"ms.m * {PQ_SUB}", n=PQ_SUB)  # noqa: E731
    return f"""
WITH params AS (
    SELECT c, greatest(4,
                    t - CASE WHEN t * t > c THEN 1 ELSE 0 END
                      + CASE WHEN (t + 1) * (t + 1) <= c THEN 1 ELSE 0 END
           )::bigint AS k
    FROM (SELECT c, floor(sqrt(c::double))::bigint AS t FROM (
          SELECT greatest({NUM_CENTROIDS}, n // {IVF2_CELL_TARGET})::bigint AS c
          FROM (SELECT count(*) AS n FROM embeddings)))
),
coarse AS (
    SELECT vec_id AS co_id, embedding AS qv
    FROM embeddings, params WHERE vec_id < params.k
),
fine AS (
    SELECT vec_id AS cent_id, embedding AS cv
    FROM embeddings, params WHERE vec_id < params.c
),
fine_grouped AS MATERIALIZED (
    SELECT g.cent_id,
           CASE WHEN g.cent_id < p.k THEN g.cent_id ELSE g.co_id END AS co_id,
           g.cv
    FROM (
        SELECT cent_id, co_id, cv FROM (
            SELECT f.cent_id, c.co_id, f.cv,
                   row_number() OVER (PARTITION BY f.cent_id
                       ORDER BY {duck_cosine('f.cv', 'c.qv')} DESC, c.co_id) AS rn
            FROM fine f CROSS JOIN coarse c) WHERE rn = 1
    ) g, params p
),
v_coarse AS MATERIALIZED (
    SELECT vec_id, co_id FROM (
        SELECT e.vec_id, c.co_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {duck_cosine('e.embedding', 'c.qv')} DESC, c.co_id
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c) WHERE rn = 1
),
assign AS MATERIALIZED (
    SELECT vec_id, cell_id FROM (
        SELECT vc.vec_id, fg.cent_id AS cell_id,
               row_number() OVER (PARTITION BY vc.vec_id
                   ORDER BY {duck_cosine('e.embedding', 'fg.cv')} DESC, fg.cent_id
               ) AS rn
        FROM v_coarse vc
        JOIN embeddings e ON e.vec_id = vc.vec_id
        JOIN fine_grouped fg ON fg.co_id = vc.co_id
    ) WHERE rn = 1
),
cw AS (SELECT vec_id AS j, embedding AS w FROM embeddings WHERE vec_id < {PQ_K}),
codes AS (
    SELECT vec_id, m, j AS code FROM (
        SELECT e.vec_id, ms.m, cw.j,
               row_number() OVER (PARTITION BY e.vec_id, ms.m
                   ORDER BY {sub('e.embedding', 'cw.w')}, cw.j) AS rn
        FROM embeddings e CROSS JOIN {ms} ms CROSS JOIN cw
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {NUM_QUERIES}),
qco AS (
    SELECT query_id, co_id FROM (
        SELECT q.query_id, c.co_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {duck_cosine('q.qv', 'c.qv')} DESC, c.co_id) AS rn
        FROM q CROSS JOIN coarse c) WHERE rn = 1
),
probes AS (
    SELECT query_id, cell_id FROM (
        SELECT qc.query_id, fg.cent_id AS cell_id,
               row_number() OVER (PARTITION BY qc.query_id
                   ORDER BY {duck_cosine('q2.qv', 'fg.cv')} DESC, fg.cent_id
               ) AS rn
        FROM qco qc
        JOIN q q2 ON q2.query_id = qc.query_id
        JOIN fine_grouped fg ON fg.co_id = qc.co_id
    ) WHERE rn <= {NPROBE}
),
dt AS (
    SELECT q.query_id, ms.m, cw.j, {sub('q.qv', 'cw.w')} AS d
    FROM q CROSS JOIN {ms} ms CROSS JOIN cw
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON a.cell_id = p.cell_id
    WHERE a.vec_id <> p.query_id
),
adc AS (
    SELECT c.query_id, c.neighbor_id,
           list_reduce(list(dt.d ORDER BY dt.m), (x, y) -> x + y) AS adc_dist
    FROM cand c
    JOIN codes k ON k.vec_id = c.neighbor_id
    JOIN dt ON dt.query_id = c.query_id AND dt.m = k.m AND dt.j = k.code
    GROUP BY c.query_id, c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
               ORDER BY adc_dist, neighbor_id) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, {duck_trunc6('adc_dist')} AS adc_dist, rank::int AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "sim_ann_ivf_2level_pq",
    _ivf_2level_pq_oracle(),
    doc=f"Two-level IVF-PQ (round-7 verdict #5 — the FAISS IVFPQ "
    "production form): the 8x16 product codes, which previously hung "
    f"off the fixed {NUM_CENTROIDS}-cell grid (sim_ann_ivf_pq), now sit "
    f"under the corpus-scaled C = max({NUM_CENTROIDS}, "
    f"n/{IVF2_CELL_TARGET}) two-level index — cell geometry from "
    "two_level_index/two_level_assign (cosine; the embeddings are "
    "unit-norm so cosine and L2 orderings coincide: |a-b|^2 = 2-2cos), "
    "candidate scoring by L2 ADC over the 4-bit codes.  Search reads "
    "codes (4 B/vector) for ~nprobe*B candidates per query at ANY "
    "corpus size.  FULL SQL oracle (stronger than the contract form "
    "the trained variants need): both assignment stages, the probe "
    "walk, the per-subspace code argmins, and the fixed m-order ADC "
    "fold replay exactly.  Plan: two slim max_by shuffles (index), one "
    "min_by shuffle (codes), metadata-sized ADC table applied as a "
    "literal-array lookup — candidate scoring stays map-side (plan pin "
    "in tests/test_plans.py).",
)
def sim_ann_ivf_2level_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf2_cells_for(emb.count())
    k = max(4, math.isqrt(cells))
    coarse, fine_grouped = two_level_index(emb, cells=cells, k=k)
    assign = two_level_assign(emb, coarse, fine_grouped).select(
        "vec_id", "cell_id"
    )
    codebook = emb.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").cast("int").alias("j"),
        as_double(F.col("embedding")).alias("w"),
    )
    codes = pq_encode(emb, codebook)

    q = emb.where(F.col("vec_id") < NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    ).withColumn("nqv", norm(F.col("qv")))
    # query → top-1 coarse → top-nprobe fine cells (the two-level walk;
    # queries are a handful of rows, windows fine)
    qsim = cosine_with_norms(F.col("qv"), F.col("qv2"), F.col("nqv"), F.col("nq"))
    wq = Window.partitionBy("query_id").orderBy(F.col("psim").desc(), F.col("co_id"))
    qco = (
        q.join(F.broadcast(coarse.select("co_id", F.col("qv").alias("qv2"), "nq")))
        .select("query_id", "qv", "nqv", "co_id", qsim.alias("psim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= 1)
        .select("query_id", "qv", "nqv", "co_id")
    )
    fsim = cosine_with_norms(F.col("qv"), F.col("cv"), F.col("nqv"), F.col("nc"))
    wf = Window.partitionBy("query_id").orderBy(F.col("psim").desc(), F.col("cent_id"))
    probes = (
        qco.join(F.broadcast(fine_grouped), "co_id")
        .select("query_id", "cent_id", fsim.alias("psim"))
        .withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") <= NPROBE)
        .select("query_id", F.col("cent_id").alias("cell_id"))
    )

    # per-query ADC table: queries x M x K squared subspace distances —
    # metadata-sized, collected and re-applied as a literal-array lookup
    # (the sim_ann_ivf_pq pattern; corpus data never collects)
    dt_rows = (
        q.join(F.broadcast(codebook))
        .select(
            "query_id",
            "j",
            *[
                sub_sqdist(F.col("qv"), F.col("w"), m).alias(f"d_{m}")
                for m in range(PQ_M)
            ],
        )
        .collect()
    )
    table = [0.0] * (NUM_QUERIES * PQ_M * PQ_K)
    for r in dt_rows:
        for m in range(PQ_M):
            table[r.query_id * PQ_M * PQ_K + m * PQ_K + r.j] = float(r[f"d_{m}"])
    arr = F.array(*[F.lit(x) for x in table])

    cand = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    )
    adc = None
    for m in range(PQ_M):
        idx = (
            F.col("query_id") * (PQ_M * PQ_K)
            + F.lit(m * PQ_K)
            + F.col(f"code_{m}")
            + 1
        ).cast("int")
        term = F.element_at(arr, idx)
        adc = term if adc is None else adc + term
    scored = cand.select(
        "query_id", "neighbor_id", adc.alias("adc_dist")
    ).withColumn("cos_sim", -F.col("adc_dist"))
    return topk_per_query(scored, TOP_K).select(
        "query_id",
        "neighbor_id",
        trunc6(F.col("adc_dist")).alias("adc_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# top principal component via power iteration — the dimensionality-reduction
# / whitening front-end of an embedding pipeline, in scale-correct two-pass
# form (the covariance matrix is never materialized)
# ---------------------------------------------------------------------------

PCA_ITERS = 12


def _pca_xtxv(
    base: DataFrame, v: list[float], *, kernel: str, with_trace: bool = False
) -> tuple[list[float], float]:
    """One power-iteration pass: ``u = XᵀXv`` (and optionally
    ``trace(XᵀX)``) without forming the covariance matrix.

    ``kernel="arrow"`` (default since the round-10 audit): each Arrow
    batch contributes ONE partial row — ``u_b = V_bᵀ(V_b v)`` via two
    BLAS GEMVs — and the ~(n/batch) dim-length partials sum on the
    driver (metadata-sized).  The fold form below evaluates the n dot
    products on the interpreted HOF path AND shuffles n·dim scalar rows
    per pass through the posexplode — the exact pattern round 9 removed
    from Lloyd training; at sf100 the 12-iteration train exceeded 590 s
    (audit spot) where the GEMV form is seconds.  Both kernels are valid
    under the query's CONTRACT gates (tolerance booleans — iterative
    float sums have no bit-stable SQL replay; partial-sum order already
    differed by partitioning in the fold form)."""
    import numpy as np

    if kernel == "arrow":
        import pandas as pd

        varr = np.asarray(v, dtype=np.float64)

        def _p(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["x"].to_numpy())
                u_b = V.T @ (V @ varr)
                sq = float((V * V).sum()) if with_trace else 0.0
                yield pd.DataFrame({"u": [u_b.tolist()], "sq": [sq]})

        parts = base.mapInPandas(_p, "u array<double>, sq double").collect()
        u = np.zeros(len(v), dtype=np.float64)
        tr = 0.0
        for r in parts:
            u += np.asarray(r["u"], dtype=np.float64)
            tr += float(r["sq"])
        return u.tolist(), tr
    if kernel != "fold":  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    vlit = F.array(*[F.lit(x) for x in v])
    s = F.aggregate(
        F.zip_with(F.col("x"), vlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    aggs = [F.sum(F.col("xd") * F.col("s")).alias("u")]
    if with_trace:
        aggs.append(F.sum(F.col("xd") * F.col("xd")).alias("sq"))
    rows = (
        base.select(F.posexplode(F.col("x")).alias("d", "xd"), s.alias("s"))
        .groupBy("d")
        .agg(*aggs)
        .collect()
    )
    u = [0.0] * len(v)
    tr = 0.0
    for r in rows:
        u[int(r["d"])] = float(r["u"])
        if with_trace:
            tr += float(r["sq"])
    return u, tr


def pca_gram(emb: DataFrame) -> tuple["object", int]:
    """(G = XᵀX as a numpy (dim, dim) array, n_vectors) in ONE corpus pass.

    Each Arrow batch contributes its own dim×dim partial ``V_bᵀV_b`` (one
    BLAS GEMM) plus its row count; the ~(n/batch) partials sum on the
    driver.  A partial is dim² doubles — 4096 at dim 64, ~1 M at dim 1024:
    the SAME metadata class as Lloyd's k×dim means the trainer family
    already collects, far below any corpus-sized relation (the "covariance
    never materialized" rule targets dim² ≳ executor memory, which no
    embedding table here approaches).  The r11 motivation: the 12-step
    power iteration paid 12 sequential corpus passes (one XᵀXv per step);
    with G collected once, every subsequent step is a driver-side
    dim×dim matvec — 13 corpus passes (train + verify) become 1, at any
    scale."""
    import math

    import numpy as np
    import pandas as pd

    base = widen(emb).select(as_double(F.col("embedding")).alias("x"))

    def _g(batches):
        G = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["x"].to_numpy())
            G = V.T @ V if G is None else G + V.T @ V
            n += len(pdf)
        if G is not None:
            yield pd.DataFrame(
                {"g": [G.reshape(-1).tolist()], "n": [n]}
            )

    def _sum_partials(batches):
        G = None
        n = 0
        for pdf in batches:
            for g, pn in zip(pdf["g"], pdf["n"]):
                a = np.asarray(g, dtype=np.float64)
                G = a if G is None else G + a
                n += int(pn)
        if G is not None:
            yield pd.DataFrame({"g": [G.tolist()], "n": [n]})

    partials = base.mapInPandas(_g, "g array<double>, n long")
    # tree combine (r11 verdict #8): _g emits one dim² partial PER INPUT
    # PARTITION, so a wide corpus scan (thousands of partitions at 100 TB,
    # dim ≥ 1024) would collect partitions×8·dim² bytes to the driver.
    # One √P-wide round-robin combine stage bounds the driver transfer to
    # √P partials; skipped below 64 partitions where the collect is
    # already metadata-sized (and the extra stage would only add a job to
    # the sf-scale bench).  Float sums re-associate across the tree —
    # consumers assert contract-sized tolerances, never bit-equality.
    n_parts = base.rdd.getNumPartitions()
    if n_parts > 64:
        partials = partials.repartition(
            max(4, math.isqrt(n_parts))
        ).mapInPandas(_sum_partials, "g array<double>, n long")
    parts = partials.collect()
    if not parts:
        raise ValueError("pca_gram: empty embedding relation")
    n_vec = sum(int(r["n"]) for r in parts)
    dim = int(round(len(parts[0]["g"]) ** 0.5))
    G = np.zeros((dim, dim), dtype=np.float64)
    for r in parts:
        G += np.asarray(r["g"], dtype=np.float64).reshape(dim, dim)
    return G, n_vec


def pca_power_train(
    emb: DataFrame, iters: int = PCA_ITERS, *, kernel: str = "gram"
) -> tuple[list[float], float]:
    """Leading right-singular vector of the (uncentered) embedding matrix by
    power iteration on ``X^T X``.  ``kernel="gram"`` (default since r11)
    collects the dim×dim Gram once (:func:`pca_gram`) and runs every
    iteration as a driver-side matvec — one corpus pass total instead of
    one per step.  ``kernel="arrow"``/``"fold"`` keep the pass-per-step
    forms (see :func:`_pca_xtxv`); all kernels converge to the same
    direction (the iteration is contractive; summation-order noise cannot
    push them apart — pinned in tests) and are valid under the contract
    gates.  Deterministic init: the all-ones direction.  Returns
    (unit vector v, rayleigh quotient λ = v·(XᵀX)v ≈ top eigenvalue).
    """
    if kernel == "gram":
        import numpy as np

        G, _n = pca_gram(emb)
        dim = G.shape[0]
        v = np.full(dim, 1.0 / dim**0.5, dtype=np.float64)
        lam = 0.0
        for _ in range(iters):
            u = G @ v
            lam = float(v @ u)
            v = u / float(np.sqrt(u @ u))
        return v.tolist(), lam
    dim = len(emb.select("embedding").first()[0])
    v = [1.0 / dim**0.5] * dim
    lam = 0.0
    base = widen(emb).select(as_double(F.col("embedding")).alias("x"))
    if kernel == "arrow":
        base = base.persist()  # 12 passes over the same slim relation
    for _ in range(iters):
        u, _tr = _pca_xtxv(base, v, kernel=kernel)
        lam = sum(vi * ui for vi, ui in zip(v, u))  # v·(XᵀX)v with unit v
        n = sum(x * x for x in u) ** 0.5
        v = [x / n for x in u]
    if kernel == "arrow":
        # fully consumed above (each _pca_xtxv collects); without this,
        # every library/test caller outside bench.py's clearCache leaks
        # one cached relation per invocation (round-10 ADVICE)
        base.unpersist()
    return v, lam


@register(
    "embedding_pca_power",
    f"""
    SELECT d AS dim, TRUE AS unit_norm_ok, TRUE AS residual_small_ok,
           TRUE AS rayleigh_positive_ok, TRUE AS dominant_ok,
           (SELECT count(*) FROM embeddings)::bigint AS n_vectors
    FROM (SELECT unnest(range(0, (SELECT len(embedding) FROM embeddings LIMIT 1))) AS d)
    """,
    doc=f"Top principal component by {PCA_ITERS}-step power iteration in "
    "hash-checkable CONTRACT form (the Lloyd-trainer pattern: iterative "
    "float means have no bit-stable SQL replay). Per-dim rows carry "
    "corpus-global self-consistency booleans the oracle pins TRUE: unit "
    "norm, relative residual ||XᵀXv − λv|| ≤ 10% of λ (v IS an "
    "approximate eigenvector, not an arbitrary direction — the synthetic "
    "corpus is near-isotropic, λ2/λ1 ≈ 0.98, so convergence is rate-"
    "limited and the bound carries ~2x margin at 12 steps), positive Rayleigh "
    "quotient, and dominance (λ ≥ mean eigenvalue = trace/dim). Corpus "
    "cost is ONE map-side pass total (r11): per-batch dim×dim Gram "
    "partials (one GEMM each) sum on the driver — dim² doubles, the "
    "Lloyd-means metadata class — and every power step is then a "
    "driver-side matvec; train, verify residual, and trace all come "
    "from the same collected Gram.",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE corpus pass: the dim×dim Gram (+ row count) collects once, then
    # training, the verification products u = (XᵀX)v, and trace(XᵀX) are
    # all driver-side dim-sized numpy work (r11: the pass-per-step form
    # paid 13 corpus passes — 12 train + 1 verify — for identical
    # contract semantics; see pca_gram's metadata-size argument).
    G, n_vec = pca_gram(emb)
    # independent coverage check (r11 ADVICE): the contract booleans are
    # self-consistent by construction (train, residual, trace all derive
    # from the one collected Gram), so pin the kernel's row coverage
    # against a parquet count-star the kernel cannot influence — a Gram
    # built over a partial scan fails here instead of passing every gate.
    n_independent = emb.count()
    if n_vec != n_independent:
        raise AssertionError(
            f"pca_gram covered {n_vec} rows, corpus has {n_independent}"
        )
    dim = G.shape[0]
    v = np.full(dim, 1.0 / dim**0.5, dtype=np.float64)
    for _ in range(PCA_ITERS):
        u = G @ v
        v = u / float(np.sqrt(u @ u))
    u = G @ v
    trace = float(np.trace(G))
    # Rayleigh quotient of the FINAL v (the train loop's lam pairs with the
    # previous iterate — using it here would misstate the residual)
    lam = float(v @ u)
    resid = float(np.sqrt(((u - lam * v) ** 2).sum()))
    norm_v = float(np.sqrt(v @ v))

    checks = (
        abs(norm_v - 1.0) < 1e-9,
        resid <= 0.10 * abs(lam),
        lam > 0.0,
        lam >= trace / dim,
    )
    rows = [
        (d, bool(checks[0]), bool(checks[1]), bool(checks[2]), bool(checks[3]), n_vec)
        for d in range(dim)
    ]
    return spark.createDataFrame(
        rows,
        "dim int, unit_norm_ok boolean, residual_small_ok boolean, "
        "rayleigh_positive_ok boolean, dominant_ok boolean, n_vectors long",
    )


# ---------------------------------------------------------------------------
# per-dimension min-max normalization — the feature-scaling pass before
# distance-based indexing (deterministic by construction: min/max are
# order-independent, unlike mean/std whose float sums depend on merge order)
# ---------------------------------------------------------------------------

@register(
    "embedding_minmax_scale",
    f"""
    WITH flat AS (
        SELECT vec_id, unnest(range(len(embedding))) AS dim,
               unnest(embedding)::double AS v
        FROM embeddings
    ),
    stats AS (
        SELECT dim, min(v) AS lo, max(v) AS hi FROM flat GROUP BY dim
    )
    SELECT f.vec_id, f.dim::int AS dim,
           CASE WHEN s.hi = s.lo THEN 0.0
                ELSE {duck_trunc6("(f.v - s.lo) / (s.hi - s.lo)")} END AS scaled
    FROM flat f JOIN stats s ON s.dim = f.dim
    """,
    doc="Per-dimension min-max normalization of the embedding column — "
    "the feature-scaling pass before L2/ANN indexing. min/max are "
    "ORDER-INDEPENDENT aggregates (mean/std float sums are not — "
    "SCALE.md rule 3), so the scaled values are bit-identical under any "
    "partitioning. Stats are O(dims) rows broadcast back onto the "
    "posexploded scan (map-side rescale, one dim-keyed metadata "
    "shuffle); degenerate dims (hi == lo) pin to 0.0. Exploded scalar "
    "output — the driver-hashable schema the r2 quantize fix "
    "established.",
)
def embedding_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(load_table(spark, sf_dir, "embeddings"))
    flat = emb.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("dim", "v")
    )
    stats = flat.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        trunc6((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")))
    )
    return flat.join(F.broadcast(stats), "dim").select(
        "vec_id", F.col("dim").cast("int").alias("dim"), scaled.alias("scaled")
    )


# ---------------------------------------------------------------------------
# kNN label agreement — neighbor-vote mislabel detection over the ANN index
# (the confident-learning-style label QA pass a training pipeline runs
# before trusting a labeled embedding corpus)
# ---------------------------------------------------------------------------


def _knn_label_oracle() -> str:
    return f"""
WITH nb AS ({_ivf_oracle()}),
lab AS (SELECT vec_id, label FROM embeddings),
votes AS (
    SELECT nb.query_id, l.label AS n_label, count(*)::bigint AS cnt
    FROM nb JOIN lab l ON l.vec_id = nb.neighbor_id
    GROUP BY 1, 2
),
maj AS (
    SELECT query_id, n_label, cnt,
           row_number() OVER (PARTITION BY query_id
               ORDER BY cnt DESC, n_label) AS rn,
           sum(cnt) OVER (PARTITION BY query_id) AS n_neighbors
    FROM votes
)
SELECT m.query_id,
       q.label::int AS own_label,
       m.n_label::int AS majority_label,
       m.cnt AS votes,
       m.n_neighbors::bigint AS n_neighbors,
       (q.label = m.n_label) AS agree
FROM maj m JOIN lab q ON q.vec_id = m.query_id
WHERE m.rn = 1
"""


@register(
    "knn_label_agreement",
    _knn_label_oracle(),
    doc=f"Neighbor-vote label QA over the IVF ANN index: for each query "
    f"vector, its top-{TOP_K} approximate neighbors (the sim_ann_ivf "
    "path — seeded centroids, SQL-replayable end to end) vote with their "
    "labels; the report carries the majority label (count-desc, "
    "label-asc tie-break — no nondeterministic mode()), vote count, and "
    "an agree flag against the vector's own label — the "
    "confident-learning-style mislabel screen run before trusting a "
    "labeled corpus.  Scale: candidate generation is the ANN index's one "
    "cell_id shuffle (never all-pairs); everything after the top-k is "
    "queries x k rows of metadata.  The oracle replays the identical "
    "index, votes, and tie-break in SQL — exact hash gate, no contract "
    "booleans needed.",
)
def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nb = sim_ann_ivf(spark, sf_dir)
    labels = emb.select("vec_id", "label")
    votes = (
        nb.join(
            labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .groupBy("query_id", F.col("label").alias("n_label"))
        .agg(F.count("*").alias("cnt"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cnt").desc(), F.col("n_label")
    )
    maj = votes.select(
        "query_id",
        "n_label",
        "cnt",
        F.row_number().over(wq).alias("rn"),
        F.sum("cnt").over(Window.partitionBy("query_id")).alias("n_neighbors"),
    ).where(F.col("rn") == 1)
    own = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("own_label")
    )
    return maj.join(own, "query_id").select(
        "query_id",
        F.col("own_label").cast("int").alias("own_label"),
        F.col("n_label").cast("int").alias("majority_label"),
        F.col("cnt").alias("votes"),
        "n_neighbors",
        (F.col("own_label") == F.col("n_label")).alias("agree"),
    )
