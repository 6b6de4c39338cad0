"""Distributed Lloyd's k-means — the iterative model-training loop
that builds the coarse-quantizer an IVF index (q_similarity_ann)
assumes as given, and, keyed by subspace, the IVF-PQ codebooks
(``lloyd_models``).

The model (k·d doubles) lives at the DRIVER between rounds — the same
design as Spark MLlib's KMeans: what crosses the cluster boundary per
round is O(model), never O(data). Per round:

1. **Assign** — centroids are baked into the plan as literal arrays, so
   assignment is a pure narrow projection over the (cached) vector
   table: argmin squared-distance via ‖v‖² − 2·v·c + ‖c‖², distance
   ROUNDED to 6 dp, ties broken on cell id. NO join and NO shuffle —
   the vector table is never repartitioned, not even by vec_id. The
   distances come from ``functions/det.py``'s sequential kernels, which
   carry the argument for their bit-identity with the oracle.
2. **Update** — new centroid = element-wise mean of members:
   posexplode to (cell, dim, x) and avg — partial aggregation combines
   map-side, so the shuffle is O(k·d·partitions), never O(n·d). The
   k·d rounded means are collected to the driver (≤ a few KB) to become
   the next round's literals. Centroids are re-QUANTIZED to 6 dp each
   round: model state is the only thing that crosses iterations, and
   quantizing it makes cross-engine float drift collapse at every round
   boundary instead of compounding.

The LAST round's update is left lazy and returned as the result
DataFrame, so the caller still gets a distributed plan (assignment
projection + one O(k·d) aggregation) rather than a driver-local table.

Fixed iteration count (no convergence test): the loop is a constant
chain of identical dataflow rounds — exactly what makes it expressible
as chained CTEs in the SQL oracle, and what you'd run at 100 TB anyway
(each Lloyd round is a full pass; production IVF training fixes the
round budget up front, typically on a sample).

Reference analog: none — the reference has no iterative computation of
any kind (its only loop is an SQS poll).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from project_map_reduce_spark.functions.det import argmin6, seq_dist2, seq_dot
from project_map_reduce_spark.tables import pin

Model = dict[int, list[float]]  # cell id -> centroid


def _assign(
    vecs: DataFrame, models: dict[int | None, Model], key: str | None
) -> DataFrame:
    """Narrow argmin-assignment against the driver-held models (one per
    ``key`` value; the single key ``None`` when there is no key). Pure
    projection — no join, no exchange.

    The k squared distances are one Arrow pandas UDF, not k Catalyst
    ``aggregate`` folds: HOF lambdas evaluate interpreted (k·d lambda
    dispatches per row), and a calm-host A/B at sf0.1 measured the UDF
    form ~35% faster end-to-end (min 2.0 s vs 3.1 s, consistent across
    paired trials). ``seq_dist2`` keeps them bit-identical to the SQL
    fold; rounding, tie-break and argmin stay JVM-side (``argmin6``).
    """
    cells = {m: sorted(model) for m, model in models.items()}
    mats = {
        m: np.asarray([model[c] for c in cells[m]], dtype=np.float64)
        for m, model in models.items()
    }

    @pandas_udf("array<double>")
    def _dist2(v: pd.Series, *keycol: pd.Series) -> pd.Series:
        rows = v.to_numpy()
        keys = keycol[0].to_numpy() if keycol else None
        out = np.empty(len(rows), dtype=object)
        for m, mat in mats.items():
            idx = np.arange(len(rows)) if keys is None else np.flatnonzero(keys == m)
            if idx.size:
                d2 = seq_dist2(np.vstack(rows[idx]), mat)
                for i, row in zip(idx, d2):
                    out[i] = row
        return pd.Series(out)

    cell: Column | None = None
    for m in sorted(cells):
        arm = argmin6(F.col("__d2"), cells[m])
        if key is None:
            cell = arm
        else:
            hit = F.col(key) == m
            cell = F.when(hit, arm) if cell is None else cell.when(hit, arm)
    keycols = [] if key is None else [key]
    return (
        vecs.withColumn("__d2", _dist2("v", *keycols))
        .withColumn("cell", cell)
        .drop("__d2")
    )


def _lloyd_loop(
    vectors: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    *,
    key: str | None = None,
    seed_lo: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Shared Lloyd iteration: returns (final_assigned, final_update),
    both lazy — final_assigned is the last round's narrow assignment
    projection ``(vec_id, [key,] v, cell)``, final_update the last
    round's per-([key,] cell, dim) quantized means ``x`` and member
    counts ``n``.

    ``key`` trains one independent model per key value in the same
    pass — the product-quantization trainer, one codebook per subspace
    (plans/similarity.py::_ivf_pq_search), where each round is still
    one assign projection, one aggregate and one driver round-trip.
    Seeds are the k vectors with ``seed_lo <= vec_id < seed_lo + k``
    (per key value), and their vec_ids are the cell ids.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    keycols = [] if key is None else [key]
    # Every Lloyd round re-reads the full training set (assign is a pass
    # over all vectors) — persist it once so the scan subtree is not
    # re-executed per round. At cluster scale this is the cache (or
    # checkpoint) of the working set that any iterative trainer does.
    vecs = pin(
        "lloyd.vecs",
        vectors.select(
            F.col(id_col).alias("vec_id"), *keycols, F.col(vec_col).alias("v")
        ),
    )

    seed = vecs.filter(
        (F.col("vec_id") >= seed_lo) & (F.col("vec_id") < seed_lo + k)
    ).select(
        *keycols, F.col("vec_id").alias("cell"), F.posexplode("v").alias("dim", "x")
    )
    models = _collect_models(seed, key)

    assigned = upd = None
    for i in range(iters):
        assigned = _assign(vecs, models, key)
        upd = (
            assigned.select(*keycols, "cell", F.posexplode("v").alias("dim", "x"))
            .groupBy(*keycols, "cell", "dim")
            .agg(F.round(F.avg("x"), 6).alias("x"), F.count(F.lit(1)).alias("n"))
        )
        if i < iters - 1:
            # Model round-trip: the rounded means back to the driver to
            # become the next round's literal centroids.
            models = _collect_models(upd, key)
    return assigned, upd


def _collect_models(upd: DataFrame, key: str | None) -> dict[int | None, Model]:
    """Per-([key,] cell, dim) model rows ``x`` gathered to the driver
    as ``{key value: {cell: centroid}}`` — O(model) rows."""
    models: dict[int | None, Model] = {}
    for r in sorted(
        upd.collect(), key=lambda r: (r[key] if key else 0, r["cell"], r["dim"])
    ):
        m = r[key] if key else None
        models.setdefault(m, {}).setdefault(int(r["cell"]), []).append(float(r["x"]))
    return models


def lloyd_assignments(
    vectors: DataFrame,
    *,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Run ``iters`` Lloyd rounds and return the FINAL-round cell
    assignment ``(vec_id, v, nv, cell)`` — i.e. each vector labeled by
    its nearest round-(iters−1) centroid. This is the IVF coarse
    partitioning as a first-class output: cell count grows with the
    corpus (k is a training knob), which is exactly what the
    embedding-dedup blocker (plans/dedup.py::q_dedup_embedding_ivf)
    needs for within-block work to stay flat at scale."""
    assigned, _ = _lloyd_loop(vectors, k, iters, id_col, vec_col)
    return assigned.select("vec_id", "v", seq_dot("v", "v").alias("nv"), "cell")


def lloyd(
    vectors: DataFrame,
    *,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Run ``iters`` full Lloyd rounds over ``vectors`` (id, vec of
    doubles). Init: the k vectors with 0 <= id < k (deterministic — the
    fixture ids are dense from 0). Returns the trained model: one row
    per non-empty cell, ``(cell_id, n_members, centroid)``, where
    centroid is the 6-dp-quantized member mean of the final round and
    n_members counts the final assignment.
    """
    _, upd = _lloyd_loop(vectors, k, iters, id_col, vec_col)

    return (
        upd.groupBy("cell")
        .agg(
            F.max("n").alias("n_members"),  # n is constant across a cell's dims
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "x"))),
                lambda s: s.getField("x"),
            ).alias("centroid"),
        )
        .select(F.col("cell").alias("cell_id"), "n_members", "centroid")
    )


def lloyd_models(
    vectors: DataFrame,
    *,
    k: int,
    iters: int,
    key: str,
    seed_lo: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> dict[int, Model]:
    """Run ``iters`` Lloyd rounds training one independent model per
    value of ``key`` in the same pass (the FAISS PQ trainer shape: one
    scan per round trains every subspace codebook), seeded from the k
    vectors with ``seed_lo <= vec_id < seed_lo + k``, and collect the
    final round's 6-dp means as ``{key value: {cell: centroid}}``."""
    _, upd = _lloyd_loop(
        vectors, k, iters, id_col, vec_col, key=key, seed_lo=seed_lo
    )
    return _collect_models(upd, key)
