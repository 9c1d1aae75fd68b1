"""Distributed k-means (Lloyd iterations) over an embedding column.

The reference has no vector ops at all (SURVEY.md §2.G north star); this
is the Spark-first shape for clustering a 100 TB embedding corpus:

* **Assign** is a pure map: the k centroids are inlined into the plan as
  an array-of-structs literal and each row folds over it with
  ``F.aggregate`` to find its argmin — NO join, NO shuffle, no UDF.  A
  window/groupBy argmin would shuffle the whole corpus once per
  iteration; this shuffles zero rows.
* **Update** is one map-side-combinable shuffle of (corpus x dim)
  scalars: posexplode to (cluster, pos, value), avg, re-assemble.

Centroids are k x dim doubles (a few KiB) — collecting them to the driver
between iterations is the correct distributed design, not a shortcut
(same contract as ml.clustering.KMeans, which this intentionally mirrors
without the MLlib Vector UDT so results stay oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators._shared import double_sql
from ab_metadata_pusher_spark.operators.similarity import _dbl

__all__ = ["seed_centroids", "assign_clusters", "update_centroids",
           "kmeans_fit_assign"]


def seed_centroids(corpus: DataFrame, k: int,
                   id_col: str = "vec_id",
                   emb_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic seeding: the vectors with the k smallest ids, each
    cluster numbered by its seed's id, in ascending order (reproducible
    everywhere, unlike random init; on ids 0..n-1 cluster j is id j)."""
    rows = (corpus.select(id_col, _dbl(F.col(emb_col)).alias("v"))
            .orderBy(id_col).limit(k).collect())
    return [(int(r[id_col]), [float(x) for x in r["v"]]) for r in rows]


def _centroid_literal(centroids: list[tuple[int, list[float]]]) -> Column:
    # One SQL string parsed JVM-side: building k x dim nested F.lit/
    # F.struct trees costs hundreds of py4j round trips PER literal
    # (measured ~0.5s of pure driver time at 8x64 before any job runs).
    # Element rendering is _shared.double_sql: bit-exact with F.lit and
    # safe for non-finite values (a NaN centroid coordinate — possible
    # from a degenerate input — must not become an unparseable 'nanD').
    parts = ", ".join(
        "named_struct('cluster', {c}, 'cvec', array({vs}))".format(
            c=int(c), vs=", ".join(map(double_sql, vec)))
        for c, vec in centroids)
    return F.expr(f"array({parts})")


def assign_clusters(corpus: DataFrame,
                    centroids: list[tuple[int, list[float]]],
                    id_col: str = "vec_id",
                    emb_col: str = "embedding",
                    keep_emb: bool = False,
                    shape: str = "auto") -> DataFrame:
    """Map-only nearest-centroid assignment by Euclidean distance.

    Ties break toward the lower cluster id (strict ``<`` while folding in
    ascending cluster order), matching the oracle's ``ORDER BY dist,
    cluster`` tiebreak.  Output: id, cluster, dist (unrounded double);
    ``keep_emb`` carries the embedding column through (the Lloyd-update
    caller wants it so the update needs no corpus re-join).

    ``shape``: same two physical tiers as similarity._assign_cells and
    the same crossover constant — the literal tier is O(k x dim) plan
    text and per-row Catalyst folds, which degrade superlinearly past
    a few hundred centroids (scripts/ivf_cells_probe.py), while a
    SemDeDup-scale k-means wants thousands of clusters.  ``auto``
    keeps the bit-exact literal tier for every oracle-gated query
    (k <= 8) and crosses to the numpy argmin tier on
    ASSIGN_CELLS_LITERAL_MAX doubles.
    """
    from ab_metadata_pusher_spark.operators.similarity import (
        ASSIGN_CELLS_LITERAL_MAX,
    )
    centroids = sorted(centroids)
    if not centroids:
        raise ValueError("assign_clusters: empty centroid list")
    if shape not in ("auto", "literal", "arrow"):
        raise ValueError(f"unknown assign_clusters shape: {shape!r}")
    if shape == "arrow" or (shape == "auto" and
                            len(centroids) * len(centroids[0][1])
                            > ASSIGN_CELLS_LITERAL_MAX):
        return _assign_clusters_arrow(corpus, centroids, id_col, emb_col,
                                      keep_emb)
    cents = _centroid_literal(centroids)
    v = _dbl(F.col(emb_col))

    def sq_dist(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(v, c["cvec"], lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    # array_min over (d2, cluster) structs is the argmin: struct ordering
    # compares d2 first, then cluster — the lower cluster id wins ties,
    # matching the oracle's ORDER BY dist, cluster.  Each distance is
    # evaluated exactly once (a fold with F.when would inline the
    # distance expression twice per step).
    best = F.array_min(F.transform(
        cents, lambda c: F.struct(sq_dist(c).alias("d2"),
                                  c["cluster"].alias("cluster"))))
    cols = [F.col(id_col),
            best["cluster"].alias("cluster"),
            F.sqrt(best["d2"]).alias("dist")]
    if keep_emb:
        cols.append(F.col(emb_col))
    return corpus.select(*cols)


def _assign_clusters_arrow(corpus: DataFrame,
                           centroids: list[tuple[int, list[float]]],
                           id_col: str, emb_col: str,
                           keep_emb: bool) -> DataFrame:
    """Large-k assignment: numpy squared-distance argmin per Arrow
    batch — still map-only, centroid matrix in the task closure.
    ||e - c||^2 expands to ||e||^2 - 2 e.c + ||c||^2 (one matmul);
    ``dist`` is recomputed exactly for the winning centroid only, so
    the reported distance does not carry the expansion's cancellation
    error.  Same trade as similarity._assign_cells_arrow: BLAS
    accumulation can split near-exact ties differently than the
    literal tier's left fold (argmin still ties to the lower cluster
    id within its own values).

    Degenerate rows (NULL / ragged / null-element embeddings) follow
    the literal tier's contract instead of crashing the batch (r9
    ADVICE): every distance is NULL, so array_min ties every struct to
    the LOWEST cluster id and sqrt(NULL) is NULL — here the row is
    masked out of the matmul and emitted as (lowest cluster id, NULL
    dist) directly."""
    import numpy as np

    ids = np.asarray([c for c, _ in centroids], dtype=np.int64)
    mat = np.asarray([v for _, v in centroids], dtype=np.float64)
    c2 = (mat * mat).sum(axis=1)
    degenerate_cluster = int(ids.min())
    in_types = {f.name: f.dataType.simpleString() for f in corpus.schema}
    out_cols = [f"`{id_col}` {in_types[id_col]}", "`cluster` int",
                "`dist` double"]
    if keep_emb:
        out_cols.append(f"`{emb_col}` {in_types[emb_col]}")
    out_schema = ", ".join(out_cols)

    def fn(batches):
        import pandas as pd

        dim = mat.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            vals = list(pdf[emb_col])
            ok = np.fromiter(
                (v is not None and len(v) == dim
                 and not any(x is None for x in v) for v in vals),
                dtype=bool, count=len(vals))
            emb = np.zeros((len(vals), dim), dtype=np.float64)
            if ok.any():
                emb[ok] = np.asarray(
                    [vals[i] for i in np.flatnonzero(ok)],
                    dtype=np.float64)
            d2 = ((emb * emb).sum(axis=1)[:, None]
                  - 2.0 * (emb @ mat.T) + c2[None, :])
            pick = np.argmin(d2, axis=1)  # first (lowest) index on ties
            diff = emb - mat[pick]
            dist = np.sqrt((diff * diff).sum(axis=1))
            cluster = ids[pick].astype(np.int32)
            cluster[~ok] = degenerate_cluster
            out = {id_col: pdf[id_col].to_numpy(),
                   "cluster": cluster,
                   "dist": pd.array(np.where(ok, dist, np.nan),
                                    dtype="Float64")}
            out["dist"][~ok] = pd.NA  # NULL, not NaN, on the wire
            if keep_emb:
                out[emb_col] = pdf[emb_col]
            yield pd.DataFrame(out)

    return corpus.mapInPandas(fn, out_schema)


def update_centroids(corpus: DataFrame, assigned: DataFrame,
                     id_col: str = "vec_id",
                     emb_col: str = "embedding",
                     dim: int | None = None,
                     shape: str = "auto") -> list[tuple[int, list[float]]]:
    """Lloyd update: per-cluster element-wise mean.  Two physical
    shapes, selected by ``shape`` (``auto``/``exploded``/``wide``):

    * **exploded** (the ``auto`` choice): posexplode to (cluster, pos,
      val) and aggregate per (cluster, pos).  The map side inflates to
      corpus x dim internal rows, but partial aggregation combines them
      to partitions x k x dim scalars BEFORE the exchange, and the
      generated code is constant-size regardless of width.
    * **wide**: one cluster-keyed aggregate with ``dim`` per-dimension
      ``avg`` columns — no row inflation, but one aggregate expression
      per dimension, which exits whole-stage codegen past
      ``spark.sql.codegen.maxFields`` (default 100) into interpreted
      per-expression eval, and pays superlinear plan/compile time.

    Measured (scripts/lloyd_dim_probe.py, r9, local[32], min-of-reps
    warm): exploded wins at EVERY probed point — dim 8-2048 x rows
    20k-2M — e.g. dim 64/2M rows 0.57s vs 1.33s, dim 256/2M rows 3.45s
    vs 5.38s (wide cold 37s), dim 2048/20k rows 0.72s vs 20.5s.  The r8
    rebuild that made wide the only shape was a measured pessimization
    on the fixture's dim-64 corpus (0.27s vs 1.30s per update at
    sf0.1) and is the likely real component of the r8 driver-record
    slowdown on embedding_kmeans/dedup_semantic.  Both shapes exchange
    the same k x dim partials, so the 100 TB story is unchanged;
    ``wide`` stays available for narrow-dim callers that want zero row
    inflation and accept the codegen-fields bound.

    When ``assigned`` already carries ``emb_col`` (assign_clusters with
    ``keep_emb=True`` — assignment is a map-only projection OF the
    corpus, so the column is free), the per-iteration corpus re-join is
    skipped; the joined fallback stays for callers holding a bare
    (id, cluster) frame.  ``dim`` callers that know the width (every
    trainer does, from its seed centroids) should pass it; otherwise a
    single bounded first() infers it.

    Null handling (r8 ADVICE): rows with a NULL embedding are filtered
    before the groupBy, and each dimension aggregates with ``avg`` —
    rows carrying a NULL *element* at dim i drop out of dim i's mean
    only.  A cluster whose every row is NULL at some dimension has no
    defined mean there and is dropped from the returned list (its
    members re-assign to surviving centroids next pass) instead of
    raising ``float(None)``."""
    if emb_col in assigned.columns:
        joined = assigned
    else:
        joined = corpus.join(assigned.select(id_col, "cluster"), id_col)
    joined = joined.filter(F.col(emb_col).isNotNull())
    if dim is None:
        dim = len(joined.select(emb_col).first()[0])
    if shape not in ("auto", "exploded", "wide"):
        raise ValueError(f"unknown Lloyd update shape: {shape!r}")
    if shape == "wide":
        means = joined.groupBy("cluster").agg(
            *[F.avg(F.col(emb_col)[i].cast("double")).alias(f"_s{i}")
              for i in range(dim)])
        return [(int(r["cluster"]),
                 [float(r[f"_s{i}"]) for i in range(dim)])
                for r in means.collect()
                if all(r[f"_s{i}"] is not None for i in range(dim))]
    per_pos = (joined
               .select("cluster", F.posexplode(F.col(emb_col))
                       .alias("_pos", "_val"))
               .groupBy("cluster", "_pos")
               .agg(F.avg(F.col("_val").cast("double")).alias("_m"))
               .collect())
    by_cluster: dict[int, dict[int, float | None]] = {}
    for r in per_pos:
        by_cluster.setdefault(int(r["cluster"]), {})[int(r["_pos"])] = (
            None if r["_m"] is None else float(r["_m"]))
    out = []
    for c, pos_map in sorted(by_cluster.items()):
        vec = [pos_map.get(i) for i in range(dim)]
        if all(v is not None for v in vec):
            out.append((c, vec))
    return out


def kmeans_fit_assign(corpus: DataFrame, k: int = 8, iters: int = 1,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding") -> DataFrame:
    """Seed, run ``iters`` Lloyd update iterations, return the final
    assignment (id, cluster, dist).  Each iteration costs one map pass +
    one (cluster, pos)-keyed shuffle; cache ``corpus`` upstream when
    iterating more than a couple of times."""
    cents = seed_centroids(corpus, k, id_col, emb_col)
    dim = len(cents[0][1]) if cents else None
    for _ in range(iters):
        assigned = assign_clusters(corpus, cents, id_col, emb_col,
                                   keep_emb=True)
        cents = update_centroids(corpus, assigned, id_col, emb_col, dim=dim)
    return assign_clusters(corpus, cents, id_col, emb_col)


def pq_fit_assign(corpus: DataFrame, m: int = 4, k: int = 4,
                  iters: int = 1, id_col: str = "vec_id",
                  emb_col: str = "embedding") -> DataFrame:
    """Product quantization: split the d-dim embedding into ``m``
    contiguous subspaces and run an independent k-means (same Lloyd
    machinery as above) in each, returning one row per (vector,
    subspace) with its assigned code and quantization error.

    PQ is the storage-side half of large-scale ANN (IVF-PQ): m codes of
    log2(k) bits replace d floats per vector.  Scale shape: each
    subspace's assign pass is map-only over a sliced array (no shuffle),
    each update shuffles (code, pos) scalar partials; the m subspace
    plans are independent — they union without any cross-subspace
    exchange, and the codebooks (m x k x d/m doubles) stay driver-sized
    by construction."""
    d = corpus.select(F.size(F.col(emb_col)).alias("d")).first()["d"]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by {m} subspaces")
    w = d // m
    outs = []
    for s in range(m):
        sub = corpus.select(
            F.col(id_col),
            F.slice(F.col(emb_col), s * w + 1, w).alias("_sub"))
        cents = seed_centroids(sub, k, id_col, "_sub")
        for _ in range(iters):
            assigned = assign_clusters(sub, cents, id_col, "_sub",
                                       keep_emb=True)
            cents = update_centroids(sub, assigned, id_col, "_sub", dim=w)
        outs.append(assign_clusters(sub, cents, id_col, "_sub")
                    .select(id_col, F.lit(s).alias("subspace"),
                            F.col("cluster").alias("code"),
                            F.col("dist").alias("qerr")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
