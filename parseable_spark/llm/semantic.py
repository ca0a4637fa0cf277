"""Semantic clustering + SemDeDup-style deduplication over embeddings.

The missing tier between exact/fuzzy text dedup (llm/dedup.py) and
pairwise embedding near-dups (llm/similarity.py): cluster the corpus
with distributed k-means, then remove semantic duplicates WITHIN each
cluster — the SemDeDup recipe (Abbas et al., 2023, public) used by
large-scale training-data curation.

Scale design (100 TB):
- k-means: Lloyd's iterations where the only driver-side state is the
  k x dim centroid table (k<=65k x 1k dims = MBs). Assignment is a
  map-side argmax over a broadcast codebook (same shape as ivf_ann);
  the centroid update is one posexplode + (cluster, dim) hash
  aggregate — partial aggregation map-side, k*dim rows out. No
  per-vector data ever reaches the driver.
- dedup: the within-cluster self-join is keyed on the cluster id, so
  only same-cluster pairs meet (the whole point of clustering first:
  n^2 becomes sum_c n_c^2). Clusters larger than `cluster_cap` switch
  to star comparisons against the cluster's min-id member — the same
  bounded-output guard as the LSH giant-bucket guard (llm/dedup.py),
  with the same trade-off documented there.

Determinism: init centroids are the k lowest-id vectors (swap for a
sampled k-means++ in production — mechanics unchanged); every argmax
tie breaks on id; no RNG anywhere, so results are bit-stable across
runs and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions import as_double_array, cosine, eval_once, nearest_cell


def _centroid_df(spark, centroids: list[tuple[int, list[float]]]):
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cid bigint, cv array<double>",
    )


def kmeans_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """(id, cluster, sim, v): nearest centroid by cosine, argmax
    PER-ROW over the codebook attached as one broadcast row of
    collect_list(struct(cid, cv)) — `functions.nearest_cell`, whose
    docstring states the comparator and the codebook-size bound. The
    vector corpus is never shuffled.

    An EMPTY centroid list raises ValueError: there is no meaningful
    assignment against zero centroids. kmeans_fit guards its own
    calls; external callers must check first."""
    if not centroids:
        raise ValueError("kmeans_assign requires a non-empty centroid list")
    cents = _centroid_df(embeddings.sparkSession, centroids)
    cent_row = cents.agg(F.collect_list(F.struct("cid", "cv")).alias("_cents"))
    vecs = embeddings.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    best = nearest_cell(F.col("v"), F.col("_cents"), ndigits)
    # two-stage select with eval_once: `best` is consumed twice
    # (cluster + sim); writing both extractions over the raw expression
    # would run the whole codebook argmax twice per row (interpreted
    # HOF expressions get no CSE), and CollapseProject would inline a
    # plain alias right back. The pinned staging projection runs the
    # argmax once; the outer select reads two cheap struct fields.
    staged = vecs.crossJoin(broadcast(cent_row)).select(
        F.col(id_col), eval_once(best).alias("_best"), "v"
    )
    return staged.select(
        F.col(id_col),
        (-F.col("_best")["ncid"]).alias("cluster"),
        F.col("_best")["sim"].alias("sim"),
        "v",
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's k-means (cosine assignment, mean update).

    Returns the centroid table [(cid, vector)]. Driver-side state per
    iteration is exactly k*dim floats (the new centroids) — bounded
    regardless of corpus size. Each iteration: one broadcast-join
    argmax (no shuffle on the big side beyond the groupBy per vector)
    + one posexplode/(cluster, dim) aggregate (k*dim rows out).
    """
    init = (
        embeddings.orderBy(F.col(id_col)).limit(k)
        .select(F.col(id_col), as_double_array(vec_col).alias("v"))
        .collect()
    )
    if not init:
        # zero rows previously crashed with an opaque
        # max()-of-empty-sequence ValueError on the first iteration
        # (r6 review); fail loudly at the boundary instead
        raise ValueError("cannot fit k-means on an empty embeddings frame")
    centroids = [(i, list(r["v"])) for i, r in enumerate(init)]
    for _ in range(max_iter):
        assigned = kmeans_assign(embeddings, centroids, id_col, vec_col)
        new_rows = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("dims"))
            .select("cluster", F.col("dims.m").alias("cv"))
            .collect()
        )
        new_map = {int(r["cluster"]): list(r["cv"]) for r in new_rows}
        # empty clusters keep their previous centroid
        new_centroids = [(cid, new_map.get(cid, vec)) for cid, vec in centroids]
        shift = max(
            max(abs(a - b) for a, b in zip(old, new)) if new is not old else 0.0
            for (_, old), (_, new) in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift < tol:
            break
    return centroids


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    max_iter: int = 10,
    cluster_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """SemDeDup: k-means cluster, then flag within-cluster semantic
    duplicates (cosine >= threshold), keeping the lowest id of each
    duplicate group. Returns (id, cluster, is_dup, dup_of).

    dup_of is the smallest same-cluster id this vector duplicates
    (null when kept). Only same-cluster pairs are compared — the
    quadratic term is sum of squared cluster sizes, controlled by k;
    clusters above `cluster_cap` degrade to star comparisons against
    the cluster's min-id member (bounded linear output, connectivity
    preserved — see the LSH giant-bucket guard).
    """
    centroids = kmeans_fit(embeddings, k, max_iter, id_col=id_col, vec_col=vec_col)
    assigned = (
        kmeans_assign(embeddings, centroids, id_col, vec_col)
        # sim is unused here; dropping it BEFORE the checkpoint keeps
        # the materialization narrow and (since interpreted HOF
        # expressions get no CSE) avoids a second per-row codebook
        # argmax evaluation just to compute a column nobody reads
        .select(F.col(id_col), "cluster", "v")
        .localCheckpoint()  # consumed by both join branches; freed with result
    )

    sized = assigned.withColumn(
        "csz", F.count(F.lit(1)).over(Window.partitionBy("cluster"))
    )
    small = sized.filter(F.col("csz") <= cluster_cap)
    a, b = small.alias("a"), small.alias("b")
    pairs_small = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cosine(F.col("a.v"), F.col("b.v")), ndigits).alias("cos"),
    )
    giant = sized.filter(F.col("csz") > cluster_cap)
    reps = giant.groupBy("cluster").agg(F.min(id_col).alias("rep_id"))
    rep_vecs = (
        giant.select(
            F.col("cluster").alias("rc"),
            F.col(id_col).alias("rid"),
            F.col("v").alias("rep_v"),
        )
        .join(reps, (F.col("rc") == reps["cluster"]) & (F.col("rid") == reps["rep_id"]))
        .select("rc", F.col("rid").alias("rep_id"), "rep_v")
    )
    pairs_giant = (
        giant.join(broadcast(rep_vecs), giant["cluster"] == F.col("rc"))
        .filter(F.col(id_col) > F.col("rep_id"))
        .select(
            F.col("rep_id").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.round(cosine(F.col("v"), F.col("rep_v")), ndigits).alias("cos"),
        )
    )
    # nanvl: a zero-norm embedding (empty/padded input) makes cosine
    # 0/0 = NaN, and Spark orders NaN ABOVE every number — so NaN >=
    # threshold passed and a zero vector holding a cluster's min id
    # falsely marked every other member as its duplicate (wholesale
    # deletion of non-duplicates). NaN pairs are "no similarity
    # evidence", never dups.
    dup_pairs = pairs_small.unionByName(pairs_giant).filter(
        F.nanvl(F.col("cos"), F.lit(-1.0)) >= threshold
    )
    # each duplicate points at the smallest id it duplicates
    dup_of = dup_pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        # dup_of is aggregate-derived and corpus-scale under dense
        # duplication — same AQE broadcast-misestimate class the
        # memory probe OOM'd on (dedup.py precedent); hint it
        assigned.join(dup_of.hint("shuffle_merge"), id_col, "left")
        .select(
            F.col(id_col),
            "cluster",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )
