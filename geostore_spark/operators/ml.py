"""Iterative ML primitives over the ``embeddings`` table.

The reference has no ML surface; a training-data pipeline needs at least
cluster assignment (corpus curation, IVF coarse quantizers — see
``similarity.py``'s BLAS nearest-centroid path). This module implements
Lloyd's k-means in the MLlib pattern: model state (k×dim centroids, a
few KB) lives at the driver and ships to executors in the task closure;
each iteration is one Arrow-batched ``mapInPandas`` pass computing
all-int64 distances/argmin per partition plus per-partition partial
(cid, pos) sums, so the only shuffle per iteration carries k×dim rows.
(An earlier formulation exploded coordinates through a broadcast join —
a k× row blowup and two full-width shuffles per iteration; the numpy
kernel runs the identical integer arithmetic ~3× faster.)

Cross-engine exactness: float distance sums depend on summation order,
so a naive double implementation diverges from any oracle on near-ties.
Instead coordinates are quantized to integers (``floor(x * 1e6)``) and
ALL iterative arithmetic — distances, argmin tie-breaks, centroid
updates — is exact 64-bit integer math (the one division per update is
a single IEEE double op, identical everywhere). The unrolled DuckDB
recursive oracle reproduces every iteration bit-for-bit: a rare thing
for an iterative algorithm, and the property that makes the t2 gate
meaningful here.

At large k the exploded broadcast join degrades (k× row blowup); the
scale path for assignment is the per-partition BLAS argmin already used
by ``x_sim_ivf`` (similarity.py). k-means here demonstrates the
engine-exact integer path with small k, which is the common regime for
coarse quantizers (k ≤ a few hundred ≪ dim blowup limit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geostore_spark.registry import register
from geostore_spark.sources.tables import load_table
from geostore_spark.operators.util import pin_branch_point

K = 8
ITERS = 3
QSCALE = 1_000_000  # |x| ≤ ~0.6 → xq ≤ 6e5; 64·diff² ≤ 9e13 ≪ 2^63


def kmeans_assign(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = K,
    iters: int = ITERS,
    with_second: bool = False,
) -> DataFrame:
    """Lloyd's k-means, integer-exact. Returns (vec_id, cluster, distq)
    where cluster is the seed vec_id of the winning centroid and distq
    the quantized squared L2 distance after the final assignment.
    ``with_second=True`` adds ``distq2`` — the distance to the nearest
    OTHER centroid (the b-term of the centroid-simplified silhouette);
    since distq is the global minimum, distq2 is the row's second
    smallest distance, and distq <= distq2 always.

    Seeds: the k smallest vec_ids (deterministic; k-means++ would need
    engine-specific randomness). Empty clusters drop out of the next
    round identically in every engine (groupBy only sees assigned cids).
    """
    import numpy as np
    import pandas as pd

    emb = embeddings.select("vec_id", "embedding").transform(pin_branch_point)
    seeds = sorted(
        embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect(),
        key=lambda r: r["vec_id"],
    )
    cids = np.array([r["vec_id"] for r in seeds], dtype=np.int64)
    cent = np.floor(
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in seeds]) * QSCALE
    ).astype(np.int64)

    def quantize(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        return ids, np.floor(x * QSCALE).astype(np.int64)

    for it in range(iters):
        cent_now, cids_now, last = cent, cids, it == iters - 1

        def step(batches, cent=cent_now, cids=cids_now, last=last):
            k_now, dim = cent.shape
            sums = np.zeros((k_now, dim), dtype=np.int64)
            counts = np.zeros(k_now, dtype=np.int64)
            out_frames = []
            for pdf in batches:
                if not len(pdf):
                    continue
                ids, xq = quantize(pdf)
                # all-int64 distances: identical to the exploded SQL's
                # SUM((xq-cq)^2); bounds in the module docstring
                diff = xq[:, None, :] - cent[None, :, :]
                dist = np.einsum("nkd,nkd->nk", diff, diff)
                # cids ascend, so argmin's first-min == (distq, cid) min
                arg = dist.argmin(axis=1)
                if last:
                    frame = {
                        "vec_id": ids,
                        "cid": cids[arg],
                        "distq": dist[np.arange(len(ids)), arg],
                    }
                    if with_second:
                        # second-smallest distance = nearest OTHER centroid
                        frame["distq2"] = np.partition(dist, 1, axis=1)[:, 1]
                    out_frames.append(pd.DataFrame(frame))
                else:
                    for j in range(k_now):
                        mask = arg == j
                        if mask.any():
                            sums[j] += xq[mask].sum(axis=0)
                            counts[j] += int(mask.sum())
            if last:
                empty = np.array([], dtype=np.int64)
                cols = ["vec_id", "cid", "distq"] + (
                    ["distq2"] if with_second else []
                )
                yield from out_frames or [
                    pd.DataFrame({c: empty for c in cols})
                ]
            else:
                live = counts > 0
                yield pd.DataFrame(
                    {
                        "cid": np.repeat(cids[live], cent.shape[1]),
                        "pos": np.tile(
                            np.arange(1, cent.shape[1] + 1), int(live.sum())
                        ),
                        "s": sums[live].ravel(),
                        "n": np.repeat(counts[live], cent.shape[1]),
                    }
                )

        if last:
            schema = "vec_id long, cid long, distq long" + (
                ", distq2 long" if with_second else ""
            )
            assign = emb.mapInPandas(step, schema)
        else:
            # per-partition partial sums -> one tiny (cid,pos) shuffle;
            # floor(sum/count): exact bigint sum, one IEEE double division
            partials = emb.mapInPandas(step, "cid long, pos int, s long, n long")
            upd = (
                partials.groupBy("cid", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            by_cid: dict[int, dict[int, tuple[int, int]]] = {}
            for r in upd:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = (r["s"], r["n"])
            cids = np.array(sorted(by_cid), dtype=np.int64)
            cent = np.array(
                [
                    [
                        np.floor(float(by_cid[c][p][0]) / by_cid[c][p][1])
                        for p in range(1, cent.shape[1] + 1)
                    ]
                    for c in cids
                ],
                dtype=np.int64,
            )
    out_cols = ["vec_id", F.col("cid").alias("cluster"), "distq"]
    if with_second:
        out_cols.append("distq2")
    return assign.select(*out_cols)


# Session-scoped memo of the final assignment table: x_ml_kmeans,
# x_ml_silhouette and x_dedup_semantic all ride the SAME Lloyd loop, so
# running the 3-iteration driver loop once per (context, sf, k, iters)
# and localCheckpointing the result saves two full re-runs per suite.
def shared_kmeans_assignment(
    spark: SparkSession, sf: str, k: int = K, iters: int = ITERS
) -> DataFrame:
    """Final k-means assignment (vec_id, cluster, distq, distq2) over the
    sf embeddings table, computed once per session and localCheckpointed
    so every consumer shares one assignment pass. Lives in the common
    session-checkpoint memo (keyed on applicationId, dead-session
    entries purged) — the cached table is (n_vectors × 4 int64), tiny."""
    from geostore_spark.operators.util import session_checkpoint

    def build() -> DataFrame:
        emb = load_table(spark, "embeddings", sf)
        return kmeans_assign(spark, emb, k=k, iters=iters, with_second=True)

    return session_checkpoint(spark, ("kmeans_assign", sf, k, iters), build)


def kmeans_ctes(k: int = K, iters: int = ITERS) -> tuple[str, str]:
    """The unrolled-iteration CTE body and the name of the final
    assignment CTE — shared by the k-means oracle and by composed
    oracles (SemDeDup's cluster-scoped cosine pairs)."""
    body, final = _kmeans_parts(k, iters)
    return ",\n       ".join(body), final


def _kmeans_parts(k: int, iters: int) -> tuple[list[str], str]:
    parts = [
        f"""v AS (
         SELECT vec_id, u.pos AS pos, u.xq AS xq FROM (
           SELECT vec_id,
                  unnest(list_transform(range(1, len(embedding) + 1),
                    i -> {{'pos': i,
                          'xq': CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                                           * CAST({QSCALE} AS DOUBLE)) AS BIGINT)}})) AS u
           FROM embeddings)
       )""",
        f"seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})",
        "c0 AS (SELECT v.vec_id AS cid, pos, xq AS cq FROM v JOIN seeds USING (vec_id))",
    ]
    for it in range(iters):
        parts.append(
            f"""d{it} AS (
         SELECT v.vec_id, c.cid,
                CAST(SUM((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS distq
         FROM v JOIN c{it} c ON v.pos = c.pos GROUP BY v.vec_id, c.cid
       )"""
        )
        parts.append(
            f"""a{it} AS (
         SELECT vec_id, cid, distq FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY distq, cid) AS rn
           FROM d{it}) WHERE rn = 1
       )"""
        )
        if it < iters - 1:
            parts.append(
                f"""c{it + 1} AS (
         SELECT a.cid, v.pos,
                CAST(FLOOR(CAST(SUM(v.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
         FROM a{it} a JOIN v ON a.vec_id = v.vec_id GROUP BY a.cid, v.pos
       )"""
            )
    return parts, f"a{iters - 1}"


def _kmeans_oracle(k: int = K, iters: int = ITERS) -> str:
    body, final = kmeans_ctes(k, iters)
    return f"""
       WITH {body}
       SELECT vec_id, cid AS cluster, distq
       FROM {final} ORDER BY vec_id LIMIT 500"""


@register(
    "x_ml_kmeans",
    "Lloyd's k-means over embeddings (k=8, 3 iterations), integer-exact: "
    "quantized coords make distances, tie-breaks and centroid updates "
    "pure 64-bit integer arithmetic, so the unrolled DuckDB oracle "
    "matches an ITERATIVE algorithm bit-for-bit. Broadcast centroids, "
    "map-side partial aggregation; model state lives at the driver.",
    _kmeans_oracle(),
)
def q_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    asg = shared_kmeans_assignment(spark, sf)
    return asg.select("vec_id", "cluster", "distq").orderBy("vec_id").limit(500)


# -- centroid-simplified silhouette ------------------------------------------


def _silhouette_oracle(k: int = K, iters: int = ITERS) -> str:
    body, final = kmeans_ctes(k, iters)
    d_final = f"d{iters - 1}"
    return f"""
       WITH {body},
       b AS (
         SELECT d.vec_id, MIN(d.distq) AS bq
         FROM {d_final} d JOIN {final} a
           ON d.vec_id = a.vec_id AND d.cid != a.cid
         GROUP BY d.vec_id
       ),
       s AS (
         SELECT a.cid,
                CASE WHEN b.bq = 0 THEN 0
                     ELSE ((b.bq - a.distq) * 10000) // b.bq END AS sq4
         FROM {final} a JOIN b ON a.vec_id = b.vec_id
       )
       SELECT cid AS cluster, COUNT(*) AS n,
              CAST(SUM(sq4) AS BIGINT) AS sum_sq4,
              ROUND(SUM(sq4) / (COUNT(*) * 10000.0), 6) AS avg_sil
       FROM s GROUP BY cid ORDER BY cluster"""


@register(
    "x_ml_silhouette",
    "Centroid-simplified silhouette per k-means cluster (a = distance "
    "to own centroid, b = distance to nearest other centroid, "
    "s = (b-a)/max(a,b)) — the clustering-quality audit a curation "
    "pipeline runs before trusting cluster-based dedup/sampling at "
    "100 TB. Rides the integer-exact k-means pass (one extra "
    "second-minimum per row, no extra shuffle); per-row scores quantize "
    "to 1e-4 via integer floor-division so the cluster rollup is exact "
    "64-bit arithmetic, bit-identical to the unrolled DuckDB oracle.",
    _silhouette_oracle(),
)
def q_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    asg = shared_kmeans_assignment(spark, sf)
    sq4 = F.when(F.col("distq2") == 0, F.lit(0)).otherwise(
        F.expr("(distq2 - distq) * 10000 div distq2")
    )
    return (
        asg.select(F.col("cluster").alias("cid"), sq4.alias("sq4"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sq4").cast("bigint").alias("sum_sq4"),
        )
        .select(
            F.col("cid").alias("cluster"),
            "n",
            "sum_sq4",
            F.round(F.col("sum_sq4") / (F.col("n") * 10000.0), 6).alias("avg_sil"),
        )
        .orderBy("cluster")
    )
