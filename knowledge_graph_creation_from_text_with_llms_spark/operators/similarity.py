"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k of each query vector against the
  candidate set. Queries are broadcast (the query set is small by
  definition); candidates stream through — one scan, no shuffle of the
  candidate table, a per-query top-k window on the scored rows.
- ivf_topk: the scale path — candidates are pre-bucketed by a coarse
  deterministic quantizer (sign pattern of the leading dimensions, an
  LSH-style hyperplane code); each query probes only its own bucket.
  Recall < 1 by design; `n_probes` > 1 also probes the buckets one
  sign bit away.
- ivf_kmeans_topk: the same probe join over trained k-means cells
  (kmeans_centroids) instead of the static hyperplane code;
  `n_probes` probes each query's n nearest cells.

All three exclude self pairs (q_id == vec_id) and end in one shared
tail (`_topk`): cosine scoring, a per-partition top-k pre-reduction,
then the per-query (cos desc, id asc) window and the rank_pos <= k cut.

All math is double-precision deterministic folds (functions.vectors) so
results have exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_expr, cosine_prenorm_expr, norm_expr  # noqa: F401 (cosine_expr re-exported for callers)


def _partial_topk(scored: DataFrame, q_id: str, c_id: str, k: int) -> DataFrame:
    """Per-input-partition top-k pre-reduction (exact).

    The global per-query window must shuffle every scored row on q_id —
    |Q|×|C| rows for a brute-force scan. Any row in the global top-k is
    necessarily in the top-k of its own partition under the same total
    order (cos desc, candidate id asc — strict, so no ties cross the
    cut), so reducing each partition to ≤|Q|·k rows first shrinks the
    shuffle by ~|C|/(k·P) with an identical result. Arrow-batched
    mapInPandas keeps the running best bounded at |Q|·k rows per
    partition; NaN cosines sort FIRST on the descending key to match
    Spark's NaN-greatest window ordering.
    """
    import pandas as pd  # noqa: F401 (worker-side)

    schema = scored.schema

    def reduce_partition(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cur = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
            cur = cur.sort_values(
                [q_id, "cos", c_id],
                ascending=[True, False, True],
                na_position="first",
                ignore_index=True,
            )
            best = cur.groupby(q_id, sort=False).head(k)
        if best is not None:
            yield best

    return scored.mapInPandas(reduce_partition, schema=schema)


def _topk(
    joined: DataFrame, k: int, q_id: str, q_emb: str, c_id: str, c_emb: str
) -> DataFrame:
    """Shared tail of the three searches: (q_id, vec_id, cos,
    rank_pos) from the joined (query, candidate) rows, which carry the
    hoisted norms `_qn` / `_cn`. Self pairs are dropped, each scored
    input partition is pre-reduced to its local top-k, and the global
    per-query window ranks by (cos desc, candidate id asc)."""
    scored = (
        joined.where(F.col(q_id) != F.col(c_id))
        .withColumn(
            "cos",
            cosine_prenorm_expr(
                F.col(q_emb), F.col(c_emb), F.col("_qn"), F.col("_cn")
            ),
        )
        .select(q_id, c_id, "cos")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos"), F.asc(c_id))
    return (
        _partial_topk(scored, q_id, c_id, k)
        .withColumn("rank_pos", F.row_number().over(w))
        .where(F.col("rank_pos") <= k)
        .select(q_id, c_id, F.col("cos"), "rank_pos")
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_emb: str = "q_emb",
    c_id: str = "vec_id",
    c_emb: str = "embedding",
) -> DataFrame:
    """(q_id, vec_id, cos, rank_pos) — exact top-k by cosine,
    deterministic tie-break on candidate id. Two-phase: scores stay
    JVM-side (codegen cosine over the broadcast queries), then each
    scan partition pre-reduces to its local top-k before the global
    per-query window — the q_id shuffle carries |Q|·k·P rows instead
    of |Q|×|C|."""
    # norms hoisted out of the scored-pair stage: computed once per
    # vector (query side before the broadcast, candidate side on the
    # scan), so each of the |Q|x|C| pairs evaluates one O(dim) dot
    # instead of three O(dim) folds — bit-identical (same op order)
    cands = candidates.select(
        F.col(c_id), F.col(c_emb), norm_expr(F.col(c_emb)).alias("_cn")
    )
    joined = cands.crossJoin(
        F.broadcast(
            queries.select(
                F.col(q_id), F.col(q_emb), norm_expr(F.col(q_emb)).alias("_qn")
            )
        )
    )
    return _topk(joined, k, q_id, q_emb, c_id, c_emb)


def hyperplane_bucket_expr(emb: Column, bits: int = 3) -> Column:
    """Coarse IVF-style cell id: sign bits of the first `bits` dims.
    Deterministic, SQL-expressible; at scale swap for trained k-means
    centroids (same probe-join shape)."""
    out = F.lit(0)
    for b in range(bits):
        # try_element_at: vectors shorter than `bits` dims contribute 0
        # for the missing dimensions (same as SQL's NULL-on-OOB index)
        out = out + F.when(
            F.try_element_at(emb, F.lit(b + 1)) > 0, F.lit(2 ** b)
        ).otherwise(F.lit(0))
    return out


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    bits: int = 3,
    q_id: str = "q_id",
    q_emb: str = "q_emb",
    c_id: str = "vec_id",
    c_emb: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates bucketed by hyperplane code; each
    query scores only its probed bucket(s). The bucket join replaces
    the cross join — the candidate scan partitions by bucket and each
    query touches ~n_probes/2^bits of the corpus. The same
    per-partition top-k pre-reduction as brute_force_topk shrinks the
    window shuffle.

    `n_probes` > 1 is standard multi-probe LSH: the query additionally
    probes the buckets at Hamming distance 1 from its own code (one
    sign bit flipped — exactly the near-boundary cells that cause the
    single-probe recall loss), up to bits+1 buckets total. Candidate
    cost scales linearly with n_probes; measured on the sf0.001
    embeddings, recall@10 goes 0.12 (n_probes=1) → 0.64 (n_probes=4)
    at bits=3 (tests/test_similarity.py pins a 0.6 floor) — sign codes
    over the first 3 dims are a coarse geometry; the trained k-means
    variant is the higher-recall path at equal probe cost. Each
    candidate lives in exactly one bucket and probe codes are
    distinct, so no pair is scored twice — no dedup stage needed."""
    n_probes = max(1, min(n_probes, bits + 1))
    # norms hoisted out of the scored-pair stage (see brute_force_topk)
    cb = candidates.select(
        hyperplane_bucket_expr(F.col(c_emb), bits).alias("_bkt"),
        F.col(c_id),
        F.col(c_emb),
        norm_expr(F.col(c_emb)).alias("_cn"),
    )
    code = hyperplane_bucket_expr(F.col(q_emb), bits)
    qs = queries.select(
        F.col(q_id), F.col(q_emb), norm_expr(F.col(q_emb)).alias("_qn")
    )
    if n_probes == 1:
        qb = qs.withColumn("_bkt", code)
    else:
        probes = F.array(
            code, *[code.bitwiseXOR(F.lit(2 ** b)) for b in range(bits)]
        )
        qb = qs.withColumn(
            "_bkt", F.explode(F.slice(probes, 1, n_probes))
        )
    return _topk(cb.join(F.broadcast(qb), "_bkt"), k, q_id, q_emb, c_id, c_emb)


# -- trained coarse quantizer (k-means IVF) -----------------------------------

def quantize_expr(emb: Column, scale: int = 1_000_000) -> Column:
    """Fixed-point copy of an embedding: floor(x · scale) as long.

    All k-means arithmetic below runs on these integers so the trained
    centroids are bit-identical across engines: integer sums are
    order-independent (unlike float sums, whose partial-aggregation
    order differs between Spark and any oracle), and the one double
    step (mean) is floor()ed back to int64 — IEEE-identical given
    identical inputs. Precision loss vs true k-means is 1e-6 per
    coordinate, irrelevant for a coarse 4..65536-cell quantizer."""
    return F.transform(
        emb, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long")
    )


def _sqdist_expr(a: Column, b: Column) -> Column:
    """Integer squared L2 distance of two long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign_expr(q: DataFrame, centroids: DataFrame, vid: str = "_vid") -> DataFrame:
    """(vid, cid): each quantized vector to its nearest centroid
    (integer sqdist, tie-break on cid). Centroids are tiny → broadcast;
    min_by aggregates with map-side partials, so the only shuffle
    carries one row per vector."""
    scored = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _sqdist_expr(F.col("_qe"), F.col("cvec"))
    )
    return scored.groupBy(vid).agg(
        F.min_by("cid", F.struct("_d", "cid")).alias("cid")
    )


def _assign_topn_expr(
    q: DataFrame, centroids: DataFrame, n: int, vid: str = "_vid"
) -> DataFrame:
    """(vid, cid) for each vector's n NEAREST centroids (integer
    sqdist, tie-break on cid) — the nprobe>1 query-side assignment.
    The window runs over #vectors × n_clusters scored rows, ranked per
    vector; centroids broadcast."""
    scored = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _sqdist_expr(F.col("_qe"), F.col("cvec"))
    )
    w = Window.partitionBy(vid).orderBy("_d", "cid")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= n)
        .select(vid, "cid")
    )


def kmeans_centroids(
    vectors: DataFrame,
    n_clusters: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd's k-means over fixed-point embeddings: (cid, cvec) with
    cvec array<long>. Deterministic end to end — init = the n_clusters
    smallest ids' vectors, assignment ties break on cid, the centroid
    update is an exact integer mean (floor), and a cluster that loses
    all members keeps its previous centroid. Each iteration is one
    broadcast-assign (map + per-vector reduce) and one
    posexplode/groupBy mean — no driver-side data, no RNG."""
    # materialize the quantized vectors once and cut each iteration's
    # lineage: without the checkpoints the loop builds a plan in which
    # iteration r re-evaluates every earlier iteration's assignment AND
    # re-quantizes the corpus per reference — exponential plan growth
    # for a 4-row centroid table
    q = vectors.select(
        F.col(id_col).alias("_vid"), quantize_expr(F.col(emb_col), scale).alias("_qe")
    ).localCheckpoint(eager=True)
    w = Window.orderBy("_vid")
    centroids = (
        q.orderBy("_vid")
        .limit(n_clusters)
        .select(F.row_number().over(w).alias("cid"), F.col("_qe").alias("cvec"))
    )
    for _ in range(iterations):
        assigned = _assign_expr(q, centroids).join(q, "_vid")
        updated = (
            assigned.select("cid", F.posexplode("_qe").alias("i", "v"))
            .groupBy("cid", "i")
            .agg(
                F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("val")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "val"))),
                    lambda s: s.getField("val"),
                ).alias("cvec")
            )
        )
        centroids = (
            centroids.alias("p")
            .join(updated.alias("u"), "cid", "left")
            .select("cid", F.coalesce("u.cvec", "p.cvec").alias("cvec"))
            .localCheckpoint(eager=True)  # n_clusters rows
        )
    return centroids


def ivf_kmeans_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_clusters: int = 4,
    iterations: int = 2,
    q_id: str = "q_id",
    q_emb: str = "q_emb",
    c_id: str = "vec_id",
    c_emb: str = "embedding",
    scale: int = 1_000_000,
    n_probes: int = 1,
) -> DataFrame:
    """IVF probe with a TRAINED coarse quantizer: k-means cells learned
    from the candidate corpus (kmeans_centroids) instead of the static
    hyperplane code of `ivf_topk` — same probe-join shape, but cells
    track the data distribution, so recall at equal cell count is
    higher on clustered corpora. Scoring (cosine on the original
    double embeddings), per-partition top-k pre-reduction, and the
    final per-query window are identical to ivf_topk.

    `n_probes` is FAISS-style nprobe: each query probes its n_probes
    nearest cells (candidates stay assigned to exactly one cell, so no
    pair is scored twice). Probe cost scales linearly; measured
    recall@10 on the sf0.001 embeddings: 0.50 (nprobe=1) → 0.64 (2) →
    0.78 (3) at 4 cells (tests pin a 0.7 floor at nprobe=3)."""
    cents = kmeans_centroids(
        candidates, n_clusters, iterations, c_id, c_emb, scale
    ).localCheckpoint(eager=True)  # train once; the plan below probes it twice
    cq = candidates.select(
        F.col(c_id).alias("_vid"), quantize_expr(F.col(c_emb), scale).alias("_qe")
    )
    qq = queries.select(
        F.col(q_id).alias("_vid"), quantize_expr(F.col(q_emb), scale).alias("_qe")
    )
    ca = _assign_expr(cq, cents).withColumnRenamed("_vid", c_id)
    if n_probes <= 1:
        qa = _assign_expr(qq, cents).withColumnRenamed("_vid", q_id)
    else:
        qa = _assign_topn_expr(
            qq, cents, min(n_probes, n_clusters)
        ).withColumnRenamed("_vid", q_id)
    # norms hoisted out of the scored-pair stage (see brute_force_topk)
    cb = candidates.select(
        F.col(c_id), F.col(c_emb), norm_expr(F.col(c_emb)).alias("_cn")
    ).join(ca, c_id)
    qb = queries.select(
        F.col(q_id), F.col(q_emb), norm_expr(F.col(q_emb)).alias("_qn")
    ).join(qa, q_id)
    return _topk(cb.join(F.broadcast(qb), "cid"), k, q_id, q_emb, c_id, c_emb)
