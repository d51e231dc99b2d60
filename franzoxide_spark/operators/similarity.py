"""Similarity search over embedding columns.

Three paths, same contract:

- ``topk_cosine_exact``  — brute-force: broadcast the (small) query set
  against the full corpus, expression-based dot products (JVM codegen, no
  Python), window top-k. Scales linearly in corpus size with NO shuffle of
  the corpus — the only exchange is the final per-query top-k combine,
  which AQE keeps tiny. This is the correctness baseline.

- ``lsh_ann_topk``       — random-hyperplane LSH (Charikar '02 SimHash for
  vectors): deterministic md5-derived ±1 hyperplanes, signature buckets,
  multiprobe (hamming <= 1) candidate generation, exact re-rank of
  candidates. At 100 TB the bucket join replaces the corpus scan per query
  batch; recall is tunable via bits/probes. Approximate by nature ->
  rows-only checked, with recall measured against the exact path in tests.

- ``ivf_ann_topk``       — inverted-file ANN: seeded k-means cells +
  nearest-centroid multiprobe + exact rerank of probed cells. The
  data-adaptive counterpart to LSH; same rows-only + recall-test regime.
  Index build (sample-fit + corpus assignment, ``build_ivf_index``) is
  split from query-time probing and memoizable, so it amortizes across
  query batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from franzoxide_spark import session_cache
from franzoxide_spark.functions.vectors import cosine_rounded


def topk_cosine_exact(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """For each query vector: top-k neighbors by cosine (self excluded),
    deterministic ties (rounded cosine desc, neighbor id asc)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_rounded("qv", "nv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def _tiled_blocks(
    emb: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    tile_cap: int,
) -> DataFrame:
    """Band each block's rows by id (``pmod(id, ceil(n/cap))``) and explode
    each row into its band-pair tiles, so all-pairs work within a block can
    run as independent (band_a, band_b) tasks of <= ~2*tile_cap rows each.

    Every unordered within-block pair lands in exactly one tile: a row in
    band b is sent to tile (min(b, b2), max(b, b2)) for every band b2, so
    the pair (x, y) meets only in tile (band(x), band(y)) sorted. The
    replication factor is n_bands = ceil(n/cap) — the unavoidable cost of
    distributing O(n^2) work — and a hot block fans out across n_bands^2
    tiles, which also removes the block-key skew."""
    counts = emb.groupBy(block_col).agg(F.count(F.lit(1)).alias("_n"))
    banded = (
        emb.select(block_col, id_col, vec_col)
        .join(F.broadcast(counts), block_col)
        .withColumn(
            "_nb", F.ceil(F.col("_n") / F.lit(float(tile_cap))).cast("int")
        )
        # Band on a HASH of the id, not the id itself: raw pmod(id, nb) is
        # data-dependent (strided or sparse ids can collapse into few bands,
        # re-creating the O(n^2) hot-tile hazard tiling exists to remove).
        # xxhash64 spreads arbitrary id distributions uniformly while staying
        # deterministic; band choice never affects output (each pair still
        # meets exactly once).
        .withColumn(
            "_band",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int"),
        )
    )
    return (
        banded.withColumn(
            "_b2", F.explode(F.sequence(F.lit(0), F.col("_nb") - 1))
        )
        .withColumn("_ta", F.least("_band", "_b2"))
        .withColumn("_tb", F.greatest("_band", "_b2"))
        .drop("_b2", "_n", "_nb")
    )


def blocked_cosine_pairs(
    emb: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    tile_cap: int = 4096,
) -> DataFrame:
    """All-pairs cosine >= threshold within each block, as vectorized numpy
    matmuls over bounded tiles.

    The r2 hazard this replaces: one applyInPandas task per block meant a
    hot block materialized O(n^2) ``triu_indices`` arrays in a single
    Python worker — correct at sf0.1, OOM at 100x. Tiling bounds every
    task at ~2*tile_cap rows (a 4096^2 float64 cosine tile is ~128 MB,
    transient) regardless of block size, with identical output.
    """
    import pandas as pd

    tiled = _tiled_blocks(emb, block_col, id_col, vec_col, tile_cap)

    def tile_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        block, ta, tb = key
        empty = pd.DataFrame(
            {
                block_col: np.array([], dtype=np.int64),
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "cos": np.array([], dtype=np.float64),
            }
        )

        def norm_rows(frame: pd.DataFrame) -> np.ndarray:
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in frame[vec_col]]
            )
            return m / np.linalg.norm(m, axis=1, keepdims=True)

        if ta == tb:
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            if len(pdf) < 2:
                return empty
            cos = np.round(norm_rows(pdf) @ norm_rows(pdf).T, 6)
            ia, ib = np.triu_indices(len(pdf), k=1)
            keep = cos[ia, ib] >= threshold
            ids = pdf[id_col].to_numpy()
            lo, hi, cv = ids[ia[keep]], ids[ib[keep]], cos[ia, ib][keep]
        else:
            a = pdf[pdf["_band"] == ta]
            b = pdf[pdf["_band"] == tb]
            if len(a) == 0 or len(b) == 0:
                return empty
            cos = np.round(norm_rows(a) @ norm_rows(b).T, 6)
            ia, ib = np.nonzero(cos >= threshold)
            id_a = a[id_col].to_numpy()[ia]
            id_b = b[id_col].to_numpy()[ib]
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            cv = cos[ia, ib]
        return pd.DataFrame(
            {block_col: block, "id_a": lo, "id_b": hi, "cos": cv}
        )

    block_type = dict(
        (f.name, f.dataType.simpleString()) for f in emb.schema.fields
    )[block_col]
    return tiled.groupBy(block_col, "_ta", "_tb").applyInPandas(
        tile_pairs,
        schema=f"{block_col} {block_type}, id_a bigint, id_b bigint, cos double",
    )


# --------------------------------------------------------------------------
# random-hyperplane LSH
# --------------------------------------------------------------------------


def _plane_matrix(bits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: plane_j[d] = +1 iff the shared
    60-bit md5 hash of 'j:dd' is even — computed driver-side with hashlib
    (bit-identical to the engines' md5) and inlined as a literal, so the
    per-row work is just ``bits`` dot products."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}:d{d}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1.0
            for d in range(dim)
        ]
        for j in range(bits)
    ]


def _signature_expr(vec_col: str, bits: int, dim: int) -> str:
    planes = _plane_matrix(bits, dim)
    lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{v:.1f}d" for v in row) + ")" for row in planes
    ) + ")"
    plane_dot = (
        f"aggregate(zip_with({vec_col}, element_at({lit}, j + 1),"
        " (x, p) -> cast(x as double) * p),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    return (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, j) ->"
        f" acc + case when {plane_dot} > 0 then shiftleft(cast(1 as bigint), j)"
        " else cast(0 as bigint) end)"
    )


def with_lsh_signature(
    emb: DataFrame, vec_col: str, bits: int = 4, dim: int = 64
) -> DataFrame:
    return emb.withColumn("lsh_sig", F.expr(_signature_expr(vec_col, bits, dim)))


# Built IVF indexes, keyed by (caller key, n_lists, seed): the expensive
# part of IVF is the one-time build (centroid fit + corpus assignment),
# which must amortize across query batches instead of being re-run per
# query. Entries hold (centers_df, assigned) with `assigned` persisted,
# and live for the application, see session_cache: a stopped
# application's persisted blocks went with its SparkContext. The build
# is serialized under a lock so two concurrent callers cannot both fit
# KMeans for the same key.
import threading as _threading

_IVF_BUILD_LOCK = _threading.Lock()


def build_ivf_index(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 16,
    seed: int = 42,
    sample_cap: int = 4096,
    cache_key: object | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One-time IVF index build, split from the query path.

    The k-means fit runs on a bounded deterministic sample (centroids only
    need a representative sample, never the full corpus — at 100 TB a
    full-corpus multi-pass fit would itself be a flagship job). Sizing the
    sample costs one ``count()``, which parquet answers from row-group
    metadata. Every corpus row is then assigned to its nearest centroid
    map-side via the broadcast fitted model — one scan, no shuffle.

    Returns ``(centers_df, assigned)``; pass ``cache_key`` (e.g. the table
    path) to memoize per Spark application so repeated query batches reuse
    the persisted assignment instead of rebuilding.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession

    def _build() -> tuple[DataFrame, DataFrame]:
        corpus = emb.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
        ).withColumn(
            "features",
            array_to_vector(F.expr("transform(nv, x -> cast(x as double))")),
        )
        n = corpus.count()
        sample = (
            corpus.sample(fraction=min(1.0, sample_cap / n), seed=seed)
            if n > sample_cap
            else corpus
        )
        km = KMeans(k=n_lists, seed=seed, maxIter=5).fit(sample)
        assigned = km.transform(corpus).withColumnRenamed("prediction", "cell")

        centers = [c.tolist() for c in km.clusterCenters()]
        centers_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            "cell int, center array<double>",
        )
        return centers_df, assigned

    if cache_key is None:
        return _build()

    full_key = ("similarity.ivf", cache_key, n_lists, seed)
    # Double-build guard: check-and-build under one lock, so two concurrent
    # callers cannot both fit KMeans (the second would leak a persisted
    # duplicate of `assigned` when its entry is overwritten).
    with _IVF_BUILD_LOCK:
        hit = session_cache.get(spark, full_key)
        if hit is not None:
            return hit
        centers_df, assigned = _build()
        assigned = assigned.persist()
        session_cache.put(spark, full_key, (centers_df, assigned))
        return centers_df, assigned


def ivf_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    index: tuple[DataFrame, DataFrame] | None = None,
    cache_key: object | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells + nearest-centroid multiprobe
    + exact rerank of the probed cells only.

    The query path contains NO fit: it probes a prebuilt index (pass
    ``index`` from :func:`build_ivf_index`, or ``cache_key`` to build+
    memoize on first use). Each query ranks the broadcast centroids,
    touches its ``n_probe`` cells through a hash join on ``cell``, and
    reranks exactly — n_probe/n_lists of the corpus per query batch.
    Data-dependent clustering -> rows-only checked; recall vs the exact
    path is asserted in tests.
    """
    if index is None:
        index = build_ivf_index(
            emb, id_col, vec_col, n_lists=n_lists, seed=seed, cache_key=cache_key
        )
    centers_df, assigned = index
    qs = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # each query's n_probe nearest cells by centroid distance
    qc = (
        qs.crossJoin(F.broadcast(centers_df))
        .withColumn(
            "d2",
            F.expr(
                "aggregate(zip_with(qv, center,"
                " (x, c) -> (cast(x as double) - c) * (cast(x as double) - c)),"
                " cast(0.0 as double), (acc, v) -> acc + v)"
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cand.withColumn("cos", cosine_rounded("qv", "nv"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def _probe_masks(bits: int, max_hamming: int) -> list[int]:
    """All XOR masks with popcount <= max_hamming: a candidate signature c
    is within hamming distance h of q iff c == q ^ m for exactly one such
    mask m — so exploding the masks turns the hamming predicate into an
    equi-join key with no duplicate candidates."""
    from itertools import combinations

    masks = [0]
    for h in range(1, max_hamming + 1):
        masks.extend(sum(1 << j for j in c) for c in combinations(range(bits), h))
    return masks


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    bits: int = 4,
    max_probe_hamming: int = 1,
) -> DataFrame:
    """Multiprobe LSH as a signature EQUI-join (not a hamming-filtered
    nested loop): each query explodes into sum_{i<=h} C(bits,i) probe
    signatures (q_sig ^ mask), and the probe set hash-joins the corpus on
    ``lsh_sig``. Catalyst plans a BroadcastHashJoin keyed on the signature
    (plan-audited in tests/test_plans.py), so only matching buckets are
    touched — the corpus is scanned once to compute map-side signatures and
    never cross-joined. Candidate set is provably identical to the hamming
    predicate, so results match the previous formulation exactly."""
    corpus = with_lsh_signature(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")),
        "nv",
        bits,
    )
    qs = with_lsh_signature(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
        bits,
    ).withColumnRenamed("lsh_sig", "q_sig")
    masks = _probe_masks(bits, max_probe_hamming)
    masks_arr = F.array(*[F.lit(m).cast("bigint") for m in masks])
    probes = (
        qs.withColumn("probe_mask", F.explode(masks_arr))
        .withColumn("lsh_sig", F.col("probe_mask").bitwiseXOR(F.col("q_sig")))
        .drop("probe_mask")
    )
    cand = corpus.join(F.broadcast(probes), "lsh_sig").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cand.withColumn("cos", cosine_rounded("qv", "nv"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


# --------------------------------------------------------------------------
# GEMM candidate stream: partition-local brute-force top-k against a small
# driver-collected query set, as one Arrow-batched matrix multiply
# --------------------------------------------------------------------------


def _gemm_topk_candidates(
    pool: DataFrame,
    queries: DataFrame,
    k: int,
    with_label: bool = False,
    split_on_label_match: bool = False,
) -> DataFrame:
    """Per Arrow batch of ``pool``: every query's top-``k`` neighbors by
    rounded cosine, via one numpy GEMM (normalized rows x normalized
    queries^T). The global top-k over this stream equals the global
    top-k over the full scored cross product, because a global winner is
    a batch-local winner in its own batch; rounded ties at the k-th
    value are INCLUDED (``>= kth``) so the downstream (cos desc, id asc)
    window makes exactly the tie decisions the expression path would.

    ``queries`` (``query_id, qv`` [, ``alabel``]) is collected to the
    driver and closed over — the same small-side constraint as
    ``F.broadcast``, and the same justified tiny-collect as the
    curation eval set (curation.py). The pool streams map-side and
    never shuffles. BLAS does in one fused pass what interpreted
    higher-order ``aggregate``/``zip_with`` lambdas do per pair — a
    measured ~5x on the q83 shape — and np.round(…, 6) is the same
    oracle contract q36's blocked matmul already relies on.

    ``split_on_label_match=True`` (requires ``with_label`` and an
    ``alabel`` query column) emits top-``k`` separately within the
    same-label and different-label pool subsets per query — the
    candidate guarantee hard-negative mining needs.
    """
    q_rows = queries.collect()
    schema = "query_id long, neighbor_id long, cos double"
    if with_label:
        schema += ", nlabel int"

    def gen(batches):
        import numpy as np
        import pandas as pd

        if not q_rows:
            return
        qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
        qm = np.array([r["qv"] for r in q_rows], dtype=np.float64)
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        alabels = (
            np.array([r["alabel"] for r in q_rows], dtype=np.int64)
            if split_on_label_match
            else None
        )
        for pdf in batches:
            if pdf.empty:
                continue
            nid = pdf["neighbor_id"].to_numpy()
            nv = np.array(pdf["nv"].tolist(), dtype=np.float64)
            nv = nv / np.linalg.norm(nv, axis=1, keepdims=True)
            cos = np.round(nv @ qm.T, 6)  # n_pool x n_query
            nlab = pdf["nlabel"].to_numpy() if with_label else None
            out_q, out_n, out_c, out_l = [], [], [], []

            def take(j, mask):
                s = np.where(mask, cos[:, j], -np.inf)
                n_valid = int(mask.sum())
                if n_valid == 0:
                    return
                kth = (
                    np.partition(s, -k)[-k] if n_valid > k else s[mask].min()
                )
                sel = np.nonzero(s >= kth)[0]
                out_q.append(np.full(len(sel), qids[j]))
                out_n.append(nid[sel])
                out_c.append(cos[sel, j])
                if with_label:
                    out_l.append(nlab[sel])

            for j in range(len(qids)):
                not_self = nid != qids[j]
                if split_on_label_match:
                    take(j, not_self & (nlab == alabels[j]))
                    take(j, not_self & (nlab != alabels[j]))
                else:
                    take(j, not_self)
            if not out_q:
                continue
            res = {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos": np.concatenate(out_c),
            }
            if with_label:
                res["nlabel"] = np.concatenate(out_l).astype("int32")
            yield pd.DataFrame(res)

    return pool.mapInPandas(gen, schema)


# --------------------------------------------------------------------------
# kNN label propagation (semi-supervised labeling / quality-classifier
# bootstrap): predict a label for each unlabeled vector by majority vote
# over its k nearest labeled neighbors
# --------------------------------------------------------------------------


def knn_label_propagation(
    labeled: DataFrame,
    unlabeled: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Majority-vote kNN classification of ``unlabeled`` against the
    ``labeled`` pool — the standard bootstrap for corpus quality/domain
    labels when only a seed set is hand-annotated (propagate the seed's
    labels through embedding space, then train on the propagated set).

    Deterministic end to end: cosine rounded to 6 decimals, neighbor
    ties broken by id asc, vote ties by (count desc, label asc).
    Returns ``query_id, pred_label, votes int, top_cos`` where ``votes``
    is the winning label's count among the k neighbors and ``top_cos``
    the best cosine to any of its voters (a usable confidence pair).

    Scale shape: the query set stays small (seed-labeling targets are
    bounded by design) and ships to every pool task; the labeled corpus
    streams through ONE Arrow-batched GEMM (:func:`_gemm_topk_candidates`
    — batch-local top-k, provably a superset of the global top-k) and
    never shuffles; the only exchanges are the candidate-merge window
    (~tasks x queries x k rows) and the (query x <=k)-sized vote
    aggregate. For web-scale pools swap the candidate generator for
    ``lsh_ann_topk``/``ivf_ann_topk`` — the vote stage is unchanged.
    """
    q = unlabeled.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = labeled.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col(label_col).alias("nlabel"),
    )
    cand = _gemm_topk_candidates(c, q, k, with_label=True)
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    topk = cand.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= k
    )
    votes = topk.groupBy("query_id", "nlabel").agg(
        F.count("*").cast("int").alias("votes"),
        F.max("cos").alias("top_cos"),
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), "nlabel")
    return (
        votes.withColumn("__vr", F.row_number().over(wv))
        .filter(F.col("__vr") == 1)
        .select("query_id", F.col("nlabel").alias("pred_label"), "votes", "top_cos")
    )


def sql_knn_label_propagation(
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_pred: str,
    k: int = 5,
) -> str:
    """DuckDB mirror: ``query_pred`` selects the unlabeled side (its
    complement is the labeled pool), e.g. ``vec_id % 10 = 0``."""
    return f"""
WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qv
           FROM {table} WHERE {query_pred}),
     c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS nv,
                  {label_col} AS nlabel
           FROM {table} WHERE NOT ({query_pred})),
scored AS (
  SELECT query_id, neighbor_id, nlabel,
         ROUND(list_cosine_similarity(CAST(qv AS DOUBLE[]),
                                      CAST(nv AS DOUBLE[])), 6) AS cos
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored) WHERE rnk <= {k}
),
votes AS (
  SELECT query_id, nlabel, CAST(COUNT(*) AS INT) AS votes,
         MAX(cos) AS top_cos
  FROM topk GROUP BY query_id, nlabel
)
SELECT query_id, nlabel AS pred_label, votes, top_cos
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, nlabel) AS vr
      FROM votes)
WHERE vr = 1
"""


# --------------------------------------------------------------------------
# triplet hard-negative mining: for each anchor, its hardest positive and
# hardest negative — the training-pair construction step for contrastive
# embedding fine-tuning
# --------------------------------------------------------------------------


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """For every anchor vector: the most-similar SAME-label neighbor (the
    positive) and the most-similar DIFFERENT-label neighbor (the hard
    negative — the pair contrastive losses learn the most from).
    Returns ``anchor_id, pos_id, pos_cos, neg_id, neg_cos`` (anchors
    with no same-label or no cross-label neighbor in the pool drop out).

    Deterministic: cosine rounded to 6 decimals, ties by neighbor id.

    Scale shape: the anchor set ships to every pool task and the pool
    streams through ONE Arrow-batched GEMM
    (:func:`_gemm_topk_candidates` with the label split, so each batch
    is guaranteed to surface its best same-label AND best cross-label
    row); then ONE window partitioned by (anchor, same-label?) merges
    batch winners in a single small exchange, and the positive/negative
    split is a pivot of that 2-row-per-anchor result, not a second
    scan. Swap the candidate generator for the ANN paths at web scale;
    mining semantics are unchanged.
    """
    a = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("alabel"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col(label_col).alias("nlabel"),
    )
    alab = a.select(F.col("query_id").alias("anchor_id"), "alabel")
    scored = (
        _gemm_topk_candidates(
            c, a, k=1, with_label=True, split_on_label_match=True
        )
        .withColumnRenamed("query_id", "anchor_id")
        .join(F.broadcast(alab), "anchor_id")
        .withColumn("same", (F.col("alabel") == F.col("nlabel")).cast("int"))
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.desc("cos"), "neighbor_id"
    )
    best = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("anchor_id", "same", "neighbor_id", "cos")
    )
    return (
        best.groupBy("anchor_id")
        .agg(
            F.max(F.when(F.col("same") == 1, F.col("neighbor_id"))).alias("pos_id"),
            F.max(F.when(F.col("same") == 1, F.col("cos"))).alias("pos_cos"),
            F.max(F.when(F.col("same") == 0, F.col("neighbor_id"))).alias("neg_id"),
            F.max(F.when(F.col("same") == 0, F.col("cos"))).alias("neg_cos"),
        )
        .filter(F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull())
    )


def sql_hard_negative_mining(
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    anchor_pred: str,
) -> str:
    """DuckDB mirror; ``anchor_pred`` selects the anchor rows."""
    return f"""
WITH a AS (SELECT {id_col} AS anchor_id, {vec_col} AS qv, {label_col} AS alabel
           FROM {table} WHERE {anchor_pred}),
     c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS nv, {label_col} AS nlabel
           FROM {table}),
scored AS (
  SELECT anchor_id, neighbor_id,
         ROUND(list_cosine_similarity(CAST(qv AS DOUBLE[]),
                                      CAST(nv AS DOUBLE[])), 6) AS cos,
         CASE WHEN alabel = nlabel THEN 1 ELSE 0 END AS same
  FROM a CROSS JOIN c WHERE anchor_id <> neighbor_id
),
best AS (
  SELECT anchor_id, same, neighbor_id, cos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, same
                                 ORDER BY cos DESC, neighbor_id) AS r
    FROM scored) WHERE r = 1
)
SELECT anchor_id,
       MAX(CASE WHEN same = 1 THEN neighbor_id END) AS pos_id,
       MAX(CASE WHEN same = 1 THEN cos END) AS pos_cos,
       MAX(CASE WHEN same = 0 THEN neighbor_id END) AS neg_id,
       MAX(CASE WHEN same = 0 THEN cos END) AS neg_cos
FROM best GROUP BY anchor_id
HAVING pos_id IS NOT NULL AND neg_id IS NOT NULL
"""


# --------------------------------------------------------------------------
# per-label centroid + distance outliers (embedding-space label audit)
# --------------------------------------------------------------------------


def centroid_outliers(
    emb: DataFrame, id_col: str, vec_col: str, label_col: str, k: int = 5
) -> DataFrame:
    """For each label: the ``k`` vectors farthest from the label's
    centroid — the mislabeled/contaminated-cluster audit a curation
    pipeline runs over an embedded, labeled corpus. Output one row per
    flagged vector: (label, id, dist, rank), rank 1 = farthest.

    Determinism: centroid components are means of DETERMINISTICALLY
    SCALED integers (floor(v·10⁶ + 0.5), exact bigint sums — a
    distributed groupBy sums in arbitrary order, so raw double sums
    would flap across engines AND across Spark runs), rounded to 6 dp
    before any distance math; distances are then a position-ordered
    left fold over (v − c)² on both engines, rounded to 6 dp before
    ranking, with the id breaking rank ties.

    Scale shape: the explode shuffles (label, pos) partial sums
    (map-side combined — the shuffle is |labels|·dim rows regardless of
    corpus size); centroids collapse to |labels| rows and BROADCAST
    back onto the corpus; the final top-k ranks inside each label's
    partition. The corpus itself shuffles once (the label window); at
    extreme per-label cardinality swap the window for a per-label
    TakeOrdered — same one shuffle.
    """
    from pyspark.sql import Window

    ex = emb.select(
        id_col, label_col, F.posexplode(vec_col).alias("__pos", "__v")
    )
    from franzoxide_spark.functions.numeric import scaled_int

    sc = scaled_int("__v", scale=1_000_000)
    comp = ex.groupBy(label_col, "__pos").agg(
        F.round(
            F.sum(sc).cast("double") / F.count("*").cast("double") / 1000000,
            6,
        ).alias("__c")
    )
    cent = comp.groupBy(label_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__pos", "__c"))),
            lambda s: s["__c"],
        ).alias("__cent")
    )
    dist = F.round(
        F.expr(
            f"aggregate(zip_with({vec_col}, __cent,"
            " (x, c) -> pow(cast(x as double) - c, 2)),"
            " cast(0.0 as double), (a, v) -> a + v)"
        ),
        6,
    )
    scored = emb.join(F.broadcast(cent), label_col).select(
        label_col, id_col, dist.alias("dist")
    )
    w = Window.partitionBy(label_col).orderBy(F.desc("dist"), id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(label_col, id_col, "dist", F.col("rank").cast("int").alias("rank"))
    )


def sql_centroid_outliers(
    table: str, id_col: str, vec_col: str, label_col: str, k: int = 5
) -> str:
    from franzoxide_spark.functions.numeric import sql_scaled_int

    s_expr = sql_scaled_int(f"{vec_col}[i]", scale=1_000_000)
    return f"""
WITH ex AS (
  SELECT {id_col}, {label_col}, i AS pos,
         {s_expr}
           AS s
  FROM {table}, UNNEST(range(1, len({vec_col}) + 1)) AS t(i)
),
comp AS (
  SELECT {label_col}, pos,
         ROUND(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               / 1000000, 6) AS c
  FROM ex GROUP BY {label_col}, pos
),
cent AS (
  SELECT {label_col}, list(c ORDER BY pos) AS cent
  FROM comp GROUP BY {label_col}
),
scored AS (
  SELECT e.{label_col}, e.{id_col},
         ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(e.{vec_col}) + 1),
             i -> pow(CAST(e.{vec_col}[i] AS DOUBLE) - cent[i], 2))),
           (a, v) -> a + v), 6) AS dist
  FROM {table} e JOIN cent USING ({label_col})
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {label_col}
              ORDER BY dist DESC, {id_col}) AS rank
  FROM scored
)
SELECT {label_col}, {id_col}, dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""
