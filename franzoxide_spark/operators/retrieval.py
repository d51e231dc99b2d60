"""Keyword retrieval over the corpus: BM25 top-k search.

The missing member of the search family (q30/q37/q53 cover the dense
embedding side): classic sparse lexical retrieval with the Okapi BM25
ranking function — the standard first-stage retriever in RAG pipelines
and the usual lexical baseline next to ANN search.

``score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1) /
                            (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))``
with the Robertson/Lucene non-negative idf
``idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))``.

Scale shape (the inverted-index plan, not a scan-per-query):

- ONE corpus shuffle builds the posting list ``(doc, term) → tf`` with
  map-side combine; the document length ``dl`` is computed at scan time
  and rides through the explode, so no separate corpus-sized doclen join
  exists anywhere in the plan.
- The query set (tiny by definition) broadcasts into the posting list —
  after that semi-shaped join every downstream row is a posting of a
  *query* term, so work is bounded by the touched posting lists, exactly
  like serving from an inverted index.
- ``df``/``N``/``avgdl`` are one tiny aggregate each (df over the
  candidate postings, the corpus stats map-side-combined) and re-enter
  broadcast; per-(query, doc) scoring is one more bounded shuffle and the
  top-k is a per-query window over candidates only.

At 100 TB the posting-list build is the standard one-shuffle index pass
(stopword-skewed terms are the AQE skew-join case), and everything after
it scales with query-term posting sizes, not corpus size.

Reference parity: the reference engine (valdo404/franzoxide, Rust
Kafka→S3 connector) has no search surface; this extends the
driver-mandated LLM-pipeline tier (SURVEY.md §2.3) — BM25 per
Robertson et al., "Okapi at TREC-3" (1995), parameters k1=1.2, b=0.75.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from franzoxide_spark.functions.text import sql_tokens, tokens
from franzoxide_spark.operators.landing import _shared_landing


def _posting_relation(
    docs: DataFrame, id_col: str, text_col: str, *, pretokenized: bool = False
) -> DataFrame:
    """The (doc, term) posting relation both lexical rankers consume:
    one row per (``id_col``, term) with the term frequency and the
    document token length riding along (dl computed at scan time so no
    separate doclen join exists). This is the ONE corpus-wide shuffle of
    the retrieval family — the relation the landing persists.
    ``pretokenized``: ``text_col`` already holds the token array."""
    tok_expr = F.col(text_col) if pretokenized else tokens(text_col)
    toks = docs.select(F.col(id_col), tok_expr.alias("__toks"))
    return (
        toks.select(
            id_col, F.size("__toks").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )


def land_posting_relation(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    out_table: str,
    *,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> DataFrame:
    """Write-once/join-many landing for the retrieval family (r16, the
    r14/r15 verdict suggestion): persist the posting relation bucketed
    AND in-bucket sorted on ``term`` — the key every downstream pass
    joins or groups on — and return the re-read table. The broadcast
    query-term join preserves the bucket partitioning, so the df
    aggregation and the candidate build all run exchange-free; the only
    exchanges left in a landed BM25/hybrid plan are candidate-bounded
    (per-(query, doc) score combine + per-query top-k window), which
    scale with touched posting lists, not corpus size. At 100 TB this
    is the inverted-index build done once per corpus snapshot, with
    every retrieval query after it serving from the index.

    The landing also bakes in the STATIC index metadata every ranker
    needs, so a landed plan touches the corpus zero extra times beyond
    the (term-pruned) index scan:

    - ``df`` (documents containing the term): a window count AFTER the
      bucket repartition — one in-bucket sort at landing time, no
      per-query df pass;
    - ``n_docs`` / ``avgdl`` (corpus size incl. docless rows, average
      token length): one 1-row aggregate at landing time, stored as
      constant columns — parquet RLE makes them free, and reading them
      off the row retires the per-query stats scan AND its
      broadcast-build job."""
    stats = docs.select(
        F.count("*").alias("n_docs"),
        # NULL-text docs skipped, matching the SQL mirror's AVG (legacy
        # size(NULL) is -1 with ANSI off — the bm25_topk r13 review)
        F.avg(
            F.when(
                tokens(text_col).isNotNull(), F.size(tokens(text_col))
            )
        ).alias("avgdl"),
    )
    (
        _posting_relation(docs, id_col, text_col)
        # one file per bucket: repartition on the bucket hash first, so
        # each write task holds exactly one bucket's rows
        .repartition(n_buckets, "term")
        # df per term: posting is unique per (id, term), so the row
        # count per term IS the document frequency; the window runs on
        # the already-term-partitioned write-side data (no exchange)
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(stats))
        .write.mode(mode)
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .saveAsTable(out_table)
    )
    return docs.sparkSession.table(out_table)


def shared_posting_relation(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    source_key: str,
    *,
    n_buckets: int = 16,
) -> DataFrame:
    """Session-shared posting landing: the first call per (session,
    corpus) lands the bucketed posting table and later calls in the
    same session reuse it — the shared_shingle_relation contract on the
    retrieval family (one ``_shared_landing`` flow for all families)."""
    return _shared_landing(
        docs,
        ident=("posting", source_key, id_col, text_col, n_buckets),
        name_prefix="posting_rel_",
        land_fn=lambda d, name: land_posting_relation(
            d, id_col, text_col, name, n_buckets=n_buckets,
        ),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    pretokenized: bool = False,
    posting_rel: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is a small DataFrame ``(query_id int, query_text string)``
    — it is broadcast, so keep it query-sized (thousands, not millions).
    Duplicate terms within one query count once (binary query-side tf,
    the common BM25 simplification). Scores are rounded to 6 decimals
    before ranking with ``doc_id`` ascending as the tiebreak, so the
    ordering is engine-stable.

    ``pretokenized=True`` means ``text_col`` already holds the token
    ARRAY — the caller tokenized once (and typically checkpointed) so a
    second ranker over the same corpus shares the pass instead of
    re-splitting every document (the q101 tokenize-once pattern; the
    q157 fusion measured ~2.3 s with two tokenize passes vs sharing one).

    ``posting_rel`` (from :func:`shared_posting_relation`) replaces the
    posting-list build entirely: a term-bucketed landed (id, term, tf,
    dl) relation, turning the plan's one corpus-wide shuffle into a
    pre-partitioned index scan. Row-identical by construction (the
    landing persists exactly the relation built here); n_docs/avgdl
    were computed over ALL docs (including null-text, which count
    toward n_docs) at landing time and are served from the baked index
    columns — the landed branch never re-reads ``docs``.

    Returns ``(query_id, doc_id-named id_col, rk, bm25)``.
    """
    tok_expr = F.col(text_col) if pretokenized else tokens(text_col)
    if posting_rel is not None:
        tf = posting_rel.select(
            id_col, "term", "tf", "dl", "df", "n_docs", "avgdl"
        )
    else:
        # Posting lists: dl computed at scan time rides through the
        # explode, so the ONE wide exchange here is the (doc, term)
        # combine.
        tf = _posting_relation(
            docs, id_col, text_col, pretokenized=pretokenized
        )

    # Corpus stats: one row, broadcast. (The landed index bakes these in
    # as constant columns — land_posting_relation — so the landed plan
    # skips both the stats scan and its broadcast-build job.)
    # avgdl must skip NULL-text docs the way the SQL mirror's AVG
    # skips NULLs: with ANSI off Spark's legacy size(NULL) is -1, which
    # would silently pollute the average (r13 review) — gate on the
    # token array being non-null so both engines average the same rows
    if posting_rel is None:
        stats = docs.select(
            F.count("*").alias("n_docs"),
            F.avg(
                F.when(tok_expr.isNotNull(), F.size(tok_expr))
            ).alias("avgdl"),
        )

    # Distinct query terms, broadcast into the posting list — everything
    # after this join is bounded by the touched posting lists.
    qterms = queries.select(
        "query_id", F.explode(tokens("query_text")).alias("term")
    ).distinct()
    if posting_rel is not None:
        # landed index: df is baked in, and the scoring join below
        # restricts to query terms by itself — no distinct-term
        # semi-join, no df pass, no extra broadcast-build jobs
        cand = tf
    else:
        cand = tf.join(
            F.broadcast(qterms.select("term").distinct()), "term", "inner"
        )
        # df over candidates == df over the corpus for query terms
        # (every posting of those terms survived the join). Tiny;
        # re-enters broadcast.
        df_tbl = cand.groupBy("term").agg(F.count("*").alias("df"))
        cand = cand.join(F.broadcast(df_tbl), "term")

    scored = cand.join(F.broadcast(qterms), "term")
    if posting_rel is None:
        scored = scored.crossJoin(F.broadcast(stats))
    scored = (
        scored.withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (1.0 + k1))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("part"), 6).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", id_col, F.col("rk").cast("int").alias("rk"), "bm25")
    )


def mmr_rerank(
    candidates: DataFrame,
    *,
    n: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) of a
    per-query candidate set: greedily pick ``n`` of each query's
    candidates maximizing ``λ·rel − (1−λ)·max_{s∈selected} cos(cand, s)``.

    ``candidates`` columns: ``query_id``, ``neighbor_id``, ``rel``
    (relevance score from any first stage — q30 exact cosine, q37 ANN,
    q137 BM25), ``vec array<float>``. This is the diversity rerank that
    runs AFTER candidate generation, so the greedy loop only ever sees a
    bounded top-k per query: ``applyInPandas`` groups by query and each
    group is O(k²·dim) NumPy work — queries distribute, candidate sets
    never grow with corpus size.

    Deterministic: ties on the MMR score go to the smaller neighbor_id;
    scores are rounded to 6dp. Returns
    ``(query_id, neighbor_id, sel_rank, mmr)``.
    """
    import numpy as np
    import pandas as pd

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["neighbor_id"]).reset_index(drop=True)
        vecs = np.stack(pdf["vec"].map(np.asarray, na_action=None)).astype(
            "float64"
        )
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf["rel"].to_numpy(dtype="float64")
        m = len(pdf)
        chosen: list[int] = []
        max_sim = np.full(m, -np.inf)
        out_rows = []
        for rank in range(1, min(n, m) + 1):
            pen = np.where(np.isfinite(max_sim), max_sim, 0.0)
            has_sel = bool(chosen)
            score = lam * rel - ((1 - lam) * pen if has_sel else 0.0)
            score = np.round(score, 6)
            score[chosen] = -np.inf
            best = int(np.argmax(score))  # argmax takes the FIRST max =
            chosen.append(best)           # smallest neighbor_id on ties
            sims = unit @ unit[best]
            max_sim = np.maximum(max_sim, sims)
            out_rows.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    int(pdf["neighbor_id"].iloc[best]),
                    rank,
                    float(score[best]),
                )
            )
        return pd.DataFrame(
            out_rows, columns=["query_id", "neighbor_id", "sel_rank", "mmr"]
        )

    return candidates.groupBy("query_id").applyInPandas(
        pick, schema="query_id long, neighbor_id long, sel_rank int, mmr double"
    )


def sql_bm25_topk(
    table: str,
    queries: list[tuple[int, str]],
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of :func:`bm25_topk` with the query set inlined.
    Query text is quote-escaped ('' doubling) so literals containing
    apostrophes can't break the statement (or inject)."""
    qvalues = ", ".join(
        f"({int(qid)}, '{qt.replace(chr(39), chr(39) * 2)}')"
        for qid, qt in queries
    )
    return f"""
WITH q(query_id, query_text) AS (VALUES {qvalues}),
qt AS (
  SELECT DISTINCT query_id, unnest({sql_tokens("query_text")}) AS term FROM q
),
toks AS (
  SELECT {id_col}, len({sql_tokens(text_col)}) AS dl,
         unnest({sql_tokens(text_col)}) AS term
  FROM {table}
),
tf AS (
  SELECT {id_col}, term, COUNT(*) AS tf, MIN(dl) AS dl
  FROM toks GROUP BY {id_col}, term
),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len({sql_tokens(text_col)})) AS avgdl
  FROM {table}
),
cand AS (
  SELECT tf.* FROM tf
  WHERE term IN (SELECT term FROM qt)
),
dfs AS (SELECT term, COUNT(*) AS df FROM cand GROUP BY term),
scored AS (
  SELECT qt.query_id, cand.{id_col},
         ROUND(SUM(
           ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (cand.tf * (1.0 + {k1}))
           / (cand.tf + {k1} * (1.0 - {b} + {b} * cand.dl / stats.avgdl))
         ), 6) AS bm25
  FROM cand
  JOIN qt ON qt.term = cand.term
  JOIN dfs ON dfs.term = cand.term
  CROSS JOIN stats
  GROUP BY qt.query_id, cand.{id_col}
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY bm25 DESC, {id_col} ASC) AS rk
  FROM scored
)
SELECT query_id, {id_col}, CAST(rk AS INT) AS rk, bm25 FROM r WHERE rk <= {k}
"""


def rrf_fuse(
    rank_a: DataFrame,
    rank_b: DataFrame,
    id_col: str,
    *,
    k: int = 60,
    n: int = 10,
) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al. 2009) of two rank lists:
    ``rrf(d) = Σ_r 1/(k + rank_r(d))`` over the rankers that returned
    ``d`` — the standard hybrid-search combiner (BM25 + dense, or any
    heterogeneous ranker pair) that needs no score calibration because
    it only consumes RANKS.

    Inputs carry ``(query_id, id_col, rk)``; a document absent from one
    list simply gets no contribution from it (full-outer join). Output:
    ``(query_id, id_col, rrf, rk)`` — top ``n`` per query, 6dp, doc-id
    tiebreak. Bounded by the union of the two candidate lists per query;
    the fusion itself is map-side after one candidate-keyed join.
    """
    a = rank_a.select("query_id", id_col, F.col("rk").alias("__ra"))
    b = rank_b.select("query_id", id_col, F.col("rk").alias("__rb"))
    fused = (
        a.join(b, ["query_id", id_col], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (k + F.col("__ra")), F.lit(0.0))
                + F.coalesce(1.0 / (k + F.col("__rb")), F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc(id_col))
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
        .select("query_id", id_col, "rrf", F.col("rk").cast("int").alias("rk"))
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    n: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    rrf_k: int = 60,
    posting_rel: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-``k`` fused with distinct-term-recall top-``k`` by
    reciprocal rank fusion — the two lexical rankers built from ONE
    shared posting-list shuffle instead of two independent corpus passes
    (r9 verdict item #3: the unfused q157 tokenized and shuffled the
    corpus twice; A/B in BASELINE.md "q157 tokenize-once").

    The share works because term-recall's distinct-(doc, term) relation
    is exactly the key set of BM25's tf relation: ``tf`` is one row per
    (doc, term) by construction, so joining it to the query terms and
    counting rows per (query, doc) IS the distinct-term hit count. One
    corpus-wide (doc, term) combine feeds both rankers; everything
    downstream is bounded by the touched posting lists. Result is
    row-for-row identical to
    ``rrf_fuse(bm25_topk(...), term_recall_topk(...))``.

    ``posting_rel`` (from :func:`shared_posting_relation`) replaces the
    shared posting build with the term-bucketed landed relation — see
    bm25_topk; the fused plan then has NO corpus-keyed exchange at all.
    """
    if posting_rel is not None:
        # landed index: postings, df, AND the corpus stats all baked in
        # (land_posting_relation) — the whole plan serves from the index
        posting = posting_rel.select(
            id_col, "term", "tf", "dl", "df", "n_docs", "avgdl"
        )
    else:
        # The stats pass re-tokenizes, deliberately: A/B'd a
        # localCheckpoint(eager=False) on the token arrays and it
        # measured flat (1.62 s vs 1.60 s at sf0.1) — the
        # materialization costs what the saved split earns, and at
        # corpus scale a 1-row map-side-combined agg pass is far
        # cheaper than materializing every token array.
        toks = docs.select(
            F.col(id_col),
            tokens(text_col).alias("__toks"),
        )
        stats = toks.select(
            F.count("*").alias("n_docs"),
            # NULL-text docs skipped, matching the SQL mirror's AVG
            # (legacy size(NULL) is -1 with ANSI off — see bm25_topk)
            F.avg(
                F.when(F.col("__toks").isNotNull(), F.size("__toks"))
            ).alias("avgdl"),
        )
        posting = _posting_relation(docs, id_col, text_col)
    qterms = queries.select(
        "query_id", F.explode(tokens("query_text")).alias("term")
    ).distinct()
    if posting_rel is None:
        # df from the distinct-term candidate relation — tiny, broadcast
        # back; the posting-build exchange is identical in both branches
        # so Spark's exchange reuse computes it once. (The landed index
        # bakes df in as a column — land_posting_relation.)
        candt = posting.join(
            F.broadcast(qterms.select("term").distinct()), "term"
        )
        df_tbl = candt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        posting = posting.join(F.broadcast(df_tbl), "term")
    # the ONE corpus-bounded join: postings of query terms only
    cand = posting.join(F.broadcast(qterms), "term")

    # Both rankers aggregate the SAME (query, doc) key set over the same
    # candidate rows (cand is one row per (query, doc, term), so its row
    # count per (query, doc) IS the distinct-term hit count) — ONE fused
    # aggregation yields both scores (r16: the two-arm shape + full-outer
    # rank join collapsed into one pass), identical math/rounding/
    # tiebreaks to bm25_topk / term_recall_topk / rrf_fuse.
    if posting_rel is None:
        cand = cand.crossJoin(F.broadcast(stats))
    scored = (
        cand
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (1.0 + k1))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", id_col)
        .agg(
            F.round(F.sum("part"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_hit"),
        )
    )
    # rank in both orders over the one scored relation: each doc is in a
    # ranker's top-k iff its row_number there is <= k — exactly the
    # full-outer union of the two top-k lists rrf_fuse consumed, with
    # the same (desc score, asc id) tiebreaks; absent-from-one-list
    # contributes 0 exactly as rrf_fuse's coalesce did
    w_bm = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc(id_col))
    w_tr = Window.partitionBy("query_id").orderBy(F.desc("n_hit"), F.asc(id_col))
    fused = (
        scored.withColumn("__ra", F.row_number().over(w_bm))
        .withColumn("__rb", F.row_number().over(w_tr))
        .filter((F.col("__ra") <= k) | (F.col("__rb") <= k))
        .withColumn(
            "rrf",
            F.round(
                F.when(
                    F.col("__ra") <= k, 1.0 / (rrf_k + F.col("__ra"))
                ).otherwise(F.lit(0.0))
                + F.when(
                    F.col("__rb") <= k, 1.0 / (rrf_k + F.col("__rb"))
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc(id_col))
    return (
        fused.withColumn("rk", F.row_number().over(w_f))
        .filter(F.col("rk") <= n)
        .select("query_id", id_col, "rrf", F.col("rk").cast("int").alias("rk"))
    )


def term_recall_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    pretokenized: bool = False,
) -> DataFrame:
    """Simplest lexical ranker: documents ranked by how many DISTINCT
    query terms they contain (doc-id tiebreak) — the recall-oriented
    counterpart BM25 gets fused with in q157. Same inverted-index shape
    as bm25_topk: one (doc, term)-distinct shuffle, query terms
    broadcast. ``pretokenized=True``: ``text_col`` is already the token
    array (share one tokenize pass across rankers, see bm25_topk)."""
    tok_expr = F.col(text_col) if pretokenized else tokens(text_col)
    qterms = queries.select(
        "query_id", F.explode(tokens("query_text")).alias("term")
    ).distinct()
    dterms = docs.select(
        id_col, F.explode(tok_expr).alias("term")
    ).distinct()
    hits = dterms.join(F.broadcast(qterms), "term").groupBy(
        "query_id", id_col
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    w = Window.partitionBy("query_id").orderBy(F.desc("n_hit"), F.asc(id_col))
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", id_col, "n_hit", F.col("rk").cast("int").alias("rk"))
    )
