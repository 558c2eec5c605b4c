"""The correctness-gate query battery: every SURVEY §2 operator expressed over the
driver's parquet tables, each paired with a DuckDB oracle SQL statement.

Contract (driver, __spark_entry__.py):
- ``QUERIES[name](spark, sf_dir) -> DataFrame``
- ``ORACLE[name] -> ANSI SQL`` DuckDB runs on pre-registered views of the same
  parquet.  Column names are aliased identically on both sides; the driver sorts
  columns by name and value-hashes order-insensitively.

Parity rules used throughout (see tools/check.py for the local replica harness):
- all float outputs rounded to 6 decimals AND cast to double on both sides;
- vector math in double precision, sequential order (round-6 absorbs FP
  reassociation);
- deterministic tie-breaks (score DESC, id ASC) on every top-k;
- tokenization: lower, split on single space, drop empties — identical split
  semantics in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import boilerplate as B
from .functions import decay as D
from .functions import text as T
from .functions import html as H
from .functions import urls as U
from .functions import vector as V
from .operators import dedup, graph, ranking, similarity, windows
from .operators.graph import PatternSpec
from .operators.predicate import AclContext, acl_predicate
from .oracle import CHUNKS_CTE, EDGES_CTE, MEMORIES_CTE, NODES_CTE
from .sources import tables

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def _r6(col):
    """round to 6 decimals as double (cross-engine float parity)."""
    return F.round(col.cast("double"), 6)


def _qvec(sf_dir: str, vec_id: int = 0) -> list[float]:
    """Query vector via a direct pyarrow read — avoids spending a whole Spark
    job on a 1-row collect in every vector query (the embeddings file is tiny;
    a real deployment would pass the query vector in the request)."""
    return _qvecs(sf_dir, [vec_id])[vec_id]


def _qvecs(sf_dir: str, vec_ids: list[int]) -> dict[int, list[float]]:
    """Several query vectors from ONE pyarrow read (r13 opt): the ANN rows
    fetch 8 centroid vectors per invocation, and a per-vector read paid a
    full footer+column scan of embeddings.parquet each time.  One read per
    INVOCATION — nothing is memoized across bench runs."""
    import pyarrow.parquet as pqt

    t = pqt.read_table(f"{sf_dir.rstrip('/')}/embeddings.parquet",
                       columns=["vec_id", "embedding"])
    d = t.to_pydict()
    want = set(vec_ids)
    out = {}
    for i, vid in enumerate(d["vec_id"]):
        if vid in want:
            out[vid] = [float(x) for x in d["embedding"][i]]
            if len(out) == len(want):
                break
    missing = want - out.keys()
    if missing:
        raise KeyError(f"vec_ids not in embeddings.parquet: {sorted(missing)}")
    return out


def _r2(col):
    """round to 2 decimals: for large-magnitude SUMs (money, bulk quantities)
    where partial-sum ordering differs between engines by ~1e-4 absolute —
    6-decimal rounding is not stable there, 2-decimal is."""
    return F.round(col.cast("double"), 2)


# ---------------------------------------------------------------------------------
# Relational baseline (scan → filter → agg; proves pushdown + partial aggregation)
# ---------------------------------------------------------------------------------

@_register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)::DOUBLE AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)::DOUBLE AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)::DOUBLE AS sum_disc_price,
       ROUND(AVG(l_quantity), 6)::DOUBLE AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@_register("q3_top_orders", """
SELECT o.o_orderkey, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)::DOUBLE AS revenue,
       floor(epoch(o.o_orderdate))::BIGINT AS o_orderdate_epoch
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""")
def q3(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .select("o_orderkey", "revenue",
                F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------------
# V2: filtered cosine top-k (the flagship vector read)
# ---------------------------------------------------------------------------------

_COSINE_SQL = """
ROUND(
  list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                   list_transform(q.embedding, x -> x::DOUBLE))
  / (SQRT(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                           list_transform(e.embedding, x -> x::DOUBLE)))
   * SQRT(list_dot_product(list_transform(q.embedding, x -> x::DOUBLE),
                           list_transform(q.embedding, x -> x::DOUBLE)))), 6)::DOUBLE
"""


@_register("v2_cosine_topk", f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_COSINE_SQL} AS score
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id ASC
LIMIT 20
""")
def v2_topk(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    scored = similarity.score_against(emb.filter(F.col("vec_id") != 0), qvec)
    # order on the ROUNDED score (the oracle's ORDER BY uses its rounded alias,
    # so a raw-order could pick different rows at the LIMIT boundary)
    return (
        scored.select("vec_id", _r6(F.col("score")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


@_register("v2_filtered_topk", f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label, {_COSINE_SQL} AS score
FROM embeddings e CROSS JOIN q
WHERE e.label IN (1, 3, 5) AND e.vec_id <> 0
ORDER BY score DESC, e.vec_id ASC
LIMIT 15
""")
def v2_filtered(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    scored = similarity.score_against(
        emb.filter(F.col("vec_id") != 0).filter(F.col("label").isin(1, 3, 5)), qvec
    )
    return (
        scored.select("vec_id", "label", _r6(F.col("score")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(15)
    )


# ---------------------------------------------------------------------------------
# V4/V5: similarity threshold join + kNN join (dedup family, vector side)
# ---------------------------------------------------------------------------------

@_register("v5_near_dup_pairs", f"""
SELECT a.vec_id AS left_id, b.vec_id AS right_id, {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} > 0.35
""")
def v5_pairs(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_duplicates(emb, id_col="vec_id", threshold=0.35)
    return pairs.select("left_id", "right_id", _r6(F.col("score")).alias("score"))


@_register("v5_bucketed_pairs", f"""
SELECT a.vec_id AS left_id, b.vec_id AS right_id, {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} > 0.35
""")
def v5_bucketed(spark, sf_dir):
    """The 100 TB sweep: grid-partitioned block-nested-loop BLAS with no
    driver-side collect (memory/memory_graph.py:10333-10390 semantics).  Same
    oracle as v5_near_dup_pairs — the grid path must be bit-identical to the
    broadcast path."""
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = similarity.grid_near_duplicates(emb, 0.35, id_col="vec_id", n_blocks=8)
    return pairs.select("left_id", "right_id", _r6(F.col("score")).alias("score"))


@_register("v4_ingest_reuse", f"""
WITH newv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 400),
oldv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
scored AS (
  SELECT a.vec_id AS new_id, b.vec_id AS reuse_id,
         {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} AS score
  FROM newv a CROSS JOIN oldv b
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY score DESC, reuse_id ASC) AS rn
  FROM scored
)
SELECT new_id, reuse_id, score FROM ranked WHERE rn = 1 AND score > 0.3
""")
def v4_reuse(spark, sf_dir):
    """V4 write-path near-dup check (memory/memory_graph.py:14214-14442): each
    incoming chunk's best existing match, kept when strictly above threshold —
    the add_memory_batch reuse gate, as a driver-checked query.  (Fixture
    threshold 0.3 stands in for the semantic 0.97 so rows exist at sf0.01.)"""
    emb = tables.load(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") >= 400)
    old = emb.filter(F.col("vec_id") < 400)
    out = dedup.ingest_dedup_reuse(new, old, threshold=0.3,
                                   new_id="vec_id", existing_id="vec_id")
    return out.select("new_id", "reuse_id", _r6(F.col("score")).alias("score"))


@_register("v7_content_resolution", f"""
WITH newv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
oldv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
scored AS (
  SELECT a.vec_id AS new_id, b.vec_id AS reuse_id,
         {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} AS score
  FROM newv a CROSS JOIN oldv b
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY score DESC, reuse_id ASC) AS rn
  FROM scored
), hits AS (
  SELECT new_id, reuse_id, score FROM ranked WHERE rn = 1 AND score >= 0.95
)
SELECT n.vec_id AS candidate_id,
       COALESCE(h.reuse_id, n.vec_id) AS canonical_id,
       CASE WHEN h.reuse_id IS NULL THEN 'create' ELSE 'merge' END AS action,
       ROUND(COALESCE(h.score, -1.0), 6)::DOUBLE AS score
FROM newv n LEFT JOIN hits h ON n.vec_id = h.new_id
""")
def v7_content(spark, sf_dir):
    """V7 entity resolution by content (_search_qdrant_for_similar_content,
    memory/memory_graph.py:11392-11656): embed the candidate's content, find
    the best existing node with cosine >= 0.95 (Qdrant score_threshold is
    INCLUSIVE, :11557-11570) -> merge onto
    its canonical id, else create (canonical = own id, score sentinel -1).
    The single-key variant of V6 with the merge-else-create decision made
    explicit — the 1-NN + threshold core is the same ingest_dedup_reuse
    operator the write path uses (routing: BLAS under budget, grid past it)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 2 == 1)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    hits = dedup.ingest_dedup_reuse(new, old, threshold=0.95, inclusive=True,
                                    new_id="vec_id", existing_id="vec_id")
    cand = new.select(F.col("vec_id").alias("candidate_id"))
    joined = cand.join(hits.withColumnRenamed("new_id", "candidate_id"),
                       "candidate_id", "left")
    return joined.select(
        "candidate_id",
        F.coalesce("reuse_id", "candidate_id").alias("canonical_id"),
        F.when(F.col("reuse_id").isNull(), "create").otherwise("merge").alias("action"),
        _r6(F.coalesce(F.col("score"), F.lit(-1.0))).alias("score"),
    )


@_register("v5_knn_join", f"""
WITH scored AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 50
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY score DESC, right_id ASC) AS rank
  FROM scored
)
SELECT left_id, right_id, score, rank FROM ranked WHERE rank <= 5
""")
def v5_knn(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 50)
    # over-fetch x3, then re-rank on the ROUNDED score so ranks match the
    # oracle's ROW_NUMBER over its rounded alias even at ties
    cand = similarity.knn_join_auto(left, emb, 15, left_id="vec_id", right_id="vec_id")
    w = Window.partitionBy("left_id").orderBy(_r6(F.col("score")).desc(), F.col("right_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("left_id", "right_id", _r6(F.col("score")).alias("score"), "rank")
    )


@_register("hard_negative_mining", f"""
WITH scored AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         a.label AS alab, b.label AS blab,
         {_COSINE_SQL.replace('e.embedding', 'a.embedding').replace('q.embedding', 'b.embedding')} AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 50
), cand AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                               ORDER BY score DESC, right_id ASC) AS rc
  FROM scored
), neg AS (
  SELECT left_id, right_id, score FROM cand
  WHERE rc <= 15 AND alab IS DISTINCT FROM blab
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                               ORDER BY score DESC, right_id ASC) AS rank
  FROM neg
)
SELECT left_id AS anchor_id, right_id AS negative_id, score, rank
FROM ranked WHERE rank <= 5
""")
def hard_negative_mining_q(spark, sf_dir):
    """Hard-negative mining for retriever training (r13,
    operators/similarity.mine_hard_negatives — ANCE arXiv:2007.00808 /
    DPR arXiv:2004.04906): retrieve each anchor's global top-15 by
    cosine, drop same-label positives (filter-after-retrieve, the
    published semantic), keep the top-5 survivors.  Shape: budget-routed
    exact kNN + two id joins + a window whose partitions are <= 15 rows
    by construction."""
    emb = tables.load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 50)
    return similarity.mine_hard_negatives(anchors, emb, k=5, overfetch=2)


# ---------------------------------------------------------------------------------
# Dedup family, text side (exact hash / fingerprint / minhash-LSH / jaccard)
# ---------------------------------------------------------------------------------

@_register("dedup_exact_hash", """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
""")
def dedup_exact(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    hashed = docs.select(F.md5("text").alias("content_hash"), F.col("doc_id"))
    return hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("dup_count")
    )


@_register("dedup_fingerprint", """
SELECT md5(array_to_string(list_sort(list_distinct(
         list_filter(string_split(lower(text), ' '), t -> t <> ''))), ' ')) AS fp,
       MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
FROM documents
GROUP BY 1
""")
def dedup_fp(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    fp = docs.select(T.fingerprint(F.col("text")).alias("fp"), F.col("doc_id"))
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("dup_count")
    )


def _minhash_sql(num_hashes: int, bands: int) -> str:
    """DuckDB twin of functions.text.minhash_signature + minhash_bands."""
    rows = num_hashes // bands
    return f"""
toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(tk) - 2, 1) + 1),
      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
  FROM toks
), sig AS (
  SELECT doc_id,
    list_transform(range(0, {num_hashes}),
      i -> list_aggregate(list_transform(shingles, s -> md5(i::VARCHAR || ':' || s)), 'min')) AS sig
  FROM sh
), bands AS (
  SELECT doc_id,
    list_transform(range(0, {bands}),
      b -> md5(array_to_string(list_slice(sig, b * {rows} + 1, b * {rows} + {rows}), ','))) AS bands
  FROM sig
)
"""


@_register("dedup_minhash_bands", f"""
WITH {_minhash_sql(16, 4)}
SELECT doc_id, u['band_idx'] AS band_idx, u['band_hash'] AS band_hash FROM (
  SELECT doc_id,
         UNNEST(list_transform(range(0, 4),
                b -> {{'band_idx': b, 'band_hash': bands[b + 1]}})) AS u
  FROM bands
)
""")
def dedup_minhash(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    return dedup.minhash_band_table(docs).select(
        F.col("id").alias("doc_id"), "band_idx", "band_hash"
    )


@_register("dedup_jaccard_pairs", """
WITH sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(tk) - 2, 1) + 1),
      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        FROM documents WHERE doc_id < 100)
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / greatest(len(list_distinct(a.shingles || b.shingles)), 1), 6)::DOUBLE AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) > 0
""")
def dedup_jaccard(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sh = docs.select(F.col("doc_id"), T.shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("left_id"), F.col("sh").alias("lsh_"))
    b = sh.select(F.col("doc_id").alias("right_id"), F.col("sh").alias("rsh_"))
    out = (
        a.join(b, F.col("left_id") < F.col("right_id"))
        .withColumn("inter", F.size(F.array_intersect("lsh_", "rsh_")))
        .filter(F.col("inter") > 0)
        .withColumn("uni", F.size(F.array_union("lsh_", "rsh_")))
        .withColumn(
            "jaccard",
            _r6(F.col("inter").cast("double") / F.greatest(F.col("uni"), F.lit(1))),
        )
    )
    return out.select("left_id", "right_id", "jaccard")


# oracle: recursive-CTE connected components (the v5_dup_clusters
# pattern) over exact-Jaccard pairs + the quality twin's q_score argmax;
# outer CTEs carry a kb_ prefix so the embedded quality twin's internal
# CTE names cannot shadow them (the crawl_mini lesson)
from .functions.quality_clf import quality_scores_sql as _qclf_sql  # noqa: E402

_KB_ORACLE = f"""WITH RECURSIVE kb_sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(tk) - 2, 1) + 1),
      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                   t -> t <> '') AS tk
        FROM documents WHERE doc_id < 100)
), kb_pairs AS (
  SELECT a.doc_id AS l, b.doc_id AS r
  FROM kb_sh a JOIN kb_sh b ON a.doc_id < b.doc_id
  WHERE ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / greatest(len(list_distinct(a.shingles || b.shingles)), 1), 6)
        >= 0.5
), kb_und AS (
  SELECT l AS src, r AS dst FROM kb_pairs
  UNION SELECT r, l FROM kb_pairs
), kb_members AS (SELECT DISTINCT src AS node_id FROM kb_und),
kb_reach(node_id, peer) AS (
  SELECT node_id, node_id FROM kb_members
  UNION
  SELECT re.node_id, u.dst FROM kb_reach re JOIN kb_und u
    ON re.peer = u.src
), kb_comp AS (
  SELECT node_id, MIN(peer) AS component FROM kb_reach GROUP BY node_id
), kb_q AS (
  SELECT * FROM ({_qclf_sql(
      '(SELECT doc_id, text FROM documents WHERE doc_id < 100)')})
), kb_base AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id,
         q.q_score
  FROM documents d
  LEFT JOIN kb_comp c ON c.node_id = d.doc_id
  LEFT JOIN kb_q q ON q.doc_id = d.doc_id
  WHERE d.doc_id < 100
), kb_rk AS (
  SELECT doc_id, cluster_id,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY coalesce(q_score,
                                              '-infinity'::DOUBLE) DESC,
                                     doc_id ASC) AS rn
  FROM kb_base
), kb_keeper AS (
  SELECT cluster_id, doc_id AS keeper_id FROM kb_rk WHERE rn = 1
)
SELECT b.doc_id, b.cluster_id, k.keeper_id,
       (b.doc_id = k.keeper_id)::INT AS retained
FROM kb_base b JOIN kb_keeper k USING (cluster_id)"""


@_register("dedup_keep_best_quality", _KB_ORACLE)
def dedup_keep_best_quality_q(spark, sf_dir):
    """Quality-aware duplicate-family keeper (r12,
    operators/dedup.keep_best_in_clusters): exact-Jaccard near-dup pairs
    -> connected components -> ONE keeper per family chosen by the
    HIGHEST quality-classifier score (id-asc ties) instead of the min id
    — the RefinedWeb/SemDeDup practice of retaining the best member of
    each duplicate cluster.  Singletons keep themselves.  Shape: the
    pointer-jumping CC loop + one combinable struct-argmax groupBy per
    family (no per-cluster window — a giant family never pins one task);
    the oracle re-derives pairs, components (recursive CTE) and the
    argmax from the quality twin.  Reference analog:
    memory_graph.py identify_duplicates keeps an arbitrary member; the
    score-ranked keeper is the LLM-pipeline upgrade."""
    from .functions.quality_clf import quality_scores
    from .operators.dedup import keep_best_in_clusters

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 100).select("doc_id", "text")
    sh = docs.select(F.col("doc_id"), T.shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("left_id"), F.col("sh").alias("lsh_"))
    b = sh.select(F.col("doc_id").alias("right_id"), F.col("sh").alias("rsh_"))
    pairs = (a.join(b, F.col("left_id") < F.col("right_id"))
             .withColumn("inter", F.size(F.array_intersect("lsh_", "rsh_")))
             .filter(F.col("inter") > 0)
             .withColumn("uni", F.size(F.array_union("lsh_", "rsh_")))
             .filter(_r6(F.col("inter").cast("double")
                         / F.greatest(F.col("uni"), F.lit(1))) >= 0.5)
             .select("left_id", "right_id"))
    scores = quality_scores(docs).select("doc_id", "q_score")
    return keep_best_in_clusters(docs, pairs, scores,
                                 score_col="q_score")


# the fixture decorates each doc with typographic unicode derived from
# doc_id, so folding is NON-trivial on every row; the oracle decorates
# identically and runs the live twin
_FOLD_DECOR_SQL = (
    "(CASE doc_id % 4 WHEN 0 THEN '“' WHEN 1 THEN '‘' WHEN 2 THEN '—'"
    " ELSE '…' END) || coalesce(text, '') ||"
    " (CASE doc_id % 3 WHEN 0 THEN '”​' WHEN 1 THEN '’ ' ELSE 'ＡＢ' END)")


@_register("text_fold_punctuation", f"""
SELECT doc_id,
  md5({T.fold_punctuation_sql(f'({_FOLD_DECOR_SQL})')}) AS folded_md5,
  (length(({_FOLD_DECOR_SQL}))
   - length({T.fold_punctuation_sql(f'({_FOLD_DECOR_SQL})')}))::BIGINT
    AS n_removed
FROM documents WHERE doc_id < 600
""")
def text_fold_punctuation_q(spark, sf_dir):
    """Unicode punctuation folding (r12, functions/text.fold_punctuation):
    curly quotes/primes -> ASCII quotes, dashes/minus -> '-', exotic
    spaces -> ' ', zero-width characters deleted, fullwidth ASCII folded,
    ellipsis -> '...' — the pre-dedup normalization that makes re-typeset
    copies of one document hash identically (test-pinned).  Every fixture
    doc is decorated with doc_id-derived typographic unicode so the fold
    is non-trivial on every row; md5 of the folded text + the
    removed-char count are hash-compared against the live DuckDB twin.
    Shape: one replace + one translate — pure codegen, zero UDF, zero
    shuffle.  Reference analog: none (LLM-data-pipeline family)."""
    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600)
    did = F.col("doc_id")
    decorated = F.concat(
        F.element_at(F.array(F.lit("“"), F.lit("‘"), F.lit("—"),
                             F.lit("…")), (did % 4 + 1).cast("int")),
        F.coalesce(F.col("text"), F.lit("")),
        F.element_at(F.array(F.lit("”​"), F.lit("’ "),
                             F.lit("ＡＢ")), (did % 3 + 1).cast("int")))
    folded = T.fold_punctuation(decorated)
    return docs.select(
        "doc_id", F.md5(folded).alias("folded_md5"),
        (F.length(decorated) - F.length(folded)).cast("long")
        .alias("n_removed"))


@_register("dedup_repeated_spans", """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), spans AS (
  SELECT doc_id, md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS h
  FROM tok, LATERAL (SELECT UNNEST(range(1, greatest(len(tk) - 7, 1) + 1)) AS i)
), span_docs AS (
  SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM spans GROUP BY h
)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       SUM(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared_spans,
       ROUND(SUM(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6)::DOUBLE AS shared_frac
FROM spans s JOIN span_docs d ON s.h = d.h
GROUP BY s.doc_id
""")
def dedup_repeated_spans(spark, sf_dir):
    """Cross-document repeated-span analysis (the span-level dedup signal of
    'Deduplicating Training Data Makes Language Models Better': spans
    appearing verbatim in more than one document are memorization fuel).
    8-token spans hashed row-side; one groupBy(h) counts distinct docs per
    span (map-side combined, 32-byte keys); the join back is span-hash
    equi-join.  Shuffle volume is O(total spans x 32 B), independent of
    document length — the same shape as the MinHash band table, so it holds
    at corpus scale.  Per-doc output: span counts + shared fraction."""
    docs = tables.load(spark, sf_dir, "documents")
    sh = tables.fan_out(docs).select(
        "doc_id", F.explode(T.shingle_grams(F.col("text"), n=8)).alias("g"),
    ).select("doc_id", F.md5("g").alias("h"))
    span_docs = sh.groupBy("h").agg(F.countDistinct("doc_id").alias("ndocs"))
    return (sh.join(span_docs, "h")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"),
                 F.sum((F.col("ndocs") > 1).cast("long")).alias("n_shared_spans"),
                 _r6(F.sum((F.col("ndocs") > 1).cast("long"))
                     / F.count("*")).alias("shared_frac")))


# ---------------------------------------------------------------------------------
# Text analysis (token counts, quality, language-ID)
# ---------------------------------------------------------------------------------

@_register("text_stats", """
WITH toks AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk,
         text
  FROM documents
)
SELECT doc_id,
       len(tk) AS token_count,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_count,
       ROUND(len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','it','that','for'], t)))::DOUBLE
             / greatest(len(tk), 1), 6)::DOUBLE AS stopword_ratio,
       ROUND(list_sum(list_transform(tk, t -> length(t)))::DOUBLE / greatest(len(tk), 1), 6)::DOUBLE AS avg_token_len
FROM toks
""")
def text_stats(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    txt = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(txt).alias("token_count"),
        F.regexp_count(F.lower(txt), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]")).alias("bpe_count"),
        _r6(T.stopword_ratio(txt)).alias("stopword_ratio"),
        _r6(T.avg_token_len(txt)).alias("avg_token_len"),
    )


@_register("text_lang_id", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), scores AS (
  SELECT doc_id,
    len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','für','von'], t))) AS s_de,
    len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','it','that','for'], t))) AS s_en,
    len(list_filter(tk, t -> list_contains(['el','la','los','las','es','un','una','por','para','con'], t))) AS s_es,
    len(list_filter(tk, t -> list_contains(['le','la','les','et','est','un','une','pour','dans','avec'], t))) AS s_fr
  FROM toks
)
SELECT lang_id, COUNT(*) AS doc_count FROM (
  SELECT doc_id,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr' END AS lang_id
  FROM scores
) GROUP BY lang_id
""")
def text_lang(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.select(T.lang_id(F.col("text")).alias("lang_id"))
        .groupBy("lang_id")
        .agg(F.count("*").alias("doc_count"))
    )


# oracle built at import time from the LIVE twin in functions/langid —
# the weight table (1200 rows) and the scoring formula cannot drift
from .functions.langid import lang_id_ngram_sql as _lang_ngram_sql  # noqa: E402

_LANG_NGRAM_ORACLE = (
    _lang_ngram_sql("(SELECT doc_id, text FROM documents WHERE doc_id < 900)")
)


@_register("text_lang_id_ngram", _LANG_NGRAM_ORACLE)
def text_lang_id_ngram_q(spark, sf_dir):
    """Char-trigram language ID (r11, functions/langid — VERDICT r9 task
    8): the fastText/Cavnar-Trenkle-style upgrade over the stopword
    heuristic — per-language trigram profiles trained deterministically
    at import from embedded seed prose, scored as average smoothed
    log-likelihood per gram, argmax with fixed tiebreak, 'und' for <3
    chars.  The oracle is the module's own DuckDB twin (same literal
    weight table, same round-6 grid).  Shape: one explode + one broadcast
    join + two combinable groupBys — no UDF, no window, scan-parallel.
    Reference analog: none (LLM-data-pipeline family); held-out accuracy
    table in PERF.md round-11."""
    from .functions.langid import lang_id_ngram

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 900).select("doc_id", "text")
    return lang_id_ngram(docs)


# oracle built at import time from the LIVE twin in functions/quality_clf
# (_qclf_sql imported above, beside the keep-best oracle)
_QCLF_ORACLE = (
    _qclf_sql("(SELECT doc_id, text FROM documents WHERE doc_id < 900)")
)


@_register("quality_classifier", _QCLF_ORACLE)
def quality_classifier_q(spark, sf_dir):
    """Learned document-quality classifier (r12, functions/quality_clf):
    the fastText-style model filter (DCLM / RedPajama-v2 ML signals) that
    runs after the rule-based Gopher tables — Naive-Bayes log-odds over
    word unigrams+bigrams, trained deterministically at import from
    embedded prose/chaff seed corpora, micro-integer weights so the
    per-doc sum is exact int64 in both engines.  Shape: one explode +
    one broadcast join + one combinable groupBy — no UDF, no window,
    scan-parallel.  Reference analog: none (LLM-data-pipeline family);
    held-out accuracy pinned 20/20 in tests/test_functions.py."""
    from .functions.quality_clf import quality_scores

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 900).select("doc_id", "text")
    return quality_scores(docs)


# oracle built at import time from the LIVE twin in functions/dsir —
# bucketing, fit, Gumbel recipes all parameterized once, shared
from .functions.dsir import dsir_sql as _dsir_sql  # noqa: E402

_DSIR_ORACLE = _dsir_sql("(SELECT doc_id, text, lang FROM documents "
                         "WHERE doc_id < 900)", "lang = 'en'", k=40, m=64)


@_register("dsir_importance_resample", _DSIR_ORACLE)
def dsir_importance_resample_q(spark, sf_dir):
    """DSIR target-distribution selection (r13, functions/dsir — Xie et
    al. NeurIPS 2023): fit Laplace-smoothed hashed-ngram (unigram+bigram,
    md5 buckets) models on the TARGET subset (lang='en' here — the
    'looks like reference text' proxy) and the raw pool, weight every doc
    by the micro-integer log-likelihood ratio, deterministic Gumbel-top-k
    resample (salted-md5 noise, no RNG).  Shape: gram explode -> m-key
    combinable fit groupBy + broadcast m-row weight join -> doc groupBy
    -> TakeOrderedAndProject top-k.  No window, no collect.
    Oracle is the module's own DuckDB twin (m=64 so bucket counts are
    meaningful at sf0.001; paper-scale m in the module default).

    r13 opt (guide §4.2): the counts substrate routes through the
    row-identical mapInPandas kernel (`use_arrow=True`, the ed3ba5e
    600k path) — the Column form's interpreted bigram `transform`
    lambda dominated the row even at 900 docs (within-session noop A/B
    min-of-3: 2.7-2.8 s Column vs 0.8-1.0 s Arrow); equality of the two
    paths is pinned in tests/test_dsir.py and the oracle re-verified at
    all three SFs."""
    from .functions.dsir import importance_resample

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 900).select("doc_id", "text", "lang")
    return importance_resample(docs, F.col("lang") == "en", k=40, m=64,
                               use_arrow=True)


# oracle built at import time from the LIVE twin in operators/preference
from .operators.preference import preference_pairs_sql as _pref_sql  # noqa: E402

_PREF_ORACLE = _pref_sql(
    "(SELECT event_id % 80 AS prompt_id, 'resp ' || event_id AS response, "
    "value AS score, event_id AS response_id "
    "FROM events WHERE event_id < 4000)")


@_register("dpo_preference_pairs", _PREF_ORACLE)
def dpo_preference_pairs_q(spark, sf_dir):
    """RLHF/DPO preference-pair construction (r13, operators/preference —
    InstructGPT arXiv:2203.02155 comparison data / DPO arXiv:2305.18290):
    per-prompt best/worst response by reward with a deterministic
    (score, id) struct tie-break, margin-filtered.  Shape: ONE combinable
    groupBy of two struct-argmax aggregates — no per-prompt window, one
    shuffle on the prompt key.  Fixture: events as a scored response log
    (prompt = event_id % 80, reward = value)."""
    from .operators.preference import build_preference_pairs

    ev = tables.load(spark, sf_dir, "events") \
        .filter(F.col("event_id") < 4000)
    log = ev.select((F.col("event_id") % 80).alias("prompt_id"),
                    F.concat(F.lit("resp "), F.col("event_id"))
                     .alias("response"),
                    F.col("value").alias("score"),
                    F.col("event_id").alias("response_id"))
    return build_preference_pairs(log)


# ---------------------------------------------------------------------------------
# Ranking / counters (R8, R9, R10, R11, R13)
# ---------------------------------------------------------------------------------

@_register("r8_tier1_ranking", f"""
WITH {MEMORIES_CTE.strip()},
scored AS (
  SELECT memory_id,
    0.5 * ln(1 + cache_hit_total) + 0.3 * cache_hit_ema_30d
      + 0.2 * (cache_confidence_weighted_30d / greatest(cache_hit_ema_30d, 1.0)) AS score_cache,
    0.4 * ln(1 + citation_hit_total) + 0.3 * citation_hit_ema_30d
      + 0.3 * (citation_confidence_weighted_30d / greatest(citation_hit_ema_30d, 1.0)) AS score_cite,
    (citation_hit_total > 0 OR citation_hit_ema_30d > 0
     OR citation_confidence_weighted_30d > 0) AS has_cite
  FROM memories_d
)
SELECT memory_id,
       ROUND(CASE WHEN has_cite THEN 0.7 * score_cite + 0.3 * score_cache
                  ELSE score_cache END, 6)::DOUBLE AS final_score
FROM scored
ORDER BY final_score DESC, memory_id ASC
LIMIT 50
""")
def r8(spark, sf_dir):
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    out = ranking.tier1_ranked(mems, 50)
    return out.select("memory_id", _r6(F.col("final_score")).alias("final_score"))


@_register("r9_ema_decay", f"""
WITH {{EVENTS}}, ref AS (SELECT MAX(ts) AS ref_ts FROM events_us)
SELECT user_id,
       ROUND(SUM(POW(0.5, (floor(epoch(ref_ts)) - floor(epoch(ts))) / 86400.0 / 30.0)), 6)::DOUBLE AS ema,
       COUNT(*) AS hit_total
FROM events_us CROSS JOIN ref
GROUP BY user_id
""")
def r9(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("ref_ts"))
    joined = ev.crossJoin(F.broadcast(ref))
    out = joined.groupBy("user_id").agg(
        _r6(F.sum(D.decayed_hit_sum(F.col("ts"), F.col("ref_ts")))).alias("ema"),
        F.count("*").alias("hit_total"),
    )
    return out


@_register("r10_fused_confidence", """
SELECT event_id,
  -- every signal AND the product clipped to [0,1]
  -- (services/memory_management.py:3266-3289 _clip01)
  ROUND(least(greatest(
          least(greatest(value / 200.0, 0.0), 1.0)
        * least(greatest(0.9, 0.0), 1.0)
        * least(greatest(exp(-(value) / 500.0), 0.0), 1.0)
        * least(greatest(1.0 / 2.0, 0.0), 1.0)
        * least(greatest(0.8, 0.0), 1.0)
        * least(greatest(least((CAST(props->>'k' AS DOUBLE) * 10.0) / 512.0, 1.0),
                         0.0), 1.0), 0.0), 1.0), 6)::DOUBLE AS fused
FROM events
WHERE event_id < 1000
""")
def r10(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    tokens_col = F.get_json_object(F.col("props"), "$.k").cast("double") * 10.0
    fused = D.fused_confidence(
        sim=F.col("value") / 200.0,
        conf=F.lit(0.9),
        latency_ms=F.col("value"),
        tier=F.lit(1.0),
        engagement=F.lit(0.8),
        tokens=tokens_col,
    )
    return ev.select("event_id", _r6(fused).alias("fused"))


@_register("r11_windowed_counts", """
WITH {EVENTS}, ref AS (SELECT MAX(ts) AS ref_ts FROM events_us)
SELECT user_id, COUNT(*) AS retrieval_count
FROM events_us CROSS JOIN ref
WHERE ts >= ref_ts - INTERVAL 7 DAY
GROUP BY user_id
ORDER BY retrieval_count DESC, user_id ASC
LIMIT 500
""")
def r11(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("ref_ts"))
    joined = ev.crossJoin(F.broadcast(ref))
    return ranking.windowed_counts(joined, "user_id", "ts", 7, F.col("ref_ts"))


@_register("r13_temporal_coherence", """
WITH {EVENTS}, diffs AS (
  SELECT a.user_id AS memory_id,
         abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) / 3600.0 AS age_diff_hours
  FROM events_us a JOIN events_us b
    ON a.user_id = b.user_id AND b.event_id = a.event_id + 1
  WHERE a.event_id < 2000
)
SELECT memory_id,
       ROUND(MAX(age_diff_hours), 6)::DOUBLE AS max_diff,
       ROUND(MIN(age_diff_hours), 6)::DOUBLE AS min_diff,
       -- reference median: sorted(diffs)[n//2] (element-select, :4557)
       ROUND((array_agg(age_diff_hours ORDER BY age_diff_hours))[count(*) // 2 + 1],
             6)::DOUBLE AS median_diff,
       ROUND(1.0 - (MAX(age_diff_hours) - MIN(age_diff_hours)) / (MAX(age_diff_hours) + 1.0), 6)::DOUBLE AS coherence
FROM diffs
GROUP BY memory_id
""")
def r13(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") < 2000).select(
        F.col("user_id").alias("memory_id"), F.col("ts").alias("ts_a"), F.col("event_id")
    )
    b = ev.select(F.col("user_id").alias("memory_id"), F.col("ts").alias("ts_b"),
                  (F.col("event_id") - 1).alias("event_id"))
    pairs = a.join(b, ["memory_id", "event_id"]).withColumn(
        "age_diff_hours",
        F.abs(F.unix_timestamp("ts_a") - F.unix_timestamp("ts_b")) / 3600.0,
    )
    agg = pairs.groupBy("memory_id").agg(
        _r6(F.max("age_diff_hours")).alias("max_diff"),
        _r6(F.min("age_diff_hours")).alias("min_diff"),
        _r6(F.element_at(F.sort_array(F.collect_list("age_diff_hours")),
                         (F.floor(F.count("age_diff_hours") / 2) + 1).cast("int"))
            ).alias("median_diff"),
        _r6(
            F.lit(1.0)
            - (F.max("age_diff_hours") - F.min("age_diff_hours"))
            / (F.max("age_diff_hours") + F.lit(1.0))
        ).alias("coherence"),
    )
    return agg


# ---------------------------------------------------------------------------------
# ACL + metadata predicate compiler (F1-F5)
# ---------------------------------------------------------------------------------

@_register("f1_acl_filter", f"""
WITH {MEMORIES_CTE.strip()}
SELECT memory_id, user_id
FROM memories_d
WHERE (user_id = 'u5'
       OR list_contains(user_read_access, 'u5')
       OR len(list_intersect(workspace_read_access, ['w1'])) > 0
       OR len(list_intersect(role_read_access, ['r2'])) > 0
       OR list_contains(organization_read_access, 'o1')
       OR list_contains(namespace_read_access, 'ns3'))
  AND namespace_id = 'ns3'
""")
def f1_acl(spark, sf_dir):
    # namespace scoping is STRICT (memory_graph.py:5861-5871): the namespaced
    # request EXCLUDES legacy NULL-namespace rows — no flag, applies whenever
    # ctx carries a namespace
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    ctx = AclContext(
        user_id="u5", workspace_ids=["w1"], role_ids=["r2"],
        organization_id="o1", namespace_id="ns3",
    )
    return mems.filter(acl_predicate(ctx)).select("memory_id", "user_id")


@_register("f3_custom_metadata_numeric", """
SELECT event_id, CAST(props->>'k' AS DOUBLE) AS k_value
FROM events
WHERE CAST(props->>'k' AS DOUBLE) >= 50
""")
def f3_numeric(spark, sf_dir):
    # F3 quirk: bare numeric custom-metadata filter means >= lower bound
    # (memory/memory_graph.py:5990-5997)
    ev = tables.load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("double")
    return ev.withColumn("k_value", k).filter(F.col("k_value") >= 50).select("event_id", "k_value")


# ---------------------------------------------------------------------------------
# Graph operators (G1, G2, G4, G7)
# ---------------------------------------------------------------------------------

@_register("g1_pattern_match", f"""
WITH {NODES_CTE.strip()}, {EDGES_CTE.strip()},
und AS (
  SELECT src, dst, rel_type FROM edges_d
  UNION ALL
  SELECT dst, src, rel_type FROM edges_d
)
SELECT DISTINCT m.node_id AS m_id, m.label AS m_label, e.rel_type,
       n.node_id AS n_id, n.label AS n_label
FROM und e
JOIN nodes_d m ON e.src = m.node_id AND m.label = 'Customer'
JOIN nodes_d n ON e.dst = n.node_id AND n.label = 'Nation'
WHERE e.rel_type = 'BELONGS_TO' AND contains(lower(n.prop_name), 'a')
""")
def g1(spark, sf_dir):
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])
    spec = PatternSpec(source_label="Customer", relationship_type="BELONGS_TO",
                       target_label="Nation", direction="any")
    out = graph.match_pattern(
        nodes, edges, spec,
        n_pred=F.lower(F.col("prop_name")).contains("a"),
        node_cols=[],
    )
    return out.select("m_id", "m_label", "rel_type", "n_id", "n_label")


@_register("g2_two_hop_paths", f"""
WITH {EDGES_CTE.strip()},
e1 AS (SELECT src AS start_id, dst AS hop1_id FROM edges_d
       WHERE src LIKE 'c%' AND CAST(substr(src, 2) AS BIGINT) < 200),
one AS (SELECT DISTINCT start_id, hop1_id, hop1_id AS end_id, 1 AS depth FROM e1),
two AS (
  SELECT DISTINCT e1.start_id, e1.hop1_id, e2.dst AS end_id, 2 AS depth
  FROM e1 JOIN edges_d e2 ON e1.hop1_id = e2.src
  WHERE e1.start_id <> e2.dst
)
SELECT * FROM one UNION ALL SELECT * FROM two
""")
def g2(spark, sf_dir):
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])
    start = (F.col("label") == "Customer") & (
        F.substring(F.col("node_id"), 2, 100).cast("bigint") < 200
    )
    return graph.two_hop_paths(nodes, edges, start_pred=start)


@_register("g4_fuzzy_lookup", f"""
WITH {NODES_CTE.strip()}
SELECT node_id, label, prop_name
FROM nodes_d
WHERE label = 'Customer' AND contains(lower(prop_name), '001')
  -- strict org equality: NO legacy-NULL allowance on the node path — the
  -- id_num % 10 == 7 legacy rows (NULL org) are excluded outright
  AND (id_num % 10 != 7 AND 'o' || (id_num % 3)::VARCHAR = 'o0')
  AND ( 'u' || (id_num % 20)::VARCHAR = 'u3'
     OR list_contains(['u' || (id_num % 20)::VARCHAR,
                       'u' || ((id_num + 1) % 20)::VARCHAR], 'u3')
     OR (id_num % 10 != 7 AND 'o' || (id_num % 3)::VARCHAR = 'o0') )
ORDER BY node_id LIMIT 1
""")
def g4(spark, sf_dir):
    """G4 fuzzy lookup under node-path scoping (memory_graph.py:3111-3162):
    the request carries organization o0, which on the NODE path is a strict
    equality — legacy NULL-org nodes never match (unlike the memory path's
    deliberate legacy allowance, :5834-5844).  The returned node therefore
    differs from the unscoped first match, pinning the strictness."""
    from .operators.predicate import AclContext, node_acl_predicate

    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    ctx = AclContext(user_id="u3", organization_id="o0")
    out = graph.find_node_by_fuzzy_match(nodes, "Customer", "prop_name", "001",
                                         acl=node_acl_predicate(ctx))
    return out.select("node_id", "label", "prop_name")


@_register("g15_where_compiler", f"""
WITH {NODES_CTE.strip()}, {EDGES_CTE.strip()},
-- the nodes' deterministic ACL block (FIXTURES.md): org/ns are NULL for the
-- ~10% legacy rows (id_num % 10 = 7) — the IS [NOT] NULL / NOT IN legs below
-- exercise three-valued logic on them
acld AS (
  SELECT node_id, label, prop_name, prop_status,
         'u' || (id_num % 20)::VARCHAR AS user_id,
         CASE WHEN id_num % 10 = 7 THEN NULL
              ELSE 'o' || (id_num % 3)::VARCHAR END AS organization_id,
         CASE WHEN id_num % 10 = 7 THEN NULL
              ELSE 'ns' || (id_num % 5)::VARCHAR END AS namespace_id
  FROM nodes_d
)
SELECT DISTINCT m.node_id AS m_id, m.label AS m_label, e.rel_type,
       n.node_id AS n_id, n.label AS n_label
FROM edges_d e
JOIN acld m ON e.src = m.node_id AND m.label = 'Customer'
JOIN acld n ON e.dst = n.node_id AND n.label = 'Nation'
WHERE e.rel_type = 'BELONGS_TO'
  -- m: the WhereCondition chain below, with CYPHER precedence (AND > OR)
  AND ( (m.prop_status IN ('BUILDING', 'MACHINERY')
         AND m.prop_status NOT IN ('FURNITURE', 'AUTOMOBILE', 'HOUSEHOLD')
         AND regexp_full_match(m.prop_name, 'Customer#[0-9]+')
         AND m.prop_name > 'Customer#000000009'
         AND m.prop_name <= 'Customer#000000099')
     OR (m.organization_id IS NULL AND contains(m.prop_name, '11'))
     OR (ends_with(m.prop_name, '7') AND m.prop_status <> 'FURNITURE'
         AND m.namespace_id IS NOT NULL
         AND starts_with(m.prop_name, 'Customer#')
         AND m.prop_name >= 'Customer#000000050'
         AND m.prop_name < 'Customer#000000200')
     OR m.user_id = 'u3' )
  -- n: G15 grouping — same property ORs, distinct properties AND
  AND (starts_with(n.prop_name, 'NATION_1') OR contains(n.prop_name, '_2'))
  AND n.prop_status = 'active'
  AND n.node_id IN ('n1', 'n2', 'n3', 'n7', 'n12', 'n21')
""")
def g15_where(spark, sf_dir):
    """WhereCondition-complete predicate compiler (VERDICT r12 task 2).

    The m-side chain covers the reference's FULL ComparisonOperator enum
    (models/cipher_ast.py:26-51) — =, <>, >, >=, <, <=, CONTAINS,
    STARTS WITH, ENDS WITH, IN, NOT IN, IS NULL, IS NOT NULL, =~ — chained
    with mixed and_operator flags so Cypher's AND-over-OR precedence and the
    and_operator=None skip rule (:585-595) are both value-pinned.  The NULL
    legs ride the fixture's legacy rows (org/ns NULL at id % 10 == 7):
    ``organization_id NOT IN (...)`` would 3VL-drop them, ``IS NULL``
    selects them.  The n-side compiles G15 SearchOverrideFilters
    (models/memory_models.py:699-719) with the executor's grouping —
    same-property ORs, cross-property ANDs
    (chat_gpt_completion.py:5699-5744, :5865) — including a filter aimed at
    another label (ignored) and an empty-value filter (dropped, :5712).
    """
    from .operators.constraints import (SearchFilter, WhereCondition,
                                        compile_search_filters, compile_where)

    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])

    m_pred = compile_where([
        # group 1 (AND-chain)
        WhereCondition("prop_status", "IN", ["BUILDING", "MACHINERY"]),
        WhereCondition("prop_status", "NOT IN",
                       ["FURNITURE", "AUTOMOBILE", "HOUSEHOLD"]),
        WhereCondition("prop_name", "=~", "Customer#[0-9]+"),
        WhereCondition("prop_name", ">", "Customer#000000009"),
        WhereCondition("prop_name", "<=", "Customer#000000099"),
        # group 2 (OR starts a new AND-group): legacy NULL-org rows
        WhereCondition("organization_id", "IS NULL", and_operator=False),
        WhereCondition("prop_name", "CONTAINS", "11"),
        # and_operator=None -> the condition is SKIPPED (cipher_ast.py:593);
        # if it were wrongly AND-ed, group 2 would empty out and the value
        # hash would catch it
        WhereCondition("user_id", "=", "u999", and_operator=None),
        # group 3
        WhereCondition("prop_name", "ENDS WITH", "7", and_operator=False),
        WhereCondition("prop_status", "<>", "FURNITURE"),
        WhereCondition("namespace_id", "IS NOT NULL"),
        WhereCondition("prop_name", "STARTS WITH", "Customer#"),
        WhereCondition("prop_name", ">=", "Customer#000000050"),
        WhereCondition("prop_name", "<", "Customer#000000200"),
        # group 4
        WhereCondition("user_id", "=", "u3", and_operator=False),
    ])
    n_pred = compile_search_filters([
        SearchFilter("Nation", "prop_name", "STARTS_WITH", "NATION_1"),
        SearchFilter("Nation", "prop_name", "CONTAINS", "_2"),  # same prop: OR
        SearchFilter("Nation", "prop_status", "EQUALS", "active"),
        SearchFilter("Nation", "node_id", "IN",
                     ["n1", "n2", "n3", "n7", "n12", "n21"]),
        SearchFilter("Customer", "prop_name", "CONTAINS", "zzz"),  # other label
        SearchFilter("Nation", "prop_name", "CONTAINS", ""),       # empty: drop
    ], label="Nation")

    spec = PatternSpec(source_label="Customer", relationship_type="BELONGS_TO",
                       target_label="Nation", direction="out")
    out = graph.match_pattern(nodes, edges, spec, m_pred=m_pred, n_pred=n_pred)
    return out.select("m_id", "m_label", "rel_type", "n_id", "n_label")


@_register("g15_override_spec", f"""
WITH {NODES_CTE.strip()}, {EDGES_CTE.strip()},
acld AS (
  SELECT node_id, label, prop_name, prop_status, id_num,
         'u' || (id_num % 20)::VARCHAR AS user_id,
         ['u' || (id_num % 20)::VARCHAR,
          'u' || ((id_num + 1) % 20)::VARCHAR] AS user_read_access
  FROM nodes_d
),
-- node_acl_predicate(user u3, org o0): OR-block (user arms + org-read
-- arm) AND strict org equality — legacy NULL-org rows (id_num % 10 = 7)
-- carry an EMPTY org_read list and never pass the strict AND
gated AS (
  SELECT * FROM acld
  WHERE (user_id = 'u3'
         OR list_contains(user_read_access, 'u3')
         OR (id_num % 10 != 7
             AND list_contains(['o' || (id_num % 3)::VARCHAR], 'o0')))
    AND (id_num % 10 != 7 AND 'o' || (id_num % 3)::VARCHAR = 'o0')
)
SELECT DISTINCT m.node_id AS m_id, m.label AS m_label, e.rel_type,
       n.node_id AS n_id, n.label AS n_label,
       m.prop_name AS m_prop_name, n.prop_name AS n_prop_name
FROM edges_d e
JOIN gated m ON e.dst = m.node_id AND m.label = 'Nation'
JOIN gated n ON e.src = n.node_id AND n.label = 'Customer'
WHERE e.rel_type = 'BELONGS_TO'
  AND starts_with(m.prop_name, 'NATION')
  AND contains(n.prop_name, '1')
  AND n.prop_status IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
""")
def g15_override(spark, sf_dir):
    """G15 end-to-end: the FULL SearchOverrideSpecification surface
    (models/memory_models.py:679-763) through one call —
    ``(Nation)<-[BELONGS_TO]-(Customer)`` with the ``<-`` direction
    token, per-endpoint SearchOverrideFilters, ``return_properties``
    projection, and the mandatory BOTH-endpoint node ACL
    (memory_graph.py:3001-3048 strict-tenant algebra: the legacy
    NULL-org nodes never pass an org-scoped lookup)."""
    from .operators.constraints import SearchFilter
    from .operators.predicate import node_acl_predicate

    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])
    ctx = AclContext(user_id="u3", organization_id="o0")
    return graph.search_override(
        nodes, edges,
        source_label="Nation", relationship_type="BELONGS_TO",
        target_label="Customer", direction="<-",
        filters=[
            SearchFilter("Customer", "prop_name", "CONTAINS", "1"),
            SearchFilter("Customer", "prop_status", "IN",
                         ["BUILDING", "MACHINERY", "AUTOMOBILE"]),
            SearchFilter("Nation", "prop_name", "STARTS_WITH", "NATION"),
        ],
        return_properties=["prop_name"],
        acl=node_acl_predicate(ctx))


@_register("g7_schema_discovery", f"""
WITH {NODES_CTE.strip()}, {EDGES_CTE.strip()}
SELECT label AS name, 'node_label' AS kind FROM (SELECT DISTINCT label FROM nodes_d)
UNION ALL
SELECT rel_type AS name, 'rel_type' AS kind FROM (SELECT DISTINCT rel_type FROM edges_d)
""")
def g7(spark, sf_dir):
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])
    labels, rels = graph.schema_discovery(nodes, edges)
    return labels.select(F.col("label").alias("name"), F.lit("node_label").alias("kind")).unionByName(
        rels.select(F.col("rel_type").alias("name"), F.lit("rel_type").alias("kind"))
    )


# ---------------------------------------------------------------------------------
# Windows / sessions (ST2, ST3, ST8 batch analogs)
# ---------------------------------------------------------------------------------

@_register("st8_tumbling_window", """
WITH {EVENTS}
SELECT (floor(epoch(ts))::BIGINT // 300) * 300 AS window_start,
       event_type,
       COUNT(*) AS event_count,
       ROUND(SUM(value), 2)::DOUBLE AS value_sum
FROM events_us
GROUP BY 1, 2
""")
def st8(spark, sf_dir):
    # window_start is the epoch-second bucket as BIGINT (not a timestamp):
    # timestamp-typed outputs hash-drift in the driver canonicalizer.
    ev = tables.load(spark, sf_dir, "events")
    out = windows.tumbling(ev, "ts", 300, as_timestamp=False)
    return out.groupBy("window_start", "event_type").agg(
        F.count("*").alias("event_count"), _r2(F.sum("value")).alias("value_sum")
    )


@_register("st2_session_windows", """
WITH {EVENTS}, ordered AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events_us
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM ordered
)
SELECT user_id, session_id, COUNT(*) AS message_count,
       floor(epoch(MIN(ts)))::BIGINT AS session_start,
       floor(epoch(MAX(ts)))::BIGINT AS session_end
FROM sess GROUP BY user_id, session_id
""")
def st2(spark, sf_dir):
    # The rounds-1/3/4 driver hash-red was DTYPE drift on session_id, not the
    # timestamps: DuckDB types windowed SUM(integer) as HUGEINT, pandas
    # materializes HUGEINT as float64 (3.0), Spark emits int64 (3); Python
    # equality hid it locally until tools/check.py became dtype-tagged.  The
    # oracle now casts session_id::BIGINT; session bounds stay epoch BIGINT
    # on both sides per house rule (timestamp outputs are representation-
    # sensitive in the driver canonicalizer).
    ev = tables.load(spark, sf_dir, "events")
    sess = windows.session_ids(ev, "user_id", "ts", 1800)
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("message_count"),
        F.unix_timestamp(F.min("ts")).alias("session_start"),
        F.unix_timestamp(F.max("ts")).alias("session_end"),
    )


@_register("st3_context_window", """
WITH {EVENTS}
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)::DOUBLE AS ctx_avg,
       COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ctx_count
FROM events_us
""")
def st3(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    out = windows.sliding_last_n(ev, "user_id", "ts", "event_id", 5, "value")
    return out.select("event_id", "user_id", _r6(F.col("ctx_avg")).alias("ctx_avg"), "ctx_count")


# ---------------------------------------------------------------------------------
# Set ops / id algebra / scalar functions
# ---------------------------------------------------------------------------------

@_register("ids_chunk_algebra", f"""
WITH {CHUNKS_CTE.strip()}
SELECT chunk_id,
       regexp_replace(chunk_id, '_[0-9]+$', '') AS base_id,
       string_split(chunk_id, '_')[1] AS split_base
FROM chunks_d
""")
def ids_algebra(spark, sf_dir):
    from .functions import ids as I

    chunks = tables.build_chunks(tables.load(spark, sf_dir, "embeddings"))
    return chunks.select(
        "chunk_id",
        I.strip_chunk_suffix(F.col("chunk_id")).alias("base_id"),
        I.base_id(F.col("chunk_id")).alias("split_base"),
    )


@_register("set_ops_semi_anti", """
SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM (
  SELECT DISTINCT c.c_custkey FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
)
UNION ALL
SELECT 'without_orders', COUNT(*) FROM (
  SELECT c.c_custkey FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
)
""")
def set_ops(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    with_o = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey").distinct()
    without_o = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")
    return with_o.agg(F.count("*").alias("n")).select(
        F.lit("with_orders").alias("bucket"), "n"
    ).unionByName(
        without_o.agg(F.count("*").alias("n")).select(F.lit("without_orders").alias("bucket"), "n")
    )


# ---------------------------------------------------------------------------------
# Flagship: the full /v1/memory/search read path (SURVEY §3.1) with DuckDB oracle
# ---------------------------------------------------------------------------------

@_register("search_flagship", f"""
WITH {CHUNKS_CTE.strip()}, {MEMORIES_CTE.strip()},
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
filtered AS (
  -- F1 ACL OR-block for user u5 (workspaces w1,w3; role r2; org o1; ns ns3)
  -- + the STRICT namespace MUST (memory_graph.py:5861-5871): the namespaced
  -- request excludes NULL-namespace chunks
  SELECT c.* FROM chunks_d c
  WHERE (c.user_id = 'u5'
     OR list_contains(c.user_read_access, 'u5')
     OR len(list_intersect(c.workspace_read_access, ['w1','w3'])) > 0
     OR len(list_intersect(c.role_read_access, ['r2'])) > 0
     OR list_contains(c.organization_read_access, 'o1')
     OR list_contains(c.namespace_read_access, 'ns3'))
    AND c.namespace_id = 'ns3'
), scored AS (
  SELECT f.chunk_id,
         list_dot_product(list_transform(f.embedding, x -> x::DOUBLE),
                          list_transform(q.embedding, x -> x::DOUBLE))
         / (SQRT(list_dot_product(list_transform(f.embedding, x -> x::DOUBLE),
                                  list_transform(f.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(list_transform(q.embedding, x -> x::DOUBLE),
                                  list_transform(q.embedding, x -> x::DOUBLE)))) AS score
  FROM filtered f CROSS JOIN q
), topk AS (
  SELECT * FROM scored WHERE score >= 0.0
  ORDER BY score DESC, chunk_id ASC LIMIT 60   -- overfetch = top_k * 3 (R5)
), mem_hits AS (
  SELECT regexp_replace(chunk_id, '_[0-9]+$', '') AS memory_id, MAX(score) AS score
  FROM topk GROUP BY 1
)
SELECT m.memory_id, ROUND(h.score, 6)::DOUBLE AS score, m.user_id
FROM memories_d m JOIN mem_hits h ON m.memory_id = h.memory_id
ORDER BY h.score DESC, m.memory_id ASC
LIMIT 20
""")
def search_flagship(spark, sf_dir):
    from .operators.predicate import AclContext
    from .plans.search import search as search_plan

    chunks = tables.build_chunks(tables.load(spark, sf_dir, "embeddings"))
    memories = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    qvec = _qvec(sf_dir)  # == chunk m0_0's embedding
    ctx = AclContext(user_id="u5", workspace_ids=["w1", "w3"], role_ids=["r2"],
                     organization_id="o1", namespace_id="ns3")
    out = search_plan(chunks, memories, qvec, ctx=ctx, top_k=20, score_threshold=0.0)
    return out.select("memory_id", _r6(F.col("score")).alias("score"), "user_id")


def _layout(sf_dir: str, name: str, sources: tuple[str, ...], writer,
            build: Callable[[str], None]) -> str:
    """Path of the derived layout ``spark_graft_<name>_<sf>`` under the temp
    dir, built once by ``build(path)`` and rebuilt when the ``sources``
    fixtures, the ``writer`` module or this module change
    (sources/layout.py)."""
    import os
    import sys
    import tempfile

    from .sources import layout

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{tag}")
    key = layout.layout_key(sf_dir, sources, (writer, sys.modules[__name__]))
    return layout.cached_layout(root, key, build)


def load_denorm_chunks(spark, sf_dir):
    """Read the materialized denormalized chunks (built once per sf, reused
    across queries and runs like the persisted IVF index).  Serving queries
    scan THIS parquet, so spec predicates on atomic columns (consent/risk/
    custom scalars) reach PushedFilters."""
    def build(path):
        tables.build_chunks_denormalized(
            tables.load(spark, sf_dir, "embeddings"),
            tables.load(spark, sf_dir, "documents")).write.parquet(path)

    return spark.read.parquet(
        _layout(sf_dir, "chunks_denorm", ("embeddings", "documents"), tables,
                build))


@_register("search_spec_pushdown", f"""
WITH {CHUNKS_CTE.strip()}, {MEMORIES_CTE.strip()},
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
chunks_den AS (
  -- the denormalized point-payload layout: spec columns live ON the chunk row
  SELECT c.*, [d.lang, d.source] AS topics,
         ['explicit','implicit','terms','none'][c.id_num % 4 + 1] AS consent,
         ['none','sensitive','flagged'][c.id_num % 3 + 1] AS risk,
         (c.id_num % 20) AS cm_priority,
         (c.id_num % 2 = 0) AS cm_archived
  FROM chunks_d c LEFT JOIN documents d ON c.id_num = d.doc_id
), filtered AS (
  SELECT * FROM chunks_den c
  WHERE (c.user_id = 'u5'
     OR list_contains(c.user_read_access, 'u5')
     OR len(list_intersect(c.workspace_read_access, ['w1','w3'])) > 0
     OR len(list_intersect(c.role_read_access, ['r2'])) > 0
     OR list_contains(c.organization_read_access, 'o1')
     OR list_contains(c.namespace_read_access, 'ns3'))
    AND c.namespace_id = 'ns3'                                -- strict ns MUST
    AND len(list_intersect(c.topics, ['de', 'fr'])) > 0       -- F2
    AND c.cm_priority >= 5 AND c.cm_archived                  -- F3 (numeric >= / bool eq)
    AND c.consent IN ('explicit', 'implicit', 'terms')        -- F7 consent
    AND (c.risk IS NULL OR c.risk NOT IN ('flagged'))         -- F7 risk blacklist
), scored AS (
  SELECT f.chunk_id,
         list_dot_product(list_transform(f.embedding, x -> x::DOUBLE),
                          list_transform(q.embedding, x -> x::DOUBLE))
         / (SQRT(list_dot_product(list_transform(f.embedding, x -> x::DOUBLE),
                                  list_transform(f.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(list_transform(q.embedding, x -> x::DOUBLE),
                                  list_transform(q.embedding, x -> x::DOUBLE)))) AS score
  FROM filtered f CROSS JOIN q
), topk AS (
  SELECT * FROM scored WHERE score >= 0.0
  ORDER BY score DESC, chunk_id ASC LIMIT 60
), mem_hits AS (
  SELECT regexp_replace(chunk_id, '_[0-9]+$', '') AS memory_id, MAX(score) AS score
  FROM topk GROUP BY 1
)
SELECT m.memory_id, ROUND(h.score, 6)::DOUBLE AS score, m.user_id
FROM memories_d m JOIN mem_hits h ON m.memory_id = h.memory_id
ORDER BY h.score DESC, m.memory_id ASC
LIMIT 20
""")
def search_spec_pushdown(spark, sf_dir):
    """Spec'd search over the DENORMALIZED chunk layout: F2 topics + F3 custom
    metadata + F7 consent/risk filter at the chunk scan (PushedFilters for the
    atomic columns, plan-asserted in tests/test_plan_shapes.py) with ZERO joins
    before top-k — the reference's point-payload pushdown
    (memory/memory_graph.py:5919-6026).  Contrast: the same spec through
    search() on bare chunks pays a memories semi-join pre-top-k."""
    from .operators.predicate import AclContext, FilterSpec
    from .plans.search import search as search_plan

    chunks = load_denorm_chunks(spark, sf_dir)
    memories = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    ctx = AclContext(user_id="u5", workspace_ids=["w1", "w3"], role_ids=["r2"],
                     organization_id="o1", namespace_id="ns3")
    spec = FilterSpec(topics=["de", "fr"],
                      custom_metadata={"priority": 5, "archived": True},
                      consent_allowed=["explicit", "implicit", "terms"],
                      risk_blocked=["flagged"])
    out = search_plan(chunks, memories, _qvec(sf_dir), ctx=ctx, spec=spec,
                      top_k=20, score_threshold=0.0)
    return out.select("memory_id", _r6(F.col("score")).alias("score"), "user_id")


# ---------------------------------------------------------------------------------
# V3 scroll fallback, V6 entity resolution, V8 property indexing, V10/V11
# ---------------------------------------------------------------------------------

@_register("v3_scroll_fallback", f"""
WITH {CHUNKS_CTE.strip()}
SELECT chunk_id, floor(epoch(created_at))::BIGINT AS created_epoch FROM chunks_d
WHERE label >= 5
ORDER BY created_at DESC, chunk_id ASC
LIMIT 10
""")
def v3_scroll(spark, sf_dir):
    # created_at projected as epoch BIGINT (ordering still on the raw
    # timestamp): timestamp-typed outputs hash-drift in the driver.
    chunks = tables.build_chunks(tables.load(spark, sf_dir, "embeddings"))
    out = similarity.scroll_fallback(chunks, 10, pred=F.col("label") >= 5)
    return out.select("chunk_id", F.unix_timestamp("created_at").alias("created_epoch"))


@_register("v6_entity_resolution", f"""
WITH pairs AS (
  SELECT a.vec_id AS candidate_id, b.vec_id AS canonical_id,
         list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                          list_transform(b.embedding, x -> x::DOUBLE))
         / (SQRT(list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                                  list_transform(a.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(list_transform(b.embedding, x -> x::DOUBLE),
                                  list_transform(b.embedding, x -> x::DOUBLE)))) AS score
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND b.vec_id < a.vec_id
), best AS (
  SELECT candidate_id, canonical_id, score,
         ROW_NUMBER() OVER (PARTITION BY candidate_id
                            ORDER BY ROUND(score, 6) DESC, canonical_id ASC) AS rn
  FROM pairs WHERE score >= 0.2
)
SELECT candidate_id, canonical_id, ROUND(score, 6)::DOUBLE AS score
FROM best WHERE rn = 1
""")
def v6_resolution(spark, sf_dir):
    """V6/V7 entity-resolution shape (memory/memory_graph.py:10816-11036): for
    each candidate, the best same-tenant (here: same label) earlier entity with
    cosine >= threshold -> reuse its id.  Embeddings are pre-normalized so
    cosine == dot (models/embedding_model.py:722-736)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_join_auto(
        emb, emb, 0.2, left_id="vec_id", right_id="vec_id", anti_reflexive=False,
    )
    lab = emb.select(F.col("vec_id").alias("left_id"), F.col("label").alias("l_lab"))
    lab2 = emb.select(F.col("vec_id").alias("right_id"), F.col("label").alias("r_lab"))
    same = (
        pairs.join(lab, "left_id").join(lab2, "right_id")
        .filter((F.col("l_lab") == F.col("r_lab")) & (F.col("right_id") < F.col("left_id")))
    )
    # rank on the ROUNDED score (both engines): raw doubles from BLAS vs a
    # sequential dot differ in the last ulp, which would flip argmax ties
    w = Window.partitionBy("left_id").orderBy(_r6(F.col("score")).desc(), F.col("right_id").asc())
    return (
        same.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("left_id").alias("candidate_id"),
            F.col("right_id").alias("canonical_id"),
            _r6(F.col("score")).alias("score"),
        )
    )


@_register("v8_property_index", f"""
WITH {NODES_CTE.strip()}
SELECT label || '.' || prop AS property_key, value, node_id
FROM (
  SELECT node_id, label, 'name' AS prop, prop_name AS value FROM nodes_d
  UNION ALL
  SELECT node_id, label, 'status' AS prop, prop_status AS value FROM nodes_d
)
WHERE value IS NOT NULL AND NOT regexp_matches(value, '^[0-9a-f]{{8}}-[0-9a-f]{{4}}')
""")
def v8_propindex(spark, sf_dir):
    """V8 property indexing (services/property_indexing_service.py:16-838):
    emit one '{label}.{prop}' row per indexable string property, skipping
    deterministic UUID-like values (:407)."""
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    props = nodes.select(
        "node_id", "label", F.lit("name").alias("prop"), F.col("prop_name").alias("value")
    ).unionByName(
        nodes.select("node_id", "label", F.lit("status").alias("prop"),
                     F.col("prop_status").alias("value"))
    )
    return (
        props.filter(F.col("value").isNotNull()
                     & ~F.col("value").rlike("^[0-9a-f]{8}-[0-9a-f]{4}"))
        .select(F.concat_ws(".", "label", "prop").alias("property_key"), "value", "node_id")
    )


@_register("v10_query_cache_dedupe", """
SELECT substr(md5(text), 1, 24) AS text_hash, MIN(doc_id) AS first_doc, COUNT(*) AS n_queries
FROM documents
GROUP BY 1
""")
def v10_cache(spark, sf_dir):
    """V10 embedding cache (memory/memory_graph.py:6228-6242): queries keyed by
    sha-prefix hash; duplicates embed once.  (md5 here — same dedupe algebra.)"""
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.select(F.substring(F.md5("text"), 1, 24).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n_queries"))
    )


@_register("v11_int8_quantize", """
WITH scaled AS (
  -- 1e-8 substitutes ONLY exact zero (reference: ``max_abs or 1e-8``)
  SELECT vec_id, embedding,
         127.0 / (CASE WHEN m = 0.0 THEN 1e-8 ELSE m END) AS scale
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding, y -> abs(y::DOUBLE))) AS m
        FROM embeddings WHERE vec_id < 100)
)
SELECT vec_id,
       ROUND(scale, 6)::DOUBLE AS scale,
       array_to_string(list_transform(embedding,
         x -> CAST(least(greatest(round(x::DOUBLE * scale), -128), 127) AS BIGINT)), ',') AS qvec
FROM scaled
""")
def v11_quant(spark, sf_dir):
    # Per-vector max-abs scaling (services/memory_management.py:3957-4025), and
    # the int8 array is projected to a CSV string — the driver canonicalizer
    # cannot hash array cells (round-1 red row).
    emb = tables.load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    vec = V.to_double(F.col("embedding"))
    q = V.quantize_int8(vec)
    return emb.select(
        "vec_id",
        _r6(V.int8_scale(vec)).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("qvec"),
    )


# ---------------------------------------------------------------------------------
# G3 / G6 / G8 lookups and merges
# ---------------------------------------------------------------------------------

@_register("g3_node_by_property", f"""
WITH {NODES_CTE.strip()}
SELECT node_id, label, prop_name FROM nodes_d
WHERE label = 'Nation' AND prop_name = 'NATION_7'
  -- node-path tenant scoping: strict workspace equality (ctx carries w7)
  AND 'w' || (id_num % 8)::VARCHAR = 'w7'
  -- node-path ACL OR-block (no role arm)
  AND ( 'u' || (id_num % 20)::VARCHAR = 'u7'
     OR list_contains(['u' || (id_num % 20)::VARCHAR,
                       'u' || ((id_num + 1) % 20)::VARCHAR], 'u7')
     OR list_contains(['w' || (id_num % 8)::VARCHAR,
                       'w' || ((id_num + 2) % 8)::VARCHAR], 'w7') )
ORDER BY node_id LIMIT 1
""")
def g3(spark, sf_dir):
    """G3 with the reference's node-path scoping (memory_graph.py:3001-3048):
    tenant keys the request carries apply as STRICT AND equality (here the
    active workspace w7) on top of the roles-free ACL OR-block — a different
    algebra than the memory search path (predicate.node_acl_predicate)."""
    from .operators.predicate import AclContext, node_acl_predicate

    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    ctx = AclContext(user_id="u7", workspace_id="w7")
    out = graph.find_node_by_property(nodes, "Nation", "prop_name", "NATION_7",
                                      acl=node_acl_predicate(ctx))
    return out.select("node_id", "label", "prop_name")


@_register("g6_via_relationship", f"""
WITH {NODES_CTE.strip()}, {EDGES_CTE.strip()}
SELECT n.node_id, n.label, n.prop_name
FROM nodes_d n
WHERE n.label = 'Customer'
  AND EXISTS (SELECT 1 FROM edges_d e
              WHERE e.rel_type = 'BELONGS_TO' AND e.src = n.node_id AND e.dst = 'n5')
  -- tenant scoping applies to BOTH endpoints: n (the found customer) and the
  -- target t = n5 (id_num 5 -> workspace w5, so the t conditions hold)
  AND 'w' || (n.id_num % 8)::VARCHAR = 'w5'
  AND 'w' || (5 % 8)::VARCHAR = 'w5'
  -- ONE OR-block spans both endpoints' arms (access to EITHER suffices);
  -- the t arm 'u' || (5 % 20) = 'u5' is true, so the n-side arms are not
  -- required — exactly the reference's combined WHERE (:3192-3208)
  AND ( 'u' || (n.id_num % 20)::VARCHAR = 'u5'
     OR list_contains(['u' || (n.id_num % 20)::VARCHAR,
                       'u' || ((n.id_num + 1) % 20)::VARCHAR], 'u5')
     OR list_contains(['w' || (n.id_num % 8)::VARCHAR,
                       'w' || ((n.id_num + 2) % 8)::VARCHAR], 'w5')
     OR 'u' || (5 % 20)::VARCHAR = 'u5'
     OR list_contains(['u' || (5 % 20)::VARCHAR,
                       'u' || ((5 + 1) % 20)::VARCHAR], 'u5')
     OR list_contains(['w' || (5 % 8)::VARCHAR,
                       'w' || ((5 + 2) % 8)::VARCHAR], 'w5') )
ORDER BY n.node_id LIMIT 1
""")
def g6(spark, sf_dir):
    """G6 with the reference's two-endpoint scoping (memory_graph.py:
    3183-3208): strict tenant equality on BOTH the found node and the target,
    and a single ACL OR-block spanning both endpoints' arms — the target n5
    being owned by u5 satisfies the ACL even for customers the caller could
    not read directly (an either-endpoint semantic the repo mirrors rather
    than 'fixes')."""
    from .operators.predicate import AclContext

    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])
    ctx = AclContext(user_id="u5", workspace_id="w5")
    out = graph.find_node_via_relationship(nodes, edges, "Customer",
                                           "BELONGS_TO", "n5", "out", ctx=ctx)
    return out.select("node_id", "label", "prop_name")


@_register("g8_merge_upsert", f"""
WITH {NODES_CTE.strip()},
incoming AS (
  SELECT 'n' || n_nationkey::VARCHAR AS node_id, 'Nation' AS label,
         lower(n_name) AS prop_name, 'merged' AS prop_status
  FROM nation WHERE n_nationkey < 5
), merged AS (
  SELECT node_id, label, prop_name, prop_status FROM nodes_d
  WHERE node_id NOT IN (SELECT node_id FROM incoming)
  UNION ALL
  SELECT node_id, label, prop_name, prop_status FROM incoming
)
SELECT prop_status, COUNT(*) AS n, MIN(node_id) AS min_id
FROM merged GROUP BY prop_status
""")
def g8(spark, sf_dir):
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"]).select(
        "node_id", "label", "prop_name", "prop_status"
    )
    incoming = t["nation"].filter(F.col("n_nationkey") < 5).select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("node_id"),
        F.lit("Nation").alias("label"),
        F.lower(F.col("n_name")).alias("prop_name"),
        F.lit("merged").alias("prop_status"),
    )
    merged = graph.merge_nodes(nodes, incoming, ["node_id"])
    return merged.groupBy("prop_status").agg(
        F.count("*").alias("n"), F.min("node_id").alias("min_id")
    )


@_register("g8_schema_driven_merge", f"""
WITH {NODES_CTE.strip()},
cust AS (SELECT node_id, prop_name, prop_status, id_num FROM nodes_d WHERE label = 'Customer'),
incoming AS (
  SELECT 'u' || id_num::VARCHAR AS node_id, prop_name, 'updated' AS prop_status, id_num
  FROM cust WHERE id_num % 10 = 0
), merged AS (
  SELECT node_id, prop_name, prop_status FROM cust
  WHERE prop_name NOT IN (SELECT prop_name FROM incoming)
  UNION ALL
  SELECT node_id, prop_name, prop_status FROM incoming
)
SELECT prop_status AS status, COUNT(*) AS n, MIN(node_id) AS min_id
FROM merged GROUP BY 1
""")
def g8_schema_merge(spark, sf_dir):
    """G8 MERGE with SCHEMA-SELECTED keys: the registry's unique_identifiers
    (not a hand-passed key list) drive the match columns — the dynamic-schema
    merge path (memory/memory_graph.py:10542-10615 via :10692-10712; schema
    model models/user_schemas.py:64-180).  Customer declares
    unique_identifiers=['name'], so incoming rows with brand-new node_ids
    still replace their name-matched existing rows."""
    from .operators.schema_registry import (
        NodeTypeDef, SchemaRegistry, props_from_columns, schema_merge_nodes,
    )

    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    cust = props_from_columns(
        nodes.filter(F.col("label") == "Customer")
             .withColumn("id_num", F.regexp_replace("node_id", "^c", "").cast("bigint")),
        {"name": "prop_name", "status": "prop_status"},
    ).select("node_id", "props", "id_num")

    incoming = cust.filter(F.col("id_num") % 10 == 0).select(
        F.concat(F.lit("u"), F.col("id_num").cast("string")).alias("node_id"),
        F.map_from_arrays(
            F.array(F.lit("name"), F.lit("status")),
            F.array(F.element_at("props", "name"), F.lit("updated")),
        ).alias("props"),
        "id_num",
    )

    reg = SchemaRegistry(spark)
    reg.register("s1", [NodeTypeDef(
        name="Customer", properties={"name": "string", "status": "string"},
        required=["name"], unique_identifiers=["name"],
    )])
    merged = schema_merge_nodes(cust.drop("id_num"), incoming.drop("id_num"), reg, "Customer")
    return merged.select(
        "node_id", F.element_at("props", "status").alias("status")
    ).groupBy("status").agg(F.count("*").alias("n"), F.min("node_id").alias("min_id"))


@_register("schema_validation_report", """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 OR doc_id % 5 = 0 OR doc_id % 7 = 0
            THEN FALSE ELSE TRUE END AS is_valid,
       COALESCE(array_to_string(list_filter([
         CASE WHEN doc_id % 3 = 0 THEN 'missing required property: email' END,
         CASE WHEN doc_id % 5 = 0 THEN 'type violation: age' END,
         CASE WHEN doc_id % 7 = 0 THEN 'undeclared properties: x' END
       ], v -> v IS NOT NULL), ';'), '') AS violations
FROM documents WHERE doc_id < 200
""")
def schema_validation(spark, sf_dir):
    """The compiled validation surface (models/cipher_ast.py:66-280 semantics:
    required properties, type conformance, extra='forbid') as ONE Catalyst
    Column over a props map — schema checks run at scan parallelism.  The
    fixture synthesizes each violation class on a residue of doc_id."""
    from .operators.schema_registry import NodeTypeDef, SchemaRegistry

    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    with_props = docs.withColumn(
        "props",
        F.map_filter(
            F.create_map(
                F.lit("name"), F.col("source"),
                F.lit("email"),
                F.when(F.col("doc_id") % 3 != 0, F.concat(F.col("lang"), F.lit("@x.io"))),
                F.lit("age"),
                F.when(F.col("doc_id") % 5 == 0, F.lit("not-a-number"))
                 .otherwise(F.col("n_chars").cast("string")),
                F.lit("x"), F.when(F.col("doc_id") % 7 == 0, F.lit("extra")),
            ),
            lambda _, v: v.isNotNull(),
        ),
    )
    reg = SchemaRegistry(spark)
    reg.register("s1", [NodeTypeDef(
        name="Customer",
        properties={"name": "string", "email": "string", "age": "integer"},
        required=["name", "email"],
    )])
    out = reg.validate(with_props, "Customer")
    return out.select(
        "doc_id", "is_valid", F.array_join("violations", ";").alias("violations")
    )


# ---------------------------------------------------------------------------------
# R2 stratified merge, R12 watermark delta, R14 trim, F2 array filters
# ---------------------------------------------------------------------------------

@_register("r2_stratified_merge", f"""
WITH {CHUNKS_CTE.strip()},
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
vec_src AS (
  SELECT c.memory_id AS id,
         list_dot_product(list_transform(c.embedding, x -> x::DOUBLE),
                          list_transform(q.embedding, x -> x::DOUBLE)) AS score
  FROM chunks_d c CROSS JOIN q
  ORDER BY score DESC, id ASC LIMIT 30
), neo_src AS (
  SELECT 'm' || vec_id::VARCHAR AS id, NULL::DOUBLE AS score
  FROM embeddings WHERE label = 3
  ORDER BY id LIMIT 10
), ranked AS (
  SELECT id, coalesce(score, 0.7) AS score, 'neo' AS source,
         ROW_NUMBER() OVER (ORDER BY coalesce(score, 0.7) DESC, id ASC) AS src_rank
  FROM neo_src
  UNION ALL
  SELECT id, score, 'vector', ROW_NUMBER() OVER (ORDER BY score DESC, id ASC)
  FROM vec_src
), within AS (SELECT * FROM ranked WHERE src_rank <= 10),
lo AS (SELECT *, src_rank - 10 AS lrank FROM ranked WHERE src_rank > 10),
losrc AS (
  SELECT source, ROW_NUMBER() OVER (ORDER BY source ASC) - 1 AS src_i
  FROM (SELECT DISTINCT source FROM lo)
), params AS (
  SELECT (SELECT COUNT(*) FROM losrc) AS nsrc,
         greatest(20 - (SELECT COUNT(*) FROM within), 0) AS remaining
), merged AS (
  -- reference adaptive fill (memory_graph.py:6630-6645): remaining slots
  -- split evenly across sources with leftovers, extras to the first sources
  SELECT id, score, source FROM within
  UNION ALL
  SELECT l.id, l.score, l.source
  FROM lo l JOIN losrc s USING (source) CROSS JOIN params p
  WHERE l.lrank <= p.remaining // greatest(p.nsrc, 1)
                   + CASE WHEN s.src_i < p.remaining % greatest(p.nsrc, 1)
                          THEN 1 ELSE 0 END
), dedup AS (
  SELECT id, score, source,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, source ASC) AS rn
  FROM merged
)
SELECT id, ROUND(score, 6)::DOUBLE AS score, source FROM dedup WHERE rn = 1
""")
def r2_merge(spark, sf_dir):
    chunks = tables.build_chunks(tables.load(spark, sf_dir, "embeddings"))
    emb = tables.load(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    vec_src = (
        similarity.score_against(chunks, qvec, assume_normalized=True)
        .select(F.col("memory_id").alias("id"), "score")
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(30)
    )
    neo_src = (
        emb.filter(F.col("label") == 3)
        .select(F.concat(F.lit("m"), F.col("vec_id").cast("string")).alias("id"),
                F.lit(None).cast("double").alias("score"))
        .orderBy("id")
        .limit(10)
    )
    out = ranking.stratified_merge({"vector": vec_src, "neo": neo_src}, top_k=20)
    return out.select("id", _r6(F.col("score")).alias("score"), "source")


@_register("r12_delta_since_watermark", f"""
WITH {MEMORIES_CTE.strip()}
SELECT memory_id, floor(epoch(created_at))::BIGINT AS created_epoch FROM memories_d
WHERE created_at > TIMESTAMP '2024-01-15 00:00:00'
""")
def r12(spark, sf_dir):
    # created_at projected as epoch BIGINT: this row was driver-green in r3
    # with a timestamp column (arithmetic-derived values, bit-equal on both
    # engines), but the blanket canonicalizer rule is now "no timestamp-typed
    # outputs" after st2's whole-second values still hash-mismatched.
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    return mems.filter(
        F.col("created_at") > F.lit("2024-01-15 00:00:00").cast("timestamp")
    ).select("memory_id", F.unix_timestamp("created_at").alias("created_epoch"))


@_register("r14_trim_content", f"""
WITH {MEMORIES_CTE.strip()}
SELECT memory_id, substr(content, 1, 600) AS content, length(substr(content, 1, 600)) AS trimmed_len
FROM memories_d WHERE length(content) > 300
""")
def r14(spark, sf_dir):
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    out = ranking.trim_content(mems.filter(F.length("content") > 300))
    return out.select("memory_id", "content", F.length("content").alias("trimmed_len"))


@_register("f2_array_metadata_filter", f"""
WITH {MEMORIES_CTE.strip()}
SELECT memory_id, array_to_string(topics, ',') AS topics_csv FROM memories_d
WHERE len(list_intersect(topics, ['de', 'fr'])) > 0 AND source_type = 'src1'
""")
def f2_arrays(spark, sf_dir):
    # topics is projected to a CSV string: the driver's canonicalizer cannot
    # hash array-typed cells (round-1 red row), and the filter semantics are
    # unchanged — arrays_overlap still runs on the native array column.
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    return mems.filter(
        F.arrays_overlap("topics", F.array(F.lit("de"), F.lit("fr")))
        & (F.col("source_type") == "src1")
    ).select("memory_id", F.array_join("topics", ",").alias("topics_csv"))


# ---------------------------------------------------------------------------------
# R6 deterministic rerank (pluggable scorer stage with deterministic default)
# ---------------------------------------------------------------------------------

@_register("r6_rerank", f"""
WITH {MEMORIES_CTE.strip()},
base AS (
  SELECT memory_id, (id_num % 13) / 13.0 AS orig_score, content
  FROM memories_d WHERE id_num < 100
), rr AS (
  SELECT memory_id, orig_score,
         (('0x' || substr(md5(content), 1, 6))::BIGINT % 1000) / 1000.0 AS rerank_score
  FROM base
)
-- reference reorders PURELY by the rerank score (memory_graph.py:7092-7093
-- sorted(..., key=score, reverse=True) — stable on the prior orig-score
-- order; no fusion with the vector score)
SELECT memory_id,
       ROUND(rerank_score, 6)::DOUBLE AS rerank_score,
       ROUND(orig_score, 6)::DOUBLE AS orig_score
FROM rr
ORDER BY rerank_score DESC, orig_score DESC, memory_id ASC
LIMIT 20
""")
def r6_rerank(spark, sf_dir):
    """R6/R7 rerank stage (memory/memory_graph.py:6939-7105) with the
    deterministic default scorer of SURVEY §2.10: pseudo-score from a content
    hash; the result re-sorts PURELY by the rerank score (:7092-7093 — the
    round-5 50/50 fusion was a mirrored-wrong; the reference keeps the
    original score only as a tie-stable prior order)."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    base = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("memory_id"),
        ((F.col("doc_id") % 13) / 13.0).alias("orig_score"),
        F.col("text").alias("content"),
    )
    rerank = (F.conv(F.substring(F.md5("content"), 1, 6), 16, 10).cast("bigint") % 1000) / 1000.0
    return (
        base.withColumn("rerank_score", rerank)
        .select(
            "memory_id",
            _r6(F.col("rerank_score")).alias("rerank_score"),
            _r6(F.col("orig_score")).alias("orig_score"),
        )
        .orderBy(F.col("rerank_score").desc(), F.col("orig_score").desc(),
                 F.col("memory_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------------
# SimHash with a programmatically-generated oracle (bit arithmetic in SQL)
# ---------------------------------------------------------------------------------

def _simhash_oracle(bits: int = 32) -> str:
    terms = []
    for b in range(bits):
        hp, sh = b // 4 + 1, 3 - (b % 4)
        vote = (
            f"list_sum(list_transform(tk, t -> CASE WHEN "
            f"((strpos('0123456789abcdef', substr(md5(t), {hp}, 1)) - 1) >> {sh}) % 2 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN {vote} > 0 THEN (1::BIGINT << {b}) ELSE 0 END")
    expr = " + ".join(terms)
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 200
)
SELECT doc_id AS id, ({expr})::BIGINT AS simhash FROM toks
"""


@_register("dedup_simhash", _simhash_oracle(32))
def dedup_simhash_q(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash_fingerprints(docs, bits=32)


def _simhash_fp_cte(bits: int = 32) -> str:
    """The fingerprint derivation of _simhash_oracle as a reusable CTE body."""
    body = _simhash_oracle(bits)
    return body.replace(")\nSELECT doc_id AS id,",
                        "), fp AS (SELECT doc_id AS id,").rstrip() + ")"


@_register("dedup_simhash_hamming", _simhash_fp_cte(32).replace("WITH toks", "WITH toks", 1) + """
, bands AS (
  SELECT id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS val
  FROM fp, LATERAL (SELECT UNNEST([0, 1, 2, 3]) AS band) b
), cand AS (
  SELECT DISTINCT l.id AS left_id, r.id AS right_id, l.simhash AS lfp, r.simhash AS rfp
  FROM bands l JOIN bands r ON l.band = r.band AND l.val = r.val AND l.id < r.id
)
SELECT left_id, right_id, bit_count(xor(lfp, rfp))::INT AS hamming
FROM cand WHERE bit_count(xor(lfp, rfp)) <= 3
""")
def dedup_simhash_hamming_q(spark, sf_dir):
    """SimHash near-dups within Hamming distance 3 via 4-chunk banding
    (pigeonhole-complete candidates from a band equi-join, popcount refine) —
    the banding the plain fingerprint groupBy misses."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash_hamming_duplicates(docs, bits=32, n_bands=4, max_hamming=3)


# ---------------------------------------------------------------------------------
# ANN: IVF-bucketed top-k with full-fidelity oracle (assignment + probe + rank)
# ---------------------------------------------------------------------------------

_ANN_IVF_ORACLE = """
WITH cents AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cemb
  FROM embeddings WHERE vec_id < 8
), assign AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), c.cemb) DESC,
                    c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cents c
), bucketed AS (
  SELECT vec_id, cid AS bucket FROM assign WHERE rn = 1
), q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qemb FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cid FROM cents CROSS JOIN q
  ORDER BY list_dot_product(cemb, qemb) DESC, cid ASC LIMIT 2
), cand AS (
  SELECT e.vec_id,
         list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), q.qemb)
         / (SQRT(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                  list_transform(e.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(q.qemb, q.qemb))) AS score
  FROM embeddings e
  JOIN bucketed b ON b.vec_id = e.vec_id AND b.bucket IN (SELECT cid FROM probe)
  CROSS JOIN q
)
SELECT vec_id, ROUND(score, 6)::DOUBLE AS score FROM cand
ORDER BY score DESC, vec_id ASC LIMIT 10
"""


@_register("ann_ivf_topk", _ANN_IVF_ORACLE)
def ann_ivf(spark, sf_dir):
    """IVF ANN (SURVEY §4 scale path for V2): coarse-quantize to 8 centroids,
    probe the 2 nearest the query.  With the table partitioned by ivf_bucket the
    probe becomes partition pruning: the scan reads nprobe/C of 100 TB."""
    emb = tables.load(spark, sf_dir, "embeddings")
    _cv = _qvecs(sf_dir, list(range(8)))
    cents = [_cv[i] for i in range(8)]
    qvec = cents[0]
    out = similarity.ivf_topk_search(emb, qvec, 10, cents, nprobe=2,
                                     vec_col="embedding", id_col="vec_id")
    return out.select("vec_id", _r6(F.col("score")).alias("score"))


@_register("ann_ivf_persisted", _ANN_IVF_ORACLE)
def ann_ivf_persisted(spark, sf_dir):
    """Same ANN semantics served from the PERSISTED layout
    (sources/ann_index.py): vectors written once, partitioned by ivf_bucket;
    the probe is an IN-filter that lands in PartitionFilters — the scan reads
    2/8 of the files instead of assigning buckets per query.  Deterministic
    first-8 centroids here so the identical DuckDB oracle grades both paths;
    production trains k-means (train_centroids) the same way.
    """
    from .sources import ann_index

    emb = tables.load(spark, sf_dir, "embeddings")
    _cv = _qvecs(sf_dir, list(range(8)))
    cents = [_cv[i] for i in range(8)]
    path = _layout(sf_dir, "ivf", ("embeddings",), ann_index,
                   lambda p: ann_index.build_ivf_index(emb, p, centroids=cents))
    out = ann_index.ann_query(spark, path, cents[0], k=10, nprobe=2,
                              centroids=cents, id_col="vec_id")
    return out.select("vec_id", _r6(F.col("score")).alias("score"))


# ---------------------------------------------------------------------------------
# S1 fetch-by-ids, S12 cascade delete, F7 OMO safety, G12 related edges,
# R15 source annotation, R16 weighted EMA, ST8 sliding windows
# ---------------------------------------------------------------------------------

@_register("s1_fetch_by_ids", f"""
WITH {MEMORIES_CTE.strip()}
SELECT memory_id, content FROM memories_d
WHERE memory_id IN ('m3', 'm7', 'm11', 'm404', 'm999999')
""")
def s1_fetch(spark, sf_dir):
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    return mems.filter(
        F.col("memory_id").isin("m3", "m7", "m11", "m404", "m999999")
    ).select("memory_id", "content")


@_register("s12_cascade_delete", f"""
WITH {MEMORIES_CTE.strip()}, {CHUNKS_CTE.strip()},
doomed AS (SELECT memory_id FROM memories_d WHERE user_id = 'u7')
SELECT 'memories' AS tbl, COUNT(*) AS remaining FROM memories_d
WHERE memory_id NOT IN (SELECT memory_id FROM doomed)
UNION ALL
SELECT 'chunks', COUNT(*) FROM chunks_d
WHERE memory_id NOT IN (SELECT memory_id FROM doomed)
""")
def s12_cascade(spark, sf_dir):
    """S12 cascade delete (memory/memory_graph.py:9200-9459) in batch form:
    anti-join every table against the doomed-id set in one job."""
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    chunks = tables.build_chunks(tables.load(spark, sf_dir, "embeddings"))
    doomed = mems.filter(F.col("user_id") == "u7").select("memory_id")
    mem_left = mems.join(doomed, "memory_id", "left_anti")
    chk_left = chunks.join(doomed, "memory_id", "left_anti")
    return mem_left.agg(F.count("*").alias("remaining")).select(
        F.lit("memories").alias("tbl"), "remaining"
    ).unionByName(
        chk_left.agg(F.count("*").alias("remaining")).select(F.lit("chunks").alias("tbl"), "remaining")
    )


@_register("f7_omo_safety", f"""
WITH {MEMORIES_CTE.strip()}
SELECT memory_id, consent, risk FROM memories_d
WHERE consent IN ('explicit', 'implicit') AND risk <> 'flagged'
""")
def f7_omo(spark, sf_dir):
    """F7 OMO safety filter (services/omo_safety.py; enums
    models/shared_types.py:974-994): consent whitelist AND risk blacklist."""
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    return mems.filter(
        F.col("consent").isin("explicit", "implicit") & (F.col("risk") != "flagged")
    ).select("memory_id", "consent", "risk")


@_register("g12_related_to_edges", """
WITH pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                          list_transform(b.embedding, x -> x::DOUBLE))
         / (SQRT(list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                                  list_transform(a.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(list_transform(b.embedding, x -> x::DOUBLE),
                                  list_transform(b.embedding, x -> x::DOUBLE)))) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 50
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                               ORDER BY ROUND(score, 6) DESC, right_id ASC) AS rn
  FROM pairs
)
SELECT 'm' || left_id::VARCHAR AS src, 'm' || right_id::VARCHAR AS dst,
       'RELATED_TO' AS rel_type, ROUND(score, 6)::DOUBLE AS similarity_score
FROM ranked WHERE rn <= 3
""")
def g12_related(spark, sf_dir):
    """G12 (memory/memory_graph.py:4414-4440): RELATED_TO edges to each memory's
    top-3 most-similar, similarity kept as edge metadata."""
    emb = tables.load(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 50)
    sims = similarity.knn_join_auto(left, emb, 60, left_id="vec_id", right_id="vec_id")
    # re-rank on the rounded score for cross-engine tie stability
    w = Window.partitionBy("left_id").orderBy(_r6(F.col("score")).desc(), F.col("right_id").asc())
    top = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return top.select(
        F.concat(F.lit("m"), F.col("left_id").cast("string")).alias("src"),
        F.concat(F.lit("m"), F.col("right_id").cast("string")).alias("dst"),
        F.lit("RELATED_TO").alias("rel_type"),
        _r6(F.col("score")).alias("similarity_score"),
    )


@_register("r15_source_annotation", f"""
WITH {CHUNKS_CTE.strip()},
ids AS (SELECT 'm' || vec_id::VARCHAR AS id FROM embeddings WHERE vec_id < 50)
SELECT i.id,
       EXISTS (SELECT 1 FROM chunks_d c WHERE c.memory_id = i.id) AS in_qdrant,
       EXISTS (SELECT 1 FROM chunks_d c WHERE c.memory_id = i.id AND c.label = 3) AS in_qdrant_grouped,
       EXISTS (SELECT 1 FROM chunks_d c WHERE c.memory_id = i.id AND c.label >= 7) AS in_neo
FROM ids i
""")
def r15_annotation(spark, sf_dir):
    chunks = tables.build_chunks(tables.load(spark, sf_dir, "embeddings"))
    ids = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 50)
        .select(F.concat(F.lit("m"), F.col("vec_id").cast("string")).alias("id"))
    )
    presence = {
        "qdrant": chunks.select(F.col("memory_id").alias("id")),
        "qdrant_grouped": chunks.filter(F.col("label") == 3).select(F.col("memory_id").alias("id")),
        "neo": chunks.filter(F.col("label") >= 7).select(F.col("memory_id").alias("id")),
    }
    return ranking.source_annotation(ids, presence)


@_register("r16_weighted_ema", """
WITH {EVENTS}, ref AS (SELECT MAX(ts) AS ref_ts FROM events_us)
SELECT user_id,
       ROUND(SUM((value / 100.0) * POW(0.5, (floor(epoch(ref_ts)) - floor(epoch(ts))) / 86400.0 / 30.0)), 6)::DOUBLE AS ema_weighted,
       COUNT(*) AS hit_total
FROM events_us CROSS JOIN ref
GROUP BY user_id
""")
def r16_weighted(spark, sf_dir):
    """R16 feedback counters (services/memory_management.py:3369-3405): the
    confidence-weighted EMA twin — same decay algebra, per-event weights."""
    ev = tables.load(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("ref_ts"))
    joined = ev.crossJoin(F.broadcast(ref))
    return joined.groupBy("user_id").agg(
        _r6(
            F.sum(D.decayed_hit_sum(F.col("ts"), F.col("ref_ts"), F.col("value") / 100.0))
        ).alias("ema_weighted"),
        F.count("*").alias("hit_total"),
    )


@_register("st8_sliding_window", """
WITH {EVENTS}
SELECT ((floor(epoch(ts))::BIGINT - off * 300) // 600) * 600 + off * 300 AS window_start,
       COUNT(*) AS event_count,
       ROUND(SUM(value), 2)::DOUBLE AS value_sum
FROM events_us CROSS JOIN (SELECT UNNEST([0, 1]) AS off)
GROUP BY 1
""")
def st8_sliding(spark, sf_dir):
    """Sliding windows (width 10 min, slide 5 min) in batch-analog form: each
    event lands in 2 buckets via an offset explode — same arithmetic as the
    streaming window(ts, '10 minutes', '5 minutes').  window_start is the
    epoch-second bucket as BIGINT (timestamp outputs hash-drift in the
    driver)."""
    ev = tables.load(spark, sf_dir, "events")
    off = F.explode(F.array(F.lit(0), F.lit(1))).alias("off")
    exploded = ev.select("ts", "value", off)
    epoch = F.unix_timestamp("ts")
    ws = F.floor((epoch - F.col("off") * 300) / 600) * 600 + F.col("off") * 300
    return (
        exploded.withColumn("window_start", ws.cast("bigint"))
        .groupBy("window_start")
        .agg(F.count("*").alias("event_count"), _r2(F.sum("value")).alias("value_sum"))
    )


# ---------------------------------------------------------------------------------
# Rows-only entries (no SQL oracle: Python-hash embedder / binary media payloads)
# ---------------------------------------------------------------------------------

@_register("v1_chunk_embed", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 50
), chunked AS (
  SELECT doc_id, c.chunk_index,
         greatest((len(tk) + 63) // 64, 1) AS total_chunks,
         list_slice(tk, c.chunk_index * 64 + 1, c.chunk_index * 64 + 64) AS ctoks
  FROM toks, LATERAL (SELECT UNNEST(range(0, greatest((len(tk) + 63) // 64, 1))) AS chunk_index) c
), bucketed AS (
  SELECT doc_id, chunk_index, total_chunks,
         list_transform(ctoks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 32) AS buckets
  FROM chunked
), vecs AS (
  SELECT doc_id, chunk_index, total_chunks,
         list_transform(range(0, 32), i -> len(list_filter(buckets, b -> b = i))::DOUBLE) AS raw
  FROM bucketed
)
SELECT 'm' || doc_id::VARCHAR AS memory_id,
       'm' || doc_id::VARCHAR || '_' || chunk_index::VARCHAR AS chunk_id,
       chunk_index, total_chunks::INT AS total_chunks,
       array_to_string(list_transform(raw,
         x -> CAST(round(x / sqrt(list_sum(list_transform(raw, y -> y * y))) * 1000000) AS BIGINT)),
         ',') AS emb_q6
FROM vecs
""")
def v1_chunk_embed(spark, sf_dir):
    """V1 chunk+embed (models/embedding_model.py:693-1088) — deterministic
    md5-bucket embedder, fully oracle-checked (chunking + bucketing + L2
    normalization reproduced in SQL)."""
    from .plans import ingest

    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    mems = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("memory_id"),
        F.col("text").alias("content"),
    )
    chunked = ingest.chunk_text(mems, chunk_tokens=64)
    embedded = ingest.hash_embed(chunked, dim=32)
    # embedding is checked as a CSV of micro-quantized BIGINTs: raw float arrays
    # crash the driver canonicalizer, and integer CSV sidesteps cross-engine
    # float-to-string formatting drift.
    q6 = F.transform("embedding", lambda x: F.round(x * 1e6).cast("bigint").cast("string"))
    return embedded.select(
        "memory_id", "chunk_id", "chunk_index", "total_chunks",
        F.array_join(q6, ",").alias("emb_q6"),
    )


@_register("mm_feature_search", """
WITH media AS (
  SELECT doc_id, 'media' || doc_id::VARCHAR AS media_id,
         ['image','audio','video'][doc_id % 3 + 1] AS modality, text
  FROM documents WHERE doc_id < 100
), frames AS (
  SELECT media_id, text, f.frame_index
  FROM media, LATERAL (SELECT UNNEST(range(0,
         CASE WHEN modality = 'video' THEN 4 ELSE 1 END)) AS frame_index) f
), feats AS (
  SELECT media_id || '#' || frame_index::VARCHAR AS feat_id,
         list_transform(range(0, 16),
           j -> ('0x' || substr(sha256(text || frame_index::VARCHAR), j * 2 + 1, 2))::INT / 256.0
         ) AS feature
  FROM frames
), q AS (
  SELECT list_transform(range(0, 16),
           j -> ('0x' || substr(sha256(text || '0'), j * 2 + 1, 2))::INT / 256.0
         ) AS qf
  FROM documents WHERE doc_id = 0
), scored AS (
  SELECT feat_id,
         list_dot_product(feature, qf)
         / (SQRT(list_dot_product(feature, feature)) * SQRT(list_dot_product(qf, qf))) AS score
  FROM feats CROSS JOIN q
  ORDER BY score DESC, feat_id ASC
  LIMIT 10
)
SELECT feat_id, ROUND(score, 6)::DOUBLE AS score FROM scored
""")
def mm_search(spark, sf_dir):
    """Multimodal feature search (north-star op): decode-stub -> cosine top-k.

    Oracle-checked since r4: the stub decoder's features are deterministic
    sha256 math over the utf-8 payload (sources/multimodal.py:_fake_decode),
    so the DuckDB twin re-derives media table + frame sampling + features +
    cosine top-k exactly.  Each b/256.0 is an exact binary fraction and the
    dot products stay exact in double precision, so scores are bit-identical
    across engines.  The query feature is computed driver-side in plain Python
    from doc 0's text (no Spark job, no collect) — the same way a real request
    would arrive with a pre-embedded query."""
    from .sources import multimodal

    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = multimodal.build_media_table(docs)
    import pyarrow.parquet as pqt

    t = pqt.read_table(f"{sf_dir.rstrip('/')}/documents.parquet",
                       columns=["doc_id", "text"])
    d = t.to_pydict()
    text0 = d["text"][d["doc_id"].index(0)]
    qf = multimodal._fake_decode(text0.encode("utf-8"), "image", 0)
    out = multimodal.media_feature_search(media, qf, 10)
    return out.select("feat_id", _r6(F.col("score")).alias("score"))


@_register("mm_metadata_pruning", """
SELECT 'media' || doc_id::VARCHAR AS media_id,
       CASE (doc_id % 3) WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime_type,
       (doc_id % 1920)::INT AS meta_width,
       (doc_id % 1080)::INT AS meta_height
FROM documents
WHERE (doc_id % 3) = 0 AND (doc_id % 1920) > 100
""")
def mm_metadata_pruning(spark, sf_dir):
    """Multimodal metadata-only filter: select wide images WITHOUT touching the
    binary payload.  The media table keeps typed metadata in sibling columns
    precisely so queries like this prune the opaque bytes at the scan
    (multimodal.py design note) — the physical plan's ReadSchema excludes both
    `content` and the `text` column it derives from
    (tests/test_plan_shapes.py asserts this).  At 100 TB of media this is the
    difference between scanning kilobytes of metadata and petabytes of
    blobs."""
    from .sources import multimodal

    docs = tables.load(spark, sf_dir, "documents")
    media = multimodal.build_media_table(docs)
    return (media.filter((F.col("modality") == "image") & (F.col("meta_width") > 100))
            .select("media_id", "mime_type", "meta_width", "meta_height"))


# ---------------------------------------------------------------------------------
# G13 link_to lookup, G14 when-compiler, F10 scalar functions, relevance formula
# ---------------------------------------------------------------------------------

@_register("g13_link_to_lookup", f"""
WITH {NODES_CTE.strip()}
SELECT node_id, label, prop_name FROM nodes_d
WHERE label = 'Customer' AND prop_name = 'Customer#000000042'
ORDER BY node_id LIMIT 1
""")
def g13_lookup(spark, sf_dir):
    """G13: parse a link_to expression and compile it to its lookup join."""
    from .operators import link_to

    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    spec = link_to.parse("Customer:name=Customer#000000042")
    out = link_to.compile_lookup(spec, nodes, prop_col="prop_name")
    return out.select("node_id", "label", "prop_name")


@_register("g14_constraint_when", """
SELECT event_id, event_type, value FROM events
WHERE value >= 150 AND NOT (event_type = 'error') AND (event_type = 'purchase' OR event_type = 'signup')
""")
def g14_when(spark, sf_dir):
    """G14: the when-condition tree compiler driving a filter stage."""
    from .operators.constraints import compile_when

    ev = tables.load(spark, sf_dir, "events")
    cond = {
        "_and": [
            {"value": {"gte": 150}},
            {"_not": {"event_type": "error"}},
            {"_or": [{"event_type": "purchase"}, {"event_type": "signup"}]},
        ]
    }
    return ev.filter(compile_when(cond)).select("event_id", "event_type", "value")


_ACL_ARM_SQL = """({a}.user_id = 'u5'
     OR list_contains({a}.user_read_access, 'u5')
     OR len(list_intersect({a}.workspace_read_access, ['w1'])) > 0
     OR len(list_intersect({a}.role_read_access, ['r2'])) > 0
     OR list_contains({a}.organization_read_access, 'o1')
     OR list_contains({a}.namespace_read_access, 'ns3'))
    AND {a}.namespace_id = 'ns3'"""


@_register("g15_acl_both_endpoints", f"""
WITH {MEMORIES_CTE.strip()}, edges_m AS (
  -- +1 edges: endpoints NEVER share a namespace (consecutive doc_ids differ
  -- mod 5) -> the strict namespace MUST excludes every one of them;
  -- +5 edges: endpoints share the namespace bucket -> the surviving matches
  SELECT 'm' || doc_id::VARCHAR AS src, 'm' || (doc_id + 1)::VARCHAR AS dst,
         'RELATED_TO' AS rel_type
  FROM documents
  UNION ALL
  SELECT 'm' || doc_id::VARCHAR, 'm' || (doc_id + 5)::VARCHAR, 'RELATED_TO'
  FROM documents
), und AS (
  SELECT src, dst, rel_type FROM edges_m
  UNION ALL
  SELECT dst, src, rel_type FROM edges_m
)
SELECT DISTINCT e.src AS m_id, e.rel_type, e.dst AS n_id
FROM und e
JOIN memories_d m ON e.src = m.memory_id
 AND {_ACL_ARM_SQL.format(a='m')}
JOIN memories_d n ON e.dst = n.memory_id
 AND {_ACL_ARM_SQL.format(a='n')}
""")
def g15_acl_both(spark, sf_dir):
    """ACL enforced on BOTH pattern endpoints: the reference's Cypher AST
    injects the identical ACL OR-block for m AND n (models/cipher_ast.py:
    860-883) — here the same compiled predicate is passed to match_pattern as
    ``m_pred`` and ``n_pred`` over Memory nodes that carry the ACL arrays.
    The oracle repeats the OR-block (+ namespace scoping) on both join arms."""
    from .operators.graph import PatternSpec, match_pattern

    docs = tables.load(spark, sf_dir, "documents")
    mems = tables.build_memories(docs)
    acl_cols = ["user_id", "user_read_access", "workspace_read_access",
                "role_read_access", "organization_read_access",
                "namespace_read_access", "organization_id", "namespace_id"]
    nodes = mems.select(
        F.col("memory_id").alias("node_id"), F.lit("Memory").alias("label"), *acl_cols)
    edges = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("m"), (F.col("doc_id") + 1).cast("string")).alias("dst"),
        F.lit("RELATED_TO").alias("rel_type"),
    ).unionByName(docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("m"), (F.col("doc_id") + 5).cast("string")).alias("dst"),
        F.lit("RELATED_TO").alias("rel_type"),
    ))
    ctx = AclContext(user_id="u5", workspace_ids=["w1"], role_ids=["r2"],
                     organization_id="o1", namespace_id="ns3")
    spec = PatternSpec(source_label="Memory", relationship_type="RELATED_TO",
                       target_label="Memory")
    out = match_pattern(nodes, edges, spec,
                        m_pred=acl_predicate(ctx), n_pred=acl_predicate(ctx),
                        node_cols=acl_cols)
    return out.select("m_id", "rel_type", "n_id")


@_register("f10_scalar_functions", """
SELECT doc_id,
       array_to_string(list_transform(string_split(lang || ',' || source || ' , ' || 'extra', ','), t -> trim(t)), '|') AS parts,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
       upper(substr(source, 1, 3)) AS src_prefix,
       length(text) AS content_len
FROM documents WHERE doc_id < 100
""")
def f10_scalars(spark, sf_dir):
    """§2.7 scalar battery: comma-string -> trimmed list
    (services/memory_management.py:801-811), ISO datetime format
    (:1527-1538), case/substring/length fns."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        hours=F.col("doc_id").cast("int")
    )
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split(F.concat_ws(",", "lang", F.concat_ws(" , ", "source", F.lit("extra"))), ","),
                lambda t: F.trim(t),
            ),
            "|",
        ).alias("parts"),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
        F.upper(F.substring("source", 1, 3)).alias("src_prefix"),
        F.length("text").alias("content_len"),
    )


@_register("rel_relevance_score", f"""
WITH {CHUNKS_CTE.strip()}, {MEMORIES_CTE.strip()},
q AS (SELECT embedding, 'm' || vec_id::VARCHAR AS qmem FROM embeddings WHERE vec_id = 0),
qm AS (SELECT m.topics AS qtopics FROM memories_d m JOIN q ON m.memory_id = q.qmem),
scored AS (
  SELECT c.memory_id,
         list_dot_product(list_transform(c.embedding, x -> x::DOUBLE),
                          list_transform(q.embedding, x -> x::DOUBLE))
         / (SQRT(list_dot_product(list_transform(c.embedding, x -> x::DOUBLE),
                                  list_transform(c.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(list_transform(q.embedding, x -> x::DOUBLE),
                                  list_transform(q.embedding, x -> x::DOUBLE)))) AS cos_sim
  FROM chunks_d c CROSS JOIN q WHERE c.id_num < 200
)
SELECT s.memory_id,
       ROUND(0.7 * s.cos_sim +
             0.3 * CASE WHEN len(list_intersect(m.topics, qm.qtopics)) > 0 THEN 1.0 ELSE 0.0 END,
             6)::DOUBLE AS relevance
FROM scored s JOIN memories_d m ON s.memory_id = m.memory_id CROSS JOIN qm
""")
def rel_relevance(spark, sf_dir):
    """Relevance fn (memory/memory_item_relevance.py:20-27):
    0.7*cosine + 0.3*context_topic_match."""
    from .functions.decay import relevance

    chunks = tables.build_chunks(tables.load(spark, sf_dir, "embeddings"))
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    emb = tables.load(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    qtopics = mems.filter(F.col("memory_id") == "m0").select(
        F.col("topics").alias("qtopics")
    )
    scored = similarity.score_against(
        chunks.filter(F.col("vec_id") < 200) if "vec_id" in chunks.columns
        else chunks.join(
            emb.filter(F.col("vec_id") < 200).select(
                F.concat(F.lit("m"), F.col("vec_id").cast("string"), F.lit("_0")).alias("chunk_id")
            ),
            "chunk_id",
            "left_semi",
        ),
        qvec,
        score_col="cos_sim",
    )
    joined = (
        scored.select("memory_id", "cos_sim")
        .join(mems.select("memory_id", "topics"), "memory_id")
        .crossJoin(F.broadcast(qtopics))
    )
    topic_match = F.when(
        F.size(F.array_intersect("topics", "qtopics")) > 0, F.lit(1.0)
    ).otherwise(F.lit(0.0))
    return joined.select(
        "memory_id",
        _r6(relevance(F.col("cos_sim"), topic_match)).alias("relevance"),
    )


# ---------------------------------------------------------------------------------
# Aggregation families: rollup / grouping sets, per-group window rank
# ---------------------------------------------------------------------------------

@_register("agg_rollup", """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       ROUND(SUM(l_extendedprice), 2)::DOUBLE AS total_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def agg_rollup(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_r2(F.sum("l_extendedprice")).alias("total_price"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "total_price", "n",
        )
    )


@_register("agg_cube_events", """
WITH {EVENTS}
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(user_id::VARCHAR, 'ALL') AS user_bucket,
       COUNT(*) AS n, ROUND(AVG(value), 6)::DOUBLE AS avg_value
FROM events_us
GROUP BY CUBE (event_type, user_id)
""")
def agg_cube(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.cube("event_type", "user_id")
        .agg(F.count("*").alias("n"), _r6(F.avg("value")).alias("avg_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("user_id").cast("string"), F.lit("ALL")).alias("user_bucket"),
            "n", "avg_value",
        )
    )


@_register("window_rank_per_group", """
SELECT * FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
) WHERE rank <= 5
""")
def window_rank(spark, sf_dir):
    """Classic SQL rank-per-group (the generic window surface users write).
    Scale note: c_mktsegment has ~5 values, so this shape is 5 window tasks
    at ANY corpus size — by design here (it IS the SQL idiom being
    demonstrated); pipelines ranking per a low-cardinality group at scale
    use operators/sampling.cap_rows_per_group (top-N) or
    writers.grouped_prefix_sum (running sums), the skew-proof twins."""
    c = tables.load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rank")
    )


# ---------------------------------------------------------------------------------
# S11 hierarchical chunking, V9 grouped memory points
# ---------------------------------------------------------------------------------

@_register("s11_hierarchical_chunks", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 50
), pages AS (
  SELECT doc_id, p.page_idx,
         list_slice(tk, p.page_idx * 50 + 1, p.page_idx * 50 + 50) AS page_toks
  FROM toks, LATERAL (SELECT UNNEST(range(0, greatest((len(tk) + 49) // 50, 1))) AS page_idx) p
), chunks AS (
  SELECT doc_id, page_idx, c.chunk_idx,
         array_to_string(list_slice(page_toks, c.chunk_idx * 20 + 1, c.chunk_idx * 20 + 20), ' ') AS chunk_text
  FROM pages, LATERAL (SELECT UNNEST(range(0, greatest((len(page_toks) + 19) // 20, 1))) AS chunk_idx) c
)
SELECT 'm' || doc_id::VARCHAR || '_p' || page_idx::VARCHAR || '_c' || chunk_idx::VARCHAR AS chunk_id,
       'm' || doc_id::VARCHAR AS memory_id,
       'm' || doc_id::VARCHAR || '_p' || page_idx::VARCHAR AS parent_id,
       page_idx, chunk_idx, chunk_text,
       length(chunk_text) AS chunk_len
FROM chunks WHERE chunk_text <> ''
""")
def s11_hierarchical(spark, sf_dir):
    """S11 hierarchical chunker (core/document_processing/hierarchical_chunker.py
    :176-998 semantics): document -> pages (50 tokens) -> chunks (20 tokens),
    each chunk carrying its parent page id — the two-level id scheme the
    reference's document ingestion produces."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = T.tokens(F.col("text"))
    n_pages = F.greatest(F.ceil(F.size(toks) / 50), F.lit(1)).cast("int")
    paged = docs.select(
        "doc_id", toks.alias("tk"),
        F.explode(F.sequence(F.lit(0), n_pages - 1)).alias("page_idx"),
    ).withColumn("page_toks", F.slice(F.col("tk"), F.col("page_idx") * 50 + 1, 50))
    n_chunks = F.greatest(F.ceil(F.size("page_toks") / 20), F.lit(1)).cast("int")
    chunked = paged.select(
        "doc_id", "page_idx", "page_toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).withColumn(
        "chunk_text",
        F.concat_ws(" ", F.slice(F.col("page_toks"), F.col("chunk_idx") * 20 + 1, 20)),
    ).filter(F.col("chunk_text") != "")
    d = F.col("doc_id").cast("string")
    return chunked.select(
        F.concat(F.lit("m"), d, F.lit("_p"), F.col("page_idx").cast("string"),
                 F.lit("_c"), F.col("chunk_idx").cast("string")).alias("chunk_id"),
        F.concat(F.lit("m"), d).alias("memory_id"),
        F.concat(F.lit("m"), d, F.lit("_p"), F.col("page_idx").cast("string")).alias("parent_id"),
        "page_idx", "chunk_idx", "chunk_text",
        F.length("chunk_text").alias("chunk_len"),
    )


@_register("s11_section_hierarchy", """
WITH docs AS (
  SELECT 'm' || doc_id::VARCHAR AS memory_id,
         '1. Overview' || chr(10) || substr(text,1,50) || chr(10) ||
         '1.1 Detail Notes' || chr(10) || substr(text,51,50) || chr(10) ||
         'SUMMARY FINDINGS' || chr(10) || substr(text,101,30) ||
         chr(12) ||
         'intro ' || substr(text,131,40) || chr(10) ||
         'A. Appendix' || chr(10) || substr(text,1,50) || chr(10) || chr(10) ||
         'Closing Remarks' || chr(10) || substr(text,51,50) AS content
  FROM documents WHERE doc_id < 40
), pg AS (
  SELECT memory_id, parts, p.i::INT AS page_num
  FROM (SELECT memory_id, string_split(content, chr(12)) AS parts FROM docs),
       LATERAL (SELECT UNNEST(range(1, len(parts)+1)) AS i) p
), rawlines AS (
  SELECT memory_id, page_num, l.i AS lpos, trim(ls[l.i]) AS line
  FROM (SELECT memory_id, page_num, string_split(parts[page_num], chr(10)) AS ls FROM pg),
       LATERAL (SELECT UNNEST(range(1, len(ls)+1)) AS i) l
), nbr AS (
  SELECT *, lag(line) OVER w AS prev_line, lead(line) OVER w AS next_line
  FROM rawlines WINDOW w AS (PARTITION BY memory_id, page_num ORDER BY lpos)
), lv AS (
  SELECT *, CASE
    WHEN length(line) < 3 OR length(line) > 200 THEN 0
    WHEN regexp_matches(line, '^[0-9]+\\.\\s*[A-Z]') THEN 1
    WHEN regexp_matches(line, '^[0-9]+\\.[0-9]+\\s*[A-Z]') THEN 2
    WHEN regexp_matches(line, '^[A-Z]\\.\\s*[A-Z]') THEN 3
    WHEN regexp_matches(line, '^[IVX]+\\.\\s*[A-Z]') THEN 4
    WHEN line = upper(line) AND regexp_matches(line, '[A-Z]')
         AND len(regexp_split_to_array(line, '\\s+')) <= 8 THEN 1
    WHEN regexp_matches(line, '^[A-Z]\\S*(\\s+[A-Z]\\S*){0,7}$')
         AND len(regexp_split_to_array(line, '\\s+')) <= 8
         AND prev_line IS NOT NULL AND next_line IS NOT NULL
         AND (prev_line = '' OR next_line = '') THEN 2
    ELSE 0 END AS level
  FROM nbr
), lines3 AS (
  SELECT *,
    SUM(CASE WHEN level > 0 THEN 1 ELSE 0 END) OVER (
      PARTITION BY memory_id, page_num ORDER BY lpos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sec_ord
  FROM lv WHERE line <> ''
), lines4 AS (
  SELECT *, memory_id || '_p' || page_num::VARCHAR || '_s' || sec_ord::VARCHAR AS section_id,
         memory_id || '_p' || page_num::VARCHAR AS page_id
  FROM lines3
), headers AS (
  SELECT memory_id, page_num, sec_ord, section_id, page_id,
         line AS section_title, level, lpos
  FROM lines4 WHERE level > 0
), implicit AS (
  SELECT memory_id, page_num, sec_ord, section_id, page_id,
         'Page ' || page_num::VARCHAR AS section_title, 1 AS level, MIN(lpos) AS lpos
  FROM lines4 WHERE level = 0 AND sec_ord = 0
  GROUP BY 1, 2, 3, 4, 5
), secpos AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY memory_id ORDER BY page_num, sec_ord) AS gpos
  FROM (SELECT * FROM headers UNION ALL SELECT * FROM implicit)
), withlast AS (
  SELECT *,
    MAX(CASE WHEN level = 1 THEN gpos END) OVER wp AS l1,
    MAX(CASE WHEN level = 2 THEN gpos END) OVER wp AS l2,
    MAX(CASE WHEN level = 3 THEN gpos END) OVER wp AS l3
  FROM secpos
  WINDOW wp AS (PARTITION BY memory_id ORDER BY page_num, sec_ord
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), sec AS (
  SELECT w.memory_id, w.page_num, w.sec_ord, w.section_id, w.section_title, w.level,
         COALESCE(p.section_id, w.page_id) AS parent_id
  FROM (SELECT *, CASE WHEN level = 2 THEN l1
                       WHEN level = 3 THEN greatest(l1, l2)
                       WHEN level = 4 THEN greatest(l1, l2, l3) END AS parent_pos
        FROM withlast) w
  LEFT JOIN secpos p ON p.memory_id = w.memory_id AND p.gpos = w.parent_pos
), content AS (
  SELECT *, SUM(length(line) + 1) OVER (
      PARTITION BY memory_id, page_num, sec_ord ORDER BY lpos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM lines4 WHERE level = 0
), chunks AS (
  SELECT memory_id, page_num, sec_ord,
         CAST(floor((cum - (length(line) + 1)) / 60.0) AS INT) AS chunk_index,
         line, lpos
  FROM content
), agged AS (
  SELECT memory_id, page_num, sec_ord, chunk_index,
         string_agg(line, chr(10) ORDER BY lpos) AS chunk_content
  FROM chunks GROUP BY 1, 2, 3, 4
), joined AS (
  SELECT c.memory_id, c.page_num, c.sec_ord, c.chunk_index, c.chunk_content,
         s.section_id, s.section_title, s.level, s.parent_id
  FROM agged c JOIN sec s USING (memory_id, page_num, sec_ord)
), ctx AS (
  SELECT *, lag(chunk_content) OVER wd AS prev_c, lead(chunk_content) OVER wd AS next_c
  FROM joined
  WINDOW wd AS (PARTITION BY memory_id ORDER BY page_num, sec_ord, chunk_index)
)
SELECT memory_id, page_num, section_id, parent_id, level, section_title,
       section_id || '_c' || chunk_index::VARCHAR AS chunk_id,
       chunk_index, chunk_content,
       COALESCE(CASE WHEN length(prev_c) > 400
                     THEN substr(prev_c, length(prev_c) - 399, 400)
                     ELSE prev_c END, '') AS context_before,
       COALESCE(substr(next_c, 1, 400), '') AS context_after
FROM ctx
""")
def s11_sections(spark, sf_dir):
    """S11 at the reference's full hierarchy depth
    (core/document_processing/hierarchical_chunker.py:176-998): page ->
    header-detected sections (numbered/ALL-CAPS/title-case levels 1-4) ->
    size-bucketed chunks, with stack-rule parent ids and 400-char neighbor
    context.  The fixture synthesizes two structured pages per document so
    every header class and the cross-page parent rule are exercised; the
    oracle re-derives the ENTIRE pipeline (detection included) in SQL."""
    from .sources.documents import hierarchical_chunk

    nl, ff = "\n", "\f"
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    synth = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("memory_id"),
        F.concat(
            F.lit("1. Overview" + nl), F.substring("text", 1, 50), F.lit(nl),
            F.lit("1.1 Detail Notes" + nl), F.substring("text", 51, 50), F.lit(nl),
            F.lit("SUMMARY FINDINGS" + nl), F.substring("text", 101, 30),
            F.lit(ff),
            F.lit("intro "), F.substring("text", 131, 40), F.lit(nl),
            F.lit("A. Appendix" + nl), F.substring("text", 1, 50), F.lit(nl + nl),
            F.lit("Closing Remarks" + nl), F.substring("text", 51, 50),
        ).alias("content"),
    )
    return hierarchical_chunk(synth, target_chars=60)


@_register("v9_grouped_points", """
SELECT 'm' || vec_id::VARCHAR || '_0' AS chunk_id,
       TRUE AS is_grouped_memories,
       array_to_string(['m' || ((vec_id + 1) % 100)::VARCHAR,
                        'm' || ((vec_id + 2) % 100)::VARCHAR], ',') AS related_memory_ids,
       g.related_id
FROM embeddings,
     LATERAL (SELECT UNNEST(['m' || ((vec_id + 1) % 100)::VARCHAR,
                             'm' || ((vec_id + 2) % 100)::VARCHAR]) AS related_id) g
WHERE vec_id % 20 = 0 AND vec_id < 100
""")
def v9_grouped(spark, sf_dir):
    """V9 grouped-memory point (memory/memory_graph.py:3457-3591): one point per
    memory + its predicted related set; membership exploded for joins."""
    emb = tables.load(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 100)
    )
    related = F.array(
        F.concat(F.lit("m"), ((F.col("vec_id") + 1) % 100).cast("string")),
        F.concat(F.lit("m"), ((F.col("vec_id") + 2) % 100).cast("string")),
    )
    grouped = emb.select(
        F.concat(F.lit("m"), F.col("vec_id").cast("string"), F.lit("_0")).alias("chunk_id"),
        F.lit(True).alias("is_grouped_memories"),
        related.alias("_related"),
    )
    return grouped.select(
        "chunk_id",
        "is_grouped_memories",
        F.array_join("_related", ",").alias("related_memory_ids"),
        F.explode("_related").alias("related_id"),
    )


# ---------------------------------------------------------------------------------
# Batch graph analytics (north-star: GraphX-style jobs as DataFrame iterations)
# ---------------------------------------------------------------------------------

@_register("graph_degree_centrality", f"""
WITH {EDGES_CTE.strip()},
und AS (
  SELECT src AS node_id, dst AS peer FROM edges_d
  UNION
  SELECT dst, src FROM edges_d
)
SELECT node_id, COUNT(DISTINCT peer) AS degree
FROM und GROUP BY node_id
ORDER BY degree DESC, node_id ASC
LIMIT 50
""")
def graph_degree(spark, sf_dir):
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "supplier"]}
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])
    und = edges.select(F.col("src").alias("node_id"), F.col("dst").alias("peer")).unionByName(
        edges.select(F.col("dst").alias("node_id"), F.col("src").alias("peer"))
    ).distinct()
    return (
        und.groupBy("node_id")
        .agg(F.countDistinct("peer").alias("degree"))
        .orderBy(F.col("degree").desc(), F.col("node_id").asc())
        .limit(50)
    )


@_register("graph_connected_components", f"""
WITH RECURSIVE {EDGES_CTE.strip()},
und AS (
  SELECT src, dst FROM edges_d UNION SELECT dst, src FROM edges_d
),
nodes_all AS (SELECT DISTINCT src AS node_id FROM und),
reach(node_id, peer) AS (
  SELECT node_id, node_id FROM nodes_all
  UNION
  SELECT r.node_id, u.dst FROM reach r JOIN und u ON r.peer = u.src
)
SELECT node_id, MIN(peer) AS component
FROM reach GROUP BY node_id
""")
def graph_cc(spark, sf_dir):
    """Connected components by convergent min-label propagation + pointer
    jumping (operators.graph.connected_components) — the GraphX algorithm as a
    bounded DataFrame loop.  Oracle: transitive closure via a recursive CTE,
    component = min reachable id — identical fixpoint."""
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "supplier"]}
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"])
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return graph.connected_components(und)


def _pagerank_sql(iters: int) -> str:
    """Unrolled PageRank oracle: r_{t+1} = 0.15/n + 0.85 * sum_in(r_t/outdeg).
    Fixed iteration count, so the recursion unrolls to chained CTEs."""
    parts = [f"""
e AS (SELECT src, dst FROM edges_d),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)),
nn AS (SELECT COUNT(*) AS c FROM v),
od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
r0 AS (SELECT id, 1.0 / (SELECT c FROM nn) AS r FROM v)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
r{i} AS (
  SELECT v.id, 0.15 / (SELECT c FROM nn) + 0.85 * COALESCE(s.m, 0.0) AS r
  FROM v LEFT JOIN (
    SELECT e.dst, SUM(r{i-1}.r / od.d) AS m
    FROM e JOIN r{i-1} ON e.src = r{i-1}.id JOIN od ON e.src = od.src
    GROUP BY e.dst
  ) s ON v.id = s.dst
)""")
    return ",".join(parts) + f"""
SELECT id AS node_id, ROUND(r, 6)::DOUBLE AS pagerank FROM r{iters}
"""


@_register("graph_pagerank", f"""
WITH {EDGES_CTE.strip().rstrip(',')},
{_pagerank_sql(5)}
""")
def graph_pagerank(spark, sf_dir):
    """Bounded-iteration PageRank (damping 0.85, 5 iterations) over the entity
    graph — the influence-ranking analog of the reference's RELATED_TO
    strength ordering (memory/memory_graph.py:4414-4440), and the standard
    graph-quality signal of a training-data pipeline.  Each iteration is one
    equi-join edges⋈ranks (shuffle on src) + one groupBy(dst) with map-side
    partial sums; the vertex and outdegree tables are computed once and
    reused.  At cluster scale the same loop runs under GraphFrames/Pregel with
    vertex-cut partitioning; 5 chained jobs is the honest local form.  Oracle:
    the recursion unrolled to 5 chained CTEs."""
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "supplier"]}
    edges = tables.build_edges(t["customer"], t["nation"], t["supplier"]).select("src", "dst")
    verts = (edges.select(F.col("src").alias("id"))
             .unionByName(edges.select(F.col("dst").alias("id"))).distinct())
    outdeg = edges.groupBy("src").agg(F.count("*").alias("d"))
    n_df = verts.agg(F.count("*").alias("c"))
    ranks = verts.crossJoin(F.broadcast(n_df)).select(
        "id", (F.lit(1.0) / F.col("c")).alias("r"))
    for _ in range(5):
        contribs = (edges.join(ranks, edges.src == ranks.id)
                    .join(outdeg, "src")
                    .groupBy("dst").agg(F.sum(F.col("r") / F.col("d")).alias("m")))
        ranks = (verts.join(contribs, verts.id == contribs.dst, "left")
                 .crossJoin(F.broadcast(n_df))
                 .select(verts.id,
                         (F.lit(0.15) / F.col("c")
                          + F.lit(0.85) * F.coalesce(F.col("m"), F.lit(0.0))).alias("r")))
    return ranks.select(F.col("id").alias("node_id"), _r6(F.col("r")).alias("pagerank"))


@_register("graph_triangle_count", """
WITH cn AS (
  SELECT 'c' || c_custkey::VARCHAR AS c, 'n' || c_nationkey::VARCHAR AS n, c_nationkey AS nk
  FROM customer WHERE c_custkey % 50 = 0
), sn AS (
  SELECT 's' || s_suppkey::VARCHAR AS s, 'n' || s_nationkey::VARCHAR AS n, s_nationkey AS nk
  FROM supplier WHERE s_suppkey % 5 = 0
)
SELECT cn.n AS nation_node, COUNT(*) AS triangles
FROM cn JOIN sn ON cn.nk = sn.nk
GROUP BY cn.n
""")
def graph_triangle_count(spark, sf_dir):
    """Triangle counting via GENUINE edge⨝edge⨝edge enumeration.  The fixture
    entity graph is acyclic (customer->nation->region), so SAME_NATION peer
    edges (customer~supplier sharing a nation, modulo-sampled) are derived
    first; the edge set {c-n, s-n, c-s} then actually contains triangles.
    The enumeration is the canonical-orientation algorithm: orient every
    undirected edge a<b (total order on node id), build wedges x<y<z with
    e(x,y)⨝e(y,z), close with a third join on e(x,z) — each triangle counted
    exactly once, no double counting, no degree heuristics needed at fixture
    scale (at 100 TB, orient by degree instead of id to bound wedge skew).
    The oracle uses the closed-form equivalence: every triangle here contains
    exactly one nation node and one c-s peer edge, and each same-nation (c,s)
    pair closes exactly one triangle — so per-nation triangle counts equal
    the two-way peer-pair counts."""
    cust = tables.load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 50 == 0)
    supp = tables.load(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 5 == 0)
    c_id = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    s_id = F.concat(F.lit("s"), F.col("s_suppkey").cast("string"))
    e_cn = cust.select(c_id.alias("u"),
                       F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("v"))
    e_sn = supp.select(s_id.alias("u"),
                       F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("v"))
    e_cs = (cust.join(supp, cust.c_nationkey == supp.s_nationkey)
            .select(c_id.alias("u"), s_id.alias("v")))
    edges = e_cn.unionByName(e_sn).unionByName(e_cs)
    e = edges.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")).distinct()
    w = (e.alias("e1").join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
         .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                 F.col("e2.b").alias("z")))
    tri = w.join(e.alias("e3"),
                 (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")))
    nation = (F.when(F.col("x").startswith("n"), F.col("x"))
              .when(F.col("y").startswith("n"), F.col("y"))
              .otherwise(F.col("z")))
    return (tri.select(nation.alias("nation_node"))
            .groupBy("nation_node").agg(F.count("*").alias("triangles")))


@_register("text_tfidf_top_terms", """
WITH tok AS (
  SELECT doc_id, source, UNNEST(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
  FROM documents
), tf AS (
  SELECT doc_id, source, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3
), df AS (
  SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.source, tf.t,
         SUM(tf.tf * ln(n.n_docs::DOUBLE / df.df)) AS score
  FROM tf JOIN df ON tf.t = df.t, n
  GROUP BY tf.source, tf.t
), ranked AS (
  SELECT source, t, ROUND(score, 6)::DOUBLE AS score6,
         row_number() OVER (PARTITION BY source
                            ORDER BY ROUND(score, 6)::DOUBLE DESC, t ASC) AS rk
  FROM scored
)
SELECT source, t AS tok, score6 AS tfidf, rk
FROM ranked WHERE rk <= 3
""")
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF distinctive terms per source — the IR-classic signature pass
    (what distinguishes each corpus slice): tf per (doc, term), idf =
    ln(N/df), per-source top-3 by summed tf-idf.  Three map-side-combined
    aggregations; the document-frequency table is vocabulary-sized and
    broadcasts into the score join; the final rank partitions by source so no
    global sort exists at any scale."""
    from pyspark.sql import Window as W

    docs = tables.load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(T.tokens(F.col("text"))).alias("t"))
    tf = tok.groupBy("doc_id", "source", "t").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(F.broadcast(df_), "t").crossJoin(F.broadcast(n))
              .groupBy("source", "t")
              .agg(F.sum(F.col("tf") * F.log(F.col("n_docs").cast("double")
                                             / F.col("df"))).alias("score")))
    scored = scored.withColumn("score6", _r6(F.col("score")))
    # rank on the ROUNDED score (house rule: ulp-level sum-order differences
    # between engines must never flip a rank)
    w = W.partitionBy("source").orderBy(F.col("score6").desc(), F.col("t").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("source", F.col("t").alias("tok"),
                    F.col("score6").alias("tfidf"), "rk"))


@_register("retention_sweep", """
WITH {MEMS}
SELECT COALESCE(namespace_id, '__legacy__') AS namespace_id,
       SUM(CASE WHEN created_at < TIMESTAMP '2024-01-01 00:00:00'
                     + ((CASE WHEN namespace_id IS NULL THEN 30
                              ELSE 30 + (substr(namespace_id, 3)::INT % 3) * 30 END))
                       * INTERVAL 1 DAY
                THEN 0 ELSE 1 END)::BIGINT AS retained,
       SUM(CASE WHEN created_at < TIMESTAMP '2024-01-01 00:00:00'
                     + ((CASE WHEN namespace_id IS NULL THEN 30
                              ELSE 30 + (substr(namespace_id, 3)::INT % 3) * 30 END))
                       * INTERVAL 1 DAY
                THEN 1 ELSE 0 END)::BIGINT AS expired
FROM memories_d
GROUP BY 1
""")
def retention_sweep(spark, sf_dir):
    """Retention/TTL sweep (data governance): each namespace carries a
    retention policy (30/60/90 days, derived deterministically here; in the
    reference this is the per-tenant config the S13 delete-all route
    enforces); the sweep partitions every memory into retained vs expired
    against the policy cutoff.  One scan + one groupBy on namespace — at
    scale this IS the daily compaction-delete job, and with created_at as a
    partition column the expired set prunes to whole partitions."""
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    days = F.when(F.col("namespace_id").isNull(), F.lit(30)).otherwise(
        30 + (F.substring("namespace_id", 3, 10).cast("int") % 3) * 30)
    cutoff = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(days=days)
    expired = (F.col("created_at") < cutoff).cast("long")
    return (mems.groupBy(F.coalesce("namespace_id", F.lit("__legacy__"))
                         .alias("namespace_id"))
            .agg(F.sum(F.lit(1) - expired).alias("retained"),
                 F.sum(expired).alias("expired")))


@_register("acl_audit", """
WITH {MEMS}
SELECT reader, COUNT(*) AS readable_memories,
       COUNT(DISTINCT COALESCE(namespace_id, '__legacy__')) AS namespaces
FROM (SELECT memory_id, namespace_id, UNNEST(user_read_access) AS reader
      FROM memories_d)
GROUP BY reader
""")
def acl_audit(spark, sf_dir):
    """ACL audit report (governance twin of F1): for every principal, how
    many memories they can read and across how many namespaces — the
    entitlement review a multi-tenant deployment runs periodically.  Explode
    of the read-access array + one groupBy on the principal; reader
    cardinality is users, not memories, so the shuffle is tiny."""
    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    return (mems.select("memory_id",
                        F.coalesce("namespace_id", F.lit("__legacy__")).alias("ns"),
                        F.explode("user_read_access").alias("reader"))
            .groupBy("reader")
            .agg(F.count("*").alias("readable_memories"),
                 F.countDistinct("ns").alias("namespaces")))


@_register("sample_fixed_k", """
SELECT doc_id, source, md5('s:' || doc_id::VARCHAR) AS sort_key
FROM documents
ORDER BY sort_key ASC, doc_id ASC
LIMIT 200
""")
def sample_fixed_k(spark, sf_dir):
    """Deterministic fixed-size sample (reservoir-sampling analog): order by a
    salted hash of the id, take k — a uniform exactly-k sample that is
    replay-idempotent and partition-layout-independent, unlike rand() or
    RDD takeSample.  Executes as TakeOrderedAndProject: per-partition top-k
    heaps, k rows to the driver, no global sort — the same O(k) plan at any
    corpus size."""
    docs = tables.load(spark, sf_dir, "documents")
    return (docs.select("doc_id", "source",
                        F.md5(F.concat(F.lit("s:"),
                                       F.col("doc_id").cast("string"))).alias("sort_key"))
            .orderBy(F.col("sort_key").asc(), F.col("doc_id").asc())
            .limit(200))


@_register("text_cms_frequency", """
WITH tok AS (
  SELECT UNNEST(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
  FROM documents
), hashed AS (
  SELECT t, i, ('0x' || substr(md5(i::VARCHAR || ':' || t), 1, 8))::BIGINT % 256 AS bucket
  FROM tok, LATERAL (SELECT UNNEST(range(0, 4)) AS i)
), cms AS (
  SELECT i, bucket, COUNT(*) AS c FROM hashed GROUP BY i, bucket
), top AS (
  SELECT t, COUNT(*) AS exact_freq FROM tok GROUP BY t
  ORDER BY exact_freq DESC, t ASC LIMIT 50
), melted AS (
  SELECT top.t, top.exact_freq, h.i,
         ('0x' || substr(md5(h.i::VARCHAR || ':' || top.t), 1, 8))::BIGINT % 256 AS bucket
  FROM top, (SELECT UNNEST(range(0, 4)) AS i) h
)
SELECT m.t AS tok, m.exact_freq, MIN(cms.c) AS cms_estimate
FROM melted m JOIN cms ON m.i = cms.i AND m.bucket = cms.bucket
GROUP BY m.t, m.exact_freq
""")
def text_cms_frequency(spark, sf_dir):
    """Count-min sketch frequency estimation (d=4 rows x w=256 buckets,
    md5-derived hashes): the mergeable-sketch path for term frequencies when
    an exact token groupBy would shuffle the whole vocabulary — CMS buckets
    are a FIXED 1024-cell table regardless of corpus size, built with
    map-side partial counts, and sketches from different partitions/days
    merge by cell-wise addition.  Output compares the estimate against the
    exact count for the top-50 terms; CMS never underestimates
    (min over rows >= true count), asserted in tests."""
    docs = tables.load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("t"))

    def bucket(i, col="t"):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{i}:"), F.col(col))), 1, 8), 16, 10)
            .cast("bigint") % 256)

    cms = (toks.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
        for i in range(4)])).alias("s"))
        .groupBy(F.col("s.i").alias("i"), F.col("s.bucket").alias("bucket"))
        .agg(F.count("*").alias("c")))
    top = (toks.groupBy("t").agg(F.count("*").alias("exact_freq"))
           .orderBy(F.col("exact_freq").desc(), F.col("t").asc()).limit(50))
    melted = top.select("t", "exact_freq", F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
        for i in range(4)])).alias("h")).select(
        "t", "exact_freq", F.col("h.i").alias("i"), F.col("h.bucket").alias("bucket"))
    return (melted.join(F.broadcast(cms), ["i", "bucket"])
            .groupBy(F.col("t").alias("tok"), "exact_freq")
            .agg(F.min("c").alias("cms_estimate")))


@_register("events_in_sessions", """
WITH events_us AS (
  SELECT event_id, ts::TIMESTAMP AS ts, user_id FROM events
), ordered AS (
  SELECT user_id, ts, floor(epoch(ts)) AS t,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events_us
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, t,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
  FROM ordered
), bounds AS (
  SELECT user_id, session_id, MIN(t) AS start_s, MAX(t) AS end_s
  FROM sess GROUP BY 1, 2
)
SELECT b.user_id, b.session_id, COUNT(*) AS n_events,
       (b.end_s - b.start_s)::BIGINT AS span_s
FROM (SELECT user_id, floor(epoch(ts)) AS t FROM events_us) e
JOIN bounds b ON e.user_id = b.user_id AND e.t BETWEEN b.start_s AND b.end_s
GROUP BY b.user_id, b.session_id, b.end_s, b.start_s
""")
def events_in_sessions(spark, sf_dir):
    """Interval (range) join: point-in-time events joined into session
    intervals — the join family SURVEY §2.8 notes the reference lacks, needed
    whenever a log stream must be attributed to sessions/windows computed
    elsewhere.  Executes as a hash join on the user key with the range
    predicate applied in the probe (intervals per user are few); at corpus
    scale the interval side stays the small build side per user-bucket, so no
    all-pairs blowup.  Self-consistency: n_events per session equals the
    session's own message count."""
    from .operators import windows as W

    ev = tables.load(spark, sf_dir, "events")
    sess = W.session_ids(ev.select("user_id", "ts", "event_id"), "user_id", "ts", 1800)
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min(F.unix_timestamp("ts")).alias("start_s"),
        F.max(F.unix_timestamp("ts")).alias("end_s"))
    pts = ev.select("user_id", F.unix_timestamp("ts").alias("t"))
    return (pts.join(bounds, "user_id")
            .filter((F.col("t") >= F.col("start_s")) & (F.col("t") <= F.col("end_s")))
            .groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.max(F.col("end_s") - F.col("start_s")).alias("span_s")))


@_register("r17_query_classification", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 200
), scores AS (
  SELECT doc_id,
    len(list_filter(tk, t -> list_contains(['query','filter','sort','scan'], t))) AS s_search,
    len(list_filter(tk, t -> list_contains(['table','row','column','data'], t))) AS s_storage,
    len(list_filter(tk, t -> list_contains(['stream','window','batch','fast'], t))) AS s_streaming
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(s_search, s_storage, s_streaming) = 0 THEN 'other'
       WHEN s_search >= s_storage AND s_search >= s_streaming THEN 'search'
       WHEN s_storage >= s_streaming THEN 'storage'
       ELSE 'streaming' END AS category,
  greatest(s_search, s_storage, s_streaming) AS score
FROM scores
""")
def r17_classify(spark, sf_dir):
    """R17 query classification (services/query_log_service.py:262-828) with the
    deterministic default classifier of SURVEY §2.10: keyword-count argmax over
    category vocabularies (same shape as the LLM scorer it stubs)."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = T.tokens(F.col("text"))
    cats = {
        "search": ["query", "filter", "sort", "scan"],
        "storage": ["table", "row", "column", "data"],
        "streaming": ["stream", "window", "batch", "fast"],
    }
    scored = docs.select("doc_id", toks.alias("tk"))
    for cat, words in cats.items():
        vocab = F.array(*[F.lit(w) for w in words])
        scored = scored.withColumn(
            f"s_{cat}", F.size(F.filter(F.col("tk"), lambda t: F.array_contains(vocab, t)))
        )
    best = F.greatest(*[F.col(f"s_{c}") for c in cats])
    category = (
        F.when(best == 0, "other")
        .when((F.col("s_search") >= F.col("s_storage")) & (F.col("s_search") >= F.col("s_streaming")), "search")
        .when(F.col("s_storage") >= F.col("s_streaming"), "storage")
        .otherwise("streaming")
    )
    return scored.select("doc_id", category.alias("category"), best.alias("score"))


# ---------------------------------------------------------------------------------
# More relational shapes (5-way join, having-subquery) + term frequencies
# ---------------------------------------------------------------------------------

@_register("q5_local_supplier_volume", """
SELECT n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)::DOUBLE AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation ASC
""")
def q5(spark, sf_dir):
    t = {n: tables.load(spark, sf_dir, n)
         for n in ["customer", "orders", "lineitem", "supplier", "nation", "region"]}
    r = t["region"].filter(F.col("r_name") == "ASIA")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("nation").asc())
    )


@_register("q18_large_orders", """
SELECT o.o_orderkey, o.o_totalprice, ROUND(SUM(l.l_quantity), 2)::DOUBLE AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
GROUP BY o.o_orderkey, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 20
""")
def q18(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250).select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(_r2(F.sum("l_quantity")).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@_register("text_top_terms", """
SELECT tok, COUNT(*) AS freq
FROM (SELECT UNNEST(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
      FROM documents)
GROUP BY tok
ORDER BY freq DESC, tok ASC
LIMIT 50
""")
def text_top_terms(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok").asc())
        .limit(50)
    )


@_register("corpus_profile", """
WITH tok AS (
  SELECT source, UNNEST(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
  FROM documents
), tok_stats AS (
  SELECT source, COUNT(DISTINCT t) AS distinct_tokens, COUNT(*) AS total_tokens
  FROM tok GROUP BY source
), base AS (
  SELECT source, COUNT(*) AS n_docs,
         ROUND(avg(n_chars), 2)::DOUBLE AS avg_chars,
         ROUND(quantile_cont(n_chars, 0.5), 2)::DOUBLE AS p50_chars,
         ROUND(quantile_cont(n_chars, 0.9), 2)::DOUBLE AS p90_chars
  FROM documents GROUP BY source
)
SELECT b.source, b.n_docs, b.avg_chars, b.p50_chars, b.p90_chars,
       t.distinct_tokens, t.total_tokens
FROM base b JOIN tok_stats t ON b.source = t.source
""")
def corpus_profile(spark, sf_dir):
    """Per-source corpus profile — the standard first pass over a training
    corpus: doc counts, length moments + exact quantiles, token volume,
    vocabulary size.  Oracle-checked with EXACT countDistinct; at 100 TB the
    drop-in scale path is approx_count_distinct (HyperLogLog++, map-side
    mergeable sketch, no token-level shuffle) — the test suite asserts the
    sketch lands within 5%% of exact on the fixture.  Reference analog: corpus
    stats the reference computes per-upload in services/memory_management.py
    size estimation (:1804-1827), generalized to corpus scale."""
    docs = tables.load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(T.tokens(F.col("text"))).alias("t"))
    tok_stats = toks.groupBy("source").agg(
        F.countDistinct("t").alias("distinct_tokens"),
        F.count("*").alias("total_tokens"))
    base = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        _r2(F.avg("n_chars")).alias("avg_chars"),
        _r2(F.expr("percentile(n_chars, 0.5)")).alias("p50_chars"),
        _r2(F.expr("percentile(n_chars, 0.9)")).alias("p90_chars"))
    return base.join(tok_stats, "source").select(
        "source", "n_docs", "avg_chars", "p50_chars", "p90_chars",
        "distinct_tokens", "total_tokens")


@_register("text_collocations_pmi", """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), uni AS (
  SELECT t AS tok, COUNT(*) AS c
  FROM (SELECT UNNEST(tk) AS t FROM tok) GROUP BY t
), bi AS (
  SELECT a || ' ' || b AS bigram, a, b, COUNT(*) AS c
  FROM (SELECT tk[i] AS a, tk[i + 1] AS b
        FROM tok, LATERAL (SELECT UNNEST(range(1, len(tk))) AS i))
  GROUP BY 1, 2, 3
), tot AS (
  SELECT (SELECT SUM(c) FROM uni) AS n_uni, (SELECT SUM(c) FROM bi) AS n_bi
)
SELECT bigram, bi.c AS pair_count,
       ROUND(ln((bi.c / n_bi) / ((ua.c / n_uni) * (ub.c / n_uni))), 6)::DOUBLE AS pmi
FROM bi, tot
JOIN uni ua ON bi.a = ua.tok
JOIN uni ub ON bi.b = ub.tok
WHERE bi.c >= 20
ORDER BY pmi DESC, bigram ASC
LIMIT 50
""")
def text_collocations_pmi(spark, sf_dir):
    """Collocation mining by pointwise mutual information — the standard
    phrase-discovery pass of a corpus pipeline: pmi(a,b) =
    ln(p(ab) / (p(a)p(b))) over adjacent token pairs, minimum support 20.
    Two scan-side explodes + two lightweight aggregations; the unigram table
    broadcasts into the bigram join (vocabulary << corpus), so the only
    corpus-sized shuffle is the bigram count's map-side-combined groupBy."""
    docs = tables.load(spark, sf_dir, "documents")
    tk = docs.select(T.tokens(F.col("text")).alias("tk"))
    uni = (tk.select(F.explode("tk").alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("c")))
    pairs = tk.select(F.explode(
        F.zip_with(F.slice("tk", 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                   F.slice("tk", 2, F.greatest(F.size("tk") - 1, F.lit(0))),
                   lambda a, b: F.struct(a.alias("a"), b.alias("b")))).alias("p"))
    bi = (pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
          .groupBy("a", "b").agg(F.count("*").alias("c"))
          .filter(F.col("c") >= 20))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_bi_all = (pairs.agg(F.count("*").alias("n_bi")))
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    out = (bi.join(F.broadcast(ua), "a").join(F.broadcast(ub), "b")
           .crossJoin(F.broadcast(n_uni)).crossJoin(F.broadcast(n_bi_all))
           .select(
               F.concat_ws(" ", "a", "b").alias("bigram"),
               F.col("c").alias("pair_count"),
               _r6(F.log((F.col("c") / F.col("n_bi"))
                         / ((F.col("ca") / F.col("n_uni"))
                            * (F.col("cb") / F.col("n_uni"))))).alias("pmi")))
    return out.orderBy(F.col("pmi").desc(), F.col("bigram").asc()).limit(50)


@_register("mixture_weights", """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), tot AS (SELECT SUM(n_docs) AS n_total FROM per_source)
SELECT source, n_docs,
       ROUND(n_docs / n_total, 6)::DOUBLE AS actual_share,
       ROUND(1.0 / (SELECT COUNT(*) FROM per_source), 6)::DOUBLE AS target_share,
       ROUND(least((n_total / (SELECT COUNT(*) FROM per_source)) / n_docs, 1.0), 6)::DOUBLE
         AS keep_rate
FROM per_source, tot
""")
def mixture_weights(spark, sf_dir):
    """Dataset-mixing weights: given a target mixture (uniform across sources
    here), compute each source's keep-rate = min(target_docs / available, 1).
    This is the planning step in front of sample_stratified (which applies
    keep-rates via deterministic md5-uniform membership).  Pure aggregate
    arithmetic — one count per source + broadcast totals."""
    docs = tables.load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per_source.agg(F.sum("n_docs").alias("n_total"),
                         F.count("*").alias("n_sources"))
    return (per_source.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs",
        _r6(F.col("n_docs") / F.col("n_total")).alias("actual_share"),
        _r6(F.lit(1.0) / F.col("n_sources")).alias("target_share"),
        _r6(F.least((F.col("n_total") / F.col("n_sources")) / F.col("n_docs"),
                    F.lit(1.0))).alias("keep_rate")))


# ---------------------------------------------------------------------------------
# ST2 full pipeline: session windows -> synthesized session-summary memories
# ---------------------------------------------------------------------------------

@_register("st2_session_memories", """
WITH {EVENTS}, ordered AS (
  SELECT user_id, ts, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events_us
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, event_type, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM ordered
)
SELECT 'sess_' || user_id::VARCHAR || '_' || session_id::VARCHAR AS memory_id,
       user_id, session_id,
       COUNT(*) AS message_count,
       ROUND(SUM(value), 2)::DOUBLE AS value_sum,
       (floor(epoch(MAX(ts))) - floor(epoch(MIN(ts))))::BIGINT AS duration_s,
       MAX(event_type) AS dominant_type
FROM sess
GROUP BY user_id, session_id
HAVING COUNT(*) >= 3
""")
def st2_memories(spark, sf_dir):
    """ST2 full pipeline (services/message_batch_analysis.py:122-872): group the
    message stream into per-user session windows, then synthesize one summary
    memory row per session (>= 3 messages, as the analyzer requires a minimum
    batch)."""
    ev = tables.load(spark, sf_dir, "events")
    sess = windows.session_ids(ev, "user_id", "ts", 1800)
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("message_count"),
            _r2(F.sum("value")).alias("value_sum"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("duration_s"),
            F.max("event_type").alias("dominant_type"),
        )
        .filter(F.col("message_count") >= 3)
        .select(
            F.concat(F.lit("sess_"), F.col("user_id").cast("string"), F.lit("_"),
                     F.col("session_id").cast("string")).alias("memory_id"),
            "user_id", "session_id", "message_count", "value_sum", "duration_s",
            "dominant_type",
        )
    )


# ---------------------------------------------------------------------------------
# S11b: contextual chunk extraction (400-char neighbor context windows)
# ---------------------------------------------------------------------------------

@_register("s11_context_extraction", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 30
), chunked AS (
  SELECT doc_id, c.chunk_idx,
         array_to_string(list_slice(tk, c.chunk_idx * 20 + 1, c.chunk_idx * 20 + 20), ' ') AS chunk_text
  FROM toks, LATERAL (SELECT UNNEST(range(0, greatest((len(tk) + 19) // 20, 1))) AS chunk_idx) c
), ctx AS (
  SELECT doc_id, chunk_idx, chunk_text,
         lag(chunk_text) OVER w AS prev_text,
         lead(chunk_text) OVER w AS next_text
  FROM chunked
  WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_idx)
)
SELECT 'm' || doc_id::VARCHAR || '_' || chunk_idx::VARCHAR AS chunk_id,
       chunk_text,
       coalesce(CASE WHEN length(prev_text) > 400
                     THEN substr(prev_text, length(prev_text) - 399, 400)
                     ELSE prev_text END, '') AS context_before,
       coalesce(substr(next_text, 1, 400), '') AS context_after
FROM ctx
""")
def s11_context(spark, sf_dir):
    """Contextual chunk extraction (core/document_processing/
    hierarchical_chunker.py:28-60 extract_element_with_context): each chunk
    carries up to 400 chars of trailing-previous and leading-next neighbor text
    — the contextual-retrieval enrichment, as lag/lead window expressions."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    toks = T.tokens(F.col("text"))
    n_chunks = F.greatest(F.ceil(F.size(toks) / 20), F.lit(1)).cast("int")
    chunked = docs.select(
        "doc_id", toks.alias("tk"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).withColumn(
        "chunk_text", F.concat_ws(" ", F.slice(F.col("tk"), F.col("chunk_idx") * 20 + 1, 20))
    )
    w = Window.partitionBy("doc_id").orderBy("chunk_idx")
    prev_t, next_t = F.lag("chunk_text").over(w), F.lead("chunk_text").over(w)
    ctx_before = F.coalesce(
        F.when(F.length(prev_t) > 400,
               F.substring(prev_t, F.length(prev_t) - 399, 400))
        .otherwise(prev_t),
        F.lit(""),
    )
    return chunked.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string"), F.lit("_"),
                 F.col("chunk_idx").cast("string")).alias("chunk_id"),
        "chunk_text",
        ctx_before.alias("context_before"),
        F.coalesce(F.substring(next_t, 1, 400), F.lit("")).alias("context_after"),
    )


@_register("text_quality_score", """
WITH toks AS (
  SELECT doc_id, text, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), parts AS (
  SELECT doc_id,
    least(len(tk)::DOUBLE / 100.0, 1.0) AS length_part,
    greatest(0.0, 1.0 - (len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
                         / greatest(length(text), 1)) * 5.0) AS punct_part,
    least((len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','it','that','for'], t)))::DOUBLE
           / greatest(len(tk), 1)) * 4.0, 1.0) AS sw_part
  FROM toks
)
SELECT doc_id,
       ROUND(0.4 * length_part + 0.3 * punct_part + 0.3 * sw_part, 6)::DOUBLE AS quality
FROM parts
""")
def text_quality_q(spark, sf_dir):
    """Document quality scoring (north-star op): the functions.text.quality_score
    formula — 0.4*length + 0.3*punctuation + 0.3*stopword components."""
    docs = tables.load(spark, sf_dir, "documents")
    return docs.select("doc_id", _r6(T.quality_score(F.col("text"))).alias("quality"))


@_register("f3_map_metadata_filter", """
SELECT 'm' || doc_id::VARCHAR AS memory_id,
       (doc_id % 20)::VARCHAR AS priority
FROM documents
WHERE (doc_id % 20) >= 12 AND (doc_id % 2) = 0
""")
def f3_map_filter(spark, sf_dir):
    """F3 on a real map<string,string> column through the predicate compiler:
    numeric -> >= lower bound, bool -> eq (memory_graph.py:5961-6026).  The
    oracle applies the same algebra to the underlying derivation directly."""
    from .operators.predicate import FilterSpec, metadata_predicate

    docs = tables.load(spark, sf_dir, "documents")
    mems = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("memory_id"),
        F.create_map(
            F.lit("priority"), (F.col("doc_id") % 20).cast("string"),
            F.lit("archived"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        ).alias("custom_metadata"),
    )
    spec = FilterSpec(custom_metadata={"priority": 12, "archived": True})
    out = mems.filter(metadata_predicate(spec))
    return out.select(
        "memory_id", F.col("custom_metadata").getItem("priority").alias("priority")
    )


@_register("search_agentic_flagship", f"""
WITH {CHUNKS_CTE.strip()}, {MEMORIES_CTE.strip()},
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
-- vector leg: ACL-filtered cosine top-30 (overfetch), chunk->memory
vec_hits AS (
  SELECT regexp_replace(c.chunk_id, '_[0-9]+$', '') AS id, MAX(
    list_dot_product(list_transform(c.embedding, x -> x::DOUBLE),
                     list_transform(q.embedding, x -> x::DOUBLE))
    / (SQRT(list_dot_product(list_transform(c.embedding, x -> x::DOUBLE),
                             list_transform(c.embedding, x -> x::DOUBLE)))
     * SQRT(list_dot_product(list_transform(q.embedding, x -> x::DOUBLE),
                             list_transform(q.embedding, x -> x::DOUBLE))))) AS score
  FROM chunks_d c CROSS JOIN q
  WHERE c.user_id = 'u5' OR list_contains(c.user_read_access, 'u5')
  GROUP BY 1 ORDER BY score DESC, id ASC LIMIT 30
),
-- graph leg: RELATED_TO ring edges over memory ids; undirected neighbors of m0
edges_m AS (
  SELECT 'm' || vec_id::VARCHAR AS src, 'm' || ((vec_id + 1) % 500)::VARCHAR AS dst
  FROM embeddings
), und AS (
  SELECT src, dst FROM edges_m UNION SELECT dst, src FROM edges_m
), graph_hits AS (
  -- both endpoints of every matched path (the pattern matcher returns m AND n),
  -- ACL'd BEFORE the merge like the reference's Cypher-side user filters
  -- (blocked ids never consume merge quota)
  SELECT DISTINCT id, NULL::DOUBLE AS score FROM (
    SELECT src AS id FROM und WHERE src = 'm0' OR dst = 'm0'
    UNION
    SELECT dst FROM und WHERE src = 'm0' OR dst = 'm0'
  )
  WHERE id IN (SELECT memory_id FROM memories_d
               WHERE user_id = 'u5' OR list_contains(user_read_access, 'u5'))
),
-- R2 stratified merge: quota = max(20/2, 5) = 10 per source, adaptive fill
ranked AS (
  SELECT id, coalesce(score, 0.7) AS score, 'neo' AS source,
         ROW_NUMBER() OVER (ORDER BY coalesce(score, 0.7) DESC, id ASC) AS src_rank
  FROM graph_hits
  UNION ALL
  SELECT id, score, 'vector', ROW_NUMBER() OVER (ORDER BY score DESC, id ASC)
  FROM vec_hits
), within AS (SELECT * FROM ranked WHERE src_rank <= 10),
lo AS (SELECT *, src_rank - 10 AS lrank FROM ranked WHERE src_rank > 10),
losrc AS (
  SELECT source, ROW_NUMBER() OVER (ORDER BY source ASC) - 1 AS src_i
  FROM (SELECT DISTINCT source FROM lo)
), params AS (
  SELECT (SELECT COUNT(*) FROM losrc) AS nsrc,
         greatest(20 - (SELECT COUNT(*) FROM within), 0) AS remaining
), merged AS (
  -- reference adaptive fill (memory_graph.py:6630-6645): remaining slots
  -- split evenly across sources with leftovers, extras to the first sources
  SELECT id, score, source FROM within
  UNION ALL
  SELECT l.id, l.score, l.source
  FROM lo l JOIN losrc s USING (source) CROSS JOIN params p
  WHERE l.lrank <= p.remaining // greatest(p.nsrc, 1)
                   + CASE WHEN s.src_i < p.remaining % greatest(p.nsrc, 1)
                          THEN 1 ELSE 0 END
), dedup AS (
  SELECT id, score, source,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, source ASC) AS rn
  FROM merged
)
SELECT m.memory_id, ROUND(d.score, 6)::DOUBLE AS score, d.source, m.user_id
FROM dedup d JOIN memories_d m ON d.id = m.memory_id
WHERE d.rn = 1
ORDER BY d.score DESC, m.memory_id ASC
LIMIT 20
""")
def search_agentic_flagship(spark, sf_dir):
    """The COMPLETE §3.1 read with both legs, oracle-checked end-to-end:
    ACL-filtered vector top-k + graph-neighbor leg -> R2 stratified merge
    (graph default score 0.7, quotas, adaptive fill) -> fetch -> final top-k."""
    from .operators.graph import PatternSpec
    from .operators.predicate import AclContext
    from .plans.search import search_with_graph

    emb = tables.load(spark, sf_dir, "embeddings")
    chunks = tables.build_chunks(emb)
    memories = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    nodes = memories.select(
        F.col("memory_id").alias("node_id"), F.lit("Memory").alias("label"),
    )
    edges = emb.select(
        F.concat(F.lit("m"), F.col("vec_id").cast("string")).alias("src"),
        F.concat(F.lit("m"), ((F.col("vec_id") + 1) % 500).cast("string")).alias("dst"),
        F.lit("RELATED_TO").alias("rel_type"),
    )
    qvec = _qvec(sf_dir)
    ctx = AclContext(user_id="u5")
    spec = PatternSpec(source_label="Memory", relationship_type="RELATED_TO",
                       target_label="Memory", direction="any")
    # seed restriction: only m0's neighborhood counts as the graph leg
    out = search_with_graph(
        chunks, memories, nodes,
        edges.filter((F.col("src") == "m0") | (F.col("dst") == "m0")),
        qvec, ctx=ctx, graph_spec=spec, top_k=20, score_threshold=None,
    )
    # drop m0 itself from graph hits? the pattern yields both endpoints; the
    # oracle counts only dst-of-src=m0 (undirected) => neighbors incl m0's
    # reverse pairs — match by filtering below
    return out.select("memory_id", _r6(F.col("score")).alias("score"), "source", "user_id")


@_register("v5_dup_clusters", """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS l, b.vec_id AS r
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                         list_transform(b.embedding, x -> x::DOUBLE))
        / (SQRT(list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                                 list_transform(a.embedding, x -> x::DOUBLE)))
         * SQRT(list_dot_product(list_transform(b.embedding, x -> x::DOUBLE),
                                 list_transform(b.embedding, x -> x::DOUBLE)))) > 0.4
), und AS (
  SELECT l AS src, r AS dst FROM pairs UNION SELECT r, l FROM pairs
), members AS (SELECT DISTINCT src AS node_id FROM und),
reach(node_id, peer) AS (
  SELECT node_id, node_id FROM members
  UNION
  SELECT re.node_id, u.dst FROM reach re JOIN und u ON re.peer = u.src
)
SELECT node_id AS vec_id, MIN(peer) AS cluster_id
FROM reach GROUP BY node_id
""")
def v5_clusters(spark, sf_dir):
    """Duplicate clustering: near-dup pairs -> connected components -> one
    canonical (min-id) per cluster — the identify_duplicates downstream
    (memory/memory_graph.py:10333-10390 keeps one of each duplicate set).
    Uses the convergent CC loop (fixed-round propagation diverged on the
    larger sf0.1 components)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_duplicates(emb, id_col="vec_id", threshold=0.4)
    und = pairs.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst")).unionByName(
        pairs.select(F.col("right_id").alias("src"), F.col("left_id").alias("dst"))
    )
    labels = graph.connected_components(und)
    return labels.select(F.col("node_id").alias("vec_id"), F.col("component").alias("cluster_id"))


@_register("events_value_quantiles", """
WITH {EVENTS}
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6)::DOUBLE AS p25,
       ROUND(quantile_cont(value, 0.5), 6)::DOUBLE AS p50,
       ROUND(quantile_cont(value, 0.9), 6)::DOUBLE AS p90,
       ROUND(MIN(value), 6)::DOUBLE AS vmin,
       ROUND(MAX(value), 6)::DOUBLE AS vmax
FROM events_us GROUP BY event_type
""")
def events_quantiles(spark, sf_dir):
    """Exact distribution analytics per key (exact percentile, linear
    interpolation — matches quantile_cont)."""
    ev = tables.load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r6(F.percentile(F.col("value"), F.lit(0.25))).alias("p25"),
        _r6(F.percentile(F.col("value"), F.lit(0.5))).alias("p50"),
        _r6(F.percentile(F.col("value"), F.lit(0.9))).alias("p90"),
        _r6(F.min("value")).alias("vmin"),
        _r6(F.max("value")).alias("vmax"),
    )


@_register("asof_latest_event", """
WITH {EVENTS}, ranked AS (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events_us
  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
)
SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_epoch, value FROM ranked WHERE rn = 1
""")
def asof_latest(spark, sf_dir):
    """As-of lookup: each user's latest event at-or-before a point in time —
    the temporal-join primitive (window top-1 per key).  Ordering uses the raw
    µs timestamp; the projected ts is emitted as an epoch-second BIGINT
    (timestamp-typed outputs hash-drift in the driver canonicalizer)."""
    ev = tables.load(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.unix_timestamp("ts").alias("ts_epoch"), "value")
    )


@_register("v2_batch_multi_query", """
WITH q AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS corpus_id,
         list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                          list_transform(q.qemb, x -> x::DOUBLE))
         / (SQRT(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                  list_transform(e.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(list_transform(q.qemb, x -> x::DOUBLE),
                                  list_transform(q.qemb, x -> x::DOUBLE)))) AS score
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, corpus_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ROUND(score, 6) DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, ROUND(score, 6)::DOUBLE AS score, rank
FROM ranked WHERE rank <= 5
""")
def v2_batch(spark, sf_dir):
    """Batched multi-query top-k (the batch-serving V2): 10 queries answered in
    one job — per-partition BLAS score matrix + local top-k, window reduce."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = similarity.batch_topk_search(queries_df, emb, 15,
                                        corpus_id="vec_id")
    w = Window.partitionBy("query_id").orderBy(_r6(F.col("score")).desc(), F.col("corpus_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "corpus_id", _r6(F.col("score")).alias("score"), "rank")
    )


@_register("skew_salted_count", """
WITH {EVENTS}
SELECT user_id, COUNT(*) AS count FROM events_us GROUP BY user_id
""")
def skew_salted(spark, sf_dir):
    """Skew-proof two-phase count (operators.skew.salted_count): per-(key,salt)
    partial then per-key final — oracle-identical to the plain aggregate, which
    is exactly the point (salting must be lossless)."""
    from .operators.skew import salted_count

    ev = tables.load(spark, sf_dir, "events")
    return salted_count(ev, "user_id")


@_register("st2_session_analysis", """
WITH {EVENTS}, base AS (
  SELECT user_id, ts, event_type FROM events_us WHERE event_id < 1000
), ordered AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 3600 THEN 1 ELSE 0 END AS is_new
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM ordered
), tok_counts AS (
  SELECT user_id, session_id, event_type, COUNT(*) AS c
  FROM sess GROUP BY user_id, session_id, event_type
), dominant AS (
  SELECT user_id, session_id, event_type AS dominant_type
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                     ORDER BY c DESC, event_type ASC) AS rn
        FROM tok_counts)
  WHERE rn = 1
)
SELECT s.user_id, s.session_id,
       COUNT(*) AS message_count,
       COUNT(DISTINCT s.event_type) AS vocab_size,
       MIN(d.dominant_type) AS dominant_type
FROM sess s JOIN dominant d USING (user_id, session_id)
GROUP BY s.user_id, s.session_id
HAVING COUNT(*) >= 3
""")
def st2_analysis(spark, sf_dir):
    """ST2 per-session analysis via applyInPandas grouped-map (the deterministic
    stand-in for message_batch_analysis's LLM analyzer): each session group is
    processed as one pandas frame -> one analysis row (count, vocabulary size,
    dominant type with max-count/lexicographic tie-break)."""
    import pandas as pd

    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    ev = tables.load(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    sess = windows.session_ids(ev, "user_id", "ts", 3600)

    out_schema = StructType([
        StructField("user_id", ev.schema["user_id"].dataType),
        StructField("session_id", LongType()),
        StructField("message_count", LongType()),
        StructField("vocab_size", LongType()),
        StructField("dominant_type", StringType()),
    ])

    def analyze(pdf: pd.DataFrame) -> pd.DataFrame:
        counts = pdf["event_type"].value_counts()
        top = counts[counts == counts.max()]
        dominant = sorted(top.index)[0]
        return pd.DataFrame([{
            "user_id": pdf["user_id"].iloc[0],
            "session_id": int(pdf["session_id"].iloc[0]),
            "message_count": len(pdf),
            "vocab_size": pdf["event_type"].nunique(),
            "dominant_type": dominant,
        }])

    return (
        sess.groupBy("user_id", "session_id")
        .applyInPandas(analyze, out_schema)
        .filter(F.col("message_count") >= 3)
    )


@_register("agg_pivot_events", """
WITH {EVENTS}
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events_us GROUP BY user_id
""")
def agg_pivot(spark, sf_dir):
    """Pivot/crosstab: events per (user, type) as one wide row per user.
    Explicit pivot values keep the output schema deterministic."""
    ev = tables.load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    for t in types:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return out


@_register("f10_map_functions", """
WITH m AS (
  SELECT doc_id,
         MAP {'lang': lang, 'source': source, 'len': n_chars::VARCHAR} AS meta
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       cardinality(meta) AS n_keys,
       array_to_string(list_sort(map_keys(meta)), ',') AS keys,
       meta['lang'][1] AS lang_val
FROM m
""")
def f10_maps(spark, sf_dir):
    """Map-typed metadata handling (F10 flatten/inspect algebra): cardinality,
    sorted key set, point lookup."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    m = docs.select(
        "doc_id",
        F.create_map(
            F.lit("lang"), F.col("lang"),
            F.lit("source"), F.col("source"),
            F.lit("len"), F.col("n_chars").cast("string"),
        ).alias("meta"),
    )
    return m.select(
        "doc_id",
        F.size("meta").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys("meta")), ",").alias("keys"),
        F.col("meta").getItem("lang").alias("lang_val"),
    )


@_register("full_outer_counter_merge", """
WITH {EVENTS},
counters AS (
  SELECT user_id, (user_id * 2)::DOUBLE AS ema, (user_id * 10)::DOUBLE AS hit_total
  FROM (SELECT DISTINCT user_id FROM events_us WHERE user_id < 100)
), hits AS (
  SELECT user_id, COUNT(*)::DOUBLE AS fresh FROM events_us WHERE user_id >= 50
  GROUP BY user_id
)
SELECT coalesce(c.user_id, h.user_id) AS user_id,
       coalesce(c.ema, 0.0) + coalesce(h.fresh, 0.0) AS ema,
       coalesce(c.hit_total, 0.0) + coalesce(h.fresh, 0.0) AS hit_total
FROM counters c FULL OUTER JOIN hits h ON c.user_id = h.user_id
""")
def full_outer_merge(spark, sf_dir):
    """The R9/ST5 counter-merge join shape: existing counters FULL OUTER JOIN a
    batch of fresh hits, coalescing both sides (new keys appear, stale keys
    persist) — the MERGE INTO WHEN MATCHED/NOT MATCHED equivalent."""
    ev = tables.load(spark, sf_dir, "events")
    counters = ev.filter(F.col("user_id") < 100).select("user_id").distinct().select(
        "user_id",
        (F.col("user_id") * 2.0).alias("ema"),
        (F.col("user_id") * 10.0).alias("hit_total"),
    )
    hits = ev.filter(F.col("user_id") >= 50).groupBy("user_id").agg(
        F.count("*").cast("double").alias("fresh")
    )
    j = counters.alias("c").join(hits.alias("h"), "user_id", "full_outer")
    return j.select(
        F.col("user_id"),
        (F.coalesce(F.col("ema"), F.lit(0.0)) + F.coalesce(F.col("fresh"), F.lit(0.0))).alias("ema"),
        (F.coalesce(F.col("hit_total"), F.lit(0.0)) + F.coalesce(F.col("fresh"), F.lit(0.0))).alias("hit_total"),
    )


@_register("compress_sessions", """
WITH {EVENTS}, base AS (
  SELECT user_id, event_id, ts, event_type FROM events_us WHERE event_id < 2000
), recency AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM base
), tier AS (
  SELECT 'short_term' AS tier, user_id, event_type, COUNT(*) AS c
  FROM recency WHERE rn <= 5 GROUP BY user_id, event_type
  UNION ALL
  SELECT 'long_term', user_id, event_type, COUNT(*) FROM recency GROUP BY user_id, event_type
), topt AS (
  SELECT tier, user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY tier, user_id ORDER BY c DESC, event_type ASC) AS trn
  FROM tier
), joined AS (
  SELECT tier, user_id, string_agg(event_type, ', ' ORDER BY trn) AS summary
  FROM topt WHERE trn <= 3 GROUP BY tier, user_id
)
SELECT b.user_id,
       COUNT(DISTINCT b.event_id) AS message_count,
       MIN(s.summary) AS short_term,
       MIN(l.summary) AS long_term
FROM base b
LEFT JOIN joined s ON s.user_id = b.user_id AND s.tier = 'short_term'
LEFT JOIN joined l ON l.user_id = b.user_id AND l.tier = 'long_term'
GROUP BY b.user_id
""")
def compress_q(spark, sf_dir):
    """Session compression (COMPRESS_ENDPOINT_GUIDE.md): tiered top-term
    summaries per session — here sessions keyed by user over the event stream;
    the deterministic summarizer stands in for the LLM."""
    from .operators.compress import compress_sessions

    ev = tables.load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    out = compress_sessions(ev, ["user_id"], short_n=5, medium_n=20, top_k=3)
    return out.select("user_id", "message_count", "short_term", "long_term")


@_register("omo_enforce_nodes", f"""
WITH {MEMORIES_CTE.strip()},
ents AS (
  SELECT memory_id, user_id, consent, risk, user_read_access, 'ent_' || tok AS entity_id
  FROM (
    SELECT m.*,
           unnest(list_distinct(list_filter(string_split(lower(content), ' '),
                                            t -> t <> ''))) AS tok
    FROM memories_d m
  )
  WHERE length(tok) > 5
)
SELECT memory_id, entity_id,
       consent AS omo_consent,
       risk AS omo_risk,
       CASE WHEN risk = 'flagged' THEN 1 ELSE 0 END AS requires_review,
       CASE WHEN risk = 'flagged' THEN user_id
            ELSE COALESCE(array_to_string(user_read_access, ','), '') END AS acl_read_csv,
       user_id AS acl_write_csv
FROM ents
WHERE consent IS NULL OR consent <> 'none'
""")
def omo_enforce_q(spark, sf_dir):
    """OMO write-path enforcement over extracted nodes
    (services/omo_safety.py:26-130): consent='none' memories contribute NO
    graph nodes; survivors are annotated with consent/risk provenance;
    risk='flagged' nodes get requires_review and an owner-only ACL.  Pure
    Column expressions over an extracted-nodes x memories join — scan-parallel
    at any corpus size.  ACLs project to CSV (canonicalizer: no array outputs);
    the fixture's user_write_access is always [owner], so its CSV is user_id on
    both sides."""
    from .operators.memory_policy import enforce_omo
    from .plans.enrich import extract_entities

    mems = tables.build_memories(tables.load(spark, sf_dir, "documents"))
    out = enforce_omo(extract_entities(mems), mems)
    return out.select(
        "memory_id", "entity_id",
        "omo_consent", "omo_risk",
        F.col("requires_review").cast("int").alias("requires_review"),
        F.array_join("acl_read", ",").alias("acl_read_csv"),
        F.array_join("acl_write", ",").alias("acl_write_csv"),
    )


@_register("user_id_validation", """
WITH base AS (SELECT DISTINCT user_id::VARCHAR AS user_id FROM events),
cands AS (
  SELECT user_id, 'raw' AS variant, user_id AS candidate FROM base
  UNION ALL SELECT user_id, 'prefixed', 'user_' || user_id FROM base
  UNION ALL SELECT user_id, 'email', user_id || '@example.com' FROM base
  UNION ALL SELECT user_id, 'uuid',
    substr(md5(user_id), 1, 8) || '-' || substr(md5(user_id), 9, 4) || '-' ||
    substr(md5(user_id), 13, 4) || '-' || substr(md5(user_id), 17, 4) || '-' ||
    substr(md5(user_id), 21, 12) FROM base
  UNION ALL SELECT user_id, 'hyphenated', user_id || '-' || user_id FROM base
  UNION ALL SELECT user_id, 'long_alnum', rpad(user_id, 25, 'x') FROM base
  UNION ALL SELECT user_id, 'long_mixed', rpad(user_id, 25, '_') FROM base
)
SELECT user_id, variant, candidate,
       CASE WHEN candidate IS NULL OR candidate = '' THEN 0
            WHEN regexp_matches(candidate,
                 '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
              OR regexp_matches(candidate,
                 '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$')
              OR regexp_matches(lower(candidate),
                 '^(user_|ext_|external_|usr_|u_|customer_|cust_|cus_|client_|acct_|sub_|org_)')
              OR (position('-' IN candidate) > 0 AND length(candidate) > 10)
              OR (length(candidate) > 20 AND NOT regexp_matches(candidate, '^[a-zA-Z0-9]+$'))
            THEN 1 ELSE 0 END AS is_external
FROM cands
""")
def user_id_validation_q(spark, sf_dir):
    """External-id heuristic (services/auth_utils.py:59-118) applied as ONE
    codegen'd scan pass over synthesized candidate forms of every event user:
    raw internal ids, prefixed/email/UUID/hyphenated external forms, and the
    two long-id ambiguity branches.  Bulk request validation at table scale —
    the per-request twin is functions.validation.looks_like_external_id_py."""
    from .functions.validation import looks_like_external_id

    base = (tables.load(spark, sf_dir, "events")
            .select(F.col("user_id").cast("string").alias("user_id")).distinct())
    u = F.col("user_id")
    h = F.md5(u)
    variants = [
        ("raw", u),
        ("prefixed", F.concat(F.lit("user_"), u)),
        ("email", F.concat(u, F.lit("@example.com"))),
        ("uuid", F.concat_ws("-", F.substring(h, 1, 8), F.substring(h, 9, 4),
                             F.substring(h, 13, 4), F.substring(h, 17, 4),
                             F.substring(h, 21, 12))),
        ("hyphenated", F.concat(u, F.lit("-"), u)),
        ("long_alnum", F.rpad(u, 25, "x")),
        ("long_mixed", F.rpad(u, 25, "_")),
    ]
    out = None
    for name, expr in variants:
        part = base.select(u.alias("user_id"), F.lit(name).alias("variant"),
                           expr.alias("candidate"))
        out = part if out is None else out.unionByName(part)
    return out.withColumn(
        "is_external", looks_like_external_id(F.col("candidate")).cast("int"))


@_register("feedback_confidence_scores", """
WITH fb AS (
  SELECT user_id, CAST(props->>'k' AS INT) AS memory_k,
         CASE event_type WHEN 'purchase' THEN 2 WHEN 'signup' THEN 2
              WHEN 'click' THEN 1 WHEN 'view' THEN 1 ELSE 0 END AS w
  FROM events
),
agg AS (
  SELECT user_id, memory_k, SUM(w)::BIGINT AS weight
  FROM fb WHERE w > 0 GROUP BY user_id, memory_k
)
SELECT user_id, memory_k, weight,
       ROUND(weight / SUM(weight) OVER (PARTITION BY user_id), 6)::DOUBLE AS confidence
FROM agg
""")
def feedback_confidence_q(spark, sf_dir):
    """Cited-memory confidence scores
    (tests/test_feedback_analytics_end_to_end.py:38-84): positive feedback
    events weight the memories they cite (user-actions double), normalized to
    a per-scope share.  Event stream stands in for UserFeedbackLog; the cited
    memory is the ``k`` bucket in props.  One shuffle on (user, memory); the
    normalizing window reuses the user partitioning."""
    from .operators import feedback as FB

    ev = tables.load(spark, sf_dir, "events")
    fb = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("memory_k"),
        FB.citation_weight_col(
            FB.feedback_type_col(F.col("event_type"))).alias("w"),
    ).filter(F.col("w") > 0)
    return FB.cited_confidence_scores(fb, "user_id", "memory_k", "w")


@_register("feedback_engagement_rollup", f"""
WITH {{EVENTS}}, fb AS (
  SELECT ts, value,
         CASE event_type WHEN 'click' THEN 'thumbs_up' WHEN 'view' THEN 'rating'
              WHEN 'purchase' THEN 'copy_action' WHEN 'signup' THEN 'save_action'
              WHEN 'error' THEN 'report' END AS feedback_type
  FROM events_us
)
SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS day,
       CASE WHEN feedback_type IN ('thumbs_up','thumbs_down') THEN 'thumbs_feedback'
            WHEN feedback_type = 'rating' THEN 'rating_feedback'
            WHEN feedback_type IN ('copy_action','save_action','create_document') THEN 'user_action'
            WHEN feedback_type = 'correction' THEN 'correction_feedback'
            WHEN feedback_type = 'report' THEN 'report_feedback'
            ELSE 'general_feedback' END AS engagement_signal,
       COUNT(*) AS feedback_count,
       ROUND(AVG(value), 6)::DOUBLE AS mean_score
FROM fb
GROUP BY 1, 2
""")
def feedback_rollup_q(spark, sf_dir):
    """Daily engagement-signal rollup — the QueryLog engagement-update mapping
    (routers/v1/feedback_routes.py:1042-1064) applied as an analytics groupBy:
    thumbs/rating/user-action/report signals per day with mean score."""
    from .operators import feedback as FB

    ev = tables.load(spark, sf_dir, "events")
    fb = ev.select(
        "ts", "value",
        FB.feedback_type_col(F.col("event_type")).alias("feedback_type"))
    return FB.engagement_rollup(fb)


@_register("msg_batch_triggers", """
WITH {EVENTS}, ordered AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events_us
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM ordered
), counts AS (
  SELECT user_id, session_id, COUNT(*) AS message_count
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, session_id, message_count,
       (message_count // 15)::BIGINT AS full_batches,
       (message_count % 15)::BIGINT AS leftover,
       CASE WHEN message_count % 15 = 0 THEN 'in_session'
            WHEN session_id < MAX(session_id) OVER (PARTITION BY user_id) THEN 'next_session'
            ELSE 'pending' END AS flush_path
FROM counts
""")
def msg_batch_triggers_q(spark, sf_dir):
    """Cross-session batch-trigger audit (services/message_service.py:678-712 +
    tests/test_cross_session_analysis.py): sessions analyze messages in batches
    of 15; a new session flushes the previous session's leftover, so only a
    user's final session can be 'pending'.  Sessionization is the ST2
    gaps-and-islands pass; the report is one groupBy + a per-user max window."""
    from .operators import feedback as FB

    ev = tables.load(spark, sf_dir, "events")
    sess = windows.session_ids(ev, "user_id", "ts", 1800)
    counts = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("message_count"))
    return FB.batch_trigger_report(counts)


@_register("g_property_overrides", f"""
WITH {NODES_CTE.strip()}
SELECT node_id, label,
  CASE WHEN label = 'Customer' AND prop_status = 'BUILDING' THEN 'segment_building'
       WHEN label = 'Supplier' AND prop_status = 'active' THEN 'verified'
       ELSE prop_status END AS status,
  CASE WHEN label = 'Customer' AND prop_status = 'BUILDING' THEN 'gold' ELSE '' END AS tier,
  CASE WHEN label = 'Customer' THEN 'true' ELSE '' END AS reviewed,
  (CASE WHEN label = 'Customer' AND prop_status = 'BUILDING' THEN 2 ELSE 0 END
   + CASE WHEN label = 'Customer' THEN 1 ELSE 0 END
   + CASE WHEN label = 'Supplier' AND prop_status = 'active' THEN 1 ELSE 0 END)::INT AS applied_rules
FROM nodes_d
""")
def g_property_overrides_q(spark, sf_dir):
    """Auto-mode PropertyOverrideRule application
    (api_handlers/chat_gpt_completion.py:4246-4348): ordered rules with exact
    match conditions against ORIGINAL properties; later rules overwrite per
    key.  Rule 1 re-labels BUILDING customers and sets tier premium; rule 2
    stamps every customer reviewed; rule 3 verifies active suppliers; rule 4
    (same match as rule 1) overwrites tier to gold — proving both
    original-props matching and last-rule-wins.  Map-typed props stay internal;
    the output projects scalars."""
    t = {n: tables.load(spark, sf_dir, n) for n in ["customer", "nation", "region", "supplier"]}
    nodes = tables.build_nodes(t["customer"], t["nation"], t["region"], t["supplier"])
    with_props = nodes.withColumn(
        "props", F.create_map(F.lit("name"), F.col("prop_name"),
                              F.lit("status"), F.col("prop_status")))
    rules = [
        {"nodeLabel": "Customer", "match": {"status": "BUILDING"},
         "set": {"status": "segment_building", "tier": "premium"}},
        {"nodeLabel": "Customer", "set": {"reviewed": "true"}},
        {"nodeLabel": "Supplier", "match": {"status": "active"},
         "set": {"status": "verified"}},
        {"nodeLabel": "Customer", "match": {"status": "BUILDING"},
         "set": {"tier": "gold"}},
    ]
    out = graph.apply_property_overrides(with_props, rules)
    p = F.col("props")
    return out.select(
        "node_id", "label",
        F.element_at(p, F.lit("status")).alias("status"),
        F.coalesce(F.element_at(p, F.lit("tier")), F.lit("")).alias("tier"),
        F.coalesce(F.element_at(p, F.lit("reviewed")), F.lit("")).alias("reviewed"),
        "applied_rules",
    )


# Expected-answer specs for the retrieval-quality eval harness
# (tests/calculate_query_scores.py EXPECTED_ANSWERS analog over the fixture
# vocabulary).  Shared literals between the Spark query and the SQL oracle.
_EVAL_SPECS = [
    {"spec_id": "joins", "must_include": ["join", "merge"],
     "keywords": ["join", "merge", "hash", "sort", "key", "table"],
     "expected_content": "hash join merge sort key table scan"},
    {"spec_id": "streaming", "must_include": ["stream", "window"],
     "keywords": ["stream", "window", "batch", "spark", "state"],
     "expected_content": "stream window batch spark state"},
    {"spec_id": "aggregation", "must_include": ["group", "agg"],
     "keywords": ["group", "agg", "filter", "count", "partial"],
     "expected_content": "group agg filter partial count"},
]


def _evalscore_sql_leg(spec: dict) -> str:
    def found(kws):
        return " + ".join(
            f"CASE WHEN contains(lower(text), '{k.lower()}') THEN 1 ELSE 0 END"
            for k in kws)

    must, kws = spec["must_include"], spec["keywords"]
    exp = sorted({t for t in spec["expected_content"].lower().split(" ") if t})
    exp_lit = "[" + ", ".join(f"'{t}'" for t in exp) + "]"
    return f"""
  SELECT doc_id, '{spec["spec_id"]}' AS spec_id,
         LEAST(4.0, ({found(must)}) / {float(len(must))} * 4.0) AS must_pts,
         LEAST(3.0, ({found(kws)}) / {float(len(kws))} * 3.0) AS kw_pts,
         (CASE WHEN len(list_distinct(list_concat(toks, {exp_lit}))) > 0
               THEN len(list_intersect(toks, {exp_lit}))
                    / len(list_distinct(list_concat(toks, {exp_lit})))
               ELSE 0.0 END) * 3.0 AS sim_pts
  FROM dtoks"""


@_register("eval_retrieval_scores", f"""
WITH dtoks AS (
  SELECT doc_id, text,
         list_distinct(list_filter(
           string_split(lower(substr(text, 1, 500)), ' '), x -> x <> '')) AS toks
  FROM documents
), legs AS ({" UNION ALL ".join(_evalscore_sql_leg(s) for s in _EVAL_SPECS)}
), scored AS (
  SELECT doc_id, spec_id,
         ROUND(must_pts, 6)::DOUBLE AS must_pts,
         ROUND(kw_pts, 6)::DOUBLE AS kw_pts,
         ROUND(sim_pts, 6)::DOUBLE AS sim_pts,
         ROUND(LEAST(10.0, GREATEST(0.0, must_pts + kw_pts + sim_pts)), 1)::DOUBLE AS score
  FROM legs
)
SELECT doc_id, spec_id, must_pts, kw_pts, sim_pts, score
FROM (SELECT *, row_number() OVER (PARTITION BY spec_id
                                   ORDER BY score DESC, doc_id ASC) AS rn
      FROM scored)
WHERE rn <= 20
""")
def eval_retrieval_scores_q(spark, sf_dir):
    """Retrieval-quality eval harness (tests/calculate_query_scores.py:78-185):
    the 0-10 accuracy score (must-include x4 + keyword coverage x3 + similarity
    x3, Jaccard substituting SequenceMatcher — see functions/evalscore.py) for
    every document against three expected-answer specs, top-20 per spec.  ONE
    scan scores all specs via an exploded struct array — at corpus scale this
    is a single codegen map pass plus the per-spec top-k window."""
    from .functions import evalscore as E

    # fan_out: the per-spec scoring expressions are the cost; a single-split
    # fixture scan would evaluate them all on one core
    docs = tables.fan_out(tables.load(spark, sf_dir, "documents"))
    lower = F.lower(F.col("text"))
    legs = []
    for spec in _EVAL_SPECS:
        must = E.coverage_points(lower, spec["must_include"], 4.0)
        kw = E.coverage_points(lower, spec["keywords"], 3.0)
        sim = E.jaccard_similarity(F.col("text"), spec["expected_content"]) * 3.0
        score = F.round(F.least(F.lit(10.0), F.greatest(F.lit(0.0), must + kw + sim)), 1)
        legs.append(F.struct(
            F.lit(spec["spec_id"]).alias("spec_id"),
            _r6(must).alias("must_pts"), _r6(kw).alias("kw_pts"),
            _r6(sim).alias("sim_pts"), score.cast("double").alias("score")))
    exploded = (docs.select("doc_id", F.explode(F.array(*legs)).alias("s"))
                .select("doc_id", "s.*"))
    w = Window.partitionBy("spec_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (exploded.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 20)
            .select("doc_id", "spec_id", "must_pts", "kw_pts", "sim_pts", "score"))


@_register("text_repetition_stats", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, len(tk) AS token_count,
         list_transform(generate_series(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i + 1]) AS bg,
         list_transform(generate_series(1, len(tk) - 2),
                        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) AS tg
  FROM toks
)
SELECT doc_id, token_count,
  ROUND(CASE WHEN token_count > 0
             THEN len(list_distinct(tk)) * 1.0 / token_count ELSE 0.0 END,
        6)::DOUBLE AS distinct_token_ratio,
  ROUND(CASE WHEN len(bg) > 0
             THEN 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) ELSE 0.0 END,
        6)::DOUBLE AS repeated_bigram_frac,
  ROUND(CASE WHEN len(tg) > 0
             THEN 1.0 - len(list_distinct(tg)) * 1.0 / len(tg) ELSE 0.0 END,
        6)::DOUBLE AS repeated_trigram_frac,
  CASE WHEN len(tg) > 0
            AND 1.0 - len(list_distinct(tg)) * 1.0 / len(tg) < 0.8
       THEN 1 ELSE 0 END AS quality_pass
FROM grams JOIN toks USING (doc_id)
""")
def text_repetition_q(spark, sf_dir):
    """Repetition-based quality filtering (Gopher/C4-family heuristics, public
    training-data practice): distinct-token ratio and repeated bi/tri-gram
    fractions per document, with a trigram-repetition pass flag.  All
    collection expressions over one scan — no shuffle, no UDF; scoring 100 TB
    is a pure map pass.  Complements text_quality_score (length/punct/stopword
    arms)."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    docs = tables.fan_out(tables.load(spark, sf_dir, "documents")).select(
        "doc_id", toks.alias("tk"))
    n = F.size(F.col("tk"))

    def grams(width):
        idx = F.sequence(F.lit(1), n - width + 1)
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(F.col("tk"), i + off) for off in range(width)])
        return F.when(n >= width, F.transform(idx, gram)) \
                .otherwise(F.array().cast("array<string>"))

    g = docs.select("doc_id", n.alias("token_count"),
                    F.col("tk"), grams(2).alias("bg"), grams(3).alias("tg"))

    def rep_frac(col):
        total = F.size(col)
        return F.when(total > 0,
                      1.0 - F.size(F.array_distinct(col)).cast("double") / total
                      ).otherwise(0.0)

    rep_tg = rep_frac(F.col("tg"))
    return g.select(
        "doc_id", "token_count",
        _r6(F.when(F.col("token_count") > 0,
                   F.size(F.array_distinct("tk")).cast("double") / F.col("token_count"))
            .otherwise(0.0)).alias("distinct_token_ratio"),
        _r6(rep_frac(F.col("bg"))).alias("repeated_bigram_frac"),
        _r6(rep_tg).alias("repeated_trigram_frac"),
        F.when((F.size("tg") > 0) & (rep_tg < 0.8), 1).otherwise(0)
        .cast("int").alias("quality_pass"),
    )


@_register("sample_mixture_temperature", """
WITH sz AS (
  SELECT source, COUNT(*) AS n,
         CAST(round(1000.0 * pow(n, 0.7)) AS HUGEINT) AS w
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(w)::HUGEINT AS X FROM sz),
base AS (
  SELECT source, n,
         CAST((120::HUGEINT * w) // X AS BIGINT) AS b,
         (120::HUGEINT * w) % X AS rem
  FROM sz CROSS JOIN tot
),
d AS (SELECT 120 - SUM(b) AS d FROM base),
quota AS (
  SELECT source,
         least(n, b + (CASE WHEN ROW_NUMBER()
                              OVER (ORDER BY rem DESC, source ASC)
                            <= (SELECT d FROM d) THEN 1 ELSE 0 END)) AS q
  FROM base
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8))::BIGINT ASC,
                    doc_id ASC) AS rk
  FROM documents
)
SELECT r.doc_id, r.source FROM ranked r JOIN quota USING (source)
WHERE r.rk <= quota.q
""")
def sample_mixture_temperature_q(spark, sf_dir):
    """Temperature-based mixture sampling (r13,
    operators/sampling.sample_mixture_temperature — XLM-R
    arXiv:1911.02116 temperature rule / GPT-3 mixture table): per-source
    quota proportional to n^0.7, exact largest-remainder apportionment of
    a 120-doc budget, capped at group size (the cap/saturation path is
    pinned by tests/test_dsir.py on a skewed fixture — the parquet
    sources are uniform), selection = quota smallest by salted doc-id
    hash.  Shape: G-row quota table (broadcast window), row-level
    work = one scan + the range-bucket exact-rank machinery — no
    whole-group window."""
    from .operators.sampling import sample_mixture_temperature

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "source")
    return sample_mixture_temperature(docs, "source", budget=120, alpha=0.7)


@_register("sample_mixture_unimax", """
WITH sz AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
cap AS (SELECT source, n, CAST(floor(n * 0.2) AS BIGINT) AS c FROM sz),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY c ASC, source ASC) AS i,
         SUM(c) OVER (ORDER BY c ASC, source ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
         COUNT(*) OVER () AS g
  FROM cap
),
sat AS (
  SELECT *, CASE WHEN c * (g - i + 1) <= 90 - (pfx - c)
                 THEN 1 ELSE 0 END AS s
  FROM rk
),
st AS (SELECT COALESCE(SUM(s), 0) AS sc, COALESCE(SUM(s * c), 0) AS used
       FROM sat),
seats AS (
  SELECT sat.*, st.sc, st.used,
         ROW_NUMBER() OVER (PARTITION BY s ORDER BY source ASC) AS ki
  FROM sat CROSS JOIN st
),
quota AS (
  SELECT source,
         CASE WHEN s = 1 THEN c
              ELSE least(c,
                (90 - used) // greatest(g - sc, 1)
                + CASE WHEN ki <= (90 - used) % greatest(g - sc, 1)
                       THEN 1 ELSE 0 END)
         END AS q
  FROM seats
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('unimax:' || doc_id::VARCHAR), 1, 8))::BIGINT ASC,
                    doc_id ASC) AS rk
  FROM documents
)
SELECT r.doc_id, r.source FROM ranked r JOIN quota USING (source)
WHERE r.rk <= quota.q
""")
def sample_mixture_unimax_q(spark, sf_dir):
    """UniMax budget-capped uniform mixture (r13,
    operators/sampling.sample_mixture_unimax — arXiv:2304.09151): a
    90-doc budget spread evenly over sources, per-source capacity
    floor(n * 0.2) epochs-capped, small groups' freed capacity
    waterfilled into the rest.  Exact int64 waterfill (no float sums —
    the sweep-18 apportionment discipline); windows over the G-row
    group table only."""
    from .operators.sampling import sample_mixture_unimax

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "source")
    return sample_mixture_unimax(docs, "source", budget=90, epochs_cap=0.2)


@_register("sample_weighted_k", f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         round(ln(((('0x' || substr(md5('esr:' || doc_id::VARCHAR), 1, 15))::BIGINT
                    + 0.5) / {float(16 ** 15)!r}))
               / n_chars::DOUBLE, 6)::DOUBLE AS es_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, n_chars, es_key FROM keyed
ORDER BY es_key DESC, doc_id ASC
LIMIT 60
""")
def sample_weighted_k_q(spark, sf_dir):
    """Exact-k weighted sampling without replacement (r13,
    operators/sampling.sample_weighted_k — Efraimidis-Spirakis IPL
    2006): key = ln(u)/w with the deterministic salted-md5 uniform,
    top-60 by key, weight = n_chars (length-proportional selection).
    Shape: scan-side key + TakeOrderedAndProject — zero shuffles."""
    from .operators.sampling import sample_weighted_k

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "n_chars")
    return sample_weighted_k(docs, k=60, weight_col="n_chars")


@_register("training_mixture_manifest", """
WITH canon AS (
  SELECT d.* FROM documents d
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
        FROM documents GROUP BY 1) g
    ON md5(d.text) = g.h AND d.doc_id = g.keeper
),
sz AS (
  SELECT source, COUNT(*) AS n,
         CAST(round(1000.0 * pow(COUNT(*), 0.7)) AS HUGEINT) AS w
  FROM canon GROUP BY source
),
tot AS (SELECT SUM(w)::HUGEINT AS X FROM sz),
base AS (
  SELECT source, n,
         CAST((200::HUGEINT * w) // X AS BIGINT) AS b,
         (200::HUGEINT * w) % X AS rem
  FROM sz CROSS JOIN tot
),
d AS (SELECT 200 - SUM(b) AS d FROM base),
quota AS (
  SELECT source,
         least(n, b + (CASE WHEN ROW_NUMBER()
                              OVER (ORDER BY rem DESC, source ASC)
                            <= (SELECT d FROM d) THEN 1 ELSE 0 END)) AS q
  FROM base
),
ranked AS (
  SELECT c.*,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8))::BIGINT ASC,
                    doc_id ASC) AS rk
  FROM canon c
),
sel AS (
  SELECT r.* FROM ranked r JOIN quota USING (source) WHERE r.rk <= quota.q
),
split AS (
  SELECT *,
         CASE WHEN ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                     % 1000 < 800 THEN 'train'
              WHEN ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                     % 1000 < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM sel
)
SELECT source, split, COUNT(*) AS n_docs,
       SUM(n_chars)::BIGINT AS sum_chars
FROM split GROUP BY source, split
""")
def training_mixture_manifest_q(spark, sf_dir):
    """Training-mixture manifest capstone (r13): the assembly audit a
    trainer consumes — exact dedup (md5 keeper) -> temperature mixture
    quotas (the exact-apportionment sampler, budget 200) ->
    leakage-safe split assignment -> per-(source, split) doc/char
    manifest.  Each stage is the registered operator itself, composed;
    the oracle re-derives the WHOLE chain so stage interactions (dedup
    changing quota inputs, quota changing split population) are
    value-hash-verified, not assumed."""
    from .operators.sampling import (assign_split_by_group,
                                     sample_mixture_temperature)

    docs = tables.load(spark, sf_dir, "documents")
    keep = (docs.groupBy(F.md5("text").alias("_h"))
            .agg(F.min("doc_id").alias("doc_id")))
    # r13 opt (guide §2.3, project before the exchange): quota selection
    # reads only (doc_id, source), the split only doc_id, the manifest agg
    # only n_chars — carrying `text` through the sampler's rank shuffle
    # moved the whole corpus payload for no consumer
    canon = (docs.select("doc_id", "source", "n_chars")
             .join(keep, "doc_id", "left_semi"))
    sel = sample_mixture_temperature(canon, "source", budget=200,
                                     alpha=0.7)
    split = assign_split_by_group(sel, "doc_id")
    return (split.groupBy("source", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


@_register("training_windows", """
WITH t AS (
  SELECT doc_id, n_chars::BIGINT AS n FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
p AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS prior
  FROM t
),
pieces AS (
  SELECT doc_id, n, prior,
         unnest(generate_series((prior // 4096)::BIGINT,
                                ((prior + n - 1) // 4096)::BIGINT)) AS window_id
  FROM p
)
SELECT doc_id, window_id,
       (greatest(prior, window_id * 4096) - prior)::BIGINT AS doc_tok_start,
       (least(prior + n, (window_id + 1) * 4096) - prior)::BIGINT AS doc_tok_end,
       (greatest(prior, window_id * 4096) - window_id * 4096)::BIGINT AS win_offset
FROM pieces
""")
def training_windows_q(spark, sf_dir):
    """Fixed-length training-example construction (r13,
    sources/writers.fixed_window_examples — the GPT-3 §2.3 pack-into-
    2048-contexts step, here 4096-char windows over the document
    stream): exact distributed prefix sum -> bounded sequence explode
    -> int64 boundary arithmetic.  The oracle re-derives the whole
    stream with a window prefix sum + generate_series."""
    from .sources.writers import fixed_window_examples

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "n_chars")
    return fixed_window_examples(docs, 4096, tokens_col="n_chars")


# oracle built at import time from the LIVE twin in operators/preference
from .operators.preference import ict_pairs_sql as _ict_sql  # noqa: E402

_ICT_ORACLE = _ict_sql("(SELECT doc_id, text FROM documents)",
                       chunk_chars=60, max_pairs_per_doc=3)


@_register("ict_positive_pairs", _ICT_ORACLE)
def ict_positive_pairs_q(spark, sf_dir):
    """Inverse-Cloze-Task retriever-pretraining pairs (r13,
    operators/preference.ict_pairs — ORQA arXiv:1906.00300 §3.2):
    adjacent fixed-width chunks as (query, positive), 3-pair fan-out
    cap per doc.  Shape: scan-side substring arithmetic + bounded
    sequence explode — no shuffle, no UDF."""
    from .operators.preference import ict_pairs

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    return ict_pairs(docs, chunk_chars=60, max_pairs_per_doc=3)


# oracle built at import time from the LIVE twin in functions/denoise
from .functions.denoise import corruption_spans_sql as _denoise_sql  # noqa: E402

_DENOISE_ORACLE = _denoise_sql(
    "(SELECT doc_id, n_chars FROM documents)", tokens_col="n_chars")


@_register("denoise_corruption_spans", _DENOISE_ORACLE)
def denoise_corruption_spans_q(spark, sf_dir):
    """T5/UL2 span-corruption example construction (r13,
    functions/denoise — arXiv:1910.10683 §3.1.4): ~15% of tokens in
    mean-length-3 sentinel spans, DETERMINISTIC segment-stratified
    placement (one largest-remainder-sized span per equal segment,
    salted-md5 offset — replayable, documented trade vs T5's RNG).
    Shape: scan-side closed-form arithmetic + a bounded sequence
    explode — no shuffle, no window, no UDF."""
    from .functions.denoise import corruption_spans

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "n_chars")
    return corruption_spans(docs, tokens_col="n_chars")


@_register("shard_balanced_load", """
WITH r AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY coalesce(n_chars, 0) DESC,
                            doc_id ASC) AS rk
  FROM documents
)
SELECT doc_id, n_chars,
       (CASE WHEN ((rk - 1) // 16) % 2 = 0 THEN (rk - 1) % 16
             ELSE 15 - (rk - 1) % 16 END)::INT AS shard
FROM r
""")
def shard_balanced_load_q(spark, sf_dir):
    """Serpentine load-balanced sharding for a fixed worker count (r13,
    sources/writers.shard_balanced_load — the closed-form cousin of LPT
    scheduling, Graham 1969): rank by token count DESC, deal snake-wise
    across 16 shards so every worker's token total lands within one
    document of even.  Global rank via the skew-proof range-bucketed
    machinery — no single-partition window."""
    from .sources.writers import shard_balanced_load

    docs = tables.load(spark, sf_dir, "documents") \
        .select("doc_id", "n_chars")
    return shard_balanced_load(docs, 16, tokens_col="n_chars")


@_register("sample_stratified", """
WITH rated AS (
  SELECT doc_id, source,
         CASE substr(source, 4)::INT % 4
              WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25 ELSE 0.1 END AS rate,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id, source, ROUND(rate, 6)::DOUBLE AS rate, ROUND(u, 6)::DOUBLE AS u
FROM rated WHERE u < rate
""")
def sample_stratified_q(spark, sf_dir):
    """Deterministic stratified sampling for dataset mixing (training-data
    pipelines down-weight sources to hit a target domain mix): per-source keep
    rates, membership decided by an md5-derived uniform on the doc id — NEVER
    rand() (replays must be idempotent, and resampling a 100 TB corpus must
    not depend on partition layout).  Pure scan-side filter: the predicate
    pushes to the reader, no shuffle, and the kept fraction per stratum
    converges to the rate."""
    docs = tables.load(spark, sf_dir, "documents")
    rate = (F.substring("source", 4, 10).cast("int") % 4)
    rate = (F.when(rate == 0, 1.0).when(rate == 1, 0.5)
            .when(rate == 2, 0.25).otherwise(0.1))
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
         .cast("bigint") / F.lit(4294967296.0))
    return (docs.select("doc_id", "source", _r6(rate).alias("rate"),
                        _r6(u).alias("u"), u.alias("_u"), rate.alias("_r"))
            .filter(F.col("_u") < F.col("_r"))
            .drop("_u", "_r"))


@_register("gopher_quality_flags", r"""
WITH src AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), tk AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk,
         string_split(text, chr(10)) AS lines
  FROM src
)
SELECT doc_id,
  len(tk)::BIGINT AS word_count,
  ROUND(coalesce(list_sum(list_transform(tk, t -> length(t))), 0)::DOUBLE
        / greatest(len(tk), 1), 6) AS mean_word_len,
  ROUND((length(text) - length(replace(text, '#', ''))
         + len(regexp_extract_all(text, '\.\.\.')))::DOUBLE
        / greatest(len(tk), 1), 6) AS symbol_ratio,
  ROUND(len(list_filter(lines, l -> starts_with(ltrim(l), '-')
                                  OR starts_with(ltrim(l), '*')))::DOUBLE
        / greatest(len(lines), 1), 6) AS bullet_line_frac,
  ROUND(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))::DOUBLE
        / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
  ROUND(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))::DOUBLE
        / greatest(len(tk), 1), 6) AS alpha_word_frac,
  len(list_filter(tk, t -> list_contains(
      ['the','be','to','of','and','that','have','with'], t)))::BIGINT
      AS stop_word_hits,
  (CASE WHEN len(tk) BETWEEN 50 AND 100000
         AND ROUND(coalesce(list_sum(list_transform(tk, t -> length(t))), 0)::DOUBLE
                   / greatest(len(tk), 1), 6) BETWEEN 3.0 AND 10.0
         AND ROUND((length(text) - length(replace(text, '#', ''))
                    + len(regexp_extract_all(text, '\.\.\.')))::DOUBLE
                   / greatest(len(tk), 1), 6) <= 0.1
         AND ROUND(len(list_filter(lines, l -> starts_with(ltrim(l), '-')
                                            OR starts_with(ltrim(l), '*')))::DOUBLE
                   / greatest(len(lines), 1), 6) <= 0.9
         AND ROUND(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))::DOUBLE
                   / greatest(len(lines), 1), 6) <= 0.3
         AND ROUND(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))::DOUBLE
                   / greatest(len(tk), 1), 6) >= 0.8
         AND len(list_filter(tk, t -> list_contains(
             ['the','be','to','of','and','that','have','with'], t))) >= 2
    THEN 1 ELSE 0 END)::INT AS gopher_pass
FROM tk
""")
def gopher_quality_flags_q(spark, sf_dir):
    """The published Gopher document-quality rule table (functions/
    text.gopher_flags — arXiv:2112.11446 Appendix A1.1, the filter set
    MassiveText/RefinedWeb/Dolma recipes copy): word-count bounds, mean word
    length, symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic
    word fraction, stop-word floor — each threshold exposed as its own
    column so a pipeline can loosen one rule without re-deriving the rest,
    plus the combined gopher_pass.  Scan-side expressions only (one
    projection, no shuffle); distinct from text_quality_score (a composite
    scalar) and text_repetition_stats (n-gram repetition)."""
    from .functions.text import gopher_flags

    docs = tables.load(spark, sf_dir, "documents")
    flags = gopher_flags(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in flags.items()])


@_register("gopher_repetition_flags", r"""
WITH src AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), tk AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk,
         string_split(text, chr(10)) AS lines,
         string_split(text, chr(10) || chr(10)) AS paras
  FROM src
), seg AS (
  SELECT doc_id, text, tk,
    ROUND((len(lines) - len(list_distinct(lines)))::DOUBLE
          / greatest(len(lines), 1), 6) AS dup_line_frac,
    ROUND((coalesce(list_sum(list_transform(lines, s -> length(s))), 0)
           - coalesce(list_sum(list_transform(list_distinct(lines),
                                              s -> length(s))), 0))::DOUBLE
          / greatest(coalesce(list_sum(list_transform(lines,
                                                      s -> length(s))), 0),
                     1), 6) AS dup_line_char_frac,
    ROUND((len(paras) - len(list_distinct(paras)))::DOUBLE
          / greatest(len(paras), 1), 6) AS dup_para_frac,
    ROUND((coalesce(list_sum(list_transform(paras, s -> length(s))), 0)
           - coalesce(list_sum(list_transform(list_distinct(paras),
                                              s -> length(s))), 0))::DOUBLE
          / greatest(coalesce(list_sum(list_transform(paras,
                                                      s -> length(s))), 0),
                     1), 6) AS dup_para_char_frac
  FROM tk
), g AS (
  SELECT doc_id, n,
         array_to_string(list_slice(tk, j + 1, j + n), ' ') AS gram
  FROM tk, UNNEST([2, 3, 4]) AS un(n),
       UNNEST(range(0, greatest(len(tk) - n + 1, 0))) AS u(j)
), gc AS (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY ALL
), top AS (
  SELECT doc_id, n, c * length(gram) AS top_chars FROM (
    SELECT doc_id, n, gram, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id, n
                              ORDER BY c DESC, length(gram) DESC, gram ASC)
             AS rn
    FROM gc) WHERE rn = 1
), piv AS (
  SELECT doc_id,
         coalesce(max(CASE WHEN n = 2 THEN top_chars END), 0) AS t2,
         coalesce(max(CASE WHEN n = 3 THEN top_chars END), 0) AS t3,
         coalesce(max(CASE WHEN n = 4 THEN top_chars END), 0) AS t4
  FROM top GROUP BY doc_id
), tok AS (
  SELECT doc_id, i - 1 AS pos, length(tk[i]) AS len
  FROM tk, UNNEST(range(1, len(tk) + 1)) AS u(i)
), occ AS (
  SELECT doc_id, n, j,
         array_to_string(list_slice(tk, j + 1, j + n), ' ') AS gram
  FROM tk, UNNEST([5, 6, 7, 8, 9, 10]) AS un(n),
       UNNEST(range(0, greatest(len(tk) - n + 1, 0))) AS u(j)
), dupg AS (
  SELECT doc_id, n, gram FROM occ GROUP BY ALL HAVING COUNT(*) >= 2
), dupo AS (
  SELECT o.doc_id, o.n, o.j FROM occ o JOIN dupg d USING (doc_id, n, gram)
), cov AS (
  SELECT DISTINCT doc_id, n, j + kk AS pos
  FROM dupo, UNNEST(range(0, n)) AS k(kk)
), covc AS (
  SELECT c.doc_id, c.n, SUM(t.len) AS chars
  FROM cov c JOIN tok t USING (doc_id, pos)
  GROUP BY c.doc_id, c.n
), covw AS (
  SELECT doc_id,
         coalesce(max(CASE WHEN n = 5 THEN chars END), 0) AS c5,
         coalesce(max(CASE WHEN n = 6 THEN chars END), 0) AS c6,
         coalesce(max(CASE WHEN n = 7 THEN chars END), 0) AS c7,
         coalesce(max(CASE WHEN n = 8 THEN chars END), 0) AS c8,
         coalesce(max(CASE WHEN n = 9 THEN chars END), 0) AS c9,
         coalesce(max(CASE WHEN n = 10 THEN chars END), 0) AS c10
  FROM covc GROUP BY doc_id
), tot AS (
  SELECT doc_id,
         coalesce(list_sum(list_transform(tk, t -> length(t))), 0) AS tot
  FROM tk
), fin AS (
  SELECT s.doc_id, s.dup_line_frac, s.dup_line_char_frac,
         s.dup_para_frac, s.dup_para_char_frac,
         ROUND(coalesce(p.t2, 0)::DOUBLE / greatest(length(s.text), 1), 6)
           AS top2_char_frac,
         ROUND(coalesce(p.t3, 0)::DOUBLE / greatest(length(s.text), 1), 6)
           AS top3_char_frac,
         ROUND(coalesce(p.t4, 0)::DOUBLE / greatest(length(s.text), 1), 6)
           AS top4_char_frac,
         ROUND(coalesce(w.c5, 0)::DOUBLE / greatest(t.tot, 1), 6)
           AS dup5_char_frac,
         ROUND(coalesce(w.c6, 0)::DOUBLE / greatest(t.tot, 1), 6)
           AS dup6_char_frac,
         ROUND(coalesce(w.c7, 0)::DOUBLE / greatest(t.tot, 1), 6)
           AS dup7_char_frac,
         ROUND(coalesce(w.c8, 0)::DOUBLE / greatest(t.tot, 1), 6)
           AS dup8_char_frac,
         ROUND(coalesce(w.c9, 0)::DOUBLE / greatest(t.tot, 1), 6)
           AS dup9_char_frac,
         ROUND(coalesce(w.c10, 0)::DOUBLE / greatest(t.tot, 1), 6)
           AS dup10_char_frac
  FROM seg s LEFT JOIN piv p USING (doc_id)
             LEFT JOIN covw w USING (doc_id)
             JOIN tot t USING (doc_id)
)
SELECT *,
       (CASE WHEN dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
              AND dup_para_frac <= 0.30 AND dup_para_char_frac <= 0.20
              AND top2_char_frac <= 0.20 AND top3_char_frac <= 0.18
              AND top4_char_frac <= 0.16
              AND dup5_char_frac <= 0.15 AND dup6_char_frac <= 0.14
              AND dup7_char_frac <= 0.13 AND dup8_char_frac <= 0.12
              AND dup9_char_frac <= 0.11 AND dup10_char_frac <= 0.10
         THEN 1 ELSE 0 END)::INT AS repetition_pass
FROM fin
""")
def gopher_repetition_flags_q(spark, sf_dir):
    """The repetition half of Gopher's filter table (arXiv:2112.11446 A1.1):
    within-doc duplicate line/paragraph fractions (count + CHARACTER mass —
    functions/text.dup_segment_fractions, pure array-local expressions, no
    shuffle) and top-{2,3,4}-gram character fractions (count * gram chars of
    the most frequent word n-gram over doc chars; most-frequent tie broken
    lexicographically both sides).  Thresholds from the paper: dup lines
    <= 0.30 count / 0.20 chars, paragraphs same, top-gram chars <= 0.20 /
    0.18 / 0.16 — combined as repetition_pass.  The n-gram legs are
    combinable (doc_id, gram) groupBys.  r9 completes the table with the
    dup-5..10-gram character-coverage columns (thresholds 0.15..0.10): the
    paper leaves overlap handling unstated, so the semantics here are
    DEFINED and documented in operators/dedup.dup_ngram_char_coverage —
    union of token positions under any >=2-occurrence n-gram, weighted by
    token char length over total token char mass, separators excluded."""
    from .functions.text import dup_segment_fractions
    from .operators.dedup import gopher_ngram_columns

    # fan_out: the fixture parquet is one row group -> one task; the kernel
    # is CPU-heavy narrow work with no shuffle after it
    docs = tables.fan_out(tables.load(spark, sf_dir, "documents"))
    line_f = dup_segment_fractions(F.col("text"), "\n")
    para_f = dup_segment_fractions(F.col("text"), "\n\n")
    cover_ns, top_ns = (5, 6, 7, 8, 9, 10), (2, 3, 4)
    fr = gopher_ngram_columns(F.col("text"), cover_ns, top_ns)
    base = docs.select(
        "doc_id",
        line_f["dup_frac"].alias("dup_line_frac"),
        line_f["dup_char_frac"].alias("dup_line_char_frac"),
        para_f["dup_frac"].alias("dup_para_frac"),
        para_f["dup_char_frac"].alias("dup_para_char_frac"),
        fr.alias("_fr"))
    # the whole n-gram half (dup-5..10 coverage AND top-2/3/4 fractions)
    # comes from ONE Arrow kernel riding the same projection as the
    # line/para signals — the r9 rework that took this row's shuffle from
    # 22 MB (gram-string explode legs) to ZERO; top-gram tie among equal
    # counts resolves to the LONGER gram (documented in gopher_ngram_stats,
    # mirrored in the oracle's ORDER BY c DESC, length(gram) DESC)
    dup_cols = {f"dup{n}_char_frac":
                F.round(F.col("_fr").getItem(i), 6)
                for i, n in enumerate((5, 6, 7, 8, 9, 10))}
    top_cols = {f"top{n}_char_frac":
                F.round(F.col("_fr").getItem(6 + i), 6)
                for i, n in enumerate((2, 3, 4))}
    dup_caps = [0.15, 0.14, 0.13, 0.12, 0.11, 0.10]
    rep_pass = ((F.col("dup_line_frac") <= 0.30)
                & (F.col("dup_line_char_frac") <= 0.20)
                & (F.col("dup_para_frac") <= 0.30)
                & (F.col("dup_para_char_frac") <= 0.20)
                & (top_cols["top2_char_frac"] <= 0.20)
                & (top_cols["top3_char_frac"] <= 0.18)
                & (top_cols["top4_char_frac"] <= 0.16))
    for (c, expr), cap in zip(dup_cols.items(), dup_caps):
        rep_pass = rep_pass & (expr <= cap)
    return base.select(
        "doc_id", "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
        *[e.alias(c) for c, e in top_cols.items()],
        *[e.alias(c) for c, e in dup_cols.items()],
        rep_pass.cast("int").alias("repetition_pass"))


@_register("pipeline_mini", r"""
WITH canon AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS c
        FROM documents GROUP BY 1) g
    ON md5(d.text) = g.h AND d.doc_id = g.c
), tk AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM canon
), tok AS (
  SELECT doc_id, i - 1 AS pos, tk[i] AS token
  FROM tk, UNNEST(range(1, len(tk) + 1)) AS u(i)
), sp AS (
  SELECT doc_id, j AS pos,
         md5(array_to_string(list_slice(tk, j + 1, j + 8), ' ')) AS span
  FROM tk, UNNEST(range(0, len(tk) - 8 + 1)) AS u(j)
  WHERE len(tk) >= 8
), rem AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
    FROM sp)
  WHERE rn > 1
), cov AS (
  SELECT DISTINCT doc_id, pos + d AS pos
  FROM rem, UNNEST(range(0, 8)) AS u(d)
), kept AS (
  SELECT t.doc_id, t.pos, t.token
  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
  WHERE c.pos IS NULL
), rebuilt AS (
  SELECT doc_id,
         coalesce(string_agg(token, ' ' ORDER BY pos), '') AS text
  FROM kept GROUP BY doc_id
), rtk AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM rebuilt
), passed AS (
  SELECT doc_id, len(tk) AS n_tokens FROM rtk
  WHERE len(tk) BETWEEN 50 AND 100000
    AND ROUND(coalesce(list_sum(list_transform(tk, t -> length(t))), 0)::DOUBLE
              / greatest(len(tk), 1), 6) BETWEEN 3.0 AND 10.0
    AND ROUND(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))::DOUBLE
              / greatest(len(tk), 1), 6) >= 0.8
    AND len(list_filter(tk, t -> list_contains(
        ['the','be','to','of','and','that','have','with'], t))) >= 2
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND 1 PRECEDING), 0)
             / 2000.0)::INT AS shard
FROM passed
""")
def pipeline_mini_q(spark, sf_dir):
    """ORACLE-GATED pipeline COMPOSITION (the 600k probe proves the 9-stage
    run at scale; this row proves a 4-stage composition's VALUES against
    DuckDB): exact dedup (min-id canonical) -> ExactSubstr span REMOVAL at
    k=8 (text rewrite feeds the next stage) -> Gopher quality gate on the
    REWRITTEN text (the word-count/mean-length/alpha/stop-word rules — the
    line rules are vacuous on single-line fixture docs and the symbol rule
    is length-dependent noise post-rewrite) -> token-budgeted sequential
    sharding of the survivors (budget 2000).  Stage interactions are the
    point: span removal shortens docs BELOW the 50-word floor, so the
    quality gate's input distribution depends on stage 2's rewrite, and the
    shard prefix sums depend on both."""
    from .functions.text import gopher_flags
    from .sources.writers import shard_by_token_budget

    docs = tables.load(spark, sf_dir, "documents")
    # r13 OPT: remove_duplicate_spans reads its input twice (token table
    # + span table); checkpoint the canonical survivors so the dedup
    # groupBy + keeper join run once, not per consumer
    canon = (docs.groupBy(F.md5("text").alias("_h"))
             .agg(F.min("doc_id").alias("doc_id"))
             .join(docs, "doc_id")
             .select("doc_id", "text")
             .localCheckpoint(eager=False))
    rem = dedup.remove_duplicate_spans(canon, k=8)
    rebuilt = rem.select(F.col("id").alias("doc_id"),
                         F.col("text_dedup").alias("text"))
    fl = gopher_flags(F.col("text"))
    passed = (rebuilt
              .select("doc_id",
                      fl["word_count"].alias("n_tokens"),
                      fl["mean_word_len"].alias("_ml"),
                      fl["alpha_word_frac"].alias("_af"),
                      fl["stop_word_hits"].alias("_sw"))
              .filter((F.col("n_tokens") >= 50) & (F.col("n_tokens") <= 100_000)
                      & (F.col("_ml") >= 3.0) & (F.col("_ml") <= 10.0)
                      & (F.col("_af") >= 0.8) & (F.col("_sw") >= 2))
              .select("doc_id", "n_tokens"))
    return (shard_by_token_budget(passed, 2_000, id_col="doc_id",
                                  tokens_col="n_tokens")
            .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    "shard"))


@_register("sample_domain_cap", """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('cap:' || doc_id::VARCHAR), 1, 8))::BIGINT ASC,
                    doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 10
""")
def sample_domain_cap_q(spark, sf_dir):
    """Per-domain frequency cap (operators/sampling.cap_rows_per_group —
    Gopher arXiv:2112.11446 §A.1.2 / RefinedWeb arXiv:2306.01116 §3.1): keep
    at most 10 docs per source, selection = the 10 smallest by a salted
    doc-id hash (an unbiased deterministic uniform sample; pass a quality
    score instead for keep-the-best).  The oracle IS the hot-key window
    form; the operator computes identical ranks with combinable groupBys, a
    wholesale pass for within-quota groups, and range-bucketed ranking for
    the Zipfian head — no window partition ever holds a whole domain."""
    from .operators.sampling import cap_rows_per_group

    docs = tables.load(spark, sf_dir, "documents")
    ordk = F.conv(F.substring(
        F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("bigint")
    capped = cap_rows_per_group(
        docs.select("doc_id", "source", ordk.alias("_ord")),
        "source", 10, "_ord", id_col="doc_id")
    return capped.select("doc_id", "source")


@_register("sample_quality_weighted", """
WITH toks AS (
  SELECT doc_id, text, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), q AS (
  SELECT doc_id,
    0.4 * least(len(tk)::DOUBLE / 100.0, 1.0)
    + 0.3 * greatest(0.0, 1.0 - (len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
                                 / greatest(length(text), 1)) * 5.0)
    + 0.3 * least((len(list_filter(tk, t -> list_contains(
          ['the','a','and','of','to','in','is','it','that','for'], t)))::DOUBLE
          / greatest(len(tk), 1)) * 4.0, 1.0) AS quality,
    ('0x' || substr(md5('q:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS u
  FROM toks
)
SELECT doc_id, ROUND(quality, 6)::DOUBLE AS quality, ROUND(u, 6)::DOUBLE AS u
FROM q WHERE u < quality * quality
""")
def sample_quality_weighted(spark, sf_dir):
    """Quality-weighted curation sampling: keep probability = quality^2
    (sharpens toward high-quality documents, the standard curation move when
    down-sizing a corpus), membership by a salted md5-uniform on the doc id —
    deterministic and partition-layout-independent like sample_stratified.
    Scan-side filter only: quality and the uniform are both row-local
    expressions, so the keep decision pushes into the scan projection with
    zero shuffle at any corpus size."""
    docs = tables.load(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    u = (F.conv(F.substring(F.md5(F.concat(F.lit("q:"),
                                           F.col("doc_id").cast("string"))), 1, 8),
                16, 10).cast("bigint") / F.lit(4294967296.0))
    return (docs.select("doc_id", _r6(q).alias("quality"), _r6(u).alias("u"),
                        q.alias("_q"), u.alias("_u"))
            .filter(F.col("_u") < F.col("_q") * F.col("_q"))
            .drop("_q", "_u"))


@_register("dedup_keep_list", """
WITH RECURSIVE sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(tk) - 2, 1) + 1),
      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        FROM documents WHERE doc_id < 2000)
), ex AS (
  SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
), cand AS (
  SELECT x.doc_id AS l, y.doc_id AS r, COUNT(*) AS inter
  FROM ex x JOIN ex y USING (shingle)
  WHERE x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
), pairs AS (
  SELECT l, r FROM cand
  JOIN sizes sl ON cand.l = sl.doc_id
  JOIN sizes sr ON cand.r = sr.doc_id
  WHERE inter::DOUBLE / greatest(sl.n_sh + sr.n_sh - inter, 1) >= 0.5
), und AS (
  SELECT l AS src, r AS dst FROM pairs UNION SELECT r, l FROM pairs
), members AS (SELECT DISTINCT src AS node_id FROM und),
reach(node_id, peer) AS (
  SELECT node_id, node_id FROM members
  UNION
  SELECT re.node_id, u.dst FROM reach re JOIN und u ON re.peer = u.src
), labels AS (
  SELECT node_id AS doc_id, MIN(peer) AS cluster_id FROM reach GROUP BY node_id
)
SELECT labels.doc_id, cluster_id, n_chars,
       CASE WHEN row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY n_chars DESC, labels.doc_id ASC) = 1
            THEN 1 ELSE 0 END AS is_keep
FROM labels JOIN documents ON labels.doc_id = documents.doc_id
""")
def dedup_keep_list_q(spark, sf_dir):
    """The dedup pipeline's FINAL artifact: near-dup pairs (3-shingle Jaccard
    >= 0.5) -> connected components -> one representative per duplicate
    cluster (longest document, id-asc tie-break), everything else marked for
    purge.  Mirrors the reference sweep's keep-one semantics
    (memory/memory_graph.py:10333-10390) with the standard corpus-dedup
    representative rule.  At scale the pair stage is the LSH-banded path
    (dedup_minhash_bands); the fixture uses the exact pairs for oracle
    parity (doc_id < 2000 — the battery's standard dedup slice)."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    sh = docs.select(F.col("doc_id"), T.shingles(F.col("text")).alias("sh"))
    # sparse inverted-index pair generation: explode on shingle, count
    # co-occurrences, union from per-doc sizes — only pairs sharing a shingle
    # materialize (the dense all-pairs array_intersect is quadratic in docs
    # and interpreted per pair; this is the shape that survives corpus scale)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    cand = (ex.alias("x").join(ex.alias("y"), "shingle")
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .groupBy(F.col("x.doc_id").alias("l"), F.col("y.doc_id").alias("r"))
            .agg(F.count("*").alias("inter")))
    pairs = (cand
             .join(sizes.select(F.col("doc_id").alias("l"), F.col("n_sh").alias("nl")), "l")
             .join(sizes.select(F.col("doc_id").alias("r"), F.col("n_sh").alias("nr")), "r")
             .filter(F.col("inter").cast("double")
                     / F.greatest(F.col("nl") + F.col("nr") - F.col("inter"), F.lit(1)) >= 0.5)
             .select("l", "r"))
    und = pairs.select(F.col("l").alias("src"), F.col("r").alias("dst")).unionByName(
        pairs.select(F.col("r").alias("src"), F.col("l").alias("dst")))
    labels = graph.connected_components(und).select(
        F.col("node_id").alias("doc_id"), F.col("component").alias("cluster_id"))
    j = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    return j.select(
        "doc_id", "cluster_id", "n_chars",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).cast("int").alias("is_keep"))


_SEMDEDUP_COS_VC = _COSINE_SQL.replace("e.embedding", "v.embedding").replace("q.embedding", "c.cemb")
_SEMDEDUP_COS_IJ = _COSINE_SQL.replace("e.embedding", "ei.embedding").replace("q.embedding", "ej.embedding")


@_register("dedup_semantic_clusters", f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16
), sims AS (
  -- ROUND(.,6) mirrors the operator exactly: assignment tie-break, ranking,
  -- and the eps comparison all happen on 6-dp-rounded cosines (ADVICE r6:
  -- a raw-cosine mirror flips is_dup on sub-1e-6 boundary/tie cases)
  SELECT v.vec_id, c.cid, ROUND({_SEMDEDUP_COS_VC}, 6) AS csim
  FROM embeddings v CROSS JOIN cents c
), assign AS (
  SELECT vec_id, cid, csim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
  FROM sims
), ranked AS (
  SELECT vec_id, cid AS cluster_id, csim AS centroid_sim,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY csim ASC, vec_id ASC) AS rk
  FROM assign WHERE rn = 1
), dup AS (
  SELECT DISTINCT i.vec_id
  FROM ranked i
  JOIN ranked j ON i.cluster_id = j.cluster_id AND j.rk < i.rk
  JOIN embeddings ei ON ei.vec_id = i.vec_id
  JOIN embeddings ej ON ej.vec_id = j.vec_id
  WHERE ROUND({_SEMDEDUP_COS_IJ}, 6) >= 0.35
)
SELECT r.vec_id AS id, r.cluster_id::BIGINT AS cluster_id,
       r.centroid_sim AS centroid_sim,
       (CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END)::INT AS is_dup
FROM ranked r LEFT JOIN dup d ON d.vec_id = r.vec_id
""")
def dedup_semantic_clusters_q(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over the embeddings
    table: assign to nearest centroid, then prune within-cluster members that
    sit within eps=0.35 cosine of an earlier-ranked member (rank = centroid
    similarity ASC — the paper keeps the most extreme representative of each
    duplicate group).  The fixture codebook is the first 16 vectors by id
    (deterministic "k-means at iteration 0" so the oracle can mirror the
    assignment); production callers pass `ann_index.train_centroids` output.
    Complements the global-sweep v5 path: no global pair join — candidate
    comparison is confined to each cluster, the published trick that makes
    embedding dedup tractable at web scale."""
    emb = tables.load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    out = dedup.semantic_cluster_dedup(emb, cents, 0.35,
                                       approx_centroid_rows=16)
    return out.select("id", F.col("cluster_id").cast("long").alias("cluster_id"),
                      "centroid_sim", F.col("is_dup").cast("int").alias("is_dup"))


@_register("lm_quality_scores", """
WITH tk AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), bg AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM tk, UNNEST(range(1, len(tk))) AS u(i)
  WHERE len(tk) >= 2
), train AS (
  SELECT * FROM bg WHERE doc_id % 10 = 0
), uni AS (
  SELECT w1, COUNT(*) AS c1 FROM train GROUP BY w1
), bi AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM train GROUP BY w1, w2
), v AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT UNNEST(tk) AS w FROM tk WHERE doc_id % 10 = 0)
), scored AS (
  SELECT bg.doc_id AS id, COUNT(*)::BIGINT AS n_bigrams,
         ROUND(AVG(-LN((COALESCE(c2, 0) + 0.5)
                       / (COALESCE(c1, 0) + 0.5 * v.v))), 6)::DOUBLE AS avg_nll
  FROM bg LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1) CROSS JOIN v
  GROUP BY bg.doc_id, v.v
)
SELECT id, n_bigrams, avg_nll,
       (NTILE(3) OVER (ORDER BY avg_nll ASC, id ASC))::INT AS bucket
FROM scored
""")
def lm_quality_scores_q(spark, sf_dir):
    """CCNet-style LM quality filtering (functions/lm.py; Wenzek et al. 2020,
    arXiv:1911.00359): train an add-k bigram LM on the trusted slice
    (doc_id % 10 == 0 stands in for the reference pipeline's clean
    Wikipedia), score every document's average negative log-likelihood
    under it, and cut head/middle/tail quality tiers.  The model is a pair
    of vocabulary-sized count tables broadcast into the scoring join —
    nothing in the plan scales with corpus size except the scan."""
    from .functions import lm

    docs = tables.load(spark, sf_dir, "documents")
    clean = docs.filter(F.col("doc_id") % 10 == 0)
    uni, bi, vocab = lm.train_bigram_lm(clean)
    scored = lm.nll_score(docs, uni, bi, vocab)
    out = lm.quality_buckets(scored)
    return out.select("id", "n_bigrams", "avg_nll",
                      F.col("bucket").cast("int").alias("bucket"))


@_register("shard_corpus", """
WITH sh AS (
  SELECT doc_id, n_chars, md5('s6:' || doc_id::VARCHAR) AS key FROM documents
), a AS (
  SELECT doc_id, n_chars, key,
         (('0x' || substr(key, 1, 8))::BIGINT % 8)::INT AS shard
  FROM sh
)
SELECT doc_id, shard,
       (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id))::INT AS pos,
       n_chars
FROM a
""")
def shard_corpus_q(spark, sf_dir):
    """Deterministic shuffle-and-shard (writers.shard_assignment): the
    corpus-prep step that turns a deduped/filtered corpus into the trainer's
    sharded, globally-shuffled reader layout.  md5(seed:id) permutation key,
    hash-assigned shard (no global sort anywhere — scale-safe by
    construction), per-shard reader order.  Changing the seed re-shuffles;
    same seed is bit-stable across cluster sizes and partition layouts."""
    docs = tables.load(spark, sf_dir, "documents")
    from .sources.writers import shard_assignment
    out = shard_assignment(docs, 8, "s6")
    return out.select("doc_id", F.col("shard").cast("int").alias("shard"),
                      F.col("pos").cast("int").alias("pos"), "n_chars")


@_register("shard_token_budget", """
WITH tk AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS n
  FROM documents
)
SELECT doc_id, n::BIGINT AS n_tokens,
       FLOOR(COALESCE(SUM(n) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0)
             / 5000.0)::INT AS shard
FROM tk
""")
def shard_token_budget_q(spark, sf_dir):
    """Token-budgeted sequential sharding (writers.shard_by_token_budget):
    documents in id order pack into ~5000-token shards — the data-loader
    convention that budgets TOKENS per shard, where hash sharding
    (shard_corpus) balances counts and long-document skew breaks the
    equivalence.  The oracle is the single global window; the engine computes
    the same exclusive prefix sum with NO single-partition exchange
    (range-bucket + broadcast offsets — the quality_buckets machinery)."""
    from .sources.writers import shard_by_token_budget

    docs = tables.load(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       T.token_count(F.col("text")).cast("long")
                       .alias("n_tokens"))
    out = shard_by_token_budget(toks, 5000)
    return out.select("doc_id", "n_tokens",
                      F.col("shard").cast("int").alias("shard"))


@_register("dedup_lines", """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), ln AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(tk, (i - 1) * 3 + 1, (i - 1) * 3 + 3),
                         ' ') AS line
  FROM tk, UNNEST(range(1, CAST(ceil(len(tk) / 3.0) AS BIGINT) + 1)) AS u(i)
), keep AS (
  SELECT doc_id, pos, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM ln
), surv AS (
  SELECT doc_id, pos, line FROM keep WHERE rn = 1
)
SELECT tot.doc_id,
       COALESCE(k.kept, 0)::BIGINT AS kept_lines,
       (tot.n - COALESCE(k.kept, 0))::BIGINT AS dropped_lines,
       COALESCE(k.txt, '') AS text_deduped
FROM (SELECT doc_id, COUNT(*) AS n FROM ln GROUP BY doc_id) tot
LEFT JOIN (SELECT doc_id, COUNT(*) AS kept,
                  string_agg(line, chr(10) ORDER BY pos) AS txt
           FROM surv GROUP BY doc_id) k USING (doc_id)
""")
def dedup_lines_q(spark, sf_dir):
    """Line-level exact dedup (operators/dedup.line_dedup — the C4
    three-sentence-span / RefinedWeb line-wise recipe): every distinct line
    keeps only its globally first occurrence; documents reassemble from the
    surviving lines.  The fixture text is a flat word stream, so the query
    synthesizes 3-token lines deterministically in BOTH engines (the
    pii_redaction precedent for fixture augmentation) — small vocabulary
    makes cross-document line collisions common, which is the recipe's
    target (repeated boilerplate)."""
    docs = tables.load(spark, sf_dir, "documents")
    tk = T.tokens(F.col("text"))
    n_lines = F.ceil(F.size(tk) / F.lit(3.0)).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.array_join(F.slice(tk, (i - 1) * 3 + 1, 3), " "))
    synth = docs.select("doc_id",
                        F.array_join(lines_arr, "\n").alias("text"))
    out = dedup.line_dedup(synth)
    return out.select(F.col("id").alias("doc_id"), "kept_lines",
                      "dropped_lines", "text_deduped")


@_register("dedup_span_fraction", """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), sp AS (
  SELECT doc_id, j AS pos,
         md5(array_to_string(list_slice(tk, j + 1, j + 8), ' ')) AS span
  FROM tk, UNNEST(range(0, len(tk) - 8 + 1)) AS u(j)
  WHERE len(tk) >= 8
), c AS (
  SELECT span, COUNT(*) AS c FROM sp GROUP BY span
)
SELECT sp.doc_id,
       COUNT(*)::BIGINT AS n_spans,
       SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_spans,
       ROUND(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS dup_fraction,
       (CASE WHEN ROUND(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END)::DOUBLE
                        / COUNT(*), 6) >= 0.5
             THEN 1 ELSE 0 END)::INT AS is_flagged
FROM sp JOIN c USING (span)
GROUP BY sp.doc_id
""")
def dedup_span_fraction_q(spark, sf_dir):
    """Exact-substring duplication signal (operators/dedup.span_dup_fraction;
    Lee et al. 2021, arXiv:2107.06499): per document, the fraction of its
    k-token spans repeated anywhere in the corpus — the ExactSubstr criterion
    with span hashing in place of the suffix array.  Distinct from whole-doc
    MinHash (near-dup) and from decontamination (vs an external set): this
    finds PARTIAL overlap inside the corpus itself.  k=8 here so every
    fixture doc (>= 10 tokens) has spans; production k=50 per the paper."""
    docs = tables.load(spark, sf_dir, "documents")
    out = dedup.span_dup_fraction(docs, k=8)
    return out.select(F.col("id").alias("doc_id"), "n_spans", "dup_spans",
                      "dup_fraction", "is_flagged")


@_register("dedup_span_removal", """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), tok AS (
  SELECT doc_id, i - 1 AS pos, tk[i] AS token
  FROM tk, UNNEST(range(1, len(tk) + 1)) AS u(i)
), sp AS (
  SELECT doc_id, j AS pos,
         md5(array_to_string(list_slice(tk, j + 1, j + 8), ' ')) AS span
  FROM tk, UNNEST(range(0, len(tk) - 8 + 1)) AS u(j)
  WHERE len(tk) >= 8
), rem AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
    FROM sp)
  WHERE rn > 1
), cov AS (
  SELECT DISTINCT doc_id, pos + d AS pos
  FROM rem, UNNEST(range(0, 8)) AS u(d)
), kept AS (
  SELECT t.doc_id, t.pos, t.token
  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
  WHERE c.pos IS NULL
)
SELECT n.doc_id, n.n_tokens::BIGINT AS n_tokens,
       (n.n_tokens - COALESCE(kk.kc, 0))::BIGINT AS removed_tokens,
       COALESCE(kk.txt, '') AS text_dedup
FROM (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id) n
LEFT JOIN (SELECT doc_id, COUNT(*) AS kc,
                  string_agg(token, ' ' ORDER BY pos) AS txt
           FROM kept GROUP BY doc_id) kk USING (doc_id)
""")
def dedup_span_removal_q(spark, sf_dir):
    """Exact-substring removal (operators/dedup.remove_duplicate_spans — the
    action half of Lee et al. 2021): every repeated >= k-token run keeps only
    its global first (id, pos) occurrence; tokens covered by any later
    occurrence are cut and documents rebuild from the survivors.  Coverage-
    based trim approximates the paper's maximal-match cut with span hashes
    in place of the suffix array.  k=8 at fixture scale (production k=50)."""
    docs = tables.load(spark, sf_dir, "documents")
    out = dedup.remove_duplicate_spans(docs, k=8)
    return out.select(F.col("id").alias("doc_id"), "n_tokens",
                      "removed_tokens", "text_dedup")


# ---------------------------------------------------------------------------------
# Training-pipeline ops, continued: PII redaction, benchmark decontamination,
# sequence packing (public corpus-prep practice: C4/Gopher/GPT-3 appendices)
# ---------------------------------------------------------------------------------

# Shared PII patterns — restricted to the Java-regex ∩ RE2 common subset so the
# Spark side (Java) and the DuckDB oracle (RE2) match byte-identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{1,2}-\d{3}-\d{3,6}"


@_register("pii_redaction", r"""
WITH aug AS (
  SELECT doc_id,
    text || ' contact user' || doc_id::VARCHAR || '@example.com'
         || CASE WHEN doc_id % 5 = 0
                 THEN ' cc admin' || doc_id::VARCHAR || '@corp.example.org'
                 ELSE '' END
         || CASE WHEN doc_id % 3 <> 2
                 THEN ' ip 10.' || (doc_id % 256)::VARCHAR || '.0.'
                      || ((doc_id * 7) % 256)::VARCHAR
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' call +1-555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                 ELSE '' END AS t
  FROM documents
), red AS (
  SELECT doc_id, t,
    regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '\+\d{1,2}-\d{3}-\d{3,6}', '<PHONE>', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_emails,
  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INT AS n_ips,
  len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{3,6}'))::INT AS n_phones,
  md5(redacted) AS redacted_md5,
  length(redacted)::INT AS redacted_chars
FROM red
""")
def pii_redaction_q(spark, sf_dir):
    """PII detection + redaction over documents — a standard pre-training
    scrub pass (emails, IPv4s, phone numbers -> typed placeholder tokens).
    The synthetic fixture text carries no PII, so the query first derives a
    deterministic PII suffix from ``doc_id`` (augment -> detect -> redact);
    the detection/redaction machinery is the real artifact and is exercised
    against non-trivially varying positives (0-2 emails, 0-1 ips/phones per
    row).  Pure codegen expressions over one scan: counting and redaction are
    ``regexp_count``/``regexp_replace`` (JVM, no UDF), so a 100 TB scrub is a
    map-only pass with no shuffle; the md5 of the redacted text makes the
    byte-level output oracle-checkable without emitting full documents."""
    d = F.col("doc_id")
    s = d.cast("string")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"), s, F.lit("@example.com"),
        F.when(d % 5 == 0,
               F.concat(F.lit(" cc admin"), s, F.lit("@corp.example.org"))
               ).otherwise(""),
        F.when(d % 3 != 2,
               F.concat(F.lit(" ip 10."), (d % 256).cast("string"),
                        F.lit(".0."), ((d * 7) % 256).cast("string"))
               ).otherwise(""),
        F.when(d % 4 == 0,
               F.concat(F.lit(" call +1-555-"),
                        F.lpad((d % 1000).cast("string"), 3, "0"))
               ).otherwise(""),
    )
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", aug.alias("t"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PII_IP)).cast("int").alias("n_ips"),
        F.regexp_count(F.col("t"), F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("int").alias("redacted_chars"),
    )


@_register("contamination_ngram", r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 2000
), grams AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= 8
         THEN list_distinct(list_transform(
                generate_series(1, len(tk) - 7),
                i -> array_to_string(list_slice(tk, i, i + 7), ' ')))
         ELSE [] END AS gs
  FROM toks
), ex AS (
  SELECT doc_id, UNNEST(gs) AS gram FROM grams
), eval_g AS (
  SELECT DISTINCT gram FROM ex WHERE doc_id % 97 = 0
), hits AS (
  SELECT ex.doc_id, COUNT(DISTINCT ex.gram) AS n_hits
  FROM ex JOIN eval_g USING (gram)
  WHERE ex.doc_id % 97 <> 0
  GROUP BY ex.doc_id
)
SELECT g.doc_id,
       COALESCE(n_hits, 0)::INT AS n_shared_8grams,
       CASE WHEN COALESCE(n_hits, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM grams g LEFT JOIN hits ON g.doc_id = hits.doc_id
WHERE g.doc_id % 97 <> 0
""")
def contamination_ngram_q(spark, sf_dir):
    """Benchmark-decontamination check (GPT-3 appendix C / PaLM practice): flag
    training documents sharing any 8-gram with a held-out eval slice
    (``doc_id % 97 == 0`` stands in for the benchmark set).  Shape is an
    inverted-index join — explode distinct 8-grams, broadcast the tiny eval
    gram set, count distinct hits per train doc — so shuffle volume is
    bounded by the eval set's gram count, not the corpus: at 100 TB the eval
    grams (a few MB for real benchmarks) broadcast to every executor and the
    scan stays map-side.  Fixture slice doc_id < 2000 (the battery's standard
    dedup slice; the tiny synthetic vocabulary makes gram joins adversarially
    hot at full width)."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    tk = T.tokens(F.col("text"))
    n = F.size(tk)
    grams = F.when(
        n >= 8,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - 7),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 8)),
        ))).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", grams.alias("gs"))
    ex = g.select("doc_id", F.explode("gs").alias("gram"))
    eval_g = ex.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    hits = (ex.filter(F.col("doc_id") % 97 != 0)
            .join(F.broadcast(eval_g), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("n_hits")))
    train = g.filter(F.col("doc_id") % 97 != 0).select("doc_id")
    return (train.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("int")
                     .alias("n_shared_8grams"),
                    F.when(F.coalesce(F.col("n_hits"), F.lit(0)) > 0, 1)
                     .otherwise(0).cast("int").alias("contaminated")))


@_register("contamination_bloom", r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 2500
), grams AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= 8
         THEN list_distinct(list_transform(
                generate_series(1, len(tk) - 7),
                i -> array_to_string(list_slice(tk, i, i + 7), ' ')))
         ELSE [] END AS gs
  FROM toks
), ex AS (
  SELECT doc_id, UNNEST(gs) AS gram FROM grams
), eval_g AS (
  SELECT DISTINCT gram FROM ex WHERE doc_id % 89 = 0
), hits AS (
  SELECT ex.doc_id, COUNT(DISTINCT ex.gram) AS n_hits
  FROM ex JOIN eval_g USING (gram)
  WHERE ex.doc_id % 89 <> 0
  GROUP BY ex.doc_id
)
SELECT g.doc_id,
       COALESCE(n_hits, 0)::INT AS n_shared_8grams,
       CASE WHEN COALESCE(n_hits, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM grams g LEFT JOIN hits ON g.doc_id = hits.doc_id
WHERE g.doc_id % 89 <> 0
""")
def contamination_bloom_q(spark, sf_dir):
    """Bloom-prefiltered benchmark decontamination (r9, operators/bloom.py):
    same GPT-3-appendix-C semantics as ``contamination_ngram``, but the eval
    gram set rides a BLOOM FILTER (k seeded xxhash64 positions over a
    bit_or-aggregated long[] bitmap, broadcast as one array<long> row)
    instead of a string broadcast — the shape that survives when the
    held-out suite's grams outgrow a broadcast (1e9 grams ≈ 1.2 GB of bits
    at 1%% FP vs tens of GB of strings).  The prefilter has NO false
    negatives by construction, and the exact refine join sees only
    survivors, so the result is bit-identical to the unfiltered join — the
    oracle runs the plain exact join.  Distinct fixture slice (doc_id <
    2500, eval = %% 89) so this row exercises its own data."""
    from .operators import bloom

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 2500)
    tk = T.tokens(F.col("text"))
    n = F.size(tk)
    grams = F.when(
        n >= 8,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - 7),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 8)),
        ))).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", grams.alias("gs")).localCheckpoint(eager=False)
    ex = g.select("doc_id", F.explode("gs").alias("gram"))
    eval_g = (ex.filter(F.col("doc_id") % 89 == 0)
              .select("gram").distinct().localCheckpoint(eager=False))
    m, k = bloom.optimal_params(3000, 0.01)   # fixture-scale sizing; at
    # production scale size from a gram-count estimate (HLL/plan stats)
    bits = bloom.bloom_build(eval_g, "gram", m, k)
    bf = spark.createDataFrame([(bits,)], "bf array<long>")
    train = ex.filter(F.col("doc_id") % 89 != 0)
    cand = (train.crossJoin(F.broadcast(bf))
            .filter(bloom.bloom_might_contain(F.col("bf"), F.col("gram"),
                                              m, k))
            .drop("bf"))
    hits = (cand.join(eval_g, "gram")      # exact refine: kills Bloom FPs
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("n_hits")))
    base = g.filter(F.col("doc_id") % 89 != 0).select("doc_id")
    return (base.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("int")
                     .alias("n_shared_8grams"),
                    F.when(F.coalesce(F.col("n_hits"), F.lit(0)) > 0, 1)
                     .otherwise(0).cast("int").alias("contaminated")))


@_register("split_leakage_safe", r"""
WITH canon AS (
  SELECT d.doc_id, g.c AS canonical_id FROM documents d
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS c
        FROM documents GROUP BY 1) g ON md5(d.text) = g.h
), bucketed AS (
  SELECT doc_id, canonical_id,
         ('0x' || substr(md5('split:' || canonical_id::VARCHAR), 1, 8))::BIGINT
           % 1000 AS b
  FROM canon
)
SELECT doc_id, canonical_id,
       CASE WHEN b < 800 THEN 'train'
            WHEN b < 900 THEN 'val'
            ELSE 'test' END AS split
FROM bucketed
""")
def split_leakage_safe_q(spark, sf_dir):
    """Leakage-safe train/val/test assignment (r9,
    operators/sampling.assign_split_by_group): the split is a salted-hash
    function of the doc's exact-dedup CANONICAL id, so every duplicate of a
    training document lands in the SAME split — row-hash splitting leaks
    near-copies of training rows into eval (the contamination Lee et al.
    2021 measure).  80/10/10 over 1000 hash buckets; group key generalizes
    to MinHash cluster / domain by swapping the join.  Shape: one
    combinable md5 groupBy + an equi-join back on the 32-char hash key
    (the canonical table is O(distinct docs) — an AQE-managed hash join,
    NOT a broadcast); the split expression itself is scan-side, no
    windows."""
    from .operators.sampling import assign_split_by_group

    docs = tables.load(spark, sf_dir, "documents")
    canon = (docs.groupBy(F.md5("text").alias("_h"))
             .agg(F.min("doc_id").alias("canonical_id")))
    keyed = (docs.select("doc_id", F.md5("text").alias("_h"))
             .join(canon, "_h").drop("_h"))
    return (assign_split_by_group(keyed, "canonical_id")
            .select("doc_id", "canonical_id", "split"))


@_register("url_canonical_dedup", r"""WITH raw AS (
  SELECT doc_id, 'HTTPS://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) || source || '.Example.com' || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) || '/docs/' || (doc_id % 50)::VARCHAR || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) || '?z=2&id=' || (doc_id % 50)::VARCHAR || '&utm_source=feed' || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents
), c AS (
  SELECT doc_id, (lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://' || regexp_replace(lower(regexp_replace(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^([^/?]+)', 1), ':[0-9]+$', '')), '^www\.', '') || (CASE WHEN (regexp_extract(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^([^/?]+)', 1), ':([0-9]+)$', 1) <> '' AND NOT (lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'http' AND regexp_extract(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^([^/?]+)', 1), ':([0-9]+)$', 1) = '80') AND NOT (lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'https' AND regexp_extract(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^([^/?]+)', 1), ':([0-9]+)$', 1) = '443')) THEN ':' || regexp_extract(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^([^/?]+)', 1), ':([0-9]+)$', 1) ELSE '' END) || regexp_replace(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '^[^/?]*([^?]*)', 1), '/+$', '') || (CASE WHEN array_to_string(list_sort(list_filter(string_split(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '\?(.*)$', 1), '&'), x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') <> '' THEN '?' || array_to_string(list_sort(list_filter(string_split(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '\?(.*)$', 1), '&'), x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') ELSE '' END)) AS canonical_url FROM raw
)
SELECT canonical_url, COUNT(*)::BIGINT AS n_docs, MIN(doc_id) AS keeper_id
FROM c GROUP BY canonical_url
""")
def url_canonical_dedup_q(spark, sf_dir):
    """URL-level crawl dedup (r10, functions/urls.canonical_url): the
    CCNet/RefinedWeb first-pass — canonicalize (lowercase scheme/host, drop
    www./default ports/fragments/tracking params, sort surviving params,
    trim trailing slash) and keep the min doc_id per canonical URL.  The
    synthetic raw URLs derive deterministically from (source, doc_id) with
    every variance the canonicalizer must fold: WWW. on id%3, :443 on id%4,
    trailing slash on id%2, #frag on id%5, an utm_source param always, and
    params deliberately out of byte order (z before id).  Shape: the
    canonical form is a pure scan-side Column expression (zero UDF, zero
    shuffle); the keep-rule is one combinable groupBy — URL dedup touches
    no content bytes, which is the point of running it before content
    dedup at 100 TB.  Reference: none (LLM-data-pipeline family)."""
    docs = tables.load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.lit("HTTPS://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".Example.com"),
        F.when(did % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), (did % 50).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?z=2&id="), (did % 50).cast("string"),
        F.lit("&utm_source=feed"),
        F.when(did % 5 == 0, F.lit("#frag")).otherwise(F.lit("")))
    return (docs.select("doc_id", U.canonical_url(raw).alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keeper_id")))


@_register("mm_media_meta", """
SELECT doc_id,
  (CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4' ELSE 'mp3' END)
    AS container,
  (CASE WHEN doc_id % 3 = 1 THEN 320 + (doc_id % 10) * 16 END)::INT
    AS width,
  (CASE WHEN doc_id % 3 = 1 THEN 180 + (doc_id % 10) * 9 END)::INT
    AS height,
  (CASE doc_id % 3
     WHEN 0 THEN 500
     WHEN 1 THEN 1000 + (doc_id % 7) * 500
     ELSE ((5 + doc_id % 20) * 3336) // 128 END)::BIGINT AS duration_ms,
  (CASE doc_id % 3 WHEN 0 THEN 8000 + (doc_id % 5) * 2000
     WHEN 2 THEN 44100 END)::INT AS sample_rate,
  (CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 2 WHEN 2 THEN 2 END)::INT
    AS channels,
  (CASE doc_id % 3 WHEN 0 THEN 'pcm16' WHEN 1 THEN 'avc1'
     ELSE 'mp3' END) AS codec
FROM documents WHERE doc_id < 600
""")
def mm_media_meta_q(spark, sf_dir):
    """Container-metadata extraction (r12, sources/multimodal
    probe_media_meta / extract_media_meta): per-doc media bytes are BUILT
    executor-side by the in-package fixture twins (write_wav /
    write_mp4_stub / write_mp3_stub — kind and every parameter derive
    arithmetically from doc_id) and then PARSED back by the metadata
    prober (WAV fmt/data chunks, ISO-BMFF mvhd/tkhd/stsd box walk, MPEG1
    Layer III frame header behind an ID3v2 tag); the oracle recomputes
    the same facts from doc_id directly, so any builder/parser asymmetry
    — box offsets, fixed-point dims, syncsafe ID3 size, CBR duration
    math — turns the row red (the warc_ingest_roundtrip pattern).
    Shape: one Arrow kernel; metadata never touches payload bytes.
    Reference analog: none (multimodal family)."""
    import pandas as pd

    from .sources.multimodal import (extract_media_meta, write_mp3_stub,
                                     write_mp4_stub, write_wav)

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")

    def build(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 3 == 0:
                    sr = 8000 + (d % 5) * 2000
                    content = write_wav(sr, 1 + d % 2, 16, sr // 2)
                elif d % 3 == 1:
                    content = write_mp4_stub(320 + (d % 10) * 16,
                                             180 + (d % 10) * 9,
                                             1000 + (d % 7) * 500)
                else:
                    content = write_mp3_stub(5 + d % 20)
                rows.append((str(d), content))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = docs.mapInPandas(build, "media_id string, content binary")
    return (extract_media_meta(media)
            .select(F.col("media_id").cast("long").alias("doc_id"),
                    "container", "width", "height",
                    F.col("duration_ms").cast("long").alias("duration_ms"),
                    "sample_rate", "channels", "codec"))


@_register("pdf_text_extract", """
WITH base AS (
  SELECT doc_id, text,
         (1 + doc_id % 3) AS n,
         ((n_chars + doc_id % 3) // (1 + doc_id % 3)) AS L
  FROM documents WHERE doc_id < 600),
pages AS (
  SELECT doc_id, i, n,
    (CASE WHEN doc_id % 5 = 0 THEN chr((8211 + doc_id % 4)::INT)
          ELSE '' END)
      || substr(text, ((i - 1) * L + 1)::BIGINT, L::BIGINT) AS raw
  FROM base, LATERAL (SELECT UNNEST(range(1, n + 1)) AS i) t)
SELECT doc_id, i::INT AS page, n::INT AS total_pages,
  (CASE WHEN length(raw) > 25
        THEN substr(raw, 1, 25) || chr(10) || substr(raw, 26)
        ELSE raw END) AS text
FROM pages
""")
def pdf_text_extract_q(spark, sf_dir):
    """PDF text-layer extraction (r13, sources/pdf — the analog of the
    reference's per-page PDF processing, services/processPDF.py:117
    extract_text_from_pdf_async + :38 process_pdf): per-doc PDFs are
    BUILT executor-side by the in-module writer twin (page count, page
    slicing, a mid-page line break, compression / hex-string /
    UTF-16BE-string / split-content-stream variants ALL derive
    arithmetically from doc_id) and PARSED back by the real text-layer
    parser (scan+xref object index, page-tree walk, FlateDecode,
    BT..ET Tj/TJ/T*/Td operators); the oracle recomputes the expected
    per-page text from the documents table directly, so any
    builder/parser asymmetry — string escaping, UTF-16 decode, stream
    concatenation, newline semantics — turns the row red (the
    mm_media_meta pattern).  Shape: two Arrow kernels (build, parse),
    scan-side, zero shuffle; file-level parallelism at 100 TB via
    binaryFile (read_pdf)."""
    import pandas as pd

    from .sources.pdf import pdf_extract_kernel, write_pdf

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d, text = int(d), str(text)
                n = 1 + d % 3
                pl = (len(text) + n - 1) // n
                deco = chr(8211 + d % 4) if d % 5 == 0 else ""
                pages = []
                for i in range(1, n + 1):
                    raw = deco + text[(i - 1) * pl:i * pl]
                    if len(raw) > 25:
                        raw = raw[:25] + "\n" + raw[25:]
                    pages.append(raw)
                content = write_pdf(pages, compress=d % 2 == 0,
                                    hex_strings=d % 5 == 1,
                                    split_streams=d % 4 == 0)
                rows.append((d, content))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    media = docs.mapInPandas(build, "doc_id long, content binary")
    parsed = media.mapInPandas(
        pdf_extract_kernel,
        "doc_id long, page int, total_pages int, text string, error string")
    return parsed.select("doc_id", "page", "total_pages", "text")


@_register("pdf_cmap_text", """
WITH base AS (
  SELECT doc_id, text,
         (1 + doc_id % 2) AS n,
         ((n_chars + doc_id % 2) // (1 + doc_id % 2)) AS L,
         chr((945 + doc_id % 24)::INT) AS deco
  FROM documents WHERE doc_id < 500),
pages AS (
  SELECT doc_id, i, n,
    deco || substr(text, ((i - 1) * L + 1)::BIGINT, L::BIGINT) AS raw
  FROM base, LATERAL (SELECT UNNEST(range(1, n + 1)) AS i) t)
SELECT doc_id, i::INT AS page, n::INT AS total_pages,
  (CASE WHEN length(raw) > 30
        THEN substr(raw, 1, 30) || chr(10) || substr(raw, 31)
        ELSE raw END) AS text
FROM pages
""")
def pdf_cmap_text_q(spark, sf_dir):
    """PDF /ToUnicode CMap decode (r14, VERDICT r11 task 4 —
    sources/pdf: the fidelity layer the reference gets from PyMuPDF in
    services/processPDF.py:117): per-doc PDFs are built executor-side
    with ``cmap_font=True`` — show strings in a NON-identity byte
    encoding (codes assigned per distinct character, 1- or 2-byte
    codespace as the alphabet requires) that is GIBBERISH under the
    r13 latin-1 rules; the code table is published per doc_id as a
    /ToUnicode CMap stream (bfchar pairs + bfrange runs, chunked
    blocks), as a simple-font /Encoding /Differences glyph-name array
    (uniXXXX + AGL names), or as BOTH (the reader must prefer
    ToUnicode) — the parser must actually read whichever table is
    present to recover the text.  Every page is decorated with a
    doc_id-derived Greek letter so multi-byte destinations are
    exercised on every row; compression and split-stream variants
    sweep by doc_id.  The oracle recomputes the expected per-page text
    closed-form from the documents table — any writer/reader
    asymmetry (range increment rule, block chunking, code width,
    glyph-name resolution, precedence) turns the row red.  Shape: two
    Arrow kernels, scan-side, zero shuffle."""
    import pandas as pd

    from .sources.pdf import pdf_extract_kernel, write_pdf

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 500).select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d, text = int(d), str(text)
                n = 1 + d % 2
                pl = (len(text) + n - 1) // n
                deco = chr(945 + d % 24)
                pages = []
                for i in range(1, n + 1):
                    raw = deco + text[(i - 1) * pl:i * pl]
                    if len(raw) > 30:
                        raw = raw[:30] + "\n" + raw[30:]
                    pages.append(raw)
                # encoding publication sweeps by doc_id: CMap only /
                # Differences only / both (ToUnicode precedence);
                # Differences are single-byte — alphabets past 254
                # distinct chars fall back to the CMap form
                # (deterministic from the text, oracle-invariant)
                enc = d % 3
                fits = len({c for p in pages for c in p
                            if c != "\n"}) <= 0xFE
                use_diff = enc >= 1 and fits
                use_cmap = enc != 1 or not fits
                content = write_pdf(pages, compress=d % 2 == 0,
                                    split_streams=d % 3 == 0,
                                    cmap_font=use_cmap,
                                    diff_encoding=use_diff)
                rows.append((d, content))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    media = docs.mapInPandas(build, "doc_id long, content binary")
    parsed = media.mapInPandas(
        pdf_extract_kernel,
        "doc_id long, page int, total_pages int, text string, error string")
    return parsed.select("doc_id", "page", "total_pages", "text")


@_register("pdf_ocr_seam", """
WITH base AS (
  SELECT doc_id, text,
         (1 + doc_id % 2) AS n,
         ((n_chars + doc_id % 2) // (1 + doc_id % 2)) AS L
  FROM documents WHERE doc_id < 500),
pages AS (
  SELECT doc_id, i, n,
    (CASE WHEN (doc_id + i) % 2 = 0 THEN 'scan: ' ELSE '' END)
      || substr(text, ((i - 1) * L + 1)::BIGINT, L::BIGINT) AS text
  FROM base, LATERAL (SELECT UNNEST(range(1, n + 1)) AS i) t)
SELECT doc_id, i::INT AS page, n::INT AS total_pages, text
FROM pages
""")
def pdf_ocr_seam_q(spark, sf_dir):
    """Scanned-page OCR seam (r14 — the second half of the reference's
    PDF fidelity, services/processPDF.py provider OCR): per-doc PDFs
    mix TEXT-LAYER pages with SCANNED pages (image-only — no text
    operators, one /Image XObject drawn by ``Do``; which pages are
    scanned derives from (doc_id + page) parity, so every multi-page
    doc mixes both legs).  Extraction runs with the deterministic
    ``ocr_stub`` plugged into the ``ocr=`` seam: scanned pages are
    DETECTED (empty text layer + image resources), their XObject
    streams resolved and routed through the callable — the 'scan: '
    marker in the expected text proves the OCR leg produced the row,
    not the text layer (a routing bug yields '' and a hash mismatch).
    A real deployment passes a real OCR engine through the same slot;
    the detection/resolution plumbing is what this row pins.  Shape:
    two Arrow kernels, scan-side, zero shuffle."""
    import pandas as pd

    from .sources.pdf import make_pdf_extract_kernel, ocr_stub, write_pdf

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 500).select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d, text = int(d), str(text)
                n = 1 + d % 2
                pl = (len(text) + n - 1) // n
                pages, scanned = [], set()
                for i in range(1, n + 1):
                    raw = text[(i - 1) * pl:i * pl]
                    if (d + i) % 2 == 0:
                        scanned.add(i - 1)
                        raw = "scan: " + raw
                    pages.append(raw)
                content = write_pdf(pages, compress=d % 2 == 0,
                                    scanned=scanned)
                rows.append((d, content))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    media = docs.mapInPandas(build, "doc_id long, content binary")
    parsed = media.mapInPandas(
        make_pdf_extract_kernel(ocr=ocr_stub),
        "doc_id long, page int, total_pages int, text string, error string")
    return parsed.select("doc_id", "page", "total_pages", "text")


@_register("connector_transpose", """
WITH d AS (
  SELECT doc_id, text, doc_id % 6 AS r, 'w' || (doc_id % 4) AS ws
  FROM documents WHERE doc_id < 600)
SELECT doc_id,
 CASE WHEN r IN (0, 1) THEN 'slack' WHEN r = 5 THEN 'custom'
      ELSE 'linear' END AS connector,
 CASE WHEN r = 2 THEN 'issue' ELSE 'text' END AS memory_type,
 CASE r
   WHEN 0 THEN text
   WHEN 1 THEN substr(text, 1, 20) || ' ||| ' || substr(text, 21, 20)
               || ' ||| ' || substr(text, 41, 20)
   WHEN 2 THEN 'Issue ' || doc_id
   WHEN 3 THEN 'Project: P' || doc_id || chr(10)
               || 'Milestones: [''m1'', ''m' || (doc_id % 5) || ''']'
   WHEN 4 THEN 'User: User' || doc_id || ' (u' || doc_id || '@x.example)'
   ELSE text END AS content,
 CASE WHEN r IN (0, 1) THEN 'slack' WHEN r = 5 THEN ''
      ELSE 'linear' END AS source_type,
 CASE r WHEN 0 THEN 'Slack Message' WHEN 1 THEN 'Slack Message'
        WHEN 2 THEN 'P' || (doc_id % 3) || ', Issues'
        WHEN 3 THEN 'P' || doc_id || ', Projects'
        WHEN 4 THEN 'Users'
        ELSE 'G' || (doc_id % 2) END AS hierarchical_structures,
 CASE r WHEN 0 THEN 'https://slack.example/p' || doc_id
        WHEN 1 THEN 'su1-' || doc_id ELSE '' END AS source_url,
 ws AS workspace_id,
 (CASE WHEN r = 0 THEN doc_id % 2 = 0 ELSE TRUE END) AS is_private,
 CASE r WHEN 0 THEN 'U1,U2' WHEN 1 THEN 'U1,U3' ELSE '' END AS acl_csv,
 CASE r WHEN 0 THEN 'S' || doc_id WHEN 1 THEN 'L' || doc_id
        WHEN 2 THEN 'I' || doc_id WHEN 3 THEN 'PR' || doc_id
        WHEN 4 THEN 'U' || doc_id ELSE 'G' || doc_id END AS meta_id,
 CASE r
   WHEN 0 THEN 'acl_object_ids,authed_user_id,block_id,channel_id,'
     || 'channel_name,client_msg_id,connector,hierarchical structures,'
     || 'is_private,slack_id,sourceType,sourceUrl,workspace_id'
   WHEN 1 THEN 'acl_object_ids,authed_user_id,client_msg_ids,connector,'
     || 'hierarchical structures,is_private,members,slack_id,sourceType,'
     || 'sourceUrl,source_urls,type,user_ids,workspace_id'
   WHEN 2 THEN 'acl_object_ids,connector,hierarchical structures,'
     || 'is_private,linear_id,priority,project_name,sourceType,'
     || 'sourceUrl,title,workspace_id'
   WHEN 3 THEN 'acl_object_ids,connector,hierarchical structures,'
     || 'is_private,linear_id,name,projectMilestones,sourceType,'
     || 'sourceUrl,workspace_id'
   WHEN 4 THEN 'acl_object_ids,active,connector,displayName,email,'
     || 'hierarchical structures,is_private,linear_id,sourceType,'
     || 'sourceUrl,workspace_id'
   ELSE 'acl_object_ids,connector,content,custom_id,'
     || 'hierarchical structures,is_private,project_name,sourceType,'
     || 'sourceUrl,workspace_id' END AS meta_keys
FROM d
""")
def connector_transpose_q(spark, sf_dir):
    """Connector transposition (r13, operators/connector — the analog of
    services/connector_service.py:95 transpose_data_to_memory): per-doc
    connector events are BUILT executor-side (Slack message with blocks
    + ts fields + nested channel dict, Slack messageList with 3
    messages and a comma-string member list, Linear issue / project /
    user, and a generic route whose ``stats``/``latest_ts`` keys
    exercise the substring ts-removal rule), transposed by the real
    operator, and checked against an oracle that recomputes EVERY
    routed field — content rules, ``' ||| '`` joins, id->
    ``<connector>_id`` rename (``meta_id``), flatten (``channel_name``
    inside ``meta_keys``), ts-drop, exclusion lists, and the final
    metadata KEY SET per route.  Shape: one Arrow kernel, scan-side,
    zero shuffle."""
    import pandas as pd

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id", "text")

    def build(batches):
        import json as J
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d, text = int(d), str(text)
                r = d % 6
                if r == 0:
                    url = "https://hooks.example/slack/messages"
                    payload = {
                        "text": text, "ts": f"171{d}",
                        "client_msg_id": f"cm{d}",
                        "sourceUrl": f"https://slack.example/p{d}",
                        "channel": {"id": f"C{d}", "name": f"gen{d % 3}",
                                    "created_ts": d},
                        "id": f"S{d}", "is_private": d % 2 == 0,
                        "authed_user_id": f"U{d % 7}",
                        "members": ["U2", "U1", "U2"],
                        "blocks": [{"block_id": f"b{d}"}]}
                elif r == 1:
                    url = "https://hooks.example/slack/messages"
                    payload = {
                        "type": "messageList",
                        "messages": [
                            {"text": text[0:20], "user": "U1",
                             "client_msg_id": f"a{d}",
                             "sourceUrl": f"su1-{d}", "ts": "x"},
                            {"text": text[20:40], "user": "U2",
                             "client_msg_id": f"b{d}",
                             "sourceUrl": f"su2-{d}"},
                            {"text": text[40:60], "user": "U3",
                             "client_msg_id": f"c{d}",
                             "sourceUrl": f"su3-{d}"}],
                        "members": "U3,U1,U3",
                        "authed_user_id": f"U{d % 7}", "id": f"L{d}"}
                elif r == 2:
                    url = "https://hooks.example/linear/issues"
                    payload = {"title": f"Issue {d}", "id": f"I{d}",
                               "project": {"name": f"P{d % 3}",
                                           "updated_ts": d},
                               "priority": d % 5, "estimate": None}
                elif r == 3:
                    url = "https://hooks.example/linear/projects"
                    payload = {"name": f"P{d}",
                               "projectMilestones": ["m1", f"m{d % 5}"],
                               "id": f"PR{d}"}
                elif r == 4:
                    url = "https://hooks.example/linear/users"
                    payload = {"displayName": f"User{d}",
                               "email": f"u{d}@x.example",
                               "id": f"U{d}", "active": True}
                else:
                    url = "https://hooks.example/custom/events"
                    payload = {"content": text,
                               "project": {"name": f"G{d % 2}"},
                               "id": f"G{d}", "stats": {"a": 1},
                               "latest_ts": d}
                rows.append((d, url, J.dumps(payload), f"w{d % 4}"))
            yield pd.DataFrame(rows, columns=["doc_id", "url", "payload",
                                              "ws"])

    from .operators.connector import transpose_connector_events

    events = docs.mapInPandas(
        build, "doc_id long, url string, payload string, ws string")
    out = transpose_connector_events(events, workspace_col="ws",
                                     passthrough={"doc_id": "long"})
    meta_map = F.from_json("metadata_json", "map<string,string>")
    return (out
            .select("doc_id", "connector", "memory_type", "content",
                    "source_type", "hierarchical_structures",
                    "source_url", "workspace_id", "is_private",
                    F.array_join("acl_object_ids", ",").alias("acl_csv"),
                    F.element_at(meta_map, F.concat(
                        F.col("connector"), F.lit("_id"))).alias("meta_id"),
                    F.array_join(F.map_keys(meta_map), ",")
                    .alias("meta_keys")))


# oracle built at import time from the LIVE twin in functions/bpe: the
# registry row encodes with the import-time seed vocabulary (deterministic
# without Spark); the distributed trainer is pinned in tests (iterative
# training is not SQL-expressible, encoding IS — the sentinel-wrapped
# replace fold)
from .functions import bpe as _bpe  # noqa: E402

_BPE_MERGES = _bpe.seed_merges(200)
_BPE_ORACLE = f"""SELECT doc_id,
 {_bpe.bpe_token_count_sql('text', _BPE_MERGES)} AS n_bpe_tokens,
 md5({_bpe.apply_bpe_sql('text', _BPE_MERGES)}) AS encoded_md5
FROM documents WHERE doc_id < 900"""


@_register("bpe_subword_stats", _BPE_ORACLE)
def bpe_subword_stats_q(spark, sf_dir):
    """BPE subword encoding (r12, functions/bpe): encode every document
    with a 200-merge vocabulary (trained deterministically at import from
    the quality classifier's seed prose; the DISTRIBUTED trainer —
    train_bpe, one combinable word-count groupBy + a bounded driver merge
    loop — is reference-pinned in tests) and emit token count + an md5 of
    the full encoded representation, so any divergence in merge order,
    sentinel scheme or replace semantics turns the row red.  Shape: a
    pure JVM string-replace fold — zero UDF, zero shuffle, scan-side; the
    DuckDB twin folds the same merge literals via list_reduce.
    Reference analog: none (LLM-data-pipeline family)."""
    from .functions.bpe import apply_bpe, bpe_token_count

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 900)
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text"), _BPE_MERGES).alias("n_bpe_tokens"),
        F.md5(apply_bpe(F.col("text"), _BPE_MERGES)).alias("encoded_md5"))


_BPE_SHARD_ORACLE = f"""WITH costed AS (
  SELECT doc_id,
    {_bpe.bpe_token_count_sql('text', _BPE_MERGES)} AS n_bpe_tokens
  FROM documents WHERE doc_id < 900)
SELECT doc_id, n_bpe_tokens,
  (COALESCE(SUM(n_bpe_tokens) OVER (ORDER BY doc_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
   // 3000)::INT AS shard
FROM costed"""


@_register("shard_bpe_budget", _BPE_SHARD_ORACLE)
def shard_bpe_budget_q(spark, sf_dir):
    """Trained-BPE tokens driving the shard budget (r13, VERDICT r10
    task 6 — the crawl_to_training_shards ``token_budget`` composition,
    oracle-expressible form): every document is costed in TRAINED-
    tokenizer units (functions/bpe.bpe_token_count under the import-time
    merge table — the data-loader reality; whitespace counts and BPE
    counts diverge per document) and packed into sequential ~3000-token
    shards by the EXACT distributed prefix sum
    (writers.shard_by_token_budget: range-bucket + broadcast offsets +
    per-bucket window — no single-partition window, so a 100 TB corpus
    shards without a scale-killer stage).  The oracle is the literal
    windowed prefix-sum definition over the same SQL-twin token counts.
    Shape: one JVM replace-fold projection + the 3-stage prefix-sum
    plan; zero UDF."""
    from .functions.bpe import bpe_token_count
    from .sources.writers import shard_by_token_budget

    # r13 OPT: the BPE replace-fold is the one genuinely expensive
    # per-row projection in this row; the sf fixture scan is a single
    # row-group (one task), so fan_out spreads the fold across cores
    # (no-op at scale where the scan already has splits)
    docs = tables.fan_out(
        tables.load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 900).select("doc_id", "text")) \
        .select("doc_id",
                bpe_token_count(F.col("text"), _BPE_MERGES)
                .alias("n_bpe_tokens"))
    return shard_by_token_budget(docs, 3000, id_col="doc_id",
                                 tokens_col="n_bpe_tokens") \
        .select("doc_id", "n_bpe_tokens", "shard")


from .functions import urls as _urls_mod  # noqa: E402

_SM_XML = ("'<urlset><url><loc>https://WWW.s' || (doc_id % 4) || "
           "'.example:443/page/' || doc_id || '/</loc></url>"
           "<url><loc> https://s' || (doc_id % 4) || '.example/q?id=' || "
           "(doc_id % 9) || '&amp;utm_source=x </loc></url>"
           "<url><loc>ftp://skip.example/x</loc></url></urlset>'")


def _sm_oracle() -> str:
    locs = _urls_mod.sitemap_locs_sql(_SM_XML)
    canon = _urls_mod.canonical_url_sql("loc")
    return f"""WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id < 600),
ex AS (SELECT UNNEST({locs}) AS loc FROM d)
SELECT {canon} AS frontier_url, COUNT(*)::BIGINT AS n_refs
FROM ex GROUP BY frontier_url"""


@_register("sitemap_frontier", _sm_oracle())
def sitemap_frontier_q(spark, sf_dir):
    """Sitemap-driven frontier discovery (r13, functions/urls
    .sitemap_locs — the discovery complement of robots_gate: sitemaps
    FEED the frontier, robots GATES it): per-doc sitemap XML (CDATA-free
    and entity-bearing locs, a www/:443/trailing-slash variant, a
    tracking-param variant, and an ftp loc that must drop) is built as
    a pure Column expression, locs extract through the Column twin,
    canonicalize through canonical_url, and ONE combinable groupBy
    emits the deduplicated frontier with reference counts; the oracle
    runs the SAME construction through the SQL twins.  Shape: scan-side
    projection + explode + one groupBy — zero UDF."""
    from .functions.urls import canonical_url, sitemap_locs

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    xml = F.concat(
        F.lit("<urlset><url><loc>https://WWW.s"), F.col("doc_id") % 4,
        F.lit(".example:443/page/"), F.col("doc_id"),
        F.lit("/</loc></url><url><loc> https://s"), F.col("doc_id") % 4,
        F.lit(".example/q?id="), F.col("doc_id") % 9,
        F.lit("&amp;utm_source=x </loc></url>"
              "<url><loc>ftp://skip.example/x</loc></url></urlset>"))
    ex = d.select(F.explode(sitemap_locs(xml)).alias("loc"))
    return (ex.select(canonical_url(F.col("loc")).alias("frontier_url"))
            .groupBy("frontier_url")
            .agg(F.count("*").alias("n_refs")))


_LG_BASE = "'https://h' || (doc_id % 5) || '.example/p/' || doc_id"
_LG_HTML = ("'<p><a href=\"https://t' || (doc_id % 3) || "
            "'.example/x\">a</a><a href=''/local/' || doc_id || "
            "'''>b</a><a href=\"//t' || (doc_id % 4) || "
            "'.example/y\">c</a><a href=\"mailto:a@b\">m</a></p>'")
_LG_HOST = ("lower(regexp_replace(regexp_replace(regexp_extract("
            "regexp_replace(dst, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), "
            "'^([^/?#]+)', 1), '^.*@', ''), ':[0-9]+$', ''))")


def _lg_oracle() -> str:
    from .functions.html import extract_links_sql

    links = extract_links_sql(_LG_HTML, _LG_BASE)
    return f"""WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id < 600),
ex AS (
  SELECT 'h' || (doc_id % 5) || '.example' AS src_host,
         UNNEST({links}) AS dst
  FROM d)
SELECT src_host, {_LG_HOST} AS dst_host,
       COUNT(*)::BIGINT AS n_links
FROM ex GROUP BY src_host, dst_host"""


@_register("link_graph", _lg_oracle())
def link_graph_q(spark, sf_dir):
    """Outbound-link host graph (r13, functions/html.extract_links —
    the crawl-frontier / PageRank-input primitive): per-doc HTML is
    built as a PURE Column expression (absolute, root-relative,
    protocol-relative and mailto anchors, all doc_id-derived), links
    extract + resolve through the Column twin, hosts through url_host,
    and one combinable groupBy emits {src_host, dst_host, n_links};
    the oracle runs the SAME construction through the SQL twins
    (extract_links_sql lives beside the Column form so the regex tables
    cannot drift).  Shape: scan-side projection + explode + ONE
    groupBy; composes with operators/graph pagerank for
    frontier-priority scoring."""
    from .functions.html import extract_links
    from .functions.urls import url_host

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    base = F.concat(F.lit("https://h"), F.col("doc_id") % 5,
                    F.lit(".example/p/"), F.col("doc_id"))
    html = F.concat(
        F.lit('<p><a href="https://t'), F.col("doc_id") % 3,
        F.lit('.example/x">a</a><a href=\'/local/'), F.col("doc_id"),
        F.lit('\'>b</a><a href="//t'), F.col("doc_id") % 4,
        F.lit('.example/y">c</a><a href="mailto:a@b">m</a></p>'))
    ex = (d.select(
        F.concat(F.lit("h"), F.col("doc_id") % 5, F.lit(".example"))
        .alias("src_host"),
        F.explode(extract_links(html, base)).alias("dst")))
    return (ex.select("src_host", url_host(F.col("dst")).alias("dst_host"))
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n_links")))


def _mh_band_ctes(prefix: str, src: str, num_hashes: int = 16,
                  bands: int = 4) -> str:
    """Parameterized DuckDB minhash band-table CTEs (the _minhash_sql
    twin generalized to any source select): emits ``{prefix}b`` with
    {id, band_idx, band_hash}."""
    rows = num_hashes // bands
    return f"""
{prefix}tk AS (
  SELECT id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM ({src})
), {prefix}sh AS (
  SELECT id,
    list_distinct(list_transform(
      range(1, greatest(len(tk) - 2, 1) + 1),
      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
  FROM {prefix}tk
), {prefix}sig AS (
  SELECT id, shingles,
    list_transform(range(0, {num_hashes}),
      i -> list_aggregate(list_transform(shingles,
             s -> md5(i::VARCHAR || ':' || s)), 'min')) AS sig
  FROM {prefix}sh
), {prefix}b AS (
  SELECT id, u['band_idx'] AS band_idx, u['band_hash'] AS band_hash FROM (
    SELECT id,
      UNNEST(list_transform(range(0, {bands}),
        b -> {{'band_idx': b, 'band_hash': md5(array_to_string(
              list_slice(sig, b * {rows} + 1, b * {rows} + {rows}),
              ','))}})) AS u
    FROM {prefix}sig)
)"""


_FDC_ORACLE = f"""WITH
{_mh_band_ctes("c_", "SELECT doc_id AS id, text FROM documents "
                     "WHERE doc_id < 400")},
{_mh_band_ctes("e_", "SELECT doc_id AS id, "
                     "(CASE WHEN doc_id % 9 = 4 THEN text "
                     " ELSE text || ' appended evaluation suffix tokens'"
                     " END) AS text "
                     "FROM documents WHERE doc_id < 400 "
                     "AND doc_id % 9 IN (4, 7)")},
cand AS (
  SELECT DISTINCT c.id AS cid, e.id AS eid
  FROM c_b c JOIN e_b e
    ON c.band_idx = e.band_idx AND c.band_hash = e.band_hash),
hit AS (
  SELECT DISTINCT cand.cid
  FROM cand
  JOIN c_sh cs ON cs.id = cand.cid
  JOIN e_sh es ON es.id = cand.eid
  WHERE len(list_intersect(cs.shingles, es.shingles))::DOUBLE
        / greatest(len(list_distinct(cs.shingles || es.shingles)), 1)
        >= 0.8)
SELECT d.doc_id, (CASE WHEN h.cid IS NULL THEN 0 ELSE 1 END) AS contaminated
FROM documents d LEFT JOIN hit h ON h.cid = d.doc_id
WHERE d.doc_id < 400"""


@_register("fuzzy_decontamination", _FDC_ORACLE)
def fuzzy_decontamination_q(spark, sf_dir):
    """Doc-level FUZZY decontamination (r14,
    operators/bloom.fuzzy_contamination_flags — the GPT-3 appendix-C /
    The-Pile complement of the exact n-gram rows): an eval set built
    from the corpus itself (exact copies for doc_id%9==4, suffix-
    perturbed copies for %9==7) is banded alongside the corpus, the
    CROSS-table (band_idx, band_hash) equi-join proposes candidates —
    never a corpus self-join — and the exact shingle-Jaccard refine at
    the 0.8 house threshold issues a per-doc verdict.  The oracle
    mirrors the FULL pipeline including banding (the parameterized
    band-table twin), so candidate recall is part of the pinned
    semantics, not an assumption: exact copies always collide; whether
    a perturbed copy reaches a band match is decided identically by
    both engines.  Shape: two band tables + one broadcast-able
    candidate join + refine on candidates only; zero self-join."""
    from .operators.bloom import fuzzy_contamination_flags

    corpus = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 400).select("doc_id", "text")
    ev = (corpus.filter(F.col("doc_id") % 9 == 4)
          .select(F.col("doc_id").alias("eval_id"), "text")
          .unionByName(
              corpus.filter(F.col("doc_id") % 9 == 7)
              .select(F.col("doc_id").alias("eval_id"),
                      F.concat(F.col("text"),
                               F.lit(" appended evaluation suffix "
                                     "tokens")).alias("text"))))
    return fuzzy_contamination_flags(corpus, ev, threshold=0.8)


@_register("robots_sitemap_discovery", """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 600),
s1 AS (SELECT 'https://cdn.example/sm/' || (doc_id % 25) || '.xml' AS url
       FROM d WHERE doc_id % 3 <> 0),
s2 AS (SELECT 'https://maps.example/idx.xml?page=' || (doc_id % 7) AS url
       FROM d WHERE doc_id % 4 = 0),
u AS (SELECT url FROM s1 UNION ALL SELECT url FROM s2)
SELECT url AS sitemap_url, COUNT(*)::BIGINT AS n_hosts
FROM u GROUP BY 1
""")
def robots_sitemap_discovery_q(spark, sf_dir):
    """Sitemap directives out of robots.txt (r14,
    functions/robots.robots_sitemaps — the discovery bridge: robots.txt
    advertises sitemaps, sitemap_locs advertises the frontier): one
    synthetic robots body per host mixes directive case (Sitemap /
    sItEmAp / SITEMAP), trailing comments, rule noise, and 0-2
    directives by doc_id arithmetic; extraction is the pure Column
    regex, then canonical_url folds the advertised URLs (uppercase
    hosts lowercase; utm_ tracking params drop) and ONE combinable
    groupBy counts referencing hosts.  The oracle states the canonical
    URLs and counts closed-form — independent of both regexes, so a
    drift in either extraction or canonicalization turns the row red.
    Shape: scan-side projections + explode + one groupBy; zero UDF."""
    from .functions.robots import robots_sitemaps
    from .functions.urls import canonical_url

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    i = F.col("doc_id")
    s1 = F.when(i % 3 != 0, F.concat(
        F.when(i % 2 == 0, F.lit("Sitemap: "))
        .otherwise(F.lit("sItEmAp:  ")),
        F.lit("https://CDN.example/sm/"), i % 25,
        F.lit(".xml  # advertised")))
    s2 = F.when(i % 4 == 0, F.concat(
        F.lit("SITEMAP: https://MAPS.example/idx.xml?utm_source=x&page="),
        i % 7))
    body = F.concat_ws(
        "\n", F.lit("User-agent: *"),
        F.lit("Disallow: /private/  # rule noise, not a directive"),
        s1, F.lit("# sitemap: https://comment.example/no.xml"), s2)
    robots = d.select(F.concat(F.lit("h"), i, F.lit(".example"))
                      .alias("host"), body.alias("content"))
    ex = robots.select(F.explode(robots_sitemaps(F.col("content")))
                       .alias("raw"))
    return (ex.select(canonical_url(F.col("raw")).alias("sitemap_url"))
            .groupBy("sitemap_url")
            .agg(F.count("*").alias("n_hosts")))


@_register("crawl_politeness_waves", """
WITH f AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'hot.example'
         ELSE 'h' || (doc_id % 5) || '.example' END AS host
  FROM documents WHERE doc_id < 600),
u AS (SELECT host, 'https://' || host || '/p/' || doc_id AS url FROM f),
r AS (SELECT host, url,
        ROW_NUMBER() OVER (
          PARTITION BY host
          ORDER BY ('0x' || substr(md5('wave:' || url), 1, 8))::BIGINT ASC,
                   url ASC) AS rn
      FROM u)
SELECT host, url, ((rn - 1) // 20)::INT AS wave FROM r
""")
def crawl_politeness_waves_q(spark, sf_dir):
    """Per-host politeness scheduling (r14,
    plans/crawl.politeness_waves): a frontier where ONE host carries
    half the URLs (the Zipfian crawl reality) is partitioned into fetch
    waves of 20 URLs per host — rank by salted url-md5 (deterministic
    uniform spread), wave = (rank-1)//20.  The oracle IS the hot-host
    window form; the operator computes identical ranks with the
    skew-proof grouped_exact_ranks shape (percentile range-buckets +
    broadcast offsets; every window partitioned by (host, bucket),
    never by host alone — the mega-host never pins one task;
    plan-pinned in tests)."""
    from .plans.crawl import politeness_waves

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    i = F.col("doc_id")
    host = F.when(i % 2 == 0, F.lit("hot.example")) \
        .otherwise(F.concat(F.lit("h"), i % 5, F.lit(".example")))
    frontier = d.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"), i).alias("url"))
    return politeness_waves(frontier, 20)


@_register("frontier_priority_waves", """
WITH f AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'hot.example'
         ELSE 'h' || (doc_id % 5) || '.example' END AS host
  FROM documents WHERE doc_id < 600),
u AS (SELECT doc_id, host,
             'https://' || host || '/p/' || doc_id AS url FROM f),
-- quadratic link map -> skewed in-degree (0/1/2/4... inlinks per page)
l AS (SELECT (doc_id * doc_id + 3 * doc_id) % 600 AS t FROM f),
ind AS (SELECT t AS doc_id, COUNT(*) AS c FROM l GROUP BY t),
p AS (SELECT u.host, u.url, COALESCE(ind.c, 0)::INT AS priority
      FROM u LEFT JOIN ind USING (doc_id)),
r AS (SELECT host, url, priority,
        ROW_NUMBER() OVER (
          PARTITION BY host
          ORDER BY priority DESC,
                   ('0x' || substr(md5('wave:' || url), 1, 8))::BIGINT ASC,
                   url ASC) AS rn
      FROM p)
SELECT host, url, priority, ((rn - 1) // 20)::INT AS wave FROM r
""")
def frontier_priority_waves_q(spark, sf_dir):
    """Priority-ordered politeness waves (r15,
    plans/crawl.politeness_waves(priority_col=)): per-URL in-degree from
    a skewed synthetic link map becomes the crawl priority — within each
    host the most-linked pages take the EARLIEST waves (focused-crawl
    order), the salted md5 still spreading ties.  The oracle is the
    hot-host window form ordered (priority DESC, md5 ASC); the operator
    packs the same order into one ascending long for the skew-proof
    grouped rank, so a packing or clamp drift turns the row red."""
    from .plans.crawl import politeness_waves

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    i = F.col("doc_id")
    host = F.when(i % 2 == 0, F.lit("hot.example")) \
        .otherwise(F.concat(F.lit("h"), i % 5, F.lit(".example")))
    urls = d.select(
        "doc_id", host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"), i).alias("url"))
    ind = (d.select(((i * i + 3 * i) % 600).alias("doc_id"))
           .groupBy("doc_id").agg(F.count("*").alias("_c")))
    frontier = (urls.join(ind, "doc_id", "left")
                .select("host", "url",
                        F.coalesce(F.col("_c"), F.lit(0))
                        .cast("int").alias("priority")))
    return politeness_waves(frontier, 20, priority_col="priority")


@_register("politeness_crawl_delay", """
WITH f AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'hot.example'
         ELSE 'h' || (doc_id % 5) || '.example' END AS host
  FROM documents WHERE doc_id < 600),
u AS (SELECT host, 'https://' || host || '/p/' || doc_id AS url FROM f),
r AS (SELECT host, url,
        ROW_NUMBER() OVER (
          PARTITION BY host
          ORDER BY ('0x' || substr(md5('wave:' || url), 1, 8))::BIGINT ASC,
                   url ASC) AS rn
      FROM u),
capped AS (SELECT host, url, rn,
  CASE host WHEN 'hot.example' THEN 12   -- Crawl-delay 5  -> 60/5
            WHEN 'h1.example' THEN 6     -- Crawl-delay 10 -> 60/10
            WHEN 'h2.example' THEN 20    -- delay 0.5 -> 120, capped at 20
            ELSE 20 END AS cap           -- none/malformed/other-agent
  FROM r)
SELECT host, url, ((rn - 1) // cap)::INT AS wave FROM capped
""")
def politeness_crawl_delay_q(spark, sf_dir):
    """Crawl-delay-aware politeness waves (r14 second leg,
    functions/robots.parse_crawl_delay + robots_delays_table +
    plans/crawl.politeness_waves(delays=)): per-host robots bodies
    declare the de-facto ``Crawl-delay`` — 5 s on the hot host, 10 s on
    h1, 0.5 s on h2 (cap saturates at per_wave), a MALFORMED value on
    h3 (ignored), a delay in ANOTHER agent's group on h4 (not
    applying), none on h0 — and a 60 s wave at per_wave 20 gives caps
    12/6/20/20/20/20.  The REAL parser reads the bodies (group
    selection included); the oracle states the caps closed-form, so a
    parse or cap-formula drift turns the row red.  Shape: the
    skew-proof grouped rank + ONE broadcast delays join."""
    from .functions.robots import robots_delays_table
    from .plans.crawl import politeness_waves

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    i = F.col("doc_id")
    host = F.when(i % 2 == 0, F.lit("hot.example")) \
        .otherwise(F.concat(F.lit("h"), i % 5, F.lit(".example")))
    frontier = d.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/p/"), i).alias("url"))
    robots = spark.createDataFrame(
        [("hot.example", "User-agent: *\nCrawl-delay: 5\nDisallow:\n"),
         ("h1.example", "User-agent: *\nCrawl-delay: 10\n"),
         ("h2.example", "User-agent: *\nCrawl-delay: 0.5\n"),
         ("h3.example", "User-agent: *\nCrawl-delay: soon\n"),
         ("h4.example", "User-agent: otherbot\nCrawl-delay: 30\n"),
         ("h0.example", "User-agent: *\nDisallow: /private/\n")],
        "host string, content string")
    delays = robots_delays_table(robots, agent="memory-spark-crawler")
    return politeness_waves(frontier, 20, delays=delays,
                            wave_seconds=60.0)


def _cf_oracle(rounds: int = 3) -> str:
    """crawl_frontier oracle: the K BFS rounds UNROLLED as CTEs (the
    G2-bounded-paths oracle pattern).  Candidates are tracked as
    (host, num) pairs — URL strings are pure arithmetic renderings, so
    the gate (robots closed-form + blocklist) and the fetch test
    (h = num % 4 iff the URL exists in pages) need no string parsing."""
    gate = "NOT (c.h IN (1, 3) OR (c.h = 0 AND c.num % 5 = 0))"
    parts = [f"""WITH d AS (
  SELECT doc_id AS num, doc_id % 4 AS h,
         (7 * doc_id + 1) % 397 AS n1,
         (13 * doc_id + 3) % 397 AS n2
  FROM documents WHERE doc_id < 400),
s0 AS (SELECT h, num FROM d WHERE num % 50 = 2),
v0 AS (SELECT h, num FROM s0),
f0 AS (SELECT c.h, c.num FROM s0 c
       WHERE {gate} AND c.h = c.num % 4)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
c{r} AS (
  SELECT DISTINCT c.h, c.num FROM (
    SELECT d.n1 % 4 AS h, d.n1 AS num
    FROM f{r - 1} f JOIN d ON d.num = f.num AND d.h = f.h
    UNION ALL
    SELECT f.h AS h, d.n2 AS num
    FROM f{r - 1} f JOIN d ON d.num = f.num AND d.h = f.h
  ) c
  WHERE NOT EXISTS (SELECT 1 FROM v{r - 1} v
                    WHERE v.h = c.h AND v.num = c.num)),
v{r} AS (SELECT * FROM v{r - 1} UNION SELECT * FROM c{r}),
f{r} AS (SELECT c.h, c.num FROM c{r} c
         WHERE {gate} AND c.h = c.num % 4)""")
    sel = "\nUNION ALL\n".join(
        "SELECT 'https://h' || h || '.example' || "
        "(CASE WHEN num % 5 = 0 THEN '/private/' ELSE '/p/' END) || num "
        f"AS url, {r}::INT AS depth FROM f{r}"
        for r in range(rounds + 1))
    return "".join(parts) + "\n" + sel


@_register("crawl_frontier", _cf_oracle(rounds=2))
def crawl_frontier_q(spark, sf_dir):
    """Bounded-round crawl-frontier expansion (r14,
    plans/crawl.crawl_frontier — VERDICT r11 task 6): 8 seed URLs BFS
    3 rounds over a 400-page synthetic web (each page links one
    absolute double-quoted href and one root-relative single-quoted
    href, both doc_id-derived; some targets are dead links on hosts
    that never serve them), gated each round by REAL robots parsing
    (h0 disallows /private/, h1 disallows everything, h2 empty) and
    the UT1 blocklist (h3.example), candidates deduplicated against
    every URL ever considered.  The oracle unrolls the rounds as
    CTEs with the gate stated closed-form over (host, num) arithmetic
    — any frontier-semantics drift (seen-set contents, gate order,
    link resolution, fetch join) turns the row red.  Shape: per round
    ONE anti-join + broadcast rules join + ONE fetch equi-join, every
    frontier localCheckpointed (lineage stays flat — plan-pinned)."""
    from .functions.robots import robots_rules_table
    from .plans.crawl import crawl_frontier

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 400) \
        .select(F.col("doc_id").alias("num"),
                (F.col("doc_id") % 4).alias("h"),
                ((F.col("doc_id") * 7 + 1) % 397).alias("n1"),
                ((F.col("doc_id") * 13 + 3) % 397).alias("n2"))

    def path(num):
        return F.concat(
            F.when(num % 5 == 0, F.lit("/private/"))
            .otherwise(F.lit("/p/")), num)

    def url(h, num):
        return F.concat(F.lit("https://h"), h, F.lit(".example"),
                        path(num))

    pages = d.select(
        url(F.col("h"), F.col("num")).alias("url"),
        F.concat(
            F.lit('<html><body><a href="'),
            url(F.col("n1") % 4, F.col("n1")),
            F.lit('">x</a><a href=\''),
            path(F.col("n2")),
            F.lit("'>y</a></body></html>")).alias("html"))
    seeds = d.filter(F.col("num") % 50 == 2) \
        .select(url(F.col("h"), F.col("num")).alias("url"))
    robots = spark.createDataFrame(
        [("h0.example", "User-agent: *\nDisallow: /private/\n"),
         ("h1.example", "User-agent: *\nDisallow: /\n"),
         ("h2.example", "")],
        "host string, content string")
    rules = robots_rules_table(robots, agent="memory-spark-crawler")
    # fixture prep: the synthetic web and the parsed rules are built
    # ONCE — every BFS round re-reads them (at 100 TB pages is a real
    # table scan per round; here it would be a re-derivation of the
    # arithmetic fixture inside every round's job)
    pages = pages.localCheckpoint(eager=True)
    rules = rules.localCheckpoint(eager=True)
    out = crawl_frontier(seeds, pages, rounds=2, rules=rules,
                         blocklist=["h3.example"])
    return out.select("url", F.col("round").alias("depth"))


from .functions import html as _html_mod  # noqa: E402

_LA_HTML = ("'<div><a href=\"https://t' || (doc_id % 3) || "
            "'.example/x\">Read <b>about ' || source || '</b> here</a>"
            "<a href=''/p/' || (doc_id % 5) || ''' title=\"t\">  go '"
            " || doc_id || '  </a>"
            "<a href=\"//u' || (doc_id % 2) || '.example/q\"><i>proto</i>"
            "</a><a href=\"mailto:a@b\">drop</a>"
            "<a href=\"rel/path\">drop too</a></div>'")
_LA_BASE = "'https://h' || (doc_id % 4) || '.example/page/' || doc_id"


@_register("link_anchors", f"""
SELECT doc_id, p['url'] AS url, p['anchor'] AS anchor
FROM (
  SELECT doc_id,
         UNNEST({_html_mod.extract_links_anchors_sql(_LA_HTML, _LA_BASE)})
         AS p
  FROM documents WHERE doc_id < 600)
""")
def link_anchors_q(spark, sf_dir):
    """Anchor-text link extraction (r14,
    functions/html.extract_links_anchors — the crawl-priority /
    focused-crawl signal: anchor words describe the TARGET page):
    per-doc HTML built as a pure Column expression carries absolute,
    root-relative (single-quoted, extra attributes, padded anchor),
    protocol-relative (nested tags inside the anchor), mailto and
    relative hrefs; the extractor resolves the first three, strips
    inner tags and collapses whitespace in the anchor text.  Oracle
    BUILT AT IMPORT TIME from the live SQL twin (the html_text_extract
    discipline — frozen regex literals drift, built twins cannot).
    Shape: one scan-side projection + explode; zero UDF."""
    from .functions.html import extract_links_anchors

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id", "source")
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<div><a href="https://t'), i % 3,
        F.lit('.example/x">Read <b>about '), F.col("source"),
        F.lit("</b> here</a><a href='/p/"), i % 5,
        F.lit("' title=\"t\">  go "), i, F.lit('  </a>'),
        F.lit('<a href="//u'), i % 2,
        F.lit('.example/q"><i>proto</i></a>'
              '<a href="mailto:a@b">drop</a>'
              '<a href="rel/path">drop too</a></div>'))
    base = F.concat(F.lit("https://h"), i % 4, F.lit(".example/page/"), i)
    ex = d.select("doc_id",
                  F.explode(extract_links_anchors(html, base)).alias("p"))
    return ex.select("doc_id", F.col("p.url").alias("url"),
                     F.col("p.anchor").alias("anchor"))


@_register("robots_gate", """
WITH d AS (
  SELECT doc_id, doc_id % 7 AS h, doc_id % 4 AS k, doc_id % 10 AS pn
  FROM documents WHERE doc_id < 600)
SELECT doc_id,
 'https://h' || h || '.example'
   || (CASE k WHEN 0 THEN '/p/' || pn WHEN 1 THEN '/private/' || pn
              WHEN 2 THEN '/private/ok' ELSE '/q/' || pn END) AS url,
 (CASE WHEN h = 0 THEN (k = 1)::INT
       WHEN h = 1 THEN (k = 0 AND pn = 3)::INT
       WHEN h = 2 THEN (k IN (0, 1, 2))::INT
       WHEN h = 5 THEN (k <> 0)::INT
       ELSE 0 END)::INT AS blocked
FROM d
""")
def robots_gate_q(spark, sf_dir):
    """robots.txt URL gating (r13, functions/robots — RFC 9309 core):
    seven hosts carry distinct robots.txt BODIES (prefix rules, a
    $-anchored rule, a /p* wildcard that also catches /private, an
    empty file, a group for a DIFFERENT agent, the Disallow-/ +
    longer-Allow idiom, and the empty-Disallow no-op); per-doc URLs hit
    four path shapes per host.  The real parser builds the rules table
    and the join/argmax evaluator (longest pattern wins, Allow wins
    ties) produces per-URL verdicts; the oracle states the expected
    verdict closed-form per (host, path-kind), so any parser or
    specificity-rule asymmetry turns the row red.  Shape: one tiny
    Arrow parse kernel (KB robots bodies), then JVM-side joins + ONE
    argmax groupBy per url; no per-URL Python."""
    from .functions.robots import robots_rules_table, robots_verdicts

    robots_bodies = {
        0: "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n",
        1: "# anchored\nUser-agent: *\nDisallow: /p/3$\n",
        2: "User-agent: *\nDisallow: /p*\n",
        3: "",
        4: "User-agent: otherbot\nDisallow: /\n",
        5: "User-agent: *\nDisallow: /\nAllow: /p/\n",
        6: "User-agent: *\nDisallow:\n",
    }
    robots = spark.createDataFrame(
        [(f"h{h}.example", body) for h, body in robots_bodies.items()],
        "host string, content string")
    rules = robots_rules_table(robots, agent="memory-spark-crawler")

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600) \
        .select("doc_id", (F.col("doc_id") % 7).alias("h"),
                (F.col("doc_id") % 4).alias("k"),
                (F.col("doc_id") % 10).alias("pn"))
    path = (F.when(F.col("k") == 0, F.concat(F.lit("/p/"), F.col("pn")))
            .when(F.col("k") == 1, F.concat(F.lit("/private/"),
                                            F.col("pn")))
            .when(F.col("k") == 2, F.lit("/private/ok"))
            .otherwise(F.concat(F.lit("/q/"), F.col("pn"))))
    urls = d.select("doc_id", F.concat(
        F.lit("https://h"), F.col("h"), F.lit(".example"), path)
        .alias("url"))
    # r13 opt: one robots_verdicts flag pass replaces the blocked-leg +
    # kept-leg robots_blocked pair (the rules evaluation ran twice);
    # row-identical — the union of the two legs is exactly every url
    # with its verdict
    return robots_verdicts(urls, rules) \
        .select("doc_id", "url",
                F.col("robots_blocked").cast("int").alias("blocked"))


_FTR_HTML = ("'<html><body><h1>Title ' || doc_id || '</h1><p>' || text || "
             "'</p></body></html>'")
_FTR_ORACLE = f"""WITH d AS (
  SELECT doc_id, text, doc_id % 6 AS r,
         CASE WHEN doc_id % 6 = 0 THEN 2 ELSE 1 END AS np
  FROM documents WHERE doc_id < 600)
SELECT doc_id,
 CASE r WHEN 0 THEN 'application/pdf' WHEN 1 THEN 'text/html'
        WHEN 2 THEN 'text/plain' WHEN 3 THEN 'audio/wav'
        WHEN 4 THEN 'audio/mpeg'
        ELSE 'application/octet-stream' END AS mime,
 (CASE WHEN r IN (0, 1, 2) THEN i END)::INT AS page,
 (CASE WHEN r IN (0, 1, 2) THEN np END)::INT AS total_pages,
 CASE WHEN r = 0 THEN (CASE i WHEN 1 THEN 'alpha ' ELSE 'beta ' END)
                      || doc_id
      WHEN r = 1 THEN {_html_mod.html_to_text_sql(_FTR_HTML)}
      WHEN r = 2 THEN 'plain: ' || text END AS text
FROM d, LATERAL (SELECT UNNEST(range(1, np + 1)) AS i) t"""


@_register("file_type_route", _FTR_ORACLE)
def file_type_route_q(spark, sf_dir):
    """Content-sniffed multi-format ingest routing (r13,
    sources/filetype — the analog of services/processPDF.py:104
    save_uploaded_file's libmagic sniff + :43-50 process_pdf's
    pdf/html/txt loader switch): per-doc files are BUILT executor-side
    (a 2-page PDF via the r13 writer twin, an HTML document, plain
    text, WAV, MP3, and an opaque binary blob — format chosen by
    doc_id), sniffed by magic bytes, and routed — PDFs explode to
    per-page rows through the real text-layer parser, HTML finishes
    through the zero-UDF Column extractor (whose DuckDB twin computes
    the oracle's expected text), text decodes, and binary formats
    produce typed skip rows.  Shape: one Arrow kernel + one Column
    projection; binaryFile file-level parallelism via ingest_files."""
    import hashlib

    import pandas as pd

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id", "text")

    def build(batches):
        from .sources.multimodal import write_mp3_stub, write_wav
        from .sources.pdf import write_pdf
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d, text = int(d), str(text)
                r = d % 6
                if r == 0:
                    content = write_pdf([f"alpha {d}", f"beta {d}"],
                                        compress=d % 2 == 0)
                elif r == 1:
                    content = (f"<html><body><h1>Title {d}</h1><p>{text}"
                               f"</p></body></html>").encode()
                elif r == 2:
                    # ADVICE r11: a magic-safe prefix decouples the
                    # text/plain leg from corpus content — a doc whose
                    # text begins '%PDF-'/'<html'/'RIFF'/... can never
                    # flip this row to a different route than the oracle
                    content = b"plain: " + text.encode()
                elif r == 3:
                    content = write_wav(8000, 1, 16, 4000)
                elif r == 4:
                    content = write_mp3_stub(4)
                else:
                    # \xff is never valid UTF-8 — a bare digest CAN be
                    # (md5("533") is!), which would sniff text/plain
                    content = b"\x00\xffBIN" + hashlib.md5(
                        str(d).encode()).digest()
                rows.append((d, content))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    from .sources.filetype import route_documents

    files = docs.mapInPandas(build, "doc_id long, content binary")
    return route_documents(files).select(
        "doc_id", "mime", "page", "total_pages", "text")


_PMF_ORACLE = f"""WITH d AS (
  SELECT doc_id, text, doc_id % 6 AS r,
         ((n_chars + 1) // 2) AS L
  FROM documents WHERE doc_id < 600),
txt AS (
  SELECT doc_id,
    CASE r WHEN 0 THEN 'application/pdf' WHEN 1 THEN 'text/html'
           ELSE 'text/plain' END AS mime,
    CASE r
      WHEN 0 THEN substr(text, 1, L::BIGINT) || chr(10)
                  || substr(text, (L + 1)::BIGINT)
      WHEN 1 THEN {_html_mod.html_to_text_sql(_FTR_HTML)}
      ELSE 'plain: ' || text END AS xt
  FROM d WHERE r IN (0, 1, 2)),
canon AS (
  SELECT t.doc_id, t.mime, t.xt FROM txt t
  JOIN (SELECT md5(xt) AS h, MIN(doc_id) AS c FROM txt GROUP BY 1) g
    ON md5(t.xt) = g.h AND t.doc_id = g.c),
counted AS (
  SELECT doc_id, mime,
         len(list_filter(
             string_split(regexp_replace(lower(xt), '\\s+', ' ', 'g'), ' '),
             t -> t <> '')) AS n_tokens
  FROM canon),
passed AS (SELECT * FROM counted WHERE n_tokens >= 50)
SELECT doc_id, mime, n_tokens::BIGINT AS n_tokens,
       FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND 1 PRECEDING), 0)
             / 2000.0)::INT AS shard
FROM passed"""


@_register("pipeline_multiformat", _PMF_ORACLE)
def pipeline_multiformat_q(spark, sf_dir):
    """Multi-format corpus pipeline CAPSTONE (r14, VERDICT r11 task 8):
    a mixed pdf/html/txt/wav/mp3/binary corpus (format by doc_id, built
    executor-side — PDFs are 2-page text slices, HALF of them CMap'd so
    the r14 decode path composes; html wraps the text; txt carries the
    magic-safe prefix) routes through the content sniffer
    (sources/filetype.route_documents): PDFs re-enter through the real
    text-layer parser page-by-page, html through the zero-UDF Column
    extractor, media/binary become typed skip rows.  Extracted per-page
    rows reassemble per doc (array_sort + array_join — order by page,
    JVM-side), then the crawl filter chain runs ON THE EXTRACTED text:
    exact dedup (min-id canonical), a 50-word floor, and token-budgeted
    sequential sharding (budget 2000) — stage interactions are the
    point: the shard prefix sums depend on which route produced each
    doc's text and on which duplicates collapsed.  One DuckDB CTE chain
    (slice arithmetic + the html twin + the window-form prefix sum)
    states the whole composition closed-form — the pipeline_mini
    pattern with the format router at the head.  Shape: two Arrow
    kernels (build, route) + one combinable reassembly groupBy + one
    dedup groupBy + the range-bucketed prefix-sum shard — no
    single-partition window, no driver collect."""
    import hashlib

    import pandas as pd

    from .sources.filetype import route_documents
    from .sources.pdf import write_pdf
    from .sources.writers import shard_by_token_budget

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id", "text")

    def build(batches):
        from .sources.multimodal import write_mp3_stub, write_wav
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d, text = int(d), str(text)
                r = d % 6
                if r == 0:
                    half = (len(text) + 1) // 2
                    content = write_pdf([text[:half], text[half:]],
                                        compress=d % 2 == 0,
                                        cmap_font=d % 4 == 2)
                elif r == 1:
                    content = (f"<html><body><h1>Title {d}</h1><p>{text}"
                               f"</p></body></html>").encode()
                elif r == 2:
                    content = b"plain: " + text.encode()
                elif r == 3:
                    content = write_wav(8000, 1, 16, 4000)
                elif r == 4:
                    content = write_mp3_stub(4)
                else:
                    content = b"\x00\xffBIN" + hashlib.md5(
                        str(d).encode()).digest()
                rows.append((d, content))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    files = docs.mapInPandas(build, "doc_id long, content binary")
    routed = route_documents(files)
    texty = routed.filter(F.col("error").isNull()
                          & F.col("text").isNotNull())
    # r13 OPT: the dedup stage consumes this twice (hash groupBy + the
    # keeper join-back); without the lineage cut the fixture build +
    # route kernels (the two mapInPandas stages) execute once per
    # consumer
    per_doc = (texty.groupBy("doc_id")
               .agg(F.first("mime").alias("mime"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("page", "text"))),
                            lambda s: s["text"]),
                        "\n").alias("xt"))
               .localCheckpoint(eager=False))
    canon = (per_doc.groupBy(F.md5("xt").alias("_h"))
             .agg(F.min("doc_id").alias("doc_id"))
             .join(per_doc, "doc_id")
             .select("doc_id", "mime", "xt"))
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col("xt")), r"\s+", " "), " "),
        lambda t: t != "")
    passed = (canon.select("doc_id", "mime",
                           F.size(toks).alias("n_tokens"))
              .filter(F.col("n_tokens") >= 50))
    return (shard_by_token_budget(passed, 2_000, id_col="doc_id",
                                  tokens_col="n_tokens")
            .select("doc_id", "mime",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    "shard"))


# oracle built at import time from the LIVE twin in functions/urls (the
# html_text_extract lesson: frozen regex literals drift; built twins cannot)
_BLOCK_RAW_SQL = (
    "'https://' || (CASE WHEN doc_id % 7 = 0 THEN 'user@' ELSE '' END) || "
    "(CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END) || source || "
    "(CASE WHEN doc_id % 2 = 0 THEN '.Example.COM' ELSE '.example.net' END) "
    "|| (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) || '/p/' || "
    "(doc_id % 40)::VARCHAR")
_BLOCK_DOMAINS = ["src3.example.com", "example.net", "src1.example.com"]
_BLOCK_ORACLE = f"""SELECT doc_id,
 (CASE WHEN {U.url_blocked_sql(f'({_BLOCK_RAW_SQL})', _BLOCK_DOMAINS)}
  THEN 1 ELSE 0 END) AS blocked
FROM documents"""


@_register("url_blocklist_filter", _BLOCK_ORACLE)
def url_blocklist_filter_q(spark, sf_dir):
    """Domain-blocklist URL filtering (r12, functions/urls.url_blocked):
    the CCNet/RefinedWeb UT1-style crawl stage — a URL is blocked when its
    host or any parent domain ON A LABEL BOUNDARY is listed (cdn.srcN
    subdomains match their parent; a listed domain never matches
    mid-label).  The synthetic raw URLs derive from (source, doc_id) with
    userinfo on id%7, a cdn. subdomain on id%3, mixed-case .COM/.net TLDs
    on id%2, and a port on id%5 — every host-extraction edge the predicate
    must fold.  Shape: pure scan-side Column expression here (literal
    list); filter_blocked_urls is the join form for UT1-scale blocklist
    TABLES (suffix explode + equi-join, no regex-per-domain) — the two are
    equivalence-pinned in tests.  Reference analog: none
    (LLM-data-pipeline family)."""
    docs = tables.load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.lit("https://"),
        F.when(did % 7 == 0, F.lit("user@")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("cdn.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(did % 2 == 0, F.lit(".Example.COM"))
         .otherwise(F.lit(".example.net")),
        F.when(did % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"), (did % 40).cast("string"))
    return docs.select(
        "doc_id",
        U.url_blocked(raw, _BLOCK_DOMAINS).cast("int").alias("blocked"))


# the blocklist fixture's raw-URL expression reused: it already sweeps
# userinfo/cdn-subdomain/mixed-case/port/path edges; add a query+fragment
# arm so the SURT tail rules (query kept, fragment dropped) are exercised
_SURT_RAW_SQL = (f"({_BLOCK_RAW_SQL}) || (CASE WHEN doc_id % 6 = 0 "
                 "THEN '?q=' || (doc_id % 9) || '#frag' ELSE '' END)")


@_register("url_surt_keys", f"""
SELECT doc_id, {U.surt_sql(f'({_SURT_RAW_SQL})')} AS surt_key
FROM documents""")
def url_surt_keys_q(spark, sf_dir):
    """SURT index keys (r14, functions/urls.surt — the
    Common-Crawl/Wayback Sort-friendly URI Reordering Transform):
    scheme/userinfo dropped, host labels reversed comma-joined,
    non-default ports kept, fragment dropped, pathless URLs get '/'.
    Sorting a 100 TB crawl by this key clusters every domain AND its
    subdomains into one prefix range — the layout that makes
    per-domain scans and index lookups partition-prunable (compose
    with sources/layout's range-partitioned writes).  The fixture
    reuses the blocklist row's adversarial raw URLs (userinfo, cdn
    subdomains, mixed case, ports) plus a query+fragment arm; oracle
    BUILT AT IMPORT TIME from the live SQL twin.  Shape: one scan-side
    projection, zero UDF, zero shuffle."""
    docs = tables.load(spark, sf_dir, "documents")
    return docs.select("doc_id", U.surt(_surt_raw_col()).alias("surt_key"))


@_register("cdx_index", f"""
SELECT {U.surt_sql(f'({_SURT_RAW_SQL})')} AS urlkey,
       ({_SURT_RAW_SQL}) AS url,
       sha256(text) AS digest,
       strlen(text) AS length,
       substr({U.surt_sql(f'({_SURT_RAW_SQL})')}, 1, 1) AS shard
FROM documents""")
def cdx_index_q(spark, sf_dir):
    """CDX-style capture index (r15, plans/crawl.cdx_index — the
    Common-Crawl/Wayback lookup layout): urlkey = SURT sort key,
    digest = sha-256 of the payload (revisit/dedup detection), length
    = payload bytes, shard = the deterministic prefix assignment (the
    production path is repartitionByRange over urlkey — zipnum's
    sampled split — recorded as spark_partition_id and exercised in
    tests, not in the value-hash gate).  Fixture reuses the
    url_surt_keys adversarial raw URLs over the documents table with
    the document text as payload; oracle BUILT AT IMPORT TIME from the
    live surt SQL twin.  Shape: one scan-side projection, zero UDF,
    zero shuffle on the deterministic path."""
    from .plans.crawl import cdx_index

    docs = tables.load(spark, sf_dir, "documents")
    pages = docs.select(_surt_raw_col().alias("url"),
                        F.col("text").alias("payload"))
    return cdx_index(pages)


@_register("cdx_revisits", f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 600),
c AS (SELECT doc_id AS ts,
        'https://h' || (doc_id % 120 % 9) || '.example/p/'
          || (doc_id % 120) AS url,
        'payload ' || (doc_id % 120)
          || CASE WHEN doc_id >= 240 AND doc_id < 360
                  THEN 'v2' ELSE '' END AS payload
      FROM d),
x AS (SELECT {U.surt_sql('url')} AS urlkey, ts,
             sha256(payload) AS digest FROM c)
SELECT urlkey, ts, digest,
  CASE WHEN LAG(digest) OVER w IS NOT NULL
        AND LAG(digest) OVER w = digest THEN 1 ELSE 0 END AS revisit,
  -- previous-ROW existence, not digest nullability (r15 self-sweep)
  CASE WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS first_capture
FROM x WINDOW w AS (PARTITION BY urlkey ORDER BY ts ASC, digest ASC)
""")
def cdx_revisits_q(spark, sf_dir):
    """Revisit detection over recrawl captures (r15,
    plans/crawl.cdx_revisits — the Wayback/WARC ``revisit`` record):
    ~5 captures per URL whose payload flips version mid-history in an
    A,A,B,A,A pattern, so the row pins the identical-payload-digest
    semantics exactly — compare against the IMMEDIATELY PREVIOUS
    capture (flags 0,1,0,0,1), not the whole history (which would read
    the fourth capture as a revisit of the first).  At recrawl cadence
    revisits are most of a mature crawl's bytes; this flag is what
    lets the fetcher store a pointer instead of the body.  Shape: one
    window per urlkey (group size = recrawl count, bounded — not the
    host-skew hazard class)."""
    from .plans.crawl import cdx_revisits

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    i = F.col("doc_id")
    k = i % 120
    url = F.concat(F.lit("https://h"), k % 9, F.lit(".example/p/"), k)
    payload = F.concat(
        F.lit("payload "), k,
        F.when((i >= 240) & (i < 360), F.lit("v2")).otherwise(F.lit("")))
    captures = d.select(
        U.surt(url).alias("urlkey"),
        i.alias("ts"),
        F.sha2(payload, 256).alias("digest"))
    return cdx_revisits(captures)


@_register("recrawl_due", f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 600),
c AS (SELECT doc_id AS ts,
        'https://h' || (doc_id % 120 % 9) || '.example/p/'
          || (doc_id % 120) AS url,
        'payload ' || (doc_id % 120)
          || CASE WHEN doc_id >= 240 AND doc_id < 360 AND doc_id % 2 = 0
                  THEN 'v2' ELSE '' END AS payload
      FROM d),
x AS (SELECT {U.surt_sql('url')} AS urlkey, ts,
             sha256(payload) AS digest FROM c),
f AS (SELECT urlkey, ts,
        CASE WHEN LAG(digest) OVER w IS NOT NULL
              AND LAG(digest) OVER w = digest THEN 1 ELSE 0 END AS revisit,
        CASE WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0
             END AS first_capture
      FROM x WINDOW w AS (PARTITION BY urlkey ORDER BY ts ASC, digest ASC)),
a AS (SELECT urlkey, COUNT(*) AS n_captures, MAX(ts) AS last,
        CASE WHEN SUM(1 - first_capture) > 0
             THEN SUM((1 - revisit) * (1 - first_capture))::DOUBLE
                  / SUM(1 - first_capture)::DOUBLE
             ELSE 0.0 END AS cr
      FROM f GROUP BY urlkey)
SELECT urlkey, n_captures,
       ROUND(cr, 6)::DOUBLE AS change_rate,
       ROUND(GREATEST(50.0, 400.0 * (1 - cr) + 50.0 * cr), 6)::DOUBLE
         AS interval,
       CASE WHEN 800.0 - last >= GREATEST(50.0, 400.0 * (1 - cr)
                                          + 50.0 * cr)
            THEN 1 ELSE 0 END AS due
FROM a
""")
def recrawl_due_q(spark, sf_dir):
    """Freshness-aware recrawl scheduling (r15, plans/crawl.recrawl_due
    — the Cho & Garcia-Molina change-rate discipline, composed over
    cdx_revisits' flags): even-keyed URLs change mid-history
    (change_rate 0.5 -> interval 225 s), odd-keyed never change (rate
    0 -> the full 400 s base), and at now=800 only the early
    even-keyed URLs are due — so the row pins the rate computation
    (transitions exclude first captures), the linear interval
    interpolation, the min clamp, and the due cutoff all at once.
    Shape: the cdx_revisits window + ONE combinable groupBy per
    urlkey; the billion-URL schedule is a single agg over the capture
    index."""
    from .plans.crawl import cdx_revisits, recrawl_due

    d = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600).select("doc_id")
    i = F.col("doc_id")
    k = i % 120
    url = F.concat(F.lit("https://h"), k % 9, F.lit(".example/p/"), k)
    payload = F.concat(
        F.lit("payload "), k,
        F.when((i >= 240) & (i < 360) & (i % 2 == 0), F.lit("v2"))
        .otherwise(F.lit("")))
    captures = cdx_revisits(d.select(
        U.surt(url).alias("urlkey"), i.alias("ts"),
        F.sha2(payload, 256).alias("digest")))
    return recrawl_due(captures, now=800.0, base_interval=400.0,
                       min_interval=50.0)


@_register("sft_chat_render", """
WITH e AS (SELECT event_id FROM events WHERE event_id < 3000),
m AS (SELECT event_id % 60 AS conv_id, event_id AS turn,
        CASE WHEN event_id % 3 = 0 THEN 'system'
             WHEN event_id % 3 = 1 THEN 'user'
             ELSE 'assistant' END AS role,
        'msg ' || event_id AS text FROM e),
r AS (SELECT conv_id, turn, role,
        '<|' || role || '|>' || text || '<|end|>' AS rendered_msg,
        SUM(length('<|' || role || '|>' || text || '<|end|>'))
          OVER (PARTITION BY conv_id
                ORDER BY turn ASC, role ASC, text ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
          AS span_end
      FROM m),
doc AS (SELECT conv_id,
          string_agg(rendered_msg, '' ORDER BY turn) AS rendered
        FROM r GROUP BY conv_id)
SELECT r.conv_id, r.turn,
       (r.span_end - length(r.rendered_msg))::BIGINT AS span_start,
       r.span_end, r.rendered_msg,
       substr(doc.rendered,
              (r.span_end - length(r.rendered_msg))::INT + 1,
              length(r.rendered_msg)::INT) AS span_text
FROM r JOIN doc USING (conv_id)
WHERE r.role = 'assistant'
""")
def sft_chat_render_q(spark, sf_dir):
    """SFT chat-template rendering with loss-mask spans (r15,
    functions/chat — the training-data step between a conversation
    corpus and a trainer): messages render through a role template
    into one document per conversation, and every ASSISTANT message's
    character span inside that document comes out as the unmasked SFT
    target.  The row is SELF-VERIFYING: ``span_text`` is re-extracted
    from the rendered document AT the claimed offsets, independently
    in both engines, so an off-by-one in the cumulative-length window
    or a template drift breaks the hash against ``rendered_msg``.
    Character offsets are the tokenizer-agnostic form (any
    offset-mapping tokenizer converts them to token masks without
    re-running the render).  Shape: one bounded window per
    conversation + one groupBy; zero UDF."""
    from .functions import chat

    ev = tables.load(spark, sf_dir, "events") \
        .filter(F.col("event_id") < 3000).select("event_id")
    i = F.col("event_id")
    msgs = ev.select(
        (i % 60).alias("conv_id"), i.alias("turn"),
        F.when(i % 3 == 0, F.lit("system"))
         .when(i % 3 == 1, F.lit("user"))
         .otherwise(F.lit("assistant")).alias("role"),
        F.concat(F.lit("msg "), i).alias("text"))
    per = chat.render_chat_sft(msgs)
    doc = chat.render_conversations(msgs)
    return (per.filter(F.col("is_target") == 1)
            .join(doc.select("conv_id", "rendered"), "conv_id")
            .select(
                "conv_id", "turn", "span_start", "span_end",
                "rendered_msg",
                F.expr("substring(rendered, cast(span_start + 1 as int), "
                       "length(rendered_msg))").alias("span_text")))


def _smx_oracle() -> str:
    """sitemap_index_recursion oracle: 2 unrolled rounds (the
    crawl_frontier CTE pattern) through the live sitemap_locs /
    canonical_url SQL twins."""
    locs = U.sitemap_locs_sql("body")
    canon = U.canonical_url_sql("loc")
    return f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
idx AS (SELECT
  'https://s' || (doc_id % 4) || '.example/maps/index' || doc_id
    || '.xml' AS url,
  '<sitemapindex>'
   || '<sitemap><loc>https://s' || (((doc_id*3+1) % 40) % 4)
   || '.example/maps/child' || ((doc_id*3+1) % 40)
   || '.xml</loc></sitemap>'
   || '<sitemap><loc>https://s' || (((doc_id*5+2) % 40) % 4)
   || '.example/maps/child' || ((doc_id*5+2) % 40)
   || '.xml</loc></sitemap>'
   || '<sitemap><loc>https://s' || (doc_id % 4) || '.example/landing/'
   || doc_id || '</loc></sitemap>'
   || '</sitemapindex>' AS body
  FROM d),
cd AS (SELECT doc_id AS c FROM documents WHERE doc_id < 40),
ch AS (SELECT
  'https://s' || (c % 4) || '.example/maps/child' || c || '.xml' AS url,
  '<urlset><url><loc>https://s' || (c % 4) || '.example/p/' || (c*7)
   || '</loc></url><url><loc>https://s' || (c % 4) || '.example/p/'
   || (c*7+1) || '</loc></url><url><loc>https://s' || (c % 4)
   || '.example/p/' || (c*7+2) || '</loc></url></urlset>' AS body
  FROM cd),
sm AS (SELECT url, body FROM idx UNION ALL SELECT url, body FROM ch),
seeds AS (SELECT DISTINCT url FROM idx),
x1 AS (SELECT unnest({locs}) AS loc
       FROM (SELECT b.body FROM seeds s JOIN sm b USING (url)) q1),
l1 AS (SELECT DISTINCT {canon} AS url FROM x1),
l1f AS (SELECT url FROM l1 WHERE url NOT IN (SELECT url FROM seeds)),
leaf1 AS (SELECT f.url, 1 AS level FROM l1f f
          LEFT JOIN sm ON sm.url = f.url WHERE sm.url IS NULL),
map1 AS (SELECT f.url FROM l1f f JOIN sm ON sm.url = f.url),
x2 AS (SELECT unnest({locs}) AS loc
       FROM (SELECT b.body FROM map1 m JOIN sm b USING (url)) q2),
l2 AS (SELECT DISTINCT {canon} AS url FROM x2),
l2f AS (SELECT url FROM l2 WHERE url NOT IN
        (SELECT url FROM seeds UNION SELECT url FROM l1f)),
leaf2 AS (SELECT f.url, 2 AS level FROM l2f f
          LEFT JOIN sm ON sm.url = f.url WHERE sm.url IS NULL)
SELECT url, level FROM leaf1 UNION ALL SELECT url, level FROM leaf2
"""


@_register("sitemap_index_recursion", _smx_oracle())
def sitemap_index_recursion_q(spark, sf_dir):
    """Bounded sitemap-index recursion (r15, plans/crawl.sitemap_expand
    — sitemap-of-sitemaps, the large-site layout sitemap_frontier's
    single level cannot reach): index documents list child sitemaps
    AND a direct page loc (mixed index); children list the real pages.
    Classification is by the fetch table — a loc with a fetched body
    expands next round, one without is a frontier leaf — exactly how a
    crawler tells them apart.  The row pins: mixed-index leaves at
    level 1, child pages at level 2, cross-index child dedup via the
    seen set, and unreferenced children staying invisible.  Oracle =
    2 unrolled CTE rounds through the live twins (the crawl_frontier
    pattern).  Shape per round: one equi-join against the fetch table
    + explode + distinct; checkpoint-flat lineage."""
    from .plans.crawl import sitemap_expand

    docs = tables.load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    idx = docs.filter(i < 50).select(
        F.concat(F.lit("https://s"), i % 4, F.lit(".example/maps/index"),
                 i, F.lit(".xml")).alias("url"),
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://s"),
            ((i * 3 + 1) % 40) % 4,
            F.lit(".example/maps/child"), (i * 3 + 1) % 40,
            F.lit(".xml</loc></sitemap><sitemap><loc>https://s"),
            ((i * 5 + 2) % 40) % 4,
            F.lit(".example/maps/child"), (i * 5 + 2) % 40,
            F.lit(".xml</loc></sitemap><sitemap><loc>https://s"),
            i % 4, F.lit(".example/landing/"), i,
            F.lit("</loc></sitemap></sitemapindex>")).alias("body"))
    c = F.col("doc_id")
    ch = docs.filter(c < 40).select(
        F.concat(F.lit("https://s"), c % 4, F.lit(".example/maps/child"),
                 c, F.lit(".xml")).alias("url"),
        F.concat(
            F.lit("<urlset><url><loc>https://s"), c % 4,
            F.lit(".example/p/"), c * 7,
            F.lit("</loc></url><url><loc>https://s"), c % 4,
            F.lit(".example/p/"), c * 7 + 1,
            F.lit("</loc></url><url><loc>https://s"), c % 4,
            F.lit(".example/p/"), c * 7 + 2,
            F.lit("</loc></url></urlset>")).alias("body"))
    sm = idx.unionByName(ch)
    return sitemap_expand(idx.select("url"), sm, rounds=2)


def _surt_raw_col():
    """The url_surt_keys fixture's adversarial raw URL as a Column —
    SHARED with cdx_index above so the two rows cannot drift (the SQL
    twin is _SURT_RAW_SQL)."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.when(did % 7 == 0, F.lit("user@")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("cdn.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(did % 2 == 0, F.lit(".Example.COM"))
         .otherwise(F.lit(".example.net")),
        F.when(did % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"), (did % 40).cast("string"),
        F.when(did % 6 == 0,
               F.concat(F.lit("?q="), (did % 9).cast("string"),
                        F.lit("#frag"))).otherwise(F.lit("")))


@_register("warc_ingest_roundtrip", r"""
SELECT 'https://crawl.example/docs/' || doc_id::VARCHAR AS target_uri,
       md5(coalesce(text, '')) AS text_md5,
       length(coalesce(text, ''))::BIGINT AS n_chars
FROM documents WHERE doc_id < 300
""")
def warc_ingest_roundtrip_q(spark, sf_dir):
    """WARC/WET ingestion roundtrip (r10, sources/warc.py): a documents
    slice serializes into WET "conversion" records — one PLAIN .warc file
    (even doc_ids) and one record-per-gzip-member .warc.gz (odd doc_ids,
    the Common Crawl layout) — then reads back through the binaryFile +
    mapInPandas parser; the oracle derives the same (uri, text md5, chars)
    DIRECTLY from the source table, so any serializer/parser asymmetry
    (header handling, member gunzip, UTF-8 decode) turns the row red.
    Shape: one binaryFile scan, one Arrow kernel, files are the
    parallelism unit (how Common Crawl ships ~1 GB segments).
    Reference: none (LLM-data-pipeline family)."""
    import os
    import tempfile
    import zlib

    from .sources import warc

    tag = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_warc_{tag}")
    os.makedirs(d, exist_ok=True)
    rows = (tables.load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 300)
            .select("doc_id", F.coalesce("text", F.lit("")).alias("t"))
            .orderBy("doc_id").collect())
    date = "2024-01-01T00:00:00Z"
    recs = [(f"https://crawl.example/docs/{r.doc_id}", date, r.t)
            for r in rows]
    warc.write_wet([x for i, x in enumerate(recs)
                    if rows[i].doc_id % 2 == 0],
                   os.path.join(d, "part0.warc"))
    gz = bytearray()
    for i, x in enumerate(recs):
        if rows[i].doc_id % 2 == 1:
            c = zlib.compressobj(9, zlib.DEFLATED, 31)     # one gzip member
            gz += c.compress(warc.write_wet([x], "")) + c.flush()
    with open(os.path.join(d, "part1.warc.gz"), "wb") as f:
        f.write(bytes(gz))
    out = warc.read_warc(spark, os.path.join(d, "*"))
    return out.select(
        "target_uri",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("n_chars"))


# r11 (VERDICT r9 task 6): the response-record leg — the shape a real
# Common Crawl run uses (WARC = raw HTTP exchanges; WET is derived).
# Three deterministic charset groups: A declares utf-8 in Content-Type,
# B has NO header charset and relies on the <meta charset> sniff, C
# declares iso-8859-1 and carries latin-1 bytes of the ASCII-sanitized
# text (sanitization is the same regex in both engines, so the oracle
# reproduces the decode without ever touching bytes).
_RESP_BODY_SQL = ("(CASE WHEN doc_id % 3 = 2 "
                  "THEN regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') "
                  "ELSE coalesce(text, '') END)")
_RESP_HTML_SQL = (
    "('<html><head>' || (CASE WHEN doc_id % 3 = 1 "
    "THEN '<meta charset=\"utf-8\">' ELSE '' END) || "
    "'<title>' || source || '</title></head><body><p>' || "
    + _RESP_BODY_SQL +
    " || '</p><div>resp ' || (doc_id % 7)::VARCHAR || "
    "'</div></body></html>')")

_RESP_ORACLE = f"""WITH raw AS (
  SELECT doc_id, {_RESP_HTML_SQL} AS html
  FROM documents WHERE doc_id < 400
)
SELECT 'https://resp.example/docs/' || doc_id::VARCHAR AS target_uri,
       md5({H.html_to_text_sql('html')}) AS extracted_md5,
       length({H.html_to_text_sql('html')})::BIGINT AS n_chars
FROM raw
"""


@_register("warc_response_extract", _RESP_ORACLE)
def warc_response_extract_q(spark, sf_dir):
    """WARC "response"-record leg (r11, sources/warc.py
    http_response_to_html): raw HTTP exchange bytes -> header strip ->
    charset sniff (Content-Type, then <meta charset>, then UTF-8) ->
    decode -> html_to_text.  A documents slice serializes as HTTP
    responses across the three charset groups (utf-8 header / meta-only /
    iso-8859-1 with latin-1 bytes of ASCII-sanitized text) into one plain
    .warc and one member-per-gzip .warc.gz, reads back through the
    binaryFile + Arrow kernel, and extracts; the oracle builds the SAME
    html string straight from the table and runs the live html_to_text
    twin — any header/charset/decode asymmetry turns the row red.
    Shape: one binaryFile scan + one kernel + a codegen regexp projection;
    files are the parallelism unit.  Reference: none (LLM-data-pipeline
    family)."""
    import os
    import re as _re
    import tempfile
    import zlib

    from .sources import warc

    tag = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_warcresp_{tag}")
    os.makedirs(d, exist_ok=True)
    rows = (tables.load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400)
            .select("doc_id", "source",
                    F.coalesce("text", F.lit("")).alias("t"))
            .orderBy("doc_id").collect())
    date = "2024-01-01T00:00:00Z"
    recs = []
    for r in rows:
        g = r.doc_id % 3
        body_text = _re.sub(r"[^ -~]", "", r.t) if g == 2 else r.t
        meta = '<meta charset="utf-8">' if g == 1 else ""
        html = (f"<html><head>{meta}<title>{r.source}</title></head>"
                f"<body><p>{body_text}</p>"
                f"<div>resp {r.doc_id % 7}</div></body></html>")
        if g == 0:
            head = (b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/html; charset=utf-8\r\n\r\n")
            payload = head + html.encode("utf-8")
        elif g == 1:
            head = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            payload = head + html.encode("utf-8")
        else:
            head = (b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/html; charset=iso-8859-1\r\n\r\n")
            payload = head + html.encode("latin-1")
        recs.append((f"https://resp.example/docs/{r.doc_id}", date, payload))
    warc.write_warc_records(
        [x for i, x in enumerate(recs) if rows[i].doc_id % 2 == 0],
        os.path.join(d, "part0.warc"))
    gz = bytearray()
    for i, x in enumerate(recs):
        if rows[i].doc_id % 2 == 1:
            c = zlib.compressobj(9, zlib.DEFLATED, 31)
            gz += c.compress(warc.write_warc_records([x], "")) + c.flush()
    with open(os.path.join(d, "part1.warc.gz"), "wb") as f:
        f.write(bytes(gz))
    out = warc.read_warc(spark, os.path.join(d, "*"),
                         record_types=("response",))
    extracted = H.html_to_text(F.col("text"))
    return out.select(
        "target_uri",
        F.md5(extracted).alias("extracted_md5"),
        F.length(extracted).cast("long").alias("n_chars"))


_HTML_RAW_SQL = (
    "'<HTML><head><title>' || source || "
    "'</title><style>p { color: red }</style></head>'"
    " || '<body><!-- navigation chrome --><p>' || coalesce(text, '')"
    " || '</p><div>entry &amp; no. ' || (doc_id % 97)::VARCHAR"
    " || '&#39;s page</div><script>var x = 1 < 2;</script>"
    "<br>footer</body></HTML>'")

# oracle BUILT AT IMPORT TIME from the live DuckDB twin in functions/html —
# the SQL can never drift from the Column form it mirrors (and no frozen
# source literal can mangle the regex backslashes: r8/r10 lesson, a plain
# triple-quoted oracle turned the twin's \b into a backspace character)
_HTML_ORACLE = f"""WITH raw AS (
  SELECT doc_id, {_HTML_RAW_SQL} AS html
  FROM documents WHERE doc_id < 800
)
SELECT doc_id, {H.html_to_text_sql('html')} AS extracted FROM raw
"""


@_register("html_text_extract", _HTML_ORACLE)
def html_text_extract_q(spark, sf_dir):
    """HTML -> text extraction (r10, functions/html.html_to_text): the
    crawl-chain stage between WARC response records and the text operators
    — scripts/styles/comments dropped with contents, block closers become
    newlines, other tags spaces, entities decoded (ampersand last),
    whitespace normalized.  Deterministic HTML synthesized per doc wraps
    the real text in title/style/comment/entity/script noise; the oracle
    builds the SAME markup and runs the module's DuckDB twin, so any
    Java-regex-vs-RE2 drift in the shared rule chain turns the row red.
    Shape: a pure regexp_replace projection — zero UDF, zero shuffle.
    Reference: none (LLM-data-pipeline family)."""
    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 800)
    html = F.concat(
        F.lit("<HTML><head><title>"), F.col("source"),
        F.lit("</title><style>p { color: red }</style></head>"),
        F.lit("<body><!-- navigation chrome --><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><div>entry &amp; no. "),
        (F.col("doc_id") % 97).cast("string"),
        F.lit("&#39;s page</div><script>var x = 1 < 2;</script>"),
        F.lit("<br>footer</body></HTML>"))
    return docs.select("doc_id", H.html_to_text(html).alias("extracted"))


_CRAWL_RAW_URL_SQL = (
    "'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)"
    " || source || '.site.org'"
    " || '/p/' || (doc_id % 40)::VARCHAR"
    " || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)"
    " || '?utm_source=crawl&n=' || (doc_id % 40)::VARCHAR")

# the synthetic page wraps the real text in the chrome a crawl actually
# sees: a nav bar of anchors, a share counter, a script, a (c) footer —
# each on its own line after extraction, so the pruning stage has real
# boilerplate to remove (r11: VERDICT r9 task 2)
_CRAWL_RAW_HTML_SQL = (
    "'<html><head><title>' || source || '</title></head><body>"
    "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a> "
    "<a href=\"/contact\">Contact</a></div>"
    "<!-- chrome --><p>' || coalesce(text, '') || '</p><div>' || "
    "(doc_id % 900)::VARCHAR || ' likes</div>"
    "<script>track && track(1);</script>"
    "<div>© 2024 ' || source || ' Corp</div></body></html>'")

_CRAWL_EXTRACTED_SQL = H.html_to_text_sql("html", mark_links=True)

# r12: a blocklisted slice of the synthetic crawl (two source domains) —
# the UT1-style gate runs FIRST, before any per-byte work
_CRAWL_BLOCKED = ["src7.site.org", "src11.site.org"]

# oracle built at import time from the LIVE DuckDB twins (html + url +
# boilerplate + blocklist + quality + langid), the r10 lesson: frozen
# regex literals mangle; live twins cannot drift
_CRAWL_ORACLE = f"""WITH cr_raw0 AS (
  SELECT doc_id, {_CRAWL_RAW_URL_SQL} AS url,
         {_CRAWL_RAW_HTML_SQL} AS html
  FROM documents WHERE doc_id < 600
), cr_raw AS (
  SELECT * FROM cr_raw0 WHERE NOT {U.url_blocked_sql('url', _CRAWL_BLOCKED)}
), cr_ex AS (
  SELECT doc_id, {B.prune_lines_sql(_CRAWL_EXTRACTED_SQL)} AS pruned,
         {U.canonical_url_sql('url')} AS canonical_url
  FROM cr_raw
), cr_keep AS (
  SELECT canonical_url, MIN(doc_id) AS doc_id FROM cr_ex GROUP BY 1
), cr_kept AS (
  SELECT e.doc_id, e.canonical_url, e.pruned,
         len(list_filter(string_split(lower(e.pruned), ' '),
                         t -> t <> ''))::BIGINT AS n_words
  FROM cr_ex e JOIN cr_keep k
    ON e.doc_id = k.doc_id AND e.canonical_url = k.canonical_url
), cr_gated AS (
  SELECT doc_id, canonical_url, n_words, pruned,
         (CASE WHEN n_words BETWEEN 3 AND 100000 THEN 1 ELSE 0 END)::INT
           AS quality_pass
  FROM cr_kept
)
SELECT g.doc_id, g.canonical_url, g.n_words, g.quality_pass,
       q.q_label, l.lang
FROM cr_gated g
LEFT JOIN ({_qclf_sql(
    '(SELECT doc_id, pruned AS text FROM cr_gated WHERE quality_pass = 1)')}
) q ON q.doc_id = g.doc_id
LEFT JOIN ({_lang_ngram_sql(
    '(SELECT doc_id, pruned AS text FROM cr_gated WHERE quality_pass = 1)')}
) l ON l.doc_id = g.doc_id
"""


@_register("crawl_mini", _CRAWL_ORACLE)
def crawl_mini_q(spark, sf_dir):
    """Crawl-chain COMPOSITION row (r10; r11 adds the boilerplate stage;
    r12 adds the blocklist gate and the learned filters): synthesize
    per-doc (url, html with nav/counter/footer chrome) -> domain-blocklist
    gate FIRST (two blocked source domains; the cheapest stage runs before
    any per-byte work) -> link-marked html_to_text extraction ->
    line-level boilerplate pruning (functions/boilerplate.py: the nav
    anchors fall to link density R6, the counter to R3, the footer to R7)
    -> canonical-URL dedup (keep min doc_id) -> word-count quality gate ON
    THE PRUNED TEXT -> quality classifier + char-trigram lang-ID on the
    GATE SURVIVORS only (the CCNet/DCLM ordering; non-survivors carry
    NULLs) — the stage interactions value-hash-verified against one DuckDB
    CTE chain built from the SAME live twins the single-stage rows use.
    The pipeline_mini pattern (r8) applied to the crawl stages.  Shape:
    scan-side projections + combinable groupBys + broadcast weight-table
    joins; no UDF, no window.  Reference: none (LLM-data-pipeline
    family)."""
    from .functions.langid import lang_id_ngram
    from .functions.quality_clf import quality_scores

    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 600)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".site.org"),
        F.lit("/p/"), (did % 40).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=crawl&n="), (did % 40).cast("string"))
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit('</title></head><body><div><a href="/">Home</a> '
              '<a href="/about">About</a> '
              '<a href="/contact">Contact</a></div>'
              "<!-- chrome --><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><div>"), (did % 900).cast("string"),
        F.lit(" likes</div><script>track && track(1);</script>"
              "<div>© 2024 "),
        F.col("source"), F.lit(" Corp</div></body></html>"))
    # blocklist FIRST (pure string predicate on the URL), then URL dedup
    # (the cheap string key), extraction + pruning only on the survivors —
    # at crawl scale the expensive per-byte stages must never run on rows
    # the URL passes already discard (and the heavy expression tree
    # appears ONCE in the plan, not on both semi-join sides: r11, 3.5s ->
    # sub-second plan build)
    docs = docs.filter(~U.url_blocked(url, _CRAWL_BLOCKED))
    urls_df = docs.select("doc_id", U.canonical_url(url).alias("canonical_url"))
    keep = urls_df.groupBy("canonical_url") \
        .agg(F.min("doc_id").alias("doc_id"))
    kept = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
    ex = kept.select(
        "doc_id",
        B.prune_lines(H.html_to_text(html, mark_links=True)).alias("pruned"),
        U.canonical_url(url).alias("canonical_url"))
    n_words = F.size(T.tokens(F.col("pruned"))).cast("long")
    # r13 OPT: checkpoint the gated table ONCE at the composition point.
    # Five downstream consumers read it (main branch, quality explode+base
    # legs, langid explode+base legs); without the lineage cut Catalyst
    # replays the blocklist filter + dedup semi-join + html_to_text +
    # prune_lines tree per consumer (the before plan re-scans the source
    # 20x and evaluates the extraction 5x — plans/r13/crawl_mini_before).
    # The checkpoint is batch-bounded (dedup survivors + their pruned
    # text), the same shape crawl_to_training_shards already pins.
    gated = ex.select(
        "doc_id", "canonical_url", "pruned", n_words.alias("n_words"),
        F.when((n_words >= 3) & (n_words <= 100000), 1).otherwise(0)
         .cast("int").alias("quality_pass")).localCheckpoint(eager=False)
    survivors = gated.filter(F.col("quality_pass") == 1) \
        .select("doc_id", F.col("pruned").alias("text"))
    q = quality_scores(survivors).select("doc_id", "q_label")
    lid = lang_id_ngram(survivors).select("doc_id", "lang")
    return (gated.drop("pruned")
            .join(q, "doc_id", "left")
            .join(lid, "doc_id", "left"))


# r11: the standalone oracle row for the boilerplate stage — documents
# wrapped in the chrome LINES a crawl page sheds (nav items, counter,
# bullet, caps banner, footer), pruned, with before/after line counts so
# the gate hash covers both the keep-decisions and the reassembled text
_BOILER_RAW_SQL = (
    "('Home' || chr(10) || 'About Us' || chr(10) || coalesce(text, '') "
    "|| chr(10) || (doc_id % 500)::VARCHAR || ' likes' || chr(10) || "
    "'- item' || chr(10) || 'SUBSCRIBE NOW' || chr(10) || "
    "'© 2024 ' || source || ' Corp')")

_BOILER_ORACLE = f"""WITH raw AS (
  SELECT doc_id, {_BOILER_RAW_SQL} AS raw_text
  FROM documents WHERE doc_id < 700
), pruned AS (
  SELECT doc_id, len(string_split(raw_text, chr(10)))::INT AS n_lines_raw,
         {B.prune_lines_sql('raw_text')} AS kept_text
  FROM raw
)
SELECT doc_id, n_lines_raw,
       len(list_filter(string_split(kept_text, chr(10)),
                       l -> l <> ''))::INT AS n_lines_kept,
       md5(kept_text) AS pruned_md5
FROM pruned
"""


@_register("boilerplate_prune", _BOILER_ORACLE)
def boilerplate_prune_q(spark, sf_dir):
    """Line-level boilerplate pruning (r11, functions/boilerplate.py —
    VERDICT r9 task 2): the RefinedWeb §3.1 / jusText stage between
    html_to_text and the Gopher document tables.  Each document is wrapped
    in the chrome lines a crawl page sheds — nav items (R1), a share
    counter (R3), a bullet (R4), a caps banner (R2), a (c) footer (R7) —
    and pruned; the oracle rebuilds the same lines and runs the module's
    DuckDB twin, so every rule threshold and the reassembly (blank-run
    collapse, edge trim) is value-hash-pinned via before/after line counts
    and the md5 of the pruned text.  Shape: a pure Column expression over
    split/filter/transform — zero UDF, zero shuffle, scan-side at 100 TB.
    Reference: none (LLM-data-pipeline family)."""
    docs = tables.load(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 700)
    raw = F.concat_ws(
        "\n", F.lit("Home"), F.lit("About Us"),
        F.coalesce(F.col("text"), F.lit("")),
        F.concat((F.col("doc_id") % 500).cast("string"), F.lit(" likes")),
        F.lit("- item"), F.lit("SUBSCRIBE NOW"),
        F.concat(F.lit("© 2024 "), F.col("source"), F.lit(" Corp")))
    kept = B.prune_lines(raw)
    return docs.select(
        "doc_id",
        F.size(F.split(raw, "\n")).cast("int").alias("n_lines_raw"),
        F.size(F.filter(F.split(kept, "\n"), lambda l: l != ""))
         .cast("int").alias("n_lines_kept"),
        F.md5(kept).alias("pruned_md5"))


@_register("pack_sequences", r"""
WITH sized AS (
  SELECT doc_id, source,
         len(list_filter(string_split(lower(text), ' '), t -> t <> ''))::INT AS n_tok
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sized
)
SELECT doc_id, source, n_tok,
       ((cum - n_tok) // 512)::BIGINT AS seq_id,
       ((cum - n_tok) % 512)::BIGINT AS seq_offset
FROM packed
""")
def pack_sequences_q(spark, sf_dir):
    """Sequence packing for training-batch assembly: greedily pack documents
    into fixed 512-token sequences per source stream (contiguous fill in
    doc_id order; a doc straddling a boundary starts in its cumulative bin —
    the standard concat-then-chunk packing, not bin-packing).  Assignment is
    an exact per-source running sum, so every source stream packs in
    parallel and the output (seq_id, seq_offset) is replay-deterministic —
    never dependent on partition layout.  r8: the per-source prefix sum now
    comes from writers.grouped_prefix_sum (range-bucketed, no whole-source
    window partition — the r7 form gave a 20-source corpus exactly 20
    window tasks at ANY scale); the oracle stays the window twin because
    the VALUES are identical by construction."""
    from .sources.writers import grouped_prefix_sum

    docs = tables.load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source",
        F.size(T.tokens(F.col("text"))).cast("int").alias("n_tok"))
    out = grouped_prefix_sum(sized, "source", "doc_id", "n_tok",
                             out_col="_start")
    return out.select(
        "doc_id", "source", "n_tok",
        F.floor(F.col("_start") / 512).cast("bigint").alias("seq_id"),
        (F.col("_start") % 512).cast("bigint").alias("seq_offset"),
    )


@_register("prediction_validation", """
WITH {EVENTS}, pairs AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                          list_transform(b.embedding, x -> x::DOUBLE))
         / (SQRT(list_dot_product(list_transform(a.embedding, x -> x::DOUBLE),
                                  list_transform(a.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(list_transform(b.embedding, x -> x::DOUBLE),
                                  list_transform(b.embedding, x -> x::DOUBLE)))) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 50
), pred AS (
  SELECT left_id, right_id,
         ROW_NUMBER() OVER (PARTITION BY left_id
                            ORDER BY ROUND(score, 6) DESC, right_id ASC) AS rn
  FROM pairs
), t0 AS (SELECT MIN(ts) AS t0_ts FROM events_us
), first_hit AS (
  SELECT event_id % 200 AS rid, MIN(ts) AS first_ts FROM events_us GROUP BY rid
)
SELECT 'm' || left_id::VARCHAR AS memory_id,
       'cosine_similarity' AS prediction_method,
       COUNT(*)::INT AS n_predicted,
       SUM(CASE WHEN first_ts IS NOT NULL THEN 1 ELSE 0 END)::INT AS n_hit,
       ROUND(SUM(CASE WHEN first_ts IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6)::DOUBLE AS prediction_hit_rate,
       ROUND(COALESCE(MIN((floor(epoch(first_ts)) - floor(epoch(t0_ts))) / 3600.0),
                      -1.0), 6)::DOUBLE AS time_to_first_hit_hours
FROM pred CROSS JOIN t0
LEFT JOIN first_hit ON pred.right_id = first_hit.rid
WHERE rn <= 3
GROUP BY left_id
""")
def prediction_validation_q(spark, sf_dir):
    """MemoryPredictionLog validation phase (models/parse_server.py:2478-2520
    predictionHitRate/timeToFirstHit, stored by services/memory_management.py:
    6754-6820): at index time each memory predicts its top-3 related memories
    (the G12 RELATED_TO edges, method 'cosine_similarity'); validation later
    joins the retrieval log and scores each prediction set — fraction of
    predicted memories actually retrieved, and hours from corpus start to the
    first hit (-1 when never retrieved).  The retrieval log is the events
    stream (event -> retrieved memory via event_id % 200, the fixture's
    deterministic mapping).  Shape: the prediction side is the bounded top-3
    edge set; first-retrieval times aggregate map-side off the scan and the
    validation join is a broadcast of the tiny first-hit table — no
    corpus-scale shuffle at 100 TB."""
    edges = QUERIES["g12_related_to_edges"](spark, sf_dir).select(
        F.col("src").alias("memory_id"),
        F.substring("dst", 2, 20).cast("bigint").alias("target"))
    ev = tables.load(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("t0_ts"))
    first_hit = (ev.groupBy((F.col("event_id") % 200).alias("rid"))
                 .agg(F.min("ts").alias("first_ts")))
    hours = ((F.unix_timestamp("first_ts") - F.unix_timestamp("t0_ts"))
             / F.lit(3600.0))
    j = (edges.crossJoin(F.broadcast(t0))
         .join(F.broadcast(first_hit), edges.target == first_hit.rid, "left"))
    out = j.groupBy("memory_id").agg(
        F.count("*").cast("int").alias("n_predicted"),
        F.sum(F.when(F.col("first_ts").isNotNull(), 1).otherwise(0))
         .cast("int").alias("n_hit"),
        _r6(F.sum(F.when(F.col("first_ts").isNotNull(), 1).otherwise(0))
            / F.count("*")).alias("prediction_hit_rate"),
        _r6(F.coalesce(F.min(hours), F.lit(-1.0)))
        .alias("time_to_first_hit_hours"),
    )
    return out.withColumn("prediction_method", F.lit("cosine_similarity"))


@_register("session_summaries", """
WITH {EVENTS}, sess0 AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 3600
              THEN 1 ELSE 0 END AS is_new
  FROM events_us
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM sess0
), bounds AS (
  SELECT user_id, session_id,
         COUNT(*) AS message_count,
         MAX(CASE WHEN rn_a = 1 THEN event_type END) AS session_intent,
         MAX(CASE WHEN rn_d = 1 THEN event_type END) AS recent_type,
         (floor(epoch(MAX(ts))) - floor(epoch(MIN(ts))))::BIGINT AS duration_s
  FROM (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                             ORDER BY ts ASC, event_id ASC) AS rn_a,
          ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                             ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM sess)
  GROUP BY user_id, session_id
), tc AS (
  SELECT user_id, session_id, event_type, COUNT(*) AS c
  FROM sess GROUP BY user_id, session_id, event_type
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                               ORDER BY c DESC, event_type ASC) AS rt
  FROM tc
), tops AS (
  SELECT user_id, session_id,
         string_agg(event_type, ',' ORDER BY rt) AS topics,
         MAX(CASE WHEN rt = 1 THEN event_type END) AS dominant_type
  FROM ranked WHERE rt <= 3
  GROUP BY user_id, session_id
)
SELECT b.user_id, b.session_id::BIGINT AS session_id, b.message_count,
       b.session_intent,
       'recent: ' || b.recent_type AS short_term,
       'dominant: ' || t.dominant_type AS medium_term,
       'total ' || b.message_count::VARCHAR || ' events in '
                || b.duration_s::VARCHAR || 's' AS long_term,
       t.topics, b.duration_s::BIGINT AS duration_s
FROM bounds b JOIN tops t USING (user_id, session_id)
WHERE b.message_count >= 3
""")
def session_summaries_q(spark, sf_dir):
    """Enhanced per-session ConversationSummaries, the deterministic analog of
    the reference's message-batch summary schema (ENHANCED_SUMMARIES_
    IMPLEMENTATION.md; services/message_batch_analysis.py): short_term (most
    recent activity), medium_term (dominant activity), long_term (volume over
    duration), topics (top-3 activity types), session_intent (opening
    activity).  The LLM summarizer slot is replaced by rank-deterministic
    text so the whole pipeline is oracle-checkable; a real deployment swaps
    the formatting stage for the model call and keeps the sessionize/rank
    plan.  Two shuffles over the events scan (sessionize window + per-session
    aggs) — both keyed on user/session, skew-safe at 100 TB."""
    ev = tables.load(spark, sf_dir, "events")
    s = windows.session_ids(ev, "user_id", "ts", 3600)
    ordkey = F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
    bounds = s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("message_count"),
        F.min(ordkey).getField("event_type").alias("session_intent"),
        F.max(ordkey).getField("event_type").alias("recent_type"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("bigint").alias("duration_s"),
    )
    tc = s.groupBy("user_id", "session_id", "event_type").agg(F.count("*").alias("c"))
    wr = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc())
    ranked = tc.withColumn("rt", F.row_number().over(wr)).filter(F.col("rt") <= 3)
    tops = ranked.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("rt", "event_type"))),
                        lambda x: x.getField("event_type")), ",").alias("topics"),
        F.max(F.when(F.col("rt") == 1, F.col("event_type"))).alias("dominant_type"),
    )
    j = bounds.join(tops, ["user_id", "session_id"]).filter(
        F.col("message_count") >= 3)
    return j.select(
        "user_id", F.col("session_id").cast("bigint").alias("session_id"),
        "message_count", "session_intent",
        F.concat(F.lit("recent: "), F.col("recent_type")).alias("short_term"),
        F.concat(F.lit("dominant: "), F.col("dominant_type")).alias("medium_term"),
        F.concat(F.lit("total "), F.col("message_count").cast("string"),
                 F.lit(" events in "), F.col("duration_s").cast("string"),
                 F.lit("s")).alias("long_term"),
        "topics", "duration_s",
    )


@_register("omo_export_roundtrip", f"""
WITH {{MEMS}}
SELECT memory_id,
       content,
       'text' AS mtype,
       consent,
       risk,
       array_to_string(topics, '|') AS topics_csv,
       -- import merges OMO acl.read into the vendor read list as a SORTED
       -- distinct set ('u10' < 'u9' lexicographically)
       array_to_string(list_sort(list_distinct(user_read_access)), '|') AS readers,
       COALESCE(namespace_id, '') AS namespace_id
FROM memories_d
WHERE id_num < 200
""")
def omo_roundtrip(spark, sf_dir):
    """OMO v1 portability roundtrip (routers/v1/omo_routes.py:86-340,
    models/omo.py:129-268): memories -> OMO JSON (export projection) ->
    parse back (from_omo schema scan) must preserve every standard and
    vendor field — the oracle derives the same fields DIRECTLY from the
    source table, so any export/parse asymmetry (enum normalization, ext
    namespace mapping, ACL merge) turns the row red."""
    from .sources.omo import export_omo, parse_omo

    mems = tables.build_memories(
        tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))
    back = parse_omo(export_omo(mems.withColumn("type", F.lit("text"))))
    return back.select(
        "memory_id", "content",
        F.col("type").alias("mtype"), "consent", "risk",
        F.array_join("topics", "|").alias("topics_csv"),
        # import merges acl.read into user_read_access (sorted-set semantics);
        # the fixture's read list is already sorted+distinct so identity holds
        F.array_join(F.array_sort(F.array_distinct(
            F.concat(F.coalesce("user_read_access", F.array()),
                     F.coalesce("acl_read", F.array())))), "|").alias("readers"),
        F.coalesce("namespace_id", F.lit("")).alias("namespace_id"),
    )


@_register("zorder_layout_roundtrip", """
WITH {EVENTS}
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2)::DOUBLE AS value_sum,
       MIN(floor(epoch(ts)))::BIGINT AS first_s,
       MAX(floor(epoch(ts)))::BIGINT AS last_s
FROM events_us
WHERE user_id BETWEEN 3 AND 7
  AND floor(epoch(ts)) BETWEEN 1704500000 AND 1705500000
GROUP BY user_id
""")
def zorder_roundtrip(spark, sf_dir):
    """Z-order layout integrity (writers.zorder_write, round-5): events are
    rewritten clustered by (user_id, epoch) — the layout whose per-file
    footer stats prune on BOTH columns (PERF.md round-5 table) — then read
    back through a 2-D range predicate and aggregated.  The oracle computes
    the same aggregate from the RAW table, so any row lost, duplicated, or
    corrupted by the Morton rewrite hash-fails.  Cached layout, like the
    ANN one."""
    from .sources import writers

    ev = tables.load(spark, sf_dir, "events").withColumn(
        "epoch", F.unix_timestamp("ts"))
    path = _layout(sf_dir, "zorder", ("events",), writers,
                   lambda p: writers.zorder_write(ev, p, ["user_id", "epoch"],
                                                  n_files=16))
    z = spark.read.parquet(path).filter(
        F.col("user_id").between(3, 7)
        & F.col("epoch").between(1704500000, 1705500000))
    return z.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        _r2(F.sum("value")).alias("value_sum"),
        F.min("epoch").alias("first_s"),
        F.max("epoch").alias("last_s"),
    )


@_register("txn_merge_roundtrip", """
WITH incoming AS (
  SELECT doc_id, 'PATCHED:' || doc_id::VARCHAR AS text, source
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'NEW:' || doc_id::VARCHAR AS text, source
  FROM documents WHERE doc_id % 101 = 0
), merged AS (
  SELECT d.doc_id, d.text, d.source
  FROM documents d LEFT JOIN incoming i ON d.doc_id = i.doc_id
  WHERE i.doc_id IS NULL
  UNION ALL
  SELECT doc_id, text, source FROM incoming
)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(CASE WHEN text LIKE 'PATCHED:%' THEN 1 ELSE 0 END)::BIGINT AS n_patched,
       SUM(CASE WHEN text LIKE 'NEW:%' THEN 1 ELSE 0 END)::BIGINT AS n_inserted,
       MAX(doc_id) AS max_id
FROM merged GROUP BY source
""")
def txn_merge_roundtrip(spark, sf_dir):
    """Transactional-tier MERGE under the oracle gate (sources/txn.TxnTable,
    round-5): documents are committed to a versioned table, an incoming batch
    (patches for doc_id%7, inserts past the key range) is MERGEd with
    footer-stats file skipping, and the CURRENT SNAPSHOT is aggregated.  The
    oracle derives the same merged state relationally (anti-join + union),
    so a row lost by the rewrite, a file dropped from the manifest, or a
    replaced row surviving the anti-join all hash-fail.  Built once as a
    cached layout; reruns read the committed snapshot."""
    from .sources import txn

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text", "source")

    def build(path):
        t = txn.TxnTable(spark, path, keys=["doc_id"])
        t.overwrite(docs.repartitionByRange(8, "doc_id"))
        incoming = (docs.filter(F.col("doc_id") % 7 == 0)
                    .select("doc_id",
                            F.concat(F.lit("PATCHED:"), F.col("doc_id").cast("string"))
                            .alias("text"), "source")
                    .unionByName(
                        docs.filter(F.col("doc_id") % 101 == 0)
                        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                                F.concat(F.lit("NEW:"), F.col("doc_id").cast("string"))
                                .alias("text"), "source")))
        t.merge(incoming)

    path = _layout(sf_dir, "txn", ("documents",), txn, build)
    t = txn.TxnTable(spark, path, keys=["doc_id"])
    return t.read().groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("text").startswith("PATCHED:").cast("long")).alias("n_patched"),
        F.sum(F.col("text").startswith("NEW:").cast("long")).alias("n_inserted"),
        F.max("doc_id").alias("max_id"),
    )


@_register("ann_ivf_spill", """
WITH cents AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cemb
  FROM embeddings WHERE vec_id < 8
), assign AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), c.cemb) DESC,
                    c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cents c
), bucketed AS (
  SELECT vec_id, cid AS bucket FROM assign WHERE rn <= 2
), q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qemb FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cid FROM cents CROSS JOIN q
  ORDER BY list_dot_product(cemb, qemb) DESC, cid ASC LIMIT 2
), cand AS (
  SELECT DISTINCT e.vec_id,
         list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), q.qemb)
         / (SQRT(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                  list_transform(e.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(q.qemb, q.qemb))) AS score
  FROM embeddings e
  JOIN bucketed b ON b.vec_id = e.vec_id AND b.bucket IN (SELECT cid FROM probe)
  CROSS JOIN q
)
SELECT vec_id, ROUND(score, 6)::DOUBLE AS score FROM cand
ORDER BY score DESC, vec_id ASC LIMIT 10
""")
def ann_ivf_spill(spark, sf_dir):
    """Multi-assignment (spill) IVF under the oracle gate (round-5,
    similarity.ivf_assign_multi + the assign_k-gated candidate dedup in
    ann_query): every vector lives in its top-2 buckets, the probe reads 2/8
    partitions, and replicated candidates must be de-duplicated before top-k
    — the oracle's DISTINCT over the rn<=2 bucket join is exactly that
    contract, so a missing dedup (duplicate rows in top-k) or a wrong spill
    assignment hash-fails.  Layout cached."""
    from .sources import ann_index

    emb = tables.load(spark, sf_dir, "embeddings")
    _cv = _qvecs(sf_dir, list(range(8)))
    cents = [_cv[i] for i in range(8)]
    path = _layout(sf_dir, "ivf_spill", ("embeddings",), ann_index,
                   lambda p: ann_index.build_ivf_index(emb, p, centroids=cents,
                                                       assign_k=2))
    out = ann_index.ann_query(spark, path, cents[0], k=10, nprobe=2,
                              id_col="vec_id")
    return out.select("vec_id", _r6(F.col("score")).alias("score"))


@_register("ann_pq_rerank", """
WITH q AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS qemb
  FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT e.vec_id,
         list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), q.qemb)
         / (SQRT(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                  list_transform(e.embedding, x -> x::DOUBLE)))
          * SQRT(list_dot_product(q.qemb, q.qemb))) AS score
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, ROUND(score, 6)::DOUBLE AS score FROM cand
ORDER BY score DESC, vec_id ASC LIMIT 10
""")
def ann_pq_rerank(spark, sf_dir):
    """PQ compressed-scan ANN (sources/pq_index.py): 16-byte ADC codes over
    the WHOLE corpus pick the top-128 candidates, which re-rank EXACTLY
    against the full vectors — the full-coverage answer to the recall ceiling
    coarse IVF bucketing hits (PERF.md round-6 ANN table; reference quality
    bar = Qdrant HNSW ef=128, memory/memory_graph.py:1036-1057).  The oracle
    is the EXACT cosine top-10: the row is green only while the lossy ADC
    candidate stage still surfaces every true neighbor on this fixture — a
    broken codebook, encoder, LUT, or candidate cut hash-fails.  Layout
    cached."""
    from .sources import pq_index

    emb = tables.load(spark, sf_dir, "embeddings")
    path = _layout(sf_dir, "pq", ("embeddings",), pq_index,
                   lambda p: pq_index.build_pq_index(emb, p, m=16))
    out = pq_index.pq_query(spark, path, emb, _qvec(sf_dir, 0), k=10,
                            rerank=128, id_col="vec_id")
    return out.select("vec_id", _r6(F.col("score")).alias("score"))


@_register("corpus_increment_dedup", f"""
WITH base AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN embeddings e ON e.vec_id = d.doc_id
),
cut AS (
  SELECT ((MAX(doc_id) + 1) * 7) // 10 AS c FROM base
),
initd AS (SELECT doc_id, text FROM base WHERE doc_id < (SELECT c FROM cut)),
newd AS (SELECT doc_id, text FROM base WHERE doc_id >= (SELECT c FROM cut)),
ix AS (
  SELECT d.doc_id, d.text FROM initd d
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS c FROM initd GROUP BY 1) g
    ON md5(d.text) = g.h AND d.doc_id = g.c
), nx AS (
  SELECT d.doc_id, d.text FROM newd d
  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS c FROM newd GROUP BY 1) g
    ON md5(d.text) = g.h AND d.doc_id = g.c
  WHERE md5(d.text) NOT IN (SELECT md5(text) FROM initd)
), allx AS (
  SELECT * FROM ix UNION ALL SELECT * FROM nx
), toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM allx
), shn AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(tk) - 2, 1) + 1),
      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
  FROM toks
), sig AS (
  SELECT doc_id,
    list_transform(range(0, 16),
      i -> list_aggregate(list_transform(shingles, s -> md5(i::VARCHAR || ':' || s)), 'min')) AS sig
  FROM shn
), bt AS (
  SELECT doc_id, u['band_idx'] AS band_idx, u['band_hash'] AS band_hash FROM (
    SELECT doc_id,
      UNNEST(list_transform(range(0, 4),
        b -> {{'band_idx': b, 'band_hash': md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ','))}})) AS u
    FROM sig)
), prs AS (
  SELECT DISTINCT l.doc_id AS lid, r.doc_id AS rid
  FROM bt l JOIN bt r ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
   AND r.doc_id < l.doc_id
), near_all AS (
  SELECT DISTINCT p.lid AS doc_id
  FROM prs p JOIN shn a ON a.doc_id = p.lid JOIN shn b ON b.doc_id = p.rid
  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / greatest(len(list_distinct(a.shingles || b.shingles)), 1) >= 0.5
), d2 AS (
  SELECT doc_id FROM allx WHERE doc_id NOT IN (SELECT doc_id FROM near_all)
), cents AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16
), sims AS (
  SELECT v.vec_id, c.cid, ROUND({_SEMDEDUP_COS_VC}, 6) AS csim
  FROM embeddings v JOIN d2 ON d2.doc_id = v.vec_id CROSS JOIN cents c
), asg AS (
  SELECT vec_id AS doc_id, cid AS cluster_id, csim AS centroid_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
  FROM sims
), a1 AS (
  SELECT doc_id, cluster_id, centroid_sim FROM asg WHERE rn = 1
), dup_new AS (
  SELECT DISTINCT i.doc_id
  FROM a1 i JOIN a1 j ON i.cluster_id = j.cluster_id
   AND i.doc_id >= (SELECT c FROM cut)
   AND (j.doc_id < (SELECT c FROM cut)
        OR j.centroid_sim < i.centroid_sim
        OR (j.centroid_sim = i.centroid_sim AND j.doc_id < i.doc_id))
  JOIN embeddings ei ON ei.vec_id = i.doc_id
  JOIN embeddings ej ON ej.vec_id = j.doc_id
  WHERE ROUND({_SEMDEDUP_COS_IJ}, 6) >= 0.35
)
SELECT n.doc_id,
  CASE WHEN n.doc_id NOT IN (SELECT doc_id FROM nx) THEN 'exact'
       WHEN n.doc_id IN (SELECT doc_id FROM near_all) THEN 'near_dup'
       WHEN n.doc_id IN (SELECT doc_id FROM dup_new) THEN 'semantic'
       ELSE 'kept' END AS drop_stage,
  (CASE WHEN n.doc_id IN (SELECT doc_id FROM nx)
         AND n.doc_id NOT IN (SELECT doc_id FROM near_all)
         AND n.doc_id NOT IN (SELECT doc_id FROM dup_new)
        THEN 1 ELSE 0 END)::INT AS retained,
  a.cluster_id::BIGINT AS cluster_id,
  a.centroid_sim AS centroid_sim
FROM newd n LEFT JOIN (SELECT * FROM a1 WHERE doc_id >= (SELECT c FROM cut)) a
  ON a.doc_id = n.doc_id
""")
def corpus_increment_dedup_q(spark, sf_dir):
    """Incremental corpus maintenance (plans/corpus.py): verdict a NEW
    document batch (the last 30% of ids — the op's design point is corpus >>
    batch) against the persisted dedup state of the init corpus (the first
    70%) — exact (hash seen before / lower-id batch
    twin), MinHash/LSH near-dup (band buckets vs state + earlier batch
    members), SemDeDup first-come-first-kept (history immutable; new member
    drops on a >= eps cosine with ANY existing near_ok cluster member or an
    earlier-ranked batch member).  Because fixture init ids sort below batch
    ids, both MinHash orderings collapse to plain id order, which is what the
    oracle encodes; the SemDeDup divergence case (new doc ranking before an
    existing member) is pinned by tests/test_corpus.py instead.  The codebook
    is the first 16 vectors by id (deterministic, mirrors
    dedup_semantic_clusters); the state is a cached layout, and the
    increment runs with update_state=False so the row is re-runnable."""
    from .plans import corpus as corpus_plan

    docs = tables.load(spark, sf_dir, "documents")
    emb_t = tables.load(spark, sf_dir, "embeddings")
    emb = emb_t.select(F.col("vec_id").alias("doc_id"), "embedding")
    # the corpus universe is the EMBEDDED documents: corpus_increment's
    # alignment contract is strict 1:1 (a doc without an embedding would get
    # a verdict its state can't honor), and at sf0.1 the fixture embeds only
    # a prefix of the documents table — semi-join first, split after, and the
    # oracle's `base` CTE mirrors the same universe
    docs = docs.join(emb.select("doc_id"), "doc_id", "semi")
    cents = emb_t.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    # the layout carries the init/new split point in a sidecar too, so a warm
    # call runs zero pre-increment jobs (the max-id scan only runs when the
    # state rebuilds anyway)
    def build(path):
        cut = (docs.agg(F.max("doc_id")).first()[0] + 1) * 7 // 10
        corpus_plan.corpus_init(
            docs.filter(F.col("doc_id") < cut).select("doc_id", "text"),
            emb, cents, path, eps=0.35, jaccard_threshold=0.5)
        with open(path + ".split", "w") as f:
            f.write(str(cut))

    state = _layout(sf_dir, "corpus", ("documents", "embeddings"),
                    corpus_plan, build)
    with open(state + ".split") as f:
        cut = int(f.read())
    # batch-shaped inputs, like a real caller: the increment's contract takes
    # the BATCH docs + the batch's embeddings (joins would drop the rest
    # anyway, but handing over the full table re-scans embeddings once per
    # consumer); one lazy lineage cut per input so the five consumers of the
    # batch frame share a single materialization
    batch_docs = (docs.filter(F.col("doc_id") >= cut)
                  .select("doc_id", "text").localCheckpoint(eager=False))
    batch_emb = (emb.filter(F.col("doc_id") >= cut)
                 .localCheckpoint(eager=False))
    out = corpus_plan.corpus_increment(
        spark, batch_docs, batch_emb, state,
        eps=0.35, jaccard_threshold=0.5, update_state=False)
    return out.select("doc_id", "drop_stage",
                      F.col("retained").cast("int").alias("retained"),
                      F.col("cluster_id").cast("long").alias("cluster_id"),
                      "centroid_sim")


# Resolve the shared CTE placeholders in all oracle statements.
from .oracle import EVENTS_CTE as _EV  # noqa: E402

for _k in list(ORACLE):
    ORACLE[_k] = (ORACLE[_k]
                  .replace("{EVENTS}", _EV.strip())
                  .replace("{MEMS}", MEMORIES_CTE.strip().removeprefix("\n")))


def _register_suites() -> None:
    from . import suites

    suites.register(QUERIES, ORACLE)


_register_suites()
