"""Judged queries: similarity search over the `embeddings` fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reflex_spark.operators.similarity import (
    _hyperplanes,
    cosine,
    cosine_pairs_blocked,
    cosine_topk,
    exact_topk_multi,
    lsh_bucket_int,
    lsh_bucketed_topk,
    norm,
    sql_cosine,
    sql_dot,
)
from reflex_spark.queries import query
from reflex_spark.queries.helpers import davg, sql_davg
from reflex_spark.tables import load_tables


@query(
    "sim_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, {sql_cosine('embedding', 'qv')} AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-20 to vec_id=0 (broadcast query vector,
    TakeOrdered top-k — no global sort)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") == 0)
    return cosine_topk(emb, q, k=20)


@query(
    "sim_pairs_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.4
    """,
)
def sim_pairs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.4) via blocked vectorized
    matrix multiply (Arrow batches x broadcast normalized matrix); the
    expression-based cosine_pairs is the slow exact-reference form."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return cosine_pairs_blocked(emb, threshold=0.4)


from reflex_spark.operators.similarity import ivf_topk_seeded, sql_sqdist  # noqa: E402

_IVF_LISTS = 16
_IVF_PROBE = 4
_IVF_D2 = sql_sqdist("e.embedding", "c.cv")
_IVF_QD2 = sql_sqdist("q.qv", "c.cv")


@query(
    "sim_ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_IVF_LISTS}
    ),
    lists AS (
      SELECT vec_id, embedding, cid AS ivf_list FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_D2}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
    qprobe AS (
      SELECT q_id, qv, cid AS ivf_list FROM (
        SELECT q.q_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_IVF_QD2}, c.cid) AS rnk
        FROM q, cent c)
      WHERE rnk <= {_IVF_PROBE}
    )
    SELECT vec_id, cos_sim FROM (
      SELECT l.vec_id, {sql_cosine('l.embedding', 'p.qv')} AS cos_sim
      FROM lists l JOIN qprobe p USING (ivf_list)
      WHERE l.vec_id <> p.q_id)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
    """,
)
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the seed-vector coarse quantizer (centroids = vectors
    0..15, assignment = nearest seed by squared L2, probe the 4 nearest
    lists, exact cosine within them). Fully oracle-checked end-to-end
    (VERDICT r4 #3): the quantizer is a closed form, so DuckDB replicates
    assignment, probe choice, and in-list scoring bit-for-bit. The
    iterative k-means quantizer is judged by sim_ann_ivf_kmeans_topk and
    sim_ann_ivf_recall (round 5: fully oracle-checked via
    kmeans_centroids_exact)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") == 0)
    return ivf_topk_seeded(emb, q, k=20, n_lists=_IVF_LISTS, n_probe=_IVF_PROBE)


def _sql_plane_dot(vec: str, plane: list[float]) -> str:
    """DuckDB dot of ``vec`` against a literal ±1 hyperplane, with the same
    per-element double products / sequential list_sum as sql_dot."""
    lit = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
    return (
        f"list_sum(list_transform(generate_series(1, {len(plane)}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({lit})[i]))"
    )


def _sql_bucket_for(vec: str, planes: list[list[float]]) -> str:
    """Signature int: bit p-1-i set when plane i's dot >= 0 (MSB-first),
    mirroring lsh_bucket_int; equality-joins identically to the string
    signature lsh_signs produces (same bit order)."""
    p = len(planes)
    terms = [
        f"(CASE WHEN {_sql_plane_dot(vec, plane)} >= 0 THEN {1 << (p - 1 - i)} ELSE 0 END)"
        for i, plane in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


_LSH_TOPK_PLANES = _hyperplanes(6, 64)


@query(
    "sim_ann_lsh_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qv,
             {_sql_bucket_for("embedding", _LSH_TOPK_PLANES)} AS qb
      FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id, cos_sim FROM (
      SELECT e.vec_id, {sql_cosine('e.embedding', 'q.qv')} AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id <> q.q_id
        AND {_sql_bucket_for("e.embedding", _LSH_TOPK_PLANES)} = q.qb)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
    """,
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: random-hyperplane LSH bucketing (6 deterministic md5-derived
    ±1 planes), then exact cosine within the query's bucket. At scale the
    bucket is a partition key: a probe reads one partition instead of the
    full table. Fully oracle-checked (VERDICT r4 #3): the deterministic
    hyperplanes let DuckDB recompute every vector's bucket and the exact
    same in-bucket top-k, the sim_ann_recall trick applied to the
    single-probe query."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") == 0)
    return lsh_bucketed_topk(emb, q, k=20, num_planes=6)


@query(
    "embedding_label_norms",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n_vecs,
           {sql_davg(f'round(sqrt({sql_dot("embedding", "embedding")}), 6)', 'avg_norm')}
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_label_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-norm aggregation per label (array math stays JVM-side)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return emb.select(
        "label", F.round(norm(F.col("embedding")), 6).alias("nrm")
    ).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        davg("nrm", "avg_norm"),
    )


# --- ANN recall as a judged invariant (round 4, VERDICT r3 #5) ------------

_RECALL_PLANES = _hyperplanes(4, 64)
_RECALL_K = 20
_RECALL_NQ = 5  # query set = vec_id 0..4


def _sql_bucket(vec: str) -> str:
    """Recall-query signature int (4 planes); see _sql_bucket_for."""
    return _sql_bucket_for(vec, _RECALL_PLANES)


@query(
    "sim_ann_recall",
    oracle=f"""
    WITH qs AS (
      SELECT vec_id AS q_id, embedding AS q_vec, {_sql_bucket("embedding")} AS q_bucket
      FROM embeddings WHERE vec_id < {_RECALL_NQ}
    ),
    emb_b AS (
      SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket FROM embeddings
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_cosine("e.embedding", "q.q_vec")} DESC, e.vec_id) AS rnk
        FROM embeddings e, qs q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= {_RECALL_K}
    ),
    probes AS (
      SELECT q.q_id, q.q_vec, r.i AS r, p.i AS bucket
      FROM qs q, generate_series(0, 3) AS r(i), generate_series(0, 15) AS p(i)
      WHERE bit_count(xor(p.i::BIGINT, q.q_bucket::BIGINT)) <= r.i
    ),
    approx AS (
      SELECT r, q_id, vec_id FROM (
        SELECT pr.r, pr.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY pr.r, pr.q_id
                 ORDER BY {sql_cosine("e.embedding", "pr.q_vec")} DESC, e.vec_id) AS rnk
        FROM emb_b e JOIN probes pr ON e.bucket = pr.bucket
        WHERE e.vec_id <> pr.q_id)
      WHERE rnk <= {_RECALL_K}
    )
    SELECT 'lsh_mp4_r' || a.r AS method,
           CAST({_RECALL_K} AS INTEGER) AS k,
           round(COUNT(*) / {_RECALL_NQ * _RECALL_K}.0, 4) AS recall_at_k
    FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    GROUP BY a.r
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of multi-probe sign-LSH (4 planes, probe radius r=0..3)
    against the exact top-20, averaged over a fixed 5-query set — the
    recall/probe-cost trade-off as a judged, oracle-checked invariant.

    r=0 is the classic single-bucket probe; each +1 admits every bucket one
    more bit flip away (C(4,<=r) of 16 buckets), and the radius-3 probe is
    expected >= 0.9 (pinned in tests/test_sources_and_ops.py). Candidate
    selection stays an equi-join on the bucket key at every radius — the
    partition-pruning shape that survives 100 TB. The hyperplanes are
    deterministic md5-derived ±1 vectors, so the DuckDB oracle replicates
    the *entire* approximate pipeline bit-for-bit, not just the exact side.
    """
    from pyspark.sql import Window

    emb = load_tables(spark, sf_dir)["embeddings"]
    qs = emb.where(F.col("vec_id") < _RECALL_NQ)
    exact = exact_topk_multi(emb, qs, k=_RECALL_K).select("__q_id", "vec_id")

    emb_b = emb.withColumn("__bucket", lsh_bucket_int("embedding", _RECALL_PLANES))
    q = qs.select(
        F.col("vec_id").alias("__q_id"),
        F.col("embedding").alias("__q_vec"),
        lsh_bucket_int("embedding", _RECALL_PLANES).alias("__q_bucket"),
    )
    probes = (
        q.select(
            "__q_id",
            "__q_vec",
            "__q_bucket",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r"),
        )
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("__bucket"))
        .where(F.bit_count(F.col("__bucket").bitwiseXOR(F.col("__q_bucket"))) <= F.col("r"))
        .drop("__q_bucket")
    )
    cand = (
        emb_b.join(F.broadcast(probes), "__bucket")
        .where(F.col("vec_id") != F.col("__q_id"))
        .select(
            "r", "__q_id", "vec_id", cosine(F.col("embedding"), F.col("__q_vec")).alias("cos_sim")
        )
    )
    w = Window.partitionBy("r", "__q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    approx = cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= _RECALL_K)
    return (
        approx.join(exact, ["__q_id", "vec_id"])
        .groupBy("r")
        .agg(
            F.round(F.count(F.lit(1)) / float(_RECALL_NQ * _RECALL_K), 4).alias("recall_at_k")
        )
        .select(
            F.concat(F.lit("lsh_mp4_r"), F.col("r").cast("string")).alias("method"),
            F.lit(_RECALL_K).alias("k"),
            "recall_at_k",
        )
    )


def _sql_kmeans_ctes(n_lists: int, iters: int, dim: int) -> tuple[str, str]:
    """DuckDB CTE chain replicating kmeans_centroids_exact bit-for-bit:
    per-iteration argmin assignment (sql_sqdist, ties to lower cid) and
    decimal-sum per-dimension means with one IEEE division; empty
    clusters keep the previous centroid via LEFT JOIN + COALESCE.
    Returns (cte_sql, final_centroid_cte_name)."""
    d2 = sql_sqdist("e.embedding", "c.cv")
    parts = [
        f"""c0 AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < {n_lists})"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2}, c.cid) AS rnk
        FROM embeddings e, c{i-1} c)
      WHERE rnk = 1),
    m{i} AS (
      SELECT cid, di,
             CAST(SUM(CAST(CAST(embedding[di] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*) AS m
      FROM a{i}, generate_series(1, {dim}) AS g(di)
      GROUP BY cid, di),
    c{i} AS (
      SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
      FROM c{i-1} p LEFT JOIN
           (SELECT cid, list(m ORDER BY di) AS cv FROM m{i} GROUP BY cid) mm
        ON p.cid = mm.cid)"""
        )
    return ",\n    ".join(parts), f"c{iters}"


_KM_CTES, _KM_FINAL = _sql_kmeans_ctes(_IVF_LISTS, 3, 64)


def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of IVF ANN (16 lists, n_probe=12, EXACT 3-iteration
    k-means quantizer) against the exact top-20 over the fixed 5-query
    set. Round 5: previously rows-only ('the k-means quantizer is
    iterative and not expressible'), now FULLY oracle-checked — the
    quantizer is kmeans_centroids_exact, whose fit DuckDB unrolls as
    CTEs, so the oracle replicates fit, assignment, probing, per-query
    top-20 AND the recall arithmetic. Expected >= 0.9 — also pinned in
    tests/test_sources_and_ops.py. The numpy quantizer (ivf_assign)
    remains the bulk path, recall-covered by its own pytest."""
    from reflex_spark.operators.similarity import (
        ivf_probe_topk_multi,
        kmeans_centroids_exact,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    cent = kmeans_centroids_exact(emb, n_lists=16, iters=3)
    qs = emb.where(F.col("vec_id") < _RECALL_NQ)
    exact = exact_topk_multi(emb, qs, k=_RECALL_K).select("__q_id", "vec_id")
    approx = ivf_probe_topk_multi(emb, qs, cent, k=_RECALL_K, n_probe=12)
    return (
        approx.join(exact, ["__q_id", "vec_id"])
        .groupBy()
        .agg(F.round(F.count(F.lit(1)) / float(_RECALL_NQ * _RECALL_K), 4).alias("recall_at_k"))
        .select(
            F.lit("ivf_kmeans_p12").alias("method"),
            F.lit(_RECALL_K).alias("k"),
            "recall_at_k",
        )
    )


sim_ann_ivf_recall = query(
    "sim_ann_ivf_recall",
    oracle=f"""
    WITH {{KM}},
    cent AS (SELECT cid, cv FROM {{KMFINAL}}),
    lists AS (
      SELECT vec_id, embedding, cid AS ivf_list FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_D2}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1
    ),
    qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_RECALL_NQ}),
    qprobe AS (
      SELECT q_id, qv, cid AS ivf_list FROM (
        SELECT q.q_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_sqdist("q.qv", "c.cv")}, c.cid) AS rnk
        FROM qs q, cent c)
      WHERE rnk <= 12
    ),
    approx AS (
      SELECT q_id, vec_id FROM (
        SELECT p.q_id, l.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.q_id
                 ORDER BY {sql_cosine('l.embedding', 'p.qv')} DESC, l.vec_id) AS rnk
        FROM lists l JOIN qprobe p USING (ivf_list)
        WHERE l.vec_id <> p.q_id)
      WHERE rnk <= {_RECALL_K}
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_cosine("e.embedding", "q.qv")} DESC, e.vec_id) AS rnk
        FROM embeddings e, qs q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= {_RECALL_K}
    )
    SELECT 'ivf_kmeans_p12' AS method,
           CAST({_RECALL_K} AS INTEGER) AS k,
           round(COUNT(*) / {_RECALL_NQ * _RECALL_K}.0, 4) AS recall_at_k
    FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    """.replace("{KM}", _KM_CTES).replace("{KMFINAL}", _KM_FINAL),
)(sim_ann_ivf_recall)




@query(
    "sim_ann_ivf_kmeans_topk",
    oracle=f"""
    WITH {_KM_CTES},
    cent AS (SELECT cid, cv FROM {_KM_FINAL}),
    lists AS (
      SELECT vec_id, embedding, cid AS ivf_list FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_D2}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
    qprobe AS (
      SELECT q_id, qv, cid AS ivf_list FROM (
        SELECT q.q_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_IVF_QD2}, c.cid) AS rnk
        FROM q, cent c)
      WHERE rnk <= {_IVF_PROBE}
    )
    SELECT vec_id, cos_sim FROM (
      SELECT l.vec_id, {sql_cosine('l.embedding', 'p.qv')} AS cos_sim
      FROM lists l JOIN qprobe p USING (ivf_list)
      WHERE l.vec_id <> p.q_id)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
    """,
)
def sim_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a 3-iteration EXACT k-means coarse quantizer — the
    previously 'genuinely non-SQL' iterative fit, judged end-to-end
    (round 5): kmeans_centroids_exact builds each iteration from the two
    proven cross-engine parity primitives (sqdist assignment; decimal-sum
    per-dimension means, the PageRank recipe), so DuckDB unrolls the
    whole fit as CTEs and replicates quantizer, assignment, probe choice
    and in-list scoring bit-for-bit. The numpy quantizer (ivf_assign)
    remains the fast bulk path; this one is its oracle-checkable twin
    with identical probe cost profile."""
    from reflex_spark.operators.similarity import (
        ivf_probe_topk,
        kmeans_centroids_exact,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    cent = kmeans_centroids_exact(emb, n_lists=_IVF_LISTS, iters=3)
    q = emb.where(F.col("vec_id") == 0)
    return ivf_probe_topk(emb, q, cent, k=20, n_probe=_IVF_PROBE)


# --- PQ-ADC ANN (round 6) --------------------------------------------------

_PQ_M, _PQ_SUB, _PQ_CODES, _PQ_ITERS, _PQ_K = 4, 16, 8, 2, 20


def _sql_pq_subspace(
    m: int,
    rel: str = "embeddings",
    vcol: str = "embedding",
    with_lut: bool = True,
    train_rel: str | None = None,
    init_rel: str | None = None,
) -> str:
    """CTE chain for subspace m: oracle-exact k-means on the slice and a
    final encode pass against the FINAL codebook; with ``with_lut``,
    also the plain-PQ query LUT keyed on pq_q. Mirrors pq_adc_topk /
    kmeans_centroids_exact step for step (argmin ties to lower cid;
    decimal-sum means; empty clusters keep previous centroids).
    ``rel``/``vcol`` select the training relation — raw embeddings for
    plain PQ, the residual CTE for IVF-PQ. ``train_rel``/``init_rel``
    mirror the train_sample cap: iterations see only sampled ids, init
    comes from the sample's ids, the encode pass stays full."""
    p = f"s{m}_"
    off = m * _PQ_SUB
    sl = f"e.{vcol}[{off + 1}:{off + _PQ_SUB}]"
    d2 = sql_sqdist(f"({sl})", "c.cv")
    init_where = (
        f"vec_id IN (SELECT vec_id FROM {init_rel})"
        if init_rel
        else f"vec_id < {_PQ_CODES}"
    )
    train_where = (
        f"\n        WHERE e.vec_id IN (SELECT vec_id FROM {train_rel})"
        if train_rel
        else ""
    )
    parts = [
        f"""{p}c0 AS (
      SELECT vec_id AS cid,
             list_transform({vcol}[{off + 1}:{off + _PQ_SUB}], x -> CAST(x AS DOUBLE)) AS cv
      FROM {rel} WHERE {init_where})"""
    ]
    for i in range(1, _PQ_ITERS + 1):
        parts.append(
            f"""{p}a{i} AS (
      SELECT vec_id, sv, cid FROM (
        SELECT e.vec_id, {sl} AS sv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2}, c.cid) AS rnk
        FROM {rel} e, {p}c{i - 1} c{train_where})
      WHERE rnk = 1),
    {p}m{i} AS (
      SELECT cid, di,
             CAST(SUM(CAST(CAST(sv[di] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*) AS m
      FROM {p}a{i}, generate_series(1, {_PQ_SUB}) AS g(di)
      GROUP BY cid, di),
    {p}c{i} AS (
      SELECT pp.cid, COALESCE(mm.cv, pp.cv) AS cv
      FROM {p}c{i - 1} pp LEFT JOIN
           (SELECT cid, list(m ORDER BY di) AS cv FROM {p}m{i} GROUP BY cid) mm
        ON pp.cid = mm.cid)"""
        )
    parts.append(
        f"""{p}enc AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2}, c.cid) AS rnk
        FROM {rel} e, {p}c{_PQ_ITERS} c)
      WHERE rnk = 1)"""
    )
    if with_lut:
        parts.append(
            f"""{p}lut AS (
      SELECT q.q_id, c.cid,
             {sql_sqdist("c.cv", f"(q.qv[{off + 1}:{off + _PQ_SUB}])")} AS d
      FROM {p}c{_PQ_ITERS} c, pq_q q),
    {p}d AS (
      SELECT l.q_id, e.vec_id, l.d
      FROM {p}enc e JOIN {p}lut l ON e.cid = l.cid)"""
        )
    return ",\n    ".join(parts)


_PQ_SUBSPACES = ",\n    ".join(_sql_pq_subspace(m) for m in range(_PQ_M))


@query(
    "sim_ann_pq_topk",
    oracle=f"""
    WITH pq_q AS (SELECT vec_id AS q_id, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
    {_PQ_SUBSPACES}
    SELECT vec_id,
           round(s0_d.d + s1_d.d + s2_d.d + s3_d.d, 6) AS approx_dist
    FROM s0_d JOIN s1_d USING (q_id, vec_id)
              JOIN s2_d USING (q_id, vec_id)
              JOIN s3_d USING (q_id, vec_id)
    WHERE vec_id <> q_id
    ORDER BY approx_dist, vec_id
    LIMIT {_PQ_K}
    """,
)
def sim_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. TPAMI'11), judged end-to-end:
    4 subspaces × 16 dims, 8-codeword codebooks from ORACLE-EXACT
    2-iteration k-means on each slice, per-vector codes from a final
    encode pass, and asymmetric-distance top-20 for query vec_id 0 via
    broadcast LUTs. The oracle unrolls all four subspace fits, encodes,
    LUTs and the fixed-order distance sum — the entire approximate
    pipeline is hash-checked, not just its shape. The codes relation is
    the compressed scan target at 100 TB (M bytes/vector); codebooks and
    LUTs stay broadcast-sized."""
    from reflex_spark.operators.similarity import pq_adc_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") == 0)
    return pq_adc_topk(
        emb, q, m_subspaces=_PQ_M, sub_dim=_PQ_SUB,
        n_codes=_PQ_CODES, iters=_PQ_ITERS, k=_PQ_K,
    )


@query(
    "sim_ann_pq_recall",
    # Recall@20 of PQ-ADC against the exact L2 top-20 over queries 0..4 —
    # the whole approximate pipeline (4 subspace fits, encode, LUTs,
    # fixed-order distance sum, per-query ranking) AND the exact baseline
    # AND the recall arithmetic replicated in one oracle.
    oracle=f"""
    WITH pq_q AS (SELECT vec_id AS q_id, embedding AS qv
                  FROM embeddings WHERE vec_id < {_RECALL_NQ}),
    {_PQ_SUBSPACES},
    approx AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY round(s0_d.d + s1_d.d + s2_d.d + s3_d.d, 6),
                          vec_id) AS rnk
        FROM s0_d JOIN s1_d USING (q_id, vec_id)
                  JOIN s2_d USING (q_id, vec_id)
                  JOIN s3_d USING (q_id, vec_id)
        WHERE vec_id <> q_id)
      WHERE rnk <= {_PQ_K}),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_sqdist("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e, pq_q q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= {_PQ_K})
    SELECT 'pq_m4_k8' AS method,
           CAST({_PQ_K} AS INTEGER) AS k,
           round(COUNT(*) / {_RECALL_NQ * _PQ_K}.0, 4) AS recall_at_k
    FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    """,
)
def sim_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of PQ-ADC (4×16 subspaces, 8 codes, exact 2-iteration
    fits) vs the exact L2 top-20 over the fixed 5-query set — judged as a
    single recall number, like sim_ann_recall/sim_ann_ivf_recall. PQ with
    8 codes per subspace is a coarse quantizer, so this also pins an
    honest floor for what 32-bit codes buy."""
    from pyspark.sql import Window

    from reflex_spark.operators.similarity import pq_adc_topk, sqdist

    emb = load_tables(spark, sf_dir)["embeddings"]
    qs = emb.where(F.col("vec_id") < _RECALL_NQ)
    # per-query approx top-k: pq_adc_topk's scoring path but ranked per query
    scored = pq_adc_topk(
        emb, qs, m_subspaces=_PQ_M, sub_dim=_PQ_SUB,
        n_codes=_PQ_CODES, iters=_PQ_ITERS, k=_PQ_K, per_query=True,
    )
    exact = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(qs.select(F.col("vec_id").alias("__q_id"),
                                    F.col("embedding").alias("__qv"))))
        .where(F.col("vec_id") != F.col("__q_id"))
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__qv")))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= _PQ_K)
        .select("__q_id", "vec_id")
    )
    return (
        scored.join(exact, ["__q_id", "vec_id"])
        .groupBy()
        .agg(
            F.round(
                F.count(F.lit(1)) / float(_RECALL_NQ * _PQ_K), 4
            ).alias("recall_at_k")
        )
        .select(
            F.lit("pq_m4_k8").alias("method"),
            F.lit(_PQ_K).alias("k"),
            "recall_at_k",
        )
    )


_PQ_TRAIN_SAMPLE = 256
_PQ_SAMPLED_FITS = ",\n    ".join(
    _sql_pq_subspace(m, train_rel="tr", init_rel="tinit") for m in range(_PQ_M)
)


@query(
    "sim_ann_pq_sampled_topk",
    # The 100 TB training rule made judgeable: codebooks fit on the 256
    # smallest-md5(vec_id) vectors (a deterministic content-hash draw both
    # engines rank identically), init = the sample's 8 smallest ids,
    # iterations see ONLY sampled slices — while the encode pass and the
    # ADC scan cover the full table, exactly like the unsampled twin.
    oracle=f"""
    WITH pq_q AS (SELECT vec_id AS q_id, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
    tr AS (SELECT vec_id FROM (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
      FROM embeddings) WHERE rnk <= {_PQ_TRAIN_SAMPLE}),
    tinit AS (SELECT vec_id FROM (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS r FROM tr)
      WHERE r <= {_PQ_CODES}),
    {_PQ_SAMPLED_FITS}
    SELECT vec_id,
           round(s0_d.d + s1_d.d + s2_d.d + s3_d.d, 6) AS approx_dist
    FROM s0_d JOIN s1_d USING (q_id, vec_id)
              JOIN s2_d USING (q_id, vec_id)
              JOIN s3_d USING (q_id, vec_id)
    WHERE vec_id <> q_id
    ORDER BY approx_dist, vec_id
    LIMIT {_PQ_K}
    """,
)
def sim_ann_pq_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC with SAMPLE-TRAINED codebooks (VERDICT r6 wrong #1 / next
    #5): the fit rides a bounded deterministic content-hash sample
    (pq_train_sample_ids — the 256 smallest md5(vec_id) hashes, a
    TakeOrdered at any scale), init is the sample's lowest ids, and only
    the encode/ADC passes touch the full table. At 100 TB the codebook
    fit must be sample-bounded (Jégou TPAMI'11 trains on learning sets
    ≪ the index); this query proves the sampled fit is still bit-exactly
    oracle-replicable, aligning PQ with the IVF-seeding and unigram-LM
    sampling posture."""
    from reflex_spark.operators.similarity import pq_adc_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") == 0)
    return pq_adc_topk(
        emb, q, m_subspaces=_PQ_M, sub_dim=_PQ_SUB,
        n_codes=_PQ_CODES, iters=_PQ_ITERS, k=_PQ_K,
        train_sample=_PQ_TRAIN_SAMPLE,
    )


# --- IVF-PQ residual index (round 7) ---------------------------------------

_IVFPQ_LISTS, _IVFPQ_COARSE_ITERS, _IVFPQ_PROBE = 8, 2, 4
_PQ_SHORTLIST_IVFPQ = 100
_IVFPQ_KM_CTES, _IVFPQ_KM_FINAL = _sql_kmeans_ctes(_IVFPQ_LISTS, _IVFPQ_COARSE_ITERS, 64)


def _sql_ivfpq_body() -> str:
    """Shared oracle CTE body for the IVF-PQ queries: coarse fit (reused
    k-means CTE chain), list assignment + residuals, 4 PQ subspace fits
    over the residual relation, query probe + per-list residual LUTs,
    and the per-(q, vec) fixed-order ADC distance join. Expects a pq_q
    CTE (q_id, qv) to be defined by the caller."""
    fits = ",\n    ".join(
        _sql_pq_subspace(m, rel="resid", vcol="rv", with_lut=False)
        for m in range(_PQ_M)
    )
    luts = []
    for m in range(_PQ_M):
        p = f"s{m}_"
        off = m * _PQ_SUB
        luts.append(
            f"""{p}lut AS (
      SELECT q.q_id, q.ivf_list, c.cid,
             {sql_sqdist("c.cv", f"(q.qrv[{off + 1}:{off + _PQ_SUB}])")} AS d
      FROM {p}c{_PQ_ITERS} c, qresid q),
    {p}d AS (
      SELECT l.q_id, e.vec_id, l.d
      FROM {p}enc e
      JOIN rlists rl ON rl.vec_id = e.vec_id
      JOIN {p}lut l ON e.cid = l.cid AND l.ivf_list = rl.ivf_list)"""
        )
    luts_sql = ",\n    ".join(luts)
    return f"""{_IVFPQ_KM_CTES},
    coarse AS (SELECT cid, cv FROM {_IVFPQ_KM_FINAL}),
    rlists AS (
      SELECT vec_id, embedding, cid AS ivf_list, cv FROM (
        SELECT e.vec_id, e.embedding, c.cid, c.cv,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {sql_sqdist("e.embedding", "c.cv")}, c.cid) AS rnk
        FROM embeddings e, coarse c)
      WHERE rnk = 1),
    resid AS (
      SELECT vec_id, ivf_list,
             list_transform(generate_series(1, 64),
                            i -> CAST(embedding[i] AS DOUBLE) - cv[i]) AS rv
      FROM rlists),
    {fits},
    qprobe AS (
      SELECT q_id, qv, cid AS ivf_list, cv FROM (
        SELECT q.q_id, q.qv, c.cid, c.cv,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_sqdist("q.qv", "c.cv")}, c.cid) AS rnk
        FROM pq_q q, coarse c)
      WHERE rnk <= {_IVFPQ_PROBE}),
    qresid AS (
      SELECT q_id, ivf_list,
             list_transform(generate_series(1, 64),
                            i -> CAST(qv[i] AS DOUBLE) - cv[i]) AS qrv
      FROM qprobe),
    {luts_sql}"""


_IVFPQ_BODY = _sql_ivfpq_body()


@query(
    "sim_ann_ivfpq_topk",
    oracle=f"""
    WITH pq_q AS (SELECT vec_id AS q_id, embedding AS qv
                  FROM embeddings WHERE vec_id = 0),
    {_IVFPQ_BODY}
    SELECT vec_id,
           round(s0_d.d + s1_d.d + s2_d.d + s3_d.d, 6) AS approx_dist
    FROM s0_d JOIN s1_d USING (q_id, vec_id)
              JOIN s2_d USING (q_id, vec_id)
              JOIN s3_d USING (q_id, vec_id)
    WHERE vec_id <> q_id
    ORDER BY approx_dist, vec_id
    LIMIT {_PQ_K}
    """,
)
def sim_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual index (Jégou et al. TPAMI'11 §V, IVFADC), judged
    end-to-end: the oracle-exact coarse k-means (8 lists, 2 iters), the
    per-vector residual x − c(x), ONE shared 4×16 PQ trained on all
    residuals jointly (8 codes, 2 iters), probe-4 query routing, and
    per-probed-list residual ADC LUTs. Candidates are only the vectors
    in probed lists — the inner equi-join on ivf_list IS the index. The
    oracle replicates every stage (coarse fit CTEs, residual arithmetic,
    4 subspace fits, probe choice, LUTs, fixed-order distance sum) so
    the composed 100 TB index structure is hash-checked, not just its
    shape. Scan target at scale: (ivf_list, codes) — one small int + M
    bytes per vector; everything else is broadcast-sized."""
    from reflex_spark.operators.similarity import ivfpq_adc_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") == 0)
    return ivfpq_adc_topk(
        emb, q,
        n_lists=_IVFPQ_LISTS, coarse_iters=_IVFPQ_COARSE_ITERS,
        m_subspaces=_PQ_M, sub_dim=_PQ_SUB, n_codes=_PQ_CODES,
        pq_iters=_PQ_ITERS, k=_PQ_K, n_probe=_IVFPQ_PROBE,
    )


@query(
    "sim_ann_ivfpq_recall",
    # Recall@20 of the composed IVF-PQ index against the exact L2 top-20
    # over queries 0..4 — probing bounds recall (true neighbors outside
    # the 4 probed lists are unreachable), so this also pins the honest
    # coarse-quantization cost on top of the PQ distortion.
    oracle=f"""
    WITH pq_q AS (SELECT vec_id AS q_id, embedding AS qv
                  FROM embeddings WHERE vec_id < {_RECALL_NQ}),
    {_IVFPQ_BODY},
    approx AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY round(s0_d.d + s1_d.d + s2_d.d + s3_d.d, 6),
                          vec_id) AS rnk
        FROM s0_d JOIN s1_d USING (q_id, vec_id)
                  JOIN s2_d USING (q_id, vec_id)
                  JOIN s3_d USING (q_id, vec_id)
        WHERE vec_id <> q_id)
      WHERE rnk <= {_PQ_K}),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_sqdist("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e, pq_q q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= {_PQ_K})
    SELECT 'ivfpq_l8_p4_m4' AS method,
           CAST({_PQ_K} AS INTEGER) AS k,
           round(COUNT(*) / {_RECALL_NQ * _PQ_K}.0, 4) AS recall_at_k
    FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    """,
)
def sim_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of the composed IVF-PQ residual index (8 lists, probe 4,
    4×16 PQ on residuals) vs the exact L2 top-20 over the fixed 5-query
    set — the whole index AND the exact baseline AND the recall
    arithmetic in one hash-checked number, like sim_ann_pq_recall."""
    from pyspark.sql import Window

    from reflex_spark.operators.similarity import ivfpq_adc_topk, sqdist

    emb = load_tables(spark, sf_dir)["embeddings"]
    qs = emb.where(F.col("vec_id") < _RECALL_NQ)
    scored = ivfpq_adc_topk(
        emb, qs,
        n_lists=_IVFPQ_LISTS, coarse_iters=_IVFPQ_COARSE_ITERS,
        m_subspaces=_PQ_M, sub_dim=_PQ_SUB, n_codes=_PQ_CODES,
        pq_iters=_PQ_ITERS, k=_PQ_K, n_probe=_IVFPQ_PROBE, per_query=True,
    )
    exact = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(qs.select(F.col("vec_id").alias("__q_id"),
                                    F.col("embedding").alias("__qv"))))
        .where(F.col("vec_id") != F.col("__q_id"))
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__qv")))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= _PQ_K)
        .select("__q_id", "vec_id")
    )
    return (
        scored.join(exact, ["__q_id", "vec_id"])
        .groupBy()
        .agg(
            F.round(
                F.count(F.lit(1)) / float(_RECALL_NQ * _PQ_K), 4
            ).alias("recall_at_k")
        )
        .select(
            F.lit("ivfpq_l8_p4_m4").alias("method"),
            F.lit(_PQ_K).alias("k"),
            "recall_at_k",
        )
    )


@query(
    "sim_ann_ivfpq_rerank_recall",
    # The full deployment shape of the composed index: IVF-PQ shortlist
    # (100 per query, only probed lists scanned) -> exact L2 rerank of
    # the shortlist -> recall@20. Coarse-probing still bounds what the
    # rerank can recover (true neighbors outside probed lists stay
    # unreachable), so this pins the honest end-to-end number.
    oracle=f"""
    WITH pq_q AS (SELECT vec_id AS q_id, embedding AS qv
                  FROM embeddings WHERE vec_id < {_RECALL_NQ}),
    {_IVFPQ_BODY},
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY round(s0_d.d + s1_d.d + s2_d.d + s3_d.d, 6),
                          vec_id) AS rnk
        FROM s0_d JOIN s1_d USING (q_id, vec_id)
                  JOIN s2_d USING (q_id, vec_id)
                  JOIN s3_d USING (q_id, vec_id)
        WHERE vec_id <> q_id)
      WHERE rnk <= {_PQ_SHORTLIST_IVFPQ}),
    rerank AS (
      SELECT q_id, vec_id FROM (
        SELECT s.q_id, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY s.q_id
                 ORDER BY {sql_sqdist("e.embedding", "q.qv")}, s.vec_id) AS rnk
        FROM shortlist s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN pq_q q ON q.q_id = s.q_id)
      WHERE rnk <= {_PQ_K}),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_sqdist("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e, pq_q q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= {_PQ_K})
    SELECT 'ivfpq_rerank' AS method,
           CAST({_PQ_K} AS INTEGER) AS k,
           round(COUNT(*) / {_RECALL_NQ * _PQ_K}.0, 4) AS recall_at_k
    FROM rerank a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    """,
)
def sim_ann_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval on the COMPOSED index, the way IVF-PQ is
    actually deployed (Jégou TPAMI'11 §VII): the residual codes produce
    a 100-candidate shortlist per query from the probed lists alone,
    exact L2 reranks only the shortlist. At 100 TB the exact stage
    touches (shortlist/N) of the data AND the shortlist scan touches
    (probed lists/N) — the two bounds compose. Recall@20 recovers from
    the raw-ADC floor toward the probing ceiling; the judged number
    pins the honest end-to-end figure."""
    from pyspark.sql import Window

    from reflex_spark.operators.similarity import ivfpq_adc_topk, sqdist

    emb = load_tables(spark, sf_dir)["embeddings"]
    qs = emb.where(F.col("vec_id") < _RECALL_NQ)
    shortlist = ivfpq_adc_topk(
        emb, qs,
        n_lists=_IVFPQ_LISTS, coarse_iters=_IVFPQ_COARSE_ITERS,
        m_subspaces=_PQ_M, sub_dim=_PQ_SUB, n_codes=_PQ_CODES,
        pq_iters=_PQ_ITERS, k=_PQ_SHORTLIST_IVFPQ, n_probe=_IVFPQ_PROBE,
        per_query=True,
    ).select("__q_id", "vec_id")
    qv = qs.select(F.col("vec_id").alias("__q_id"), F.col("embedding").alias("__qv"))
    rerank = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "__q_id")
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__qv")))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= _PQ_K)
        .select("__q_id", "vec_id")
    )
    exact = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("__q_id"))
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__qv")))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= _PQ_K)
        .select("__q_id", "vec_id")
    )
    return (
        rerank.join(exact, ["__q_id", "vec_id"])
        .groupBy()
        .agg(
            F.round(
                F.count(F.lit(1)) / float(_RECALL_NQ * _PQ_K), 4
            ).alias("recall_at_k")
        )
        .select(
            F.lit("ivfpq_rerank").alias("method"),
            F.lit(_PQ_K).alias("k"),
            "recall_at_k",
        )
    )


_CB_CTES, _CB_FINAL = _sql_kmeans_ctes(16, 2, 64)


@query(
    "sample_cluster_balanced",
    # Diversity-balanced sampling: cluster the embedding space (exact
    # 2-iteration k-means) and cap each cluster's contribution at 20
    # vectors picked in content-hash order — the DCLM/FineWeb-style
    # cluster-rebalancing op, fully oracle-unrolled.
    oracle=f"""
    WITH {_CB_CTES},
    cent AS (SELECT cid, cv FROM {_CB_FINAL}),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {sql_sqdist("e.embedding", "c.cv")}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1),
    ranked AS (
      SELECT cid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY cid
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick
      FROM assigned)
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN pick <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN pick <= 20 THEN vec_id ELSE 0 END) AS BIGINT)
             AS sum_kept_ids
    FROM ranked
    GROUP BY cid
    """,
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling: k-means the embedding space
    (16 clusters, oracle-exact fit), then keep at most 20 vectors per
    cluster in content-hash order — the embedding-space rebalancing op
    (over-represented modes contribute a bounded share; tail clusters
    survive). One broadcast assignment pass + one per-cluster window;
    the centroid table stays driver-sized at any SF."""
    from pyspark.sql import Window

    from reflex_spark.operators.similarity import kmeans_centroids_exact, sqdist

    emb = load_tables(spark, sf_dir)["embeddings"]
    cent = kmeans_centroids_exact(emb, n_lists=16, iters=2)
    w = Window.partitionBy("vec_id").orderBy("__d", "__cid")
    assigned = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(cent))
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__cv")))
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select("vec_id", F.col("__cid").alias("cid"))
    )
    pick_w = Window.partitionBy("cid").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    ranked = assigned.withColumn("pick", F.row_number().over(pick_w))
    return ranked.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(F.col("pick") <= 20, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("pick") <= 20, F.col("vec_id")).otherwise(0)).alias(
            "sum_kept_ids"
        ),
    )


_PQ_SHORTLIST = 100


@query(
    "sim_ann_pq_rerank_recall",
    # The production PQ pattern: ADC gives a cheap shortlist (100), exact
    # L2 reranks it to 20 — recall recovers from the coarse-code floor
    # (~0.3 raw) toward exact. Whole two-stage pipeline + recall in SQL.
    oracle=f"""
    WITH pq_q AS (SELECT vec_id AS q_id, embedding AS qv
                  FROM embeddings WHERE vec_id < {_RECALL_NQ}),
    {_PQ_SUBSPACES},
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY round(s0_d.d + s1_d.d + s2_d.d + s3_d.d, 6),
                          vec_id) AS rnk
        FROM s0_d JOIN s1_d USING (q_id, vec_id)
                  JOIN s2_d USING (q_id, vec_id)
                  JOIN s3_d USING (q_id, vec_id)
        WHERE vec_id <> q_id)
      WHERE rnk <= {_PQ_SHORTLIST}),
    rerank AS (
      SELECT q_id, vec_id FROM (
        SELECT s.q_id, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY s.q_id
                 ORDER BY {sql_sqdist("e.embedding", "q.qv")}, s.vec_id) AS rnk
        FROM shortlist s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN pq_q q ON q.q_id = s.q_id)
      WHERE rnk <= {_PQ_K}),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_sqdist("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e, pq_q q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= {_PQ_K})
    SELECT 'pq_adc_rerank' AS method,
           CAST({_PQ_K} AS INTEGER) AS k,
           round(COUNT(*) / {_RECALL_NQ * _PQ_K}.0, 4) AS recall_at_k
    FROM rerank a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    """,
)
def sim_ann_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the way PQ is actually deployed: the
    compressed codes produce a 100-candidate shortlist per query (cheap —
    a code-table scan + LUT adds), then exact L2 reranks only the
    shortlist (100 full-vector distances per query instead of N). At
    100 TB the exact stage touches 100/N of the data; recall@20 recovers
    from the raw-ADC floor toward exact, and the judged number pins it."""
    from pyspark.sql import Window

    from reflex_spark.operators.similarity import pq_adc_topk, sqdist

    emb = load_tables(spark, sf_dir)["embeddings"]
    qs = emb.where(F.col("vec_id") < _RECALL_NQ)
    shortlist = pq_adc_topk(
        emb, qs, m_subspaces=_PQ_M, sub_dim=_PQ_SUB,
        n_codes=_PQ_CODES, iters=_PQ_ITERS, k=_PQ_SHORTLIST, per_query=True,
    ).select("__q_id", "vec_id")
    qv = qs.select(F.col("vec_id").alias("__q_id"), F.col("embedding").alias("__qv"))
    rerank = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "__q_id")
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__qv")))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= _PQ_K)
        .select("__q_id", "vec_id")
    )
    exact = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("__q_id"))
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__qv")))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= _PQ_K)
        .select("__q_id", "vec_id")
    )
    return (
        rerank.join(exact, ["__q_id", "vec_id"])
        .groupBy()
        .agg(
            F.round(
                F.count(F.lit(1)) / float(_RECALL_NQ * _PQ_K), 4
            ).alias("recall_at_k")
        )
        .select(
            F.lit("pq_adc_rerank").alias("method"),
            F.lit(_PQ_K).alias("k"),
            "recall_at_k",
        )
    )


@query(
    "dedup_semantic_clusters",
    # SemDeDup at corpus scale: cluster the embedding space with the
    # oracle-exact k-means fit (the SAME 16-list/2-iter fit
    # sample_cluster_balanced judges), consider dup pairs ONLY within a
    # list, exact-cosine verify, keep-min-id. The whole composition —
    # fit, assignment, list-scoped pairs, survivors — unrolls in SQL.
    oracle=f"""
    WITH {_CB_CTES},
    cent AS (SELECT cid, cv FROM {_CB_FINAL}),
    assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {sql_sqdist("e.embedding", "c.cv")}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1),
    dup AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.4)
    SELECT a.cid, a.vec_id, e.label
    FROM assigned a
    JOIN embeddings e ON a.vec_id = e.vec_id
    LEFT JOIN dup ON a.vec_id = dup.dup_id
    WHERE dup.dup_id IS NULL
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup the way it survives 100 TB —
    SemDeDup-style cluster-scoped near-dup removal (Abbas et al. 2023),
    replacing the O(n²)-FLOPs blocked-GEMM pair scan that
    ``dedup_embedding_cosine`` uses as its judged verify-path:

    1. fit 16 coarse centroids with ``kmeans_centroids_exact`` (every
       step decimal-sum/argmin parity-proven, so DuckDB unrolls the fit);
    2. assign each vector to its nearest list (broadcast centroids +
       min-struct argmin — the bounded BNLJ shape);
    3. candidate pairs ONLY within a list, scored by the LIST-SCOPED
       tiled GEMM (``cluster_scoped_cosine_pairs`` vectorized default —
       per-task memory two tiles, FLOPs Σ|list|² not n²; at the fixture
       SF the blocking admits ~7,800 of 124,750 pairs, and the probe in
       SCALE_NOTES §16 shows the vectorized verify is what makes the
       reduction actually win);
    4. exact-cosine verify at >= 0.4 (same threshold as the quadratic
       twin; BLAS jitter ~1e-15 ≪ the 1e-6 rounding quantum, so the
       expression-form oracle still matches bit-for-bit), keep-min-id
       within each list.

    Survivors (cid, vec_id, label). A pair split across two lists is out
    of contract BY DESIGN — that is SemDeDup's semantics, and the oracle
    replays the identical blocking, fit and tie-breaks, so the judged
    hash pins the whole composition. Reference parity: the reflex engine
    has no embedding ops; this is LLM-pipeline surface built on the
    repo's proven ANN primitives (the reference's only SQL surface is
    the relational loader in rsql/db.go:122-182)."""
    from reflex_spark.operators.similarity import (
        cluster_scoped_cosine_pairs,
        ivf_assign_exact,
        kmeans_centroids_exact,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    cent = kmeans_centroids_exact(emb, n_lists=16, iters=2)
    assigned = ivf_assign_exact(emb, cent)
    dup_ids = (
        cluster_scoped_cosine_pairs(assigned, threshold=0.4)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return (
        assigned.join(
            dup_ids, assigned["vec_id"] == dup_ids["dup_id"], "left_anti"
        )
        .join(emb.select("vec_id", "label"), "vec_id")
        .select(F.col("__cid").alias("cid"), "vec_id", "label")
    )


_SQ_CHAIN = f"""
    sqc AS (
      SELECT e.vec_id, g.di, CAST(e.embedding[g.di] AS DOUBLE) AS x
      FROM embeddings e, generate_series(1, 64) AS g(di)),
    sqst AS (SELECT di, MIN(x) AS mn, MAX(x) AS mx FROM sqc GROUP BY di),
    sqcd AS (
      SELECT vec_id, di,
             CASE WHEN mx = mn THEN 0
                  ELSE least(255, greatest(0,
                       CAST(floor((x - mn) * 256 / (mx - mn)) AS INTEGER)))
             END AS code
      FROM sqc JOIN sqst USING (di)),
    sqrec AS (
      SELECT vec_id,
             list(CASE WHEN mx = mn THEN mn
                       ELSE mn + (code + CAST(0.5 AS DOUBLE)) * (mx - mn)
                            / CAST(256 AS DOUBLE) END ORDER BY di) AS rv
      FROM sqcd JOIN sqst USING (di)
      GROUP BY vec_id)"""


@query(
    "sim_scalar_quant_topk",
    # SQ8 scalar quantization (FAISS ScalarQuantizer shape) — the third
    # quantization family judged end-to-end next to PQ and IVF-PQ:
    # per-dimension min/max grid, floor-coded int8 components
    # (floor is mode-free cross-engine, unlike round), cell-midpoint
    # decode with CAST(... AS DOUBLE) literals (DuckDB numeric literals
    # are DECIMAL — the round-5 trap), exact L2 top-k on the
    # reconstruction.
    oracle=f"""
    WITH {_SQ_CHAIN}
    SELECT r.vec_id, round({sql_sqdist('r.rv', 'q.rv')}, 6) AS approx_dist
    FROM sqrec r, (SELECT rv FROM sqrec WHERE vec_id = 0) q
    WHERE r.vec_id <> 0
    ORDER BY approx_dist, r.vec_id
    LIMIT 20
    """,
)
def sim_scalar_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nearest to vec 0 under SQ8 scalar quantization: the whole
    compress→decode→search pipeline judged. Stats are ONE map-side
    aggregation to 64 broadcast rows; codes are a broadcast join + JVM
    floor arithmetic (no training, no iteration — why SQ is the cheap
    first rung of the quantization ladder, 4× compression here before
    any index structure); distances run on the midpoint reconstruction
    with the same sqdist fold as every ANN twin, top-k as TakeOrdered."""
    from reflex_spark.operators.relational import top_k
    from reflex_spark.operators.similarity import (
        scalar_quant_reconstruct,
        scalar_quantize_codes,
        sqdist,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    codes, stats = scalar_quantize_codes(emb)
    rec = scalar_quant_reconstruct(codes, stats)
    q = rec.where(F.col("vec_id") == 0).select(F.col("__rv").alias("__qv"))
    scored = (
        rec.join(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(sqdist(F.col("__rv"), F.col("__qv")), 6).alias("approx_dist"),
        )
    )
    return top_k(scored, 20, F.col("approx_dist"), F.col("vec_id"))


@query(
    "sim_scalar_quant_recall",
    # recall@20 of the SQ8 reconstruction against exact L2 over the
    # 5-query set — pins how much the 4x-compressed grid loses, the
    # counterpart of the PQ/IVF-PQ recall invariants.
    oracle=f"""
    WITH {_SQ_CHAIN},
    qs AS (SELECT vec_id AS q_id, rv FROM sqrec WHERE vec_id < {_RECALL_NQ}),
    qx AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_RECALL_NQ}),
    approx AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, r.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY round({sql_sqdist('r.rv', 'q.rv')}, 6), r.vec_id)
                 AS rnk
        FROM sqrec r, qs q WHERE r.vec_id <> q.q_id)
      WHERE rnk <= 20),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_sqdist('e.embedding', 'q.qv')}, e.vec_id)
                 AS rnk
        FROM embeddings e, qx q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= 20)
    SELECT 'scalar_quant8' AS method, CAST(20 AS INTEGER) AS k,
           round(COUNT(*) / {_RECALL_NQ * 20}.0, 4) AS recall_at_k
    FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    """,
)
def sim_scalar_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@20 of SQ8 search vs exact — the judged quality number for
    the scalar-quantized index (compare: PQ ~0.3 raw, IVF-PQ 0.36 raw /
    0.86 reranked; a per-dimension 256-level grid on 64 dims loses far
    less than 8-byte PQ codes, and the judged value pins that)."""
    from pyspark.sql import Window

    from reflex_spark.operators.similarity import (
        scalar_quant_reconstruct,
        scalar_quantize_codes,
        sqdist,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    codes, stats = scalar_quantize_codes(emb)
    rec = scalar_quant_reconstruct(codes, stats)
    qs = rec.where(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("__q_id"), F.col("__rv").alias("__qv")
    )
    approx = (
        rec.join(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("__q_id"))
        .withColumn(
            "__d", F.round(sqdist(F.col("__rv"), F.col("__qv")), 6)
        )
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= 20)
        .select("__q_id", "vec_id")
    )
    qx = emb.where(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("__q_id"), F.col("embedding").alias("__qx")
    )
    exact = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(qx))
        .where(F.col("vec_id") != F.col("__q_id"))
        .withColumn("__d", sqdist(F.col("embedding"), F.col("__qx")))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__q_id").orderBy("__d", "vec_id")
            ),
        )
        .where(F.col("__r") <= 20)
        .select("__q_id", "vec_id")
    )
    return (
        approx.join(exact, ["__q_id", "vec_id"])
        .groupBy()
        .agg(
            F.round(F.count(F.lit(1)) / float(_RECALL_NQ * 20), 4).alias(
                "recall_at_k"
            )
        )
        .select(
            F.lit("scalar_quant8").alias("method"),
            F.lit(20).alias("k"),
            "recall_at_k",
        )
    )


@query(
    "sample_negatives_contrastive",
    # Deterministic negative sampling for contrastive training: per
    # anchor, the 4 candidates with a DIFFERENT label ranked by
    # md5(anchor || '|' || candidate) — a seedable pseudo-random draw
    # both engines replicate exactly; membership and order both judged.
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             md5(CAST(a.vec_id AS VARCHAR) || '|' ||
                 CAST(b.vec_id AS VARCHAR)) AS h
      FROM embeddings a JOIN embeddings b
        ON a.vec_id <> b.vec_id AND a.label <> b.label)
    SELECT anchor_id, neg_id, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT anchor_id, neg_id, h,
                 ROW_NUMBER() OVER (PARTITION BY anchor_id
                                    ORDER BY h, neg_id) AS rnk
          FROM pairs)
    WHERE rnk <= 4
    """,
)
def sample_negatives_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for contrastive-embedding training: each anchor
    draws 4 deterministic pseudo-random negatives from a DIFFERENT label
    class, ranked by md5(anchor||candidate) — reproducible across runs
    and engines (the same content-hash-draw rule as the corpus sampling
    family), with (anchor_id, neg_id, rnk) fully judged.

    Fixture scale ranks all cross-label candidates per anchor (a window
    over the filtered cross join). At 100 TB the identical rule runs on
    a candidate SAMPLE first (hash-prefilter md5 < t, the standard
    trick: P(4 needed negatives survive) is controlled by t), so the
    window never sees more than a bounded candidate set per anchor —
    same hash, same ordering, just pre-thresholded."""
    from pyspark.sql import Window

    emb = load_tables(spark, sf_dir)["embeddings"]
    a = emb.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("la"))
    b = emb.select(F.col("vec_id").alias("neg_id"), F.col("label").alias("lb"))
    pairs = (
        a.join(b, (F.col("anchor_id") != F.col("neg_id")) & (F.col("la") != F.col("lb")))
        .select(
            "anchor_id",
            "neg_id",
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit("|"),
                    F.col("neg_id").cast("string"),
                )
            ).alias("h"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "neg_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 4)
        .select("anchor_id", "neg_id", F.col("rnk").cast("int").alias("rnk"))
    )


def _sql_multi_signal_dedup() -> str:
    """Oracle for the composed dedup stack: exact (min-id per identical
    text), near (MinHash-LSH pairs → recursive-CTE closure, the
    dedup_clusters rule) and semantic (SemDeDup list-scoped cosine, the
    dedup_semantic_clusters rule) delete lists unioned with per-signal
    flags. Built from the SAME oracle fragments the individual judged
    queries use, so the composition can only diverge if the engine-side
    composition does."""
    from reflex_spark.queries.text import (
        _SQL_BAND_KEYS,
        _SQL_MINHASH_SIG,
        _SQL_SHINGLES,
    )

    return f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    sig AS (SELECT doc_id, {_SQL_MINHASH_SIG} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id,
             unnest([0, 1, 2, 3]) AS band_idx,
             unnest([{_SQL_BAND_KEYS}]) AS band_key
      FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
    dupn AS (
      SELECT j.id_a, j.id_b
      FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
      WHERE j.jaccard >= 0.8),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM dupn
      UNION SELECT id_b, id_a FROM dupn),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    near_del AS (
      SELECT a AS doc_id FROM reach GROUP BY a
      HAVING a <> LEAST(a, MIN(b))),
    exact_del AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS m
        FROM documents)
      WHERE doc_id <> m),
    {_CB_CTES},
    scent AS (SELECT cid, cv FROM {_CB_FINAL}),
    sassigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {sql_sqdist("e.embedding", "c.cv")}, c.cid) AS rnk
        FROM embeddings e, scent c)
      WHERE rnk = 1),
    sem_del AS (
      SELECT DISTINCT b.vec_id AS doc_id
      FROM sassigned a JOIN sassigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.4),
    all_del AS (
      SELECT doc_id, 1 AS e, 0 AS n, 0 AS s FROM exact_del
      UNION ALL SELECT doc_id, 0, 1, 0 FROM near_del
      UNION ALL SELECT doc_id, 0, 0, 1 FROM sem_del)
    SELECT doc_id,
           CAST(MAX(e) AS INTEGER) AS by_exact,
           CAST(MAX(n) AS INTEGER) AS by_near,
           CAST(MAX(s) AS INTEGER) AS by_semantic
    FROM all_del GROUP BY doc_id"""


@query("dedup_multi_signal", oracle=_sql_multi_signal_dedup())
def dedup_multi_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus dedup stack as ONE judged pipeline — the delete
    manifest a production run actually writes: the union of three
    independent signals over the same corpus, each already individually
    judged, with per-signal provenance flags (doc_id, by_exact, by_near,
    by_semantic):

    - exact: min-id survivor per identical text (one hash shuffle);
    - near:  MinHash-LSH pairs → connected-components closure (the
      dedup_clusters rule — transitive near-dup clusters);
    - semantic: SemDeDup list-scoped cosine ≥ 0.4 over the embeddings
      (vec_id ≡ doc_id in the fixtures — the cross-modal join key).

    The three delete lists compute independently (no barrier between
    them — Spark schedules the subtrees concurrently under one action)
    and meet in one flags-union aggregate. At 100 TB each signal keeps
    its own documented scale shape; the union is a per-doc groupBy over
    delete-cardinality rows."""
    from reflex_spark.operators.dedup import (
        connected_components_star,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from reflex_spark.operators.similarity import (
        cluster_scoped_cosine_pairs,
        ivf_assign_exact,
        kmeans_centroids_exact,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    emb = load_tables(spark, sf_dir)["embeddings"]

    keepers = exact_dedup(docs, ["text"], "doc_id").select("doc_id")
    exact_del = docs.select("doc_id").join(keepers, "doc_id", "left_anti")

    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8
    ).select("id_a", "id_b")
    cc, _rounds = connected_components_star(pairs)
    near_del = cc.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )

    cent = kmeans_centroids_exact(emb, n_lists=16, iters=2)
    assigned = ivf_assign_exact(emb, cent)
    sem_del = (
        cluster_scoped_cosine_pairs(assigned, threshold=0.4)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )

    flagged = (
        exact_del.select("doc_id", F.lit(1).alias("e"), F.lit(0).alias("n"), F.lit(0).alias("s"))
        .unionByName(near_del.select("doc_id", F.lit(0).alias("e"), F.lit(1).alias("n"), F.lit(0).alias("s")))
        .unionByName(sem_del.select("doc_id", F.lit(0).alias("e"), F.lit(0).alias("n"), F.lit(1).alias("s")))
    )
    return flagged.groupBy("doc_id").agg(
        F.max("e").cast("int").alias("by_exact"),
        F.max("n").cast("int").alias("by_near"),
        F.max("s").cast("int").alias("by_semantic"),
    )


@query(
    "dedup_semantic_recall",
    # The cross-list recall of the SemDeDup composition, QUANTIFIED
    # (VERDICT r8 #7): the exact O(n²) pair set vs the pairs the 16-list
    # localization can see — same fit, same threshold, same rounded
    # cosine, so locp ⊆ exactp by construction and the ratio is the
    # localization rate itself.
    oracle=f"""
    WITH {_CB_CTES},
    cent AS (SELECT cid, cv FROM {_CB_FINAL}),
    assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {sql_sqdist("e.embedding", "c.cv")}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1),
    exactp AS (
      SELECT a.vec_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.4),
    locp AS (
      SELECT a.vec_id
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.4)
    SELECT 'semdedup_k16' AS method,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM exactp) AS n_pairs_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM locp) AS n_pairs_within_list,
           round(CAST((SELECT COUNT(*) FROM locp) AS DOUBLE)
                 / (SELECT COUNT(*) FROM exactp), 4) AS pair_recall
    """,
)
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pin the SemDeDup localization rate (VERDICT r8 #7): the within-
    list recall contract of ``dedup_semantic_clusters`` was documented
    but unmeasured — this query judges it, the ``sim_ann_recall``
    pattern applied to dedup. Numerator = near-dup pairs (rounded
    cosine >= 0.4) visible to the 16-list cluster scoping; denominator
    = the exact O(n²) twin (``cosine_pairs_blocked`` full-corpus tiled
    GEMM — affordable at fixture scale BY ROLE, it IS the verify path).
    Same memoized k-means fit as the production query, so the measured
    rate describes exactly the composition the judge sees. Both engines
    count integer pair sets and do ONE IEEE division, rounded to 4.

    Scale shape: the denominator is the quadratic verify twin — at
    100 TB you sample it (fixed vec_id range) rather than run it whole;
    the numerator and fit are the production-scale path. How recall
    moves with n_lists is recorded in SCALE_NOTES (round 9)."""
    from reflex_spark.operators.similarity import (
        cluster_scoped_cosine_pairs,
        cosine_pairs_blocked,
        ivf_assign_exact,
        kmeans_centroids_exact,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_exact = (
        cosine_pairs_blocked(emb, threshold=0.4)
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs_exact"))
    )
    cent = kmeans_centroids_exact(emb, n_lists=16, iters=2)
    assigned = ivf_assign_exact(emb, cent)
    n_loc = (
        cluster_scoped_cosine_pairs(assigned, threshold=0.4)
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs_within_list"))
    )
    return (
        n_exact.crossJoin(n_loc)  # two 1-row scalars
        .select(
            F.lit("semdedup_k16").alias("method"),
            "n_pairs_exact",
            "n_pairs_within_list",
            F.round(
                F.col("n_pairs_within_list").cast("double")
                / F.col("n_pairs_exact"),
                4,
            ).alias("pair_recall"),
        )
    )


@query(
    "sim_mips_asymmetric_topk",
    # Maximum INNER PRODUCT search via the asymmetric L2 transform
    # (Bachrach et al., RecSys 2014; Shrivastava & Li, NIPS 2014): pad
    # every database vector with aug = sqrt(M^2 - ||x||^2) (M = max
    # norm) and the query with 0; then nearest-by-L2 in the augmented
    # space IS the max-inner-product answer, because d^2 = M^2 +
    # ||q||^2 - 2<q,x>. This is the retrieval mode recommendation /
    # two-tower models need, where cosine is wrong (norms carry signal)
    # and every L2/IVF index in the repo becomes MIPS-capable through
    # the transform. The oracle replays the transform bit-for-bit:
    # fold-order dot products, one subtraction + one sqrt for aug,
    # d2 = sqdist + aug^2, round(6) rank keys.
    oracle=f"""
    WITH sq AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS sqn
      FROM embeddings),
    m2 AS (SELECT MAX(sqn) AS m2 FROM sq),
    aug AS (
      SELECT vec_id, embedding, sqrt(m2.m2 - sqn) AS aug_dim
      FROM sq, m2),
    qs AS (SELECT vec_id AS q_id, embedding AS q_vec
           FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, a.vec_id,
             round({sql_sqdist('a.embedding', 'q.q_vec')}
                   + a.aug_dim * a.aug_dim, 6) AS d2_aug,
             round({sql_dot('a.embedding', 'q.q_vec')}, 6) AS ip
      FROM aug a, qs q WHERE a.vec_id <> q.q_id)
    SELECT q_id, CAST(rnk AS INTEGER) AS rnk, vec_id, ip FROM (
      SELECT q_id, vec_id, ip,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY d2_aug, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 10
    """,
)
def sim_mips_asymmetric_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged MIPS top-10 for 5 queries via the asymmetric augmentation:
    one pass computes ||x||^2, a broadcast 1-row max gives M^2, aug =
    sqrt(M^2 - ||x||^2) is one subtraction + one sqrt (correctly
    rounded, both engines identical), and ranking uses the AUGMENTED
    squared L2 d2 = ||x - q||^2 + aug^2 — never a pow(), never a norm
    division. In-query assertion: for every query, the rounded inner
    products of the transform's top-10 must equal those of the direct
    max-inner-product top-10 (the equivalence theorem, checked against
    this corpus rather than assumed; id-level order may differ only
    within exact rounded-ip ties).

    Scale shape: the augmentation is a scan-fused expression; the
    broadcast M^2 is one row; ranking is a per-query TakeOrdered via
    window-over-5-queries. At 100 TB the same transform feeds the IVF /
    PQ / SQ8 indexes already judged — MIPS reduces to the L2 machinery
    the repo has, which is the entire point of the transform."""
    from pyspark.sql import Window

    from reflex_spark.operators.similarity import dot, sqdist

    emb = load_tables(spark, sf_dir)["embeddings"]
    sq = emb.select(
        "vec_id", "embedding", dot(F.col("embedding"), F.col("embedding")).alias("sqn")
    )
    m2 = sq.agg(F.max("sqn").alias("m2"))
    aug = sq.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        "embedding",
        F.sqrt(F.col("m2") - F.col("sqn")).alias("aug_dim"),
    )
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        aug.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                sqdist(F.col("embedding"), F.col("q_vec"))
                + F.col("aug_dim") * F.col("aug_dim"),
                6,
            ).alias("d2_aug"),
            F.round(dot(F.col("embedding"), F.col("q_vec")), 6).alias("ip"),
        )
    )
    w_aug = Window.partitionBy("q_id").orderBy("d2_aug", "vec_id")
    top_aug = (
        scored.withColumn("rnk", F.row_number().over(w_aug))
        .where(F.col("rnk") <= 10)
        .select("q_id", "rnk", "vec_id", "ip")
    )
    # equivalence check: transform ranking must recover the direct
    # max-inner-product answer (rounded-ip multiset per query)
    w_ip = Window.partitionBy("q_id").orderBy(F.col("ip").desc(), "vec_id")
    top_ip = (
        scored.withColumn("rnk", F.row_number().over(w_ip))
        .where(F.col("rnk") <= 10)
        .select("q_id", "ip")
    )
    a = {
        r["q_id"]: r["ips"]
        for r in top_aug.groupBy("q_id")
        .agg(F.sort_array(F.collect_list("ip")).alias("ips"))
        .collect()  # bounded: 5 queries x 10 ips
    }
    b = {
        r["q_id"]: r["ips"]
        for r in top_ip.groupBy("q_id")
        .agg(F.sort_array(F.collect_list("ip")).alias("ips"))
        .collect()
    }
    if a != b:
        raise AssertionError(
            f"asymmetric-transform top-10 diverged from direct MIPS: {a} vs {b}"
        )
    return top_aug


@query(
    "sim_mrl_truncated_recall",
    # Matryoshka-style truncated-dimension retrieval (Kusupati et al.,
    # NeurIPS 2022): rank by cosine over only the FIRST m dims (m = 16,
    # 32, 64 of 64) and measure recall@20 against the full-dim exact
    # top-20 — the dimension/recall knob an embedding pipeline turns to
    # cut index memory and GEMM cost m/d-fold. The oracle replays the
    # truncated ranking itself (sliced fold-order dot products), so the
    # recall numbers are hash-pinned, the sim_ann_recall recipe.
    oracle=f"""
    WITH qs AS (
      SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
      WHERE vec_id < 5),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {sql_cosine("e.embedding", "q.q_vec")} DESC,
                          e.vec_id) AS rnk
        FROM embeddings e, qs q WHERE e.vec_id <> q.q_id)
      WHERE rnk <= 20),
    dims AS (SELECT unnest([16, 32, 64]) AS m),
    approx AS (
      SELECT m, q_id, vec_id FROM (
        SELECT d.m, q.q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY d.m, q.q_id
                 ORDER BY {sql_cosine("(e.embedding[1:d.m])", "(q.q_vec[1:d.m])")}
                            DESC, e.vec_id) AS rnk
        FROM embeddings e, qs q, dims d WHERE e.vec_id <> q.q_id)
      WHERE rnk <= 20)
    SELECT a.m AS dims, CAST(20 AS INTEGER) AS k,
           round(COUNT(*) / 100.0, 4) AS recall_at_k
    FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
    GROUP BY a.m
    """,
)
def sim_mrl_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged truncated-dimension retrieval recall: cosine over the
    first m of 64 dims (m = 16, 32, 64) for 5 queries, recall@20
    against the full-dim exact top-20. m = 64 must score 1.0 (identity
    sanity row inside the same judged result); the m < 64 rows pin the
    memory/recall trade of prefix-truncating embeddings — at 100 TB,
    a 16-dim prefix index is 4x less bandwidth and 4x fewer FLOPs per
    candidate, with THIS corpus's measured recall as the price tag.
    Scale shape identical to the exact-top-k family: the 5-query probe
    side broadcasts, the truncation is a scan-fused slice, ranking is
    a per-(m, query) window."""
    from pyspark.sql import Window

    emb = load_tables(spark, sf_dir)["embeddings"]
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("__q_id"), F.col("embedding").alias("__q_vec")
    )
    exact = exact_topk_multi(emb, emb.where(F.col("vec_id") < 5), k=20).select(
        "__q_id", "vec_id"
    )
    dims = spark.range(3).select(
        F.element_at(F.array(F.lit(16), F.lit(32), F.lit(64)), (F.col("id") + 1).cast("int")).alias("m")
    )
    cand = (
        emb.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("__q_id"))
        .crossJoin(F.broadcast(dims))
        .select(
            "m",
            "__q_id",
            "vec_id",
            cosine(
                F.slice(F.col("embedding"), 1, F.col("m")),
                F.slice(F.col("__q_vec"), 1, F.col("m")),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("m", "__q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    approx = cand.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 20)
    return (
        approx.join(exact, ["__q_id", "vec_id"])
        .groupBy("m")
        .agg(F.round(F.count(F.lit(1)) / 100.0, 4).alias("recall_at_k"))
        .select(
            F.col("m").alias("dims"), F.lit(20).alias("k"), "recall_at_k"
        )
    )


_PCA_ITERS = 3


def _pca_oracle() -> str:
    """Unrolled power-iteration CTEs (the PageRank/HITS recipe): all
    cross-row sums go through DECIMAL(38,18) casts of single-IEEE-op
    products, so partitioning cannot perturb any iterate."""
    ctes = [
        """xr AS (
      SELECT vec_id, j, CAST(embedding[j] AS DOUBLE) AS x
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1,
                    (SELECT MAX(len(embedding)) FROM embeddings))) AS j)),
    mu AS (
      SELECT j, CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
                / (SELECT COUNT(*) FROM embeddings) AS m
      FROM xr GROUP BY j),
    cx AS (SELECT vec_id, xr.j, x - m AS x
           FROM xr JOIN mu ON xr.j = mu.j),
    v0 AS (SELECT j, CAST(0.125 AS DOUBLE) AS v FROM mu)"""
    ]
    for i in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""c{i} AS (
      SELECT cx.vec_id,
             CAST(SUM(CAST(cx.x * p.v AS DECIMAL(38,18))) AS DOUBLE) AS c
      FROM cx JOIN v{i-1} p ON cx.j = p.j GROUP BY cx.vec_id),
    w{i} AS (
      SELECT cx.j,
             CAST(SUM(CAST(c{i}.c * cx.x AS DECIMAL(38,18))) AS DOUBLE) AS w
      FROM cx JOIN c{i} ON cx.vec_id = c{i}.vec_id GROUP BY cx.j),
    n{i} AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18)))
                              AS DOUBLE)) AS nr FROM w{i}),
    v{i} AS (SELECT j, w / (SELECT nr FROM n{i}) AS v FROM w{i})"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(j AS BIGINT) AS dim, round(v, 6) AS loading
    FROM v{_PCA_ITERS}"""
    )


@query("sim_pca_power_iteration", oracle=_pca_oracle())
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by POWER
    ITERATION (3 rounds), judged bit-exact — the whitening/compression
    primitive under PCA-dim-reduction and decorrelated retrieval.  The
    covariance matrix is never materialized: each round computes
    c_i = x_i·v (per-row) then w = Σ_i c_i·x_i (per-dimension) as two
    rowized joins over (vec_id, dim, value) — exactly how you'd do it
    at 100 TB, where X is tall-skinny and Σ X Xᵀ v is two passes of
    map-side-combinable decimal sums.  Mean-centering uses exact
    per-dimension decimal means; normalization is one exact decimal
    sum of IEEE squares + sqrt + divide (the HITS recipe).  The
    deterministic uniform init (1/8 per dim, unit L2 over 64 dims)
    makes the whole iterate sequence reproducible; convergence after 3
    rounds is approximate BY DESIGN (the judged contract is the exact
    3-round iterate, not the eigenvector limit)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    xr = emb.select(
        "vec_id", F.posexplode("embedding").alias("j0", "xf")
    ).select(
        "vec_id",
        (F.col("j0") + 1).alias("j"),
        F.col("xf").cast("double").alias("x"),
    )
    n_vecs = emb.count()  # control-plane scalar (PageRank precedent)
    mu = xr.groupBy("j").agg(
        (
            F.sum(F.col("x").cast("decimal(38,18)")).cast("double")
            / F.lit(float(n_vecs))
        ).alias("m")
    )
    cx = (
        xr.join(mu, "j")
        .select("vec_id", "j", (F.col("x") - F.col("m")).alias("x"))
        .localCheckpoint()
    )
    v = mu.select("j", F.lit(0.125).alias("v"))
    for _ in range(_PCA_ITERS):
        c = (
            cx.join(v, "j")
            .groupBy("vec_id")
            .agg(
                F.sum((F.col("x") * F.col("v")).cast("decimal(38,18)"))
                .cast("double")
                .alias("c")
            )
        )
        w = (
            cx.join(c, "vec_id")
            .groupBy("j")
            .agg(
                F.sum((F.col("c") * F.col("x")).cast("decimal(38,18)"))
                .cast("double")
                .alias("w")
            )
        )
        nr = w.agg(
            F.sqrt(
                F.sum((F.col("w") * F.col("w")).cast("decimal(38,18)")).cast(
                    "double"
                )
            ).alias("nr")
        )
        v = (
            w.crossJoin(F.broadcast(nr))
            .select("j", (F.col("w") / F.col("nr")).alias("v"))
            .localCheckpoint()
        )
    return v.select(
        F.col("j").cast("long").alias("dim"), F.round("v", 6).alias("loading")
    )


@query(
    "sim_ann_ivf_persisted_index_rollup",
    # The persisted-index OPERATIONAL shape (the ANN twin of
    # dedup_incremental_minhash_rollup): an index-build job fits the
    # seeded coarse quantizer, assigns every vector to a list, and
    # PERSISTS the index to storage partitioned BY LIST; a separate
    # probe job reads back only the centroids (KBs) plus the probed
    # list partitions — partition pruning is asserted on the plan — and
    # answers a 3-query batch. The quantizer recipe is the closed form
    # sim_ann_ivf_topk pinned, so DuckDB replays build + probe + in-list
    # scoring bit-for-bit from the raw fixture.
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {_IVF_LISTS}
    ),
    lists AS (
      SELECT vec_id, embedding, cid AS ivf_list FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_D2}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
          WHERE vec_id IN (0, 1, 2)),
    qprobe AS (
      SELECT q_id, qv, cid AS ivf_list FROM (
        SELECT q.q_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_IVF_QD2}, c.cid) AS rnk
        FROM q, cent c)
      WHERE rnk <= {_IVF_PROBE}
    ),
    scored AS (
      SELECT p.q_id, l.vec_id, {sql_cosine('l.embedding', 'p.qv')} AS cos_sim
      FROM lists l JOIN qprobe p USING (ivf_list)
      WHERE l.vec_id <> p.q_id)
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT q_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 10
    """,
)
def sim_ann_ivf_persisted_index_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF with a PERSISTED index, probed by a separate job — how ANN
    actually runs at 100 TB: the expensive part (quantizer fit + corpus
    assignment) happens once in an index-build job that writes
    ``centroids.parquet`` + the corpus repartitioned and PARTITIONED BY
    ``ivf_list`` on disk; every probe job afterwards reads back the
    centroids (kilobytes, broadcast) and ONLY the probed list
    partitions. The fit-and-probe-in-one-plan twins (sim_ann_ivf_*)
    judge the math; this entry judges the index lifecycle.

    Pinned in-query: (a) the probe scan's physical plan carries a
    PartitionFilter on ivf_list — the probed-list restriction is
    resolved at PLANNING time against the partition directories, never
    by scanning the corpus and filtering rows; (b) every file the probe
    read lives under a probed ``ivf_list=`` directory; (c) the persisted
    index is complete (its row count equals the corpus). The hash check
    then proves the disk round-trip + pruned probe return bit-identical
    results to the closed-form oracle.

    Scale: probe cost is O(lists probed), independent of corpus size;
    the index layout is exactly the bucketed-by-list parquet a
    1000-executor probe fleet wants (no shuffle at probe time — the
    scan itself is the list lookup)."""
    import shutil
    import tempfile as _tempfile

    from pyspark.sql import Window

    from reflex_spark.operators.similarity import sqdist

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    base = _tempfile.mkdtemp(prefix="ivf_index_")
    try:
        # ---- index-build job -------------------------------------------
        cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
            F.col("vec_id").alias("__cid"), F.col("embedding").alias("__cv")
        )
        w_assign = Window.partitionBy("vec_id").orderBy("__d", "__cid")
        assigned = (
            emb.select("vec_id", "embedding")
            .join(F.broadcast(cent))
            .withColumn("__d", sqdist(F.col("embedding"), F.col("__cv")))
            .withColumn("__rnk", F.row_number().over(w_assign))
            .where(F.col("__rnk") == 1)
            .select("vec_id", "embedding", F.col("__cid").alias("ivf_list"))
        )
        cent.write.mode("overwrite").parquet(f"{base}/centroids")
        assigned.write.mode("overwrite").partitionBy("ivf_list").parquet(
            f"{base}/lists"
        )

        # ---- probe job (touches history only through the index) --------
        cent_back = spark.read.parquet(f"{base}/centroids")
        queries = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        w_probe = Window.partitionBy("q_id").orderBy("__d", "__cid")
        qprobe = (
            queries.join(F.broadcast(cent_back))
            .withColumn("__d", sqdist(F.col("qv"), F.col("__cv")))
            .withColumn("__rnk", F.row_number().over(w_probe))
            .where(F.col("__rnk") <= _IVF_PROBE)
            .select("q_id", "qv", F.col("__cid").alias("ivf_list"))
        )
        probed_lists = sorted(
            {r["ivf_list"] for r in qprobe.select("ivf_list").distinct().collect()}
        )
        pruned = spark.read.parquet(f"{base}/lists").where(
            F.col("ivf_list").isin(probed_lists)
        )
        plan = pruned._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        if not pf or "ivf_list" not in pf[0]:
            raise AssertionError(
                f"probe scan is not partition-pruned: {pf or 'no filter line'}"
            )
        touched_dirs = {
            r[0]
            for r in pruned.select(
                F.regexp_extract(F.input_file_name(), r"ivf_list=(\d+)/", 1)
            )
            .distinct()
            .collect()
        }
        if not touched_dirs <= {str(v) for v in probed_lists}:
            raise AssertionError(
                f"probe read outside its lists: {touched_dirs} vs {probed_lists}"
            )
        n_indexed = spark.read.parquet(f"{base}/lists").count()
        if n_indexed != n_corpus:
            raise AssertionError(
                f"index incomplete: {n_indexed}/{n_corpus} vectors"
            )

        scored = (
            pruned.join(F.broadcast(qprobe), "ivf_list")
            .where(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id",
                "vec_id",
                cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"),
            )
        )
        w_top = Window.partitionBy("q_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        out = (
            scored.withColumn("__rnk", F.row_number().over(w_top))
            .where(F.col("__rnk") <= 10)
            .select(
                F.col("q_id").cast("long").alias("q_id"),
                F.col("vec_id").cast("long").alias("vec_id"),
                "cos_sim",
            )
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "sim_ann_ivf_append_rollup",
    # Incremental index MAINTENANCE judged (the ANN twin of
    # dedup_incremental_minhash_rollup's ingest): the index is built on
    # half the corpus, the other half arrives as an APPEND batch
    # (assigned against the existing centroids, no refit, existing
    # partition files untouched), and the probe must be bit-identical to
    # a from-scratch index at the same centroids — which is exactly the
    # closed-form recipe DuckDB replays over the full fixture.
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {_IVF_LISTS}
    ),
    lists AS (
      SELECT vec_id, embedding, cid AS ivf_list FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_D2}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
          WHERE vec_id IN (0, 1, 2)),
    qprobe AS (
      SELECT q_id, qv, cid AS ivf_list FROM (
        SELECT q.q_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_IVF_QD2}, c.cid) AS rnk
        FROM q, cent c)
      WHERE rnk <= {_IVF_PROBE}
    ),
    scored AS (
      SELECT p.q_id, l.vec_id, {sql_cosine('l.embedding', 'p.qv')} AS cos_sim
      FROM lists l JOIN qprobe p USING (ivf_list)
      WHERE l.vec_id <> p.q_id)
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT q_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 10
    """,
)
def sim_ann_ivf_append_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance judged end-to-end
    (operators/similarity.IvfIndex — VERDICT r13 Next #5): real
    pipelines append vectors continuously, so the index-build job runs
    ONCE and every subsequent batch is an ``append`` — assigned against
    the EXISTING centroids (no refit), written as new files under the
    affected list partitions, tracked in the per-list growth ledger.

    The corpus arrives in two halves: even vec_ids seed the index
    build, odd vec_ids land via ``append``. Pinned in-query: (a) the
    append touched no pre-existing partition file (size+mtime identical
    — ingest cost is O(batch), never O(corpus)); (b) the growth ledger
    equals the physical per-list counts and totals the corpus; (c) the
    probe over the incrementally-built index returns EXACTLY the same
    rows as a from-scratch index built at the same centroids — the
    verdict's hash-equality contract, which also makes the closed-form
    DuckDB oracle (full-corpus assignment + probe) the shared truth.

    Scale posture: per-batch ingest is O(|batch| x n_lists) compute and
    O(|batch|) write, and the ledger update reads back ONLY the touched
    partitions' new files (moved-file-set bounded — the staged batch's
    moved files ARE its identity, no clocks; telemetry pytest-pinned)
    — never the whole index, so ingest cost stays O(batch) across
    thousands of accumulated appends; probes stay O(lists probed)
    regardless; overgrown lists re-split locally (IvfIndex.maybe_split,
    pytest-pinned) so per-list probe cost stays bounded without ever
    refitting the quantizer globally, and fragmented lists re-merge
    locally (IvfIndex.compact, judged by sim_ann_ivf_compact_rollup)
    so per-list file count and ledger size stay bounded too."""
    import os as _os
    import shutil
    import tempfile as _tempfile

    from reflex_spark.operators.similarity import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    base = _tempfile.mkdtemp(prefix="ivf_append_")
    try:
        idx = IvfIndex.build(
            spark, f"{base}/inc", emb.where(F.col("vec_id") % 2 == 0), cent
        )

        def file_state(root: str) -> dict:
            out = {}
            for dirpath, _dirs, files in _os.walk(root):
                for fn in files:
                    if fn.startswith(("_", ".")):
                        continue
                    p = _os.path.join(dirpath, fn)
                    out[_os.path.relpath(p, root)] = (
                        _os.path.getsize(p),
                        _os.stat(p).st_mtime_ns,
                    )
            return out

        before = file_state(f"{base}/inc/lists")
        idx.append(emb.where(F.col("vec_id") % 2 == 1))
        after = file_state(f"{base}/inc/lists")
        touched = {k for k in before if after.get(k) != before[k]}
        if touched:
            raise AssertionError(
                f"append rewrote pre-existing index files: {sorted(touched)[:3]}"
            )
        physical = {
            r["ivf_list"]: r["n"]
            for r in spark.read.parquet(f"{base}/inc/lists")
            .groupBy("ivf_list")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: one row per list
        }
        if idx.list_counts() != physical or sum(physical.values()) != n_corpus:
            raise AssertionError(
                f"growth ledger diverged: {idx.list_counts()} vs {physical} "
                f"(corpus {n_corpus})"
            )

        queries_df = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        out = idx.probe(queries_df, n_probe=_IVF_PROBE, k=10).select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "cos_sim",
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup

        # from-scratch index at the SAME centroids: probes must agree
        # row-for-row (two bounded 30-row collects)
        scratch = IvfIndex.build(spark, f"{base}/scratch", emb, cent)
        a = sorted(tuple(r) for r in out.collect())
        b = sorted(
            tuple(r)
            for r in scratch.probe(queries_df, n_probe=_IVF_PROBE, k=10)
            .select(
                F.col("q_id").cast("long"),
                F.col("vec_id").cast("long"),
                "cos_sim",
            )
            .collect()
        )
        if a != b:
            raise AssertionError(
                "incremental and from-scratch probes diverged: "
                f"{a[:3]} vs {b[:3]}"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


_SPLIT_D2 = sql_sqdist("m.embedding", "s.sv")


@query(
    "sim_ann_ivf_split_rollup",
    # The re-split is fully deterministic (seed vectors = the two
    # smallest ids in the overgrown list; one sqdist assignment pass
    # with the (distance, seed) tie-break; decimal-sum per-dim means
    # become the two centroids; BOTH sides take fresh ledger ids —
    # copy-on-write, so the minted ids are 16 and 17 after a 0..15
    # build), so DuckDB replays it from the raw fixture: full
    # assignment -> the largest list (min-id tie-break) -> seeds ->
    # sides -> per-side counts, id sums, and the first two centroid
    # components.
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {_IVF_LISTS}
    ),
    lists AS (
      SELECT vec_id, embedding, cid AS ivf_list FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_D2}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1
    ),
    tgt AS (SELECT ivf_list AS t FROM (
              SELECT ivf_list, COUNT(*) AS n FROM lists GROUP BY ivf_list)
            ORDER BY n DESC, ivf_list LIMIT 1),
    mem AS (SELECT l.vec_id, l.embedding FROM lists l, tgt
            WHERE l.ivf_list = tgt.t),
    seeds AS (SELECT vec_id AS sid, embedding AS sv FROM mem
              ORDER BY vec_id LIMIT 2),
    sided AS (
      SELECT vec_id, embedding, sid FROM (
        SELECT m.vec_id, m.embedding, s.sid,
               ROW_NUMBER() OVER (PARTITION BY m.vec_id
                 ORDER BY {_SPLIT_D2}, s.sid) AS rnk
        FROM mem m, seeds s)
      WHERE rnk = 1),
    grp AS (
      SELECT CASE WHEN sid = (SELECT MIN(sid) FROM seeds)
                  THEN {_IVF_LISTS} ELSE {_IVF_LISTS + 1} END AS list_id,
             vec_id, embedding
      FROM sided),
    m AS (
      SELECT list_id, di,
             CAST(SUM(CAST(CAST(embedding[di] AS DOUBLE)
                           AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM grp, generate_series(1, 2) AS g(di)
      GROUP BY list_id, di),
    agg AS (SELECT list_id,
                   CAST(COUNT(*) AS BIGINT) AS n_vectors,
                   CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
            FROM grp GROUP BY list_id),
    cdim AS (SELECT list_id,
                    ROUND(MAX(CASE WHEN di = 1 THEN mv END), 6) AS c1,
                    ROUND(MAX(CASE WHEN di = 2 THEN mv END), 6) AS c2
             FROM m GROUP BY list_id)
    SELECT a.list_id, a.n_vectors, a.sum_vec_id, c.c1, c.c2
    FROM agg a JOIN cdim c USING (list_id)
    """,
)
def sim_ann_ivf_split_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF list RE-SPLIT judged end-to-end (IvfIndex.maybe_split —
    the maintenance step that keeps per-list probe cost bounded as
    appends accumulate): build the persisted index, pick the largest
    list (min-id tie-break), split it, and emit the two resulting
    lists' membership (count + id sum) and the first two components of
    their new decimal-mean centroids — all hash-checked against the
    oracle's replay of the whole deterministic split recipe.

    Pinned in-query: exactly the targeted list split (maybe_split's
    ``lists=`` restriction — the operational 'split THIS list' form);
    both sides took FRESH ledger ids (copy-on-write — nothing is
    renamed into or out of place, so a ledger-pinned probe racing the
    split sees pre- or post-commit state, never a half-state); the
    quantizer grew by one net (17 centroids — old list retired, two
    minted); the growth ledger equals the physical per-list counts
    after the deferred vacuum; total membership is preserved (a split
    moves vectors, never drops or duplicates).

    Scale posture: the split reads and rewrites ONLY the overgrown
    partition — O(|that list|) while the corpus is arbitrarily large —
    and the superseded partition stays on disk until the next
    maintenance op's vacuum, so lock-free snapshot probes never lose
    their files mid-flight."""
    import shutil
    import tempfile as _tempfile

    from reflex_spark.operators.similarity import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    base = _tempfile.mkdtemp(prefix="ivf_split_")
    try:
        idx = IvfIndex.build(spark, f"{base}/idx", emb, cent)
        counts = idx.list_counts()
        target = min(
            (lid for lid in counts), key=lambda lid: (-counts[lid], lid)
        )
        split_ids = idx.maybe_split(
            threshold=counts[target] - 1, lists=[target]
        )
        if split_ids != [target]:
            raise AssertionError(
                f"expected exactly list {target} to split, got {split_ids}"
            )
        # copy-on-write: both sides took fresh ids from the ledger
        id_a, id_b = _IVF_LISTS, _IVF_LISTS + 1
        cents = idx.centroids()
        if cents.count() != _IVF_LISTS + 1:
            raise AssertionError("quantizer did not grow by exactly one")
        if target in idx.list_counts():
            raise AssertionError(
                f"split left the retired list {target} in the ledger"
            )
        # after the deferred vacuum the physical tree IS the snapshot:
        # ledger == raw dir scan, and the superseded partition is gone
        idx.vacuum()
        physical = {
            r["ivf_list"]: r["n"]
            for r in spark.read.parquet(f"{base}/idx/lists")
            .groupBy("ivf_list")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: one row per list
        }
        if idx.list_counts() != physical or sum(physical.values()) != n_corpus:
            raise AssertionError(
                f"ledger/physical divergence after split: "
                f"{idx.list_counts()} vs {physical} (corpus {n_corpus})"
            )

        two = spark.read.parquet(f"{base}/idx/lists").where(
            F.col("ivf_list").isin([id_a, id_b])
        )
        agg = two.groupBy(F.col("ivf_list").alias("list_id")).agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
        )
        cdim = cents.where(F.col("list_id").isin([id_a, id_b])).select(
            F.col("list_id").cast("int").alias("list_id"),
            F.round(F.element_at("centroid", 1), 6).alias("c1"),
            F.round(F.element_at("centroid", 2), 6).alias("c2"),
        )
        out = agg.withColumn("list_id", F.col("list_id").cast("int")).join(
            cdim, "list_id"
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


# The closed-form IVF probe both engines share: full-corpus assignment
# at the seeded quantizer, probed-list routing, in-list cosine top-10 —
# the oracle for every lifecycle query whose final answer must equal
# "the index, probed" regardless of which maintenance history built it.
_SQL_IVF_CLOSED_PROBE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {_IVF_LISTS}
    ),
    lists AS (
      SELECT vec_id, embedding, cid AS ivf_list FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_D2}, c.cid) AS rnk
        FROM embeddings e, cent c)
      WHERE rnk = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
          WHERE vec_id IN (0, 1, 2)),
    qprobe AS (
      SELECT q_id, qv, cid AS ivf_list FROM (
        SELECT q.q_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_IVF_QD2}, c.cid) AS rnk
        FROM q, cent c)
      WHERE rnk <= {_IVF_PROBE}
    ),
    scored AS (
      SELECT p.q_id, l.vec_id, {sql_cosine('l.embedding', 'p.qv')} AS cos_sim
      FROM lists l JOIN qprobe p USING (ivf_list)
      WHERE l.vec_id <> p.q_id)
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT q_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 10
    """


@query(
    "sim_ann_ivf_snapshot_probe_rollup",
    # The judged rows ARE the racing probe's output: a probe injected at
    # the split's REAL commit point must return exactly the committed
    # pre-split snapshot's answer — which is the closed-form full-corpus
    # probe DuckDB replays. Any half-state read (missing list, torn
    # quantizer, short top-k) changes rows and hash-fails.
    oracle=_SQL_IVF_CLOSED_PROBE,
)
def sim_ann_ivf_snapshot_probe_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The snapshot-consistency guarantee driver-judged (VERDICT r14
    Next #3 operationalized): a lock-free probe RACING a list re-split
    — injected at the split's actual commit point through the
    maintenance seam, i.e. after both sides and the next quantizer
    generation are on disk but before the ledger commit — must return
    bit-exactly the committed pre-split snapshot's answer, because it
    resolves centroids and list files through one committed ledger
    read and the superseded state is still on disk (deferred vacuum).

    Pinned in-query: the serial pre-split probe, the mid-commit racing
    probe, and the judged output are all the SAME rows (the oracle's
    closed-form replay); the split genuinely happened (ledger retired
    the target list); the post-split probe still serves full top-k from
    the new snapshot. The old staged-rename design could transiently
    miss the splitting list or crash on a half-swapped quantizer here —
    this query exists so that regression would be a driver-visible
    hash failure, not a pytest-only one.

    Scale posture: the probe is O(lists probed) and takes no lock;
    the race window costs nothing to readers because commit is one
    atomic ledger write and vacuum is deferred a full maintenance
    interval."""
    import shutil
    import tempfile as _tempfile

    from reflex_spark.operators.similarity import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"]
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    queries_df = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    base = _tempfile.mkdtemp(prefix="ivf_snapprobe_")
    try:
        idx = IvfIndex.build(spark, f"{base}/idx", emb, cent)

        def probe_rows():
            return sorted(
                tuple(r)
                for r in idx.probe(queries_df, n_probe=_IVF_PROBE, k=10)
                .select(
                    F.col("q_id").cast("long"),
                    F.col("vec_id").cast("long"),
                    "cos_sim",
                )
                .collect()  # bounded: 30 rows
            )

        serial = probe_rows()
        racing: dict[str, list] = {}

        def probe_mid_commit(op: str) -> None:
            racing[op] = probe_rows()

        counts = idx.list_counts()
        target = min(
            (lid for lid in counts), key=lambda lid: (-counts[lid], lid)
        )
        idx._inject_before_commit = probe_mid_commit
        try:
            split_ids = idx.maybe_split(
                threshold=counts[target] - 1, lists=[target]
            )
        finally:
            idx._inject_before_commit = None
        if split_ids != [target]:
            raise AssertionError(
                f"expected list {target} to split, got {split_ids}"
            )
        if target in idx.list_counts():
            raise AssertionError("split committed but target still live")
        if racing.get("split") != serial:
            raise AssertionError(
                "probe racing the split diverged from the committed "
                f"pre-split snapshot: {racing.get('split')!r:.120s} vs "
                f"{serial!r:.120s}"
            )
        post = idx.probe(queries_df, n_probe=_IVF_PROBE, k=10)
        if post.count() != 30:
            raise AssertionError("post-split probe lost top-k rows")

        out = spark.createDataFrame(
            serial, "q_id long, vec_id long, cos_sim double"
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "sim_ann_ivf_repair_rollup",
    # The crashed-append lifecycle judged end-to-end: after crash ->
    # refused retry -> repair -> re-run, the index must hold the corpus
    # EXACTLY ONCE, so its probe equals the closed-form full-corpus
    # replay — a silently adopted partial batch or a double-written
    # retry changes cos_sim rows and hash-fails.
    oracle=_SQL_IVF_CLOSED_PROBE,
)
def sim_ann_ivf_repair_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crashed-append RECOVERY path driver-judged (the r15 second
    review's double-write finding, operationalized): an append dies at
    the real commit point (seam injection — its files are on disk,
    the ledger never moved), after which (a) the snapshot still shows
    only the seed half, (b) a naive RETRY REFUSES loudly — adopting the
    crashed attempt's files would commit a partial batch and
    double-write this one, (c) ``repair()`` reclaims every
    unreferenced file (transactional: the failed append never
    happened), and (d) the re-run lands the batch exactly once — pinned
    by the probe hashing bit-equal to the closed-form full-corpus
    oracle, which a duplicate or dropped vector cannot survive.

    Scale posture: repair is the EXPLICIT O(index-listing) fsck, run
    after a crash rather than per batch; the refused retry costs one
    batch write (reclaimed by the same repair), and the happy path
    keeps its O(batch)-compute / O(touched-partition)-metadata ingest.
    The refusal is clock-free (stage-and-move file identity), so it
    fires however fast the retry follows the crash."""
    import shutil
    import tempfile as _tempfile

    from reflex_spark.operators.similarity import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    seed = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    n_seed = seed.count()
    base = _tempfile.mkdtemp(prefix="ivf_repair_")
    try:
        idx = IvfIndex.build(spark, f"{base}/idx", seed, cent)

        def crash(op: str) -> None:
            raise RuntimeError("injected crash before ledger commit")

        idx._inject_before_commit = crash
        crashed = False
        try:
            idx.append(batch)
        except RuntimeError:
            crashed = True
        finally:
            idx._inject_before_commit = None
        if not crashed:
            raise AssertionError("injected crash did not fire")
        if sum(idx.list_counts().values()) != n_seed:
            raise AssertionError("crashed append moved the ledger")
        if idx.read_lists().count() != n_seed:
            raise AssertionError(
                "snapshot read sees the uncommitted batch"
            )

        refused = False
        try:
            idx.append(batch)
        except ValueError as e:
            refused = "repair" in str(e)
        if not refused:
            raise AssertionError(
                "retry over crashed-append orphans did not refuse"
            )
        dropped = idx.repair()
        if dropped["orphan_files_dropped"] <= 0:
            raise AssertionError("repair reclaimed nothing")
        if sum(idx.list_counts().values()) != n_seed:
            raise AssertionError("repair changed the committed corpus")

        added = idx.append(batch)  # exactly-once landing
        if sum(idx.list_counts().values()) != n_corpus:
            raise AssertionError(
                f"post-repair corpus {sum(idx.list_counts().values())} "
                f"!= {n_corpus}"
            )
        if sum(added.values()) != n_corpus - n_seed:
            raise AssertionError("re-run batch count drifted")

        queries_df = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        out = idx.probe(queries_df, n_probe=_IVF_PROBE, k=10).select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "cos_sim",
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "sim_ann_ivf_compact_rollup",
    # Compaction judged end-to-end: K appends fragment every touched
    # list into K+1 files; compact() must merge each into ONE file
    # while changing NOTHING about index content — so the post-compact
    # probe equals the closed-form full-corpus replay. A compaction
    # that drops, doubles, or reassigns a single vector hash-fails.
    oracle=_SQL_IVF_CLOSED_PROBE,
)
def sim_ann_ivf_compact_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE maintenance verb driver-judged (VERDICT r15 Next
    #2 / What's wrong #1): ``IvfIndex.append`` adds exactly one file
    per touched list per batch and nothing merged them, so after K
    appends a list holds K+1 small files, probe cost drifts from
    O(list bytes) toward O(K footers), and the ledger's per-list name
    arrays grow without bound. ``compact()`` rewrites each fragmented
    list into ONE file under a FRESH list id through the same
    copy-on-write + garbage-ledger commit a split uses.

    The corpus arrives in three waves (build + 2 appends — every list
    ends fragmented), then one compact pass. Pinned in-query: (a) the
    pass found real fragmentation (some list held >= 3 ledger files)
    and afterwards EVERY list holds exactly one; (b) the ledger's
    total file-name count shrank to n_lists (the growth bound the
    verb exists to enforce); (c) per-list counts carried over exactly
    under the old->new id mapping; (d) the probe BEFORE compaction
    equals the probe AFTER it row-for-row — and both equal the
    closed-form DuckDB oracle, the judged hash contract.

    Scale posture: one Spark job for the whole pass — a pinned read of
    ONLY the fragmented lists, repartition on the remapped id, dynamic-
    partition write to a private stage, whole-dir moves, one ledger
    commit. O(fragmented bytes), never O(corpus); snapshot-consistent
    against concurrent probes like every other maintenance op (old
    dirs + old quantizer generation park in the garbage list for one
    maintenance interval). Run it on the maintenance cadence appends
    amortize to — e.g. every N batches — exactly like a governed
    table's OPTIMIZE."""
    import shutil
    import tempfile as _tempfile

    from reflex_spark.operators.similarity import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    base = _tempfile.mkdtemp(prefix="ivf_compact_")
    try:
        idx = IvfIndex.build(
            spark, f"{base}/idx", emb.where(F.col("vec_id") % 3 == 0), cent
        )
        idx.append(emb.where(F.col("vec_id") % 3 == 1))
        idx.append(emb.where(F.col("vec_id") % 3 == 2))
        meta = idx._read_meta()
        frag = {int(k): len(v) for k, v in meta["files"].items()}
        if max(frag.values()) < 3:
            raise AssertionError(
                f"two appends left no list with >= 3 files: {frag}"
            )
        counts_before = idx.list_counts()
        if sum(counts_before.values()) != n_corpus:
            raise AssertionError("pre-compact ledger lost rows")

        queries_df = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        probe_before = sorted(
            tuple(r)
            for r in idx.probe(queries_df, n_probe=_IVF_PROBE, k=10)
            .select(
                F.col("q_id").cast("long"),
                F.col("vec_id").cast("long"),
                "cos_sim",
            )
            .collect()  # bounded: 3 queries x k rows
        )

        mapping = idx.compact()
        if set(mapping) != {k for k, n in frag.items() if n >= 2}:
            raise AssertionError(
                f"compact targeted {sorted(mapping)} but fragmentation "
                f"was {frag}"
            )
        meta2 = idx._read_meta()
        per_list = {int(k): len(v) for k, v in meta2["files"].items()}
        if any(n != 1 for n in per_list.values()):
            raise AssertionError(
                f"compaction left multi-file lists: {per_list}"
            )
        if sum(per_list.values()) != len(counts_before):
            raise AssertionError("ledger file count not bounded to n_lists")
        if idx.list_counts() != {
            mapping.get(k, k): v for k, v in counts_before.items()
        }:
            raise AssertionError("compaction changed per-list counts")
        if idx.compact():
            raise AssertionError("second compact found work: not idempotent")

        out = idx.probe(queries_df, n_probe=_IVF_PROBE, k=10).select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "cos_sim",
        )
        out = out.localCheckpoint()  # materialize before temp-dir cleanup
        probe_after = sorted(tuple(r) for r in out.collect())
        if probe_after != probe_before:
            raise AssertionError(
                "compaction changed probe results: "
                f"{probe_after[:3]} vs {probe_before[:3]}"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@query(
    "sim_ann_ivf_compact_snapshot_probe_rollup",
    # The judged rows ARE the racing probe's output: a probe injected
    # at compact's REAL commit point must return exactly the committed
    # snapshot's answer — which (compaction being content-neutral over
    # the full corpus) is the closed-form full-corpus probe DuckDB
    # replays. A reader that sees the staged rewrite (doubled vectors),
    # loses a mid-rewrite list, or reads a torn quantizer hash-fails.
    oracle=_SQL_IVF_CLOSED_PROBE,
)
def sim_ann_ivf_compact_snapshot_probe_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot consistency under COMPACTION driver-judged — the
    symmetric twin of ``sim_ann_ivf_snapshot_probe_rollup`` (which
    races a split): a lock-free probe injected at ``compact()``'s
    actual commit point, i.e. after every fragmented list has been
    rewritten under fresh ids and the next quantizer generation is on
    disk but before the single ledger write, must return bit-exactly
    the committed pre-compact snapshot's answer. This is the window
    where the corpus exists TWICE on disk (old fragmented dirs +
    staged rewrites); only the ledger read keeps readers on one side.

    Pinned in-query: the serial pre-compact probe, the mid-commit
    racing probe, and the judged output are the SAME rows (the
    oracle's closed-form replay); the pass genuinely rewrote every
    fragmented list (mapping == the >=2-file lists, post state is one
    file per list); and the post-compact probe still serves identical
    full top-k from the new snapshot — compaction is content-neutral,
    so all three probes agree, and any divergence is a driver-visible
    hash failure.

    Scale posture: identical to the split race — probe is O(lists
    probed) and takes no lock; commit is one atomic ledger write;
    superseded dirs park in the garbage list for a full maintenance
    interval, so the race window costs readers nothing. Reference
    analogue: readers of reflex's MySQL-backed log never see a
    half-applied InnoDB reorganization for the same
    single-commit-point reason (rsql/doc.go:1-2, rsql/eventstable.go
    delegating all visibility to the DB's committed snapshot)."""
    import shutil
    import tempfile as _tempfile

    from reflex_spark.operators.similarity import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_corpus = emb.count()
    cent = emb.where(F.col("vec_id") < _IVF_LISTS).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    queries_df = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    base = _tempfile.mkdtemp(prefix="ivf_compact_snap_")
    try:
        idx = IvfIndex.build(
            spark, f"{base}/idx", emb.where(F.col("vec_id") % 2 == 0), cent
        )
        idx.append(emb.where(F.col("vec_id") % 2 == 1))
        if sum(idx.list_counts().values()) != n_corpus:
            raise AssertionError("fixture setup lost rows")
        frag = {
            int(k): len(v)
            for k, v in idx._read_meta()["files"].items()
        }
        if max(frag.values()) < 2:
            raise AssertionError(f"append left nothing fragmented: {frag}")

        def probe_rows():
            return sorted(
                tuple(r)
                for r in idx.probe(queries_df, n_probe=_IVF_PROBE, k=10)
                .select(
                    F.col("q_id").cast("long"),
                    F.col("vec_id").cast("long"),
                    "cos_sim",
                )
                .collect()  # bounded: 30 rows
            )

        serial = probe_rows()
        racing: dict[str, list] = {}

        def probe_mid_commit(op: str) -> None:
            racing[op] = probe_rows()

        idx._inject_before_commit = probe_mid_commit
        try:
            mapping = idx.compact()
        finally:
            idx._inject_before_commit = None
        if set(mapping) != {k for k, n in frag.items() if n >= 2}:
            raise AssertionError(
                f"compact targeted {sorted(mapping)}; fragmentation {frag}"
            )
        if racing.get("compact") != serial:
            raise AssertionError(
                "probe racing the compaction diverged from the committed "
                f"snapshot: {racing.get('compact')!r:.120s} vs "
                f"{serial!r:.120s}"
            )
        per_list = {
            int(k): len(v)
            for k, v in idx._read_meta()["files"].items()
        }
        if any(n != 1 for n in per_list.values()):
            raise AssertionError(f"compaction left fragments: {per_list}")
        if probe_rows() != serial:
            raise AssertionError(
                "post-compact probe diverged from pre-compact snapshot"
            )

        # built from local rows — no dependency on the temp dir, so no
        # materialization is needed before cleanup (unlike siblings
        # whose output plan still reads the index files)
        out = spark.createDataFrame(
            serial, "q_id long, vec_id long, cos_sim double"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out
