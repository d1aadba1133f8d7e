"""Similarity-search / embedding queries (SURVEY.md section 2.2 ⊕ rows):
brute-force cosine top-k (the recall baseline), sign-LSH and IVF
variants (the scale paths), cross-corpus top-k join, int8 quantization,
quantized k-means, and quantile featurization.

Scale notes (100 TB): centroids/codebooks are O(k×d) driver-side models
broadcast back (the MLlib pattern); candidate generation is always
bucket-keyed (IVF list, SRP band) — brute force exists only as the
verification baseline for measured LSH/IVF recall.

Split out of extension_queries.py in round 7 (pure move, zero renames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceframework_spark.operators import vectors as V
from mapreduceframework_spark.plans.exact import snap_units, snap_units_sql
from mapreduceframework_spark.plans.registry import query
from mapreduceframework_spark.sources import load_table
from mapreduceframework_spark.sources.registry import inline_rows_df
from mapreduceframework_spark.plans.corpus import EMB_CTE, _embeddings


def _emb_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, tbl, bucket) rows, one per LSH table per vector."""
    e = _embeddings(spark, sf_dir)
    return e.select(
        "vec_id", F.explode(V.lsh_table_keys(F.col("v"))).alias("tk")
    ).select(
        "vec_id", F.col("tk.tbl").alias("tbl"), F.col("tk.bucket").alias("bucket")
    )


EMB_BANDS_CTE = f"""
        SELECT vec_id, t.tk.tbl AS tbl, t.tk.bucket AS bucket
        FROM (SELECT vec_id, unnest({V.lsh_table_keys_sql("v")}) AS tk
              FROM ({EMB_CTE}))  t
"""


# --------------------------------------------------------------------------
# Similarity search (ANN over array<float>)
# --------------------------------------------------------------------------


# Exact top-5 per query — shared verbatim by the bruteforce row and the
# recall report so "ground truth" cannot drift between them.
BF_TOPK_SQL = f"""
        WITH e AS ({EMB_CTE}),
        q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        scored AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                          {V.cosine_sql("q.v", "e.v")} AS cos
                   FROM q JOIN e ON e.vec_id <> q.vec_id)
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 5
"""


@query(
    "ann_cosine_bruteforce",
    oracle=BF_TOPK_SQL,
    tags=("similarity", "extension"),
    bench=True,
)
def ann_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors — the
    brute-force correctness baseline. The query side is tiny so Catalyst
    broadcasts it: one scan of the corpus, no shuffle of the big side,
    then a per-query top-k window over O(q*n) scored rows. rank is
    deterministic: ties break on neighbor_id."""
    e = _embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


LSH_TOPK_SQL = f"""
        WITH e AS ({EMB_CTE}),
        b AS ({EMB_BANDS_CTE}),
        qb AS (SELECT vec_id, tbl, bucket FROM b WHERE vec_id < 10),
        cand AS (SELECT DISTINCT qb.vec_id AS query_id,
                                 b.vec_id AS neighbor_id
                 FROM qb JOIN b
                 ON b.tbl = qb.tbl AND b.bucket = qb.bucket
                    AND b.vec_id <> qb.vec_id),
        scored AS (SELECT query_id, neighbor_id,
                          {V.cosine_sql("x.v", "y.v")} AS cos
                   FROM cand
                   JOIN e x ON x.vec_id = query_id
                   JOIN e y ON y.vec_id = neighbor_id)
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 5
"""


@query(
    "ann_cosine_lsh",
    oracle=LSH_TOPK_SQL,
    tags=("similarity", "extension"),
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-table sign-LSH: candidates share a
    bucket with the query in ANY of the 4 tables, then exact cosine +
    deterministic ranking over candidates only (~4/16 of the corpus
    instead of all of it). Recall vs the brute-force twin is measured
    in tests/test_extensions.py — the two queries differing ONLY in the
    candidate set makes that measurement honest."""
    e = _embeddings(spark, sf_dir)
    b = _emb_bands(spark, sf_dir)
    qb = b.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    cand = (
        F.broadcast(qb)
        .join(
            b,
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    x, y = e.alias("x"), e.alias("y")
    scored = (
        cand.join(F.broadcast(x), F.col("query_id") == F.col("x.vec_id"))
        .join(y, F.col("neighbor_id") == F.col("y.vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("x.v"), F.col("y.v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# --------------------------------------------------------------------------
# IVF-style ANN
# --------------------------------------------------------------------------

def _centroids_sql(src: str) -> str:
    """Per-label mean-vector CTE body over ``src`` (a CTE name or a
    parenthesized subquery), components rounded to 6 on both engines so
    cross-engine AVG-order drift can't flip a probe ranking. Shared by
    ann_cosine_ivf (whole corpus) and ann_topk_join (corpus side)."""
    return f"""
        SELECT label, list(cx ORDER BY pos) AS c
        FROM (SELECT label, pos, ROUND(AVG(x), 6) AS cx
              FROM (SELECT label, generate_subscripts(v, 1) AS pos,
                           unnest(v) AS x
                    FROM {src})
              GROUP BY label, pos)
        GROUP BY label
"""


CENTROIDS_CTE = _centroids_sql(f"({EMB_CTE})")


def _label_centroids(e: DataFrame) -> DataFrame:
    """Spark side of :func:`_centroids_sql`: per-label mean vector with
    components rounded to 6. One partial-aggregated groupBy over
    (label, pos) — shuffle volume O(labels x dims), never O(corpus)."""
    return (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s.cx).alias("c"))
    )


@query(
    "ann_cosine_ivf",
    bench=True,
    oracle=f"""
        WITH e AS ({EMB_CTE}),
        cent AS ({CENTROIDS_CTE}),
        probes AS (
            SELECT query_id, qv, label FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, cent.label,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {V.cosine_sql("q.v", "cent.c")} DESC,
                                    cent.label) AS r
                FROM e q, cent WHERE q.vec_id < 10)
            WHERE r <= 3),
        scored AS (
            SELECT query_id, e.vec_id AS neighbor_id,
                   {V.cosine_sql("probes.qv", "e.v")} AS cos
            FROM probes JOIN e USING (label)
            WHERE e.vec_id <> query_id)
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 5
    """,
    tags=("similarity", "extension"),
)
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions the corpus into
    inverted lists; each query probes its 3 nearest centroids and
    scores exact cosine only inside those lists (~30% of the corpus
    here). The quantizer is the per-label mean vector — the structure
    is exactly IVF-Flat (train = k-means; here the label clustering
    stands in for the training step, which keeps the oracle
    independent). Centroid components are rounded to 6 before use on
    BOTH sides so the cross-engine AVG-order drift can't flip a
    probe ranking."""
    e = _embeddings(spark, sf_dir)
    cent = _label_centroids(e)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("centroid_sim"), F.asc("label")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("centroid_sim", V.cosine(F.col("qv"), F.col("c")))
        .withColumn("r", F.row_number().over(w_probe))
        .filter(F.col("r") <= 3)
        .select("query_id", "qv", "label")
    )
    scored = (
        F.broadcast(probes)
        .join(e, "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


@query(
    "ann_topk_join",
    oracle=f"""
        WITH e AS ({EMB_CTE}),
        corpus AS (SELECT * FROM e WHERE vec_id >= 20),
        cent AS ({_centroids_sql("corpus")}),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        probes AS (
            SELECT query_id, qv, label FROM (
                SELECT q.query_id, q.qv, cent.label,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {V.cosine_sql("q.qv", "cent.c")} DESC,
                                    cent.label) AS r
                FROM q, cent)
            WHERE r <= 2),
        scored AS (
            SELECT query_id, corpus.vec_id AS neighbor_id,
                   {V.cosine_sql("probes.qv", "corpus.v")} AS cos
            FROM probes JOIN corpus USING (label))
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 3
    """,
    tags=("similarity", "extension", "retrieval"),
)
def ann_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus top-k similarity JOIN — the everyday retrieval
    shape: for each of M query vectors (one table), the top-3 cosine
    neighbors out of a DISTINCT corpus table, through the IVF candidate
    path. Differs from ann_cosine_ivf in exactly the way retrieval
    differs from self-search: queries and corpus are separate relations
    (here disjoint vec_id slices of the embeddings table standing in
    for two tables), the coarse quantizer is trained on the CORPUS side
    only, and no self-match exclusion is needed.

    Scale shape: centroids are O(labels x dims) -> broadcast; each
    query probes its 2 nearest lists; candidate generation is a
    broadcast hash join of (query, probed-label) against the corpus
    partitioned BY LABEL — never a cartesian, and the corpus side
    shuffles zero bytes when pre-partitioned by list id (the standard
    IVF sharding at 100 TB: each executor owns whole inverted lists,
    queries stream to the lists they probe). Top-k is a per-query
    rank with deterministic (cos DESC, neighbor_id) tiebreak."""
    e = _embeddings(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") >= 20)
    cent = _label_centroids(corpus)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("centroid_sim"), F.asc("label")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("centroid_sim", V.cosine(F.col("qv"), F.col("c")))
        .withColumn("r", F.row_number().over(w_probe))
        .filter(F.col("r") <= 2)
        .select("query_id", "qv", "label")
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, "label")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


@query(
    "embedding_quantize_int8",
    bench=True,
    oracle="""
        WITH x64 AS (
            SELECT vec_id,
                   [CAST(e AS DOUBLE) for e in embedding] AS x
            FROM embeddings),
        s AS (
            SELECT vec_id, x,
                   list_max([abs(v) for v in x]) / 127.0 AS scale
            FROM x64
            WHERE list_max([abs(v) for v in x]) > 0),
        q AS (
            SELECT vec_id, x, scale,
                   [CAST(floor(v / scale + 0.5) AS BIGINT) for v in x] AS qv
            FROM s)
        SELECT vec_id, scale,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT), qv),
                   (acc, qq) -> (acc * 31 + qq + 128) % 1000000007)
                   AS q_digest,
               list_max([abs(qv[i] * scale - x[i])
                         for i in range(1, len(x) + 1)]) AS max_abs_err
        FROM q
    """,
    tags=("extension", "embedding", "quantize"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the standard vector-store compression step (scale = max|x|/127,
    code = floor(x/scale + 0.5), 4x smaller than float32). Emitted as
    scalars per vector: the scale, a 31x fold digest of the codes
    (arrays stringify differently across engines, so the digest stands
    in for the code array), and the exact max reconstruction error.

    Determinism: rounding is floor(v/scale + 0.5) in BOTH engines (no
    engine round(): tie rules differ); every element value is the same
    IEEE expression tree, and max/fold are order-fixed. Zero vectors
    (scale 0) are filtered identically on both sides.

    100 TB: embarrassingly row-local — zero shuffles, one pass, all
    JVM-side HOFs (scale is bound as a plain column before the lambdas
    reference it: an outer *expression* inside a HOF lambda re-evaluates
    per element, README pitfall, but a column reference is a cheap
    bound read)."""
    emb = load_table(spark, sf_dir, "embeddings")
    M = F.lit(1000000007).cast("long")
    return (
        emb.withColumn("x", F.col("embedding").cast("array<double>"))
        .withColumn(
            "absmax", F.array_max(F.transform("x", lambda v: F.abs(v)))
        )
        .filter(F.col("absmax") > 0)
        .withColumn("scale", F.col("absmax") / 127.0)
        .withColumn(
            "qv",
            F.transform(
                "x", lambda v: F.floor(v / F.col("scale") + 0.5)
            ),
        )
        .select(
            "vec_id",
            "scale",
            F.aggregate(
                "qv",
                F.lit(0).cast("long"),
                lambda acc, qq: (acc * 31 + qq + 128) % M,
            ).alias("q_digest"),
            F.array_max(
                F.zip_with(
                    "qv",
                    "x",
                    lambda qq, v: F.abs(qq * F.col("scale") - v),
                )
            ).alias("max_abs_err"),
        )
    )


# Shared DuckDB CTE chain: int8 quantization + the full 2-update
# Lloyd's k-means (k=8, d=64) iteration trace, ending in the final
# assignment ``a3(vec_id, qv, cid)``. Both kmeans_quantized_clusters
# and dedup_semantic_clusters (plans/dedup_queries.py) embed it, so the
# SemDeDup oracle value-checks the IDENTICAL clustering the Spark side
# computes via operators/vectors.kmeans_lloyd — one rendering, two
# consumers, zero drift.
KMEANS8_ASSIGN_CTES = """
        x64 AS (
            SELECT vec_id, [CAST(e AS DOUBLE) for e in embedding] AS x
            FROM embeddings),
        s AS (
            SELECT vec_id, x, list_max([abs(v) for v in x]) / 127.0 AS scale
            FROM x64 WHERE list_max([abs(v) for v in x]) > 0),
        q AS (
            SELECT vec_id,
                   [CAST(floor(v / scale + 0.5) AS BIGINT) for v in x] AS qv
            FROM s),
        c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                   [CAST(v AS DOUBLE) for v in qv] AS c
            FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)),
        a1 AS (
            SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c0.cid,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           list_reduce(list_prepend(0.0::DOUBLE,
                               [(qv[i] - c[i]) * (qv[i] - c[i])
                                for i in range(1, len(qv) + 1)]),
                               (acc, e) -> acc + e), cid) AS rn
                FROM q CROSS JOIN c0)
            WHERE rn = 1),
        c1u AS (
            SELECT cid, i, CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*) AS v
            FROM a1, range(1, 65) t(i) GROUP BY cid, i),
        c1l AS (SELECT cid, list(v ORDER BY i) AS c FROM c1u GROUP BY cid),
        c1 AS (
            SELECT c0.cid, COALESCE(c1l.c, c0.c) AS c
            FROM c0 LEFT JOIN c1l ON c0.cid = c1l.cid),
        a2 AS (
            SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c1.cid,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           list_reduce(list_prepend(0.0::DOUBLE,
                               [(qv[i] - c[i]) * (qv[i] - c[i])
                                for i in range(1, len(qv) + 1)]),
                               (acc, e) -> acc + e), cid) AS rn
                FROM q CROSS JOIN c1)
            WHERE rn = 1),
        c2u AS (
            SELECT cid, i, CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*) AS v
            FROM a2, range(1, 65) t(i) GROUP BY cid, i),
        c2l AS (SELECT cid, list(v ORDER BY i) AS c FROM c2u GROUP BY cid),
        c2 AS (
            SELECT c1.cid, COALESCE(c2l.c, c1.c) AS c
            FROM c1 LEFT JOIN c2l ON c1.cid = c2l.cid),
        a3 AS (
            SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c2.cid,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           list_reduce(list_prepend(0.0::DOUBLE,
                               [(qv[i] - c[i]) * (qv[i] - c[i])
                                for i in range(1, len(qv) + 1)]),
                               (acc, e) -> acc + e), cid) AS rn
                FROM q CROSS JOIN c2)
            WHERE rn = 1)"""


def _embeddings_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv): symmetric int8 quantization of the embedding
    column — the exact-integer code arrays the iterative/cluster rows
    operate on (mirrors the ``x64 -> s -> q`` CTEs above; determinism
    notes in embedding_quantize_int8's docstring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("x", F.col("embedding").cast("array<double>"))
        .withColumn(
            "absmax", F.array_max(F.transform("x", lambda v: F.abs(v)))
        )
        .filter(F.col("absmax") > 0)
        .withColumn("scale", F.col("absmax") / 127.0)
        .select(
            "vec_id",
            F.transform(
                "x", lambda v: F.floor(v / F.col("scale") + 0.5)
            ).alias("qv"),
        )
    )


@query(
    "kmeans_quantized_clusters",
    bench=True,
    oracle=f"""
        WITH {KMEANS8_ASSIGN_CTES},
        digest AS (
            SELECT cid,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           [CAST(floor(c[i] * 1000 + 0.5) AS BIGINT)
                            for i in range(1, len(c) + 1)]),
                       (acc, e) -> (acc * 31 + e) % 1000000007)
                       AS centroid_digest
            FROM c2)
        SELECT a3.cid,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids,
               MIN(digest.centroid_digest) AS centroid_digest
        FROM a3 JOIN digest ON a3.cid = digest.cid
        GROUP BY a3.cid
    """,
    tags=("extension", "embedding", "cluster", "iterative"),
)
def kmeans_quantized_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, two centroid updates + final assignment)
    over int8-QUANTIZED embeddings — corpus clustering for data mixing
    / curation, and the engine's second iterative-algorithm family
    after connected components (operators/vectors.py kmeans_lloyd has
    the full determinism + scale analysis; quantization is what makes
    iterative float clustering bit-reproducible across engines:
    centroid updates become exact integer sums).

    The oracle unrolls all three assignment passes as SQL CTEs —
    assignment windows, integer per-dimension centroid sums, empty
    -cluster COALESCE — so the entire iteration trace is value-checked,
    not just the final sizes. Output per cluster: size, exact member
    id sum, and a fold digest of the final centroid coordinates."""
    q = _embeddings_q8(spark, sf_dir)
    asg, cents = V.kmeans_lloyd(q, k=8, updates=2)
    # Centroids are driver-side model state (list[list[float]]), so the
    # coordinate digest is plain Python — same IEEE floor(v*1000+0.5)
    # per element and exact integer fold as the oracle's list_reduce —
    # attached as a literal map. No join: joining the HOF-argmin cid
    # back to a centroid relation trips Catalyst constraint inference
    # (see kmeans_lloyd docstring).
    import math

    M = 1000000007
    digests = {}
    for cid, c in enumerate(cents):
        acc = 0
        for v in c:
            acc = acc * 31 + int(math.floor(v * 1000 + 0.5))
            # truncated modulo (sign of dividend), matching Spark's and
            # DuckDB's `%` — Python's `%` floors instead.
            acc = abs(acc) % M if acc >= 0 else -(abs(acc) % M)
        digests[cid] = acc
    digest_map = F.create_map(
        *[
            x
            for cid, d in digests.items()
            for x in (F.lit(cid).cast("long"), F.lit(d).cast("long"))
        ]
    )
    return (
        asg.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").alias("sum_vec_ids"),
        )
        .select(
            "cid",
            "n_members",
            "sum_vec_ids",
            digest_map[F.col("cid")].alias("centroid_digest"),
        )
    )


@query(
    "feature_quantile_buckets",
    oracle="""
        WITH b AS (
            SELECT quantile_cont(l_quantity, 0.25) AS q1,
                   quantile_cont(l_quantity, 0.50) AS q2,
                   quantile_cont(l_quantity, 0.75) AS q3
            FROM lineitem)
        SELECT CASE WHEN l_quantity <= q1 THEN 0
                    WHEN l_quantity <= q2 THEN 1
                    WHEN l_quantity <= q3 THEN 2
                    ELSE 3 END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MIN(l_quantity), 2) AS lo,
               ROUND(MAX(l_quantity), 2) AS hi
        FROM lineitem CROSS JOIN b
        GROUP BY bucket
    """,
    tags=("extension", "feature", "agg"),
)
def feature_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretizer — the feature-engineering step that turns a
    numeric column into balanced ordinal buckets (the two-pass
    pattern: exact percentiles once, broadcast, then a row-local CASE).
    Exact (not approx) percentiles are safe for cross-engine hashing
    HERE because l_quantity is integer-valued with ~50 distinct values:
    the (n-1)*p interpolation lands between equal neighbors, so every
    boundary is an exact integer in both engines. For a continuous
    column, approx_percentile + rounded boundaries is the 100 TB path
    (single-pass sketch instead of a full sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q1"),
        F.expr("percentile(l_quantity, 0.50)").alias("q2"),
        F.expr("percentile(l_quantity, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("l_quantity") <= F.col("q1"), 0)
        .when(F.col("l_quantity") <= F.col("q2"), 1)
        .when(F.col("l_quantity") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        li.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_quantity"), 2).alias("lo"),
            F.round(F.max("l_quantity"), 2).alias("hi"),
        )
    )


@query(
    "feature_quantile_sketch",
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.25), 2) AS exact_q1,
               ROUND(quantile_cont(l_quantity, 0.50), 2) AS exact_q2,
               ROUND(quantile_cont(l_quantity, 0.75), 2) AS exact_q3,
               TRUE AS sketch_within_tol
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "feature", "extension"),
)
def feature_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-quantile SCALE path, exercised for real: per-group
    quartiles via ``approx_percentile`` (Greenwald-Khanna sketch —
    single pass, mergeable partials, O(1/eps) memory per group; the
    100 TB substitute for the full-sort exact percentile that
    feature_quantile_buckets broadcasts). Same oracle pattern as
    agg_approx_count_distinct: the hash-checked columns are the EXACT
    quantiles (safe cross-engine: l_quantity is integer-valued, both
    engines use R-7 interpolation, and frac in {0,.25,.5,.75} makes the
    interpolated value exact) plus a boolean asserting the sketch
    landed within tolerance — the sketch runs for real, and a broken
    sketch flips the boolean. Tolerance 2.0: GK returns a corpus VALUE
    at rank error <= 1/accuracy, so with ~50 distinct integer values
    the estimate sits within a couple of units of the interpolated
    exact quantile."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("e1"),
        F.expr("percentile(l_quantity, 0.50)").alias("e2"),
        F.expr("percentile(l_quantity, 0.75)").alias("e3"),
        F.expr(
            "approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)"
        ).alias("a"),
    )
    within = (
        (F.abs(F.element_at("a", 1) - F.col("e1")) <= 2.0)
        & (F.abs(F.element_at("a", 2) - F.col("e2")) <= 2.0)
        & (F.abs(F.element_at("a", 3) - F.col("e3")) <= 2.0)
    ).alias("sketch_within_tol")
    return agg.select(
        "l_returnflag",
        F.round("e1", 2).alias("exact_q1"),
        F.round("e2", 2).alias("exact_q2"),
        F.round("e3", 2).alias("exact_q3"),
        within,
    )


@query(
    "feature_winsorize",
    oracle="""
        WITH b AS (SELECT l_returnflag,
                          round(CAST(quantile_cont(l_extendedprice, 0.05)
                                     AS DOUBLE), 4) AS lo,
                          round(CAST(quantile_cont(l_extendedprice, 0.95)
                                     AS DOUBLE), 4) AS hi
                   FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               b.lo, b.hi,
               round(CAST(AVG(l_extendedprice) AS DOUBLE), 2) AS mean_raw,
               round(CAST(AVG(least(greatest(l_extendedprice, b.lo), b.hi))
                          AS DOUBLE), 2) AS mean_winsor
        FROM lineitem l JOIN b USING (l_returnflag)
        GROUP BY l.l_returnflag, b.lo, b.hi
    """,
    tags=("feature", "extension", "agg"),
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise winsorization: clamp each value into its group's
    [p05, p95] band and report raw vs winsorized means — the outlier
    -robust normalization step a feature pipeline runs before scaling.
    Bounds are rounded to 4 decimals on BOTH engines before clamping,
    so the clamp thresholds are bit-identical even if the two exact
    -percentile implementations differ in final-ULP interpolation.

    Scale shape: two passes — an O(groups) bounds table (broadcast
    back, never a shuffle of the fact side for the join) and one
    partial-aggregated mean pass. Exact percentile buffers a group's
    values (fine for bounded group count x bounded numeric domain);
    the sketch path for continuous 100 TB columns is approx_percentile,
    exercised by feature_quantile_sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("hi"),
    )
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
    )
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l_extendedprice"), 2).alias("mean_raw"),
            F.round(F.avg(clamped), 2).alias("mean_winsor"),
        )
        .select("l_returnflag", "n", "lo", "hi", "mean_raw", "mean_winsor")
    )


@query(
    "ann_lsh_recall_report",
    oracle=f"""
        SELECT bf.query_id,
               CAST(COUNT(*) AS BIGINT) AS bf_k,
               CAST(COUNT(l.neighbor_id) AS BIGINT) AS hits,
               CAST(COUNT(l.neighbor_id) * 20 AS BIGINT) AS recall_pct
        FROM ({BF_TOPK_SQL}) bf
        LEFT JOIN ({LSH_TOPK_SQL}) l
          ON l.query_id = bf.query_id
         AND l.neighbor_id = bf.neighbor_id
        GROUP BY bf.query_id
    """,
    tags=("similarity", "quality", "extension"),
)
def ann_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the SRP-LSH scale path against the exact
    brute-force baseline, per query — "measure, don't guess" as a
    driver-checked row rather than a pytest-only claim. Both rankings
    reuse the EXACT registered query plans (module-level fns) and the
    oracle reuses their SQL bodies verbatim (BF_TOPK_SQL/LSH_TOPK_SQL),
    so the ground truth cannot drift from what the bruteforce row
    verifies. recall_pct is hits*20 — exact integers, no float ratio.

    This is the recall-vs-cost dial every production ANN deployment
    tunes: more hash tables / probes => higher hits at higher candidate
    volume. At 100 TB the report stays cheap: it scores only the M
    query rows' top-k (O(M*k)), not the corpus."""
    bf = ann_cosine_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ls = ann_cosine_lsh(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("l_neighbor")
    )
    joined = bf.join(
        ls,
        (bf["query_id"] == ls["query_id"])
        & (bf["neighbor_id"] == ls["l_neighbor"]),
        "left",
    ).select(bf["query_id"].alias("qid"), "l_neighbor")
    return joined.groupBy("qid").agg(
        F.count("*").alias("bf_k"),
        F.count("l_neighbor").alias("hits"),
        (F.count("l_neighbor") * 20).alias("recall_pct"),
    ).select(
        F.col("qid").alias("query_id"), "bf_k", "hits", "recall_pct"
    )


@query(
    "embedding_gram_matrix",
    oracle=f"""
        WITH q AS (
            SELECT list_transform(v, x -> CAST(round(x * 1000) AS BIGINT))
                       AS qv
            FROM ({EMB_CTE})),
        pairs AS (
            SELECT s.i AS i, t.j AS j, qv[s.i] * qv[t.j] AS p
            FROM q, generate_series(1, 64) AS s(i),
                    generate_series(1, 64) AS t(j)
            WHERE t.j >= s.i)
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
               CAST(SUM(p) AS BIGINT) AS g
        FROM pairs GROUP BY i, j
    """,
    tags=("ann", "embedding", "extension"),
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix G = Σ v·vᵀ over the embedding corpus —
    the single-pass building block for PCA / covariance / whitening
    (compute G distributed, eigendecompose the d×d result driver-side:
    the classic tall-skinny pattern, d=64 here so |G| = 2,080 upper-
    triangle cells regardless of corpus size).

    Parity: components quantize ONCE to 1e-3-unit BIGINTs (identical
    float→double widening and round on both engines), so every product
    and the full sum stay in exact integer arithmetic — no float
    summation-order drift at any scale. Scale: the d(d+1)/2 pair
    expansion is row-local (nested transform + one explode, no join);
    the only shuffle is the partial-agged groupBy down to 2,080 rows.
    At 100 TB the map-side combine reduces each partition to ≤2,080
    cells before anything moves."""
    e = _embeddings(spark, sf_dir)
    qv = F.transform(F.col("v"), lambda x: F.round(x * 1000).cast("long"))
    pairs = e.select(qv.alias("qv")).select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, 64), i -> "
                "transform(sequence(i, 64), j -> "
                "struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, "
                "element_at(qv, i) * element_at(qv, j) AS p))))"
            )
        ).alias("c")
    )
    return (
        pairs.select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
    )


def _sq_l2(a, b, n: int = 8) -> F.Column:
    """Exact-integer squared L2 between two length-``n`` BIGINT arrays.

    Unrolled over the fixed PQ subvector length instead of
    zip_with+aggregate: HOF lambdas are CodegenFallback (interpreted,
    one closure eval per element with per-call array allocation), and
    this expression runs ~640k times per query (corpus x 16 seeds x 8
    subspaces twice + the ADC fan-out). The unrolled form is plain
    codegen arithmetic — r17 profiling had exec at 2.9 s with per-task
    CPU ~= run time on these stages. Value-identical: integer adds in
    any association are exact. In-contract arrays are always length
    ``n`` (slices of d=64 vectors / collect_list of 8 components); a
    NULL array gives NULL, and two non-null arrays of any other length
    raise instead of returning NULL or dropping a tail.
    """
    terms = [
        (F.try_element_at(a, F.lit(i)) - F.try_element_at(b, F.lit(i)))
        * (F.try_element_at(a, F.lit(i)) - F.try_element_at(b, F.lit(i)))
        for i in range(1, n + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return F.when((F.size(a) == n) & (F.size(b) == n), out).when(
        a.isNotNull() & b.isNotNull(),
        F.raise_error(F.lit(f"_sq_l2: arrays must both have length {n}")),
    )


_PQ_SQ = "list_sum(list_transform(range(8), c -> ({a}[c+1] - {b}[c+1]) * ({a}[c+1] - {b}[c+1])))"


@query(
    "ann_cosine_pq",
    bench=True,
    oracle=f"""
        WITH e AS ({EMB_CTE}),
        q AS (SELECT vec_id,
                     list_transform(v, x -> CAST(round(x * 1000) AS BIGINT))
                         AS qv
              FROM e),
        subs AS (
            SELECT vec_id, j.j AS j, qv[j.j*8+1 : j.j*8+8] AS sub
            FROM q, range(0, 8) j(j)),
        seeds AS (SELECT vec_id AS t, j, sub AS ssub
                  FROM subs WHERE vec_id < 16),
        a1 AS (
            SELECT vec_id, j, t, sub,
                   {_PQ_SQ.format(a='sub', b='ssub')} AS dist
            FROM subs JOIN seeds USING (j)),
        c1 AS (
            SELECT vec_id, j, t, sub FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                             ORDER BY dist, t) AS rn
                FROM a1) WHERE rn = 1),
        upd AS (
            SELECT j, t, c.c AS c,
                   CAST(FLOOR(SUM(sub[c.c+1])::DOUBLE / COUNT(*)) AS BIGINT)
                       AS cx
            FROM c1, range(0, 8) c(c) GROUP BY j, t, c.c),
        cent AS (
            SELECT s.j, s.t,
                   list(COALESCE(u.cx, s.ssub[c.c+1]) ORDER BY c.c) AS cv
            FROM seeds s CROSS JOIN range(0, 8) c(c)
            LEFT JOIN upd u ON u.j = s.j AND u.t = s.t AND u.c = c.c
            GROUP BY s.j, s.t),
        a2 AS (
            SELECT vec_id, j, t,
                   {_PQ_SQ.format(a='sub', b='cv')} AS dist
            FROM subs JOIN cent USING (j)),
        codes AS (
            SELECT vec_id, j, t FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                             ORDER BY dist, t) AS rn
                FROM a2) WHERE rn = 1),
        qsubs AS (SELECT vec_id AS query_id, j, sub AS qsub
                  FROM subs WHERE vec_id < 8),
        partials AS (
            SELECT qs.query_id, co.vec_id AS neighbor_id,
                   {_PQ_SQ.format(a='qsub', b='cv')} AS pd
            FROM codes co
            JOIN cent ce ON co.j = ce.j AND co.t = ce.t
            JOIN qsubs qs ON qs.j = co.j
            WHERE co.vec_id <> qs.query_id),
        adist AS (
            SELECT query_id, neighbor_id, CAST(SUM(pd) AS BIGINT) AS adist
            FROM partials GROUP BY query_id, neighbor_id)
        SELECT query_id, neighbor_id, adist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adist, neighbor_id) AS rank
            FROM adist)
        WHERE rank <= 3
    """,
    tags=("similarity", "extension"),
)
def ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011) — the
    memory-bounded member of the brute/LSH/IVF/PQ quartet: d=64 splits
    into m=8 subspaces of 8 dims; each subspace trains a 16-entry
    codebook (stratified seeds + ONE exact Lloyd refinement), every
    vector compresses to 8 one-byte codes (64x smaller than float32),
    and queries rank the whole corpus by asymmetric distance (query
    subvector vs the neighbor's reconstructed codeword) without ever
    touching the original vectors.

    Exactness contract: components quantize once to 1e-3-unit BIGINTs;
    every distance is an exact integer sum of squared integer
    differences; the Lloyd centroid update is FLOOR(double division of
    exact integer sum by exact count) — identical IEEE operands, so
    identical on both engines (DuckDB's BIGINT // truncates while
    Spark's DIV does too, but they diverge from floor on negatives —
    FLOOR over the exact double dodges the whole class); empty
    clusters deterministically fall back to their seed; all argmins
    tie-break on code id, the final top-3 on neighbor id.

    Scale: codebooks are O(m*k*d/m) = 1,024 values broadcast both
    directions; assignment is corpus x k per subspace reduced by a map-side
    min(struct(dist, code)) combine (no rank window, no sort); ADC scoring never joins
    corpus x corpus — it's corpus-codes x broadcast queries, partial-
    agged per (query, neighbor). This is exactly the layout a 100 TB
    vector store ships: codes live with the data, floats stay cold."""
    e = _embeddings(spark, sf_dir)
    base = e.select(
        "vec_id",
        F.transform("v", lambda x: F.round(x * 1000).cast("long")).alias("qv"),
    )
    subs = base.select(
        "vec_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), j -> "
                "struct(j AS j, slice(qv, j*8+1, 8) AS sub))"
            )
        ).alias("js"),
    ).select("vec_id", "js.j", "js.sub")
    seeds = subs.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("t"), "j", F.col("sub").alias("ssub")
    )
    a1 = subs.join(F.broadcast(seeds), "j").select(
        "vec_id", "j", "t", "sub", _sq_l2(F.col("sub"), F.col("ssub")).alias("dist")
    )
    # argmin as a partial-aggregated min(struct(dist, t, ...)): struct
    # ordering gives the (dist, t) tie-break for free and the map-side
    # combine reduces each partition to one row per (vec, subspace)
    # BEFORE the exchange — measurably cheaper than a rank window,
    # which must shuffle all k candidate rows and sort them.
    c1 = (
        a1.groupBy("vec_id", "j")
        .agg(F.min(F.struct("dist", "t", "sub")).alias("m"))
        .select("vec_id", "j", F.col("m.t").alias("t"), F.col("m.sub").alias("sub"))
    )
    upd = (
        c1.select("j", "t", F.posexplode("sub").alias("c", "x"))
        .groupBy("j", "t", "c")
        .agg(
            F.floor(F.sum("x").cast("double") / F.count("*"))
            .cast("long")
            .alias("cx")
        )
    )
    seed_comps = seeds.select("j", "t", F.posexplode("ssub").alias("c", "sx"))
    cent = (
        seed_comps.join(upd, ["j", "t", "c"], "left")
        .select("j", "t", "c", F.coalesce("cx", "sx").alias("cx"))
        .groupBy("j", "t")
        .agg(F.array_sort(F.collect_list(F.struct("c", "cx"))).alias("pc"))
        .select("j", "t", F.transform("pc", lambda s: s.cx).alias("cv"))
    )
    a2 = subs.join(F.broadcast(cent), "j").select(
        "vec_id", "j", "t", _sq_l2(F.col("sub"), F.col("cv")).alias("dist")
    )
    codes = (
        a2.groupBy("vec_id", "j")
        .agg(F.min(F.struct("dist", "t")).alias("m"))
        .select("vec_id", "j", F.col("m.t").alias("t"))
    )
    qsubs = subs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "j", F.col("sub").alias("qsub")
    )
    partials = (
        codes.join(F.broadcast(cent), ["j", "t"])
        .join(F.broadcast(qsubs), "j")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq_l2(F.col("qsub"), F.col("cv")).alias("pd"),
        )
    )
    adist = partials.groupBy("query_id", "neighbor_id").agg(
        F.sum("pd").cast("long").alias("adist")
    )
    w_rank = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        adist.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


@query(
    "feature_target_encode_loo",
    oracle=f"""
        WITH v AS (
            SELECT o_orderkey, o_orderpriority AS priority,
                   {snap_units_sql('o_totalprice', 100)} AS cents
            FROM orders),
        g AS (
            SELECT priority, CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM v GROUP BY priority)
        SELECT v.o_orderkey, v.priority,
               CASE WHEN g.n > 1
                    THEN (g.s - v.cents) / (100.0 * (g.n - 1)) END
                   AS target_enc
        FROM v JOIN g USING (priority)
    """,
    tags=("feature", "extension"),
)
def feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the standard high-cardinality
    categorical featurization for tabular ML: each row's category is
    replaced by the mean target over all OTHER rows of that category
    ((sum - own)/(n-1)), which avoids the self-leakage plain mean
    encoding suffers. Singleton categories yield NULL on both engines.

    Exactness: sums stay in BIGINT cents; each encoding is ONE double
    division of exact integers. Scale: one O(categories) partial-agged
    groupBy broadcast back against the fact scan — the LOO adjustment
    is row-local, so the encode costs the same as the plain group
    mean at any corpus size."""
    orders = load_table(spark, sf_dir, "orders")
    cents = snap_units("o_totalprice", 100)
    v = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        cents.alias("cents"),
    )
    g = v.groupBy("priority").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    return v.join(F.broadcast(g), "priority").select(
        "o_orderkey",
        "priority",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("cents")) / (100.0 * (F.col("n") - 1)),
        ).alias("target_enc"),
    )


@query(
    "quality_label_balance",
    oracle="""
        WITH c AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
            FROM embeddings GROUP BY label),
        t AS (
            SELECT CAST(SUM(n_label) AS BIGINT) AS n,
                   CAST(SUM(n_label * n_label) AS BIGINT) AS sq
            FROM c)
        SELECT c.label, c.n_label,
               CAST(ROUND(1000000.0 * c.n_label / t.n) AS BIGINT)
                   AS share_e6,
               CAST(ROUND(1000000.0 * (t.n * t.n - t.sq)
                          / (t.n * t.n)) AS BIGINT) AS gini_e6
        FROM c CROSS JOIN t
    """,
    tags=("agg", "statistical", "quality", "extension"),
)
def quality_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset label-balance audit — the class-imbalance report run
    before any supervised fine-tune: per-label counts and shares plus
    the corpus Gini impurity 1 - sum(share_i^2), reported in exact
    1e-6 units. Gini rather than entropy deliberately: it is a RATIONAL
    function of the counts ((n^2 - sum n_i^2) / n^2 — one double
    division of exact BIGINTs), whereas entropy would route every
    share through ln(), whose last-ulp behavior differs between
    engines (the text_bigram_lm_score lesson).

    Scale: one O(labels) partial-agged groupBy; the summary is a 1-row
    broadcast joined back — no window, no second pass."""
    e = load_table(spark, sf_dir, "embeddings")
    c = e.groupBy("label").agg(F.count("*").alias("n_label"))
    t = c.agg(
        F.sum("n_label").alias("n"),
        F.sum(F.col("n_label") * F.col("n_label")).alias("sq"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n_label",
        F.round(1000000.0 * F.col("n_label") / F.col("n"))
        .cast("long")
        .alias("share_e6"),
        F.round(
            1000000.0
            * (F.col("n") * F.col("n") - F.col("sq"))
            / (F.col("n") * F.col("n"))
        )
        .cast("long")
        .alias("gini_e6"),
    )


@query(
    "embedding_centroid_drift",
    oracle=f"""
        WITH q AS (
            SELECT label,
                   list_transform(v, x -> CAST(round(x * 1000) AS BIGINT))
                       AS qv
            FROM ({EMB_CTE})),
        comp AS (
            SELECT label, p.p AS pos, qv[p.p + 1] AS x
            FROM q, range(0, 64) p(p)),
        lsum AS (
            SELECT label, pos, CAST(SUM(x) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM comp GROUP BY label, pos),
        lcent AS (
            SELECT label, pos,
                   CAST(FLOOR(s::DOUBLE / n) AS BIGINT) AS c, n
            FROM lsum),
        gcent AS (
            SELECT pos,
                   CAST(FLOOR(SUM(s)::DOUBLE / SUM(n)) AS BIGINT) AS g
            FROM lsum GROUP BY pos)
        SELECT l.label, MAX(l.n) AS n_vectors,
               CAST(SUM((l.c - g.g) * (l.c - g.g)) AS BIGINT) AS drift_sq
        FROM lcent l JOIN gcent g USING (pos)
        GROUP BY l.label
    """,
    tags=("ann", "embedding", "quality", "extension"),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid drift — the embedding-space diagnostic run
    after ingesting a new data slice: each label's centroid against the
    global centroid, as an exact squared L2 over 1e-3-unit quantized
    components (the ann_cosine_pq FLOOR-of-exact-double mean
    convention, so both engines agree on negative sums). Labels whose
    drift collapses toward zero are indistinguishable from the corpus
    mean — the signal that a class boundary eroded.

    Scale: one partial-agged (label, pos) sum — O(labels x d) rows —
    from which BOTH centroid levels derive (the global centroid is the
    re-aggregated label sums, no second corpus pass); the drift join
    is model-sized."""
    e = _embeddings(spark, sf_dir)
    qv = F.transform(F.col("v"), lambda x: F.round(x * 1000).cast("long"))
    comp = e.select("label", F.posexplode(qv).alias("pos", "x"))
    lsum = comp.groupBy("label", "pos").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    lcent = lsum.select(
        "label",
        "pos",
        F.floor(F.col("s").cast("double") / F.col("n")).cast("long").alias("c"),
        "n",
    )
    gcent = lsum.groupBy("pos").agg(
        F.floor(F.sum("s").cast("double") / F.sum("n"))
        .cast("long")
        .alias("g")
    )
    return (
        lcent.join(F.broadcast(gcent), "pos")
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.sum((F.col("c") - F.col("g")) * (F.col("c") - F.col("g")))
            .cast("long")
            .alias("drift_sq"),
        )
    )


# --------------------------------------------------------------------------
# MMR diversity re-ranking (Carbonell & Goldstein 1998)
# --------------------------------------------------------------------------

_MMR_POOL = 20  # relevance-pruned candidate pool size
_MMR_K = 5      # results to select
_MMR_QUERY = 0  # query vector id


def _mmr_oracle_sql() -> str:
    """Unrolled greedy MMR as plain chained CTEs (no recursion — the
    recursive-term restrictions around aggregating the working table
    differ per engine; K is a fixed constant, so unrolling is exact).
    Step i picks argmax over unpicked candidates of
    rel - max(sim to picked)/2, ties to the smallest vec_id."""
    from mapreduceframework_spark.operators.vectors import cosine_sql
    from mapreduceframework_spark.plans.corpus import EMB_CTE

    steps = []
    for i in range(1, _MMR_K + 1):
        if i == 1:
            steps.append(
                "s1 AS (SELECT vec_id, rel, rel AS mmr FROM cand "
                "ORDER BY rel DESC, vec_id LIMIT 1)"
            )
            continue
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, i)
        )
        steps.append(
            f"s{i} AS (SELECT c.vec_id, c.rel, "
            f"c.rel - (SELECT MAX(s.sim) FROM sims s "
            f"WHERE s.ia = c.vec_id AND s.ib IN ({prev})) "
            f"/ CAST(2 AS DOUBLE) AS mmr "
            f"FROM cand c WHERE c.vec_id NOT IN ({prev}) "
            f"ORDER BY mmr DESC, c.vec_id LIMIT 1)"
        )
    union = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, vec_id, rel, mmr FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
        WITH e AS ({EMB_CTE}),
        q AS (SELECT v AS qv FROM e WHERE vec_id = {_MMR_QUERY}),
        scored AS (SELECT e.vec_id, {cosine_sql("q.qv", "e.v")} AS rel
                   FROM e, q WHERE e.vec_id <> {_MMR_QUERY}),
        cand AS (SELECT vec_id, rel FROM scored
                 ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}),
        sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                        {cosine_sql("ea.v", "eb.v")} AS sim
                 FROM cand a JOIN e ea ON ea.vec_id = a.vec_id
                 JOIN cand b ON b.vec_id <> a.vec_id
                 JOIN e eb ON eb.vec_id = b.vec_id),
        {", ".join(steps)}
        SELECT step, vec_id, ROUND(rel, 6) AS rel,
               ROUND(mmr, 6) AS mmr FROM ({union})
    """


@query(
    "ann_mmr_rerank",
    oracle=_mmr_oracle_sql(),
    tags=("similarity", "extension", "training-data"),
)
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): select K=5 results that balance relevance to the query
    against redundancy with what's already selected — the diversity
    -aware top-k a retrieval/eval-set-construction pipeline runs AFTER
    candidate generation (near-identical neighbors add no information).
    score(c) = rel(c) - max_{s in selected} sim(c, s) / 2 (lambda =
    1/2), greedy, ties to the smallest vec_id.

    Scale shape: the corpus-sized work is exactly the brute-force
    relevance scan (broadcast query, no corpus shuffle) pruned to a
    CONSTANT pool of 20 candidates via the top-k window; pairwise
    similarities among the pool are 20x19 rows. The greedy selection
    then runs driver-side over that model-sized state (the k-means
    -centroid pattern: a bounded collect, never corpus rows) — at
    100 TB the pool is still 20 rows. Both engines feed the SAME
    IEEE cosine doubles into the same one-subtraction-one-halving
    score, so the greedy picks are engine-identical; the oracle
    unrolls the K steps as chained CTEs."""
    e = _embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") == _MMR_QUERY).select(
        F.col("v").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") != _MMR_QUERY)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", V.cosine(F.col("qv"), F.col("v")).alias("rel"))
    )
    # Global top-k lowers to TakeOrderedAndProject (per-partition heaps
    # + driver merge, the topk_orders pattern) — never a global window.
    cand = scored.orderBy(F.col("rel").desc(), "vec_id").limit(_MMR_POOL)
    a = cand.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"),
        F.col("rel").alias("rel_a"),
    )
    b = cand.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb")
    )
    sims = (
        a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select("ia", "ib", V.cosine(F.col("va"), F.col("vb")).alias("sim"))
    )
    # Model-sized driver reads (pool rows + pool^2 sims), then the
    # greedy loop in exact IEEE double arithmetic.
    cand_rows = cand.select("vec_id", "rel").collect()
    sim_rows = sims.collect()
    rel = {r["vec_id"]: r["rel"] for r in cand_rows}
    sim = {(r["ia"], r["ib"]): r["sim"] for r in sim_rows}
    selected: list[tuple[int, int, float, float]] = []
    picked: list[int] = []
    for step in range(1, _MMR_K + 1):
        best = None
        for vid in sorted(rel):
            if vid in picked:
                continue
            if picked:
                score = rel[vid] - max(sim[(vid, s)] for s in picked) / 2
            else:
                score = rel[vid]
            # argmax with ties to the smallest vec_id: strictly-greater
            # wins; equal keeps the earlier (smaller, since sorted) id.
            if best is None or score > best[1]:
                best = (vid, score)
        if best is None:  # pool exhausted (corpus smaller than K)
            break
        picked.append(best[0])
        selected.append((step, best[0], rel[best[0]], best[1]))
    out = inline_rows_df(
        spark, selected, "step long, vec_id long, rel double, mmr double"
    )
    return out.select(
        "step", "vec_id",
        F.round("rel", 6).alias("rel"),
        F.round("mmr", 6).alias("mmr"),
    )


# --------------------------------------------------------------------------
# Filtered ANN (metadata predicate + IVF probe in one plan)
# --------------------------------------------------------------------------


@query(
    "ann_filtered_ivf",
    oracle=f"""
        WITH e AS ({EMB_CTE}),
        allowed AS (SELECT doc_id AS vec_id FROM documents
                    WHERE lang = 'en'),
        corpus AS (SELECT e.* FROM e JOIN allowed USING (vec_id)),
        cent AS ({CENTROIDS_CTE}),
        probes AS (
            SELECT query_id, qv, label FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, cent.label,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {V.cosine_sql("q.v", "cent.c")} DESC,
                                    cent.label) AS r
                FROM e q, cent WHERE q.vec_id < 10)
            WHERE r <= 3),
        scored AS (
            SELECT query_id, corpus.vec_id AS neighbor_id,
                   {V.cosine_sql("probes.qv", "corpus.v")} AS cos
            FROM probes JOIN corpus USING (label)
            WHERE corpus.vec_id <> query_id)
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 5
    """,
    tags=("similarity", "extension", "retrieval"),
)
def ann_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — the "retrieve within a tenant" shape every RAG
    deployment needs: top-5 cosine neighbors restricted to vectors
    whose document metadata passes a predicate (lang = 'en' — the
    scale-stable 5-value domain; `source` grows with SF so a literal
    source filter would be scale-brittle), through the IVF probe path.

    Two design decisions that are the whole point of the row:

    - PRE-filtering, not post-filtering: the metadata predicate
      restricts the CANDIDATE lists before scoring, so every query
      still receives a full k results (post-filtering a top-k under-
      fills k whenever the filter removes winners — the classic
      filtered-ANN correctness trap). The trade is scoring against a
      sparser list; with ~43% selectivity and 3 probed lists there are
      still dozens of candidates per query here.
    - The IVF index (centroids) is built ONCE over the FULL corpus and
      shared by every filter: probes rank unfiltered centroids (same
      CENTROIDS_CTE as ann_cosine_ivf), only the inverted-list scan is
      filtered. Rebuilding centroids per predicate would make the
      index useless operationally and would change recall behavior
      per-filter.

    Scale shape: the predicate pushes to the documents parquet scan
    (PushedFilters, asserted in tests/test_plans.py) and prunes to a
    2-column read; the allowed-id semi-join keys on vec_id — at 100 TB
    metadata and vectors co-partition/bucket on id so this join is
    co-located, and the filtered lists stream through the same
    broadcast-probe join as ann_cosine_ivf: no shuffle of the vector
    side, no corpus x corpus pair. Queries themselves are NOT filtered
    (a caller's query vector is independent of the tenant it searches).
    """
    e = _embeddings(spark, sf_dir)
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    corpus = e.join(allowed, "vec_id", "left_semi")
    cent = _label_centroids(e)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("centroid_sim"), F.asc("label")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("centroid_sim", V.cosine(F.col("qv"), F.col("c")))
        .withColumn("r", F.row_number().over(w_probe))
        .filter(F.col("r") <= 3)
        .select("query_id", "qv", "label")
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos", "rank")
    )
