"""Deduplication queries (SURVEY.md section 2.2 ⊕ dedup rows): exact,
n-gram Jaccard, MinHash-LSH, SimHash, embedding-cosine, edit-distance
verify, substring-chunk (Lee et al. \'22 shape), decontamination, and
the pair-mining capstone.

Scale invariant (100 TB): no all-pairs joins anywhere — candidates
always come from an equality shuffle (shared shingle, LSH band key,
SimHash nibble band, SRP bucket), O(sum of bucket^2); the MinHash path
(fixed 4 bands/doc) is the skew-proof variant for corpus scale.

Split out of extension_queries.py in round 7 (pure move, zero renames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduceframework_spark.operators import dedup as D
from mapreduceframework_spark.operators import vectors as V
from mapreduceframework_spark.plans.registry import (
    NO_INFER_FROM_GENERATE,
    NO_INFER_FROM_GENERATE_OR_CONSTRAINTS,
    query,
)
from mapreduceframework_spark.sources import load_table
from mapreduceframework_spark.plans.ann_queries import (
    EMB_BANDS_CTE,
    KMEANS8_ASSIGN_CTES,
    _emb_bands,
    _embeddings_q8,
)
from mapreduceframework_spark.plans.corpus import (
    DOCS_CTE,
    EMB_CTE,
    _docs,
    _docs_wide,
    _embeddings,
)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS digest,
               MIN(doc_id) AS keeper,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    tags=("dedup", "extension"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest — the reference's unique-key set
    (reference JobContext.cpp:347-353) as a hash shuffle on md5(text).
    Digest-first matters at scale: the shuffle key is 32 bytes, not the
    document body, so shuffle volume is O(rows), not O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(
        docs.withColumn("digest", F.md5("text")), ["digest"], "doc_id"
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH d AS ({DOCS_CTE}),
        sh AS (SELECT doc_id,
                      {D.string_shingles_sql("words")} AS shingles
               FROM d),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         CAST(COUNT(*) AS BIGINT) AS n_shared
                  FROM ex a JOIN ex b
                  ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh)
        SELECT doc_a, doc_b,
               n_shared / (x.nsh + y.nsh - n_shared) AS jac
        FROM inter
        JOIN sizes x ON x.doc_id = doc_a
        JOIN sizes y ON y.doc_id = doc_b
        WHERE n_shared / (x.nsh + y.nsh - n_shared) >= 0.5
    """,
    tags=("dedup", "extension"),
    bench=True,
    # The shared-shingle self-join's pair stage is CPU-dense over a
    # small shuffle; AQE's 1m floor narrows it to ~3 tasks at toy SF.
    # r17 interleaved A/B: 2.76 s (64k) vs 3.07 s (1m); r16 measured
    # 3.89 -> 3.16. No-op at cluster scale. Plus BOTH infer-filter
    # exclusions (registry rationale; generate A/B 2.77 -> 2.51 s,
    # +constraints 1.76 -> 1.26 s — the jac filter's inferred
    # isnotnull(nsh) was a third scan-side shingle evaluation).
    sql_conf={
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        **NO_INFER_FROM_GENERATE_OR_CONSTRAINTS,
    },
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard >= 0.5, computed
    entirely from the inverted index: per-doc shingle sets are distinct,
    so COUNT over the shared-shingle equi-join IS the intersection size,
    and Jaccard needs only the two set sizes on top — no per-pair array
    shipping or array_intersect. One explode, one aggregated self-join,
    two slim size joins; the aggregation is partial map-side. At corpus
    scale, stop-shingles skew the index join — the MinHash query below
    is the constant-fanout variant; AQE skew handling covers the middle
    ground."""
    # Set size rides along with each exploded row, so no separate size
    # join — and the merge hint makes BOTH self-join sides identical
    # hash-partition exchanges, which Spark's ReuseExchange collapses
    # into ONE shingle computation + shuffle (a broadcast side would
    # break the symmetry and recompute the whole shingle pipeline).
    sh = _docs_wide(spark, sf_dir).select(
        "doc_id", D.string_shingles(F.col("words")).alias("shingles")
    )
    ex = sh.select(
        "doc_id",
        F.size("shingles").alias("nsh"),
        F.explode("shingles").alias("s"),
    )
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b").hint("shuffle_merge"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.nsh").alias("nsh_a"),
            F.col("b.nsh").alias("nsh_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared") / (
        F.col("nsh_a") + F.col("nsh_b") - F.col("n_shared")
    )
    return inter.select("doc_a", "doc_b", jac.alias("jac")).filter(
        F.col("jac") >= 0.5
    )


# CTE chain ending in `mh_pairs` (doc_a, doc_b, jac >= 0.5) — shared by
# the pair query and the connected-components cluster query so the edge
# definition cannot drift between them.
MINHASH_PAIRS_CTES = f"""
        d AS ({DOCS_CTE}),
        whc AS (SELECT doc_id,
                       list_transform(words, w -> {D.word_hash_sql("w")})
                           AS wh
                FROM d),
        shc AS (SELECT doc_id, {D.hashed_shingles_sql("wh")} AS hs FROM whc),
        shf AS (SELECT doc_id, hs FROM shc WHERE len(hs) > 0),
        sigc AS (SELECT doc_id,
                        {D.minhash_signature_sql("hs")} AS sig
                 FROM shf),
        bands AS (SELECT doc_id, t.bk.band AS band, t.bk.key AS key
                  FROM (SELECT doc_id,
                               unnest({D.lsh_band_keys_sql("sig")}) AS bk
                        FROM sigc) t),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                 ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id),
        mh_pairs AS (
            SELECT doc_a, doc_b, {D.jaccard_sql("x.hs", "y.hs")} AS jac
            FROM cand
            JOIN shf x ON x.doc_id = doc_a
            JOIN shf y ON y.doc_id = doc_b
            WHERE {D.jaccard_sql("x.hs", "y.hs")} >= 0.5)
"""


def _minhash_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """LSH band-bucket candidate pairs plus the per-doc shingle sets:
    returns (cand[doc_a, doc_b], shf[doc_id, hs]) — the shared front
    half of every MinHash-family query (Jaccard pairs, containment,
    clusters) so the candidate definition cannot drift between them."""
    # The non-empty filter runs on WORDS, not hs: size(hs) > 0 <=>
    # size(words) >= 3 (a 3-gram exists iff there are >= 3 words;
    # split yields no null elements, word_hash/mod never null, and
    # array_distinct of a non-empty array is non-empty) — and an
    # explicit size(hs) filter gets PUSHED below the round-robin
    # exchange by substitution, evaluating the whole interpreted
    # shingle-hash pipeline on the single-task scan (r17; the
    # string-shingle rows hit the same trap via inferred filters).
    # The words form pushes only size(split(trim(text))) — cheap.
    sh = (
        _docs_wide(spark, sf_dir)
        .filter(F.size("words") >= 3)
        .select("doc_id", D.hashed_shingles(F.col("words")).alias("hs"))
    )
    # Lazy localCheckpoint (r16 optimization, guide-style lineage
    # truncation): every consumer joins shf TWICE (x/y verify sides
    # keyed on different columns, so ReuseExchange can NOT collapse
    # them — the whole shingle pipeline executed twice), and the
    # band/candidate subtree above it is statically re-expanded up to
    # 8x under dedup_clusters' CC edge union, which made Catalyst
    # planning itself the dominant driver cost (~2.3 s warm at sf0.1).
    # Checkpointing the fingerprint table computes shingles ONCE and
    # collapses every re-expansion to a LogicalRDD scan. This is the
    # guide's "fingerprints only" decision-pass shape: shf is
    # O(doc_id + hashed-shingle set) — the lightweight proxy, never
    # the text — and the checkpoint is lazy so the first real action
    # materializes it without an extra job barrier.
    shf = sh.localCheckpoint(eager=False)
    sig = shf.select("doc_id", D.minhash_signature(F.col("hs")).alias("sig"))
    bands = sig.select(
        "doc_id", F.explode(D.lsh_band_keys(F.col("sig"))).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return cand, shf


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, jac >= 0.5) via MinHash+LSH."""
    cand, shf = _minhash_candidates(spark, sf_dir)
    x, y = shf.alias("x"), shf.alias("y")
    jac = D.jaccard(F.col("x.hs"), F.col("y.hs"))
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jac"))
        .filter(F.col("jac") >= 0.5)
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES}
        SELECT doc_a, doc_b, jac FROM mh_pairs
    """,
    tags=("dedup", "extension"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup: 8-perm signature over hashed 3-gram
    shingles, 4 bands x 2 rows, band-bucket equi-join for candidates,
    exact Jaccard (on the hashed shingle sets) as verification. Fixed 4
    band rows per doc -> shuffle volume is O(4n) regardless of document
    length; the S-curve at >=0.5 with b=4,r=2 catches the planted
    near-dups while pruning ~everything else."""
    return _minhash_pairs(spark, sf_dir)


@query(
    "dedup_clusters",
    bench=True,
    oracle=f"""
        WITH RECURSIVE {MINHASH_PAIRS_CTES},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
                  UNION
                  SELECT doc_b AS src, doc_a AS dst FROM mh_pairs),
        nodes AS (SELECT DISTINCT src AS doc FROM edges),
        reach(doc, lab) AS (
            SELECT doc, doc FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc),
        comp AS (SELECT doc AS doc_id, MIN(lab) AS cluster_id
                 FROM reach GROUP BY doc),
        sized AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
                  FROM comp GROUP BY cluster_id)
        SELECT c.doc_id, c.cluster_id, s.cluster_size,
               c.doc_id = c.cluster_id AS is_canonical
        FROM comp c JOIN sized s USING (cluster_id)
    """,
    tags=("dedup", "graph", "extension"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: connected components over the
    MinHash near-dup graph (min-label propagation,
    operators/graph.py), then per-cluster size and a canonical-doc
    flag (lowest doc_id). ``is_canonical`` is the keep-list a corpus
    dedup pass applies; the oracle recomputes components via a
    recursive CTE, so the distributed fixpoint is checked against an
    independent transitive closure."""
    from mapreduceframework_spark.operators.graph import connected_components

    pairs = _minhash_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    sized = comp.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return comp.join(sized, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@query(
    "dedup_simhash",
    bench=True,
    oracle=f"""
        WITH d AS ({DOCS_CTE}),
        whc AS (SELECT doc_id,
                       list_transform(words, w -> {D.word_hash_sql("w")})
                           AS wh
                FROM d),
        wh32c AS (SELECT doc_id, {D.word_hash32_sql("wh")} AS wh32 FROM whc),
        sims AS (SELECT doc_id, {D.simhash_sql("wh32")} AS sim FROM wh32c),
        bands AS (SELECT doc_id, sim, t.bk.band AS band, t.bk.key AS key
                  FROM (SELECT doc_id, sim,
                               unnest({D.simhash_nibble_bands_sql("sim")})
                                   AS bk
                        FROM sims) t),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sim AS sim_a,
                                 b.doc_id AS doc_b, b.sim AS sim_b
                 FROM bands a JOIN bands b
                 ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               bit_count(xor(sim_a, sim_b))::INT AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """,
    tags=("dedup", "extension"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit token-multiplicity SimHash, pairs
    within Hamming distance 3. Candidates via 8-bit bands —
    pigeonhole guarantees any pair at distance <=3 agrees on >=1 of the
    4 bands, so the band equi-join finds all of them without O(n^2)."""
    # The hash itself is fully relational (operators/dedup.py::
    # simhash_by_doc): explode tokens -> 32 conditional SUMs under
    # groupBy(doc_id), all whole-stage codegen — 9x faster than the
    # interpreted scalar-HOF form it replaced (BENCH_r03 9.5s -> ~2s).
    # The round-robin repartition spreads the single-file scan across
    # cores BEFORE the explode, so the heavy partial-agg stage runs on
    # all of them; the groupBy's own exchange then hash-partitions sims
    # by doc_id, and the two band self-join branches share it as one
    # ReusedExchange. Shuffle payloads: 33 longs/doc, then 16B/doc.
    from mapreduceframework_spark.sources.registry import (
        ensure_min_partitions,
    )

    # Gated (r17): the unconditional repartition would round-robin the
    # whole corpus at cluster scale where the scan is already wide; the
    # gate keeps the local single-split spread and is a no-op there.
    wh = ensure_min_partitions(
        _docs(spark, sf_dir).select(
            "doc_id",
            F.transform(F.col("words"), D.word_hash32).alias("wh32"),
        ),
        spark,
    )
    sims = D.simhash_by_doc(wh)
    bands = sims.select(
        "doc_id", "sim", F.explode(D.simhash_nibble_bands(F.col("sim"))).alias("bk")
    ).select("doc_id", "sim", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= 3)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH e AS ({EMB_CTE}),
        b AS ({EMB_BANDS_CTE}),
        cand AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
                 FROM b a JOIN b c
                 ON a.tbl = c.tbl AND a.bucket = c.bucket
                    AND a.vec_id < c.vec_id)
        SELECT vec_a, vec_b, {V.cosine_sql("x.v", "y.v")} AS cos
        FROM cand
        JOIN e x ON x.vec_id = vec_a
        JOIN e y ON y.vec_id = vec_b
        WHERE {V.cosine_sql("x.v", "y.v")} >= 0.4
    """,
    tags=("dedup", "similarity", "extension"),
    # The LSH-candidate cosine verify runs ~11 s of per-pair HOF
    # arithmetic on THREE tasks under AQE's default 1m floor (3.4 MB
    # post-shuffle / 1m — r16 profile). Scoped floor keeps it 32-wide:
    # r17 interleaved A/B 3.69 s (64k) vs 8.47 s (1m). No-op at
    # cluster scale.
    sql_conf={
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"
    },
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: multi-table sign-LSH (4 tables x 4
    hyperplanes, OR-construction) generates candidates, cosine >= 0.4
    verified exactly — the shuffle-bounded variant of all-pairs
    similarity. A single 8-plane table measured ~zero recall on this
    corpus (cos~0.5 pairs collide with p~0.04); the OR over 4 coarser
    tables trades a 4x candidate fan-out for usable recall — L and K
    are THE tuning dials of SRP-LSH."""
    e = _embeddings(spark, sf_dir)
    b = _emb_bands(spark, sf_dir)
    cand = (
        b.alias("a")
        .join(
            b.alias("c"),
            (F.col("a.tbl") == F.col("c.tbl"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b")
        )
        .distinct()
    )
    x, y = e.alias("x"), e.alias("y")
    cos = V.cosine(F.col("x.v"), F.col("y.v"))
    return (
        cand.join(x, F.col("vec_a") == F.col("x.vec_id"))
        .join(y, F.col("vec_b") == F.col("y.vec_id"))
        .select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.4)
    )


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
        WITH d AS ({DOCS_CTE}),
        sh AS (SELECT doc_id,
                      {D.string_shingles_sql("words", 5)} AS sh
               FROM d),
        ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh
               WHERE doc_id % 10 = 0),
        tx AS (SELECT doc_id, unnest(sh) AS s FROM sh
               WHERE doc_id % 10 <> 0)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM tx JOIN ev USING (s)
        GROUP BY doc_id
    """,
    tags=("text", "dedup", "decontamination", "extension"),
    # Shingle-explode infer-filter exclusion (A/B 2.73 -> 1.08 s; see
    # registry._SCOPED_CONF_DEFAULTS rationale).
    sql_conf=NO_INFER_FROM_GENERATE,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    exact word 5-gram with the held-out set (docs with doc_id % 10 = 0
    stand in for the benchmark), reporting how many distinct 5-grams
    each contaminated document shares — the standard n-gram-overlap
    decontamination pass run before pretraining.

    Scale shape: an inverted-index EQUI join on the shingle string —
    never a doc x doc comparison. The eval side is deduplicated to
    distinct shingles and broadcast (real benchmark suites are MBs
    against a 100 TB corpus); the train side explodes to (doc, shingle)
    rows with map-side partial aggregation after the join, so shuffle
    volume is O(contaminated matches), not O(corpus)."""
    # _docs_wide (r16): the 5-gram shingle expression feeds both the
    # eval and train branches from a single-split local scan; the
    # gated round-robin spreads it (A/B warm medians 2.07 ungated vs
    # 1.79 s gated; no-op at cluster scale).
    docs = _docs_wide(spark, sf_dir)
    sh = docs.select(
        "doc_id", D.string_shingles(F.col("words"), 5).alias("sh")
    )
    ev = (
        sh.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    tx = sh.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.explode("sh").alias("s")
    )
    return (
        tx.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


@query(
    "dedup_edit_distance_verify",
    oracle=f"""
        WITH d AS ({DOCS_CTE}),
        sh AS (SELECT doc_id,
                      {D.string_shingles_sql("words")} AS shingles
               FROM d),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         CAST(COUNT(*) AS BIGINT) AS n_shared
                  FROM ex a JOIN ex b
                  ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        cand AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes x ON x.doc_id = doc_a
            JOIN sizes y ON y.doc_id = doc_b
            WHERE n_shared / (x.nsh + y.nsh - n_shared) >= 0.5)
        SELECT doc_a, doc_b,
               CAST(levenshtein(substr(ta.text, 1, 80),
                                substr(tb.text, 1, 80)) AS BIGINT)
                   AS prefix_edit_dist
        FROM cand
        JOIN documents ta ON ta.doc_id = doc_a
        JOIN documents tb ON tb.doc_id = doc_b
    """,
    tags=("dedup", "extension"),
    # CPU-dense pair-DP stages over 10-16 coalesced tasks: the scoped
    # floor keeps them wide (r17 raw-fn A/B n=5: 2.04 vs 2.27 s).
    sql_conf={
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"
    },
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of near-dup candidates: for each
    Jaccard>=0.5 candidate pair, the Levenshtein distance of the two
    80-char prefixes — the character-level second opinion a curation
    pipeline runs before destructive dedup (token-set measures are
    blind to within-token edits). Levenshtein is O(len^2) per pair, so
    it NEVER runs all-pairs: only over the LSH/inverted-index candidate
    set, and only over bounded prefixes — both bounds are what keep
    this viable at 100 TB. Unit-cost edit distance is an exact integer
    with one standard definition, so both engines agree bitwise."""
    cand = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    ta = docs.select(
        F.col("doc_id").alias("ida"),
        F.substring("text", 1, 80).alias("pa"),
    )
    tb = docs.select(
        F.col("doc_id").alias("idb"),
        F.substring("text", 1, 80).alias("pb"),
    )
    return (
        cand.join(F.broadcast(ta), F.col("doc_a") == F.col("ida"))
        .join(F.broadcast(tb), F.col("doc_b") == F.col("idb"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb")
            .cast("long")
            .alias("prefix_edit_dist"),
        )
    )


@query(
    "mining_pair_cooccurrence",
    oracle="""
        WITH pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY n_orders DESC, part_a, part_b) AS rn
            FROM pairs
        )
        SELECT part_a, part_b, n_orders FROM ranked WHERE rn <= 20
    """,
    tags=("extension", "mining", "cooccurrence"),
)
def mining_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 part pairs appearing in
    the same order — the counting core of association mining (the
    support computation of FP-growth/Apriori's first two levels).

    Scale shape: a SELF-EQUI-JOIN on the basket key, so pair blowup is
    bounded by basket size squared (TPC-H orders have <= 7 lines -> at
    most 21 pairs per order), never cross-basket; the pair aggregation
    is partial-combined map-side and top-20 is orderBy+limit — a
    parallel TakeOrderedAndProject (per-partition top-20 heaps, merged
    on the driver), NOT an unpartitioned rank window, which would
    funnel the entire aggregated pair set through one task. The
    (n_orders DESC, part_a, part_b) sort key makes the cut
    deterministic. At 100 TB the join co-locates by bucketing
    lineitem on l_orderkey — zero shuffle for the pair generation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        pairs.orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
        .select("part_a", "part_b", "n_orders")
    )


# --------------------------------------------------------------------------
# Round-6 additions: substring-level dedup, learned quality scoring,
# frequency-balanced sampling
# --------------------------------------------------------------------------

# Non-overlapping chunk width (in tokens) for substring-level dedup.
SUBSTRING_CHUNK = 8


def substring_chunk_dedup(docs: DataFrame) -> DataFrame:
    """The chunked substring-dedup pipeline over ``docs(doc_id, words)``
    — split into non-overlapping SUBSTRING_CHUNK-token chunks,
    corpus-wide first occurrence (doc_id, pos) wins, rebuild — factored
    out of dedup_substring_chunks so tests can drive it with PLANTED
    duplicate spans and measure the chunk-granularity recall gap vs
    exact suffix matching (tests/test_substring_fidelity.py pins both
    the aligned-case exactness and the phase-misalignment miss)."""
    n_chunks = F.ceil(F.size("words") / F.lit(float(SUBSTRING_CHUNK)))
    # Lambda reads the stored `words` array, so each slice is O(chunk)
    # on a decoded array, not a re-tokenization (see
    # string_shingles_all's shape rationale).
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks.cast("int")),
        lambda i: F.array_join(
            F.slice(
                F.col("words"),
                (i - F.lit(1)) * SUBSTRING_CHUNK + 1,
                SUBSTRING_CHUNK,
            ),
            " ",
        ),
    )
    c = docs.select("doc_id", chunks.alias("chunks"))
    e = c.select("doc_id", F.posexplode("chunks").alias("pos", "chunk"))
    first_wins = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    kept = (
        e.withColumn("rn", F.row_number().over(first_wins))
        .filter(F.col("rn") == 1)
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("kept_digest"),
    )
    base = c.select("doc_id", F.size("chunks").cast("long").alias("n_chunks"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("kept_digest", F.md5(F.lit(""))).alias("kept_digest"),
    )


@query(
    "dedup_substring_chunks",
    oracle=f"""
        WITH d AS ({DOCS_CTE}),
        c0 AS (SELECT doc_id,
                      [array_to_string(
                           words[(i-1)*{SUBSTRING_CHUNK}+1:i*{SUBSTRING_CHUNK}],
                           ' ')
                       for i in range(
                           1,
                           CAST(ceil(len(words)/{SUBSTRING_CHUNK}.0) AS BIGINT)
                               + 1)]
                      AS chunks
               FROM d),
        e AS (SELECT doc_id,
                     unnest(range(1, len(chunks)+1)) AS pos,
                     unnest(chunks) AS chunk
              FROM c0),
        r AS (SELECT doc_id, pos, chunk,
                     ROW_NUMBER() OVER (
                         PARTITION BY chunk ORDER BY doc_id, pos) AS rn
              FROM e),
        k AS (SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_kept,
                     md5(string_agg(chunk, ' ' ORDER BY pos)) AS kept_digest
              FROM r WHERE rn = 1 GROUP BY doc_id)
        SELECT c0.doc_id,
               CAST(len(chunks) AS BIGINT) AS n_chunks,
               COALESCE(n_kept, 0) AS n_kept,
               COALESCE(kept_digest, md5('')) AS kept_digest
        FROM c0 LEFT JOIN k USING (doc_id)
    """,
    tags=("dedup", "extension", "training-data"),
    bench=True,
)
def dedup_substring_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the chunked approximation of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): split every document into non-overlapping 8-token chunks,
    keep only the corpus-wide FIRST occurrence of each chunk (ordered
    by doc_id then position), and rebuild each document from its
    surviving chunks. Doc-level dedup (dedup_exact) can't catch the
    boilerplate paragraph repeated inside otherwise-distinct documents;
    this operator removes it at the substring granularity. Emits per
    doc: chunk count, surviving-chunk count, and an md5 digest of the
    rebuilt text (value-checks the reconstruction without shipping it).

    Scale shape: one explode (fan-out len/8, bounded), one hash shuffle
    on the chunk string for the partitioned first-occurrence window,
    one shuffle back on doc_id for reassembly, and a co-keyed doc_id
    join — no all-pairs anywhere, identical at 100 TB. A true
    suffix-array dedup (arbitrary-boundary substrings) trades this
    plan's 2 shuffles for a global sort; the chunk approximation is
    the standard distributed compromise.

    Fidelity bound (measured, tests/test_substring_fidelity.py): a
    span duplicated at offsets CONGRUENT mod C (= 8) is caught exactly
    (every fully-contained aligned chunk removed — >= floor(L/C) - 1
    chunks of an L-token span); duplicated at a phase-SHIFTED offset
    it is missed entirely (no chunk string repeats), so recall on
    uniformly-offset planted duplicates is ~1/C of pairs — the price
    of avoiding the suffix-array global sort, quantified rather than
    hoped about. dedup_substring_phase_pairs below closes that phase
    hole for DETECTION: alignment-free recall 1.0 for spans >= 2C-1."""
    return substring_chunk_dedup(_docs_wide(spark, sf_dir))


def substring_phase_pairs(docs: DataFrame) -> DataFrame:
    """Alignment-free substring-duplicate DETECTION over
    ``docs(doc_id, words)`` — the recall fix for the phase hole
    tests/test_substring_fidelity.py measures in the chunked dedup.

    Asymmetric index/probe: each doc indexes its FULL phase-0 chunks
    (stride C — O(len/C) index rows) and probes with EVERY C-token
    window (stride 1 — O(len) probe rows); a probe window of a later
    doc matching an earlier doc's chunk is an equi-join hit. Exactness
    bound: any verbatim span of length >= 2C-1 shared by docs A < B
    fully contains one of A's aligned chunks REGARDLESS of either
    copy's offset (the span covers a whole period of A's chunk grid),
    and B's stride-1 windows enumerate every alignment — so recall is
    1.0 for spans >= 2C-1 (= 15 tokens), by construction, at
    probe-fan-out cost instead of a suffix-array global sort. Spans in
    [C, 2C-2] are caught iff they straddle a grid line — strictly
    better than the stride-C/stride-C chunk dedup, never worse.

    Output per (doc_src < doc_dup) pair: distinct matched source
    chunks and distinct matching probe windows."""
    C = SUBSTRING_CHUNK
    n_ceil = F.ceil(F.size("words") / F.lit(float(C)))
    chunks = F.transform(
        F.sequence(F.lit(1), n_ceil.cast("int")),
        lambda i: F.array_join(
            F.slice(F.col("words"), (i - F.lit(1)) * C + 1, C), " "
        ),
    )
    # Keep only FULL chunks ((pos+1)*C <= len): a short trailing chunk
    # can never equal a C-token window anyway (token counts differ),
    # dropping it just trims the index. The ceil grid keeps
    # F.sequence's bounds ascending (floor could yield sequence(1, 0),
    # which Spark treats as a DESCENDING range, not empty).
    idx = (
        docs.select(
            "doc_id",
            F.size("words").alias("nw"),
            F.posexplode(chunks).alias("pos0", "chunk"),
        )
        .filter((F.col("pos0") + 1) * C <= F.col("nw"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "chunk")
    )
    # Stride-1 windows; same ascending-bounds care for docs shorter
    # than C (no windows at all).
    grams = F.when(
        F.size("words") >= C,
        F.transform(
            F.sequence(F.lit(1), (F.size("words") - C + 1).cast("int")),
            lambda j: F.array_join(F.slice(F.col("words"), j, C), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    probe = docs.select(
        "doc_id", F.posexplode(grams).alias("j0", "gram")
    ).select("doc_id", (F.col("j0") + 1).alias("j"), "gram")
    return (
        probe.alias("p")
        .join(
            idx.alias("x"),
            (F.col("p.gram") == F.col("x.chunk"))
            & (F.col("p.doc_id") > F.col("x.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_src"),
            F.col("p.doc_id").alias("doc_dup"),
        )
        .agg(
            F.countDistinct("x.pos").alias("n_src_chunks"),
            F.countDistinct("p.j").alias("n_dup_windows"),
        )
    )


@query(
    "dedup_substring_phase_pairs",
    oracle=f"""
        WITH d AS ({DOCS_CTE}),
        idx AS (
            SELECT doc_id, i AS pos,
                   array_to_string(
                       words[(i-1)*{SUBSTRING_CHUNK}+1 :
                             i*{SUBSTRING_CHUNK}], ' ') AS chunk
            FROM d, unnest(range(1,
                     len(words) // {SUBSTRING_CHUNK} + 1)) t(i)),
        probe AS (
            SELECT doc_id, j,
                   array_to_string(
                       words[j : j+{SUBSTRING_CHUNK}-1], ' ') AS gram
            FROM d, unnest(range(1,
                     len(words) - {SUBSTRING_CHUNK} + 2)) t(j)
            WHERE len(words) >= {SUBSTRING_CHUNK})
        SELECT x.doc_id AS doc_src, p.doc_id AS doc_dup,
               CAST(COUNT(DISTINCT x.pos) AS BIGINT) AS n_src_chunks,
               CAST(COUNT(DISTINCT p.j) AS BIGINT) AS n_dup_windows
        FROM probe p JOIN idx x
        ON p.gram = x.chunk AND p.doc_id > x.doc_id
        GROUP BY 1, 2
    """,
    tags=("dedup", "extension", "training-data"),
)
def dedup_substring_phase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-free substring-duplicate detection: stride-C chunk
    INDEX x stride-1 window PROBE equi-join — guaranteed recall 1.0
    for verbatim shared spans >= 2C-1 tokens at ANY relative offset
    (the phase hole dedup_substring_chunks measures is closed; proof
    and planted-duplicate measurement in substring_phase_pairs'
    docstring and tests/test_substring_fidelity.py).

    Scale shape: the index is O(corpus/C) rows, the probe O(corpus)
    rows — the same volume class as the 3-gram inverted index
    (dedup_ngram_jaccard) — and the join is chunk-string-keyed with
    map-side-combined pair aggregation; never doc x doc. Boilerplate
    chunks skew the index join exactly like stop-shingles; the same
    mitigations apply (AQE skew split; frequency-capping the chunk
    table, noted in SURVEY §8)."""
    return substring_phase_pairs(_docs_wide(spark, sf_dir))


@query(
    "dedup_minhash_containment",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES}
        SELECT doc_a, doc_b,
               len(list_intersect(x.hs, y.hs))
                   / CAST(len(x.hs) AS DOUBLE) AS contain_ab,
               len(list_intersect(x.hs, y.hs))
                   / CAST(len(y.hs) AS DOUBLE) AS contain_ba
        FROM cand
        JOIN shf x ON x.doc_id = doc_a
        JOIN shf y ON y.doc_id = doc_b
        WHERE len(list_intersect(x.hs, y.hs))
                  / CAST(len(x.hs) AS DOUBLE) >= 0.7
           OR len(list_intersect(x.hs, y.hs))
                  / CAST(len(y.hs) AS DOUBLE) >= 0.7
    """,
    tags=("dedup", "similarity", "extension"),
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup detection over the same LSH
    candidate pairs as dedup_minhash_lsh: C(A,B) = |A∩B|/|A| flags a
    short document swallowed whole by a longer one (quote farms,
    boilerplate wrappers, doc-in-doc) that symmetric Jaccard misses —
    a 100-shingle doc fully contained in a 2000-shingle doc has
    Jaccard 0.05 but containment 1.0. Broder's (1997) resemblance vs
    containment distinction; the shape modern corpus pipelines use for
    partial-duplicate pruning.

    Candidate generation is shared with the Jaccard path
    (_minhash_candidates — band-bucket equi-join, fixed per-doc
    fan-out, never all-pairs), so the scale story is identical; the
    exact containment check runs only on candidate pairs. Both
    directions reported; either >= 0.7 keeps the pair. Floats are
    exact-integer ratios divided once, identically, on both engines."""
    cand, shf = _minhash_candidates(spark, sf_dir)
    x, y = shf.alias("x"), shf.alias("y")
    inter = F.size(F.array_intersect(F.col("x.hs"), F.col("y.hs")))
    c_ab = inter / F.size(F.col("x.hs")).cast("double")
    c_ba = inter / F.size(F.col("y.hs")).cast("double")
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            c_ab.alias("contain_ab"),
            c_ba.alias("contain_ba"),
        )
        .filter((F.col("contain_ab") >= 0.7) | (F.col("contain_ba") >= 0.7))
    )


@query(
    "similarity_join_minhash",
    oracle=f"""
        WITH {MINHASH_PAIRS_CTES},
        xcand AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
                  FROM bands a JOIN bands b
                  ON a.band = b.band AND a.key = b.key
                     AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
        SELECT left_id, right_id, {D.jaccard_sql("x.hs", "y.hs")} AS jac
        FROM xcand
        JOIN shf x ON x.doc_id = left_id
        JOIN shf y ON y.doc_id = right_id
        WHERE {D.jaccard_sql("x.hs", "y.hs")} >= 0.5
    """,
    tags=("dedup", "similarity", "join", "extension"),
    bench=True,
)
def similarity_join_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus SIMILARITY JOIN (the V-SMART-Join / set-similarity
    join shape, Metwally & Faloutsos 2012; Vernica et al. 2010): find
    all (left, right) pairs across TWO corpora with word-3-gram
    Jaccard >= 0.5 — the 'which new-crawl documents near-duplicate the
    existing corpus' question, which intra-corpus dedup pairs cannot
    answer because its candidates and its `<` ordering live inside one
    table. Corpora here are the even/odd doc_id halves of `documents`
    (disjoint stand-ins for crawl vs corpus).

    Scale shape — identical to dedup_minhash_lsh and the reason this
    is never corpus x corpus: both sides minhash independently (fixed
    4 band keys per doc, O(n) fan-out), candidates come from the
    band-bucket EQUI join between the two band tables, and the exact
    Jaccard verify runs only on candidate pairs via two slim
    doc_id-keyed joins of the shingle-set table. Filtering the shared
    band table by parity (not re-shingling per side) keeps one scan +
    one signature pass feeding both join sides."""
    # words-form non-empty filter: size(hs) > 0 <=> size(words) >= 3
    # (see _minhash_candidates) — keeps the shingle-hash pipeline off
    # the single-task scan.
    sh = (
        _docs_wide(spark, sf_dir)
        .filter(F.size("words") >= 3)
        .select("doc_id", D.hashed_shingles(F.col("words")).alias("hs"))
    )
    shf = sh
    sig = shf.select("doc_id", D.minhash_signature(F.col("hs")).alias("sig"))
    bands = sig.select(
        "doc_id", F.explode(D.lsh_band_keys(F.col("sig"))).alias("bk")
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    left = bands.filter(F.col("doc_id") % 2 == 0)
    right = bands.filter(F.col("doc_id") % 2 == 1)
    cand = (
        left.alias("a")
        .join(
            right.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc_id").alias("left_id"),
            F.col("b.doc_id").alias("right_id"),
        )
        .distinct()
    )
    x, y = shf.alias("x"), shf.alias("y")
    jac = D.jaccard(F.col("x.hs"), F.col("y.hs"))
    return (
        cand.join(x, F.col("left_id") == F.col("x.doc_id"))
        .join(y, F.col("right_id") == F.col("y.doc_id"))
        .select("left_id", "right_id", jac.alias("jac"))
        .filter(F.col("jac") >= 0.5)
    )


@query(
    "mining_association_rules",
    oracle="""
        WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
              FROM lineitem),
        items AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
                  FROM b GROUP BY l_partkey),
        pairs AS (
            SELECT a.l_partkey AS part_a, bb.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM b a JOIN b bb ON a.l_orderkey = bb.l_orderkey
                              AND a.l_partkey < bb.l_partkey
            GROUP BY part_a, part_b),
        top AS (
            SELECT * FROM pairs
            ORDER BY n_ab DESC, part_a, part_b LIMIT 20)
        SELECT t.part_a, t.part_b, t.n_ab,
               ia.n_item AS n_a, ib.n_item AS n_b,
               CAST(ROUND(1000000.0 * t.n_ab / n.n_orders) AS BIGINT)
                   AS support_e6,
               CAST(ROUND(1000000.0 * t.n_ab / ia.n_item) AS BIGINT)
                   AS conf_ab_e6,
               CAST(ROUND(1000000.0 * t.n_ab * n.n_orders
                          / (ia.n_item * ib.n_item)) AS BIGINT) AS lift_e6
        FROM top t
        JOIN items ia ON ia.l_partkey = t.part_a
        JOIN items ib ON ib.l_partkey = t.part_b
        CROSS JOIN n
    """,
    tags=("extension", "mining", "cooccurrence"),
    # Pair fan-out stage coalesces too narrow at toy SF (r17 raw-fn
    # A/B n=5: 1.34 s with the 64k floor vs 1.64 s default).
    sql_conf={
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"
    },
)
def mining_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the top co-occurring part pairs: support,
    confidence(a -> b), and lift in exact 1e-6 units — the metric layer
    Apriori/FP-growth emit on top of the counting core
    mining_pair_cooccurrence already provides. Baskets deduplicate to
    DISTINCT (order, part) first so a part repeated across line items
    can't inflate its own support.

    Exactness: every ratio is ONE double division of exact BIGINT
    counts (products stay far under 2^53), rounded to integer units on
    both engines. Scale: same bounded self-equi-join as the counting
    query; the item-frequency table is O(parts) and broadcasts back
    against the 20-row top list — metrics cost nothing beyond the
    counts."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    items = b.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a, bb = b.alias("a"), b.alias("bb")
    pairs = (
        a.join(
            bb,
            (F.col("a.l_orderkey") == F.col("bb.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("bb.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("bb.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    top = pairs.orderBy(F.col("n_ab").desc(), "part_a", "part_b").limit(20)
    ia = items.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = items.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    return (
        top.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(1000000.0 * F.col("n_ab") / F.col("n_orders"))
            .cast("long")
            .alias("support_e6"),
            F.round(1000000.0 * F.col("n_ab") / F.col("n_a"))
            .cast("long")
            .alias("conf_ab_e6"),
            F.round(
                1000000.0
                * F.col("n_ab")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            )
            .cast("long")
            .alias("lift_e6"),
        )
    )


def _prefix_token_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, set-size, token) table over distinct word
    3-gram shingles — the input both to the prefix index and to the
    verify COUNT of similarity_join_prefix_filter."""
    sh = _docs_wide(spark, sf_dir).select(
        "doc_id", D.string_shingles(F.col("words")).alias("s")
    )
    # No explicit size(s) > 0 filter (r17): explode already emits zero
    # rows for empty/null arrays — identical output — and the explicit
    # filter was PUSHED below the round-robin exchange by expression
    # substitution, evaluating the whole interpreted shingle pipeline
    # on the single-task scan (the very serialization the gate exists
    # to avoid). The matching optimizer-INFERRED filter is disabled
    # per-query via excludedRules (see the @query sql_conf).
    return sh.select(
        "doc_id", F.size("s").alias("n"), F.explode("s").alias("tok")
    )


def _prefix_index(ex: DataFrame) -> DataFrame:
    """The SSJoin prefix index at t = 0.7: tokens ranked per doc by
    ascending global document frequency (ties by token), keeping only
    the first p = n - ceil(t*n) + 1. Shared with tests/test_plans.py's
    strict-subset pin so the test can never drift to a stale prefix
    definition if the threshold or ordering is retuned."""
    df_tab = ex.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix_len = F.col("n") - F.expr("(7 * n + 9) DIV 10") + 1
    return (
        ex.join(df_tab, "tok")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "n", "pos", "tok")
    )


@query(
    "similarity_join_prefix_filter",
    oracle=f"""
        WITH d AS ({DOCS_CTE}),
        sh AS (SELECT doc_id, {D.string_shingles_sql("words")} AS s FROM d),
        shf AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS tok FROM shf),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.n AS na, b.n AS nb,
                         CAST(COUNT(*) AS BIGINT) AS n_shared
                  FROM ex a JOIN ex b
                  ON a.tok = b.tok AND a.doc_id < b.doc_id
                  GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b, n_shared,
               CAST(na + nb - n_shared AS BIGINT) AS n_union,
               n_shared / CAST(na + nb - n_shared AS DOUBLE) AS jac
        FROM pairs
        WHERE 10 * n_shared >= 7 * (na + nb - n_shared)
    """,
    tags=("dedup", "similarity", "join", "extension"),
    bench=True,
    # Shingle-explode infer-filter exclusion (A/B 4.30 -> 3.07 s; see
    # registry._SCOPED_CONF_DEFAULTS rationale).
    sql_conf=NO_INFER_FROM_GENERATE,
)
def similarity_join_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (Chaudhuri et
    al. 2006 SSJoin; Bayardo et al. 2007 AllPairs; Xiao et al. 2008
    PPJoin; distributed as in Vernica et al. 2010's MapReduce stages):
    all intra-corpus pairs with word-3-gram Jaccard >= 0.7, found
    WITHOUT hashing away exactness (MinHash) and WITHOUT indexing every
    token (dedup_ngram_jaccard's full inverted index).

    The lossless trick: order each doc's tokens by ascending global
    document frequency (rarest first, ties by token string) and index
    only the first p = n - ceil(t*n) + 1 of them — two sets with
    Jaccard >= t MUST share a token inside these prefixes, so the
    candidate join touches only rare-token buckets (fan-out per doc is
    the prefix, not the set, and bucket sizes are small BY CONSTRUCTION
    — the prefix tokens are the rarest, the exact opposite of the
    stop-shingle skew that makes the full inverted index AQE-dependent).
    Two further PPJoin prunes run BEFORE verification, both exact-int:
    a length filter (10*min(na,nb) >= 7*max(na,nb) — sizes that far
    apart cannot reach t) and the POSITIONAL filter: because every doc
    orders its tokens by the SAME global (df, token) total order, the
    minimal shared token of a pair sits at positions (i, j) that are
    simultaneously minimal in both docs, so the overlap can never
    exceed o_ub = 1 + min(na-i, nb-j); pairs with 17*o_ub < 7*(na+nb)
    (o_ub below the equivalent-overlap threshold alpha = t/(1+t) *
    (na+nb)) are dropped without touching their token sets. Aggregating
    MAX(o_ub) over shared prefix tokens yields exactly the minimal
    -token bound. Measured at sf0.1 this prunes candidates 202k -> 33k
    and the whole query 4.96 -> 2.7 s — the verify fan-out (candidates
    x tokens) was the dominant cost. (A Vernica-style materialized
    ordered-record variant with array_intersect verification measured
    5.6-7 s: the localCheckpoint write + single-partition checkpoint
    scan cost more than it saved at this scale.)

    The verify stage re-joins surviving candidates through the full
    token table and COUNTs shared tokens — intersection without
    shipping arrays (per-doc shingles are distinct, so COUNT IS
    |A o B|) — and keeps 10*inter >= 7*union in exact integer math;
    the only doubles are single divisions of exact ints. The DuckDB
    oracle is the brute-force all-pairs join — parity with it IS the
    proof the prefix + positional filters dropped nothing
    (tests/test_plans.py pins that the prefix candidates are a strict
    subset of the full-index candidates).

    ceil(0.7*n) is computed as (7*n + 9) DIV 10 — pure integer math,
    engine-identical, no float boundary to disagree on."""
    # Lazy checkpoints (r16): ex feeds FIVE subtrees (the df count,
    # the prefix rank, both candidate sides, both verify sides) and
    # the shingle explode re-executed for each — exchange reuse cannot
    # collapse them (different downstream keys). Materializing the
    # token table once and the prefix index once measured ~10% warm
    # (3.7 -> 3.3 s) and halved the cold first run (9.0 -> 4.0 s) at
    # sf0.1. This is the guide's decision-pass materialization over
    # token-sized proxy rows, NOT the r8 ordered-record variant the
    # docstring retires (that one shipped token arrays + verified by
    # array_intersect, which is what cost more than it saved).
    ex = _prefix_token_table(spark, sf_dir).localCheckpoint(eager=False)
    pre = _prefix_index(ex).localCheckpoint(eager=False)
    o_ub = 1 + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b").hint("shuffle_merge"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            10 * F.least(F.col("a.n"), F.col("b.n"))
            >= 7 * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.max(o_ub).alias("o_ub"))
        .filter(17 * F.col("o_ub") >= 7 * (F.col("na") + F.col("nb")))
    )
    ta = ex.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = ex.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("n_shared"))
    )
    n_union = (F.col("na") + F.col("nb") - F.col("n_shared")).cast("long")
    return (
        inter.filter(
            10 * F.col("n_shared")
            >= 7 * (F.col("na") + F.col("nb") - F.col("n_shared"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            n_union.alias("n_union"),
            (F.col("n_shared") / n_union).alias("jac"),
        )
    )


# Collaborative-filtering popularity cap: parts bought by more than
# this many customers are dropped before pair generation (the standard
# CF hot-item prune — a part half the corpus bought says nothing about
# taste similarity AND quadratically dominates the candidate join).
_RECO_CAP = 40


@query(
    "reco_user_similarity",
    oracle=f"""
        WITH b AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
                   FROM orders o
                   JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        keep AS (SELECT p FROM b GROUP BY p
                 HAVING COUNT(*) BETWEEN 2 AND {_RECO_CAP}),
        bk AS (SELECT c, b.p FROM b JOIN keep ON keep.p = b.p),
        sz AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS s FROM bk GROUP BY c),
        pairs AS (SELECT x.c AS cust_a, y.c AS cust_b,
                         CAST(COUNT(*) AS BIGINT) AS inter
                  FROM bk x JOIN bk y ON x.p = y.p AND x.c < y.c
                  GROUP BY x.c, y.c)
        SELECT cust_a, cust_b, inter,
               sa.s + sb.s - inter AS uni,
               -- round-half-up of 1e6*inter/uni in EXACT integer math
               -- (// truncates = floors for non-negative operands):
               -- no double division, so half-integer ties (uni a
               -- power of two) cannot depend on engine rounding.
               CAST((2000000 * inter + (sa.s + sb.s - inter))
                    // (2 * (sa.s + sb.s - inter)) AS BIGINT)
                    AS jaccard_e6
        FROM pairs
        JOIN sz sa ON sa.c = cust_a
        JOIN sz sb ON sb.c = cust_b
        ORDER BY jaccard_e6 DESC, cust_a, cust_b
        LIMIT 20
    """,
    tags=("mining", "extension", "recommendation"),
    # The part-keyed pair fan-out explodes ~0.9 MB of basket rows into
    # ~78 MB of pairs; AQE's default 1m coalescing floor packs that
    # CPU-dense stage into ONE task at toy shuffle sizes (r16 profile).
    # Scoped floor keeps it wide: r17 interleaved A/B 4.92 s (64k) vs
    # 9.05 s (1m). No-op at cluster scale (post-shuffle bytes >> 1m).
    sql_conf={
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"
    },
)
def reco_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative-filtering USER similarity (the
    neighborhood method behind 'customers like you also bought',
    Sarwar et al. WWW'01 transposed): exact part-basket Jaccard
    between customer pairs, top-20. All math is exact integers —
    intersection counts from the shared-part join, union by
    inclusion-exclusion, and the 1e-6-unit score is round-half-up
    computed as (2e6*inter + uni) div (2*uni) in integer arithmetic,
    so no engine's float rounding is ever consulted (uni CAN be a
    power of two, which makes 1e6*inter/uni an exact half-integer —
    the integer form decides those ties identically by construction).

    Denominator convention: basket sizes |A| and |B| are sizes of the
    PRUNED baskets (counted after the popularity cap below), so the
    Jaccard is over the informative-item universe — the convention the
    oracle states too. Scores are therefore not comparable with a
    Jaccard over raw baskets (which would only dilute every pair with
    shared hot items the prune deems signal-free).

    Scale shape: the candidate join is part-keyed with fan-out capped
    by the popularity prune (parts bought by > {_RECO_CAP} customers
    carry no taste signal AND dominate the join quadratically — the
    CF analogue of the stop-shingle prune, deterministic, applied
    identically both engines). Per-part pair volume is O(cap^2), so
    candidates grow linearly in |parts|; pair counts partial-aggregate
    map-side; basket sizes join in as an O(customers) table; top-20
    lowers to TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    b = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    keep = (
        b.groupBy("p")
        .agg(F.count("*").alias("cnt"))
        .filter((F.col("cnt") >= 2) & (F.col("cnt") <= _RECO_CAP))
        .select("p")
    )
    bk = b.join(keep, "p").select("c", "p")
    # Basket sizes RIDE ALONG with each exploded row (r16 — the
    # dedup_ngram_jaccard trick): joining the size table onto the
    # aggregated pair table afterwards re-shuffled the pair table —
    # the query's largest intermediate, 78 MB at sf0.1 and the
    # dominant shuffle at corpus scale — TWICE (once per side's key).
    # Attaching s to the slim basket rows before pair generation costs
    # two longs per pre-agg row and makes both size joins vanish; the
    # groupBy gains (s_a, s_b) as keys, which is value-neutral because
    # s is functional on the customer (pair set and counts identical —
    # proven by an exact row-set equality A/B before landing, plus the
    # DuckDB oracle).
    sz = bk.groupBy("c").agg(F.count("*").alias("s"))
    bks = bk.join(sz, "c")
    x = bks.select(F.col("c").alias("cust_a"), "p", F.col("s").alias("s_a"))
    y = bks.select(F.col("c").alias("cust_b"), "p", F.col("s").alias("s_b"))
    pairs = (
        x.join(y, ["p"])
        .filter(F.col("cust_a") < F.col("cust_b"))
        .groupBy("cust_a", "cust_b", "s_a", "s_b")
        .agg(F.count("*").alias("inter"))
    )
    uni = F.col("s_a") + F.col("s_b") - F.col("inter")
    scored = (
        pairs.select(
            "cust_a",
            "cust_b",
            "inter",
            uni.alias("uni"),
            # Round-half-up in exact integer math (Spark `div` on
            # BIGINTs truncates = floors for non-negative operands) —
            # mirrors the oracle's // expression symbol for symbol.
            (F.lit(2_000_000) * F.col("inter") + uni)
            .cast("long")
            .alias("_num"),
            (F.lit(2) * uni).cast("long").alias("_den"),
        )
        .withColumn("jaccard_e6", F.expr("_num div _den"))
        .drop("_num", "_den")
    )
    return scored.orderBy(
        F.col("jaccard_e6").desc(), "cust_a", "cust_b"
    ).limit(20)


# SemDeDup duplicate threshold: cosine >= 0.4 over the int8-quantized
# embeddings (the corpus' near-dup band — dedup_embedding_cosine uses
# the same cutoff over the raw floats). Compared in EXACT integer math
# as 1e6*dot^2 >= eps^2_e6 * |a|^2 * |b|^2 with dot > 0, so no float
# division or rounding is ever consulted: eps^2 * 1e6 = 160000.
_SEMDEDUP_EPS2_E6 = 160_000


@query(
    "dedup_semantic_clusters",
    bench=True,
    oracle=f"""
        WITH {KMEANS8_ASSIGN_CTES},
        nn AS (
            SELECT vec_id, cid, qv,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       [v * v for v in qv]), (acc, e) -> acc + e) AS n2
            FROM a3),
        cand AS (
            SELECT a.vec_id AS va, b.vec_id AS vb, a.n2 AS na2,
                   b.n2 AS nb2,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       [a.qv[i] * b.qv[i] for i in range(1, 65)]),
                       (acc, e) -> acc + e) AS dot
            FROM nn a JOIN nn b
            ON a.cid = b.cid AND a.vec_id < b.vec_id),
        dup AS (
            SELECT DISTINCT vb AS vec_id FROM cand
            WHERE dot > 0
              AND 1000000 * dot * dot >= {_SEMDEDUP_EPS2_E6} * na2 * nb2)
        SELECT nn.vec_id, CAST(nn.cid AS BIGINT) AS cid,
               CAST(CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END
                    AS INT) AS is_dup
        FROM nn LEFT JOIN dup ON nn.vec_id = dup.vec_id
    """,
    tags=("dedup", "embedding", "cluster", "extension", "training-data"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then prune
    near-duplicates WITHIN each cluster only — candidates never cross
    clusters, which is the whole trick that makes semantic dedup
    feasible at corpus scale (the pairwise stage is cluster-keyed, so
    its cost is sum of squared CLUSTER sizes, not corpus size squared).

    Composition of two existing verified pieces: the assignment comes
    from the same deterministic quantized Lloyd's iteration as
    kmeans_quantized_clusters (operators/vectors.kmeans_lloyd, k=8,
    2 updates — the oracle embeds the SAME unrolled CTE chain, so the
    clustering trace is value-checked, not assumed), and the
    within-cluster prune is dedup_embedding_cosine's threshold recast
    in exact integers over the int8 codes: pair (a, b) is a semantic
    dup iff dot(qa, qb) > 0 and 1e6*dot^2 >= eps^2_e6*|qa|^2*|qb|^2
    (eps = 0.4) — squaring removes the sqrt, so both engines decide
    every pair in overflow-checked BIGINT arithmetic (max |term| ~1e18
    at d=64: inside int64, and quantization bounds it independently of
    data values). Keep-rule: the matrix-threshold form of the paper's
    prune — a vector is dropped iff some SAME-CLUSTER vector with a
    smaller vec_id passes the threshold (representative = min id; no
    chain transitivity, exactly like the paper's per-item max-sim
    test, which also evaluates pairs, not closures).

    Output: one row per clustered vector (vec_id, cid, is_dup) — the
    full keep/drop decision is value-hashed, not just counts.

    Scale shape: assignment is the zero-shuffle HOF pass over a
    driver-resident k x d model (kmeans_lloyd docstring); the pair
    stage shuffles on cid and the keep-rule anti-structure on vec_id.
    k=8 here matches the corpus (500-5k vectors); at 100 TB k grows
    with n (the paper uses ~n/10k clusters) so per-cluster fan-out
    stays bounded — k is a knob of the SAME plan, not a rewrite. The
    SMALL fixed k at test scale also means the cid shuffle has 8 live
    keys; production k (10^4-10^6) gives the exchange its parallelism
    back."""
    nn = _embeddings_q8(spark, sf_dir)
    asg, _cents = V.kmeans_lloyd(nn, k=8, updates=2)
    # dot_ll(qv, qv) == the retired transform-square fold: exact BIGINT
    # sums are association-free, and x*x per element is the same term.
    n2 = V.dot_ll(F.col("qv"), F.col("qv"))
    # Materialize the assignment ONCE: it feeds three plan branches
    # (both pair-join sides + the outer keep/drop table), and without
    # the checkpoint each branch re-runs scan + quantize + the HOF
    # argmin pass (measured 7.0 s -> 3.5 s at sf0.1, interleaved A/B
    # n=7). Same lineage-truncation call the CC edge iteration uses; the
    # checkpointed relation is O(n) slim codes, released by the context
    # cleaner.
    scored = asg.select(
        "vec_id", "cid", "qv", n2.alias("n2")
    ).localCheckpoint(eager=True)
    a, b = scored.alias("a"), scored.alias("b")
    # The pair-verify hot spot: this dot runs once per same-cluster
    # pair (~250k at sf0.1; 10.8 s of interpreted-HOF stage CPU) —
    # dot_ll's guarded unroll moves it into whole-stage codegen (r17).
    dot = V.dot_ll(F.col("a.qv"), F.col("b.qv"))
    dups = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("dup_id"),
            dot.alias("dot"),
            F.col("a.n2").alias("na2"),
            F.col("b.n2").alias("nb2"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(1_000_000) * F.col("dot") * F.col("dot")
                >= F.lit(_SEMDEDUP_EPS2_E6) * F.col("na2") * F.col("nb2")
            )
        )
        .select("dup_id")
        .distinct()
    )
    return (
        scored.join(dups, scored["vec_id"] == dups["dup_id"], "left")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cid"),
            F.col("dup_id").isNotNull().cast("int").alias("is_dup"),
        )
    )
