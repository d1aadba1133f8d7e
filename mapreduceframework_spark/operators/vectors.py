"""Embedding similarity operators (ANN / near-dup over array<float>).

Brute-force cosine top-k is the correctness baseline; sign-LSH
(random-hyperplane) bucketing is the scale path — candidates come from a
bucket-equality shuffle join, so the work is O(sum of bucket^2) instead
of O(n^2), and each bucket's pairs are independent tasks across
executors.

Determinism rules (the DuckDB oracle must agree on the value-hash):

- All arithmetic is float64. The parquet column is float32; widening is
  exact in both engines.
- The dot product is a *sequential left fold* (``F.aggregate`` in Spark,
  ``list_reduce`` in DuckDB) — same multiplication and addition order ->
  bit-identical IEEE results, so no rounding tolerance games. Engine
  built-ins like DuckDB's ``list_cosine_similarity`` are avoided: their
  summation order is unspecified.
- The "random" hyperplanes are a fixed deterministic +/-1 pattern
  (``(i*PLANE_MULT + j*PLANE_STEP) % PLANE_MOD < PLANE_HALF``) computed
  identically in both engines — no RNG, reproducible across rounds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic pseudo-random +/-1 hyperplane pattern parameters.
PLANE_MULT = 37
PLANE_STEP = 59
PLANE_MOD = 97
PLANE_HALF = 48
N_PLANES = 8
# Multi-table LSH (OR-construction): L tables of K planes each. One
# K-plane bucket alone has P(collide) = (1 - theta/pi)^K — for 500
# moderately-similar vectors and K=8 that measured out to recall ZERO
# against brute force. L=4 tables of K=4 planes: per-table collide
# ~(0.8)^4~0.4 at cos 0.6, any-table ~1-(1-0.4)^4 ~ 0.87, while each
# table still prunes ~15/16 of the corpus.
L_TABLES = 4
PLANES_PER_TABLE = 4


# The generator's embedding dimensionality. The unrolled fast paths
# below are GUARDED on observed array sizes, so this is a performance
# hint, not a data assumption — any other length takes the fold branch
# with identical semantics.
EMB_D = 64


def _guarded_unroll(a: Column, b: Column, term, seed, fold) -> Column:
    """``fold`` rewritten as a whole-stage-codegen expression when both
    arrays have the expected EMB_D elements (r17, guide §4.1): HOF
    lambdas are CodegenFallback — interpreted, one closure dispatch +
    allocation per element — and the pair-verify stages evaluate these
    folds O(candidate-pairs) times (dedup_semantic_clusters: 10.8 s of
    stage CPU at sf0.1, dedup_embedding_cosine: 11 s). The unrolled
    branch is the IDENTICAL left-associated IEEE sequence — seeded with
    the same literal so even the 0.0 + (-0.0) first step matches — and
    try_element_at mirrors zip_with's null for missing elements; any
    non-EMB_D input takes the original fold, so semantics do not depend
    on the unroll length."""
    out = seed
    for i in range(1, EMB_D + 1):
        out = out + term(
            F.try_element_at(a, F.lit(i)), F.try_element_at(b, F.lit(i))
        )
    return F.when(
        (F.size(a) == EMB_D) & (F.size(b) == EMB_D), out
    ).otherwise(fold)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns.

    Deliberately NOT unrolled (r17 negative result, recorded): cosine()
    inlines three dots, so the guarded unroll tripled into a ~1.4k-node
    tree per call site and the ann cosine rows regressed >2x
    (ann_cosine_bruteforce 0.9 -> 2.1 s, ivf 1.3 -> 3.4 s, interleaved
    A/B n=5) — plan/codegen cost swamped the interpreted-fold saving.
    The unroll pays only where ONE dot runs per candidate pair; that
    consumer uses dot_ll below."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_ll(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<long> columns (exact
    BIGINT arithmetic — association-free, but the unroll keeps the fold
    order anyway)."""
    fold = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return _guarded_unroll(
        a, b, lambda x, y: x * y, F.lit(0).cast("long"), fold
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB rendering of :func:`dot` — same fold order."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"[{a}[i] * {b}[i] for i in range(1, len({a}) + 1)]), "
        f"(acc, x) -> acc + x)"
    )


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) — composed exactly
    as written so the oracle's expression tree matches op for op."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


def plane_sign(dim_index: Column, plane: int) -> Column:
    """+/-1 coefficient of hyperplane ``plane`` at dimension
    ``dim_index`` (1-based)."""
    parity = (dim_index * PLANE_MULT + F.lit(plane * PLANE_STEP)) % PLANE_MOD
    return F.when(parity < PLANE_HALF, F.lit(1.0)).otherwise(F.lit(-1.0))


def lsh_bucket(v: Column) -> Column:
    """Sign-LSH bucket id: bit j = 1 iff dot(v, plane_j) > 0, for
    N_PLANES fixed hyperplanes -> integer in [0, 2^N_PLANES). Vectors
    with high cosine land in the same bucket with probability
    (1 - theta/pi)^N_PLANES — the standard SRP-LSH estimator."""
    def sign_of(j: int):
        # Closure factory, NOT a default-arg lambda: PySpark binds a
        # 2-parameter lambda as (element, index) — the plane number
        # would silently become the array index (wrong buckets).
        return lambda i: plane_sign(i, j)

    out = F.lit(0)
    for j in range(N_PLANES):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(F.sequence(F.lit(1), F.size(v)), sign_of(j)),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def _proj_sign_bit(v: Column, plane: int, bit: int) -> Column:
    proj = F.aggregate(
        F.zip_with(
            v,
            F.transform(
                F.sequence(F.lit(1), F.size(v)),
                (lambda pl: (lambda i: plane_sign(i, pl)))(plane),
            ),
            lambda x, s: x * s,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(proj > 0, F.lit(1 << bit)).otherwise(F.lit(0))


def lsh_table_keys(v: Column) -> Column:
    """Multi-table sign-LSH: array of (tbl, bucket) structs, one per
    hash table; planes are globally indexed table*K + p so tables are
    independent. Candidates = pairs sharing a bucket in ANY table
    (OR-construction) — the standard recall/cost dial for SRP-LSH."""
    out = []
    for t in range(L_TABLES):
        bucket = F.lit(0)
        for p in range(PLANES_PER_TABLE):
            bucket = bucket + _proj_sign_bit(v, t * PLANES_PER_TABLE + p, p)
        out.append(
            F.struct(F.lit(t).alias("tbl"), bucket.alias("bucket"))
        )
    return F.array(*out)


def _proj_sql(v: str, plane: int) -> str:
    products = (
        f"[{v}[i] * (CASE WHEN (i*{PLANE_MULT} + {plane * PLANE_STEP})"
        f" % {PLANE_MOD} < {PLANE_HALF}"
        f" THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
        f" for i in range(1, len({v}) + 1)]"
    )
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, {products}), "
        f"(acc, x) -> acc + x)"
    )


def lsh_table_keys_sql(v: str) -> str:
    tables = []
    for t in range(L_TABLES):
        bits = " + ".join(
            f"CASE WHEN {_proj_sql(v, t * PLANES_PER_TABLE + p)} > 0"
            f" THEN {1 << p} ELSE 0 END"
            for p in range(PLANES_PER_TABLE)
        )
        tables.append(f"{{'tbl': {t}, 'bucket': ({bits})}}")
    return "[" + ", ".join(tables) + "]"


def lsh_bucket_sql(v: str) -> str:
    terms = []
    for j in range(N_PLANES):
        products = (
            f"[{v}[i] * (CASE WHEN (i*{PLANE_MULT} + {j * PLANE_STEP})"
            f" % {PLANE_MOD} < {PLANE_HALF}"
            f" THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
            f" for i in range(1, len({v}) + 1)]"
        )
        proj = (
            f"list_reduce(list_prepend(0.0::DOUBLE, {products}), "
            f"(acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def kmeans_lloyd(
    q,  # DataFrame(vec_id long, qv array<long>)
    k: int = 8,
    updates: int = 2,
):
    """Deterministic Lloyd's k-means over integer-quantized vectors.

    Returns ``(assignments, centroids)``: the final assignment
    DataFrame (vec_id, cid, qv) after ``updates`` centroid updates plus
    one final assignment pass, and the final centroids as a plain
    Python ``list[list[float]]`` indexed by cid (model state lives on
    the driver, exactly like MLlib's KMeansModel.clusterCenters —
    callers derive digests/literals from it without another join;
    joining assignment output back to a centroid DataFrame also trips
    Catalyst constraint inference into pushing the HOF argmin
    expression across the join, an INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    at execution time on Spark 4.1).

    Cross-engine determinism (the whole reason the input is the int8
    code array, not raw floats): member sums per dimension are exact
    BIGINT arithmetic in any order, so a centroid is one exact integer
    sum divided once — bit-identical in any engine; distances are
    sequential folds of identical IEEE expressions; argmin breaks ties
    by (distance, cid) under row_number. Floating summation order —
    the thing that makes textbook float k-means nondeterministic even
    within one engine — never occurs.

    Scale shape per iteration (n vectors, d dims, k centroids):
    - centroids are MODEL STATE, not data: k x d doubles (k=8, d=64 ->
      512 values). They live on the driver between rounds and enter
      each pass as ONE literal array<array<double>> column — the same
      driver-resident-model design as Spark MLlib's KMeans. Collecting
      O(k x d) per round is not a driver-side data loop; the corpus
      itself never moves.
    - assignment: each vector computes all k distances row-locally
      with nested HOFs over the centroid literal and takes
      ``array_min(struct(dist, cid))`` — lexicographic struct min =
      min distance, ties to the lowest cid, exactly the
      row_number(ORDER BY dist, cid) = 1 semantics the SQL oracle
      spells out. ZERO shuffle and zero join per assignment pass.
      (Round 2 used crossJoin(broadcast) + row_number, which shuffled
      O(n x k) skinny rows per iteration; at 100 TB x k=8 that is 8x
      the corpus in data motion per pass, and it benched 5x slower.)
    - update: posexplode to (cid, dim, val) and a partial-aggregated
      groupBy: shuffle is O(k x d) after map-side combine, NOT
      O(n x d); the k x d means then come back to the driver. One
      Spark job per round — no localCheckpoint barriers (round 2
      checkpointed a k-row DataFrame every round; each eager
      checkpoint is a full job barrier and they dominated the wall
      clock at small SF).
    - the corpus ``q`` is cache()d (lazy, MEMORY_AND_DISK) so repeated
      passes re-read a materialized quantized corpus instead of
      re-running scan+quantize per round. Lazy on purpose: an eager
      localCheckpoint is a synchronous extra job; cache populates
      during the first pass that already does useful work. Lineage
      never grows here (every pass starts from ``q``), so checkpoint
      -style truncation isn't needed.
    Empty clusters keep their previous centroid (dict .get default),
    matching the SQL oracle's LEFT JOIN + COALESCE.
    - the corpus is spread to the session's parallelism BEFORE caching
      (ensure_min_partitions — gated, a no-op at cluster scale where
      the scan is already wide): a single local parquet file scans as
      ONE split, and without the exchange every assignment pass, the
      posexplode update and the cache itself run serially on one task
      while 31 cores idle. Round-6 profiling: the whole query was
      1-partition end to end — repartitioning was worth ~2x wall
      clock, where swapping the interpreted HOF distances for unrolled
      codegen arithmetic was a measured LOSS (fresh k*d-term codegen +
      Janino compile per pass costs more than interpreting 8 distances
      over 64 dims per row; that trade flips only when rows-per-task
      is orders of magnitude larger, and at that scale the scan is
      already parallel).
    """
    from mapreduceframework_spark.sources.registry import ensure_min_partitions

    q = ensure_min_partitions(q, q.sparkSession).cache()

    # Initial centroids: the first k vectors by vec_id, widened to
    # double. Exact round trip: BIGINT codes -> Python int -> float.
    first_k = q.orderBy("vec_id").limit(k).collect()
    first_k.sort(key=lambda r: r["vec_id"])
    cents: list[list[float]] = [
        [float(v) for v in r["qv"]] for r in first_k
    ]

    def assign(cs: list[list[float]]):
        # ONE F.lit on the whole list-of-lists instead of k x (d+1)
        # separate lit()/struct()/array() Column constructions. Results
        # are bit-identical (verified by value hash). What this buys,
        # precisely: (a) one Python->JVM call instead of ~k*d py4j
        # round trips per pass (the measured win at k=8, d=64), and
        # (b) a plan where ConstantFolding collapses the centroid tree
        # to a single Literal before codegen — note classic PySpark
        # still EXPANDS lit(list) to nested CreateArray at analysis, so
        # the analyzed tree remains O(k x d); only optimization and
        # execution are O(1) in model size. cid is recovered from the
        # centroid's index (sequence + element_at); referencing the
        # outer `arr` inside the lambda is safe because re-evaluating
        # the folded Literal per element costs nothing.
        arr = F.lit(cs)

        def dist_to(ct):
            return F.aggregate(
                F.zip_with("qv", ct, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, e: acc + e,
            )

        best = F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(len(cs) - 1)),
                lambda i: F.struct(
                    dist_to(F.element_at(arr, i + 1)).alias("dist"),
                    i.cast("long").alias("cid"),
                ),
            )
        )
        return q.select("vec_id", best["cid"].alias("cid"), "qv")

    # Update passes run as ONE numpy mapInArrow per round (r17): the
    # interpreted-HOF assignment was the measured cost — 4-7 s of
    # executor CPU per pass at sf0.1 for 2,000 rows (HOF lambdas are
    # CodegenFallback: a closure eval + allocation per element, k x d
    # per row) — and the posexplode+groupBy shuffled k x d rows per
    # pass. The batch form computes every (row, centroid) distance in
    # vectorized numpy and emits only the O(k x d) per-partition
    # partial sums; no shuffle, one job per round, same 3 jobs total.
    #
    # Bit-exactness vs the HOF fold (the oracle pins the full
    # iteration trace, so this must be EXACT, not approximate):
    # - the fold computes ((0.0 + t_1) + t_2) + ... per (row, cid) in
    #   dimension order with t_j = (double(qv_j) - c_j)^2; the numpy
    #   loop accumulates acc += diff*diff one DIMENSION at a time, so
    #   each (row, cid) cell sees the identical left-associated IEEE
    #   sequence (row-wise vectorization does not reorder the per-cell
    #   chain; np.sum's pairwise reduction is deliberately avoided).
    # - argmin tie-break: np.argmin returns the FIRST minimum = lowest
    #   cid, exactly array_min(struct(dist, cid)).
    # - member sums are int64 (exact, order-free); the mean is the
    #   same double division of exact operands, now in driver Python.
    # Pinned by test_kmeans_update_pass_matches_hof_fold (exact
    # equality against the retired HOF+posexplode pass) and the
    # unrolled-CTE oracles at 3 SFs.
    def _pass_partials(cs: list[list[float]]):
        import numpy as np
        import pyarrow as pa

        c = np.asarray(cs, dtype=np.float64)  # (k, d)
        d = len(cs[0]) if cs else 0

        def fn(batches):
            sums: dict[int, object] = {}
            cnts: dict[int, int] = {}
            for b in batches:
                col = b.column(b.schema.get_field_index("qv"))
                n = len(col)
                if n == 0:
                    continue
                # flatten() drops null lists and reshape() checks only
                # the total, so ragged rows would mix into wrong vectors.
                flat = col.flatten()
                lens = col.value_lengths().to_numpy(zero_copy_only=False)
                if col.null_count or flat.null_count or (lens != d).any():
                    raise ValueError(
                        f"kmeans_lloyd: every qv must be a non-null list of "
                        f"{d} non-null values (the centroids' length)"
                    )
                x = flat.to_numpy(zero_copy_only=False).reshape(n, d)
                acc = np.zeros((n, c.shape[0]), dtype=np.float64)
                for j in range(d):
                    diff = x[:, j : j + 1].astype(np.float64) - c[None, :, j]
                    acc += diff * diff
                best = np.argmin(acc, axis=1)
                for cid in range(c.shape[0]):
                    m = best == cid
                    if m.any():
                        s = x[m].sum(axis=0, dtype=np.int64)
                        if cid in sums:
                            sums[cid] = sums[cid] + s
                            cnts[cid] += int(m.sum())
                        else:
                            sums[cid] = s
                            cnts[cid] = int(m.sum())
            cids, poss, ss, ns = [], [], [], []
            for cid, s in sums.items():
                for pos, v in enumerate(s):
                    cids.append(cid)
                    poss.append(pos)
                    ss.append(int(v))
                    ns.append(cnts[cid])
            yield pa.record_batch(
                [
                    pa.array(cids, pa.int64()),
                    pa.array(poss, pa.int64()),
                    pa.array(ss, pa.int64()),
                    pa.array(ns, pa.int64()),
                ],
                names=["cid", "pos", "s", "cnt"],
            )

        return q.select("qv").mapInArrow(
            fn, "cid long, pos long, s long, cnt long"
        )

    for _ in range(updates):
        # O(partitions x k x d) partial rows back to the driver; the
        # exact int64 partials combine order-free, and the mean is the
        # identical IEEE division of exact operands the Spark
        # sum/count form performed (the model update, as in MLlib).
        agg: dict[tuple[int, int], tuple[int, int]] = {}
        for r in _pass_partials(cents).collect():
            key = (r["cid"], r["pos"])
            s0, n0 = agg.get(key, (0, 0))
            agg[key] = (s0 + r["s"], n0 + r["cnt"])
        by_cid: dict[int, dict[int, float]] = {}
        for (cid, pos), (s, n_mem) in agg.items():
            # float() each operand first — the exact analogue of the
            # retired sum.cast("double") / count double division.
            by_cid.setdefault(cid, {})[pos] = float(s) / float(n_mem)
        cents = [
            [dims[p] for p in sorted(dims)]
            if (dims := by_cid.get(cid)) is not None
            else old
            for cid, old in enumerate(cents)
        ]

    # The cache exists to serve the iteration passes above; release it
    # before returning so the blocks don't linger for the session's
    # lifetime (other queries sharing the SparkSession would pay the
    # memory pressure). The returned assignment recomputes scan+quantize
    # exactly once — cheap relative to a leaked MEMORY_AND_DISK corpus.
    q.unpersist(blocking=False)
    return assign(cents), cents
