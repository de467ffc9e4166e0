"""Vector similarity search (SURVEY.md §2C T5/T6): brute-force cosine
top-k, IVF-style partition-pruned search, LSH similarity self-join.

Scale design:
- Brute force broadcasts the (small) query set and streams the candidate
  corpus exactly once — embarrassingly parallel, no shuffle of the
  corpus; per-query top-k via partitioned window.  This is the exact
  baseline every ANN variant is measured against.
- IVF: a coarse quantizer (here: per-cluster centroids) assigns each
  corpus vector to a partition; queries probe only the nearest
  `n_probe` partitions.  At 100 TB this turns a full scan into a
  ~1/n_lists scan, and the partition assignment is a write-time layout
  (partitionBy(list_id)) so probing is partition pruning.
- LSH self-join (BucketedRandomProjectionLSH) finds all close pairs via
  bucket join — the sub-quadratic arm of T6.

All math is done in float64 (embeddings are float32 on disk; both
engines upcast identically) so results are reproducible and
oracle-checkable.  Top-k-search staging (cheap exact baseline + pruned
approximate arm) follows the incremental top-k similarity-search
framing of EDBT 2020 (PAPERS.md).

One rank rule: every cosine top-k of the dense family — x05, x05b's
within-list scan, x57's routing probes and re-rank, the x57b ground
truth, x102's candidate pool and x103's re-rank — ranks on the
e6-quantized cosine floor(cos·1e6 + 0.5), descending, ties to the
smaller neighbour id.  :func:`_cosine_topk` states it for Spark and
:func:`_cosine_topk_sql` for DuckDB.  The rank reads the same integer
the row reports, so neighbours whose raw cosines differ only below
1e-6 fall to the id on both engines instead of to a last-ulp
difference.  Recall@k (:func:`_recall_at_k`) and the PQ sub-distance
frame (:func:`_pq_subdist`) are likewise stated once per engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark import registry as _registry
from fanstats_producer_spark.functions.num import qint, sql_qint
from fanstats_producer_spark.io import disk_checkpoint, load, local_frame, spread
from fanstats_producer_spark.operators.sampling import hash_bucket
from fanstats_producer_spark.registry import query


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i via zip_with + aggregate (JVM-side, no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


# --- the shared stages: exact pairs, cosine top-k, recall@k ----------------------
#: The fixture's embedding width (FIXTURES.md), every dense key's input
#: dimension.
_DIM = 64
#: The embeddings as DuckDB float64 lists, the `v` CTE the twins read.
_V_SQL = "v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v): the embeddings as float64 arrays."""
    return emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))


def _id_range(v: DataFrame, lo: int, n: int) -> DataFrame:
    """The rows of `v` with vec_id in [lo, lo + n): the fixed-id probe
    queries, routing seeds and codebooks."""
    return v.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + n))


def _exact_pairs(v: DataFrame, lo: int, n: int) -> DataFrame:
    """(query_id, neighbor_id, qv, cv): the queries vec_id in [lo, lo + n)
    against every other vector.  The query set broadcasts and the
    corpus streams through once, never shuffled."""
    q = _id_range(v, lo, n).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    return c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))


def _exact_pairs_sql(lo: int, n: int) -> str:
    """DuckDB twin of _exact_pairs over the `v` CTE."""
    return f"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.v AS qv, c.v AS cv
      FROM v q JOIN v c ON c.vec_id <> q.vec_id
      WHERE q.vec_id >= {lo} AND q.vec_id < {lo + n}"""


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos_sim_e6, rnk): the k best of each
    query's (query_id, neighbor_id, qv, cv) `pairs` under the module's
    one rank rule, by a window partitioned on query_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim_e6").desc(), F.col("neighbor_id")
    )
    return (
        pairs.select(
            "query_id",
            "neighbor_id",
            qint(cosine(F.col("qv"), F.col("cv"))).alias("cos_sim_e6"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _cosine_topk_sql(pairs: str, k: int) -> str:
    """DuckDB twin of _cosine_topk over the `pairs` SELECT."""
    return f"""SELECT query_id, neighbor_id, cos_sim_e6, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim_e6 DESC, neighbor_id) AS rnk
      FROM (SELECT query_id, neighbor_id,
                   {sql_qint("list_cosine_similarity(qv, cv)")} AS cos_sim_e6
            FROM ({pairs})))
    WHERE rnk <= {k}"""


def _recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_hit, n_exact, recall_e6): per query, how many of the
    `exact` top-k (query_id, neighbor_id) rows `approx` also returns.
    Counting is all-integer; recall is quantized to 1e-6 units."""
    hit = approx.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_hit"),
            F.count("*").cast("long").alias("n_exact"),
        )
    )
    return hits.withColumn(
        "recall_e6", qint(F.col("n_hit").cast("double") / F.col("n_exact"))
    )


def _recall_at_k_sql(exact: str, approx: str) -> str:
    """DuckDB twin of _recall_at_k over two queries that return
    (query_id, neighbor_id, ...)."""
    return f"""
    WITH exact_k AS (SELECT query_id, neighbor_id FROM ({exact})),
    approx_k AS (SELECT query_id, neighbor_id FROM ({approx})),
    hits AS (
      SELECT e.query_id, COUNT(a.neighbor_id) AS n_hit,
             COUNT(*) AS n_exact
      FROM exact_k e
      LEFT JOIN approx_k a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY 1)
    SELECT query_id, CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_exact AS BIGINT) AS n_exact,
           {sql_qint("CAST(n_hit AS DOUBLE) / n_exact")} AS recall_e6
    FROM hits
    """


# --- x05: brute-force cosine top-k (T5 exact baseline) --------------------------
_KNN_QUERIES = 3
_KNN_K = 5


@query(
    "x05_knn",
    oracle=f"""
    WITH {_V_SQL}
    {_cosine_topk_sql(_exact_pairs_sql(0, _KNN_QUERIES), _KNN_K)}
    """,
)
def x05_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spread(load(spark, sf_dir, "embeddings")))
    return _cosine_topk(_exact_pairs(v, 0, _KNN_QUERIES), _KNN_K)


# --- x05b: IVF-style partition-pruned ANN (rows-only; recall tested in pytest) ---
#: label_centroids' fixed-point unit: each centroid component is summed
#: as an integer count of 2^-30 units.
_CENTROID_SCALE = float(1 << 30)


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, centroid): per-inverted-list centroid as integer-exact
    dim means.  Each value is floor-quantized to 2^-30 units (pure IEEE
    ops, identical on every engine/version), summed as plain longs
    (order-free, exact), and divided back — so any probe argmax over
    these picks the same list on every engine/partitioning.
    round(avg(double), 9) was only probabilistically stable: partial-sum
    order could straddle a 9-dp rounding boundary (ADVICE.md r3)."""
    dims = emb.select(
        F.posexplode(_as_double(F.col("embedding"))).alias("i", "x"), "label"
    )
    return (
        dims.groupBy("label", "i")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("x") * F.lit(_CENTROID_SCALE) + F.lit(0.5)
                    ).cast("long")
                )
                .cast("double")
                / F.count("x")
                / F.lit(_CENTROID_SCALE)
            ).alias("cx")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cx"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p.cx).alias("centroid"))
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 1,
) -> DataFrame:
    """IVF search using the `label` column as the coarse quantizer's
    inverted lists (fixture labels are cluster ids; in production the
    quantizer is a k-means fit and `label` is the assigned list).

    Probing = join queries to their `n_probe` nearest centroids, then a
    co-partitioned equi-join on list id — partition pruning, not a scan.
    """
    centroids = label_centroids(emb)
    q2c = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine(F.col("qv"), F.col("centroid")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("label"))
    probes = (
        q2c.select("query_id", "qv", "label", F.row_number().over(wq).alias("pr"))
        .filter(F.col("pr") <= n_probe)
        .drop("pr")
    )
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "label"
    )
    pairs = cands.join(F.broadcast(probes), "label").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _cosine_topk(pairs, k)


# IVF with fixed probes is approximate vs brute force but fully
# DETERMINISTIC and SQL-expressible: the coarse quantizer is a per-label
# integer-exact dim-mean (label_centroids' 2^-30 quantization, engine-
# stable by construction — NOT the round-3 9-dp rounding, which was only
# probabilistically stable), the
# probe is the top-1 centroid by cosine, and the result is the exact
# top-k WITHIN the probed list — so the whole operator gets a value-hash
# oracle, not a rows-only check.  The probe ranks centroids on the raw
# cosine: it picks a list, not a returned row.
@query(
    "x05b_ivf_ann",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_KNN_QUERIES}),
    dims AS (
      SELECT label, i,
             CAST(SUM(CAST(floor(v[i+1] * {_CENTROID_SCALE} + 0.5) AS BIGINT))
                  AS DOUBLE) / COUNT(*) / {_CENTROID_SCALE} AS cx
      FROM e CROSS JOIN range({_DIM}) AS t(i)
      GROUP BY 1, 2),
    cent AS (SELECT label, list(cx ORDER BY i) AS c FROM dims GROUP BY 1),
    probe AS (
      SELECT query_id, qv, label FROM (
        SELECT q.query_id, q.qv, cent.label,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY list_cosine_similarity(q.qv, cent.c)
                                           DESC, cent.label) AS pr
        FROM q CROSS JOIN cent)
      WHERE pr = 1),
    pairs AS (
      SELECT p.query_id, e.vec_id AS neighbor_id, p.qv, e.v AS cv
      FROM probe p JOIN e ON e.label = p.label
      WHERE e.vec_id <> p.query_id)
    {_cosine_topk_sql("SELECT * FROM pairs", _KNN_K)}
    """,
)
def x05b_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # no trailing global sort (the x47 lesson): range-boundary sampling
    # re-executes the child pipeline; the driver compare is order-insensitive.
    return ivf_topk(emb, queries, k=_KNN_K, n_probe=1)


# --- x06: similarity self-join (T6; embedding-cosine near-dup) -------------------
_X06_LIMIT = 200
_X06_THRESHOLD = 0.35


@query(
    "x06_simjoin",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {_X06_LIMIT})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(floor(list_cosine_similarity(a.v, b.v) * 1e6 + 0.5) AS BIGINT)
             AS cos_sim_e6
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= {_X06_THRESHOLD}
    """,
)
def x06_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = spread(load(spark, sf_dir, "embeddings")).filter(F.col("vec_id") < _X06_LIMIT)
    a = v.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    sim = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim_raw", sim)
        .filter(F.col("cos_sim_raw") >= _X06_THRESHOLD)
        .select("id_a", "id_b", qint("cos_sim_raw").alias("cos_sim_e6"))
    )


# --- x06b: LSH-bucketed similarity self-join (scale arm; rows-only) --------------
#: BucketedRandomProjectionLSH bucket width, in Euclidean units.
_X06B_BUCKET = 0.5


def lsh_simjoin(emb: DataFrame, euclid_threshold: float = 1.2) -> DataFrame:
    """BucketedRandomProjectionLSH self-join: all pairs within a Euclidean
    threshold via bucket join (for unit-norm vectors, Euclidean distance
    and cosine are monotonically related: d² = 2 − 2·cos)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        "vec_id", array_to_vector(_as_double(F.col("embedding"))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=_X06B_BUCKET,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, euclid_threshold, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            qint("dist").alias("euclid_dist_e6"),
        )
    )


# Containment property check (the x04b pattern): BRP-LSH's seeded random
# projections are not SQL-reproducible, but its OUTPUT contract is —
# approxSimilarityJoin's distCol is the TRUE Euclidean distance, so every
# returned pair must also be an exact-join pair at the same threshold.
# The registered query returns the VIOLATION set (empty iff the LSH arm
# is sound; a hair of slack on the exact side absorbs last-ulp float
# disagreement at the boundary); the oracle states that emptiness.  The
# pair output itself stays covered by tests/test_xlayer.py.
@query(
    "x06b_lsh_simjoin",
    oracle="""
    SELECT CAST(NULL AS BIGINT) AS id_a,
           CAST(NULL AS BIGINT) AS id_b,
           CAST(NULL AS BIGINT) AS euclid_dist_e6
    WHERE false
    """,
)
def x06b_lsh_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _X06_LIMIT)
    pairs = lsh_simjoin(emb)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    d2 = F.aggregate(
        F.zip_with(
            _as_double(F.col("va")),
            _as_double(F.col("vb")),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(d2 <= F.lit(1.2000001**2))
        .select("id_a", "id_b")
    )
    # no trailing global sort (the x47 lesson): range-boundary sampling
    # re-executes the child pipeline; the driver compare is order-insensitive.
    return pairs.join(exact, ["id_a", "id_b"], "left_anti")


# --- x50: ANN recall monitoring (x05b vs the exact x05 baseline) ----------------
# The quality gauge a production ANN deployment runs continuously:
# recall@k of the IVF arm against the exact brute-force arm on a probe
# query set.  Both arms already have SQL mirrors, so the metric composes
# their REGISTERED oracles (the x45 pattern — no duplicated SQL) and is
# fully value-hash-checkable.  At 100 TB the probe set is a fixed sample
# and the exact arm runs only over it — the cost is k·|probes| scans,
# not a corpus-wide join.
@query(
    "x50_ann_recall",
    oracle=_recall_at_k_sql(
        _registry.ORACLE["x05_knn"], _registry.ORACLE["x05b_ivf_ann"]
    ),
)
def x50_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe-query recall@k of the IVF ANN arm vs the exact KNN arm."""
    return _recall_at_k(x05_knn(spark, sf_dir), x05b_ivf_ann(spark, sf_dir))


# --- x56: product-quantization ANN (ADC scan over 8x compressed codes) ----------
# The memory-compression half of a production ANN stack (IVF prunes the
# scan, PQ shrinks the residency): each 64-dim float vector is encoded
# as m=8 one-byte codes — one per 8-dim subspace — against a per-
# subspace codebook, and query-time distance is the Asymmetric Distance
# Computation: a per-query lookup table of (subspace, centroid) partial
# distances, summed per candidate via its codes.  At 100 TB this is the
# difference between 256 GB of raw float32 per billion vectors and
# 8 GB of codes resident next to the inverted lists.
#
# Determinism (the oracle contract): the codebook is NOT a k-means fit
# (k-means would need its own unrolled SQL mirror) — it is the first
# _PQ_K vectors of the corpus, sliced per subspace.  Every distance is
# an EXPLICIT left-associated chain of (a-b)*(a-b) doubles
# (identical IEEE evaluation order on both engines — no fold, no
# reassociation) quantized to 1e-9 units BEFORE any argmin/sum, so
# codes, lookup tables, and ADC sums are integer-exact cross-engine.
# The mechanics (encode -> LUT -> code-indexed sum -> top-k) are
# exactly real PQ; only the trainer is simplified.  One long
# (vec_id, j, cid, d) sub-distance frame feeds both the codes (argmin
# over cid) and the query LUTs, on both engines.
_PQ_M = 8          # subspaces (8 dims each)
_PQ_K = 16         # centroids per subspace
_PQ_QUERIES = 3    # probe queries: vec_id in [_PQ_K, _PQ_K + _PQ_QUERIES)
_PQ_TOPK = 5


def _dist2_e9(a: str, b: str, base: str, n: int) -> str:
    """SQL text both engines parse: the squared L2 distance between the
    n components of arrays `a` and `b` from index `base` on, as one
    explicit left-associated chain (the same IEEE evaluation order on
    any engine), quantized to 1e-9 units.  `base` is SQL text: a
    literal for Spark's 0-indexed arrays, an expression over the
    subspace for DuckDB's 1-indexed lists."""
    terms = " + ".join(
        f"(({a}[{base} + {i}] - {b}[{base} + {i}])"
        f" * ({a}[{base} + {i}] - {b}[{base} + {i}]))"
        for i in range(n)
    )
    return f"CAST(floor(({terms}) * 1e9 + 0.5) AS BIGINT)"


def _pq_seeds(v: DataFrame, lo: int, k: int) -> DataFrame:
    """(cid, cv): the k codebook vectors, vec_id in [lo, lo + k)."""
    return _id_range(v, lo, k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )


def _pq_subdist(vecs: DataFrame, seeds: DataFrame, m: int) -> DataFrame:
    """(vec_id, j, cid, d): for each (vec_id, v) row and each codebook
    seed (cid, cv), the squared distance between their subspace-j
    slices in 1e-9 units, over `m` equal slices of the _DIM components.
    The seeds broadcast."""
    if _DIM % m != 0:
        raise ValueError(
            f"m={m} must divide the {_DIM}-dim embedding evenly"
            " (a floor-truncated slice width would silently drop trailing"
            " dimensions from the ADC distance)"
        )
    dsub = _DIM // m
    wide = vecs.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cid",
        *[
            F.expr(_dist2_e9("v", "cv", str(j * dsub), dsub)).alias(f"d{j}")
            for j in range(m)
        ],
    )
    return wide.select(
        "vec_id",
        "cid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), F.col(f"d{j}").alias("d"))
                    for j in range(m)
                ]
            )
        ).alias("e"),
    ).select("vec_id", "e.j", "cid", "e.d")


def pq_encode(v: DataFrame, seeds: DataFrame, m: int) -> DataFrame:
    """(vec_id, j, code): each vector's nearest codebook seed per
    subspace — the argmin over the integer sub-distances, ties to the
    smaller cid.  The codebook is fixed-id corpus vectors sliced per
    subspace (the deterministic simplified trainer — see the x56 block
    comment)."""
    return (
        _pq_subdist(v, seeds, m)
        .groupBy("vec_id", "j")
        .agg(F.min(F.struct("d", "cid")).alias("best"))
        .select("vec_id", "j", F.col("best.cid").alias("code"))
    )


def _adc_sum(codes: DataFrame, v: DataFrame, seeds: DataFrame, m: int) -> DataFrame:
    """(query_id, neighbor_id, adc_e9): each PQ probe query's Asymmetric
    Distance to each candidate — the query's (j, cid) sub-distance LUT
    summed over the candidate's codes.  The LUT broadcasts and joins
    `codes` on the columns they share: (j, code), plus query_id when
    the codes are already paired with the queries whose probed lists
    hold them (x57)."""
    lut = _pq_subdist(_id_range(v, _PQ_K, _PQ_QUERIES), seeds, m).select(
        F.col("vec_id").alias("query_id"), "j", F.col("cid").alias("code"), "d"
    )
    on = [c for c in lut.columns if c in codes.columns]
    return (
        codes.join(F.broadcast(lut), on)
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").cast("long").alias("adc_e9"))
    )


def _pq_sql(cb0: int, k: int, m: int) -> str:
    """DuckDB twin of the PQ stages over the `v` CTE, codebook vec_id in
    [cb0, cb0 + k): CTEs `dists` (the long sub-distance frame), `codes`
    (argmin ties to the smaller cid, as pq_encode), `luts` and `adc`
    (the ADC sum of every probe query to every other vector)."""
    dsub = _DIM // m
    return f"""seeds AS (SELECT vec_id AS cid, v AS cv FROM v
              WHERE vec_id >= {cb0} AND vec_id < {cb0 + k}),
    dists AS (
      SELECT v.vec_id, s.cid, t.j,
             {_dist2_e9("v.v", "s.cv", f"1 + t.j * {dsub}", dsub)} AS d
      FROM v CROSS JOIN seeds s CROSS JOIN range({m}) AS t(j)),
    codes AS (
      SELECT vec_id, j, arg_min(cid, d * {k} + (cid - {cb0})) AS code
      FROM dists GROUP BY 1, 2),
    luts AS (
      SELECT vec_id AS query_id, cid, j, d
      FROM dists
      WHERE vec_id >= {_PQ_K} AND vec_id < {_PQ_K + _PQ_QUERIES}),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.d) AS adc_e9
      FROM codes c JOIN luts l ON l.j = c.j AND l.cid = c.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2)"""


@query(
    "x56_pq_ann",
    oracle=f"""
    WITH {_V_SQL},
    {_pq_sql(0, _PQ_K, _PQ_M)},
    ranked AS (
      SELECT query_id, neighbor_id, CAST(adc_e9 AS BIGINT) AS adc_e9,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_e9, neighbor_id) AS rnk
      FROM adc)
    SELECT query_id, neighbor_id, adc_e9, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {_PQ_TOPK}
    """,
)
def x56_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 ADC neighbors per probe query over PQ-encoded vectors.

    Plan shape: codes are computed once per corpus vector (the
    crossJoin against the 16-row broadcast codebook never shuffles the
    corpus); the per-query LUT is 8x16 (subspaces x codebook) integer
    partials joined onto the code table by (subspace, code) — again
    broadcastable — and the ADC sum + per-query top-k ride one partial
    aggregation.  At scale the code table is the thing that persists
    (8 B/vector) and this query is a scan over IT, not over the raw
    embeddings.  (Constants: _PQ_TOPK/_PQ_M/_PQ_K above.)"""
    v = _vectors(spread(load(spark, sf_dir, "embeddings")))
    seeds = _pq_seeds(v, 0, _PQ_K)
    adc = _adc_sum(pq_encode(v, seeds, _PQ_M), v, seeds, _PQ_M)
    w = Window.partitionBy("query_id").orderBy("adc_e9", "neighbor_id")
    return adc.select(
        "query_id", "neighbor_id", "adc_e9", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= _PQ_TOPK)


# --- x57: the COMPOSED production ANN (IVF routing -> ADC scan -> exact rerank) -
# x05b (IVF probes) and x56 (PQ/ADC) are the two halves measured alone;
# a production ANN stack runs them in sequence: the coarse quantizer
# routes each query to its n_probe nearest inverted lists, the ADC scan
# ranks ONLY those lists' members by compressed-code distance, and the
# top `shortlist` survivors get an exact-cosine re-rank over their raw
# vectors.  At 100 TB: the scan touches n_probe/n_lists of the code
# table (8 B/vector), raw floats are fetched for `shortlist` ids per
# query only, and every broadcast here (seeds, probes, LUTs,
# shortlist) is bounded by query count — the corpus never shuffles.
#
# Unlike x05b (which demos routing over the FIXTURE label — measured
# essentially uncorrelated with cosine geometry: true top-5 neighbors
# of the probe queries spread across all 10 labels), the composed arm
# builds a GEOMETRY-FAITHFUL coarse quantizer: every vector is assigned
# to its nearest routing seed by quantized cosine (deterministic
# one-assignment-step k-means with fixed-id seed init — the same
# simplified-trainer contract as the PQ codebook).  Routing quality is
# what x57b then measures.
# Parameters tuned against the fixture's measured geometry (numpy
# study, BASELINE.md): true top-5 cosine sims sit at 0.34-0.45 against
# a ~0.29 p99 bulk — barely-separated neighbors, the hard regime for
# any ANN.  The x56 defaults (m=8 subspaces, 16-entry codebook,
# shortlist 20) recall only ~0.07 here; m=16 4-dim subspaces with a
# 32-entry codebook and a 100-deep ADC shortlist lose NOTHING beyond
# routing (shortlist recall == route recall), so the default n_probe
# is set where the round-7 sweep (scripts/planted_sweep.py x57,
# X57_SWEEP_r7.json) says routing saturates: n_probe=8 of 10 lists =
# recall@5 0.933 on BOTH fixtures (planted-neighbor: 1.0) at the same
# wall-clock as n_probe=5's 0.73 — on this barely-separated fixture
# the probed-list scan is not the cost driver.  On real clustered
# embeddings the same composition runs with far smaller
# n_probe/shortlist; x57b is the dial.
_X57_NPROBE = 8
_X57_SHORTLIST = 100
_X57_LISTS = 10
_X57_SEED0 = _PQ_K + _PQ_QUERIES   # routing seeds: vec_id in [19, 29)
_X57_M = 16                        # finer subspaces than x56 (4 dims each)
_X57_K = 32                        # codebook entries per subspace
_X57_CB0 = _X57_SEED0 + _X57_LISTS  # codebook: vec_id in [29, 61)

# The oracle sums the ADC of every (query, vector) pair and keeps the
# probed lists' members afterwards; the engine prunes before the sum.
# The sum of one pair does not depend on which pairs are kept, so both
# state the same shortlist.
_X57_ORACLE = f"""
    WITH {_V_SQL},
    q AS (SELECT vec_id AS query_id, v AS qv FROM v
          WHERE vec_id >= {_PQ_K} AND vec_id < {_PQ_K + _PQ_QUERIES}),
    rseeds AS (SELECT vec_id AS list_id, v AS sv FROM v
               WHERE vec_id >= {_X57_SEED0}
                 AND vec_id < {_X57_SEED0 + _X57_LISTS}),
    assign AS (
      SELECT v.vec_id,
             arg_min(r.list_id,
                     (1000000 - CAST(floor(list_cosine_similarity(v.v, r.sv)
                                           * 1e6 + 0.5) AS BIGINT)) * 32
                     + (r.list_id - {_X57_SEED0})) AS list_id
      FROM v CROSS JOIN rseeds r
      GROUP BY 1),
    route AS (
      SELECT q.query_id, r.list_id AS neighbor_id, q.qv, r.sv AS cv
      FROM q CROSS JOIN rseeds r),
    probe AS (
      SELECT query_id, neighbor_id AS list_id
      FROM ({_cosine_topk_sql("SELECT * FROM route", _X57_NPROBE)})),
    {_pq_sql(_X57_CB0, _X57_K, _X57_M)},
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT d.query_id, d.neighbor_id,
               row_number() OVER (PARTITION BY d.query_id
                                  ORDER BY d.adc_e9, d.neighbor_id) AS rs
        FROM adc d
        JOIN assign a ON a.vec_id = d.neighbor_id
        JOIN probe p ON p.query_id = d.query_id AND p.list_id = a.list_id)
      WHERE rs <= {_X57_SHORTLIST}),
    rer AS (
      SELECT s.query_id, s.neighbor_id, q.qv, nv.v AS cv
      FROM short s
      JOIN q ON q.query_id = s.query_id
      JOIN v nv ON nv.vec_id = s.neighbor_id)
    {_cosine_topk_sql("SELECT * FROM rer", _PQ_TOPK)}
    """


def ivfpq_ann(
    spark: SparkSession,
    sf_dir: str,
    n_probe: int = _X57_NPROBE,
    shortlist: int = _X57_SHORTLIST,
    m: int = _X57_M,
) -> DataFrame:
    """Composed IVF+PQ ANN: assign every vector to its nearest routing
    seed (quantized-cosine argmax — a geometry-faithful coarse
    quantizer, see the block comment), route each probe query to its
    `n_probe` nearest seed lists, ADC-scan only those lists' PQ codes,
    keep the `shortlist` best by compressed distance, then exact-cosine
    re-rank the shortlist over raw vectors for the final top-5.  Every
    argmax / ranking stage breaks ties on id over INTEGER-quantized
    distances, so the composition is value-hash deterministic end to
    end.  `n_probe`/`shortlist`/`m` are the recall-vs-cost knobs the
    x57 sweep (scripts/planted_sweep.py x57) tunes on the planted-neighbor
    fixture; the registered key pins the defaults the oracle states.
    `m` sub-spaces re-slice the _DIM dims (dsub = _DIM/m) over the same
    [29, 61) codebook range."""
    v = _vectors(spread(load(spark, sf_dir, "embeddings")))
    queries = _id_range(v, _PQ_K, _PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # 1) route: nearest-seed list assignment for the corpus, then the
    # top-n_probe seed lists per query — same quantized-cosine metric,
    # composite-integer argmin so ties break on list id on both engines
    rseeds = _id_range(v, _X57_SEED0, _X57_LISTS).select(
        F.col("vec_id").alias("list_id"), F.col("v").alias("sv")
    )
    sim = v.crossJoin(F.broadcast(rseeds)).withColumn(
        "sim_e6", qint(cosine(F.col("v"), F.col("sv")))
    )
    assign = (
        sim.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    (
                        (F.lit(1_000_000) - F.col("sim_e6")) * 32
                        + (F.col("list_id") - _X57_SEED0)
                    ).alias("s"),
                    F.col("list_id").alias("l"),
                )
            ).alias("best")
        )
        .select("vec_id", F.col("best.l").alias("list_id"))
    )
    route = queries.crossJoin(
        F.broadcast(
            rseeds.select(
                F.col("list_id").alias("neighbor_id"), F.col("sv").alias("cv")
            )
        )
    )
    probes = _cosine_topk(route, n_probe).select(
        "query_id", F.col("neighbor_id").alias("list_id")
    )
    # 2) ADC over probed lists only: each probed vector's codes paired
    # with its query meet that query's LUT (x57's finer m=16/k=32
    # codebook — see the parameter block comment)
    codebook = _pq_seeds(v, _X57_CB0, _X57_K)
    probed = assign.join(F.broadcast(probes), "list_id").join(
        pq_encode(v, codebook, m), "vec_id"
    )
    adc = _adc_sum(probed, v, codebook, m)
    ws = Window.partitionBy("query_id").orderBy("adc_e9", "neighbor_id")
    short = (
        adc.select("query_id", "neighbor_id", F.row_number().over(ws).alias("rs"))
        .filter(F.col("rs") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # 3) exact re-rank of the shortlist over raw vectors
    nv = v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    rer = short.join(nv, "neighbor_id").join(F.broadcast(queries), "query_id")
    return _cosine_topk(rer, _PQ_TOPK)


@query("x57_ivfpq_ann", oracle=_X57_ORACLE)
def x57_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered IVF+PQ key at the oracle-stated defaults
    (n_probe=8, shortlist=100, m=16 — n_probe set where the round-7
    recall sweep saturates routing); :func:`ivfpq_ann` is the
    parameterized surface the recall sweep drives."""
    return ivfpq_ann(spark, sf_dir)


def ivfpq_recall(
    spark: SparkSession,
    sf_dir: str,
    n_probe: int = _X57_NPROBE,
    shortlist: int = _X57_SHORTLIST,
    m: int = _X57_M,
) -> DataFrame:
    """x50 extended to the composed arm: per-query recall@k of the
    IVF->ADC->rerank pipeline vs brute-force exact cosine over the SAME
    probe queries — the number a production owner tunes n_probe and
    shortlist against (scripts/planted_sweep.py x57 drives this surface over
    the planted-neighbor fixture)."""
    v = _vectors(spread(load(spark, sf_dir, "embeddings")))
    exact = _cosine_topk(_exact_pairs(v, _PQ_K, _PQ_QUERIES), _PQ_TOPK)
    return _recall_at_k(exact, ivfpq_ann(spark, sf_dir, n_probe, shortlist, m))


@query(
    "x57b_ivfpq_recall",
    oracle=_recall_at_k_sql(
        f"""WITH {_V_SQL}
    {_cosine_topk_sql(_exact_pairs_sql(_PQ_K, _PQ_QUERIES), _PQ_TOPK)}""",
        _registry.ORACLE["x57_ivfpq_ann"],
    ),
)
def x57b_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered recall monitor at the oracle-stated defaults; see
    :func:`ivfpq_recall` for the parameterized sweep surface."""
    return ivfpq_recall(spark, sf_dir)


# --- x66: semantic decontamination (embedding-space eval-set removal) ------------
#
# The embedding-space sibling of x27's n-gram decontamination: instead
# of shared shingles, a training document is contaminated when its
# embedding lies too close (cosine) to any held-out eval vector — the
# check that catches paraphrased or reformatted benchmark leakage that
# exact n-grams miss.  Scale shape mirrors x27: the EVAL SET is the
# small side and broadcasts; the corpus streams through one scan with a
# per-row max over the broadcast vectors — the corpus never shuffles,
# and the per-doc argmax is a partition-local window over the hash
# partitioning `spread` already established.

_X66_N_EVAL = 20
_X66_THRESH_E6 = 350_000  # cosine >= 0.35 (e6-quantized -> integer-exact flag)


@query(
    "x66_semantic_decontam",
    oracle=f"""
    WITH e AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS ev
               FROM embeddings WHERE vec_id < {_X66_N_EVAL}),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id >= {_X66_N_EVAL}),
         scored AS (
           SELECT c.vec_id, e.eval_id,
                  CAST(floor(list_cosine_similarity(c.v, e.ev) * 1e6 + 0.5)
                       AS BIGINT) AS sim_e6
           FROM c CROSS JOIN e),
         ranked AS (
           SELECT vec_id, eval_id, sim_e6,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim_e6 DESC, eval_id) AS rnk
           FROM scored)
    SELECT vec_id,
           eval_id AS nearest_eval_id,
           sim_e6 AS max_sim_e6,
           CAST(sim_e6 >= {_X66_THRESH_E6} AS INT) AS contaminated
    FROM ranked WHERE rnk = 1
    """,
)
def x66_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x66: per-corpus-vector max cosine against the broadcast eval
    set, nearest eval id (ties broken by id), and an integer-exact
    contamination flag (the threshold compares the e6-QUANTIZED
    similarity, so the keep/drop decision can never straddle a float
    rounding boundary between engines).  Downstream, `contaminated = 0`
    is the release filter — kept as a flag here so the monitor view
    (how MUCH leaked, and near which eval items) rides the same scan."""
    emb = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    evals = emb.filter(F.col("vec_id") < _X66_N_EVAL).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("ev")
    )
    corpus = emb.filter(F.col("vec_id") >= _X66_N_EVAL).select(
        "vec_id", F.col("embedding").alias("v")
    )
    scored = corpus.join(F.broadcast(evals)).withColumn(
        # rank on the e6-QUANTIZED similarity (the x57 pattern): two
        # eval vectors with near-equal raw cosine would otherwise pick
        # engine-dependent winners; on the integer grid ties collapse
        # deterministically to the eval_id tie-break in both engines.
        "sim_e6",
        qint(cosine(F.col("v"), F.col("ev"))),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim_e6").desc(), F.col("eval_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "vec_id",
            F.col("eval_id").alias("nearest_eval_id"),
            F.col("sim_e6").alias("max_sim_e6"),
            (F.col("sim_e6") >= F.lit(_X66_THRESH_E6))
            .cast("int")
            .alias("contaminated"),
        )
    )


def semantic_decontam_gate(vectors: DataFrame, evs_row: DataFrame) -> Column:
    """x66's decision as a STATELESS batch/stream-shared filter stage
    (the s24 one-codepath pattern, llm_data.contamination_gate).

    `evs_row` is a ONE-ROW frame with column `evs`
    array<struct<eval_id, ev array<double>>> — the eval matrix riding
    as broadcast DATA (never as literals; BASELINE.md expression-tree
    lesson).  Each incoming vector cross-joins the row and reduces the
    eval array with a composite-integer array_min (the x84 argmax
    pattern): (1e6 - sim_e6)·1e10 + eval_id, so nearest-eval choice
    and the contamination flag are integer-exact and therefore
    BATCH-SLICING-INVARIANT — any micro-batch partitioning of the
    corpus yields identical verdicts, no drain precondition.

    The per-row reduction is interpreted HOF work (~8k ops/row at 20
    evals × 64 dims — fine for a benchmark-sized eval set; for eval
    suites in the thousands, run :func:`decontam_blas` in foreachBatch
    instead, as s26b does)."""
    joined = vectors.crossJoin(F.broadcast(evs_row))
    comp = F.array_min(
        F.transform(
            F.col("evs"),
            lambda e: (F.lit(1_000_000) - qint(cosine(F.col("embedding"), e["ev"])))
            * F.lit(10_000_000_000)
            + e["eval_id"],
        )
    )
    # decode with integer `div`, never float `/`: comp reaches ~2e16 >
    # 2^53, where a double round-trip can be off by one
    sim = F.lit(1_000_000) - F.expr("comp div 10000000000")
    return (
        joined.withColumn("comp", comp)
        .select(
            "vec_id",
            (F.col("comp") % F.lit(10_000_000_000)).alias("nearest_eval_id"),
            sim.alias("max_sim_e6"),
            (sim >= F.lit(_X66_THRESH_E6)).cast("int").alias("contaminated"),
        )
    )


#: BLAS-arm guard: the eval suite must be the SMALL side — 2e5 x 64
#: float64 = 102 MB on the driver/executors; beyond that, shard the
#: suite and union the per-shard verdicts (min composite re-reduces)
_DECONTAM_MAX_EVALS = 200_000


def decontam_blas_prepare(spark, evals: DataFrame) -> tuple:
    """Collect + broadcast the eval matrix ONCE for the blas arm —
    returned handles feed any number of decontam_blas calls
    (a long-running stream must NOT re-collect per micro-batch; the
    r10 review caught exactly that in foreachBatch).  Raises on an
    empty or oversized suite and on zero-norm eval vectors (a zero
    vector has no cosine direction — silently NaN-poisoning every
    verdict is the failure mode this guard makes loud)."""
    import numpy as np

    rows = evals.select("eval_id", "ev").collect()
    if not rows:
        raise ValueError("blas decontam arm: empty eval suite")
    if len(rows) > _DECONTAM_MAX_EVALS:
        raise ValueError(
            f"blas decontam arm collected {len(rows)} eval vectors >"
            f" {_DECONTAM_MAX_EVALS}; shard the suite and union the"
            " per-shard verdicts instead"
        )
    ids = np.asarray([r["eval_id"] for r in rows], dtype=np.int64)
    m = np.asarray([r["ev"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    if not np.all(nrm > 0):
        bad = ids[(nrm[:, 0] == 0)].tolist()[:5]
        raise ValueError(
            f"blas decontam arm: zero-norm eval vectors {bad} — cosine"
            " is undefined for them; drop or re-embed"
        )
    # broadcast the RAW matrix: the boundary-rescue path (see
    # decontam_blas) re-derives the fold-exact cosine from raw
    # components; workers normalize once per task for the fast path
    b_ids = spark.sparkContext.broadcast(ids)
    b_m = spark.sparkContext.broadcast(m)  # (n_eval, dim), raw
    return b_ids, b_m


#: Boundary guard band for the blas arm's exact-rescue pass, in units
#: of sim·1e6 (so 1e-4 here = the fast sim within 1e-10 of a floor
#: boundary in cosine units).  The fast path's total deviation from the
#: fold-exact value — 64-term dgemm reassociation (≤ n·eps·Σ|x·y| ≈
#: 1.4e-14 for normalized rows) plus the normalize-first restructuring
#: (~a few ulps relative ≈ 1e-15) — is < 1e-13, a 1000× safety margin
#: under the band.  Any entry OUTSIDE the band therefore provably
#: floors to the same e6 integer as the fold; entries inside it are
#: recomputed with the fold's exact scalar sequence.
_BLAS_RESCUE_BAND_E6 = 1e-4
# per-block score-matrix area for the blas arms (rows x n_eval cells):
# bounds every worker's live numpy temporaries (~5 arrays x 8 B x cells
# = ~300 MB) independent of eval-suite size — see decontam_blas
_BLAS_BLOCK_CELLS = 8_000_000


def _fold_cosine(a, b) -> float:
    """The scalar reference for cosine(): sequential left-to-right
    dot folds starting at 0.0, then dot/(sqrt·sqrt) — the SAME IEEE
    ops in the SAME order as the Spark HOF arm and DuckDB's
    list_cosine_similarity, so its result is bit-identical to both."""
    import math

    d = n2a = n2b = 0.0
    for x, y in zip(a, b):
        d += x * y
        n2a += x * x
        n2b += y * y
    return d / (math.sqrt(n2a) * math.sqrt(n2b))


def decontam_blas(
    vectors: DataFrame,
    evals: DataFrame,
    prepared: tuple | None = None,
    band: float = _BLAS_RESCUE_BAND_E6,
) -> DataFrame:
    """x66's decision for LARGE eval suites (s26b): the eval matrix as
    one broadcast numpy array, per-batch 1024-row-block float64
    matmul, composite-integer argmin decode — the same decision as
    semantic_decontam_gate (floor(sim·1e6+0.5), then the
    (1e6−sim_e6)·1e10+eval_id argmin), so verdicts match it bitwise
    (parity pytest).

    `vectors` columns: (vec_id, embedding); `evals` columns: (eval_id,
    ev array<double>), collected ONCE to the driver — the SMALL side,
    guarded by decontam_blas_prepare — unless `prepared` handles are
    passed.  Works on batch frames; streams call it per micro-batch in
    foreachBatch (the verdict is per-arriving-row, so batch-local
    evaluation is exact and batch-slicing-invariant).

    MEASURED (round 10, local[32]): the SQL expression forms — the
    interpreted HOF gate and a codegen'd broadcast cross-join with a
    struct-min re-aggregate — are both bound on the per-pair cosine
    expression and both take ~125 s at 10k evals × 10k vectors; this
    matmul takes 1.9 s on the same input.

    FOLD-EXACT BY CONSTRUCTION (closes the r10 ulp watch item): after
    the fast matmul, every entry whose sim·1e6+0.5 lands within
    ``_BLAS_RESCUE_BAND_E6`` of an integer (a floor boundary) is
    recomputed with :func:`_fold_cosine` — the fold arm's exact scalar
    sequence over the RAW components.  Outside the band the fast and
    fold values provably floor to the same e6 integer (error budget in
    the band comment), so the emitted verdicts are bit-identical to
    the HOF gate on EVERY input, not just measured-equal on the
    fixtures.  Expected rescue count: the band admits ~2·band of
    the e6 grid per entry (≈2e-4 of entries), each costing one 64-term
    scalar fold — vectorized-comparison-cheap at any scale.

    PARALLELISM (r12 sf10 finding): a file-source micro-batch often
    arrives in ONE input split (a ~55 MB parquet file = 1 partition),
    which serializes the whole matmul on a single Python worker —
    measured at sf10 (100k vectors × 100k evals) the one-worker score
    ran >30 min where the per-core work is ~1 min.  The scorer is
    CPU-bound and row-local (verdicts are partitioning-invariant), so
    a single-partition batch is repartitioned to the cluster's default
    parallelism first: an MB-scale shuffle buying a core-count speedup
    of the TFLOP-scale matmul.  At 100 TB the batch arrives in many
    splits and the repartition is a no-op branch."""
    import numpy as np

    sc = vectors.sparkSession.sparkContext
    target = max(int(sc.defaultParallelism), 1)
    if vectors.rdd.getNumPartitions() < target:
        vectors = vectors.repartition(target)

    b_ids, b_m = prepared or decontam_blas_prepare(
        vectors.sparkSession, evals
    )

    def score(batches):
        import pandas as pd

        m_raw, eids = b_m.value, b_ids.value
        mt = (m_raw / np.linalg.norm(m_raw, axis=1, keepdims=True)).T
        mt = np.ascontiguousarray(mt)  # (dim, n_eval)
        # AREA-capped block (r12 sf10 finding): the block's row count
        # must shrink as the eval suite grows, or the per-worker
        # temporaries (sim/x/q/comp, each rows x n_eval x 8 B) scale
        # with |evals| — at 100k evals the old fixed 1024 rows meant
        # ~3 GB per worker, which x32 parallel workers OOM-killed the
        # host.  _BLAS_BLOCK_CELLS x 8 B x ~5 live arrays bounds each
        # worker near 300 MB at ANY eval-suite size; the row cap keeps
        # small suites on the old 1024-row blocks.
        rows_per_blk = max(1, min(1024, _BLAS_BLOCK_CELLS // len(eids)))
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for lo in range(0, len(pdf), rows_per_blk):
                blk = pdf.iloc[lo : lo + rows_per_blk]
                vr = np.stack(blk["embedding"].to_numpy()).astype(
                    np.float64
                )
                vn = np.linalg.norm(vr, axis=1, keepdims=True)
                if not np.all(vn > 0):
                    bad = blk["vec_id"].to_numpy()[
                        vn[:, 0] == 0
                    ].tolist()[:5]
                    raise ValueError(
                        f"blas decontam arm: zero-norm vectors {bad} —"
                        " cosine undefined; filter them upstream"
                    )
                sim = (vr / vn) @ mt
                x = sim * 1e6 + 0.5
                near = np.abs(x - np.rint(x)) < band
                if near.any():
                    for r, c in zip(*np.nonzero(near)):
                        x[r, c] = (
                            _fold_cosine(vr[r], m_raw[c]) * 1e6 + 0.5
                        )
                q = np.floor(x).astype(np.int64)
                comp = (1_000_000 - q) * 10_000_000_000 + eids[None, :]
                best = comp.min(axis=1)
                s = 1_000_000 - best // 10_000_000_000
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": blk["vec_id"].to_numpy(),
                            "nearest_eval_id": best % 10_000_000_000,
                            "max_sim_e6": s,
                            "contaminated": (
                                s >= _X66_THRESH_E6
                            ).astype("int32"),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return vectors.select("vec_id", "embedding").mapInPandas(
        score,
        schema=(
            "vec_id long, nearest_eval_id long, max_sim_e6 long,"
            " contaminated int"
        ),
    )


def eval_matrix_row(emb: DataFrame) -> DataFrame:
    """The broadcastable one-row eval matrix (vec_id < _X66_N_EVAL) for
    semantic_decontam_gate:
    array_sort(collect_list(struct(eval_id, ev))) — deterministic
    content, no driver collect (the aggregation stays distributed and
    only the single array row broadcasts)."""
    return (
        emb.filter(F.col("vec_id") < _X66_N_EVAL)
        .select(
            F.struct(
                F.col("vec_id").alias("eval_id"),
                _as_double(F.col("embedding")).alias("ev"),
            ).alias("e")
        )
        .agg(F.array_sort(F.collect_list("e")).alias("evs"))
    )


# --- x82: sparse text similarity via feature hashing ----------------------------
# The SPARSE complement to the dense x05/x57 family: documents become
# hashed TF vectors (the feature-hashing trick — md5 token buckets, no
# vocabulary build) and cosine runs as a POSTINGS JOIN: dot products
# only materialize where query and candidate share a feature, so the
# corpus side is never shuffled pairwise — the tiny query-side postings
# broadcast, one (query, doc) aggregate scores everything.  This is the
# scale shape of every sparse retriever (TF-IDF/BM25 engines): at 100 TB
# the corpus postings stay partitioned by feature on disk and each query
# batch streams through them.  Norms are per-doc scalars computed once.
# Cosine is stated over exact integer counts (sum of c_q*c_d over shared
# features / sqrt products), quantized e6 before the top-k rank, ties to
# doc_id — identical winners on both engines.
_X82_FEATS = 64  # hashed feature space
_X82_QUERIES = 3  # probe: doc_id 0..2
_X82_TOPK = 5


def _x82_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, feature, c) hashed term counts + per-doc norm column."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    feats = toks.select(
        "doc_id", hash_bucket(F.col("tok"), _X82_FEATS).alias("feature")
    )
    return feats.groupBy("doc_id", "feature").agg(
        F.count("*").alias("c")
    )


@query(
    "x82_sparse_text_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    post AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
               % {_X82_FEATS} AS feature,
             COUNT(*) AS c
      FROM toks WHERE len(tok) > 0 GROUP BY 1, 2),
    norms AS (
      SELECT doc_id, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS nrm
      FROM post GROUP BY 1),
    dots AS (
      SELECT q.doc_id AS query_id, d.doc_id AS cand_id,
             SUM(q.c * d.c) AS dot
      FROM post q JOIN post d USING (feature)
      WHERE q.doc_id < {_X82_QUERIES} AND d.doc_id != q.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT dots.query_id, dots.cand_id,
             CAST(floor(CAST(dots.dot AS DOUBLE)
                        / (nq.nrm * nc.nrm) * 1000000 + 0.5) AS BIGINT)
               AS cos_e6
      FROM dots
      JOIN norms nq ON nq.doc_id = dots.query_id
      JOIN norms nc ON nc.doc_id = dots.cand_id)
    SELECT query_id, cand_id, cos_e6 FROM (
      SELECT query_id, cand_id, cos_e6,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos_e6 DESC, cand_id) AS rnk
      FROM scored)
    WHERE rnk <= {_X82_TOPK}
    """,
)
def x82_sparse_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Materialize the postings ONCE: four consumers (corpus join side,
    # query postings, both norm tables) would otherwise each re-run the
    # explode+aggregate from the raw scan (measured: 8 parquet scans in
    # the un-checkpointed plan).  At 100 TB this table is the persisted
    # index a sparse retriever maintains, not a per-query recompute.
    post = disk_checkpoint(_x82_postings(docs))
    norms = post.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("nrm")
    )
    qpost = post.filter(F.col("doc_id") < _X82_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        "feature",
        F.col("c").alias("qc"),
    )
    dots = (
        post.join(F.broadcast(qpost), "feature")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("cand_id"))
        .agg(F.sum(F.col("qc") * F.col("c")).alias("dot"))
    )
    qnorms = norms.filter(F.col("doc_id") < _X82_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("nrm").alias("qn")
    )
    scored = (
        dots.join(F.broadcast(qnorms), "query_id")
        .join(norms, dots.cand_id == norms.doc_id)
        .select(
            "query_id",
            "cand_id",
            F.floor(
                F.col("dot").cast("double")
                / (F.col("qn") * F.col("nrm"))
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_e6").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _X82_TOPK)
        .select("query_id", "cand_id", "cos_e6")
    )


# --- x84: contrastive hard-negative mining --------------------------------------
# Retrieval-training data prep: for each anchor query, the best
# SAME-label neighbor (the positive) and the best DIFFERENT-label
# neighbor (the HARD negative — the impostor closest to the anchor,
# exactly what contrastive/triplet training wants in the batch) plus
# the margin between them.  Negative margin = the impostor outranks the
# positive: the classic hard case worth oversampling.  Plan shape is
# x05's: the 3-row anchor set broadcasts with its labels, the corpus
# streams once, and the per-(anchor, side) argmax is a composite-
# integer MIN aggregate (quantized sim, id tie-break) — map-side
# combinable, no window over the corpus-sized frame.
_X84_QUERIES = 3


@query(
    "x84_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
          FROM e WHERE vec_id >= 16 AND vec_id < {16 + _X84_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             CAST(floor(list_cosine_similarity(q.qv, e.v) * 1e6 + 0.5)
                  AS BIGINT) AS sim_e6,
             CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS same
      FROM q JOIN e ON e.vec_id != q.query_id),
    best AS (
      SELECT query_id, same,
             MIN((1000000 - sim_e6) * 10000000000 + cand_id) AS bkey
      FROM scored GROUP BY 1, 2)
    SELECT b1.query_id,
           CAST(b1.bkey % 10000000000 AS BIGINT) AS pos_id,
           CAST(1000000 - b1.bkey // 10000000000 AS BIGINT) AS pos_sim_e6,
           CAST(b0.bkey % 10000000000 AS BIGINT) AS neg_id,
           CAST(1000000 - b0.bkey // 10000000000 AS BIGINT) AS neg_sim_e6,
           CAST((1000000 - b1.bkey // 10000000000)
                - (1000000 - b0.bkey // 10000000000) AS BIGINT) AS margin_e6
    FROM best b1 JOIN best b0 USING (query_id)
    WHERE b1.same = 1 AND b0.same = 0
    """,
)
def x84_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load(spark, sf_dir, "embeddings"))
    base = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    q = base.filter(
        (F.col("vec_id") >= 16) & (F.col("vec_id") < 16 + _X84_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            qint(cosine(F.col("qv"), F.col("v"))).alias("sim_e6"),
            F.when(F.col("label") == F.col("qlabel"), 1)
            .otherwise(0)
            .alias("same"),
        )
    )
    best = scored.groupBy("query_id", "same").agg(
        F.min(
            # 1e10 id headroom: composite stays < 2e16 << LONG_MAX even
            # with negative cosines, and survives 10^10-vector corpora
            (F.lit(1_000_000) - F.col("sim_e6")) * F.lit(10_000_000_000)
            + F.col("cand_id")
        ).alias("bkey")
    )
    b1 = best.filter(F.col("same") == 1).select(
        "query_id",
        (F.col("bkey") % 10_000_000_000).cast("long").alias("pos_id"),
        (F.lit(1_000_000) - F.expr("bkey DIV 10000000000"))
        .cast("long")
        .alias("pos_sim_e6"),
    )
    b0 = best.filter(F.col("same") == 0).select(
        "query_id",
        (F.col("bkey") % 10_000_000_000).cast("long").alias("neg_id"),
        (F.lit(1_000_000) - F.expr("bkey DIV 10000000000"))
        .cast("long")
        .alias("neg_sim_e6"),
    )
    return (
        b1.join(b0, "query_id")
        .select(
            "query_id",
            "pos_id",
            "pos_sim_e6",
            "neg_id",
            "neg_sim_e6",
            (F.col("pos_sim_e6") - F.col("neg_sim_e6"))
            .cast("long")
            .alias("margin_e6"),
        )
    )


# --- x93: int8 scalar quantization of embeddings --------------------------------
# The storage-compression primitive every vector index ships (FAISS
# ScalarQuantizer, public): per-DIMENSION min/max over the corpus, then
# each value maps to an 8-bit code round((v-min)/(max-min)*255).  4x
# smaller than float32 with bounded reconstruction error — the error
# itself is part of the output (max abs error per vector, e9-quantized),
# because that is the number an index operator reads before deciding
# int8 is safe.  Scale shape: one explode+aggregate for the 64-row
# stats table (which then BROADCASTS — it is dimension-sized, never
# corpus-sized), one joined scan for the codes; nothing corpus-sized
# shuffles except the (vec_id, dim) explode feeding the final per-vec
# regroup, and at 100 TB the explode can be replaced by the HOF form
# over the broadcast stats row with zero shuffle.
# Cross-engine exactness: every arithmetic step is an IEEE
# correctly-rounded double op written in the SAME order in both
# engines ((v-min)/(max-min)*255, then floor(x+0.5); reconstruction
# min + code*(max-min)/255.0), so codes and the e9-quantized error
# match bit-for-bit — the same argument as qint itself.


@query(
    "x93_int8_embed_quant",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    flat AS (
      SELECT vec_id,
             unnest(range(1, len(v) + 1)) AS dim,
             unnest(v) AS val
      FROM e),
    stats AS (
      SELECT dim, MIN(val) AS lo, MAX(val) AS hi FROM flat GROUP BY 1),
    coded AS (
      SELECT f.vec_id, f.dim,
             CASE WHEN s.hi > s.lo
                  THEN CAST(floor((f.val - s.lo) / (s.hi - s.lo) * 255
                                  + 0.5) AS BIGINT)
                  ELSE 0 END AS code,
             s.lo, s.hi
      FROM flat f JOIN stats s USING (dim)),
    errs AS (
      SELECT vec_id, dim, code,
             abs(f2.val - (c.lo + c.code * (c.hi - c.lo) / 255.0)) AS err
      FROM coded c JOIN flat f2 USING (vec_id, dim))
    SELECT vec_id,
           md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim))
             AS codes_md5,
           CAST(floor(MAX(err) * 1e9 + 0.5) AS BIGINT) AS max_err_e9
    FROM errs GROUP BY 1
    """,
)
def x93_int8_embed_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load(spark, sf_dir, "embeddings"), "vec_id")
    flat = emb.select(
        "vec_id",
        F.posexplode(_as_double(F.col("embedding"))).alias("p", "val"),
    ).select("vec_id", (F.col("p") + 1).alias("dim"), "val")
    stats = flat.groupBy("dim").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    coded = flat.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        "val",
        "lo",
        "hi",
        F.when(
            F.col("hi") > F.col("lo"),
            F.floor(
                (F.col("val") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * F.lit(255)
                + F.lit(0.5)
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("code"),
    )
    errs = coded.withColumn(
        "err",
        F.abs(
            F.col("val")
            - (
                F.col("lo")
                + F.col("code") * (F.col("hi") - F.col("lo")) / F.lit(255.0)
            )
        ),
    )
    per_vec = errs.groupBy("vec_id").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "code"))
                    ),
                    lambda s: s["code"].cast("string"),
                ),
            )
        ).alias("codes_md5"),
        F.floor(F.max("err") * F.lit(1e9) + F.lit(0.5))
        .cast("long")
        .alias("max_err_e9"),
    )
    return per_vec


# --- x98: Johnson-Lindenstrauss random projection (deterministic signs) ----------
# The dimensionality-reduction primitive in front of every large-scale
# ANN/clustering stage (Achlioptas 2001, public: ±1 sign matrices
# satisfy the JL lemma — no Gaussians needed).  Production stacks draw
# the matrix from an RNG and ship it alongside the index; here the
# sign s(j,i) IS a pure function of the coordinate pair — parity of
# md5(f"{j}:{i}")'s first hex digit — so the projection needs no
# side-channel matrix file, any engine regenerates it bit-identically,
# and the oracle check covers the whole pipeline (matrix + arithmetic).
# Exactness: inputs quantize to integer micros (floor(v·1e6+0.5) — one
# IEEE-exact double op on the float32 value), then every remaining step
# is BIGINT multiply/add — no float sum ordering anywhere, the x93
# argument.  Downstream consumers use components unscaled (the JL
# 1/sqrt(d') scale is monotone — rankings and relative distances are
# unaffected; apply it at read time if absolute distances matter).
#
# Scale shape: the 16-row sign matrix builds once and BROADCASTS; the
# corpus side is one narrow explode (×16) with a per-row zip_with/
# aggregate multiply-add — NO shuffle at all (plan: scan → generate →
# broadcast join → project), embarrassingly parallel at 100 TB.
_X98_OUT = 16


def jl_project(vectors: DataFrame, out_dim: int = _X98_OUT) -> DataFrame:
    """(vec_id, dim, comp_e6): integer-exact ±1 random projection of
    `embedding` into `out_dim` components.

    Assumes every embedding has exactly ``_DIM`` components (the
    fixture's 64): the ±1 sign matrix is built ONCE from the
    (out_dim × _DIM) coordinate grid and broadcast — a pure function
    of (j, i), never sampled from the data (an earlier draft read the
    length off ``vectors.limit(1)``, an arbitrary row).  A per-row
    assert_true trips the job on any mismatched row rather than
    letting zip_with pad a silent NULL component."""
    spark = vectors.sparkSession
    # sign row per output dim j: [s(j,0) … s(j,_DIM-1)]
    sign = lambda j, i: (
        F.lit(1)
        - F.lit(2)
        * (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            j.cast("string"), F.lit(":"), i.cast("string")
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
    )
    dims = (
        spark.range(out_dim)
        .select(F.col("id").cast("int").alias("dim"))
        .select(
            "dim",
            F.transform(
                F.sequence(F.lit(0), F.lit(_DIM - 1)),
                lambda i: sign(F.col("dim"), i),
            ).alias("signs"),
        )
    )
    q = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
            "long"
        ),
    )
    guard = F.assert_true(
        F.size("embedding") == _DIM,
        F.lit(f"jl_project: embedding length != {_DIM}"),
    )
    return (
        vectors.select("vec_id", F.when(guard.isNull(), q).alias("q"))
        .crossJoin(F.broadcast(dims))
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.aggregate(
                F.zip_with("q", "signs", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("comp_e6"),
        )
    )


def _x98_oracle_sql(out_dim: int) -> str:
    """The JL-projection oracle at an arbitrary width — x98 registers
    it at ``_X98_OUT``; x103 composes it at its own ``_X103_OUT`` (the
    sweep knee), so the two keys' widths can differ without the
    engine/oracle pair desyncing."""
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    flat AS (
      SELECT vec_id,
             unnest(range(1, len(v) + 1)) - 1 AS i,
             unnest(v) AS val
      FROM e),
    q AS (
      SELECT vec_id, i, CAST(floor(val * 1e6 + 0.5) AS BIGINT) AS qv
      FROM flat),
    proj AS (
      SELECT q.vec_id, t.j AS dim,
             SUM(qv * (1 - 2 * (CAST(('0x' || substr(md5(
                    CAST(t.j AS VARCHAR) || ':' || CAST(q.i AS VARCHAR)
                  ), 1, 1)) AS INT) % 2))) AS comp_e6
      FROM q CROSS JOIN range({out_dim}) AS t(j)
      GROUP BY 1, 2)
    SELECT vec_id, CAST(dim AS INT) AS dim,
           CAST(comp_e6 AS BIGINT) AS comp_e6
    FROM proj
    """


@query(
    "x98_random_projection",
    oracle=_x98_oracle_sql(_X98_OUT),
)
def x98_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x98: 64→``_X98_OUT`` (16) JL projection of the embeddings
    table with md5-derived ±1 signs — bit-exact across engines
    because the only float op is the per-element
    micro-quantization."""
    return jl_project(load(spark, sf_dir, "embeddings"))


# --- x102: MMR diversified top-k re-ranking -------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998, public) — the
# standard diversified-retrieval step between ANN candidate generation
# and a RAG/search result list: greedily pick the candidate maximizing
# lambda·rel(c) - (1-lambda)·max_{s in S} sim(c, s), so each pick is
# relevant AND far from what's already selected.  Here lambda = 0.7
# stated in integer tenths: score = 7·rel_e6 - 3·maxsim_e6 with
# rel/sim the e6-quantized cosines (the x05 parity pairing), ties to
# the smallest candidate id, maxsim = 0 for the first pick — so the
# whole greedy trajectory is integer-deterministic and the oracle can
# UNROLL it (k chained CTEs, one per pick).
#
# Scale shape: candidate generation is x05's broadcast-join scan with a
# per-query top-P window (P = {P}); everything after runs on P rows per
# query — the pool self-join for pairwise sims is P² per query
# (bounded, never corpus-sized), and each greedy step is a keyed join +
# row_number on the pool.  The k-step loop builds PLAN, not actions:
# no driver round trips, one job end to end.
_X102_QUERIES = 3
_X102_POOL = 12
_X102_K = 4


def mmr_rerank(emb: DataFrame, driver_threshold: int = 100_000) -> DataFrame:
    """(query_id, rnk, picked_id, mmr_score_e6): the greedy MMR
    selection trajectory (_X102_K picks) over each of the first
    _X102_QUERIES queries' top-_X102_POOL cosine candidates.

    Size-gated driver fast path (the connected_components pattern):
    the greedy loop operates on _X102_QUERIES x _X102_POOL scored rows
    — integer state only (rel_e6/sim_e6 are Spark-computed quantized
    ints, the updates are int max/multiply) — so when that bounded
    frame fits on the driver the _X102_K selection steps run as
    pure-Python integer math instead of ~3k tiny checkpointed Spark
    jobs (measured 1.9 s -> ~0.5 s at the x102 constants).  Identical
    output by induction: the same (7*rel - 3*ms, cand_id) argmax over
    the same integers.  Past the threshold the distributed loop below
    runs unchanged — the 100 TB arm."""
    v = _vectors(emb)
    pool = _cosine_topk(_exact_pairs(v, 0, _X102_QUERIES), _X102_POOL)
    pool_df = (
        v.join(F.broadcast(pool), F.col("vec_id") == F.col("neighbor_id"))
        .select(
            "query_id",
            F.col("neighbor_id").alias("cand_id"),
            F.col("cos_sim_e6").alias("rel_e6"),
            F.col("v").alias("cv"),
        )
        .localCheckpoint(eager=True)  # P rows/query feed every step
    )
    if _X102_QUERIES * _X102_POOL <= driver_threshold:
        spark = emb.sparkSession
        psim_rows = (
            pool_df.alias("a")
            .join(pool_df.alias("b"), "query_id")
            .filter(F.col("a.cand_id") != F.col("b.cand_id"))
            .select(
                "query_id",
                F.col("a.cand_id").alias("a_id"),
                F.col("b.cand_id").alias("b_id"),
                qint(cosine(F.col("a.cv"), F.col("b.cv"))).alias("sim_e6"),
            )
            .collect()
        )
        sim = {(r.query_id, r.a_id, r.b_id): r.sim_e6 for r in psim_rows}
        state: dict[int, dict[int, list[int]]] = {}
        for r in pool_df.select("query_id", "cand_id", "rel_e6").collect():
            state.setdefault(r.query_id, {})[r.cand_id] = [r.rel_e6, 0]
        out_rows = []
        for qid in sorted(state):
            cands = state[qid]
            for j in range(1, _X102_K + 1):
                if not cands:
                    break
                picked, mmr = None, None
                for cid in sorted(cands):
                    rel, ms = cands[cid]
                    m = 7 * rel - 3 * ms
                    if mmr is None or m > mmr:
                        picked, mmr = cid, m
                out_rows.append(
                    dict(query_id=qid, rnk=j, picked_id=picked, mmr_score_e6=mmr)
                )
                del cands[picked]
                for cid, st in cands.items():
                    s = sim.get((qid, cid, picked), 0)
                    if s > st[1]:
                        st[1] = s
        return local_frame(
            spark,
            out_rows,
            "query_id long, rnk int, picked_id long, mmr_score_e6 long",
        )
    a = pool_df.select(
        "query_id", F.col("cand_id").alias("a_id"), F.col("cv").alias("av")
    )
    b = pool_df.select(
        "query_id", F.col("cand_id").alias("b_id"), F.col("cv").alias("bv")
    )
    psim = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            qint(cosine(F.col("av"), F.col("bv"))).alias("sim_e6"),
        )
        # P²-per-query rows; eager checkpoint so the 2k-step lineage
        # below never re-derives the cosine self-join (measured: the
        # un-truncated 4-step DAG cost ~20 s of Catalyst re-analysis
        # on 36 pool rows)
        .localCheckpoint(eager=True)
    )
    state = pool_df.select(
        "query_id", "cand_id", "rel_e6", F.lit(0).cast("long").alias("ms")
    )
    picks = []
    for j in range(1, _X102_K + 1):
        sc = state.withColumn(
            "mmr", 7 * F.col("rel_e6") - 3 * F.col("ms")
        )
        wj = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), F.col("cand_id").asc()
        )
        pick = (
            sc.withColumn("r", F.row_number().over(wj))
            .filter(F.col("r") == 1)
            .select(
                "query_id",
                F.lit(j).alias("rnk"),
                F.col("cand_id").alias("picked_id"),
                F.col("mmr").alias("mmr_score_e6"),
            )
        )
        pick = pick.localCheckpoint(eager=True)  # reused twice below
        picks.append(pick)
        if j < _X102_K:
            newsim = psim.join(
                pick.select("query_id", F.col("picked_id").alias("b_id")),
                ["query_id", "b_id"],
            ).select(
                "query_id", F.col("a_id").alias("cand_id"),
                F.col("sim_e6").alias("ps")
            )
            state = (
                state.join(
                    pick.select(
                        "query_id", F.col("picked_id").alias("cand_id")
                    ).withColumn("gone", F.lit(1)),
                    ["query_id", "cand_id"],
                    "left",
                )
                .filter(F.col("gone").isNull())
                .drop("gone")
                .join(newsim, ["query_id", "cand_id"], "left")
                .select(
                    "query_id",
                    "cand_id",
                    "rel_e6",
                    F.greatest(
                        F.col("ms"), F.coalesce(F.col("ps"), F.lit(0))
                    ).alias("ms"),
                )
                .localCheckpoint(eager=True)  # keep step cost linear
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id", F.col("rnk").cast("int").alias("rnk"),
        "picked_id", "mmr_score_e6"
    )


def _x102_oracle() -> str:
    """Unrolled greedy-MMR oracle: one (pick, state) CTE pair per step.
    Cosines via list_cosine_similarity (the x05 parity pairing with the
    engine's sequential zip_with/aggregate)."""
    pool = _cosine_topk_sql(_exact_pairs_sql(0, _X102_QUERIES), _X102_POOL)
    ctes = f"""
    WITH {_V_SQL},
    pool AS (
      SELECT query_id, neighbor_id AS cand_id, cos_sim_e6 AS rel_e6
      FROM ({pool})),
    psim AS (
      SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
             CAST(floor(list_cosine_similarity(ea.v, eb.v) * 1e6 + 0.5)
                  AS BIGINT) AS sim_e6
      FROM pool a JOIN pool b
        ON a.query_id = b.query_id AND a.cand_id != b.cand_id
      JOIN v ea ON ea.vec_id = a.cand_id
      JOIN v eb ON eb.vec_id = b.cand_id),
    st0 AS (SELECT query_id, cand_id, rel_e6, CAST(0 AS BIGINT) AS ms
            FROM pool)"""
    for j in range(1, _X102_K + 1):
        ctes += f""",
    p{j} AS (
      SELECT query_id, {j} AS rnk, cand_id AS picked_id,
             mmr AS mmr_score_e6
      FROM (SELECT query_id, cand_id, 7 * rel_e6 - 3 * ms AS mmr,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY 7 * rel_e6 - 3 * ms DESC, cand_id) AS r
            FROM st{j - 1}) WHERE r = 1)"""
        if j < _X102_K:
            ctes += f""",
    st{j} AS (
      SELECT s.query_id, s.cand_id, s.rel_e6,
             greatest(s.ms, coalesce(ps.sim_e6, 0)) AS ms
      FROM st{j - 1} s
      JOIN p{j} ON p{j}.query_id = s.query_id
      LEFT JOIN psim ps ON ps.query_id = s.query_id
        AND ps.a_id = s.cand_id AND ps.b_id = p{j}.picked_id
      WHERE s.cand_id != p{j}.picked_id)"""
    union = "\n    UNION ALL ".join(
        f"SELECT query_id, CAST(rnk AS INT) AS rnk, picked_id,"
        f" mmr_score_e6 FROM p{j}"
        for j in range(1, _X102_K + 1)
    )
    return ctes + "\n    " + union


@query("x102_mmr_rerank", oracle=_x102_oracle())
def x102_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x102: the greedy MMR trajectory over each query's
    top-``_X102_POOL`` (12) candidate pool — integer-deterministic
    (e6 cosines, tenths lambda), so the oracle unrolls the greedy
    exactly."""
    return mmr_rerank(spread(load(spark, sf_dir, "embeddings")))


# --- x103: JL-projected ANN (project -> shortlist -> exact rerank -> recall) ----
# x98 made load-bearing: the classic dimensionality-reduction retrieval
# pipeline — score candidates in the 16-d projected space (a 4x
# cheaper scan than 64-d, and at 100 TB the projected index is what
# fits in memory), shortlist top-C per query, then exact-rerank only
# the shortlist in the original space and MEASURE recall against the
# exact x05 answer (the x50/x57b monitor discipline: every approximate
# arm ships with its recall check).  All candidate arithmetic is
# integer (x98 comps; int64 envelope: |comp| <= 6.4e7, dot <= 6.6e16);
# the projected-cosine rank divides exact ints in the same IEEE order
# on both engines; zero-norm projections are excluded on BOTH sides
# (0/0 NaN would order differently cross-engine).
# Registered knobs = the measured sweep knee (scripts/planted_sweep.py x103 →
# X103_SWEEP.json, sf0.1): (out_dim 32, shortlist max(200, n DIV 5))
# lifts base-fixture recall@5 from 0.533 [0, .8, .8] to 0.933
# [.8, 1, 1] (planted 0.400 → 0.867) at the same wall cost — JL-16
# loses a noise-floor query entirely, and n/10 shortlists starve the
# rerank.  x98's registered 64→16 projection is unchanged; x103
# composes the parametrized oracle at its own width.
_X103_OUT = 32
_X103_MIN_SHORTLIST = 200
_X103_FRAC_DIV = 5  # shortlist = max(200, n_cands DIV 5) — a 5x scan cut


def _x103_oracle() -> str:
    proj = _x98_oracle_sql(_X103_OUT)
    approx = f"""
    WITH proj AS (SELECT * FROM ({proj})),
    nrm AS (SELECT vec_id, SUM(comp_e6 * comp_e6) AS n2
            FROM proj GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             SUM(q.comp_e6 * c.comp_e6) AS dt
      FROM proj q JOIN proj c USING (dim)
      WHERE q.vec_id < {_KNN_QUERIES} AND c.vec_id != q.vec_id
      GROUP BY 1, 2),
    cands AS (
      SELECT query_id, cand_id FROM (
        SELECT d.query_id, d.cand_id,
               row_number() OVER (PARTITION BY d.query_id ORDER BY
                 CAST(d.dt AS DOUBLE)
                 / (sqrt(CAST(nq.n2 AS DOUBLE))
                    * sqrt(CAST(nc.n2 AS DOUBLE))) DESC, d.cand_id) AS r,
               COUNT(*) OVER (PARTITION BY d.query_id) AS ncand
        FROM dots d
        JOIN nrm nq ON nq.vec_id = d.query_id
        JOIN nrm nc ON nc.vec_id = d.cand_id
        WHERE nq.n2 > 0 AND nc.n2 > 0)
      WHERE r <= greatest({_X103_MIN_SHORTLIST},
                          ncand // {_X103_FRAC_DIV})),
    {_V_SQL},
    rer AS (
      SELECT c.query_id, c.cand_id AS neighbor_id, eq.v AS qv, ec.v AS cv
      FROM cands c
      JOIN v eq ON eq.vec_id = c.query_id
      JOIN v ec ON ec.vec_id = c.cand_id)
    {_cosine_topk_sql("SELECT * FROM rer", _KNN_K)}"""
    return _recall_at_k_sql(_registry.ORACLE["x05_knn"], approx)


def jl_ann_recall(
    spark: SparkSession,
    sf_dir: str,
    out_dim: int = _X103_OUT,
    min_shortlist: int = _X103_MIN_SHORTLIST,
    frac_div: int = _X103_FRAC_DIV,
) -> DataFrame:
    """Parametrized JL-shortlist ANN surface (project → shortlist →
    exact rerank → recall@k vs x05) — scripts/planted_sweep.py x103 drives it
    over out_dim × shortlist on the base + planted fixtures; the
    registered x103 key runs the defaults."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    proj = disk_checkpoint(jl_project(emb, out_dim=out_dim))  # feeds 3 arms
    nrm = proj.groupBy("vec_id").agg(
        F.sum(F.col("comp_e6") * F.col("comp_e6")).alias("n2")
    )
    qp = proj.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "dim",
        F.col("comp_e6").alias("qc"),
    )
    dots = (
        proj.join(F.broadcast(qp), "dim")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum(F.col("qc") * F.col("comp_e6")).alias("dt"))
    )
    nq = nrm.select(F.col("vec_id").alias("query_id"), F.col("n2").alias("nq2"))
    nc = nrm.select(F.col("vec_id").alias("cand_id"), F.col("n2").alias("nc2"))
    wq = Window.partitionBy("query_id").orderBy(
        (
            F.col("dt").cast("double")
            / (F.sqrt(F.col("nq2").cast("double"))
               * F.sqrt(F.col("nc2").cast("double")))
        ).desc(),
        F.col("cand_id").asc(),
    )
    cands = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nc, "cand_id")
        .filter((F.col("nq2") > 0) & (F.col("nc2") > 0))
        .withColumn("r", F.row_number().over(wq))
        .withColumn(
            "ncand", F.count("*").over(Window.partitionBy("query_id"))
        )
        .filter(
            F.col("r")
            <= F.greatest(
                F.lit(min_shortlist),
                F.expr(f"ncand div {frac_div}"),
            )
        )
        .select("query_id", F.col("cand_id").alias("neighbor_id"))
    )
    eq = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    ec = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    rer = cands.join(F.broadcast(eq), "query_id").join(ec, "neighbor_id")
    return _recall_at_k(x05_knn(spark, sf_dir), _cosine_topk(rer, _KNN_K))


@query("x103_jl_ann_recall", oracle=_x103_oracle())
def x103_jl_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x103: recall@k of the JL-shortlist + exact-rerank pipeline vs
    the exact x05 answer — integer candidate arithmetic end to end.
    Registered knobs sit at the measured sweep knee
    (scripts/planted_sweep.py x103 → X103_SWEEP.json; see BASELINE)."""
    return jl_ann_recall(spark, sf_dir)
