"""Deduplication operators (SURVEY.md §2C T3/T4): exact hash dedup,
exact n-gram Jaccard near-dup, MinHash+LSH, and SimHash.

Scale design:
- Exact dedup is a single hash-shuffle on the content digest (never on
  the full text — at 100 TB you shuffle 32-byte digests, not documents).
- Exact Jaccard uses an inverted-index (shingle → postings) join, which
  only materializes pairs that share ≥1 shingle — the classic
  all-pairs-similarity pruning.
- MinHash+LSH (pyspark.ml MinHashLSH) is the sub-quadratic scale path:
  band-bucket join instead of all overlapping pairs.
- SimHash gives a 64-bit locality-sensitive signature; near-dup pairs
  are found by banding the signature (bucket join), not pairwise scans.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from fanstats_producer_spark.functions.num import qint
from fanstats_producer_spark.io import disk_checkpoint, load, local_frame, spread
from pyspark.storagelevel import StorageLevel as _SL

#: iterative lineage-truncation checkpoints are DISK_ONLY too — label/
#: rank vectors scale with the corpus (rationale: io.disk_checkpoint)
_DISK_ONLY = _SL.DISK_ONLY
from fanstats_producer_spark import registry as _registry
from fanstats_producer_spark.registry import query


# --- x03: exact dedup via content hash (T3) -----------------------------------
@query(
    "x03_dedup_hash",
    oracle="""
    SELECT doc_id, content_hash FROM (
      SELECT doc_id, sha256(text) AS content_hash,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
)
def x03_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn(
        "content_hash", F.sha2(F.col("text"), 256)
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.select("doc_id", "content_hash", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- shared: token shingles -----------------------------------------------------
def with_shingles(df: DataFrame, k: int = 3) -> DataFrame:
    """Add a `shingles` column: distinct k-token shingles of `text`.

    Built as zip_with over k shifted slices of the token array — stays in
    Tungsten's vectorized array kernels, ~7x faster than the naive
    transform(sequence)+element_at formulation (measured at sf0.1).

    The token array is materialized in its own projection first: inlined,
    the split expression would re-tokenize the document once per shifted
    slice (k+1 evaluations per row); as a non-cheap multiply-referenced
    alias, CollapseProject keeps the projections separate and each row
    tokenizes exactly once (the x26 lesson).

    Parallelism guard: io.spread — one cheap exchange of the raw docs
    unlocks N-way compute on the expensive explode (no-op once inputs
    arrive in many splits).
    """
    base = spread(df).withColumn("__toks", F.split(F.col("text"), " "))
    toks = F.col("__toks")
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(toks, j + 1, n), lambda x, y: F.concat_ws(" ", x, y))
    shingles = F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(0)))
    return base.withColumn("shingles", F.array_distinct(shingles)).drop("__toks")


def _shingles_sql(k: int) -> str:
    """The DuckDB twin of with_shingles: the distinct k-token shingles
    of a `toks` token list, as one expression (each oracle keeps its
    own FROM clause and carried columns)."""
    words = " || ' ' || ".join(
        f"toks[i+{j}]" if j else "toks[i]" for j in range(k)
    )
    return f"""list_distinct(list_transform(
               range(1, greatest(len(toks) - {k - 2}, 1)),
               i -> {words}))"""


# Posting lists at or below this df expand pairs map-side (one array
# value, fast); hotter lists stream the identical pairs through a
# positional self-join (spillable at any df).  See jaccard_pairs.
_JACCARD_HOT_DF = 1024


def jaccard_pairs(docs: DataFrame, threshold: float = 0.5, k: int = 3) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via inverted-index join.

    Plan shape: ONE shuffle (groupBy shingle), then candidate pairs are
    expanded map-side from each posting list (i<j combinations) and
    hash-aggregated — measured 2.4x faster than the postings self-join,
    and strictly fewer shuffles.  Two further levers (measured ~1.2x at
    sf0.1, bigger at scale):
    - shingle strings are collapsed to xxhash64 BEFORE the shuffle, so
      the exchange moves 8-byte keys instead of ~20-byte strings
      (collision odds at N distinct shingles ≈ N²/2⁶⁵ — at 100 TB /
      multi-billion-shingle corpora, widen to a 128-bit hash);
    - each posting carries its doc's shingle-count, so the union sizes
      are available at pair-expansion time and no size-join is needed.
    """
    sh = with_shingles(docs, k=k).select("doc_id", "shingles")
    postings = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    ).select("doc_id", "n_sh", F.xxhash64("shingle").alias("shingle"))
    lists = (
        postings.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # Pair expansion is size-gated (sf10 probe finding, round 13): the
    # map-side combos expression materializes ALL C(m,2) pairs of one
    # posting list as a single in-memory array value — on a closed
    # vocabulary a hot shingle's df grows with the corpus and that one
    # row's array grows df², which is an allocation the task cannot
    # spill (the sf10 run died retrying 256 MB humongous allocations).
    # Lists up to _JACCARD_HOT_DF keep the fast map-side expansion
    # (bounded at ~C(1024,2)*32B = 16 MB per row); hotter lists stream
    # the identical pairs through a positional self-join, which shuffles
    # ROWS — spillable at any df.  Output is provably identical: both
    # arms emit each (i<j) combination of the SAME sort_array order
    # exactly once.
    small = lists.filter(F.size("ids") <= _JACCARD_HOT_DF)
    big = lists.filter(F.size("ids") > _JACCARD_HOT_DF)
    # one SQL string, not nested Column HOF lambdas: the lambda builders
    # are the chattiest py4j path (see minhash_native_pairs' docstring)
    combos = (
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, cast(i + 2 as int), size(ids)),"
        " y -> struct(x.doc_id as id_a, y.doc_id as id_b,"
        " x.n_sh as n_a, y.n_sh as n_b))))"
    )
    small_pairs = small.select(F.expr(f"explode({combos}) as p")).select(
        F.col("p.id_a").alias("id_a"),
        F.col("p.id_b").alias("id_b"),
        F.col("p.n_a").alias("n_a"),
        F.col("p.n_b").alias("n_b"),
    )
    bigp = big.select(
        "shingle", F.posexplode("ids").alias("i", "e")
    ).select("shingle", "i", F.col("e.doc_id").alias("doc_id"), F.col("e.n_sh").alias("n_sh"))
    a, b = bigp.alias("a"), bigp.alias("b")
    big_pairs = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.i") < F.col("b.i")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.n_sh").alias("n_a"),
        F.col("b.n_sh").alias("n_b"),
    )
    inter = (
        small_pairs.unionByName(big_pairs)
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    pairs = (
        inter.withColumn(
            "jaccard_e6",
            qint(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1e6))
    )
    return pairs.select("id_a", "id_b", "jaccard_e6")


# --- x04: exact n-gram Jaccard near-dup (T4, exact arm) -------------------------
# Shared by every x04-composing consumer (x45/x52/x59/x60 here, x106 in
# scoring.py): changing either constant re-derives BOTH the engine pair
# list and the composed oracles, so they cannot desync.
_X04_THRESHOLD = 0.5
_X04_K = 3


def _with_list(chain) -> str:
    """A (CTE name, body) chain as the body of one WITH list."""
    return ",\n    ".join(f"{n} AS (\n      {b})" for n, b in chain)


#: x04's oracle as (CTE name, body) pairs: word shingles (`sh`), one row
#: per (doc, shingle) (`post`), shingle-set sizes (`sizes`) and pairwise
#: intersections (`inter`); _X04_FINAL quantizes and thresholds.
#: scripts/scale_closure_check.py stages each body as a temp table of
#: the same name.
_X04_CHAIN = (
    ("sh", f"""SELECT doc_id, {_shingles_sql(_X04_K)} AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"""),
    ("post", "SELECT doc_id, unnest(shingles) AS shingle FROM sh"),
    ("sizes", "SELECT doc_id, len(shingles) AS n_sh FROM sh"),
    ("inter", """SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM post a JOIN post b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2"""),
)
_X04_FINAL = f"""SELECT id_a, id_b,
           CAST(floor(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
                      * 1e6 + 0.5) AS BIGINT) AS jaccard_e6
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(floor(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
                     * 1e6 + 0.5) AS BIGINT) >= {int(_X04_THRESHOLD * 1e6)}"""


@query(
    "x04_neardup_jaccard",
    oracle=f"""
    WITH {_with_list(_X04_CHAIN)}
    {_X04_FINAL}
    """,
)
def x04_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=_X04_THRESHOLD, k=_X04_K
    )


# --- x04b: MinHash + LSH (T4, approximate scale arm; rows-only check) ------------
#: OR-amplified MinHashLSH tables (see minhash_lsh_pairs).
_X04B_TABLES = 4


def minhash_lsh_pairs(
    spark: SparkSession, docs: DataFrame, jaccard_distance: float = 0.5
) -> tuple[DataFrame, DataFrame]:
    """Approximate near-dup pairs via MinHashLSH banding.

    Returns ``(pairs, feats)``: the caller owns the persisted ``feats``
    handle and must ``feats.unpersist()`` once ``pairs`` is
    materialized (the previous dangling ``pairs._lsh_feats`` attribute
    contract silently dropped the handle on any transformation).

    shingle → sparse count vector (HashingTF) → min-hash signatures →
    bucket join (approxSimilarityJoin), over the same _X04_K-word
    shingles as the exact x04 arm.  Sub-quadratic: only candidate
    pairs sharing an LSH bucket are scored.  Seeded ⇒ deterministic.
    _X04B_TABLES = 4 OR-amplified tables measure full recall on the
    fixture corpus at the 0.4-distance test bar at BOTH sf0.001
    (tests/test_xlayer.py) and sf0.1 (measured: recall 1.0 even at 3
    tables — fixture near-dups are strong), and cut the fit+join ~35%
    versus 6; this MLlib arm is the COMPARISON baseline — x04d's native
    banding is the production path (SQL-reproducible signatures).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = with_shingles(docs, k=_X04_K).select("doc_id", "shingles").filter(
        F.size("shingles") > 0
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    # Both the fit and both sides of the self-join consume `feats`:
    # persist so shingling+hashing runs once, not four times.  (At
    # cluster scale this is a disk+memory persist; the lineage stays
    # available for recompute on executor loss.)
    feats = tf.transform(sh).persist()
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=_X04B_TABLES, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, jaccard_distance, distCol="dist")
    out = (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            qint(1 - F.col("dist")).alias("est_jaccard"),
        )
    )
    # hand the persisted handle to the caller explicitly: once the pair
    # list is materialized (x04b localCheckpoints it), unpersist
    # releases the cached feature blocks instead of pinning them
    return out, feats


# Containment property check (the VERDICT-r2 suggestion): MLlib's LSH
# internals (murmur3 HashingTF + seeded min-hash perms) are not SQL-
# reproducible, but this statement about its OUTPUT is: every LSH pair at
# feature-Jaccard >= 0.5 must also be an exact shingle-level pair at the
# relaxed 0.2 threshold (approxSimilarityJoin's distCol is the TRUE
# Jaccard distance over HashingTF index sets, so a >= 0.5-similar pair
# with < 0.2 shingle Jaccard would require ~2x collision inflation in a
# 2^18-bucket space — impossible for these document sizes).  The
# registered query returns the VIOLATION set, empty iff the LSH arm is
# sound; the oracle states that emptiness.  The pair output itself stays
# covered by tests/test_xlayer.py::test_minhash_lsh_recall_vs_exact.
@query(
    "x04b_minhash_lsh",
    oracle="""
    SELECT CAST(NULL AS BIGINT) AS id_a,
           CAST(NULL AS BIGINT) AS id_b,
           CAST(NULL AS BIGINT) AS est_jaccard
    WHERE false
    """,
)
def x04b_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Materialize the (small, LSH-bounded) pair list once: it is
    # referenced three times below, and each reference would otherwise
    # re-run the whole MLlib fit + approxSimilarityJoin.
    raw, feats = minhash_lsh_pairs(spark, docs)
    lsh = raw.localCheckpoint(eager=True)
    feats.unpersist()  # pair list materialized; release the cache
    # Verify containment against per-doc shingle sets, shingling ONLY
    # the docs that appear in some pair (broadcast semi-join pushdown):
    # the pair list bounds the work, not the corpus size.
    ids = (
        lsh.select(F.col("id_a").alias("doc_id"))
        .unionByName(lsh.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sub = docs.join(F.broadcast(ids), "doc_id", "left_semi")
    sh = with_shingles(sub, k=_X04_K).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = b.join(
        F.broadcast(a.join(F.broadcast(lsh), "id_a")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.filter(inter.cast("double") / union < 0.2)
        .select("id_a", "id_b", "est_jaccard")
        .orderBy("id_a", "id_b")
    )


# --- x04c: SimHash signatures (T4, signature arm; rows-only check) ----------------
_token_bits_cache: dict[str, "object"] = {}


def _token_bits(tok: str):
    """±1 bit vector (64,) of a token's md5 hash, memoized — corpora have
    Zipfian token distributions, so the cache hit rate is near 1."""
    import numpy as np

    v = _token_bits_cache.get(tok)
    if v is None:
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        bits = np.array([(h >> i) & 1 for i in range(64)], dtype=np.int64)
        v = _token_bits_cache[tok] = bits * 2 - 1
    return v


def _simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over md5-derived token hashes (engine-independent)."""
    import numpy as np

    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        acc += _token_bits(t)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    # keep within signed int64 for Spark LongType
    return out - (1 << 64) if out >= (1 << 63) else out


@F.pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    # null-safe: one NULL text must not kill a 100 TB signature pass
    return texts.map(lambda t: _simhash64(t.split(" ")) if t is not None else 0)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    # NULL-text docs are excluded (mirrors the oracle, whose unnest over
    # string_split(NULL) emits no rows for them); spread() unlocks N-way
    # execution of the Python-heavy UDF over a single-split scan
    return spread(docs.filter(F.col("text").isNotNull())).select(
        "doc_id", simhash_udf("text").alias("simhash")
    )


# The md5-derived token hash makes the signature engine-independent:
# int.from_bytes(digest[:8], "big") on the Python side equals parsing the
# first 16 hex chars of DuckDB's md5() — so the whole SimHash is exactly
# SQL-expressible and oracle-checked despite being computed in a pandas UDF.
@query(
    "x04c_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
      FROM toks),
    bits AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS acc
      FROM th, range(64) AS t(i)
      GROUP BY doc_id, i),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << i ELSE 0 END) AS u
      FROM bits GROUP BY doc_id)
    SELECT doc_id,
           CAST(u - CASE WHEN u >= CAST(1 AS HUGEINT) << 63
                         THEN CAST(1 AS HUGEINT) << 64
                         ELSE CAST(0 AS HUGEINT) END
                AS BIGINT) AS simhash
    FROM sig ORDER BY doc_id
    """,
)
def x04c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no trailing global sort (the x47 lesson): range-boundary sampling
    # re-executes the child pipeline; the driver compare is order-insensitive.
    return simhash_signatures(load(spark, sf_dir, "documents"))


# --- x04d: native DataFrame MinHash + banding (no MLlib, pure exprs) -----------
#: Signature hash family modulus: the Mersenne prime 2^31 - 1.  Keeps
#: every product a_i * w below 2^62 (no signed-64 overflow on any
#: engine) while leaving component collisions at the harmless ~1/2^31.
_MH_P = 2147483647
#: Signature geometry shared by the batch signature (minhash_native_pairs),
#: the per-row stream signature (streaming_band_keys) and the oracle
#: chain (_MH_CHAIN): 64 components banded 16 x 4 over word 3-shingles.
#: All three read these, so the formulations cannot drift apart.
_MH_HASHES = 64
_MH_BANDS = 16
_MH_K = 3
#: a_i = (i * _MH_A_MUL + _MH_A_ADD) mod P and b_i likewise: the Knuth
#: multiplier scrambles i into a_i.  _mh_ab and _MH_CHAIN read these.
_MH_A_MUL, _MH_A_ADD = 2654435761, 1
_MH_B_MUL, _MH_B_ADD = 40503, 12345


def _mh_ab(i: int) -> tuple[int, int]:
    """Per-component multiplier/offset of the universal hash family
    h_i(w) = (a_i * w + b_i) mod P; none of the first 1024 a_i are
    0 mod P (asserted in tests)."""
    return (
        (i * _MH_A_MUL + _MH_A_ADD) % _MH_P,
        (i * _MH_B_MUL + _MH_B_ADD) % _MH_P,
    )


def _mh_est(sig_a: str, sig_b: str):
    """Estimated-Jaccard e6 column: fraction of equal signature
    components (one zip_with compare over the two int arrays)."""
    return qint(
        F.expr(
            f"size(filter(zip_with({sig_a}, {sig_b}, (a, b) -> a = b),"
            " eq -> eq))"
        ).cast("double")
        / _MH_HASHES
    )


def minhash_native_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash signatures and LSH banding as pure DataFrame expressions.

    Signature: each shingle is hashed ONCE with md5; a 60-bit word is
    carved from the digest (hex[1:15]) and reduced mod P = 2^31-1; the
    i-th component is min over shingles of the universal hash
    h_i(w) = (a_i*w + b_i) mod P with per-i constants (_mh_ab), over
    _MH_K-word shingles and i < _MH_HASHES.  An
    earlier revision used the Kirsch-Mitzenmacher linear combination
    h_i = w1 + i*w2 — WRONG for MinHash-with-banding: the minimizing
    shingle of a linear-in-i function changes only at envelope
    crossings, so signature components were heavily correlated and two
    docs sharing one low-hash shingle agreed on most components
    (measured precision 0.02 at est>=0.5, r4 x45/BASELINE.md).  Modular
    multiplication by distinct a_i reorders the shingle set
    independently per component, restoring the est ~ Binomial(n, J)/n
    estimator the banding math assumes (measured precision 1.0, recall
    1.0 on the same fixture; the n=16 -> 64 budget raise alone cannot
    do that — with correlated components more hashes repeat the same
    bias).  h_i(doc) = min over shingles — one groupBy computes all
    _MH_HASHES mins (JVM-side, codegen'd; no Python, no MLlib sparse
    vectors).  md5 instead of xxhash64 makes the whole signature
    engine-independent — the same bit-math that made x04c's SimHash
    oracle-checkable — so this approximate operator still gets a full
    value-hash oracle, not a rows-only check.
    Banding: signatures split into _MH_BANDS rows of
    _MH_HASHES/_MH_BANDS values;
    docs sharing any band-hash become candidates (map-side combo
    expansion, same pattern as jaccard_pairs).  The band key stays
    xxhash64 — it is a shuffle-key compaction detail, invisible in the
    output (candidates are "docs with an equal band r-tuple"; a 64-bit
    band-hash collision is the only way engines could diverge, odds
    ~(docs*bands)²/2⁶⁵).  Candidate similarity is estimated as the
    fraction of equal signature components; pairs below `threshold` are
    dropped.

    The full signature rides along through the band shuffle (_MH_BANDS
    × _MH_HASHES×4 B per doc — array<int>, guide §2.3), so the estimate is
    computed right at pair expansion — no signature join (measured
    1.4x at sf0.1), and since r14 the below-threshold flood is dropped
    BEFORE the cross-band dedupe so that exchange carries 20-byte
    (id, id, est) rows, never signatures.

    vs MLlib's MinHashLSH: same asymptotics, ~2x faster here (no
    HashingTF sparse-vector materialization), deterministic via xxhash64.

    The heavy projections are built as SQL strings (one F.expr each),
    not per-component Column loops: every Column operator is a py4j
    round-trip, and the 64-component signature/banding construction
    measured ~7200 round-trips ≈ 1.3-2.5 s of DRIVER time per
    invocation at steady state (guide §4's Python boundary, driver
    side) — vs ~0.25 s as expression strings.  The parsed plans, and
    therefore the results, are identical either way (pinned by the
    oracle and the r13 A/B).
    """
    r = _MH_HASHES // _MH_BANDS
    sh = with_shingles(docs, k=_MH_K).select("doc_id", "shingles").filter(
        F.size("shingles") > 0
    )
    postings = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    hashed = postings.select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint)"
            f" % {_MH_P}"
        ).alias("wm"),
    )

    def _h_sql(i: int) -> str:
        a, b = _mh_ab(i)
        # the component value is < P = 2^31-1, so it fits an INT
        # exactly; carrying the signature as array<int> instead of
        # array<long> halves its bytes through the band shuffle and
        # the bucket rows (guide §2.3 "narrower types" — r14, measured
        # with the est-early change below: band family 6.8 -> 6.0-6.3 s
        # at sf1, identical outputs)
        return f"cast(min(({a} * wm + {b}) % {_MH_P}) as int) as h{i}"

    sig = hashed.groupBy("doc_id").agg(
        *[F.expr(_h_sql(i)) for i in range(_MH_HASHES)]
    )
    # band hashes reference the h-columns directly (no sig[i] array
    # indexing for the optimizer to re-inline); the sig array is built
    # once, in the same projection
    band_arr = ", ".join(
        "xxhash64(%d, %s)" % (b, ", ".join(f"h{b * r + j}" for j in range(r)))
        for b in range(_MH_BANDS)
    )
    sig_arr = "array(" + ", ".join(f"h{i}" for i in range(_MH_HASHES)) + ")"
    banded = sig.select(
        "doc_id",
        F.expr(sig_arr).alias("sig"),
        F.expr(f"explode(array({band_arr}))").alias("band_hash"),
    )
    buckets = (
        banded.groupBy("band_hash")
        .agg(F.expr("array_sort(collect_list(struct(doc_id, sig))) as ids"))
        .filter(F.size("ids") > 1)
    )
    combos = (
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, cast(i + 2 as int), size(ids)),"
        " y -> struct(x.doc_id as id_a, y.doc_id as id_b,"
        " x.sig as sig_a, y.sig as sig_b))))"
    )
    cands = (
        buckets.select(F.expr(f"explode({combos}) as p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            _mh_est("p.sig_a", "p.sig_b").alias(
                "est_jaccard_e6"
            ),
        )
        .filter(F.col("est_jaccard_e6") >= int(threshold * 1e6))
        .distinct()
    )
    # Estimate-then-dedupe (r14, guide §2.3): every copy of a pair
    # carries the same two signatures, so the estimate is computed AT
    # pair expansion (64 int compares, recomputed per shared band —
    # cheap) and the below-threshold flood is dropped BEFORE the
    # cross-band dedupe exchange, which then moves 20-byte
    # (id_a, id_b, est) rows instead of two ~0.5 KB signatures per
    # row.  distinct == the old groupBy+first: copies are identical by
    # construction, so the surviving pair set and estimates are
    # unchanged (pinned by the x04d value oracle).
    return cands


#: The DuckDB twin of minhash_native_pairs' signature and banding, as
#: (CTE name, body) pairs: shingles (`sh`), md5-derived words mod P
#: (`post`), the _MH_HASHES universal-hash minima per doc (`sig`, rolled
#: up into `sigl`), and the _MH_BANDS band r-tuples (`bands`).  x04d,
#: s21 and s22 state it as one WITH list (_MH_CHAIN_SQL);
#: scripts/scale_closure_check.py stages each body as a temp table of
#: the same name.
_MH_CHAIN = (
    ("sh", f"""SELECT doc_id, {_shingles_sql(_MH_K)} AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= {_MH_K}"""),
    ("post", f"""SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {_MH_P}
               AS wm
      FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)"""),
    ("sig", f"""SELECT doc_id, i,
             MIN(((i * {_MH_A_MUL} + {_MH_A_ADD}) % {_MH_P} * wm
                  + (i * {_MH_B_MUL} + {_MH_B_ADD}) % {_MH_P}) % {_MH_P}) AS h
      FROM post CROSS JOIN range({_MH_HASHES}) AS t(i)
      GROUP BY doc_id, i"""),
    ("sigl", "SELECT doc_id, list(h ORDER BY i) AS sig FROM sig GROUP BY doc_id"),
    ("bands", "SELECT doc_id, b, " + ", ".join(
        f"sig[{_MH_HASHES // _MH_BANDS} * b + {j}] AS v{j}"
        for j in range(1, _MH_HASHES // _MH_BANDS + 1)
    ) + f"""
      FROM sigl CROSS JOIN range({_MH_BANDS}) AS t(b)"""),
)
_MH_CHAIN_SQL = _with_list(_MH_CHAIN)


# The oracle reproduces the signature bit-for-bit (_MH_CHAIN) and does
# banding by joining on the raw band r-tuples — band-hash equality on
# the Spark side is tuple equality here, so the candidate sets agree
# modulo a 64-bit hash collision.
@query(
    "x04d_minhash_native",
    oracle=f"""
    WITH {_MH_CHAIN_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.v1 = c.v1 AND a.v2 = c.v2
           AND a.v3 = c.v3 AND a.v4 = c.v4
           AND a.doc_id < c.doc_id),
    est AS (
      SELECT id_a, id_b,
             round(len(list_filter(list_zip(sa.sig, sb.sig),
                                   p -> p[1] = p[2])) / {_MH_HASHES}.0, 6)
               AS est_jaccard
      FROM cand
      JOIN sigl sa ON sa.doc_id = id_a
      JOIN sigl sb ON sb.doc_id = id_b)
    SELECT id_a, id_b,
           CAST(floor(est_jaccard * 1e6 + 0.5) AS BIGINT) AS est_jaccard_e6
    FROM est WHERE est_jaccard >= 0.5
    ORDER BY id_a, id_b
    """,
)
def x04d_minhash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no trailing global sort (the x47 lesson): range-boundary sampling
    # re-executes the banding pipeline, and the driver compare is
    # order-insensitive.
    return minhash_native_pairs(load(spark, sf_dir, "documents"))


# --- x04e: dedup clustering (connected components over near-dup pairs) ----------
def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    driver_threshold: int | None = 100_000,
) -> DataFrame:
    """Cluster near-dup pairs into groups via iterative min-label
    propagation: every node's label converges to the smallest doc_id in
    its component.  Returns (doc_id, cluster_id).

    This is the step that turns pairwise similarity into an actual dedup
    decision (keep one doc per cluster).  Each round does one
    neighbor-min propagation (hash-to-min) followed by one pointer jump
    (label ← label of my label), so convergence is O(log diameter)
    rounds, not O(diameter) — a 64-node chain closes in ~6 rounds instead
    of ~32.  Near-dup graphs are overwhelmingly tiny star/clique
    components, but templated/boilerplate corpora do produce long chains,
    and at 100 TB each saved round is a full shuffle.  localCheckpoint
    truncates the growing lineage (at cluster scale: checkpoint to
    reliable storage instead).
    """
    # Size-gated driver fast path — the graph analogue of a broadcast
    # join.  Near-dup edge sets are orders of magnitude smaller than the
    # corpus (they're the output of a similarity threshold); when the
    # pair list fits comfortably on the driver, union-find beats 3-6
    # distributed label-propagation rounds (each round is two shuffled
    # joins + a checkpoint + a convergence collect).  Identical output:
    # min-id labels either way.  The limit(threshold+1) guard makes the
    # size probe and the fetch ONE evaluation of the upstream pair
    # pipeline (the previous checkpoint+count+collect shape materialized
    # it twice — measured 5.5s vs 2.3s on the x04 pipeline at sf0.1);
    # overflow (threshold+1 rows back) falls through to the distributed
    # path.  Past the threshold — the 100 TB regime — nothing was
    # transferred but one bounded batch, and pointer jumping runs
    # unchanged.
    if driver_threshold is not None:
        sample = (
            pairs.select("id_a", "id_b").limit(driver_threshold + 1).collect()
        )
        if len(sample) <= driver_threshold:
            spark = pairs.sparkSession
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in sample:
                ra, rb = find(r.id_a), find(r.id_b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            nodes = set(parent) | {v for v in parent.values()}
            return local_frame(
                spark,
                [dict(doc_id=n, cluster_id=find(n)) for n in sorted(nodes)],
                "doc_id long, cluster_id long",
            )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # materialize once: the upstream pair computation (e.g. the whole
        # Jaccard pipeline) must NOT re-execute on every iteration
        .localCheckpoint(eager=True, storageLevel=_DISK_ONLY)
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    def propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.dst == lbl.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        return lbl.join(neighbor_min, lbl.node == neighbor_min.src, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )

    def jump(lbl: DataFrame) -> DataFrame:
        # label ← label[label]: follow my representative's pointer.  The
        # parent lookup misses only when my label is already a root that
        # never appears as a node... which cannot happen here (labels are
        # node ids drawn from the same table), but coalesce keeps the
        # contract explicit.
        parent = lbl.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        return lbl.join(parent, lbl.label == parent.p_node, "left").select(
            "node",
            F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
        )

    # Labels only ever decrease, so sum(label) is a cheap monotone
    # convergence witness (no per-iteration diff join).  One hash-to-min
    # propagation + one pointer jump per materialization: the jump
    # compresses paths so the label tree's depth halves every round.
    prev_sum = None
    for _ in range(max_iterations):
        # working-set label vector: memory-resident default level
        # (the graph.py per-iteration rationale)
        labels = jump(propagate(labels)).localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


#: The DuckDB twin of connected_components over a `pairs(id_a, id_b)`
#: CTE: undirected `edges` (_EDGES_SQL), then the recursive
#: transitive closure `reach(node, r)`, every node with every node it
#: reaches.  x04e, x04f, x59, x61 and x96 take MIN(r) per node as the
#: cluster id; scripts/scale_closure_check.py splits an oracle at this
#: text to swap in an iterative closure at scale.
_EDGES_SQL = """SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs"""
_CLOSURE_SQL = f"""edges AS (
      {_EDGES_SQL}),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node)"""


# Deterministic despite being iterative (exact pairs + min-label
# convergence), so it IS oracle-checkable: the DuckDB side takes the
# registered x04 pair set and closes it with _CLOSURE_SQL (closure size
# is Σ component², fine for near-dup graphs whose components are tiny
# cliques/stars — the same property that bounds our iteration count).
@query(
    "x04e_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_registry.ORACLE['x04_neardup_jaccard']})),
    {_CLOSURE_SQL}
    SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def x04e_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignments from the exact-Jaccard pairs at the x04
    threshold — deterministic (exact pairs + min-label convergence)."""
    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=_X04_THRESHOLD, k=_X04_K)
    # no trailing global sort (the x47 lesson): range-boundary sampling
    # re-executes the child pipeline; the driver compare is order-insensitive.
    return connected_components(pairs)


# --- x04f: embedding-cosine near-dup dedup (T4 semantic arm) -------------------
# The reference's near-dup family is lexical (shingles); this arm catches
# SEMANTIC duplicates — paraphrases that share no n-grams but embed close
# together.  Same decision machinery (pairs -> components -> min-id
# representative), different pair generator: the exact cosine self-join.
# Deterministic (exact pairs + min-label convergence) => oracle-checkable
# via the same recursive-closure pattern as x04e.  Scale path: swap the
# quadratic pair join for lsh_simjoin (x06b) or ivf_topk buckets; the
# clustering and keep-decision stages are unchanged.
_X04F_LIMIT = 200
_X04F_THRESHOLD = 0.35


@query(
    "x04f_embed_neardup",
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < {_X04F_LIMIT}),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {_X04F_THRESHOLD}),
    {_CLOSURE_SQL},
    cl AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    SELECT v.vec_id AS doc_id,
           CAST(COALESCE(cl.cluster_id, v.vec_id) AS BIGINT) AS cluster_id,
           COALESCE(cl.cluster_id, v.vec_id) = v.vec_id AS is_kept
    FROM v LEFT JOIN cl ON cl.node = v.vec_id
    ORDER BY doc_id
    """,
)
def x04f_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: every vector gets the min-id of
    its cosine-similarity component as cluster_id (itself if unpaired)
    and a keep/drop decision (keep = the representative).

    Pair-generation plan: each side carries its PRECOMPUTED norm (one
    sqrt(dot(v,v)) per vector, not per pair — the inlined cosine()
    evaluated three interpreted array-aggregates per pair), and the
    probe side is spread so the O(n²·dim) dot products run wide instead
    of inside the single-split scan task.  Measured 1.8 s -> ~0.6 s for
    the pair stage at sf0.1."""
    from fanstats_producer_spark.io import spread
    from fanstats_producer_spark.operators.similarity import dot

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _X04F_LIMIT)
    v = F.col("embedding")
    withn = emb.select(
        "vec_id", "embedding", F.sqrt(dot(v, v)).alias("norm")
    )
    a = spread(
        withn.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"),
            F.col("norm").alias("na"),
        ),
        "id_a",
    )
    b = withn.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= _X04F_THRESHOLD
        )
        .select("id_a", "id_b")
    )
    clusters = connected_components(pairs)
    return (
        emb.select(F.col("vec_id").alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col("doc_id")) == F.col("doc_id")).alias(
                "is_kept"
            ),
        )
    )


# --- x45: near-dup approximation quality metrics --------------------------------
# Production dedup runs the sub-quadratic arm (x04d) and must MONITOR
# how far it drifts from exact Jaccard — precision/recall of the
# banded-MinHash pair set against the exact inverted-index pair set at
# the same threshold, as one tiny summary row.  Both pair pipelines
# already have bit-exact SQL mirrors, so the metric itself is fully
# oracle-checkable: the oracle simply composes the two registered
# queries (pulled from the registry at import time — no duplicated SQL).

def _x45_oracle() -> str:
    x04 = _registry.ORACLE["x04_neardup_jaccard"]
    x04d = _registry.ORACLE["x04d_minhash_native"]
    return f"""
    WITH exact_pairs AS (SELECT id_a, id_b FROM ({x04})),
    est_pairs AS (SELECT id_a, id_b FROM ({x04d})),
    joined AS (
      SELECT COALESCE(e.id_a, a.id_a) AS id_a,
             (e.id_a IS NOT NULL) AS in_exact,
             (a.id_a IS NOT NULL) AS in_est
      FROM exact_pairs e
      FULL OUTER JOIN est_pairs a ON e.id_a = a.id_a AND e.id_b = a.id_b)
    SELECT COUNT(*) FILTER (WHERE in_exact AND in_est) AS tp,
           COUNT(*) FILTER (WHERE in_est AND NOT in_exact) AS fp,
           COUNT(*) FILTER (WHERE in_exact AND NOT in_est) AS fn,
           CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_est) AS DOUBLE)
                / greatest(COUNT(*) FILTER (WHERE in_est), 1) * 1e6 + 0.5) AS BIGINT)
             AS precision_e6,
           CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_est) AS DOUBLE)
                / greatest(COUNT(*) FILTER (WHERE in_exact), 1) * 1e6 + 0.5) AS BIGINT)
             AS recall_e6
    FROM joined
    """


@query("x45_neardup_quality", oracle=_x45_oracle())
def x45_neardup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured history of this monitor doing its job: the r4 run showed
    recall 0.97 / precision 0.02 at est>=0.5 — the correlated
    Kirsch-Mitzenmacher components (see minhash_native_pairs docstring)
    inflating estimates for docs sharing one low-hash shingle.  After
    the universal-hash fix + n=64/b=16/r=4: precision 1.0 / recall 1.0
    at sf0.01 and precision 0.992 / recall 1.0 at sf0.1 (tp=256, fp=2,
    fn=0)."""
    docs = load(spark, sf_dir, "documents")
    exact = jaccard_pairs(docs, threshold=_X04_THRESHOLD, k=_X04_K).select(
        "id_a", "id_b", F.lit(True).alias("in_exact")
    )
    est = minhash_native_pairs(docs).select(
        "id_a", "id_b", F.lit(True).alias("in_est")
    )
    j = exact.join(est, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
        F.coalesce("in_est", F.lit(False)).alias("in_est"),
    )
    tp = F.sum(F.when(F.col("in_exact") & F.col("in_est"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("in_est") & ~F.col("in_exact"), 1).otherwise(0))
    fn = F.sum(F.when(F.col("in_exact") & ~F.col("in_est"), 1).otherwise(0))
    return j.agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        qint(tp.cast("double") / F.greatest(tp + fp, F.lit(1))).alias("precision_e6"),
        qint(tp.cast("double") / F.greatest(tp + fn, F.lit(1))).alias("recall_e6"),
    )


# --- x47: edit-distance verification of LSH candidates --------------------------
# The precision stage a production near-dup pipeline runs AFTER banded
# MinHash: LSH proposes candidates (high recall, sub-quadratic), exact
# edit distance confirms them (high precision) — signature agreement can
# over-estimate similarity for short or token-permuted docs, and
# character-level distance is the standard tie-breaker before destructive
# dedup (reference analogue: the dedup decision before main.py:151's
# blind landing).  Levenshtein runs only on the LSH-bounded pair list
# (never all pairs), as a JVM built-in over codegen — the O(len^2) DP per
# pair is embarrassingly parallel, so this stage scales with cores while
# the candidate count stays sub-quadratic in docs.  The oracle composes
# x04d's registered SQL mirror for the candidate set (no duplicated
# banding SQL) and DuckDB's levenshtein, which agrees exactly with
# Spark's on any input.


#: x47's relative-edit-distance gate, edit_dist / maxlen <= 2/5, as an
#: integer compare.  The batch gate (edit_verified_pairs), the online
#: one (jobs.streaming_verified_near_dup, s22) and the x47 and s22
#: oracles all read it.
_X47_REL_NUM = 2
_X47_REL_DEN = 5


def _x47_oracle() -> str:
    x04d = _registry.ORACLE["x04d_minhash_native"]
    return f"""
    WITH cand AS (SELECT id_a, id_b, est_jaccard_e6 FROM ({x04d})),
    p AS (
      SELECT c.id_a, c.id_b, c.est_jaccard_e6,
             levenshtein(da.text, db.text) AS edit_dist,
             greatest(len(da.text), len(db.text), 1) AS maxlen
      FROM cand c
      JOIN documents da ON da.doc_id = c.id_a
      JOIN documents db ON db.doc_id = c.id_b)
    SELECT id_a, id_b, est_jaccard_e6,
           CAST(edit_dist AS BIGINT) AS edit_dist,
           CAST(floor(edit_dist * 1e6 / maxlen + 0.5) AS BIGINT) AS rel_edit_e6
    FROM p
    WHERE {_X47_REL_DEN} * edit_dist <= {_X47_REL_NUM} * maxlen
    ORDER BY id_a, id_b
    """


def edit_verified_pairs(
    docs: DataFrame,
    rel_num: int = _X47_REL_NUM,
    rel_den: int = _X47_REL_DEN,
    cands: DataFrame | None = None,
) -> DataFrame:
    """Confirmed near-dups: x04d's banded-MinHash candidates whose exact
    relative edit distance is <= rel_num/rel_den (integer-compare filter
    — no float boundary), with the distance and its e6-quantized ratio.

    Plan: the SPREAD candidate list is the probe side and the text
    lookups broadcast onto it (locally the corpus broadcasts; at 100 TB
    the lookups become two shuffle joins on doc_id and the levenshtein
    stage inherits the join's parallelism).  Ordering matters here: with
    the texts broadcast-joined onto the many-partition pair list, the
    pushed-down levenshtein filter lands in a wide stage — the first cut
    joined pairs onto the single-split corpus scan and predicate pushdown
    sank the O(len²) DP into ONE task (measured 11-19 s vs ~2 s)."""
    from fanstats_producer_spark.io import spread

    # cands: pass an already-materialized candidate list to avoid
    # re-running the banding (x60 measures banded AND verified sets —
    # one banding pass, checkpointed, feeds both).
    cands = spread(
        minhash_native_pairs(docs) if cands is None else cands, "id_a"
    )
    texts = docs.select("doc_id", "text")
    a = texts.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
    )
    b = texts.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
    )
    p = (
        cands.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .withColumn("edit_dist", F.levenshtein("text_a", "text_b").cast("long"))
        .withColumn(
            "maxlen",
            F.greatest(F.length("text_a"), F.length("text_b"), F.lit(1)).cast(
                "long"
            ),
        )
    )
    return (
        p.filter(F.col("edit_dist") * rel_den <= F.col("maxlen") * rel_num)
        .select(
            "id_a",
            "id_b",
            "est_jaccard_e6",
            "edit_dist",
            qint(F.col("edit_dist") * 1e6 / F.col("maxlen"), 0).alias(
                "rel_edit_e6"
            ),
        )
        # no trailing global sort: the range-partitioner's boundary
        # sampling re-executes the child — i.e. the whole levenshtein
        # stage — once more (measured ~1 s at sf0.1), and row order is
        # irrelevant to the driver's order-insensitive compare.
    )


@query("x47_edit_verify", oracle=_x47_oracle())
def x47_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_verified_pairs(load(spark, sf_dir, "documents"))


# --- x52: quality-based representative selection (the keep policy) --------------
# Min-id keep (x04e's is_kept) is arbitrary; production dedup keeps the
# BEST copy per duplicate cluster — FineWeb-class pipelines rank by a
# quality score and drop the rest.  This op composes the x04e clusters
# with x09's integer type-token-ratio score: per cluster, keep the doc
# with the highest ttr (doc_id ascending as the total tie-break).  The
# oracle composes x04e's registered recursive-CTE mirror (the x45
# pattern) with the same integer score, so the policy itself is
# value-hash-checked end to end.


#: The DuckDB twin of keep_best over a `cl(doc_id, cluster_id)` CTE: the
#: integer ttr score per doc (`q`), members ranked per cluster
#: (`ranked`), then one row per cluster.  x52, x59 and x96 end with it.
_KEEP_BEST_SQL = """q AS (
      SELECT doc_id,
             CAST(floor(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                        * 1e6 + 0.5) AS BIGINT) AS ttr_e6
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    ranked AS (
      SELECT cl.cluster_id, cl.doc_id, q.ttr_e6,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY q.ttr_e6 DESC, cl.doc_id) AS rn
      FROM cl JOIN q USING (doc_id))
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           MIN(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
           MIN(CASE WHEN rn = 1 THEN ttr_e6 END) AS kept_ttr_e6,
           COUNT(*) AS n_members
    FROM ranked
    GROUP BY cluster_id
    ORDER BY cluster_id"""


def _x52_oracle() -> str:
    x04e = _registry.ORACLE["x04e_dedup_clusters"]
    return f"""
    WITH cl AS (SELECT doc_id, cluster_id FROM ({x04e})),
    {_KEEP_BEST_SQL}
    """


def keep_best(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """The keep policy, factored: one row per duplicate cluster with the
    highest-quality member (integer ttr score, doc_id tie-break), its
    score, and the cluster size.  Plan: the cluster map is tiny next to
    the corpus, so the quality join broadcasts it; the per-cluster
    argmax is a window over the already-clustered rows."""
    from pyspark.sql import Window

    toks = F.split("text", " ")
    quality = docs.select(
        "doc_id",
        qint(F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "ttr_e6"
        ),
    )
    joined = quality.join(F.broadcast(clusters), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("ttr_e6").desc(), F.col("doc_id")
    )
    ranked = joined.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc_id"),
            F.min(F.when(F.col("rn") == 1, F.col("ttr_e6"))).alias("kept_ttr_e6"),
            F.count("*").alias("n_members"),
        )
    )


@query("x52_dedup_keep_best", oracle=_x52_oracle())
def x52_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=_X04_THRESHOLD, k=_X04_K)
    return keep_best(docs, connected_components(pairs))


# --- x59: the PRODUCTION dedup pipeline with the precision gate wired in --------
# x04e/x52 cluster on similarity pairs directly; x47 existed as a
# monitor.  This key is the production composition a 100 TB pipeline
# actually runs before destructive dedup: banded MinHash proposes
# (sub-quadratic, high recall) -> exact relative-edit-distance CONFIRMS
# (the x47 gate, wide levenshtein over the bounded candidate list only)
# -> connected components over the *verified* pairs -> keep-best-quality
# representative per cluster.  A false-positive candidate pair that the
# gate rejects can no longer glue two unrelated clusters together — the
# failure mode that makes ungated LSH dedup destructive at scale.


def _x59_oracle() -> str:
    x47 = _registry.ORACLE["x47_edit_verify"]
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({x47})),
    {_CLOSURE_SQL},
    cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    {_KEEP_BEST_SQL}
    """


@query("x59_verified_dedup", oracle=_x59_oracle())
def x59_verified_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-gated production dedup: banded-MinHash candidates ->
    x47 edit-distance verify -> connected components over confirmed
    pairs only -> keep-best representative per cluster.  Every stage is
    the registered machinery (minhash_native_pairs via
    edit_verified_pairs, connected_components, keep_best) — this key
    pins their production composition end to end."""
    docs = load(spark, sf_dir, "documents")
    verified = edit_verified_pairs(docs).select("id_a", "id_b")
    return keep_best(docs, connected_components(verified))


# --- x60: what the gate buys (x45-style monitor over BOTH pair sets) ------------
#: x60's final aggregation over its three pair sets (exact_pairs,
#: banded, verified); scripts/scale_closure_check.py runs it over the
#: same three names staged as temp tables.
_X60_FINAL = """base AS (
      SELECT COALESCE(e.id_a, b.id_a) AS id_a,
             COALESCE(e.id_b, b.id_b) AS id_b,
             (e.id_a IS NOT NULL) AS in_exact,
             (b.id_a IS NOT NULL) AS in_banded
      FROM exact_pairs e
      FULL OUTER JOIN banded b ON e.id_a = b.id_a AND e.id_b = b.id_b),
    j AS (
      SELECT base.in_exact, base.in_banded,
             (v.id_a IS NOT NULL) AS in_ver
      FROM base LEFT JOIN verified v
        ON base.id_a = v.id_a AND base.id_b = v.id_b)
    SELECT COUNT(*) FILTER (WHERE in_banded) AS n_banded,
           COUNT(*) FILTER (WHERE in_ver) AS n_verified,
           CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_banded) AS DOUBLE)
                / greatest(COUNT(*) FILTER (WHERE in_banded), 1) * 1e6 + 0.5)
                AS BIGINT) AS banded_precision_e6,
           CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_ver) AS DOUBLE)
                / greatest(COUNT(*) FILTER (WHERE in_ver), 1) * 1e6 + 0.5)
                AS BIGINT) AS verified_precision_e6,
           CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_banded) AS DOUBLE)
                / greatest(COUNT(*) FILTER (WHERE in_exact), 1) * 1e6 + 0.5)
                AS BIGINT) AS banded_recall_e6,
           CAST(floor(CAST(COUNT(*) FILTER (WHERE in_exact AND in_ver) AS DOUBLE)
                / greatest(COUNT(*) FILTER (WHERE in_exact), 1) * 1e6 + 0.5)
                AS BIGINT) AS verified_recall_e6
    FROM j"""


def _x60_oracle() -> str:
    x04 = _registry.ORACLE["x04_neardup_jaccard"]
    x04d = _registry.ORACLE["x04d_minhash_native"]
    x47 = _registry.ORACLE["x47_edit_verify"]
    return f"""
    WITH exact_pairs AS (SELECT id_a, id_b FROM ({x04})),
    banded AS (SELECT id_a, id_b FROM ({x04d})),
    verified AS (SELECT id_a, id_b FROM ({x47})),
    {_X60_FINAL}
    """


@query("x60_verify_gate_effect", oracle=_x60_oracle())
def x60_verify_gate_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One monitoring row quantifying the x59 gate: precision/recall of
    the RAW banded-MinHash pair set and of the edit-verified subset,
    both against exact-Jaccard ground truth.  The gate can only remove
    pairs, so verified precision >= banded precision and verified
    recall <= banded recall — the monitor states the trade a production
    owner tunes _X47_REL_NUM/_X47_REL_DEN against."""
    docs = load(spark, sf_dir, "documents")
    exact = jaccard_pairs(docs, threshold=_X04_THRESHOLD, k=_X04_K).select(
        "id_a", "id_b", F.lit(True).alias("in_exact")
    )
    # one banding pass: the candidate list is tiny (threshold output),
    # so checkpoint it and feed both the raw-banded flags and the
    # verify gate from the same materialization
    cands = minhash_native_pairs(docs).localCheckpoint(eager=True)
    banded = cands.select("id_a", "id_b", F.lit(True).alias("in_banded"))
    verified = edit_verified_pairs(docs, cands=cands).select(
        "id_a", "id_b", F.lit(True).alias("in_ver")
    )
    j = (
        exact.join(banded, ["id_a", "id_b"], "full_outer")
        .join(verified, ["id_a", "id_b"], "left")
        .select(
            F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
            F.coalesce("in_banded", F.lit(False)).alias("in_banded"),
            F.coalesce("in_ver", F.lit(False)).alias("in_ver"),
        )
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    tp_b, n_b = cnt(F.col("in_exact") & F.col("in_banded")), cnt(F.col("in_banded"))
    tp_v, n_v = cnt(F.col("in_exact") & F.col("in_ver")), cnt(F.col("in_ver"))
    n_e = cnt(F.col("in_exact"))
    return j.agg(
        n_b.alias("n_banded"),
        n_v.alias("n_verified"),
        qint(tp_b.cast("double") / F.greatest(n_b, F.lit(1))).alias(
            "banded_precision_e6"
        ),
        qint(tp_v.cast("double") / F.greatest(n_v, F.lit(1))).alias(
            "verified_precision_e6"
        ),
        qint(tp_b.cast("double") / F.greatest(n_e, F.lit(1))).alias(
            "banded_recall_e6"
        ),
        qint(tp_v.cast("double") / F.greatest(n_e, F.lit(1))).alias(
            "verified_recall_e6"
        ),
    )


# --- x55: incremental batch dedup against a historical index --------------------
# Production dedup is INCREMENTAL: each arriving batch is checked
# against the digest index of everything already accepted — never a
# rescan of history's text.  The historical side reduces to 32-byte
# digests (at 100 TB: a bucketed digest table joined shuffle-free, or a
# bloom pre-filter ahead of the exact anti join); the new batch keeps
# (a) rows whose digest is absent from history and (b) one
# representative per digest WITHIN the batch (min doc_id — arrivals in
# one batch have no order).  s11 is this operator's streaming arm
# (watermarked digest state); this is the batch/backfill arm.
@query(
    "x55_incremental_dedup",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 3 <> 0),
    batch AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 3 = 0),
    fresh AS (
      SELECT b.doc_id, b.h FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.h = b.h)),
    keep AS (
      SELECT doc_id, h,
             row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM fresh)
    SELECT (SELECT COUNT(*) FROM batch) AS n_batch,
           COUNT(*) FILTER (WHERE rn = 1) AS n_accepted,
           (SELECT COUNT(*) FROM batch) - COUNT(*) AS n_dup_vs_history,
           COUNT(*) FILTER (WHERE rn > 1) AS n_dup_in_batch
    FROM keep
    """,
)
def x55_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One summary row per incremental run: batch size, accepted rows,
    rows rejected against history, rows rejected within the batch."""
    docs = load(spark, sf_dir, "documents")
    hist = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.sha2("text", 256).alias("h")
    )
    fresh = batch.join(hist, "h", "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    keep = fresh.withColumn("rn", F.row_number().over(w))
    n_batch = batch.count()
    # count(when(...)) mirrors DuckDB's COUNT(*) FILTER: both return 0
    # (not NULL) when `keep` is empty — i.e. when every batch row
    # duplicates history.
    return keep.agg(
        F.lit(n_batch).cast("long").alias("n_batch"),
        F.count(F.when(F.col("rn") == 1, 1)).cast("long").alias("n_accepted"),
        (F.lit(n_batch) - F.count("*")).cast("long").alias("n_dup_vs_history"),
        F.count(F.when(F.col("rn") > 1, 1)).cast("long").alias(
            "n_dup_in_batch"
        ),
    )


# --- x61: SemDeDup — scalable semantic dedup via cluster-then-prune -------------
# x04f's exact cosine self-join is quadratic, which is why it runs on a
# 200-vector slice; SemDeDup (Abbas et al., 2023) is the scale path: a
# cheap k-means partitions the embedding space, candidate pairs are
# generated ONLY within a cluster (pair space ~N²/k instead of N²), and
# per duplicate group the member FARTHEST from its cluster centroid is
# kept (the paper's diversity-preserving criterion — near-centroid
# copies are the redundant ones).  This key runs over the WHOLE
# embeddings table — no LIMIT — precisely because the clustering prunes
# the pair space.  Every stage is existing machinery: x24's bit-exact
# k-means (deterministic seeds + one decimal-exact refit), x04f's
# within-group cosine pairs, connected components, and an argmax keep
# window — so the whole composition is value-hash oracle-checked.
_X61_THRESHOLD = 0.35
#: x61's within-cluster cosine pairs over the k-means assignment `asg`
#: (vec_id, cid): the `v` and `pairs` CTEs, which
#: scripts/scale_closure_check.py runs over a staged `asg` table.
_X61_PAIRS_SQL = f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE list_cosine_similarity(va.v, vb.v) >= {_X61_THRESHOLD})"""


def _x61_oracle() -> str:
    # x24 is registered by clustering.py; a Spark WORKER re-importing
    # this module standalone (UDF deserialization) has not run
    # registry.load_all(), so pull clustering in explicitly (no
    # circularity: clustering imports nothing from dedup)
    import fanstats_producer_spark.operators.clustering  # noqa: F401

    x24 = _registry.ORACLE["x24_kmeans"]
    return f"""
    WITH RECURSIVE asg AS (
      SELECT vec_id, cluster_id AS cid, dist2_e6 FROM ({x24})),
    {_X61_PAIRS_SQL},
    {_CLOSURE_SQL},
    cl AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    merged AS (
      SELECT asg.vec_id,
             COALESCE(cl.cluster_id, asg.vec_id) AS sem_cluster,
             asg.dist2_e6
      FROM asg LEFT JOIN cl ON cl.node = asg.vec_id),
    ranked AS (
      SELECT vec_id, sem_cluster, dist2_e6,
             row_number() OVER (PARTITION BY sem_cluster
                                ORDER BY dist2_e6 DESC, vec_id) AS rn
      FROM merged)
    SELECT vec_id, CAST(sem_cluster AS BIGINT) AS sem_cluster, dist2_e6,
           (rn = 1) AS is_kept
    FROM ranked ORDER BY vec_id
    """


def _semdedup_blas_pairs(side: DataFrame, threshold: float) -> DataFrame:
    """Per-cluster cosine pairs via an applyInPandas numpy/BLAS matmul.

    Each k-means cluster's members arrive as one pandas group; the
    normalized gram matrix X̂·X̂ᵀ yields every within-cluster cosine in
    one BLAS call instead of one JVM array-fold per pair (measured sf1:
    84.3 s fold → 12.0 s BLAS = 7.0× — BASELINE.md).  The matmul runs in row blocks of
    1024 so peak memory is B×|cluster| floats, not |cluster|², keeping
    a hot cluster from blowing an executor even if k∝N sizing slips.
    FOLD-EXACT BY CONSTRUCTION (round 11, the s26b rescue pattern):
    BLAS reassociates the float sums, so any pair whose fast cosine
    lands within 1e-10 of the threshold is re-decided with
    similarity._fold_cosine — the fold arm's exact scalar sequence
    over the raw components; outside the band the fast value's
    <1e-13 deviation cannot cross the threshold, so the emitted pair
    set is bit-identical to the fold scorer on every input (the
    forced-path test pins fixture equality; the band argument is in
    similarity._BLAS_RESCUE_BAND_E6's comment)."""
    import numpy as np

    from fanstats_producer_spark.operators.similarity import (
        _BLAS_RESCUE_BAND_E6,
        _fold_cosine,
    )

    # the decontam arm's band is stated in e6 floor units; this arm
    # compares raw cosines, so convert — importing the shared constant
    # keeps the two rescue paths in lockstep if it is ever retuned
    # (ADVICE r11)
    rescue_band = _BLAS_RESCUE_BAND_E6 / 1e6

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0  # zero vectors pair with nothing anyway
        Xh = X / nrm[:, None]
        n = len(ids)
        blocks_a, blocks_b = [], []
        B = 1024
        for s in range(0, n, B):
            S = Xh[s : s + B] @ Xh.T  # (B, n) similarity block
            mask = S >= threshold
            near = np.abs(S - threshold) < rescue_band
            if near.any():
                for r, c in zip(*np.nonzero(near)):
                    mask[r, c] = (
                        _fold_cosine(X[s + r], X[c]) >= threshold
                    )
            bi, bj = np.nonzero(mask)
            bi = bi + s
            m = bi < bj  # upper triangle only ⇒ id pairs once
            blocks_a.append(ids[bi[m]])
            blocks_b.append(ids[bj[m]])
        ia = np.concatenate(blocks_a) if blocks_a else np.array([], dtype=ids.dtype)
        ib = np.concatenate(blocks_b) if blocks_b else np.array([], dtype=ids.dtype)
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return side.select("cid", "vec_id", "v").groupBy("cid").applyInPandas(
        score, "id_a long, id_b long"
    )


#: scorer="auto" crossover: below this many vectors (sf0.01's 500) the
#: gate keeps the JVM fold join, where per-cluster work is too small to
#: amortize the Arrow round-trip; at and above it the applyInPandas BLAS
#: matmul runs.  Measured r13 above the gate, warm interleaved
#: best-of-5: sf0.1 / 2k vectors fold 4.03 s vs blas 2.90 s; sf1 / 20k
#: vectors fold 84.3 s vs blas 12.0 s (BASELINE.md).  The gate reads one
#: metadata-only count, the same size-gated-plan pattern as
#: connected_components' driver_threshold.
_X61_BLAS_MIN_VECTORS = 1_000


def semdedup(
    spark: SparkSession, sf_dir: str, scorer: str = "auto"
) -> DataFrame:
    """SemDeDup over the full embeddings table: k-means prunes the pair
    space to within-cluster joins, cosine pairs at or above
    _X61_THRESHOLD (0.35) form semantic duplicate groups (connected
    components), and each group keeps its farthest-from-centroid
    member (dist2_e6 DESC, vec_id tie-break); unpaired vectors keep
    themselves.

    Plan shape at 100 TB: the k centroids broadcast into assignment
    (vectors never shuffle for it), the pair join shuffles on cid — k
    times narrower than x04f's full cross pair space — and the keep
    decision is one window over |corpus| rows keyed by component.  Two
    levers the fixture pins but production turns: k scales with corpus
    size so cluster cardinality stays bounded (the within-cluster pair
    count is Σ|cluster|², so k ∝ N holds per-cluster work constant);
    and the pair scorer.  ``scorer="auto"`` (the default, and what x61
    runs) picks by corpus size at _X61_BLAS_MIN_VECTORS: the fold-exact
    JVM cosine join below it, the per-cluster applyInPandas BLAS matmul
    (_semdedup_blas_pairs — measured sf1 84.3 s → 12.0 s = 7.0×) at and
    above it.  The BLAS arm is fold-exact by construction, so both emit
    the same pair set; ``"fold"`` and ``"blas"`` force one arm, which
    the forced-path test uses to pin that equality."""
    from fanstats_producer_spark.operators.clustering import kmeans_assignments

    emb = spread(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    # materialize the k-means assignment ONCE: both the pair pipeline
    # and the keep-policy fold consume `asg`, and without a checkpoint
    # the full seed/assign/refit/reassign pipeline re-executes per
    # consumer.  Measured trade: +0.5 s at sf0.1 (2k vectors — the
    # recompute is cheaper than the materialization) but -16 s at sf1
    # (84.7 -> 68.4 warm); sized for scale, like the rest of the key
    asg = disk_checkpoint(
        kmeans_assignments(emb)
        .select("vec_id", "cid", qint("dist2").alias("dist2_e6"))
    )
    # within-cluster candidate pairs with precomputed norms (the x04f
    # lesson: inlined cosine() re-evaluates three array aggregates per
    # pair; one norm per vector instead)
    dv = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, val: acc + val,
            )
        ),
    )
    side = asg.select("vec_id", "cid").join(dv, "vec_id")
    if scorer == "auto":
        # metadata-only parquet count on the RAW table (counting the
        # spread frame would execute its repartition) picks the arm by
        # the measured crossover; both arms emit the identical pair set
        # (the blas arm is fold-exact by construction), so this gate
        # can never change the result, only the plan
        n_vecs = load(spark, sf_dir, "embeddings").count()
        scorer = "blas" if n_vecs >= _X61_BLAS_MIN_VECTORS else "fold"
    if scorer == "blas":
        pairs = _semdedup_blas_pairs(side, _X61_THRESHOLD)
    else:
        a = side.select(
            "cid",
            F.col("vec_id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        )
        b = side.select(
            "cid",
            F.col("vec_id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        )
        dot_ab = F.aggregate(
            F.zip_with("va", "vb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )
        pairs = (
            a.join(b, "cid")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(dot_ab / (F.col("na") * F.col("nb")) >= _X61_THRESHOLD)
            .select("id_a", "id_b")
        )
    cl = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id").alias("sem")
    )
    merged = asg.join(cl, "vec_id", "left").select(
        "vec_id",
        F.coalesce("sem", F.col("vec_id")).alias("sem_cluster"),
        "dist2_e6",
    )
    w = Window.partitionBy("sem_cluster").orderBy(
        F.col("dist2_e6").desc(), F.col("vec_id")
    )
    return merged.withColumn("rn", F.row_number().over(w)).select(
        "vec_id",
        "sem_cluster",
        "dist2_e6",
        (F.col("rn") == 1).alias("is_kept"),
    )


@query("x61_semdedup", oracle=_x61_oracle())
def x61_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered SemDeDup key — size-gated scorer (optimization r13).
    Above the measured crossover (_X61_BLAS_MIN_VECTORS) the pair scorer
    is the applyInPandas BLAS matmul, which is fold-exact BY
    CONSTRUCTION (_semdedup_blas_pairs: any cosine within the rescue
    band of the threshold is re-decided with the fold arm's exact
    scalar sequence, and outside the band the <1e-13 reassociation
    error cannot cross it), so the emitted pair set — and therefore
    every cluster and keep decision — is bit-identical to the fold
    scorer on every input (forced-path pytest pins fixture equality;
    oracle stays green at every SF by construction).  Below the
    crossover (sf0.01's 500 vectors) the JVM fold join runs, where
    per-cluster work is too small to amortize the Arrow round-trip.
    Above it blas wins, measured warm interleaved: sf0.1 (2k vectors)
    fold 4.03 s vs blas 2.90 s, sf1 fold 84.3 s vs blas 12.0 s
    (BASELINE.md, OPTIMIZATION_r13.md)."""
    return semdedup(spark, sf_dir)


def streaming_band_keys(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-ROW MinHash signature + LSH band keys — the streaming-safe
    formulation of minhash_native_pairs' signature stage (s21).

    The batch path computes each signature component as a groupBy MIN
    over exploded shingle hashes; a stream can't re-aggregate a
    document across micro-batches, so here the whole signature is a
    single projection: the shingle array maps once through the md5
    word (one digest per shingle), and each of the _MH_HASHES
    components is array_min over the per-component universal hash —
    identical constants, geometry and bit-math to the batch/oracle
    formula (_mh_ab, mod P, _MH_HASHES/_MH_BANDS/_MH_K), so the two
    formulations produce byte-identical signatures (asserted in tests).
    Everything is JVM array kernels: no UDF, no shuffle, no state — the
    stateless prefix of the online dedup.

    As in minhash_native_pairs, the 64-component projection is built
    as ONE SQL expression string, not a per-component Column loop —
    the loop form costs seconds of driver-side py4j chatter per
    invocation (and this function runs inside foreachBatch setup on
    every streaming key that uses it)."""
    r = _MH_HASHES // _MH_BANDS
    sh = with_shingles(docs, k=_MH_K).filter(F.size("shingles") > 0)
    sh = sh.withColumn(
        "__wms",
        F.expr(
            "transform(shingles, s ->"
            " cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"
            f" % {_MH_P})"
        ),
    )

    def _component(i: int) -> str:
        a, b = _mh_ab(i)
        # cast to INT exactly like the batch signature (r14): the band
        # keys hash the component VALUES, so batch and stream stay
        # byte-identical (pinned by
        # test_streaming_band_keys_match_batch_formulation)
        return (
            f"cast(array_min(transform(__wms,"
            f" w -> ({a} * w + {b}) % {_MH_P})) as int)"
        )

    sig_arr = (
        "array(" + ", ".join(_component(i) for i in range(_MH_HASHES)) + ")"
    )
    sh = sh.withColumn("sig", F.expr(sig_arr))
    band_arr = ", ".join(
        "xxhash64(%d, %s)"
        % (b2, ", ".join(f"sig[{b2 * r + j}]" for j in range(r)))
        for b2 in range(_MH_BANDS)
    )
    # `carry` columns (s22: text for the edit gate) ride the exploded
    # rows; callers that need them once per doc re-distinct inside the
    # micro-batch — no pre-explode shuffle either way
    return sh.select(
        "doc_id",
        *carry,
        F.expr(f"explode(array({band_arr}))").alias("band_hash"),
    )


# --- x75: cross-source duplication matrix --------------------------------------
def _x75_oracle() -> str:
    from fanstats_producer_spark import registry as _reg

    x04d = _reg.ORACLE["x04d_minhash_native"]
    return f"""
    WITH pairs AS (SELECT id_a, id_b FROM ({x04d})),
    src AS (SELECT doc_id, source FROM documents),
    tagged AS (
      SELECT least(sa.source, sb.source) AS src_lo,
             greatest(sa.source, sb.source) AS src_hi
      FROM pairs
      JOIN src sa ON sa.doc_id = id_a
      JOIN src sb ON sb.doc_id = id_b)
    SELECT src_lo, src_hi, COUNT(*) AS n_pairs
    FROM tagged GROUP BY src_lo, src_hi
    """


@query("x75_cross_source_dup", oracle=_x75_oracle())
def x75_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x75: cross-source duplication matrix — near-dup pair counts per
    unordered source pair, the dataset-composition diagnostic that
    tells a corpus owner WHICH ingestion feeds duplicate each other
    (off-diagonal cells: cross-source contamination — e.g. two crawls
    of the same site; diagonal cells: within-source duplication).  The
    near-dup relation is the registered banded-MinHash surface (x04d:
    64 hashes, 16 bands, est >= 0.5), so the matrix is consistent with
    every other dedup key by construction.

    Plan: the banded pair list is LSH-bounded (never all-pairs); the
    (doc_id, source) dim projects two columns and joins the pair list
    on each endpoint — at bench SF the pair side broadcasts; at corpus
    scale both joins are shuffle joins on doc_id against a two-column
    dim, and the matrix rollup moves at most |sources|^2 rows."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    pairs = minhash_native_pairs(docs).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "source", "source_a"
            ),
            "id_a",
        )
        .join(
            src.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "source", "source_b"
            ),
            "id_b",
        )
        .select(
            F.least("source_a", "source_b").alias("src_lo"),
            F.greatest("source_a", "source_b").alias("src_hi"),
        )
    )
    return tagged.groupBy("src_lo", "src_hi").agg(
        F.count("*").alias("n_pairs")
    )
