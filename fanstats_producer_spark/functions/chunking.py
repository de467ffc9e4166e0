"""Document chunking and sequence packing — the two transforms that sit
between a cleaned corpus and a training dataloader.

- Chunking: split long documents into overlapping fixed-size token
  windows (context-window fitting with overlap so no span is lost at a
  boundary).  Pure array expressions: per-row transform over computed
  chunk starts, then explode — no Python, no shuffle.
- Packing: concatenate consecutive short documents into ~budget-sized
  groups ("concat-and-chop" packing).  Greedy running-token-count over
  a deterministic document order, group = floor(prior_cumsum / budget);
  one window pass + one shuffle for the group agg.  At 100 TB the
  window partitions by shard key (here: lang) so no global ordering is
  ever required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fanstats_producer_spark.io import load
from fanstats_producer_spark.registry import query

_CHUNK = 20
_STRIDE = 15  # overlap = _CHUNK - _STRIDE = 5 tokens


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = _CHUNK,
    stride: int = _STRIDE,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_chunk_tokens) — overlapping
    windows; the final partial window is kept (training wants the tail).
    ``passthrough`` names extra columns to carry onto every chunk row
    (e.g. the shard key for downstream packing)."""
    # Materialize the token array in its own projection: inlined into the
    # per-chunk lambda, the split would re-tokenize the whole document for
    # every chunk slice (O(n·chunks) per row — the x26 lesson).  As a
    # non-cheap multiply-referenced alias, CollapseProject keeps the
    # projection separate and each row tokenizes once.
    base = docs.select(
        "doc_id", *passthrough, F.split("text", " ").alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(chunk_size)) / F.lit(stride)) + 1, F.lit(1)
    ).cast("int")
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("int").alias("chunk_idx"),
            F.array_join(
                F.slice(toks, (s + 1).cast("int"), chunk_size), " "
            ).alias("chunk_text"),
            F.least(n - s, F.lit(chunk_size)).cast("int").alias("n_chunk_tokens"),
        ),
    )
    return base.select(
        "doc_id", *passthrough, F.explode(chunks).alias("c")
    ).select("doc_id", *passthrough, "c.chunk_idx", "c.chunk_text", "c.n_chunk_tokens")


@query(
    "x17_chunking",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         n AS (SELECT doc_id, toks, len(toks) AS n_tok,
                      greatest(CAST(ceil((len(toks) - {_CHUNK}) / {_STRIDE}.0) AS INT) + 1, 1)
                        AS n_chunks
               FROM d)
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           array_to_string(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}], ' ')
             AS chunk_text,
           CAST(least(n_tok - i * {_STRIDE}, {_CHUNK}) AS INT) AS n_chunk_tokens
    FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)
    """,
)
def x17_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load(spark, sf_dir, "documents"))


_BUDGET = 256


def pack_documents(docs: DataFrame, budget: int = _BUDGET) -> DataFrame:
    """Assign docs to ~budget-token packs: deterministic doc order per
    `lang` shard, pack = floor(tokens-before-this-doc / budget)."""
    n_tok = F.size(F.split("text", " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return docs.select(
        "doc_id",
        F.col("lang").alias("shard"),
        n_tok.cast("long").alias("n_tokens"),
        F.floor(before / budget).cast("long").alias("pack_id"),
    )


@query(
    "x18_packing",
    oracle=f"""
    SELECT doc_id,
           lang AS shard,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(floor(COALESCE(SUM(len(string_split(text, ' '))) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {_BUDGET}) AS BIGINT) AS pack_id
    FROM documents
    """,
)
def x18_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_documents(load(spark, sf_dir, "documents"))


# --- x26: content-defined chunking (CDC) ---------------------------------------
# x17's fixed windows shift wholesale when a single token is inserted
# upstream — every downstream chunk hash changes and chunk-level dedup
# finds nothing.  Content-defined boundaries cut where a rolling window
# hash hits a divisor condition, so an edit only disturbs chunks up to
# the next content boundary (the rsync/LBFS/restic trick, applied to
# token streams for shift-robust corpus dedup at 100 TB).
#
# All integer arithmetic (the x11 token-hash pattern: ascii*31+len,
# polynomial window hash mod 1e9+7) — bit-identical across engines,
# fully vectorized array expressions, no UDF, no shuffle before the
# final explode.
_CDC_W = 4          # rolling window width (tokens)
_CDC_DIV = 16       # boundary when hash % DIV == 0 → avg chunk ≈ DIV tokens
_CDC_MOD = 1_000_000_007


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_no, n_tokens, chunk): content-defined segments of
    `text`."""
    toks = F.split(F.col("text"), " ")
    # Materialize toks/vals/n as REAL columns in their own projection
    # before the boundary probe references them.  Inlining `vals` into
    # the filter lambda would re-evaluate the whole token-hash transform
    # at every probe position (O(n²) per document — measured ~18 s at
    # sf0.1 vs ~1 s materialized); as separate non-cheap multiply-
    # referenced projections, CollapseProject keeps them apart and each
    # array is computed once per row, element_at probes are O(1).
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.transform(
            toks, lambda x: (F.ascii(x) * 31 + F.length(x)).cast("long")
        ).alias("vals"),
        F.size(toks).alias("n"),
    )
    n = F.col("n")
    # positions i (1-based) where the w-token window ends; sequence()
    # counts DOWN when n < w, so guard short docs to an empty array
    idx = F.when(n >= _CDC_W, F.sequence(F.lit(_CDC_W), n)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    weights = [131 ** (_CDC_W - 1 - k) for k in range(_CDC_W)]

    def whash(vals_col, i):
        acc = None
        for k, wt in enumerate(weights):
            term = F.element_at(vals_col, i - (_CDC_W - 1 - k)) * F.lit(wt)
            acc = term if acc is None else acc + term
        return acc % F.lit(_CDC_MOD)

    d = base.select(
        "doc_id",
        "toks",
        F.filter(
            F.transform(idx, lambda i: i.cast("int")),
            lambda i: whash(F.col("vals"), i) % _CDC_DIV == 0,
        ).alias("bounds"),
        "n",
    )
    cuts = F.array_sort(
        F.array_distinct(
            F.concat(F.array(F.lit(0)), F.col("bounds"), F.array(F.col("n")))
        )
    )
    chunks = F.transform(
        F.slice(cuts, 2, F.size(cuts) - 1),
        lambda cut, j: F.struct(
            (cut - F.element_at(cuts, j + 1)).alias("n_tokens"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"),
                    F.element_at(cuts, j + 1) + 1,
                    cut - F.element_at(cuts, j + 1),
                ),
            ).alias("chunk"),
        ),
    )
    out = d.select("doc_id", F.posexplode(chunks).alias("pos", "c"))
    return out.select(
        "doc_id",
        (F.col("pos") + 1).alias("chunk_no"),
        F.col("c.n_tokens").cast("long").alias("n_tokens"),
        F.col("c.chunk").alias("chunk"),
    )


@query(
    "x26_cdc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             list_transform(string_split(text, ' '),
               x -> CAST(ascii(x) * 31 + length(x) AS BIGINT)) AS vals,
             len(string_split(text, ' ')) AS n
      FROM documents),
    b AS (
      SELECT doc_id, toks, n,
             list_filter(range({_CDC_W}, n + 1),
               i -> (vals[i-3] * {131**3} + vals[i-2] * {131**2}
                     + vals[i-1] * 131 + vals[i]) % {_CDC_MOD}
                    % {_CDC_DIV} = 0) AS bounds
      FROM t),
    c AS (
      SELECT doc_id, toks,
             list_sort(list_distinct(
               list_concat(list_concat([CAST(0 AS BIGINT)],
                 list_transform(bounds, x -> CAST(x AS BIGINT))),
                 [CAST(n AS BIGINT)]))) AS cuts
      FROM b),
    e AS (
      SELECT doc_id,
             unnest(range(2, len(cuts) + 1)) AS j,
             toks, cuts
      FROM c)
    SELECT doc_id,
           CAST(j - 1 AS INT) AS chunk_no,
           CAST(cuts[j] - cuts[j-1] AS BIGINT) AS n_tokens,
           list_aggregate(toks[CAST(cuts[j-1] + 1 AS BIGINT):CAST(cuts[j] AS BIGINT)],
                          'string_agg', ' ') AS chunk
    FROM e
    """,
)
def x26_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_chunks(load(spark, sf_dir, "documents"))
