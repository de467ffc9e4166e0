"""Structured Streaming jobs (SURVEY.md §2B streaming; BASELINE.json's
chosen approach: "Structured Streaming + S3 sink").

The reference's scheduled batch crawl (cron → task → crawl → append to
S3, reference main.tf:214-244, main.py:122-160) becomes a continuous
pipeline: file-stream source over the landing dir → the *same*
transforms as the batch layer (streaming/batch_equiv.py) → checkpointed
partitioned sink.  Checkpointing upgrades the reference's blind
at-least-once append (main.py:151) to exactly-once.

The 30-minute watermark (WATERMARK) mirrors the reference's implicit
lateness allowance (producer at 05:00, crawler at 05:30 — main.tf:217
vs 309).

Design follows the Structured Streaming model (Armbrust et al.,
"Structured Streaming: A Declarative API for Real-Time Applications in
Apache Spark", SIGMOD 2018 — PAPERS.md): identical declarative
transforms for batch and stream, incremental execution with watermarks,
exactly-once via checkpointed offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

#: Event-time lateness allowance of the watermarked streams, in minutes.
WATERMARK_MINUTES = 30
WATERMARK = f"{WATERMARK_MINUTES} minutes"
#: Fan-session inactivity gap in minutes, shared by s04 (sessionized),
#: its batch arm (batch_equiv.sessionize), q57, s10b's timers and their
#: oracles.
SESSION_GAP_MINUTES = 30
SESSION_GAP = f"{SESSION_GAP_MINUTES} minutes"
#: s10b's watermark in minutes: a session closes once the watermark
#: passes its last event + SESSION_GAP_MINUTES.
SESSION_CLOSE_WATERMARK_MINUTES = 10
#: s23's value-histogram bucket width, shared by the live stream
#: (streaming_psi_drift) and its static reference histogram.
PSI_BUCKET_WIDTH = 8.0


class _StagedState:
    """The on-disk half of staged_merge's protocol: a state dir with
    `.staged` and `.retired` siblings and an optional `_BATCH` marker.
    promote() stamps the marker into `.staged`, retires the old dir,
    renames staged into place and drops the retired copy; recover()
    finishes (or rolls back) a promote the driver died inside."""

    def __init__(self, state_dir: str, with_marker: bool):
        self.state_dir = state_dir
        self.staged = state_dir.rstrip("/") + ".staged"
        self.retired = state_dir.rstrip("/") + ".retired"
        self.with_marker = with_marker

    def exists(self) -> bool:
        import os

        return os.path.isdir(self.state_dir)

    def recover(self) -> None:
        import os

        if os.path.isdir(self.state_dir):
            return
        ok = os.path.isdir(self.staged) and os.path.exists(
            os.path.join(self.staged, "_SUCCESS")
        )
        if ok and self.with_marker:
            # without the batch marker the staged dir predates the
            # marker write — promoting it would lose replay detection
            ok = os.path.exists(os.path.join(self.staged, "_BATCH"))
        if ok:
            os.rename(self.staged, self.state_dir)
        elif os.path.isdir(self.retired):
            os.rename(self.retired, self.state_dir)

    def last_merged(self) -> int:
        import os

        try:
            with open(os.path.join(self.state_dir, "_BATCH")) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def check_batch(self, batch_id: int, job: str) -> bool:
        last = self.last_merged() if self.exists() else -1
        if batch_id < last:
            raise RuntimeError(
                f"{job}: batch_id {batch_id} < last merged batch {last}"
                f" in {self.state_dir} — stale state with a fresh"
                " checkpoint would re-merge non-idempotent state; clear"
                " the state dir before restarting"
            )
        return last == batch_id

    def promote(self, batch_id: int) -> None:
        import os
        import shutil

        if self.with_marker:
            # marker promotes atomically with the data (underscore
            # prefix: invisible to the parquet reader)
            with open(os.path.join(self.staged, "_BATCH"), "w") as f:
                f.write(str(batch_id))
        shutil.rmtree(self.retired, ignore_errors=True)
        if os.path.isdir(self.state_dir):
            os.rename(self.state_dir, self.retired)
        os.rename(self.staged, self.state_dir)
        shutil.rmtree(self.retired, ignore_errors=True)


_EMIT_FRAMES = frozenset({"batch", "prior", "combined", "batch_id"})


def _tables(state) -> dict:
    """A state is one DataFrame, stored at the state dir itself (name
    ""), or a dict of named sub-tables staged and promoted together."""
    return state if isinstance(state, dict) else {"": state}


def staged_merge(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    *,
    partial,
    combine,
    idempotent: bool,
    emit=None,
    name: str = "staged_merge",
) -> StreamingQuery:
    """Maintain a mergeable state table over `stream` with exactly-once
    effect — the one foreachBatch state protocol behind s09, s21, s22,
    s23, s25, s27, s28/s29, s30, s31, s33/s34, s35 and s36.  Callers
    supply only the monoid and, optionally, what each batch publishes.

    Per micro-batch:

    1. recover(): a `.staged` dir with `_SUCCESS` (and `_BATCH` when
       the marker is on) is promoted; otherwise `.retired` is renamed
       back.  Without this a replay after a crash mid-promote would see
       no state and rebuild from one batch, dropping every earlier key.
    2. ``idempotent=False`` (sums, offset advances, verdicts scored
       against prior state): `_BATCH` holds the last merged batch id.
       A batch equal to it is a crash-window replay — everything it
       writes, emit included, landed before that promote — so it
       returns.  A batch below it means stale state under a fresh
       checkpoint, a double-merge hazard, so it raises.  With
       ``idempotent=True`` (MIN, top-k, latest-per-key: re-merging a
       batch is a fixed point) there is no marker.
    3. ``part = partial(batch)``.  On the first batch the new state is
       `part`; after that it is ``combine(state ∪ part)``, which must
       re-aggregate so that combine(partial(A) ∪ partial(B)) equals
       partial(A ∪ B) — the drained state is then independent of how
       the stream was sliced into batches.
    4. ``emit``, if given, writes the batch's verdicts or monitor
       BEFORE the promote, so a marker match (step 2) implies they are
       on disk.  emit names the frames it reads as its parameters, from
       `batch`, `prior` (the state before this batch, None on the
       first), `combined` (the new state) and `batch_id`.  `batch` and
       `combined` are localCheckpointed only when emit names them —
       only then do they have a second consumer.
    5. The new state is written to `.staged` and promoted by rename,
       the marker stamped first so it lands atomically with the data.

    A state is one DataFrame or a dict of named sub-tables (s22).  The
    query drains with Trigger.AvailableNow."""
    import inspect
    import os
    import shutil

    st = _StagedState(state_dir, with_marker=not idempotent)
    reads = set(inspect.signature(emit).parameters) if emit else set()
    if reads - _EMIT_FRAMES:
        raise TypeError(f"emit may only read {sorted(_EMIT_FRAMES)}")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        st.recover()
        if not idempotent and st.check_batch(batch_id, name):
            return
        spark = batch_df.sparkSession
        batch = batch_df
        if "batch" in reads:
            batch = batch.localCheckpoint(eager=True)
        part = partial(batch)

        def shaped(tables: dict):
            return tables if isinstance(part, dict) else tables[""]

        prior = None
        combined = part
        if st.exists():
            prior = shaped({
                n: spark.read.parquet(os.path.join(state_dir, n))
                for n in _tables(part)
            })
            combined = combine(shaped({
                n: _tables(prior)[n].unionByName(p)
                for n, p in _tables(part).items()
            }))
        if "combined" in reads:
            combined = shaped({
                n: t.localCheckpoint(eager=True)
                for n, t in _tables(combined).items()
            })
        if emit is not None:
            frames = {"batch": batch, "prior": prior,
                      "combined": combined, "batch_id": batch_id}
            emit(**{k: frames[k] for k in reads})
        shutil.rmtree(st.staged, ignore_errors=True)
        for n, t in _tables(combined).items():
            t.write.parquet(os.path.join(st.staged, n))
        # root marker for sub-table states (Spark marks each sub-dir)
        open(os.path.join(st.staged, "_SUCCESS"), "w").close()
        st.promote(batch_id)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def staged_sum(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    *,
    partial,
    counts: list[str],
    name: str,
    emit=None,
) -> StreamingQuery:
    """staged_merge for a state of integer counts: `partial` counts one
    batch, and the merge SUMs the `counts` columns grouped by every
    other column.  Sums are not replay-idempotent, so the `_BATCH`
    marker is on.  A count table merged this way reaches the same state
    under any batch slicing — the property s23's PSI and the s33-s36
    drift monitors (KS, AUC, chi², centroid shift) read their reports
    from."""

    def combine(u: DataFrame) -> DataFrame:
        keys = [c for c in u.columns if c not in counts]
        return u.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in counts])

    return staged_merge(
        stream,
        state_dir,
        checkpoint_dir,
        partial=partial,
        combine=combine,
        idempotent=False,
        emit=emit,
        name=name,
    )


def _write_stamped(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Batch-stamped output partition: a replay of the batch overwrites
    the same directory, never double-appends."""
    import os

    df.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch={batch_id}")
    )


def read_event_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType | str = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """s01: file-stream source over a landing dir (P1 made continuous).
    maxFilesPerTrigger is the reference's per-page clamp (main.py:95-96)
    as streaming back-pressure."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)


def windowed_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """s05/s15/s16: watermarked tumbling window aggregation.
    sum_value uses the split-accumulator exact sum (functions/num.py):
    in streaming the partials land in the state store per window, and
    exactness there means the emitted aggregate is bit-identical no
    matter how rows were batched — same contract as the batch arm."""
    from fanstats_producer_spark.functions.num import dsum_pos

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum_pos("value").alias("sum_value"))
        .select("w.start", "w.end", "event_type", "n", "sum_value")
    )


def sessionized(events: DataFrame) -> DataFrame:
    """s04: session windows over the stream (same expression and
    SESSION_GAP as the batch arm in streaming/batch_equiv.py::sessionize)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("w.start", "w.end", "user_id", "n_events")
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """s07: custom stateful per-key processing via applyInPandasWithState —
    running per-user event count + value total, emitted per batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        # State totals accumulate in integer micro-units (floor(v*1e6 +
        # 0.5) per row — the dsum_pos quantization): exact, order-free,
        # and reproducible across any batching of the stream, where a
        # float accumulator would drift with arrival order.
        n, total_u = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_u += int(
                (pdf["value"] * 1_000_000 + 0.5).astype("int64").sum()
            )
        state.update((n, total_u))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_e6": [total_u],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value_e6 long",
        stateStructType="n long, total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_near_dup(
    docs: DataFrame,
    state_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """s21: ONLINE near-duplicate detection — the streaming form of the
    x04d banded-MinHash pipeline.

    Stateless prefix: per-row MinHash signatures + LSH band keys
    (operators/dedup.streaming_band_keys — byte-identical to the batch
    formulation, no aggregation needed; pure JVM array kernels).
    Stateful core: foreachBatch maintains a compacted parquet state
    table of per-BAND-BUCKET minimum doc_id (8 bytes per live bucket —
    state is proportional to distinct band buckets, not documents, and
    each arriving doc touches exactly `bands` buckets).  Each batch:
    combined per-bucket minima = min(state, batch), per-doc verdict =
    near-dup iff ANY of the doc's buckets has combined_min < doc_id
    (deterministic — ties inside a batch resolve by id, not arrival),
    verdicts land batch-stamped, and the MIN merge is idempotent
    (staged_merge without a marker).

    Why not per-bucket typed state (applyInPandasWithState/TWS): a
    bucket-keyed stateful op calls Python once per GROUP, and band
    buckets are nearly distinct per doc — measured 76k groups at sf0.1
    ≈ 10 s of pure per-group overhead vs ~1.5 s for this JVM merge
    (the same per-key-protocol cost the s10 work quantified).  The
    foreachBatch merge keeps every row JVM-side: one min-aggregate and
    one join per batch, both on the band-bucket key.

    Semantics are FIRST-ARRIVAL-WINS — the only semantics an online
    filter can have, since a verdict once emitted cannot be revised
    when a "better" (smaller-id) duplicate arrives in a later batch.
    Within a batch, ties resolve by id (deterministic).  The s21
    oracle states the batch rule "shares a band r-tuple with a smaller
    doc_id", which equals first-arrival verdicts iff ids arrive in
    nondecreasing order across batches — true for the registered drain
    (AvailableNow over one staged landing = ONE batch) and for the
    fixture's id-ordered event time; an out-of-order replay is the
    same arrival-order dependence s11/s12 document for their dedup
    drains.  Cross-batch accumulation is pytest-verified."""
    from fanstats_producer_spark.operators.dedup import streaming_band_keys

    def emit(batch, combined, batch_id):
        verdicts = (
            batch.join(combined, "band_hash")
            .groupBy("doc_id")
            .agg(
                F.max(
                    F.when(F.col("min_id") < F.col("doc_id"), 1).otherwise(0)
                )
                .cast("int")
                .alias("is_dup")
            )
        )
        _write_stamped(verdicts, verdict_dir, batch_id)

    return staged_merge(
        streaming_band_keys(docs),
        state_dir,
        checkpoint_dir,
        partial=lambda b: _bucket_min(b, "doc_id"),
        combine=lambda u: _bucket_min(u, "min_id"),
        idempotent=True,
        emit=emit,
    )


def _bucket_min(df: DataFrame, id_col: str) -> DataFrame:
    """Per-band-bucket minimum id (s21/s22's MIN monoid)."""
    return df.groupBy("band_hash").agg(F.min(id_col).alias("min_id"))


def streaming_verified_near_dup(
    docs: DataFrame,
    state_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """s22: s21's online banded-MinHash detector with the x59 PRECISION
    GATE wired into the stream — the online counterpart of
    x59_verified_dedup's banded -> edit-verify stage.

    s21 emits a verdict the moment band buckets collide; a false LSH
    collision therefore flags (and a destructive consumer drops) a
    non-duplicate.  Here each batch additionally CONFIRMS candidates
    with the exact relative-edit-distance gate before the verdict is
    written: per doc, partner = its colliding bucket's minimum id, and
    `is_dup` requires levenshtein(text, partner_text) * _X47_REL_DEN <=
    max(len) * _X47_REL_NUM (x47's integer gate, read from dedup).
    `is_candidate` keeps the raw banded verdict so the stream doubles as
    its own x60-style gate monitor (candidates vs confirmed, per batch).

    State = TWO compacted parquet tables under state_dir, promoted
    together by staged_merge: `buckets/`
    (per-band-bucket min id — 8 B per live bucket, same as s21) and
    `texts/` (the text of every CURRENT bucket-minimum doc — the only
    docs a future candidate can be paired against, so text state is
    bounded by live buckets, not stream length; a displaced minimum's
    text is dropped at promote).  The edit gate itself is bounded by
    the batch's candidate count — the same "wide levenshtein only over
    the LSH-bounded list" shape as the batch x47/x59 path.

    ONLINE semantics (first-arrival, bucket-min partner): a doc that
    shares a bucket with a smaller NON-minimum doc is verified against
    the minimum only — the one partner an online filter with 8-B
    bucket state can name.  The s22 oracle states exactly this rule;
    x59 remains the batch answer over ALL banded pairs."""
    from fanstats_producer_spark.operators.dedup import (
        _X47_REL_DEN,
        _X47_REL_NUM,
        streaming_band_keys,
    )

    def live_texts(texts: DataFrame, buckets: DataFrame) -> DataFrame:
        # only CURRENT bucket minima can partner future docs
        live = buckets.select(F.col("min_id").alias("doc_id")).distinct()
        return texts.join(live, "doc_id")

    def partial(batch):
        buckets = _bucket_min(batch, "doc_id")
        texts = batch.select("doc_id", "text").distinct()
        return {"buckets": buckets, "texts": live_texts(texts, buckets)}

    def combine(union):
        buckets = _bucket_min(union["buckets"], "min_id")
        # a replayed batch re-delivers texts the state already holds
        texts = union["texts"].dropDuplicates(["doc_id"])
        return {"buckets": buckets, "texts": live_texts(texts, buckets)}

    def emit(batch, combined, batch_id):
        # banded candidates: (doc, partner = colliding bucket's min)
        cands = (
            batch.join(combined["buckets"], "band_hash")
            .filter(F.col("min_id") < F.col("doc_id"))
            .select("doc_id", F.col("min_id").alias("partner_id"))
            .distinct()
        )
        # exact edit gate over the bounded candidate list only: texts
        # broadcast onto the spread pair list (the x47 plan shape)
        batch_texts = batch.select("doc_id", "text").distinct()
        ta = batch_texts.select(
            F.col("doc_id"), F.col("text").alias("text_a")
        )
        # every partner is a live minimum, so its text is in the state
        tb = combined["texts"].select(
            F.col("doc_id").alias("partner_id"), F.col("text").alias("text_b")
        )
        gated = (
            cands.join(F.broadcast(ta), "doc_id")
            .join(F.broadcast(tb), "partner_id")
            .withColumn(
                "ok",
                (
                    F.levenshtein("text_a", "text_b").cast("long")
                    * F.lit(_X47_REL_DEN)
                    <= F.greatest(
                        F.length("text_a"), F.length("text_b"), F.lit(1)
                    ).cast("long")
                    * F.lit(_X47_REL_NUM)
                ).cast("int"),
            )
            .groupBy("doc_id")
            .agg(F.max("ok").alias("is_dup"))
        )
        verdicts = (
            batch_texts.select("doc_id")
            .join(gated, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("is_dup").isNotNull(), 1)
                .otherwise(0)
                .cast("int")
                .alias("is_candidate"),
                F.coalesce("is_dup", F.lit(0)).cast("int").alias("is_dup"),
            )
        )
        _write_stamped(verdicts, verdict_dir, batch_id)

    return staged_merge(
        streaming_band_keys(docs, carry=("text",)),
        state_dir,
        checkpoint_dir,
        partial=partial,
        combine=combine,
        idempotent=True,
        emit=emit,
    )


def streaming_phash_near_dup(
    docs: DataFrame,
    state_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
    features=None,
) -> StreamingQuery:
    """s28: ONLINE perceptual image near-dup — x88's pHash banding run
    as a stream gate, completing the multimodal-meets-streaming matrix
    (text: s21/s22; image: here).  A re-encoded/resized duplicate image
    that sails through byte-level dedup is flagged the moment it
    arrives.

    Stateless prefix: real codec pHash + 9x7-bit band keys per row
    (multimodal.streaming_phash_band_keys — the only Python is the
    mapInPandas codec worker, identical to the batch x88 path).
    Stateful core: foreachBatch maintains per-band-bucket
    (min doc_id, that doc's pHash) — 16 B per live bucket; the stored
    hash is the verify payload, so unlike s22 no second text table is
    needed.  Per batch: combined minima = argmin-by-id over
    state ∪ batch; per doc, partner = each colliding bucket's minimum;
    `is_candidate` = any bucket min < doc_id (the raw LSH signal),
    `is_dup` additionally requires hamming(pHash, partner pHash) <=
    multimodal._X88_HAMMING — the same band/verify parameters as x88,
    where 9 bands at hamming <= 8 make banding pigeonhole-complete.
    Verdicts land batch-stamped; the bucket argmin merge is idempotent
    (no marker).

    ONLINE semantics are first-arrival with bucket-min partner — the
    s22 rule on image hashes; the s28 oracle states exactly it.  State
    scales with live band buckets (each a 7-bit value in one of 9
    bands per observed hash region), never with stream length.

    `features` selects the fingerprint modality (None = image pHash;
    multimodal.audio_fp_features = the s29 audio arm) — the banding,
    state, and verdict machinery are modality-blind over any 63-bit
    fingerprint."""
    from fanstats_producer_spark.operators.multimodal import (
        _X88_HAMMING,
        streaming_phash_band_keys,
    )

    def bucket_argmin(df: DataFrame, id_col: str, ph_col: str) -> DataFrame:
        return df.groupBy("band_hash").agg(
            F.min(id_col).alias("min_id"),
            F.min_by(ph_col, id_col).alias("min_ph"),
        )

    def emit(batch, combined, batch_id):
        near = F.col("min_id") < F.col("doc_id")
        ham_ok = (
            F.bit_count(F.col("phash").bitwiseXOR(F.col("min_ph")))
            <= F.lit(_X88_HAMMING)
        )
        verdicts = (
            batch.join(combined, "band_hash")
            .groupBy("doc_id")
            .agg(
                F.max(F.when(near, 1).otherwise(0))
                .cast("int")
                .alias("is_candidate"),
                F.max(F.when(near & ham_ok, 1).otherwise(0))
                .cast("int")
                .alias("is_dup"),
            )
        )
        _write_stamped(verdicts, verdict_dir, batch_id)

    return staged_merge(
        streaming_phash_band_keys(docs, features),
        state_dir,
        checkpoint_dir,
        partial=lambda b: bucket_argmin(b, "doc_id", "phash"),
        combine=lambda u: bucket_argmin(u, "min_id", "min_ph"),
        idempotent=True,
        emit=emit,
    )


def streaming_decontam_blas(
    vectors: DataFrame,
    evals: DataFrame,
    verdict_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """s26b: the LARGE-EVAL-SUITE decontamination stream — x66's
    decision run per micro-batch in foreachBatch over an eval FRAME
    with similarity.decontam_blas, the batched-matmul scorer that
    serves suites in the thousands (measured: the SQL expression
    forms cost ~125 s at 10k evals × 10k vectors, the matmul 5 s cold
    / ~2 s warm with identical verdicts; its docstring has the
    measurement and the ulp-boundary analysis).  foreachBatch exists
    because the scorer widens a single-split batch by reading its
    partition count, a batch-frame call; the gate is stateless and
    per-row, so batch-local evaluation is exact and
    batch-slicing-invariant, and verdicts land batch-stamped (replay
    overwrites).  `evals` is a static (eval_id, ev) frame, collected
    once into a broadcast matrix (ValueError-gated small side)."""
    from fanstats_producer_spark.operators.similarity import (
        decontam_blas,
        decontam_blas_prepare,
    )

    # collect + broadcast the eval matrix ONCE, outside foreachBatch —
    # a per-batch re-collect would leak one broadcast per micro-batch
    # for the life of a long-running stream (r10 review finding)
    prepared = decontam_blas_prepare(vectors.sparkSession, evals)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = decontam_blas(batch_df, evals, prepared)
        _write_stamped(verdicts, verdict_dir, batch_id)

    return (
        vectors.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_partitioned_stream(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """s01 sink: checkpointed append to a partitioned layout.
    Trigger.AvailableNow preserves the reference's batch cadence
    (drain everything, then stop — main.tf:217) with streaming
    exactly-once semantics."""
    events = df.withColumn("event_date", F.to_date("ts"))
    # Partition-parallel writers: a single-split micro-batch would
    # otherwise have ONE task open/close every date directory in
    # sequence.  Hash-distributing on the partition column costs one
    # micro-batch exchange and gives each writer task a disjoint date
    # subset — same layout, same exactly-once manifest, N-way file IO.
    events = events.repartition("event_date")
    return (
        events.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", out_dir)
        .partitionBy("event_date")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def clicks_to_purchases_join(
    events: DataFrame, horizon: str = "1 hour", how: str = "inner"
) -> DataFrame:
    """s08/s17: stream-stream join with watermarks — purchases matched
    to clicks by the same user within `horizon` before the purchase.

    Both sides are watermarked and the join condition carries the time
    bound, so state on each side is evictable (bounded memory at 100 TB —
    an unbounded-state stream join is a production outage, not a query).

    how="leftOuter" (s17): purchases with no qualifying click emit with
    null click columns — but only once the WATERMARK proves no future
    click can match (state eviction drives the null emission, so those
    rows arrive on the trailing no-data tick, the s16 rule)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user
            AND click_ts <= purchase_ts
            AND click_ts >= purchase_ts - INTERVAL {horizon}
            """
        ),
        how,
    )


def enrich_with_dims(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """s19: stream-static broadcast enrichment — the event stream joins
    a STATIC dimension (customer x nation) on every micro-batch.

    Stream-static inner joins are STATELESS: no watermark, no state
    store — the static side is re-planned each micro-batch (so a dim
    table refreshed between batches is picked up), and the explicit
    broadcast hint keeps the unbounded stream side un-shuffled.  At
    100 TB/day of events this is the canonical enrichment shape: the
    dimension rides the broadcast (or, past broadcast size, a
    storage-partitioned/bucketed join), and the stream never exchanges.
    """
    dims = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select(
        F.col("c_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
    )
    return events.join(
        F.broadcast(dims), events.user_id == dims.c_custkey, "inner"
    )


def upsert_latest_per_key(
    df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """s09: foreachBatch upsert sink — maintain "latest event per
    user_id" as a compacted parquet state table.

    foreachBatch is the escape hatch for sinks Structured Streaming
    can't express declaratively (MERGE/upsert semantics): each
    micro-batch is a *batch* DataFrame, merged with the current state
    by user_id, keeping the max-ts row.  Idempotent per batch (overwrite of
    the compacted state), exactly-once via the checkpoint.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    return staged_merge(
        df,
        state_dir,
        checkpoint_dir,
        partial=latest,
        combine=latest,
        idempotent=True,
    )


def user_value_stats_tws(events: DataFrame) -> DataFrame:
    """s10: transformWithStateInPandas (Spark 4 stateful API) — per-user
    running count/total via an explicit ValueState.  This is the modern
    replacement for applyInPandasWithState (s07): typed state handles,
    timers, and TTL support; state lives in the state store (RocksDB at
    scale), not executor memory.

    Requires the RocksDB state store provider AND an importable
    google.protobuf (the JVM <-> Python state protocol) — callers run
    compat.ensure_protobuf(spark) first, which aliases the Cloud SDK's
    vendored pure-Python runtime when no protobuf distribution is
    installed (see compat.py); with neither available, s07 still covers
    the stateful-survey row via applyInPandasWithState.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n long, total long"
            )

        def handleInputRows(self, key, rows, timerValues):
            # Integer micro-unit accumulation (the s07 quantization):
            # exact and order-free where a float accumulator would
            # drift with arrival order.
            # One state round-trip, not two: every state call is a
            # synchronous proto message to the JVM state server, and
            # get() already answers "absent" with None — exists()+get()
            # would double the per-key protocol cost.
            cur = self._state.get()
            n, total_u = cur if cur is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                total_u += int(
                    (pdf["value"] * 1_000_000 + 0.5).astype("int64").sum()
                )
            self._state.update((n, total_u))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value_e6": [total_u],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType="user_id long, n_events long, total_value_e6 long",
        outputMode="Update",
        timeMode="None",
    )


def user_session_close_tws(events: DataFrame) -> DataFrame:
    """s10b: typed-state sessionization with EVENT-TIME TIMERS and
    ListState — the two transformWithStateInPandas capabilities that
    applyInPandasWithState has no analogue for (s07/s04b emulate
    session close via GroupStateTimeout or session_window; here the
    state store itself schedules the close).

    Per user: every arriving event appends its event-time to a
    ListState and re-arms one event-time timer at last_event + gap.
    When the WATERMARK passes the timer, handleExpiredTimer emits the
    closed session (n_events, first/last event time) and clears state —
    one output row per closed session, exactly once, driven by the
    state store's timer queue rather than by data arrival.  Sessions
    still open when the stream drains are deliberately NOT emitted
    (same append-mode contract as s16).

    State posture at 100 TB: ListState values and the timer queue live
    in the RocksDB state store per partition — nothing is held in
    executor memory across batches, unlike applyInPandasWithState's
    in-memory GroupState.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = SESSION_GAP_MINUTES * 60_000

    class SessionCloser(StatefulProcessor):
        # Protocol-cost note (every state/timer call is one synchronous
        # proto round-trip to the JVM state server — the dominant drain
        # cost at bench SFs, measured in BASELINE.md): instead of the
        # naive get-deadline / deleteTimer / registerTimer / update /
        # append (5 RTs per key per batch), we accumulate timers and
        # detect staleness at EXPIRY from the ListState itself — 2 RTs
        # per key per data batch (appendList + registerTimer), and a
        # stale timer costs exactly the listState.get() that a genuine
        # close needs anyway.

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            # r14 (VERDICT r13 item 7): the close-out row only needs
            # (count, first, last), so the ListState stores ONE
            # pre-aggregated (n, mn, mx) row per key per data batch
            # instead of every event timestamp — the appendList proto
            # payload shrinks from |events-in-batch| rows to 1 and the
            # RocksDB value grows with BATCHES per user, not events.
            # Emissions are unchanged: sum/min/max over per-batch
            # partials equal the per-event aggregates exactly.
            self._evts = handle.getListState(
                "evts", "n long, mn long, mx long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n = 0
            mn = mx = None
            for pdf in rows:
                ts_ms = pdf["ts"].astype("int64") // 1_000_000
                n += len(ts_ms)
                lo, hi = int(ts_ms.min()), int(ts_ms.max())
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
            if n:
                self._evts.appendList([(n, mn, mx)])
                # Re-arm at this batch's deadline; earlier-armed timers
                # are NOT deleted — they fire and are recognized as
                # stale in handleExpiredTimer (cheaper than a
                # deleteTimer round-trip per batch).
                self._handle.registerTimer(mx + gap_ms)
            return iter([])  # sessions emit on timer expiry only

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            parts = list(self._evts.get())
            if not parts:
                # stale timer for an already-closed key — emit nothing
                return
            last_ms = max(p[2] for p in parts)
            if expiredTimerInfo.getExpiryTimeInMs() < last_ms + gap_ms:
                # stale timer from a superseded deadline: newer events
                # arrived after it was armed, so the session is still
                # open; the newest timer carries the true deadline
                return
            self._evts.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [sum(p[0] for p in parts)],
                    "first_ms": [min(p[1] for p in parts)],
                    "last_ms": [last_ms],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", f"{SESSION_CLOSE_WATERMARK_MINUTES} minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionCloser(),
            outputStructType=(
                "user_id long, n_events long, first_ms long, last_ms long"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )


DOCUMENT_SCHEMA = "doc_id long, ts timestamp, text string, lang string"


def read_document_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Document landing-dir stream (the x-layer corpus made continuous)."""
    return spark.readStream.schema(DOCUMENT_SCHEMA).json(landing_dir)


def corpus_prep_stream(docs: DataFrame) -> DataFrame:
    """s12: the streamable prefix of the x19 corpus pipeline — content
    dedup (watermark-bounded digest state), the x08/x09 language+quality
    gates, and chunking, all running continuously on arriving documents.

    Every stage after the dedup is stateless row logic, so the SAME
    functions the batch pipeline uses (language_quality_gate,
    chunk_documents) apply verbatim to the stream — one codepath, two
    execution modes.  Pack assignment is deliberately absent: packing
    needs a per-shard total order (running token sum), which an unbounded
    stream cannot provide without unbounded state; in production the
    packing step runs as the batch compaction pass over each landed
    partition (operators/corpus.py::prepare_corpus stage 5), exactly like
    the reference's crawl-then-query split (main.tf:217 vs :309).
    """
    from fanstats_producer_spark.functions.chunking import chunk_documents
    from fanstats_producer_spark.operators.corpus import language_quality_gate

    deduped = (
        docs.withColumn("content_hash", F.sha2(F.col("text"), 256))
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    return chunk_documents(language_quality_gate(deduped), passthrough=("lang",))


def deduped_by_content(events: DataFrame) -> DataFrame:
    """Streaming exact content dedup (the x03 hash dedup made
    continuous): first arrival of each content digest within the
    watermark wins; digest state evicts with the watermark, so memory
    stays bounded no matter how long the stream runs."""
    with_hash = events.withColumn(
        "content_hash", F.sha2(F.col("props").cast("string"), 256)
    )
    return with_hash.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def psi_buckets(events: DataFrame) -> DataFrame:
    """(event_type, bucket) per event: s23's value histogram buckets,
    PSI_BUCKET_WIDTH wide, read by the live stream and by the static
    reference histogram alike."""
    return events.select(
        "event_type",
        F.floor(F.col("value") / PSI_BUCKET_WIDTH).cast("long").alias("bucket"),
    )


def streaming_psi_drift(
    events: DataFrame,
    ref_counts: DataFrame,
    state_dir: str,
    monitor_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """s23: ONLINE distribution-drift monitor — x63's PSI gate running
    continuously against a static reference distribution.

    State is the cumulative (event_type, bucket) live histogram: plain
    integer counts merged per batch by staged_sum, so state size is
    |types x buckets| — corpus-length-independent.  That commutativity
    gives s23 a property the dedup streams lack: the final monitor is
    BATCH-PARTITION-INVARIANT (any maxFilesPerTrigger slicing converges
    to the same table, pytest-pinned), because PSI is recomputed each
    batch from the merged totals, not from per-batch arrivals.  Each
    batch overwrites the monitor table with the current per-type PSI —
    the live dashboard feed — before the promote, so a replay has
    nothing to do.  The PSI itself is x63's
    (quality_checks.psi_from_counts), so the monitor value-hash-matches
    the batch oracle."""
    from fanstats_producer_spark.operators.quality_checks import psi_from_counts

    def emit(combined):
        counts = (
            ref_counts.select(
                "event_type",
                "bucket",
                F.col("n_ref").cast("long").alias("n_ref"),
                F.lit(0).cast("long").alias("n_live"),
            )
            .unionByName(
                combined.select(
                    "event_type",
                    "bucket",
                    F.lit(0).cast("long").alias("n_ref"),
                    "n_live",
                )
            )
            .groupBy("event_type", "bucket")
            .agg(
                F.sum("n_ref").alias("n_ref"),
                F.sum("n_live").alias("n_live"),
            )
        )
        psi_from_counts(counts, "event_type").write.mode("overwrite").parquet(
            monitor_dir
        )

    return staged_sum(
        psi_buckets(events),
        state_dir,
        checkpoint_dir,
        partial=lambda b: b.groupBy("event_type", "bucket").agg(
            F.count("*").cast("long").alias("n_live")
        ),
        counts=["n_live"],
        emit=emit,
        name="streaming_psi_drift",
    )


def streaming_bloom_dedup(
    docs: DataFrame,
    state_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """s25: approximate streaming dedup with CONSTANT state — the x79
    Bloom sketch maintained online.  Every exact streaming dedup
    (s11/s21) keeps state proportional to distinct content; at
    100 TB/day that index eventually doesn't fit anywhere.  The Bloom
    arm fixes state at m bits FOREVER and accepts a quantified false-
    positive rate (drops a small amount of novel content) in exchange —
    the classic bounded-memory trade, stated here at batch granularity:
    a doc is flagged iff ALL k bit positions of its content digest were
    set by PRIOR batches (within-batch duplicates pass; the next batch
    catches them).  The state merge is bit_or — idempotent as a SET of
    bits — but the VERDICTS are not: a batch replayed after its own
    bits were promoted would score every doc against itself and flag
    the whole batch, so staged_merge runs with the `_BATCH` marker.
    Uses x79's portable md5 bit positions (sketches._X79_M bits, _X79_K
    hashes), so a filter built by this stream can gate any engine's
    batch scan."""
    from fanstats_producer_spark.operators.sketches import (
        _X79_K,
        _X79_W,
        _bloom_bit,
    )

    bits = (
        docs.select(
            "doc_id",
            F.md5("text").alias("digest"),
            F.explode(F.array(*[F.lit(j) for j in range(_X79_K)])).alias("j"),
        )
        .select("doc_id", _bloom_bit(F.col("digest"), F.col("j")).alias("bit"))
        .select(
            "doc_id",
            F.expr(f"bit DIV {_X79_W}").alias("word"),
            F.expr(f"shiftleft(1L, cast(bit % {_X79_W} as int))").alias(
                "mask"
            ),
        )
    )

    def emit(batch, prior, batch_id):
        # verdict against the PRIOR state only
        if prior is None:
            # empty JVM-side relation (no Python-RDD scan)
            prior = batch.sparkSession.range(0).select(
                F.col("id").alias("word"), F.col("id").alias("bits")
            )
        hits = batch.join(F.broadcast(prior), "word", "left").select(
            "doc_id",
            (
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) != 0)
            ).alias("hit"),
        )
        verdicts = hits.groupBy("doc_id").agg(
            F.min(F.col("hit").cast("int")).cast("int").alias("is_dup")
        )
        _write_stamped(verdicts, verdict_dir, batch_id)

    return staged_merge(
        bits,
        state_dir,
        checkpoint_dir,
        partial=lambda b: b.groupBy("word").agg(
            F.bit_or("mask").alias("bits")
        ),
        combine=lambda u: u.groupBy("word").agg(
            F.bit_or("bits").alias("bits")
        ),
        idempotent=False,
        emit=emit,
        name="streaming_bloom_dedup",
    )


def streaming_sequence_packing(
    docs: DataFrame,
    manifest_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    seq_len: int = 512,
) -> StreamingQuery:
    """s27: ONLINE concat-and-chunk sequence packing — x91's manifest
    built incrementally as documents arrive.  State is ONE NUMBER (the
    cumulative token offset); the advance is a sum, NOT replay-
    idempotent (double-advancing would shift every later document), so
    staged_merge runs with the `_BATCH` marker.  Each batch's manifest
    partition is computed from the PRIOR offset and lands before the
    promote.

    Within a batch, documents pack in doc_id order via the bucketed
    running sum (no single-task window — the x35/x91 scale shape);
    across batches, in arrival order.  The layout therefore depends on
    the batch slicing BY DESIGN (a packer consumes the stream it is
    given); the registered key stages a deterministic two-batch landing
    so the oracle can state the order (the s22 precondition pattern).

    At 100 TB: the per-batch work is one narrow aggregation + one
    manifest write, state is O(1), and every emitted manifest row is
    immediately consumable — downstream shard writers can render
    sequence ranges while ingest continues."""
    from fanstats_producer_spark.operators.llm_data import global_running_sum

    def emit(batch, prior, batch_id):
        base = prior.first()["offset"] if prior is not None else 0
        c = global_running_sum(
            batch,
            [F.asc("doc_id")],
            "n_tokens",
            bucket=F.expr("doc_id div 4096"),
            out_col="cum",
        ).withColumn("cum", F.col("cum") + F.lit(base))
        first = F.expr(f"(cum - n_tokens) div {seq_len}")
        last_seq = F.expr(f"(cum - 1) div {seq_len}")
        manifest = c.select(
            "doc_id",
            "n_tokens",
            (F.col("cum") - F.col("n_tokens")).alias("start_offset"),
            first.alias("first_seq"),
            last_seq.alias("last_seq"),
            (last_seq - first + F.lit(1)).alias("n_seqs"),
        )
        _write_stamped(manifest, manifest_dir, batch_id)

    def offset(df: DataFrame, col: str) -> DataFrame:
        return df.agg(
            F.coalesce(F.sum(col), F.lit(0)).cast("long").alias("offset")
        )

    return staged_merge(
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        ),
        state_dir,
        checkpoint_dir,
        partial=lambda b: offset(b, "n_tokens"),
        combine=lambda u: offset(u, "offset"),
        idempotent=False,
        emit=emit,
        name="streaming_sequence_packing",
    )


def streaming_weighted_sample(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 100,
) -> StreamingQuery:
    """s30: ONLINE weighted reservoir sampling — x92's A-Res sample
    maintained over an unbounded document stream.  The per-row key
    ln(u)/w (sampling.ares_keyed) is a pure function of the row, so it
    rides the stream as a STATELESS projection; the state is just the
    current top-k (key_e9 DESC, doc_id ASC) rows — k·24 B forever,
    never stream-length-proportional.  A-Res's defining property makes
    the merge trivially correct AND batch-slicing-invariant:
    top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B)), so any micro-batch
    boundary (and any replay — the merge dedups on doc_id and re-ranks,
    hence idempotent) yields the exact batch-x92 sample.  This is the
    piece a 100 TB ingest pipeline uses to keep a token-proportional
    dev slice LIVE while data lands, instead of re-scanning the corpus
    per refresh.

    Per batch: the incoming rows truncate to their own top-k first
    (TakeOrderedAndProject — per-partition heaps), then merge with the
    k-row state and re-truncate."""
    from fanstats_producer_spark.operators.sampling import (
        ares_keyed,
        ares_topk,
    )

    return staged_merge(
        ares_keyed(docs),
        state_dir,
        checkpoint_dir,
        partial=lambda b: ares_topk(b, k),
        combine=lambda u: ares_topk(u.dropDuplicates(["doc_id"]), k),
        idempotent=True,
    )


def streaming_quantile_monitor(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 256,
) -> StreamingQuery:
    """s31: ONLINE quantile monitor — x97's bottom-k-by-hash sample
    maintained over an unbounded event stream, the quantile sibling of
    the live sketch monitors (distinct s13, drift s23, frequency s14).
    State is the current k smallest-digest (event_id, value) rows —
    k·16 B forever.  Same fixed-point algebra as s30 but on the MIN-k
    side: min-k(A ∪ B) = min-k(min-k(A) ∪ min-k(B)), so the drained
    state equals the batch-x97 sample at any micro-batch slicing, and
    redelivery is idempotent (event_id dedup + re-truncate).  Readers
    compute quantile estimates from the state table at any time
    (sketches.quantile_estimates) — the monitor a 100 TB ingest uses
    to watch a value distribution live without ever rescanning landed
    data."""
    from fanstats_producer_spark.operators.sketches import bottomk_sample

    return staged_merge(
        events.select("event_id", "value"),
        state_dir,
        checkpoint_dir,
        partial=lambda b: bottomk_sample(b, "event_id", k),
        combine=lambda u: bottomk_sample(
            u.dropDuplicates(["event_id"]), "event_id", k
        ),
        idempotent=True,
    )
