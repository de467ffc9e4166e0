"""Structured Streaming tests (SURVEY.md §5.4): real file-stream sources
with fixed event times, watermark-dropped late rows, streaming dedup,
stateful processing, and the checkpointed partitioned sink.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from fanstats_producer_spark.operators import quality_checks
from fanstats_producer_spark.streaming import jobs


def _event(i, ts, user=1, etype="click", value=1.0):
    return {
        "event_id": i,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": json.dumps({"k": i}),
    }


def _write_batch(dirpath, name, rows):
    with open(dirpath / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return d


def _run_to_memory(spark, df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_ingest_to_partitioned_sink(spark, landing, tmp_path):
    """s01: file source → checkpointed partitioned parquet sink, then a
    second batch arrives and only the delta is appended (exactly-once)."""
    _write_batch(landing, "b1.json", [_event(i, f"2024-01-01T0{i}:00:00Z") for i in range(5)])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    q = jobs.write_partitioned_stream(stream, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 5

    _write_batch(landing, "b2.json", [_event(10 + i, f"2024-01-02T0{i}:00:00Z") for i in range(3)])
    q2 = jobs.write_partitioned_stream(
        jobs.read_event_stream(spark, str(landing)), out, ckpt
    )
    q2.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 8  # b1 not re-ingested (checkpoint), b2 appended
    assert back.select("event_date").distinct().count() == 2  # partitioned by day


def test_windowed_counts_stream_matches_batch(spark, landing):
    """s02: the same transform on readStream and read produces identical
    window contents (the one-transform-two-modes contract).  Complete
    output mode so un-finalized windows are visible too."""
    rows = [
        _event(i, f"2024-01-01T10:{m:02d}:00Z", etype=t)
        for i, (m, t) in enumerate(
            [(0, "click"), (5, "click"), (20, "view"), (59, "click"), (30, "view")]
        )
    ]
    _write_batch(landing, "b.json", rows)
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(
        spark, jobs.windowed_counts(stream, window="30 minutes"), "s02_test", "complete"
    )
    batch = spark.read.schema(jobs.EVENT_SCHEMA).json(str(landing))
    want = jobs.windowed_counts(batch, window="30 minutes")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _run_sink(spark, landing, out, ckpt, **wc_kwargs):
    df = jobs.windowed_counts(
        jobs.read_event_stream(spark, str(landing)), **wc_kwargs
    )
    q = (
        df.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_watermark_drops_late_rows(spark, landing, tmp_path):
    """s05: the watermark persists in the checkpoint; a row arriving
    4 hours late (behind the persisted watermark) is dropped and the
    already-finalized window does NOT change."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T10:00:00Z"),
        _event(2, "2024-01-01T10:10:00Z"),
    ])
    _run_sink(spark, landing, out, ckpt, window="30 minutes")
    # advance event time far ahead → watermark 13:30 persisted at ckpt
    _write_batch(landing, "b2.json", [_event(3, "2024-01-01T14:00:00Z")])
    _run_sink(spark, landing, out, ckpt, window="30 minutes")
    # very late row, behind the persisted watermark
    _write_batch(landing, "b3.json", [_event(4, "2024-01-01T10:05:00Z")])
    got = _run_sink(spark, landing, out, ckpt, window="30 minutes")
    closed = {(r.start.isoformat(), r.n) for r in got.collect()}
    assert ("2024-01-01T10:00:00", 2) in closed  # late event 4 dropped
    assert ("2024-01-01T10:00:00", 3) not in closed


def test_stateful_running_totals(spark, landing):
    """s07: applyInPandasWithState accumulates per-user state across
    micro-batches."""
    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T10:00:00Z", user=7, value=1.5),
        _event(2, "2024-01-01T10:01:00Z", user=7, value=2.5),
        _event(3, "2024-01-01T10:02:00Z", user=8, value=10.0),
    ])
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(spark, jobs.user_running_totals(stream), "s07_test", "update")
    rows = {r.user_id: (r.n_events, r.total_value_e6) for r in got.collect()}
    assert rows[7] == (2, 4_000_000)
    assert rows[8] == (1, 10_000_000)


def test_session_window_stream(spark, landing):
    _write_batch(landing, "b.json", [
        _event(1, "2024-01-01T10:00:00Z", user=1),
        _event(2, "2024-01-01T10:10:00Z", user=1),   # same session (gap < 30m)
        _event(3, "2024-01-01T12:00:00Z", user=1),   # new session
    ])
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(spark, jobs.sessionized(stream), "s04_test", "complete")
    sessions = sorted((r.start.isoformat(), r.n_events) for r in got.collect())
    assert sessions == [("2024-01-01T10:00:00", 2), ("2024-01-01T12:00:00", 1)]


def test_stream_stream_join(spark, landing):
    """s08: purchases join clicks from the same user within the horizon."""
    _write_batch(landing, "b.json", [
        _event(1, "2024-01-01T10:00:00Z", user=1, etype="click"),
        _event(2, "2024-01-01T10:30:00Z", user=1, etype="purchase", value=9.0),
        _event(3, "2024-01-01T09:00:00Z", user=2, etype="click"),
        _event(4, "2024-01-01T12:00:00Z", user=2, etype="purchase", value=5.0),  # click too old
        _event(5, "2024-01-01T10:40:00Z", user=3, etype="purchase", value=7.0),  # no click
    ])
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(spark, jobs.clicks_to_purchases_join(stream), "s08_test", "append")
    rows = [(r.purchase_id, r.click_id) for r in got.collect()]
    assert rows == [(2, 1)]


def test_foreach_batch_upsert(spark, landing, tmp_path):
    """s09: latest-per-user state table maintained across two stream runs."""
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck9")
    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T10:00:00Z", user=1, etype="view"),
        _event(2, "2024-01-01T11:00:00Z", user=1, etype="click"),
        _event(3, "2024-01-01T10:30:00Z", user=2, etype="view"),
    ])
    q = jobs.upsert_latest_per_key(
        jobs.read_event_stream(spark, str(landing)), state, ckpt)
    q.awaitTermination(120)
    s1 = {r.user_id: r.event_id for r in spark.read.parquet(state).collect()}
    assert s1 == {1: 2, 2: 3}
    # newer event for user 1, older (ignored) for user 2
    _write_batch(landing, "b2.json", [
        _event(4, "2024-01-01T12:00:00Z", user=1, etype="purchase"),
        _event(5, "2024-01-01T09:00:00Z", user=2, etype="click"),
    ])
    q2 = jobs.upsert_latest_per_key(
        jobs.read_event_stream(spark, str(landing)), state, ckpt)
    q2.awaitTermination(120)
    s2 = {r.user_id: r.event_id for r in spark.read.parquet(state).collect()}
    assert s2 == {1: 4, 2: 3}  # user1 upserted, user2 keeps newer state


def _rows(spark, state):
    """A state dir's tables as sorted row lists (one per sub-table)."""
    import os

    subs = sorted(
        d for d in os.listdir(state) if os.path.isdir(os.path.join(state, d))
    )
    paths = [os.path.join(state, d) for d in subs] or [state]
    return [
        sorted(tuple(r) for r in spark.read.parquet(p).collect())
        for p in paths
    ]


def _doc(i, text, lang="en", source="web"):
    return {"doc_id": i, "ts": f"2024-01-01T10:{i:02d}:00Z", "text": text,
            "lang": lang, "source": source}


_BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the deep dark forest tonight"
)
_OTHER = (
    "completely different sentence about spark structured streaming "
    "state stores and watermark semantics for testing purposes only"
)
_DOCS = (
    [_doc(1, _BASE), _doc(2, _OTHER, "fr", "book")],
    [_doc(3, _BASE), _doc(4, _OTHER + " x y z", "fr"), _doc(5, "a b c d")],
)
_EVENTS = (
    [_event(i, f"2024-01-01T10:{i:02d}:00Z", user=i % 3,
            etype="click" if i % 2 else "view", value=float(i * 7 % 40))
     for i in range(1, 9)],
    [_event(i, f"2024-01-01T11:{i:02d}:00Z", user=3 + i % 2,
            etype="click" if i % 3 else "view", value=float(i * 5 % 40))
     for i in range(9, 17)],
)
_EMB = (
    [{"vec_id": 0, "embedding": [0.5, 0.0], "label": 0},
     {"vec_id": 1, "embedding": [0.0, 0.5], "label": 0}],
    [{"vec_id": 2, "embedding": [0.25, 0.25], "label": 0},
     {"vec_id": 3, "embedding": [0.125, 0.75], "label": 1}],
)
_DOC_SCHEMA = "doc_id long, ts timestamp, text string, lang string, source string"


def _psi(src, state, ckpt, out):
    ref = src.sparkSession.createDataFrame(
        [("click", 0, 3), ("view", 2, 1)],
        "event_type string, bucket long, n_ref long",
    )
    return jobs.streaming_psi_drift(src, ref, state, out, ckpt)


# every staged_merge user: (schema, batches, start(src, state, ckpt,
# out_dir), idempotent)
_STAGED_USERS = {
    "s09": (jobs.EVENT_SCHEMA, _EVENTS,
            lambda s, st, ck, o: jobs.upsert_latest_per_key(s, st, ck),
            True),
    "s21": (_DOC_SCHEMA, _DOCS,
            lambda s, st, ck, o: jobs.streaming_near_dup(s, st, o, ck),
            True),
    "s22": (_DOC_SCHEMA, _DOCS,
            lambda s, st, ck, o: jobs.streaming_verified_near_dup(
                s, st, o, ck),
            True),
    "s23": (jobs.EVENT_SCHEMA, _EVENTS, _psi, False),
    "s25": (_DOC_SCHEMA, _DOCS,
            lambda s, st, ck, o: jobs.streaming_bloom_dedup(s, st, o, ck),
            False),
    "s27": (_DOC_SCHEMA, _DOCS,
            lambda s, st, ck, o: jobs.streaming_sequence_packing(
                s, o, st, ck, seq_len=4),
            False),
    "s28": (_DOC_SCHEMA, _DOCS,
            lambda s, st, ck, o: jobs.streaming_phash_near_dup(
                s, st, o, ck),
            True),
    "s30": (_DOC_SCHEMA, _DOCS,
            lambda s, st, ck, o: jobs.streaming_weighted_sample(
                s, st, ck, k=3),
            True),
    "s31": (jobs.EVENT_SCHEMA, _EVENTS,
            lambda s, st, ck, o: jobs.streaming_quantile_monitor(
                s, st, ck, k=5),
            True),
    "s33": (jobs.EVENT_SCHEMA, _EVENTS,
            lambda s, st, ck, o: jobs.staged_sum(
                s, st, ck, partial=quality_checks.value_counts,
                counts=["c"], name="s33"),
            False),
    "s35": (_DOC_SCHEMA, _DOCS,
            lambda s, st, ck, o: jobs.staged_sum(
                s, st, ck, partial=quality_checks.contingency_counts,
                counts=["o"], name="s35"),
            False),
    "s36": ("vec_id long, embedding array<float>, label int", _EMB,
            lambda s, st, ck, o: jobs.staged_sum(
                s, st, ck, partial=quality_checks.embedding_component_sums,
                counts=["s", "n"], name="s36"),
            False),
}


@pytest.mark.parametrize("user", sorted(_STAGED_USERS))
def test_staged_merge_crash_windows(spark, tmp_path, user):
    """Every staged_merge user survives the crash windows of its
    promote.  The driver dies inside batch 1's promote — old state
    renamed to .retired, the checkpoint never committed batch 1 — with
    .staged either (a) complete or (b) torn; the restart replays batch
    1 and must reach the state of the uninterrupted drain.  Marker
    users (idempotent=False) additionally absorb a fresh-checkpoint
    replay of the batch the marker names without merging it twice,
    and raise on a replay of a batch BELOW the marker (stale state)."""
    import os
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    schema, batches, start, idempotent = _STAGED_USERS[user]
    landing, first = tmp_path / "in", tmp_path / "in_b0"
    for d in (landing, first):
        d.mkdir()

    def land(d, bi):
        _write_batch(d, f"b{bi}.json", batches[bi])
        os.utime(d / f"b{bi}.json", (1000000000 + bi * 100,) * 2)

    state, ckpt, out = (str(tmp_path / n) for n in ("state", "ckpt", "out"))

    def drain(src_dir, ckpt_dir):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src_dir))
        )
        start(src, state, ckpt_dir, out).awaitTermination(120)

    def restore(state_src, suffix=""):
        for sfx in ("", ".staged", ".retired"):
            shutil.rmtree(state + sfx, ignore_errors=True)
        shutil.copytree(state_src, state + suffix)

    # uninterrupted drain, snapshotting state + checkpoint after batch 0
    land(landing, 0)
    land(first, 0)
    drain(landing, ckpt)
    s0, ckpt0 = str(tmp_path / "s0"), str(tmp_path / "ckpt0")
    shutil.copytree(state, s0)
    shutil.copytree(ckpt, ckpt0)
    land(landing, 1)
    drain(landing, ckpt)
    s01 = str(tmp_path / "s01")
    shutil.copytree(state, s01)
    want = _rows(spark, state)

    for staged_complete in (True, False):
        restore(s0, ".retired")
        if staged_complete:
            shutil.copytree(s01, state + ".staged")
        else:
            os.makedirs(state + ".staged")  # torn write: no _SUCCESS
        shutil.rmtree(ckpt)
        shutil.copytree(ckpt0, ckpt)
        drain(landing, ckpt)
        assert _rows(spark, state) == want, staged_complete

    if idempotent:
        return
    # fresh checkpoint re-delivers batch 0 onto state whose marker is 0
    restore(s0)
    drain(first, str(tmp_path / "ckpt_replay"))
    assert _rows(spark, state) == _rows(spark, s0)
    # ... and onto state whose marker is 1: stale, must fail loudly
    restore(s01)
    with pytest.raises(StreamingQueryException, match="stale state"):
        drain(first, str(tmp_path / "ckpt_stale"))
    assert _rows(spark, state) == want


def test_staged_merge_toy_max_monoid(spark, tmp_path):
    """staged_merge on a toy monoid (per-key max) over three file
    batches: the drained state does not depend on the batch slicing, a
    fresh-checkpoint replay with idempotent=True is a fixed point, and
    idempotent=False stamps the last merged batch id as `_BATCH`.
    emit sees the combined state of every batch."""
    import os

    landing = tmp_path / "in"
    landing.mkdir()
    batches = [[("a", 3), ("b", 1)], [("a", 5), ("c", 2)], [("b", 4), ("a", 1)]]
    for bi, rows in enumerate(batches):
        with open(landing / f"b{bi}.json", "w") as f:
            for k, v in rows:
                f.write(json.dumps({"k": k, "v": v}) + "\n")
        os.utime(landing / f"b{bi}.json", (1000000000 + bi * 100,) * 2)
    emitted = []

    def emit(combined, batch_id):
        emitted.append((batch_id, sorted(tuple(r) for r in combined.collect())))

    def drain(tag, mfpt, idempotent, ckpt=None):
        reader = spark.readStream.schema("k string, v long")
        if mfpt:
            reader = reader.option("maxFilesPerTrigger", mfpt)
        state = str(tmp_path / f"state_{tag}")
        jobs.staged_merge(
            reader.json(str(landing)),
            state,
            str(tmp_path / f"ckpt_{ckpt or tag}"),
            partial=lambda b: b.groupBy("k").agg(F.max("v").alias("v")),
            combine=lambda u: u.groupBy("k").agg(F.max("v").alias("v")),
            idempotent=idempotent,
            emit=emit,
        ).awaitTermination(120)
        return state, sorted(tuple(r) for r in spark.read.parquet(state).collect())

    want = [("a", 5), ("b", 4), ("c", 2)]
    _, whole = drain("whole", None, True)
    sliced_dir, sliced = drain("sliced", 1, True)
    assert whole == sliced == want
    assert [b for b, _ in emitted] == [0, 0, 1, 2]
    assert emitted[-1][1] == want and emitted[1][1] == [("a", 3), ("b", 1)]
    assert not os.path.exists(os.path.join(sliced_dir, "_BATCH"))
    # idempotent replay from a fresh checkpoint: state is a fixed point
    assert drain("sliced", 1, True, ckpt="replay")[1] == want

    marked_dir, marked = drain("marked", 1, False)
    assert marked == want
    with open(os.path.join(marked_dir, "_BATCH")) as f:
        assert f.read() == "2"

    with pytest.raises(TypeError):
        jobs.staged_merge(
            None, "", "", partial=None, combine=None, idempotent=True,
            emit=lambda frame: None,
        )


def test_transform_with_state(spark, landing):
    """s10: typed-state processor accumulates across rows per key."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    # the TWS protocol speaks protobuf between JVM and the Python
    # workers; no distribution is installed here, so ensure_protobuf
    # aliases the Cloud SDK's vendored pure-Python runtime (compat.py)
    # and ships it to the workers.  Skip only if neither exists.
    from fanstats_producer_spark.compat import ensure_protobuf

    if not ensure_protobuf(spark):
        pytest.skip("no google.protobuf and no vendored runtime to alias")
    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T10:00:00Z", user=7, value=1.5),
        _event(2, "2024-01-01T10:01:00Z", user=7, value=2.5),
        _event(3, "2024-01-01T10:02:00Z", user=8, value=10.0),
    ])
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(spark, jobs.user_value_stats_tws(stream), "s10_test", "update")
    rows = {r.user_id: (r.n_events, r.total_value_e6) for r in got.collect()}
    assert rows[7] == (2, 4_000_000)
    assert rows[8] == (1, 10_000_000)


def test_streaming_content_dedup(spark, landing):
    """s11: same payload content arriving twice within the watermark is
    emitted once (hash dedup over the stream)."""
    rows = [
        _event(1, "2024-01-01T10:00:00Z"),
        _event(2, "2024-01-01T10:01:00Z"),
        _event(3, "2024-01-01T10:02:00Z"),
    ]
    rows[1]["props"] = rows[0]["props"]  # duplicate content, different id
    _write_batch(landing, "b.json", rows)
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(spark, jobs.deduped_by_content(stream), "s11_test", "append")
    assert sorted(r.event_id for r in got.collect()) == [1, 3]


def test_streaming_corpus_prep(spark, landing):
    """s12: duplicate and junk docs are gated on the stream; the survivor
    chunks with the batch pipeline's exact windows."""
    import json as _json

    good = "the a " + " ".join(f"w{i}" for i in range(23))  # 25 toks, passes gates
    docs = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00Z", "text": good, "lang": "en"},
        {"doc_id": 2, "ts": "2024-01-01T10:01:00Z", "text": good, "lang": "en"},  # dup
        {"doc_id": 3, "ts": "2024-01-01T10:02:00Z", "text": "x y", "lang": "en"},  # junk
    ]
    (landing / "docs.json").write_text("\n".join(_json.dumps(d) for d in docs))
    stream = jobs.read_document_stream(spark, str(landing))
    got = _run_to_memory(spark, jobs.corpus_prep_stream(stream), "s12_test", "append")
    rows = sorted((r.doc_id, r.chunk_idx, r.n_chunk_tokens) for r in got.collect())
    assert rows == [(1, 0, 20), (1, 1, 10)]  # one surviving doc, two chunks


def test_streaming_windowed_distinct_users(spark, landing):
    """s13 stream arm: the windowed HLL distinct runs on a real file
    stream and counts each user once per (window, type)."""
    from fanstats_producer_spark.streaming.batch_equiv import windowed_distinct_users

    rows = [
        _event(1, "2024-01-01T10:00:00Z", user=1),
        _event(2, "2024-01-01T11:00:00Z", user=1),  # same user, same day
        _event(3, "2024-01-01T12:00:00Z", user=2),
        _event(4, "2024-01-02T09:00:00Z", user=1),  # next day
    ]
    _write_batch(landing, "b1.json", rows)
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(
        spark, windowed_distinct_users(stream), "s13_test", "complete"
    )
    by_win = {r.window_start: r.n_users for r in got.collect()}
    assert by_win == {"2024-01-01 00:00:00": 2, "2024-01-02 00:00:00": 1}


def test_streaming_windowed_trending(spark, landing):
    """s14 stream arm: per-window top items rank correctly on a real
    file stream."""
    from fanstats_producer_spark.streaming.batch_equiv import windowed_trending

    rows = [
        _event(1, "2024-01-01T10:00:00Z", etype="click"),
        _event(2, "2024-01-01T11:00:00Z", etype="click"),
        _event(3, "2024-01-01T12:00:00Z", etype="view"),
        _event(4, "2024-01-02T09:00:00Z", etype="view"),
    ]
    _write_batch(landing, "b1.json", rows)
    stream = jobs.read_event_stream(spark, str(landing))
    got = _run_to_memory(spark, windowed_trending(stream), "s14_test", "complete")
    d1 = {r.item: r.n for r in got.collect() if r.window_start.startswith("2024-01-01")}
    d2 = {r.item: r.n for r in got.collect() if r.window_start.startswith("2024-01-02")}
    assert d1 == {"click": 2, "view": 1}
    assert d2 == {"view": 1}


def test_append_window_emits_on_watermark_and_evicts(spark, landing):
    """s16: append-mode windowed aggregation emits a window exactly once
    when the watermark passes its end (driven by the trailing no-data
    micro-batch), and the still-open trailing window is withheld."""
    rows_b1 = [
        _event(1, "2024-01-01T10:05:00Z", etype="click", value=1.0),
        _event(2, "2024-01-01T10:20:00Z", etype="click", value=2.0),
        _event(3, "2024-01-01T11:10:00Z", etype="view", value=4.0),
    ]
    # batch 2 advances max event time to 13:10 -> watermark 12:40: the
    # 10:00 and 11:00 windows close; the 13:00 window stays open.
    rows_b2 = [_event(4, "2024-01-01T13:10:00Z", etype="view", value=8.0)]
    _write_batch(landing, "b1.json", rows_b1)
    _write_batch(landing, "b2.json", rows_b2)
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.windowed_counts(stream, window="1 hour"),
        "s16_test",
        "append",
    )
    out = {
        (r.start.strftime("%H:%M"), r.event_type): (r.n, r.sum_value)
        for r in got.collect()
    }
    assert out == {
        ("10:00", "click"): (2, 3.0),
        ("11:00", "view"): (1, 4.0),
    }, f"append emissions wrong: {out}"
    # eviction witness: the open 13:00 window emitted nothing
    assert not any(h == "13:00" for h, _ in out)


def test_tws_event_time_timers_close_sessions(spark, landing):
    """s10b: event-time timers + ListState — sessions close when the
    WATERMARK passes last_event + gap, not when data arrives; open
    sessions are withheld."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    from fanstats_producer_spark.compat import ensure_protobuf

    if not ensure_protobuf(spark):
        pytest.skip("no google.protobuf and no vendored runtime to alias")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T10:00:00Z", user=7),
        _event(2, "2024-01-01T10:10:00Z", user=7),
        _event(3, "2024-01-01T10:05:00Z", user=8),
    ])
    # batch 2 pushes the watermark past both deadlines (10:40 / 10:35):
    # wm after b2's no-data tick = 13:00 - 10 min = 12:50
    _write_batch(landing, "b2.json", [
        _event(4, "2024-01-01T13:00:00Z", user=9),
    ])
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.user_session_close_tws(stream),
        "s10b_test",
        "append",
    )
    rows = {r.user_id: (r.n_events, r.first_ms, r.last_ms) for r in got.collect()}
    t0 = 1704103200000  # 2024-01-01T10:00:00Z in ms
    assert rows.get(7) == (2, t0, t0 + 600_000)
    assert rows.get(8) == (1, t0 + 300_000, t0 + 300_000)
    assert 9 not in rows  # session still open at drain end


def test_stream_outer_join_nulls_on_watermark(spark, landing):
    """s17: LEFT OUTER stream-stream join — an unmatched purchase emits
    its null-click row only after the watermark (MIN across both sides'
    watermark operators) proves no qualifying click can arrive; a
    purchase still inside the delay stays withheld."""
    import os as _os
    import time as _time

    rows_b1 = [
        _event(1, "2024-01-01T10:00:00Z", user=7, etype="click"),
        _event(2, "2024-01-01T10:30:00Z", user=7, etype="purchase"),  # matched
        _event(3, "2024-01-01T10:40:00Z", user=8, etype="purchase"),  # no click
    ]
    # b2 pushes BOTH sides' watermarks to 16:00 - 2h = 14:00 > 10:40:
    # user 8's null row must emit; user 9's purchase (15:55) stays open
    rows_b2 = [
        _event(4, "2024-01-01T16:00:00Z", user=1, etype="click"),
        _event(5, "2024-01-01T16:00:00Z", user=1, etype="purchase"),
        _event(6, "2024-01-01T15:55:00Z", user=9, etype="purchase"),
    ]
    for i, (name, rs) in enumerate([("b1.json", rows_b1), ("b2.json", rows_b2)]):
        _write_batch(landing, name, rs)
        t = _time.time() - 100 + i * 10
        _os.utime(landing / name, (t, t))
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.clicks_to_purchases_join(stream, horizon="1 hour", how="leftOuter"),
        "s17_test",
        "append",
    )
    rows = [(r.purchase_id, r.click_id) for r in got.collect()]
    assert (2, 1) in rows          # matched pair emits
    assert (3, None) in rows       # unmatched below watermark: null emitted
    assert not any(p == 6 for p, _ in rows)  # still inside delay: withheld


def test_stateful_crash_recovery_parity(spark, landing, tmp_path):
    """Exactly-once under failure for a STATEFUL query (SURVEY §2B's
    recovery row): an append-mode windowed aggregation is stopped after
    its first micro-batch, restarted from the same checkpoint, and the
    final landed table must be IDENTICAL to an uninterrupted run —
    window partials, the watermark position, and the file-sink
    transaction log all recover from the checkpoint.  The batch read of
    the sink honors _spark_metadata, so any orphan files from the
    interrupted attempt are invisible (the exactly-once claim)."""
    import time as _time

    rows = {
        "b1.json": [
            _event(1, "2024-01-01T10:05:00Z", etype="click", value=1.0),
            _event(2, "2024-01-01T10:20:00Z", etype="click", value=2.0),
        ],
        "b2.json": [
            _event(3, "2024-01-01T11:10:00Z", etype="view", value=4.0),
        ],
        # advances watermark to 12:40 -> 10:00 and 11:00 windows close
        "b3.json": [
            _event(4, "2024-01-01T13:10:00Z", etype="view", value=8.0),
        ],
    }
    import os as _os

    for i, (name, rs) in enumerate(rows.items()):
        _write_batch(landing, name, rs)
        # the file source orders batches by modification time; same-
        # second writes would let b3 lead and turn b2 into late data
        t = _time.time() - 100 + i * 10
        _os.utime(landing / name, (t, t))

    def start(out, ckpt):
        df = jobs.windowed_counts(
            jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1),
            window="1 hour",
        )
        return (
            df.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def landed(out):
        back = spark.read.schema(
            "start timestamp, end timestamp, event_type string, "
            "n long, sum_value double"
        ).parquet(out)
        return sorted(map(tuple, back.collect()))

    # reference: uninterrupted drain
    out_a, ck_a = str(tmp_path / "outA"), str(tmp_path / "ckA")
    q = start(out_a, ck_a)
    q.awaitTermination(120)
    ref = landed(out_a)
    assert len(ref) == 2  # 10:00/click and 11:00/view closed; 13:00 open

    # interrupted: stop as soon as the first data batch has committed
    out_b, ck_b = str(tmp_path / "outB"), str(tmp_path / "ckB")
    q = start(out_b, ck_b)
    deadline = _time.time() + 60
    while _time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        _time.sleep(0.05)
    else:
        raise AssertionError("no data batch committed within 60s")
    q.stop()
    q.awaitTermination(60)

    # restart from the SAME checkpoint: must converge to the reference
    q = start(out_b, ck_b)
    q.awaitTermination(120)
    assert landed(out_b) == ref


def test_tws_timer_boundary_at_exact_watermark(spark, landing):
    """Pins Spark's timer-expiry boundary for the s10b oracle: a timer
    whose deadline equals the watermark EXACTLY *does* fire (inclusive
    `deadline <= watermark` — measured, not assumed), matching the
    oracle's `last_ms + gap <= wm` predicate in driver_entries.py.

    Fixture: watermark after the drain is 13:00 - 10 min = 12:50.
    - user 7: last event 12:20:00 exactly → deadline 12:50:00 == wm
      (the tie — fires under inclusive <=)
    - user 8: last event 12:19:59 → deadline 12:49:59 < wm (fires)
    """
    _tws_ready(spark)
    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T12:20:00Z", user=7),
        _event(2, "2024-01-01T12:19:59Z", user=8),
    ])
    _write_batch(landing, "b2.json", [
        _event(3, "2024-01-01T13:00:00Z", user=9),
    ])
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.user_session_close_tws(stream),
        "s10b_boundary_test",
        "append",
    )
    closed = {r.user_id for r in got.collect()}
    assert 8 in closed, "deadline strictly below the watermark must fire"
    assert 7 in closed, (
        "deadline == watermark did NOT fire: Spark uses strict < — flip "
        "the s10b oracle in streaming/driver_entries.py back to "
        "last_ms + gap < wm"
    )


def _tws_ready(spark):
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    from fanstats_producer_spark.compat import ensure_protobuf

    if not ensure_protobuf(spark):
        pytest.skip("no google.protobuf and no vendored runtime to alias")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def test_tws_map_state_per_type_counts(spark, landing):
    """s10 family: MapState — per-user map of event_type -> count
    maintained across micro-batches in the state store."""
    _tws_ready(spark)
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class TypeCounts(StatefulProcessor):
        def init(self, handle):
            self._m = handle.getMapState("counts", "etype string", "n long")

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for et, n in pdf.groupby("event_type").size().items():
                    cur = self._m.getValue((et,))
                    self._m.updateValue((et,), ((cur[0] if cur else 0) + int(n),))
            items = [(k[0], v[0]) for k, v in self._m.iterator()]
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(items),
                    "event_type": [i[0] for i in items],
                    "n": [i[1] for i in items],
                }
            )

        def close(self):
            pass

    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T10:00:00Z", user=7, etype="click"),
        _event(2, "2024-01-01T10:01:00Z", user=7, etype="view"),
    ])
    _write_batch(landing, "b2.json", [
        _event(3, "2024-01-01T10:02:00Z", user=7, etype="click"),
    ])
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeCounts(),
        outputStructType="user_id long, event_type string, n long",
        outputMode="Update",
        timeMode="None",
    )
    got = _run_to_memory(spark, out, "s10map_test", "update")
    final = {}
    for r in got.collect():  # update mode: later emissions win
        final[(r.user_id, r.event_type)] = max(
            r.n, final.get((r.user_id, r.event_type), 0)
        )
    assert final == {(7, "click"): 2, (7, "view"): 1}


@pytest.mark.flaky_under_load
def test_tws_value_state_ttl_expires(spark, landing, tmp_path):
    """s10 family: ttlDurationMs — a state value older than the TTL is
    not returned, so the second micro-batch (3.5 s later, TTL 1.5 s)
    restarts its count; the control arm without TTL accumulates across
    the same wall-clock gap.

    Marked flaky_under_load (VERDICT r12 item 7): TWS TTL is keyed to
    the state store's wall clock and PySpark exposes no injectable
    clock (the JVM StreamTest ManualClock is not reachable from the
    Python API), so the test necessarily sleeps real seconds.  The
    TTL semantics themselves are load-robust by construction (the
    3.5 s gap starts only AFTER batch 1's result is visible, so the
    1.5 s TTL has always lapsed); what fails under a saturated host is
    the micro-batch drain exceeding the poll deadline.  On failure,
    re-run solo before suspecting the code."""
    _tws_ready(spark)
    import time as _time

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    def counter(ttl_ms):
        class Counter(StatefulProcessor):
            def init(self, handle):
                self._n = handle.getValueState("n", "n long", ttlDurationMs=ttl_ms)

            def handleInputRows(self, key, rows, timerValues):
                cur = self._n.get()
                n = (cur[0] if cur else 0) + sum(len(p) for p in rows)
                self._n.update((n,))
                yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

            def close(self):
                pass

        return Counter()

    def two_batches_3s_apart(ttl_ms, subdir, name):
        d = landing / subdir
        d.mkdir()
        _write_batch(d, "b1.json", [_event(1, "2024-01-01T10:00:00Z", user=7)])
        stream = jobs.read_event_stream(spark, str(d))
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=counter(ttl_ms),
            outputStructType="user_id long, n long",
            outputMode="Update",
            # TTL is wall-clock: Spark requires ProcessingTime mode
            timeMode="ProcessingTime",
        )
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(processingTime="1 second").start()
        )
        try:
            deadline = _time.time() + 120
            while _time.time() < deadline:
                if spark.sql(f"SELECT * FROM {name}").count() >= 1:
                    break
                _time.sleep(0.3)
            _time.sleep(3.5)  # let the 1.5s TTL lapse between batches
            _write_batch(d, "b2.json", [_event(2, "2024-01-01T10:01:00Z", user=7)])
            deadline = _time.time() + 120
            while _time.time() < deadline:
                if spark.sql(f"SELECT * FROM {name}").count() >= 2:
                    break
                _time.sleep(0.3)
        finally:
            q.stop()
        return sorted(r.n for r in spark.sql(f"SELECT * FROM {name}").collect())

    assert two_batches_3s_apart(1500, "ttl", "s10ttl_a") == [1, 1]  # expired
    assert two_batches_3s_apart(None, "nottl", "s10ttl_b") == [1, 2]  # control


def test_tws_initial_state_warm_start(spark, landing):
    """s10 family: initialState — per-key state bootstrapped from a
    batch DataFrame (the x55 history-index pattern for typed state);
    batch-1 counts continue from the seeded values."""
    _tws_ready(spark)
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class SeededCounter(StatefulProcessor):
        def init(self, handle):
            self._n = handle.getValueState("n", "n long")

        def handleInitialState(self, key, initialState, timerValues):
            self._n.update((int(initialState["seed"].iloc[0]),))

        def handleInputRows(self, key, rows, timerValues):
            cur = self._n.get()
            n = (cur[0] if cur else 0) + sum(len(p) for p in rows)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

        def close(self):
            pass

    _write_batch(landing, "b1.json", [
        _event(1, "2024-01-01T10:00:00Z", user=7),
        _event(2, "2024-01-01T10:01:00Z", user=8),
    ])
    init_df = spark.createDataFrame(
        [(7, 100), (9, 5)], "user_id long, seed long"
    ).groupBy("user_id")
    stream = jobs.read_event_stream(spark, str(landing))
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SeededCounter(),
        outputStructType="user_id long, n long",
        outputMode="Update",
        timeMode="None",
        initialState=init_df,
    )
    got = _run_to_memory(spark, out, "s10init_test", "update")
    rows = {r.user_id: r.n for r in got.collect()}
    assert rows[7] == 101  # seeded 100 + 1 arriving event
    assert rows[8] == 1    # unseeded key starts at 0


def test_stream_static_broadcast_enrichment(spark, landing):
    """s19: the static dimension joins onto EVERY micro-batch with no
    streaming state (stateless stream-static join), unmatched stream
    rows drop (inner), and the executed plan broadcasts the dim side."""
    import contextlib
    import io as _io
    import os as _os

    customer = spark.createDataFrame(
        [(1, 10, "AUTO"), (2, 20, "BIKE")],
        "c_custkey long, c_nationkey long, c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(10, "US"), (20, "JP")], "n_nationkey long, n_name string"
    )
    _write_batch(
        landing,
        "b1.json",
        [
            _event(1, "2024-01-01T00:00:00Z", user=1),
            _event(2, "2024-01-01T01:00:00Z", user=99),  # no dim match
        ],
    )
    _write_batch(
        landing, "b2.json", [_event(3, "2024-01-02T00:00:00Z", user=2)]
    )
    # distinct mtimes pin file-stream batch order (same-second writes race)
    _os.utime(landing / "b1.json", (1000000000, 1000000000))
    _os.utime(landing / "b2.json", (1000000100, 1000000100))
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    enriched = jobs.enrich_with_dims(stream, customer, nation).select(
        "event_id", "segment", "nation"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("s19t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain()
    plan = buf.getvalue()
    rows = {tuple(r) for r in spark.sql("SELECT * FROM s19t").collect()}
    # both micro-batches enriched; the unmatched row dropped
    assert rows == {(1, "AUTO", "US"), (3, "BIKE", "JP")}
    assert len(progresses) >= 2  # maxFilesPerTrigger=1 -> one batch per file
    # stateless: no stateful operators ran in any progress event
    assert all(not p.get("stateOperators") for p in progresses)
    assert "BroadcastHashJoin" in plan


def test_tws_crash_recovery_parity(spark, landing, tmp_path):
    """Exactly-once under failure for TYPED state: a
    transformWithStateInPandas sessionizer (ListState + event-time
    timers in RocksDB) is stopped after its first micro-batch,
    restarted from the same checkpoint, and the landed table must be
    IDENTICAL to an uninterrupted run — ListState contents, the armed
    timer queue, and the watermark all recover from the RocksDB
    checkpoint."""
    import os as _os
    import time as _time

    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    from fanstats_producer_spark.compat import ensure_protobuf

    if not ensure_protobuf(spark):
        pytest.skip("no google.protobuf and no vendored runtime to alias")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    rows = {
        # user 7's session: two events, closes when the watermark passes
        "b1.json": [
            _event(1, "2024-01-01T10:00:00Z", user=7, value=1.0),
            _event(2, "2024-01-01T10:10:00Z", user=7, value=2.0),
        ],
        # user 8 opens; watermark moves to 10:50, not past 7's deadline
        "b2.json": [
            _event(3, "2024-01-01T11:00:00Z", user=8, value=4.0),
        ],
        # watermark -> 13:50: closes 7 (10:10+30m) and 8 (11:00+30m)
        "b3.json": [
            _event(4, "2024-01-01T14:00:00Z", user=9, value=8.0),
        ],
    }
    for i, (name, rs) in enumerate(rows.items()):
        _write_batch(landing, name, rs)
        t = _time.time() - 100 + i * 10
        _os.utime(landing / name, (t, t))

    def start(out, ckpt):
        df = jobs.user_session_close_tws(
            jobs.read_event_stream(
                spark, str(landing), max_files_per_trigger=1
            ),
        )
        return (
            df.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def landed(out):
        back = spark.read.schema(
            "user_id long, n_events long, first_ms long, last_ms long"
        ).parquet(out)
        return sorted(map(tuple, back.collect()))

    out_a, ck_a = str(tmp_path / "outA"), str(tmp_path / "ckA")
    q = start(out_a, ck_a)
    q.awaitTermination(180)
    ref = landed(out_a)
    # sessions for users 7 and 8 closed; 9 still open (not emitted)
    assert [r[0] for r in ref] == [7, 8]

    out_b, ck_b = str(tmp_path / "outB"), str(tmp_path / "ckB")
    q = start(out_b, ck_b)
    deadline = _time.time() + 90
    while _time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        _time.sleep(0.05)
    else:
        raise AssertionError("no data batch committed within 90s")
    q.stop()
    q.awaitTermination(60)

    q = start(out_b, ck_b)
    q.awaitTermination(180)
    assert landed(out_b) == ref


def test_streaming_near_dup_accumulates_state_across_batches(
    spark, landing, tmp_path
):
    """s21: the per-bucket minima persist across micro-batches — a
    document arriving in batch 2 whose text duplicates a batch-1
    document is flagged from STATE (no batch-1 rows in batch 2); unique
    documents stay unflagged; verdicts land batch-stamped."""
    import json as _json
    import os as _os
    import time as _time

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest tonight"
    )
    other = (
        "completely different sentence about spark structured streaming "
        "state stores and watermark semantics for testing purposes only"
    )

    def _doc(i, text):
        return {
            "doc_id": i,
            "ts": f"2024-01-01T10:{i:02d}:00Z",
            "text": text,
            "lang": "en",
        }

    def _write(name, docs):
        with open(landing / name, "w") as f:
            for d in docs:
                f.write(_json.dumps(d) + "\n")

    _write("b1.json", [_doc(1, base), _doc(2, other)])
    _write("b2.json", [_doc(3, base)])  # exact dup of doc 1, next batch
    _os.utime(landing / "b1.json", (1000000000, 1000000000))
    _os.utime(landing / "b2.json", (1000000100, 1000000100))

    # read with one file per trigger so b1/b2 are separate micro-batches
    from fanstats_producer_spark.streaming.jobs import DOCUMENT_SCHEMA

    src = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    state_dir = str(tmp_path / "state")
    verdict_dir = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    q = jobs.streaming_near_dup(src, state_dir, verdict_dir, ckpt)
    q.awaitTermination(120)
    got = {
        r.doc_id: r.is_dup
        for r in spark.read.parquet(verdict_dir).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1}
    # batch-stamped layout: two data batches landed separately
    batches = [d for d in _os.listdir(verdict_dir) if d.startswith("batch=")]
    assert len(batches) >= 2
    # state table holds per-bucket minima only (bounded by buckets)
    state = spark.read.parquet(state_dir)
    assert state.columns == ["band_hash", "min_id"]
    assert state.groupBy("band_hash").count().agg(
        F.max("count")
    ).collect()[0][0] == 1


def test_streaming_phash_near_dup_cross_batch_and_gate(
    spark, landing, tmp_path
):
    """s28: per-bucket (min id, min pHash) state persists across
    micro-batches — a batch-2 document whose rendered image is
    pixel-identical to a batch-1 document is confirmed from STATE
    (hamming 0, no batch-1 rows present); every expected verdict is
    derived independently from phash64 + the stated bucket-min rule, so
    the test pins BOTH the candidate signal and the hamming gate."""
    import json as _json
    import os as _os

    import numpy as np

    from fanstats_producer_spark.operators.multimodal import (
        _PNG_W,
        encode_png,
        phash_image,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest tonight"
    )
    other = (
        "completely different sentence about spark structured streaming "
        "state stores and watermark semantics for testing purposes only"
    )

    def _ph(text):
        b = text.encode()
        h = max(1, -(-len(b) // _PNG_W))
        img = np.frombuffer(
            b + b" " * (h * _PNG_W - len(b)), np.uint8
        ).reshape(h, _PNG_W)
        return phash_image(encode_png(img))

    texts = {1: base, 2: other, 3: base}
    ph = {i: _ph(t) for i, t in texts.items()}
    # independent expectation: bucket-min rule over arrival order (ids
    # arrive in nondecreasing id order, so first-arrival == global min)
    bands = {
        i: {(b, (h >> (7 * b)) & 127) for b in range(9)}
        for i, h in ph.items()
    }
    expected = {}
    for i in sorted(texts):
        partners = [
            j for j in sorted(texts) if j < i and bands[j] & bands[i]
        ]
        cand = int(bool(partners))
        dup = int(
            any(
                bin(ph[i] ^ ph[j]).count("1") <= 8
                for j in partners
                # partner = each colliding bucket's MIN id; with ids
                # arriving in order the min of any shared bucket is the
                # smallest j sharing it — checking all smaller sharers
                # is equivalent here because doc 3's only sharer is 1
            )
        )
        expected[i] = (cand, dup)
    assert expected[3] == (1, 1)  # pixel-identical => hamming 0

    def _doc(i):
        return {
            "doc_id": i,
            "ts": f"2024-01-01T10:{i:02d}:00Z",
            "text": texts[i],
            "lang": "en",
        }

    def _write(name, ids):
        with open(landing / name, "w") as f:
            for i in ids:
                f.write(_json.dumps(_doc(i)) + "\n")

    _write("b1.json", [1, 2])
    _write("b2.json", [3])  # rendered-pixel dup of doc 1, next batch
    _os.utime(landing / "b1.json", (1000000000, 1000000000))
    _os.utime(landing / "b2.json", (1000000100, 1000000100))

    src = (
        spark.readStream.schema(jobs.DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    state_dir = str(tmp_path / "state")
    verdict_dir = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    q = jobs.streaming_phash_near_dup(src, state_dir, verdict_dir, ckpt)
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.is_candidate, r.is_dup)
        for r in spark.read.parquet(verdict_dir).collect()
    }
    assert got == expected
    batches = [d for d in _os.listdir(verdict_dir) if d.startswith("batch=")]
    assert len(batches) >= 2
    # state = one (min_id, min_ph) row per live band bucket, and every
    # stored hash is the hash of its stored minimum (verify payload)
    state = spark.read.parquet(state_dir)
    assert sorted(state.columns) == ["band_hash", "min_id", "min_ph"]
    rows = state.collect()
    assert len(rows) == len({r.band_hash for r in rows})
    assert all(r.min_ph == ph[r.min_id] for r in rows)


def test_streaming_audio_near_dup_shares_gate_machinery(
    spark, landing, tmp_path
):
    """s29: the modality-blind gate runs the audio fingerprint worker —
    a batch-2 byte-identical document is confirmed from batch-1 state
    (fingerprint equality => hamming 0), and the expected verdicts are
    derived independently from audio_fingerprint + the bucket-min
    rule (the s28 test's contract, audio arm)."""
    import json as _json
    import os as _os

    import numpy as np

    from fanstats_producer_spark.operators.multimodal import (
        audio_fingerprint,
        decode_wav,
        encode_wav,
    )

    texts = {
        1: "rising energy " + " ".join(f"w{i}" * (i % 7 + 1) for i in range(40)),
        2: "flat flat flat flat flat flat flat flat flat flat flat",
        3: None,  # filled below: exact copy of 1
    }
    texts[3] = texts[1]

    def _fp(text):
        raw = np.frombuffer(text.encode(), dtype=np.uint8)
        pcm = ((raw.astype(np.int16) - 128) * 256).astype("<i2")
        _r, _c, _w, dec = decode_wav(encode_wav(pcm))
        return audio_fingerprint(dec)

    fp = {i: _fp(t) for i, t in texts.items()}
    bands = {
        i: {(b, (h >> (7 * b)) & 127) for b in range(9)}
        for i, h in fp.items()
    }
    expected = {}
    for i in sorted(texts):
        partners = [j for j in sorted(texts) if j < i and bands[j] & bands[i]]
        expected[i] = (
            int(bool(partners)),
            int(any(bin(fp[i] ^ fp[j]).count("1") <= 8 for j in partners)),
        )
    assert expected[3] == (1, 1)

    def _doc(i):
        return {
            "doc_id": i,
            "ts": f"2024-01-01T10:{i:02d}:00Z",
            "text": texts[i],
            "lang": "en",
        }

    for name, ids, mt in (("b1.json", [1, 2], 1000000000),
                          ("b2.json", [3], 1000000100)):
        with open(landing / name, "w") as f:
            for i in ids:
                f.write(_json.dumps(_doc(i)) + "\n")
        _os.utime(landing / name, (mt, mt))

    from fanstats_producer_spark.operators.multimodal import (
        audio_fp_features,
    )

    src = (
        spark.readStream.schema(jobs.DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = jobs.streaming_phash_near_dup(
        src,
        str(tmp_path / "state"),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
        features=audio_fp_features,
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.is_candidate, r.is_dup)
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    assert got == expected


def test_dedup_within_watermark_readmits_after_eviction(spark, landing):
    """s11 semantics pin: dropDuplicatesWithinWatermark only guarantees
    dedup of occurrences within the WATERMARK delay (30 minutes) — once
    the watermark passes a digest's expiry the state evicts, and a much
    later duplicate of the same content is RE-ADMITTED (the bounded-state
    trade every watermark-bounded dedup makes).  A near duplicate inside
    the delay stays dropped.  `_event` derives `props` from the event id,
    so a repeated id is repeated content."""
    import os as _os
    import time as _time

    batches = {
        # key 1 first seen (digest expires 10:30); key 2 control
        "b1.json": [
            _event(1, "2024-01-01T10:00:00Z"),
            _event(2, "2024-01-01T10:01:00Z"),
        ],
        # near-dup of key 1 inside the 30-min delay -> dropped; plus an
        # advancing event (watermark -> 11:00)
        "b2.json": [
            _event(1, "2024-01-01T10:15:00Z"),
            _event(3, "2024-01-01T11:30:00Z"),
        ],
        # watermark advance only (eviction applies a batch AFTER the
        # watermark passes a key's expiry, so give it its own batch)
        "b3.json": [
            _event(4, "2024-01-01T12:30:00Z"),
        ],
        # far dup of key 1 after its state evicted -> re-admitted
        "b4.json": [
            _event(1, "2024-01-01T12:31:00Z"),
        ],
    }
    for i, (name, rs) in enumerate(batches.items()):
        _write_batch(landing, name, rs)
        t = _time.time() - 100 + i * 10
        _os.utime(landing / name, (t, t))
    stream = jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)
    got = _run_to_memory(spark, jobs.deduped_by_content(stream), "s11_readmit", "append")
    per_key = sorted(
        (r.event_id, str(r.ts)) for r in got.select("event_id", "ts").collect()
    )
    ids = [k for k, _ in per_key]
    # key 1 appears TWICE (original + re-admitted far dup), near-dup gone
    assert ids == [1, 1, 2, 3, 4]


def test_tws_batch_mode_matches_stream_drain(spark, landing):
    """Spark 4 runs transformWithStateInPandas in BATCH queries too —
    the typed-state analogue of the windowed_counts one-transform-two-
    modes contract: the same processor on a static DataFrame must equal
    the drained streaming totals."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    from fanstats_producer_spark.compat import ensure_protobuf

    if not ensure_protobuf(spark):
        pytest.skip("no google.protobuf and no vendored runtime to alias")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    rows = [
        _event(1, "2024-01-01T10:00:00Z", user=7, value=1.5),
        _event(2, "2024-01-01T10:01:00Z", user=7, value=2.5),
        _event(3, "2024-01-01T10:02:00Z", user=8, value=10.0),
    ]
    _write_batch(landing, "b1.json", rows)
    stream = jobs.read_event_stream(spark, str(landing))
    streamed = _run_to_memory(
        spark, jobs.user_value_stats_tws(stream), "s10_batch_cmp", "update"
    )
    want = sorted(map(tuple, streamed.collect()))
    batch = spark.read.schema(jobs.EVENT_SCHEMA).json(str(landing))
    got = sorted(map(tuple, jobs.user_value_stats_tws(batch).collect()))
    assert got == want == [(7, 2, 4_000_000), (8, 1, 10_000_000)]


def test_streaming_verified_near_dup_gate_and_state(spark, landing, tmp_path):
    """s22: the online edit gate CONFIRMS candidates before the dup
    verdict.  Batch 2's exact copy of a batch-1 doc is candidate AND
    verified (partner text came from the texts STATE table); a doc
    that shares nearly all shingles but is 3x longer (band collision,
    edit distance far over the 2/5 bound) stays is_dup=0 while
    is_candidate=1 — the precision the gate buys; unrelated docs carry
    neither flag."""
    import json as _json
    import os as _os

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest tonight"
    )
    other = (
        "completely different sentence about spark structured streaming "
        "state stores and watermark semantics for testing purposes only"
    )
    tripled = base + " " + base + " " + base

    def _doc(i, text):
        return {
            "doc_id": i,
            "ts": f"2024-01-01T10:{i:02d}:00Z",
            "text": text,
            "lang": "en",
        }

    def _write(name, docs):
        with open(landing / name, "w") as f:
            for d in docs:
                f.write(_json.dumps(d) + "\n")

    _write("b1.json", [_doc(1, base), _doc(2, other)])
    # batch 2: exact dup (verified), near-shingle-set but far-edit
    # (candidate only), unrelated (neither)
    _write(
        "b2.json",
        [_doc(3, base), _doc(4, tripled), _doc(5, other + " x y z"),
         _doc(6, "entirely unrelated short words nothing shared here at all")],
    )
    _os.utime(landing / "b1.json", (1000000000, 1000000000))
    _os.utime(landing / "b2.json", (1000000100, 1000000100))

    from fanstats_producer_spark.streaming.jobs import DOCUMENT_SCHEMA

    src = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    state_dir = str(tmp_path / "state")
    verdict_dir = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    q = jobs.streaming_verified_near_dup(src, state_dir, verdict_dir, ckpt)
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.is_candidate, r.is_dup)
        for r in spark.read.parquet(verdict_dir).collect()
    }
    assert got[1] == (0, 0) and got[2] == (0, 0)
    assert got[3] == (1, 1)  # exact dup: candidate + gate-confirmed
    assert got[4][0] == 1 and got[4][1] == 0  # collision, gate REJECTS
    # doc 5 appends "x y z" to doc 2's text: shingle Jaccard ~0.85 so
    # it collides (deterministic under the fixed hash constants), and
    # rel edit 6/len ~0.05 is far under the 2/5 bound — verified dup
    # against a partner whose text lives in the batch-1 TEXTS state
    assert got[5] == (1, 1)
    assert got[6] == (0, 0)  # unrelated: neither flag
    # the gate can only remove: is_dup <= is_candidate everywhere
    assert all(d <= c for c, d in got.values())
    # state: two tables, texts bounded by live bucket minima
    buckets = spark.read.parquet(str(tmp_path / "state" / "buckets"))
    texts = spark.read.parquet(str(tmp_path / "state" / "texts"))
    assert buckets.columns == ["band_hash", "min_id"]
    live = {r.min_id for r in buckets.select("min_id").distinct().collect()}
    kept = {r.doc_id for r in texts.collect()}
    assert kept == live  # displaced minima's texts are dropped


def test_s23_psi_monitor_batch_partition_invariant(spark, tmp_path):
    """s23's claim: because state is a commutative count merge and PSI
    is recomputed from merged totals, the final monitor is identical
    whether the live events arrive in one batch or one file per
    trigger."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from fanstats_producer_spark.streaming import jobs

    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T10:{i % 60:02d}:00Z",
            "user_id": i % 7,
            "event_type": "click" if i % 3 else "view",
            "value": float((i * 37) % 200) / 2.0,
            "props": "{}",
        }
        for i in range(200)
    ]
    ref = (
        spark.createDataFrame(
            [(r["event_type"], int(r["value"] // 8)) for r in rows if r["event_id"] % 2 == 0],
            "event_type string, bucket long",
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_ref"))
    )
    live = [r for r in rows if r["event_id"] % 2 == 1]

    def _run(tag, n_files, mfpt):
        landing = tmp_path / f"landing_{tag}"
        landing.mkdir()
        per = len(live) // n_files
        for fi in range(n_files):
            chunk = live[fi * per : (fi + 1) * per if fi < n_files - 1 else len(live)]
            with open(landing / f"b{fi}.json", "w") as f:
                for r in chunk:
                    f.write(_json.dumps(r) + "\n")
            _os.utime(
                landing / f"b{fi}.json",
                (1000000000 + fi * 100, 1000000000 + fi * 100),
            )
        reader = spark.readStream.schema(jobs.EVENT_SCHEMA)
        if mfpt:
            reader = reader.option("maxFilesPerTrigger", mfpt)
        src = reader.json(str(landing))
        q = jobs.streaming_psi_drift(
            src,
            ref,
            str(tmp_path / f"state_{tag}"),
            str(tmp_path / f"mon_{tag}"),
            str(tmp_path / f"ckpt_{tag}"),
        )
        q.awaitTermination(120)
        assert (
            len([p for p in q.recentProgress if p["numInputRows"] > 0])
            == (n_files if mfpt == 1 else 1)
        )
        return sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / f"mon_{tag}"))
            .select("event_type", "psi_e9", "n_ref", "n_live")
            .collect()
        )

    single = _run("one", 1, None)
    sliced = _run("many", 4, 1)
    assert single == sliced


def test_s23_replay_does_not_double_count(spark, tmp_path):
    """Crash-window replay: a fresh checkpoint over the same landing
    re-delivers batch 0 against the already-promoted state; the _BATCH
    marker must make the re-merge a no-op (sum state would otherwise
    double every count)."""
    import json as _json

    from pyspark.sql import functions as F

    from fanstats_producer_spark.streaming import jobs

    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T10:{i % 60:02d}:00Z",
            "user_id": i,
            "event_type": "click",
            "value": float(i % 40),
            "props": "{}",
        }
        for i in range(100)
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "b0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    ref = spark.createDataFrame(
        [("click", 0)], "event_type string, bucket long"
    ).groupBy("event_type", "bucket").agg(F.lit(5).alias("n_ref"))

    def _drain(ckpt_name):
        src = spark.readStream.schema(jobs.EVENT_SCHEMA).json(str(landing))
        q = jobs.streaming_psi_drift(
            src,
            ref,
            str(tmp_path / "state"),
            str(tmp_path / "monitor"),
            str(tmp_path / ckpt_name),
        )
        q.awaitTermination(120)
        return sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "monitor")).collect()
        )

    first = _drain("ckpt1")
    # fresh checkpoint -> Structured Streaming replays the same file as
    # batch 0 against the promoted state: the marker must absorb it
    replayed = _drain("ckpt2")
    assert first == replayed
    state = {
        (r["event_type"], r["bucket"]): r["n_live"]
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    assert sum(state.values()) == 100  # not 200


def test_s25_bloom_dedup_flags_cross_batch_dups_only(spark, tmp_path):
    """Batch A seeds the sketch; batch B's exact repeat of an A-text
    must flag, novel text must pass, and A-batch docs never flag
    (prior state was empty).  Within-batch dups pass by design."""
    import json as _json
    import os as _os

    from fanstats_producer_spark.streaming import jobs

    landing = tmp_path / "landing"
    landing.mkdir()

    def _write(name, rows, mtime):
        with open(landing / name, "w") as f:
            for doc_id, text in rows:
                f.write(
                    _json.dumps(
                        {
                            "doc_id": doc_id,
                            "ts": "2024-01-01T00:00:00Z",
                            "text": text,
                            "lang": "en",
                        }
                    )
                    + "\n"
                )
        _os.utime(landing / name, (mtime, mtime))

    _write("a.json", [(0, "alpha beta"), (2, "gamma delta")], 1000000000)
    _write(
        "b.json",
        [(1, "alpha beta"), (3, "epsilon zeta"), (5, "epsilon zeta")],
        1000000100,
    )
    src = (
        spark.readStream.schema(jobs.DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = jobs.streaming_bloom_dedup(
        src,
        str(tmp_path / "state"),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["is_dup"]
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    # doc 1 repeats doc 0's text across batches -> flagged; doc 5
    # repeats doc 3 WITHIN batch B -> passes (next batch would catch)
    assert got == {0: 0, 2: 0, 1: 1, 3: 0, 5: 0}
    # state is the fixed-size word table
    state = spark.read.parquet(str(tmp_path / "state"))
    assert state.columns == ["word", "bits"]


def test_s25_replay_does_not_self_flag(spark, tmp_path):
    """A batch replayed after its own bits were promoted must NOT be
    re-scored against itself (every doc would flag): the _BATCH marker
    absorbs the replay and the pre-promote verdict partition stands."""
    import json as _json

    from fanstats_producer_spark.streaming import jobs

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as f:
        for i in range(20):
            f.write(
                _json.dumps(
                    {
                        "doc_id": i,
                        "ts": "2024-01-01T00:00:00Z",
                        "text": f"unique text number {i}",
                        "lang": "en",
                    }
                )
                + "\n"
            )

    def _drain(ckpt):
        src = spark.readStream.schema(jobs.DOCUMENT_SCHEMA).json(
            str(landing)
        )
        q = jobs.streaming_bloom_dedup(
            src,
            str(tmp_path / "state"),
            str(tmp_path / "verdicts"),
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)
        return {
            r["doc_id"]: r["is_dup"]
            for r in spark.read.parquet(
                str(tmp_path / "verdicts")
            ).collect()
        }

    first = _drain("ckpt1")
    assert set(first.values()) == {0}  # all novel
    # fresh checkpoint replays the same file as batch 0 against the
    # promoted state — without the marker every doc would self-flag
    replayed = _drain("ckpt2")
    assert replayed == first


def test_s25_stale_state_fresh_checkpoint_fails_loudly(spark, tmp_path):
    """A fresh checkpoint over a state dir whose _BATCH marker is AHEAD
    of the replayed batch id (multi-batch state, checkpoint wiped) must
    raise, not silently score docs against a sketch that already holds
    their own bits (every doc would self-flag as a dup)."""
    import json as _json
    import os as _os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from fanstats_producer_spark.streaming import jobs

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as f:
        f.write(
            _json.dumps(
                {
                    "doc_id": 0,
                    "ts": "2024-01-01T00:00:00Z",
                    "text": "some text",
                    "lang": "en",
                }
            )
            + "\n"
        )
    # fabricate a promoted multi-batch state: marker says batch 5 merged
    state_dir = tmp_path / "state"
    spark.createDataFrame([(0, 1)], "word long, bits long").coalesce(
        1
    ).write.parquet(str(state_dir))
    with open(state_dir / "_BATCH", "w") as f:
        f.write("5")
    assert _os.path.exists(state_dir / "_SUCCESS")
    src = spark.readStream.schema(jobs.DOCUMENT_SCHEMA).json(str(landing))
    q = jobs.streaming_bloom_dedup(
        src,
        str(state_dir),
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="stale state"):
        q.awaitTermination(120)


def test_s23_stale_state_fresh_checkpoint_fails_loudly(spark, tmp_path):
    """Same contract for the PSI drift monitor: sum-merge state is not
    replay-idempotent below the marker, so batch_id < marker must raise
    instead of double-counting."""
    import json as _json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from fanstats_producer_spark.streaming import jobs

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as f:
        f.write(
            _json.dumps(
                {
                    "event_id": 1,
                    "event_type": "view",
                    "ts": "2024-01-01T00:00:00Z",
                    "value": 3.0,
                }
            )
            + "\n"
        )
    state_dir = tmp_path / "state"
    spark.createDataFrame(
        [("view", 0, 10)], "event_type string, bucket long, n_live long"
    ).coalesce(1).write.parquet(str(state_dir))
    with open(state_dir / "_BATCH", "w") as f:
        f.write("5")
    ref = spark.createDataFrame(
        [("view", 0, 5)], "event_type string, bucket long, n_ref long"
    )
    src = spark.readStream.schema(jobs.EVENT_SCHEMA).json(str(landing))
    q = jobs.streaming_psi_drift(
        src,
        ref,
        str(state_dir),
        str(tmp_path / "monitor"),
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="stale state"):
        q.awaitTermination(120)


def test_s26_gate_is_batch_slicing_invariant(spark, tmp_path):
    """s26's verdicts must be identical for ANY micro-batch slicing of
    the corpus (stateless gate + integer-exact argmax): split the
    corpus vectors across two files drained one per batch, compare to
    the single-batch drain AND to the batch x66 formulation."""
    import os as _os

    from pyspark.sql import functions as F

    from fanstats_producer_spark.io import load as _load
    from fanstats_producer_spark.operators.similarity import (
        _X66_N_EVAL,
        eval_matrix_row,
        semantic_decontam_gate,
        x66_semantic_decontam,
    )

    sf = "/root/testdata/sf0.001"
    emb = _load(spark, sf, "embeddings")
    evs = eval_matrix_row(emb)
    corpus = emb.filter(F.col("vec_id") >= _X66_N_EVAL)
    schema = spark.read.parquet(f"{sf}/embeddings.parquet").schema

    def drain(n_files: int, mfpt: int):
        landing = tmp_path / f"land_{n_files}_{mfpt}"
        landing.mkdir()
        for fi in range(n_files):
            part = corpus.filter(F.col("vec_id") % n_files == fi)
            stage = tmp_path / f"stage_{n_files}_{mfpt}_{fi}"
            part.coalesce(1).write.parquet(str(stage))
            import glob as _glob

            src = _glob.glob(str(stage / "part-*.parquet"))[0]
            dst = landing / f"{fi}.parquet"
            _os.rename(src, dst)
            _os.utime(dst, (1_000_000_000 + fi * 100,) * 2)
        reader = spark.readStream.schema(schema)
        if mfpt:
            reader = reader.option("maxFilesPerTrigger", mfpt)
        stream = reader.parquet(str(landing))
        name = f"s26t_{n_files}_{mfpt}"
        q = (
            semantic_decontam_gate(stream, evs)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n_batches = len(
            [p for p in q.recentProgress if p["numInputRows"] > 0]
        )
        rows = {
            r["vec_id"]: (
                r["nearest_eval_id"],
                r["max_sim_e6"],
                r["contaminated"],
            )
            for r in spark.table(name).collect()
        }
        return rows, n_batches

    single, nb1 = drain(1, 0)
    split, nb2 = drain(2, 1)
    assert nb1 == 1 and nb2 == 2  # the slicing really differed
    assert single == split
    batch = {
        r["vec_id"]: (
            r["nearest_eval_id"],
            r["max_sim_e6"],
            r["contaminated"],
        )
        for r in x66_semantic_decontam(spark, sf).collect()
    }
    assert single == batch


def test_s26b_blas_arm_matches_hof_arm_bitwise(spark):
    """The two decontamination scorers must be interchangeable
    bit-for-bit (same e6-quantized cosine, same eval_id tie-break, same
    threshold): run s26's interpreted-HOF gate — the registered x66/s26
    decision — and s26b's BLAS scorer over the SAME corpus/eval split
    and compare every verdict column.  The split is s26b's parity split
    so the eval side is the many-vector regime the BLAS scorer exists
    for."""
    from pyspark.sql import functions as F

    from fanstats_producer_spark.io import load as _load
    from fanstats_producer_spark.operators.similarity import (
        _as_double,
        decontam_blas,
        semantic_decontam_gate,
    )

    emb = _load(spark, "/root/testdata/sf0.001", "embeddings")
    evals = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("eval_id"),
        _as_double(F.col("embedding")).alias("ev"),
    )
    evs_row = (
        evals.select(F.struct("eval_id", "ev").alias("e"))
        .agg(F.array_sort(F.collect_list("e")).alias("evs"))
    )
    corpus = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    )

    def key(rows):
        return {
            r["vec_id"]: (
                r["nearest_eval_id"],
                r["max_sim_e6"],
                r["contaminated"],
            )
            for r in rows
        }

    hof = key(semantic_decontam_gate(corpus, evs_row).collect())
    assert len(hof) == corpus.count()
    # the registered s26b arm: batched matmul, same verdicts bitwise
    blas = key(decontam_blas(corpus, evals).collect())
    assert blas == hof

    # FORCED-RESCUE pass (r10 ulp item): with the boundary band blown
    # wide open every entry routes through _fold_cosine, so this pins
    # that the rescue's scalar sequence reproduces the fold arm
    # bit-exactly on every fixture pair — the exactness claim the
    # registered narrow band (1e-4 e6-units) relies on.  Not just the
    # winner: max_sim_e6 AND nearest_eval_id must both hold, since a
    # rescued q feeds the composite argmin.
    rescued = key(decontam_blas(corpus, evals, band=float("inf")).collect())
    assert rescued == hof


def test_s27_packing_carries_offset_and_absorbs_replay(spark, tmp_path):
    """The carried token offset must continue across batches, a fresh
    checkpoint replaying the promoted batch must be absorbed by the
    _BATCH marker (manifest unchanged), and stale state under a fresh
    checkpoint must fail loudly."""
    import json as _json
    import os as _os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from fanstats_producer_spark.streaming import jobs

    landing = tmp_path / "landing"
    landing.mkdir()
    texts = {
        0: "a b c",          # 3 tokens  (batch A)
        2: "d e",            # 2 tokens  (batch A)
        1: "f g h i",        # 4 tokens  (batch B)
        3: "j",              # 1 token   (batch B)
    }

    def _write(name, ids, mtime):
        with open(landing / name, "w") as f:
            for i in ids:
                f.write(
                    _json.dumps(
                        {
                            "doc_id": i,
                            "ts": "2024-01-01T00:00:00Z",
                            "text": texts[i],
                            "lang": "en",
                        }
                    )
                    + "\n"
                )
        _os.utime(landing / name, (mtime, mtime))

    _write("a.json", [0, 2], 1_000_000_000)
    _write("b.json", [1, 3], 1_000_000_100)

    def _drain(ckpt):
        src = (
            spark.readStream.schema(jobs.DOCUMENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(landing))
        )
        q = jobs.streaming_sequence_packing(
            src,
            str(tmp_path / "manifest"),
            str(tmp_path / "state"),
            str(tmp_path / ckpt),
            seq_len=4,
        )
        q.awaitTermination(120)
        return {
            r["doc_id"]: (
                r["start_offset"],
                r["first_seq"],
                r["last_seq"],
                r["n_seqs"],
            )
            for r in spark.read.parquet(
                str(tmp_path / "manifest")
            ).collect()
        }

    got = _drain("ckpt1")
    # stream order: (0: 3 tok @0), (2: 2 tok @3), then batch B carries
    # on at offset 5: (1: 4 tok @5), (3: 1 tok @9); seq_len=4
    assert got == {
        0: (0, 0, 0, 1),
        2: (3, 0, 1, 2),
        1: (5, 1, 2, 2),
        3: (9, 2, 2, 1),
    }
    state = spark.read.parquet(str(tmp_path / "state")).collect()
    assert state[0]["offset"] == 10
    # fresh checkpoint: batch 0 replays with marker at 1 -> 0 < 1 is the
    # STALE-STATE case and must raise (double-advance hazard)
    with pytest.raises(StreamingQueryException, match="stale state"):
        _drain("ckpt2")


def test_s30_weighted_reservoir_slicing_invariant_and_replay_safe(
    spark, landing, tmp_path
):
    """s30: (1) BATCH-SLICING INVARIANCE — draining the landing one
    file per trigger (3 micro-batches) must leave exactly the state
    batch x92 computes over the union (A-Res algebra:
    top-k(A∪B) = top-k(top-k(A)∪top-k(B))); (2) REDELIVERY
    IDEMPOTENCE — a second drain from a FRESH checkpoint re-delivers
    every file into the existing state, and the doc_id dedup +
    re-rank must leave the state unchanged."""
    import json as _json
    import os as _os

    from fanstats_producer_spark.operators.sampling import (
        ares_keyed,
        ares_topk,
    )
    from fanstats_producer_spark.streaming.jobs import DOCUMENT_SCHEMA

    def _doc(i, n_tokens):
        return {
            "doc_id": i,
            "ts": f"2024-01-01T10:{i:02d}:00Z",
            "text": " ".join(f"w{t}" for t in range(n_tokens)),
            "lang": "en",
        }

    batches = [
        [_doc(1, 1000), _doc(2, 1)],
        [_doc(3, 500), _doc(4, 2)],
        [_doc(5, 800), _doc(6, 1200)],
    ]
    for bi, docs in enumerate(batches):
        with open(landing / f"b{bi}.json", "w") as f:
            for d in docs:
                f.write(_json.dumps(d) + "\n")
        _os.utime(
            landing / f"b{bi}.json",
            (1000000000 + bi * 100, 1000000000 + bi * 100),
        )

    def _src():
        return (
            spark.readStream.schema(DOCUMENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(landing))
        )

    state_dir = str(tmp_path / "state")
    q = jobs.streaming_weighted_sample(
        _src(), state_dir, str(tmp_path / "ckpt1"), k=3
    )
    q.awaitTermination(120)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3

    all_docs = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for b in batches for d in b],
        schema="doc_id long, text string",
    )
    want = sorted(
        (r.doc_id, r.n_tokens, r.key_e9)
        for r in ares_topk(ares_keyed(all_docs), 3).collect()
    )
    got = sorted(
        (r.doc_id, r.n_tokens, r.key_e9)
        for r in spark.read.parquet(state_dir).collect()
    )
    assert got == want

    # redelivery from a fresh checkpoint: state must be a fixed point
    q2 = jobs.streaming_weighted_sample(
        _src(), state_dir, str(tmp_path / "ckpt2"), k=3
    )
    q2.awaitTermination(120)
    got2 = sorted(
        (r.doc_id, r.n_tokens, r.key_e9)
        for r in spark.read.parquet(state_dir).collect()
    )
    assert got2 == want


def test_s31_quantile_monitor_slicing_invariant_and_replay_safe(
    spark, landing, tmp_path
):
    """s31: the online bottom-k sketch drained over 3 micro-batches
    must equal the batch bottom-k over the union (min-k algebra), and
    a fresh-checkpoint redelivery must leave the state unchanged."""
    import json as _json
    import os as _os

    from fanstats_producer_spark.operators.sketches import bottomk_sample

    batches = [
        [(i, float(i) * 1.5) for i in range(1, 20)],
        [(i, float(i) * 0.25) for i in range(20, 40)],
        [(i, float(i) * 3.0) for i in range(40, 60)],
    ]
    for bi, evs in enumerate(batches):
        with open(landing / f"b{bi}.json", "w") as f:
            for eid, val in evs:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": "2024-01-01T10:00:00Z",
                            "user_id": 1,
                            "event_type": "view",
                            "value": val,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )
        _os.utime(
            landing / f"b{bi}.json",
            (1000000000 + bi * 100, 1000000000 + bi * 100),
        )

    def _run(ckpt):
        q = jobs.streaming_quantile_monitor(
            jobs.read_event_stream(
                spark, str(landing), max_files_per_trigger=1
            ),
            str(tmp_path / "state"),
            str(tmp_path / ckpt),
            k=16,
        )
        q.awaitTermination(120)
        return q

    q = _run("ckpt1")
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    all_ev = spark.createDataFrame(
        [(eid, val) for b in batches for eid, val in b],
        schema="event_id long, value double",
    )
    want = sorted(
        (r.event_id, r.value)
        for r in bottomk_sample(all_ev, "event_id", 16).collect()
    )
    state = str(tmp_path / "state")
    got = sorted(
        (r.event_id, r.value) for r in spark.read.parquet(state).collect()
    )
    assert got == want and len(got) == 16

    _run("ckpt2")  # redelivery: state must be a fixed point
    got2 = sorted(
        (r.event_id, r.value) for r in spark.read.parquet(state).collect()
    )
    assert got2 == want


def test_s32_keyword_gate_is_slicing_invariant(spark, landing, tmp_path):
    """s32: stateless per-row tagging — a 2-batch drain must produce
    exactly the batch tagger's rows over the union, including
    overlapping/nested matches ('row scan' also firing 'scan')."""
    import json as _json
    import os as _os

    from fanstats_producer_spark.functions.text_extra import (
        _X101_TERMS,
        keyword_tags,
    )
    from fanstats_producer_spark.streaming.jobs import DOCUMENT_SCHEMA

    docs = [
        (1, "spark row scan spark"),
        (2, "sort merge table table"),
        (3, "no hits here"),
        (4, "hash agg over table"),
    ]
    for bi, chunk in enumerate([docs[:2], docs[2:]]):
        with open(landing / f"b{bi}.json", "w") as f:
            for i, txt in chunk:
                f.write(
                    _json.dumps(
                        {"doc_id": i, "ts": "2024-01-01T10:00:00Z",
                         "text": txt, "lang": "en"}
                    ) + "\n"
                )
        _os.utime(landing / f"b{bi}.json",
                  (1000000000 + bi * 100,) * 2)
    src = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out_dir = str(tmp_path / "tags")
    q = (
        keyword_tags(src, _X101_TERMS)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.doc_id, r.term, r.n_hits)
        for r in spark.read.parquet(out_dir).collect()
    )
    batch = spark.createDataFrame(
        docs, "doc_id long, text string"
    )
    want = sorted(
        (r.doc_id, r.term, r.n_hits)
        for r in keyword_tags(batch, _X101_TERMS).collect()
    )
    assert got == want
    assert (1, "row scan", 1) in got and (1, "scan", 1) in got
    assert (1, "spark", 2) in got and 3 not in {d for d, _, _ in got}


def test_s33_ks_monitor_slicing_invariant_and_stale_state_raises(
    spark, landing, tmp_path
):
    """s33: (1) a 3-batch drain's state rebuilds exactly the batch KS
    matrix over the union (sum-merge commutativity); (2) re-draining
    the same landing from a FRESH checkpoint re-delivers batch 0
    against a state whose _BATCH marker is 2 — the stale-state
    double-merge hazard, which must raise loudly (the s27 protocol)."""
    import json as _json
    import os as _os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from fanstats_producer_spark.operators.quality_checks import (
        ks_matrix_from_counts,
    )

    batches = [
        [("A", 1.0), ("A", 2.0), ("B", 2.0)],
        [("A", 2.0), ("B", 3.0), ("B", 3.0)],
        [("A", 5.0), ("B", 2.0)],
    ]
    eid = 0
    for bi, evs in enumerate(batches):
        with open(landing / f"b{bi}.json", "w") as f:
            for t, v in evs:
                f.write(
                    _json.dumps(
                        {"event_id": eid, "ts": "2024-01-01T10:00:00Z",
                         "user_id": 1, "event_type": t, "value": v,
                         "props": "{}"}
                    ) + "\n"
                )
                eid += 1
        _os.utime(landing / f"b{bi}.json", (1000000000 + bi * 100,) * 2)

    state = str(tmp_path / "state")

    def _drain(ckpt):
        q = jobs.staged_sum(
            jobs.read_event_stream(
                spark, str(landing), max_files_per_trigger=1
            ),
            state,
            str(tmp_path / ckpt),
            partial=quality_checks.value_counts,
            counts=["c"],
            name="s33",
        )
        q.awaitTermination(120)
        return q

    q = _drain("ckpt1")
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    got = sorted(
        tuple(r)
        for r in ks_matrix_from_counts(
            spark.read.parquet(state)
        ).collect()
    )
    all_cnt = (
        spark.createDataFrame(
            [(t, v) for b in batches for t, v in b], "t string, v double"
        )
        .groupBy("t", "v")
        .agg(F.count("*").alias("c"))
    )
    want = sorted(tuple(r) for r in ks_matrix_from_counts(all_cnt).collect())
    assert got == want

    with pytest.raises(StreamingQueryException, match="stale state"):
        _drain("ckpt2")


def test_auc_from_counts_algebra_and_s34_slicing(spark, landing, tmp_path):
    """(1) auc_matrix_from_counts reproduces the doubled-midrank hand
    case WITH ties (A=[1,3,3], B=[2,3]: U2_a=6, AUC=0.5 — the x107
    hand fixture) straight from a (t,v,c) table, pinning the
    2·cum−ties+1 algebra; (2) a 2-batch drain of the shared
    value-counts monitor rebuilds exactly the batch AUC matrix over
    the union (sum-merge commutativity — s34's slicing invariance).
    The stale-state replay protocol is the same staged-state core s33
    already pins."""
    import json as _json
    import os as _os

    from fanstats_producer_spark.operators.quality_checks import (
        auc_matrix_from_counts,
    )

    hand = (
        spark.createDataFrame(
            [("A", 1.0, 1), ("A", 3.0, 2), ("B", 2.0, 1), ("B", 3.0, 1)],
            "t string, v double, c long",
        )
    )
    rows = auc_matrix_from_counts(hand).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.type_a, r.type_b, r.n_a, r.n_b) == ("A", "B", 3, 2)
    assert r.u2_a == 6 and r.auc_e6 == 500000

    batches = [
        [("A", 1.0), ("A", 3.0), ("B", 2.0)],
        [("A", 3.0), ("B", 3.0), ("C", 1.0)],
    ]
    eid = 0
    for bi, evs in enumerate(batches):
        with open(landing / f"b{bi}.json", "w") as f:
            for t, v in evs:
                f.write(
                    _json.dumps(
                        {"event_id": eid, "ts": "2024-01-01T10:00:00Z",
                         "user_id": 1, "event_type": t, "value": v,
                         "props": "{}"}
                    ) + "\n"
                )
                eid += 1
        _os.utime(landing / f"b{bi}.json", (1000000000 + bi * 100,) * 2)
    state = str(tmp_path / "state")
    q = jobs.staged_sum(
        jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1),
        state,
        str(tmp_path / "ckpt"),
        partial=quality_checks.value_counts,
        counts=["c"],
        name="s34",
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r)
        for r in auc_matrix_from_counts(spark.read.parquet(state)).collect()
    )
    all_cnt = (
        spark.createDataFrame(
            [(t, v) for b in batches for t, v in b], "t string, v double"
        )
        .groupBy("t", "v")
        .agg(F.count("*").alias("c"))
    )
    want = sorted(
        tuple(r) for r in auc_matrix_from_counts(all_cnt).collect()
    )
    assert got == want and len(want) == 3  # A-B, A-C, B-C


def test_s35_contingency_monitor_slicing_invariant(spark, tmp_path):
    """s35: a 2-batch drain of the contingency monitor rebuilds exactly
    the batch chi-square report over the union (sum-merge
    commutativity), through the SAME chi2_from_counts downstream batch
    x109 uses.  The staged-state replay protocol is the shared core
    s33 already pins."""
    import json as _json
    import os as _os

    from fanstats_producer_spark.operators.quality_checks import (
        chi2_from_counts,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        [("en", "web"), ("en", "web"), ("fr", "book")],
        [("en", "book"), ("fr", "web"), ("fr", "web"), ("en", "web")],
    ]
    did = 0
    for bi, docs in enumerate(batches):
        with open(landing / f"b{bi}.json", "w") as f:
            for lang, src in docs:
                f.write(
                    _json.dumps(
                        {"doc_id": did, "text": f"doc {did}",
                         "lang": lang, "source": src, "n_chars": 6}
                    ) + "\n"
                )
                did += 1
        _os.utime(landing / f"b{bi}.json", (1000000000 + bi * 100,) * 2)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    state = str(tmp_path / "state")
    q = jobs.staged_sum(
        stream, state, str(tmp_path / "ckpt"),
        partial=quality_checks.contingency_counts, counts=["o"], name="s35",
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in chi2_from_counts(spark.read.parquet(state)).collect()
    )
    all_cnt = (
        spark.createDataFrame(
            [(l, s) for b in batches for l, s in b],
            "lang string, source string",
        )
        .groupBy("lang", "source")
        .agg(F.count("*").alias("o"))
    )
    want = sorted(tuple(r) for r in chi2_from_counts(all_cnt).collect())
    assert got == want and len(want) == 4
    # dof for the 2x2 union table
    assert all(r[5] == 1 for r in got)


def test_s36_embedding_drift_monitor_slicing_invariant(spark, tmp_path):
    """s36: a 2-batch drain of the embedding-drift monitor rebuilds
    exactly the batch centroid-shift report over the union (integer
    sum-merge commutativity), through the SAME
    embedding_drift_from_sums downstream batch x114 uses.  The staged
    replay protocol is the shared core s33 already pins."""
    import os as _os

    from fanstats_producer_spark.operators.quality_checks import (
        embedding_component_sums,
        embedding_drift_from_sums,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        [(0, [0.5, 0.0], 0), (1, [0.0, 0.5], 0), (4, [0.125, 0.75], 1)],
        [(2, [0.25, 0.25], 0), (3, [0.25, -0.25], 0),
         (5, [0.125, 0.75], 1)],
    ]
    schema = "vec_id long, embedding array<float>, label int"
    for bi, vecs in enumerate(batches):
        bdir = str(tmp_path / f"stage{bi}")
        spark.createDataFrame(vecs, schema).coalesce(1).write.parquet(bdir)
        part = next(
            f for f in _os.listdir(bdir) if f.endswith(".parquet")
        )
        dst = str(landing / f"b{bi}.parquet")
        _os.rename(_os.path.join(bdir, part), dst)
        _os.utime(dst, (1000000000 + bi * 100,) * 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    state = str(tmp_path / "state")
    q = jobs.staged_sum(
        stream, state, str(tmp_path / "ckpt"),
        partial=embedding_component_sums, counts=["s", "n"], name="s36",
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r)
        for r in embedding_drift_from_sums(
            spark.read.parquet(state)
        ).collect()
    )
    union = spark.createDataFrame(
        [v for b in batches for v in b], schema
    )
    want = sorted(
        tuple(r)
        for r in embedding_drift_from_sums(
            embedding_component_sums(union)
        ).collect()
    )
    assert got == want
    # the hand-pinned values (test_x114_embedding_drift_hand_case):
    # label 0 shifts 0.25 L2 -> 250000 e6; label 1 identical halves
    assert got == [(0, 2, 2, 250000), (1, 1, 1, 0)]


def test_decontam_blas_repartitions_single_split_batch(spark):
    """The blas scorer is CPU-bound and row-local; a micro-batch that
    arrives in ONE input split (the common file-source shape — one
    parquet file per trigger) must be repartitioned to default
    parallelism before the matmul, or the whole score serializes on a
    single Python worker (measured >30 min at sf10 where per-core work
    is ~1 min).  Verdicts are partitioning-invariant, pinned by the
    interchangeability test above; this pins the PARALLELISM."""
    from pyspark.sql import functions as F

    from fanstats_producer_spark.io import load as _load
    from fanstats_producer_spark.operators.similarity import (
        _as_double,
        decontam_blas,
    )

    emb = _load(spark, "/root/testdata/sf0.001", "embeddings")
    evals = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("eval_id"),
        _as_double(F.col("embedding")).alias("ev"),
    )
    corpus = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .coalesce(1)  # the one-split batch shape
    )
    out = decontam_blas(corpus, evals)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= min(target, 8)
    # and an already-wide batch is left alone (no extra shuffle)
    wide = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .repartition(target)
    )
    out2 = decontam_blas(wide, evals)
    assert out2.rdd.getNumPartitions() == target


def test_fixture_cache_key_tracks_documents_file(tmp_path):
    """The per-fixture session caches key on the sf_dir's abspath plus
    documents.parquet's (mtime_ns, size): regenerating the fixture into
    the same directory must change the key, so a staged landing is never
    served from a stale corpus; a directory without the file keys as
    (abspath, 0, 0)."""
    import os

    from fanstats_producer_spark.streaming.driver_entries import (
        _fixture_cache_key,
    )

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    path = os.path.abspath(str(sf_dir))
    assert _fixture_cache_key(str(sf_dir)) == (path, 0, 0)

    doc = sf_dir / "documents.parquet"
    doc.write_bytes(b"x" * 10)
    os.utime(doc, ns=(1_000_000_000, 1_000_000_000))
    first = _fixture_cache_key(str(sf_dir))
    assert first == (path, 1_000_000_000, 10)
    assert _fixture_cache_key(str(sf_dir)) == first  # stable while unchanged

    # rewritten with a different size (mtime pinned): key changes
    doc.write_bytes(b"x" * 11)
    os.utime(doc, ns=(1_000_000_000, 1_000_000_000))
    resized = _fixture_cache_key(str(sf_dir))
    assert resized != first and resized[2] == 11

    # rewritten with the same size but a new mtime: key changes
    os.utime(doc, ns=(2_000_000_000, 2_000_000_000))
    touched = _fixture_cache_key(str(sf_dir))
    assert touched != resized and touched[1:] == (2_000_000_000, 11)

    # a relative spelling of the same directory maps to the same key
    rel = os.path.relpath(str(sf_dir))
    assert _fixture_cache_key(rel) == touched


def test_driver_entries_harness_imports():
    """The names bench.py's warm-ups and perfbench import from
    driver_entries.  bench.py's warm-ups catch every exception and only
    print WARN, so a rename would silently switch off its RocksDB, TWS
    and stream-join warm-ups; this import fails loudly instead."""
    from fanstats_producer_spark.streaming.driver_entries import (
        _DOC_LANDING_CACHE,
        _PARITY_LANDING_CACHE,
        _few_partitions,
        _rocksdb_state,
        _skip_nodata_batch,
    )

    assert isinstance(_DOC_LANDING_CACHE, dict)
    assert isinstance(_PARITY_LANDING_CACHE, dict)
    for cm in (_few_partitions, _rocksdb_state, _skip_nodata_batch):
        assert callable(cm)


def _landing_rows(spark, landing):
    """The rows staged in a landing: a linked parquet file, or document
    JSON."""
    import glob
    import os

    if glob.glob(os.path.join(landing, "*.parquet")):
        return sorted(spark.read.parquet(landing).collect(), key=repr)
    return sorted(
        spark.read.schema(jobs.DOCUMENT_SCHEMA)
        .json(landing)
        .select("doc_id", "text", "lang")
        .collect()
    )


def _landing_dir(spark, kind):
    """Stage (or reuse) one kind of landing and return its dir, as the
    landing cache it is kept in records it."""
    from conftest import SF_DIR

    from fanstats_producer_spark.streaming import driver_entries as de

    if kind == "doc":
        de._doc_landing(spark, SF_DIR)
        return de._DOC_LANDING_CACHE[de._fixture_cache_key(SF_DIR)][0]
    if kind == "parity":
        de._parity_landing(spark, SF_DIR)
        return de._PARITY_LANDING_CACHE[de._fixture_cache_key(SF_DIR)][0]
    de._read_events_stream(spark, SF_DIR)
    return de._LINK_LANDING_CACHE[de._file_key(f"{SF_DIR}/events.parquet")][0]


def test_doc_landing_splits_across_cores(spark):
    """The shared document landing is staged one part file per core, so
    every doc-stream drain plans one split per file and runs its per-row
    kernels on every core, not in one task over a one-file landing."""
    import glob
    import os

    from conftest import SF_DIR

    from fanstats_producer_spark.io import load

    landing = _landing_dir(spark, "doc")
    if spark.sparkContext.defaultParallelism >= 2:
        assert len(glob.glob(os.path.join(landing, "part-*"))) >= 2
        scan = spark.read.schema(jobs.DOCUMENT_SCHEMA).json(landing)
        assert scan.rdd.getNumPartitions() >= 2
    fixture = load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    assert _landing_rows(spark, landing) == sorted(fixture.collect())


@pytest.mark.parametrize(
    "kind, victim",
    [
        ("doc", "part-*"),
        ("doc", "_SUCCESS"),
        ("parity", "a.json"),
        ("events", "events-000.parquet"),
    ],
    ids=["part", "_SUCCESS", "parity", "events"],
)
def test_doc_landing_restages_a_partly_reaped_landing(spark, kind, victim):
    """A cached landing that lost one staged file (an age-based /tmp
    reaper, say) is staged again, not drained short, and the next call
    reuses the new landing.  The document landing stages its part files
    and Spark's _SUCCESS marker, the parity landing its two batch files,
    a linked landing the fixture file it links."""
    import glob
    import os

    landing = _landing_dir(spark, kind)
    rows = _landing_rows(spark, landing)
    os.remove(sorted(glob.glob(os.path.join(landing, victim)))[0])
    again = _landing_dir(spark, kind)
    assert again != landing
    assert glob.glob(os.path.join(again, victim))
    assert _landing_rows(spark, again) == rows
    assert _landing_dir(spark, kind) == again


def test_events_drains_share_one_landing(spark):
    """Two events-stream drains in one session read ONE landing dir: the
    events file is linked into a landing once per session, not into a
    fresh dir on every drain."""
    import os

    from conftest import SF_DIR

    from fanstats_producer_spark.streaming.driver_entries import (
        _drain_memory,
        _read_events_stream,
    )

    def landing_dirs():
        files = _read_events_stream(spark, SF_DIR).select(
            F.input_file_name().alias("f")
        )
        drained = _drain_memory(spark, files, "append")
        return {os.path.dirname(r.f) for r in drained.distinct().collect()}

    first = landing_dirs()
    assert len(first) == 1
    assert landing_dirs() == first


def test_drain_batch_precondition_and_conf_restore(spark, landing):
    """`_drain` owns the batch-count precondition and the drain confs:
    a two-file landing read one file per trigger drains as 2 data
    micro-batches, so batches=(0, 1) raises naming the count and
    batches=(2,) passes; a `start` that raises still leaves the shuffle
    width, the no-data-batch flag and the state store provider as they
    were."""
    from fanstats_producer_spark.streaming.driver_entries import (
        _drain,
        _drain_memory,
    )

    _write_batch(landing, "a.json", [_event(i, f"2024-01-01T0{i}:00:00Z") for i in range(3)])
    _write_batch(landing, "b.json", [_event(9, "2024-01-02T00:00:00Z")])

    def stream():
        return jobs.read_event_stream(spark, str(landing), max_files_per_trigger=1)

    with pytest.raises(AssertionError, match=r"observed 2 data micro-batches"):
        _drain_memory(spark, stream(), "append", batches=(0, 1))
    got = _drain_memory(spark, stream(), "append", batches=(2,))
    assert got.count() == 4

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.streaming.stateStore.providerClass",
    )
    prior = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        before = {k: spark.conf.get(k) for k in keys}
        inside = {}

        def boom():
            inside.update({k: spark.conf.get(k) for k in keys})
            raise RuntimeError("start failed")

        with pytest.raises(RuntimeError, match="start failed"):
            _drain(spark, boom, partitions=3, rocksdb=True)
        assert inside[keys[0]] == "3"
        assert inside[keys[1]] == "false"
        assert inside[keys[2]].endswith("RocksDBStateStoreProvider")
        assert {k: spark.conf.get(k) for k in keys} == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior[keys[0]])


def test_s01_s09_leave_no_scratch(spark, tmp_path, monkeypatch):
    """Every key that drains into a work dir (the file-sink keys, and
    s20's two staged sources) removes it on return, after reading its
    result back eagerly: repeated calls leave no checkpoint, state or
    sink on the scratch root, only the session's cached landings."""
    from pathlib import Path

    from conftest import SF_DIR

    from fanstats_producer_spark import registry
    from fanstats_producer_spark.streaming import driver_entries as de

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    for key in (
        "s01_stream_ingest",
        "s09_upsert_state",
        "s20_union_streams",
        "s21_stream_near_dup",
        "s22_stream_verified_near_dup",
        "s23_stream_drift",
        "s25_stream_bloom_dedup",
        "s26b_stream_decontam_large_eval",
        "s27_stream_sequence_packing",
        "s28_stream_image_near_dup",
        "s29_stream_audio_near_dup",
        "s30_stream_weighted_sample",
        "s31_stream_quantile_monitor",
        "s32_stream_keyword_tags",
        "s33_stream_ks_monitor",
        "s34_stream_auc_monitor",
        "s35_stream_chi2_monitor",
        "s36_stream_embedding_drift",
    ):
        assert registry.QUERIES[key](spark, SF_DIR).collect(), key
        landings = {
            Path(landing)
            for cache in (
                de._DOC_LANDING_CACHE,
                de._PARITY_LANDING_CACHE,
                de._LINK_LANDING_CACHE,
            )
            for landing, _ in cache.values()
        }
        assert set(tmp_path.iterdir()) <= landings, key
