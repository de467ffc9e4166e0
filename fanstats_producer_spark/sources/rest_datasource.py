"""Paginated REST scan as a Spark 4 Python DataSource (SURVEY.md §4's
"candidate custom piece (a)": P1/P2 fidelity at the source).

`spark.read.format("fanstats_rest").option("topics", "NBA,NFL")` plans
one *input partition per topic*: pagination is cursor-serial inside a
partition (rest.paginate, liveness guards included) but topics scan in
parallel across executors — the parallelism axis the reference's
single process leaves unused (reference main.py:214).  The page clamp and result cap
(main.py:95-96, 136) are reader options, and the lookback start_time
(main.py:263) is pushed into every request — source-side predicates,
not post-filters.

Fetchers are pluggable as importable "module.path:attr" specs (an HTTP
fetcher would do the bearer-token GET of main.py:114-120); the default,
pipeline.demo_fetcher, is deterministic and offline.  Everything lands
with the pinned TWEET_SCHEMA.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from fanstats_producer_spark.sources.ndjson import TWEET_SCHEMA
from fanstats_producer_spark.sources.rest import FetchPage, paginate

#: the offline fetcher the reader uses when no "fetcher" option is given
_DEFAULT_FETCHER = "fanstats_producer_spark.pipeline:demo_fetcher"


def _resolve_fetcher(spec: str) -> Callable[[], FetchPage]:
    """Resolve a fetcher option, an importable "module.path:attr" spec,
    to a factory (works in any worker process)."""
    if ":" not in spec:
        raise KeyError(
            f"unknown fetcher {spec!r}: not a 'module:attr' import spec"
        )
    import importlib

    mod, attr = spec.split(":", 1)
    obj = importlib.import_module(mod)
    for part in attr.split("."):
        obj = getattr(obj, part)
    return obj


class TopicPartition(InputPartition):
    def __init__(self, topic: str) -> None:
        self.topic = topic


class RestReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.topics = [t for t in options.get("topics", "").split(",") if t]
        # Resolve the factory at plan time — the callable is then pickled
        # with the reader, so executors never import the spec themselves.
        self.fetcher_factory = _resolve_fetcher(
            options.get("fetcher", _DEFAULT_FETCHER)
        )
        self.start_time = options.get("start_time", "1970-01-01T00:00:00Z")
        self.page_size = min(int(options.get("page_size", "100")), 100)
        self.max_results = int(options.get("max_results", "3000"))

    def partitions(self) -> list[InputPartition]:
        return [TopicPartition(t) for t in self.topics]

    def read(self, partition: TopicPartition) -> Iterator[tuple]:
        fetch = self.fetcher_factory()
        field_names = [f.name for f in TWEET_SCHEMA.fields]
        yield from paginate(
            lambda cursor: fetch(partition.topic, self.start_time, cursor, self.page_size),
            lambda r: tuple(_to_row_value(r.get(name)) for name in field_names),
            self.max_results,
        )


def _to_row_value(v):
    """dicts → tuples for struct fields (the DataSource row protocol)."""
    if isinstance(v, dict):
        return tuple(_to_row_value(x) for x in v.values())
    if isinstance(v, list):
        return [_to_row_value(x) for x in v]
    return v


class RestStreamReader(SimpleDataSourceStreamReader):
    """Streaming arm: each micro-batch polls every topic's cursor chain
    from the last committed offset — the reference's scheduled re-crawl
    (main.tf:214-218) as a continuous source with exactly-once offsets.

    Offset = {topic: next_token}; Spark checkpoints it, so a restarted
    query resumes the crawl exactly where the last batch committed (vs
    the reference's stateless daily re-pull).  `pages_per_batch` is the
    per-trigger rate limit (the P4 clamp as back-pressure).
    """

    def __init__(self, options: dict) -> None:
        self.topics = [t for t in options.get("topics", "").split(",") if t]
        # Plan-time resolution: see RestReader.__init__.
        self.fetcher_factory = _resolve_fetcher(
            options.get("fetcher", _DEFAULT_FETCHER)
        )
        self.start_time = options.get("start_time", "1970-01-01T00:00:00Z")
        self.page_size = min(int(options.get("page_size", "100")), 100)
        self.pages_per_batch = int(options.get("pages_per_batch", "1"))
        self._fetch = None
        self._field_names = [f.name for f in TWEET_SCHEMA.fields]

    def initialOffset(self) -> dict:
        return {t: None for t in self.topics}

    def read(self, start: dict):
        if self._fetch is None:
            self._fetch = self.fetcher_factory()
        rows_out: list[tuple] = []
        end: dict = {}
        for topic in self.topics:
            token = start.get(topic)
            if token == "__done__":
                end[topic] = token
                continue
            for _ in range(self.pages_per_batch):
                rows, token = self._fetch(
                    topic, self.start_time, token, self.page_size
                )
                rows_out.extend(
                    tuple(_to_row_value(r.get(n)) for n in self._field_names)
                    for r in rows
                )
                if token is None:
                    token = "__done__"  # cursor exhausted; stop polling
                    break
            end[topic] = token
        return iter(rows_out), end


class RestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fanstats_rest"

    def schema(self):
        return TWEET_SCHEMA

    def reader(self, schema) -> RestReader:
        return RestReader(self.options)

    def writer(self, schema, overwrite: bool):
        if self.options.get("format") == "arrow-parquet":
            return UploadArrowWriter(self.options, overwrite)
        return UploadWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "UploadStreamWriter":
        return UploadStreamWriter(self.options)

    def simpleStreamReader(self, schema) -> RestStreamReader:
        return RestStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(RestDataSource)


# --- write path: the reference's upload step as a committing sink ---------------
# upload_results (reference main.py:64-81) is a blind put: a crashed run
# can leave partial objects and a re-run double-appends (at-least-once).
# The DataSourceWriter protocol upgrades this to task-staged, job-committed
# output: each task writes to a staging area and returns a commit message;
# only if ALL tasks succeed does the driver promote staged files into the
# destination (plus a _SUCCESS manifest with the row count); any failure
# aborts and removes the staged files.  On a real deployment the staging
# rename becomes S3 multipart-upload completion — same two-phase shape.


class _StagedUpload(WriterCommitMessage):
    def __init__(self, staged: str, n_rows: int) -> None:
        self.staged = staged
        self.n_rows = n_rows


def _staging_path(dest: str, ext: str) -> str:
    staging = os.path.join(dest, "_staging")
    os.makedirs(staging, exist_ok=True)
    return os.path.join(staging, f"{uuid.uuid4().hex}.{ext}")


def _promote(dest: str, messages, name: str) -> tuple[int, int]:
    """Promote the tasks' staged files into ``dest`` as ``name.format(i)``
    and return (files, rows).  Zero-row staged files are dropped instead:
    the reference's empty-result guard (main.py:183-194) — nothing to
    upload, no object created."""
    files = rows = 0
    for m in messages:
        if m is None:
            continue
        if m.n_rows == 0:
            os.remove(m.staged)
            continue
        os.replace(m.staged, os.path.join(dest, name.format(files)))
        files += 1
        rows += m.n_rows
    return files, rows


def _discard(messages) -> None:
    """Remove whatever staged files the tasks left (the abort path)."""
    for m in messages:
        if m is not None and os.path.exists(m.staged):
            os.remove(m.staged)


class UploadWriter(DataSourceWriter):
    ext = "json"

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.dest = options["dest"]
        self.overwrite = overwrite

    def write(self, iterator) -> _StagedUpload:
        path = _staging_path(self.dest, self.ext)
        n = 0
        with open(path, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(recursive=True), default=str) + "\n")
                n += 1
        return _StagedUpload(staged=path, n_rows=n)

    def commit(self, messages) -> None:
        if self.overwrite:
            for name in os.listdir(self.dest):
                if name.startswith("part-") or name == "_SUCCESS":
                    os.remove(os.path.join(self.dest, name))
        files, rows = _promote(self.dest, messages, "part-{:05d}." + self.ext)
        with open(os.path.join(self.dest, "_SUCCESS"), "w") as f:
            json.dump({"rows": rows, "files": files}, f)

    def abort(self, messages) -> None:
        _discard(messages)


class UploadStreamWriter(DataSourceStreamWriter):
    """Streaming arm of the committing sink: every micro-batch is its own
    two-phase commit, with the batch id in the object names — re-running
    a failed batch after recovery overwrites the same keys instead of
    appending duplicates (idempotent replay = exactly-once output on top
    of the checkpoint's at-least-once delivery)."""

    def __init__(self, options: dict) -> None:
        self.dest = options["dest"]

    def write(self, iterator) -> _StagedUpload:
        return UploadWriter({"dest": self.dest}, overwrite=False).write(iterator)

    def commit(self, messages, batchId: int) -> None:
        # A replayed batch may produce fewer parts than a previously
        # half-committed attempt; clear every file this batch id could have
        # left (parts AND manifest) so stale higher-numbered parts can't
        # survive next to the new manifest and double-count rows.
        batch = f"batch-{batchId:05d}"
        for stale in glob.glob(os.path.join(self.dest, f"{batch}-part-*")) + glob.glob(
            os.path.join(self.dest, f"_{batch}.manifest")
        ):
            os.remove(stale)
        files, rows = _promote(self.dest, messages, batch + "-part-{:05d}.json")
        with open(os.path.join(self.dest, f"_{batch}.manifest"), "w") as f:
            json.dump({"batch": batchId, "rows": rows, "files": files}, f)

    def abort(self, messages, batchId: int) -> None:
        _discard(messages)


class UploadArrowWriter(UploadWriter, DataSourceArrowWriter):
    """Arrow-batch arm of the committing sink: tasks receive PyArrow
    RecordBatches (zero per-row Python objects — the Arrow columnar
    transfer the row writer pays per-Row conversion for) and stage one
    parquet file per task; the commit/abort protocol is UploadWriter's.
    Select with option("format", "arrow-parquet")."""

    ext = "parquet"

    def write(self, iterator) -> _StagedUpload:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = _staging_path(self.dest, self.ext)
        writer = None
        n = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
            n += batch.num_rows
        if writer is None:
            # empty task: stage a zero-row marker the commit step removes
            with open(path, "w"):
                pass
        else:
            writer.close()
        return _StagedUpload(staged=path, n_rows=n)
