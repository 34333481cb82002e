"""Remote-source plumbing: dump freshness, bucketed API fetch, paged
SPARQL-style scans, curation-statement emission.

These are the reference's network-facing pieces (S4 / S7 / S8 / S13 / S14)
re-expressed as DISTRIBUTED plumbing with the I/O call injected: this
container has no network by policy, so every function takes the
fetch/probe/emit callable as a parameter — tests inject deterministic
stubs, production injects a requests-backed session — while the Spark side
(bucketing, partitioning, batching, schemas) is real and tested.

Reference analogues:
  S4  importer/importer.py:180-230  refresh_dump (HEAD Last-Modified ->
      versioned file name -> skip when present)
  S7  wikidata/sparql_queries.py:485-516  _run_paged_query (serial
      LIMIT/OFFSET pages -> HERE: pages fan out across executors)
  S8  wikidata/api_requests.py (BUCKET_SIZE=500 id buckets fetched
      serially -> HERE: one bucket per task)
  S13/S14  Wikidata bot / Mix'n'match uploads -> HERE: per-partition
      batched emission; the offline default writes the exact payload
      files a bot run would upload.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# --------------------------------------------------------------------- S4

def file_last_modified(path: str) -> str:
    """Freshness probe for file:// / local sources — the offline analogue
    of the reference's HTTP HEAD Last-Modified."""
    st = os.stat(path)
    return f"{int(st.st_mtime)}_{st.st_size}"


def refresh_dump(
    source: str,
    output_folder: str,
    last_modified_fn: Callable[[str], str] = file_last_modified,
    download_fn: Callable[[str, str], None] | None = None,
) -> tuple[str, bool]:
    """S4: download-if-newer with version-stamped file names
    (importer.py:180-230). Returns (local_path, was_downloaded).

    The dump's identity is its last-modified stamp: if a file named after
    the current stamp already exists, the download is skipped entirely —
    the reference's resumable-ingestion contract. ``download_fn(source,
    dest)`` is the injected transport (default: local copy; production:
    streaming HTTP download).
    """
    import shutil

    stamp = last_modified_fn(source)
    ext = ".".join(os.path.basename(source).split(".")[1:]) or "dat"
    dest = os.path.join(output_folder, f"{stamp}.{ext}")
    os.makedirs(output_folder, exist_ok=True)
    if os.path.isfile(dest):
        return dest, False
    if download_fn is None:
        download_fn = shutil.copyfile
    download_fn(source, dest)
    return dest, True


# --------------------------------------------------------------------- S8

def bucketed_api_fetch(
    ids: DataFrame,
    fetch_fn: Callable[[list], list[dict]],
    schema,
    id_col: str = "id",
    bucket_size: int = 500,
) -> DataFrame:
    """S8: fetch records for an id set through a bucketed API, one bucket
    per task (the reference loops 500-id buckets serially,
    api_requests.py BUCKET_SIZE; here ``n_ids / bucket_size`` tasks run
    in parallel and the driver never sees the payloads).

    ``fetch_fn(list_of_ids) -> list[dict]`` is the injected API call; it
    runs ON EXECUTORS, so it must be picklable and self-contained (build
    the HTTP session inside, not outside).
    """
    n = ids.count()
    n_buckets = max(1, (n + bucket_size - 1) // bucket_size)
    distributed = ids.select(id_col).repartition(n_buckets, id_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            ids_here = list(pdf[id_col])
            # hash partitioning is only approximately even, so enforce the
            # API's hard bucket-size contract by chunking within the task
            for s in range(0, len(ids_here), bucket_size):
                bucket = ids_here[s : s + bucket_size]
                if bucket:
                    yield pd.DataFrame(fetch_fn(bucket), columns=cols)

    return distributed.mapInPandas(run, schema=schema)


# --------------------------------------------------------------------- S7

def paged_scan(
    spark: SparkSession,
    page_fn: Callable[[int, int], list[dict]],
    n_pages: int,
    page_size: int,
    schema,
) -> DataFrame:
    """S7: LIMIT/OFFSET paged scan with pages fanned out across executors
    (the reference walks SPARQL pages serially,
    sparql_queries.py:485-516; a page here is one task).

    ``page_fn(offset, limit) -> list[dict]`` is the injected query call.
    ``n_pages`` must come from a prior count (or an over-estimate — empty
    pages yield no rows).
    """
    pages = spark.range(n_pages).select(
        (F.col("id") * page_size).alias("offset")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            for off in pdf["offset"]:
                records = page_fn(int(off), page_size)
                if records:
                    yield pd.DataFrame(records, columns=cols)

    return pages.repartition(n_pages).mapInPandas(run, schema=schema)


# --------------------------------------------------------------- S13/S14

class jsonl_dir_emitter:
    """Offline default sink: one JSONL payload file per partition — the
    exact statement batches a Wikidata-bot / Mix'n'match upload run would
    send, written to disk instead (external writes are out of scope by
    policy).

    Speculative-execution-safe: each task ATTEMPT streams its batches into
    an attempt-unique temp file (``taskAttemptId`` is globally unique) and
    ``finalize`` renames it into place atomically when the attempt
    completes — two concurrent attempts of the same partition can no
    longer interleave writes into one file; whichever finishes last wins
    whole-file (both wrote identical content from the same partition).
    Plain truncate-then-append is only retry-safe for SEQUENTIAL retries.

    REQUIRES a filesystem shared by driver and executors (NFS or
    local-mode): ``__call__``/``finalize`` run on executors while
    ``cleanup`` runs on the driver, so on a multi-node cluster with
    executor-local disks the outputs would be scattered per executor and
    driver-side cleanup would miss losing attempts' tmp files. This is by
    design — it is the OFFLINE sink (external uploads are out of scope by
    policy); a distributed deployment should emit to a distributed sink
    (e.g. ``df.write`` to the lake, or a network emitter injected into
    ``emit_statements``) instead.
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # per-task closure copy -> per-task state
        self._started: set[tuple[int, int]] = set()

    @staticmethod
    def _attempt_id() -> int:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        return int(ctx.taskAttemptId()) if ctx is not None else 0

    def _tmp(self, partition_id: int, attempt: int) -> str:
        return os.path.join(
            self.path, f"part-{partition_id:05d}.attempt-{attempt}.jsonl.tmp"
        )

    def _final(self, partition_id: int) -> str:
        return os.path.join(self.path, f"part-{partition_id:05d}.jsonl")

    def __call__(self, partition_id: int, rows: list[dict]) -> None:
        att = self._attempt_id()
        key = (partition_id, att)
        mode = "a" if key in self._started else "w"
        self._started.add(key)
        with open(self._tmp(partition_id, att), mode, encoding="utf8") as fh:
            for r in rows:
                fh.write(json.dumps(r, sort_keys=True, default=str) + "\n")

    def finalize(self, partition_id: int) -> None:
        tmp = self._tmp(partition_id, self._attempt_id())
        if os.path.exists(tmp):
            os.replace(tmp, self._final(partition_id))

    def cleanup(self) -> None:
        """Remove leftover attempt temp files — losing speculative
        attempts and failed tasks never rename theirs. Call DRIVER-side
        after the action completes (emit_statements does), when every
        surviving attempt has already published."""
        import glob

        for f in glob.glob(os.path.join(self.path, "part-*.jsonl.tmp")):
            try:
                os.remove(f)
            except OSError:
                pass


def emit_statements(
    df: DataFrame,
    emitter: Callable[[int, list[dict]], None],
    batch_size: int = 1000,
) -> None:
    """S13/S14: per-partition batched emission via ``foreachPartition`` —
    each executor streams its rows to the injected emitter in
    ``batch_size`` chunks (the reference uploads statement-per-line
    files; a production emitter wraps the bot API with backoff)."""
    from pyspark import TaskContext

    def handle(rows) -> None:
        pid = TaskContext.get().partitionId()
        batch: list[dict] = []
        for row in rows:
            batch.append(row.asDict(recursive=True))
            if len(batch) >= batch_size:
                emitter(pid, batch)
                batch = []
        if batch:
            emitter(pid, batch)
        # attempt-scoped sinks (jsonl_dir_emitter) publish their temp file
        # atomically once the attempt has streamed every batch
        finalize = getattr(emitter, "finalize", None)
        if finalize is not None:
            finalize(pid)

    df.foreachPartition(handle)
    # driver-side, after the action: any tmp file still present belongs
    # to a losing/failed attempt
    cleanup = getattr(emitter, "cleanup", None)
    if cleanup is not None:
        cleanup()
