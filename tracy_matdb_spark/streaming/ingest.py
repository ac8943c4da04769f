"""Incremental drop-directory ingest: the active-learning append pattern.

The reference's active-learning loop appends each iteration's selected
configs to the database, deduping against all history by content hash
(reference matdb/database/active.py:158-205, mtp.py:894-933). The batch
form lives in operators/active.py; this is the streaming form
(SURVEY.md §2.11): a file source watches a drop directory and each
micro-batch is upserted into the target table, iteration number =
streaming batch id.

The entry points (parquet, atoms.h5 and WARC drops) only build a source
stream and a parser; the upsert is the one primitive `_upsert_stream`.
Per micro-batch it parses, anti-joins the keys already in the target
(read with an explicit key-only schema, so history costs key bytes, not
record bytes), drops in-batch duplicate keys, stamps the batch id and
appends. The anti-join also makes a replayed micro-batch append nothing.

First-batch rule: there is no history iff the literal target path does
not exist on the session's Hadoop FileSystem. Otherwise the history read
is unconditional, on the glob-escaped path (Spark globs read paths, so a
target under `run[1]/` would otherwise match nothing). A read error
never counts as "first batch".
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def _glob_escape(path: str) -> str:
    """Escape Hadoop glob metacharacters so a read matches `path` literally."""
    return re.sub(r"([\\\[\]{}*?])", r"\\\1", path)


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf).exists(jpath)


def _upsert_stream(
    stream: DataFrame,
    parse: Callable[[DataFrame], DataFrame],
    schema: T.StructType,
    keys: list[str],
    target_path: str,
    tag_col: str,
    checkpoint_dir: str | None,
) -> StreamingQuery:
    """Start an availableNow query that upserts `parse(batch)` (rows of
    `schema`) into the parquet table at `target_path`: rows whose `keys`
    are already in the table or earlier in the batch are dropped, the
    rest are appended with the micro-batch id in `tag_col`."""
    # explicit key-only schema: no per-batch footer inference (measured
    # as part of ~0.08 s/batch of driver-side plan building; the target
    # is rewritten every batch so no relation cache can help it)
    key_schema = T.StructType([schema[k] for k in keys])
    history_path = _glob_escape(target_path)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        fresh = parse(batch_df)
        if _path_exists(session, target_path):
            seen = session.read.schema(key_schema).parquet(history_path)
            # anti-join BEFORE the dropDuplicates shuffle: membership
            # filtering commutes with pick-one-per-key (all rows of a
            # key are dropped or kept together), and the broadcast
            # anti-join is map-side — so already-seen rows never cross
            # the dedup exchange (guide §2.3, filter before shuffle)
            fresh = fresh.join(seen, keys, "left_anti")
        (
            fresh.dropDuplicates(keys)
            .withColumn(tag_col, F.lit(batch_id))
            .write.mode("append")
            .parquet(target_path)
        )

    writer = stream.writeStream.foreachBatch(_upsert).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _binary_drop_stream(spark: SparkSession, drop_dir: str, glob: str) -> DataFrame:
    return (
        spark.readStream.format("binaryFile")
        # streaming sources require a schema
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(drop_dir)
    )


def _file_parser(
    parse_file: Callable, schema: T.StructType
) -> Callable[[DataFrame], DataFrame]:
    """binaryFile batch -> rows of `schema`; `parse_file(path, content)`
    returns one file's rows."""
    import pandas as pd

    cols = schema.fieldNames()

    def _parse(batches):
        for pdf in batches:
            rows: list = []
            for p, c in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_file(p, c))
            yield pd.DataFrame(rows, columns=cols)

    return lambda batch_df: batch_df.select("path", "content").mapInPandas(_parse, schema)


def incremental_ingest(
    spark: SparkSession,
    drop_dir: str,
    target_path: str,
    schema: T.StructType,
    key: str = "auid",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Watch `drop_dir` for new parquet files; append never-seen-before
    rows (by `key`) to the parquet table at `target_path`, stamping each
    row with its micro-batch id as `iteration`.

    Runs with availableNow: processes everything currently in the
    directory, then stops — call again after more files land (or use a
    continuous trigger in production). The checkpoint makes re-runs skip
    already-processed files, so the same dropped file is never ingested
    twice even across restarts.
    """
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        # drops arrive as whole directories (one per producer run); recurse
        # and keep only parquet parts (skips _SUCCESS markers)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(drop_dir)
    )
    return _upsert_stream(
        stream, lambda df: df, schema, [key], target_path, "iteration", checkpoint_dir
    )


def incremental_atoms_h5_ingest(
    spark: SparkSession,
    drop_dir: str,
    target_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of `sources.hdf5io.read_atoms_h5`: watch a drop
    directory for new ``*.h5`` config files (the reference's on-disk
    unit, one atoms.h5 per configuration — matdb/atoms.py:591-635) and
    upsert never-seen uuids into the parquet configurations table.

    This is the live form of the one-time atoms_h5_dir_to_parquet
    migration: producers (DFT runs finishing, the reference's
    `cleanup()` hooks) keep dropping .h5 files; each micro-batch
    parses only the new files (binaryFile stream source + checkpoint)
    with the same backend-dispatched byte parser (h5py or hdf5lite),
    anti-joins history on uuid, and appends. At 100 TB the drop dir is
    an object-store prefix and the history read stays pruned to the
    uuid column."""
    from tracy_matdb_spark.sources.hdf5io import CONFIG_SCHEMA, parse_atoms_h5_bytes

    return _upsert_stream(
        _binary_drop_stream(spark, drop_dir, "*.h5"),
        _file_parser(lambda p, c: [parse_atoms_h5_bytes(c, p)], CONFIG_SCHEMA),
        CONFIG_SCHEMA,
        ["uuid"],
        target_path,
        "iteration",
        checkpoint_dir,
    )


def streaming_warc_ingest(
    spark: SparkSession,
    drop_dir: str,
    target_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of `sources.warc.read_warc`: watch a drop
    directory (in production: an object-store crawl prefix) for new
    ``*.warc.gz`` segments, parse each exactly once, dedup on
    (url, warc_date) against history, append to the parquet corpus.

    The Common Crawl live-ingest shape: the crawler keeps publishing
    ~1 GB segments; each micro-batch handles only never-seen files
    (binaryFile stream source + checkpoint tracks processed paths),
    parses them segment-per-task with the SAME byte parser the batch
    path uses, and anti-joins history on the record key so re-crawled
    URLs with identical capture dates never duplicate. At 100 TB the
    history read prunes to the two key columns."""
    from tracy_matdb_spark.sources.warc import WARC_SCHEMA, parse_warc_bytes

    return _upsert_stream(
        _binary_drop_stream(spark, drop_dir, "*.warc*"),
        _file_parser(lambda p, c: parse_warc_bytes(bytes(c), p), WARC_SCHEMA),
        WARC_SCHEMA,
        ["url", "warc_date"],
        target_path,
        "batch_id",
        checkpoint_dir,
    )


def streaming_ingest_bench(spark: SparkSession, sf_dir: str, n_batches: int = 4) -> dict:
    """Bench-only end-to-end run of the drop-directory incremental dedup
    at real data scale (round-5 verdict item #6): the `documents` table
    is staged as `n_batches` producer drops — each drop overlaps the
    previous one by its doc_id % 10 == 0 slice, so the anti-join dedupe
    actually rejects rows — then each drop is moved into the watched
    directory and processed by `incremental_ingest` (availableNow +
    checkpoint, exactly the production entry point). Timed section =
    the streaming runs only; staging is excluded. Returns seconds,
    rows ingested (must equal the distinct source count: overlaps
    deduped), rows offered, and `batch_duration_ms`: each micro-batch's
    `durationMs` phase split (addBatch, triggerExecution, ...) from the
    queries' progress, read after the timed section."""
    import os
    import shutil
    import tempfile
    import time as _t

    import os.path as _p

    from tracy_matdb_spark.catalog import _relation

    docs = _relation(spark, _p.join(sf_dir, "documents.parquet"))
    schema = docs.schema
    base = tempfile.mkdtemp(prefix="stream_ingest_bench_")
    try:
        stage = _p.join(base, "stage")
        drop = _p.join(base, "drop")
        target = _p.join(base, "target")
        ckpt = _p.join(base, "ckpt")
        os.makedirs(drop, exist_ok=True)
        offered = 0
        for i in range(n_batches):
            part = docs.where((F.col("doc_id") % n_batches) == i)
            if i:
                part = part.unionByName(
                    docs.where(
                        ((F.col("doc_id") % n_batches) == i - 1)
                        & (F.col("doc_id") % 10 == 0)
                    )
                )
            part.write.parquet(_p.join(stage, f"b{i}"))
            offered += part.count()
        queries = []
        t0 = _t.time()
        for i in range(n_batches):
            shutil.move(_p.join(stage, f"b{i}"), _p.join(drop, f"b{i}"))
            q = incremental_ingest(
                spark, drop, target, schema, key="doc_id", checkpoint_dir=ckpt
            )
            q.awaitTermination()
            queries.append(q)
        sec = _t.time() - t0
        durations = [dict(p["durationMs"]) for q in queries for p in q.recentProgress]
        rows = spark.read.parquet(target).count()
        n_src = docs.count()
        return {
            "sec": round(sec, 3),
            "rows_ingested": rows,
            "rows_offered": offered,
            "rows_source": n_src,
            "batches": n_batches,
            "batch_duration_ms": durations,
        }
    finally:
        # a failure mid-run must not leak several staged copies of the
        # documents table in /tmp across bench rounds
        shutil.rmtree(base, ignore_errors=True)
