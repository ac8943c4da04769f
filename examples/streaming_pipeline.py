"""End-to-end example: the STREAMING form of the ingest pipeline — a
drop-directory of parquet batches is continuously upserted into a target
table with anti-join dedup, then the live per-user totals are maintained
by the Spark 4 typed-state operator (transformWithStateInPandas over the
vendored protobuf runtime, RocksDB state store).

Run locally (simulates three producer drops, then prints the totals):
    python examples/streaming_pipeline.py [sf_dir] [work_dir]

On a cluster, the same file works under spark-submit with the 100 TB
profile (see examples/corpus_pipeline.py for the cluster_conf incantation);
the drop directory becomes an object-store prefix and availableNow becomes
a continuous trigger.

Stages (each is the library operator, exercised by the registered
queries / suite):
  1. incremental_ingest           (streaming/ingest.py — checkpointed file
                                   source, per-batch anti-join dedupe; the
                                   reference's active-learning append loop)
  2. stateful_user_totals_tws     (streaming/windows.py — typed ValueState
                                   per user; events_stateful_totals_tws is
                                   its CORRECTNESS query)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tracy_matdb_spark.session import get_session


def main(sf_dir: str, work_dir: str) -> None:
    from tracy_matdb_spark.streaming.ingest import incremental_ingest
    from tracy_matdb_spark.streaming.windows import (
        run_to_completion,
        stateful_user_totals_tws,
    )

    spark = get_session("streaming_pipeline_example")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    drop = os.path.join(work_dir, "drop")
    target = os.path.join(work_dir, "events_table")
    ckpt = os.path.join(work_dir, "ckpt")
    os.makedirs(drop, exist_ok=True)

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    schema = events.schema

    # --- stage 1: three producer drops, each upserted incrementally ----
    for i in range(3):
        batch_dir = os.path.join(drop, f"producer_run_{i}")
        # overlapping drops: each re-delivers 10% of the previous batch,
        # which the anti-join dedupe must reject
        part = events.where((F.col("event_id") % 3) == i)
        if i:
            part = part.unionByName(
                events.where(
                    ((F.col("event_id") % 3) == i - 1) & (F.col("event_id") % 10 == 0)
                )
            )
        part.write.mode("overwrite").parquet(batch_dir)
        q = incremental_ingest(spark, drop, target, schema, key="event_id", checkpoint_dir=ckpt)
        q.awaitTermination()
        n = spark.read.parquet(target).count()
        print(f"after drop {i}: {n} rows in target")

    ingested = spark.read.parquet(target)
    assert ingested.count() == events.count(), "dedup must reject re-deliveries"

    # --- stage 2: typed-state per-user totals over the ingested stream -
    ev_stream = (
        spark.readStream.schema(ingested.schema)
        .parquet(target)
        .select("user_id", "value")
    )
    totals = run_to_completion(
        stateful_user_totals_tws(ev_stream), "example_user_totals", mode="update"
    )
    print("top users by event count:")
    for row in totals.orderBy(F.col("n_events").desc(), "user_id").limit(5).collect():
        print(f"  user {row.user_id}: {row.n_events} events, sum_c={row.sum_value_c}")
    spark.stop()


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="stream_example_")
    try:
        main(sf, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
