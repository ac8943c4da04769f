"""The benchmark's workloads and the per-run state they share.

Each workload is one closed-loop client in its own process: it runs one
pass, waits for it to finish, and starts the next. A pass calls the
engine's public entry points (registry `Query.fn` builders, `Pipeline`
methods, `incremental_ingest`) and nothing else; inputs are generated
here and no package code is changed.

The first pass of a run is the verification pass. It warms the JVM like
any cold pass and also checks every output, outside every timed region:
registry ops against their DuckDB oracles, the pipeline catalog against
its closed-form size, pinned hashes and split coverage, the ingest
target against its source keys. Timed passes repeat the cheap checks
after their timer stops. An op that raises or returns a wrong result is
counted as failed, and none of its samples in that run are reported.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.tracing import Tracer

# Every op adds its cold first call to each run's set-up, so the lists
# keep the ops later work targets: the LSH -> exact-Jaccard verify
# chain (minhash, ngram Jaccard, near-dup clusters, keep-best dedup), the
# footer-stat-gated checkpoint (export manifest) and one embeddings op.
CORPUS_OPS = (
    "knn_embeddings",
    "minhash_lsh_pairs",
    "corpus_export_manifest",
    "ngram_jaccard_pairs",
    "near_dup_clusters",
    "dedup_keep_best",
)
PIPELINE_METHODS = ("setup", "status", "find", "split", "finalize", "verify")

# corpus inputs: the reference testdata's sf0.01 row counts
N_DOCS, N_VECS = 500, 500
N_DROPS = 4
OVERLAP_SHARE = 0.1
# the calibration probe scans lineitem at the frozen sf0.1 size
N_LINEITEM_CALIB = 600_000

# matdb spec: bulk = distortion over a sigma grid chained into
# substitution; defects = a non-splittable vacancy step over the seeds.
# 4 groups, 25,207 configs. Pipeline.setup costs about the same at 4,500
# and 27,200 configs (per-group job overhead dominates), so the group
# count, not nconfigs, sets the pass time.
N_BULK, N_SUB = 200, 20
SIGMAS = (0.02, 0.05)
SPLITS = {"A": 0.4, "B": 0.2}
# atoms per cell of the pipeline's three built-in seed structures
SEED_ATOMS = (4, 2, 1)


class Run:
    """State of one benchmark process: paths, session, tally of op calls."""

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.registry: dict = {}
        self.attempted = 0
        self.failed = 0
        self.broken: set[str] = set()
        self._pass_failed: set[str] = set()
        self.samples: dict[str, list[float]] = {}
        self.check_s = 0.0

    @contextmanager
    def checking(self):
        """Time output checks, so set-up time can leave them out."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    def new_pass(self) -> None:
        self._pass_failed = set()

    @property
    def pass_ok(self) -> bool:
        return not self._pass_failed

    def fail(self, name: str, reason: str) -> None:
        """Count one op call as failed (once per pass) and drop its samples."""
        print(f"perfbench: {name} failed: {reason}", file=sys.stderr)
        if name not in self._pass_failed:
            self._pass_failed.add(name)
            self.failed += 1
        self.broken.add(name)

    def call(self, name: str, fn, job_group: bool = True):
        """Run one op call inside a span; returns (span, value or None)."""
        self.attempted += 1
        with self.tracer.span(name, job_group=job_group) as rec:
            try:
                value = fn()
            except Exception:  # noqa: BLE001 — the loop must go on and count it
                self.fail(name, traceback.format_exc(limit=3))
                return rec, None
        return rec, value

    def query(self, name: str, collect: bool):
        """Build one registry op, then materialize it: collected to pandas
        on the verification pass, written to the noop sink otherwise. Its
        wall time (build + materialize) is one op sample."""
        q = self.registry[name]
        self.attempted += 1
        pdf = None
        with self.tracer.span(f"queries.{name}") as rec:
            try:
                with self.tracer.span("build", job_group=True) as b:
                    df = q.fn(self.spark, self.data_dir)
                with self.tracer.span("exec", job_group=True) as e:
                    if collect:
                        pdf = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001
                self.fail(f"queries.{name}", traceback.format_exc(limit=3))
                return rec, None
        rec["build_s"], rec["exec_s"] = b["dur"], e["dur"]
        rec["tasks"] = b.get("tasks", 0) + e.get("tasks", 0)
        rec["shuffle_write_bytes"] = b.get("shuffle_write_bytes", 0) + e.get("shuffle_write_bytes", 0)
        self.samples.setdefault(f"queries.{name}", []).append(rec["dur"])
        return rec, pdf

    def check_oracles(self, results: dict) -> None:
        """Compare collected op outputs with their DuckDB oracles."""
        import duckdb

        from tools.check_parity import compare

        con = duckdb.connect()
        try:
            for t in os.listdir(self.data_dir):
                if t.endswith(".parquet"):
                    path = os.path.join(self.data_dir, t)
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
            for name, pdf in results.items():
                if pdf is None:
                    continue
                q = self.registry[name]
                oracle = q.oracle_fn(self.data_dir) if q.oracle_fn is not None else q.oracle
                if oracle is None:
                    self.fail(f"queries.{name}", "no oracle to check against")
                    continue
                problems = compare(name, pdf, con.execute(oracle).df())
                if problems:
                    self.fail(f"queries.{name}", "; ".join(problems))
        finally:
            con.close()


def median(xs: list[float]) -> float:
    """Median of the samples; 0 when a layer produced none."""
    return float(statistics.median(xs)) if xs else 0.0


class CorpusIngest:
    """LLM-corpus ops over documents/embeddings, then a 4-drop streaming
    upsert of the documents through `incremental_ingest`."""

    name = "corpus_ingest"
    tables = ("documents", "embeddings")
    ops = CORPUS_OPS

    def prepare(self, run: Run, calibration: bool) -> None:
        datagen.write_catalog(
            run.data_dir, N_DOCS, N_VECS, N_LINEITEM_CALIB if calibration else 0
        )
        self.docs = pq.read_table(os.path.join(run.data_dir, "documents.parquet"))
        self.n_source_keys = len(set(self.docs.column("doc_id").to_pylist()))
        # the seed picks each document's drop and the overlap slice that
        # is offered again with the next drop (rejected by the anti-join)
        rng = np.random.default_rng(run.seed)
        drop = rng.integers(0, N_DROPS, self.docs.num_rows)
        again = rng.random(self.docs.num_rows) < OVERLAP_SHARE
        self.masks = [
            (drop == i) | ((drop == i - 1) & again) if i else drop == i for i in range(N_DROPS)
        ]

    def run_pass(self, run: Run, idx: int, collect: bool) -> dict:
        base = os.path.join(run.work, f"ingest{idx}")
        stage, drop = os.path.join(base, "stage"), os.path.join(base, "drop")
        t = time.perf_counter()
        for i, mask in enumerate(self.masks):
            os.makedirs(os.path.join(stage, f"b{i}"))
            pq.write_table(
                self.docs.filter(mask), os.path.join(stage, f"b{i}", "part-00000.parquet")
            )
        os.makedirs(drop)
        stage_s = time.perf_counter() - t
        order = list(self.ops)
        random.Random(run.seed * 1_000_003 + idx).shuffle(order)
        results = {}
        with run.tracer.span(f"pass{idx}") as p:
            for name in order:
                _, results[name] = run.query(name, collect)
            batches = self._ingest(run, base)
        with run.checking():
            if collect:
                run.check_oracles(results)
            appended = self._check_target(run, os.path.join(base, "target"))
            shutil.rmtree(base, ignore_errors=True)
        offered = int(sum(int(m.sum()) for m in self.masks))
        layer = {
            "streaming.ingest.batch_s": median([b["dur"] for b in batches]),
            "streaming.ingest.stage_s": stage_s,
            "streaming.ingest.rows_offered": offered,
            "streaming.ingest.rows_appended": appended,
            "streaming.ingest.accept_ratio": appended / offered,
        }
        return {"span": p, "layer": layer}

    def _ingest(self, run: Run, base: str) -> list[dict]:
        from tracy_matdb_spark.catalog import load
        from tracy_matdb_spark.streaming.ingest import incremental_ingest

        schema = load(run.spark, run.data_dir, ("documents",))["documents"].schema
        batches = []

        def one_drop(i: int):
            shutil.move(os.path.join(base, "stage", f"b{i}"), os.path.join(base, "drop", f"b{i}"))
            q = incremental_ingest(
                run.spark,
                os.path.join(base, "drop"),
                os.path.join(base, "target"),
                schema,
                key="doc_id",
                checkpoint_dir=os.path.join(base, "ckpt"),
            )
            q.awaitTermination()
            return q.runId

        for i in range(N_DROPS):
            # streaming runs its jobs in a group named by the query's runId
            rec, run_id = run.call("streaming.ingest", lambda i=i: one_drop(i), job_group=False)
            if run_id is None:
                break
            run.tracer.attach(rec, run_id)
            batches.append(rec)
        return batches

    def _check_target(self, run: Run, target: str) -> int:
        """Every distinct source key appended exactly once."""
        from pyspark.sql import functions as F

        if not os.path.isdir(target):
            run.fail("streaming.ingest", "no target table written")
            return 0
        rows, keys = (
            run.spark.read.parquet(target)
            .agg(F.count(F.lit(1)), F.countDistinct("doc_id"))
            .first()
        )
        if rows != keys:
            run.fail("streaming.ingest", f"{rows - keys} duplicate keys appended")
        if keys != self.n_source_keys:
            run.fail("streaming.ingest", f"appended {keys} keys, source has {self.n_source_keys}")
        return int(rows)


class MatdbBuild:
    """The paper's Controller lifecycle on a two-database spec."""

    name = "matdb_build"
    tables = ()
    ops = ()

    def prepare(self, run: Run, calibration: bool) -> None:
        if calibration:
            datagen.write_catalog(run.data_dir, 0, 0, N_LINEITEM_CALIB)
        os.makedirs(run.data_dir, exist_ok=True)
        self.spec = {
            "ran_seed": run.seed,
            "databases": {
                "bulk": {
                    "steps": [
                        {"type": "distortion", "name": "dist",
                         "params": {"nconfigs": N_BULK, "sigma*": list(SIGMAS)}},
                        {"type": "substitution", "name": "sub", "params": {"nconfigs": N_SUB}},
                    ]
                },
                "defects": {
                    "steps": [{"type": "vacancy", "name": "vac", "splittable": False}]
                },
            },
        }
        n_seeds = len(SEED_ATOMS)
        self.expected = {("bulk", f"dist-sigma-{s:g}"): n_seeds * N_BULK for s in SIGMAS}
        self.expected[("bulk", "sub")] = len(SIGMAS) * n_seeds * N_BULK * N_SUB
        # one vacancy config per pair of atoms in each seed
        self.expected[("defects", "vac")] = sum(n * (n - 1) // 2 for n in SEED_ATOMS)
        self.pinned = None

    def run_pass(self, run: Run, idx: int, collect: bool) -> dict:
        from tracy_matdb_spark.plans.pipeline import Pipeline

        out = os.path.join(run.work, f"matdb{idx}")
        pl = Pipeline(self.spec, out)
        spark = run.spark
        got: dict = {}
        with run.tracer.span(f"pass{idx}") as p:
            methods = {
                "setup": lambda: pl.setup(spark),
                "status": lambda: pl.status(spark).collect(),
                "find": lambda: pl.find(spark, "bulk/*"),
                "split": lambda: pl.split(spark, SPLITS, recalc=1),
                "finalize": lambda: pl.finalize(spark),
                "verify": lambda: pl.verify(spark, self.pinned or self._pin(spark, pl)),
            }
            spans = {}
            for m in PIPELINE_METHODS:
                spans[m], got[m] = run.call(f"plans.pipeline.{m}", methods[m])
        with run.checking():
            configs = self._check(run, pl, got)
            stored = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(os.path.join(out, "configurations"))
                for f in files
            )
            manifests = sum(
                1 for _, _, files in os.walk(out) for f in files if f == "_manifest.json"
            )
            shutil.rmtree(out, ignore_errors=True)
        setup_s = spans["setup"]["dur"]
        layer = {f"plans.pipeline.{m}_s": spans[m]["dur"] for m in PIPELINE_METHODS}
        layer.update({
            "plans.pipeline.groups": len(pl.groups),
            "plans.provenance.manifests": manifests,
            "configs_per_s": configs / setup_s if configs else 0.0,
            "stored_bytes_per_config": stored / configs if configs else 0.0,
        })
        return {"span": p, "layer": layer}

    def _pin(self, spark, pl) -> dict:
        """Group hashes of the run's first pass; later passes verify against them."""
        self.pinned = {
            (r["database"], r["group_name"]): r["group_hash"] for r in pl.group_hashes(spark).collect()
        }
        return self.pinned

    def _check(self, run: Run, pl, got: dict) -> int:
        status = got.get("status")
        if status is None:
            return 0
        counts = {(r["database"], r["group_name"]): r["n_configs"] for r in status}
        if counts != self.expected:
            run.fail("plans.pipeline.setup", f"group sizes {counts} != closed form {self.expected}")
        dup = [k for k in status if k["n_configs"] != k["n_unique"]]
        if dup:
            run.fail("plans.pipeline.setup", f"duplicate uuids in {len(dup)} groups")
        want_find = sorted(f"{db}/{g}" for db, g in self.expected if db == "bulk")
        if got.get("find") is not None and got["find"] != want_find:
            run.fail("plans.pipeline.find", f"found {got['find']}, expected {want_find}")
        if got.get("verify") is False:
            run.fail("plans.pipeline.verify", "group hashes differ from the pinned first pass")
        if got.get("split") is not None:
            self._check_split(run, pl, got["split"])
        return sum(counts.values())

    def _check_split(self, run: Run, pl, assignments) -> None:
        """Each split labels every trainable uuid (all of this spec's) exactly once."""
        from pyspark.sql import functions as F

        uuids = pl.configurations(run.spark).select("uuid")
        n_uuids = uuids.count()
        per_split = {
            r["split_name"]: (r["rows"], r["keys"])
            for r in assignments.groupBy("split_name")
            .agg(F.count(F.lit(1)).alias("rows"), F.countDistinct("uuid").alias("keys"))
            .collect()
        }
        stray = assignments.select("uuid").distinct().join(uuids, "uuid", "left_anti").count()
        ok = set(per_split) == set(SPLITS) and all(
            rows == keys == n_uuids for rows, keys in per_split.values()
        )
        if not ok or stray:
            run.fail("plans.pipeline.split", f"split coverage {per_split} of {n_uuids} uuids, {stray} stray")


WORKLOADS = {w.name: w for w in (MatdbBuild, CorpusIngest)}
