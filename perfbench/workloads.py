"""The closed-loop workloads.

Each workload has a pure ``plan_*`` function (seed → the calls the
engine receives; tested without Spark) and a runner with ``setup``,
``step`` (one timed op), ``kinds`` (the timed latencies by op kind),
``check`` (output verdicts, outside the timed loop) and
``layer_metrics`` (traced run only).

One process, one client: every op starts after the previous one ends.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import pickle
import random
import sys
import time
from collections import defaultdict

import duckdb

from stats import median, tail
from tests.oracle_utils import compare

# --------------------------------------------------------------- plans

# Five of the registry's curation operators, one or more of each
# family: exact-token dedup, the IVF index with its exact twin, and the
# text and pipeline operators. The label-propagation dedups (dedup_near,
# dedup_near_verified, dedup_incremental) take 8 s or more per call on
# 4 CPUs and are left out with sim_pq_topk (its index build adds 4-5 s
# to every run's set-up), dedup_simhash, sim_knn_graph, sim_ann_lsh,
# text_dup_ngram_coverage, text_perplexity_filter,
# corpus_quality_scorecard and embed_pca, to keep a run near a minute.
CURATION_OPS = [
    "dedup_near_exact",
    "sim_ivf_topk",
    "sim_cosine_topk",
    "text_contamination",
    "pipeline_curation_e2e",
]
# The timed loop runs at least this many whole passes, so every op kind
# has two samples however slow the host.
CURATION_MIN_PASSES = 2


def plan_curation(seed: int, passes: int) -> list[list[str]]:
    """``passes`` seeded permutations of the curation ops."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        p = list(CURATION_OPS)
        rng.shuffle(p)
        out.append(p)
    return out


LAKE_BASE_SHARE = 0.6
LAKE_BATCH_SHARE = 0.02
LAKE_LATE_SHARE = 0.05
# Every LAKE_MAINTAIN_EVERY-th step also compacts and vacuums the table.
# Set-up runs LAKE_WARMUP untimed steps, the last one maintaining: in a
# fresh session the first step takes about 1.6 times as long as the
# steps after the third, the second about 1.15 times.
# The timed loop runs at least LAKE_COUNTED steps; the count metrics
# (files, manifest bytes, rewritten partitions) cover exactly those.
LAKE_MAINTAIN_EVERY = 3
LAKE_WARMUP = 2
LAKE_COUNTED = 3


def plan_lake(n_rows: int, seed: int) -> tuple[list[int], list[list[int]]]:
    """Cut date-sorted row positions [0, n_rows) into a base snapshot and
    micro-batches. Batch sizes vary ±25% around 2% of the rows; a
    seeded 5% of every batch is rows held back from days already
    ingested (late rows), which touches old view partitions."""
    rng = random.Random(seed)
    n_base = int(n_rows * LAKE_BASE_SHARE)
    base, pool = [], []
    for i in range(n_base):
        (pool if rng.random() < LAKE_LATE_SHARE else base).append(i)
    mean = max(int(n_rows * LAKE_BATCH_SHARE), 4)
    batches, pos = [], n_base
    while pos < n_rows:
        size = max(int(mean * rng.uniform(0.75, 1.25)), 1)
        chunk = list(range(pos, min(pos + size, n_rows)))
        pos += size
        fresh, held = [], []
        for i in chunk:
            (held if rng.random() < LAKE_LATE_SHARE else fresh).append(i)
        n_late = min(len(pool), max(int(len(chunk) * LAKE_LATE_SHARE), 1))
        late = sorted(rng.sample(pool, n_late))
        late_set = set(late)
        pool = [i for i in pool if i not in late_set] + held
        batches.append(sorted(fresh + late))
    return base, batches


# ------------------------------------------------------------- helpers


class Ctx:
    """What every runner shares: session, data, work dir, tracer."""

    def __init__(self, spark, data_dir, work_dir, oracle_dir, seed, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.oracle_dir = oracle_dir
        self.seed = seed
        self.tracer = tracer
        self.tracker = spark.sparkContext.statusTracker()
        self.errors: list[str] = []

    def group_jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group) or [])

    def job_shape(self, jobs) -> tuple[int, int]:
        """(stages, tasks) of the given jobs, skipped stages excluded."""
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numTasks and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numTasks
        return stages, tasks

    def fail(self, what: str) -> None:
        self.errors.append(what)
        print(f"perfbench: FAIL {what}", file=sys.stderr, flush=True)

    def duck(self) -> OracleCache:
        """DuckDB views over the benchmark's tables, for the oracles."""
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(self.data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS "
                            f"SELECT * FROM read_parquet('{path}')")
        return OracleCache(con, self.data_dir, self.oracle_dir)

    def compare(self, con, name: str, collected, sql: str) -> None:
        """tests/oracle_utils.compare on an already collected result."""
        errs = compare(self.spark, con, lambda _s, _d: collected, sql,
                       self.data_dir, name)
        if errs:
            self.fail(f"{name}: {errs[0][:300]}")


class OracleCache:
    """A DuckDB connection that keeps each statement's result on disk,
    keyed by the statement, the bytes of the data files and the DuckDB
    version. An oracle's result is a function of these alone, and the
    slowest oracle (dedup_near_exact) takes 6.5 s on 4 CPUs, a tenth of
    a run; later runs in the same checkout read it back."""

    def __init__(self, con, data_dir: str, cache_dir: str):
        self.con, self.cache_dir = con, cache_dir
        h = hashlib.sha256(duckdb.__version__.encode())
        for f in sorted(os.listdir(data_dir)):
            with open(os.path.join(data_dir, f), "rb") as fh:
                h.update(f.encode() + b"\0" + fh.read())
        self.data_key = h.hexdigest()

    def execute(self, sql: str) -> "Fetched":
        key = hashlib.sha256(f"{self.data_key}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pickle")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return Fetched(*pickle.load(fh))
        cur = self.con.execute(sql)
        got = ([(d[0],) for d in cur.description], cur.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(got, fh)
        os.replace(tmp, path)
        return Fetched(*got)

    def close(self) -> None:
        self.con.close()


class Fetched:
    """The part of a DuckDB cursor tests/oracle_utils.compare reads."""

    def __init__(self, description, rows):
        self.description = description
        self.rows = rows

    def fetchall(self) -> list:
        return self.rows


class Collected:
    """A query result collected once; stands in for its DataFrame so the
    oracle comparison does not run the query again."""

    def __init__(self, df):
        self.columns = df.columns
        self.schema = df.schema
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


@contextlib.contextmanager
def job_group(sc, group: str | None):
    """Tag every Spark job started in the block, including the jobs
    Spark starts on other threads for it (broadcasts, subqueries), with
    ``group``; None tags nothing."""
    if group is None:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def run_query(ctx: Ctx, fn, counts: dict | None, collect: bool = False):
    """Build one registry query, then noop-write it (or collect it, and
    return the Collected result). With ``counts`` (the traced first
    pass) the build and the action run under job groups of their own,
    and the jobs, stages and tasks of each are added to ``counts``."""
    tr, sc = ctx.tracer, ctx.spark.sparkContext
    tr.cycle = counts is not None
    tag = f"perfbench-{tr.op_id}" if counts is not None else None
    with job_group(sc, tag and f"{tag}-build"), tr.span("plan.build"):
        df = fn(ctx.spark, ctx.data_dir)
    with job_group(sc, tag and f"{tag}-exec"), tr.span("exec.action"):
        if collect:
            out = Collected(df)
        else:
            out = df.write.format("noop").mode("overwrite").save()
    if counts is not None:
        run_jobs = ctx.group_jobs(f"{tag}-exec")
        stages, tasks = ctx.job_shape(run_jobs)
        counts["plan.build_jobs"] += len(ctx.group_jobs(f"{tag}-build"))
        counts["exec.jobs"] += len(run_jobs)
        counts["exec.stages"] += stages
        counts["exec.tasks"] += tasks
    tr.cycle = False
    return out


# -------------------------------------------------------------- curation

# Hash-checked curation ops carry a DuckDB oracle; the rest are checked
# against their declared property in property_failures.
ROWS_ONLY = {"sim_ivf_topk"}


class Curation:
    """Curation operators over the fixture corpus. Set-up runs one cold
    pass, which builds the IVF index; its collected results
    are the ones checked. The timed loop runs whole warm passes, each a
    seeded order of the ops; an op is one operator call, built and
    noop-written."""

    name = "curation"
    exhausted = False

    def __init__(self, ctx: Ctx):
        from sparkify_datalake_spark.registry import queries

        self.ctx = ctx
        qs = queries()
        self.fns = {n: qs[n] for n in CURATION_OPS}
        self.passes = iter(plan_curation(ctx.seed, 1000))
        self.order: list[str] = []
        self.results: dict[str, Collected] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self.count_ops = 0
        self.ops = 0
        self.by_op: dict[str, list[float]] = defaultdict(list)

    @property
    def unfinished(self) -> bool:
        """Mid-pass or short of the minimum: the loop runs whole passes."""
        n = len(CURATION_OPS)
        return self.ops % n != 0 or self.ops < CURATION_MIN_PASSES * n

    def setup(self) -> None:
        for n in CURATION_OPS:
            self.results[n] = run_query(self.ctx, self.fns[n], None, collect=True)
        # The cold pass collects; without one noop write here the first
        # timed op, whichever the seed puts first, ran 0.2-0.5 s slower.
        self.ctx.spark.range(1).write.format("noop").mode("overwrite").save()

    def step(self) -> None:
        k = self.ops % len(CURATION_OPS)
        if k == 0:
            self.order = next(self.passes)
        n = self.order[k]
        first_pass = self.ops < len(CURATION_OPS) and self.ctx.tracer.enabled
        self.ctx.tracer.op_id = self.ops
        self.ops += 1
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(f"op.{n}"):
                run_query(self.ctx, self.fns[n], self.counts if first_pass else None)
        finally:
            self.by_op[n].append(time.perf_counter() - t0)
        self.count_ops += first_pass

    def kinds(self) -> dict[str, list[float]]:
        return self.by_op

    def check(self) -> int:
        from sparkify_datalake_spark.registry import oracle_sql

        ctx, sql = self.ctx, oracle_sql()
        con = ctx.duck()
        for n in CURATION_OPS:
            if n not in ROWS_ONLY:
                ctx.compare(con, n, self.results[n], sql[n])
        rows = {n: r.rows for n, r in self.results.items()}
        for n, why in property_failures(rows):
            ctx.fail(f"{n}: {why}")
        con.close()
        return len(self.results)

    def layer_metrics(self, tracer) -> dict[str, float]:
        summ = tracer.summary()
        calls = tracer.counters.get("load.calls_cycle", 0.0)
        hits = tracer.counters.get("load.hits_cycle", 0.0)
        out = {
            k: median(tracer.durations(span))
            for k, span in (("plan.build_s", "plan.build"),
                            ("exec.action_s", "exec.action"))
        }
        for k, span, key in (
            ("plan.build_self_s", "plan.build", "self_s"),
            ("exec.action_self_s", "exec.action", "self_s"),
            ("load.s", "load", "total_s"),
            ("load.metadata_s", "load.metadata", "total_s"),
        ):  # per timed op
            out[k] = summ.get(span, {}).get(key, 0.0) / max(self.ops, 1)
        out.update(self.counts)
        out["load.calls_per_op"] = calls / max(self.count_ops, 1)
        out["load.cache_hit_ratio"] = hits / calls if calls else 0.0
        for n in CURATION_OPS:
            out[f"op.{n}_s"] = median(self.by_op[n])
        return out


def property_failures(rows: dict[str, list]):
    """Declared property of the rows-only curation ops: recall against
    the exact twin sim_cosine_topk. Yields (op, reason) for each op
    whose property does not hold."""
    exact_top = {r["vec_id"] for r in rows["sim_cosine_topk"]}
    for n in ROWS_ONLY:
        got = {x["vec_id"] for x in rows[n]}
        if len(rows[n]) != 10 or len(got & exact_top) < 7:
            yield n, f"recall@10 {len(got & exact_top)}/10 below 7"


# ----------------------------------------------------------- lake_ingest


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


_STREAM_KEYS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.query_planning_ms": "queryPlanning",
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
}


class LakeIngest:
    """Micro-batch ingest beside reads: each step commits one streamed
    batch as a table version, maintains the view and reads both back."""

    name = "lake_ingest"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        w = ctx.work_dir
        self.stage = os.path.join(w, "stage")
        self.src = os.path.join(w, "src")
        self.table = os.path.join(w, "table")
        self.view = os.path.join(w, "view")
        self.chk = os.path.join(w, "checkpoint")
        self.query = None
        self.next_batch = 0
        self.delivered: list[str] = []
        self.ops = 0
        self.timing = False
        self.timed_steps = 0
        self.rows_timed = 0
        self.phase: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.stream_ms: dict[int, dict[str, float]] = {}  # by batch id

    def _stage(self) -> None:
        """Write the base snapshot and every micro-batch as parquet files."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        orders = pq.read_table(os.path.join(self.ctx.data_dir, "orders.parquet"))
        order = pc.sort_indices(
            orders, [("o_orderdate", "ascending"), ("o_orderkey", "ascending")]
        )
        orders = orders.take(order)
        base, batches = plan_lake(orders.num_rows, self.ctx.seed)
        os.makedirs(self.stage)
        self.base_file = os.path.join(self.stage, "base.parquet")
        pq.write_table(orders.take(base), self.base_file)
        self.batch_files = []
        for i, idx in enumerate(batches):
            f = os.path.join(self.stage, f"batch-{i:05d}.parquet")
            pq.write_table(orders.take(idx), f)
            self.batch_files.append((f, len(idx)))

    def setup(self) -> None:
        from sparkify_datalake_spark.sources import matview, versioned

        self._stage()
        spark = self.ctx.spark
        base = spark.read.parquet(self.base_file)
        versioned.commit(base, self.table, mode="overwrite")
        matview.matview_init(spark, base, self.view)
        os.makedirs(self.src)
        stream = spark.readStream.schema(base.schema).parquet(self.src)
        self.query = versioned.commit_stream(stream, self.table, self.chk)
        for i in range(LAKE_WARMUP):
            self._ingest(maintain=i == LAKE_WARMUP - 1)

    def _ingest(self, maintain: bool) -> int:
        """One ingest step: commit, ivm, read-after-write, and with
        ``maintain`` a compaction plus vacuum. Returns the batch rows."""
        from pyspark.sql import functions as F

        from sparkify_datalake_spark.sources import matview, versioned

        if self.next_batch >= len(self.batch_files):
            raise RuntimeError("lake_ingest ran out of staged batches")
        spark, tr = self.ctx.spark, self.ctx.tracer
        staged, n_rows = self.batch_files[self.next_batch]
        self.next_batch += 1
        dropped = os.path.join(self.src, os.path.basename(staged))
        before = versioned.latest_version(self.table)

        t0 = time.perf_counter()
        os.replace(staged, dropped)
        with tr.span("stream.process_all_available"):
            self.query.processAllAvailable()
        t1 = time.perf_counter()
        self.delivered.append(dropped)
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        if versioned.latest_version(self.table) != before + 1:
            self.ctx.fail(f"batch {dropped} did not commit exactly one version")

        delta = spark.read.parquet(dropped)
        with tr.span("matview.apply"):
            affected = matview.matview_apply(spark, self.view, delta)
        t2 = time.perf_counter()

        with tr.span("versioned.read_version"):
            got = versioned.read_version(spark, self.table).agg(
                F.count(F.lit(1)),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            ).collect()[0]
        t3 = time.perf_counter()
        with tr.span("matview.read"):
            want = matview.matview_read(spark, self.view).agg(
                F.sum("n_orders"), F.sum("revenue_cents")
            ).collect()[0]
        if tuple(got) != tuple(want):
            self.ctx.fail(f"read-after-write {tuple(got)} != view {tuple(want)}")
        t4 = time.perf_counter()

        self.ops += 1
        if maintain:
            with tr.span("versioned.rewrite"):
                versioned.commit(
                    versioned.read_version(spark, self.table).coalesce(
                        spark.sparkContext.defaultParallelism
                    ),
                    self.table,
                    mode="overwrite",
                )
            with tr.span("versioned.vacuum"):
                versioned.vacuum(self.table)
        t5 = time.perf_counter()

        self.phase["commit"].append(t1 - t0)
        self.phase["ivm"].append(t2 - t1)
        self.phase["read"].append(t3 - t2)
        if maintain:
            self.phase["maintain"].append(t5 - t4)
        if tr.enabled:
            self._trace_step(before, affected)
        return n_rows

    def _trace_step(self, before: int, affected: list[str]) -> None:
        from sparkify_datalake_spark.sources import versioned

        for p in self.query.recentProgress:
            if p["numInputRows"]:
                self.stream_ms[p["batchId"]] = {
                    name: float(p["durationMs"].get(key, 0))
                    for name, key in _STREAM_KEYS.items()
                }
        if not self.timing or self.timed_steps >= LAKE_COUNTED:
            return
        data = os.path.join(self.table, "data")
        self.counts["versioned.bytes_written"] += sum(
            _dir_bytes(os.path.join(data, f"v{v:05d}"))
            for v in range(before + 1, versioned.latest_version(self.table) + 1)
        )
        self.counts["matview.partitions_rewritten"] += len(affected)
        if self.timed_steps == LAKE_COUNTED - 1:
            self._snapshot_counts()

    def _snapshot_counts(self) -> None:
        from sparkify_datalake_spark.sources import versioned

        v = versioned.latest_version(self.table)
        man = os.path.join(self.table, "_manifests", f"v{v:05d}.json")
        with open(man) as fh:
            files = json.load(fh)["files"]
        self.counts["versioned.manifest_bytes"] = os.path.getsize(man)
        self.counts["versioned.files_in_latest"] = len(files)

    @property
    def exhausted(self) -> bool:
        return self.next_batch >= len(self.batch_files)

    @property
    def unfinished(self) -> bool:
        """Fewer than the counted steps have run."""
        return self.timed_steps < LAKE_COUNTED

    def step(self) -> None:
        self.ctx.tracer.op_id = self.ops
        self.timing = True
        t0 = time.perf_counter()
        maintain = self.timed_steps % LAKE_MAINTAIN_EVERY == LAKE_MAINTAIN_EVERY - 1
        try:
            self.rows_timed += self._ingest(maintain)
        finally:
            self.timed_steps += 1
            self.phase["step"].append(time.perf_counter() - t0)

    def kinds(self) -> dict[str, list[float]]:
        return {"step": self.phase["step"]}

    def check(self) -> int:
        """Exactly-once: the latest version holds exactly the base plus
        every delivered batch. Merge-equals-recompute: the view equals
        the aggregate recomputed from those inputs."""
        from pyspark.sql import functions as F

        from sparkify_datalake_spark.sources import matview, versioned

        spark = self.ctx.spark
        inputs = spark.read.parquet(self.base_file, *self.delivered)
        cols = inputs.columns
        got = versioned.read_version(spark, self.table).select(*cols)

        def hashes(df):
            return sorted(r[0] for r in df.select(F.xxhash64(*cols)).collect())

        if hashes(got) != hashes(inputs):
            self.ctx.fail("latest version is not exactly the ingested rows")
        recompute = inputs.groupBy(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
        ).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            F.count(F.lit(1)),
        )
        view = matview.matview_read(spark, self.view)
        if sorted(map(tuple, view.collect())) != sorted(map(tuple, recompute.collect())):
            self.ctx.fail("materialized view differs from its recompute")
        return 2

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def lake_metrics(self, wall: float) -> dict[str, float]:
        ingested = os.path.getsize(self.base_file) + sum(
            os.path.getsize(f) for f in self.delivered
        )
        stored = _dir_bytes(self.table) + _dir_bytes(self.view)
        commit = self.phase["commit"][LAKE_WARMUP:]  # timed steps only
        read = self.phase["read"][LAKE_WARMUP:]
        ivm = self.phase["ivm"][LAKE_WARMUP:]
        return {
            "rows_per_s": self.rows_timed / wall,
            "commit_p50_s": median(commit),
            "commit_tail_s": tail(commit)[0],
            "ivm_p50_s": median(ivm),
            "read_p50_s": median(read),
            "read_tail_s": tail(read)[0],
            "space_amp": stored / ingested,
        }

    def layer_metrics(self, tracer) -> dict[str, float]:
        timed = [self.stream_ms[b] for b in sorted(self.stream_ms)[LAKE_WARMUP:]]
        out = {k: median([t[k] for t in timed]) for k in _STREAM_KEYS}
        out.update(self.counts)
        for name, span in (
            ("versioned.read_version_s", "versioned.read_version"),
            ("versioned.vacuum_s", "versioned.vacuum"),
            ("versioned.rewrite_s", "versioned.rewrite"),
            ("matview.apply_s", "matview.apply"),
            ("matview.read_s", "matview.read"),
        ):
            d = tracer.durations(span)
            out[name] = median(d) if d else 0.0
        return out


WORKLOADS = {w.name: w for w in (Curation, LakeIngest)}
