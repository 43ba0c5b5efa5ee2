"""The benchmark workloads.

Each workload takes a :class:`Ctx` and returns an :class:`Outcome` with
its end-to-end metrics (``metrics``), the workload-specific medians the
README names (``detail``) and, in a traced run, the per-layer table
(``layers``). Every operation the workload attempts is checked and
counted in ``Ctx``.

A run starts another operation (a CLI process, or a warm round) only
while the previous one says it will end within ``--seconds``. A cold run
makes at least one process; a warm run makes at least ``MIN_ROUNDS``
rounds. A traced run alternates untraced and traced operations, at
least ``TRACE_PAIRS`` pairs of them, to state its own overhead.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import urllib.parse
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import check
import gen
from measure import RssSampler
from procs import stop_descendants
from spans import UNTRACED_GROUP, Tracer, layer_table, span_rows, unattributed_jobs

HERE = os.path.dirname(os.path.abspath(__file__))

#: Input sizes, set by the time budget: 22 runs of every workload must
#: end within an hour. RFC-008's shape is 1M flat records. Half a million
#: nested orders keeps a jq_route_fanout run near 30 s while per-record
#: work in the JQ pipeline outweighs session start, which at 50k it did
#: not (README, "Why three workloads, and why these sizes"). The warm
#: inputs are small, so per-job overheads outweigh their per-row work.
RFC008_RECORDS = 1_000_000
JQ_RECORDS = 500_000
CORPUS_DOCS = 1000
CORPUS_VECS = 800
LAKEHOUSE_ROWS_PER_FILE = 5_000
#: Untimed warm rounds after the tables are seeded; the corpus operators
#: take about this many calls to get close to their steady speed.
WARMUP_ROUNDS = 2
#: Timed warm rounds at least: each operation's median then resists one
#: outlying call, which a median of two does not.
MIN_ROUNDS = 3
#: Untraced/traced operation pairs a traced run makes at least.
TRACE_PAIRS = 2
CHILD_TIMEOUT_S = 170


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: int
    trace: bool
    started: float
    attempted: int = 0
    failed: int = 0

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"# FAILED {what}: {'; '.join(problems)}", file=sys.stderr)
        return not problems

    def remaining(self) -> float:
        return CHILD_TIMEOUT_S - (time.time() - self.started)

    def another(self, done: int, t_start: float, last: float, minimum: int) -> bool:
        """Whether to start operation ``done + 1`` of the timed loop."""
        if done < minimum:
            return True
        return time.time() - t_start + last <= self.seconds and self.remaining() > 2 * last + 10


@dataclass
class Outcome:
    metrics: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)  # one row per span call
    trace: dict | None = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _overhead(untraced: list[float], traced: list[float]) -> dict[str, float]:
    """Tracing overhead from alternating (untraced, traced) operations:
    the median of the pairs' wall differences, and the noise it must
    exceed to be resolved, the untraced walls' range."""
    pairs = [t - u for u, t in zip(untraced, traced)]
    return {
        "trace.overhead_s": _median(pairs),
        "trace.overhead_noise_s": max(untraced) - min(untraced) if untraced else float("nan"),
    }


# --------------------------------------------------------------------------
# cold CLI workloads: one `any2any` process per operation


def _cold_cli(ctx: Ctx, name: str, cli_args, n_records: int, check_out) -> Outcome:
    walls, setups, rates, peaks = [], [], [], []
    traced_walls, untraced_walls = [], []
    rows, unattributed, trace_dumps = [], 0, []
    log_path = os.path.join(ctx.work, f"{name}.log")
    t_start = time.time()
    i, wall = 0, 0.0
    while ctx.another(i, t_start, wall, 2 * TRACE_PAIRS if ctx.trace else 1):
        traced = ctx.trace and i % 2 == 1
        out = os.path.join(ctx.work, f"out{i}")
        ready = os.path.join(ctx.work, f"ready{i}")
        trace_file = os.path.join(ctx.work, f"trace{i}.json")
        cmd = [sys.executable, os.path.join(HERE, "cli_launch.py"), "--ready", ready]
        if traced:
            cmd += ["--trace", trace_file]
        cmd += ["--"] + cli_args(out)
        # the last process's JVM must have ended, and the inputs and its
        # output been written back, before the next process is timed
        stop_descendants()
        os.sync()
        with open(log_path, "ab") as log:
            t0 = time.time()
            proc = subprocess.Popen(cmd, cwd=ctx.work, stdout=log, stderr=log)
            with RssSampler(proc.pid) as rss:
                try:
                    rc = proc.wait(timeout=max(1.0, ctx.remaining()))
                except subprocess.TimeoutExpired:
                    proc.kill()
                    rc = proc.wait()
            wall = time.time() - t0
        if rc != 0:
            with open(log_path, errors="replace") as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            problems = [f"exit code {rc}"]
        else:
            problems = check_out(out)
        i += 1
        if not ctx.record(f"{name} process {i}", problems):
            break
        with open(ready) as f:
            setup = float(f.read()) - t0
        (traced_walls if traced else untraced_walls).append(wall)
        if traced:
            with open(trace_file) as f:
                dump = json.load(f)
            trace_dumps.append(dump)
            rows += span_rows(dump)
            unattributed += unattributed_jobs(dump)
        else:
            walls.append(wall)
            setups.append(setup)
            rates.append(n_records / (wall - setup))
            peaks.append(rss.peak_mb)
        shutil.rmtree(out, ignore_errors=True)
    o = Outcome()
    o.metrics = {
        "setup_s": _median(setups),
        "wall_s": _median(walls),
        "records_per_s": _median(rates),
    }
    o.detail = dict(o.metrics, peak_rss_mb=_median(peaks), processes=len(walls),
                    process_walls=walls, process_setups=setups)
    if ctx.trace:
        o.layers = layer_table(rows)
        o.layers["process.tree.peak_rss_mb"] = _median(peaks)
        o.layers["trace.unattributed_jobs"] = unattributed
        o.layers.update(_overhead(untraced_walls, traced_walls))
        o.spans = rows
        o.trace = {"processes": trace_dumps}
    return o


def rfc008_copy(ctx: Ctx) -> Outcome:
    recs = gen.flat_records(ctx.seed, RFC008_RECORDS)
    src = os.path.join(ctx.work, "rfc008.json")
    gen.write_flat_ndjson(src, recs)
    expected = check.expected_flat(recs)
    del recs

    def cli_args(out):
        return [
            "--from=FILE", "--to=FILE",
            f"--env=FILE__SOURCE_URI=file://{src}",
            f"--env=FILE__DESTINATION_URI=file://{out}/copy.json",
        ]

    return _cold_cli(
        ctx, "rfc008_copy", cli_args, RFC008_RECORDS,
        lambda out: check.check_flat_copy(os.path.join(out, "copy.json"), expected),
    )


def jq_route_fanout(ctx: Ctx) -> Outcome:
    orders = gen.nested_orders(ctx.seed, JQ_RECORDS)
    src = os.path.join(ctx.work, "orders.json")
    gen.write_nested_ndjson(src, orders)
    expected = check.expected_routes(orders)
    del orders

    def cli_args(out):
        return [
            "--from=FILE", "--to=FILE", "--to=S3",
            f"--env=FILE__SOURCE_URI=file://{src}",
            f"--env=FILE__DESTINATION_URI=file://{out}/by_region/[[ .region ]].json",
            f"--env=S3__DESTINATION_URI=file://{out}/by_tier/[[ .tier ]].csv.gz",
            f"--env=JQ__QUERY={check.JQ_QUERY}",
        ]

    return _cold_cli(
        ctx, "jq_route_fanout", cli_args, JQ_RECORDS,
        lambda out: check.check_routes(
            os.path.join(out, "by_region"), os.path.join(out, "by_tier"), expected
        ),
    )


# --------------------------------------------------------------------------
# lakehouse_corpus: one warm session, like a long-running service


class _NoSpan:
    def __enter__(self):
        self.attrs = {}
        return self

    def __exit__(self, *exc):
        return False


class _Warm:
    """The session, its tracer and the round timings.

    In a traced run the timed rounds alternate untraced and traced, so
    the run can state its own overhead; only traced rounds open layer
    spans. Session start and setup are spans whenever the run is traced,
    so no setup job counts as unattributed."""

    def __init__(self, ctx: Ctx, app: str):
        self.ctx = ctx
        self.tracer = Tracer(run_id=f"{app}-{ctx.seed}-{os.getpid()}")
        self.traced = False
        self.t0 = time.time()
        self.rss = RssSampler(os.getpid()).__enter__()
        with self.span("session.get_spark"):
            from optimus_any2any_spark.session import get_spark

            self.spark = get_spark(app_name=app)
        if ctx.trace:
            self.tracer.sc = self.spark.sparkContext

    def span(self, name: str):
        if self.traced or self.ctx.trace and name in ("session.get_spark", "setup"):
            return self.tracer.span(name)
        return _NoSpan()

    def set_traced(self, traced: bool) -> None:
        self.traced = traced
        if self.ctx.trace:
            self.tracer.set_group(None if traced else UNTRACED_GROUP)

    def finish(self, o: Outcome, round_walls: dict[bool, list[float]]) -> None:
        self.rss.__exit__(None, None, None)
        o.detail["peak_rss_mb"] = self.rss.peak_mb
        if self.ctx.trace:
            self.tracer.set_group(None)
            collect_s = self.tracer.collect(self.spark)
            dump = self.tracer.dump()
            rows = span_rows(dump)
            for r in rows:
                if r["name"].startswith("operators.") and r["jobs"]:
                    r["tasks_per_job"] = r["tasks"] / r["jobs"]
            o.layers = layer_table(rows)
            o.layers["process.tree.peak_rss_mb"] = self.rss.peak_mb
            o.layers["trace.unattributed_jobs"] = unattributed_jobs(dump)
            o.layers.update(_overhead(round_walls[False], round_walls[True]))
            o.layers["trace.collect_s"] = collect_s
            o.spans = rows
            o.trace = dump
        self.spark.stop()


def _snapshot_agg(df) -> tuple:
    """The full-snapshot aggregate the replay is checked against."""
    from pyspark.sql import functions as F

    cents = F.round(F.col("price") * 100).cast("long")
    checksum = F.pmod(
        F.col("k") * F.lit(2654435761) + F.col("ts") * F.lit(40503) + cents
        + F.col("cust") * F.lit(7919),
        F.lit(2147483647),
    )
    return tuple(df.agg(
        F.count(F.lit(1)), F.sum("k"), F.sum("ts"), F.sum(cents), F.sum(checksum)
    ).collect()[0])


def _local_path(uri: str) -> str:
    return urllib.parse.unquote(urllib.parse.urlparse(uri).path)


def _parquet_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


FORMATS = ("delta", "iceberg", "manifest")


class _Lakehouse:
    """Seeded upsert batches committed to a Delta, an Iceberg and a
    manifest table, each commit followed by a snapshot aggregate read
    that must equal the pure-Python replay."""

    def __init__(self, ctx: Ctx, w: _Warm, times: dict[str, list[float]], base: dict,
                 replay: check.Replay):
        from optimus_any2any_spark.sources.delta import read_delta
        from optimus_any2any_spark.sources.iceberg import read_iceberg
        from optimus_any2any_spark.streaming import manifest_table
        from optimus_any2any_spark.streaming.delta_table import merge_delta_batch
        from optimus_any2any_spark.streaming.iceberg_table import merge_iceberg_batch

        self.ctx, self.w, self.times = ctx, w, times
        spark = w.spark
        self.base, self.replay = base, replay
        self.max_key = int(self.base["k"].max())
        self.b = 0
        self.paths = paths = {f: os.path.join(ctx.work, f) for f in FORMATS}
        kw = {"target_rows_per_file": LAKEHOUSE_ROWS_PER_FILE}
        self.merge = {
            "delta": lambda df, b: merge_delta_batch(spark, df, paths["delta"], "k", "ts", batch_id=b, **kw),
            "iceberg": lambda df, b: merge_iceberg_batch(spark, df, paths["iceberg"], "k", "ts", batch_id=b, **kw),
            "manifest": lambda df, b: manifest_table.merge_batch(spark, df, paths["manifest"], "k", "ts", batch_id=b, **kw),
        }
        self.read = {
            "delta": lambda: read_delta(spark, paths["delta"]),
            "iceberg": lambda: read_iceberg(spark, paths["iceberg"]),
            "manifest": lambda: manifest_table.read_table(spark, paths["manifest"]),
        }
        self.rows_per_round = 0

    @staticmethod
    def _files(snapshot) -> set[str]:
        return {_local_path(u) for u in snapshot.inputFiles()}

    def seed(self) -> bool:
        return self._commit(self.base, timed=False)

    def round(self, timed: bool) -> bool:
        self.b += 1
        rows = gen.lakehouse_batch(self.ctx.seed, self.b, self.max_key, self.replay.live_keys())
        self.max_key = max(self.max_key, int(rows["k"].max()))
        self.rows_per_round = len(FORMATS) * len(rows["k"])
        return self._commit(rows, timed)

    def _commit(self, rows: dict, timed: bool) -> bool:
        w, b = self.w, self.b
        tbl = gen.lakehouse_arrow(rows)
        df = w.spark.createDataFrame(tbl)
        batch_bytes = 0
        if w.traced:
            buf = io.BytesIO()
            pq.write_table(tbl, buf)
            batch_bytes = buf.tell()
        self.replay.apply(rows)
        for f in FORMATS:
            if w.traced:
                with w.span("trace.snapshot_files"):
                    before = self._files(self.read[f]())
            with w.span(f"streaming.{f}.merge") as ms:
                t = time.perf_counter()
                self.merge[f](df, b)
                dm = time.perf_counter() - t
            with w.span(f"sources.{f}.read") as rs:
                t = time.perf_counter()
                snap = self.read[f]()
                got = _snapshot_agg(snap)
                dr = time.perf_counter() - t
            if not self.ctx.record(f"{f} commit {b}", check.check_snapshot(got, self.replay)):
                return False
            if timed:
                self.times[f"{f}_merge_p50_s"].append(dm)
                self.times[f"{f}_read_p50_s"].append(dr)
            if w.traced:
                with w.span("trace.snapshot_files"):
                    files = self._files(snap)
                live_bytes = sum(os.path.getsize(p) for p in files)
                ms.attrs.update(
                    files_rewritten=len(before - files),
                    bytes_written_per_batch_byte=sum(
                        os.path.getsize(p) for p in files - before) / max(batch_bytes, 1),
                    table_bytes_per_live_byte=_parquet_bytes(self.paths[f]) / max(live_bytes, 1),
                )
                rs.attrs["files_scanned"] = len(files)
        return True


#: operator span -> (registered query, the README's per-operator metric)
CORPUS_QUERIES = {
    "minhash": ("dedup_minhash_lsh", "minhash_dedup_s"),
    "bpe": ("tokenizer_bpe_merges", "bpe_train_s"),
    "kmeans": ("embedding_kmeans", "kmeans_train_s"),
}


class _Corpus:
    """The registered corpus operators over a seeded corpus; each result
    is hashed now and compared with the DuckDB oracle after the run."""

    def __init__(self, ctx: Ctx, w: _Warm, times: dict[str, list[float]], corpus_dir: str):
        from optimus_any2any_spark.queries import all_queries

        self.ctx, self.w, self.times = ctx, w, times
        self.dir = corpus_dir
        self.registry = all_queries()
        self.digests: dict[str, list[str]] = {q: [] for q, _ in CORPUS_QUERIES.values()}
        self.rows_per_round = 2 * CORPUS_DOCS + CORPUS_VECS

    def round(self, timed: bool) -> bool:
        spark = self.w.spark
        for op, (query, metric) in CORPUS_QUERIES.items():
            # a repeated call must not reuse the previous call's cached
            # intermediates, or later rounds would time cache hits
            spark.catalog.clearCache()
            with self.w.span(f"operators.{op}"):
                t = time.perf_counter()
                result = self.registry[query].spark(spark, self.dir).toPandas()
                d = time.perf_counter() - t
            self.digests[query].append(check.frame_digest(result))
            if timed:
                self.times[metric].append(d)
        return True

    def check_all(self) -> None:
        oracle = check.oracle_digests(self.dir, list(self.digests))
        for query, got in self.digests.items():
            for i, d in enumerate(got):
                self.ctx.record(f"{query} call {i + 1}", [] if d == oracle[query] else [
                    "result hash differs from the DuckDB oracle"
                ])


def lakehouse_corpus(ctx: Ctx) -> Outcome:
    kinds = [f"{f}_{op}_p50_s" for f in FORMATS for op in ("merge", "read")]
    kinds += [metric for _, metric in CORPUS_QUERIES.values()]
    times: dict[str, list[float]] = {k: [] for k in kinds}
    base = gen.lakehouse_base(ctx.seed)
    replay = check.Replay(base)
    corpus_dir = os.path.join(ctx.work, "corpus")
    os.makedirs(corpus_dir)
    gen.write_corpus(corpus_dir, ctx.seed, CORPUS_DOCS, CORPUS_VECS)
    os.sync()
    w = _Warm(ctx, "perfbench-lakehouse-corpus")
    lake = _Lakehouse(ctx, w, times, base, replay)
    corpus = _Corpus(ctx, w, times, corpus_dir)
    round_walls: dict[bool, list[float]] = {True: [], False: []}

    def one_round(timed: bool) -> bool:
        return lake.round(timed) and corpus.round(timed)

    with w.span("setup"):
        ok = lake.seed()
        for _ in range(WARMUP_ROUNDS):
            ok = ok and one_round(timed=False)
    setup_s = time.time() - w.t0
    t_start, r, last = time.time(), 0, 0.0
    min_rounds = max(MIN_ROUNDS, 2 * TRACE_PAIRS) if ctx.trace else MIN_ROUNDS
    while ok and ctx.another(r, t_start, last, min_rounds):
        w.set_traced(ctx.trace and r % 2 == 1)
        t = time.perf_counter()
        ok = one_round(timed=True)
        last = time.perf_counter() - t
        round_walls[w.traced].append(last)
        r += 1
    w.set_traced(False)
    corpus.check_all()
    # one round at each operation's median speed: per-kind medians summed
    wall = sum(_median(times[k]) for k in kinds)
    o = Outcome()
    o.metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "records_per_s": (lake.rows_per_round + corpus.rows_per_round) / wall,
    }
    o.detail = dict(o.metrics, rounds=r, round_walls=round_walls[False] + round_walls[True],
                    op_times=times, **{k: _median(times[k]) for k in kinds})
    w.finish(o, round_walls)
    return o


WORKLOADS = {
    "rfc008_copy": rfc008_copy,
    "jq_route_fanout": jq_route_fanout,
    "lakehouse_corpus": lakehouse_corpus,
}


def run_workload(ctx: Ctx, name: str) -> Outcome | None:
    try:
        return WORKLOADS[name](ctx)
    except Exception:  # a failing operation is a result, not a crash
        traceback.print_exc()
        ctx.attempted += 1
        ctx.failed += 1
        return None
