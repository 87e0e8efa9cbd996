"""The benchmark's workloads: a closed loop of one client driving the
program through its public functions.

``trickle_serve``  land a 20-doc ticket delta, sync it, then answer the
                   five dashboard reads over the fresh version.
``query_mix``      passes over a fixed list of registered plans, in an
                   order shuffled by the seed, over seeded fixtures.

Each workload returns samples (operation kind → latencies), its timed
cycles, the spans of the traced cycles and the correctness problems
found by the gate; :mod:`run` turns them into metrics.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import fixtures
import gate
import qmsgen
import spans
import storage

from qms_datawarehouse_spark import engine
from qms_datawarehouse_spark.operators import checkpoint, history
from qms_datawarehouse_spark.sources import readers
from qms_datawarehouse_spark.warehouse import ParquetWarehouse

# Untimed cycles (passes) between set-up and the timed region: the JIT
# keeps speeding the loop up for about this long. The dashboard reads
# are short and run once a cycle, so they get extra untimed rounds of
# their own: without them they still speed up by a third across the
# timed cycles.
WARMUP_CYCLES = {"trickle_serve": 2, "query_mix": 3}
READ_WARMUP_ROUNDS = 4
SOURCE = "qms"
CURSOR = "updatedAt"
VIEW_PREFIX = "qms_"

# Document counts of trickle_serve. ``delta``: docs landed per cycle;
# ``inserts``: share of new tickets; ``recent``: updates draw from the
# newest N tickets; ``replays``: in-batch repeats of an _id with a
# later cursor.
SIZES = dict(tickets=6_000, users=60, ratings=1_200, delta=20,
             inserts=0.2, recent=2_000, replays=2)

# The registered plans of ``query_mix``, one or more per plan family:
# QMS reports (plans.analytics; the first three, which refresh_s
# covers), a relational report (plans.relational) and the
# corpus-curation operators (dedup, similarity, textops).
QUERY_MIX = (
    "flagship_staff_report", "a5_per_staff_totals", "w2_recent_topn",
    "q1_pricing_summary", "dedup_minhash_lsh", "similarity_topk_cosine",
    "bm25_topk",
)
FIXTURE_SCALE = 0.01

# Operation kinds (prefixes) behind ``op_p50_s`` and ``refresh_s``:
# the workload's headline operation, and the reads a user waits on —
# dashboard reads, or on query_mix the QMS report plans.
OP_KINDS = {"trickle_serve": ("sync",), "query_mix": ("plans.",)}
READ_KINDS = {
    "trickle_serve": ("read.",),
    "query_mix": tuple(f"plans.{q}" for q in QUERY_MIX[:3]),
}

# Dashboard reads, as SQL both Spark and DuckDB run unchanged over the
# warehouse views. A5/A6 per-staff totals and daily rate, A7 serve
# time per service, the ticket⋈user⋈rating staff report, W2 recent
# tickets (total order before the LIMIT).
DASHBOARD_SQL = {
    "staff_totals": (
        "SELECT servedBy AS staff, COUNT(*) AS served, "
        "ROUND(SUM(serveSeconds), 3) AS serve_s, "
        "COUNT(DISTINCT substr(createdAt, 1, 10)) AS days, "
        "ROUND(COUNT(*) / COUNT(DISTINCT substr(createdAt, 1, 10)), 3) AS per_day "
        "FROM qms_ticket WHERE status = 'served' GROUP BY servedBy"
    ),
    "serve_time": (
        "SELECT service, COUNT(*) AS n, ROUND(AVG(serveSeconds), 3) AS avg_s, "
        "MAX(serveSeconds) AS max_s FROM qms_ticket "
        "WHERE status = 'served' GROUP BY service"
    ),
    "staff_ratings": (
        "SELECT u._id AS staff, u.name AS name, COUNT(*) AS ratings, "
        "ROUND(AVG(r.score), 4) AS avg_score FROM qms_rating r "
        "JOIN qms_ticket t ON r.ticket = t._id "
        "JOIN qms_user u ON t.servedBy = u._id GROUP BY u._id, u.name"
    ),
    "recent_tickets": (
        "SELECT _id, ticketNumber, status, updatedAt FROM qms_ticket "
        "ORDER BY updatedAt DESC, _id LIMIT 50"
    ),
}
STATUS_LIMIT = 10  # history rows on the status panel: five syncs


@dataclass
class Outcome:
    setup_s: float = math.nan
    samples: dict[str, list[float]] = field(default_factory=dict)
    traced: dict[str, list[float]] = field(default_factory=dict)
    cycles: list[float] = field(default_factory=list)
    traced_cycles: list[float] = field(default_factory=list)
    rows: int = 0
    row_seconds: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)


class Loop:
    """Closed-loop driver: times each op, counts attempts and
    failures, and opens a root span per op when tracing is on."""

    def __init__(self, recorder: spans.Recorder, out: Outcome):
        self.rec = recorder
        self.out = out

    def op(self, kind: str, fn, span: str | None = None, **attrs):
        self.out.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.rec.span(span or f"op.{kind}", **attrs):
                result = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            self.out.failed += 1
            traceback.print_exc()
            return None
        dt_s = time.perf_counter() - t0
        bucket = self.out.traced if self.rec.active else self.out.samples
        bucket.setdefault(kind, []).append(dt_s)
        return result


def log(ctx, message: str) -> None:
    print(f"[perfbench +{time.perf_counter() - ctx.t_start:7.2f}s] {message}", file=sys.stderr)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- trickle_serve ------------------------------------------------------


class SyncService:
    """One warehouse fed by landed NDJSON deltas."""

    def __init__(self, spark, workdir: str, seed: int, sizes: dict):
        self.spark = spark
        self.sizes = sizes
        self.land = _fresh(os.path.join(workdir, "land"))
        self.root = os.path.join(workdir, "warehouse")
        shutil.rmtree(self.root, ignore_errors=True)
        self.wh = ParquetWarehouse(spark, self.root)
        self.gen = qmsgen.QmsGenerator(seed)
        self.expected = qmsgen.ExpectedState()
        self.syncs: Counter = Counter()
        self.cycle_no = 0

    def _sync(self, collection: str, path: str):
        df = readers.read_json_auto(self.spark, path)
        return engine.sync_dataframe(self.wh, df, SOURCE, collection, cursor_col=CURSOR)

    def ingest_seed(self, progress) -> None:
        s = self.sizes
        docs = self.gen.seed_collections(s["tickets"], s["users"], s["ratings"])
        for collection in ("user", "ticket", "rating"):
            path = os.path.join(self.land, f"seed_{collection}.ndjson")
            qmsgen.write_ndjson(path, docs[collection])
            self.expected.apply(collection, docs[collection])
            self._sync(collection, path)
            self.syncs[collection] += 1
            progress(collection)

    def land_delta(self) -> tuple[str, int]:
        s = self.sizes
        docs = self.gen.ticket_delta(s["delta"], s["inserts"], s["recent"], s["replays"])
        path = os.path.join(self.land, f"ticket_{self.cycle_no:05d}.ndjson")
        nbytes = qmsgen.write_ndjson(path, docs)
        self.expected.apply("ticket", docs)
        self.cycle_no += 1
        return path, nbytes

    def cycle(self, loop: Loop) -> dict:
        """Land → sync → register views → dashboard reads. Returns the
        results of each read for the gate."""
        path, nbytes = self.land_delta()
        t0 = time.perf_counter()
        res = loop.op("sync", lambda: self._sync("ticket", path))
        if res is not None:
            self.syncs["ticket"] += 1
            loop.out.rows += res.records_synced
            loop.out.row_seconds += time.perf_counter() - t0
        results = self.dashboard(loop)
        cycle_s = time.perf_counter() - t0
        (loop.out.traced_cycles if loop.rec.active else loop.out.cycles).append(cycle_s)
        return {"rows": res.records_synced if res else 0, "bytes": nbytes, "reads": results}

    def dashboard(self, loop: Loop) -> dict:
        """Register views over the live versions and run the five
        dashboard reads; returns each read's result."""
        self.wh.register_views(prefix=VIEW_PREFIX)
        results = {}
        for name, sql in DASHBOARD_SQL.items():
            results[name] = loop.op(
                f"read.{name}", lambda sql=sql: _collect(self.spark.sql(sql)),
            )
        results["sync_status"] = loop.op("read.sync_status", lambda: self.sync_status(loop.rec))
        return results

    def sync_status(self, recorder: spans.Recorder):
        # history.recent returns a lazy top-K; its span includes the
        # collect, so the history scan is counted in the history layer.
        with recorder.span("history.recent"):
            rows = _collect(history.recent(self.wh, STATUS_LIMIT))
        return rows, checkpoint.get_last_synced(self.wh, SOURCE, "ticket")

    def check(self, con, last_reads: dict) -> list[str]:
        problems = []
        for table in ("ticket", "user", "rating"):
            problems += gate.check_table(self.wh, table, self.expected.rows(table))
        problems += gate.check_checkpoints(
            lambda c: checkpoint.get_last_synced(self.wh, SOURCE, c),
            self.expected.high_water,
        )
        problems += gate.check_history(con, self.root, self.syncs)
        gate.register_warehouse(con, self.root, ["ticket", "user", "rating"], VIEW_PREFIX)
        for name, sql in DASHBOARD_SQL.items():
            got = last_reads.get(name)
            if got is None:
                problems.append(f"read.{name}: no result")
                continue
            problems += gate.compare_rows(f"read.{name}", *got, *gate.reference_rows(con, sql))
        problems += self._check_status(con, last_reads.get("sync_status"))
        return problems

    def _check_status(self, con, got) -> list[str]:
        if got is None:
            return ["read.sync_status: no result"]
        (cols, rows), ckpt = got
        ref = gate.reference_rows(
            con,
            f"SELECT * FROM read_parquet('{self.root}/{storage.HISTORY_LOG}/*.parquet') "
            f"ORDER BY started_at DESC LIMIT {STATUS_LIMIT}",
        )
        problems = gate.compare_rows("read.sync_status", cols, rows, *ref)
        vdir = storage.current_version_dir(self.root, checkpoint.TABLE)
        (ref_ckpt,) = con.execute(
            f"SELECT last_synced_at FROM read_parquet('{vdir}/*.parquet') "
            f"WHERE source_uri = '{SOURCE}' AND collection_name = 'ticket'"
        ).fetchone()
        if ckpt != ref_ckpt:
            problems.append(f"read.sync_status: checkpoint {ckpt} != {ref_ckpt}")
        return problems


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def cpu_ticks() -> list[int]:
    """Machine-wide CPU tick counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _timed_loop(seconds: float, recorder, trace_on: bool, step, out: Outcome) -> None:
    """Run ``step()`` until ``seconds`` have passed. With tracing,
    cycles run untraced and traced in the order U T T U U T T U …, so
    the run yields both figures and their difference is the tracing
    overhead; the mirrored order cancels the loop's warm-up trend. Records the
    share of CPU time the hypervisor stole meanwhile: a run on a busy
    host reads slower for reasons outside the program."""
    before = cpu_ticks()
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end:
        recorder.active = trace_on and i % 4 in (1, 2)
        step()
        recorder.active = False
        recorder.resolve_jobs()
        i += 1
    delta = [b - a for a, b in zip(before, cpu_ticks())]
    out.layers["host.steal_frac"] = delta[7] / max(sum(delta), 1)


def run_trickle_serve(ctx) -> Outcome:
    out = Outcome()
    svc = SyncService(ctx.spark, ctx.workdir, ctx.seed, SIZES)
    svc.ingest_seed(lambda c: log(ctx, f"seed {c} ingested"))
    warm = Loop(spans.Recorder(), Outcome())
    for _ in range(WARMUP_CYCLES["trickle_serve"]):
        svc.cycle(warm)
    for _ in range(READ_WARMUP_ROUNDS):
        svc.dashboard(warm)
    out.setup_s = time.perf_counter() - ctx.t_start
    # warm-up latencies are dropped; its failures still count
    out.attempted, out.failed = warm.out.attempted, warm.out.failed
    log(ctx, "warm-up cycles done")

    loop = Loop(ctx.recorder, out)
    probe = storage.StorageProbe(svc.root, "ticket")
    commits = []
    last = {}

    def step():
        nonlocal last
        info = svc.cycle(loop)
        commits.append(probe.after_commit(info["rows"], info["bytes"]))
        last = info["reads"]

    _timed_loop(ctx.seconds, ctx.recorder, ctx.trace, step, out)
    log(ctx, f"timed region done: {len(out.cycles) + len(out.traced_cycles)} cycles")
    out.problems = svc.check(ctx.duck, last)
    log(ctx, "gate done")
    out.layers["storage.commits"] = commits
    out.layers["storage.store"] = storage.store_summary(svc.root, ["ticket", "user", "rating"])
    return out


# -- query mix ----------------------------------------------------------


def run_query_mix(ctx) -> Outcome:
    from qms_datawarehouse_spark.plans import REGISTRY

    out = Outcome()
    fx_dir = os.path.join(ctx.workdir, "fixtures")
    fixtures.generate(fx_dir, ctx.seed, FIXTURE_SCALE)
    rng = random.Random(ctx.seed)
    loop = Loop(ctx.recorder, out)

    def one_pass(lp: Loop) -> dict:
        order = list(QUERY_MIX)
        rng.shuffle(order)
        results = {}
        t0 = time.perf_counter()
        for q in order:
            fn = REGISTRY[q].fn
            family = fn.__module__.removeprefix("qms_datawarehouse_spark.")
            r = lp.op(
                f"plans.{q}", lambda fn=fn: _collect(fn(ctx.spark, fx_dir)),
                span=f"plans.{q}", family=family,
            )
            if r is not None:
                results[q] = r
                lp.out.rows += len(r[1])
        lp.out.row_seconds += time.perf_counter() - t0
        (lp.out.traced_cycles if lp.rec.active else lp.out.cycles).append(time.perf_counter() - t0)
        return results

    log(ctx, "fixtures written")
    warm = Loop(spans.Recorder(), Outcome())
    for _ in range(WARMUP_CYCLES["query_mix"]):  # the first pass is cold
        one_pass(warm)
    out.setup_s = time.perf_counter() - ctx.t_start
    out.attempted, out.failed = warm.out.attempted, warm.out.failed
    log(ctx, "warm-up passes done")

    last = {}

    def step():
        nonlocal last
        last = one_pass(loop)

    _timed_loop(ctx.seconds, ctx.recorder, ctx.trace, step, out)
    log(ctx, f"timed region done: {len(out.cycles) + len(out.traced_cycles)} passes")

    for tb in fixtures.TABLES:
        ctx.duck.execute(
            f"CREATE OR REPLACE VIEW {tb} AS SELECT * FROM read_parquet('{fx_dir}/{tb}.parquet')"
        )
    oracle = {q: REGISTRY[q].sql for q in QUERY_MIX}
    for q in QUERY_MIX:
        if q not in last:
            out.problems.append(f"plans.{q}: no result")
            continue
        out.problems += gate.compare_rows(
            f"plans.{q}", *last[q], *gate.reference_rows(ctx.duck, oracle[q])
        )
    log(ctx, "gate done")
    return out


WORKLOADS = {
    "trickle_serve": run_trickle_serve,
    "query_mix": run_query_mix,
}
