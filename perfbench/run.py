"""Engine benchmark: three closed-loop workloads against the public query
entry points, every call checked against the DuckDB oracle.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run it from the repository root (or any checkout of it). One run:

1. sets up: imports, ``session.get_spark`` on ``local[nproc]`` and the
   Python worker pool (this is ``setup_s``; preparing the work directory
   and environment is not part of it);
2. writes the seeded inputs (``datagen.py``) under ``.bench_work/``;
3. warms up: every key runs once on the input, all keys at once,
   so code generation, class loading and (for ``corpus_refresh``) the
   session-store builds of the first input version are done;
   ``corpus_refresh`` then replaces its corpus tables with the next
   input version and retires the session stores and Spark caches built
   over the old one;
4. runs the workload's clients in a closed loop over its keys in a fixed
   order, starting calls until ``--seconds`` have passed and the
   workload's minimum number of passes is reached, and then finishing
   the pass over the keys, so every run samples each key the same number
   of times. Each call is the registry function plus
   ``toPandas()`` (the collect that ``scripts/driver_sim.py``'s canonical
   hash is defined over);
5. after the loop, computes the oracle result of every key with DuckDB on
   the files the loop read, hashes every call's result with
   ``driver_sim.canon_hash`` and compares it with the oracle hash, and
   times the oracle queries of the keys that enter ``spark_over_duckdb``
   (after the loop only idle Spark threads share the host with DuckDB).

Standard output ends with two JSON lines: a report (environment, sample
counts, per-key walls, error rate, ``spark_over_duckdb``, end-of-run leak
counters) and the
result record ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from ``tracing.py`` (the report line then also carries the
traced end-to-end figures, from which ``overhead.py`` derives the
tracing overhead). Exits non-zero without a result when the engine is not
importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# setup_s counts this import (NumPy and pyarrow) too.
_t0 = time.perf_counter()
import datagen  # noqa: E402

_DATAGEN_IMPORT_S = time.perf_counter() - _t0


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    clients: int
    # The loop runs at least this many passes over the keys, so the
    # number of calls a run makes does not depend on how fast the host
    # happens to be (one pass of etl_batch or stream_drain already takes
    # longer than --seconds).
    min_passes: int = 1
    # Replace the corpus tables with the next input version between the
    # warm-up and the timed loop (see Bench.refresh).
    refresh: bool = False
    # One client over stream keys. Micro-batch jobs run outside the
    # caller's job group, so every job inside a call's window is
    # attributed to the call, and an overrunning call is stopped by
    # stopping the streaming queries.
    streaming: bool = False


# etl_batch leaves out the TPC-H revenue keys q1_pricing_summary,
# q3_top_unshipped, q5_regional_revenue, q6_forecast_revenue and
# q10_returned_items: each rounds an exact 4-decimal sum to 2 decimals, and
# where that sum ends in 50 Spark (HALF_UP on the shortest decimal form) and
# DuckDB (on the binary value) can disagree by one cent. Between 1 seed in
# 500 and 1 in 100 hits it for each key (q1 on seeds 56 and 808, q3 on 13,
# 26 and 701, q5 on 741, 791 and 974, q6 on 8 and 271, q10 on 320 and 363),
# and a workload has to run correctly on every seed.
WORKLOADS = {
    "etl_batch": Workload(
        keys=(
            "q9_product_profit",
            "q18_large_orders",
            "q_window_rank",
            "q_running_revenue",
            "q_rollup_orders",
            "q_semi_anti",
            "q_events_json",
            "q_lag_features",
            "q_pipeline_api",
        ),
        clients=1,
        min_passes=2,
    ),
    "stream_drain": Workload(
        keys=(
            "q_events_tumbling",
            "q_stream_dedup",
            "q_stream_stateful",
            "q_stream_watermark",
            "q_stream_session_window",
            "q_stream_stream_join",
            "q_stream_to_parquet",
            "q_pipeline_stream_parity",
        ),
        clients=1,
        streaming=True,
    ),
    "corpus_refresh": Workload(
        keys=(
            "q_near_dedup",
            "q_minhash_pairs",
            "q_dup_clusters",
            "q_semdedup",
            "q_knn_self",
            "q_knn_lsh",
            "q_bm25",
            "q_embed_near_dup",
            "q_dedup_docs",
            "q_doc_tokens",
        ),
        clients=4,
        min_passes=4,
        refresh=True,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_calls_per_s": "1/s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}

# A call that raises, returns a wrong result or runs longer than this is
# a failure; its latency sample is this limit plus its own wall, so it
# ranks above every successful call.
CALL_TIMEOUT_S = 30.0
# The oracle queries in spark_over_duckdb are timed in rounds (each round
# runs every such key once; the first is the run that computes the oracle
# results) until ORACLE_MIN_S have passed since the first began (at most
# ORACLE_MAX_ROUNDS); the ratio uses each key's median wall. DuckDB walls
# on this kind of shared host move by up to 1.5x within seconds, so each
# key's runs are spread over the whole window rather than taken back to
# back. The corpus oracles take longer than ORACLE_MIN_S in all, so a
# corpus_refresh run times each of them once.
ORACLE_MIN_S = 1.5
ORACLE_MAX_ROUNDS = 50
# No call starts after this many seconds of the loop, pass ended or not,
# so one run stays well inside its time limit.
MAX_LOOP_S = 90.0
WORK_ROOT = os.path.join(REPO, ".bench_work")


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _engine_present() -> bool:
    return os.path.isfile(
        os.path.join(REPO, "data_ingestion_service_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(REPO, "scripts", "driver_sim.py"))


def _prepare_env(work: str, cpus: int) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``work``
    and make the package importable for Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")])
    )
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
            # The whole heap is resident from the start, so peak_rss_mb
            # does not depend on how far the collector happened to grow
            # into it; what it still moves with is everything else
            # (metaspace, code cache, threads, direct buffers, Python).
            "-XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "scripts"))


def _reset_peak_rss(pid: int | str) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _percentile(values: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Call:
    call_id: str
    key: str
    wall_s: float
    pdf: object = None
    error: str | None = None
    ok: bool = False


class _NoTrace:
    """Stand-in for :class:`tracing.Tracer` in the untraced run."""

    def call(self, call_id, key):
        return nullcontext()

    def build(self):
        return nullcontext()

    def collect(self):
        return nullcontext()


class Bench:
    def __init__(self, args: argparse.Namespace, work: str, cpus: int):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.cpus = cpus
        self.data = os.path.join(work, "data")
        self.live = os.path.join(self.data, "live")
        # Input version of the timed loop: 0 is the warm-up input.
        self.version = 1 if self.workload.refresh else 0
        self.expected: dict[str, tuple[str, int, list[str]]] = {}
        self.oracle_walls: dict[str, list[float]] = {}
        self.calls: list[Call] = []
        self.warm_walls: dict[str, float] = {}

    # -- inputs and oracle ---------------------------------------------------

    def version_dir(self, version: int) -> str:
        return os.path.join(self.data, f"v{version}")

    def make_inputs(self) -> None:
        datagen.write_inputs(self.data, self.args.seed, [self.version])

    def refresh(self, spark) -> int:
        """Atomically replace the live corpus tables with the loop's
        input version, then retire what the session cached over them.

        Neither the engine nor Spark notices files replaced under a
        running session. The engine builds each index-like store
        (``session_persisted``) once per input directory (ROADMAP B), and
        Spark serves a new read of a path from a DataFrame persisted over
        that path (here the per-call working sets of the warm-up). Without
        both retirements the store-backed keys answer from the old corpus.
        A service that replaces its inputs retires them the same way:
        ``session.session_invalidate`` for the stores and
        ``spark.catalog.refreshByPath`` for Spark's cache. The loop's
        first pass then pays the rebuilds. Returns the number of stores
        retired."""
        from data_ingestion_service_spark import session

        replaced = []
        for name in datagen.CORPUS_TABLES:
            src = os.path.join(self.version_dir(self.version), f"{name}.parquet")
            dst = os.path.join(self.live, f"{name}.parquet")
            tmp = os.path.join(self.live, f".{name}.parquet.tmp")
            shutil.copyfile(src, tmp)
            os.replace(tmp, dst)
            replaced.append(dst)
        retired = 0
        # The engine has no public listing of its stores, so the keys that
        # name the input directory are read from its registry.
        for owner, stores in list(session._DF_CACHE.items()):
            before = len(stores)
            for key in list(stores):
                if self.live in (key if isinstance(key, tuple) else (key,)):
                    session.session_invalidate(owner, key)
            retired += before - len(stores)
        for path in replaced:
            spark.catalog.refreshByPath(path)
        return retired

    def oracle_results(self, oracles: dict[str, str], canon_hash) -> None:
        """Oracle hash of every key on the live input (the files the loop
        read); each run is also the key's first DuckDB wall."""
        import duckdb

        self.oracle_t0 = time.perf_counter()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {self.cpus}")
        for t in datagen.TABLES:
            path = os.path.join(self.live, f"{t}.parquet")
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for key in self.workload.keys:
            t0 = time.perf_counter()
            pdf = self.con.execute(oracles[key]).df()
            self.oracle_walls[key] = [time.perf_counter() - t0]
            self.expected[key] = (canon_hash(pdf), len(pdf), sorted(pdf.columns))

    def time_oracles(self, oracles: dict[str, str]) -> None:
        """DuckDB walls for ``spark_over_duckdb``, in rounds over the keys
        that enter it (see ORACLE_MIN_S)."""
        keys = self.ratio_keys()
        rounds = 1
        while keys and rounds < ORACLE_MAX_ROUNDS and (
            time.perf_counter() - self.oracle_t0 < ORACLE_MIN_S
        ):
            for key in keys:
                t0 = time.perf_counter()
                self.con.execute(oracles[key]).df()
                self.oracle_walls[key].append(time.perf_counter() - t0)
            rounds += 1
        self.con.close()

    # -- the closed loop -------------------------------------------------------

    def warm_up(self, spark, queries) -> None:
        """Run every key once on the version-0 input, all keys at once:
        first executions compile code and load classes, which a
        long-running service pays once, not per call. (Concurrent cold
        calls finish sooner in all than ``nproc`` at a time.)"""
        from concurrent.futures import ThreadPoolExecutor

        def one(key: str) -> None:
            t0 = time.perf_counter()
            try:
                queries[key](spark, self.live).toPandas()
                self.warm_walls[key] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - the timed call reports it
                print(f"warm-up {key}: {type(exc).__name__}: {exc}", file=sys.stderr)

        with ThreadPoolExecutor(len(self.workload.keys)) as pool:
            list(pool.map(one, self.workload.keys))

    def one_call(self, spark, queries, tracer, call_id: str, key: str) -> Call:
        """One timed call. Its Spark jobs run in a job group named after
        the call id, so an overrun cancels this call's jobs only."""
        sc = spark.sparkContext
        sc.setJobGroup(call_id, key)
        t0 = time.perf_counter()
        try:
            with tracer.call(call_id, key):
                with tracer.build():
                    df = queries[key](spark, self.live)
                with tracer.collect():
                    pdf = df.toPandas()
            return Call(call_id, key, time.perf_counter() - t0, pdf=pdf)
        except Exception as exc:  # noqa: BLE001 - a failed call is a sample
            return Call(
                call_id, key, time.perf_counter() - t0,
                error=f"{type(exc).__name__}: {str(exc)[:300]}",
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def run_loop(self, spark, queries, tracer) -> float:
        """Run the clients for at least ``--seconds`` and ``min_passes``,
        in whole passes over the keys; returns the loop's wall time."""
        w = self.workload
        lock = threading.Lock()
        issued = 0
        in_flight: dict[str, float] = {}
        loop_t0 = time.perf_counter()
        deadline = loop_t0 + self.args.seconds

        def client() -> None:
            nonlocal issued
            while True:
                with lock:
                    now = time.perf_counter()
                    at_pass_end = issued % len(w.keys) == 0
                    enough = now >= deadline and issued >= w.min_passes * len(w.keys)
                    if (enough and at_pass_end) or now - loop_t0 >= MAX_LOOP_S:
                        return
                    key = w.keys[issued % len(w.keys)]
                    call_id = f"c{issued:05d}"
                    issued += 1
                    in_flight[call_id] = now
                call = self.one_call(spark, queries, tracer, call_id, key)
                with lock:
                    del in_flight[call_id]
                    self.calls.append(call)

        threads = [threading.Thread(target=client, daemon=True) for _ in range(w.clients)]
        for t in threads:
            t.start()
        self._join(spark, threads, in_flight, lock)
        return time.perf_counter() - loop_t0

    def _join(self, spark, threads, in_flight: dict[str, float], lock) -> None:
        """Wait for the clients; cancel the Spark work of a call that
        overruns the call timeout (the call then fails and the loop goes
        on). Stream keys run their micro-batches outside the call's job
        group, so on ``stream_drain`` (one client) the active streaming
        queries are stopped too."""
        from data_ingestion_service_spark.streaming.stream_queries import stream_session

        cancelled: set[str] = set()
        while any(t.is_alive() for t in threads):
            for t in threads:
                t.join(0.5)
            with lock:
                now = time.perf_counter()
                overdue = [c for c, t0 in in_flight.items() if now - t0 > CALL_TIMEOUT_S + 5]
            for call_id in set(overdue) - cancelled:
                cancelled.add(call_id)
                spark.sparkContext.cancelJobGroup(call_id)
                if self.workload.streaming:
                    for s in (spark, stream_session(spark)):
                        for q in s.streams.active:
                            q.stop()
            if overdue and any(now - in_flight.get(c, now) > CALL_TIMEOUT_S + 60 for c in overdue):
                raise RuntimeError(f"benchmark calls {overdue} did not stop after cancellation")

    # -- checking and metrics ---------------------------------------------------

    def check(self, canon_hash) -> None:
        for c in self.calls:
            if c.error is None and c.wall_s > CALL_TIMEOUT_S:
                c.error = f"timeout: {c.wall_s:.1f}s > {CALL_TIMEOUT_S}s"
            if c.error is None:
                h, rows, cols = self.expected[c.key]
                got = (canon_hash(c.pdf), len(c.pdf), sorted(c.pdf.columns))
                if got == (h, rows, cols):
                    c.ok = True
                else:
                    c.error = f"wrong result: {got[1]} rows hash {got[0]}, oracle {rows} rows hash {h}"
            c.pdf = None

    def ratio_keys(self) -> list[str]:
        """Keys that enter ``spark_over_duckdb``: those with a correct call.
        A wrong or failed call's wall says nothing about the engine's speed
        on that key (a stale store answers fast), so a key without a
        correct call is left out of both sums and listed in the report."""
        return sorted({c.key for c in self.calls if c.ok})

    def end_to_end(self, setup_s: float, loop_wall: float, rss_mb: float) -> dict[str, float]:
        walls = [c.wall_s if c.ok else CALL_TIMEOUT_S + c.wall_s for c in self.calls]
        n_ok = sum(c.ok for c in self.calls)
        return {
            "setup_s": setup_s,
            "latency_p50_s": _percentile(walls, 50),
            "latency_p90_s": _percentile(walls, 90),
            "throughput_calls_per_s": n_ok / loop_wall,
            "success_rate": n_ok / len(self.calls),
            "peak_rss_mb": rss_mb,
        }

    def spark_over_duckdb(self) -> float:
        """Sum of the keys' median Spark walls over the sum of their median
        DuckDB oracle walls. Reported, not gated: DuckDB walls of the
        millisecond stream oracles move by up to 1.5x between runs on a
        shared host, which spreads this ratio past any allowed bound."""
        keys = self.ratio_keys()
        if keys:
            spark_sum = sum(
                statistics.median(c.wall_s for c in self.calls if c.ok and c.key == k) for k in keys
            )
        else:
            # No correct call at all: every key counts at the call timeout.
            keys = list(self.workload.keys)
            spark_sum = CALL_TIMEOUT_S * len(keys)
        duck_sum = sum(statistics.median(self.oracle_walls[k]) for k in keys)
        return spark_sum / duck_sum

    def pass_medians(self) -> list[float]:
        """Median call wall of each pass over the keys, in call order: a
        steady run shows no trend (the warm-up was long enough)."""
        n = len(self.workload.keys)
        calls = sorted(self.calls, key=lambda c: c.call_id)
        return [
            round(statistics.median(c.wall_s for c in calls[i : i + n]), 4)
            for i in range(0, len(calls), n)
        ]

    def per_key(self) -> dict[str, dict]:
        out = {}
        for key in self.workload.keys:
            calls = [c for c in self.calls if c.key == key]
            out[key] = {
                "calls": len(calls),
                "ok": sum(c.ok for c in calls),
                "median_s": round(statistics.median(c.wall_s for c in calls), 4) if calls else None,
                "ok_median_s": round(statistics.median(c.wall_s for c in calls if c.ok), 4)
                if any(c.ok for c in calls) else None,
                "oracle_median_s": round(statistics.median(self.oracle_walls[key]), 4),
                "oracle_runs": len(self.oracle_walls[key]),
                "errors": sorted({c.error.split(":")[0] for c in calls if c.error}),
            }
        return out


def _end_state(spark, tmp: str) -> dict[str, int]:
    """Resources left on the session when the run ends."""
    from data_ingestion_service_spark.streaming.stream_queries import stream_session

    views = [
        t for t in stream_session(spark).catalog.listTables()
        if t.isTemporary and t.name.startswith("sink_")
    ]
    dirs = [
        d for d in os.listdir(tmp)
        if d.startswith(("ingest_sink_", "ingest_stream_sink_", "ingest_parity_"))
    ]
    return {
        "persisted_rdds_end": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "sink_views_end": len(views),
        "sink_dirs_end": len(dirs),
    }


def _warm_python_workers(spark, cpus: int) -> None:
    spark.range(0, cpus, 1, cpus).mapInPandas(lambda it: it, "id long").count()


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched and for
    the Python worker processes it forked."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run(args: argparse.Namespace, work: str, cpus: int) -> dict:
    t0 = time.perf_counter()
    from data_ingestion_service_spark.registry import ORACLES, QUERIES, load_all_operators
    from data_ingestion_service_spark.session import get_spark
    from driver_sim import canon_hash

    load_all_operators()
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    try:
        _warm_python_workers(spark, cpus)
        stamps = [("setup", time.perf_counter())]
        setup_parts = {
            "imports": _DATAGEN_IMPORT_S + t1 - t0,
            "get_spark": t2 - t1,
            "python_workers": stamps[0][1] - t2,
        }
        setup_s = sum(setup_parts.values())

        bench = Bench(args, work, cpus)
        bench.make_inputs()
        stamps.append(("inputs", time.perf_counter()))
        bench.warm_up(spark, QUERIES)
        stores_retired = bench.refresh(spark) if bench.version else 0
        stamps.append(("warm_up", time.perf_counter()))

        tracer = _NoTrace()
        if args.trace:
            from tracing import PER_LAYER, Tracer

            tracer = Tracer(spark, cpus, bench.workload.streaming)
            tracer.install()
        # peak_rss_mb covers the timed loop only: the input and warm-up
        # peaks are cleared first.
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        for pid in (jvm_pid, "self"):
            _reset_peak_rss(pid)
        loop_wall = bench.run_loop(spark, QUERIES, tracer)
        rss_parts = {"jvm": _vm_hwm_mb(jvm_pid), "python": _vm_hwm_mb("self")}
        rss_mb = sum(rss_parts.values())
        if args.trace:
            tracer.uninstall()
        stamps.append(("loop", time.perf_counter()))
        bench.oracle_results(ORACLES, canon_hash)
        bench.check(canon_hash)
        bench.time_oracles(ORACLES)
        stamps.append(("oracle_and_check", time.perf_counter()))
        end_state = _end_state(spark, os.environ["TMPDIR"])
        e2e = bench.end_to_end(setup_s, loop_wall, rss_mb)
        failed = [c for c in bench.calls if not c.ok]
        import duckdb
        import pyspark

        report = {
            "report": "perfbench",
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "env": {
                "nproc": cpus,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "pyspark": pyspark.__version__,
                "duckdb": duckdb.__version__,
                "python": platform.python_version(),
            },
            "clients": bench.workload.clients,
            "samples": len(bench.calls),
            "error_rate": len(failed) / len(bench.calls),
            "errors": [f"{c.call_id} {c.key}: {c.error}" for c in failed][:20],
            "input_version": bench.version,
            "stores_retired_at_refresh": stores_retired,
            "warm_up_s": {k: round(v, 3) for k, v in bench.warm_walls.items()},
            "loop_wall_s": loop_wall,
            "spark_over_duckdb": bench.spark_over_duckdb(),
            "per_key": bench.per_key(),
            "pass_median_s": bench.pass_medians(),
            "ratio_keys_left_out": sorted(set(bench.workload.keys) - set(bench.ratio_keys())),
            "end_state": end_state,
            "peak_rss_parts_mb": rss_parts,
            "end_to_end": e2e,
            "setup_parts_s": setup_parts,
            "stage_s": {
                name: round(t - stamps[i - 1][1], 3) if i else round(setup_s, 3)
                for i, (name, t) in enumerate(stamps)
            },
        }
        if args.trace:
            walls = {c.call_id: c.wall_s for c in bench.calls}
            layer = tracer.metrics(walls, end_state)
            trace_dir = os.path.join(WORK_ROOT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            span_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(span_file)
            report["spans"] = os.path.relpath(span_file, REPO)
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        return {
            "report": report,
            "result": {
                "correct": not failed,
                "attempted": len(bench.calls),
                "failed": len(failed),
                "metrics": metrics,
            },
        }
    finally:
        _stop_spark(spark)


def _remove_dead_runs() -> None:
    """Delete work directories left by runs that were killed."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    if not _engine_present():
        print(f"engine package not found under {REPO}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _remove_dead_runs()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(work, cpus)
        out = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["report"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
