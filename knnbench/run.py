"""KNN/DTW classification benchmark.

    python3 knnbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The seed generates labelled series
(``knnbench/gen.py``); the engine receives them only as raw text, ingested
through ``sources.text_ingest.parse_series_text``. A single client drives the
public operators on a ``local[<cpus>]`` session in a closed loop for S
seconds (and at least one pass over the test pool), then every query's
predictions go through the correctness gate (``knnbench/oracle.py``).

Set-up -- ingest, and the first query of the workload's shape on the fresh
frames -- runs five times. ``setup_s`` is the median. Only the first set-up
also starts the session on a fresh JVM (with its Python workers) and
compiles the DTW kernel; the median leaves those one-off costs out
(``session.start_s`` and ``kernel.compile_s`` report them). Four untimed
queries after the first set-up warm the JVM up before the other four.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: it runs the loop once on a SparkContext with the event
log on and every layer call tagged with a job group, and once untraced, each
for half of S seconds (see ``knnbench/trace.py`` and ``knnbench/README.md``).

Every process a run starts -- the JVM, Spark's Python workers, the gate's
process pool -- has ended before it prints its result (``knnbench/procs.py``).
Progress goes to stderr; the last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from knnbench import gen, metrics, oracle, procs, trace  # noqa: E402
from knnbench.workloads import K, WORKLOADS, Workload  # noqa: E402
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions import (  # noqa: E402
    dtw_c,
    dtw_kernel,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (  # noqa: E402
    accuracy,
    knn_join,
    majority_vote,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.session import (  # noqa: E402
    get_spark,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.sources.text_ingest import (  # noqa: E402
    parse_series_text,
)

APP = "knnbench"
SETUP_REPS = 5
# fits next to other work on a 15 GB box; the largest collected train side
# is a few MB
DRIVER_MEMORY = "2g"
PROBE_SECONDS = 1.5
TIMING_REPS = 3  # vote.s and evaluate.s are medians of this many calls
# a query shape's latency keeps falling for its first eight or so runs (JIT);
# with the set-ups' first queries nine run before the timed loop
WARMUP_QUERIES = 4


def log(msg: str) -> None:
    print(f"[knnbench] {msg}", file=sys.stderr, flush=True)


def configure_env(work: Path) -> None:
    """Point Spark, its Python workers and the DTW compile cache at ``work``.

    Python workers only see the engine through ``PYTHONPATH``; patching
    ``sys.path`` in the driver is not enough."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "pyspark-shell",
        ]
    )
    tempfile.tempdir = None  # re-read TMPDIR


class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: float, traced: bool, work: Path):
        self.wl, self.seed, self.seconds, self.traced = wl, seed, seconds, traced
        self.train, self.test = gen.generate(seed, wl.n_train, wl.n_test, wl.length)
        self.batch_of = np.arange(wl.n_test) % wl.n_batches  # a batch spans every partition
        self.batch_ids = [set(self.test.ids[self.batch_of == b].tolist()) for b in range(wl.n_batches)]
        self.log_dir = work / "eventlog"
        self.spark = None
        self.jvm_proc = None
        self.train_df = self.test_df = None
        self.setup: "dict[str, list[float]]" = {"total": [], "session": [], "parse": [], "warmup": []}
        self.compile_s = 0.0  # FastDTW workloads only

    # -- set-up -----------------------------------------------------------
    def start_session(self, props: "dict[str, str] | None" = None) -> None:
        """A new SparkContext; ``props`` become Spark properties of it alone."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        if SparkContext._jvm is not None:
            system = SparkContext._jvm.java.lang.System
            for key in trace.eventlog_props(self.log_dir):
                system.clearProperty(key)
            for key, value in (props or {}).items():
                system.setProperty(key, value)
        self.spark = get_spark(APP)
        self.jvm_proc = SparkContext._gateway.proc

    def ingest(self) -> None:
        import pandas as pd

        tr = pd.DataFrame(
            {"series_id": self.train.ids, "label": self.train.labels, "value": self.train.lines}
        )
        te = pd.DataFrame(
            {
                "series_id": self.test.ids,
                "label": self.test.labels,
                "batch": self.batch_of,
                "value": self.test.lines,
            }
        )
        self.train_df = parse_series_text(self.spark.createDataFrame(tr)).cache()
        self.test_df = parse_series_text(self.spark.createDataFrame(te)).cache()
        self.train_df.count()
        self.test_df.count()

    def set_up(self, new_context: bool, props: "dict[str, str] | None" = None) -> None:
        """One set-up: a new SparkContext if asked, then ingest and the first
        query on the fresh frames (neither timed nor checked as a query)."""
        t0 = time.perf_counter()
        if self.spark is None and self.wl.metric == "fastdtw":
            dtw_c.available()  # compiles the kernel into this run's TMPDIR
            self.compile_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        if new_context:
            self.start_session(props)
            self.setup["session"].append(time.perf_counter() - t1)
        t2 = time.perf_counter()
        self.ingest()
        t3 = time.perf_counter()
        self.query(0)
        t4 = time.perf_counter()
        self.setup["total"].append(t4 - t0)
        self.setup["parse"].append(t3 - t2)
        self.setup["warmup"].append(t4 - t3)
        log(f"set-up {len(self.setup['total'])}: {t4 - t0:.2f} s "
            f"(session {t2 - t1:.2f}, ingest {t3 - t2:.2f}, first query {t4 - t3:.2f})")

    # -- queries ----------------------------------------------------------
    def batch_df(self, b: int):
        from pyspark.sql import functions as F

        return self.test_df.filter(F.col("batch") == b)

    def query(self, b: int, tag: "int | None" = None) -> "list[tuple[int, float]]":
        sc = self.spark.sparkContext
        if tag is not None:
            sc.setJobGroup(f"knn.route.{tag}", "knn_join: stats, collect, broadcast")
        nb = knn_join(self.batch_df(b), self.train_df, **self.wl.join_kwargs())
        if tag is not None:
            sc.setJobGroup(f"knn.exec.{tag}", "scoring, top-k, vote")
        rows = majority_vote(nb).collect()
        return [(int(r["test_id"]), float(r["predicted_label"])) for r in rows]

    def warm_up(self) -> None:
        for i in range(WARMUP_QUERIES):
            self.query(i % self.wl.n_batches)

    def closed_loop(self, seconds: float, tagged: bool = False) -> dict:
        """One client, one query in flight, for ``seconds`` and at least one
        pass over the test pool."""
        results, lat, spans = [], [], []
        t_start = time.perf_counter()
        while len(lat) < self.wl.n_batches or time.perf_counter() - t_start < seconds:
            i = len(lat)
            b = i % self.wl.n_batches
            w0, t0 = time.time(), time.perf_counter()
            rows = self.query(b, tag=i if tagged else None)
            lat.append(time.perf_counter() - t0)
            spans.append((w0 * 1000.0, time.time() * 1000.0))
            results.append((b, rows))
        log(f"{len(lat)} queries in {time.perf_counter() - t_start:.2f} s: "
            + " ".join(f"{t:.3f}" for t in lat))
        return {"results": results, "lat": lat, "spans": spans}

    # -- correctness gate -------------------------------------------------
    def expected(self) -> "dict[int, float | None]":
        if self.wl.metric == "euclidean":
            return oracle.euclid_predictions(self.train, self.test, K)
        return self.spot_check()

    def spot_check(self) -> "dict[int, float | None]":
        """One sampled test row per batch: its neighbours from one more
        ``knn_join`` call, checked against the whole train side (exact-DTW
        bounds clear most rows, ``fastdtw_pair`` decides the rest)."""
        from pyspark.sql import functions as F

        wl = self.wl
        rng = np.random.default_rng([self.seed, 1])
        pos = [int(rng.choice(np.flatnonzero(self.batch_of == b))) for b in range(wl.n_batches)]
        ids = [int(self.test.ids[p]) for p in pos]
        rows = knn_join(
            self.test_df.filter(F.col("series_id").isin(ids)), self.train_df, **wl.join_kwargs()
        ).collect()
        by_test: dict = {tid: [] for tid in ids}
        for r in rows:
            by_test[int(r["test_id"])].append(
                (int(r["train_id"]), float(r["train_label"]), float(r["distance"]), int(r["rank"]))
            )
        R = self.train.X
        t0 = time.perf_counter()
        with oracle.spawn_pool(int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
            lower = pool.map(oracle.exact_dtw_row, [self.test.X[p] for p in pos], [R] * len(pos))
            todo = [oracle.unresolved(by_test[tid], lb) for tid, lb in zip(ids, lower)]
            pairs = [(self.test.X[p], R[j]) for p, js in zip(pos, todo) for j in js]
            dists = iter(pool.map(oracle.fastdtw_ref, *zip(*pairs), chunksize=4))
        log(f"gate: {len(pairs)} reference FastDTW pairs for {len(ids)} sampled rows "
            f"({time.perf_counter() - t0:.2f} s)")
        expected = {}
        for tid, js in zip(ids, todo):
            ref_d = {j: next(dists) for j in js}
            err = oracle.check_neighbours(by_test[tid], self.train, ref_d, K)
            if err:
                log(f"gate: test row {tid}: {err}")
                expected[tid] = None
            else:
                expected[tid] = oracle.vote(n[1] for n in sorted(by_test[tid], key=lambda n: n[3]))
        return expected

    def failed(self, loop: dict, expected: dict) -> int:
        return sum(oracle.failed_queries(loop["results"], self.batch_ids, expected))

    def accuracy(self, loop: dict) -> float:
        """Share of the first pass's predictions that are right; the first
        pass covers the test pool once, so it depends on the seed only."""
        truth = dict(zip(self.test.ids.tolist(), self.test.labels.tolist()))
        first_pass = loop["results"][: self.wl.n_batches]
        hits = sum(truth[tid] == lab for _, rows in first_pass for tid, lab in rows)
        return hits / self.wl.n_test

    # -- per-layer --------------------------------------------------------
    def kernel_probe(self) -> "tuple[float, float]":
        """Spark-free, single-threaded pairs/s of the public FastDTW kernel on
        this workload's own arrays (0 for Euclidean: no public point-metric
        kernel), and the DP cells one query computes."""
        wl = self.wl
        cells = float(wl.pairs_per_query * metrics.dp_cells_per_pair(wl))
        if wl.metric == "euclidean":
            return 0.0, cells
        R = self.train.X
        pairs = 0
        t0 = time.perf_counter()
        for x in self.test.X:
            dtw_kernel.fastdtw_batch(np.ascontiguousarray(np.broadcast_to(x, R.shape)), R, radius=1)
            pairs += len(R)
            if time.perf_counter() - t0 >= PROBE_SECONDS:
                break
        return pairs / (time.perf_counter() - t0), cells

    def vote_and_evaluate(self) -> "tuple[float, float]":
        """Median seconds of ``majority_vote`` over a cached neighbour frame
        and of ``accuracy`` over cached predictions."""
        from pyspark.sql import functions as F

        nb = knn_join(self.batch_df(0), self.train_df, **self.wl.join_kwargs()).cache()
        nb.count()
        vote_s = median_time(lambda: majority_vote(nb).collect())
        pred = majority_vote(nb).cache()
        pred.count()
        truth = self.test_df.select(F.col("series_id").alias("test_id"), "label")
        evaluate_s = median_time(lambda: accuracy(pred, truth).collect())
        pred.unpersist()
        nb.unpersist()
        return vote_s, evaluate_s

    # -- driver -----------------------------------------------------------
    def run(self) -> dict:
        try:
            self.set_up(new_context=True)  # on a fresh JVM
            if not self.traced:
                # warm up before the repeated set-ups, so the JIT's gains
                # over a shape's first runs stay out of their median. They
                # share the context: a new SparkContext per set-up made the
                # timed loop after it 15-25% slower in paired runs
                self.warm_up()
                for _ in range(SETUP_REPS - 1):
                    self.set_up(new_context=False)
                loop = self.closed_loop(self.seconds)
                failed = self.failed(loop, self.expected())
                attempted = len(loop["results"])
                named = metrics.end_to_end(
                    self.wl, self.setup["total"], loop["lat"], self.accuracy(loop)
                )
            else:
                # the traced context goes first: the untraced loop then runs
                # on a warmer JVM, so the ratio can only overstate the
                # tracing overhead. Three set-ups in all; the two loops
                # share the run's seconds.
                self.log_dir.mkdir()
                self.set_up(True, trace.eventlog_props(self.log_dir))
                self.warm_up()
                loop = self.closed_loop(self.seconds / 2, tagged=True)
                sc = self.spark.sparkContext
                counts = [
                    tuple(map(sum, zip(*(trace.tracker_counts(sc, f"knn.{part}.{i}")
                                         for part in ("route", "exec")))))
                    for i in range(len(loop["lat"]))
                ]
                app_id = sc.applicationId
                self.set_up(True)  # stopping the traced context flushes its event log
                self.warm_up()
                untraced = self.closed_loop(self.seconds / 2)
                rss = peak_rss_mb(self.jvm_proc.pid)
                vote_s, evaluate_s = self.vote_and_evaluate()
                expected = self.expected()
                failed = self.failed(untraced, expected) + self.failed(loop, expected)
                attempted = len(untraced["results"]) + len(loop["results"])
                self.stop()
                groups = trace.group_stats(trace.read_events(self.log_dir / app_id))
                named = metrics.per_layer(
                    self.wl, self.setup, self.compile_s, self.kernel_probe(), groups,
                    loop["lat"], loop["spans"], counts, vote_s, evaluate_s, untraced["lat"], rss,
                )
        finally:
            self.stop()
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": named}

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit -- also
        when a signal cut a Py4J call short and the session cannot stop."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        try:
            spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.jvm_proc.stdin.close()  # the JVM exits on EOF
            self.jvm_proc.wait(timeout=60)


def median_time(fn) -> float:
    times = []
    for _ in range(TIMING_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def peak_rss_mb(*pids: int) -> float:
    """Driver Python plus the given processes' peak resident set (VmHWM)."""
    total_kb = 0
    for pid in ("self",) + pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def main(argv: "list[str] | None" = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    procs.become_subreaper()
    procs.exit_on_signals()
    work = ROOT / ".knnbench_work" / str(os.getpid())
    work.mkdir(parents=True)
    try:
        configure_env(work)
        bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
        result = bench.run()
    finally:
        t0 = time.perf_counter()
        procs.end_all()
        log(f"all child processes ended ({time.perf_counter() - t0:.2f} s)")
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is still using it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
