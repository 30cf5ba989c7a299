"""ccspark benchmark: one seeded workload per run, one JSON result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The workload's
inputs are written from the tables in `perfbench/data/` and --seed
under `.perfbench/` in the checkout (perfbench/datagen.py);
Spark runs as `local[<cpus>]` with cpus = the cores this process may
use. Every timed output is checked against a DuckDB oracle after the
timed region. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of
the traced run (--trace 1); the line before it carries run details
(cpus, shuffle partitions, failures per workload, loop size).
Workloads, metrics and the layer each metric belongs to are described
in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("batch", "query_serving")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak of (driver RSS + JVM RSS), sampled from /proc/<pid>/statm."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = pids
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in self.pids:
            try:
                total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """State of one benchmark run: session, dirs, tracer, op counts."""

    def __init__(self, args, cpus: int):
        self.args = args
        self.cpus = cpus
        self.base = ROOT / ".perfbench"
        self.work = self.base / f"work-{os.getpid()}"
        self.data_dir = str(self.work / "data")
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None
        self.session_s = 0.0
        self.own_s = 0.0  # the benchmark's own set-up work (inputs, oracles)
        self.shuffle_partitions = 0

    def start_session(self) -> None:
        from commoncrawl_crawler_spark.session import build_session
        from commoncrawl_crawler_spark.shipping import ensure_shipped

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        t0 = time.monotonic()
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                # keep Spark's scratch files inside the checkout
                "spark.local.dir": str(tmp),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("OFF")
        self.shuffle_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        ensure_shipped(self.spark)
        self.session_s = time.monotonic() - t0

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    @contextmanager
    def own_work(self):
        """Time work that is the benchmark's, not the program's: it is
        left out of `setup_s`."""
        t = time.monotonic()
        try:
            yield
        finally:
            self.own_s += time.monotonic() - t

    def setup_s(self) -> float:
        """Process start to now, without the benchmark's own work."""
        return _process_age_s() - self.own_s

    def fresh_dir(self, name: str) -> str:
        path = self.work / name
        if path.exists():
            raise RuntimeError(f"{path} already exists: a pass would reuse it")
        path.mkdir(parents=True)
        return str(path)

    def op(self, ok: bool, error: str | None = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if error and len(self.errors) < 20:
                self.errors.append(error)

    def wrong(self, reason: str) -> None:
        """A failed op whose output is wrong or missing: the run is not
        correct."""
        self.mismatches.append(reason)
        self.op(False, reason)

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark, self.spark = self.spark, None
        try:
            spark.stop()
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                # the JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    proc.terminate()
                    try:
                        proc.wait(timeout=10)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()

    def stop(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


# end-to-end metrics: every workload reports each, in its own terms
# (perfbench/README.md). Latency percentiles (p50 spread 0.07-0.44,
# p90 0.09-0.34 IQR/median across 10 seeds on a shared 4-core VM), peak
# RSS (G1 heap sizing: ~0.25) and the workload-specific figures go in
# the details line, ungated.
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}
STAT_UNITS = {"s": "s", "jobs": "count", "tasks": "count", "busy_ms": "ms",
              "shuffle_write_bytes": "bytes", "input_bytes": "bytes"}


def layer_units() -> dict[str, str]:
    """Every per-layer metric of any workload; a traced run reports
    them all, a layer its workload does not call reading 0."""
    import corpus_batch
    import graph_iterative
    import query_serving as qs

    spans = ([n for _, n in corpus_batch.STEPS] + ["plans.pipeline.PipelineTask.run"]
             + graph_iterative.SPANS + qs.PREBUILD_SPANS)
    units = {f"{n}.{k}": u for n in spans for k, u in STAT_UNITS.items()}
    units.update({f"{n}.p50_ms": "ms" for n in qs.latency_names()})
    units["plans.query_api.cache_hit_share"] = "share"
    units["session.build_session.s"] = "s"
    units["trace.overhead_share"] = "share"
    return units


def span_metrics(tracer, names: list[str]) -> dict[str, float]:
    """`<span>.<stat>` medians over the calls of each named span."""
    from spans import STATS

    by = tracer.by_name()
    out = {}
    for name in names:
        calls = by.get(name, [])
        out[f"{name}.s"] = _median([tracer.wall_s(c) for c in calls])
        for k in STATS:
            out[f"{name}.{k}"] = _median([c[k] for c in calls])
    return out


def run_batch(run: Run) -> tuple[dict, dict, dict]:
    import corpus_batch
    import graph_iterative
    from spans import Tracer

    with run.own_work():
        import datagen

        rows = datagen.write_tables(run.data_dir, run.args.seed, datagen.TABLES)
    run.start_session()
    run.tracer = tracer = Tracer(run.spark, "batch", bool(run.args.trace))
    setup_s = run.setup_s()
    # one cold pass: each run is a new Spark application, as a submitted
    # batch job is, and a warm-up pass would not fit the run's budget
    corpus_dir, graph_dir = run.fresh_dir("corpus"), run.fresh_dir("graph")
    op_s: list[float] = []
    corpus_error = graph_error = None
    edges = 0
    with RssSampler([os.getpid(), run.jvm_pid()]) as rss:
        t = time.monotonic()
        try:
            op_s += corpus_batch.run_pass(run.spark, tracer, run.data_dir, corpus_dir)
        except Exception as exc:
            corpus_error = f"corpus: {type(exc).__name__}: {str(exc)[:300]}"
        corpus_s = time.monotonic() - t
        t = time.monotonic()
        try:
            edges, stage_s = graph_iterative.run_pass(run.spark, tracer, run.data_dir, graph_dir)
            op_s += stage_s
        except Exception as exc:
            graph_error = f"graph: {type(exc).__name__}: {str(exc)[:300]}"
        graph_s = time.monotonic() - t
    run.stop_spark()
    # correctness, outside the timed region: every committed output,
    # against its gate's oracle where the gate has one
    from oracles import GateOracles

    oracles = GateOracles(run.data_dir, list(corpus_batch.ORACLES.values())
                          + list(graph_iterative.ORACLES.values()))
    try:
        for step, _ in corpus_batch.STEPS:
            _check_output(run, oracles, corpus_dir, step, corpus_batch.ORACLES.get(step),
                          corpus_error)
        if edges > 0:  # the edge table
            run.op(True)
        else:
            run.wrong(f"link_graph_edges: no edges ({graph_error})")
        for out in graph_iterative.OUTPUTS:
            _check_output(run, oracles, graph_dir, out, graph_iterative.ORACLES.get(out),
                          graph_error)
    finally:
        oracles.close()
    op_ms = [t * 1000 for t in op_s]
    # only the steps and stages that committed a correct output count
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": (run.attempted - run.failed) / (corpus_s + graph_s),
    }
    layer = span_metrics(tracer, [n for _, n in corpus_batch.STEPS]
                         + ["plans.pipeline.PipelineTask.run"] + graph_iterative.SPANS)
    info = {
        "input_rows": rows,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "op_p50_ms": _percentile(op_ms, 50),
        "op_p90_ms": _percentile(op_ms, 90),
        "batch_docs_per_s": rows["documents"] / corpus_s,
        "graph_edges_per_s": edges / graph_s,
        "graph_edges": edges,
        "corpus_s": corpus_s,
        "graph_s": graph_s,
    }
    return e2e, layer, info


def _check_output(run: Run, oracles, pass_dir: str, step: str, gate: str | None,
                  pass_error: str | None) -> None:
    """One op per step: failed, and the run not correct, when the
    step's output was never committed (it or an earlier step raised)
    or differs from its oracle."""
    path = f"{pass_dir}/{step}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        run.wrong(f"{step}: no committed output ({pass_error})")
        return
    if gate is None:
        run.op(True)
        return
    try:
        reason = oracles.check(gate, path)
    except Exception as exc:
        reason = f"{gate}: check raised {type(exc).__name__}: {str(exc)[:200]}"
    if reason:
        run.wrong(reason)
    else:
        run.op(True)


def run_query_serving(run: Run) -> tuple[dict, dict, dict]:
    import numpy as np

    import query_serving as qs
    from spans import Tracer

    with run.own_work():
        import datagen
        from oracles import QueryOracles

        rows = datagen.write_tables(run.data_dir, run.args.seed, ("documents", "lineitem"))
    run.start_session()
    run.tracer = tracer = Tracer(run.spark, "query_serving", bool(run.args.trace))
    t = time.monotonic()
    svc = qs.Service(run.spark, tracer, run.data_dir)
    prebuild_s = time.monotonic() - t
    with run.own_work():
        # the expected pages, and the page counts the requests draw from
        oracle = QueryOracles(run.data_dir, qs.PAGE_SIZES, qs.SNIPPET_WIDTH)
        rng = np.random.default_rng([run.args.seed, 100])
        terms = datagen.vocabulary(oracle.documents["text"])
        catalog = qs.Catalog.from_oracle(rng, oracle, terms)
        warm_reqs = catalog.schedule(rng, qs.WARM_UP_REQUESTS)
        reqs = catalog.schedule(rng, int(round(qs.REQUESTS_PER_S * run.args.seconds)))
    t = time.monotonic()
    qs.closed_loop(svc, qs.QueryServer(run.spark, run.fresh_dir("cache-warmup")), warm_reqs)
    warmup_s = time.monotonic() - t
    setup_s = run.setup_s()
    server = qs.QueryServer(run.spark, run.fresh_dir("cache"))
    with RssSampler([os.getpid(), run.jvm_pid()]) as rss:
        outs, loop_s = qs.closed_loop(svc, server, reqs)
    run.stop_spark()
    for out in outs:
        if out.error is None:
            reason = oracle.check(out)
            if reason:
                run.mismatches.append(reason)
                out.error = reason
        run.op(out.error is None, out.error)
    oracle.close()
    # a failed request misses every latency limit: it counts as having
    # waited for the whole loop
    lat = [o.latency_ms if o.error is None else loop_s * 1000.0 for o in outs]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": sum(o.error is None for o in outs) / loop_s,
    }
    layer = {f"{n}.p50_ms": _median(v) for n, v in qs.latencies_by_name(outs).items()}
    cached = [o for o in outs if o.hit is not None]
    layer["plans.query_api.cache_hit_share"] = (
        sum(o.hit for o in cached) / len(cached) if cached else 0.0)
    layer.update(span_metrics(tracer, qs.PREBUILD_SPANS))
    info = {
        "input_rows": rows,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "setup_parts_s": {"session": run.session_s, "prebuild": prebuild_s,
                          "warm_up": warmup_s},
        "query_p50_ms": _percentile(lat, 50),
        "query_p90_ms": _percentile(lat, 90),
        "closed_loop": {"clients": 1, "requests": len(outs), "wall_s": loop_s},
        "cache_hit_share": layer["plans.query_api.cache_hit_share"],
    }
    return e2e, layer, info


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "commoncrawl_crawler_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no ccspark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    # the Spark JVM inherits fd 1 and logs to it: keep the real stdout
    # for the result and send everything else to stderr
    real_stdout = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, cpus)
    (run.work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run.work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run.work / "tmp")
    try:
        workload = {"batch": run_batch, "query_serving": run_query_serving}[args.workload]
        e2e, layer, info = workload(run)
        if args.trace:
            layer["session.build_session.s"] = run.session_s
            layer["trace.overhead_share"] = run.tracer.overhead_share()
            traces = run.base / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            run.tracer.write(str(traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    finally:
        run.stop()
    info.update(
        workload=args.workload, seed=args.seed, traced=bool(args.trace), cpus=cpus,
        shuffle_partitions=run.shuffle_partitions, end_to_end=e2e,
        own_setup_s=run.own_s,
        ops_attempted=run.attempted, ops_failed=run.failed,
        ops_failed_share=run.failed / max(run.attempted, 1), failures=run.errors,
    )
    units = layer_units() if args.trace else E2E_UNITS
    values = layer if args.trace else e2e
    result = {
        "correct": not run.mismatches and run.failed < run.attempted,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }
    real_stdout.write(json.dumps(info) + "\n")
    real_stdout.write(json.dumps(result, allow_nan=False) + "\n")
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
