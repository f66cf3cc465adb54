"""Lifecycle benchmark: filter build -> broadcast -> probe -> verify.

    python3 lifecycle_bench/run.py --workload block_global --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. One driver process runs one Spark job at
a time on ``local[<cores>]`` (a closed loop, no threads of its own):
set-up (session, Python workers, one untimed warm pass on other keys),
then iterations of the workload until ``--seconds`` have passed. Every
output is checked; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
iteration and reports the per-layer metrics (see README.md for the
metric-to-layer map).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python can see it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from queries import metric_units  # noqa: E402

WORKLOAD_NAMES = ("block_global", "tcf_forest_serve", "grouped_skewed")
# the workloads BENCHMARK.json lists: a set-up costs about 30 s on a
# 4-core box, and the 4 + 22 x (listed workloads) runs of a benchmark
# set must fit in 3420 s, which holds two; tcf_forest_serve still runs
# on its own by name, and as the forest pass of block_global's traced
# runs
BENCHMARK_WORKLOADS = ("block_global", "grouped_skewed")

# the warm pass's share of an iteration's keys (same ndv hint, so the
# same routes run)
WARM_SCALE = 0.05
WARM_K = 1000  # warm passes read index ranges no timed iteration reads
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "build_keys_per_s": "keys/s",
    "probe_keys_per_s": "keys/s",
    "bits_per_key": "bit/key",
    "fpp_ratio": "ratio",
    "broadcast_bytes": "bytes",
    "peak_rss_mb": "MB",
}
# end-to-end figures of one workload only (or always 0 at a correct
# commit): printed in the --trace 0 table from the plain iterations but
# kept out of the JSON, whose metrics every workload must report nonzero
TABLE_ONLY = {
    "semijoin_s": "s",            # block_global
    "sketch_rows_per_s": "rows/s",  # grouped_skewed
    "failed_ops_frac": "ratio",
}
# traced runs of these workloads end with a pass over layers their own
# iterations do not reach: one tcf_forest_serve iteration (after an
# untimed one at WARM_SCALE), or the query pass (queries.py)
FOREST_PASS_WORKLOAD = "block_global"
QUERY_PASS_WORKLOAD = "grouped_skewed"

_BATCHES = (4096, 65536, 1 << 20)
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "keys.keys_s": "s",
    "keys.keys_per_s": "keys/s",
    "build.driver_s": "s",
    "build.exec_s": "s",
    "build.n_partials": "count",
    "build.merge_shuffle_bytes": "bytes",
    "build.route_code": "code",
    "sharded.shard_rows": "count",
    "sharded.shuffle_bytes": "bytes",
    "forest.build_s": "s",
    "forest.freeze_s": "s",
    "forest.bytes_live": "bytes",
    "forest.bytes_frozen": "bytes",
    "forest.shuffle_bytes": "bytes",
    "probe.driver_s": "s",
    "probe.exec_s": "s",
    "probe.reprobe_driver_s": "s",
    "probe.cogroup_s": "s",
    "probe.hits": "count",
    "probe.precision": "ratio",
    "semijoin.semijoin_s": "s",
    "semijoin.verify_join_s": "s",
    "semijoin.candidate_rows": "count",
    "sketch.exec_s.hll": "s",
    "sketch.exec_s.kll": "s",
    "sketch.bytes.hll": "bytes",
    "sketch.bytes.kll": "bytes",
    "sketch.rows_per_s": "rows/s",
    "fpp.pooled_ratio": "ratio",
    "block.deserialize_ms": "ms",
    "taffy_cuckoo.deserialize_ms": "ms",
    "frozen_taffy_cuckoo.deserialize_ms": "ms",
    **{f"{fam}.{op}_ns_per_key.{b}": "ns/key"
       for fam, op in (("block", "add"), ("block", "find"),
                       ("taffy_cuckoo", "add"), ("taffy_cuckoo", "find"),
                       ("frozen_taffy_cuckoo", "find"))
       for b in _BATCHES},
    **{f"kernels.block.{step}_ns.{b}": "ns/key"
       for step in ("key_extract", "bucket_index", "make_masks",
                    "gather_test", "scatter")
       for b in _BATCHES},
    "iter.job_s_traced": "s",
    "iter.other_s": "s",
    "iter.span_coverage": "ratio",
    "leak.persisted_rdds": "count",
    "leak.shm_files": "count",
    "box.sentinel_start_ns_per_key": "ns/key",
    "box.sentinel_end_ns_per_key": "ns/key",
    "failed_ops_frac": "ratio",
    **metric_units(),
}

# top-level spans of each kind, across the three workloads
_FIRST_PROBES = ("probe", "probe_live", "probe_frozen")
_ALL_PROBES = _FIRST_PROBES + ("reprobe_frozen", "probe_cogroup")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _warm_noop(batches):
    for _ in batches:
        pass
    return iter(())


class Bench:
    """One benchmark process: session lifecycle plus the sample store."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.samples: dict[str, list[float]] = {}
        self.spark = None

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    # --- session --------------------------------------------------------
    def start_session(self):
        from libfilter_spark.spark.session import get_spark
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: peak RSS then moves with the
            # Python workers and off-heap memory, not with how far the
            # collector happened to grow the heap in this run
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark("lifecycle-bench", cpus=cpus,
                               extra_conf=conf)
        return self.spark

    @property
    def eventlog_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def warm_workers(self) -> None:
        """Start every Python worker (one noop task per core)."""
        par = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, par * 1024, 1, par) \
            .mapInArrow(_warm_noop, "id long").count()

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait for every child to end.
        Safe to call again once everything has stopped."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        _reap_children()


def _reap_children(timeout: float = 30.0) -> None:
    """Wait for descendants (Python workers) to exit; terminate late ones."""
    from spans import process_tree
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
        try:  # collect exited direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _phase(name: str, *notes: str) -> None:
    """Timeline on stderr: seconds since process start at each phase end."""
    print(f"phase {name} {time.perf_counter() - T0:.2f}", *notes,
          file=sys.stderr)


def hook_broadcasts(sc, run) -> None:
    """Count the bytes every driver-side broadcast ships: PySpark dumps
    the pickled value to a file before handing it to the JVM."""
    orig = sc.broadcast

    def broadcast(value):
        bc = orig(value)
        path = getattr(bc, "_path", None)
        if path and os.path.exists(path):
            run.broadcast_bytes += os.path.getsize(path)
        return bc

    sc.broadcast = broadcast


def run_benchmark(b: Bench) -> tuple[object, dict]:
    from kernels import kernel_metrics, sentinel_ns_per_key
    from spans import Tracer, stage_costs, tree_peak_rss_mb
    from workloads import WORKLOADS, Run
    args = b.args
    workload = WORKLOADS[args.workload]

    t = time.perf_counter()
    b.add("box.sentinel_start_ns_per_key", sentinel_ns_per_key())
    sentinel_s = time.perf_counter() - t

    tracer = Tracer(traced=False)
    run = Run(None, tracer, args.seed)
    t = time.perf_counter()
    run.spark = spark = b.start_session()
    b.add("session.start_s", time.perf_counter() - t)
    t = time.perf_counter()
    b.warm_workers()
    b.add("session.worker_warm_s", time.perf_counter() - t)
    hook_broadcasts(spark.sparkContext, run)
    workload(run, WARM_K, WARM_SCALE)
    b.add("setup_s", time.perf_counter() - T0 - sentinel_s)
    _phase("setup")
    tracer.spans.clear()
    tracer.bind(spark.sparkContext)

    results = []
    deadline = time.perf_counter() + args.seconds
    k = 0
    # iterations run while the next one is expected to end inside the
    # window (the first always runs)
    tracer.traced = bool(args.trace)
    while k == 0 or time.perf_counter() + statistics.median(
            r["job_s"] for r in results) <= deadline:
        tracer.iteration = k
        run.broadcast_bytes = 0
        try:
            r = workload(run, k)
        except Exception as e:  # a failed operation; stop the loop
            run.check(False, f"iteration {k}: {type(e).__name__}: {e}")
            break
        r["k"] = k
        r["job_s"] = tracer.seconds("iteration", k)
        r["broadcast_bytes"] = run.broadcast_bytes
        results.append(r)
        k += 1
    tracer.traced = False
    _phase("loop", *(f"{r['job_s']:.2f}" for r in results))

    extra, side = {}, []
    if args.trace and results:
        from pyspark.sql import functions as F
        n = results[-1]["n"]
        keys = run.frame(0, 0, n, 0).select(F.bit_xor(F.xxhash64("key")))
        t = time.perf_counter()
        keys.first()
        extra["keys.keys_s"] = time.perf_counter() - t
        extra["keys.keys_per_s"] = n / extra["keys.keys_s"]
        extra.update(kernel_metrics(run.kept, args.seed))
        if args.workload == FOREST_PASS_WORKLOAD:
            side.append(forest_pass(run, len(results)))
            extra.update(kernel_metrics(run.kept, args.seed))
            _phase("forest", f"{side[-1]['job_s']:.2f}")
        if args.workload == QUERY_PASS_WORKLOAD:
            from queries import run_queries
            extra.update(run_queries(run, b.work))
            _phase("queries")
    b.add("peak_rss_mb", tree_peak_rss_mb(os.getpid()))
    app_id = spark.sparkContext.applicationId
    _phase("post")
    b.stop_session()
    _phase("stop")
    b.add("box.sentinel_end_ns_per_key", sentinel_ns_per_key())
    costs = stage_costs(b.eventlog_dir, app_id) if args.trace else {}
    return run, {"results": results, "tracer": tracer, "costs": costs,
                 "extra": extra, "side": side}


def forest_pass(run, k: int) -> dict:
    """A traced tcf_forest_serve iteration numbered ``k``, after an
    untimed one on other keys so its first-call costs stay out."""
    from workloads import tcf_forest_serve
    tracer = run.tracer
    tracer.traced, tracer.iteration = False, None
    tcf_forest_serve(run, WARM_K + 1, WARM_SCALE)
    tracer.traced, tracer.iteration = True, k
    r = tcf_forest_serve(run, k)
    tracer.traced = False
    r["k"], r["job_s"] = k, tracer.seconds("iteration", k)
    return r


def _span_seconds(tracer, k: int, names) -> float:
    return sum(s["end"] - s["start"] for s in tracer.top_level(k)
               if s["name"] in names)


def _call_seconds(tracer, k: int, names) -> float:
    """Driver time of the library calls directly inside the named spans."""
    tops = {s["id"] for s in tracer.top_level(k) if s["name"] in names}
    return sum(s["end"] - s["start"] for s in tracer.spans
               if s["parent"] in tops)


def end_to_end(samples: dict, results: list, run) -> None:
    for r in results:
        samples.setdefault("job_s", []).append(r["job_s"])
        samples.setdefault("build_keys_per_s", []).append(
            r["n"] / r["build_time"])
        samples.setdefault("probe_keys_per_s", []).append(
            r["probe_keys"] / r["probe_time"])
        samples.setdefault("bits_per_key", []).append(8 * r["bytes"] / r["n"])
        samples.setdefault("fpp_ratio", []).append(r["fpp_ratio"])
        samples.setdefault("broadcast_bytes", []).append(r["broadcast_bytes"])
        if r["semijoin_time"]:
            samples.setdefault("semijoin_s", []).append(r["semijoin_time"])
        if r["sketch_time"]:
            samples.setdefault("sketch_rows_per_s", []).append(
                r["sketch_rows"] / r["sketch_time"])
    samples["failed_ops_frac"] = [run.failed / max(run.attempted, 1)]


def per_layer(samples: dict, results: list, side: list, tracer,
              costs: dict, extra: dict, run) -> None:
    """Per-layer samples from the traced iterations; of a side pass's
    forest iteration only the ``forest.*`` figures are kept."""
    from spans import span_cost
    from workloads import ROUTE_CODES

    def cost(k, names, field):
        return sum(span_cost(costs, tracer, s["id"], field)
                   for s in tracer.top_level(k) if s["name"] in names)

    def forest(r):
        k = r["k"]
        return {"forest.build_s": _span_seconds(tracer, k, ("build",)),
                "forest.freeze_s": _span_seconds(tracer, k, ("freeze",)),
                "forest.bytes_live": r["bytes"],
                "forest.bytes_frozen": r["bytes_frozen"],
                "forest.shuffle_bytes": cost(k, ("build",), "shuffle_write")}

    measured_elsewhere = set(samples) | set(extra)
    for r in results:
        k = r["k"]
        m = dict.fromkeys(PER_LAYER, 0.0)
        covered = sum(s["end"] - s["start"] for s in tracer.top_level(k))
        m["iter.job_s_traced"] = r["job_s"]
        m["iter.other_s"] = r["job_s"] - covered
        m["iter.span_coverage"] = covered / r["job_s"]
        route = r["route"]
        m["build.route_code"] = ROUTE_CODES[route]
        m["build.driver_s"] = _call_seconds(tracer, k, ("build",))
        m["build.exec_s"] = cost(k, ("build",), "exec_s")
        m["build.n_partials"] = r["n_partials"]
        shuffle = cost(k, ("build",), "shuffle_write")
        if route == "sharded":
            m["sharded.shard_rows"] = r["shard_rows"]
            m["sharded.shuffle_bytes"] = shuffle
        elif route == "forest":
            m.update(forest(r))
        else:
            m["build.merge_shuffle_bytes"] = shuffle
        m["probe.driver_s"] = _call_seconds(tracer, k, _FIRST_PROBES)
        m["probe.exec_s"] = cost(k, _ALL_PROBES, "exec_s")
        m["probe.reprobe_driver_s"] = _call_seconds(
            tracer, k, ("reprobe_frozen", "semijoin"))
        m["probe.cogroup_s"] = _span_seconds(tracer, k, ("probe_cogroup",))
        m["probe.hits"] = r["hits"]
        m["probe.precision"] = r["tp"] / r["hits"] if r["hits"] else 0.0
        semijoin = _span_seconds(tracer, k, ("semijoin",))
        if semijoin:
            # the semi-join's own probe reuses the first probe's
            # broadcast, so its candidate count costs the first probe
            # minus that probe's driver-side collect and broadcast
            probe = _span_seconds(tracer, k, ("probe",))
            m["semijoin.semijoin_s"] = semijoin
            m["semijoin.verify_join_s"] = semijoin - (
                probe - _call_seconds(tracer, k, ("probe",)))
            m["semijoin.candidate_rows"] = r["hits"]
        sketch = _span_seconds(tracer, k, ("sketch_hll", "sketch_kll"))
        if sketch:
            m["sketch.exec_s.hll"] = cost(k, ("sketch_hll",), "exec_s")
            m["sketch.exec_s.kll"] = cost(k, ("sketch_kll",), "exec_s")
            m["sketch.bytes.hll"] = r["sketch_bytes.hll"]
            m["sketch.bytes.kll"] = r["sketch_bytes.kll"]
            m["sketch.rows_per_s"] = r["sketch_rows"] / sketch
        m["fpp.pooled_ratio"] = r["fp"] / r["absent"] / r["fpp"]
        for name, v in m.items():
            if name not in measured_elsewhere:
                samples.setdefault(name, []).append(v)
    for r in side:
        for name, v in forest(r).items():
            samples[name] = [v]
    for name, v in extra.items():
        samples[name] = [v]
    samples["leak.persisted_rdds"] = [tracer.leaked_rdds]
    samples["leak.shm_files"] = [tracer.leaked_shm]
    samples["failed_ops_frac"] = [run.failed / max(run.attempted, 1)]
    for name in PER_LAYER:
        samples.setdefault(name, [0.0])


def print_spans(tracer, costs: dict) -> None:
    """Write out the traced iterations' spans: wall time, then the
    summed task time and shuffle bytes of the stages each launched."""
    from spans import span_cost
    depth: dict[int, int] = {}
    for s in tracer.spans:
        if s["iter"] is None:  # an untimed warm pass
            continue
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
        sid = s["id"]
        print(f"span {s['iter']:>3} {'  ' * depth[sid]}{s['name']:<40s} "
              f"wall={s['end'] - s['start']:.3f}s "
              f"task={span_cost(costs, tracer, sid, 'exec_s'):.3f}s "
              f"shuffle_w={span_cost(costs, tracer, sid, 'shuffle_write'):.0f}B")


def report(samples: dict, units: dict, run,
           table_only: dict | None = None) -> dict:
    """Print one table row per metric (then the ``table_only`` ones this
    workload measured), return the result object."""
    from stats import summarize
    metrics = {}
    rows = list(units.items()) + [(n, u) for n, u in (table_only or {}).items()
                                  if n in samples]
    for name, unit in rows:
        s = summarize(samples[name])
        tail = f"p{s['p']}={s['p_value']:.6g}" if "p" in s else "p=-"
        print(f"{name:44s} {s['median']:>16.6g} {unit:8s} "
              f"{tail:18s} n={s['n']}")
        if name in units:
            metrics[name] = {"value": s["median"], "unit": unit}
    for what in run.problems:
        print(f"FAILED: {what}")
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "libfilter_spark",
                                       "__init__.py")):
        print("libfilter_spark is not beside the benchmark directory; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    for d in ("local", "warehouse", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    b = Bench(args, work)
    try:
        run, trace = run_benchmark(b)
    except Exception as e:  # nothing to report: the run itself broke
        print(f"benchmark failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        b.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    samples = b.samples
    results = trace["results"]
    if not results:
        for what in run.problems:
            print(f"FAILED: {what}", file=sys.stderr)
        return 1
    for r in results:
        r["build_time"] = _span_seconds(trace["tracer"], r["k"],
                                        r["build_s"])
        r["probe_time"] = _span_seconds(trace["tracer"], r["k"],
                                        r["probe_s"])
        r["semijoin_time"] = _span_seconds(trace["tracer"], r["k"],
                                           ("semijoin",))
        r["sketch_time"] = _span_seconds(trace["tracer"], r["k"],
                                         ("sketch_hll", "sketch_kll"))
    if args.trace:
        print_spans(trace["tracer"], trace["costs"])
        per_layer(samples, results, trace["side"], trace["tracer"],
                  trace["costs"], trace["extra"], run)
        out = report(samples, PER_LAYER, run)
    else:
        end_to_end(samples, results, run)
        out = report(samples, END_TO_END, run, TABLE_ONLY)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
