"""The three workloads: one iteration each, on the library's public API.

Keys are ``sha256("{seed}:{i}")`` derived JVM-side by
``spark.keys.with_content_key_bin``. Iteration ``k`` reads its own
index range, so no iteration probes a filter another one built and the
library's content-keyed broadcast caches only serve the re-probes a
workload makes on purpose. Each iteration is a tree of spans: the
``iteration`` span, one child per library call plus the action that
runs it, and inside that a span around the call alone (the driver-side
time before any action returns).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from libfilter_spark.kernels.sizing import block_fpp
from libfilter_spark.spark.build import build_filters, select_build_strategy
from libfilter_spark.spark.forest import (build_filter_forest, freeze_filters,
                                          probe_with_forest)
from libfilter_spark.spark.keys import with_content_key_bin
from libfilter_spark.spark.probe import filter_semi_join, probe_with_filters
from libfilter_spark.spark.sketch_build import build_sketches

# block_global: the reference growth-sweep configuration. 3M keys at
# fpp 0.004 is a 4.8 MB filter, past the 4 MB size-router threshold,
# so the global build takes the sharded route. The probe side is N keys,
# half present: with 2N an iteration took 20-28 s on a 4-core box, more
# than the benchmark's run budget holds.
BLOCK_N = 3_000_000
BLOCK_FPP = 0.004
# tcf_forest_serve: Python kick-walk inserts cost several times a block
# insert per key, so the forest is smaller for a comparable iteration.
TCF_N = 1_000_000
TCF_FPP = 0.004
# grouped_skewed: many small blobs; every group gets the same ndv hint
# (the mean group size), as grouped builds do today.
GROUPED_N = 125_000
GROUPS = 2000
GROUPED_FPP = 0.01
HLL_P = 10
# a group's FPP enters the worst-group figure once this many absent
# keys probed it (fewer would make the maximum a small-sample extreme)
WORST_GROUP_MIN_ABSENT = 2000
# the TCF has no sizing model: its FPP is structural, at most two
# sides x SLOTS fingerprints of HEAD bits (taffy-cuckoo.h)
TCF_FPP_BOUND = 2 * 4 * 2.0 ** -10

# build route codes reported as build.route_code
ROUTE_CODES = {"partials": 1, "sharded": 2, "grouped_bulk": 3, "forest": 4}


class Run:
    """One benchmark process: the session, its tracer, the seed, and
    the correctness tally that becomes ``attempted`` / ``failed``."""

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.broadcast_bytes = 0
        self.kept: dict = {}  # last blob(s) each workload exposes to kernels

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def span(self, name: str, persists: int = 0):
        return self.tracer.span(name, persists)

    def frame(self, present_lo: int, absent_lo: int, n_present: int,
              n_absent: int | None = None):
        """Keys of indexes [present_lo, present_lo + n_present) flagged
        present, then [absent_lo, absent_lo + n_absent) flagged absent;
        with ``n_absent=0`` this is the build side. Columns: idx,
        content, present, key."""
        n_absent = n_present if n_absent is None else n_absent
        df = self.spark.range(0, n_present + n_absent)
        present = F.col("id") < n_present
        idx = F.when(present, F.lit(present_lo) + F.col("id")) \
            .otherwise(F.lit(absent_lo - n_present) + F.col("id"))
        df = df.select(idx.alias("idx"), present.alias("present")) \
            .withColumn("content", F.concat(F.lit(f"{self.seed}:"),
                                            F.col("idx").cast("string")))
        return with_content_key_bin(df, "content")


def offset(k: int, n: int) -> int:
    """First key index of iteration ``k`` (each reads 4n indexes)."""
    return k * 4 * n


def probe_counts(probed) -> dict:
    """One action: rows, hits, and the hit/miss split by presence."""
    m, p = F.col("maybe_seen"), F.col("present")
    r = probed.agg(F.count(F.lit(1)).alias("n"),
                   F.count_if(m).alias("hits"),
                   F.count_if(m & p).alias("tp"),
                   F.count_if(~m & p).alias("fn"),
                   F.count_if(m & ~p).alias("fp"),
                   F.count_if(~p).alias("absent")).first()
    return r.asDict()


def _frame_stats(filters) -> dict:
    r = filters.agg(F.count(F.lit(1)).alias("rows"),
                    F.sum(F.length("filter")).alias("bytes"),
                    F.sum("n_keys").alias("n_keys"),
                    F.sum("n_partials").alias("n_partials")).first()
    return {k: int(v or 0) for k, v in r.asDict().items()}


def _binomial_ok(fp: int, absent: int, p: float) -> bool:
    """Observed false positives within 5 sigma above the model."""
    mean = absent * p
    return fp <= mean + 5 * math.sqrt(max(mean * (1 - p), 1.0))


def _check_probe(run: Run, c: dict, what: str) -> None:
    run.check(c["fn"] == 0, f"{what}: {c['fn']} false negatives")


def block_global(run: Run, k: int, scale: float = 1.0) -> dict:
    """One global block filter (sharded route), an N-key probe (half
    present), and an exact-verified semi-join against the build keys."""
    n = int(BLOCK_N * scale)
    h = n // 2
    o = offset(k, BLOCK_N)
    build_df = run.frame(o, 0, n, 0).select("key")
    probe_df = run.frame(o, o + n, h, n - h).select("key", "present")
    with run.span("iteration"):
        with run.span("build", persists=1):
            with run.span("spark.build.build_filters"):
                filters = build_filters(build_df, None, ndv=BLOCK_N,
                                        fpp=BLOCK_FPP)
            filters = filters.cache()
            filters.count()
        with run.span("probe"):
            with run.span("spark.probe.probe_with_filters"):
                probed = probe_with_filters(probe_df, filters, None)
            c = probe_counts(probed)
        with run.span("semijoin"):
            with run.span("spark.probe.filter_semi_join"):
                joined = filter_semi_join(probe_df, build_df, filters, None)
            matched = joined.count()
    st = _frame_stats(filters)
    _check_probe(run, c, "block probe")
    run.check(matched == h, f"semi-join matched {matched} of {h}")
    run.check(st["n_keys"] == n, f"build holds {st['n_keys']} of {n} keys")
    model = block_fpp(n, st["bytes"])
    run.check(_binomial_ok(c["fp"], c["absent"], model),
              f"block fpp {c['fp']}/{c['absent']} above model {model:.5f}")
    if run.tracer.traced:
        from libfilter_spark.spark.sharded import assemble_block_shards
        run.kept = {"family": "block", "blob": assemble_block_shards(filters),
                    "ndv": BLOCK_N, "fpp": BLOCK_FPP, "lo": o + n - (1 << 19)}
    filters.unpersist(blocking=True)
    route = select_build_strategy("block", False, BLOCK_N, BLOCK_FPP)
    return {"n": n, "probe_keys": n,
            "build_s": ("build",), "probe_s": ("probe",),
            "bytes": st["bytes"], "fp": c["fp"], "absent": c["absent"],
            "fpp": BLOCK_FPP, "fpp_ratio": c["fp"] / c["absent"] / BLOCK_FPP,
            "hits": c["hits"], "tp": c["tp"],
            "n_partials": st["n_partials"], "route": route,
            "shard_rows": st["rows"] if route == "sharded" else 0}


def tcf_forest_serve(run: Run, k: int, scale: float = 1.0) -> dict:
    """A live taffy-cuckoo forest: build, live probe, freeze, then two
    probes of the frozen frame with disjoint key sets (the second is
    served by the library's probe cache)."""
    n = int(TCF_N * scale)
    h = n // 2
    o = offset(k, TCF_N)
    build_df = run.frame(o, 0, n, 0).select("key")
    live_df = run.frame(o, o + n, n).select("key", "present")
    a_df = run.frame(o, o + 2 * n, h).select("key", "present")
    b_df = run.frame(o + h, o + 2 * n + h, n - h).select("key", "present")
    with run.span("iteration"):
        with run.span("build", persists=1):
            with run.span("spark.forest.build_filter_forest"):
                forest = build_filter_forest(
                    build_df, family="taffy_cuckoo", ndv=TCF_N, fpp=TCF_FPP,
                    engine="arrow", freeze=False)
            forest = forest.cache()
            forest.count()
        with run.span("probe_live"):
            with run.span("spark.probe.probe_with_filters"):
                probed = probe_with_filters(live_df, forest, None)
            c_live = probe_counts(probed)
        with run.span("freeze", persists=1):
            with run.span("spark.forest.freeze_filters"):
                frozen = freeze_filters(forest)
            frozen = frozen.cache()
            frozen.count()
        with run.span("probe_frozen"):
            with run.span("spark.forest.probe_with_forest"):
                probed = probe_with_forest(a_df, frozen)
            c_a = probe_counts(probed)
        with run.span("reprobe_frozen"):
            with run.span("spark.forest.probe_with_forest"):
                probed = probe_with_forest(b_df, frozen)
            c_b = probe_counts(probed)
    live, fr = _frame_stats(forest), _frame_stats(frozen)
    for c, what in ((c_live, "live"), (c_a, "frozen"), (c_b, "re-probe")):
        _check_probe(run, c, f"tcf {what} probe")
        run.check(_binomial_ok(c["fp"], c["absent"], TCF_FPP_BOUND),
                  f"tcf {what} fpp {c['fp']}/{c['absent']} above bound")
    run.check(live["n_keys"] == n, f"forest holds {live['n_keys']} of {n}")
    run.check(fr["bytes"] < live["bytes"], "freeze did not shrink the forest")
    if run.tracer.traced:
        row = lambda df: df.where(F.col("__shard") == 0) \
            .select("filter").first()["filter"]
        run.kept = {"family": "taffy_cuckoo", "blob": bytes(row(forest)),
                    "frozen": bytes(row(frozen)), "ndv": TCF_N,
                    "fpp": TCF_FPP, "lo": o + n - (1 << 19)}
    forest.unpersist(blocking=True)
    frozen.unpersist(blocking=True)
    cs = (c_live, c_a, c_b)
    fp, absent = sum(c["fp"] for c in cs), sum(c["absent"] for c in cs)
    return {"n": n, "probe_keys": sum(c["n"] for c in cs),
            "build_s": ("build",),
            "probe_s": ("probe_live", "probe_frozen", "reprobe_frozen"),
            "bytes": live["bytes"], "bytes_frozen": fr["bytes"],
            "fp": fp, "absent": absent, "fpp": TCF_FPP,
            "fpp_ratio": fp / absent / TCF_FPP,
            "hits": sum(c["hits"] for c in cs),
            "tp": sum(c["tp"] for c in cs),
            "n_partials": live["n_partials"], "route": "forest",
            "shard_rows": live["rows"]}


def _zipf_group(content, groups: int):
    """Group of a key: u uniform in [0, 1) from a content hash, then
    floor((G + 1) ** u) - 1, so group g holds a share proportional to
    log((g + 2) / (g + 1)) ~ 1 / (g + 1.5): Zipf with exponent 1."""
    u = F.pmod(F.xxhash64(F.lit("g"), content), F.lit(1 << 53)) \
        / F.lit(float(1 << 53))
    g = F.floor(F.exp(u * F.lit(math.log(groups + 1)))) - 1
    return F.least(F.greatest(g, F.lit(0)), F.lit(groups - 1)).cast("int")


def grouped_skewed(run: Run, k: int, scale: float = 1.0) -> dict:
    """Thousands of Zipf-sized groups over one key stream: grouped
    build, broadcast and cogroup probes, and HLL/KLL sketches."""
    n = int(GROUPED_N * scale)
    ndv = GROUPED_N // GROUPS
    # a scaled-down pass keeps the group size and ndv hint, so the same
    # routes run, with proportionally fewer groups
    groups = max(1, int(GROUPS * scale))
    o = offset(k, GROUPED_N)

    def grouped(df):
        v = F.pmod(F.xxhash64(F.lit("v"), F.col("content")),
                   F.lit(1 << 20)) / F.lit(float(1 << 20))
        g = _zipf_group(F.col("content"), groups)
        return df.select("key", "present", g.alias("g"), v.alias("v"))

    build_df = grouped(run.frame(o, 0, n, 0)).drop("present")
    probe_df = grouped(run.frame(o, o + n, n)).drop("v")
    with run.span("iteration"):
        with run.span("build", persists=1):
            with run.span("spark.build.build_filters"):
                filters = build_filters(build_df, ["g"], ndv=ndv,
                                        fpp=GROUPED_FPP)
            filters = filters.cache()
            filters.count()
        with run.span("probe"):
            with run.span("spark.probe.probe_with_filters"):
                probed = probe_with_filters(probe_df, filters, ["g"],
                                            via="auto")
            m, p = F.col("maybe_seen"), F.col("present")
            per_group = probed.groupBy("g").agg(
                F.count_if(m).alias("hits"), F.count_if(m & p).alias("tp"),
                F.count_if(~m & p).alias("fn"),
                F.count_if(m & ~p).alias("fp"),
                F.count_if(~p).alias("absent")).collect()
        with run.span("probe_cogroup"):
            with run.span("spark.probe.probe_with_filters"):
                probed = probe_with_filters(probe_df, filters, ["g"],
                                            via="shuffle")
            c_sh = probe_counts(probed)
        with run.span("sketch_hll"):
            with run.span("spark.sketch_build.build_sketches"):
                sk = build_sketches(build_df, ["g"], "key", kind="hll",
                                    p=HLL_P)
            hll = sk.select("g", "n_rows", "sketch").collect()
        with run.span("sketch_kll"):
            with run.span("spark.sketch_build.build_sketches"):
                sk = build_sketches(build_df, ["g"], "v", kind="kll")
            kll = sk.select("g", "n_rows", "sketch").collect()
    sizes = {r["g"]: (int(r["n_keys"]), int(r["b"])) for r in filters.select(
        "g", "n_keys", F.length("filter").alias("b")).collect()}
    st = _frame_stats(filters)
    tot = {f: sum(r[f] for r in per_group)
           for f in ("hits", "tp", "fn", "fp", "absent")}
    _check_probe(run, tot, "grouped broadcast probe")
    _check_probe(run, c_sh, "grouped cogroup probe")
    run.check(c_sh["hits"] == tot["hits"],
              f"cogroup hits {c_sh['hits']} != broadcast hits {tot['hits']}")
    run.check(st["n_keys"] == n, f"grouped build holds {st['n_keys']} of {n}")
    # the sizing model, per group at its actual count and size: pooled
    # false positives within 5 sigma of the summed binomial expectation
    mean = var = 0.0
    worst = 0.0
    model: dict[tuple, float] = {}
    for r in per_group:
        cnt, nbytes = sizes.get(r["g"], (0, 32))
        q = model.setdefault((cnt, nbytes), block_fpp(cnt, nbytes))
        mean += r["absent"] * q
        var += r["absent"] * q * (1 - q)
        if r["absent"] >= WORST_GROUP_MIN_ABSENT:
            worst = max(worst, r["fp"] / r["absent"] / GROUPED_FPP)
    run.check(tot["fp"] <= mean + 5 * math.sqrt(max(var, 1.0)),
              f"grouped fpp {tot['fp']} above model mean {mean:.0f}")
    from libfilter_spark.sketches import SKETCHES
    est = sum(SKETCHES["hll"].deserialize(bytes(r["sketch"])).estimate()
              for r in hll)
    run.check(abs(est - n) <= 0.05 * n, f"hll total {est:.0f} vs {n}")
    run.check(sum(r["n_rows"] for r in kll) == n, "kll rows != keys")
    # the sample median of m U(0,1) values has sd 1 / (2 sqrt(m)): allow
    # 5 sd plus the sketch's own rank error
    big = max(kll, key=lambda r: r["n_rows"])
    med = SKETCHES["kll"].deserialize(bytes(big["sketch"])).quantile(0.5)
    tol = 0.02 + 2.5 / math.sqrt(big["n_rows"])
    run.check(abs(med - 0.5) <= tol,
              f"kll median {med:.3f} of U(0,1) (tolerance {tol:.3f})")
    if run.tracer.traced:
        g0 = max(sizes, key=lambda g: sizes[g][0])
        blob = filters.where(F.col("g") == g0).select("filter").first()
        run.kept = {"family": "block", "blob": bytes(blob["filter"]),
                    "ndv": ndv, "fpp": GROUPED_FPP, "lo": o + n - (1 << 19)}
    filters.unpersist(blocking=True)
    return {"n": n, "probe_keys": 2 * (2 * n),
            "build_s": ("build",), "probe_s": ("probe", "probe_cogroup"),
            "bytes": st["bytes"], "fp": tot["fp"], "absent": tot["absent"],
            "fpp": GROUPED_FPP, "hits": tot["hits"], "tp": tot["tp"],
            "n_partials": st["n_partials"],
            "route": select_build_strategy("block", True, ndv, GROUPED_FPP),
            "shard_rows": 0, "fpp_ratio": worst,
            "sketch_rows": 2 * n,
            "sketch_bytes.hll": sum(len(r["sketch"]) for r in hll),
            "sketch_bytes.kll": sum(len(r["sketch"]) for r in kll)}


WORKLOADS = {
    "block_global": block_global,
    "tcf_forest_serve": tcf_forest_serve,
    "grouped_skewed": grouped_skewed,
}
