"""Distributed filter build — Spark's partial+final aggregate shape.

Stage 1 (map-side combine, ``mapInArrow`` over ``partial_batches``):
every task folds its input batches into one partial filter per group
it sees. No row shuffle happens — a task emits one (group, blob) row
per group, so the only shuffled payload is KB-sized filter state.
This is the distributed analogue of the reference's single-process
insert loop (``c/include/filter/block.h:127-138``), and the reason
the design scales: at 100 TB the shuffle carries ~(tasks × groups)
blobs, not 10^12 rows.

Stage 2 (``merge_partials``: one or two ``mapInArrow`` levels over
``merge_partial_batches``): per group, fold partial blobs with the
family's union (OR for block families — ``c/lib/block.c:68``'s TODO
implemented; the TCF union algorithm of
``c/lib/taffy-cuckoo.c:260-348`` for cuckoo filters). The sketch
build (spark/sketch_build.py) runs both stages with its own spec.

Families must be *mergeable* for this path. Large builds shuffle
keys instead (``select_build_strategy``): a global block filter, and
the filters of grouped block and taffy_block builds past a 10M ndv
hint, are built on disjoint bucket ranges (spark/sharded.py). The static
XOR filter (one-shot bulk build, no union — ``c/lib/static.c:12-82``)
and the other large grouped builds shuffle (group, key) pairs into
one bulk build per group via ``applyInArrow``.
"""

from __future__ import annotations

import functools
import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType)

from ..filters import FAMILIES
from ..kernels.keys import drop_null_keys, keys_from_arrow


def create_filter(family: str, ndv: int, fpp: float):
    cls = FAMILIES[family]
    if family == "block":
        return cls.create_with_ndv_fpp(ndv, fpp)
    return cls.create(ndv, fpp)


def estimate_filter_bytes(family: str, ndv: int, fpp: float) -> int:
    """Rough final-size estimate used ONLY for strategy routing —
    order-of-magnitude fidelity is enough (the route changes at
    ``_SHARDED_MIN``, 4 MB, not at a tight bound)."""
    import math
    from ..kernels.sizing import block_bytes_needed
    if family in ("block", "taffy_block"):
        # TBF's top level dominates; the stack is < 2x the top level
        return block_bytes_needed(max(1, ndv), fpp)
    if family == "bloom":
        return int(-ndv * math.log(max(fpp, 1e-12)) /
                   (math.log(2) ** 2) / 8) + 64
    if family in ("taffy_cuckoo", "minimal_taffy_cuckoo",
                  "frozen_taffy_cuckoo"):
        # 2-byte slots at ~90% target load, two sides
        return int(2 * ndv / 0.9) + 64
    if family == "static_xor":
        return int(2.0 * ndv) + 64  # static.c:13 size factor ceiling
    return 0


def select_build_strategy(family: str, grouped: bool, ndv: int,
                          fpp: float) -> str:
    """Pick the build path by estimated filter size — the difference
    between 'works at sf0.1' and 'works at 100 TB':

    - ``partials``: map-side combine, shuffle = tasks x filter_bytes of
      blobs. Right while filters are small (KBs-MBs) — zero row
      shuffle.
    - ``sharded``: global block filters past the threshold; keys
      shuffle once (8 B/row), each task owns a disjoint bucket range,
      result stays distributed (spark/sharded.py). Full-size per-task
      partials were measured to anti-scale here: tasks x 80 MB blobs
      of merge traffic GC-thrash the JVM.
    - ``grouped_bulk``: grouped builds past the threshold (and static
      XOR always, which NEEDS all group keys in one task —
      ``c/lib/static.c:12-82``): shuffle (group, key) rows, build each
      group's filter exactly once. Trades an 8 B/row shuffle for
      removing the tasks-x-bytes blob merge entirely. Block and
      taffy_block groups past a 10M ndv hint build on bucket ranges
      spread over every task, the rest one task per group
      (``_build_grouped``).

    The threshold is ``_SHARDED_MIN``.
    """
    if family == "static_xor":
        return "grouped_bulk"
    if estimate_filter_bytes(family, ndv, fpp) >= _SHARDED_MIN:
        if grouped:
            return "grouped_bulk"
        if family == "block":
            return "sharded"
    return "partials"


# Build routing thresholds, all on PLAN-TIME size estimates.
#
# _SHARDED_MIN (4 MB, was 32 MB): global block filters at or past it
# take the sharded route. The sharded path beat partials at every
# measured size down to ~1.5 MB filters (5M keys/7.5 MB: 1.8-2.2 s
# sharded vs 2.78 s partials, local[32] in-process A/B), and the
# shard-frame probe assembles per worker, so probe speed matches the
# single blob. Below 4 MB the single mergeable row is kept for its
# streaming/merge semantics.
#
# _WIDEN_MIN_BYTES and _SMALL_MERGE_MAX (round 7): the
# partial-widening repartition and the two-level content-bucketed
# merge tree exist for HEAVY builds (MB-GB filters × many tasks); for
# small filters they are pure overhead — a 96 KB global build measured
# 1.38 s through the widen + tree vs 0.24 s of actual build work. The
# merge routes on estimate × defaultParallelism, so a cluster with
# thousands of cores crosses it at proportionally smaller partials.
_SHARDED_MIN = 4 << 20
# Grouped block and taffy_block builds with an ndv hint at or past this
# take the bucket-range route. taffy_block: that route pre-sizes level
# 0 at 1.25x the hint + 64 and raises once a group passes it, while the
# bulk below grows a level; the raise must not reach builds that grow
# today, and the line goes once each group is sized from its own key
# count. block: the bytes are the same either way, but below the line
# the bulk was faster (16 Zipf groups at ndv 4M: 6.20 against 6.88 s,
# BENCH/grouped_shard_ab.json) since the route's second stage shuffles
# every group's slices.
_GROUPED_SHARDS_MIN = 10_000_000
_WIDEN_MIN_BYTES = 1 << 20
_SMALL_MERGE_MAX = 64 << 20
# buckets of the merge tree's first level
_MERGE_FANIN = 16


def group_segments(cols: list, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Segment ``n`` rows by their group-key tuple: a stable row order
    that puts equal tuples next to each other, and the offsets in it
    where every group after the first starts, so
    ``np.split(order, bounds)`` yields each group's rows in input
    order. ``cols`` holds one array per group column, of any type
    ``pd.factorize`` reads. Null is a key value like any other, as in
    Spark's ``groupBy`` (pandas ``dropna=False``). With no columns all
    rows are one group."""
    invs, sizes = [], []
    for col in cols:
        inv, u = pd.factorize(col, use_na_sentinel=False)
        invs.append(inv.astype(np.int64))
        sizes.append(max(len(u), 1))
    prod = 1
    for s in sizes:
        prod *= s
    if prod < (1 << 62):
        gkey = np.zeros(n, dtype=np.int64)
        for inv, s in zip(invs, sizes):
            gkey = gkey * np.int64(s) + inv
        order = np.argsort(gkey, kind="stable")
        gs = gkey[order]
        bounds = np.flatnonzero(gs[1:] != gs[:-1]) + 1
    else:
        # combined code would overflow int64 (product of per-column
        # cardinalities ≥ 2^62): lexsort the code TUPLE instead — same
        # segmentation, no overflow
        order = np.lexsort(invs[::-1])
        diff = np.zeros(max(n - 1, 0), dtype=bool)
        for inv in invs:
            s = inv[order]
            diff |= s[1:] != s[:-1]
        bounds = np.flatnonzero(diff) + 1
    return order, bounds


def batch_groups(batch, group_cols: list[str], vals: np.ndarray):
    """(group tuple, that group's slice of ``vals``) for each group of
    an Arrow batch, segmented by ``group_segments``; with no group
    columns the whole batch is the one group ``()``."""
    if not group_cols:
        return [((), vals)]
    gcols = [batch.column(c) for c in group_cols]
    order, bounds = group_segments(
        [c.to_pandas(types_mapper=pd.ArrowDtype) for c in gcols],
        batch.num_rows)
    heads = order[np.r_[0, bounds].astype(np.int64)]
    return zip(zip(*(c.take(heads).to_pylist() for c in gcols)),
               (vals[seg] for seg in np.split(order, bounds)))


# merged rows per output batch are cut at this many blob bytes, so no
# binary column nears Arrow's 2 GiB (int32-offset) limit
_MERGED_BATCH_BYTES = 64 << 20


def merge_partial_batches(batches, keys: list[str], names: list[str],
                          tag: str, count: str, blob: str, merge):
    """Partition-local merge of partial rows (filters or sketches):
    one output row per distinct ``keys`` tuple, null keys included,
    with the columns ``names`` in that order.

    The groups are found once per partition, from the ``keys`` columns
    only (``group_segments``); blobs are never concatenated into one
    Arrow array. Per group, ``merge(tag_value, blobs)`` gets the
    group's blobs **sorted by bytes** and returns the merged blob;
    ``count`` and ``n_partials`` are summed, and every other column
    takes the group's first row. A group whose rows disagree on
    ``tag`` or ``params`` raises a ``ValueError`` that names it: two
    families, or two sizings, never merge. Merged rows are yielded in
    batches of at most ``_MERGED_BATCH_BYTES`` of blobs (plus one row).

    Merge-order contract: the blobs a merge sees, and their order, are
    a function of the group's partial *set* alone. OR families
    (block, taffy_block, bloom) and lattice sketches (HLL, count-min)
    are therefore byte-identical under any partitioning and any merge
    tree; KLL and t-digest are a deterministic function of the sorted
    partial set; the TCF union is probe-equivalent."""
    import pyarrow as pa

    metas, blobs, blob_type = [], [], None
    for b in batches:
        if b.num_rows:
            blob_type = b.schema.field(blob).type
            blobs += b.column(blob).to_pylist()
            metas.append(b.drop_columns([blob]))
    if not metas:
        return
    meta = pa.Table.from_batches(metas).combine_chunks()
    order, bounds = group_segments(
        [meta.column(k).to_pandas(types_mapper=pd.ArrowDtype)
         for k in keys], meta.num_rows)
    starts = np.r_[0, bounds].astype(np.int64)
    heads = meta.take(order[starts])
    # every row of a group must agree with its head on the tag and the
    # params: a merge under the head's family or sizing would silently
    # mix filters (or sketches) built differently
    seg = np.repeat(np.arange(len(starts)),
                    np.diff(np.r_[starts, len(order)]))
    for c in (tag, "params"):
        codes = pd.factorize(
            meta.column(c).to_pandas(types_mapper=pd.ArrowDtype),
            use_na_sentinel=False)[0][order]
        bad = np.flatnonzero(codes != codes[starts][seg])
        if bad.size:
            i, j = seg[bad[0]], order[bad[0]]
            where = ", ".join(f"{k}={heads.column(k)[i].as_py()!r}"
                              for k in keys) or "the global group"
            raise ValueError(
                f"partials of {where} disagree on {c}: "
                f"{heads.column(c)[i].as_py()!r} vs "
                f"{meta.column(c)[j].as_py()!r}; merge only partials "
                "built with one family and one set of params")
    sums = {c: np.add.reduceat(
        meta.column(c).fill_null(0).to_numpy()[order], starts)
        for c in (count, "n_partials")}
    tags = heads.column(tag).to_pylist()
    segs = np.split(order, bounds)
    lo, size, out = 0, 0, []
    for i, seg in enumerate(segs):
        out.append(merge(tags[i], sorted(blobs[j] for j in seg)))
        size += len(out[-1])
        if size < _MERGED_BATCH_BYTES and i + 1 < len(segs):
            continue
        cols = [pa.array(out, type=blob_type) if c == blob
                else pa.array(sums[c][lo:i + 1]) if c in sums
                else heads.column(c).slice(lo, i + 1 - lo)
                for c in names]
        yield from pa.Table.from_arrays(cols, names=names).to_batches()
        lo, size, out = i + 1, 0, []


def merge_filter_list(family: str, blobs: list[bytes]) -> bytes:
    """Union of one group's partial filter blobs, in the given order
    (``merge_partial_batches`` passes them sorted by bytes)."""
    cls = FAMILIES[family]
    acc = cls.deserialize(blobs[0])
    if hasattr(acc, "absorb"):
        # in-place vectorized union (TCF) in BALANCED PAIRWISE
        # rounds. Balance is load-bearing, not a nicety: a path
        # stores only log_side_size+HEAD+tail bits, so absorbing
        # into a table more than tail-width levels wider forces the
        # missing-bits enumeration (2^(diff-tail) tail-less entries
        # per item — occupancy and FPP inflate, which grows the
        # accumulator further; a linear fold over 64 partials
        # measured 15k keys/s with a 4x-oversized blob). Merging
        # equals with equals keeps diff within the tail width at
        # every round, so the enumeration never triggers.
        fs = [acc] + [cls.deserialize(b) for b in blobs[1:]]
        while len(fs) > 1:
            fs.sort(key=lambda f: (f.log_side_size, f.occupied))
            nxt = []
            for i in range(0, len(fs) - 1, 2):
                fs[i + 1].absorb(fs[i])
                nxt.append(fs[i + 1])
            if len(fs) % 2:
                nxt.append(fs[-1])
            fs = nxt
        acc = fs[0]
    else:
        for b in blobs[1:]:
            acc = acc.union(cls.deserialize(b))
    return acc.serialize()


# the column names and blob merge of a filter frame (merge_partials)
_FILTER_SPEC = dict(tag="family", count="n_keys", blob="filter",
                    merge=merge_filter_list)


def _result_schema(df: DataFrame, group_cols: list[str],
                   spec: dict = _FILTER_SPEC) -> StructType:
    """group_cols (typed as in ``df``, in the given order) + (tag,
    params, count, n_partials, blob), named by ``spec``."""
    by_name = {f.name: f for f in df.schema.fields}
    return StructType(
        [StructField(c, by_name[c].dataType) for c in group_cols]
        + [StructField(spec["tag"], StringType()),
           StructField("params", StringType()),
           StructField(spec["count"], LongType()),
           StructField("n_partials", LongType()),
           StructField(spec["blob"], BinaryType())])


def _arrow_schema(schema: StructType):
    """The Arrow schema of a Spark result schema, for batches a Python
    stage builds itself."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    return pa.schema([(f.name, to_arrow_type(f.dataType))
                      for f in schema.fields])


def partial_batches(batches, group_cols: list[str], value_col: str,
                    values, create, update, tag: str, params: str,
                    schema):
    """``mapInArrow`` body of the map-side partial, for filters and
    sketches alike: one state per group the task sees.

    Rows whose ``value_col`` is null are dropped (a null is neither a
    member nor a value). Per batch, ``values(column)`` converts the
    values once, ``group_segments`` splits the rows by group (a null
    group value is a group), and ``update(state, values)`` runs once
    per (batch, group) on a state from ``create()``. The one output
    batch holds, in the order of the Arrow ``schema``: the group
    columns, ``tag``, ``params``, the count of kept rows,
    ``n_partials`` = 1 and the serialized state.

    Arrow, not pandas: the pandas conversion materializes one Python
    bytes object per binary key, measured to dominate the Python
    stage and cap its multi-worker scaling (see spark/sharded.py
    build_slice); ``keys_from_arrow`` reads the buffer zero-copy. The
    numpy segmentation replaced a pandas groupby plus per-group key
    conversion, measured at ~4 ms per (task, group)."""
    import pyarrow as pa

    acc: dict[tuple, object] = {}
    counts: dict[tuple, int] = {}
    for batch in batches:
        batch = drop_null_keys(batch, value_col)
        if batch.num_rows == 0:
            continue
        vals = values(batch.column(value_col))
        for g, v in batch_groups(batch, group_cols, vals):
            state = acc.get(g)
            if state is None:
                state = acc[g] = create()
                counts[g] = 0
            update(state, v)
            counts[g] += len(v)
    if acc:
        n = len(acc)
        cols = [[g[i] for g in acc] for i in range(len(group_cols))]
        cols += [[tag] * n, [params] * n, list(counts.values()), [1] * n,
                 [state.serialize() for state in acc.values()]]
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema)


def build_filters(df: DataFrame, group_cols: list[str] | None,
                  key_col: str = "key", family: str = "block",
                  ndv: int = 1 << 20, fpp: float = 0.01,
                  strategy: str | None = None) -> DataFrame:
    """Build one filter per group over ``df[key_col]`` (int64 two's-
    complement uint64 keys or 8-byte binary). Null keys are dropped on
    every route; a group whose keys are all null gets no row.

    Returns a small DataFrame: group_cols + (family, params, n_keys,
    n_partials, filter). ``ndv`` is the per-group capacity hint: exact
    size for the fixed-size block family, level-0 seed for the taffy
    families (which grow past it freely). ``strategy`` overrides the
    size-based router (callers that must receive a single mergeable
    row per group — e.g. streaming state folds — pin ``partials``,
    since ``sharded`` returns a multi-row block_slice shard frame).
    """
    group_cols = list(group_cols or [])
    if strategy is None:
        strategy = select_build_strategy(family, bool(group_cols), ndv, fpp)
    elif strategy not in ("partials", "sharded", "grouped_bulk"):
        raise ValueError(f"unknown build strategy {strategy!r}")
    if strategy == "sharded" and (group_cols or family != "block"):
        # build_block_shards is the GLOBAL block scale path only — a
        # pinned sharded override with group columns or another family
        # would silently build one groupless block shard frame
        raise ValueError(
            "strategy='sharded' builds one global block filter: pass no "
            f"group_cols (got {group_cols!r}) and family='block' (got "
            f"{family!r}); grouped/non-block large builds route via "
            "'grouped_bulk'")
    if family == "static_xor":
        strategy = "grouped_bulk"  # construct needs all keys in one task
    if strategy == "grouped_bulk":
        return _build_grouped(df, group_cols, key_col, family, ndv, fpp)
    if strategy == "sharded":
        # large global block filter: stays DISTRIBUTED as a shard frame
        # (one block_slice row per bucket range); probe_with_filters
        # auto-routes shard frames, assemble_block_shards exports a blob
        from .sharded import build_block_shards
        return build_block_shards(df, key_col, ndv, fpp)

    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp)})
    proj = df.select(*group_cols, key_col)
    est_bytes = estimate_filter_bytes(family, ndv, fpp)
    # a small parquet scan (or a coalesced cache) can arrive in fewer
    # partitions than the box has cores, strangling the Python build
    # stage — a 3-split input measured 13 s where 32 splits take ~1 s.
    # At warehouse scale input splits >> cores, so this never fires.
    # Only HEAVY builds (est ≥ _WIDEN_MIN_BYTES, i.e. ≥ ~100k keys)
    # are widened: for a KB-filter build the extra shuffle plus the
    # cores-wide Python stage cost more than the insert they
    # parallelize (measured ~0.3 s per query at sf0.1).
    if est_bytes >= _WIDEN_MIN_BYTES:
        try:
            nparts = proj.rdd.getNumPartitions()
            target = proj.sparkSession.sparkContext.defaultParallelism
            if nparts < target:
                proj = proj.repartition(target)
        except Exception:
            pass  # streaming plans have no static partitioning to widen
    schema = _result_schema(proj, group_cols)
    partials = proj.mapInArrow(functools.partial(
        partial_batches, group_cols=group_cols, value_col=key_col,
        values=keys_from_arrow,
        create=functools.partial(create_filter, family, ndv, fpp),
        update=FAMILIES[family].add_hashes, tag=family, params=params,
        schema=_arrow_schema(schema)), schema=schema)
    return merge_filter_blobs(partials, group_cols, est_bytes=est_bytes)


def merge_partials(partials: DataFrame, group_cols: list[str],
                   spec: dict, est_bytes: int | None = None) -> DataFrame:
    """Merge of partial rows (filters or sketches; ``spec`` names the
    tag, count and blob columns and the blob-list ``merge``, as
    ``merge_partial_batches`` takes them) → one row per group.

    Every level is a repartition plus one ``merge_partial_batches``
    call per partition, so every route keeps its merge-order contract:
    OR families and lattice sketches come out byte-identical whatever
    the route, KLL/t-digest as a function of the sorted partial set.

    ``est_bytes`` (the caller's plan-time per-partial size estimate)
    routes SMALL merges — est × defaultParallelism within
    ``_SMALL_MERGE_MAX`` — onto one level. With no estimate, or past
    it, the merge is a TWO-LEVEL tree: partials first merge inside
    ``_MERGE_FANIN`` content buckets per group (bucket = xxhash64(blob)
    mod fan-in, so the tree shape is a pure function of the data),
    then the buckets merge into the final row. At high parallelism a
    single-level merge pulls every partial blob (tasks × blob bytes)
    of a group through one Python worker — measured as the scaling
    bottleneck (64 x 32 MB partials made local[32] *slower* than
    local[8]); the tree caps per-task merge input at ~max(n/fan-in,
    fan-in) blobs. Below the threshold the tree's extra exchange and
    cores-wide Python stages dominate the work (a 5-group KB-blob
    merge measured ~128 Python tasks through the tree).

    The final level's exchange:

    - global merge: ``repartition(1)``, one merge task;
    - small grouped merge: ``repartition(*group_cols)``, UNPINNED on
      purpose — AQE coalesces the KB-blob exchange to a task or two,
      whose cost scales with the number of groups, not bytes (7.7k
      96-byte partials in 2,000 groups, one core of a 4-core Xeon VM:
      1.06 s as a pandas groupby loop building a frame per group,
      0.043 s segmented once);
    - tree: ``repartition(nparts, *group_cols)`` with an EXPLICIT
      count. Bare ``repartition(*cols)`` lets AQE coalesce by size
      (50 MB of partials → 5 partitions measured), serializing the
      per-group merges the repartition exists to parallelize — a
      1000-group merge took 9.1 s coalesced vs 1.7 s pinned at
      local[32].

    Partition-local merging replaced ``groupBy().applyInPandas``,
    which cost one Python call per (group, bucket) — measured 20.8 s
    of a 27 s query at 10^3 groups (≈17k calls)."""
    spark = partials.sparkSession
    small = False
    if est_bytes is not None:
        try:
            par = spark.sparkContext.defaultParallelism
        except Exception:
            par = 32
        small = est_bytes * max(par, 1) <= _SMALL_MERGE_MAX
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        nparts = spark.sparkContext.defaultParallelism

    def merged(df: DataFrame, keys: list[str]) -> DataFrame:
        return df.mapInArrow(functools.partial(
            merge_partial_batches, keys=keys, names=df.schema.names,
            **spec), schema=df.schema)

    if not small:
        keys = [*group_cols, "__mb"]
        bucket = F.pmod(F.xxhash64(spec["blob"]), F.lit(_MERGE_FANIN))
        partials = merged(partials.select("*", bucket.alias("__mb"))
                          .repartition(nparts, *keys), keys).drop("__mb")
    if not group_cols:
        final = partials.repartition(1)
    elif small:
        final = partials.repartition(*group_cols)
    else:
        final = partials.repartition(nparts, *group_cols)
    return merged(final, group_cols)


def merge_filter_blobs(partials: DataFrame, group_cols: list[str],
                       est_bytes: int | None = None) -> DataFrame:
    """Merge of partial filter rows → one row per group
    (``merge_partials`` over the filter columns; ``est_bytes`` is the
    plan-time per-partial filter size, ``None`` forces the tree)."""
    return merge_partials(partials, group_cols, _FILTER_SPEC, est_bytes)


def _build_grouped(df: DataFrame, group_cols: list[str], key_col: str,
                   family: str, ndv: int, fpp: float) -> DataFrame:
    """One filter per group, built exactly once: no per-task partials,
    no blob merge. Memory bound: 8 bytes x group rows + one group's
    filter per task.

    - Grouped ``block`` and ``taffy_block`` builds with ``ndv`` of
      at least ``_GROUPED_SHARDS_MIN`` run on bucket ranges
      (``sharded.build_grouped_blocks``): each group's filter is cut
      into disjoint slices built on different tasks, so one huge
      group spreads over every core, and each group's slices are
      written into its one blob.
    - Every other build, and the global (``__g = 0``) case, is the
      bulk: every group's keys land in one ``applyInArrow`` call.
      Static XOR needs that (its one-shot construct takes all keys,
      ``c/lib/static.c:12-82``), and block and growable
      taffy_block builds below the line keep it."""
    from ..filters.static_xor import StaticXorFilter

    if group_cols and family in ("block", "taffy_block") \
            and ndv >= _GROUPED_SHARDS_MIN:
        from .sharded import build_grouped_blocks
        return build_grouped_blocks(df, group_cols, key_col, family,
                                    ndv, fpp)
    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp)})
    proj = df.select(*group_cols, key_col)
    schema = _result_schema(proj, group_cols)
    out_schema = _arrow_schema(schema)

    def bulk(table):
        # applyInArrow + zero-copy key extraction (see partial_batches)
        import pyarrow as pa

        table = drop_null_keys(table, key_col)
        if table.num_rows == 0:
            return out_schema.empty_table()  # all keys null: no row
        keys = keys_from_arrow(table.column(key_col))
        if family == "static_xor":
            keys = np.unique(keys)
            f = StaticXorFilter.construct(keys)
        else:
            f = create_filter(family, ndv, fpp)
            f.add_hashes(keys)
        cols = {c: table.column(c).slice(0, 1).combine_chunks()
                for c in group_cols}
        cols["family"] = pa.array([family])
        cols["params"] = pa.array([params])
        cols["n_keys"] = pa.array([len(keys)], type=pa.int64())
        cols["n_partials"] = pa.array([1], type=pa.int64())
        cols["filter"] = pa.array([f.serialize()], type=pa.binary())
        return pa.table(cols)

    if group_cols:
        return proj.groupBy(*group_cols).applyInArrow(bulk, schema=schema)
    return (proj.withColumn("__g", F.lit(0)).groupBy("__g")
            .applyInArrow(
                lambda table: bulk(table.drop_columns("__g")),
                schema=schema))
