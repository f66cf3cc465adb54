"""Near-duplicate detection for training-data pipelines.

Four detectors, all built on Arrow-vectorized kernels (numpy inside
``mapInPandas``/``applyInPandas``). Token hashing, shingling, minhash
signatures and simhash votes are batched across the whole Arrow batch
(fixed-width token packing + flat segment ops); the remaining
Python-level work is the C-speed tokenize/encode boundary, O(1) per
token regardless of byte length:

- exact: groupBy sha256 key (see __spark_entry__ dedup_exact_by_lang).
- MinHash + LSH: word-shingle → k-permutation minhash signature →
  banded bucket join → candidate pairs → exact-Jaccard verification.
  At scale the band shuffle carries (doc_id, band_hash) pairs only.
- SimHash: 64-bit sign-aggregated token hash; near-dups = small
  Hamming distance, candidate generation via 16-bit band buckets.
- n-gram Jaccard: the exact verifier, also exposed standalone.
- winnowing fingerprint: rolling-hash document fingerprint (MOSS
  style) for plagiarism-style containment detection.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

_M61 = (1 << 61) - 1
_P = np.uint64(0x100000001B3)          # FNV prime as polynomial base
_PAD = "\x00"


def _hash_token_batch(tokens: list[str]) -> np.ndarray:
    """Stable 64-bit hashes for a whole batch of tokens at once.

    Tokens pack to fixed-width words — first 16 utf-8 bytes as two
    little-endian uint64 lanes, last 8 bytes as a third, a middle
    8-byte window as a fourth (tokens > 24 bytes only — long hex
    digests/URLs/paths differing only in the middle would otherwise
    collide, and a false shingle match survives even the exact-Jaccard
    verifier because it reuses this hash), byte length as a fifth —
    mixed with odd constants and a splitmix64 avalanche. The per-token
    Python is one encode + three C-level slice/pads; all arithmetic is
    vectorized (the old per-token, per-byte FNV loop is gone)."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    enc = [t.encode("utf-8") for t in tokens]
    lens = np.fromiter((len(e) for e in enc), dtype=np.uint64, count=n)
    head = b"".join(e[:16].ljust(16, b"\0") for e in enc)
    tail = b"".join(e[-8:].rjust(8, b"\0") for e in enc)
    mid = b"".join(e[(len(e) >> 1) - 4:(len(e) >> 1) + 4]
                   if len(e) > 24 else b"\0\0\0\0\0\0\0\0" for e in enc)
    hw = np.frombuffer(head, dtype="<u8").reshape(n, 2)
    tw = np.frombuffer(tail, dtype="<u8")
    mw = np.frombuffer(mid, dtype="<u8")
    with np.errstate(over="ignore"):         # mod-2^64 wrap is the hash
        z = (hw[:, 0] * np.uint64(0x9E3779B97F4A7C15)
             ^ hw[:, 1] * np.uint64(0xC2B2AE3D27D4EB4F)
             ^ tw * np.uint64(0x100000001B3)
             ^ mw * np.uint64(0xD6E8FEB86659FD93)
             ^ lens * np.uint64(0xFF51AFD7ED558CCD))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _shingle_hashes_batch(texts, width: int) -> list[np.ndarray]:
    """Word w-shingle hash sets for a whole batch: tokenize all docs,
    hash every token in one vectorized pass, slide the w-window over
    the flat hash array (per-doc boundaries respected), then np.unique
    per doc."""
    toks = []
    for t in texts:
        tk = t.split()
        if len(tk) < width:
            tk = tk + [_PAD] * (width - len(tk))
        toks.append(tk)
    lens = np.fromiter((len(tk) for tk in toks), dtype=np.int64,
                       count=len(toks))
    flat = [w for tk in toks for w in tk]
    th = _hash_token_batch(flat)
    total = len(th) - width + 1
    acc = np.zeros(max(total, 0), dtype=np.uint64)
    for j in range(width):
        acc = acc * np.uint64(1099511628211) + th[j:j + total]
    starts = np.cumsum(lens) - lens
    return [np.unique(acc[s:s + c])
            for s, c in zip(starts, lens - width + 1)]


def _shingle_hashes(text: str, width: int) -> np.ndarray:
    """Single-doc convenience wrapper over the batch kernel."""
    return _shingle_hashes_batch([text], width)[0]


# minhash permutations: h_i(x) = (a_i * x + b_i) mod 2^61-1, seeded
def _minhash_params(k: int) -> tuple[np.ndarray, np.ndarray]:
    from ..kernels.keys import splitmix64
    a = splitmix64(k, seed=0xA11CE) % np.uint64(_M61 - 1) + np.uint64(1)
    b = splitmix64(k, seed=0xB0B) % np.uint64(_M61)
    return a, b


def minhash_signatures_batch(shingle_sets: list[np.ndarray],
                             a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(docs, k) signature matrix in one pass: flat modular multiply
    over every shingle of the batch, per-doc minima via
    np.minimum.reduceat, chunked so the (shingles, k) temporary stays
    cache-friendly."""
    k = len(a)
    n = len(shingle_sets)
    out = np.full((n, k), np.uint64(_M61), dtype=np.uint64)
    lens = np.fromiter((len(s) for s in shingle_sets), dtype=np.int64,
                       count=n)
    nz = np.flatnonzero(lens > 0)
    if len(nz) == 0:
        return out
    flat = np.concatenate([shingle_sets[i] for i in nz])
    x = (flat % np.uint64(_M61)).astype(np.uint64)
    doc_ends = np.cumsum(lens[nz])
    doc_starts = doc_ends - lens[nz]
    max_rows = max(1, (1 << 22) // k)     # ~32 MB uint64 temporary
    d = 0
    while d < len(nz):
        e = d
        while e < len(nz) and doc_ends[e] - doc_starts[d] <= max_rows:
            e += 1
        e = max(e, d + 1)
        seg = slice(doc_starts[d], doc_ends[e - 1])
        xs = x[seg]
        lo = a[None, :] * (xs[:, None] & np.uint64(0x3FFFFFFF))
        hi = a[None, :] * (xs[:, None] >> np.uint64(30))
        prod = (lo % np.uint64(_M61)
                + ((hi % np.uint64(_M61)) << np.uint64(30))
                % np.uint64(_M61)
                + b[None, :]) % np.uint64(_M61)
        red_at = (doc_starts[d:e] - doc_starts[d]).astype(np.int64)
        out[nz[d:e]] = np.minimum.reduceat(prod, red_at, axis=0)
        d = e
    return out


def minhash_signatures_df(df: DataFrame, id_col: str, text_col: str,
                          k: int = 64, shingle_width: int = 3) -> DataFrame:
    """→ (id, signature: array<long>) via mapInPandas."""
    a, b = _minhash_params(k)
    schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("signature", ArrayType(LongType())),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            shingle_sets = _shingle_hashes_batch(pdf[text_col],
                                                 shingle_width)
            sigs = minhash_signatures_batch(shingle_sets, a, b)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "signature": [r.tolist() for r in sigs.view(np.int64)]})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def cap_buckets(buckets: DataFrame, key_cols: list[str],
                max_bucket: int) -> DataFrame:
    """Drop members of degenerate LSH buckets (> max_bucket rows per
    key) before a bucket self-join — one boilerplate/empty-doc bucket
    is quadratic at scale. The size pass is a map-side-combined
    groupBy (shuffle carries per-task bucket counts, not rows) and the
    oversized-bucket list broadcasts for an anti-join (tiny by
    construction: at most rows/max_bucket buckets can oversize, and in
    practice only degenerate boilerplate/empty buckets do). A window
    count was measured 2x slower here: it forces a sort + full-frame
    shuffle and loses the map-side combine. NOT a silent cap: callers
    can audit via ``lsh_bucket_stats``.

    CAVEAT: a near-identical cluster larger than the cap oversizes ALL
    its band buckets simultaneously, so plain dropping loses it
    entirely. Pair-emitting callers should use ``cap_buckets_star``,
    which preserves cluster connectivity through hub star pairs."""
    over = (buckets.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .where(F.col("__bsz") > max_bucket)
            .select(*key_cols))
    return buckets.join(F.broadcast(over), on=key_cols, how="left_anti")


def cap_buckets_star(buckets: DataFrame, key_cols: list[str],
                     id_col: str, max_bucket: int
                     ) -> tuple[DataFrame, DataFrame]:
    """Cap degenerate buckets WITHOUT losing cluster connectivity:
    → (kept_buckets, star_pairs).

    Oversized buckets (> max_bucket members) are removed from the
    quadratic self-join, but instead of dropping their members
    entirely (which loses any near-identical cluster bigger than the
    cap — every band bucket of such a cluster oversizes at once), each
    oversized bucket emits (hub=min id, member) STAR pairs — O(n) per
    bucket. Downstream exact verification (Jaccard / Hamming / cosine)
    then keeps exactly the members genuinely near the hub, so
    connected-component clustering still unions the cluster. Pair
    recall inside an oversized bucket is hub-star (a member pair both
    near each other but far from the hub is not emitted) — the
    documented price of escaping the quadratic join.

    ONE map-side-combined aggregation computes sizes and hubs; the
    oversized list (tiny by construction — see cap_buckets) broadcasts
    for the anti-join and the star join, so the big bucket frame is
    never shuffled or sorted here."""
    over = (buckets.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__bsz"),
                 F.min(id_col).alias("__hub"))
            .where(F.col("__bsz") > max_bucket)
            .select(*key_cols, "__hub"))
    kept = buckets.join(F.broadcast(over.select(*key_cols)),
                        on=key_cols, how="left_anti")
    star = (buckets.join(F.broadcast(over), on=key_cols)
            .where(F.col(id_col) > F.col("__hub"))
            .select(F.col("__hub").alias("id_a"),
                    F.col(id_col).alias("id_b"))
            .distinct())
    return kept, star


def lsh_bucket_stats(buckets: DataFrame, key_cols: list[str],
                     max_bucket: int) -> DataFrame:
    """Audit companion to cap_buckets: (n_buckets, n_oversized,
    n_dropped_rows, max_size) so a pipeline can log exactly what the
    cap removed."""
    sizes = buckets.groupBy(*key_cols).agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum((F.col("sz") > max_bucket).cast("long"))
        .alias("n_oversized"),
        F.sum(F.when(F.col("sz") > max_bucket, F.col("sz"))
              .otherwise(F.lit(0))).alias("n_dropped_rows"),
        F.max("sz").alias("max_size"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      k: int = 64, bands: int = 16,
                      shingle_width: int = 3,
                      threshold: float = 0.8,
                      max_bucket: int = 256) -> DataFrame:
    """Candidate generation + exact verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    threshold. The only row-scale shuffle is (band_idx, band_hash,
    id) — candidates within a bucket pair up via a self-join, then an
    exact n-gram Jaccard verifies each candidate pair once. Buckets
    larger than max_bucket (degenerate: empty docs, boilerplate) skip
    the quadratic self-join but still emit hub star pairs
    (``cap_buckets_star``) so near-identical clusters bigger than the
    cap stay connected; pass max_bucket=None to disable.
    """
    rows_per_band = k // bands
    sigs = minhash_signatures_df(df, id_col, text_col, k, shingle_width)
    sigs = sigs.cache()
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(*[F.col("signature")[j]
                         for j in range(i * rows_per_band,
                                        (i + 1) * rows_per_band)])
            .alias("bh")).alias(f"b{i}")
        for i in range(bands)]
    buckets = (sigs.select(id_col, F.explode(F.array(*band_cols))
                           .alias("band_bucket"))
               .select(id_col, "band_bucket.band", "band_bucket.bh"))
    star = None
    if max_bucket is not None:
        buckets, star = cap_buckets_star(buckets, ["band", "bh"],
                                         id_col, max_bucket)
    left = buckets.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = buckets.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (left.join(right, on=["band", "bh"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b"))
    if star is not None:
        cand = cand.unionAll(star)
    cand = cand.distinct()
    return verify_jaccard_pairs(cand, df, id_col, text_col,
                                shingle_width, threshold)


def verify_jaccard_pairs(pairs: DataFrame, docs: DataFrame, id_col: str,
                         text_col: str, shingle_width: int = 3,
                         threshold: float = 0.0) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs → (id_a, id_b, jaccard
    >= threshold). Texts are joined in (pairs are rare), then verified
    in one vectorized pass."""
    d = docs.select(F.col(id_col), F.col(text_col))
    joined = (pairs
              .join(d.select(F.col(id_col).alias("id_a"),
                             F.col(text_col).alias("text_a")), on="id_a")
              .join(d.select(F.col(id_col).alias("id_b"),
                             F.col(text_col).alias("text_b")), on="id_b"))
    schema = StructType([
        StructField("id_a", pairs.schema["id_a"].dataType),
        StructField("id_b", pairs.schema["id_b"].dataType),
        StructField("jaccard", DoubleType()),
    ])

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sas = _shingle_hashes_batch(pdf["text_a"], shingle_width)
            sbs = _shingle_hashes_batch(pdf["text_b"], shingle_width)
            jac = np.empty(len(pdf))
            for i, (sa, sb) in enumerate(zip(sas, sbs)):
                inter = len(np.intersect1d(sa, sb, assume_unique=True))
                union = len(sa) + len(sb) - inter
                jac[i] = inter / union if union else 1.0
            out = pdf[["id_a", "id_b"]].copy()
            out["jaccard"] = jac
            yield out

    verified = joined.mapInPandas(verify, schema=schema)
    return verified.where(F.col("jaccard") >= threshold)


# --- SimHash -----------------------------------------------------------

def simhash_batch(texts) -> np.ndarray:
    """64-bit simhash per text: sign of per-bit sums of token hashes.
    All tokens of the batch hash in one vectorized pass; per-doc bit
    votes come from one reduceat over the (n_tokens, 64) bit matrix."""
    n = len(texts)
    out = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return out
    toks = [t.split() for t in texts]
    lens = np.fromiter((len(tk) for tk in toks), dtype=np.int64, count=n)
    flat = [w for tk in toks for w in tk]
    if not flat:
        return out
    th = _hash_token_batch(flat)
    # unpackbits keeps the matrix uint8 (8 bytes/token -> 64 cols);
    # per-doc votes = difference of a prefix-sum (one SIMD cumsum pass,
    # no per-doc Python). Column j is bit 8*(j//8) + 7 - j%8 of the
    # little-endian uint64.
    bits = np.unpackbits(th.view(np.uint8)).reshape(len(th), 64)
    col = np.arange(64)
    weights = np.uint64(1) << (8 * (col // 8) + 7 - col % 8).astype(
        np.uint64)
    csum = np.zeros((len(th) + 1, 64), dtype=np.int32)
    np.cumsum(bits, axis=0, dtype=np.int32, out=csum[1:])
    ends = np.cumsum(lens)
    starts = ends - lens
    nz = lens > 0
    votes = csum[ends[nz]] - csum[starts[nz]]
    score = votes * 2 - lens[nz][:, None]        # (+1/-1 votes)
    vals = ((score > 0).astype(np.uint64) * weights[None, :]).sum(axis=1)
    out[nz] = vals
    return out


def simhash_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("simhash", LongType()),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "simhash": simhash_batch(list(pdf[text_col]))
                .view(np.int64)})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3,
                       max_bucket: int = 256) -> DataFrame:
    """Candidates via 4×16-bit band equality (any doc pair within
    Hamming distance 3 shares at least one of 4 bands), verified by
    exact popcount. → (id_a, id_b, hamming).

    All 4 bands explode into ONE (id, band, bk) frame — a single
    window-capped pass and a single (band, bk) self-join, instead of 4
    aggregate+join rounds (the round-2 regression). Degenerate band
    buckets (> max_bucket members — e.g. simhash 0 from empty docs)
    skip the self-join but emit hub star pairs, so the 4-band
    Hamming≤3 cover degrades to hub-star connectivity (not silence)
    inside an oversized bucket; the exact popcount verifier keeps only
    genuinely-close stars."""
    sh = simhash_df(df, id_col, text_col).cache()
    band_structs = [
        F.struct(F.lit(i).alias("band"),
                 (F.shiftright(F.col("simhash"), 16 * i)
                  .bitwiseAND(F.lit(0xFFFF))).alias("bk"))
        for i in range(4)]
    buckets = (sh.select(id_col, "simhash",
                         F.explode(F.array(*band_structs)).alias("bb"))
               .select(id_col, "simhash", "bb.band", "bb.bk"))
    star = None
    if max_bucket is not None:
        buckets, star = cap_buckets_star(buckets, ["band", "bk"],
                                         id_col, max_bucket)
    l = buckets.select(F.col(id_col).alias("id_a"),
                       F.col("simhash").alias("sh_a"), "band", "bk")
    r = buckets.select(F.col(id_col).alias("id_b"),
                       F.col("simhash").alias("sh_b"), "band", "bk")
    cands = (l.join(r, on=["band", "bk"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sh_a", "sh_b"))
    if star is not None:
        sh_vals = sh.select(id_col, "simhash")
        star_sh = (star
                   .join(sh_vals.select(F.col(id_col).alias("id_a"),
                                        F.col("simhash").alias("sh_a")),
                         on="id_a")
                   .join(sh_vals.select(F.col(id_col).alias("id_b"),
                                        F.col("simhash").alias("sh_b")),
                         on="id_b")
                   .select("id_a", "id_b", "sh_a", "sh_b"))
        cands = cands.unionAll(star_sh)
    cands = cands.distinct()
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cands.withColumn("hamming", ham.cast("int"))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# --- near-dup clustering / keep-one ---------------------------------------

def _driver_union_find(spark, edge_rows, id_type) -> DataFrame:
    """Union-find with path compression over a collected edge list;
    labels = min member id per component (same contract as the
    distributed route). Bounded by the near_dup_clusters edge budget.
    The result schema is pinned to the input id type (pandas type
    inference would widen e.g. int32 ids to LongType and diverge from
    the distributed route's schema)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:        # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        u, v = r[0], r[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id keeps roots == component minima
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    ids = list(parent)
    labels = [find(i) for i in ids]
    schema = StructType([StructField("id", id_type),
                         StructField("cluster_id", id_type)])
    return spark.createDataFrame(
        list(zip(ids, labels)), schema=schema)


def near_dup_clusters(pairs: DataFrame, id_a: str = "id_a",
                      id_b: str = "id_b",
                      max_iters: int = 20,
                      driver_max_edges: int = 200_000) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id)
    with cluster_id = the minimum member id (deterministic labels).

    Route 1 (small graphs): when the pair count is within
    ``driver_max_edges`` (200k by default — a few MB of ids on the
    driver), the edge list collects and a union-find with path
    compression labels components in one pass.
    Near-dup graphs are usually output-sized (≈ the duplicate count,
    not the corpus), so this is the common case even at large sf; the
    distributed loop's per-round scheduling latency dwarfs the whole
    solve at this size. Pass ``driver_max_edges=0`` to force route 2.

    Route 2 (at scale): min-label propagation with POINTER JUMPING
    over the edge list: each round every node adopts the smallest
    label among itself and its neighbors (one hop), then jumps to its
    label's label (label(x) <- label(label(x))) — so label information
    travels ~2^rounds hops and convergence is O(log diameter), not
    O(diameter): a 10k-node chain converges in ~14 rounds, well under
    max_iters. All joins are on the id column — no driver-side state,
    scales with the pairs volume. Superseded label caches are
    unpersisted each round and the lineage is truncated with a
    localCheckpoint every 5 rounds so adversarial chains can't grow
    an unbounded plan. Warns if max_iters is exhausted before
    convergence (labels would split one true cluster).

    Both routes emit identical labels (min member id per component,
    order-independent) — pinned by tests on random graphs."""
    pairs = pairs.cache()   # the edge union reads it twice; without
    # this the whole upstream candidate pipeline recomputes per select
    if driver_max_edges > 0:
        # null-id edges are dropped to mirror the distributed route
        # (F.min silently skips nulls there; a null would raise at the
        # union-find's < comparison)
        head = pairs.select(F.col(id_a).alias("u"),
                            F.col(id_b).alias("v")) \
            .where(F.col(id_a).isNotNull() & F.col(id_b).isNotNull()) \
            .limit(driver_max_edges + 1).collect()
        if head and len(head) <= driver_max_edges:
            out = _driver_union_find(pairs.sparkSession, head,
                                     pairs.schema[id_a].dataType)
            pairs.unpersist()
            return out
        # (an EMPTY edge list also falls through: the distributed
        # route derives the empty labels frame with the input's id
        # type, which the driver route cannot recover from zero rows)
        # over budget: fall through to the distributed loop (the
        # collected prefix is discarded; pairs stays cached)
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .unionAll(pairs.select(F.col(id_b).alias("u"),
                                    F.col(id_a).alias("v")))
             .distinct().cache())
    labels = (edges.select(F.col("u").alias("id"))
              .distinct()
              .withColumn("cluster_id", F.col("id")))
    converged = False
    cached: list = []            # superseded caches to release
    for it in range(max_iters):
        neigh = (edges.join(labels, edges.v == labels.id)
                 .select(F.col("u").alias("id"),
                         F.col("cluster_id").alias("nl")))
        hop = (labels.select("id", F.col("cluster_id").alias("nl"))
               .unionAll(neigh)
               .groupBy("id").agg(F.min("nl").alias("cluster_id")))
        if it < 2:
            # near-dup clusters are small and dense: most inputs
            # converge in 1-2 plain one-hop rounds, so don't pay the
            # jump join until the loop shows it's on a long chain
            jumped = hop
        else:
            # pointer jump: follow my label to ITS label and take the
            # min — doubles the propagation distance per round, making
            # adversarial chains O(log diameter)
            parents = hop.select(F.col("id").alias("__pid"),
                                 F.col("cluster_id").alias("__plabel"))
            jumped = (hop.join(parents,
                               hop.cluster_id == parents.__pid, "left")
                      .select("id",
                              F.least("cluster_id",
                                      F.coalesce("__plabel",
                                                 "cluster_id"))
                              .alias("cluster_id")))
        # materialize ONCE with the change flag riding along; the
        # change count comes out of the SAME full-scan aggregate that
        # populates the cache, so each round costs one action, not a
        # count() plus a second convergence job
        cmp = (jumped.alias("n")
               .join(labels.alias("o"), on="id")
               .select("id", F.col("n.cluster_id").alias("cluster_id"),
                       (F.col("n.cluster_id") != F.col("o.cluster_id"))
                       .alias("__chg")))
        if (it + 1) % 5 == 0:   # truncate lineage on long chains
            cmp = cmp.localCheckpoint(eager=True)
        else:
            cmp = cmp.cache()
        changed = cmp.agg(
            F.sum(F.col("__chg").cast("long"))).collect()[0][0] or 0
        while len(cached) > 1:  # keep only the cache labels reads from
            cached.pop(0).unpersist()
        cached.append(cmp)
        labels = cmp.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings
        warnings.warn(
            f"near_dup_clusters: not converged after {max_iters} rounds "
            "— a cluster with diameter > ~2^rounds would be split into "
            "multiple labels; raise max_iters", RuntimeWarning)
    while len(cached) > 1:      # the final cache backs the result
        cached.pop(0).unpersist()
    return labels


def keep_representatives(docs: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """The canonical training-data dedup op: drop every near-dup
    cluster member except the minimum-id representative. Docs that
    appear in no pair are kept. Returns docs filtered, plus a
    ``cluster_id`` column (null for singletons)."""
    clusters = near_dup_clusters(pairs)
    keep = (docs.join(clusters.withColumnRenamed("id", id_col),
                      on=id_col, how="left")
            .where(F.col("cluster_id").isNull()
                   | (F.col("cluster_id") == F.col(id_col))))
    return keep


# --- winnowing fingerprint ----------------------------------------------

def winnow_fingerprints(text: str, k: int = 8, window: int = 4) -> np.ndarray:
    """MOSS-style winnowing: char k-gram rolling hashes, min per
    window (rightmost minimum), deduped — a compact document
    fingerprint for containment detection."""
    data = text.encode("utf-8")
    if len(data) < k:
        data = data + b"\x00" * (k - len(data))
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(arr) - k + 1
    h = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        h = h * np.uint64(257) + arr[j:j + n]
    if n <= window:
        return np.unique(h.min(keepdims=True))
    sw = np.lib.stride_tricks.sliding_window_view(h, window)
    mins = sw.min(axis=1)
    return np.unique(mins)


def fingerprint_df(df: DataFrame, id_col: str, text_col: str,
                   k: int = 8, window: int = 4) -> DataFrame:
    """→ (id, fingerprint: array<long>, n_grams)."""
    schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("fingerprint", ArrayType(LongType())),
        StructField("n_grams", LongType()),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = [winnow_fingerprints(t, k, window) for t in pdf[text_col]]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "fingerprint": [f.view(np.int64).tolist() for f in fps],
                "n_grams": [len(f) for f in fps]})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)
