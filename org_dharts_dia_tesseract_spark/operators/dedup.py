"""Deduplication operators over any corpus DataFrame. The near-dup gates
in queries.py (simhash32, simhash_near_dup_pairs, minhash_signatures,
minhash_lsh_pairs, ngram_jaccard_pairs, ngram_jaccard_band_blocked and
the dedup_clusters pair) call these operators, so the DuckDB oracles
check this code. The gates run MinHash at 4 hashes in 2 bands; the
training corpus runs the defaults, 8 hashes in 4 bands.

Scale shapes:
- exact: one shuffle on the content hash, map-side combinable.
- minhash_lsh: shingle explode -> per-permutation min-agg -> band keys ->
  self-join per band bucket. Fan-out is bounded by bucket size, never by
  corpus size; the portable md5-derived hash keeps signatures
  deterministic across engines and runs.
- simhash: one map-side-combinable groupBy for the fingerprint;
  Hamming<=d candidates via byte-band rotation (simhash_near_dup_pairs).
- jaccard: exact overlap computed only for LSH candidate pairs — the
  self-join is bounded by LSH bucket sizes, not shared-word frequency.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# Default LSH band-bucket cap: a band bucket of B members yields ~B^2/2
# candidate pairs in the self-join, so one degenerate key (boilerplate
# shingles, a dirty band width) quadratic-blows a single task at web
# scale. 512 members = ~131k pairs per bucket, far above any genuine
# near-dup cluster a banded MinHash should resolve pairwise and far
# below the task-killing regime; members of larger buckets are
# boilerplate-like and belong to the exact line-dedup pass. Pass
# max_bucket=None to explicitly disable the guard.
DEFAULT_MAX_BUCKET = 512

#: pyspark.sql.Observation from the most recent capped
#: minhash_lsh_candidates plan (per driver process). After an action on
#: the returned DataFrame, `.get` exposes {'dropped_buckets',
#: 'dropped_rows', 'max_bucket_seen'} — the logged evidence that the
#: production guard fired (or didn't).
last_bucket_cap_observation = None


def _h32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (lowest id wins); adds n_copies."""
    w = Window.partitionBy("__h").orderBy(id_col)
    return (df.withColumn("__h", F.md5(F.col(text_col)))
            .withColumn("__rk", F.row_number().over(w))
            .withColumn("n_copies", F.count("*").over(Window.partitionBy("__h")))
            .where(F.col("__rk") == 1)
            .drop("__h", "__rk"))


def _word_shingles(df: DataFrame, text_col: str, id_col: str,
                   n: int = 3) -> DataFrame:
    # higher-order array fns keep shingling a narrow map — the window-lead
    # formulation would shuffle every word in the corpus first
    parts = ", ".join(f"__ws[i+{k}]" for k in range(n))
    return (df.withColumn("__ws", F.filter(F.split(F.col(text_col), r"\s+"),
                                           lambda w: w != ""))
            .select(id_col, F.explode(F.expr(
                f"CASE WHEN size(__ws) >= {n} THEN "
                f"transform(sequence(0, size(__ws) - {n}), "
                f"i -> concat_ws(' ', {parts})) "
                "ELSE array() END")).alias("shingle")))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 8,
                       shingle_n: int = 3) -> DataFrame:
    """n_hashes permutation minima per doc from ONE digest per shingle:
    h_i = (h1 + i*h2) mod 2^32 (Kirsch-Mitzenmacher composition of two
    independent 32-bit chunks of the shingle's md5) — one hash in the
    hot path regardless of n_hashes."""
    sh = _word_shingles(df, text_col, id_col, shingle_n) \
        .withColumn("__md5", F.md5("shingle"))
    h1 = F.conv(F.substring("__md5", 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring("__md5", 9, 8), 16, 10).cast("bigint")
    sh = sh.withColumn("__h1", h1).withColumn("__h2", h2)
    aggs = [F.min((F.col("__h1") + F.lit(i) * F.col("__h2"))
                  % F.lit(1 << 32)).alias(f"mh{i}")
            for i in range(n_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n_hashes: int = 8,
                           bands: int = 4,
                           max_bucket: int | None = DEFAULT_MAX_BUCKET
                           ) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band.

    `max_bucket` is the production guard for 10^12-doc runs (the
    RefinedWeb recipe): a band bucket of B members yields ~B^2/2 pairs,
    so one degenerate key (boilerplate-heavy shingles, dirty band width)
    can quadratic-blow a single task. Buckets larger than max_bucket are
    dropped before the self-join — their members are boilerplate-like
    and are better handled by the exact line-dedup pass anyway. The
    bucket size is a window count over band_key — the SAME key (and
    hence the same exchange) the self-join shuffles on, so the cap
    costs no extra scan of the signature subtree and no extra join.
    ON BY DEFAULT (DEFAULT_MAX_BUCKET); pass None to disable.
    Dropped-bucket counts are observed on the plan
    (`last_bucket_cap_observation.get` after an action) and logged."""
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1 or None to disable "
                         f"the cap, got {max_bucket}")
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n_hashes)
    # ONE explode over the signature agg (a union of per-band selects
    # would duplicate the aggregation subtree `bands` times in the plan)
    band_keys = [
        F.md5(F.concat_ws("_", F.lit(b),
                          *[f"mh{b * rows_per_band + r}"
                            for r in range(rows_per_band)]))
        for b in range(bands)]
    all_bands = sig.select(
        F.col(id_col), F.explode(F.array(*band_keys)).alias("band_key"))
    if max_bucket is not None:
        from pyspark.sql import Observation
        global last_bucket_cap_observation
        obs = Observation()
        over = F.col("__n") > max_bucket
        first = F.col("__rn") == 1
        sized = (all_bands
                 .withColumn("__n", F.count("*").over(
                     Window.partitionBy("band_key")))
                 .withColumn("__rn", F.row_number().over(
                     Window.partitionBy("band_key").orderBy(id_col)))
                 .observe(
                     obs,
                     F.sum(F.when(over & first, 1).otherwise(0))
                     .alias("dropped_buckets"),
                     F.sum(F.when(over, 1).otherwise(0))
                     .alias("dropped_rows"),
                     F.max("__n").alias("max_bucket_seen")))
        all_bands = sized.where(~over).drop("__n", "__rn")
        last_bucket_cap_observation = obs
        log.info("minhash_lsh_candidates: band-bucket cap active at "
                 "max_bucket=%d; dropped-bucket counts observable via "
                 "dedup.last_bucket_cap_observation.get", max_bucket)
    a, b = all_bands.alias("a"), all_bands.alias("b")
    return (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n_hashes: int = 8,
                  bands: int = 4) -> DataFrame:
    """Drop the higher-id member of every candidate pair (transitively
    safe: survivors are rows that are nobody's id_b)."""
    cand = minhash_lsh_candidates(df, text_col, id_col, n_hashes, bands)
    losers = cand.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash fingerprint per document (32- or 64-bit).

    Single groupBy with `bits` vote-sum columns: map-side combinable,
    one shuffle, no bits-x explode of the word stream. bits=32 uses the
    portable md5-derived hash (cross-engine parity with the SQL oracle);
    bits=64 uses xxhash64 (JVM-side, the 10^12-doc width — Manku et al.,
    WWW'07 use 64-bit fingerprints). The 64-bit fingerprint is stored in
    a signed bigint via two's complement (bit 63 contributes -2^63)."""
    if bits not in (32, 64):
        raise ValueError("simhash supports bits=32 or bits=64")
    wh = (df.select(id_col,
                    F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
          .where(F.col("w") != ""))
    h = _h32(F.col("w")) if bits == 32 else F.xxhash64("w")
    wh = wh.select(id_col, h.alias("h"))
    votes = [F.sum(F.when(
        F.expr(f"shiftrightunsigned(h, {j}) % 2") == 1, 1)
        .otherwise(-1)).alias(f"s{j}") for j in range(bits)]
    sums = wh.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(bits):
        one = F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j)
        term = F.when(F.col(f"s{j}") > 0, one).otherwise(0)
        fp = term if fp is None else fp + term
    return sums.select(id_col, fp.cast("bigint").alias("simhash"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_hamming: int = 3,
                           bits: int = 32) -> DataFrame:
    """Near-dup candidate pairs with SimHash Hamming distance <= d.

    Band rotation / pigeonhole: the fingerprint splits into 4 bands; any
    pair within Hamming 3 agrees exactly on >= 1 band, so candidates come
    from a bucketed self-join on (band_idx, band_value) and the exact
    bit_count(xor) <= d filter runs on candidates only.

    Bucket-size bound scales with band WIDTH: bits=32 gives 8-bit bands
    (256 values — fine at millions of docs, quadratic buckets at 10^12);
    bits=64 gives 16-bit bands (65,536 values), the Manku et al. WWW'07
    shape for web-scale corpora. Past that, permuted-table sorted-run
    detection replaces the self-join — out of scope here but the banding
    below is its first stage."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("4-band rotation supports max_hamming in 0..3")
    band_bits = bits // 4
    mask = (1 << band_bits) - 1
    sig = simhash(df, text_col, id_col, bits=bits)
    bands = sig.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     (F.shiftrightunsigned("simhash", band_bits * j)
                      .bitwiseAND(F.lit(mask))).alias("bv"))
            for j in range(4)])).alias("b")
    ).select(id_col, "simhash", F.col("b.j").alias("j"),
             F.col("b.bv").alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.j") == F.col("b.j"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.simhash").alias("sa"),
                    F.col("b.simhash").alias("sb"))
            .distinct())
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (cand.where(ham <= max_hamming)
            .select("id_a", "id_b", ham.cast("int").alias("hamming")))


def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", block_col: str | None = None,
                  threshold: float = 0.8, n_hashes: int = 8,
                  bands: int = 4) -> DataFrame:
    """Exact word-set Jaccard >= threshold for candidate pairs.

    Default blocking is MinHash-LSH band keys: candidates are bounded by
    LSH bucket sizes and the exact-overlap join fans out per candidate
    pair — never on shared-word frequency, so a corpus-wide hot word
    ('the' in en at 100 TB) cannot quadratically blow up any join key.
    Pass block_col to override with an explicit cheap blocking key
    (candidates then = all same-block pairs; only safe for low-cardinality
    bounded blocks).

    Recall matches the LSH candidate set: pairs sharing no band are never
    scored (tunable via n_hashes/bands), which is the standard
    trade — candidate recall for bounded fan-out."""
    if block_col:
        blk = df.select(id_col, block_col)
        a, b = blk.alias("a"), blk.alias("b")
        cand = (a.join(b, (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"))
                .distinct())
    else:
        cand = minhash_lsh_candidates(df, text_col, id_col, n_hashes, bands)
    return _exact_jaccard(df, cand, threshold, text_col, id_col)


def _exact_jaccard(df: DataFrame, cand: DataFrame, threshold: float,
                   text_col: str, id_col: str) -> DataFrame:
    """Exact word-set Jaccard of the candidate pairs (id_a, id_b) -> the
    pairs at or above threshold with (id_a, id_b, jaccard). The overlap
    join fans out per candidate pair; pairs sharing no word never
    reach the score."""
    words = (df.select(id_col,
                       F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
             .where(F.col("w") != "").distinct())
    sizes = words.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n"))
    wa, wb = words.alias("wa"), words.alias("wb")
    common = (cand
              .join(wa, F.col(f"wa.{id_col}") == F.col("id_a"))
              .join(wb, (F.col(f"wb.{id_col}") == F.col("id_b"))
                    & (F.col("wb.w") == F.col("wa.w")))
              .groupBy("id_a", "id_b")
              .agg(F.count("*").cast("bigint").alias("common")))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    scored = (common
              .join(sa, F.col(f"sa.{id_col}") == F.col("id_a"))
              .join(sb, F.col(f"sb.{id_col}") == F.col("id_b")))
    jac = F.col("common") / (F.col("sa.n") + F.col("sb.n") - F.col("common"))
    return (scored.where(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 4).alias("jaccard")))


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Label every node of an undirected pair graph with its component's
    minimum node id -> (id, cluster_id).

    The dedup use: near-dup candidate pairs (MinHash/SimHash/embedding)
    are edges; one document per component survives. Pairwise loser-drop
    (minhash_dedup) is transitively safe but can over-drop chains; the
    component view keeps exactly one canonical doc per transitive
    cluster and exposes cluster_size for audit.

    Algorithm: hash-min label propagation — every round each node's
    current label crosses its edges and min-aggregates. Rounds needed =
    graph diameter, and near-dup clusters are dense (diameter 1-3), so
    the loop converges in 2-4 rounds; max_iter only guards adversarial
    chains — for those use `connected_components_star` (below), the
    large-star/small-star contraction of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14: O(log n) rounds
    regardless of diameter, same output contract (pinned equivalent
    by tests).

    Scale shape: per round ONE shuffle join (edges x labels, both keyed
    on node id) + ONE min-agg (map-side combinable); labels are
    localCheckpoint'ed each round so the plan never accumulates lineage;
    convergence is detected with a limit(1) existence probe, not a full
    count. Edges are cached once, sized |pairs| * 2.
    """
    e = (pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
         .distinct()
         .persist())
    labels = (e.select(F.col("s").alias("id")).distinct()
              .select("id", F.col("id").alias("comp"))
              .localCheckpoint(eager=True))
    changed = 0
    for _ in range(max_iter):
        msgs = (e.join(labels, e["s"] == labels["id"])
                .select(F.col("d").alias("id"), "comp"))
        new = (labels.union(msgs)
               .groupBy("id").agg(F.min("comp").alias("comp"))
               .localCheckpoint(eager=True))
        changed = (new.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.comp") != F.col("o.comp"))
                   .limit(1).count())
        labels = new
        if changed == 0:
            break
    e.unpersist()
    if changed:
        # silently-wrong labels would surface as a baffling parity
        # mismatch against the exact-closure oracle; fail typed instead
        # (for genuinely deep graphs, switch to the large-star/small-star
        # contraction cited above rather than raising max_iter)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter; use "
            "connected_components_star for deep graphs)")
    return labels.select("id", F.col("comp").alias("cluster_id"))


def connected_components_star(pairs: DataFrame, src: str = "id_a",
                              dst: str = "id_b",
                              max_iter: int = 30) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) -> (id, cluster_id), cluster_id = component min.

    The escape hatch `connected_components` documents: hash-min label
    propagation needs O(diameter) rounds, so an adversarially deep pair
    graph (a 10^6-link near-dup chain from overlapping shingled crawl
    snapshots) would exhaust any fixed round budget. The star rewrite
    contracts the graph toward star shape in O(log n) alternating
    rounds regardless of diameter:

    - LARGE-STAR: per node u over the symmetric adjacency, connect every
      strictly-larger neighbor to m = min(N(u) + {u});
    - SMALL-STAR: per node u over edges oriented (large, small), connect
      u and its smaller neighbors to their minimum.

    Both steps are one groupBy + one join each (the same shapes hash-min
    uses); the edge set is localCheckpoint'ed per round so lineage stays
    flat; convergence = the oriented edge set reaching a fixed point,
    detected with exceptAll().limit(1) probes (no full counts beyond
    one per round). Equivalence with the hash-min implementation is
    pinned by tests; at web scale prefer this variant whenever cluster
    diameter is unknown."""
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    e = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(u != v))
    # orient (large, small) once; the loop preserves the orientation
    e = (e.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
         .distinct().localCheckpoint(eager=True))
    for _ in range(max_iter):
        # large-star over the symmetric adjacency
        sym = e.union(e.select(v.alias("u"), u.alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("__mn"))
                .select("u", F.least(F.col("__mn"), u).alias("m")))
        large = (sym.join(mins, "u").where(v > u)
                 .select(F.greatest(v, m).alias("u"),
                         F.least(v, m).alias("v"))
                 .where(F.col("u") != F.col("v")).distinct())
        # small-star over the oriented edges (u > v throughout)
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (large.join(smins, "u")
                 .select(F.explode(F.array(
                     F.struct(v.alias("a"), m.alias("b")),
                     F.struct(u.alias("a"), m.alias("b")))).alias("p"))
                 .select(F.greatest(F.col("p.a"), F.col("p.b")).alias("u"),
                         F.least(F.col("p.a"), F.col("p.b")).alias("v"))
                 .where(F.col("u") != F.col("v")).distinct()
                 .localCheckpoint(eager=True))
        changed = (small.exceptAll(e).limit(1).count()
                   or e.exceptAll(small).limit(1).count())
        e = small
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "alternating rounds")
    # fixed point is a star forest: every non-root has exactly one edge
    # to its component min; roots label themselves
    members = e.select(u.alias("id"), v.alias("cluster_id"))
    roots = (e.select(v.alias("id")).distinct()
             .join(e.select(u.alias("id")).distinct(), "id", "left_anti")
             .select("id", F.col("id").alias("cluster_id")))
    return members.union(roots)


# --------------------------------------------------------------------------
# Bloom-filter incremental dedup: screen a NEW batch against an already-
# ingested corpus without joining against it. At 10^12 ingested docs the
# "have we seen this content before" join is the bottleneck; a Bloom
# filter compresses the ingested side to a fixed-size bitmap (default
# 2^23 bits = 1 MiB) that broadcasts into a narrow filter over the new
# batch — no shuffle, no join, false-negative-free by construction
# (a genuinely novel doc is NEVER dropped; a small, tunable fraction of
# novel docs is falsely screened out as maybe-dup).
# --------------------------------------------------------------------------

def bloom_hash_positions(col: Column, m_bits: int,
                         k: int = 4) -> list[Column]:
    """k independent bit positions from ONE md5: the md5 hex is split
    into k disjoint 32-bit chunks, each the portable hash of the
    queries.py docstring (`_h32` is chunk 0), exactly reproducible in
    ANSI SQL as CAST('0x'||substr(md5(s),1+8j,8) AS BIGINT). Computed
    JVM-side — whole-stage codegen, no Python in the hash path."""
    if not 1 <= k <= 4:
        raise ValueError(f"k must be in 1..4 (one md5 = four 32-bit "
                         f"chunks), got {k}")
    if m_bits < 8 or m_bits & 7:
        raise ValueError(f"m_bits must be a positive multiple of 8, "
                         f"got {m_bits}")
    if m_bits > 1 << 31:
        # positions are cast to int32; past 2^31 they would wrap negative
        raise ValueError(f"m_bits must be at most 2^31, got {m_bits}")
    return [(F.conv(F.substring(F.md5(col), 1 + 8 * j, 8), 16, 10)
             .cast("bigint") % m_bits).cast("int").alias(f"_bp{j}")
            for j in range(k)]


def bloom_build(df: DataFrame, col: str = "text", m_bits: int = 1 << 23,
                k: int = 4, fanin: int = 64) -> bytes:
    """Build the bitmap over df[col], distributed, with NO large
    collect: (1) a narrow mapInPandas sets bits per scan partition into
    a local numpy bitmap (positions arrive as JVM-computed int columns;
    the payload never leaves its partition), (2) partial bitmaps
    shuffle into <= `fanin` groups (pid % fanin) and OR inside
    applyInPandas, (3) the driver ORs the <= fanin group bitmaps —
    at 10^5 scan partitions the driver still receives only
    fanin * m_bits/8 bytes. Null values are skipped (a null can't be a
    duplicate of anything). Bit layout is LSB-first within each byte;
    `bloom_filter_novel` is the single other reader."""
    import numpy as np
    import pandas as pd

    pos = bloom_hash_positions(F.col(col), m_bits, k)
    tagged = (df.where(F.col(col).isNotNull())
              .select((F.spark_partition_id() % fanin).alias("grp"),
                      *pos))
    nbytes = m_bits // 8
    names = [f"_bp{j}" for j in range(k)]

    def partial(it):
        bits = np.zeros(nbytes, np.uint8)
        grp, seen = 0, False
        for pdf in it:
            if not len(pdf):
                continue
            grp, seen = int(pdf["grp"].iloc[0]), True
            for n in names:
                p = pdf[n].to_numpy(np.int64)
                np.bitwise_or.at(
                    bits, p >> 3,
                    (np.uint8(1) << (p & 7)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"grp": [grp], "bitmap": [bits.tobytes()]})

    def or_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(nbytes, np.uint8)
        for b in pdf["bitmap"]:
            acc |= np.frombuffer(b, np.uint8)
        return pd.DataFrame({"bitmap": [acc.tobytes()]})

    rows = (tagged.mapInPandas(partial, "grp int, bitmap binary")
            .groupBy("grp").applyInPandas(or_group, "bitmap binary")
            .collect())                      # <= fanin rows, bounded
    acc = np.zeros(nbytes, np.uint8)
    for r in rows:
        acc |= np.frombuffer(r["bitmap"], np.uint8)
    return acc.tobytes()


def bloom_filter_novel(new_df: DataFrame, bloom: bytes,
                       col: str = "text", m_bits: int = 1 << 23,
                       k: int = 4) -> DataFrame:
    """Rows of `new_df` whose `col` is DEFINITELY absent from the built
    corpus (all maybe-dups — true dups plus the Bloom's false-positive
    fraction — are screened out; no false negatives). One narrow stage:
    positions are JVM columns, the bitmap ships in the task closure
    (m_bits/8 bytes) and a vectorized pandas_udf does the numpy bit
    tests — no join, no shuffle, no per-row Python. Null values pass
    through as novel."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if len(bloom) * 8 != m_bits:
        raise ValueError(f"bloom has {len(bloom) * 8} bits, expected "
                         f"m_bits={m_bits}")
    bits = np.frombuffer(bloom, np.uint8)

    @pandas_udf("boolean")
    def _maybe_dup(*cols):
        m = np.ones(len(cols[0]), bool)
        for s in cols:
            p = s.fillna(0).to_numpy(np.int64)
            m &= ((bits[p >> 3] >> (p & 7)) & 1).astype(bool)
        return pd.Series(m)

    pos = bloom_hash_positions(F.col(col), m_bits, k)
    return new_df.where(F.col(col).isNull() | ~_maybe_dup(*pos))
