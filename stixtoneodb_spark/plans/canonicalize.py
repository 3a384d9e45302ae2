"""S3 — entity canonicalization: MinHash-LSH blocking + connected components.

Reference correspondence: the reference dedups objects by STIX ``id`` via
Neo4j's id index + MERGE (README.md:75-76, A9/A15).  Transcript entities
have no ids — identity must be *derived*: surface variants ("MITRE Corp",
"The MITRE Corporation", "mitre") must map to one canonical node.  The
pipeline:

1. normalize surfaces (functions.textfns.canonical_name) — cheap exact tier;
2. MinHash signatures over char-3 shingles, banded LSH keys — candidate
   blocking without the O(n^2) cross join;
3. exact Jaccard/containment verification on candidate pairs only;
4. connected components over the verified-similar pair graph via
   alternating large-star / small-star DataFrame iterations (Kiveris et al.,
   "Connected Components in MapReduce and Beyond") with per-iteration
   localCheckpoint to truncate lineage;
5. canonical_id = min name_key in each component (content-derived →
   deterministic under retries and across runs).

Two tiers run steps 2-5 with one result (``canonical_map`` picks):

- **Driver tier**, up to DRIVER_CANON_MAX_NAMES distinct names.  One Spark
  job computes each name's shingles, identifier tokens, band keys and
  token keys with the distributed tier's own expressions, and Arrow
  carries them to the driver (``name_features``).  numpy then runs the
  blocking, the MAX_BLOCK guard, the identifier rejection and the
  verification (``candidate_pairs`` on the features), and the union-find
  the CC fast path uses.  The map goes back as a local relation.  At a
  vocabulary of a few thousand names the distributed tier's cost is ~27
  jobs of per-job latency, not work; this tier runs the stage in 3.
- **Distributed tier**, above the bound: every step is a DataFrame op
  (shuffles on band-key and node id); hot bands (stop-word-like shingles)
  are capped via a block-size limit — the classic LSH skew guard;
  components converge in O(log n) iterations.

The bound was sized by measuring both tiers on the whole stage (map +
parquet write, local[4] on a 4-core host) over synthetic name sets — 40%
host-style and 10% CVE-style identifiers, 50% syllable words, a quarter
of those with a family suffix, so rich in candidate pairs:

    distinct names   driver tier   distributed tier
             2,000     1.3 s          6.2 s
            20,000     2.2-2.8 s     10.8-11.1 s
            98,580     6.7-9.3 s     29.8-31.7 s
           256,174    24-29 s       114-133 s

The tiers did not cross.  What bounds the driver tier is driver memory:
its Python process peaked at 1.25 GB at 256k names (the candidate-pair
arrays grow with the name count), so the bound is the largest size
measured.  A name set above it pays one wasted collect of bound + 1 rows
before it falls through to the distributed tier.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stixtoneodb_spark.functions.textfns import (
    canonical_name,
    shingles,
)

# 8 bands × 3 rows: any-band collision ≈ 86% at Jaccard 0.6 (true variants)
# but only ~6% at Jaccard 0.2 (unrelated short names sharing a prefix) —
# the token-blocking tier and alias edges cover the low-Jaccard recall tail.
NUM_HASHES = 24
NUM_BANDS = 8
MAX_BLOCK = 32  # LSH skew guard: cap degenerate mega-blocks

# Tiny-graph fast path for connected_components: below this edge count the
# similarity graph is collected and union-found on the driver (bounded:
# 200k 2-string rows is a few tens of MB — the same boundedness argument
# as a broadcast dict).  The distributed star loop's cost on a tiny graph
# is pure per-stage latency — ~12 shuffle stages × driver barrier each,
# measured 7-14s flat at ANY core count on a 17-edge graph — which lands
# straight in the pipeline's serial fraction.  At 100 TB a verified-pair
# graph can exceed the bound, and then the star loop is the right shape;
# this is the CC analog of AQE's runtime broadcast conversion.
DRIVER_CC_MAX_EDGES = 200_000

# Driver-tier bound for canonical_map: name sets of at most this many
# distinct names are canonicalized on the driver (see the module
# docstring for where the two tiers cross).
DRIVER_CANON_MAX_NAMES = 250_000

AQE_KEY = "spark.sql.adaptive.enabled"
PF_KEY = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
SP_KEY = "spark.sql.shuffle.partitions"
PAIR_SCHEMA = pa.schema([("name_a", pa.string()), ("name_b", pa.string())])


@contextmanager
def _restoring_conf(spark: SparkSession, *keys: str) -> Iterator[None]:
    """Restore the session conf ``keys`` to their values at entry when the
    block exits, however it exits (an unset key is unset again)."""
    prev = [(k, spark.conf.get(k, None)) for k in keys]
    try:
        yield
    finally:
        for k, v in prev:
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def _without_aqe(spark: SparkSession) -> Iterator[None]:
    """AQE off for a driver collect of small data: AQE's per-stage
    re-optimization is pure driver latency there, and it runs every
    shuffle stage as a job of its own."""
    with _restoring_conf(spark, AQE_KEY):
        spark.conf.set(AQE_KEY, "false")
        yield


def _is_identifier(t: Column) -> Column:
    """Identifier tokens (hostnames, CVEs, hashes): >=2 digits or >=6 hex
    chars.  Digit count via translate-delete: regexp_replace measured
    serialized-flat across cores on this host (see textfns)."""
    return (F.length(t) - F.length(F.translate(t, "0123456789", "")) >= 2) | t.rlike(
        "^[0-9a-f]{6,}$"
    )


# The MinHash and band-key expressions are SQL text: both tiers build them
# per call, and building the same expressions through the Column API costs
# ~1 ms of py4j per node — about 0.7 s per call for the hash family.
def _minhash(s: str, h: int) -> str:
    """Hash ``h`` of the MinHash family over shingle ``s``."""
    return f"xxhash64({s}, {42 + h})"


def _band_keys(mins: list[str]) -> Column:
    """The NUM_BANDS LSH band keys of a name from its NUM_HASHES minima."""
    rpb = NUM_HASHES // NUM_BANDS
    bands = [
        f"xxhash64({b}, {', '.join(mins[b * rpb : (b + 1) * rpb])})" for b in range(NUM_BANDS)
    ]
    return F.expr(f"array({', '.join(bands)})")


def _token_keys(name: Column) -> Column:
    """One blocking key per space token of ``name`` (repeats included)."""
    return F.transform(F.split(name, " "), lambda t: F.xxhash64(F.lit("tok"), t))


def _idf(n: Column, df: Column) -> Column:
    """Shingle weight ln(1 + N/df).  Both tiers evaluate it in Spark: the
    JVM's ``log`` and Python's ``math.log`` disagree in the last bit on
    8% of the (N, df) pairs with N <= 4,000, and the weighted Jaccard must
    be bit-identical across tiers."""
    return F.log(F.lit(1.0) + n / df)


def normalize_mentions(mentions: DataFrame) -> DataFrame:
    """Attach normalized name + content key to each mention."""
    return mentions.withColumn("name", canonical_name("surface")).where(
        F.length("name") > 0
    )


@dataclass(frozen=True)
class NameFeatures:
    """A name set within the driver bound, collected by ``name_features``:
    one row per distinct name with its char-3 shingles ``sh``, its space
    tokens ``toks``, its identifier tokens ``ids``, its NUM_BANDS LSH band
    keys ``lsh`` (null for identifier-bearing names) and one blocking key
    per token ``tok_keys`` — every one from the distributed tier's own
    expressions."""

    spark: SparkSession
    table: pa.Table


def name_features(names: DataFrame) -> NameFeatures | None:
    """The driver tier's per-name features of ``names`` (distinct names,
    column ``name``), or None when there are more than
    DRIVER_CANON_MAX_NAMES of them.

    One select computes everything the blocking and the verification need
    from the name alone.  The band keys are the distributed tier's
    explode + groupBy(name) min in per-row form: the min of each hash over
    the name's shingle array is the same value, without the shuffle.  The
    hashes stay in Spark (Python has no xxhash).  The collect is ONE job:
    AQE is off for it, as for the CC fast path, so the distinct's shuffle
    and the limit run as stages of one job.
    """
    if DRIVER_CANON_MAX_NAMES <= 0:
        return None
    spark = names.sparkSession
    is_plain = ~F.exists("toks", _is_identifier)
    mins = [f"array_min(transform(sh, s -> {_minhash('s', h)}))" for h in range(NUM_HASHES)]
    feats = names.select(
        "name", shingles(F.col("name"), 3).alias("sh"), F.split("name", " ").alias("toks")
    ).select(
        "name",
        "sh",
        "toks",
        F.filter("toks", _is_identifier).alias("ids"),
        F.when(is_plain, _band_keys(mins)).alias("lsh"),
        _token_keys(F.col("name")).alias("tok_keys"),
    )
    with _without_aqe(spark):
        table = feats.limit(DRIVER_CANON_MAX_NAMES + 1).toArrow()
    if table.num_rows > DRIVER_CANON_MAX_NAMES:
        return None
    return NameFeatures(spark, table)


def candidate_pairs(
    names: DataFrame | NameFeatures,
    threshold: float = 0.30,
    *,
    cached: list[DataFrame] | None = None,
) -> DataFrame:
    """Verified similar pairs (name_a, name_b) from LSH blocks.

    ``names``: one row per distinct normalized name, column ``name`` — the
    distributed tier — or the features ``name_features`` collected for a
    name set within the driver bound — the driver tier, whose pairs come
    back as a local relation.  ``cached``: the intermediate frames the
    distributed tier persists are appended here, for the caller to
    release once the pairs are consumed.

    Verification is **idf-weighted shingle Jaccard**: a shingle's weight is
    ln(1 + N/df), so rare shingles ("z9a" of a malware name) dominate and
    boilerplate prefixes ("hos","ost" shared by every "host-..." machine
    name) contribute nothing.  Plain Jaccard cannot separate true variants
    ("poison ivy" / "poisonivy rat", j≈0.45) from entity families that
    share a common prefix ("host 0015 89" / "host 0015 ff", j≈0.65) — the
    weighted form can.  Token containment (=1.0) additionally catches
    short-in-long variants ("zeus" ⊂ "zeus trojan").
    """
    if isinstance(names, NameFeatures):
        return names.spark.createDataFrame(_driver_pairs(names, threshold))
    # ``names`` arrives already distinct (canonical_map dedups the surface
    # universe); re-distincting here was a full extra shuffle of the name
    # strings.  Duplicate inputs would still be CORRECT (cand
    # dropDuplicates + feats groupBy absorb them), just slower.
    cached = [] if cached is None else cached

    def persist(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    # NOT persisted (round-5 measurement, the turns-cache lesson applied
    # again): caching 7M names x ~12 shingle arrays costs far more to
    # BUILD (InMemoryRelation materializes the wide array column) than
    # its consumers save — each consumer recomputes the shingle split
    # from the slim cached ``names`` frame as pure map-side codegen.
    base = (
        names.select("name")
        .withColumn("sh", shingles(F.col("name"), 3))
        .where(F.size("sh") > 0)
    )

    # Global work is ONLY the shingle document frequencies (one cheap agg
    # over the exploded shingles); the idf-weighted per-name arrays are
    # built later for candidate names alone — at corpus scale the global
    # collect_list/sort of weighted arrays was pure waste for the >99% of
    # names that never block with anything.  The name-universe size rides
    # the plan as a broadcast 1-row aggregate instead of a driver-side
    # count(): one fewer barrier in the pipeline's serial fraction.
    total = base.agg(F.count("*").alias("_n"))
    sh_tbl = base.select("name", F.explode("sh").alias("s"))
    idf = (
        sh_tbl.groupBy("s")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(total))
        .select("s", _idf(F.col("_n"), F.col("df")).alias("idf"))
    )

    def weighted_features(name_subset: DataFrame) -> DataFrame:
        """(name, sh, idfs, w_total) for the given names: idf re-attached
        as an array aligned with sh, so verification is pure array
        expressions — no join chain per candidate pair.

        Both joins broadcast the CANDIDATE side explicitly: this frame is
        built inside a persisted plan, where AQE's runtime broadcast
        conversion does not apply (cached plans compile statically), so
        without the hints the planner sort-merge-joins the
        vocabulary-scale ``base``/``idf`` frames against a
        candidate-cardinality probe — a full idf shuffle for a handful
        of rows.  Candidates are bounded by the exception-set argument
        (canonical_exceptions: verified variants are rare), the same
        boundedness that backs the CC driver collect; a corpus that
        outgrows the broadcast should drop the hints and fall back to
        the shuffle join."""
        cand_sh = base.join(F.broadcast(name_subset), "name", "left_semi").select(
            "name", F.explode("sh").alias("s")
        )
        return (
            F.broadcast(cand_sh)
            .join(idf, "s")
            .groupBy("name")
            .agg(F.array_sort(F.collect_list(F.struct("s", "idf"))).alias("shw"))
            .select(
                "name",
                F.transform("shw", lambda x: x.getField("s")).alias("sh"),
                F.transform("shw", lambda x: x.getField("idf")).alias("idfs"),
                F.aggregate(
                    F.transform("shw", lambda x: x.getField("idf")),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("w_total"),
            )
        )
    # Two blocking tiers, unioned: (a) MinHash LSH bands — catches
    # high-Jaccard char-level variants; (b) per-token keys — catches
    # containment-style variants ("zeus" ⊂ "zeus trojan") whose Jaccard is
    # too low for the bands to fire reliably.  Both feed the same exact
    # verification, so extra candidates cost only the verify step.
    #
    # Identifier-bearing names (hostnames, CVEs, hashes — any name with a
    # >=2-digit or >=6-hex token) are EXCLUDED from MinHash banding: an
    # identifier family shares its boilerplate shingles ("host …"), so
    # LSH banding goes pairwise-quadratic across the family, yet the
    # id-conflict rule below rejects every such pair anyway — two
    # identifier names are variants only if they share an identifier
    # token, and the token tier blocks exactly on those.  This keeps
    # candidate generation linear in the identifier vocabulary, which at
    # transcript scale is the bulk of all distinct names.
    #
    # The blocking path carries ONLY (band, name): the shingle/idf arrays
    # stay out of the band shuffle, the skew guard, the self-join, and the
    # pair dedup — at corpus scale those wide rows were the dominant
    # pipeline cost (the arrays rejoin below, but only for the few
    # candidates that survive blocking + identifier rejection).
    has_identifier = F.exists(F.split("name", " "), _is_identifier)
    # Band ids are 64-BIT HASHES, not "b:sha2(...)" strings: blocking keys
    # never surface in results, xxhash64 is ~an order cheaper than sha2 in
    # codegen (the sha2 banding profiled as the bulk of cand_keys at a 7M
    # vocabulary), and every downstream band shuffle carries 8 bytes
    # instead of a 66-char string.  A 64-bit collision can only MERGE two
    # blocks — extra candidates for the exact verifier — or, via the
    # MAX_BLOCK guard, drop a merged block: probability ~k²/2⁶⁵ (≈1e-5 at
    # 10⁸ distinct keys), documented rather than handled.
    sig_aggs = [F.expr(f"min({_minhash('_s', h)})").alias(f"_h{h}") for h in range(NUM_HASHES)]
    sigs = (
        base.where(~has_identifier)
        .select("name", F.explode("sh").alias("_s"))
        .groupBy("name")
        .agg(*sig_aggs)
    )
    bands64 = _band_keys([f"_h{h}" for h in range(NUM_HASHES)])
    lsh_keys = sigs.select(F.explode(bands64).alias("band"), "name")
    token_keys = base.select(F.explode(_token_keys(F.col("name"))).alias("band"), "name")
    # persisted: both the band-size agg and the block-extraction pass read
    # this frame — without the persist the minhash/token key chain runs
    # twice
    keys = persist(lsh_keys.unionByName(token_keys))
    # LSH skew guard + singleton drop in ONE narrow aggregation: the band
    # SIZE histogram shuffles (band64, partial count) — map-side combined,
    # 8-byte keys — and the USEFUL bands (2 ≤ bn ≤ MAX_BLOCK) broadcast
    # back as a semi-join filter.  Only useful-band rows — bounded by the
    # downstream pair budget, since every useful band yields ≥1 candidate
    # pair — enter the wide collect_list shuffle; the previous shape
    # shuffled the ENTIRE vocabulary-scale (band, name) frame through the
    # groupBy to find a handful of multi-member blocks (profiled 27s@16 at
    # a 14M-key table for 24 blocks).  Oversized bands (degenerate
    # stopword-ish blocks) are still DROPPED WHOLLY — K survivors of a
    # degenerate block are junk candidates — they are simply never in the
    # useful set.  A corpus whose useful-band set outgrows the broadcast
    # ceiling has a candidate-pair budget that overwhelms the verify stage
    # anyway — the guard to revisit then is MAX_BLOCK, not the join shape.
    band_sizes = keys.groupBy("band").agg(F.count("*").alias("bn"))
    useful = band_sizes.where(
        (F.col("bn") >= 2) & (F.col("bn") <= MAX_BLOCK)
    ).select("band")
    # Pair generation: groupBy(band) + collect_list over useful-band rows
    # only — every list is ≤ MAX_BLOCK members by the guard above, and the
    # a<b pair triangle expands via a codegen double explode (the same
    # pair multiset the old band self-join produced, without any
    # vocabulary-scale shuffle).
    blocks = (
        keys.join(F.broadcast(useful), "band", "left_semi")
        .groupBy("band")
        .agg(F.collect_list("name").alias("ns"))
        .where(F.size("ns") >= 2)
    )
    pair_src = blocks.select(F.explode("ns").alias("name_a"), "ns").select(
        "name_a", F.explode("ns").alias("name_b")
    )

    # Identifier-aware rejection FIRST (cheap string ops): no similarity
    # measure can separate "cve 2014 0160" / "cve 2017 0144" (different
    # identifiers, wj≈0.44) from "zeus" / "zeus trojan" (true variant,
    # wj≈0.21).  Tokens bearing >=2 digits or >=6 hex chars are
    # identifiers; if BOTH names carry identifiers and share none, the
    # pair dies here — before the weighted-verify joins, because
    # identifier families (hostnames, CVEs) produce the bulk of LSH
    # candidates.
    ids_a = F.filter(F.split("name_a", " "), _is_identifier)
    ids_b = F.filter(F.split("name_b", " "), _is_identifier)
    id_conflict = (
        (F.size(ids_a) > 0)
        & (F.size(ids_b) > 0)
        & (F.size(F.array_intersect(ids_a, ids_b)) == 0)
    )
    cand = (
        pair_src.where(F.col("name_a") < F.col("name_b"))
        .where(~id_conflict)
        .dropDuplicates(["name_a", "name_b"])
    )

    # Build idf-weighted features for candidate names only and re-attach
    # (two hash joins at candidate cardinality — orders of magnitude
    # smaller than the blocked frame).
    cand = persist(cand)
    cand_names = (
        cand.select(F.col("name_a").alias("name"))
        .unionByName(cand.select(F.col("name_b").alias("name")))
        .distinct()
    )
    feats = persist(weighted_features(cand_names))
    feat_a = feats.select(
        F.col("name").alias("name_a"),
        F.col("sh").alias("sh_a"),
        F.col("idfs").alias("idfs_a"),
        F.col("w_total").alias("w_a"),
    )
    feat_b = feats.select(
        F.col("name").alias("name_b"),
        F.col("sh").alias("sh_b"),
        F.col("w_total").alias("w_b"),
    )
    # broadcast the feature side: candidate-cardinality by construction
    # (see weighted_features), and the persisted plans around it compile
    # statically — without the hint this pair of joins is a sort-merge
    # of two small frames, wasting two sorts per verification pass.
    cand = cand.join(F.broadcast(feat_a), "name_a").join(F.broadcast(feat_b), "name_b")

    # --- idf-weighted verification: pure array expressions ---------------
    # w_inter = sum of idf over shared shingles (idfs_a is aligned with
    # sh_a); no join chain per candidate — the weights ride along from the
    # feature frame.
    w_inter = F.aggregate(
        F.zip_with(
            F.col("sh_a"),
            F.col("idfs_a"),
            lambda s, w: F.when(F.array_contains(F.col("sh_b"), s), w).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = cand.withColumn("w_inter", w_inter).withColumn(
        "wj", F.col("w_inter") / (F.col("w_a") + F.col("w_b") - F.col("w_inter"))
    )
    token_a = F.split("name_a", " ")
    token_b = F.split("name_b", " ")
    tok_contain = F.size(F.array_intersect(token_a, token_b)).cast("double") / F.least(
        F.size(token_a), F.size(token_b)
    ).cast("double")
    return (
        scored.withColumn("tok_containment", tok_contain)
        .where((F.col("wj") >= threshold) | (F.col("tok_containment") >= 1.0))
        .select("name_a", "name_b")
    )


def _ragged(starts: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(slice, index) of every element of the slices
    ``[starts[i], starts[i] + lens[i])``, slice by slice, in order."""
    owner = np.repeat(np.arange(len(lens)), lens)
    idx = np.repeat(starts - np.cumsum(lens) + lens, lens) + np.arange(lens.sum())
    return owner, idx


def _list_elems(col: pa.ChunkedArray) -> tuple[pa.Array, np.ndarray]:
    """(values, row of each value) of a list column, in row order; null
    lists have no elements."""
    arr = col.combine_chunks()
    return pc.list_flatten(arr), pc.list_parent_indices(arr).to_numpy()


def _sorted_codes(values: pa.Array) -> np.ndarray:
    """Dense integer codes of string ``values``, numbered in Spark's
    (byte-wise) string order."""
    uniq = pc.unique(values)
    return pc.index_in(values, value_set=uniq.take(pc.sort_indices(uniq))).to_numpy()


def _held(a: np.ndarray, b: np.ndarray, rows: np.ndarray, codes: np.ndarray, n: int):
    """For every element of the list of row ``a[p]`` (the list column as
    parallel ``rows``/``codes`` arrays, grouped by row), whether the list
    of row ``b[p]`` holds the same code.  Returns (p, element index, hit)."""
    lens = np.bincount(rows, minlength=n)
    p, idx = _ragged((np.cumsum(lens) - lens)[a], lens[a])
    width = int(codes.max()) + 1 if len(codes) else 1
    on_b = np.zeros(n, bool)
    on_b[b] = True
    held = np.sort(rows[on_b[rows]] * width + codes[on_b[rows]])
    probe = b[p] * width + codes[idx]
    at = np.minimum(np.searchsorted(held, probe), max(len(held) - 1, 0))
    hit = held[at] == probe if len(held) else np.zeros(len(probe), bool)
    return p, idx, hit


def _seq_sum(values: np.ndarray, p: np.ndarray, n_rows: int) -> np.ndarray:
    """Per-row sums of ``values`` (grouped by row ``p``, in order), added
    left to right from 0.0 — the summation order of Spark's
    ``aggregate(arr, 0.0, (acc, v) -> acc + v)``, so the sums are
    bit-identical (numpy's own sum is pairwise).  One vectorized add per
    list position: the j-th element of every row at once."""
    lens = np.bincount(p, minlength=n_rows)
    pos = np.arange(len(p)) - np.repeat(np.cumsum(lens) - lens, lens)
    order = np.argsort(pos, kind="stable")
    bounds = np.searchsorted(pos[order], np.arange(int(lens.max(initial=0)) + 1), "right")
    acc = np.zeros(n_rows)
    for lo, hi in zip(np.r_[0, bounds[:-1]], bounds):
        at = order[lo:hi]
        acc[p[at]] += values[at]
    return acc


def _driver_pairs(f: NameFeatures, threshold: float) -> pa.Table:
    """The distributed tier of ``candidate_pairs``, on the driver over the
    collected features, in numpy: the same blocks, the same MAX_BLOCK
    guard, the same identifier rejection and the same verification, with
    every float added in the same order, so the pair set is identical."""
    t = f.table
    names = t["name"].combine_chunks()
    n = len(names)
    sh, sh_row = _list_elems(t["sh"])
    sh_len = np.bincount(sh_row, minlength=n)
    in_base = sh_len > 0  # the distributed tier's ``base``: >= 1 shingle

    # Blocking: (key, name) rows of both key tiers; a block's size counts
    # rows, so a name repeating a token counts twice.  Blocks outside
    # 2 <= size <= MAX_BLOCK are dropped whole.
    lsh, lsh_row = _list_elems(t["lsh"])
    tok_keys, tok_key_row = _list_elems(t["tok_keys"])
    keys = np.concatenate([lsh.to_numpy(), tok_keys.to_numpy()])
    rows = np.concatenate([lsh_row, tok_key_row])
    keep = in_base[rows]
    keys, rows = keys[keep], rows[keep]
    order = np.argsort(keys, kind="stable")
    keys, rows = keys[order], rows[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    sizes = np.diff(np.r_[starts, len(keys)])
    useful = (sizes >= 2) & (sizes <= MAX_BLOCK)
    starts, sizes = starts[useful], sizes[useful]
    # the a < b triangle of every block, deduplicated
    blk, left = _ragged(starts, sizes)
    i, right = _ragged(starts[blk], sizes[blk])
    a, b = rows[left[i]], rows[right]
    rank = np.empty(n, np.int64)
    rank[pc.sort_indices(names).to_numpy()] = np.arange(n)
    lt = rank[a] < rank[b]
    if not lt.any():
        return PAIR_SCHEMA.empty_table()
    pair = np.unique(a[lt].astype(np.int64) * n + b[lt])
    a, b = pair // n, pair % n

    # identifier rejection: both sides carry identifiers and share none
    ids, id_row = _list_elems(t["ids"])
    has_id = np.bincount(id_row, minlength=n) > 0
    p, _, hit = _held(a, b, id_row, _sorted_codes(ids), n)
    shares_id = np.bincount(p[hit], minlength=len(a)) > 0
    keep = ~(has_id[a] & has_id[b]) | shares_id
    a, b = a[keep], b[keep]

    # idf-weighted Jaccard over each name's shingles sorted by string and
    # summed in that order (the distributed tier's array_sort + aggregate);
    # the idf of each distinct df comes from Spark's own ``log``,
    # evaluated over a local relation (no job)
    sh_code = _sorted_codes(sh)
    order = np.lexsort((sh_code, sh_row))
    sh_row, sh_code = sh_row[order], sh_code[order]
    df = np.bincount(sh_code)
    df_vals = np.unique(df)
    n_base = F.lit(int(in_base.sum())).cast("long")
    idf_rows = (
        f.spark.createDataFrame(pa.table({"df": df_vals}))
        .select("df", _idf(n_base, F.col("df")).alias("idf"))
        .collect()
    )
    idf = dict(idf_rows)
    weight = np.array([idf[d] for d in df_vals.tolist()])[np.searchsorted(df_vals, df)][sh_code]
    cand = np.unique(np.r_[a, b])
    c_p, c_idx = _ragged((np.cumsum(sh_len) - sh_len)[cand], sh_len[cand])
    w_total = _seq_sum(weight[c_idx], c_p, len(cand))
    w_a, w_b = w_total[np.searchsorted(cand, a)], w_total[np.searchsorted(cand, b)]
    p, idx, hit = _held(a, b, sh_row, sh_code, n)
    w_inter = _seq_sum(np.where(hit, weight[idx], 0.0), p, len(a))
    wj = w_inter / (w_a + w_b - w_inter)

    # token containment: distinct shared tokens over the shorter name's
    # token count (repeats included)
    toks, tok_row = _list_elems(t["toks"])
    tok_code = _sorted_codes(toks)
    width = len(toks) + 1
    distinct = np.unique(tok_row.astype(np.int64) * width + tok_code)
    p, _, hit = _held(a, b, distinct // width, distinct % width, n)
    shared = np.bincount(p[hit], minlength=len(a)).astype(np.float64)
    n_tok = np.bincount(tok_row, minlength=n)
    containment = shared / np.minimum(n_tok[a], n_tok[b]).astype(np.float64)

    keep = (wj >= threshold) | (containment >= 1.0)
    return pa.table([names.take(a[keep]), names.take(b[keep])], schema=PAIR_SCHEMA)


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Alternating large-star / small-star connected components.

    ``edges``: (name_a, name_b) string-keyed undirected edges.
    Returns (name, component) where component = min name in the component.

    Each round: large-star hangs every larger neighbor off the neighborhood
    minimum; small-star re-hangs smaller neighbors.  Converges in O(log n)
    rounds; per-round localCheckpoint(eager) truncates the self-join lineage
    (without it the plan doubles every iteration).  Driver-side loop is
    control-flow only — all data movement stays on executors.

    Graphs at or below ``DRIVER_CC_MAX_EDGES`` short-circuit to a
    driver-side union-find — identical output, none of the loop's
    per-stage latency; set it to 0 to force the distributed loop (tests
    pin its behavior that way).
    """
    spark = edges.sparkSession
    cap = DRIVER_CC_MAX_EDGES
    # Every conf this call changes is restored however it exits — a
    # raising collect or checkpoint included.
    with _restoring_conf(spark, PF_KEY, SP_KEY):
        # The similarity graph is orders of magnitude smaller than the
        # corpus (one edge per verified name pair), so the loop's shuffles
        # are tiny — let AQE coalesce them by size (usually to one task)
        # instead of holding defaultParallelism partitions: each extra
        # partition is an extra task launch per stage, and the loop's cost
        # is pure per-stage latency.
        spark.conf.set(PF_KEY, "false")
        e_raw = edges.select(F.col("name_a").alias("u"), F.col("name_b").alias("v")).where(
            F.col("u") != F.col("v")
        )
        if cap > 0:
            # Driver fast path, ONE job: collect up to cap+1 raw pairs via
            # a limit — no distinct shuffle, no localCheckpoint job, no
            # count job (the round-3 shape cost three jobs + a shuffle to
            # learn the graph is tiny; ~2s of the pipeline's non-scaling
            # floor).  The upstream pair frame is already
            # near-duplicate-free (candidate_pairs dedups, alias edges are
            # distinct), so the raw cardinality is an honest proxy for the
            # distinct one; a graph that overflows the cap only falls
            # through to the distributed loop — a performance choice,
            # never a correctness one.  The union-find dedups whatever
            # duplicates remain for free.
            #
            # AQE is disabled for THIS collect only: the candidate chain
            # is a ~15-stage plan over vocabulary-scale (small) data, and
            # AQE's per-stage re-optimization is pure DRIVER latency —
            # measured ~4.9s vs ~2.9s AQE-off for the identical hot-cache
            # job at any core count (it is serial, so it lands straight in
            # the pipeline's non-scaling floor).  The chain's shuffles are
            # fine at the static shuffle-partition count (they are tiny and
            # skew-guarded by MAX_BLOCK); production-scale joins elsewhere
            # in the pipeline keep AQE.
            with _without_aqe(spark):
                sample = e_raw.limit(cap + 1).collect()
            if len(sample) <= cap:
                comp = _union_find((row["u"], row["v"]) for row in sample)
                return spark.createDataFrame(
                    list(comp.items()), "name string, component string"
                )
        e = _star_loop(spark, e_raw, max_iter)

    # At convergence e is (node → component-min) star edges.  Component
    # roots appear only on the v side, so add their self-mapping, then take
    # the min per node (handles the degenerate not-fully-converged case).
    children = e.select(F.col("u").alias("name"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("name"), F.col("v").alias("component")).distinct()
    return (
        children.unionByName(roots)
        .groupBy("name")
        .agg(F.min("component").alias("component"))
        .select("name", F.least("name", "component").alias("component"))
    )


def _union_find(edges: Iterable[tuple[str, str]]) -> dict[str, str]:
    """Component (min member) of every endpoint of ``edges``: path-halving
    union-find with min-root union — exactly the star loop's fixpoint,
    zero shuffles."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ra, rb = find(u), find(v)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _star_loop(spark: SparkSession, e_raw: DataFrame, max_iter: int) -> DataFrame:
    """The distributed large-star / small-star loop over (u, v) edges; the
    caller restores the session confs it changes."""
    e = e_raw.distinct().localCheckpoint(eager=True)
    # Stage-latency guard: the similarity graph is usually orders of
    # magnitude smaller than the corpus (one edge per verified name pair).
    # When it is tiny, every loop stage at N shuffle partitions costs N
    # task launches for microseconds of work — measured as CC getting
    # SLOWER with more cores.  Collapse small graphs to one partition and
    # run the loop's shuffles at parallelism 1; big graphs keep the full
    # width.  The count is free: e was just checkpoint-materialized.
    n_edges = e.count()
    if n_edges < 200_000:
        e = e.coalesce(1).localCheckpoint(eager=True)
        spark.conf.set(SP_KEY, "1")

    def signature(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("c"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["c"]), int(row["h"])

    def alternate(e: DataFrame) -> DataFrame:
        """One large-star + small-star round as a pure transformation."""
        # large-star: over the SYMMETRIZED neighborhood, hang every
        # strictly-larger neighbor off m(u) = min(N(u) ∪ {u}).
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("u", "mv").alias("m")
        )
        # no distinct here: duplicates are bounded by |sym| and the
        # small-star distinct collapses them — saves one shuffle per round
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star: orient edges large→small, then connect u and all its
        # smaller neighbors to m(u) = min of those neighbors.
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        return (
            oriented.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    # Two alternation rounds per materialization: the driver-side barrier
    # (checkpoint + convergence signature) is the loop's fixed cost and
    # does not shrink with cores, so halving the barrier count halves the
    # serial fraction; lineage depth stays bounded at two rounds.
    prev = signature(e)
    for _ in range(max_iter // 2):
        e = alternate(alternate(e)).localCheckpoint(eager=True)
        cur = signature(e)
        if cur == prev:
            break
        prev = cur
    return e


def canonical_map(
    mentions: DataFrame,
    threshold: float = 0.55,
    alias_edges: DataFrame | None = None,
) -> DataFrame:
    """name -> (canonical_id, canonical_label) over all mention surfaces.

    ``alias_edges`` (name_a, name_b): known-alias pairs from a knowledge
    base / gazetteer — the analog of the reference resolving refs against
    *known* STIX object ids (A10).  They are simply extra edges in the same
    component graph; MinHash-LSH supplies the edges for surface variants the
    KB does not know.  Names that never match anything form singleton
    components (their own name is the canonical label).

    Up to DRIVER_CANON_MAX_NAMES distinct names, the driver tier runs
    inside this call and returns the map as a local relation; above it,
    the connected-components loop runs eagerly inside this call and the
    returned frame is the exception set (``canonical_exceptions``) plus
    the identity default over the name universe.  Both give the same rows.
    """
    names = normalize_mentions(mentions).select("name").distinct()
    feats = name_features(names)
    if feats is None:
        exc = canonical_exceptions(names, threshold, alias_edges)
        return attach_canonical(names, exc).select("name", "canonical_id", "canonical_label")
    # Driver tier: the pairs come back as a local relation (collecting it
    # starts no job); the gazetteer is bounded — the distributed tier
    # broadcasts its endpoint set — so it is collected whole (also without
    # a job: alias_edges_df returns a local relation).
    universe = feats.table["name"].combine_chunks()
    edges = [(r["name_a"], r["name_b"]) for r in candidate_pairs(feats, threshold).collect()]
    if alias_edges is not None:
        known = set(universe.to_pylist())
        with _without_aqe(feats.spark):
            aliases = alias_edges.select("name_a", "name_b").collect()
        edges += [(a, b) for a, b in aliases if a in known and b in known]
    exc = {x: c for x, c in _union_find(edges).items() if x != c}
    at = pc.index_in(universe, value_set=pa.array(list(exc), pa.string()))
    label = pc.if_else(
        pc.is_null(at), universe, pa.array(list(exc.values()), pa.string()).take(at)
    )
    # one partition: the map is vocabulary-sized, so it is written as one
    # file (the distributed tier's AQE-coalesced write is one file too)
    local = feats.spark.createDataFrame(pa.table({"name": universe, "canonical_label": label}))
    return local.coalesce(1).select(
        "name", F.sha2(F.col("canonical_label"), 256).alias("canonical_id"), "canonical_label"
    )


def canonical_exceptions(
    names: DataFrame,
    threshold: float = 0.55,
    alias_edges: DataFrame | None = None,
) -> DataFrame:
    """(name, component) ONLY for names whose canonical label differs
    from the name itself — the non-singleton component members.

    This is the scale-critical observation of the whole canonicalization
    stage: the map is IDENTITY for every name that never matched anything
    (the overwhelming majority — at the bench corpus, 4M names produce a
    few dozen verified pairs), so consumers resolve names through
    ``attach_canonical``: a join against this exception set (tiny →
    broadcast) plus an inline ``sha2(coalesce(component, name))`` — no
    vocabulary-scale dictionary shuffle anywhere on the hot path.

    Every frame persisted on the way is released before returning: the
    components are collected (driver union-find) or checkpointed (star
    loop), so the result no longer depends on them.
    """
    cached = [names.persist()]
    try:
        pairs = candidate_pairs(names, threshold, cached=cached)
        if alias_edges is not None:
            # only keep alias edges whose endpoints actually occur in the
            # corpus.  Broadcast DIRECTION matters at scale: the gazetteer
            # is bounded (hundreds of rows), the name universe is
            # vocabulary-scale — so broadcast the gazetteer's endpoint set,
            # map-side filter the cached universe down to the occurring
            # endpoints (tiny by construction), and broadcast THAT back
            # against the edge list — zero vocabulary shuffles.
            ep = alias_edges.select(
                F.explode(F.array("name_a", "name_b")).alias("name")
            ).distinct()
            occ = names.join(F.broadcast(ep), "name", "left_semi")
            occ_a = occ.select(F.col("name").alias("name_a"))
            occ_b = occ.select(F.col("name").alias("name_b"))
            pairs = pairs.unionByName(
                alias_edges.join(F.broadcast(occ_a), "name_a", "left_semi")
                .join(F.broadcast(occ_b), "name_b", "left_semi")
                .select("name_a", "name_b")
            )
        comp = connected_components(pairs)
    finally:
        for df in cached:
            df.unpersist()
    return comp.where(F.col("component") != F.col("name"))


def attach_canonical(
    df: DataFrame, exceptions: DataFrame, name_col: str = "name"
) -> DataFrame:
    """Resolve ``name_col`` → (canonical_id, canonical_label) via the
    exception set + inline identity default (see canonical_exceptions).
    Adds ``canonical_id`` and ``canonical_label`` columns."""
    tmp = f"_comp_{name_col}"
    exc = exceptions.select(
        F.col("name").alias(name_col), F.col("component").alias(tmp)
    )
    return (
        df.join(exc, name_col, "left")
        .withColumn("canonical_label", F.coalesce(F.col(tmp), F.col(name_col)))
        .withColumn("canonical_id", F.sha2(F.col("canonical_label"), 256))
        .drop(tmp)
    )
