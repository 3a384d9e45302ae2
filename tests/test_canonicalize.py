"""S3 — canonicalization unit tests: CC correctness on a known graph,
LSH blocking merges known surface variants, determinism, and the driver
tier's equality with the distributed tier."""

import string

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from test_ledger import count_jobs

from stixtoneodb_spark.plans import assemble, extract
from stixtoneodb_spark.plans import canonicalize as C
from stixtoneodb_spark.plans.canonicalize import (
    canonical_map,
    candidate_pairs,
    connected_components,
)
from stixtoneodb_spark.plans.pipeline import KgPipeline
from stixtoneodb_spark.sources.transcripts import alias_edges_df, transcripts_df

# DRIVER_CANON_MAX_NAMES per tier: every test name set fits the driver
# bound, and 0 sends any name set to the distributed tier
TIERS = {"driver": 10**9, "distributed": 0}


def tiered_pairs(names, threshold):
    """candidate_pairs on the tier canonical_map picks for ``names``."""
    return C.candidate_pairs(C.name_features(names) or names, threshold)


def maps_by_tier(monkeypatch, mentions, alias_edges=None) -> dict[str, set[tuple]]:
    """canonical_map rows of ``mentions`` on each tier, checking that each
    tier really ran."""
    took_driver = []
    orig = C.candidate_pairs

    def spy(names, *args, **kwargs):
        took_driver.append(isinstance(names, C.NameFeatures))
        return orig(names, *args, **kwargs)

    maps = {}
    with monkeypatch.context() as mp:
        mp.setattr(C, "candidate_pairs", spy)
        for tier, bound in TIERS.items():
            mp.setattr(C, "DRIVER_CANON_MAX_NAMES", bound)
            rows = C.canonical_map(mentions, alias_edges=alias_edges).collect()
            maps[tier] = {tuple(r) for r in rows}
    assert took_driver == [True, False]
    return maps


def assert_tiers_agree(maps: dict[str, set[tuple]]) -> None:
    def exceptions(rows):
        return {(name, label) for name, _, label in rows if label != name}

    assert exceptions(maps["driver"]) == exceptions(maps["distributed"])
    assert maps["driver"] == maps["distributed"]


@pytest.fixture(scope="module")
def mentions50(spark):
    """Mentions of the pipeline tests' 50-conversation corpus."""
    turns = assemble.normalize_turns(transcripts_df(spark, 50))
    return extract.detect_mentions(turns).cache()


def test_connected_components_on_known_graph(spark, monkeypatch):
    # components: {a,b,c,d} (chain), {x,y}, singleton z not in edges —
    # asserted on BOTH tiers: the driver union-find fast path (default at
    # this size) and the distributed star loop (forced via
    # DRIVER_CC_MAX_EDGES=0); the two must agree exactly.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "name_a string, name_b string",
    )
    for cap in (C.DRIVER_CC_MAX_EDGES, 0):
        monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", cap)
        comp = {r.name: r.component for r in connected_components(edges).collect()}
        assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
        assert comp["x"] == comp["y"] == "x"


def test_connected_components_chain_converges_logarithmically(spark, monkeypatch):
    # long path graph: worst case for naive propagation; star algorithm
    # must still converge within max_iter (forced distributed — the tiny
    # graph would otherwise take the driver fast path)
    n = 60
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)],
        "name_a string, name_b string",
    )
    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)
    comp = connected_components(edges, max_iter=20)
    assert comp.select("component").distinct().count() == 1


def test_connected_components_paths_agree_on_random_graph(spark, monkeypatch):
    # property: driver union-find tier ≡ distributed star loop on a
    # pseudo-random multi-component graph (seeded — deterministic)
    import random

    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges_py = [
        (a, b)
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
        )
        if a != b
    ]
    edges = spark.createDataFrame(edges_py, "name_a string, name_b string")
    fast = {
        (r.name, r.component) for r in connected_components(edges).collect()
    }
    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)
    dist = {
        (r.name, r.component) for r in connected_components(edges).collect()
    }
    assert fast == dist


def test_lsh_merges_surface_variants(spark):
    names = spark.createDataFrame(
        [("zeus",), ("zeus trojan",), ("wannacry",), ("wannacry ransomware",), ("metasploit",)],
        "name string",
    )
    pairs = {(r.name_a, r.name_b) for r in candidate_pairs(names).collect()}
    assert ("zeus", "zeus trojan") in pairs
    assert ("wannacry", "wannacry ransomware") in pairs
    # metasploit matches nothing
    assert not any("metasploit" in p for p in pairs)


def test_canonical_map_deterministic_across_runs(spark):
    mentions = spark.createDataFrame(
        [("c1", 0, "Zeus", "malware"), ("c1", 1, "zeus trojan", "malware"),
         ("c2", 0, "MITRE Corp", "identity"), ("c2", 1, "mitre", "identity")],
        "conv_id string, turn_idx int, surface string, entity_type string",
    )
    m1 = {r.name: r.canonical_id for r in canonical_map(mentions).collect()}
    m2 = {r.name: r.canonical_id for r in canonical_map(mentions).collect()}
    assert m1 == m2
    assert m1["zeus"] == m1["zeus trojan"]
    # "MITRE Corp" and "mitre" both normalize to the single name "mitre"
    # (corporate stop-token drop) — the cheap exact tier already merged them
    assert "mitre" in m1 and "mitre corp" not in m1


def test_singletons_get_their_own_component(spark):
    mentions = spark.createDataFrame(
        [("c1", 0, "completely unique entity xyz", "tool")],
        "conv_id string, turn_idx int, surface string, entity_type string",
    )
    rows = canonical_map(mentions).collect()
    assert len(rows) == 1
    assert rows[0].canonical_label == "completely unique entity xyz"


def test_canonical_name_translate_equals_regex_and_array_forms(spark):
    """The translate-based canonicalizer (the hot-path implementation —
    the regex chain measured FLAT across cores) must equal BOTH oracle
    forms on every mention surface the corpus generates plus crafted
    edges."""
    from pyspark.sql import functions as F

    from stixtoneodb_spark.functions.textfns import (
        _PUNCT,
        canonical_name,
        canonical_name_hof,
        canonical_name_regex,
    )
    from stixtoneodb_spark.plans import assemble, extract
    from stixtoneodb_spark.sources.transcripts import transcripts_df

    surfaces = extract.detect_mentions(
        assemble.normalize_turns(transcripts_df(spark, 60))
    ).select("surface")
    crafted = spark.createDataFrame(
        [("The MITRE Corporation",), ("corp",), ("the the the",), ("groupx group",),
         ("Acme-Bank, Inc.",), ("  spaced   out  ",), ("",),
         ("tabs\tand\nnewlines",), ("semi;colon:duo",), ("a!@#$%^&*()b",),
         ('quote"back`tick',), ("under_score-dash",), ("~tilde{brace}[bracket]",),
         # non-ASCII (round-3 advice): the translate fast path can't map
         # these — the operator must route them to the regex form so the
         # documented strip-[^a-z0-9 ] semantics hold for every input
         ("Café Corp",), ("naïve systems",), ("Ωmega-Bank",),
         ("ACMÉ—Group",), ("日本 acme 株式会社",), ("ascii and émoji 🚀 mix",),
         # SQL string-literal hazards: quotes, a backslash, every
         # translate-alphabet character (control characters included), null
         ("O'Brien's Group",), ("back\\slash corp",), (f"x{_PUNCT}y",), (None,)],
        "surface string",
    )
    both = surfaces.unionByName(crafted).select(
        "surface",
        canonical_name("surface").alias("tr_form"),
        canonical_name_regex(F.col("surface")).alias("re_form"),
        canonical_name_hof(F.col("surface")).alias("arr_form"),
    )
    bad = both.where(
        ~F.col("tr_form").eqNullSafe(F.col("re_form"))
        | ~F.col("tr_form").eqNullSafe(F.col("arr_form"))
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_normalize_translate_equals_regex_form(spark):
    """`normalize` (translate form, hot shingle path) == the regex form
    on corpus texts and crafted whitespace edges."""
    from pyspark.sql import functions as F

    from stixtoneodb_spark.functions.textfns import normalize, normalize_regex
    from stixtoneodb_spark.sources.transcripts import transcripts_df

    texts = transcripts_df(spark, 40).select(F.col("text").alias("t"))
    crafted = spark.createDataFrame(
        [("  lead",), ("trail  ",), ("a\t\tb",), ("x\n\r\x0b\x0cy",),
         ("   ",), ("",), ("one two",)],
        "t string",
    )
    both = texts.unionByName(crafted).select(
        normalize(F.col("t")).alias("tr"), normalize_regex(F.col("t")).alias("re")
    )
    assert both.where(F.col("tr") != F.col("re")).count() == 0


def test_candidate_pairs_plan_guard_is_broadcast_semi(spark, monkeypatch):
    """Plan proof for the narrow-first pair generation (round-5 S3 fix):
    block extraction must execute as a broadcast SEMI-join against the
    tiny useful-band set (2 ≤ bn ≤ MAX_BLOCK — map-side probe; the
    vocabulary-scale keys frame is never re-shuffled wide just to find
    multi-member blocks), and pair expansion must be an aggregate +
    explode, never a band self-join: no SortMergeJoin may appear
    anywhere in the executed plan."""
    names = spark.createDataFrame(
        [("zeus",), ("zeus trojan",), ("poison ivy",), ("poisonivy rat",),
         ("acme systems",), ("acme system",), ("mitre",), ("unrelated word",)],
        "name string",
    )
    monkeypatch.setattr(C, "DRIVER_CANON_MAX_NAMES", 0)  # pins the distributed tier
    pairs = tiered_pairs(names, threshold=0.55)
    pairs.collect()  # finalize AQE so the executed plan is the real one
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "useful-band guard lost its semi-join form"
    assert "BroadcastHashJoin" in plan, "guard semi-join not broadcast"
    assert "SortMergeJoin" not in plan, "a vocabulary-scale sort-merge join re-entered S3"


def test_candidate_pairs_oversized_band_dropped_wholly(spark, monkeypatch):
    """Whole-block-drop semantics survive the guard rewrite.

    Family design makes the drop observable in isolation: every member
    carries the SAME identifier token ``shared01`` (two digits), so the
    names are LSH-exempt (identifier-bearing names never enter MinHash
    banding) and ``tok:shared01`` is the family's only multi-member
    blocking key; the shared identifier also means the id-conflict rule
    rejects nothing (both sides carry identifiers and share one).  The
    single-char member suffixes keep pairwise weighted Jaccard well
    above the 0.55 threshold, so verification passes once blocked.
    With MAX_BLOCK below the family size the band is degenerate →
    ZERO pairs; above it, the full C(8,2) pair set emerges.  Both tiers."""
    fam = [(f"shared01 member{c}",) for c in "abcdefgh"]
    names = spark.createDataFrame(fam, "name string")

    for tier, bound in TIERS.items():
        monkeypatch.setattr(C, "DRIVER_CANON_MAX_NAMES", bound)
        monkeypatch.setattr(C, "MAX_BLOCK", 4)  # family of 8 > 4: band dropped
        assert tiered_pairs(names, threshold=0.55).count() == 0, tier

        monkeypatch.setattr(C, "MAX_BLOCK", 32)  # band admitted: all pairs verify
        assert tiered_pairs(names, threshold=0.55).count() == 8 * 7 // 2, tier


def test_connected_components_restores_session_conf_when_it_raises(spark, monkeypatch):
    """A failure inside either path leaves the three confs the call scopes
    as they were."""
    keys = (C.PF_KEY, C.SP_KEY, C.AQE_KEY)
    before = {k: spark.conf.get(k, None) for k in keys}
    boom = F.udf(lambda s: s[1000], "string")  # IndexError on every row
    edges = spark.createDataFrame([("a", "b")], "name_a string, name_b string").select(
        boom("name_a").alias("name_a"), "name_b"
    )
    for cap in (C.DRIVER_CC_MAX_EDGES, 0):  # driver fast path, then the distributed loop
        monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", cap)
        with pytest.raises(Exception):
            connected_components(edges)
        assert {k: spark.conf.get(k, None) for k in keys} == before, cap


def test_tiers_agree_on_pipeline_corpus(spark, monkeypatch, mentions50):
    assert_tiers_agree(maps_by_tier(monkeypatch, mentions50, alias_edges_df(spark)))


def _mentions_of(spark, names):
    return spark.createDataFrame(
        [("c", i, n, "tool") for i, n in enumerate(names)],
        "conv_id string, turn_idx int, surface string, entity_type string",
    )


# Names over a small alphabet: short names (< 3 chars), repeated tokens and
# identifier tokens (>= 2 digits) all occur, and so do LSH and token blocks.
# Two fixed families share one token each: a block of exactly MAX_BLOCK
# members (kept) and one of MAX_BLOCK + 1 (dropped whole).
_TOKEN = st.text(alphabet="abz019", min_size=1, max_size=5)
_NAME = st.lists(_TOKEN, min_size=1, max_size=3).map(" ".join)
_SUFFIXES = [a + b for a in string.ascii_lowercase for b in "mn"]
_FAMILIES = [f"famkept m{x}" for x in _SUFFIXES[: C.MAX_BLOCK]] + [
    f"famdrop m{x}" for x in _SUFFIXES[: C.MAX_BLOCK + 1]
]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(names=st.lists(_NAME, max_size=60, unique=True))
def test_tiers_agree_on_generated_names(spark, monkeypatch, names):
    assert_tiers_agree(maps_by_tier(monkeypatch, _mentions_of(spark, names + _FAMILIES)))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_tiers_agree_on_benchmark_corpora(spark, monkeypatch, tmp_path, seed):
    from kgbench.inputs import write_corpus

    corpus = write_corpus(str(tmp_path), 10_000, seed)
    turns = assemble.normalize_turns(spark.read.parquet(corpus.path))
    mentions = extract.detect_mentions(turns).cache()
    try:
        assert_tiers_agree(maps_by_tier(monkeypatch, mentions, alias_edges_df(spark)))
    finally:
        mentions.unpersist()


def test_s3_stage_job_budget(spark, mentions50, tmp_path):
    """The S3 stage as the pipeline runs it — its map written and read
    back — starts at most five Spark jobs on the driver tier."""
    aliases = alias_edges_df(spark)
    pipe = KgPipeline(spark, str(tmp_path / "wh"))
    pipe.catalog.overwrite("mentions", mentions50)
    mentions = pipe.catalog.read("mentions")
    _, jobs = count_jobs(
        spark,
        pipe._stage,
        "s3_canonical_map",
        "canonical_map",
        lambda: C.canonical_map(mentions, alias_edges=aliases),
    )
    assert jobs <= 5


def test_gazetteer_alias_edges_are_a_process_constant(spark):
    """``alias_edges_df`` computes the gazetteer's pairs once per process:
    a later call's collect starts no Spark job, and its rows equal
    ``canonical_name`` over every (canonical form, surface variant) pair,
    self-pairs dropped, distinct."""
    from stixtoneodb_spark.functions.textfns import canonical_name
    from stixtoneodb_spark.sources.transcripts import GAZETTEER

    alias_edges_df(spark).collect()
    got, jobs = count_jobs(spark, lambda: alias_edges_df(spark).collect())
    assert jobs == 0
    raw = [
        (canon, s)
        for canon, (_etype, surfaces) in GAZETTEER.items()
        for s in surfaces
    ]
    want = (
        spark.createDataFrame(raw, "name_a string, name_b string")
        .select(canonical_name("name_a").alias("name_a"), canonical_name("name_b").alias("name_b"))
        .where(F.col("name_a") != F.col("name_b"))
        .distinct()
        .collect()
    )
    assert len(got) == len({tuple(r) for r in got})
    assert {tuple(r) for r in got} == {tuple(r) for r in want}
