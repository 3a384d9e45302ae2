"""Deterministic synthetic transcript generator + reader (FIXTURES.md F1).

Schema (authoritative per BASELINE.json input_hint):
    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

The generator plants entity mentions and (subj, pred, obj) triples into turn
text and emits the ground truth alongside, mirroring how the reference's
golden corpus (/root/reference/stix-files/testfull.json) doubles as its
spec: known objects in, known node/edge set out (SURVEY §2.1).  Error cases
mirror the reference's tolerance semantics (README.md:83-85): ~1% of planted
triples reference an undefined entity (must be dropped AND counted, like the
dangling refs at testfull.json:3759-3781), and a few empty/malformed turns
must be skipped without aborting.

Generation is plain Python, free of Spark and seed-deterministic
(``generate_local``); ``transcripts_df`` parallelizes the precomputed rows
with spark.createDataFrame.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stixtoneodb_spark.functions.textfns import canonical_name

# ---------------------------------------------------------------------------
# Gazetteer: vocabulary mirrors the STIX SDO types of the reference corpus
# (testfull.json:90 malware "x4z9arb backdoor", :283 threat-actor "Disco
# Team Threat Actor Group", etc.), with deliberate surface variants per
# entity to exercise canonicalization.
# ---------------------------------------------------------------------------

# canonical name -> (entity_type, [surface variants])
GAZETTEER: dict[str, tuple[str, list[str]]] = {
    "mitre": ("identity", ["MITRE Corp", "The MITRE Corporation", "mitre", "MITRE"]),
    "disco team": ("threat-actor", ["Disco Team", "disco team threat actor group", "Disco Team Group"]),
    "x4z9arb backdoor": ("malware", ["x4z9arb backdoor", "X4Z9ARB Backdoor", "the x4z9arb backdoor"]),
    "poison ivy": ("malware", ["Poison Ivy", "poison ivy", "PoisonIvy RAT"]),
    "zeus": ("malware", ["Zeus", "zeus trojan", "ZeuS"]),
    "spear phishing": ("attack-pattern", ["spear phishing", "Spear Phishing", "spear-phishing"]),
    "sql injection": ("attack-pattern", ["SQL injection", "sql-injection", "SQLi attack"]),
    "cve-2014-0160": ("vulnerability", ["CVE-2014-0160", "cve-2014-0160", "Heartbleed CVE-2014-0160"]),
    "cve-2017-0144": ("vulnerability", ["CVE-2017-0144", "EternalBlue CVE-2017-0144"]),
    "metasploit": ("tool", ["Metasploit", "metasploit framework", "msf"]),
    "mimikatz": ("tool", ["Mimikatz", "mimikatz tool"]),
    "cobalt strike": ("tool", ["Cobalt Strike", "cobalt-strike", "CobaltStrike"]),
    "acme bank": ("identity", ["Acme Bank", "ACME Bank Inc", "acme bank"]),
    "branistan": ("identity", ["Branistan", "the Branistan government"]),
    "apt1": ("threat-actor", ["APT1", "apt1", "APT-1 group"]),
    "fancy bear": ("threat-actor", ["Fancy Bear", "fancy bear", "FancyBear"]),
    "wannacry": ("malware", ["WannaCry", "wannacry ransomware", "WanaCrypt0r"]),
    "emotet": ("malware", ["Emotet", "emotet botnet"]),
    "credential dumping": ("attack-pattern", ["credential dumping", "Credential Dumping"]),
    "watering hole": ("attack-pattern", ["watering hole", "watering-hole attack"]),
}

# Predicate vocabulary = reference's observed relationship_type distribution
# (computed over testfull.json: indicates 70, uses 44, attributed-to 12,
# targets 10, mitigates 2, impersonates 1).
PREDICATES = ["indicates", "uses", "attributed-to", "targets", "mitigates", "impersonates"]
PRED_WEIGHTS = [70, 44, 12, 10, 2, 1]

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "browser", "python", "shell", None]

FILLER = (
    "we reviewed the incident timeline and correlated the alerts across "
    "sensors looking at lateral movement beaconing persistence exfiltration "
    "memory artifacts registry keys scheduled tasks network flows dns logs "
    "proxy records sandbox detonation yara matches ioc sweeps"
).split()

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

TRUTH_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("subj_canonical", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_canonical", T.StringType(), False),
        T.StructField("dangling", T.BooleanType(), False),
    ]
)


@dataclass
class GeneratedCorpus:
    transcripts: list[tuple]
    truth_triples: list[tuple]
    truth_mentions: list[tuple] = field(default_factory=list)


def _gen_conversation(rng: random.Random, i: int, base_ts: datetime) -> GeneratedCorpus:
    conv_id = f"conv-{i:08d}"
    n_turns = rng.randint(3, 40)
    ts = base_ts + timedelta(seconds=i)
    rows: list[tuple] = []
    truths: list[tuple] = []
    mentions: list[tuple] = []

    # plant K triples at random turn positions
    k = rng.randint(0, 6)
    plant_at: dict[int, tuple[str, str, str, bool]] = {}
    ents = list(GAZETTEER.keys())
    for _ in range(k):
        tidx = rng.randrange(n_turns)
        subj = rng.choice(ents)
        obj = rng.choice([e for e in ents if e != subj])
        pred = rng.choices(PREDICATES, weights=PRED_WEIGHTS, k=1)[0]
        dangling = rng.random() < 0.01
        plant_at[tidx] = (subj, pred, obj, dangling)

    for t in range(n_turns):
        ts = ts + timedelta(seconds=rng.randint(1, 120))
        role = rng.choice(ROLES)
        tool = rng.choice(TOOLS[:-1]) if role == "tool" else None
        words = rng.choices(FILLER, k=rng.randint(5, 25))
        text = " ".join(words)
        if t in plant_at:
            subj, pred, obj, dangling = plant_at[t]
            subj_surface = rng.choice(GAZETTEER[subj][1])
            if dangling:
                obj_surface = f"unknown-entity-{rng.randrange(10**6)}"
            else:
                obj_surface = rng.choice(GAZETTEER[obj][1])
            text = f"{text} we saw {subj_surface} {pred} {obj_surface} yesterday"
            truths.append((conv_id, t, subj, pred, obj, dangling))
            mentions.append((conv_id, t, subj_surface, subj))
            if not dangling:
                mentions.append((conv_id, t, obj_surface, obj))
        elif rng.random() < 0.25:
            # bare mention without a triple
            ent = rng.choice(ents)
            surface = rng.choice(GAZETTEER[ent][1])
            text = f"{text} note {surface} here"
            mentions.append((conv_id, t, surface, ent))
        elif rng.random() < 0.25:
            # conversation-local entity (hostnames etc.): the vocabulary
            # grows with corpus size, so canonicalization (LSH + CC) is
            # data-proportional at bench scale, like real transcripts
            base = f"host-{rng.randrange(16**6):06x}"
            variant = rng.choice([base, base.upper(), base.replace("-", " ")])
            text = f"{text} checked {variant} status"
            mentions.append((conv_id, t, variant, base))
        if rng.random() < 0.005:
            text = ""  # malformed/empty turn: must be skipped, not fatal
        rows.append((conv_id, t, role, text, tool, ts))
    return GeneratedCorpus(rows, truths, mentions)


def generate_local(n_conversations: int, seed: int = 42) -> GeneratedCorpus:
    """Generate the full corpus on the driver (test scale: <= ~10^5 turns)."""
    rng = random.Random(seed)
    base_ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    out = GeneratedCorpus([], [], [])
    for i in range(n_conversations):
        c = _gen_conversation(rng, i, base_ts)
        out.transcripts.extend(c.transcripts)
        out.truth_triples.extend(c.truth_triples)
        out.truth_mentions.extend(c.truth_mentions)
    return out


def transcripts_df(spark: SparkSession, n_conversations: int, seed: int = 42) -> DataFrame:
    corpus = generate_local(n_conversations, seed)
    return spark.createDataFrame(corpus.transcripts, TRANSCRIPT_SCHEMA)


def truth_triples_df(spark: SparkSession, n_conversations: int, seed: int = 42) -> DataFrame:
    corpus = generate_local(n_conversations, seed)
    return spark.createDataFrame(corpus.truth_triples, TRUTH_TRIPLE_SCHEMA)


# The gazetteer's canonical (name_a, name_b) alias pairs, sorted; set by
# the first ``alias_edges_df`` call in the process.
_ALIAS_PAIRS: tuple[tuple[str, str], ...] | None = None


def alias_edges_df(spark: SparkSession) -> DataFrame:
    """Known-alias edge list from the gazetteer (normalized surface pairs).

    The knowledge-base analog of the reference's known STIX object ids: each
    entity's surface variants are linked a priori; canonicalization unions
    these edges with LSH-discovered similarity edges before connected
    components.

    The pairs are ``canonical_name`` of each (canonical form, surface
    variant), without self-pairs or duplicates.  The gazetteer is a
    constant, so the first call in a process computes them with Spark and
    keeps them as plain tuples, tied to no session.  Every call returns
    them as an Arrow local relation, so collecting it (``canonical_map``
    does, on every graph build) starts no job.
    """
    global _ALIAS_PAIRS
    if _ALIAS_PAIRS is None:
        rows = []
        for canon, (_etype, surfaces) in GAZETTEER.items():
            forms = list(dict.fromkeys([canon, *surfaces]))
            rows.extend((forms[0], s) for s in forms[1:])
        pairs = (
            spark.createDataFrame(rows, "name_a string, name_b string")
            .select(
                canonical_name("name_a").alias("name_a"),
                canonical_name("name_b").alias("name_b"),
            )
            .where(F.col("name_a") != F.col("name_b"))
            .collect()
        )
        _ALIAS_PAIRS = tuple(sorted({(r["name_a"], r["name_b"]) for r in pairs}))
    name_a, name_b = zip(*_ALIAS_PAIRS)
    return spark.createDataFrame(
        pa.table({"name_a": pa.array(name_a, pa.string()), "name_b": pa.array(name_b, pa.string())})
    )
