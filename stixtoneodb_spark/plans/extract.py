"""S2 — mention detection + triple extraction (Arrow-vectorized).

Reference correspondence: an SDO (typed entity object) becomes an entity
mention extracted from turn text; an SRO ``relationship {source_ref,
relationship_type, target_ref}`` (testfull.json:108-115) becomes an
extracted triple (subj, pred, obj) (SURVEY §1.4).  The per-object type
dispatch + projection (A6/A7) becomes batched pattern extraction.

- ``extract_fused`` — the pipeline's S2: one ``mapInPandas`` pass runs
  both extractors over each Arrow batch and emits a tagged mention ∪
  triple stream; ``split_fused`` projects it into the two tables.
- ``detect_mentions`` — scalar pandas UDF running one compiled gazetteer
  alternation per text; the streaming sink's extractor.
- ``extract_triples`` — the standalone triple extractor, kept as the
  reference the fused pass is tested against.

No per-row Python UDF calls anywhere (input_hint): every path is
Arrow-batched.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stixtoneodb_spark.sources.transcripts import GAZETTEER, PREDICATES

MENTION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("surface", T.StringType()),
            T.StructField("entity_type", T.StringType()),
            T.StructField("start", T.IntegerType()),
        ]
    )
)

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("subj_text", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj_text", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)


@lru_cache(maxsize=1)
def _gazetteer_patterns() -> list[tuple[re.Pattern, str]]:
    """(compiled surface-alternation regex, entity_type) per type; surfaces
    sorted longest-first so the alternation prefers maximal matches."""
    by_type: dict[str, list[str]] = {}
    for _canon, (etype, surfaces) in GAZETTEER.items():
        by_type.setdefault(etype, []).extend(surfaces)
    out = []
    for etype, surfaces in sorted(by_type.items()):
        alts = sorted(set(surfaces), key=len, reverse=True)
        pat = re.compile(
            r"(?<![A-Za-z0-9])(" + "|".join(re.escape(s) for s in alts) + r")(?![A-Za-z0-9])",
            re.IGNORECASE,
        )
        out.append((pat, etype))
    # pattern rules (non-gazetteer entity shapes): infrastructure hostnames
    out.append(
        (
            re.compile(r"(?<![A-Za-z0-9])(host[- ][0-9a-f]{6})(?![A-Za-z0-9])", re.IGNORECASE),
            "infrastructure",
        )
    )
    return out


@lru_cache(maxsize=1)
def _triple_pattern() -> re.Pattern:
    preds = "|".join(re.escape(p) for p in PREDICATES)
    return re.compile(rf"we saw (.+?) ({preds}) (.+?) yesterday", re.IGNORECASE)


def _assert_cross_type_nonoverlap(by_type: dict[str, list[str]]) -> None:
    """PRECONDITION of the single-pass combined regex: ``finditer``
    consumes matched spans globally, so whenever two different types'
    surfaces can occupy OVERLAPPING spans in some text, the per-type
    passes emit both mentions while the combined pass emits only one —
    silently, and only for texts containing the longer/earlier surface.
    Three shapes break equivalence (round-3 advice widened this from the
    original prefix-only check):

    1. boundary-prefix  — ``corp`` / ``corp systems``;
    2. interior/suffix boundary containment — ``corp`` inside
       ``acme corp`` (the per-type pass matches the inner surface at a
       token edge; the combined pass consumed the enclosing span);
    3. suffix/prefix token overlap — ``acme corp`` + ``corp systems``
       overlap on ``corp`` in the text ``acme corp systems``.

    All three are token-level conditions because the surface regexes are
    flanked by ``(?<![A-Za-z0-9])``/``(?![A-Za-z0-9])`` — so the check
    tokenizes on non-alphanumerics and rejects any contiguous-sublist
    containment or proper suffix/prefix token overlap across types.
    Enforced STATICALLY at pattern-build time: a future gazetteer
    addition that violates it fails immediately, not via a drifting
    corpus test.  Within-type overlaps are fine (longest-first
    alternation keeps maximal-match preference and the emitted type is
    identical either way)."""

    def toks(s: str) -> tuple[str, ...]:
        return tuple(t for t in re.split(r"[^a-z0-9]+", s.lower()) if t)

    surfs = [
        (etype, s.lower(), toks(s)) for etype, ss in by_type.items() for s in set(ss)
    ]
    for ta, sa, tka in surfs:
        for tb, sb, tkb in surfs:
            if ta == tb:
                continue
            # (1)+(2): sb's tokens appear contiguously inside sa's
            contained = any(
                tka[i : i + len(tkb)] == tkb for i in range(len(tka) - len(tkb) + 1)
            )
            # (3): a nonempty proper token-suffix of sa is a token-prefix
            # of sb (the two surfaces can share a span mid-text)
            straddle = any(
                tka[-k:] == tkb[:k] for k in range(1, min(len(tka), len(tkb)))
            )
            if contained or straddle:
                kind = "is boundary-contained in" if contained else "token-straddles"
                raise AssertionError(
                    f"gazetteer cross-type overlap: {tb!r} surface {sb!r} {kind} "
                    f"{ta!r} surface {sa!r}; the combined single-pass regex is "
                    "not equivalent to per-type passes under overlap"
                )


@lru_cache(maxsize=1)
def _combined_gazetteer_patterns() -> tuple[re.Pattern, re.Pattern, dict[str, str]]:
    """ONE alternation over every type's surfaces, one named group per
    type: a single regex pass replaces the per-type pass loop (7 scans of
    every text → 1), which halved the mention stage's wall at bench
    scale.  Semantics identical to the per-type passes because surfaces
    do not overlap across types (asserted here and by
    tests/test_pipeline.py::test_combined_mention_pass_equals_per_type);
    within-type longest-first alternation order is preserved per group.

    Returns the alternation compiled twice, plus the group → entity_type
    map.  The first regex is case-SENSITIVE over the lowered surfaces:
    CPython's ``re.IGNORECASE`` roughly halves alternation throughput
    (measured 2.1x on corpus-shaped text), so the hot path lowers each
    text once (C-level) and scans it case-sensitively, with identical
    matches for any text whose ``lower()`` is length-preserving.  The
    second is the ``re.IGNORECASE`` twin those few Unicode texts fall
    back to.
    """
    by_type: dict[str, list[str]] = {}
    for _canon, (etype, surfaces) in GAZETTEER.items():
        by_type.setdefault(etype, []).extend(surfaces)
    _assert_cross_type_nonoverlap(by_type)
    parts: list[str] = []
    group_types: dict[str, str] = {}
    for i, (etype, surfaces) in enumerate(sorted(by_type.items())):
        alts = sorted({s.lower() for s in surfaces}, key=len, reverse=True)
        g = f"g{i}"
        group_types[g] = etype
        parts.append(f"(?P<{g}>" + "|".join(re.escape(s) for s in alts) + ")")
    g = f"g{len(parts)}"
    group_types[g] = "infrastructure"
    parts.append(f"(?P<{g}>host[- ][0-9a-f]{{6}})")
    alternation = "(?:" + "|".join(parts) + ")"
    # boundary classes need no upper-case letters: the input is lowered
    pat_cs = re.compile(r"(?<![a-z0-9])" + alternation + r"(?![a-z0-9])")
    pat_ci = re.compile(
        r"(?<![A-Za-z0-9])" + alternation + r"(?![A-Za-z0-9])", re.IGNORECASE
    )
    return pat_cs, pat_ci, group_types


def _scan_mentions(text) -> list[tuple[str, str, int]]:
    """(surface, entity_type, start) of every gazetteer mention in one
    text, start-ascending: one combined regex pass over the lowered text,
    each surface sliced from the ORIGINAL text by match offset, so the
    result is byte-identical to an IGNORECASE scan of the text itself."""
    if not isinstance(text, str) or not text:
        return []
    pat_cs, pat_ci, group_types = _combined_gazetteer_patterns()
    low = text.lower()
    # lower() is length-preserving for all but a few Unicode code
    # points (e.g. İ) — offsets then map 1:1 onto the original
    pat, src = (pat_cs, low) if len(low) == len(text) else (pat_ci, text)
    found = []
    for m in pat.finditer(src):
        g = m.lastgroup
        found.append((text[m.start(g) : m.end(g)], group_types[g], m.start(g)))
    return found


@F.pandas_udf(MENTION_SCHEMA)
def detect_mentions_udf(texts: pd.Series) -> pd.Series:
    """Batched gazetteer mention detection: one Arrow batch in, one out;
    ``_scan_mentions`` per text."""
    return texts.map(
        lambda text: [
            {"surface": surface, "entity_type": etype, "start": start}
            for surface, etype, start in _scan_mentions(text)
        ]
    )


@F.pandas_udf(MENTION_SCHEMA)
def detect_mentions_per_type_udf(texts: pd.Series) -> pd.Series:
    """Reference implementation: one pass per entity-type pattern — kept
    as the equality oracle for the combined-pass optimization."""
    pats = _gazetteer_patterns()

    def scan(text):
        if not isinstance(text, str) or not text:
            return []
        found = []
        for pat, etype in pats:
            for m in pat.finditer(text):
                found.append({"surface": m.group(1), "entity_type": etype, "start": m.start(1)})
        found.sort(key=lambda d: d["start"])
        return found

    return texts.map(scan)


def detect_mentions(turns: DataFrame) -> DataFrame:
    """Mentions table: (conv_id, turn_idx, surface, entity_type).

    Narrow transformation — runs on whatever partitioning the turns carry;
    the Arrow boundary is the only cost.
    """
    return (
        turns.select(
            "conv_id", "turn_idx", F.explode(detect_mentions_udf(F.col("text"))).alias("m")
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("m.surface").alias("surface"),
            F.col("m.entity_type").alias("entity_type"),
            F.col("m.start").alias("start"),
        )
    )


def _batch_triples(pdf: pd.DataFrame) -> pd.DataFrame:
    """The triples of one Arrow batch of (conv_id, turn_idx, text) rows, in
    ``TRIPLE_SCHEMA``'s columns: one pandas ``str.extractall`` (C-level
    match loop) over the batch's text column."""
    text = pdf["text"].reset_index(drop=True)
    hits = text.fillna("").str.extractall(_triple_pattern())
    if len(hits) == 0:
        return pd.DataFrame(
            {
                "conv_id": pd.Series(dtype="object"),
                "turn_idx": pd.Series(dtype="int32"),
                "subj_text": pd.Series(dtype="object"),
                "pred": pd.Series(dtype="object"),
                "obj_text": pd.Series(dtype="object"),
                "confidence": pd.Series(dtype="float64"),
            }
        )
    ridx = hits.index.get_level_values(0)
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].take(ridx).to_numpy(),
            "turn_idx": pdf["turn_idx"].take(ridx).to_numpy(),
            "subj_text": hits[0].to_numpy(),
            "pred": hits[1].str.lower().to_numpy(),
            "obj_text": hits[2].to_numpy(),
            "confidence": 1.0,
        }
    )


def _extract_batches(batches):
    """mapInPandas body: ``_batch_triples`` per Arrow batch."""
    for pdf in batches:
        yield _batch_triples(pdf)


def extract_triples(turns: DataFrame) -> DataFrame:
    """Raw triples: (conv_id, turn_idx, subj_text, pred, obj_text, confidence).

    ``mapInPandas`` keeps Arrow batches whole and runs ONE pandas
    ``str.extractall`` (C-level match loop) per batch — the extractor is
    per-turn, so it needs no per-conversation grouping.  The pipeline
    extracts through ``extract_fused``; this standalone form is the
    reference its triple rows are tested against.
    """
    return turns.select("conv_id", "turn_idx", "text").mapInPandas(
        _extract_batches, TRIPLE_SCHEMA
    )


# -- fused S2: one corpus pass for mentions AND triples ----------------------

FUSED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("kind", T.StringType()),       # 'm' | 't'
        T.StructField("a", T.StringType()),          # surface / subj_text
        T.StructField("b", T.StringType()),          # entity_type / pred
        T.StructField("c", T.StringType()),          # null / obj_text
        T.StructField("start", T.IntegerType()),     # start / null
        T.StructField("confidence", T.DoubleType()), # null / confidence
    ]
)


def _fused_batches(batches):
    """mapInPandas body: BOTH extractors over each Arrow batch — the
    text column crosses the Python boundary once and is scanned once
    per extractor, instead of two whole-corpus jobs each paying the
    scan + Arrow transfer.  Emits a tagged union; row content is
    IDENTICAL to detect_mentions ∪ extract_triples (equality-pinned by
    tests/test_pipeline.py), because both run the same per-text
    ``_scan_mentions`` and per-batch ``_batch_triples``."""
    empty = pd.DataFrame(
        {
            "conv_id": pd.Series(dtype="object"),
            "turn_idx": pd.Series(dtype="int32"),
            "kind": pd.Series(dtype="object"),
            "a": pd.Series(dtype="object"),
            "b": pd.Series(dtype="object"),
            "c": pd.Series(dtype="object"),
            "start": pd.Series(dtype="Int32"),
            "confidence": pd.Series(dtype="float64"),
        }
    )
    for pdf in batches:
        frames = []
        m_conv, m_turn, m_a, m_b, m_start = [], [], [], [], []
        for conv, turn, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
            for surface, etype, start in _scan_mentions(text):
                m_conv.append(conv)
                m_turn.append(turn)
                m_a.append(surface)
                m_b.append(etype)
                m_start.append(start)
        if m_conv:
            frames.append(
                pd.DataFrame(
                    {
                        "conv_id": m_conv,
                        "turn_idx": pd.Series(m_turn, dtype="int32"),
                        "kind": "m",
                        "a": m_a,
                        "b": m_b,
                        "c": None,
                        "start": pd.Series(m_start, dtype="Int32"),
                        "confidence": np.nan,
                    }
                )
            )
        triples = _batch_triples(pdf)
        if len(triples):
            frames.append(
                pd.DataFrame(
                    {
                        "conv_id": triples["conv_id"].to_numpy(),
                        "turn_idx": triples["turn_idx"].to_numpy(),
                        "kind": "t",
                        "a": triples["subj_text"].to_numpy(),
                        "b": triples["pred"].to_numpy(),
                        "c": triples["obj_text"].to_numpy(),
                        "start": pd.Series(pd.NA, index=range(len(triples)), dtype="Int32"),
                        "confidence": triples["confidence"].to_numpy(),
                    }
                )
            )
        yield pd.concat(frames, ignore_index=True) if frames else empty


def extract_fused(turns: DataFrame) -> DataFrame:
    """Tagged mention ∪ triple stream from ONE corpus pass (see
    ``_fused_batches``).  kind='m' rows: (a=surface, b=entity_type,
    start); kind='t' rows: (a=subj_text, b=pred, c=obj_text, confidence)."""
    return turns.select("conv_id", "turn_idx", "text").mapInPandas(
        _fused_batches, FUSED_SCHEMA
    )


def split_fused(fused: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(mentions, triples) projections of an ``extract_fused`` stream, in
    exactly ``detect_mentions``' and ``extract_triples``' schemas."""
    mentions = fused.where(F.col("kind") == "m").select(
        "conv_id",
        "turn_idx",
        F.col("a").alias("surface"),
        F.col("b").alias("entity_type"),
        "start",
    )
    triples = fused.where(F.col("kind") == "t").select(
        "conv_id",
        "turn_idx",
        F.col("a").alias("subj_text"),
        F.col("b").alias("pred"),
        F.col("c").alias("obj_text"),
        "confidence",
    )
    return mentions, triples
