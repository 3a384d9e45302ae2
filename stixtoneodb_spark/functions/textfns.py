"""Text-normalization / tokenization column expressions.

All JVM-side built-ins (no Python in the hot path).  These feed mention
detection, dedup shingling, and canonicalization blocking.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

# Keep this regex simple enough to be dialect-portable (Java regex here,
# RE2-ish in DuckDB oracles): ASCII word runs.
TOKEN_RE = "[a-z0-9]+"


def normalize(text: Column) -> Column:
    """Canonical text form: lowercase, collapse whitespace, trim.

    translate+split+filter+array_join, not regexp_replace — JVM regex
    replacement measured serialized-flat across cores on this host (see
    canonical_name); this feeds the shingle chain over the full name
    vocabulary.  Equality with the regex form is pinned by
    tests/test_canonicalize.py.
    """
    ws = "\t\n\r\x0b\x0c"
    toks = F.filter(
        F.split(F.translate(F.lower(text), ws, " " * len(ws)), " ", -1),
        lambda t: t != "",
    )
    return F.array_join(toks, " ")


def normalize_regex(text: Column) -> Column:
    """regexp_replace form of ``normalize`` — kept as the equality oracle."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def tokens(text: Column) -> Column:
    """array<string> of lowercase alnum tokens."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )


STOP_TOKENS = ("the", "corp", "corporation", "inc", "group", "ltd", "llc")


# Every printable ASCII char that is not a letter, digit, or space — the
# translate() source alphabet for canonical_name's fast path.  Letters
# (both cases) and digits are excluded: lower() runs first, so only
# [a-z0-9] can survive and they must pass through.  Non-ASCII codepoints
# are NOT in this alphabet — canonical_name routes any row containing
# them to the regex form (see its docstring) so the documented
# strip-everything-outside-[a-z0-9 ] semantics hold for ALL inputs.
_PUNCT = "".join(
    chr(c)
    for c in range(33, 127)
    if not chr(c).isalpha() and not chr(c).isdigit()
) + "\t\n\r\x0b\x0c"


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal.  The parser unescapes
    backslash sequences (``spark.sql.parser.escapedStringLiterals`` is
    off by default), so ``'`` and ``\\`` are backslash-escaped and control
    characters are written as ``\\uXXXX``."""
    out = []
    for c in s:
        if c in "'\\":
            out.append("\\" + c)
        elif ord(c) < 32:
            out.append(f"\\u{ord(c):04x}")
        else:
            out.append(c)
    return "'" + "".join(out) + "'"


def _canonical_name_regex_sql(surface: str) -> str:
    """SQL text of ``canonical_name_regex`` over the SQL expression ``surface``."""
    ws = _sql_str(r"\s+")
    stop = _sql_str(rf"\b({'|'.join(STOP_TOKENS)})\b")
    cleaned = (
        f"trim(regexp_replace(regexp_replace(lower({surface}), {_sql_str('[^a-z0-9 ]')}, ' '), "
        f"{ws}, ' '))"
    )
    return f"trim(regexp_replace(regexp_replace({cleaned}, {stop}, ' '), {ws}, ' '))"


@functools.cache
def _canonical_name_sql(name: str) -> str:
    """SQL text of ``canonical_name`` over column ``name``, built once per
    column name and process."""
    col = "`" + name.replace("`", "``") + "`"
    low = f"lower({col})"
    stop = ", ".join(_sql_str(t) for t in STOP_TOKENS)
    fast = (
        f"array_join(filter(split(translate({low}, {_sql_str(_PUNCT)}, "
        f"{_sql_str(' ' * len(_PUNCT))}), ' ', -1), t -> t != '' AND NOT t IN ({stop})), ' ')"
    )
    return (
        f"CASE WHEN octet_length({low}) = length({low}) THEN {fast} "
        f"ELSE {_canonical_name_regex_sql(col)} END"
    )


def canonical_name(surface: str) -> Column:
    """Entity-surface canonicalization of the string column named
    ``surface``: lowercase, strip punctuation, collapse whitespace, drop
    corporate stop-tokens.

    This is the cheap deterministic canonicalizer; MinHash-LSH + connected
    components (plans/canonicalize.py) handles the residual variants.

    Implementation is ``translate`` (per-char map) + one ``split`` +
    token filter + ``array_join`` — NOT a regexp_replace chain.  Measured
    on the bench host (5.8M surfaces): the 4-regex chain ran at a FLAT
    ~0.6M rows/s aggregate regardless of core count — JVM regex
    replacement behaved as a serialized resource and capped every stage
    that touched it (S3's count agg, S4's link, S5's mention edges were
    the pipeline's top non-scalers solely through this expression) —
    while the translate form is ~7x faster and scales with cores.
    Equality with the regex form (``canonical_name_regex``) and the
    original HOF form is asserted by tests/test_canonicalize.py.

    The translate alphabet only covers ASCII, so rows containing ANY
    non-ASCII codepoint take the regex form instead (round-3 advice: the
    ASCII-only translate silently diverged from the documented
    strip-[^a-z0-9 ] semantics on non-ASCII surfaces).  The dispatch
    test is ``octet_length == length`` — true iff every char is
    single-byte UTF-8, i.e. pure ASCII — which is a codegen'd integer
    compare, no regex; CASE WHEN short-circuits, so the serialized
    regexp_replace never executes for the (overwhelmingly ASCII) hot
    rows and the fast path's measured scaling is untouched.

    The expression is one ``F.expr`` over SQL text built once per column
    name: the same tree built through the Column API costs ~200 py4j
    round trips per call (~0.17 ms each), and the graph build calls this
    on every op.
    """
    return F.expr(_canonical_name_sql(surface))


def canonical_name_regex(surface: Column) -> Column:
    """The regexp_replace chain form — kept as the equality oracle for
    the translate rewrite above (and as documentation of the semantics:
    strip [^a-z0-9 ], collapse runs, drop whole stop tokens, trim)."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(surface), r"[^a-z0-9 ]", " "), r"\s+", " "
        )
    )
    stop = "|".join(STOP_TOKENS)
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(cleaned, rf"\b({stop})\b", " "), r"\s+", " "
        )
    )


def canonical_name_hof(surface: Column) -> Column:
    """The original array-filter form — kept as the equality oracle for
    the regex rewrite above."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(surface), r"[^a-z0-9 ]", " "), r"\s+", " "
        )
    )
    toks = F.filter(F.split(cleaned, " "), lambda t: ~t.isin(*STOP_TOKENS))
    return F.array_join(toks, " ")


def shingles(text: Column, k: int = 5) -> Column:
    """Character k-shingle array (distinct) of the normalized text.

    Built via sequence+transform — stays inside whole-stage codegen, no UDF.
    """
    norm = normalize(text)
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(k))))


def word_shingle_rows(df, key_col: str, text: Column, k: int = 3):
    """Word k-shingles as ROWS ``(key, sh)`` — the all-codegen form.

    Tokenization is posexplode + a plain WHERE (no HOF filter); k-grams
    come from ``lead`` windows over the per-key token sequence; per-key
    dedup is a row_number window on (key, sh).  Every window and every
    downstream groupBy(key) rides ONE hash partitioning on the key
    (ClusteredDistribution(key, sh) is satisfied by hash(key)), so the
    whole shingle→signature→fingerprint chain costs a single shuffle.
    Semantics: full k-grams only, whole-token-string fallback for keys
    with fewer than k tokens (concat_ws skips the null leads), token-less
    keys vanish (explode of an empty array emits nothing), duplicates
    dropped.

    This replaced a per-key shingle-array form in the dedup hot path: its
    interpreted ``transform`` lambda plus caching wide shingle arrays cost
    ~4x the entire rest of the LSH pipeline at sf0.1.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    toks = df.select(
        F.col(key_col), F.posexplode(F.split(F.lower(text), r"[^a-z0-9]+")).alias("pos", "t")
    ).where(F.col("t") != "")
    w = Window.partitionBy(key_col).orderBy("pos")
    wp = Window.partitionBy(key_col)
    leads = [F.lead("t", i).over(w) for i in range(1, k)]
    grams = toks.select(
        F.col(key_col),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n"),
        F.concat_ws(" ", F.col("t"), *leads).alias("sh"),
    )
    keep = (F.col("rn") <= F.col("n") - k + 1) | ((F.col("n") < k) & (F.col("rn") == 1))
    wdup = Window.partitionBy(key_col, "sh").orderBy("rn")
    return (
        grams.where(keep)
        .withColumn("_dup", F.row_number().over(wdup))
        .where(F.col("_dup") == 1)
        .select(key_col, "sh")
    )


def _band_table_from_sigs(sigs, key_col: str, num_hashes: int, num_bands: int):
    """Shared banding tail: signature columns _h0.._hN → (key, band) rows."""
    rows_per_band = num_hashes // num_bands
    bands = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.sha2(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"_h{b * rows_per_band + j}").cast("string")
                            for j in range(rows_per_band)
                        ],
                    ),
                    256,
                ),
            )
            for b in range(num_bands)
        ]
    )
    return sigs.select(F.col(key_col), F.explode(bands).alias("band"))


def minhash_band_table_rows(
    rows,
    key_col: str,
    num_hashes: int,
    num_bands: int,
    seed: int = 42,
):
    """(key, band) LSH rows from a shingle-ROWS frame ``(key, sh)``: one
    ``min(xxhash64(sh, seed+h))`` aggregate per hash (whole-stage codegen,
    map-side partial agg), then band keys as plain sha2 projections — no
    array column and no higher-order-function lambda anywhere.  Pairs with
    ``word_shingle_rows`` so signatures aggregate directly on the exploded
    representation (the groupBy reuses the shingle frame's key
    partitioning).  Rows out: one per (key, band)."""
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(seed + h))).alias(f"_h{h}")
        for h in range(num_hashes)
    ]
    return _band_table_from_sigs(rows.groupBy(key_col).agg(*aggs), key_col, num_hashes, num_bands)
