"""S4 — triple linking: resolve subj/obj text against the canonical names.

Reference correspondence: ref resolution is the reference's core relational
content — SRO ``source_ref``/``target_ref`` looked up by id against the
node index (A10), with dangling refs *skipped, logged, and the load
continues* (A11; reference README.md:83-85; golden dangling cases
testfull.json:3759-3781).  Here the id index becomes a membership join of
each endpoint against the name universe plus an inline canonical id, and
the dangling skip becomes a side output that is counted, never fatal.

Scale notes: the name universe is orders of magnitude smaller than the
triple stream, so the pipeline broadcasts it when it fits; past that
bound the joins shuffle, with hot names salted (``salted_dict_join``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stixtoneodb_spark.functions.textfns import canonical_name


@dataclass
class LinkResult:
    """Every raw triple with its endpoints resolved (``subj_id``/``obj_id``
    null where unresolvable).  ``linked`` and ``dropped`` are filters over
    ``joined``, so persisting ``joined`` once serves both."""

    joined: DataFrame

    @property
    def linked(self) -> DataFrame:
        """(conv_id, turn_idx, subj_id, pred, obj_id, subj_label, obj_label, confidence)"""
        return self.joined.where(
            F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
        ).select(
            "conv_id", "turn_idx", "subj_id", "pred", "obj_id", "subj_label", "obj_label", "confidence"
        )

    @property
    def dropped(self) -> DataFrame:
        """Triples with >=1 unresolvable endpoint + reason.  The reason
        string mirrors the reference's log lines ("references to
        non-existent objects", README.md:84) — the dangling side output
        (A11)."""
        return self.joined.where(
            F.col("subj_id").isNull() | F.col("obj_id").isNull()
        ).select(
            "conv_id",
            "turn_idx",
            "subj_text",
            "pred",
            "obj_text",
            F.when(F.col("subj_id").isNull() & F.col("obj_id").isNull(), "both_unresolved")
            .when(F.col("subj_id").isNull(), "subj_unresolved")
            .otherwise("obj_unresolved")
            .alias("reason"),
        )


def salted_dict_join(
    stream: DataFrame,
    mapdf: DataFrame,
    key: str,
    hot_keys: DataFrame,
    how: str = "left",
    n_salt: int = 16,
    salt_by: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Skew-proof stream ⋈ dictionary join by TARGETED salting — the
    north rule's named discipline for hot entities.

    ``hot_keys`` (one column, the hot key values — bounded by a
    corpus-relative frequency floor, so always broadcastable) drives the
    split: stream rows with a hot key get a deterministic salt from
    ``salt_by`` (columns that vary WITHIN a hot key — never the key
    itself, which would put a hot key's rows back into one bucket);
    everything else takes salt 0.  The dictionary replicates ONLY its
    hot rows ``n_salt`` ways; cold rows ride through once.  The join
    then runs on (key, salt): a hot entity's rows spread over ``n_salt``
    tasks instead of serializing one exchange partition — unlike AQE's
    skew split this fires at any skew magnitude, and unlike a hot/cold
    broadcast split it keeps the plan LINEAR (one pass over the stream,
    no branch-and-union whose legs each re-scan the input).

    Replicating the WHOLE dictionary instead (untargeted salting) was
    measured: at a 4M-name vocabulary the ×16 dictionary shuffle dwarfed
    the stream and tripled the join wall.  Targeted replication costs
    ≤ |hot| × n_salt extra dictionary rows — thousands, not millions.

    Result is provably identical to the plain join: the salt is an extra
    equi-key satisfied by construction on every matching pair (hot keys
    match at the stream row's salt, cold keys match at 0).
    """
    probe = F.broadcast(
        hot_keys.select(F.col(hot_keys.columns[0]).alias(key)).withColumn(
            "_hs", F.lit(True)
        )
    )
    s = (
        stream.join(probe, key, "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_hs").isNotNull(),
                F.pmod(F.xxhash64(*[F.col(c) for c in salt_by]), F.lit(n_salt)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("_hs")
    )
    m = (
        mapdf.join(probe, key, "left")
        .withColumn(
            "_salts",
            F.when(
                F.col("_hs").isNotNull(), F.sequence(F.lit(0), F.lit(n_salt - 1))
            ).otherwise(F.array(F.lit(0))),
        )
        .drop("_hs")
        .withColumn("_salt", F.explode("_salts"))
        .withColumn("_salt", F.col("_salt").cast("int"))
        .drop("_salts")
    )
    return s.join(m, [key, "_salt"], how).drop("_salt")


def link_triples(
    triples: DataFrame,
    name_universe: DataFrame,
    exceptions: DataFrame,
    hot_names: DataFrame | None = None,
    n_salt: int = 16,
    broadcast_universe: bool = False,
) -> LinkResult:
    """Join raw triples to canonical ids on both endpoints.

    Membership is tested against ``name_universe`` (one column, ``name``)
    — the narrowest possible dictionary, no 64-char ids riding an
    exchange — and the canonical id/label are then computed INLINE
    (``sha2(coalesce(exception_component, name))``), with ``exceptions``
    (name, component) joined small-side.  See
    canonicalize.canonical_exceptions.

    ``broadcast_universe``: the caller's data-dependent plan choice — when
    the measured vocabulary fits a broadcast, both membership joins run
    map-side and the triple stream never shuffles in S4 (a broadcast hash
    join is skew-immune by construction).  Otherwise the joins shuffle;
    ``hot_names``, when given, makes them TARGET-SALTED
    (``salted_dict_join``): popular entities spread over ``n_salt`` tasks
    instead of serializing the exchange on the hot name, and the plan
    stays one pass over the triple stream per endpoint.
    """
    t = triples.withColumn("subj_name", canonical_name("subj_text")).withColumn(
        "obj_name", canonical_name("obj_text")
    )

    def _dict_join(stream: DataFrame, mapdf: DataFrame, key: str) -> DataFrame:
        if broadcast_universe:
            return stream.join(F.broadcast(mapdf), key, "left")
        if hot_names is not None:
            return salted_dict_join(stream, mapdf, key, hot_names, "left", n_salt)
        return stream.join(mapdf, key, "left")

    # Shape note (measured): keep the per-endpoint projected frames +
    # USING-style joins.  A rewrite to one shared (name, _in) projection
    # with explicit-condition joins — aiming at broadcast ReuseExchange —
    # regressed the un-barriered tail job by ~30s@16 on 27.9M turns, and
    # reuse does not fire under AQE anyway (TableCacheQueryStage gives each
    # branch's cached scan a distinct stage identity).  The duplicate
    # vocabulary-scale broadcast build is the accepted flat cost.
    subj_u = name_universe.select(F.col("name").alias("subj_name")).withColumn(
        "_subj_in", F.lit(True)
    )
    obj_u = name_universe.select(F.col("name").alias("obj_name")).withColumn(
        "_obj_in", F.lit(True)
    )
    joined = _dict_join(_dict_join(t, subj_u, "subj_name"), obj_u, "obj_name")
    for end in ("subj", "obj"):
        exc = exceptions.select(
            F.col("name").alias(f"{end}_name"),
            F.col("component").alias(f"_comp_{end}"),
        )
        joined = (
            joined.join(exc, f"{end}_name", "left")
            .withColumn(
                f"{end}_label",
                F.when(
                    F.col(f"_{end}_in").isNotNull(),
                    F.coalesce(F.col(f"_comp_{end}"), F.col(f"{end}_name")),
                ),
            )
            .withColumn(f"{end}_id", F.sha2(F.col(f"{end}_label"), 256))
            .drop(f"_comp_{end}", f"_{end}_in")
        )
    return LinkResult(joined=joined)
