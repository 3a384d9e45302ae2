"""End-to-end pipeline properties: P/R gate, dangling accounting,
idempotence, permutation invariance, resume-equals-fresh, append-equals-
union, and graph rows pinned to recorded values."""

import pytest
import pyspark.sql.functions as F

from stixtoneodb_spark.plans.evaluate import triple_pr
from stixtoneodb_spark.plans.pipeline import KgPipeline
from stixtoneodb_spark.sources.transcripts import (
    alias_edges_df,
    transcripts_df,
    truth_triples_df,
)

N_CONV = 50

# Order-independent full-row signatures of this corpus's graph tables,
# recorded from the pipeline before S2-S5 were fused into one dataflow:
# (row count, sum of xxhash64 over every column in name order).
PINNED_GRAPH = {
    "nodes": (233, "48602461411194325506"),
    "edges": (761, "-47546874977041585874"),
    "dropped_triples": (2, "1467615144263229416"),
}


def rows_signature(df) -> tuple[int, str]:
    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def graph_signature(catalog) -> dict[str, tuple[int, str]]:
    return {t: rows_signature(catalog.read(t)) for t in PINNED_GRAPH}


@pytest.fixture(scope="module")
def corpus(spark):
    return (
        transcripts_df(spark, N_CONV).cache(),
        truth_triples_df(spark, N_CONV).cache(),
        alias_edges_df(spark),
    )


@pytest.fixture(scope="module")
def result(spark, corpus, tmp_path_factory):
    tr, truth, aliases = corpus
    wh = str(tmp_path_factory.mktemp("wh"))
    pipe = KgPipeline(spark, wh, run_id="t1")
    res = pipe.run(tr, alias_edges=aliases)
    return pipe, res


def test_triple_pr_meets_gate(spark, corpus, result):
    tr, truth, _ = corpus
    pipe, res = result
    pr = triple_pr(
        pipe.catalog.read("linked_triples"), truth, pipe.catalog.read("canonical_map")
    )
    assert pr.precision >= 0.95, pr
    assert pr.recall >= 0.95, pr


def test_dangling_triples_dropped_and_counted(spark, corpus, result):
    _, truth, _ = corpus
    pipe, res = result
    n_dangling_truth = truth.where("dangling").count()
    dropped = pipe.catalog.read("dropped_triples")
    # every planted dangling triple lands in the side output with a reason
    assert dropped.count() >= n_dangling_truth
    assert dropped.where(F.col("reason").isNull()).count() == 0


def test_rerun_is_idempotent(spark, corpus, result):
    # NOTE: the parquet fallback has no snapshot isolation (Iceberg does),
    # so the first run's outputs are materialized before re-running.
    tr, _, aliases = corpus
    pipe, res = result
    nodes_before = {r.id for r in res.nodes.select("id").collect()}
    edges_before = {r.id for r in res.edges.select("id").collect()}
    pipe2 = KgPipeline(spark, pipe.catalog.warehouse, run_id="t2")
    res2 = pipe2.run(tr, alias_edges=aliases)
    assert {r.id for r in res2.nodes.select("id").collect()} == nodes_before
    assert {r.id for r in res2.edges.select("id").collect()} == edges_before


def test_permutation_invariance(spark, corpus, tmp_path_factory):
    tr, _, aliases = corpus
    shuffled = tr.orderBy(F.rand(seed=7)).repartition(13)
    wh = str(tmp_path_factory.mktemp("wh_perm"))
    pipe = KgPipeline(spark, wh, run_id="perm")
    res = pipe.run(shuffled, alias_edges=aliases)

    wh2 = str(tmp_path_factory.mktemp("wh_base"))
    base = KgPipeline(spark, wh2, run_id="base").run(tr, alias_edges=aliases)

    assert res.edges.select("id").exceptAll(base.edges.select("id")).count() == 0
    assert base.edges.select("id").exceptAll(res.edges.select("id")).count() == 0


def test_resume_equals_fresh(spark, corpus, tmp_path_factory):
    """Kill after S2 (simulated: run S0-S2 only by marking later stages
    absent), then resume with the same run_id — outputs must equal a fresh
    run's."""
    tr, _, aliases = corpus
    wh = str(tmp_path_factory.mktemp("wh_resume"))
    pipe = KgPipeline(spark, wh, run_id="r1")
    # partial run: execute the pipeline, then delete everything after S2
    res = pipe.run(tr, alias_edges=aliases)
    edges_fresh = {r.id for r in res.edges.select("id").collect()}
    import shutil, os

    for t in ("canonical_map", "linked_triples", "dropped_triples", "nodes", "edges"):
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    # resume under a new run_id: S0/S2 tables exist but checkpoints belong
    # to r1, so stages re-run; content-derived keys make outputs identical
    pipe2 = KgPipeline(spark, wh, run_id="r2")
    res2 = pipe2.run(tr, alias_edges=aliases)
    assert {r.id for r in res2.edges.select("id").collect()} == edges_fresh


def test_resume_sweeps_staging_of_every_owned_table(spark, corpus, tmp_path_factory):
    """A run killed mid-stage leaves ``_staging/<table>.tmp-*`` dirs for
    whichever table was in flight — for EVERY table the pipeline writes,
    not just 'turns' (round-3 advice: the narrow sweep let staging grow
    unboundedly across crashed runs).  A foreign writer's staging entry
    must survive the sweep."""
    import os

    tr, _, aliases = corpus
    wh = str(tmp_path_factory.mktemp("wh_sweep"))
    staging = os.path.join(wh, "_staging")
    os.makedirs(staging)
    leftovers = []
    for t in KgPipeline.OWNED_TABLES:
        d = os.path.join(staging, f"{t}.tmp-deadbeef")
        os.makedirs(d)
        leftovers.append(d)
    os.makedirs(os.path.join(staging, "mentions.tmp-deadbeef.old"))
    leftovers.append(os.path.join(staging, "mentions.tmp-deadbeef.old"))
    foreign = os.path.join(staging, "stream_mentions.tmp-cafe0001")
    os.makedirs(foreign)

    KgPipeline(spark, wh, run_id="sweep1").run(tr, alias_edges=aliases)
    for d in leftovers:
        assert not os.path.exists(d), f"staging leftover survived resume: {d}"
    assert os.path.exists(foreign), "sweep deleted a concurrent writer's staging dir"


def test_salted_dict_join_equals_plain_join(spark):
    """Targeted salting is result-identical to the plain join for both
    `how`s: hot keys match at the stream row's salt (dict replicated),
    cold keys at salt 0, missing keys behave per join type."""
    from stixtoneodb_spark.plans.link import salted_dict_join

    stream = spark.createDataFrame(
        [("hot", "c1", 1), ("hot", "c1", 2), ("hot", "c2", 7), ("cold", "c3", 3),
         ("miss", "c4", 4)],
        "name string, conv_id string, turn_idx int",
    )
    mapdf = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], "name string, canonical_id string"
    )
    hot = spark.createDataFrame([("hot",)], "name string")
    for how in ("left", "inner"):
        got = sorted(
            map(tuple, salted_dict_join(stream, mapdf, "name", hot, how, n_salt=4).collect())
        )
        want = sorted(map(tuple, stream.join(mapdf, "name", how).collect()))
        assert got == want, how


def test_metrics_recorded_per_stage(spark, result):
    pipe, res = result
    stages = {r.stage for r in pipe.catalog.read("_checkpoints").collect()}
    assert {"s0_ingest", "s2_mentions", "s2_triples", "s3_canonical_map", "s4_link", "s5_nodes", "s5_edges"} <= stages


def test_stage_rows_come_from_the_writes(spark, result):
    """Stage row counts ride the writes as Observations; each must equal
    the table it describes (S4 splits every raw triple exactly once)."""
    pipe, res = result
    m = res.metrics
    for stage, table in (
        ("s0_ingest", "turns"),
        ("s2_mentions", "mentions"),
        ("s2_triples", "triples_raw"),
        ("s3_canonical_map", "canonical_map"),
        ("s4_link", "linked_triples"),
        ("s4_dropped", "dropped_triples"),
    ):
        assert m[f"{stage}_rows"] == pipe.catalog.read(table).count(), stage
    assert m["s4_link_rows"] + m["s4_dropped_rows"] == m["s2_triples_rows"]


def test_graph_matches_pinned_rows(spark, result):
    """Full-row content of nodes, edges and dropped triples equals the
    values recorded before the dataflow was rewritten."""
    pipe, _ = result
    assert graph_signature(pipe.catalog) == PINNED_GRAPH


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = getattr(spark.sparkContext._jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    return metrics.__getattr__("MODULE$").METRIC_COMPILATION_TIME().getCount()


def test_second_build_compiles_no_generated_code(spark, corpus, tmp_path_factory):
    """A second graph build in the session finds every generated class of
    the first in Spark's codegen cache (session.CODEGEN_CACHE_ENTRIES), so
    it compiles none; at Spark's 100-entry default it recompiles most."""
    tr, _, aliases = corpus
    for i in range(2):
        before = codegen_compiles(spark)
        KgPipeline(spark, str(tmp_path_factory.mktemp(f"wh_codegen{i}")), run_id="t1").run(
            tr, alias_edges=aliases
        )
    assert codegen_compiles(spark) - before == 0


def test_append_equals_union_build(spark, corpus, tmp_path_factory):
    """Build A, then append a disjoint B under a new run_id in the same
    session and warehouse: the node and edge id sets must equal one build
    over A∪B.  Guards against a cache from run A (keyed on a warehouse
    path that run B rewrites) serving run B's reads."""
    tr, _, aliases = corpus
    in_a = F.pmod(F.xxhash64("conv_id"), F.lit(3)) != 0
    wh = str(tmp_path_factory.mktemp("wh_append"))
    KgPipeline(spark, wh, run_id="a").run(tr.where(in_a), alias_edges=aliases)
    appended = KgPipeline(spark, wh, run_id="b").run(tr.where(~in_a), alias_edges=aliases)
    union = KgPipeline(spark, str(tmp_path_factory.mktemp("wh_union")), run_id="ab").run(
        tr, alias_edges=aliases
    )
    for table in ("nodes", "edges"):
        got = {r.id for r in getattr(appended, table).select("id").collect()}
        want = {r.id for r in getattr(union, table).select("id").collect()}
        assert got == want, (table, len(got), len(want))


def test_wave_writes_overlap_and_a_failed_stage_resumes_alone(
    spark, corpus, tmp_path_factory, monkeypatch
):
    """S4 and S5 write as one wave of concurrent jobs: the ``nodes`` write
    overlaps the ``linked_triples`` one.  When the ``nodes`` job fails,
    ``run()`` re-raises once no sibling job is left running, each sibling
    that finished keeps its checkpoint row, and a resume under the same
    run_id re-runs ``s5_nodes`` alone, sweeps every staging leftover and
    gives the id sets of a fresh build."""
    import os
    import time

    from stixtoneodb_spark.plans import catalog as C
    from stixtoneodb_spark.plans import materialize

    tr, _, aliases = corpus
    spans: dict[str, tuple[float, float]] = {}
    for method in ("overwrite", "merge_upsert"):

        def timed(cat, table, *args, _orig=getattr(C.ParquetMergeCatalog, method), **kwargs):
            t0 = time.perf_counter()
            try:
                return _orig(cat, table, *args, **kwargs)
            finally:
                spans[table] = (t0, time.perf_counter())

        monkeypatch.setattr(C.ParquetMergeCatalog, method, timed)
    fresh = KgPipeline(spark, str(tmp_path_factory.mktemp("wh_wave")), run_id="wave").run(
        tr, alias_edges=aliases
    )
    (n0, n1), (l0, l1) = spans["nodes"], spans["linked_triples"]
    assert n0 < l1 and l0 < n1, spans
    want = {t: {r.id for r in getattr(fresh, t).select("id").collect()} for t in ("nodes", "edges")}
    monkeypatch.undo()

    real_nodes = materialize.entity_nodes_from_type_counts

    def failing_nodes(type_counts):
        return real_nodes(type_counts).withColumn(
            "label", F.raise_error(F.lit("nodes build failed")).cast("string")
        )

    monkeypatch.setattr(materialize, "entity_nodes_from_type_counts", failing_nodes)
    wh = str(tmp_path_factory.mktemp("wh_wave_fail"))
    pipe = KgPipeline(spark, wh, run_id="wave")
    with pytest.raises(Exception, match="nodes build failed"):
        pipe.run(tr, alias_edges=aliases)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    done = {r["stage"] for r in pipe.catalog.read_rows(KgPipeline.CKPT_TABLE, ["stage"])}
    assert {"s4_link", "s4_dropped", "s5_edges"} <= done and "s5_nodes" not in done, done
    monkeypatch.undo()

    res = KgPipeline(spark, wh, run_id="wave").run(tr, alias_edges=aliases)
    assert {k for k in res.metrics if k.endswith("_rows")} == {"s5_nodes_rows"}, res.metrics
    staged = [
        e
        for _, dirs, files in os.walk(os.path.join(wh, "_staging"))
        for e in files + [d for d in dirs if ".tmp-" in d]
    ]
    assert staged == [], staged
    for t in ("nodes", "edges"):
        assert {r.id for r in getattr(res, t).select("id").collect()} == want[t], t


def test_wave_marks_every_stage_in_stage_order(spark, tmp_path):
    """Stress the shared bookkeeping of a wave: more stage threads than
    cores, with a short switch interval, each marking itself done.  Every
    stage keeps its checkpoint row and its metrics, and the metrics stay in
    stage order whatever order the writes finished in."""
    import sys
    import threading

    pipe = KgPipeline(spark, str(tmp_path / "wh"), run_id="stress")
    pipe._finished()
    stages = [
        (f"s{i:02d}", f"t{i:02d}", lambda i=i: spark.range(i + 1).toDF("id"))
        for i in range(12)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        runner = threading.Thread(target=pipe._wave, args=stages)
        runner.start()
        runner.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not runner.is_alive()
    names = [name for name, *_ in stages]
    assert list(pipe.metrics) == [f"{n}_{m}" for n in names for m in ("rows", "wall_s")]
    assert [pipe.metrics[f"{n}_rows"] for n in names] == list(range(1, 13))
    ledger = pipe.catalog.read_rows(KgPipeline.CKPT_TABLE, ["stage", "rows"])
    assert sorted((r["stage"], r["rows"]) for r in ledger) == list(zip(names, range(1, 13)))


def test_combined_mention_pass_equals_per_type(spark):
    """The single-pass combined gazetteer regex must emit exactly the
    per-type multi-pass mentions (surfaces are disjoint across types)."""
    from pyspark.sql import functions as F

    from stixtoneodb_spark.plans import assemble, extract
    from stixtoneodb_spark.sources.transcripts import transcripts_df

    turns = assemble.normalize_turns(transcripts_df(spark, 120))
    combined = turns.select(
        "conv_id", "turn_idx", F.explode(extract.detect_mentions_udf(F.col("text"))).alias("m")
    ).select("conv_id", "turn_idx", "m.surface", "m.entity_type", "m.start")
    per_type = turns.select(
        "conv_id", "turn_idx",
        F.explode(extract.detect_mentions_per_type_udf(F.col("text"))).alias("m"),
    ).select("conv_id", "turn_idx", "m.surface", "m.entity_type", "m.start")
    assert combined.count() == per_type.count() > 0
    assert combined.exceptAll(per_type).count() == 0
    assert per_type.exceptAll(combined).count() == 0


def test_cross_type_overlap_guard_catches_all_shapes():
    """The combined-pass precondition guard must reject every overlap
    shape that breaks single-pass/per-type equivalence — not just the
    original same-start prefix case (round-3 advice): interior
    boundary containment ('corp' in 'acme corp') and suffix/prefix token
    straddle ('acme corp' + 'corp systems' sharing 'corp') both diverge
    silently in texts containing the enclosing/earlier surface."""
    import pytest

    from stixtoneodb_spark.plans.extract import _assert_cross_type_nonoverlap

    # the shipped gazetteer satisfies the precondition
    from stixtoneodb_spark.plans.extract import GAZETTEER

    by_type: dict[str, list[str]] = {}
    for _canon, (etype, surfaces) in GAZETTEER.items():
        by_type.setdefault(etype, []).extend(surfaces)
    _assert_cross_type_nonoverlap(by_type)

    for bad in (
        {"a": ["corp systems"], "b": ["corp"]},      # boundary prefix
        {"a": ["acme corp"], "b": ["corp"]},         # interior containment
        {"a": ["acme corp"], "b": ["corp systems"]}, # token straddle
        {"a": ["host-ab12cd"], "b": ["ab12cd"]},     # separator-insensitive
    ):
        with pytest.raises(AssertionError, match="cross-type overlap"):
            _assert_cross_type_nonoverlap(bad)

    # within-type overlap stays legal (longest-first alternation)
    _assert_cross_type_nonoverlap({"a": ["acme corp", "corp"]})


def test_salted_pipeline_equals_plain_pipeline(spark, corpus, result, tmp_path_factory, monkeypatch):
    """End-to-end equality of the three S4 join plans KgPipeline.run can
    pick: the default broadcast join (the test vocabulary fits), the plain
    shuffle join (broadcast bound forced to 0; the corpus-relative floor
    finds no hot name) and the target-salted shuffle join (floors forced
    down so every name is hot).  The salt is an equi-key satisfied by
    construction, so any divergence is a bug in the salting machinery."""
    import stixtoneodb_spark.plans.link as L
    import stixtoneodb_spark.plans.pipeline as P

    tr, _, aliases = corpus
    pipe, _ = result
    want = graph_signature(pipe.catalog)
    salted_calls = []
    orig = L.salted_dict_join

    def counting_salted_join(*args, **kwargs):
        salted_calls.append(args[2])
        return orig(*args, **kwargs)

    monkeypatch.setattr(L, "salted_dict_join", counting_salted_join)
    monkeypatch.setattr(P, "BROADCAST_UNIVERSE_MAX", 0)
    for floor, target, n_salted in ((P.HOT_NAME_FLOOR, P.HOT_NAME_TARGET, 0), (1, 10**9, 2)):
        monkeypatch.setattr(P, "HOT_NAME_FLOOR", floor)
        monkeypatch.setattr(P, "HOT_NAME_TARGET", target)
        salted_calls.clear()
        run = KgPipeline(spark, str(tmp_path_factory.mktemp("wh_salt")), run_id="salt")
        run.run(tr, alias_edges=aliases)
        assert len(salted_calls) == n_salted, salted_calls
        assert graph_signature(run.catalog) == want

def test_fused_extraction_equals_separate_extractors(spark):
    """The fused S2 pass (one mapInPandas, tagged union) must emit the
    IDENTICAL mention and triple rows as the two standalone extractors —
    any drift in the shared regex application order, surface slicing,
    start offsets or predicate lowercasing breaks this."""
    from collections import Counter

    from stixtoneodb_spark.plans import extract
    from stixtoneodb_spark.sources.transcripts import transcripts_df

    tr = transcripts_df(spark, 400)
    f_m, f_t = extract.split_fused(extract.extract_fused(tr))
    s_m, s_t = extract.detect_mentions(tr), extract.extract_triples(tr)
    for fused, single in ((f_m, s_m), (f_t, s_t)):
        assert fused.schema.simpleString() == single.schema.simpleString()
        got = Counter(map(tuple, fused.collect()))
        assert got == Counter(map(tuple, single.collect())) and len(got) > 0
