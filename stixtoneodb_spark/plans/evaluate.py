"""Triple-extraction P/R vs planted ground truth (BASELINE.json metric).

The truth triples carry gazetteer-canonical entity names; extracted triples
carry canonical component ids.  To compare, truth names are pushed through
the *same* canonical map the pipeline built, then both sides are reduced to
(conv_id, turn_idx, subj_component, pred, obj_component) multisets.
Precision = |match| / |extracted|; recall = |match| / |truth non-dangling|.
Dangling truth triples (planted unresolvable objects) are expected to be
*dropped* — they count toward neither denominator but are asserted to show
up in the dropped side output.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stixtoneodb_spark.functions.textfns import canonical_name


@dataclass
class PRResult:
    precision: float
    recall: float
    n_extracted: int
    n_truth: int
    n_matched: int


def triple_pr(linked: DataFrame, truth: DataFrame, canon: DataFrame) -> PRResult:
    """Compute P/R of linked triples against non-dangling truth triples."""
    cmap = F.broadcast(canon.select("name", "canonical_id"))

    truth_live = truth.where(~F.col("dangling"))
    t = (
        truth_live.withColumn("subj_name", canonical_name("subj_canonical"))
        .withColumn("obj_name", canonical_name("obj_canonical"))
        .join(cmap.withColumnRenamed("name", "subj_name").withColumnRenamed("canonical_id", "t_subj"), "subj_name", "left")
        .join(cmap.withColumnRenamed("name", "obj_name").withColumnRenamed("canonical_id", "t_obj"), "obj_name", "left")
        .select(
            "conv_id",
            "turn_idx",
            F.coalesce("t_subj", F.sha2(F.col("subj_name"), 256)).alias("subj_id"),
            "pred",
            F.coalesce("t_obj", F.sha2(F.col("obj_name"), 256)).alias("obj_id"),
        )
    )
    e = linked.select("conv_id", "turn_idx", "subj_id", "pred", "obj_id")

    n_extracted = e.count()
    n_truth = t.count()
    n_matched = n_extracted - e.exceptAll(t).count()
    precision = n_matched / n_extracted if n_extracted else 0.0
    recall = n_matched / n_truth if n_truth else 0.0
    return PRResult(precision, recall, n_extracted, n_truth, n_matched)
