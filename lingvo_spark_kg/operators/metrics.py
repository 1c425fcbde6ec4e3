"""Tagging metrics as DataFrame aggregates: per-label token P/R/F1 and macro F1.

Reproduces the reference validator's scoring as hash aggregates
(reference: PosTagger/Lingvo.PosTagger/Metrics/SeqLabelFscoreMetric.cs:23-104 — per
label, counts of (hyp∧ref), hyp, ref at aligned token positions;
MultiLabelsFscoreMetric.cs:40-153 — macro average excluding 'O' and predefined tokens,
label set Applications/Validator.cs:87-97). Spark shape: position-aligned equi-join on
(doc_id, sent_key, tok_idx) then groupBy(label) — SURVEY.md §2.5 A1/A2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_JOIN_KEYS = ["doc_id", "sent_key", "tok_idx"]

# labels excluded from the macro average: 'O' + the predefined tokens
# (Validator.cs:87-97) — module-level so callers composing macro rows share it
SPECIAL_LABELS = ("O", "<s>", "</s>", "<unk>")


def per_label_prf(hyp: DataFrame, ref: DataFrame, label_col: str = "label") -> DataFrame:
    """hyp/ref: (doc_id, sent_key, tok_idx, label) → per-label
    (label, n_hyp, n_ref, n_both, precision, recall, f1)."""
    h = hyp.select(*_JOIN_KEYS, F.col(label_col).alias("hyp_label"))
    r = ref.select(*_JOIN_KEYS, F.col(label_col).alias("ref_label"))
    j = h.join(r, _JOIN_KEYS, "inner")

    hyp_counts = j.groupBy(F.col("hyp_label").alias("label")).agg(F.count(F.lit(1)).alias("n_hyp"))
    ref_counts = j.groupBy(F.col("ref_label").alias("label")).agg(F.count(F.lit(1)).alias("n_ref"))
    both_counts = (
        j.where(F.col("hyp_label") == F.col("ref_label"))
        .groupBy(F.col("hyp_label").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    out = (
        hyp_counts.join(ref_counts, "label", "full")
        .join(both_counts, "label", "full")
        .na.fill(0, ["n_hyp", "n_ref", "n_both"])
    )
    precision = F.when(F.col("n_hyp") > 0, F.col("n_both") / F.col("n_hyp")).otherwise(F.lit(0.0))
    recall = F.when(F.col("n_ref") > 0, F.col("n_both") / F.col("n_ref")).otherwise(F.lit(0.0))
    f1 = F.when(
        (F.col("n_hyp") > 0) & (F.col("n_ref") > 0) & (F.col("n_both") > 0),
        2 * precision * recall / (precision + recall),
    ).otherwise(F.lit(0.0))
    return out.select(
        "label", "n_hyp", "n_ref", "n_both",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def macro_f1(prf: DataFrame, exclude: tuple[str, ...] = SPECIAL_LABELS) -> DataFrame:
    """Common-Score analog: macro average over labels excluding 'O'/predefined
    (MultiLabelsFscoreMetric.cs:40-153)."""
    return (
        prf.where(~F.col("label").isin(*exclude))
        .agg(
            F.round(F.avg("precision"), 6).alias("macro_precision"),
            F.round(F.avg("recall"), 6).alias("macro_recall"),
            F.round(F.avg("f1"), 6).alias("macro_f1"),
            F.count(F.lit(1)).alias("n_labels"),
        )
    )
