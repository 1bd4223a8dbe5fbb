"""Hashed linear text-classifier inference — the fastText-style
quality/model-based filter stage of a pretraining pipeline, as pure
JVM expressions.

The model-based filtering step (CCNet's LM filter, LLaMA's "quality
classifier", fastText language/quality heads) is, at inference time,
a linear model over hashed bag-of-words features:

    margin(doc) = Σ_occurrences weight[h(token) mod D]  (+ bias)
    label       = keep  iff  mean-margin ≥ threshold

No training happens here (no sklearn in the container, and training is
offline anyway): the model arrives AS DATA — a (bucket, weight)
DataFrame, exactly how an exported linear model would — and inference
is a broadcast join, so the classifier runs at corpus scale with zero
Python in the hot path.

Scale shape (100 TB):
- the weight table is ≤ D rows (D = ``n_buckets``, default 4096) —
  always broadcast; the exploded token stream NEVER shuffles on the
  token key, so hot-token skew ('the' at 10^9 occurrences) stays
  map-side and dies in the per-doc partial agg.
- one real shuffle: groupBy(doc_id) for the margin sum.
- integer weights + integer truncating division keep every margin
  exact, so the DuckDB oracle reproduces labels bit-for-bit
  (Spark ``div`` and DuckDB ``//`` both truncate toward zero —
  verified on negative operands).
- token hashing is the repo's portable md5 bucket
  (``('0x' || substr(md5(tok), 1, 8))::BIGINT mod D`` in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def token_bucket(c, n_buckets: int = 4096):
    """Portable hashed-feature bucket for a token column: first 8 md5
    hex digits as int, mod ``n_buckets`` (DuckDB computes the identical
    value — the md5-conv pattern used across the dedup/ANN oracles)."""
    h = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    return (h % n_buckets).cast("int")


def classify_docs(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    bias: int = 0,
    threshold: int = 0,
) -> DataFrame:
    """Linear-classifier inference over hashed token features.

    ``weights``: (bucket:int, weight:bigint) — the exported model.
    Buckets absent from the table weigh 0 (hash buckets a sparse model
    never touched). Returns one row per input doc:

        (doc_id, n_tokens, margin, mean_margin, label)

    margin = Σ weight[bucket(tok)] + bias over token OCCURRENCES;
    mean_margin = margin div n_tokens (0 for empty docs);
    label = 'keep' iff mean_margin ≥ threshold.
    """
    toks = docs.select(
        F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("token")
    )
    scored = (
        toks.withColumn("bucket", token_bucket(F.col("token"), n_buckets))
        .join(F.broadcast(weights.select("bucket", "weight")), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum(F.coalesce("weight", F.lit(0))) + F.lit(bias)).alias("margin"),
        )
    )
    out = (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce("margin", F.lit(bias)).cast("long").alias("margin"),
        )
    )
    mean = F.when(
        F.col("n_tokens") > 0, F.expr("margin div n_tokens")
    ).otherwise(F.lit(0)).cast("long")
    return out.withColumn("mean_margin", mean).withColumn(
        "label",
        F.when(F.col("mean_margin") >= threshold, F.lit("keep")).otherwise(F.lit("toss")),
    )
