"""Train/test decontamination: find training documents that
share word n-grams with a benchmark/eval set — the GPT-3/PaLM-style
"13-gram overlap" contamination check, the one corpus-level hygiene pass
every LLM training-data pipeline runs before export.

Reference heritage: this is the same shape as pbf2json's semi-join
reduction passes (collectRelationRefs/collectWayRefs, pbf2json.go:346-402)
— build the small side's key set, mark the big side's members — except the
keys are text n-grams instead of node ids.

Shapes at 100 TB:
  * The benchmark side is ALWAYS small (eval suites are MBs, the training
    corpus is TBs), so its distinct-gram table is broadcast: the training
    scan explodes grams and probes the broadcast hash map in the same
    stage — no shuffle of training text, ever. The only exchange is the
    (train_id, bench_id, partial_count) aggregation, map-side combinable
    and bounded by the number of CONTAMINATED grams, a vanishing fraction
    of the corpus.
  * Grams are DISTINCT per document before joining (contamination is
    membership, not multiplicity), which also bounds the per-doc fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pbf2json_spark.corpus import _words, ngrams_col


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) with grams DISTINCT per document; docs shorter than n
    words contribute nothing."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(ngrams_col(_words(text_col), n))).alias("gram"),
    )


def contamination_pairs(train: DataFrame, bench: DataFrame, n: int = 13) -> DataFrame:
    """All (train_id, bench_id, n_shared) pairs where a training document
    shares >=1 distinct word n-gram with a benchmark document, with the
    count of distinct shared grams.

    One broadcast hash join at the training scan stage + one map-side-
    combinable groupBy of the (rare) hits — see the module docstring for
    why this never shuffles training text.
    """
    tg = _doc_grams(train, "doc_id", "text", n)
    bg = F.broadcast(
        _doc_grams(bench, "doc_id", "text", n).withColumnRenamed("_id", "_bid")
    )
    return (
        tg.join(bg, "gram")
        .groupBy(F.col("_id").alias("train_id"), F.col("_bid").alias("bench_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )

