"""End-to-end KG construction pipeline (BASELINE.json north_rule):

    transcripts → stable turn order → mention detect + expand + toRDF
      → global node dedup → alias canonicalization (minhash + CC)
      → bucketed graph_triples sink + per-partition lineage/metrics

Checkpoint-resume: the sink is partitioned by conv_bucket =
pmod(xxhash64(conv_id), N). A lineage table records per-bucket status
and triple counts; a resumed run anti-joins completed buckets and
processes only the remainder (idempotent per-partition overwrite).
At cluster scale each bucket is an independent unit of work, so a
failed job re-does only unfinished buckets.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_ld_spark.operators import jsonld_ops
from json_ld_spark.operators.canonicalize import apply_merge_map, build_merge_map
from json_ld_spark.operators.dedup import minhash_dedup_components
from json_ld_spark.sources.transcripts import conv_bucket

LINEAGE_SCHEMA = (
    "stage string, conv_bucket int, status string, triple_count long, "
    "error_count long, wall_sec double"
)


def alias_merge_map(
    spark: SparkSession,
    aliases: Optional[DataFrame] = None,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Merge map for entity aliases: minhash-block alias surface forms,
    verify with Jaccard, connect components, pick canonical heads.

    ``aliases`` is an (entity_iri, surface) DataFrame; defaults to the
    built-in gazetteer (exercises the operators; real corpora pass the
    discovered-alias table here). ``checkpoint_dir``: reliable
    per-round checkpoints for the CC iterations on a real cluster.
    """
    if aliases is None:
        from json_ld_spark.sources.gazetteer import GAZETTEER, entity_iri

        rows = [(entity_iri(suffix), surface) for _, surface, suffix in GAZETTEER]
        aliases = spark.createDataFrame(rows, "entity_iri string, surface string")
    # one shared shingle pass feeds both minhash blocking and the
    # Jaccard verify, then connected components
    comps = minhash_dedup_components(
        aliases, "entity_iri", "surface", num_hashes=32, bands=8,
        threshold=0.85, checkpoint_dir=checkpoint_dir,
    )
    return build_merge_map(comps)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    conv_buckets: int = 16,
    canonicalize: bool = True,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full pipeline. Returns metrics dict."""
    t0 = time.time()
    triples_path = os.path.join(out_dir, "graph_triples")
    lineage_path = os.path.join(out_dir, "lineage")

    src = transcripts.withColumn("conv_bucket", conv_bucket(conv_buckets))

    done_buckets: list[int] = []
    if resume and os.path.exists(lineage_path):
        lineage = spark.read.parquet(lineage_path)
        done_buckets = [
            r["conv_bucket"]
            for r in lineage.filter(
                (F.col("stage") == "emit") & (F.col("status") == "done")
            ).select("conv_bucket").distinct().collect()
        ]
        if done_buckets:
            src = src.filter(~F.col("conv_bucket").isin(done_buckets))

    all_triples = jsonld_ops.emit_triples(src.drop("conv_bucket"))
    if canonicalize:
        merge_map = alias_merge_map(spark)
        all_triples = apply_merge_map(all_triples, merge_map)
    all_triples = all_triples.withColumn("conv_bucket", conv_bucket(conv_buckets))

    # dynamic partition overwrite: only recomputed buckets are
    # replaced, so a bucket that failed MID-write last run (partial
    # files, no lineage row) is cleanly rewritten instead of appended —
    # the parquet analog of Iceberg overwrite-by-filter
    (
        all_triples.write.mode("overwrite")
        .partitionBy("conv_bucket")
        .parquet(triples_path)
    )

    # per-bucket lineage + metrics from ONE scan of the written sink
    # (counts what actually landed, not what was planned): at most
    # conv_buckets rows come back, and the returned totals are their
    # sums, so the lineage and the result cannot disagree
    written = spark.read.parquet(triples_path)
    if done_buckets:
        written = written.filter(~F.col("conv_bucket").isin(done_buckets))
    wall = time.time() - t0
    per_bucket = (
        written.groupBy("conv_bucket")
        .agg(
            F.count(F.when(F.col("error_code").isNull(), 1)).alias("triple_count"),
            F.count(F.when(F.col("error_code").isNotNull(), 1)).alias("error_count"),
        )
        .collect()
    )
    lineage_rows = [
        ("emit", r["conv_bucket"], "done", r["triple_count"], r["error_count"], wall)
        for r in per_bucket
    ]
    (
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .parquet(lineage_path)
    )
    return {
        "triples": sum(r["triple_count"] for r in per_bucket),
        "errors": sum(r["error_count"] for r in per_bucket),
        "wall_sec": wall,
        "buckets_skipped": len(done_buckets),
        "out": triples_path,
    }
