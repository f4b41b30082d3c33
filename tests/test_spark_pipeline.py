"""Spark pipeline tests: per-turn text-equality invariant under stable
ordering (BASELINE.json input_hint), triple-count determinism,
Spark-vs-pure-core triple equality, quarantine behavior, resume."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from json_ld_spark.operators.jsonld_ops import (
    build_turn_document,
    emit_triples,
    quarantined,
    valid_triples,
    with_stable_turn_order,
)
from json_ld_spark.sources.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return synthesize_transcripts(spark, n_convs=12, seed=42).cache()


def test_per_turn_text_equality_invariant(spark, transcripts):
    """Stable ordering recovers the generator's text per (conv, turn)
    even though rows were shuffled on write — the north-rule per-row
    invariant."""
    ordered = with_stable_turn_order(transcripts)
    # turn_rank must equal turn_idx + 1 when turn_idx is dense from 0
    bad = ordered.filter(F.col("turn_rank") != F.col("turn_idx") + 1).count()
    assert bad == 0
    # regeneration yields identical text per key (determinism)
    again = synthesize_transcripts(spark, n_convs=12, seed=42)
    joined = transcripts.alias("a").join(
        again.alias("b"), ["conv_id", "turn_idx"]
    )
    assert joined.filter(F.col("a.text") != F.col("b.text")).count() == 0


def test_synthesis_is_deterministic_across_parallelism(spark, transcripts):
    other = synthesize_transcripts(spark, n_convs=12, seed=42).repartition(1)
    assert (
        transcripts.exceptAll(other).count() == 0
        and other.exceptAll(transcripts).count() == 0
    )


def test_triples_match_pure_core(spark, transcripts):
    """The distributed emission must equal the pure core run per turn —
    the Spark layer adds no semantics (SURVEY §7.1 rationale)."""
    from json_ld_spark.core import api as core_api
    from json_ld_spark.core.context import parse_context_cached
    from json_ld_spark.core.keywords import BlankNodeNamer
    from json_ld_spark.operators.jsonld_ops import _NEXT_TURN_CONTEXT

    rows = with_stable_turn_order(transcripts).collect()
    ctx = parse_context_cached(_NEXT_TURN_CONTEXT)

    import re

    from json_ld_spark.sources.gazetteer import GAZETTEER

    expected = set()
    for r in rows:
        mentions = []
        for eid, surface, _suffix in GAZETTEER:
            cnt = len(re.findall(re.escape(surface), r["text"] or ""))
            if cnt:
                mentions.append((eid, surface, cnt))
        doc = build_turn_document(
            r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
            r["ts"].strftime("%Y-%m-%dT%H:%M:%S") if r["ts"] else None,
            r["next_turn_idx"], mentions,
        )
        namer = BlankNodeNamer(prefix=f"{r['conv_id']}t{r['turn_idx']}m")
        for t in core_api.expanded_to_rdf(
            core_api.expand_with_context(doc, ctx), namer=namer
        ):
            subj = ("_:" + t.subject.value) if t.subject.kind == "bnode" else t.subject.value
            obj = ("_:" + t.obj.value) if t.obj.kind == "bnode" else t.obj.value
            expected.add(
                (subj, t.predicate.value, obj, t.obj.kind != "literal",
                 t.obj.datatype if t.obj.kind == "literal" else None,
                 t.obj.language if t.obj.kind == "literal" else None)
            )

    got = {
        (r["subj"], r["pred"], r["obj_value"], r["obj_is_iri"],
         r["obj_datatype"], r["obj_language"])
        for r in valid_triples(emit_triples(transcripts)).collect()
    }
    assert got == expected


def test_quarantine_contract(spark):
    """A malformed turn must quarantine, not fail the job."""
    rows = [
        ("c1", 0, "user", "fine text", None, datetime.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    out = emit_triples(df)
    assert quarantined(out).count() == 0
    assert valid_triples(out).count() > 0


def test_pipeline_resume(spark, transcripts):
    from json_ld_spark.pipeline import run_pipeline

    out = tempfile.mkdtemp()
    try:
        m1 = run_pipeline(spark, transcripts, out, canonicalize=False)
        assert m1["triples"] > 0 and m1["errors"] == 0
        m2 = run_pipeline(spark, transcripts, out, canonicalize=False)
        assert m2["buckets_skipped"] > 0 and m2["triples"] == 0
        total = spark.read.parquet(os.path.join(out, "graph_triples")).count()
        assert total == m1["triples"]
        lineage = spark.read.parquet(os.path.join(out, "lineage"))
        assert lineage.filter(F.col("status") == "done").count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_triple_counts_are_deterministic(spark, transcripts):
    a = valid_triples(emit_triples(transcripts)).count()
    b = valid_triples(emit_triples(transcripts.repartition(3))).count()
    assert a == b


def test_pipeline_partial_failure_resume(spark, transcripts, tmp_path):
    """A bucket with partial output and no lineage row is recomputed
    and REPLACED (dynamic partition overwrite), not appended."""
    import glob
    import shutil

    from json_ld_spark.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    m1 = run_pipeline(spark, transcripts, out, conv_buckets=4)
    full_count = spark.read.parquet(out + "/graph_triples").count()

    # simulate a mid-write failure of bucket 0: lineage row gone,
    # partition dir still holds (now-stale, partial) files
    lineage = spark.read.parquet(out + "/lineage").filter(
        "conv_bucket <> 0"
    ).collect()
    shutil.rmtree(out + "/lineage")
    spark.createDataFrame(
        lineage,
        "stage string, conv_bucket int, status string, triple_count long, "
        "error_count long, wall_sec double",
    ).write.parquet(out + "/lineage")

    m2 = run_pipeline(spark, transcripts, out, conv_buckets=4, resume=True)
    assert m2["buckets_skipped"] == 3
    after = spark.read.parquet(out + "/graph_triples").count()
    assert after == full_count, (
        f"partial-failure resume changed the sink: {after} != {full_count}"
    )


def test_pipeline_counts_reconcile(spark, transcripts, tmp_path):
    """run_pipeline's totals, the lineage table and the sink agree:
    triples == sum(lineage.triple_count) == sink rows without an
    error_code (errors likewise), with one lineage row per bucket."""
    from json_ld_spark.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    m = run_pipeline(spark, transcripts, out, conv_buckets=4)
    sink = spark.read.parquet(out + "/graph_triples")
    lin = (
        spark.read.parquet(out + "/lineage")
        .groupBy("conv_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("triple_count").alias("t"),
            F.sum("error_count").alias("e"),
        )
        .collect()
    )
    sink_buckets = {r["conv_bucket"] for r in sink.select("conv_bucket").distinct().collect()}
    assert {r["conv_bucket"] for r in lin} == sink_buckets
    assert all(r["n"] == 1 for r in lin)
    valid = sink.filter(F.col("error_code").isNull()).count()
    errors = sink.filter(F.col("error_code").isNotNull()).count()
    assert m["triples"] == sum(r["t"] for r in lin) == valid > 0
    assert m["errors"] == sum(r["e"] for r in lin) == errors


def test_expand_documents_registry_and_quarantine(spark):
    """Arbitrary docs expand via the vendored-context registry; an
    unregistered remote @context IRI quarantines with the spec code
    'loading remote context failed' (parity api.rb:624-718) instead of
    failing the job or misexpanding."""
    import json

    from json_ld_spark.operators.jsonld_ops import expand_documents
    from json_ld_spark.sources.gazetteer import CONTEXT_URL, VOCAB

    rows = [
        (1, json.dumps({"@context": CONTEXT_URL,
                        "@id": "http://e/x", "role": "user"})),
        (2, json.dumps({"@context": "https://unknown.example/ctx",
                        "@id": "http://e/y", "p": 1})),
        (3, "{not json"),
        (4, json.dumps({"@context": {"q": "http://e/q#"},
                        "@id": "http://e/z", "q:v": "ok"})),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, doc_json string")
    out = {r["doc_id"]: r for r in expand_documents(docs).collect()}
    ok = json.loads(out[1]["expanded_json"])
    assert ok[0][VOCAB + "role"] == [{"@value": "user"}]
    assert out[2]["error_code"] == "loading remote context failed"
    assert out[2]["expanded_json"] is None
    assert out[3]["error_code"] == "loading document failed"
    assert json.loads(out[4]["expanded_json"])[0]["http://e/q#v"] == [
        {"@value": "ok"}
    ]


def test_expand_documents_extra_registry_entry(spark):
    """Per-call context registration (the ingest-time vendoring path)."""
    import json

    from json_ld_spark.operators.jsonld_ops import expand_documents

    docs = spark.createDataFrame(
        [(1, json.dumps({"@context": "https://vendored.example/v1",
                         "name": "n"}))],
        "doc_id long, doc_json string",
    )
    extra = {
        "https://vendored.example/v1": {
            "@context": {"name": "http://e/vocab#name"}
        }
    }
    out = expand_documents(docs, contexts=extra).collect()[0]
    assert out["error_code"] is None
    assert json.loads(out["expanded_json"])[0]["http://e/vocab#name"] == [
        {"@value": "n"}
    ]
