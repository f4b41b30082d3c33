"""Spark operators for the KG pipeline: turn → JSON-LD document →
(subj, pred, obj) triples.

Execution shape (SURVEY §3.1 Spark equivalent):
    read transcripts
      → window row_number/lead over (conv_id, turn_idx)   [stable order]
      → mapInPandas(_emit_turn_batches: mention detect + build doc
                    + per-document emitter)
      → triples DataFrame, Conversation triples deduped per partition
      → write (bucketed by conv_id)

One mapInPandas worker serves both emission paths; only the
per-document emitter differs (the reference's split,
streaming_reader.rb:29-54): expand + single-pass toRDF for
``emit_triples``, the raw streaming key-order reader for
``emit_triples_streaming_reader``. The worker is embarrassingly
parallel per turn — triple emission never needs cross-document state.
Blank nodes get per-document deterministic labels (utils.rb:283-310
adapted: namer prefix = conv/turn key) so no global counter exists at
10^12 scale.

All Python execution is Arrow-batched (mapInPandas); mention counting
is vectorized per surface over each batch (pandas .str.count), not
per-row.
"""

from __future__ import annotations

import re
from functools import partial
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from json_ld_spark.core import api as core_api
from json_ld_spark.core.context import Options, parse_context_cached
from json_ld_spark.core.errors import JsonLdError
from json_ld_spark.core.keywords import BlankNodeNamer
from json_ld_spark.core.streaming_reader import StreamingReader
from json_ld_spark.sources.gazetteer import (
    CONV_NS,
    GAZETTEER,
    KG_CONTEXT,
    TURN_NS,
    VOCAB,
    entity_iri,
)

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, subj string, pred string, "
    "obj_value string, obj_is_iri boolean, obj_datatype string, "
    "obj_language string, graph string, error_code string, error_msg string"
)

_NEXT_TURN_CONTEXT = {**KG_CONTEXT,
                      "nextTurn": {"@id": VOCAB + "nextTurn", "@type": "@id"}}


def turn_iri(conv_id: str, turn_idx: int) -> str:
    return f"{TURN_NS}{conv_id}/{turn_idx}"


def conv_iri(conv_id: str) -> str:
    return f"{CONV_NS}{conv_id}"


def build_turn_document(
    conv_id: str,
    turn_idx: int,
    role: Optional[str],
    text: Optional[str],
    tool: Optional[str],
    ts_str: Optional[str],
    next_turn_idx: Optional[int],
    mentions: list[tuple[int, str, int]],  # (entity_id, surface, count)
) -> dict:
    """Deterministic turn → JSON-LD document (SURVEY §2.12).

    Mention nodes carry explicit doc-local bnode ids (_:m{entity_id});
    the per-doc namer relabels them in first-visit order, mirroring the
    provisional-id pattern of streaming_reader.rb:97-137.
    """
    # streaming-profile key order (@type before @id): the docs this
    # pipeline emits are consumable by the raw streaming reader
    # (core/streaming_reader.py) without provisional buffering —
    # expansion is key-order-insensitive, so triples are unchanged
    doc: dict = {
        "@type": "Turn",
        "@id": turn_iri(conv_id, turn_idx),
        "index": int(turn_idx),
        "partOf": {"@type": "Conversation", "@id": conv_iri(conv_id)},
    }
    if role is not None:
        doc["role"] = role
    if text is not None:
        doc["text"] = text
    if tool is not None:
        doc["tool"] = tool
    if ts_str is not None:
        doc["ts"] = ts_str
    if next_turn_idx is not None:
        doc["nextTurn"] = turn_iri(conv_id, int(next_turn_idx))
    if mentions:
        doc["mentions"] = [
            {
                "@type": "Mention",
                "@id": f"_:m{eid}",
                "label": surface,
                "score": int(count),
                "of": entity_iri_by_id(eid),
            }
            for eid, surface, count in mentions
        ]
    return doc


_ENTITY_BY_ID = {eid: entity_iri(suffix) for eid, _, suffix in GAZETTEER}


def entity_iri_by_id(eid: int) -> str:
    return _ENTITY_BY_ID[eid]


def with_stable_turn_order(transcripts: DataFrame) -> DataFrame:
    """Stable turn ordering + nextTurn linkage (the north rule's
    window): row_number + lead over (conv_id, turn_idx).

    The explicit repartition(n, conv_id) serves two purposes: the
    window reuses it (one shuffle total), and — critically — AQE never
    coalesces a user-specified repartition. Without it, AQE sizes the
    post-window partitions by shuffle BYTES and collapses a small-but-
    CPU-heavy stage to one task, serializing the Python emission UDF
    (the per-row cost is Python CPU, invisible to byte-based sizing).
    """
    n_partitions = transcripts.sparkSession.sparkContext.defaultParallelism * 2
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.repartition(n_partitions, "conv_id").select(
        "*",
        F.row_number().over(w).alias("turn_rank"),
        F.lead("turn_idx").over(w).alias("next_turn_idx"),
    )


def _expand_to_rdf(doc: dict, ctx, namer: BlankNodeNamer) -> list:
    """Document emitter: expand, then the single-pass toRDF emitter
    (streaming_reader.rb parity): turn docs are trees with only
    labeled bnodes, so the output is identical to the node-map path,
    ~30% cheaper."""
    expanded = core_api.expand_with_context(doc, ctx)
    return core_api.expanded_to_rdf_stream(expanded, namer=namer)


def _streaming_reader_to_rdf(doc: dict, ctx, namer: BlankNodeNamer) -> list:
    """Document emitter: the RAW streaming key-order reader
    (core/streaming_reader.py), no expansion. Semantically identical
    output, because turn documents are built in streaming-profile key
    order."""
    reader = StreamingReader()
    reader.namer = namer
    return reader.statements(doc, ctx)


def _emit_turn_batches(
    batches: Iterator[pd.DataFrame], emit_doc
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batch of turns → Arrow batch of
    triples. ``emit_doc(doc, ctx, namer)`` turns one turn document into
    triples; everything else (mention counting, document build, bnode
    namer, quarantine, row shaping, conv-level dedup) is shared by
    both emission paths."""
    ctx = parse_context_cached(_NEXT_TURN_CONTEXT)  # once per worker (lru)
    surface_patterns = [
        (eid, surface, re.compile(re.escape(surface)))
        for eid, surface, _ in GAZETTEER
    ]
    # partition-local dedup of shared-subject (Conversation) triples:
    # the upstream exchange hash-partitions by conv_id, so all
    # duplicates of a conv-level fact land in this iterator — deduping
    # here replaces a full-table dropDuplicates shuffle (the dominant
    # stage at scale). The iterator spans the whole partition.
    seen_shared: set = set()

    for pdf in batches:
        ts_str = pdf["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")
        # vectorized mention counting: one pass per gazetteer surface
        # over the whole batch (never per-row regex compilation)
        texts = pdf["text"].fillna("")
        count_cols = [
            (eid, surface, texts.str.count(pattern).tolist())
            for eid, surface, pattern in surface_patterns
        ]
        # plain-list row access: Series.iloc in a row loop costs more
        # than the JSON-LD algorithms themselves
        conv_ids = pdf["conv_id"].tolist()
        turn_idxs = pdf["turn_idx"].tolist()
        roles = pdf["role"].tolist()
        text_vals = pdf["text"].tolist()
        tools = pdf["tool"].tolist()
        ts_vals = ts_str.tolist()
        next_idxs = pdf["next_turn_idx"].tolist()
        rows: list[tuple] = []
        for i in range(len(conv_ids)):
            conv_id = conv_ids[i]
            turn_idx = int(turn_idxs[i])
            mentions = [
                (eid, surface, int(cnts[i]))
                for eid, surface, cnts in count_cols
                if cnts[i] > 0
            ]
            next_idx = next_idxs[i]
            doc = build_turn_document(
                conv_id,
                turn_idx,
                roles[i] if pd.notna(roles[i]) else None,
                text_vals[i] if pd.notna(text_vals[i]) else None,
                tools[i] if pd.notna(tools[i]) else None,
                ts_vals[i] if pd.notna(ts_vals[i]) else None,
                int(next_idx) if pd.notna(next_idx) else None,
                mentions,
            )
            namer = BlankNodeNamer(prefix=f"{conv_id}t{turn_idx}m")
            try:
                triples = emit_doc(doc, ctx, namer)
            except JsonLdError as e:  # quarantine, never fail the task
                rows.append(
                    (conv_id, turn_idx, None, None, None, None, None, None,
                     None, e.code, str(e))
                )
                continue
            for t in triples:
                subj = ("_:" + t.subject.value) if t.subject.kind == "bnode" else t.subject.value
                obj_is_iri = t.obj.kind != "literal"
                obj_value = (
                    ("_:" + t.obj.value) if t.obj.kind == "bnode" else t.obj.value
                )
                if subj.startswith(CONV_NS):
                    k = (subj, t.predicate.value, obj_value)
                    if k in seen_shared:
                        continue
                    seen_shared.add(k)
                rows.append(
                    (
                        conv_id,
                        turn_idx,
                        subj,
                        t.predicate.value,
                        obj_value,
                        obj_is_iri,
                        None if obj_is_iri else t.obj.datatype,
                        None if obj_is_iri else t.obj.language,
                        ("_:" + t.graph.value if t.graph.kind == "bnode" else t.graph.value)
                        if t.graph is not None
                        else None,
                        None,
                        None,
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "conv_id", "turn_idx", "subj", "pred", "obj_value",
                "obj_is_iri", "obj_datatype", "obj_language", "graph",
                "error_code", "error_msg",
            ],
        )


def emit_triples(transcripts: DataFrame, ordered: bool = True) -> DataFrame:
    """Transcripts → triples DataFrame (errors quarantined in-band), via
    expand + toRDF per turn document.

    Cross-turn duplicate facts (the Conversation node re-asserted by
    every turn) are deduplicated — the relational half of
    create_node_map's add_value(allow_duplicate:false) merge
    (flatten.rb:85,120): per-doc merge in the UDF, cross-doc merge on
    the triple key. Turn IRIs and mention bnode labels embed
    (conv_id, turn_idx), so only triples about shared Conversation
    nodes can repeat.

    ordered=True (default): stable turn order + nextTurn links; the
    conv_id-partitioned exchange puts every turn of a conversation in
    one worker, which drops repeated Conversation triples
    partition-locally — nothing shuffles after emission.
    ordered=False: no ordering window and no nextTurn links (streaming
    micro-batches); rows are not conv_id-partitioned, so a global
    dropDuplicates on the triple key does the merge.
    """
    src = with_stable_turn_order(transcripts) if ordered else transcripts.select(
        "*", F.lit(None).cast("int").alias("next_turn_idx")
    )
    triples = src.mapInPandas(
        partial(_emit_turn_batches, emit_doc=_expand_to_rdf), schema=TRIPLE_SCHEMA
    )
    if ordered:
        return triples
    return triples.dropDuplicates(
        ["subj", "pred", "obj_value", "obj_is_iri", "obj_datatype",
         "obj_language", "graph"]
    )


def emit_triples_streaming_reader(transcripts: DataFrame) -> DataFrame:
    """Transcripts → triples via the raw streaming key-order reader —
    the alternate single-pass emission path (streaming_reader.rb
    parity), distributed. Same worker, ordering and partition-local
    conv-level dedup as emit_triples; only the per-document emitter
    differs. The driver gates it against the same triple oracle."""
    return with_stable_turn_order(transcripts).mapInPandas(
        partial(_emit_turn_batches, emit_doc=_streaming_reader_to_rdf),
        schema=TRIPLE_SCHEMA,
    )


EXPAND_SCHEMA = (
    "doc_id long, expanded_json string, error_code string, error_msg string"
)


def expand_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    json_col: str = "doc_json",
    contexts: "dict | None" = None,
    base: "str | None" = None,
) -> DataFrame:
    """Distributed JSON-LD expansion for ARBITRARY documents (not just
    pipeline-synthesized turns): each row's JSON is expanded with the
    vendored-context registry standing in for remote fetch.

    Parity: API.expand + loadRemoteDocument (api.rb:109-156,624-718)
    with the registry replacing HTTP (context_registry module). A
    document whose @context names an unregistered remote IRI comes
    back as a quarantine row with the spec error code
    ``loading remote context failed`` — never a task failure, never a
    silent misexpansion. Registry lookups are cached per context hash
    (parse_context_cached), so N documents sharing a context parse it
    once per executor."""
    from json_ld_spark.sources.context_registry import registry_snapshot

    registry = registry_snapshot(contexts)

    def _expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        options = Options(base=base, contexts=registry)
        for pdf in batches:
            rows = []
            for doc_id, doc_json in zip(pdf[id_col], pdf[json_col]):
                try:
                    doc = _json.loads(doc_json)
                    expanded = core_api.expand(doc, options)
                    rows.append(
                        (int(doc_id), _json.dumps(expanded), None, None)
                    )
                except JsonLdError as e:
                    rows.append((int(doc_id), None, e.code, str(e)))
                except ValueError as e:  # malformed JSON text
                    rows.append((int(doc_id), None, "loading document failed",
                                 str(e)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "expanded_json", "error_code", "error_msg"],
            )

    from json_ld_spark.plans.layout import rebalance_scan

    # the Python expansion is the dominant per-row cost; don't let a
    # compact scan's 1-2 splits serialize it (plans/layout.py)
    return rebalance_scan(
        docs.select(
            F.col(id_col).alias(id_col), F.col(json_col).alias(json_col)
        )
    ).mapInPandas(_expand, schema=EXPAND_SCHEMA)


def quarantined(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("error_code").isNotNull())


def valid_triples(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("error_code").isNull())
