"""The benchmark's workloads: seeded inputs, the measured operation,
the per-rep correctness check, and the traced per-layer probes.

Each workload is a class with the same four steps:

  ``setup()``    writes the seeded inputs and warms the operation up;
  ``prepare()``  restores whatever state one rep starts from (untimed);
  ``op()``       the measured call into the pipeline's public functions;
  ``check(res)`` raises ``CheckFailed`` when the rep's output is wrong.

The program only ever receives the generated tables; the seed stays in
the benchmark.
"""

from __future__ import annotations

import glob
import os
import random
import re
import shutil
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_ld_spark.core import api as core_api
from json_ld_spark.core.context import parse_context_cached
from json_ld_spark.core.keywords import BlankNodeNamer
from json_ld_spark.operators import jsonld_ops
from json_ld_spark.operators.canonicalize import (
    apply_merge_map,
    build_merge_map,
    connected_components,
    jaccard_filter,
    minhash_candidate_pairs,
)
from json_ld_spark.pipeline import LINEAGE_SCHEMA, alias_merge_map, run_pipeline
from json_ld_spark.sources.gazetteer import CONV_NS, ENTITY_NS, GAZETTEER, entity_iri
from json_ld_spark.sources.transcripts import (
    read_transcripts,
    synthesize_transcripts,
    write_transcripts,
)

from perfbench.probe import (
    SqlStatus,
    Tracer,
    identity_batches,
    median,
    parse_count,
    parse_size,
)

# Sizes. At 2,000 conversations (about 25k turns and 317k triples) a
# kg_* rep takes 5-8 s on local[4] and emission is about 35% of it.
# Set-up, the warm-up and three measured reps then fit in about a
# minute, so that comparing two commits on both listed workloads takes
# about an hour (see README.md, "Run-time budget"); the 4,000 of the
# sizing run would take the traced run (prefix ladder, an untraced and a
# traced op, a local[1] leg) close to three minutes. alias_canon is sized so that minhash, Jaccard and
# connected components dominate its wall.
KG_CONVS = 2000
CONV_BUCKETS = 16
REDO_BUCKETS = 4
SAMPLE_CONVS = 6
ALIAS_ENTITIES = 2500
SETUP_PASSES = 3
LADDER_REPS = 2
CORE_SAMPLE_TURNS = 400

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj_value", "obj_is_iri",
               "obj_datatype", "obj_language", "graph", "error_code", "error_msg"]
LITERAL_COLS = [c for c in TRIPLE_COLS if c != "subj"]
TRIPLE_KEY = ["subj", "pred", "obj_value", "obj_is_iri", "obj_datatype",
              "obj_language", "graph"]


class CheckFailed(Exception):
    """A rep's output is wrong."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def force(df: DataFrame) -> None:
    """Run the whole plan of ``df`` and discard the rows. Unlike
    ``count()``, the noop sink keeps every column, so the optimizer
    cannot prune work the real consumer would do."""
    df.write.format("noop").mode("overwrite").save()


def table_digest(df: DataFrame, cols: "list[str]", *extra) -> "tuple":
    """(row count, bit_xor of xxhash64 over ``cols``, *``extra``
    aggregates): an order-independent fingerprint of a table."""
    row = df.agg(
        F.count(F.lit(1)),
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"),
        *extra,
    ).collect()[0]
    return (int(row[0]), int(row[1] or 0), *row[2:])


def files_since(root: str, since: float) -> "tuple[int, int, dict]":
    """(files, bytes, files per bucket dir) of parquet files under
    ``root`` modified at or after ``since``."""
    n = size = 0
    per_bucket: "dict[str, int]" = {}
    for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        st = os.stat(p)
        if st.st_mtime >= since:
            n += 1
            size += st.st_size
            b = os.path.basename(os.path.dirname(p))
            per_bucket[b] = per_bucket.get(b, 0) + 1
    return n, size, per_bucket


def pair_scores(cluster_of: "dict[str, int]", component_of: "dict[str, str]") -> "tuple[float, float]":
    """(recall, precision) of merged pairs against the ground truth.
    A pair is merged when both ids land in one component. With no true
    pairs recall is 1; with no merged pairs precision is 1."""
    pairs = lambda c: sum(v * (v - 1) // 2 for v in c.values())  # noqa: E731
    ids = list(cluster_of)
    truth = pairs(Counter(cluster_of[i] for i in ids))
    merged = pairs(Counter(component_of.get(i, i) for i in ids))
    both = pairs(Counter((cluster_of[i], component_of.get(i, i)) for i in ids))
    return (both / truth if truth else 1.0), (both / merged if merged else 1.0)


# ------------------------------------------------------------------ kg inputs


def _pure_core_triples(rows: "list", merge: "dict[str, str]") -> Counter:
    """Multiset of the triples the pure core processor emits for the
    transcript ``rows`` (the ``test_triples_match_pure_core`` recipe),
    with the conversation node's facts kept once per conversation as
    the pipeline does, and the merge map applied."""
    ctx = parse_context_cached(jsonld_ops._NEXT_TURN_CONTEXT)
    by_conv: "dict[str, list]" = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    out: Counter = Counter()
    seen_shared: set = set()
    for conv_id, turns in by_conv.items():
        turns.sort(key=lambda r: r["turn_idx"])
        for k, r in enumerate(turns):
            nxt = turns[k + 1]["turn_idx"] if k + 1 < len(turns) else None
            for t in _core_turn_triples(ctx, r, nxt):
                if t[0].startswith(CONV_NS):
                    if t in seen_shared:
                        continue
                    seen_shared.add(t)
                subj = merge.get(t[0], t[0])
                obj = merge.get(t[2], t[2]) if t[3] else t[2]
                out[(subj, t[1], obj) + t[3:]] += 1
    return out


def _mentions(text) -> "list[tuple[int, str, int]]":
    found = []
    for eid, surface, _suffix in GAZETTEER:
        cnt = len(re.findall(re.escape(surface), text or ""))
        if cnt:
            found.append((eid, surface, cnt))
    return found


def _turn_doc(r, next_idx, mentions) -> dict:
    return jsonld_ops.build_turn_document(
        r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
        r["ts"].strftime("%Y-%m-%dT%H:%M:%S") if r["ts"] else None,
        next_idx, mentions,
    )


def _namer(r) -> BlankNodeNamer:
    return BlankNodeNamer(prefix=f"{r['conv_id']}t{r['turn_idx']}m")


def _core_turn_triples(ctx, r, next_idx) -> "list[tuple]":
    out = []
    doc = _turn_doc(r, next_idx, _mentions(r["text"]))
    for t in core_api.expanded_to_rdf(core_api.expand_with_context(doc, ctx), namer=_namer(r)):
        subj = ("_:" + t.subject.value) if t.subject.kind == "bnode" else t.subject.value
        obj = ("_:" + t.obj.value) if t.obj.kind == "bnode" else t.obj.value
        lit = t.obj.kind == "literal"
        out.append((subj, t.predicate.value, obj, not lit,
                    t.obj.datatype if lit else None,
                    t.obj.language if lit else None, None))
    return out


def gazetteer_aliases(spark: SparkSession) -> DataFrame:
    """The alias table ``run_pipeline`` canonicalizes (its default)."""
    rows = [(entity_iri(suffix), surface) for _, surface, suffix in GAZETTEER]
    return spark.createDataFrame(rows, "entity_iri string, surface string")


class _Workload:
    name = ""
    # checked reps before measuring: the first op in a fresh JVM runs
    # about twice as long as the next ones, and the JIT keeps speeding
    # the op up for a few more
    warmup_reps = 1

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 passes: int = SETUP_PASSES):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.passes = passes
        self.status = SqlStatus(spark)
        self.setup_passes: "list[float]" = []
        self.warmup_s = 0.0

    def _passes(self, fn) -> None:
        """Run the input generator ``passes`` times, so set-up time is a
        median; the last pass's output is the one used. With 0 passes
        the inputs already under ``work`` are used."""
        for _ in range(self.passes):
            t0 = time.time()
            fn()
            self.setup_passes.append(time.time() - t0)

    def _warm_reps(self) -> None:
        for _ in range(self.warmup_reps):
            self.prepare()
            self.check(self.op())

    def canon_phases(self, tracer: Tracer) -> dict:
        """``alias_merge_map``'s steps called one by one, with the same
        parameters, each materialized so its time stands alone."""
        aliases = self.aliases()
        with tracer.span("canonicalize.candidates", "canonicalize") as s:
            pairs = minhash_candidate_pairs(aliases, id_col="entity_iri",
                                            text_col="surface", num_hashes=32, bands=8)
            n_pairs = pairs.count()
        cand_s = s.duration
        with tracer.span("canonicalize.verify", "canonicalize") as s:
            verified = jaccard_filter(pairs, aliases, id_col="entity_iri",
                                      text_col="surface", threshold=0.85).localCheckpoint()
            n_verified = verified.count()
        verify_s = s.duration
        stats: dict = {}
        with tracer.span("canonicalize.cc", "canonicalize") as s:
            comps = connected_components(verified.select("id_a", "id_b"), stats=stats)
            n_map = build_merge_map(comps).count()
        return {
            "canonicalize.candidates_s": cand_s,
            "canonicalize.candidate_pairs": n_pairs,
            "canonicalize.verify_s": verify_s,
            "canonicalize.verified_pairs": n_verified,
            "canonicalize.verify_ratio": n_verified / n_pairs if n_pairs else 0.0,
            "canonicalize.cc_s": s.duration,
            "canonicalize.cc_rounds": stats.get("rounds", 0),
            "canonicalize.merge_map_rows": n_map,
        }


class KgBuild(_Workload):
    """Fresh ``run_pipeline(canonicalize=True, resume=False)`` into an
    empty sink with 16 buckets."""

    name = "kg_build"
    resume = False

    def setup(self) -> None:
        self.tx_path = os.path.join(self.work, "transcripts")
        self.out = os.path.join(self.work, "kg")
        self._passes(lambda: write_transcripts(
            synthesize_transcripts(self.spark, n_convs=KG_CONVS, seed=self.seed),
            self.tx_path, conv_buckets=CONV_BUCKETS,
        ))
        self.transcripts = read_transcripts(self.spark, self.tx_path)
        # the gazetteer's ground truth: every surface is its own entity
        self.truth = {entity_iri(sfx): eid for eid, _, sfx in GAZETTEER}
        self.merge = {r["from_id"]: r["to_id"]
                      for r in alias_merge_map(self.spark).collect()}
        t0 = time.time()
        self._warm()
        self.warmup_s = time.time() - t0

    def _warm(self) -> None:
        self._pick_sample()
        self.reference = None
        self._warm_reps()

    def redo_buckets(self) -> "list[int]":
        return list(range(CONV_BUCKETS))

    def _pick_sample(self) -> None:
        convs = sorted(
            r["conv_id"] for r in self.transcripts
            .withColumn("b", F.pmod(F.xxhash64("conv_id"), F.lit(CONV_BUCKETS)))
            .filter(F.col("b").isin(self.redo_buckets()))
            .select("conv_id").distinct().collect()
        )
        self.sample = random.Random(self.seed).sample(convs, min(SAMPLE_CONVS, len(convs)))
        rows = self.transcripts.filter(F.col("conv_id").isin(self.sample)).collect()
        self.expected = _pure_core_triples(rows, self.merge)

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self) -> dict:
        t0 = time.time()
        m = run_pipeline(self.spark, read_transcripts(self.spark, self.tx_path),
                         self.out, conv_buckets=CONV_BUCKETS,
                         canonicalize=True, resume=self.resume)
        m["t0"] = t0
        m["wall"] = time.time() - t0
        return m

    def check(self, m: dict) -> None:
        spark = self.spark
        sink = spark.read.parquet(os.path.join(self.out, "graph_triples"))
        lineage = spark.read.parquet(os.path.join(self.out, "lineage"))
        lin = {r["conv_bucket"]: (r["n"], r["t"]) for r in lineage.groupBy("conv_bucket")
               .agg(F.count(F.lit(1)).alias("n"), F.sum("triple_count").alias("t")).collect()}
        expect(all(n == 1 for n, _ in lin.values()),
               f"lineage holds duplicate bucket rows: {lin}")
        n, h, valid = table_digest(sink, TRIPLE_COLS + ["conv_bucket"],
                                   F.count(F.when(F.col("error_code").isNull(), 1)))
        digest = (n, h)
        expect(sum(t for _, t in lin.values()) == valid,
               f"sum(lineage.triple_count)={sum(t for _, t in lin.values())} != sink valid rows {valid}")
        redo = sum(lin.get(b, (0, 0))[1] for b in self.redo_buckets())
        expect(redo == m["triples"],
               f"lineage of recomputed buckets {redo} != run_pipeline triples {m['triples']}")
        got = Counter(
            tuple(r) for r in sink.filter(F.col("conv_id").isin(self.sample))
            .filter(F.col("error_code").isNull()).select(*TRIPLE_KEY).collect()
        )
        expect(got == self.expected,
               "sampled conversations differ from the pure-core re-emission "
               f"({sum(got.values())} vs {sum(self.expected.values())} triples)")
        if self.reference is None:
            self.reference = digest
        expect(digest == self.reference,
               f"sink digest {digest} != reference {self.reference}")

    def sink_stats(self, m: dict) -> "tuple[int, int, dict]":
        return files_since(os.path.join(self.out, "graph_triples"), m["t0"])

    def rows_out(self, m: dict) -> int:
        return m["triples"]

    def merge_scores(self, m: dict) -> "tuple[float, float]":
        return pair_scores(self.truth, self.merge)

    # ------------------------------------------------------------- traced probes

    def source_df(self) -> DataFrame:
        """The transcript rows ``run_pipeline`` emits this rep."""
        src = read_transcripts(self.spark, self.tx_path)
        skipped = sorted(set(range(CONV_BUCKETS)) - set(self.redo_buckets()))
        if skipped:
            b = F.pmod(F.xxhash64("conv_id"), F.lit(CONV_BUCKETS)).cast("int")
            src = src.filter(~b.isin(skipped))
        return src

    def ladder(self, tracer: Tracer) -> dict:
        """Force growing plan prefixes of the emission path with the
        noop sink; each layer's time is the difference to the prefix
        below it (median of ``LADDER_REPS`` ladders)."""
        src = self.source_df()
        ordered = jsonld_ops.with_stable_turn_order(src)
        mm = self.spark.createDataFrame(list(self.merge.items()), "from_id string, to_id string")
        steps = [
            ("sources.scan", src),
            ("jsonld_ops.turn_order", ordered),
            ("jsonld_ops.arrow_roundtrip",
             ordered.mapInPandas(identity_batches, schema=ordered.schema)),
            ("jsonld_ops.emit", jsonld_ops.emit_triples(src)),
            ("canonicalize.apply", apply_merge_map(jsonld_ops.emit_triples(src), mm)),
        ]
        times: "dict[str, list[float]]" = {k: [] for k, _ in steps}
        last: "dict[str, int]" = {}
        for _ in range(LADDER_REPS):
            for name, df in steps:
                before = self.status.last_id()
                with tracer.span(f"prefix.{name}", "probe") as s:
                    force(df)
                times[name].append(s.duration)
                last[name] = self.status.last_id() if self.status.last_id() > before else -1
        d = {k: median(v) for k, v in times.items()}
        shuffle = rows = 0
        for node, ms in self.status.node_metrics(last["jsonld_ops.turn_order"]):
            if node == "Exchange":
                shuffle += parse_size(ms.get("shuffle bytes written", ""))
        for node, ms in self.status.node_metrics(last["jsonld_ops.emit"]):
            if node == "MapInPandas":
                rows += parse_count(ms.get("number of output rows", "0"))
        return {
            "prefix": d,
            "sources.scan_s": d["sources.scan"],
            "jsonld_ops.turn_order_s": d["jsonld_ops.turn_order"] - d["sources.scan"],
            "jsonld_ops.arrow_roundtrip_s": d["jsonld_ops.arrow_roundtrip"] - d["jsonld_ops.turn_order"],
            "jsonld_ops.emit_s": d["jsonld_ops.emit"] - d["jsonld_ops.arrow_roundtrip"],
            "canonicalize.apply_s": d["canonicalize.apply"] - d["jsonld_ops.emit"],
            "jsonld_ops.exchange_shuffle_bytes": shuffle,
            "jsonld_ops.triples_out": rows,
        }

    def core_replay(self, tracer: Tracer) -> dict:
        """Replay a seeded sample of turns through the core processor in
        this process, phase by phase (µs per document)."""
        ctx = parse_context_cached(jsonld_ops._NEXT_TURN_CONTEXT)
        rows = jsonld_ops.with_stable_turn_order(self.source_df()).collect()
        rows = random.Random(self.seed).sample(rows, min(CORE_SAMPLE_TURNS, len(rows)))
        args = [(r, _mentions(r["text"])) for r in rows]
        secs = {"build": [], "expand": [], "to_rdf": []}
        n_triples = 0
        for _ in range(3):
            with tracer.span("core.build_doc", "core") as s:
                docs = [_turn_doc(r, r["next_turn_idx"], ms) for r, ms in args]
            secs["build"].append(s.duration)
            with tracer.span("core.expand", "core") as s:
                expanded = [core_api.expand_with_context(d, ctx) for d in docs]
            secs["expand"].append(s.duration)
            with tracer.span("core.to_rdf", "core") as s:
                n_triples = 0
                for (r, _), e in zip(args, expanded):
                    n_triples += sum(1 for _ in core_api.expanded_to_rdf_stream(e, namer=_namer(r)))
            secs["to_rdf"].append(s.duration)
        n = max(1, len(args))
        return {
            "core.build_doc_us": 1e6 * median(secs["build"]) / n,
            "core.expand_us": 1e6 * median(secs["expand"]) / n,
            "core.to_rdf_us": 1e6 * median(secs["to_rdf"]) / n,
            "core.triples_per_doc": n_triples / n,
        }

    def aliases(self) -> DataFrame:
        return gazetteer_aliases(self.spark)

    def traced_op(self, tracer: Tracer, ladder: dict) -> "tuple[dict, int]":
        """One measured op with its SQL executions turned into spans. The
        sink-write execution runs scan → emission → relabel → write in
        one job; it is split by the ladder's prefix times (spans marked
        ``derived``)."""
        before = self.status.last_id()
        self.prepare()
        with tracer.span("op", "op") as root:
            m = self.op()
        execs = self.status.executions_after(before)
        write_i = next((i for i, e in enumerate(execs) if "MapInPandas" in e["nodes"]), None)
        expect(write_i is not None,
               "no SQL execution of the traced op runs the emission (MapInPandas)")
        pre = execs[:write_i]
        lookup = pre[:1] if self.resume and pre else []
        write_s = 0.0
        for e in execs:
            if e in lookup:
                layer, name = "pipeline", "pipeline.resume_lookup"
            elif e is execs[write_i]:
                layer, name = "sink", "pipeline.sink_write"
            elif e in pre:
                layer, name = "canonicalize", "canonicalize.merge_map"
            else:
                layer, name = "pipeline", "pipeline.lineage"
            sid = tracer.add(name, layer, e["start"], e["end"], parent=root.id,
                             execution_id=e["id"], desc=e["desc"])
            if name == "pipeline.sink_write":
                write_s = e["end"] - e["start"]
                self._split_write(tracer, sid, e, ladder["prefix"])
        spans = [s for s in tracer.spans if s["parent"] == root.id]
        dur = lambda n: sum(s["end"] - s["start"] for s in spans if s["name"] == n)  # noqa: E731
        _, _, per_bucket = self.sink_stats(m)
        return {
            "pipeline.resume_lookup_s": dur("pipeline.resume_lookup"),
            # the whole write execution: scan, emission, relabel and write
            # run as one job (its split is in the derived child spans)
            "pipeline.sink_write_s": write_s,
            "pipeline.lineage_s": dur("pipeline.lineage"),
            "pipeline.files_per_bucket_max": max(per_bucket.values(), default=0),
            "pipeline.buckets_skipped": m["buckets_skipped"],
            "jsonld_ops.quarantined": m["errors"],
            "_m": m,
        }, root.id

    @staticmethod
    def _split_write(tracer: Tracer, parent: int, e: dict, d: dict) -> None:
        parts = [
            ("sources.scan", "sources", d["sources.scan"]),
            ("jsonld_ops.turn_order+emit", "jsonld_ops",
             d["jsonld_ops.emit"] - d["sources.scan"]),
            ("canonicalize.apply", "canonicalize",
             d["canonicalize.apply"] - d["jsonld_ops.emit"]),
        ]
        _lay_out(tracer, parent, e, parts)


def _lay_out(tracer: Tracer, parent: int, e: dict, parts: list) -> None:
    """Lay ``parts`` (name, layer, seconds) end to end from the start of
    execution ``e``, scaled down if they exceed its duration."""
    span = e["end"] - e["start"]
    total = sum(max(0.0, p) for _, _, p in parts)
    scale = min(1.0, span / total) if total > 0 else 1.0
    t = e["start"]
    for name, layer, secs in parts:
        w = max(0.0, secs) * scale
        tracer.add(name, layer, t, t + w, parent=parent, derived=True)
        t += w


class KgResume(KgBuild):
    """``run_pipeline(resume=True)`` from a sink where 12 of 16 buckets
    are done: 4 buckets lost their lineage rows mid-write and hold only
    part of their files, as in ``test_pipeline_partial_failure_resume``."""

    name = "kg_resume"
    resume = True

    def _warm(self) -> None:
        self.redo = sorted(random.Random(self.seed).sample(range(CONV_BUCKETS), REDO_BUCKETS))
        self.snapshot = os.path.join(self.work, "snapshot")
        shutil.rmtree(self.snapshot, ignore_errors=True)
        m = run_pipeline(self.spark, self.transcripts, self.snapshot,
                         conv_buckets=CONV_BUCKETS, canonicalize=True, resume=False)
        sink = self.spark.read.parquet(os.path.join(self.snapshot, "graph_triples"))
        # the state a clean kg_build leaves: a resume must reproduce it
        self.reference = table_digest(sink, TRIPLE_COLS + ["conv_bucket"])
        expect(self.reference[0] == m["triples"] + m["errors"], "snapshot build count")
        lin_path = os.path.join(self.snapshot, "lineage")
        keep = self.spark.read.parquet(lin_path).filter(~F.col("conv_bucket").isin(self.redo)).collect()
        shutil.rmtree(lin_path)
        self.spark.createDataFrame(keep, LINEAGE_SCHEMA).write.parquet(lin_path)
        for b in self.redo:
            files = sorted(glob.glob(os.path.join(
                self.snapshot, "graph_triples", f"conv_bucket={b}", "*.parquet")))
            for p in files[::2]:
                os.remove(p)
        self._pick_sample()
        self._warm_reps()

    def redo_buckets(self) -> "list[int]":
        return self.redo

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.snapshot, self.out)


# ---------------------------------------------------------------- alias_canon

_SYLL = ["ka", "lo", "mi", "ra", "ven", "tor", "sel", "qui", "bar", "nex",
         "dor", "fa", "gi", "hul", "jan", "ost", "pre", "zu", "wem", "yal"]
_SUFFIX = [" inc", " ltd", " co", " gmbh"]


def _name(rnd: random.Random) -> str:
    words = [
        "".join(rnd.choice(_SYLL) for _ in range(rnd.randint(2, 4))).capitalize()
        for _ in range(rnd.randint(3, 4))
    ]
    return " ".join(words)


def _variant(rnd: random.Random, name: str) -> str:
    kind = rnd.randrange(4)
    if kind == 0:  # case only: identical shingle sets
        return name.upper() if rnd.random() < 0.5 else name.lower()
    if kind == 1:  # legal-form suffix
        return name + rnd.choice(_SUFFIX)
    if kind == 2:  # punctuation
        return name.replace(" ", ". ", 1) if " " in name else name + "."
    i = rnd.randrange(1, len(name) - 1)  # one-letter typo
    return name[:i] + rnd.choice("aeiouxyz") + name[i + 1:]


def alias_inputs(seed: int, n_entities: int):
    """Seeded alias table with known clusters, plus a triple table that
    references the alias IRIs. Returns (aliases, truth, triples) where
    ``truth`` maps each alias IRI to its entity number."""
    rnd = random.Random(seed)
    aliases, truth = [], {}
    for ent in range(n_entities):
        name = _name(rnd)
        n_var = rnd.choice([1, 1, 2, 2, 3, 4, 6])
        surfaces = [name] + [_variant(rnd, name) for _ in range(n_var - 1)]
        for k, s in enumerate(surfaces):
            iri = f"{ENTITY_NS}g{ent:06d}-{k}"
            aliases.append((iri, s))
            truth[iri] = ent
    vocab = "https://example.org/kg/vocab#"
    triples = []
    for i, (iri, s) in enumerate(aliases):
        turn = f"https://example.org/kg/turn/c{i // 7:07d}/{i % 7}"
        triples.append((turn, vocab + "mentions", iri, True, None, None))
        triples.append((iri, vocab + "label", s, False,
                        "http://www.w3.org/2001/XMLSchema#string", None))
        triples.append((iri, vocab + "of", iri, True, None, None))
        triples.append((turn, vocab + "text", f"about {s}", False, None, "en"))
        if i % 3 == 0:  # a literal that spells an IRI: must not be relabelled
            triples.append((turn, vocab + "quote", iri, False,
                            "http://www.w3.org/2001/XMLSchema#string", None))
    rows = [
        (f"c{i:07d}", i % 11, subj, pred, obj, is_iri, dt, lang, None, None, None)
        for i, (subj, pred, obj, is_iri, dt, lang) in enumerate(triples)
    ]
    return aliases, truth, rows


class AliasCanon(_Workload):
    """``alias_merge_map`` over a generated alias table, then
    ``apply_merge_map`` over a triple table that references the
    aliases, written as parquet."""

    name = "alias_canon"
    resume = False
    # minhash and connected components run many small interpreted
    # higher-order-function jobs; their reps keep shortening until the
    # fourth (about 10.7, 5.7, 5.1, then 4.4 s)
    warmup_reps = 3

    def setup(self) -> None:
        self.alias_path = os.path.join(self.work, "aliases")
        self.triples_path = os.path.join(self.work, "triples")
        self.out = os.path.join(self.work, "canon")

        def gen() -> None:
            aliases, self.truth, rows = alias_inputs(self.seed, ALIAS_ENTITIES)
            self.spark.createDataFrame(aliases, "entity_iri string, surface string") \
                .write.mode("overwrite").parquet(self.alias_path)
            self.spark.createDataFrame(rows, jsonld_ops.TRIPLE_SCHEMA) \
                .write.mode("overwrite").parquet(self.triples_path)

        self._passes(gen)
        tr = self.spark.read.parquet(self.triples_path)
        self.n_in = tr.count()
        self.literal_ref = table_digest(tr.filter(~F.col("obj_is_iri")), LITERAL_COLS)
        t0 = time.time()
        self.map_ref = None
        self._warm_reps()
        self.warmup_s = time.time() - t0

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self) -> dict:
        t0 = time.time()
        mm = alias_merge_map(self.spark, aliases=self.spark.read.parquet(self.alias_path))
        apply_merge_map(self.spark.read.parquet(self.triples_path), mm) \
            .write.mode("overwrite").parquet(self.out)
        wall = time.time() - t0
        return {"t0": t0, "wall": wall, "mm": mm, "buckets_skipped": 0, "errors": 0}

    def check(self, m: dict) -> None:
        mm = {r["from_id"]: r["to_id"] for r in m["mm"].collect()}
        m["merge"] = mm
        digest = (len(mm), hash(frozenset(mm.items())))
        if self.map_ref is None:
            self.map_ref = digest
        expect(digest == self.map_ref, "merge map differs between reps")
        expect(all(t not in mm for t in mm.values()), "merge map is not flat")
        out = self.spark.read.parquet(self.out)
        n_out = out.count()
        expect(n_out == self.n_in, f"apply_merge_map changed the row count: {n_out} != {self.n_in}")
        # the subject of a literal row may be relabelled; nothing else
        lit = table_digest(out.filter(~F.col("obj_is_iri")), LITERAL_COLS)
        expect(lit == self.literal_ref, f"literal rows changed: {lit} != {self.literal_ref}")
        merged = self.spark.createDataFrame([(k,) for k in mm], "id string")
        ids = out.select(F.col("subj").alias("id")).union(
            out.filter("obj_is_iri").select(F.col("obj_value").alias("id")))
        stale = ids.join(merged, "id", "left_semi").count()
        expect(stale == 0, f"{stale} rows still reference a merged IRI")
        m["triples"] = n_out

    def sink_stats(self, m: dict) -> "tuple[int, int, dict]":
        return files_since(self.out, m["t0"])

    def rows_out(self, m: dict) -> int:
        return m["triples"]

    def merge_scores(self, m: dict) -> "tuple[float, float]":
        return pair_scores(self.truth, m["merge"])

    # ------------------------------------------------------------- traced probes

    def aliases(self) -> DataFrame:
        return self.spark.read.parquet(self.alias_path)

    def ladder(self, tracer: Tracer) -> dict:
        """Scan of the triple table, then scan + relabel, forced with the
        noop sink; the relabel's time is the difference."""
        mm = alias_merge_map(self.spark, aliases=self.aliases()).localCheckpoint()
        tr = self.spark.read.parquet(self.triples_path)
        times: "dict[str, list[float]]" = {"scan": [], "apply": []}
        for _ in range(LADDER_REPS):
            for name, df in (("scan", tr), ("apply", apply_merge_map(tr, mm))):
                with tracer.span(f"prefix.{name}", "probe") as s:
                    force(df)
                times[name].append(s.duration)
        d = {k: median(v) for k, v in times.items()}
        zero = ["sources.scan_s", "jsonld_ops.turn_order_s", "jsonld_ops.arrow_roundtrip_s",
                "jsonld_ops.emit_s", "jsonld_ops.exchange_shuffle_bytes", "jsonld_ops.triples_out"]
        return {"prefix": d, "canonicalize.apply_s": d["apply"] - d["scan"],
                **{k: 0 for k in zero}}

    def core_replay(self, tracer: Tracer) -> dict:
        # no JSON-LD documents in this workload
        return {k: 0 for k in ("core.build_doc_us", "core.expand_us",
                               "core.to_rdf_us", "core.triples_per_doc")}

    def traced_op(self, tracer: Tracer, ladder: dict) -> "tuple[dict, int]":
        before = self.status.last_id()
        self.prepare()
        with tracer.span("op", "op") as root:
            m = self.op()
        execs = self.status.executions_after(before)
        for i, e in enumerate(execs):
            last = i == len(execs) - 1  # the parquet write of the relabelled triples
            sid = tracer.add("sink_write" if last else "canonicalize.merge_map",
                             "sink" if last else "canonicalize", e["start"], e["end"],
                             parent=root.id, execution_id=e["id"], desc=e["desc"])
            if last:
                d = ladder["prefix"]
                _lay_out(tracer, sid, e, [("canonicalize.apply", "canonicalize",
                                           d["apply"] - d["scan"])])
        return {
            "pipeline.sink_write_s": 0.0, "pipeline.lineage_s": 0.0,
            "pipeline.files_per_bucket_max": 0, "jsonld_ops.quarantined": 0,
            "_m": m,
        }, root.id


WORKLOADS = {w.name: w for w in (KgBuild, KgResume, AliasCanon)}
