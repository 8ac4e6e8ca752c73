"""The traced run: per-layer numbers for one workload.

Sequence: the workload's untraced warm-up call (which pays the JVM's
first-call cost, reported as ``session.cold_call_s``), the traced main
call, an untraced main call, and for kg_commit the traced refresh.
``trace.overhead_s`` is the traced main call's wall minus the untraced
one's, leaving out the gate, which only the traced call runs.

In the traced main call each layer's outputs are captured while
``build_triples`` composes them, then forced in pipeline order under one
span per layer: persisted and counted, so the next layer reads them from
the cache and a layer's span holds its own work only. Spans around the
public calls (gate counts, ``materialize`` per table and its fingerprint
pass; the shingle, candidate and verify passes of the near-dup operator)
give the rest. Task time, shuffle, spill, failed tasks and job counts come
from Spark's status store, read per span job group after the run.
"""

from __future__ import annotations

import time
import uuid

from perfbench import trace, workloads

KG_LAYERS = ("canonicalize", "parse", "mentions", "linking", "triples", "aggregate")
KG_TABLES = ("nodes", "attribute_triples", "synapse_triples", "aggregate_triples")
GATE_TABLES = (*KG_TABLES, "invariant_violations")
LAYER_KEYS = ("self_s", "rows_out", "task_s", "shuffle_bytes", "failed_tasks")
MAT_KEYS = ("spark_jobs", "rows_written", "files", "bytes", "task_s", "spill_bytes")
DEDUP_KEYS = (
    "shingle_s",
    "candidates_s",
    "verify_s",
    "candidate_pairs",
    "verified_pairs",
    "verify_yield",
    "task_s",
    "shuffle_bytes",
)

UNITS = {
    "rows_out": "count",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "failed_tasks": "count",
    "spark_jobs": "count",
    "rows_written": "count",
    "files": "count",
    "bytes": "bytes",
    "partitions_written": "count",
    "partitions_skipped": "count",
    "candidate_pairs": "count",
    "verified_pairs": "count",
    "verify_yield": "ratio",
}


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = [f"{layer}.{k}" for layer in KG_LAYERS for k in LAYER_KEYS]
    names += [f"pipeline.gate.{t}.s" for t in GATE_TABLES] + ["pipeline.gate.spark_jobs"]
    names += [f"materialize.{t}.s" for t in KG_TABLES]
    names += [f"materialize.{k}" for k in MAT_KEYS]
    names += ["materialize.partitions_written", "materialize.partitions_skipped", "materialize.fingerprint_s"]
    names += [f"dedup.{k}" for k in DEDUP_KEYS]
    names += ["session.start_s", "session.cold_call_s", "datagen.s", "trace.overhead_s"]
    return names


def unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last == "s" or last.endswith("_s"):
        return "s"
    return UNITS[last]


def _layers():
    from sonata_neo4j_loader_spark.operators import (
        aggregate,
        canonicalize,
        linking,
        mentions,
        parse,
        triples,
    )

    return {
        "canonicalize": [(canonicalize, "connected_components"), (canonicalize, "apply_canonical_mapping")],
        "parse": [(parse, "parse_documents"), (parse, "audit_span_invariant")],
        "mentions": [
            (mentions, "extract_documents"),
            (mentions, "mentions_from_extracted"),
            (mentions, "synapses_from_extracted"),
            (mentions, "attribute_pairs_from_extracted"),
        ],
        "linking": [(linking, "link_mentions")],
        "triples": [
            (triples, "neuron_attribute_triples_from_pairs"),
            (triples, "synapse_triples"),
            (triples, "node_properties"),
            (triples, "node_table"),
        ],
        "aggregate": [
            (aggregate, "rich_aggregated_synapse_triples"),
            (aggregate, "aggregated_synapse_triples"),
        ],
    }


class _TimedCount:
    """Stands in for a DataFrame in ``dry_run_report``: its count runs in a span."""

    def __init__(self, tracer: trace.Tracer, name: str, df):
        self.tracer, self.name, self.df = tracer, name, df

    def count(self) -> int:
        with self.tracer.span(self.name):
            return self.df.count()


def _traced_materialize(tracer: trace.Tracer, prefix: str, outputs, root: str, buckets: int):
    """``materialize_outputs`` with a span per table and per fingerprint pass."""
    from sonata_neo4j_loader_spark.plans import pipeline
    from sonata_neo4j_loader_spark.sinks import materialize as mat

    def wrap_materialize(orig):
        def wrapped(df, table_path, *args, **kwargs):
            with tracer.span(f"{prefix}.{table_path.rsplit('/', 1)[-1]}"):
                return orig(df, table_path, *args, **kwargs)

        return wrapped

    def wrap_fingerprints(orig):
        def wrapped(bucketed):
            fp = orig(bucketed)
            with tracer.span(f"{tracer.current()}.fingerprint"):
                trace.force(fp)
            return fp

        return wrapped

    with trace.patched(mat, "materialize", wrap_materialize), trace.patched(
        mat, "partition_fingerprints", wrap_fingerprints
    ):
        return pipeline.materialize_outputs(outputs, root, num_buckets=buckets)


def _kg_traced_main(wl: workloads.KgCommit, spark, tracer: trace.Tracer) -> dict:
    from sonata_neo4j_loader_spark.plans import pipeline

    root = wl.path("root-traced")
    with tracer.span("main"):
        with trace.Capture(_layers()) as cap, tracer.span("build_triples"):
            out = wl.build(spark, with_drop=False)
        for layer in KG_LAYERS:
            with tracer.span(layer) as s:
                s.counts["rows_out"] = sum(trace.force(df) for df in cap.frames[layer])
        with tracer.span("pipeline.gate"):
            gate_in = {t: _TimedCount(tracer, f"pipeline.gate.{t}", out[t]) for t in GATE_TABLES}
            gate_in["aggregate_triples"] = [
                _TimedCount(tracer, "pipeline.gate.aggregate_triples", a) for a in out["aggregate_triples"]
            ]
            report = pipeline.dry_run_report(gate_in)
        with tracer.span("materialize"):
            commit = _traced_materialize(tracer, "materialize", out, root, wl.BUCKETS)
    stored = {"files": workloads.dir_files(root), "bytes": workloads.dir_bytes(root)}
    return {"root": root, "report": report, "commit": commit, "stored": stored}


def _kg_metrics(tracer: trace.Tracer, state: dict) -> dict[str, float]:
    m: dict[str, float] = {}
    for layer in KG_LAYERS:
        (s,) = tracer.find(layer)
        sm = tracer.totals(layer)
        m[f"{layer}.self_s"] = s.wall
        m[f"{layer}.rows_out"] = s.counts["rows_out"]
        for k in ("task_s", "shuffle_bytes", "failed_tasks"):
            m[f"{layer}.{k}"] = sm[k]
    # canonicalize also ran eagerly inside build_triples (the alias-graph
    # size probe and, below the local threshold, the union-find)
    m["canonicalize.self_s"] += tracer.find("build_triples")[0].wall
    for t in GATE_TABLES:
        m[f"pipeline.gate.{t}.s"] = sum(s.wall for s in tracer.find(f"pipeline.gate.{t}"))
    m["pipeline.gate.spark_jobs"] = tracer.totals("pipeline.gate")["spark_jobs"]
    for t in KG_TABLES:
        m[f"materialize.{t}.s"] = tracer.find(f"materialize.{t}")[0].wall
    sm = tracer.totals("materialize")
    commit = state["commit"]
    m["materialize.spark_jobs"] = sm["spark_jobs"]
    m["materialize.rows_written"] = sum(r.rows_written for r in commit.values())
    m["materialize.files"] = state["stored"]["files"]
    m["materialize.bytes"] = state["stored"]["bytes"]
    m["materialize.task_s"] = sm["task_s"]
    m["materialize.spill_bytes"] = sm["spill_bytes"]
    refresh = state["refresh"]
    m["materialize.partitions_written"] = sum(len(r.partitions_written) for r in refresh.values())
    m["materialize.partitions_skipped"] = sum(len(r.partitions_skipped) for r in refresh.values())
    m["materialize.fingerprint_s"] = sum(
        s.wall for s in tracer.spans if s.name.startswith("refresh.") and s.name.endswith(".fingerprint")
    )
    return m


def _neardup_traced_main(wl: workloads.NearDup, spark, tracer: trace.Tracer) -> dict:
    from sonata_neo4j_loader_spark.operators import dedup

    counts: dict[str, int] = {}

    def wrap_shingles(orig):
        def wrapped(*args, **kwargs):
            df = orig(*args, **kwargs)
            if "docs" not in counts:  # the operator's own pass, not verify's
                with tracer.span("dedup.shingle"):
                    counts["docs"] = trace.force(df)
            return df

        return wrapped

    def wrap_verify(orig):
        def wrapped(candidates, *args, **kwargs):
            with tracer.span("dedup.candidates"):
                counts["candidate_pairs"] = trace.force(candidates)
            out = orig(candidates, *args, **kwargs)
            with tracer.span("dedup.verify"):
                counts["verified_pairs"] = trace.force(out)
            return out

        return wrapped

    out = wl.path("pairs-traced")
    with tracer.span("main"):
        with trace.patched(dedup, "add_shingles", wrap_shingles), trace.patched(
            dedup, "jaccard_verify", wrap_verify
        ):
            wl.pairs(spark, [wl.path("inputs", "base")], out)
    return {"out": out, "counts": counts}


def _neardup_metrics(tracer: trace.Tracer, state: dict) -> dict[str, float]:
    c = state["counts"]
    sm = tracer.totals("dedup")
    return {
        "dedup.shingle_s": tracer.find("dedup.shingle")[0].wall,
        "dedup.candidates_s": tracer.find("dedup.candidates")[0].wall,
        "dedup.verify_s": tracer.find("dedup.verify")[0].wall,
        "dedup.candidate_pairs": c["candidate_pairs"],
        "dedup.verified_pairs": c["verified_pairs"],
        "dedup.verify_yield": c["verified_pairs"] / max(1, c["candidate_pairs"]),
        "dedup.task_s": sm["task_s"],
        "dedup.shuffle_bytes": sm["shuffle_bytes"],
    }


def run(wl: workloads.Workload, spark, spans_path: str) -> tuple[dict[str, float], int]:
    """Returns the per-layer metrics and the number of calls made, and
    writes the spans, one JSON object per line, to ``spans_path``. A call
    that raises or fails its check ends the run with that exception."""
    tracer = trace.Tracer(spark, uuid.uuid4().hex[:8])
    walls: dict[str, float] = {}

    def call(label: str, fn, check):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        state = fn()
        walls[label] = time.perf_counter() - t0
        check(spark, state)
        return state

    kg = isinstance(wl, workloads.KgCommit)
    traced_main = _kg_traced_main if kg else _neardup_traced_main
    call("warmup", lambda: wl.warm_up(spark), lambda spark, state: None)
    state = call("traced", lambda: traced_main(wl, spark, tracer), wl.check_main)
    call("untraced", lambda: wl.main(spark, 1), wl.check_main)
    if kg:
        def refresh():
            with tracer.span("refresh"):
                out = wl.build(spark, with_drop=True)
                return {**state, "refresh": _traced_materialize(tracer, "refresh.materialize", out, state["root"], wl.BUCKETS)}

        state = call("refresh", refresh, wl.check_refresh)

    metrics = dict.fromkeys(metric_names(), 0.0)
    metrics.update(_kg_metrics(tracer, state) if kg else _neardup_metrics(tracer, state))
    gate = tracer.find("pipeline.gate")[0].wall if kg else 0.0
    metrics["trace.overhead_s"] = walls["traced"] - gate - walls["untraced"]
    metrics["session.cold_call_s"] = walls["warmup"]
    tracer.dump(spans_path)
    return metrics, len(walls)
