"""Per-layer metrics of the traced run, named ``<module>.<metric>``.

``PER_LAYER`` lists every metric with its unit and better direction
(the same list as ``per_layer`` in BENCHMARK.json).  Every workload
reports all of them: a layer the workload does not exercise reads 0,
which is the check that each workload isolates its layers.
"""

from __future__ import annotations

from common import median

#: layers whose spans also report Spark task/shuffle/spill totals
STAGE_LAYERS = ("sources.read", "pipelines.curation.gates",
                "operators.dedup", "operators.decontam",
                "sinks.training_export", "operators.chunking",
                "operators.embedding", "sinks.upsert",
                "operators.similarity.append",
                "operators.similarity.query", "streaming")
_STAGE_UNITS = {"tasks": ("count", "lower"),
                "failed_tasks": ("count", "lower"),
                "executor_busy_s": ("s", "lower"),
                "shuffle_write_mb": ("MB", "lower"),
                "shuffle_read_mb": ("MB", "lower"),
                "spill_mb": ("MB", "lower")}

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("sources.read_s", "s", "lower"),
    ("sources.rows", "count", "higher"),
    ("pipelines.curation.gates.self_s", "s", "lower"),
    ("pipelines.curation.gates.rows_out", "count", "higher"),
    ("operators.dedup.self_s", "s", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.confirmed_pairs", "count", "higher"),
    ("operators.dedup.useful_ratio", "ratio", "higher"),
    ("operators.decontam.self_s", "s", "lower"),
    ("operators.decontam.docs_flagged", "count", "higher"),
    ("sinks.training_export.write_s", "s", "lower"),
    ("sinks.training_export.bytes_per_input_byte", "ratio", "lower"),
    ("operators.chunking.self_s", "s", "lower"),
    ("operators.chunking.chunks_per_doc", "ratio", "lower"),
    ("operators.embedding.self_s", "s", "lower"),
    ("operators.embedding.vectors_per_s", "1/s", "higher"),
    ("sinks.upsert.write_s", "s", "lower"),
    ("sinks.upsert.rows_rewritten_per_row", "ratio", "lower"),
    ("sinks.upsert.files_in_store", "count", "lower"),
    ("operators.similarity.append_s", "s", "lower"),
    ("operators.similarity.query.jobs_per_query", "count", "lower"),
    ("operators.similarity.query.probe_ms", "ms", "lower"),
    ("operators.similarity.query.scan_ms", "ms", "lower"),
    ("operators.similarity.query.candidates_per_result", "ratio", "lower"),
    ("operators.similarity.query.files_read_per_query", "count", "lower"),
    ("operators.incremental_dedup.index_build_s", "s", "lower"),
    ("operators.incremental_dedup.batch_s", "s", "lower"),
    ("operators.incremental_dedup.candidates", "count", "lower"),
    ("operators.incremental_dedup.confirmed", "count", "higher"),
    ("operators.incremental_dedup.useful_ratio", "ratio", "higher"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.trigger_overhead_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.rows_per_batch", "count", "higher"),
    ("streaming.backlog_max_files", "count", "lower"),
    ("streaming.generator_late_ms", "ms", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.stream_overhead_s", "s", "lower"),
] + [(f"{layer}.{field}", unit, better)
     for layer in STAGE_LAYERS
     for field, (unit, better) in _STAGE_UNITS.items()]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, res: dict, start_s: float) -> dict:
    """name -> (value, unit) for every metric in ``PER_LAYER``."""
    L = tracer.layer
    v = {"session.start_s": start_s,
         "session.peak_rss_mb": res.get("peak_rss_mb", 0.0)}
    src = L("sources.read")
    v["sources.read_s"] = src["wall_s"]
    v["sources.rows"] = src.get("rows", 0)
    gates = L("pipelines.curation.gates")
    v["pipelines.curation.gates.self_s"] = gates["self_s"]
    v["pipelines.curation.gates.rows_out"] = gates.get("rows_out", 0)
    dd = L("operators.dedup")
    v["operators.dedup.self_s"] = dd["self_s"]
    v["operators.dedup.candidate_pairs"] = dd.get("candidate_pairs", 0)
    v["operators.dedup.confirmed_pairs"] = dd.get("confirmed_pairs", 0)
    v["operators.dedup.useful_ratio"] = _ratio(
        dd.get("confirmed_pairs", 0), dd.get("candidate_pairs", 0))
    dc = L("operators.decontam")
    v["operators.decontam.self_s"] = dc["self_s"]
    v["operators.decontam.docs_flagged"] = dc.get("docs_flagged", 0)
    ex = L("sinks.training_export")
    v["sinks.training_export.write_s"] = ex["wall_s"]
    v["sinks.training_export.bytes_per_input_byte"] = \
        ex.get("bytes_per_input_byte", 0.0)

    ch = L("operators.chunking")
    v["operators.chunking.self_s"] = ch["self_s"]
    v["operators.chunking.chunks_per_doc"] = _ratio(ch.get("chunks", 0),
                                                    ch.get("docs", 0))
    em = L("operators.embedding")
    v["operators.embedding.self_s"] = em["self_s"]
    v["operators.embedding.vectors_per_s"] = _ratio(em.get("vectors", 0),
                                                    em["self_s"])
    up = L("sinks.upsert")
    v["sinks.upsert.write_s"] = up["wall_s"]
    v["sinks.upsert.rows_rewritten_per_row"] = _ratio(
        up.get("rows_rewritten", 0), up.get("rows_in", 0))
    v["sinks.upsert.files_in_store"] = tracer.last(
        "sinks.upsert", "files_in_store")
    v["operators.similarity.append_s"] = L(
        "operators.similarity.append")["wall_s"]
    q = L("operators.similarity.query")
    nq = sum(sp["name"] == "operators.similarity.query"
             for sp in tracer.spans)
    v["operators.similarity.query.jobs_per_query"] = _ratio(q.get("jobs", 0), nq)
    v["operators.similarity.query.probe_ms"] = 1000 * _ratio(
        L("operators.similarity.query.probe")["wall_s"], nq)
    scan = L("operators.similarity.query.scan")
    v["operators.similarity.query.scan_ms"] = 1000 * _ratio(
        scan["wall_s"], nq)
    v["operators.similarity.query.candidates_per_result"] = _ratio(
        scan.get("input_records", 0.0), nq * res.get("topk", 0))
    v["operators.similarity.query.files_read_per_query"] = res.get(
        "files_read", 0)

    stream = res.get("traced_stream")
    batches = stream["batches"] if stream else []
    inc = L("operators.incremental_dedup.batch")
    pairs = res.get("pairs", {})
    nb = max(1, len(batches))
    v["operators.incremental_dedup.index_build_s"] = res.get(
        "index_build_s", 0.0)
    v["operators.incremental_dedup.batch_s"] = _ratio(inc["wall_s"],
                                                      inc["n"])
    v["operators.incremental_dedup.candidates"] = \
        pairs.get("candidates", 0) / nb
    v["operators.incremental_dedup.confirmed"] = \
        pairs.get("confirmed", 0) / nb
    v["operators.incremental_dedup.useful_ratio"] = _ratio(
        pairs.get("confirmed", 0), pairs.get("candidates", 0))

    def dur(key):
        return median([p.durationMs.get(key, 0) for p in batches])
    v["streaming.add_batch_ms"] = dur("addBatch")
    v["streaming.trigger_overhead_ms"] = median(
        [p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)
         for p in batches])
    v["streaming.wal_commit_ms"] = dur("walCommit")
    v["streaming.rows_per_batch"] = median(
        [p.numInputRows for p in batches])
    v["streaming.backlog_max_files"] = max(stream["backlog"], default=0) \
        if stream else 0
    v["streaming.generator_late_ms"] = 1000 * max(stream["late"], default=0) \
        if stream else 0.0
    v["trace.overhead_s"] = res.get("traced_wall_s", 0.0) - res["wall_s"]
    v["trace.stream_overhead_s"] = res.get("stream_trace_overhead_s", 0.0)

    for layer in STAGE_LAYERS:
        tot = L(layer)
        for field in _STAGE_UNITS:
            v[f"{layer}.{field}"] = tot.get(field, 0.0)
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {name: (float(v[name]), units[name]) for name in units}
