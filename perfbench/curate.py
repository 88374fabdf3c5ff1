"""Workload ``curate``: batch curation of a generated raw corpus.

User path: ``operators.dedup.dedup_minhash`` ->
``pipelines.curation.curate(benchmark=eval set)`` ->
``sinks.training_export.write_training_shards``.  Set-up runs the
same path once over a small unrelated corpus, so the first use of
every stage (code generation, Python workers, JIT) is paid there and
the timed passes measure per-document work, as in a session that has
curated before.  The untraced pass hands the whole chain to Spark as
one lazy plan (dedup_minhash's own checkpoints aside) and is timed end
to end; there is one pass per ``PASS_EVERY_S`` of ``--seconds`` (at
least one).  The traced pass calls the same public stage functions one
at a time, forcing each result at the layer boundary.

A traced run then also runs streaming near-dedup (stream_dedup.py):
new docs arriving as files are deduplicated against a persisted
MinHash index.  It runs only in traced runs, after the batch passes,
so the stream's set-up and micro-batches add nothing to the untraced
runs that give the end-to-end metrics.
"""

from __future__ import annotations

import os

import gen
import stream_dedup
from common import dir_stats, median, now

N_DOCS = 600
N_WARMUP_DOCS = 200
PASS_EVERY_S = 10.0
N_SHARDS = 8
#: dedup_minhash's defaults, spelled out for the traced pass
K, NUM_HASHES, BANDS, THRESHOLD = 8, 32, 8, 0.8
MUST_GO = ("exact_dup", "contaminated", "low_quality", "off_language")
MUST_STAY = ("clean", "keeper")


def make_inputs(seed: int, root: str) -> dict:
    warm = os.path.join(root, "warmup")
    os.makedirs(warm)
    gen.curate_inputs(seed, warm, N_WARMUP_DOCS, name="curate-warmup")
    info = gen.curate_inputs(seed, root, N_DOCS)
    stream = os.path.join(root, "stream")
    os.makedirs(stream)
    info["stream"] = stream_dedup.make_inputs(seed, stream)
    return info


def setup(spark, root: str, inputs: dict) -> dict:
    """One pass over the warm-up corpus."""
    warm = os.path.join(root, "warmup")
    _untraced_pass(spark, warm, os.path.join(warm, "export"))
    spark.catalog.clearCache()
    return {}


def _untraced_pass(spark, root: str, out: str) -> dict:
    from trial_data_ingestion_spark.operators.dedup import dedup_minhash
    from trial_data_ingestion_spark.pipelines.curation import curate
    from trial_data_ingestion_spark.sinks.training_export import (
        write_training_shards,
    )
    docs = spark.read.parquet(os.path.join(root, "corpus.parquet"))
    bench = spark.read.parquet(os.path.join(root, "eval.parquet"))
    observed: dict = {}
    kept = dedup_minhash(docs, "doc_id", "text")
    curated = curate(kept, benchmark=bench, metrics=observed)
    write_training_shards(curated, out, "doc_id", N_SHARDS)
    return {name: obs.get["rows"] for name, obs in observed.items()}


def _traced_pass(spark, tracer, root: str, out: str) -> None:
    from trial_data_ingestion_spark.operators.decontam import decontaminate
    from trial_data_ingestion_spark.operators.dedup import (
        dedup_exact, drop_non_representatives, jaccard_verify,
        minhash_lsh_candidates,
    )
    from trial_data_ingestion_spark.operators.sampling import split_by_hash
    from trial_data_ingestion_spark.pipelines.curation import (
        CurationConfig, hygiene_gate,
    )
    from trial_data_ingestion_spark.sinks.training_export import (
        write_training_shards,
    )
    cfg = CurationConfig()
    corpus = os.path.join(root, "corpus.parquet")
    with tracer.span("sources.read") as c:
        docs = spark.read.parquet(corpus).localCheckpoint()
        bench = spark.read.parquet(
            os.path.join(root, "eval.parquet")).localCheckpoint()
        c["rows"] = docs.count()
    with tracer.span("operators.dedup"):
        with tracer.span("operators.dedup.candidates") as c:
            cands = minhash_lsh_candidates(
                docs, "doc_id", "text", K, NUM_HASHES, BANDS).persist()
            c["candidate_pairs"] = cands.count()
        with tracer.span("operators.dedup.verify") as c:
            confirmed = jaccard_verify(docs, cands, "doc_id", "text", K,
                                       THRESHOLD).localCheckpoint()
            c["confirmed_pairs"] = confirmed.count()
        with tracer.span("operators.dedup.components"):
            kept = drop_non_representatives(
                docs, confirmed, "doc_id").localCheckpoint()
            kept.count()
    with tracer.span("pipelines.curation.gates") as c:
        gated = hygiene_gate(kept, cfg).localCheckpoint()
        c["rows_out"] = gated.count()
    with tracer.span("operators.dedup.exact"):
        deduped = dedup_exact(gated, ["fingerprint"],
                              order_col=cfg.id_col).localCheckpoint()
        n_deduped = deduped.count()
    with tracer.span("operators.decontam") as c:
        clean = decontaminate(
            deduped, bench, id_col=cfg.id_col, text_col=cfg.text_col,
            n=cfg.decontam_ngram,
            flag_from=kept.select(cfg.id_col, cfg.text_col)
        ).localCheckpoint()
        c["docs_flagged"] = n_deduped - clean.count()
    split = split_by_hash(clean, cfg.id_col, cfg.split_weights,
                          seed=cfg.split_seed)
    with tracer.span("sinks.training_export") as c:
        write_training_shards(split, out, "doc_id", N_SHARDS)
    _, in_bytes = dir_stats(corpus)
    _, out_bytes = dir_stats(out)
    c["bytes_per_input_byte"] = out_bytes / in_bytes
    cands.unpersist()


def _survivors(spark, out: str) -> set:
    return {(r["doc_id"], r["split"]) for r in
            spark.read.parquet(out).select("doc_id", "split").collect()}


def run(spark, tracer, root: str, inputs: dict, state: dict,
        seconds: float) -> dict:
    """Timed batch passes; in a traced run also a traced pass and the
    stream.  Returns measurements, checks and counts."""
    res = _batch(spark, tracer, root, inputs, seconds)
    if not tracer.enabled:
        return res
    sroot = os.path.join(root, "stream")
    t0 = now()
    sstate = stream_dedup.setup(spark, sroot, inputs["stream"])
    res["report"].append(("stream_setup_s", now() - t0, "s", 1))
    s = stream_dedup.run(spark, sroot, inputs["stream"], sstate, seconds)
    res.update({
        "attempted": res["attempted"] + s["attempted"],
        "failed": res["failed"] + s["failed"],
        "checks": res["checks"] + s["checks"],
        "report": res["report"] + s["report"],
        "index_build_s": s["index_build_s"],
        "traced_stream": s["traced_stream"],
        "pairs": s["pairs"],
        "stream_trace_overhead_s": s["traced_wall_s"] - s["wall_s"],
    })
    tracer.add("streaming", 0.0, 0.0, group=s["run_id"])
    for a, b in s["traced_stream"]["batch_spans"]:
        tracer.add("operators.incremental_dedup.batch", a, b)
    return res


def _batch(spark, tracer, root: str, inputs: dict, seconds: float) -> dict:
    """``seconds // PASS_EVERY_S`` untraced passes (at least one), the
    output checks, then in a traced run the traced pass."""
    labels = inputs["labels"]
    times, observed = [], {}
    for i in range(max(1, int(seconds // PASS_EVERY_S))):
        out = os.path.join(root, f"export-{i}")
        t0 = now()
        observed = _untraced_pass(spark, root, out)
        times.append(now() - t0)
        spark.catalog.clearCache()
    survivors = _survivors(spark, out)
    ids = {doc for doc, _ in survivors}
    checks = []
    for label in MUST_GO:
        left = sorted(i for i, lab in labels.items()
                      if lab == label and i in ids)
        checks.append((f"{label} removed", not left,
                       f"{len(left)} left, e.g. {left[:5]}"))
    for label in MUST_STAY:
        lost = sorted(i for i, lab in labels.items()
                      if lab == label and i not in ids)
        checks.append((f"{label} kept", not lost,
                       f"{len(lost)} dropped, e.g. {lost[:5]}"))
    near = [i for i, lab in labels.items() if lab == "near_dup"]
    recall = sum(i not in ids for i in near) / len(near)
    result = {
        "attempted": len(times), "failed": 0, "checks": checks,
        "wall_s": median(times),
        "report": [
            ("docs_per_s", len(labels) / median(times), "1/s",
             len(times)),
            ("pass_p50_ms", 1000 * median(times), "ms", len(times)),
            ("dup_recall", recall, "ratio", len(near)),
        ] + [(f"rows.{k}", v, "count", 1) for k, v in observed.items()],
        "e2e": {"throughput_per_s": len(labels) / median(times),
                "latency_p50_ms": 1000 * median(times),
                "recall": recall},
    }
    if tracer.enabled:
        out = os.path.join(root, "export-traced")
        t0 = now()
        with tracer.span("curate"):
            _traced_pass(spark, tracer, root, out)
        result["traced_wall_s"] = now() - t0
        same = _survivors(spark, out) == survivors
        checks.append(("traced survivors equal untraced", same, ""))
    return result
