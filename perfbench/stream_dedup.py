"""Streaming near-dedup, run by traced runs of the ``curate`` workload.

Set-up builds the persisted MinHash index
(``operators.incremental_dedup.write_minhash_index``), starts a
processing-time query running ``streaming.documents
.read_document_stream`` -> ``operators.incremental_dedup
.minhash_dedup_stream_sink`` (one file per micro-batch) and waits for
one warm-up file, as a long-running node has done before anyone
measures it.  A timed phase is an open loop: a generator thread drops
one parquet file of new docs into the watched directory every
``INTERVAL_S`` seconds, whatever the query is doing (one file per
``INTERVAL_S`` of ``--seconds``, at least one).  Nothing else runs on
the driver meanwhile, and the interval is above a micro-batch's time
alone, so the rate is sustainable.  Each file's
latency runs from its due time to the end of the micro-batch that
processed it, so a stall also delays the files queued behind it.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime

import gen
from common import median, now

N_INDEX = 500
DOCS_PER_FILE = 40
INTERVAL_S = 9.5
TRIGGER = "250 milliseconds"
#: stream files made per run: a warm-up file, then enough for an
#: untraced and a traced phase
N_FILES = 7
TIMEOUT_S = 90.0


def make_inputs(seed: int, root: str) -> dict:
    return gen.stream_inputs(seed, root, N_INDEX, N_FILES, DOCS_PER_FILE)


def _epoch(progress) -> float:
    """End of a micro-batch in epoch seconds, from its progress
    report (trigger start + trigger duration)."""
    start = datetime.fromisoformat(progress.timestamp.replace("Z", "+00:00"))
    return start.timestamp() + progress.durationMs["triggerExecution"] / 1e3


def _wait(query, n_batches: int, deadline: float) -> list:
    """Progress of the first ``n_batches`` micro-batches that read
    data, once they are all done (fewer if the deadline passes)."""
    done: dict = {}
    while len(done) < n_batches and time.time() < deadline \
            and query.isActive:
        for p in query.recentProgress:
            if p.numInputRows > 0:
                done[p.batchId] = p
        time.sleep(0.2)
    if query.exception() is not None:
        raise RuntimeError(str(query.exception())[:2000])
    return [done[k] for k in sorted(done)][:n_batches]


def _drop(state: dict) -> None:
    """Move the next staged file into the watched directory."""
    path = state["files"].pop(0)
    os.rename(path, os.path.join(state["src"], os.path.basename(path)))


def setup(spark, root: str, inputs: dict) -> dict:
    """Index build, query start and one warm-up micro-batch."""
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        minhash_dedup_stream_sink, write_minhash_index,
    )
    from trial_data_ingestion_spark.streaming.documents import (
        read_document_stream,
    )
    idx = os.path.join(root, "index")
    t0 = now()
    write_minhash_index(
        spark.read.parquet(os.path.join(root, "index.parquet")), idx)
    stage = os.path.join(root, "stage")
    state = {"index": idx, "build_s": now() - t0,
             "src": os.path.join(root, "src"),
             "out": os.path.join(root, "out"),
             "files": sorted(os.path.join(stage, f)
                             for f in os.listdir(stage)),
             "batch_spans": [], "n_done": 0}
    os.makedirs(state["src"])
    sink = minhash_dedup_stream_sink(idx, state["out"])

    def timed_sink(df, batch_id):
        t = now()
        sink(df, batch_id)
        state["batch_spans"].append((t, now()))

    state["query"] = (
        read_document_stream(spark, state["src"],
                             schema="doc_id long, text string",
                             max_files_per_trigger=1)
        .writeStream.foreachBatch(timed_sink)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(processingTime=TRIGGER).start())
    _drop(state)
    _wait(state["query"], 1, time.time() + TIMEOUT_S)
    state["n_done"] = 1
    return state


def phase(state: dict, seconds: float) -> dict:
    """One open-loop phase: ``seconds // INTERVAL_S`` files (at least
    one) on schedule, then wait for their micro-batches."""
    n = min(len(state["files"]), max(1, int(seconds // INTERVAL_S)))
    due, late = [], []
    first = time.time() + 0.5
    spans_before = len(state["batch_spans"])

    def generate():
        for i in range(n):
            d = first + i * INTERVAL_S
            time.sleep(max(0.0, d - time.time()))
            _drop(state)
            due.append(d)
            late.append(time.time() - d)

    gen_thread = threading.Thread(target=generate, daemon=True)
    gen_thread.start()
    try:
        batches = _wait(state["query"], state["n_done"] + n,
                        first + n * INTERVAL_S + TIMEOUT_S)
    finally:
        gen_thread.join(timeout=n * INTERVAL_S + 5)
    batches = batches[state["n_done"]:]
    state["n_done"] += len(batches)
    ends = [_epoch(p) for p in batches]
    return {
        "n": n, "batches": batches, "processed": len(batches),
        "latency": [e - d for e, d in zip(ends, due)],
        # files not yet done when each file fell due (itself included)
        "backlog": [sum(1 for j in range(i + 1)
                        if j >= len(ends) or ends[j] > d)
                    for i, d in enumerate(due)],
        "late": late,
        "batch_spans": state["batch_spans"][spans_before:],
    }


def _posthoc_pairs(spark, root: str, index: str, first_id: int) -> dict:
    """Candidate and confirmed pairs the traced phase probed, counted
    after the stream with the public batch operators.  Over a stretch
    of a stream the incremental probes cover exactly the LSH-colliding
    pairs whose later doc arrived in that stretch (in-batch pairs plus
    pairs with everything indexed before), under the index's stored
    banding."""
    from pyspark.sql import functions as F

    from trial_data_ingestion_spark.operators.dedup import (
        jaccard_verify, minhash_lsh_candidates,
    )
    from trial_data_ingestion_spark.operators.incremental_dedup import (
        read_minhash_params,
    )
    p = read_minhash_params(spark, index)
    docs = (spark.read.parquet(os.path.join(root, "index.parquet"))
            .unionByName(spark.read.parquet(os.path.join(root, "src"))))
    cands = (minhash_lsh_candidates(docs, "doc_id", "text", p["k"],
                                    p["num_hashes"], p["bands"])
             .where(F.col("doc_b") >= first_id).localCheckpoint())
    confirmed = jaccard_verify(docs, cands, "doc_id", "text", p["k"], 0.8)
    return {"candidates": cands.count(), "confirmed": confirmed.count()}


def run(spark, root: str, inputs: dict, state: dict,
        seconds: float) -> dict:
    """Untraced phase, then a traced phase on the same query; stops the
    query."""
    try:
        ph = phase(state, seconds)
        t = phase(state, seconds)
    finally:
        state["query"].stop()
        state["query"].awaitTermination(60)
    labels = inputs["labels"]
    streamed = [i for i in labels
                if i < N_INDEX + DOCS_PER_FILE * state["n_done"]]
    out_ids = {r["doc_id"] for r in
               spark.read.parquet(state["out"]).select("doc_id").collect()}
    dups = [i for i in streamed if labels[i] == "dup"]
    lost = sorted(i for i in streamed
                  if labels[i] == "unique" and i not in out_ids)
    recall = sum(i not in out_ids for i in dups) / max(1, len(dups))
    busy = [p.durationMs["triggerExecution"] / 1e3 for p in ph["batches"]]
    throughput = DOCS_PER_FILE / median(busy) if busy else 0.0
    result = {
        "attempted": ph["n"], "failed": ph["n"] - ph["processed"],
        "wall_s": median(busy), "index_build_s": state["build_s"],
        "checks": [
            ("every file processed", ph["processed"] == ph["n"],
             f"{ph['processed']} of {ph['n']}"),
            ("no unique doc dropped", not lost,
             f"{len(lost)} dropped, e.g. {lost[:5]}"),
            ("survivors are streamed docs", out_ids <= set(streamed),
             f"{len(out_ids - set(streamed))} unknown ids"),
        ],
        "report": [
            ("batch_latency_p50_s", median(ph["latency"]), "s",
             len(ph["latency"])),
            ("backlog_max_files", max(ph["backlog"], default=0), "count",
             len(ph["backlog"])),
            ("generator_late_max_ms", 1000 * max(ph["late"], default=0),
             "ms", len(ph["late"])),
            ("stream_dup_recall", recall, "ratio", len(dups)),
            ("docs_per_busy_s", throughput, "1/s", len(busy)),
        ],
        "traced_wall_s": median(
            [p.durationMs["triggerExecution"] / 1e3 for p in t["batches"]]),
        "traced_stream": t,
        "pairs": _posthoc_pairs(spark, root, state["index"],
                                N_INDEX + DOCS_PER_FILE * (1 + ph["n"])),
        "run_id": str(state["query"].runId),
    }
    result["attempted"] += t["n"]
    result["failed"] += t["n"] - t["processed"]
    result["checks"].append(("every traced file processed",
                             t["processed"] == t["n"],
                             f"{t['processed']} of {t['n']}"))
    return result
