"""Workload ``rag``: the vector store's read path after its write path.

Set-up ingests the base records with
``pipelines.ingest_embed.run_ingest_and_embed``, builds an IVF index
(``kmeans_centroids`` + ``write_ivf_index``), lands one write (a delta
of new plus re-ingested records through ``run_ingest_and_embed``, then
``append_to_ivf_index`` for the new vectors), measures recall@10 and
issues a warm-up query.  The timed phase is a closed loop with one
client issuing single top-k queries through
``operators.similarity.topk_ivf_over_index``, nothing else running.
The traced phase runs the same loop with writes between the queries,
each write's stages (chunk, embed, upsert, append) called one at a
time.
"""

from __future__ import annotations

import glob
import os

import numpy as np

import gen
from common import dir_stats, median, now, tail
from spans import Tracer

N_BASE = 80
N_NEW, N_REINGEST = 20, 10
#: write files made per run: a warm-up write, then enough for an
#: untraced and a traced phase
N_WRITES = 6
N_WARMUP_QUERIES = 1
N_QUERIES = 200
QUERY_EVERY_S = 1.25
WRITE_EVERY_S = 10.0
DIM, CELLS, NPROBE, TOPK = 64, 16, 8, 10
N_RECALL_QUERIES = 100


def make_inputs(seed: int, root: str) -> dict:
    info = gen.rag_inputs(seed, root, N_BASE, N_WRITES, N_NEW,
                          N_REINGEST, N_QUERIES)
    info["new_dois"] = [
        [f"10.5555/bench.{seed}.{N_BASE + w * N_NEW + j}"
         for j in range(N_NEW)] for w in range(N_WRITES)]
    return info


def setup(spark, root: str, inputs: dict) -> dict:
    """Base store and IVF index, one write, recall@10 over the result
    (so an appended delta counts) and ``N_WARMUP_QUERIES`` single
    queries: the first use of the write and query paths (code
    generation, Python workers, JIT) is paid here, not in the timed
    loop."""
    from trial_data_ingestion_spark.operators.similarity import (
        kmeans_centroids, write_ivf_index,
    )
    from trial_data_ingestion_spark.pipelines.ingest_embed import (
        run_ingest_and_embed,
    )
    d = os.path.join(root, "vectors")
    os.makedirs(d)
    store = run_ingest_and_embed(
        spark, spark.read.parquet(os.path.join(root, "base.parquet")),
        os.path.join(d, "store"))
    emb = store.select("chunk_id", "embedding")
    cents = kmeans_centroids(emb, num_cells=CELLS, max_iter=10)
    write_ivf_index(emb, cents, os.path.join(d, "ivf"),
                    id_col="chunk_id", dim=DIM)
    state = {"dir": d, "cents": cents}
    t0 = now()
    _write_fused(spark, state, os.path.join(root, "write_0.parquet"),
                 inputs["new_dois"][0])
    state["warm_write_s"] = now() - t0
    state["recall"] = _recall(spark, state, inputs)
    for i in range(N_WARMUP_QUERIES):
        _query(spark, Tracer(spark, "warm-up", False), state, f"w{i}",
               inputs["queries"][-1 - i])
    return state


def _query_df(spark, qid: str, text: str):
    from trial_data_ingestion_spark.operators.embedding import HashEmbedder
    vec = HashEmbedder(DIM).encode([text])[0]
    return spark.createDataFrame([(qid, vec)],
                                 "query_id string, query_vec array<float>")


def _query(spark, tracer, state: dict, qid: str, text: str) -> int:
    from trial_data_ingestion_spark.operators.similarity import (
        topk_ivf_over_index,
    )
    with tracer.span("operators.similarity.query"):
        with tracer.span("operators.similarity.query.probe"):
            res = topk_ivf_over_index(
                spark, os.path.join(state["dir"], "ivf"),
                _query_df(spark, qid, text), state["cents"],
                id_col="chunk_id", k=TOPK, nprobe=NPROBE, dim=DIM)
        with tracer.span("operators.similarity.query.scan"):
            rows = res.collect()
    return len(rows)


def _write_fused(spark, state: dict, path: str, new_dois: list) -> None:
    from pyspark.sql import functions as F

    from trial_data_ingestion_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from trial_data_ingestion_spark.pipelines.ingest_embed import (
        run_ingest_and_embed,
    )
    store = run_ingest_and_embed(spark, spark.read.parquet(path),
                                 os.path.join(state["dir"], "store"))
    new = store.where(F.col("doi").isin(new_dois)) \
               .select("chunk_id", "embedding")
    append_to_ivf_index(new, state["cents"],
                        os.path.join(state["dir"], "ivf"),
                        id_col="chunk_id", dim=DIM,
                        delta_id=os.path.basename(path).split(".")[0])


def _write_traced(spark, tracer, state: dict, path: str,
                  new_dois: list) -> None:
    """run_ingest_and_embed's stages one at a time, then the append."""
    from pyspark.sql import functions as F

    from trial_data_ingestion_spark.operators.embedding import (
        embed_text, resolve_backend,
    )
    from trial_data_ingestion_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from trial_data_ingestion_spark.pipelines.ingest_embed import (
        RunConfig, build_chunks,
    )
    from trial_data_ingestion_spark.sinks import upsert_parquet
    cfg = RunConfig()
    store_path = os.path.join(state["dir"], "store")
    records = spark.read.parquet(path)
    with tracer.span("operators.chunking") as c:
        chunks = build_chunks(records, cfg).localCheckpoint()
        c["chunks"] = chunks.count()
    c["docs"] = records.count()
    with tracer.span("operators.embedding") as c:
        embedded = embed_text(
            chunks, "text",
            resolve_backend(cfg.embed_backend, dim=cfg.embed_dim)
        ).localCheckpoint()
        c["vectors"] = embedded.count()
    with tracer.span("sinks.upsert") as c:
        upsert_parquet(spark, embedded, store_path, key="chunk_id",
                       n_buckets=cfg.upsert_buckets)
    touched = {r[0] for r in embedded.select(
        F.pmod(F.xxhash64(F.col("chunk_id").cast("string")),
               F.lit(cfg.upsert_buckets))).distinct().collect()}
    c["rows_in"] = embedded.count()
    c["rows_rewritten"] = sum(
        spark.read.parquet(os.path.join(store_path, f"__bucket={b}"))
        .count() for b in touched)
    c["files_in_store"] = dir_stats(store_path)[0]
    store = spark.read.parquet(store_path)
    with tracer.span("operators.similarity.append"):
        new = store.where(F.col("doi").isin(new_dois)) \
                   .select("chunk_id", "embedding")
        append_to_ivf_index(new, state["cents"],
                            os.path.join(state["dir"], "ivf"),
                            id_col="chunk_id", dim=DIM,
                            delta_id=os.path.basename(path).split(".")[0])


def _probe_files(state: dict, text: str) -> int:
    """Index files under the ``NPROBE`` cells nearest the query: the
    partitions a probe reads (same distance and tie rule as the
    operator's nearest-cell step)."""
    from trial_data_ingestion_spark.operators.embedding import HashEmbedder
    q = np.asarray(HashEmbedder(DIM).encode([text])[0], dtype=np.float64)
    d = np.sqrt(((state["cent_arr"] - q) ** 2).sum(axis=1))
    cells = [state["cent_ids"][i]
             for i in np.lexsort((state["cent_ids"], d))[:NPROBE]]
    ivf = os.path.join(state["dir"], "ivf")
    return sum(len(glob.glob(os.path.join(ivf, "delta=*", f"cell_id={c}",
                                          "*.parquet")))
               for c in cells)


def _write(spark, tracer, state, inputs, w: int) -> bool:
    path = os.path.join(inputs["root"], f"write_{w}.parquet")
    try:
        if tracer.enabled:
            with tracer.span("write"):
                _write_traced(spark, tracer, state, path,
                              inputs["new_dois"][w])
        else:
            _write_fused(spark, state, path, inputs["new_dois"][w])
    except Exception as e:  # one failed write must not end the run
        print(f"write {w} failed: {e!r}"[:500])
        return False
    return True


def _loop(spark, tracer, state, inputs, seconds, n_writes, phase):
    """Closed loop, one client: one single query per ``QUERY_EVERY_S``
    of ``seconds`` (at least one) and ``n_writes`` writes spread evenly
    between them.  Queries and writes never overlap, so each is timed
    alone."""
    queries = inputs["queries"]
    n_queries = max(1, round(seconds / QUERY_EVERY_S))
    # write j goes after query number (j + 0.5) * n_queries / n_writes
    write_after = [max(1, int((j + 0.5) * n_queries / n_writes))
                   for j in range(n_writes)]
    lat, writes, wrote = [], [], []
    failed = 0
    for i in range(n_queries):
        t0 = now()
        try:
            ok = _query(spark, tracer, state, f"{phase}{i}",
                        queries[i % len(queries)]) == TOPK
        except Exception as e:  # a failed query counts, loop goes on
            print(f"query {i} failed: {e!r}"[:500])
            ok = False
        lat.append(now() - t0)
        failed += not ok
        for _ in range(write_after.count(i + 1)):
            w = 1 + len(writes)   # write 0 ran in set-up
            t0 = now()
            failed += not _write(spark, tracer, state, inputs, w)
            writes.append(now() - t0)
            wrote.append(w)
    return lat, writes, wrote, failed


def _written_chunks(spark, state: dict, root: str, wrote: list) -> int:
    """Chunks in the store of the records the writes ``wrote`` upserted."""
    from pyspark.sql import functions as F
    dois = sorted({r["doi"] for w in wrote for r in spark.read.parquet(
        os.path.join(root, f"write_{w}.parquet")).select("doi").collect()})
    return (spark.read.parquet(os.path.join(state["dir"], "store"))
            .where(F.col("doi").isin(dois)).count())


def _recall(spark, state: dict, inputs: dict) -> float:
    """recall@10 of the IVF index against exact top-k over the store,
    for a fixed batch of queries (timed in set-up, not in the loop)."""
    from trial_data_ingestion_spark.operators.embedding import HashEmbedder
    from trial_data_ingestion_spark.operators.similarity import (
        topk_bruteforce, topk_ivf_over_index,
    )
    enc = HashEmbedder(DIM)
    texts = inputs["queries"][:N_RECALL_QUERIES]
    qs = spark.createDataFrame(
        [(f"r{i}", enc.encode([t])[0]) for i, t in enumerate(texts)],
        "query_id string, query_vec array<float>")
    ivf = topk_ivf_over_index(spark, os.path.join(state["dir"], "ivf"), qs,
                              state["cents"], id_col="chunk_id", k=TOPK,
                              nprobe=NPROBE, dim=DIM).collect()
    store = spark.read.parquet(os.path.join(state["dir"], "store"))
    exact = topk_bruteforce(store.select("chunk_id", "embedding"), qs,
                            id_col="chunk_id", k=TOPK, dim=DIM).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    want = {(r["query_id"], r["neighbor_id"]) for r in exact}
    return len(got & want) / len(want)


def run(spark, tracer, root: str, inputs: dict, state: dict,
        seconds: float) -> dict:
    """Untraced loop, then (traced run) a traced loop; output checks."""
    from pyspark.sql import functions as F

    from trial_data_ingestion_spark.sinks import read_upsert_table
    inputs["root"] = root
    traced, tracer.enabled = tracer.enabled, False
    lat, _, _, failed = _loop(spark, tracer, state, inputs, seconds, 0, "q")
    tracer.enabled = traced
    n_chunks = _written_chunks(spark, state, root, [0])
    result = {"attempted": len(lat) + 1, "failed": failed,
              "wall_s": median(lat), "topk": TOPK}
    t_wrote = []
    if traced:
        cents = state["cents"].orderBy("cell_id").collect()
        state["cent_ids"] = [r["cell_id"] for r in cents]
        state["cent_arr"] = np.asarray([r["centroid"] for r in cents])
        t_lat, t_writes, t_wrote, t_failed = _loop(
            spark, tracer, state, inputs, seconds,
            min(N_WRITES - 1, max(1, int(seconds // WRITE_EVERY_S))), "t")
        result["traced_wall_s"] = median(t_lat)
        result["attempted"] += len(t_lat) + len(t_writes)
        result["failed"] += t_failed
        result["files_read"] = median(
            [_probe_files(state, inputs["queries"][i % N_QUERIES])
             for i in range(len(t_lat))])
    rows, distinct, n_docs = read_upsert_table(
        spark, os.path.join(state["dir"], "store")).agg(
            F.count("*"), F.countDistinct("chunk_id"),
            F.countDistinct("doi")).first()
    n_writes_done = 1 + len(t_wrote)
    want_docs = N_BASE + N_NEW * n_writes_done
    recall = state["recall"]
    n_indexed, n_ids = spark.read.parquet(
        os.path.join(state["dir"], "ivf")).agg(
            F.count("*"), F.countDistinct("chunk_id")).first()
    chunks_per_s = n_chunks / state["warm_write_s"]
    queries_per_s = len(lat) / sum(lat)
    p_tail, pct = tail(lat)
    tail_row = [] if p_tail is None else [
        (f"query_p{pct:.0f}_ms", 1000 * p_tail, "ms", len(lat))]
    result.update({
        "checks": [
            ("one row per chunk_id", rows == distinct,
             f"{rows} rows, {distinct} chunk ids"),
            ("every record stored once", n_docs == want_docs,
             f"{n_docs} docs, want {want_docs}"),
            ("every chunk indexed once",
             n_indexed == n_ids == distinct,
             f"{n_indexed} index rows, {n_ids} ids, {distinct} chunks"),
        ],
        "report": [
            ("query_p50_ms", 1000 * median(lat), "ms", len(lat)),
            *tail_row,
            ("recall_at_10", recall, "ratio", N_RECALL_QUERIES),
            ("queries_per_s", queries_per_s, "1/s", len(lat)),
            ("write_s", state["warm_write_s"], "s", 1),
            ("upsert_chunks_per_s", chunks_per_s, "1/s", 1),
        ],
        "e2e": {"latency_p50_ms": 1000 * median(lat),
                "throughput_per_s": queries_per_s,
                "recall": recall},
    })
    return result

