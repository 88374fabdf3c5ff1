"""Seeded input generator for the benchmark workloads.

Every input a workload feeds the program is made here from one seed
and written as files; the program only ever sees those files.  The
same seed gives byte-identical files (pyarrow writes with fixed
settings, JSON with sorted keys), which ``digest`` checks.

Ground truth is written next to the inputs as ``labels.json``: for
every planted document, what the program is expected to do with it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

#: English function words: they make quality_score and the language
#: gate accept clean text (textstats counts the first eight).
STOP = ["the", "and", "of", "to", "in", "is", "that", "with", "for",
        "as", "on", "by", "this", "from", "are", "was", "at", "it"]
#: syllables built from common English letter trigrams, so generated
#: words carry enough known trigrams for the language-ID evidence gate
_SYLLABLES = ["an", "ter", "in", "on", "at", "en", "es", "or", "te",
              "ti", "re", "st", "ar", "al", "ed", "nd", "ing", "ion",
              "ent", "con", "pro", "men", "ver", "ess", "her", "tha",
              "ble", "ous", "ate", "ive", "der", "com", "per", "ers"]
_GREEK = "αβγδεζηθικλμνξοπρστυφχψω"
#: punctuation that textstats.punct_ratio counts, so spam scores low
_SPAM = ["!!!", "???", "...", ";;;", "---", "!?!", "(((", ":::"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 2-3 syllables."""
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(_SYLLABLES)
                        for _ in range(rng.randint(2, 3))))
    return sorted(out)


def _sentence(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rng.choice(STOP) if rng.random() < 0.35 else rng.choice(vocab)
            for _ in range(n)]


def _text(words: list[str]) -> str:
    """Words joined into sentences of 12 words ending in a period."""
    parts = []
    for i in range(0, len(words), 12):
        parts.append(" ".join(words[i:i + 12]) + ".")
    return " ".join(parts)


def _shingles(text: str, k: int = 8) -> set[str]:
    """Character k-shingles after the whitespace normalization the
    MinHash operators apply."""
    norm = " ".join(text.split())
    return {norm[i:i + k] for i in range(max(1, len(norm) - k + 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _near_copy(rng: random.Random, words: list[str], vocab: list[str],
               lo: float = 0.85, hi: float = 0.95) -> tuple[str, float]:
    """A copy of ``words`` with a few words replaced, so its shingle
    Jaccard to the original lies in [lo, hi]."""
    base = _text(words)
    target = rng.uniform(lo, hi)
    best = None
    for n_edits in range(1, len(words)):
        w = list(words)
        for i in rng.sample(range(len(w)), n_edits):
            w[i] = rng.choice(vocab)
        t = _text(w)
        j = jaccard(base, t)
        if j < lo:
            break
        best = (t, j)
        if j <= target:
            break
    if best is None or best[0] == base:
        raise RuntimeError("could not plant a near-duplicate")
    return best


def _write_parquet(path: str, columns: dict, schema: pa.Schema) -> None:
    table = pa.table(columns, schema=schema)
    pq.write_table(table, path, compression="snappy",
                   use_dictionary=False, write_statistics=False)


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def curate_inputs(seed: int, out: str, n_docs: int, n_eval: int = 60,
                  name: str = "curate") -> dict:
    """Raw corpus with planted exact dups, near-dups, eval-set
    contamination, low-quality and off-language docs.

    Writes ``corpus.parquet`` (doc_id, text), ``eval.parquet`` (the
    decontamination reference) and ``labels.json``.  Labels:
    ``clean`` and ``keeper`` must survive; ``exact_dup``,
    ``contaminated``, ``low_quality`` and ``off_language`` must be
    removed; ``near_dup`` is counted toward ``dup_recall``.  In a
    duplicate family the lowest doc id is the keeper (both dedup
    stages keep the minimum id).  ``name`` keys the random stream, so
    another name gives an unrelated corpus."""
    rng = random.Random(f"{name}-{seed}")
    vocab = _vocab(rng, 4000)
    evals = [_text(_sentence(rng, vocab, 40)) for _ in range(n_eval)]
    n_exact = n_docs // 40
    n_near = n_docs // 20
    n_contam = n_docs // 40
    n_lowq = n_docs // 40
    n_offlang = n_docs // 40
    n_clean = n_docs - n_exact - n_near - n_contam - n_lowq - n_offlang
    docs: list[tuple[str, str]] = []   # (text, label)
    originals = []
    for _ in range(n_clean):
        words = _sentence(rng, vocab, rng.randint(90, 200))
        originals.append(words)
        docs.append((_text(words), "clean"))
    # each sampled source doc gets one planted copy
    pairs = []   # (source position, copy position, kind)
    for i, src in enumerate(rng.sample(range(n_clean), n_exact + n_near)):
        words = originals[src]
        if i < n_exact:
            text, kind = _text(words).replace(". ", ".  \n", 1), "exact_dup"
        else:
            text, kind = _near_copy(rng, words, vocab)[0], "near_dup"
        pairs.append((src, len(docs), kind))
        docs.append((text, kind))
    for _ in range(n_contam):
        words = _sentence(rng, vocab, rng.randint(90, 200))
        ev = rng.choice(evals).split()
        start = rng.randint(0, len(ev) - 16)
        at = rng.randint(0, len(words))
        words[at:at] = [w.strip(".").lower() for w in ev[start:start + 16]]
        docs.append((_text(words), "contaminated"))
    for i in range(n_lowq):
        if i % 2:
            line = " ".join(_sentence(rng, vocab, 8))
            text = "\n".join([line] * 12)
        else:
            text = " ".join(rng.choice(_SPAM) + str(rng.randint(0, 99999))
                            + rng.choice(_SPAM)
                            for _ in range(rng.randint(10, 16)))
        docs.append((text, "low_quality"))
    for _ in range(n_offlang):
        text = " ".join("".join(rng.choice(_GREEK)
                                for _ in range(rng.randint(3, 8)))
                        for _ in range(rng.randint(60, 120)))
        docs.append((text, "off_language"))
    order = list(range(len(docs)))
    rng.shuffle(order)
    ids = {pos: new_id for new_id, pos in enumerate(order)}
    labels = {ids[pos]: label for pos, (_, label) in enumerate(docs)}
    # of a source and its copy the lower id is the keeper, the other
    # the planted duplicate
    for src, copy, kind in pairs:
        keep, drop = sorted((src, copy), key=ids.get)
        labels[ids[keep]], labels[ids[drop]] = "keeper", kind
    by_id = sorted((ids[p], docs[p][0]) for p in range(len(docs)))
    _write_parquet(os.path.join(out, "corpus.parquet"),
                   {"doc_id": [i for i, _ in by_id],
                    "text": [t for _, t in by_id]}, DOC_SCHEMA)
    _write_parquet(os.path.join(out, "eval.parquet"),
                   {"doc_id": list(range(len(evals))), "text": evals},
                   DOC_SCHEMA)
    _write_json(os.path.join(out, "labels.json"),
                {str(k): v for k, v in sorted(labels.items())})
    return {"n_docs": len(docs), "labels": labels}


RECORD_SCHEMA = pa.schema([
    ("doi", pa.string()), ("title", pa.string()),
    ("journal", pa.string()), ("source", pa.string()),
    ("pmcid", pa.string()),
    ("sections", pa.list_(pa.struct([("section_path", pa.string()),
                                     ("text", pa.string())]))),
    ("abstract", pa.string()),
])
_SECTIONS = ("Introduction", "Methods", "Results")


def rag_inputs(seed: int, out: str, n_base: int, n_writes: int,
               n_new: int, n_reingest: int, n_queries: int,
               n_topics: int = 16) -> dict:
    """Full-text records (``FULLTEXT_RECORD`` shape) for the vector
    store, write deltas and query texts.

    Each record draws most of its words from one of ``n_topics``
    topic vocabularies, so nearest neighbours cluster the way real
    corpora do.  ``base.parquet`` seeds the store; ``write_<i>.parquet``
    holds ``n_new`` unseen records plus ``n_reingest`` records already
    in the store, re-ingested unchanged (an idempotent re-run: the
    upsert must replace, never duplicate).  ``queries.json`` holds
    ``n_queries`` 20-word snippets of stored records."""
    rng = random.Random(f"rag-{seed}")
    vocab = _vocab(rng, 4000)
    topics = [vocab[i::n_topics] for i in range(n_topics)]

    def record(i: int) -> dict:
        topic = topics[rng.randrange(n_topics)]
        sections = []
        for name in _SECTIONS:
            words = [rng.choice(topic) if rng.random() < 0.9
                     else rng.choice(STOP)
                     for _ in range(rng.randint(120, 260))]
            sections.append({"section_path": name, "text": _text(words)})
        return {"doi": f"10.5555/bench.{seed}.{i}",
                "title": f"Record {i}", "journal": "Bench Journal",
                "source": "pmc", "pmcid": f"PMC{seed}{i:07d}",
                "sections": sections,
                "abstract": sections[0]["text"][:200]}

    def write(path: str, recs: list[dict]) -> None:
        _write_parquet(path, {f.name: [r[f.name] for r in recs]
                              for f in RECORD_SCHEMA}, RECORD_SCHEMA)

    base = [record(i) for i in range(n_base)]
    write(os.path.join(out, "base.parquet"), base)
    seen = list(base)
    next_id = n_base
    for w in range(n_writes):
        new = [record(next_id + j) for j in range(n_new)]
        next_id += n_new
        again = rng.sample(seen, n_reingest)
        write(os.path.join(out, f"write_{w}.parquet"), new + again)
        seen.extend(new)
    queries = []
    for _ in range(n_queries):
        words = rng.choice(base)["sections"][rng.randrange(3)]["text"] \
            .replace(".", "").split()
        start = rng.randint(0, len(words) - 20)
        queries.append(" ".join(words[start:start + 20]))
    _write_json(os.path.join(out, "queries.json"), queries)
    return {"n_records": next_id, "queries": queries}


def stream_inputs(seed: int, out: str, n_index: int, n_files: int,
                  docs_per_file: int) -> dict:
    """Index corpus plus a schedule of stream files with planted
    near-duplicates.

    ``index.parquet`` is the corpus the persisted MinHash index is
    built from.  ``stage/f<i>.parquet`` are the stream files, dropped
    into the watched directory in order; doc ids rise with file order,
    so a planted copy always arrives after (and has a higher id than)
    the doc it copies.  A quarter of each file's docs are near-copies
    (shingle Jaccard 0.85-0.95): half of an index doc, half of a doc
    of an earlier file or earlier in the same file.  ``labels.json``
    maps every stream doc id to ``dup`` or ``unique``."""
    rng = random.Random(f"stream-{seed}")
    vocab = _vocab(rng, 4000)
    index = [_sentence(rng, vocab, rng.randint(90, 200))
             for _ in range(n_index)]
    _write_parquet(os.path.join(out, "index.parquet"),
                   {"doc_id": list(range(n_index)),
                    "text": [_text(w) for w in index]}, DOC_SCHEMA)
    os.makedirs(os.path.join(out, "stage"), exist_ok=True)
    labels = {}
    streamed: list[list[str]] = []
    next_id = n_index
    for f in range(n_files):
        ids, texts = [], []
        for j in range(docs_per_file):
            kind = rng.random()
            if kind < 0.125:
                text, _ = _near_copy(rng, rng.choice(index), vocab)
                label = "dup"
            elif kind < 0.25 and streamed:
                text, _ = _near_copy(rng, rng.choice(streamed), vocab)
                label = "dup"
            else:
                words = _sentence(rng, vocab, rng.randint(90, 200))
                streamed.append(words)
                text, label = _text(words), "unique"
            ids.append(next_id)
            texts.append(text)
            labels[next_id] = label
            next_id += 1
        _write_parquet(os.path.join(out, "stage", f"f{f:04d}.parquet"),
                       {"doc_id": ids, "text": texts}, DOC_SCHEMA)
    _write_json(os.path.join(out, "labels.json"),
                {str(k): v for k, v in sorted(labels.items())})
    return {"labels": labels}


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes),
    in sorted order: equal digests mean byte-identical inputs."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
