"""Seeded inputs for the llm_curation and stream_ingest workloads.

- `tables()` writes the documents table the heavy queries read, as JSON
  lines the harness stages to parquet. Its content is fixed (DATA_SEED)
  so the registry queries' result fingerprints can be pinned. It has the
  shape of the sf0.1 test documents: the same 30-word vocabulary, 10-100
  tokens a document and the same language mix.
- `stream()` cuts a seeded document stream into micro-batches with known
  exact- and near-duplicate shares, and returns the outcomes the
  streaming stores must produce: per-document exact-duplicate flags and
  the final cardinality of both indexes.
"""

import json
import os
import random

DATA_SEED = 42
VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en"] * 8 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3 + ["zh"] * 3
SPAN_N = 8  # the l78 / RestartDriver span width


def _words(rng, lo, hi):
    return [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]


def documents(rng, n):
    """n documents: ~3% exact copies of an earlier document and ~10%
    carrying a 12-40 token span copied from one, so the dedup and
    containment operators have work to find."""
    docs = []
    for i in range(n):
        r = rng.random()
        if docs and r < 0.03:
            text = rng.choice(docs)["text"]
        else:
            toks = _words(rng, 10, 99)
            if docs and r < 0.13:
                src = rng.choice(docs)["text"].split(" ")
                k = min(len(src), rng.randint(12, 40))
                at = rng.randint(0, len(src) - k)
                pos = rng.randint(0, len(toks))
                toks[pos:pos] = src[at:at + k]
            text = " ".join(toks)
        docs.append({"doc_id": i, "text": text, "lang": rng.choice(LANGS),
                     "source": f"src{rng.randrange(20)}",
                     "n_chars": len(text)})
    return docs


def tables(out_dir, n_docs):
    """Write the documents table as JSON lines; return its bytes."""
    rng = random.Random(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    data = "".join(json.dumps(r, sort_keys=True) + "\n"
                   for r in documents(rng, n_docs)).encode()
    with open(os.path.join(out_dir, "documents.jsonl"), "wb") as f:
        f.write(data)
    return len(data)


def _grams(text):
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i:i + SPAN_N])
            for i in range(len(toks) - SPAN_N + 1)}


def stream(seed, n_batches, batch_docs, exact_share, near_share):
    """Return (batches, expectations). Each batch is a list of
    {doc_id, text}; a document is an exact copy of one from an earlier
    batch with probability `exact_share`, a one-token edit of one with
    probability `near_share`, and fresh text otherwise."""
    rng = random.Random(seed)
    batches, earlier = [], []
    flags = {}
    seen_texts, grams = set(), set()
    doc_id = 0
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_docs):
            r = rng.random()
            if earlier and r < exact_share:
                text = rng.choice(earlier)
            elif earlier and r < exact_share + near_share:
                toks = rng.choice(earlier).split(" ")
                i = rng.randrange(len(toks))
                toks[i] = rng.choice([w for w in VOCAB if w != toks[i]])
                text = " ".join(toks)
            else:
                text = " ".join(_words(rng, 20, 60))
            batch.append({"doc_id": doc_id, "text": text})
            doc_id += 1
        # flags are decided at arrival, against earlier batches only
        for d in batch:
            flags[d["doc_id"]] = int(d["text"] in seen_texts)
        for d in batch:
            seen_texts.add(d["text"])
            grams |= _grams(d["text"])
        earlier.extend(d["text"] for d in batch)
        batches.append(batch)
    expectations = {"flags": flags,
                    "dedup_index_rows": len(seen_texts),
                    "span_index_rows": len(grams)}
    return batches, expectations


def write_stream(path, batches):
    """One JSON line per document, with its batch number; return the
    input bytes (document text)."""
    with open(path, "w") as f:
        for b, batch in enumerate(batches):
            for d in batch:
                f.write(json.dumps({"batch": b, **d}) + "\n")
    return sum(len(d["text"].encode()) for batch in batches for d in batch)
