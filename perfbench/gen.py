"""Seeded input generator for the benchmark workloads.

Every table is synthesized from ``--seed`` in the shape of the project's
sf0.1 test tables (same column names, parquet types and value ranges), so
the program under test only ever receives the generated parquet. The seed
picks everything that varies: per-copy text transforms, user and key
shifts, changelog keys and lookup keys with their skew.

The shapes were measured on sf0.1 (5000 documents, 100000 events) and are
reproduced here:

- documents: 30 words, each drawn uniformly (every word 8829-9182 times);
  10..100 words per document, uniform (mean 54.1, quartiles 32/54/76);
  language shares en 2059, zh 753, es 744, fr 742, de 702 of 5000, and
  every language uses the same English words (no non-Latin script);
  ``source`` is ``src{doc_id % 20}`` (250 documents each);
  ``n_chars`` is the text's length. Planted duplicates: 250 documents
  (5%) are an earlier-drawn document with the marker word ``dup``
  appended (243 of them exactly one ``dup``, the rest a chain of two or
  three), and 8 texts (0.16%) are exact copies of another document.
- events: ``ts`` uniform over 30 days from 2024-01-01 and increasing with
  ``event_id``; five event types in equal shares; ``value`` exponential
  with mean 50 (median 34.77); ``props`` is ``{"k": n}`` with n in
  0..99; every user has 56..99 events (1500 users).

Text copies follow ScaleUp's affine-map idea: copy ``c`` rewrites every
word index ``w`` of a base document to ``(a_c * w + b_c) mod V``, so copies
of one base corpus are not near-duplicates of each other, while the
near-duplicates planted inside each copy stay near-duplicates.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DUP_MARKER = "dup"
# multipliers a with gcd(a, 30) == 1: the affine word map is a bijection
UNITS = [a for a in range(1, len(VOCAB)) if np.gcd(a, len(VOCAB)) == 1]
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([2059, 753, 744, 742, 702]) / 5000
NEAR_DUP_SHARE = 250 / 5000
EXACT_DUP_SHARE = 8 / 5000
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
US_PER_DAY = 86400 * 1000000
EPOCH_2024 = 1704067200 * 1000000  # 2024-01-01T00:00:00Z in micros

# Sizes per workload at scale 1.0. The benchmark runs at scale 1.0; the
# benchmark's own tests shrink everything with a small scale.
SIZES = {
    "corpus_build": {"docs": 2500, "copies": 2, "check_docs": 25},
    "table_serve": {"docs": 5000, "rounds": 40, "batch": 60,
                    "lookups_per_round": 4, "ids_per_lookup": 24},
    "event_stream": {"events": 60000, "users": 6000},
}


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _word_lists(rng, n):
    """n documents of 10..100 word indices into VOCAB."""
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    return [list(w) for w in np.split(idx, np.cumsum(lens)[:-1])]


def _texts(rng, n):
    words = np.array(VOCAB)
    return [" ".join(words[w]) for w in _word_lists(rng, n)]


def _plant_dups(rng, docs, near_share=NEAR_DUP_SHARE, exact_share=EXACT_DUP_SHARE):
    """Overwrite a seeded share of docs with near copies of others (the
    marker appended, as in sf0.1; a copy of a near copy gets a second
    marker) and a smaller share with exact copies. -1 is the marker.
    """
    n = len(docs)
    for i in rng.choice(n, int(round(n * near_share)), replace=False):
        docs[i] = docs[int(rng.integers(0, n))] + [-1]
    for i in rng.choice(n, max(1, int(round(n * exact_share))), replace=False):
        docs[i] = list(docs[int(rng.integers(0, n))])
    return docs


def documents(rng, n_base, copies, near_share=NEAR_DUP_SHARE):
    """A base corpus and ``copies - 1`` affine-mapped copies of it."""
    base = _plant_dups(rng, _word_lists(rng, n_base), near_share)
    V = len(VOCAB)
    ids, texts, langs, sources = [], [], [], []
    for c in range(copies):
        a = 1 if c == 0 else int(rng.choice(UNITS))
        b = 0 if c == 0 else int(rng.integers(0, V))
        words = [VOCAB[(a * w + b) % V] for w in range(V)] + [DUP_MARKER]
        shift = int(rng.integers(0, 20))
        first = c * n_base
        ids.extend(range(first, first + n_base))
        texts.extend(" ".join(words[w] for w in doc) for doc in base)
        langs.extend(rng.choice(LANGS, n_base, p=LANG_P))
        sources.extend(f"src{(i + shift) % 20}" for i in range(first, first + n_base))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng, n, users, user_shift=0):
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + EPOCH_2024
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array((rng.integers(0, users, n) + user_shift) % users,
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _sized(workload, scale):
    # the corpus copies and the check corpus keep their size at any scale:
    # a much smaller check corpus leaves the build with no output to check
    return {k: max(1, int(round(v * scale))) if k not in ("copies", "check_docs") else v
            for k, v in SIZES[workload].items()}


def gen_corpus_build(rng, out, s):
    """The build corpus, plus a small check corpus with a denser share of
    planted duplicates: the p14 DuckDB oracle is far too slow for the
    build corpus, so the (untimed) warm-up build runs on the check corpus
    and its landed output is compared with the oracle.
    """
    docs = documents(rng, s["docs"], s["copies"])
    small = documents(rng, s["check_docs"], s["copies"], near_share=0.15)
    return {"documents": _write(docs, f"{out}/documents.parquet"),
            "check/documents": _write(small, f"{out}/check/documents.parquet")}


def gen_table_serve(rng, out, s):
    """Base document table, a changelog of fixed-size CDC batches, and the
    lookup id sets issued after each batch. Lookup ids are skewed: half of
    each set comes from the ids the latest batch touched.
    """
    docs = documents(rng, s["docs"], 1)
    meta = {"documents": _write(docs, f"{out}/documents.parquet")}
    n = s["docs"]
    langs = docs.column("lang").to_numpy(zero_copy_only=False)
    rows = {"batch": [], "doc_id": [], "lang": [], "seq": [], "op": [], "new_text": []}
    look = {"round": [], "lookup": [], "doc_id": []}
    next_new = n  # inserts get fresh ids above the base corpus
    seq = 1
    for r in range(s["rounds"]):
        ids = rng.integers(0, n, s["batch"])
        ops = rng.choice(np.array(["upsert", "delete", "insert"]), s["batch"],
                         p=[0.75, 0.15, 0.10])
        texts = _texts(rng, s["batch"])
        touched = []
        for i, op in enumerate(ops):
            if op == "insert":
                did, lang, op = next_new, str(rng.choice(LANGS, p=LANG_P)), "upsert"
                next_new += 1
            else:
                did, lang = int(ids[i]), str(langs[ids[i]])
            rows["batch"].append(r)
            rows["doc_id"].append(did)
            rows["lang"].append(lang)
            rows["seq"].append(seq)
            rows["op"].append(op)
            rows["new_text"].append(texts[i] if op == "upsert" else None)
            touched.append(did)
            seq += 1
        for j in range(s["lookups_per_round"]):
            k = s["ids_per_lookup"]
            hot = rng.choice(np.array(touched), k // 2)
            cold = rng.integers(0, next_new, k - k // 2)
            for did in np.concatenate([hot, cold]):
                look["round"].append(r)
                look["lookup"].append(j)
                look["doc_id"].append(int(did))
    meta["changes"] = _write(pa.table({
        "batch": pa.array(rows["batch"], pa.int32()),
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "lang": pa.array(rows["lang"], pa.string()),
        "seq": pa.array(rows["seq"], pa.int64()),
        "op": pa.array(rows["op"], pa.string()),
        "new_text": pa.array(rows["new_text"], pa.string()),
    }), f"{out}/changes.parquet")
    meta["lookups"] = _write(pa.table({
        "round": pa.array(look["round"], pa.int32()),
        "lookup": pa.array(look["lookup"], pa.int32()),
        "doc_id": pa.array(look["doc_id"], pa.int64()),
    }), f"{out}/lookups.parquet")
    return meta


def gen_event_stream(rng, out, s):
    shift = int(rng.integers(0, s["users"]))
    ev = events(rng, s["events"], s["users"], user_shift=shift)
    return {"events": _write(ev, f"{out}/events.parquet")}


def generate(workload, seed, out, scale=1.0):
    """Write the workload's tables under ``out``; return rows/bytes per table."""
    os.makedirs(out, exist_ok=True)
    salt = sorted(SIZES).index(workload)
    meta = globals()[f"gen_{workload}"](_rng(seed, salt), out,
                                         _sized(workload, scale))
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(meta, f)
    return meta
