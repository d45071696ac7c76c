"""Seeded input generation for the benchmark.

Everything a run feeds the program is made here from `--seed`, so the same
seed gives byte-identical inputs:

- the serving corpus of 10,000 workout-like documents that `cache_loop`
  indexes, and the answers cached before the run starts;
- the `cache_loop` request streams, one per client: near-copies of corpus
  documents (cache hits), novel texts (misses, written back) and re-sends
  of a client's own recent novel texts (hits on the written-back entry);
- the `batch` tables, shaped like the engine's TPC-H/documents/embeddings
  test data, at a fixed small scale; their documents are the same for
  every seed (see BATCH_DOCS_SEED).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 10_000
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
CACHE_STREAM = 4000        # requests per client stream; cycled if exhausted
CACHE_FIRST_RESEND = 64    # no re-send before this position (see cache_stream)
RESEND_GAP = (4, 48)       # a re-send repeats its own novel text this far back
CACHE_SIZE = 512           # written-back answers the cache keeps (FIFO)
N_PROBES = 200             # novel texts kept for the verification phase

_SYL_A = ["ba", "ke", "lo", "mi", "nu", "pa", "ri", "so", "ta", "ve", "zu",
          "do", "fi", "ga", "hu", "ja"]
_SYL_B = ["qo", "xe", "wy", "qi", "xu", "wo", "qa", "xy", "we", "qe", "xo",
          "wa", "qu", "xi", "wu", "qy"]


def _words(syllables, n, rng):
    """`n` distinct pseudo-words of 2-4 syllables drawn from `syllables`."""
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(syllables, size=rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# Fixed vocabularies (independent of the run seed): corpus words and a
# disjoint "novel" vocabulary whose syllables never occur in corpus words,
# so a novel text shares no token with any corpus document.
BASE_VOCAB = _words(_SYL_A, 3000, np.random.default_rng(7))
NOVEL_VOCAB = _words(_SYL_B, 20000, np.random.default_rng(11))
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, len(BASE_VOCAB) + 1) ** 0.8)
_ZIPF_CDF /= _ZIPF_CDF[-1]


def _zipf_words(rng, n):
    """`n` corpus words drawn Zipf-skewed (rank exponent 0.8)."""
    idx = np.minimum(np.searchsorted(_ZIPF_CDF, rng.random(n)), len(BASE_VOCAB) - 1)
    return [BASE_VOCAB[i] for i in idx]


def corpus(rng, n=N_DOCS):
    """Serving corpus as columns: doc_id, text."""
    texts = [" ".join(_zipf_words(rng, m)) for m in rng.integers(15, 61, size=n)]
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts}


def near_copy(text, rng):
    """The text with ~10% of its words (at least one) replaced."""
    words = text.split()
    for i in rng.choice(len(words), size=max(1, len(words) // 10), replace=False):
        words[i] = BASE_VOCAB[rng.integers(0, len(BASE_VOCAB))]
    return " ".join(words)


def novel_text(rng):
    return " ".join(NOVEL_VOCAB[i] for i in rng.integers(0, len(NOVEL_VOCAB), size=rng.integers(15, 41)))


def cache_stream(rng, docs, n=CACHE_STREAM):
    """One client's request stream. Half are novel texts (misses); of the
    other half 4/5 are near-copies of corpus documents drawn Zipf-skewed
    (hits) and 1/5 re-send the client's own novel text from a few requests
    back (hits on its written-back entry). Re-sends start at position
    CACHE_FIRST_RESEND so that, when the stream is cycled, each one refers
    to a text sent earlier in the same cycle."""
    rank = rng.permutation(len(docs["text"]))
    cdf = np.cumsum(1.0 / np.arange(1, len(rank) + 1) ** 1.1)
    cdf /= cdf[-1]
    out = []
    for i in range(n):
        u = rng.random()
        if u < 0.5:
            out.append({"kind": "novel", "text": novel_text(rng)})
            continue
        novel_back = [j for j in range(max(0, i - RESEND_GAP[1]), i - RESEND_GAP[0] + 1)
                      if out[j]["kind"] == "novel"]
        if u < 0.6 and i >= CACHE_FIRST_RESEND and novel_back:
            j = novel_back[rng.integers(0, len(novel_back))]
            out.append({"kind": "resend", "text": out[j]["text"], "ref": j})
        else:
            d = int(rank[min(np.searchsorted(cdf, rng.random()), len(rank) - 1)])
            out.append({"kind": "near", "text": near_copy(docs["text"][d], rng), "ref": d})
    return out


# ---- batch tables: the engine's test-data shapes at a fixed small scale ----
BATCH_ROWS = {"documents": 500, "embeddings": 500, "orders": 5_000,
              "lineitem": 20_000, "customer": 1_500}
# the test data's 30 words, plus filler words so that unrelated documents
# rarely reach the 0.9 Jaccard of the near-duplicate queries
_DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
              "filter", "small", "slow", "merge", "order", "vector", "line",
              "table", "data", "agg", "value", "key", "stream", "window", "a",
              "spark", "part", "group", "big", "sort", "query", "fast", "the"]
_DOC_VOCAB = _DOC_WORDS + [f"w{i}" for i in range(170)]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131 * _DAY_US


def _ts(days):
    return pa.array(_EPOCH_1995 + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


# The documents of the batch tables do not depend on the run seed: how many
# pairs the near-duplicate queries find, and so how many rounds their graph
# loop runs, is set by the text, and a seed-dependent loop count would make
# pass time differ between seeds. The other tables are drawn from the seed.
BATCH_DOCS_SEED = 5


def batch_tables(rng):
    n = BATCH_ROWS
    doc_rng = np.random.default_rng(BATCH_DOCS_SEED)
    texts = []
    for _ in range(n["documents"]):
        words = list(doc_rng.choice(_DOC_VOCAB, size=doc_rng.integers(10, 100)))
        if doc_rng.random() < 0.05:
            words.insert(int(doc_rng.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    # near-duplicate clusters of two or three documents: exact copies, and
    # copies with one extra word appended
    for c in range(40):
        src = texts[c]
        for j in range(1, 2 + c % 2):
            texts[-(3 * c + j)] = src if j == 1 else src + " " + src.split()[0]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in doc_rng.choice(len(LANGS), size=n["documents"], p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n["embeddings"]), pa.int32()),
    })
    no, nc = n["orders"], n["customer"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, size=no), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], size=no)),
        "o_totalprice": _cents(rng, 1000, 500000, no),
        "o_orderdate": _ts(rng.integers(0, 2400, size=no)),
        "o_orderpriority": list(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], size=no)),
    })
    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, size=nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, size=nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, size=nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], size=nl)),
        "l_linestatus": list(rng.choice(["F", "O"], size=nl)),
        "l_shipdate": _ts(rng.integers(0, 2500, size=nl)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc), pa.int32()),
        "c_acctbal": _cents(rng, -999, 9999, nc),
        "c_mktsegment": list(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY"], size=nc)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    return {"documents": docs, "embeddings": emb, "orders": orders,
            "lineitem": lineitem, "customer": customer, "nation": nation,
            "region": region}


def write_inputs(workload, seed, out_dir, clients):
    """Write the workload's inputs under `out_dir`; returns what the
    reference checks need (the corpus columns and the cache size)."""
    rng = np.random.default_rng(seed)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "batch":
        for name, t in batch_tables(rng).items():
            pq.write_table(t, os.path.join(data, f"{name}.parquet"))
        return {}
    docs = corpus(rng)
    pq.write_table(pa.table(docs), os.path.join(data, "documents.parquet"))
    reqs = [cache_stream(rng, docs) for _ in range(clients)]
    lines = [json.dumps({"client": c, **r}, separators=(",", ":"))
             for c, stream in enumerate(reqs) for r in stream]
    for name, n in (("prefill.txt", CACHE_SIZE), ("probes.txt", N_PROBES)):
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(novel_text(rng) for _ in range(n)) + "\n")
    with open(os.path.join(out_dir, "requests.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"docs": docs, "cache_size": CACHE_SIZE}
