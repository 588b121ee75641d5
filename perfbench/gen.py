"""Seeded input generators, one per workload.

Each generator is a pure function of the seed: the same seed gives
byte-identical inputs. Outputs are cached on disk under
``<cache>/<workload>-s<seed>-<generator hash>/`` and reused while the
``.done`` marker exists. Every generator returns a dict of the input's properties
(bytes, files, rows, vocabulary, near-duplicate share), which run.py
prints and stores next to the data.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _word(n):
    """Bijective base-26: every positive integer gets a distinct word."""
    out = []
    while n > 0:
        n -= 1
        out.append(ALPHA[n % 26])
        n //= 26
    return "".join(reversed(out))


def _zipf_probs(v, s):
    p = 1.0 / np.arange(1, v + 1, dtype=np.float64) ** s
    return p / p.sum()


def _dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _write_parts(table, out_dir, n_files):
    """One logical table as ``n_files`` parquet files in one directory."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _documents(texts):
    """A ``documents`` table (the engine's corpus schema) over ``texts``."""
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{j}" for j in np.arange(n) % 20]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


# cached inputs are keyed by this file's content too, so a changed
# generator never serves inputs it would no longer make
_VERSION = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:10]


def _cached(cache, key, build):
    out = os.path.join(cache, f"{key}-{_VERSION}")
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f), True
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    props = build(out)
    with open(done, "w") as f:
        json.dump(props, f, sort_keys=True)
    return out, props, False


# ---------------------------------------------------------------- wordcount

# 400 files, 2 M words (about 11 MB of text); Zipf(0.8) over 300 k words
# makes about 270 k of them appear
WC_FILES, WC_WORDS_PER_FILE, WC_VOCAB, WC_ZIPF = 400, 5000, 300_000, 0.8
WC_PARQUET_FILES = 16


def wordcount(seed, cache):
    """A directory of ``.txt`` files with Zipf word frequencies over a
    vocabulary of distinct alpha words, plus the same text as multi-file
    parquet (``pq/documents.parquet/``, one row per file)."""
    def build(out):
        rng = np.random.default_rng([seed, 1])
        vocab = np.array([_word(int(r)) for r in rng.permutation(WC_VOCAB) + 27], dtype=object)
        n = WC_FILES * WC_WORDS_PER_FILE
        idx = rng.choice(WC_VOCAB, size=n, p=_zipf_probs(WC_VOCAB, WC_ZIPF))
        # upper-case some tokens and add punctuation/digits, so the
        # tokenizer's lower-casing and alpha-run split both matter
        words = vocab[idx]
        caps = np.flatnonzero(rng.random(n) < 0.05)
        words[caps] = [w.capitalize() for w in words[caps]]
        words += rng.choice(np.array(["", "", "", "", ",", ".", ";", " 42"], dtype=object), size=n)
        txt = os.path.join(out, "txt")
        os.makedirs(txt)
        texts = []
        lens = rng.integers(WC_WORDS_PER_FILE // 2, WC_WORDS_PER_FILE * 3 // 2, size=WC_FILES)
        bounds = np.concatenate([[0], np.cumsum(lens)])
        bounds = (bounds * n // bounds[-1]).astype(np.int64)
        for i in range(WC_FILES):
            text = " ".join(words[bounds[i]:bounds[i + 1]])
            texts.append(text)
            with open(os.path.join(txt, f"doc{i:05d}.txt"), "w") as f:
                f.write(text)
        _write_parts(_documents(texts), os.path.join(out, "pq", "documents.parquet"), WC_PARQUET_FILES)
        return {
            "txt_bytes": _dir_bytes(txt),
            "parquet_bytes": _dir_bytes(os.path.join(out, "pq")),
            "files": WC_FILES,
            "parquet_files": WC_PARQUET_FILES,
            "rows": WC_FILES,
            "words": n,
            "vocabulary": int(np.count_nonzero(np.bincount(idx, minlength=WC_VOCAB))),
            "near_dup_share": 0.0,
            "hot_passage_share": 0.0,
        }

    return _cached(cache, f"wordcount-s{seed}", build)


# ---------------------------------------------------------------- query_mix

# row counts of the reference testdata's sf0.01; value domains follow it
# too (uniform keys, TPC-H-like categorical columns)
QUERY_MIX_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
                      lineitem=60000, events=10000, documents=500, embeddings=500)
DOC_COPIES = 5
DOC_VOCAB = ("a the data spark scan filter join group agg sort order key value "
             "row column table hash merge window stream batch query vector "
             "fast slow big small part line customer").split()
P_ADJ = "blue cold hot red small new large green".split()
P_NOUN = "ring plate gear rod bolt anvil widget pipe".split()
# the corpus of traced runs' dedup probes (``probe/documents.parquet``): a
# tenth of its documents carry one fixed boilerplate passage among 5-20
# words of their own, so in most LSH bands over half of them share a
# bucket, and some of these buckets exceed Dedup.BucketCap (64)
PROBE_DOCS, PROBE_HOT_SHARE, PROBE_PASSAGE_WORDS = 1200, 0.1, 100


def _probe_corpus(rng, out):
    vocab = np.array([_word(k) for k in range(27, 27 + 5000)])
    passage = " ".join(np.random.default_rng(0).choice(vocab, PROBE_PASSAGE_WORDS))
    hot = set(rng.choice(PROBE_DOCS, int(PROBE_DOCS * PROBE_HOT_SHARE), replace=False).tolist())
    texts = []
    for i in range(PROBE_DOCS):
        if i in hot:
            own = rng.choice(vocab, int(rng.integers(5, 21)))
            k = int(rng.integers(0, len(own) + 1))
            texts.append(" ".join([*own[:k], passage, *own[k:]]))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(20, 121)))))
    os.makedirs(out)
    pq.write_table(_documents(texts), os.path.join(out, "documents.parquet"))
    return len(hot) / PROBE_DOCS


def query_mix(seed, cache):
    """The star schema + ``events``/``documents``/``embeddings`` tables, one
    parquet file per table (the reference testdata's single-file layout),
    drawn from the same value domains with unique keys."""
    cfg = QUERY_MIX_ROWS

    def build(out):
        rng = np.random.default_rng([seed, 3])
        day = np.datetime64("1995-01-01", "us")
        us_per_day = 86_400_000_000
        pq.write_table(pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }), os.path.join(out, "region.parquet"))
        pq.write_table(pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }), os.path.join(out, "nation.parquet"))
        nc = cfg["customer"]
        pq.write_table(pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
            "c_mktsegment": pa.array(rng.choice(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), nc)),
        }), os.path.join(out, "customer.parquet"))
        ns = cfg["supplier"]
        pq.write_table(pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
        }), os.path.join(out, "supplier.parquet"))
        np_ = cfg["part"]
        retail = np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)
        pq.write_table(pa.table({
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(P_ADJ, np_), rng.choice(P_NOUN, np_))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)]),
            "p_type": pa.array(rng.choice(np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), np_)),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(retail),
        }), os.path.join(out, "part.parquet"))
        no = cfg["orders"]
        pq.write_table(pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), no)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
            "o_orderdate": pa.array(day + rng.integers(0, 2405, no) * us_per_day),
            "o_orderpriority": pa.array(rng.choice(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), no)),
        }), os.path.join(out, "orders.parquet"))
        nl = cfg["lineitem"]
        pkey = rng.integers(0, np_, nl)
        qty = rng.integers(1, 51, nl).astype(np.float64)
        pq.write_table(pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(pkey.astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), nl)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), nl)),
            "l_shipdate": pa.array(day + rng.integers(1, 2500, nl) * us_per_day),
        }), os.path.join(out, "lineitem.parquet"))
        ne = cfg["events"]
        start = np.datetime64("2024-01-01", "us")
        ts = np.sort(rng.integers(0, 30 * us_per_day, ne))
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(start + ts),
            "user_id": pa.array(rng.integers(0, max(nc // 10, 10), ne).astype(np.int64)),
            "event_type": pa.array(rng.choice(np.array(
                ["click", "error", "purchase", "signup", "view"]), ne)),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }), os.path.join(out, "events.parquet"))
        nd = cfg["documents"]
        vocab = np.array(DOC_VOCAB)
        texts = [" ".join(rng.choice(vocab, int(rng.integers(10, 101)))) for _ in range(nd)]
        # a fixed number of exact copies of distinct earlier docs, so every
        # seed has the same duplicate-cluster structure for the dedup queries
        for k, src in enumerate(rng.choice(nd - DOC_COPIES, DOC_COPIES, replace=False)):
            texts[nd - 1 - k] = texts[src]
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(np.array(
                ["de", "en", "en", "en", "es", "fr", "zh"]), nd)),
            "source": pa.array([f"src{j}" for j in np.arange(nd) % 20]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }), os.path.join(out, "documents.parquet"))
        nv = cfg["embeddings"]
        emb = rng.standard_normal((nv, 64)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
        }), os.path.join(out, "embeddings.parquet"))
        rows = sum(pq.read_metadata(os.path.join(out, f)).num_rows
                   for f in os.listdir(out) if f.endswith(".parquet"))
        props = {
            "bytes": _dir_bytes(out),
            "files": sum(f.endswith(".parquet") for f in os.listdir(out)),
            "rows": rows,
            "vocabulary": len(DOC_VOCAB),
            "near_dup_share": round(1 - len(set(texts)) / nd, 4),
            "hot_passage_share": 0.0,
        }
        props["probe_rows"] = PROBE_DOCS
        props["probe_hot_passage_share"] = _probe_corpus(rng, os.path.join(out, "probe"))
        return props

    return _cached(cache, f"query_mix-s{seed}", build)


GENERATORS = {"wordcount": wordcount, "query_mix": query_mix}
