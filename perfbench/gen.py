"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes parquet under a work directory; the same seed gives
byte-identical inputs.  Each returns a ``params`` dict (the traffic
parameters used) that the runner records next to an input fingerprint.
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
# the 31-word search vocabulary the ES text queries probe ("hash", "join",
# "vector", "dup", "query", "scan", ...)
SEARCH_WORDS = np.array(
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector".split())
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]
JAN_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000


def _ts(us):
    """epoch-µs int64 array → naive TIMESTAMP(µs) arrow array."""
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def zipf_keys(rng, n, universe, s):
    """`n` draws from {0..universe-1} with P(k) ∝ (k+1)^-s."""
    w = 1.0 / np.arange(1, universe + 1, dtype=np.float64) ** s
    return rng.choice(universe, size=n, p=w / w.sum())


# --------------------------------------------------------------- river_ingest

RIVER_PARAMS = dict(key_skew=1.1, new_key_share=0.2, late_share=0.1,
                    slice_minutes=60, initial_keys=4000)


def river_slice(rng, idx, n, state, p=RIVER_PARAMS):
    """One landed slice of `n` change events for the river.

    Keys (``user_id``) follow a Zipf law over the keys seen so far;
    ``new_key_share`` of each slice introduces fresh keys, so the index
    grows.  Timestamps fall in the slice's own window but ``late_share``
    of them are shuffled, so a slice is partly out of order.  ``state``
    carries the next event id and the key-space size across slices."""
    n_new = int(n * p["new_key_share"])
    old = zipf_keys(rng, n - n_new, state["keys"], p["key_skew"])
    new = state["keys"] + np.arange(n_new)
    state["keys"] += n_new
    keys = np.concatenate([old, new])
    rng.shuffle(keys)
    base = JAN_2024_US + idx * p["slice_minutes"] * 60_000_000
    ts = np.sort(base + rng.integers(0, p["slice_minutes"] * 60_000_000, n))
    late = rng.random(n) < p["late_share"]
    ts[late] = rng.permutation(ts[late])
    ev = state["next_id"] + np.arange(n, dtype=np.int64)
    state["next_id"] += n
    return pa.table({
        "event_id": pa.array(ev, pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(keys.astype(np.int64), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def river_state():
    return {"keys": RIVER_PARAMS["initial_keys"], "next_id": 0}


# --------------------------------------------------------------- es_query_mix

def es_tables(rng, out_dir, sf):
    """The four tables the ES query mix reads, on the schema and value
    domains the library's query registry targets (TPC-H-ish lineitem,
    January-2024 events over 150 users, 31-word documents, unit 64-d
    embeddings).  Row counts scale with `sf` (sf=0.1 → 100k events)."""
    n_ev = int(1_000_000 * sf)
    ts = np.sort(JAN_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(np.minimum(rng.gamma(2.0, 25.0, n_ev), 490) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out_dir}/events.parquet")

    n_li = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_li), 2)
    day0 = int(_dt.datetime(1995, 1, 2, tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000
    ship = day0 + rng.integers(0, 2498, n_li) * DAY_US
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_li // 4, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(n_li // 30, 1), n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(n_li // 600, 1), n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(ship),
    }), f"{out_dir}/lineitem.parquet")

    n_doc = int(50_000 * sf)
    lens = rng.integers(10, 100, n_doc)
    words = SEARCH_WORDS[rng.integers(0, len(SEARCH_WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")

    emb = rng.standard_normal((n_doc, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(_emb_table(emb, rng.integers(0, 10, n_doc)), f"{out_dir}/embeddings.parquet")
    return {"sf": sf, "events": n_ev, "lineitem": n_li, "documents": n_doc}


def _emb_table(emb, labels):
    n, d = emb.shape
    flat = pa.array(emb.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
    })


def query_sequence(rng, weights, n_passes):
    """`n_passes` passes, each a seeded shuffle of the weighted multiset
    (query q appears weights[q] times per pass): every pass carries the
    same mix, so per-pass latency quantiles do not depend on the luck of
    the draw, while the order (and with it cache state) changes."""
    bag = [q for q, w in sorted(weights.items()) for _ in range(w)]
    return [list(rng.permutation(bag)) for _ in range(n_passes)]


# ------------------------------------------------------------- corpus_release

CORPUS_PARAMS = dict(vocab=3000, word_skew=0.9, stop_share=0.12,
                     bench_share=0.04, exact_dup_rate=0.06, near_dup_rate=0.06,
                     para_dup_rate=0.05, contam_rate=0.03, pii_rate=0.10,
                     low_quality_rate=0.04, sem_sep_cos=0.40, dim=64)


def _vocab(rng, n):
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "pe", "so", "vi", "da",
                    "gu", "ha", "ze", "bo", "fi", "we", "xo", "ly", "qu", "jo"])
    out, seen = [], set(STOPWORDS)
    while len(out) < n:
        w = "".join(syl[rng.integers(0, len(syl), rng.integers(2, 4))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def _packed_unit(rng, accepted, n_acc, sep, proposal):
    """Rejection sampling: a unit vector from `proposal()` whose cosine
    with every accepted vector stays below `sep`."""
    while True:
        v = proposal()
        v /= np.linalg.norm(v)
        if n_acc == 0 or float(np.max(accepted[:n_acc] @ v)) < sep:
            return v


def corpus(rng, out_dir, n_docs, p=CORPUS_PARAMS):
    """Documents + aligned 64-d embeddings for the release pipeline.

    Plants, in seeded positions: exact duplicates (verbatim copies),
    token-mutated near duplicates (1 token in 60 replaced, so 3-shingle
    Jaccard stays above 0.85), embedding-space paraphrases (fresh text,
    embedding a small perturbation of the original's), contamination
    (a 12-token span of a benchmark-source doc inside a corpus doc), PII
    (email / phone / id-shaped strings) and low-quality short docs.
    Embeddings of unrelated docs are rejection-sampled to cosine below
    ``sem_sep_cos``; a planted family stays above 0.9, so the semantic
    near-dup stage has one right answer.  Returns params and the planted
    id sets the correctness check needs."""
    vocab = _vocab(rng, p["vocab"])
    wp = 1.0 / np.arange(1, len(vocab) + 1) ** p["word_skew"]
    wp /= wp.sum()

    def fresh(n_tok):
        toks = vocab[rng.choice(len(vocab), n_tok, p=wp)].astype(object)
        stop = rng.random(n_tok) < p["stop_share"]
        toks[stop] = np.array(STOPWORDS)[rng.integers(0, 10, int(stop.sum()))]
        return list(toks)

    d = p["dim"]
    emb = np.zeros((n_docs, d))
    fam_of = np.full(n_docs, -1)
    texts, sources = [], []
    planted = {"exact": [], "near": [], "para": [], "contam": [], "bench": []}
    n_bench = max(2, int(n_docs * p["bench_share"]))
    kinds = rng.random(n_docs)
    thresholds = np.cumsum([p["exact_dup_rate"], p["near_dup_rate"],
                            p["para_dup_rate"], p["contam_rate"], p["low_quality_rate"]])
    bench_ids = set(rng.choice(np.arange(n_docs // 4, n_docs), n_bench, replace=False).tolist())
    bench_texts, originals = [], []
    for i in range(n_docs):
        src = f"src{rng.integers(2, 20)}"
        kind = np.searchsorted(thresholds, kinds[i], side="right") if i >= 20 else 5
        # duplicates copy an original, never another copy: every family
        # is a star around its smallest id, so the clustering loop needs
        # the same few rounds whatever the seed
        base = originals[int(rng.integers(0, len(originals)))] if originals else 0
        if i in bench_ids:
            src, toks, fam = f"src{i % 2}", fresh(int(rng.integers(60, 140))), None
            planted["bench"].append(i)
        elif kind == 0:  # exact duplicate
            toks, fam = texts[base].split(" "), fam_of[base]
            planted["exact"].append(i)
        elif kind == 1 and len(texts[base].split(" ")) >= 50:  # near duplicate
            toks = texts[base].split(" ")
            for j in rng.choice(len(toks), max(1, len(toks) // 60), replace=False):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            fam = fam_of[base]
            planted["near"].append(i)
        elif kind == 2:  # paraphrase: new words, same meaning
            toks, fam = fresh(int(rng.integers(50, 160))), fam_of[base]
            planted["para"].append(i)
        elif kind == 3 and bench_texts:  # contaminated with a benchmark span
            toks = fresh(int(rng.integers(60, 140)))
            bt = bench_texts[int(rng.integers(0, len(bench_texts)))]
            at, frm = int(rng.integers(0, len(toks))), int(rng.integers(0, len(bt) - 12))
            toks[at:at] = bt[frm:frm + 12]
            fam = None
            planted["contam"].append(i)
        elif kind == 4:  # low quality: short, no stop words, punctuation
            toks = [t + "!" for t in vocab[rng.integers(0, len(vocab), rng.integers(3, 12))]]
            fam = None
        else:
            toks, fam = fresh(int(rng.integers(40, 160))), None
        if rng.random() < p["pii_rate"] and kind != 0:
            toks += [["mail", f"u{i}@corp{i % 9}.org"], ["ring", f"{200 + i % 700}-555-{1000 + i % 9000}"],
                     ["id", f"{100 + i % 800}-{10 + i % 80}-{1000 + i % 9000}"]][i % 3]
        if fam is None or fam < 0:
            fam_of[i] = i
            if i not in bench_ids and kind not in (3, 4):
                originals.append(i)
            emb[i] = _packed_unit(rng, emb, i, p["sem_sep_cos"], lambda: rng.standard_normal(d))
        else:
            fam_of[i] = fam
            others = np.flatnonzero(fam_of[:i] != fam)
            anchor = emb[fam]
            while True:
                v = anchor + 0.15 * rng.standard_normal(d) / np.sqrt(d)
                v /= np.linalg.norm(v)
                if others.size == 0 or float(np.max(emb[others] @ v)) < p["sem_sep_cos"]:
                    break
            emb[i] = v
        texts.append(" ".join(toks))
        sources.append(src)
        if i in bench_ids:
            bench_texts.append(toks)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array(sources),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")
    _write(_emb_table(emb, rng.integers(0, 10, n_docs)), f"{out_dir}/embeddings.parquet")
    params = dict(p, n_docs=n_docs, bench_sources=["src0", "src1"])
    return params, planted


# ---------------------------------------------------------------- fingerprint

def fingerprint(paths):
    """(rows, order-independent hash) over parquet files: the sum mod 2^64
    of DuckDB's per-row hash, so row order and file layout do not
    matter."""
    import duckdb
    rows, acc = 0, 0
    for path in sorted(paths):
        n, h = duckdb.sql(f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0)"
                          f" FROM read_parquet('{path}') t").fetchone()
        rows, acc = rows + int(n), (acc + int(h)) % (1 << 64)
    return {"rows": rows, "hash": f"{acc:016x}"}
