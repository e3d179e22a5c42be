"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed): numpy's PCG64 stream plus
a single-threaded pyarrow parquet writer, so the same seed gives
byte-identical files. The program only ever sees the parquet files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "fr", "zh", "de", "es"], dtype=object)
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]

# pipeline workloads: rows per commit and text shape (words per doc)
INGEST = {
    "bulk_ingest": dict(rows=120_000, sources=500, top_share=None, words=(20, 60)),
    "skewed_short": dict(rows=120_000, sources=500, top_share=0.6, words=(4, 12)),
}
# tail_resume: a base commit, then deltas of this many rows landed one at a time
TAIL = dict(base=10_000, delta=1_000, sources=200, words=(20, 60))
WARMUP_ROWS = 2_000


def _rng(seed, stream):
    # one independent stream per (seed, purpose): adding a table never
    # shifts the values of another
    key = int.from_bytes(hashlib.sha256(f"{seed}/{stream}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(key))


def _vocab(rng, n=4000):
    lens = rng.integers(2, 10, n)
    letters = rng.integers(0, 26, lens.sum())
    chars = np.frombuffer((letters + 97).astype(np.uint8).tobytes(), dtype="S1").astype(str)
    out, pos = [], 0
    for ln in lens:
        out.append("".join(chars[pos:pos + ln]))
        pos += ln
    return np.array(out, dtype=object)


def _texts(rng, vocab, n, lo, hi, zipf=True):
    counts = rng.integers(lo, hi + 1, n)
    if zipf:
        p = 1.0 / (np.arange(len(vocab)) + 10.0)
        p /= p.sum()
        idx = rng.choice(len(vocab), size=counts.sum(), p=p)
    else:
        idx = rng.integers(0, len(vocab), counts.sum())
    words = vocab[idx]
    ends = np.cumsum(counts)
    return [" ".join(words[s:e]) for s, e in zip(ends - counts, ends)]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   use_dictionary=True, write_statistics=True)


def _documents(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _pipeline_docs(rng, vocab, first_id, n, sources, top_share, words):
    texts = _texts(rng, vocab, n, *words)
    if top_share is None:
        src = rng.integers(0, sources, n)
    else:
        hot = rng.random(n) < top_share
        src = np.where(hot, 0, rng.integers(1, sources, n))
    names = np.array([f"src{i}" for i in range(sources)], dtype=object)[src]
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    table = _documents(np.arange(first_id, first_id + n), texts, langs, names)
    return table, texts


def _token(word):
    # the north rule's token id: ((ascii(first)*59 + ascii(last))*31 + len) % 32768
    return ((ord(word[0]) * 59 + ord(word[-1])) * 31 + len(word)) % 32768


def _token_stats(texts):
    """(token count, token-id sum) over all documents, computed here from the
    words themselves: an independent check of the program's tokenizer."""
    cache, n, s = {}, 0, 0
    for t in texts:
        for w in t.split(" "):
            if w:
                tok = cache.get(w)
                if tok is None:
                    tok = cache[w] = _token(w)
                n += 1
                s += tok
    return n, s


def _props(table, texts):
    src = table.column("source").to_numpy(zero_copy_only=False)
    _, cnt = np.unique(src, return_counts=True)
    n_tok, tok_sum = _token_stats(texts)
    return {
        "rows": table.num_rows,
        "distinct_sources": int(len(cnt)),
        "top_source_share": float(cnt.max() / table.num_rows),
        "mean_words": n_tok / table.num_rows,
        "tokens": n_tok,
        "token_sum": tok_sum,
    }


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _merge(parts):
    n = sum(p["rows"] for p in parts)
    return {
        "rows": n,
        "distinct_sources": max(p["distinct_sources"] for p in parts),
        "top_source_share": max(p["top_source_share"] for p in parts),
        "mean_words": sum(p["tokens"] for p in parts) / n,
        "tokens": sum(p["tokens"] for p in parts),
        "token_sum": sum(p["token_sum"] for p in parts),
    }


def ingest(workload, seed, out, deltas=0):
    """Pipeline inputs under `out`:
    - warmup/documents.parquet: a small table for session warm-up (not for
      tail_resume, which warms up on its base commit);
    - input/documents.parquet/part-00000.parquet: the measured input;
    - for tail_resume, deltas/part-000NN.parquet: rows landed one at a time.
    Returns the realised input properties (deltas included)."""
    rng = _rng(seed, workload)
    vocab = _vocab(_rng(seed, "vocab"))
    if workload == "tail_resume":
        spec = dict(rows=TAIL["base"], sources=TAIL["sources"], top_share=None, words=TAIL["words"])
    else:
        spec = INGEST[workload]
    if workload != "tail_resume":  # tail_resume warms up on its base commit
        warm, _ = _pipeline_docs(_rng(seed, "warmup"), vocab, 0, WARMUP_ROWS,
                                 spec["sources"], spec["top_share"], spec["words"])
        _write(warm, f"{out}/warmup/documents.parquet/part-00000.parquet")
    table, texts = _pipeline_docs(rng, vocab, 0, spec["rows"], spec["sources"],
                                  spec["top_share"], spec["words"])
    path = f"{out}/input/documents.parquet/part-00000.parquet"
    _write(table, path)
    parts = [_props(table, texts)]
    files = [path]
    next_id = spec["rows"]
    for k in range(1, deltas + 1):
        d, dtexts = _pipeline_docs(rng, vocab, next_id, TAIL["delta"], spec["sources"],
                                   None, spec["words"])
        dpath = f"{out}/deltas/part-{k:05d}.parquet"
        _write(d, dpath)
        parts.append(_props(d, dtexts))
        files.append(dpath)
        next_id += TAIL["delta"]
    props = _merge(parts)
    props["base_rows"] = spec["rows"]
    props["delta_rows"] = TAIL["delta"] if deltas else 0
    props["deltas"] = deltas
    props["sha256"] = hashlib.sha256("".join(sha256(f) for f in files).encode()).hexdigest()
    return props


# --- query-suite testdata: the ten tables SparkEntry.queries read -----------

DOC_WORDS = np.array(
    "join hash row batch scan customer column filter small slow merge order vector line "
    "data table agg value key stream window spark a group part big sort query fast the"
    .split(), dtype=object)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
QUERY_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, documents=500, embeddings=500)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def query_tables(seed, out):
    """The query suite's input: the same ten tables, schemas and value
    domains as the sf0.01 testdata, drawn from `seed`."""
    r = lambda name: _rng(seed, "q/" + name)
    n = QUERY_ROWS
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    g = r("customer")
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(g.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": g.choice(SEGMENTS, n["customer"])})
    g = r("supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(g.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, n["supplier"])})
    g = r("part")
    keys = np.arange(n["part"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(g.choice(P_ADJ, n["part"]), g.choice(P_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n["part"])],
        "p_type": g.choice(P_TYPES, n["part"]),
        "p_size": pa.array(g.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    g = r("orders")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": g.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(g, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(g, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": g.choice(PRIORITIES, n["orders"])})
    g = r("lineitem")
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, m), pa.int32()),
        "l_quantity": g.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(g, 900.0, 105000.0, m),
        "l_discount": g.integers(0, 11, m) / 100.0,
        "l_tax": g.integers(0, 9, m) / 100.0,
        "l_returnflag": g.choice(["A", "N", "R"], m),
        "l_linestatus": g.choice(["F", "O"], m),
        "l_shipdate": _days(g, "1995-01-02", "2001-11-04", m)})
    g = r("events")
    k = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(g.integers(0, span_us, k)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(range(k), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 150, k), pa.int64()),
        "event_type": g.choice(EVENT_TYPES, k),
        "value": np.round(g.exponential(50.0, k) + 0.01, 2),
        "props": [f'{{"k": {v}}}' for v in g.integers(0, 100, k)]})
    g = r("documents")
    d = n["documents"]
    texts = _texts(g, DOC_WORDS, d, 10, 99, zipf=False)
    # ~5% near-duplicates: another document's text with " dup" appended
    for i in np.flatnonzero(g.random(d) < 0.05):
        texts[i] = texts[int(g.integers(0, d))] + " dup"
    tables["documents"] = _documents(np.arange(d), texts, g.choice(LANGS, d, p=LANG_P),
                                     [f"src{i % 20}" for i in range(d)])
    g = r("embeddings")
    e = n["embeddings"]
    labels = g.integers(0, 10, e)
    centers = g.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + g.normal(0.0, 0.8, (e, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(e), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    digest = hashlib.sha256()
    for name, t in tables.items():
        path = f"{out}/{name}.parquet"
        _write(t, path)
        digest.update(sha256(path).encode())
    docs = tables["documents"]
    return {"rows": {k: t.num_rows for k, t in tables.items()},
            "distinct_sources": len(set(docs.column("source").to_pylist())),
            "sha256": digest.hexdigest()}
