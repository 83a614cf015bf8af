"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed writes
byte-identical files. The engine's own generators are deliberately not
used, so a change to the engine can never change what is measured.

* ``tables``  -- the ten fixture tables (TPC-H-like star schema, events,
  documents, embeddings) at a given scale factor, one single-row-group
  parquet file per table, with the fixtures' schemas and value domains.
* ``corpus``  -- the same tables with a larger documents/embeddings pair:
  every original document gets near-duplicate copies with one token
  perturbed, a cohort of unique-vocabulary survivors, and a hot cohort of
  documents that share Zipf-weighted 12-gram fingerprints.
* ``text``    -- a directory of Zipf-distributed text files for the
  map/reduce jobs, about a quarter of whose lines contain the grep word.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "data", "table", "agg", "value", "key", "stream", "window", "a",
             "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
GREP_WORD = "product"
COPIES, SURVIVORS, HOT_GRAMS, HOT_DOCS = 4, 60, 8, 240
TEXT_FILES, TEXT_LINES, TEXT_VOCAB = 8, 12000, 4000


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _shape(stream):
    """A generator that is the same for every seed. Sizes (document and
    word lengths, hot-cohort membership) come from it, so that the seed
    changes what the inputs hold but not how much work they are."""
    return _rng(0, stream)


def _write(path, cols):
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)


def _days(rng, n, lo, hi):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int) + 1
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """n documents over the 30-word vocabulary; 5% are copies of another
    document with " dup" appended (the fixtures' near-duplicate shape).
    Document lengths and which documents are copies of which do not
    depend on the seed."""
    shape = _shape(11)
    texts = []
    for k in shape.integers(10, 100, n):
        texts.append(" ".join(DOC_WORDS[i] for i in rng.integers(0, 30, int(k))))
    for i in shape.choice(n, n // 20, replace=False):
        texts[i] = texts[int(shape.integers(0, n))] + " dup"
    return texts


def _doc_table(ids, texts, langs, sources):
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(ids, vecs, labels):
    return {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def tables(out, seed, sf, n_docs, n_embs):
    """The ten fixture tables at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    p = lambda t: os.path.join(out, f"{t}.parquet")
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = int(15000 * sf)

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = _rng(seed, 2)
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})
    r = _rng(seed, 3)
    adj = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                            "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    r = _rng(seed, 4)
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(r, n_ord, 1000, 500000),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = _rng(seed, 5)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900, 105000),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["O", "F"], n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04")})
    r = _rng(seed, 6)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_evt))
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": r.choice(["click", "signup", "error", "view",
                                "purchase"], n_evt),
        "value": np.maximum(np.round(r.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})
    r = _rng(seed, 7)
    _write(p("documents"), _doc_table(
        np.arange(n_docs), _documents(r, n_docs),
        r.choice(LANGS, n_docs, p=LANG_P),
        [f"src{i % 20}" for i in range(n_docs)]))
    r = _rng(seed, 8)
    _write(p("embeddings"), _emb_table(
        np.arange(n_embs), _unit_vectors(r, n_embs),
        r.integers(0, 10, n_embs)))


def corpus(out, seed, sf, n_docs, n_embs):
    """``tables`` plus a replicated documents/embeddings pair: each
    original yields ``COPIES - 1`` near-duplicates (one token of copy k
    perturbed as ``token~k``; every embedding dim nudged by +-0.02k),
    then ``SURVIVORS`` documents of globally unique tokens and
    ``HOT_DOCS`` documents whose text is one of ``HOT_GRAMS`` fixed
    12-grams, drawn with Zipf weights so one fingerprint dominates."""
    tables(out, seed, sf, n_docs, n_embs)
    r = _rng(seed, 9)
    src = pq.read_table(os.path.join(out, "documents.parquet")).to_pydict()
    ids, texts, langs, sources = [], [], [], []
    for did, doc, lang, source in zip(src["doc_id"], src["text"],
                                      src["lang"], src["source"]):
        toks = doc.split(" ")
        for k in range(COPIES):
            t = list(toks)
            if k:
                i = (7 * k) % len(t)
                t[i] = f"{t[i]}~{k}"
            ids.append(did * COPIES + k)
            texts.append(" ".join(t))
            langs.append(lang)
            sources.append(source)
    pairs = sorted(set(zip(src["source"], src["lang"])))
    base = COPIES * max(src["doc_id"]) + 1000
    for j in range(SURVIVORS):
        did = base + j
        texts.append(" ".join(f"zq{did}x{w}" for w in range(40)))
        ids.append(did)
        sources.append(pairs[j % len(pairs)][0])
        langs.append(pairs[j % len(pairs)][1])
    weights = 1.0 / np.arange(1, HOT_GRAMS + 1) ** 1.2
    grams = _shape(12).choice(HOT_GRAMS, HOT_DOCS, p=weights / weights.sum())
    base += SURVIVORS + 1000
    for j, g in enumerate(grams):
        texts.append(" ".join(f"hot{g}gram{i}" for i in range(12)))
        ids.append(base + j)
        sources.append(pairs[j % len(pairs)][0])
        langs.append(pairs[j % len(pairs)][1])
    _write(os.path.join(out, "documents.parquet"),
           _doc_table(ids, texts, langs, sources))

    emb = pq.read_table(os.path.join(out, "embeddings.parquet")).to_pydict()
    vecs = np.array(emb["embedding"], dtype=np.float32)
    dims = np.arange(vecs.shape[1])
    out_ids, out_vecs, out_labels = [], [], []
    for vid, v, label in zip(emb["vec_id"], vecs, emb["label"]):
        for k in range(COPIES):
            sign = np.where((dims * 7 + k * 13) % 2 == 0, 1.0, -1.0)
            out_ids.append(vid * COPIES + k)
            out_vecs.append((v + k * 0.02 * sign).astype(np.float32))
            out_labels.append(label)
    _write(os.path.join(out, "embeddings.parquet"),
           _emb_table(out_ids, out_vecs, out_labels))


def text(out, seed):
    """``TEXT_FILES`` text files of Zipf-distributed words, mixed case,
    some lines indented or blank; about a quarter of the lines contain
    ``GREP_WORD`` in some casing."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 10)
    syll = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "an",
            "vu", "el", "or", "is", "ju", "ba"]
    # the word of each Zipf rank has a seed-independent syllable count
    # (two for the 200 most frequent ranks, three or four below them),
    # so the text's size does not move with the seed
    n_sylls = np.concatenate([np.full(200, 2), _shape(13).integers(3, 5, TEXT_VOCAB - 200)])
    words = []
    seen = set()
    for n_syll in n_sylls:
        while True:
            w = "".join(syll[i] for i in r.integers(0, len(syll), int(n_syll)))
            if w not in seen and GREP_WORD not in w:
                break
        seen.add(w)
        words.append(w)
    weights = 1.0 / np.arange(1, TEXT_VOCAB + 1) ** 1.1
    weights /= weights.sum()
    shape = _shape(14)
    for f in range(TEXT_FILES):
        n_words = shape.integers(3, 16, TEXT_LINES)
        draws = r.choice(TEXT_VOCAB, int(n_words.sum()), p=weights)
        case = r.random(int(n_words.sum()))
        grep_line = r.random(TEXT_LINES) < 0.25
        blank = r.random(TEXT_LINES) < 0.02
        indent = r.random(TEXT_LINES) < 0.1
        lines, at = [], 0
        for i in range(TEXT_LINES):
            toks = []
            for j in range(at, at + int(n_words[i])):
                w = words[draws[j]]
                toks.append(w.upper() if case[j] < 0.05 else
                            w.capitalize() if case[j] < 0.2 else w)
            at += int(n_words[i])
            if grep_line[i]:
                toks.insert(int(r.integers(0, len(toks) + 1)),
                            r.choice([GREP_WORD, "Product", "PRODUCTS"]))
            line = " ".join(toks)
            if blank[i]:
                line = ""
            elif indent[i]:
                line = "  " + line
            lines.append(line)
        path = os.path.join(out, f"file{f:02d}.txt")
        with open(path + ".tmp", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(path + ".tmp", path)
