"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` (mixed with a per-purpose constant), so the same seed always
yields byte-identical inputs. The engine never sees the seed: it only
reads the files written here.
"""
import json
import os

import numpy as np
import pandas as pd

DIM = 64
LABELS = 10
CHANNELS = ["EML", "FAX", "WIN", "SCN"]

# The corpus vocabulary of the engine's test tables (30 words); the
# report tables reuse it so text operators see the same token shape.
DOC_VOCAB = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()


def rng_for(seed, purpose):
    """Independent stream per purpose, all derived from the run seed."""
    return np.random.default_rng([int(seed), purpose])


def word_vocab(n, rng):
    """``n`` distinct lower-case pseudo-words (3-8 letters)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def unit_rows(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def write_embeddings(path, ids, vecs, labels):
    pd.DataFrame({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "embedding": [v for v in vecs],
        "label": np.asarray(labels, dtype=np.int32),
    }).to_parquet(path, index=False)


# --------------------------------------------------------------------
# report_session: the ten engine tables, generated at a small scale
# --------------------------------------------------------------------

REPORT_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
               "orders": 15000, "lineitem": 60000, "events": 10000,
               "documents": 1000, "embeddings": 500}


def _days(rng, n, start, end):
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def report_tables(out, seed):
    """The engine's ten tables (TESTDATA.md schemas, parquet, one file
    each). Column value sets and ranges follow the committed corpora;
    values are drawn uniformly, so no two seeds share a row order."""
    rng = rng_for(seed, 1)
    n = REPORT_ROWS
    os.makedirs(out, exist_ok=True)

    def put(name, cols):
        pd.DataFrame(cols).to_parquet(f"{out}/{name}.parquet", index=False)

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    c = n["customer"]
    put("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], c)})
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    adj = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
    noun = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "gizmo"]
    put("part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, p),
                                              rng.choice(noun, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    put("orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    put("lineitem", {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    put("events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, month_us, e)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view",
                                  "purchase"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        r = rng.random()
        if i > 10 and r < 0.02:        # exact re-post of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:      # near copy: one word swapped
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = "dup"
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB,
                                             int(rng.integers(10, 101)))))
    put("documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], d,
                           p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    labels = rng.integers(0, LABELS, m)
    cents = rng.normal(size=(LABELS, DIM))
    vecs = unit_rows(cents[labels] + rng.normal(scale=1.2, size=(m, DIM)))
    write_embeddings(f"{out}/embeddings.parquet", np.arange(m), vecs, labels)


# --------------------------------------------------------------------
# doc_pipeline: a fixed labelled index plus one page-CSV batch per job
# --------------------------------------------------------------------

INDEX_ROWS = 4000
JOB_DOCS = 500
JOB_VOCAB = 400


def pipeline_inputs(out, seed, n_jobs):
    """``index.parquet`` plus ``job<k>/`` trees: per-channel page CSVs
    (``<channel>/doc<id>.csv``, one page per line) and ``emb.parquet``,
    one labelled 64-d embedding per document. Returns the per-job
    ground truth the checks need."""
    rng = rng_for(seed, 2)
    cents = rng.normal(size=(LABELS, DIM))
    lab = rng.integers(0, LABELS, INDEX_ROWS)
    index = unit_rows(cents[lab] + rng.normal(scale=1.5, size=(INDEX_ROWS, DIM)))
    os.makedirs(out, exist_ok=True)
    write_embeddings(f"{out}/index.parquet", np.arange(INDEX_ROWS), index, lab)
    vocab = np.array(word_vocab(JOB_VOCAB, rng))
    jobs = []
    for k in range(n_jobs):
        root = f"{out}/job{k}"
        for ch in CHANNELS:
            os.makedirs(f"{root}/{ch}", exist_ok=True)
        ids = (k + 1) * 1_000_000 + np.arange(JOB_DOCS)
        labels = rng.integers(0, LABELS, JOB_DOCS)
        vecs = unit_rows(cents[labels] +
                         rng.normal(scale=1.5, size=(JOB_DOCS, DIM)))
        write_embeddings(f"{root}/emb.parquet", ids, vecs, labels)
        for i, doc_id in enumerate(ids):
            pages = [" ".join(vocab[rng.integers(0, JOB_VOCAB,
                                                 int(rng.integers(6, 21)))])
                     for _ in range(int(rng.integers(1, 5)))]
            ch = CHANNELS[int(doc_id) % len(CHANNELS)]
            with open(f"{root}/{ch}/doc{doc_id}.csv", "w") as f:
                f.write("\n".join(pages) + "\n")
        jobs.append(root)
    return jobs


# --------------------------------------------------------------------
# stream_ingest: arrival files with planted exact and near copies
# --------------------------------------------------------------------

ARRIVAL_DOCS = 100
STREAM_VOCAB = 2000
# per arrival after the first: exact re-arrivals of history, near
# copies of history, and in-file twin pairs (the rest are fresh)
N_EXACT, N_NEAR, N_TWIN_PAIRS = 8, 8, 2


def stream_inputs(out, seed, n_arrivals):
    """``arrival<a>.parquet`` files of (doc_id, text) in ``out`` and a
    manifest (``manifest.json``) naming each planted document:
    ``exact`` rows re-send an earlier admitted text under a new id,
    ``near`` rows re-send it with one word appended, ``twin`` pairs
    carry one fresh text twice in the same file, the lower id first.

    An appended word adds one 3-word shingle, so a near copy of an
    n-word text has shingle Jaccard (n-2)/(n-1) >= 0.97 for n >= 40,
    far above the gate's 0.5. The margin matters because the gate's
    candidates come from MinHash banding (12 hashes, 4 bands of 3),
    whose recall at Jaccard J is 1-(1-J^3)^4: 97.8% at J=0.85 but
    99.997% at J=0.97, so every planted copy is a candidate."""
    rng = rng_for(seed, 3)
    vocab = np.array(word_vocab(STREAM_VOCAB, rng))
    os.makedirs(out, exist_ok=True)
    admitted = []          # texts of documents the gate admits as new
    manifest = []
    next_id = 0

    def fresh():
        return " ".join(vocab[rng.integers(0, STREAM_VOCAB,
                                           int(rng.integers(40, 81)))])

    for a in range(n_arrivals):
        rows, planted = [], {"exact": [], "near": [], "twin": []}
        hist = list(admitted)
        n_exact = N_EXACT if hist else 0
        n_near = N_NEAR if hist else 0
        n_fresh = ARRIVAL_DOCS - n_exact - n_near - 2 * N_TWIN_PAIRS
        for _ in range(n_fresh):
            rows.append((next_id, fresh()))
            admitted.append(rows[-1][1])
            next_id += 1
        for _ in range(N_TWIN_PAIRS):
            t = fresh()
            rows.append((next_id, t))
            rows.append((next_id + 1, t))
            planted["twin"].append([next_id, next_id + 1])
            admitted.append(t)
            next_id += 2
        for _ in range(n_exact):
            rows.append((next_id, hist[int(rng.integers(0, len(hist)))]))
            planted["exact"].append(next_id)
            next_id += 1
        # distinct sources, or two copies in one file would be exact twins
        for src in rng.choice(len(hist), n_near, replace=False) if n_near else []:
            rows.append((next_id, hist[int(src)] + " zzcopy"))
            planted["near"].append(next_id)
            next_id += 1
        pd.DataFrame({"doc_id": np.array([r[0] for r in rows], dtype=np.int64),
                      "text": [r[1] for r in rows]}).to_parquet(
            f"{out}/arrival{a}.parquet", index=False)
        manifest.append(planted)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
