#!/usr/bin/env python3
"""Seeded input generator for the lake benchmark.

Every input the harness sees is made here from `--seed`: the same seed
gives byte-identical inputs. Nothing is read from outside the output
directory.

  python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Per workload (see perfbench/README.md for the sizes and why):

  lake_churn       an orders table and a closed-loop op stream (TSV):
                   reads / appends / merges / deletes in fixed shares,
                   read keys Zipf-skewed toward recent inserts; beside
                   it a seed corpus of documents and waves of new
                   documents in which a fixed share are planted
                   near-duplicates (one token substituted) of earlier
                   documents.
  retrieval_serve  documents + embeddings resampled the way
                   tools/gen_scale.py does it (token unigrams and doc
                   lengths from the empirical distribution; vectors as
                   base rows drawn RESAMPLE x with replacement plus small
                   noise), a request stream (Zipf BM25 terms, perturbed
                   corpus vectors) and small doc+vector update batches.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes -------------------------------------------------------------
CHURN_ORDERS = 150_000        # seed rows of the churned orders table
CHURN_OPS = 1_500             # op stream length (the loop stops at time)
# one block of 10 ops: R = read, A = append, W = merge/delete alternating
BLOCK = ["R", "R", "A", "R", "R", "W", "R", "R", "A", "R"]
# point reads are two thirds of reads, customer filter reads one third
READ_KINDS = [("v1", "key"), ("sql", "key"), ("v1", "cust"),
              ("sql", "key"), ("v1", "key"), ("sql", "cust")]
CHURN_APPEND_ROWS = 50
CHURN_MERGE_ROWS = 20         # half updates of live keys, half inserts
CHURN_ZIPF = 1.0              # read-key skew over recency rank
RET_DOCS, RET_VECS, RET_DIM = 3_000, 2_000, 64
RESAMPLE = 10                 # vectors per base vector
RET_REQUESTS = 1_500
RET_UPDATES, RET_UPDATE_DOCS = 60, 20
RET_TERM_ZIPF = 1.1
STREAM_SEED_DOCS, STREAM_WAVES, STREAM_WAVE_DOCS = 2_000, 40, 100
STREAM_DUP_RATE = 0.25
STREAM_DUP_MIN_TOKENS = 60

# Token unigram weights and language shares of the engine's test-data
# documents (31-token vocabulary; "dup" is the rare planted marker).
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
VOCAB_W = np.array([9182, 9159, 9157, 9144, 9127, 9119, 9117, 9112, 9104,
                    9100, 9080, 9063, 9057, 9040, 9024, 9017, 9005, 8971,
                    8960, 8951, 8929, 8926, 8925, 8925, 8912, 8893, 8881,
                    8877, 8863, 8829], dtype=float)
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = np.array([0.4118, 0.1506, 0.1488, 0.1484, 0.1404])
N_SOURCES = 20
EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z, seconds
EPOCH_2024 = 1_704_067_200
DAY = 86_400


def ts_us(sec, tz=None):
    """Naive (TIMESTAMP_NTZ in Spark) unless tz is given; the engine's
    test data is naive, the manifest connector needs instants."""
    return pa.array(np.asarray(sec, dtype=np.int64) * 1_000_000,
                    type=pa.timestamp("us", tz=tz))


def write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)


# ---- shared row makers ----------------------------------------------------

def docs(rng, ids, min_len=10, max_len=100):
    """Documents resampled from the empirical unigram/length/lang
    distributions; source is `src<doc_id % 20>` as in the test data."""
    n = len(ids)
    p = VOCAB_W / VOCAB_W.sum()
    lens = rng.integers(min_len, max_len + 1, n)
    toks = rng.choice(len(VOCAB), int(lens.sum()), p=p)
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[t] for t in toks[at:at + ln]))
        at += ln
    return {
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def centroids(rng, dim, labels=10):
    return rng.normal(0.0, 0.07 / np.sqrt(dim), (labels, dim))


def vectors(rng, cents, n):
    """Unit vectors drawn around label centroids (the test data's
    shape: weak clusters, per-dim spread ~0.125)."""
    lab = rng.integers(0, len(cents), n)
    m = cents[lab] + rng.normal(0.0, 0.125, (n, cents.shape[1]))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m.astype(np.float32), lab.astype(np.int32)


def resampled(rng, base, base_lab, n):
    """tools/gen_scale.py's embedding method: draw base rows with
    replacement and add small gaussian noise (0.05 x the base spread)."""
    idx = rng.integers(0, len(base), n)
    m = base[idx] + rng.normal(0.0, 0.05 * base.std(), (n, base.shape[1]))
    return m.astype(np.float32), base_lab[idx]


def emb_cols(ids, m, lab):
    return {"vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
            "label": pa.array(lab)}


def zipf_cdf(n, s):
    """CDF of ranks 0..n-1 with P(r) ∝ 1/(r+1)^s (bounded Zipf)."""
    w = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    return w / w[-1]


def zipf_rank(rng, cdf, size):
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


# ---- lake_churn -----------------------------------------------------------

def orders_cols(rng, keys, n_cust, tz=None):
    n = len(keys)
    return {
        "o_orderkey": pa.array(np.asarray(keys, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": ts_us(EPOCH_1995 + rng.integers(0, 2404, n) * DAY, tz),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n).tolist())}


def gen_churn(rng, out):
    """orders.parquet + ops.tsv. Op lines (tab-separated):
      R v1|sql key|cust <value>     point or filter read
      A <rows>                      commitAppend
      M <rows>                      mergeInto (upsert by o_orderkey)
      D <key>                       deleteWhere o_orderkey = key
    <rows> = ';'-joined 'key,cust,status,price,date_sec,priority'.
    Every block of 10 ops has the same shape (BLOCK: 7 reads, 2 appends,
    one merge or delete, alternating) and the reads cycle through
    READ_KINDS, so traffic shares and order are fixed; the
    seed draws the keys, customers and rows."""
    n_cust = CHURN_ORDERS // 10
    cols = orders_cols(rng, np.arange(CHURN_ORDERS), n_cust, tz="UTC")
    write(f"{out}/orders.parquet", cols)
    cust = cols["o_custkey"].to_numpy().tolist()
    status = cols["o_orderstatus"].to_pylist()
    live = list(range(CHURN_ORDERS))        # recency order: newest last
    dead = set()
    rows = {k: (cust[k], status[k]) for k in live}
    next_key = CHURN_ORDERS
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

    def new_row(k, st=None, c=None):
        c = int(rng.integers(0, n_cust)) if c is None else c
        st = str(rng.choice(["F", "O", "P"])) if st is None else st
        price = round(float(rng.uniform(1000, 500000)), 2)
        d = EPOCH_1995 + int(rng.integers(0, 2404)) * DAY
        rows[k] = (c, st)
        return f"{k},{c},{st},{price!r},{d},{prios[int(rng.integers(0, 5))]}"

    cdf = zipf_cdf(CHURN_ORDERS, CHURN_ZIPF)

    def recent_live():
        # Zipf over recency rank among live keys (skip tombstones)
        while True:
            r = int(zipf_rank(rng, cdf, 1)[0])
            k = live[len(live) - 1 - r]
            if k not in dead:
                return k

    lines, md, reads = [], 0, 0
    while len(lines) < CHURN_OPS:
        for op in BLOCK:
            if op == "R":
                # read paths and shapes cycle in a fixed order
                path, shape = READ_KINDS[reads % len(READ_KINDS)]
                reads += 1
                k = recent_live()
                v = k if shape == "key" else rows[k][0]
                lines.append(f"R\t{path}\t{shape}\t{v}")
            elif op == "A":
                batch = []
                for _ in range(CHURN_APPEND_ROWS):
                    batch.append(new_row(next_key))
                    live.append(next_key)
                    next_key += 1
                lines.append("A\t" + ";".join(batch))
            elif md % 2 == 0:
                md += 1
                batch, seen = [], set()
                for _ in range(CHURN_MERGE_ROWS // 2):
                    k = recent_live()
                    if k in seen:
                        continue
                    seen.add(k)
                    # updates keep the partition value (o_orderstatus)
                    batch.append(new_row(k, st=rows[k][1], c=rows[k][0]))
                for _ in range(CHURN_MERGE_ROWS - CHURN_MERGE_ROWS // 2):
                    batch.append(new_row(next_key))
                    live.append(next_key)
                    next_key += 1
                lines.append("M\t" + ";".join(batch))
            else:
                md += 1
                k = recent_live()
                dead.add(k)
                lines.append(f"D\t{k}")
    with open(f"{out}/ops.tsv", "w") as f:
        f.write("\n".join(lines[:CHURN_OPS]) + "\n")


# ---- retrieval_serve ------------------------------------------------------

def gen_retrieval(rng, out):
    """documents/embeddings parquet, requests.tsv and update batches.
    Request lines:  B <terms>   |  V <csv vector>  |  P <csv;csv;...>
    (IVF-PQ batch of 4)  |  U <batch no>  (commit + refresh)."""
    write(f"{out}/documents.parquet", docs(rng, np.arange(RET_DOCS)))
    cents = centroids(rng, RET_DIM)
    base, base_lab = vectors(rng, cents, RET_VECS // RESAMPLE)
    m, lab = resampled(rng, base, base_lab, RET_VECS)
    write(f"{out}/embeddings.parquet", emb_cols(np.arange(RET_VECS), m, lab))
    term_order = rng.permutation(len(VOCAB))
    cdf = zipf_cdf(len(VOCAB), RET_TERM_ZIPF)

    def perturbed():
        v = m[int(rng.integers(0, RET_VECS))].astype(float)
        v = v + rng.normal(0.0, 0.05, RET_DIM)
        return ",".join(repr(float(x)) for x in v / np.linalg.norm(v))

    lines, upd, bm25_n = [], 0, 0
    cycle = ["B", "V", "B", "V", "P"] * 2 + ["U"]
    while len(lines) < RET_REQUESTS:
        for op in cycle:
            if op == "B":
                n = 1 + bm25_n % 3         # 1, 2, 3 terms in turn
                bm25_n += 1
                t = zipf_rank(rng, cdf, n)
                lines.append("B\t" + " ".join(VOCAB[term_order[i]] for i in t))
            elif op == "V":
                lines.append("V\t" + perturbed())
            elif op == "P":
                lines.append("P\t" + ";".join(perturbed() for _ in range(4)))
            elif upd < RET_UPDATES:
                lines.append(f"U\t{upd}")
                upd += 1
    with open(f"{out}/requests.tsv", "w") as f:
        f.write("\n".join(lines[:RET_REQUESTS]) + "\n")
    for u in range(RET_UPDATES):
        ids = RET_DOCS + u * RET_UPDATE_DOCS + np.arange(RET_UPDATE_DOCS)
        d = docs(rng, ids)
        # a token no base document carries, so a BM25 probe for it
        # returns exactly this batch once the index serves it
        d["text"] = pa.array([f"{t} fresh{u}" for t in d["text"].to_pylist()])
        d["n_chars"] = pa.array([len(t) for t in d["text"].to_pylist()],
                                type=pa.int64())
        write(f"{out}/updates/docs-{u}.parquet", d)
        vids = RET_VECS + u * RET_UPDATE_DOCS + np.arange(RET_UPDATE_DOCS)
        um, ul = resampled(rng, base, base_lab, RET_UPDATE_DOCS)
        write(f"{out}/updates/vecs-{u}.parquet", emb_cols(vids, um, ul))


# ---- lake_churn: document waves -------------------------------------------

def gen_stream(rng, out):
    """seed.parquet + waves/wave-<i>.parquet. A fixed share of each wave
    (seeded positions) are planted near-duplicates: a copy, in the same
    lang/source block, of a seed or earlier non-planted document of at
    least STREAM_DUP_MIN_TOKENS tokens with one token substituted. That
    leaves 3-shingle Jaccard >= 0.9 to a document already admitted, far
    above the 0.4 admission threshold, so banded minhash admission finds
    every planted pair (miss chance < 1e-7 each) and agrees with exact
    admission; unplanted documents share almost no shingles."""
    seed = docs(rng, np.arange(STREAM_SEED_DOCS))
    write(f"{out}/seed.parquet", seed)
    originals = []  # (doc_id, text, lang) of long, non-planted documents

    def add_originals(d, skip=()):
        for i, (k, t, lang) in enumerate(zip(d["doc_id"].to_pylist(),
                                             d["text"].to_pylist(),
                                             d["lang"].to_pylist())):
            if i not in skip and t.count(" ") + 1 >= STREAM_DUP_MIN_TOKENS:
                originals.append((k, t, lang))

    add_originals(seed)
    next_id = STREAM_SEED_DOCS
    for w in range(STREAM_WAVES):
        d = docs(rng, np.arange(next_id, next_id + STREAM_WAVE_DOCS))
        next_id += STREAM_WAVE_DOCS
        texts, langs = d["text"].to_pylist(), d["lang"].to_pylist()
        srcs = d["source"].to_pylist()
        planted = set(rng.choice(STREAM_WAVE_DOCS,
                                 int(STREAM_DUP_RATE * STREAM_WAVE_DOCS),
                                 replace=False).tolist())
        for i in planted:
            k, t, lang = originals[int(rng.integers(0, len(originals)))]
            toks = t.split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))]
            texts[i], langs[i] = " ".join(toks), lang
            srcs[i] = f"src{k % N_SOURCES}"  # the original's block
        d["text"], d["lang"], d["source"] = (pa.array(texts), pa.array(langs),
                                             pa.array(srcs))
        d["n_chars"] = pa.array([len(t) for t in texts], type=pa.int64())
        write(f"{out}/waves/wave-{w}.parquet", d)
        add_originals(d, skip=planted)


def gen_lake(seed, out):
    """The orders churn and the document waves, each from its own
    stream of the seed, into one input directory."""
    gen_churn(np.random.default_rng([seed, 1]), out)
    gen_stream(np.random.default_rng([seed, 2]), out)


GENERATORS = {"lake_churn": gen_lake,
              "retrieval_serve": lambda seed, out: gen_retrieval(
                  np.random.default_rng(seed), out)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    GENERATORS[a.workload](a.seed, a.out)


if __name__ == "__main__":
    main()
