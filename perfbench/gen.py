"""Seeded input generator for the graft pipeline benchmark.

Runs as its own process before the JVM under test starts: it stages every
input file of one (workload, seed) under ``<out>/input`` and writes what the
inputs must produce to ``<out>/expect.json``.  The same seed gives the same
files, byte for byte.

The dimension chain user_id -> customer -> nation -> region follows the
TPC-H shape of the repository's sf0.1 test data (15,000 customers, 25
nations, 5 regions); it is synthesized here so that a run reads nothing
outside its own checkout.

    python3 perfbench/gen.py --workload export_stream --seed 1 --out DIR
"""

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# (nation, region) in TPC-H nation-key order
NATIONS = [
    ("ALGERIA", "AFRICA"), ("ARGENTINA", "AMERICA"), ("BRAZIL", "AMERICA"),
    ("CANADA", "AMERICA"), ("EGYPT", "MIDDLE EAST"), ("ETHIOPIA", "AFRICA"),
    ("FRANCE", "EUROPE"), ("GERMANY", "EUROPE"), ("INDIA", "ASIA"),
    ("INDONESIA", "ASIA"), ("IRAN", "MIDDLE EAST"), ("IRAQ", "MIDDLE EAST"),
    ("JAPAN", "ASIA"), ("JORDAN", "MIDDLE EAST"), ("KENYA", "AFRICA"),
    ("MOROCCO", "AFRICA"), ("MOZAMBIQUE", "AFRICA"), ("PERU", "AMERICA"),
    ("CHINA", "ASIA"), ("ROMANIA", "EUROPE"), ("SAUDI ARABIA", "MIDDLE EAST"),
    ("VIETNAM", "ASIA"), ("RUSSIA", "EUROPE"), ("UNITED KINGDOM", "EUROPE"),
    ("UNITED STATES", "AMERICA"),
]
N_CUSTOMERS = 15000
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error", "search"])
EPOCH_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z
MTIME_BASE = 1704067200  # pinned file mtimes: base + 2 s per file

# Sizes per workload.  Each stream file is one micro-batch; the backlog
# holds more files than a run of `seconds` can drain on this hardware.
SIZES = {
    "export_stream": {"rows_per_file": 10000, "files_per_s": 3, "min_files": 30},
    "corpus_ingest": {"docs_per_file": 1000, "files_per_s": 0.5, "min_files": 16,
                      "bench_docs": 40, "batch_event_s": 100},
}

STOPWORDS = ["the", "a", "and", "of", "to", "in"]


def vocabulary():
    """~3,400 pronounceable non-stopword tokens of 4 to 7 letters."""
    cons = "bcdfgklmnprstvz"
    vows = "aeiou"
    words = []
    for c1 in cons:
        for v1 in vows:
            for c2 in cons:
                for v2 in vows[:1] + vows[2:4]:
                    words.append(c1 + v1 + c2 + v2)
    rng = np.random.default_rng(7)
    extra = []
    for w in words:
        tail = rng.integers(0, 4)
        extra.append(w + "".join(rng.choice(list(cons + vows), tail)))
    return np.array(sorted(set(extra)))


VOCAB = vocabulary()


# fixed customer -> nation index map (customer keys 1..N_CUSTOMERS)
CUSTOMER_NATION = np.random.default_rng(20240101).integers(0, len(NATIONS), N_CUSTOMERS + 1)


def pin(path, index):
    os.utime(path, (MTIME_BASE + 2 * index, MTIME_BASE + 2 * index))


def write_table(table, path, index=None):
    pq.write_table(table, path, compression="snappy")
    if index is not None:
        pin(path, index)


# ---------------------------------------------------------------- export ---

def gen_export_stream(rng, inp, seconds):
    """Events partitioned by the user's region and nation, one file per
    minute of event time; each file lists its per-partition row counts.
    Files are drawn in order, so file i does not depend on the backlog
    length."""
    sz = SIZES["export_stream"]
    n_files = max(sz["min_files"], int(seconds * sz["files_per_s"]))
    per = sz["rows_per_file"]
    continent = np.array([r for _, r in NATIONS])
    country = np.array([c for c, _ in NATIONS])
    pending = os.path.join(inp, "pending")
    os.makedirs(pending)
    files = []
    for i in range(n_files):
        user = rng.integers(1, N_CUSTOMERS + 1, per)
        nat = CUSTOMER_NATION[user]
        table = pa.table({
            "event_id": pa.array(np.arange(i * per, (i + 1) * per, dtype=np.int64)),
            "ts": pa.array(EPOCH_US + i * 60000000 + np.sort(rng.integers(0, 60000000, per)),
                           type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), per)]),
            "value": pa.array(np.round(rng.random(per) * 500.0, 2)),
            "props": pc.binary_join_element_wise(
                '{"k": ', pc.cast(pa.array(rng.integers(0, 100, per)), pa.string()), "}", ""),
            "continent": pa.array(continent[nat]),
            "country": pa.array(country[nat]),
        })
        name = "part-%05d.parquet" % i
        write_table(table, os.path.join(pending, name), i)
        counts = np.bincount(nat, minlength=len(NATIONS))
        files.append({"name": name, "rows": per, "partitions": {
            "%s/%s" % (NATIONS[k][1], NATIONS[k][0]): int(c)
            for k, c in enumerate(counts) if c}})
    return {"files": files}


# ---------------------------------------------------------------- corpus ---

def doc_text(rng, n_tok):
    """A document that clears the quality gate: diverse tokens with a
    stopword rate of ~15%."""
    toks = VOCAB[rng.integers(0, len(VOCAB), n_tok)].astype(object)
    stop = rng.random(n_tok) < 0.15
    toks[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, 6, stop.sum())]
    return " ".join(toks)


def near_variant(rng, text, edits):
    toks = text.split(" ")
    for j in rng.choice(len(toks), edits, replace=False):
        toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(toks)


def gen_corpus_ingest(rng, inp, seconds):
    sz = SIZES["corpus_ingest"]
    n_files = max(sz["min_files"], int(seconds * sz["files_per_s"]))
    per = sz["docs_per_file"]
    pending = os.path.join(inp, "pending")
    os.makedirs(pending)
    # benchmark (evaluation) set: the decontamination gate's gram source
    bench = [doc_text(rng, 80) for _ in range(sz["bench_docs"])]
    write_table(pa.table({"doc_id": pa.array(np.arange(len(bench), dtype=np.int64)),
                          "text": pa.array(bench)}),
                os.path.join(inp, "bench.parquet"))
    files, contaminated, low_quality = [], [], []
    originals = []  # (doc_id, text, batch) of clean docs: copy sources
    next_id = 1000000
    for b in range(n_files):
        ids, texts, kinds = [], [], []
        for k in range(per):
            r = rng.random()
            if r < 0.08 and not originals:
                r = 1.0  # nothing to copy yet
            if r < 0.04:
                # exact copy of a clean doc from this or the last 3 batches
                cands = [o for o in originals[-4 * per:] if o[2] >= b - 3]
                o = cands[rng.integers(0, len(cands))]
                texts.append(o[1]); kinds.append("exact")
            elif r < 0.08:
                # near variant: 2 tokens replaced; variants of variants
                # make edit chains
                cands = [o for o in originals[-4 * per:] if o[2] >= b - 3]
                o = cands[rng.integers(0, len(cands))]
                texts.append(near_variant(rng, o[1], 2)); kinds.append("near")
            elif r < 0.09:
                src = bench[rng.integers(0, len(bench))].split(" ")
                at = rng.integers(0, len(src) - 20)
                t = doc_text(rng, 30).split(" ") + src[at:at + 20] + \
                    doc_text(rng, 30).split(" ")
                texts.append(" ".join(t)); kinds.append("contaminated")
            elif r < 0.10:
                # one token repeated: short and without diversity or stopwords
                texts.append(" ".join([VOCAB[rng.integers(0, len(VOCAB))]] * 6))
                kinds.append("low_quality")
            else:
                texts.append(doc_text(rng, int(rng.integers(40, 120))))
                kinds.append("base")
            ids.append(next_id); next_id += 1
        for i, t, kd in zip(ids, texts, kinds):
            if kd in ("base", "near"):
                originals.append((i, t, b))
            elif kd == "contaminated":
                contaminated.append(i)
            elif kd == "low_quality":
                low_quality.append(i)
        # event time: batch b covers [b, b+1) * batch_event_s, in doc order
        ts = EPOCH_US + b * sz["batch_event_s"] * 1000000 + \
            np.arange(per, dtype=np.int64) * (sz["batch_event_s"] * 1000000 // per)
        name = "part-%05d.parquet" % b
        write_table(pa.table({
            "doc_id": pa.array(np.array(ids, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "text": pa.array(texts)}), os.path.join(pending, name), b)
        files.append({"name": name, "rows": per})
    return {"files": files, "contaminated": contaminated, "low_quality": low_quality}


GENERATORS = {
    "export_stream": gen_export_stream,
    "corpus_ingest": gen_corpus_ingest,
}


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    inp = os.path.join(a.out, "input")
    os.makedirs(inp)
    idx = sorted(GENERATORS).index(a.workload)
    rng = np.random.default_rng([a.seed, idx])
    expect = GENERATORS[a.workload](rng, inp, a.seconds)
    expect["workload"] = a.workload
    expect["seed"] = a.seed
    with open(os.path.join(a.out, "expect.json"), "w") as f:
        json.dump(expect, f)


if __name__ == "__main__":
    main(sys.argv[1:])
