"""Correctness checks for the graft pipeline benchmark.  Each reads the
program's committed output straight from the file system with pyarrow
(independently of the Spark code under test) and compares it with what the
generator recorded.  A check returns the ids of the timed units it failed,
a list of problems, and file-system readings for the traced metrics."""

import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

DEFAULT_SEED = 1
# Output hash of the first two committed batches for DEFAULT_SEED: any
# change to the rows, partitions or payload bytes the pipelines commit
# changes it.
PINNED = {
    "export_stream": "82affd2db487161ceaa21710c571d7c4",
    "corpus_ingest": "0b574738c3340f15494e8004f44511b4",
}


def md5_lines(lines):
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def pinned(workload, seed, digest, problems):
    if seed == DEFAULT_SEED and PINNED.get(workload) not in (None, digest):
        problems.append("output hash %s != pinned %s" % (digest, PINNED[workload]))
        return False
    return True


def dir_stats(path):
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def hive(path, fmt):
    return ds.dataset(path, format=fmt, partitioning="hive")


def sorted_columns(table, cols):
    """The columns `cols` of `table` with its rows in sorted order."""
    t = table.select(cols).sort_by([(c, "ascending") for c in cols])
    return [t.column(c).cast(pa.string()).combine_chunks() for c in cols]


def rows_key(table, cols):
    """Rows of `table` as sorted tab-joined strings over `cols`."""
    return ["\t".join(r) for r in zip(*(a.to_pylist() for a in sorted_columns(table, cols)))]


def check_export_stream(expect, result, seed):
    c = result["check"]
    problems, failed = [], set()
    committed = set(c["committed"])
    units = [u["id"] for u in result["units"]]
    failed |= {u for u in units if u not in committed}
    t = hive(c["table_dir"], "orc").to_table(
        columns=["payload_json", "batch_id", "continent", "country"])
    t = t.filter(pc.is_in(t["batch_id"], value_set=pa.array(sorted(committed),
                                                             type=t["batch_id"].type)))
    got = {}
    g = t.group_by(["batch_id", "continent", "country"]).aggregate([([], "count_all")])
    for b, co, cy, n in zip(*(g.column(k).to_pylist() for k in
                              ["batch_id", "continent", "country", "count_all"])):
        got.setdefault(b, {})["%s/%s" % (co, cy)] = n
    for b in sorted(committed):
        if got.get(b, {}) != expect["files"][b]["partitions"]:
            failed.add(b)
            problems.append("batch %d: per-partition counts differ" % b)
    extra = set(hive(c["table_dir"], "orc").to_table(columns=["batch_id"])
                .column("batch_id").unique().to_pylist()) - committed
    if extra:
        problems.append("uncommitted batches in table: %s" % sorted(extra))
        failed |= set(units)
    # payloads equal the batch row path over the same files
    ref = pq.read_table(c["ref_route"], columns=["payload_json", "continent", "country"])
    cols = ["continent", "country", "payload_json"]
    if sorted_columns(t, cols) != sorted_columns(ref, cols):
        problems.append("payload checksum differs from ExportPipeline.route")
        failed |= set(units)
    first = t.filter(pc.less(t["batch_id"], 2))
    if not pinned("export_stream", seed,
                  md5_lines(rows_key(first, ["batch_id"] + cols)), problems):
        failed |= set(units)
    fs = {}
    if os.path.isdir(c["replay_table_dir"]):
        per = [dir_stats(os.path.join(c["replay_table_dir"], d))
               for d in os.listdir(c["replay_table_dir"]) if d.startswith("batch_id=")]
        if per:
            fs["sink_files"] = sorted(p[0] for p in per)[len(per) // 2]
            fs["sink_bytes"] = sorted(p[1] for p in per)[len(per) // 2]
    return failed, problems, fs


def check_corpus_ingest(expect, result, seed):
    c = result["check"]
    problems, failed = [], set()
    committed = c["committed"]
    units = [u["id"] for u in result["units"]]
    failed |= {u for u in units if u not in set(committed)}
    # contaminated and low-quality docs never survive; planted exact copies
    # may survive only where their source did not, so the corpus holds each
    # text at most once
    banned = set(expect["contaminated"]) | set(expect["low_quality"])
    seen = set()
    n_in = n_out = 0
    first = []
    for b, src in zip(committed, c["inputs"]):
        inp = pq.read_table(src, columns=["doc_id", "text"])
        n_in += inp.num_rows
        text = dict(zip(inp.column("doc_id").to_pylist(), inp.column("text").to_pylist()))
        d = os.path.join(c["out_dir"], "batch_id=%d" % b)
        out = pq.read_table(d, columns=["doc_id", "text"]) if os.path.isdir(d) \
            else pa.table({"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string())})
        n_out += out.num_rows
        ids = out.column("doc_id").to_pylist()
        texts = out.column("text").to_pylist()
        bad = [i for i, t in zip(ids, texts) if text.get(i) != t]
        if bad:
            problems.append("batch %d: %d survivors not in its input" % (b, len(bad)))
        hit = banned.intersection(ids)
        if hit:
            problems.append("batch %d: %d contaminated or low-quality docs survived"
                            % (b, len(hit)))
        dup = len(texts) - len(set(texts)) + len(seen.intersection(texts))
        if dup:
            problems.append("batch %d: %d survivors repeat a surviving text" % (b, dup))
        seen.update(texts)
        if bad or hit or dup:
            failed.add(b)
        if b < 2:
            first += sorted(ids)
    if not pinned("corpus_ingest", seed, md5_lines(map(str, first)), problems):
        failed |= set(units)
    segs = [d for d in os.listdir(c["store_dir"]) if d.startswith("seg=")] \
        if os.path.isdir(c["store_dir"]) else []
    fs = {"keep_ratio": n_out / n_in if n_in else 0.0,
          "store_segments": len(segs), "store_bytes": dir_stats(c["store_dir"])[1]}
    return failed, problems, fs


CHECKS = {
    "export_stream": check_export_stream,
    "corpus_ingest": check_corpus_ingest,
}


def check(workload, expect, result, seed):
    return CHECKS[workload](expect, result, seed)
