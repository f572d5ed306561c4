"""Seeded input generator for the benchmark.

Writes an sf-style directory (the ten parquet tables with the schemas of
the repo's test data, TESTDATA.md) and, for the daemon workload, a directory of
rendered Postgres log files for its streaming probe. The same (workload, seed) always gives
byte-identical files; a different seed gives different files. The
program under test only ever sees the directory.

Sizes follow the row counts of the repo's test data (TESTDATA.md; seed
42, so the counts below are read off those files):

- daemon: the sf0.01 directory, the correctness scale. 1,500 customers,
  15,000 orders, ~60,000 lineitems; 10,000 events from 150 backends,
  which the soak folds onto its 600 planned seconds (16.7 events per
  planned second). The log files hold 10,000 lines: the program renders
  one log line per event (LogSynth), so this is the sf0.01 event count.
- corpus_curate: the sf0.1 directory, the Bench scale: 5,000 documents
  and 2,000 embeddings. Its oracle check runs on a slice at the sf0.01
  counts (500 and 500) in `check/`, made by the same generator: the
  DuckDB oracle of corpus_curation_funnel takes 4 s at the sf0.01 counts
  and 40 s at the sf0.1 counts (4 cores), too long for a run.

The seed moves the per-workload shape parameters by up to about ±10 %.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("daemon", "corpus_curate")

# The rendered log_line_prefix is `%t [%p]: [%l-1] user=%u,db=%d `.
LOG_EPOCH = dt.datetime(2024, 1, 1)
# Lines planted late carry a line number at or above this mark, so a
# batch reference computation can tell them apart from on-time lines.
LATE_LINE_NO = 900000
FILES_PER_TRIGGER = 2

# The daemon soak folds event time onto this many planned seconds (the
# harness's DaemonWorkload.Horizon).
DAEMON_HORIZON_S = 600

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group filter vector").split()
# a Zipf-ranked vocabulary: the common words above, then 4,000 made-up
# ones, so two unrelated documents share few words while planted
# near-duplicates share most of theirs
_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do",
        "fe", "gi", "ho", "ju")
VOCAB_ZIPF = VOCAB + [a + b + c for a in _SYL for b in _SYL for c in _SYL][:4000]
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

LOG_TEMPLATES = (
    ("LOG", "duration: {ms}.{frac:03d} ms  statement: SELECT * FROM orders "
            "WHERE o_custkey = {k} AND note = 'cust{k}@example.com'"),
    ("LOG", "duration: {ms}.{frac:03d} ms  execute a{k}: UPDATE accounts SET "
            "balance = balance - {k} WHERE id = {pid}"),
    ("LOG", "checkpoint complete: wrote {k} buffers (4.2%); 0 WAL file(s) "
            "added, 0 removed, 3 recycled; write=1.2 s, sync=0.1 s, "
            "total=1.4 s; sync files=7, longest=0.05 s, average=0.01 s; "
            "distance=1024 kB, estimate=2048 kB"),
    ("LOG", "connection received: host=10.0.{k}.1 port={port}"),
    ("LOG", "connection authorized: user=u{pid} database=db{db}"),
    ("ERROR", "deadlock detected"),
    ("FATAL", 'password authentication failed for user "u{pid}"'),
    ("LOG", "duration: {ms}.{frac:03d} ms  execute a2: CREATE ROLE r{k} "
            "PASSWORD 'secret{k}'"),
    ("LOG", 'automatic vacuum of table "db{db}.public.t{k}": index scans: 1'),
    ("ERROR", 'relation "t{k}" does not exist at character 15'),
    ("LOG", "disconnection: session time: 0:00:0{db}.{frac:03d} user=u{pid} "
            "database=db{db} host=10.0.0.1 port={port}"),
    ("ERROR", "canceling statement due to statement timeout"),
)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _fmt_ts(secs):
    return (LOG_EPOCH + dt.timedelta(seconds=int(secs))).strftime(
        "%Y-%m-%d %H:%M:%S")


def _tpch(rng, out, scale):
    """The star-schema tables, sized by `scale` (1.0 = the sf0.01 sizes)."""
    n_cust, n_part, n_supp = int(1500 * scale), int(2000 * scale), int(100 * scale)
    n_ord = int(15000 * scale)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    adjs = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
    nouns = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "cap"]
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM",
                      "PROMO"])
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 2)}),
        f"{out}/part.parquet")
    day0 = np.datetime64("1995-01-01", "us")
    odates = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    per = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), per)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = np.repeat(odates, per) + rng.integers(1, 100, n_li).astype(
        "timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    return {"customer": n_cust, "part": n_part, "supplier": n_supp,
            "orders": n_ord, "lineitem": n_li}


def _events(rng, out, n_events, n_pids, span_s):
    """Activity events: `n_events` spread over `span_s` seconds by
    `n_pids` backends."""
    offs = np.sort(rng.integers(0, span_s * 1_000_000, n_events))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_pids, n_events), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        f"{out}/events.parquet")
    return n_events


def _corpus(rng, out, n_docs, n_emb, dup_share, hot_share):
    """`n_docs` documents with a planted near-duplicate share (copies of
    an earlier document with a few words replaced) and `n_emb`
    embeddings with the same duplicate share and one hot cluster (a
    `hot_share` of vectors tight around one centre)."""
    texts, originals = [], []
    for i in range(n_docs):
        if originals and rng.random() < dup_share:
            # copies of originals only: near-dup clusters are stars, so
            # their connected components settle in the same number of
            # rounds whatever the seed
            ws = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.integers(0, len(ws), max(1, len(ws) // 20)):
                ws[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(ws))
        else:
            originals.append(i)
            ranks = np.minimum(rng.zipf(1.2, int(rng.integers(8, 90))),
                               len(VOCAB_ZIPF)) - 1
            texts.append(" ".join(VOCAB_ZIPF[r] for r in ranks))
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    dim, k = 64, 10
    centres = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n_emb)
    hot = rng.random(n_emb) < hot_share
    labels[hot] = 0
    noise = np.where(hot[:, None], 0.3, 1.0)
    vecs = centres[labels] + rng.normal(0, 1, (n_emb, dim)) * noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    dups = rng.random(n_emb) < dup_share
    dups[0] = False
    originals = np.nonzero(~dups)[0]
    for i in np.nonzero(dups)[0]:
        vecs[i] = vecs[originals[int(rng.integers(0, len(originals)))]]
    _write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")
    return n_docs


def _logs(rng, out, n_files, lines_per_file, n_pids, cont_share,
          late_share, ooo_share):
    """Rendered log files in trigger order. Files are drained
    FILES_PER_TRIGGER at a time. The watermark a batch filters with
    trails the input by up to two batches (none is in force before the
    third batch), so lines planted late sit from the third batch on, at
    least 30 s behind the newest event time of the batches two or more
    back; out-of-order lines step back at most 2 s, inside the 3 s delay.
    The last file holds two sentinel primaries per pid, an hour and two
    hours on. The first flushes every pending line out of the stitch and,
    once the second has flushed it in turn, carries the event time of the
    windowed counts past every real window; both stay in state."""
    os.makedirs(out, exist_ok=True)
    # the class mix: even shares, each scaled by up to ±30 %
    weights = rng.uniform(0.7, 1.3, len(LOG_TEMPLATES))
    weights /= weights.sum()
    line_no = np.zeros(n_pids, dtype=np.int64)
    t = 0.0
    batch_max = {}   # batch index -> max on-time event second
    files = []
    n_late = 0
    for f in range(n_files):
        batch = f // FILES_PER_TRIGGER
        prior_max = max((v for b, v in batch_max.items() if b < batch - 1),
                        default=None)
        lines, n_cont, n_late_f = [], 0, 0
        while len(lines) < lines_per_file:
            t += rng.exponential(0.05)
            secs = int(t)
            pid = int(rng.integers(0, n_pids))
            line_no[pid] += 1
            lno = int(line_no[pid] % 100000)
            u = rng.random()
            if prior_max is not None and u < late_share:
                secs = prior_max - int(rng.integers(30, 300))
                lno = LATE_LINE_NO + n_late
                n_late += 1
                n_late_f += 1
            else:
                if u < late_share + ooo_share:
                    secs = max(0, secs - int(rng.integers(1, 3)))
                batch_max[batch] = max(batch_max.get(batch, 0), int(t))
            level, tmpl = LOG_TEMPLATES[int(rng.choice(len(LOG_TEMPLATES),
                                                       p=weights))]
            k = int(rng.integers(0, 1000))
            content = tmpl.format(ms=int(rng.integers(1, 5000)),
                                  frac=int(rng.integers(0, 1000)), k=k,
                                  pid=pid, db=pid % 5, port=5000 + pid % 100)
            lines.append(f"{_fmt_ts(secs)} UTC [{pid}]: [{lno}-1] user=u{pid},"
                         f"db=db{pid % 5} {level}:  {content}")
            if rng.random() < cont_share and len(lines) < lines_per_file:
                lines.append(f"\tDETAIL:  Process {pid} waits for ShareLock "
                             f"on transaction {k}; blocked by process {k + 1}.")
                n_cont += 1
        files.append({"lines": lines, "n_cont": n_cont, "n_late": n_late_f})
    files.append({"lines": [
        f"{_fmt_ts(int(t) + 3600 * h)} UTC [{p}]: [{h}-1] user=u{p},"
        f"db=db{p % 5} LOG:  graft sentinel flush"
        for h in (1, 2) for p in range(n_pids)],
        "n_cont": 0, "n_late": 0})
    for i, fl in enumerate(files):
        path = f"{out}/log-{i:05d}.txt"
        with open(path, "w") as fh:
            fh.write("\n".join(fl["lines"]) + "\n")
        # the file source orders files by modification time
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    first = files[:2 * FILES_PER_TRIGGER]
    n_lines = sum(len(fl["lines"]) for fl in files)
    cont0 = sum(fl["n_cont"] for fl in first)
    cont_later = sum(fl["n_cont"] for fl in files) - cont0
    manifest = {
        "files": len(files), "files_per_trigger": FILES_PER_TRIGGER,
        "lines": n_lines, "sentinels": 2 * n_pids, "pids": n_pids,
        "late_line_no": LATE_LINE_NO,
        # epoch seconds: every real line sits in [start_s, end_s), the
        # sentinels after it
        "start_s": int((LOG_EPOCH - dt.datetime(1970, 1, 1)).total_seconds()),
        "end_s": int((LOG_EPOCH - dt.datetime(1970, 1, 1)).total_seconds())
        + int(t) + 1,
        # continuations carry no prefix, so they parse with the poison
        # pid and an epoch+1 s event time: before a watermark is in force
        # they reach the stitcher's dead-letter channel, afterwards they
        # are behind it
        "expect_discarded": cont0,
        "expect_late": n_late + cont_later,
        "expect_emitted": n_lines - 2 * n_pids - cont0 - n_late - cont_later,
    }
    with open(f"{out}.json", "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out`; return the
    generated sizes. The daemon's directory also holds the log files its
    traced run drains through the streaming layer; the corpus directory
    holds the oracle-checked slice in `check/`."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out, exist_ok=True)
    sizes = {}
    if workload == "daemon":
        sizes.update(_tpch(rng, out, 1.0))
        # events per planned second (the tick payload) and backend count
        rate = float(rng.uniform(15.0, 18.3))
        n_pids = int(rng.integers(135, 166))
        sizes["events"] = _events(rng, out, int(rate * DAEMON_HORIZON_S),
                                  n_pids, 86400)
        sizes.update(events_per_planned_s=round(rate, 3), pids=n_pids)
        sizes["documents"] = _corpus(rng, out, 50, 50, 0.0, 0.0)
        m = _logs(rng, f"{out}/logs", n_files=12, lines_per_file=834,
                  n_pids=int(rng.integers(45, 55)),
                  cont_share=float(rng.uniform(0.04, 0.06)),
                  late_share=float(rng.uniform(0.015, 0.025)),
                  ooo_share=float(rng.uniform(0.08, 0.12)))
        sizes.update(log_files=m["files"], log_lines=m["lines"])
    else:
        dup_share = float(rng.uniform(0.09, 0.11))
        hot_share = float(rng.uniform(0.18, 0.22))
        for d, n_docs, n_emb in ((out, 5000, 2000),
                                 (f"{out}/check", 500, 500)):
            os.makedirs(d, exist_ok=True)
            _tpch(rng, d, 0.05)
            _events(rng, d, 200, 20, 3600)
            _corpus(rng, d, n_docs, n_emb, dup_share, hot_share)
        sizes.update(documents=5000, embeddings=2000, check_documents=500,
                     check_embeddings=500, dup_share=round(dup_share, 4),
                     hot_share=round(hot_share, 4))
    sizes["bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(out) for f in fs)
    return sizes


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]),
                     sort_keys=True))
