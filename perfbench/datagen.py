"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables(dir, sf)``: the TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` tables every declared query reads.
  They reproduce the repo's seed-42 test fixtures: the same parquet
  schemas as the fixture files (timestamps are ``timestamp[us]`` in the
  files, where FIXTURES.md lists ``[ms]`` and ``[ns]``) and layout (one
  row group per file, snappy). At sf0.1 the star schema and ``events``
  equal the fixtures row for row, except 17 ``events.ts`` values that are
  1 us apart; ``documents`` and ``embeddings`` follow the fixtures'
  distributions (30-word uniform vocabulary, 10-100 words,
  language mix, about 5% "<text> dup" near-duplicates; unit vectors with
  independent labels) but not their rows. ``perfbench/BASELINE.json``
  compares the two. The tables use one fixed seed, so the DuckDB oracle
  results can be cached by scale; a workload seed only permutes the order
  the queries run in.
* ``write_corpus(dir, seed, ...)``: the MapReduce text corpus, a Zipf
  (s = 1) vocabulary split over several files, with one token planted in
  about 1% of the lines. It returns what a correct job must output (word
  counts, the grep match multiset), recorded while the corpus is written.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = "red blue small large hot cold old new".split()
PART_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

GREP_TOKEN = "zqneedle"


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, rng, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(dirpath, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(dirpath, f"{name}.parquet"),
                   row_group_size=max(table.num_rows, 1), compression="snappy")


def write_tables(dirpath, sf):
    """Write the ten tables at scale factor ``sf`` into ``dirpath``."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 1)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    _write(dirpath, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dirpath, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(dirpath, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(dirpath, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    _write(dirpath, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng, 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(dirpath, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": _money(rng, 0.0, 0.1, n_line),
        "l_tax": _money(rng, 0.0, 0.08, n_line),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", rng, 2499, n_line)})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_evt))
    _write(dirpath, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(DOC_WORDS), int(k))])
             for k in rng.integers(10, 101, n_docs)]
    # about 5% near-duplicates: another document's text plus one token,
    # so the dedup/minhash families find real pairs
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(dirpath, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # unit vectors with labels drawn independently of them, as in the
    # fixtures: a label's mean vector has the norm of sampling noise alone
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dirpath, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def _vocab(n):
    """n distinct lowercase words over the letters a..y; the planted grep
    token contains a 'z', so no vocabulary word can contain it."""
    out = []
    for i in range(n):
        w, k = "", i + 26
        while k:
            k, r = divmod(k, 25)
            w = chr(97 + r) + w
        out.append(w)
    return out


def write_corpus(dirpath, seed, n_files, total_mb, vocab_size=50_000):
    """Write ``n_files`` text files totalling about ``total_mb`` MB, plus
    ``.expected.json`` (hidden, so job input listings skip it) holding
    ``{"counts": {word: n}, "grep": [line, ...], "bytes": n}``: the exact
    output a correct word count and grep must produce."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng([seed, 485])
    vocab = np.array(_vocab(vocab_size) + [GREP_TOKEN], dtype=object)
    wlen = np.array([len(w) for w in vocab])
    p = 1.0 / np.arange(1, vocab_size + 1)
    p /= p.sum()
    per_file = int(total_mb * 1e6 / n_files / ((wlen[:-1] * p).sum() + 1.0))
    counts = np.zeros(vocab_size + 1, dtype=np.int64)
    grep, n_bytes = [], 0
    for f in range(n_files):
        toks = rng.choice(vocab_size, per_file, p=p)
        ends = np.cumsum(rng.integers(5, 16, per_file // 5))
        ends = ends[ends < per_file]  # a line ends after token ends[k] - 1
        starts = np.concatenate([[0], ends])
        lens = np.diff(np.append(starts, per_file))
        planted = np.flatnonzero(rng.random(len(starts)) < 0.01)
        toks = np.insert(toks, starts[planted] + rng.integers(0, lens[planted] + 1),
                         vocab_size)
        ends = ends + np.searchsorted(planted, np.arange(len(ends)), side="right")
        counts += np.bincount(toks, minlength=vocab_size + 1)
        body = np.frombuffer(" ".join(vocab[toks]).encode(), dtype=np.uint8).copy()
        body[(np.cumsum(wlen[toks] + 1) - 1)[ends - 1]] = ord("\n")
        body = body.tobytes() + b"\n"
        n_bytes += len(body)
        with open(os.path.join(dirpath, f"file{f:02d}"), "wb") as fh:
            fh.write(body)
        lines = body.decode().split("\n")
        grep += [lines[i] for i in planted]
    expected = {"counts": {str(vocab[i]): int(c) for i, c in enumerate(counts) if c},
                "grep": grep, "bytes": n_bytes}
    with open(os.path.join(dirpath, ".expected.json"), "w") as fh:
        json.dump(expected, fh)


def ensure(dirpath, key, build):
    """Run ``build(tmpdir)`` once per ``key``; later calls reuse the result.

    The finished directory carries a ``.key`` file, so an interrupted build
    is redone instead of reused.
    """
    stamp = os.path.join(dirpath, ".key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return dirpath
    tmp = dirpath + ".tmp"
    for stale in (tmp, dirpath):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, ".key"), "w") as fh:
        fh.write(key)
    os.rename(tmp, dirpath)
    return dirpath


def source_key():
    """Digest of this generator's source: a change to it regenerates inputs."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


if __name__ == "__main__":
    import sys
    out, sf = sys.argv[1], float(sys.argv[2])
    write_tables(out, sf)
    print(json.dumps({"dir": out, "sf": sf}))
