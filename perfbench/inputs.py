"""Seeded input generators for the three workloads.

Every generator takes the run's seed and an output directory outside the
program's sources, writes its inputs there, and returns the measured
properties of what it wrote. The same seed gives byte-identical inputs;
sizes and counts are fixed per workload so runs with different seeds do
the same amount of work.
"""
import random
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- fileops: a nested tree of files with heavy-tailed sizes ------------

TREE_FILES = 1500
# extension shares; only csv and json match the workload's regex
EXTENSIONS = [("csv", 0.25), ("json", 0.15), ("log", 0.30), ("bin", 0.15),
              ("txt", 0.15)]
FILE_PATTERN = r"[.](csv|json)$"
# a few MiB-scale files whose sizes are fixed, so the byte total is
# nearly the same for every seed
BIG_FILES = [1 << 20, 2 << 20, 3 << 20]
SIZE_BINS = [0, 1 << 10, 8 << 10, 64 << 10, 1 << 20, 1 << 40]


def file_tree(seed, out):
    """TREE_FILES files under out/tree, nested 1-3 prefixes deep. Sizes
    are log-normal (median 1 KiB, most below 64 KiB) plus BIG_FILES.
    Basenames are unique, so flattening uploads never collide."""
    rng = np.random.default_rng(seed)
    root = Path(out) / "tree"
    # the multisets of extensions and sizes are the same for every seed;
    # the seed shuffles them over the files and the tree
    exts = rng.permutation(np.repeat([e for e, _ in EXTENSIONS],
                                     [round(p * TREE_FILES) for _, p in EXTENSIONS]))
    sizes = np.clip(np.random.default_rng(0).lognormal(np.log(1024), 1.6, TREE_FILES),
                    16, 256 << 10).astype(np.int64)
    sizes[-len(BIG_FILES):] = BIG_FILES
    sizes = rng.permutation(sizes)
    depth = rng.integers(1, 4, TREE_FILES)
    blob = rng.bytes(int(sizes.max()) + 4096)
    for i in range(TREE_FILES):
        parts = [f"p{rng.integers(0, 6)}", f"q{rng.integers(0, 5)}",
                 f"r{rng.integers(0, 4)}"][: depth[i]]
        d = root.joinpath(*parts)
        d.mkdir(parents=True, exist_ok=True)
        off = int(rng.integers(0, 4096))
        # a per-file header keeps every digest distinct
        body = f"{seed}:{i}\n".encode() + blob[off: off + int(sizes[i])]
        (d / f"obj{i:05d}.{exts[i]}").write_bytes(body)
    real = [p.stat().st_size for p in root.rglob("*") if p.is_file()]
    match = sum(1 for e in exts if e in ("csv", "json"))
    hist = np.histogram(real, bins=SIZE_BINS)[0].tolist()
    return {
        "files": len(real), "bytes": int(sum(real)),
        "regex": FILE_PATTERN, "regex_match_share": match / TREE_FILES,
        "size_histogram": {f"<{b}": n for b, n in
                           zip(["1KiB", "8KiB", "64KiB", "1MiB", "inf"], hist)},
    }


# ---- corpus_build: a resampled, planted document corpus -----------------

CORPUS_DOCS = 5000
# sf0.1's 30 corpus words, near-uniform in every language there
HEAD_WORDS = ("merge window customer spark part group stream filter the sort "
              "scan vector join query big hash column data agg table line "
              "small slow key fast order row value a batch").split()
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
# sf0.1's language shares
LANGS = [("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15)]
TAIL_WORDS = 2000         # per-language Zipf tail: keeps gram postings short
HEAD_MASS, STOP_MASS = 0.35, 0.08
SHARES = {"exact_dup": 0.05, "near_dup": 0.05, "gate_fail": 0.05,
          "eval_overlap": 0.03}


def _tail_vocab(lang):
    # fixed per language: the vocabulary is part of the workload, the seed
    # only resamples documents from it
    r = random.Random(zlib.crc32(lang.encode()))
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < TAIL_WORDS:
        words.add("".join(r.choice(letters) for _ in range(r.randint(3, 8))))
    return sorted(words)


def _word_sampler(rng, lang):
    head = np.array(HEAD_WORDS)
    tail = np.array(_tail_vocab(lang))
    zipf = 1.0 / np.arange(1, TAIL_WORDS + 1)
    zipf /= zipf.sum()
    stops = np.array(STOPWORDS[2:])

    def draw(n):
        kind = rng.random(n)
        out = np.where(kind < HEAD_MASS, rng.choice(head, n),
                       np.where(kind < HEAD_MASS + STOP_MASS,
                                rng.choice(stops, n),
                                rng.choice(tail, n, p=zipf)))
        return out.tolist()
    return draw


def _gate_pass(toks):
    """q100's quality gate (q91's predicate) on whitespace tokens."""
    nt = len(toks)
    ns = sum(1 for t in toks if t in STOPWORDS)
    nc = sum(len(t) for t in toks)
    return nt >= 10 and ns * 10 <= nt * 3 and nc <= nt * 8


def corpus(seed, out):
    """CORPUS_DOCS documents (doc_id, text, lang, source, n_chars) with
    planted exact duplicates, near duplicates (one token replaced in a
    doc of at least 40 tokens, trigram Jaccard >= 0.8), gate-failing docs
    (too short, stopword-heavy, or long-worded) and eval overlap (an
    8-token span of an eval stand-in, doc_id % 50 = 0)."""
    rng = np.random.default_rng(seed)
    langs = rng.permutation(np.repeat([l for l, _ in LANGS],
                                      [round(p * CORPUS_DOCS) for _, p in LANGS]))
    draw = {l: _word_sampler(rng, l) for l, _ in LANGS}
    # sf0.1's uniform 10-100 token lengths, as a fixed multiset
    lens = rng.permutation(10 + np.arange(CORPUS_DOCS) * 91 // CORPUS_DOCS)
    docs = [draw[langs[i]](int(lens[i])) for i in range(CORPUS_DOCS)]
    n = {k: int(round(v * CORPUS_DOCS)) for k, v in SHARES.items()}
    standins = [i for i in range(0, CORPUS_DOCS, 50)]
    # planted docs are drawn from ids that are not eval stand-ins
    free = rng.permutation([i for i in range(CORPUS_DOCS) if i % 50])
    cursor = 0

    def take(k):
        nonlocal cursor
        ids = free[cursor: cursor + k].tolist()
        cursor += k
        return ids
    bases = [i for i in range(CORPUS_DOCS) if i % 50 and len(docs[i]) >= 40]
    planted = {}
    for i in take(n["exact_dup"]):
        b = int(rng.choice(bases))
        docs[i], langs[i] = list(docs[b]), langs[b]
        planted.setdefault("exact_dup", []).append(i)
    for i in take(n["near_dup"]):
        b = int(rng.choice(bases))
        t = list(docs[b])
        t[int(rng.integers(1, len(t) - 1))] = draw[langs[b]](1)[0] + "x"
        docs[i], langs[i] = t, langs[b]
        planted.setdefault("near_dup", []).append(i)
    for k, i in enumerate(take(n["gate_fail"])):
        kind = k % 3
        if kind == 0:      # fewer than 10 tokens
            docs[i] = draw[langs[i]](int(rng.integers(3, 10)))
        elif kind == 1:    # over 30 % stopwords
            t = draw[langs[i]](30)
            docs[i] = t[:15] + rng.choice(STOPWORDS, 15).tolist()
        else:              # more than 8 characters per token
            docs[i] = ["".join(rng.choice(list("qwrtzpsdfgh"), 12))
                       for _ in range(20)]
        planted.setdefault("gate_fail", []).append(i)
    long_standins = [s for s in standins if len(docs[s]) >= 20]
    for i in take(n["eval_overlap"]):
        s = docs[int(rng.choice(long_standins))]
        at = int(rng.integers(0, len(s) - 8))
        t = docs[i]
        cut = int(rng.integers(0, len(t)))
        docs[i] = t[:cut] + s[at: at + 8] + t[cut:]
        planted.setdefault("eval_overlap", []).append(i)

    texts = [" ".join(t) for t in docs]
    table = pa.table({
        "doc_id": pa.array(np.arange(CORPUS_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(CORPUS_DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = Path(out) / "documents.parquet"
    pq.write_table(table, path)
    seen, dups = set(), 0
    for t in texts:
        dups += t in seen
        seen.add(t)
    fails = sum(1 for t in docs if not _gate_pass(t))
    return {
        "docs": CORPUS_DOCS, "parquet_bytes": path.stat().st_size,
        "tokens": int(sum(len(t) for t in docs)),
        "distinct_words": len({w for t in docs for w in t}),
        "share": {
            "exact_dup": dups / CORPUS_DOCS,
            "near_dup_planted": len(planted.get("near_dup", [])) / CORPUS_DOCS,
            "gate_fail": fails / CORPUS_DOCS,
            "eval_overlap_planted":
                len(planted.get("eval_overlap", [])) / CORPUS_DOCS,
            "eval_standins": len(standins) / CORPUS_DOCS,
        },
    }


# ---- query_mix: TPC-H-ish tables at sf0.1 row counts ---------------------

ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "embeddings": 2000}


def _day_ts(rng, n, start, end):
    days = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return (np.datetime64(start, "us") +
            rng.integers(0, days + 1, n).astype("timedelta64[D]"))


def tables(seed, out):
    """The sf0.1 tables at full size in `out`, plus a hundredth-scale set for
    the untimed warm-up pass in `out/warmup`."""
    props = _tables(np.random.default_rng(seed), Path(out), ROWS)
    warm = Path(out) / "warmup"
    warm.mkdir()
    _tables(np.random.default_rng([seed, 1]), warm,
            {k: max(5, v // 100) if k not in ("region", "nation") else v
             for k, v in ROWS.items()})
    return props


def _tables(rng, out, n):
    """The nine sf0.1 tables the relational queries read, regenerated:
    schemas and value domains of sf0.1, keys in their ranges so joins
    match, non-key values and row order drawn from `rng`."""
    r2 = lambda a: np.round(a, 2)

    def write(name, cols):
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    def names(prefix, keys):
        return pa.array([f"{prefix}#{k:09d}" for k in keys], pa.string())

    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], pa.string())})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ck = rng.permutation(n["customer"])
    write("customer", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": pa.array(r2(rng.uniform(-999.99, 9999.99, len(ck)))),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            len(ck)), pa.string())})
    sk = rng.permutation(n["supplier"])
    write("supplier", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": pa.array(r2(rng.uniform(-999.99, 9999.99, len(sk))))})
    pk = rng.permutation(n["part"])
    adj = ["large", "hot", "blue", "small", "steel", "green", "cold", "red"]
    noun = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "wire"]
    write("part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(adj, len(pk)), rng.choice(noun, len(pk)))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, len(pk))], pa.string()),
        "p_type": pa.array(rng.choice(["LARGE", "ECONOMY", "SMALL", "MEDIUM",
                                       "PROMO", "STANDARD"], len(pk)),
                           pa.string()),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": pa.array(r2(900 + (pk % 1000) / 10.0))})
    ok = rng.permutation(n["orders"])
    # a third of the customers place no orders (TPC-H's shape), so the
    # outer, anti and semi joins have both outcomes
    buyers = np.sort(rng.choice(n["customer"], n["customer"] * 2 // 3,
                                replace=False))
    write("orders", {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.choice(buyers, len(ok)), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], len(ok)),
                                  pa.string()),
        "o_totalprice": pa.array(r2(rng.uniform(1000, 500000, len(ok)))),
        "o_orderdate": pa.array(_day_ts(rng, len(ok), "1995-01-01",
                                        "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            len(ok)), pa.string())})
    m = n["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(r2(rng.uniform(900, 105000, m))),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], m), pa.string()),
        "l_shipdate": pa.array(_day_ts(rng, m, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))})
    e = n["events"]
    month_us = 30 * 86400 * 10**6
    write("events", {
        "event_id": pa.array(rng.permutation(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       rng.integers(0, month_us, e).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["signup", "click", "error", "view", "purchase"], e), pa.string()),
        "value": pa.array(r2(rng.uniform(0, 560.21, e))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string())})
    v = n["embeddings"]
    vecs = (rng.standard_normal((v, 64)) * 0.03).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(rng.permutation(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})
    return {"rows": dict(n),
            "bytes": sum((out / f"{t}.parquet").stat().st_size for t in n)}


GENERATORS = {"fileops": file_tree, "corpus_build": corpus,
              "query_mix": tables}
