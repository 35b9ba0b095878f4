"""Input generators for the benchmark.

`make_tables` writes the ten analytics tables the query packs read
(TPC-H-like star schema, an `events` stream, `documents` with planted
near-duplicates and unit-norm `embeddings`), one single-row-group parquet
file each, with the schemas the program's loaders expect.

`make_corpus` writes the MapReduce workload's input directories and
returns the results each batch job must produce, computed here with the
engine's documented line and KV rules, independently of the program.

Both are pure functions of their seed: the same seed gives the same bytes.
"""

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(path, columns):
    pq.write_table(pa.table(columns), path, row_group_size=1 << 30)


def _dates(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(out_dir, sf, seed=42):
    """Write the analytics tables at scale factor `sf` (lineitem = 6e6*sf rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, min(2000, int(20000 * sf)))
    n_users = int(15000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                        pa.string())

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                             n_cust)})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick([f"{c} {n}" for c in colors for n in nouns], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(_dates(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                n_ord)})
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(_dates(rng, "1995-01-02", 2498, n_li), pa.timestamp("us"))})
    month_us = 30 * 86400 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 5% of documents are a near-duplicate of another one: its text plus " dup"
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    dup_set = set(dups.tolist())
    bases = [i for i in range(n_doc) if i not in dup_set]
    for d, b in zip(dups, rng.choice(bases, len(dups))):
        texts[d] = texts[b] + " dup"
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ---------------------------------------------------------------- MapReduce
#
# Where each corpus parameter comes from. No source gives the size or
# shape of the system's production inputs, so most are chosen; each says so.
#
#   ZIPF_S = 1.0      cited: word frequencies in natural text follow Zipf's
#                     law with exponent close to 1 (Zipf 1949; Piantadosi,
#                     "Zipf's word frequency law in natural language",
#                     Psychon. Bull. Rev. 21, 2014).
#   LINE_WORDS 3..13  tied to the repo's wordcount smoke corpus
#                     (FIXTURES.md 1.1): its 13 lines hold 3 to 13 tokens.
#   SEPS              tied to the same corpus, which separates tokens by
#                     single and double spaces; tabs are added because the
#                     engine's whitespace rule ([ \t]+) accepts them.
#   STEMS = 3000,     chosen: thousands of distinct reduce keys over four
#   CASED = 300+300   partitions, with an upper-case and a capitalised
#                     variant of the 300 most frequent stems, so `lowercase`
#                     merges keys that `tokenize` alone keeps apart.
#   BLANK_EVERY = 30  chosen: enough blank and whitespace-only lines that
#                     the engine's drop rule runs in every file.
#   BOUNDED_PER_KEY   chosen: about 6 values per key, so the generic
#     = 6             mapGroups reduce (`concat_sorted`) sees short groups.
#   FILES = 32        chosen: "a few dozen" input files, more than the
#                     smoke corpus's 13 so every split holds several.
#   TEXT_LINES,       chosen to fit the run-time budget: one pass over the
#   KV_LINES          five job groups takes about 4 s at local[4].

ZIPF_S = 1.0
LINE_WORDS = (3, 13)
BLANK_EVERY = 30
BOUNDED_PER_KEY = 6
STEMS, CASED = 3000, 300
FILES = 32
TEXT_LINES, KV_LINES = 60000, 40000

_LEAD_WS = re.compile(r"^[ \t]+")
_WS = re.compile(r"[ \t]+")


def parse_kv(line):
    """The engine's line -> (key, value) rule: drop whitespace-only lines,
    strip leading whitespace, key = first token, value = the rest after the
    first whitespace run ("" when absent)."""
    if not line.strip(" \t"):
        return None
    parts = _WS.split(_LEAD_WS.sub("", line), maxsplit=1)
    return parts[0], parts[1] if len(parts) > 1 else ""


def tokens(line):
    return [t for t in _WS.split(line) if t]


def _zipf_words(rng, vocab, n, s=ZIPF_S):
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -s
    return np.asarray(vocab, dtype=object)[rng.choice(len(vocab), n, p=p / p.sum())]


def _spread(lines, n_files, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(lines) // n_files)
    for f in range(n_files):
        with open(f"{out_dir}/{f}", "w", newline="\n") as fh:
            fh.write("".join(l + "\n" for l in lines[f * per:(f + 1) * per]))


def make_corpus(out_dir, seed, text_lines=TEXT_LINES, kv_lines=KV_LINES, files=FILES):
    """Write the MapReduce inputs under `out_dir`. Returns the input dirs
    {"text", "kv", "kv_bounded"}, each job's expected result, and the
    records each reducing job's map side emits."""
    rng = np.random.default_rng(seed)
    stems = [f"w{i:04d}{'abcdefghij'[i % 10]}" for i in range(STEMS)]
    vocab = stems + [w.upper() for w in stems[:CASED]] + [w.capitalize() for w in stems[:CASED]]
    seps = np.array([" ", "\t", "  ", " \t "], dtype=object)

    def lines_of(rows):
        """Join each row's words with random whitespace runs; one line in ten
        also gets leading whitespace."""
        gaps = seps[rng.integers(0, len(seps), sum(len(r) for r in rows))]
        leads = np.where(rng.random(len(rows)) < 0.9, "",
                         seps[rng.integers(0, len(seps), len(rows))])
        out, i = [], 0
        for row, lead in zip(rows, leads):
            out.append(lead + "".join(w + g for w, g in zip(row[:-1], gaps[i:])) + row[-1])
            i += len(row)
        return out

    def blanks(lines):
        for i in rng.choice(len(lines), len(lines) // BLANK_EVERY, replace=False):
            lines[i] = str(seps[rng.integers(0, len(seps))]) if rng.random() < 0.5 else ""
        return lines

    counts = rng.integers(LINE_WORDS[0], LINE_WORDS[1] + 1, text_lines)
    words = _zipf_words(rng, vocab, int(counts.sum()))
    ends = np.cumsum(counts)
    text = blanks(lines_of([words[e - c:e] for c, e in zip(counts, ends)]))

    keys = _zipf_words(rng, vocab, kv_lines)
    vals = rng.integers(0, 100000, kv_lines)
    kv = blanks(lines_of([[k, str(v)] for k, v in zip(keys, vals)]))

    bounded_keys = rng.integers(0, kv_lines // BOUNDED_PER_KEY, kv_lines)
    kvb = lines_of([[f"k{k:06d}", f"v{v:05d}"]
                    for k, v in zip(bounded_keys, rng.integers(0, 100000, kv_lines))])

    dirs = {"text": f"{out_dir}/text", "kv": f"{out_dir}/kv", "kv_bounded": f"{out_dir}/kvb"}
    _spread(text, files, dirs["text"])
    _spread(kv, files, dirs["kv"])
    _spread(kvb, files, dirs["kv_bounded"])
    n_tokens = sum(len(tokens(l)) for l in text)
    emitted = {"wordcount": n_tokens, "lower_count": n_tokens,
               "concat_sorted": sum(1 for l in kvb if parse_kv(l))}
    return dirs, expected_results(text, kv, kvb), emitted


def expected_results(text, kv, kvb):
    """Each job's output as {key: value}, or as a sorted line list for the
    map-only job (whose keys repeat)."""
    from collections import Counter, defaultdict
    tok = Counter(t for l in text for t in tokens(l))
    low = Counter(t for l in text for t in tokens(l.lower()))
    pairs = [p for p in map(parse_kv, kv) if p]
    by_key = defaultdict(list)
    for k, v in pairs:
        by_key[k].append(v)
    bounded = defaultdict(list)
    for k, v in filter(None, map(parse_kv, kvb)):
        bounded[k].append(v)
    return {
        "wordcount": {k: str(v) for k, v in tok.items()},
        "lower_count": {k: str(v) for k, v in low.items()},
        "identity": sorted(f"{k} {v}" for k, v in pairs),
        "split_count": {k: str(v) for k, v in low.items()},
        "concat_sorted": {k: ",".join(sorted(vs)) for k, vs in bounded.items()},
        "chained_max": {k: max(vs) for k, vs in by_key.items()},
    }
