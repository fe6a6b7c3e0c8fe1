"""Seeded input generators for the benchmark workloads.

The engine only ever sees the files written here; nothing is read from a
shared data directory, so the same seed gives byte-identical inputs on any
host.

- ``write_mr_envelope`` writes the reference's map-stage envelope: about
  700k ``key\\t1`` lines in 4 files.
- ``write_tables`` writes the star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the registry queries read,
  in the same physical layout as the reference test data (one parquet file
  per table, one row group, SNAPPY, ``timestamp[us]``).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- MR input

MR_LINES = 700_478   # the reference's input_large_intermediate line count
MR_FILES = 4         # ... split over 4 files
MR_VOCAB = 50_000    # distinct ordinary keys
MR_ZIPF_S = 1.1      # key skew: rank r drawn with weight 1 / r**s

# Why these choices (recorded in every artifact as well):
MR_CHOICES = {
    "lines": "700,478 lines in 4 files is the reference's map-stage "
             "envelope (test_worker_11: under 10 s, R=2)",
    "vocab": "50k distinct keys keeps the reducer's output large enough "
             "that the sink and the reduce pipe do real work",
    "zipf_s": "word-like skew (s=1.1): a few hot keys make the two md5 "
              "partitions unequal, as real word counts are",
    "edge_keys": "the reference's edge cases: the empty key, '[' and ']', "
                 "non-ASCII keys and lines with no TAB",
    "no_final_newline": "the last file has no final newline, so a reader "
                        "that concatenates files would join two lines",
    "no_spaces": "no key holds a space, which wc_reduce.sh's awk would split",
}

# Edge-case keys mixed into the stream. Non-ASCII ones cover 2-, 3- and
# 4-byte UTF-8 sequences, where byte order and UTF-16 order disagree.
EDGE_KEYS = ["", "[", "]", "[]", "a[b]", "café", "naïve", "日本語",
             "Ωmega", "\U0001F600smile", "ß", "ﬁ"]


def _vocab(rng, n):
    """n distinct lowercase ASCII words, 3 to 10 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    out, seen = [], set()
    while len(out) < n:
        need = n - len(out)
        lens = rng.integers(3, 11, size=need * 2)
        codes = rng.choice(letters, size=(need * 2, 10))
        for L, row in zip(lens, codes):
            w = row[:L].tobytes().decode("ascii")
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def mr_lines(seed):
    """The envelope's lines, in order, without newlines."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, MR_VOCAB)
    ranks = np.arange(1, MR_VOCAB + 1, dtype=np.float64)
    p = ranks ** -MR_ZIPF_S
    p /= p.sum()
    idx = rng.choice(MR_VOCAB, size=MR_LINES, p=p)
    lines = [vocab[i] + "\t1" for i in idx]
    # ~0.2% edge-case lines at seeded positions: edge keys with a TAB, and
    # bare words with no TAB at all (the whole line is then the key).
    n_edge = MR_LINES // 500
    pos = rng.choice(MR_LINES, size=n_edge, replace=False)
    kinds = rng.integers(0, 4, size=n_edge)
    for j, (at, kind) in enumerate(zip(pos, kinds)):
        if kind == 0:
            lines[at] = vocab[idx[at]]
        else:
            lines[at] = EDGE_KEYS[j % len(EDGE_KEYS)] + "\t1"
    return lines


def write_mr_envelope(seed, out_dir):
    """Write MR_FILES files; returns their paths. The last file has no
    final newline."""
    os.makedirs(out_dir, exist_ok=True)
    lines = mr_lines(seed)
    per = -(-len(lines) // MR_FILES)
    paths = []
    for f in range(MR_FILES):
        chunk = lines[f * per:(f + 1) * per]
        body = "\n".join(chunk) + ("" if f == MR_FILES - 1 else "\n")
        path = os.path.join(out_dir, f"file{f + 1:02d}")
        with open(path, "wb") as fh:
            fh.write(body.encode("utf-8"))
        paths.append(path)
    return paths


# ----------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
P_NOUN = ["bolt", "gear", "plate", "ring", "nut", "pipe", "valve", "wheel"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

US_PER_DAY = 86_400_000_000


def _days_us(start, end):
    """[start, end] as microseconds since epoch (numpy datetime strings)."""
    return (np.datetime64(start, "us").astype(np.int64),
            np.datetime64(end, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 30)


def _random_dates(rng, start, end, n):
    lo, hi = _days_us(start, end)
    days = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n)
    return pa.array(lo + days * US_PER_DAY, pa.timestamp("us"))


def table_rows(sf):
    """Row counts per table at scale factor sf (reference ratios)."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = table_rows(sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out_dir}/nation.parquet")

    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    }), f"{out_dir}/customer.parquet")

    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }), f"{out_dir}/supplier.parquet")

    p = n["part"]
    pk = np.arange(p)
    _write(pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }), f"{out_dir}/part.parquet")

    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _random_dates(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    }), f"{out_dir}/orders.parquet")

    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _random_dates(rng, "1995-01-02", "2001-11-04", li),
    }), f"{out_dir}/lineitem.parquet")

    e = n["events"]
    t0, _ = _days_us("2024-01-01", "2024-01-01")
    # Exponential gaps that spread the events over January 2024 at any
    # scale (26 s mean at sf0.1).
    gaps = np.maximum(1, rng.exponential(30 * US_PER_DAY / max(e, 1), e))
    gaps = gaps.astype(np.int64)
    _write(pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{out_dir}/events.parquet")

    d = n["documents"]
    words = np.array(DOC_WORDS)
    texts = []
    for i in range(d):
        # 5% near-duplicates: an earlier document plus one trailing token.
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), f"{out_dir}/documents.parquet")

    v = n["embeddings"]
    vec = rng.standard_normal((v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32),
    }), f"{out_dir}/embeddings.parquet")
    return n
