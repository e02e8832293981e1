"""Seeded inputs and expected answers for the three benchmark workloads.

Everything here is a pure function of (workload, seed): the same seed
writes byte-identical files and the same expected answers.

The star schema and the text/vector corpora follow
``scripts/synth_scale.py``: a base block is drawn from the seed, then
replicated with FK-preserving key offsets (replica i adds i * 10**9 to
every surrogate and foreign key) and per-replica content bijections (an
affine letter cipher on text, a rotation/negation of embedding
coordinates).  Unlike synth_scale, the base block and the replica
transforms come from the seed instead of a fixed source directory.
"""
import json
import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFFSET = 10 ** 9
DAY_US = 86_400_000_000
EPOCH_1995 = 9131  # 1995-01-01 in days since 1970-01-01

# Input sizes per workload.  They are small on purpose: every run makes a
# fresh JVM, builds its layouts cold and warms every op, and the whole
# benchmark (2 workloads x 22 runs) must fit its time budget.
SIZES = {
    "warehouse_scan": {"replicas": 4, "orders": 7_500, "customers": 750,
                       "parts": 1_000, "suppliers": 50,
                       "files": 4, "row_groups_per_file": 4,
                       "avro_files": 4, "small_files": 64,
                       "small_file_rows": 500, "legacy_rows": 20_000},
    "llm_curation": {"replicas": 2, "docs": 500, "vectors": 500, "dim": 64,
                     "clusters": 10, "near_dup_share": 0.2,
                     "exact_dup_share": 0.04, "stream_batches": 2,
                     "stream_batch_docs": 1000, "history_docs": 200,
                     "stream_dup_share": 0.3},
}

# The op mix of each workload, in pass order.  `qdef` ops call
# SparkEntry.queries(name); the others are driven through the program's
# sources/operators/streaming APIs by perfbench/src/Bench.scala.
OPS = {
    "warehouse_scan": [
        ("s1_scan_lineitem", "qdef"), ("p2_filter_predicates", "qdef"),
        ("a1_agg_q1", "qdef"), ("j1_broadcast_join", "qdef"),
        ("j2_shuffle_join", "qdef"), ("a10_percentile_exact", "qdef"),
        ("w3b_range_frame", "qdef"), ("range_scan", "range_scan"),
        ("point_lookup", "point_lookup"), ("bucketed_join", "bucketed_join"),
        ("legacy_date_read", "legacy_date_read"),
        ("avro_to_parquet", "avro_to_parquet"), ("compact", "compact"),
        ("extract_write", "extract_write"),
    ],
    "llm_curation": [
        ("l3d_quality_score", "qdef"), ("l3f_language_id", "qdef"),
        ("l1d_minhash_lsh", "qdef"), ("l1e_simhash", "qdef"),
        ("l40_exact_substring_spans", "qdef"), ("l20_winnowing", "qdef"),
        ("l8_pii_scrub", "qdef"), ("l27_bm25", "qdef"),
        ("l2_cosine_topk", "qdef"), ("l2c_ann_ivf", "qdef"),
        ("l39_semdedup", "qdef"), ("dedup_ingest", "dedup_ingest"),
        ("curated_write", "curated_write"),
    ],
}

# Recall floors for the approximate rows-only QDefs, checked against the
# exact answer computed here.
LSH_PLANTED_RECALL_FLOOR = 0.9
ANN_RECALL_FLOOR = 0.6

# The bucketed layout of the warehouse join answers j2's question.
BUCKETED_JOIN_ORACLE = "j2_shuffle_join"

COPRIMES = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
LOWER = "abcdefghijklmnopqrstuvwxyz"
# the 31 words of the repository's test-data documents, then a long tail
# of syllable words, drawn Zipf-like so unrelated documents share few tokens
BASE_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa"]
VOCAB = BASE_WORDS + [a + b + c for a in SYLLABLES for b in SYLLABLES
                      for c in SYLLABLES[:6]]
VOCAB_P = 1.0 / (np.arange(len(VOCAB)) + 8.0)
VOCAB_P /= VOCAB_P.sum()
LANG_WORDS = {"en": ["the", "and", "of"], "de": ["der", "und", "die"],
              "fr": ["le", "et", "les"], "es": ["el", "y", "los"],
              "zh": ["de", "shi", "zai"]}
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "dark"]
NOUN = ["ring", "widget", "bolt", "anvil", "gear", "spring", "valve", "nut"]

# Drill's corrupt-date shift (ParquetIO.CorrectCorruptDateShiftDays).
DRILL_SHIFT_DAYS = 2 * 2440588


def rng_for(seed, stream):
    """Independent generator per (seed, purpose), so adding a stream
    never perturbs another."""
    return np.random.default_rng([seed, stream])


# ---------------------------------------------------------------- writers

def write_parquet(table, path, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def write_split(table, dir_path, files, row_groups_per_file):
    """One table as a directory of `files` part files with
    `row_groups_per_file` row groups each, in the table's row order."""
    os.makedirs(dir_path, exist_ok=True)
    n = table.num_rows
    per_file = math.ceil(n / files)
    for f in range(files):
        part = table.slice(f * per_file, per_file)
        rg = max(1, math.ceil(part.num_rows / row_groups_per_file))
        write_parquet(part, f"{dir_path}/part-{f:05d}.parquet", rg)


def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_str(s):
    b = s.encode("utf-8")
    return _zigzag(len(b)) + b


def write_avro(path, name, fields, columns, sync):
    """Avro object container file, null codec (spec 1.11 §Object
    Container Files).  `fields` are (name, avro type) with types long,
    int, double, string or the date logical type; `columns` the values."""
    schema = {"type": "record", "name": name, "namespace": "perfbench",
              "fields": [{"name": f, "type": ({"type": "int",
                                                "logicalType": "date"}
                                               if t == "date" else t)}
                         for f, t in fields]}
    enc = {"long": _zigzag, "int": _zigzag, "date": _zigzag,
           "double": lambda v: struct.pack("<d", v), "string": _avro_str}
    encoders = [enc[t] for _, t in fields]
    cols = [c.tolist() if hasattr(c, "tolist") else list(c) for c in columns]
    body = b"".join(b"".join(e(v) for e, v in zip(encoders, row))
                    for row in zip(*cols))
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"null"}
    header = b"Obj\x01" + _zigzag(len(meta)) + b"".join(
        _avro_str(k) + _zigzag(len(v)) + v for k, v in meta.items()) + \
        _zigzag(0) + sync
    n = len(cols[0])
    with open(path, "wb") as fh:
        fh.write(header + _zigzag(n) + _zigzag(len(body)) + body + sync)


# ------------------------------------------------------------ star schema

def star_block(rng, n_orders, n_cust, n_parts, n_supp):
    """One FK-consistent block of the star schema, keys from 0."""
    cust = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }
    supp = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    price = np.round(900.0 + (np.arange(n_parts) % 1000) / 10.0, 2)
    part = {
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
        "p_type": rng.choice(PTYPES, n_parts),
        "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
        "p_retailprice": price,
    }
    odate = EPOCH_1995 + rng.integers(0, 2404, n_orders)
    orders = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": odate.astype(np.int64),  # days; typed on output
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }
    # a fixed 1..7 lines per order keeps row counts seed-independent
    lines = 1 + np.arange(n_orders) % 7
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    pkey = rng.integers(0, n_parts, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    li = {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - start + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": np.repeat(odate, lines) + rng.integers(1, 122, n),
    }
    return {"customer": cust, "supplier": supp, "part": part,
            "orders": orders, "lineitem": li}


KEYS = {"customer": ["c_custkey"], "supplier": ["s_suppkey"],
        "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"]}
TS_COLS = {"o_orderdate", "l_shipdate"}


def replicate(block, replicas):
    """synth_scale's FK-preserving union: replica i offsets every key by
    i * OFFSET and keeps every other value."""
    def rep(t, c, v):
        v = np.asarray(v)
        return np.concatenate([v + i * OFFSET if c in KEYS[t] else v
                               for i in range(replicas)])
    return {t: {c: rep(t, c, v) for c, v in cols.items()}
            for t, cols in block.items()}


def to_arrow(cols):
    arrays, names = [], []
    for c, v in cols.items():
        v = np.asarray(v)
        if c in TS_COLS:
            arrays.append(pa.array(v.astype(np.int64) * DAY_US, pa.timestamp("us")))
        elif v.dtype.kind in "US":
            arrays.append(pa.array(v.tolist(), pa.string()))
        else:
            arrays.append(pa.array(v))
        names.append(c)
    return pa.table(arrays, names=names)


def dims():
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    return region, nation


# ---------------------------------------------------------------- corpora

def cipher(i_a, b):
    a = COPRIMES[i_a]
    lo = "".join(LOWER[(a * k + b) % 26] for k in range(26))
    return str.maketrans(LOWER + LOWER.upper(), lo + lo.upper())


def doc_block(rng, n, near_share, exact_share):
    """`n` documents; a `near_share` of them are near-duplicates (5% of
    tokens substituted) and an `exact_share` exact copies of an earlier
    document.  Returns the columns and the planted (src, copy) pairs."""
    texts, langs, planted = [], [], []
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < near_share + exact_share:
            src = int(rng.integers(0, i))
            toks = texts[src].split()
            if kinds[i] >= exact_share:
                for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                    toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                planted.append((src, i))
            texts.append(" ".join(toks))
            langs.append(langs[src])
            continue
        lang = LANGS[int(rng.choice(5, p=LANG_P))]
        k = int(rng.integers(8, 101))
        toks = [VOCAB[j] for j in rng.choice(len(VOCAB), k, p=VOCAB_P)]
        for j in rng.integers(0, k, max(1, k // 10)):
            toks[j] = LANG_WORDS[lang][int(rng.integers(0, 3))]
        texts.append(" ".join(toks))
        langs.append(lang)
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": langs,
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}, planted


def replicate_docs(rng, block, replicas):
    """Replica 0 verbatim; replica i>0 under a distinct affine cipher drawn
    from the seed (a bijection on characters, so within-replica
    similarity is exact and cross-replica overlap ~0)."""
    space = rng.permutation(len(COPRIMES) * 26 - 1)[:replicas - 1] + 1
    out = {c: list(v) for c, v in block.items()}
    for r, code in enumerate(space, start=1):
        tr = cipher(code // 26, code % 26)
        out["doc_id"] += [d + r * OFFSET for d in block["doc_id"]]
        out["text"] += [t.translate(tr) for t in block["text"]]
        for c in ("lang", "source", "n_chars"):
            out[c] += list(block[c])
    return out


def docs_table(cols):
    return pa.table({"doc_id": pa.array(cols["doc_id"], pa.int64()),
                     "text": pa.array(cols["text"], pa.string()),
                     "lang": pa.array(cols["lang"], pa.string()),
                     "source": pa.array(cols["source"], pa.string()),
                     "n_chars": pa.array(cols["n_chars"], pa.int64())})


def embedding_block(rng, n, dim, clusters):
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    v = centers[label] + rng.normal(scale=0.5 / math.sqrt(dim), size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), label.astype(np.int32)


def replicate_embeddings(rng, vecs, labels, replicas):
    """Replica i rotates coordinates by t and negates when (t // dim) is
    odd, t drawn from the seed (norm- and cosine-preserving)."""
    n, dim = vecs.shape
    ts = [0] + list(rng.permutation(2 * dim - 1)[:replicas - 1] + 1)
    blocks = []
    for t in ts:
        rot = np.roll(vecs, -(t % dim), axis=1)
        blocks.append(-rot if (t // dim) % 2 else rot)
    ids = np.concatenate([np.arange(n, dtype=np.int64) + r * OFFSET
                          for r in range(replicas)])
    allv = np.concatenate(blocks)
    emb = pa.array(list(allv), pa.list_(pa.float32()))
    return pa.table({"vec_id": ids, "embedding": emb,
                     "label": pa.array(np.tile(labels, replicas), pa.int32())})


# --------------------------------------------------------------- workloads

def gen_warehouse(seed, data):
    z = SIZES["warehouse_scan"]
    rng = rng_for(seed, 1)
    block = star_block(rng, z["orders"], z["customers"], z["parts"], z["suppliers"])
    tabs = replicate(block, z["replicas"])
    region, nation = dims()
    write_parquet(region, f"{data}/region.parquet")
    write_parquet(nation, f"{data}/nation.parquet")
    for t in ("customer", "supplier", "part"):
        write_parquet(to_arrow(tabs[t]), f"{data}/{t}.parquet")
    orders = to_arrow(tabs["orders"])
    write_split(orders, f"{data}/orders.parquet", z["files"], z["row_groups_per_file"])
    # lineitem clustered on l_shipdate, so range scans prune row groups
    li = to_arrow(tabs["lineitem"]).sort_by(
        [("l_shipdate", "ascending"), ("l_orderkey", "ascending"),
         ("l_linenumber", "ascending")])
    write_split(li, f"{data}/lineitem.parquet", z["files"], z["row_groups_per_file"])
    # ingest inputs: the orders as Avro records, a lineitem slice as many
    # small files, and a Drill-era file whose DATE values carry the
    # DRILL-4203 shift, flagged by drill.version without
    # parquet-writer.version
    o = tabs["orders"]
    o_fields = [("o_orderkey", "long"), ("o_custkey", "long"),
                ("o_orderstatus", "string"), ("o_totalprice", "double"),
                ("o_orderdate", "date"), ("o_orderpriority", "string")]
    os.makedirs(f"{data}/avro_orders", exist_ok=True)
    per = math.ceil(len(o["o_orderkey"]) / z["avro_files"])
    sync = rng.bytes(16)
    for f in range(z["avro_files"]):
        sl = slice(f * per, (f + 1) * per)
        write_avro(f"{data}/avro_orders/part-{f:05d}.avro", "orders", o_fields,
                   [np.asarray(o[c])[sl] for c, _ in o_fields], sync)
    small = li.slice(0, z["small_files"] * z["small_file_rows"])
    write_split(small, f"{data}/small_files", z["small_files"], 1)
    n = z["legacy_rows"]
    days = (EPOCH_1995 + rng.integers(0, 2404, n)).astype(np.int32)
    legacy = pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                       "d": pa.array(days + DRILL_SHIFT_DAYS, pa.date32())})
    legacy = legacy.replace_schema_metadata({"drill.version": "1.4.0"})
    write_parquet(legacy, f"{data}/legacy_dates/part-00000.parquet")

    lo = EPOCH_1995 + int(rng.integers(0, 2000))
    year = EPOCH_1995 + 365 * int(rng.integers(0, 6))
    keys = tabs["lineitem"]["l_orderkey"]
    return {"range_lo_day": lo, "range_hi_day": lo + 30,
            "extract_lo_day": year, "extract_hi_day": year + 365,
            "lookup_key": int(keys[int(rng.integers(0, len(keys)))]),
            "legacy_days_sum": int(days.astype(np.int64).sum()),
            "legacy_rows": n}


def gen_llm(seed, data):
    z = SIZES["llm_curation"]
    rng = rng_for(seed, 2)
    block, planted = doc_block(rng, z["docs"], z["near_dup_share"], z["exact_dup_share"])
    docs = replicate_docs(rng, block, z["replicas"])
    write_parquet(docs_table(docs), f"{data}/documents.parquet")
    vecs, labels = embedding_block(rng, z["vectors"], z["dim"], z["clusters"])
    write_parquet(replicate_embeddings(rng, vecs, labels, z["replicas"]),
                  f"{data}/embeddings.parquet")

    # document stream for dedupIngest: a history seed, then batches with
    # a seeded share of texts repeated from earlier documents
    n_hist, nb, per = z["history_docs"], z["stream_batches"], z["stream_batch_docs"]
    pool, _ = doc_block(rng, n_hist + nb * per, 0.0, 0.0)
    texts = list(pool["text"])
    dup = rng.random(len(texts)) < z["stream_dup_share"]
    for i in range(n_hist, len(texts)):
        if dup[i]:
            texts[i] = texts[int(rng.integers(0, i))]
    tab = docs_table(dict(pool, text=texts,
                          n_chars=np.array([len(t) for t in texts], dtype=np.int64)))
    write_parquet(tab.slice(0, n_hist), f"{data}/history/part-00000.parquet")
    for b in range(nb):
        p = f"{data}/stream/batch-{b:05d}.parquet"
        write_parquet(tab.slice(n_hist + b * per, per), p)
        # the file source orders batches by modification time
        os.utime(p, (1_600_000_000 + b, 1_600_000_000 + b))
    return {"planted_pairs": [[r * OFFSET + a, r * OFFSET + b]
                              for r in range(z["replicas"]) for a, b in planted],
            "distinct_texts": len(set(texts)),
            "distinct_text_chars": sum(len(t) for t in set(texts))}


GENERATORS = {"warehouse_scan": gen_warehouse, "llm_curation": gen_llm}


def file_stats(path):
    """(files, bytes, row groups, rows) of a parquet file or directory."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_")))
    n_bytes = sum(os.path.getsize(f) for f in files)
    rgs = rows = 0
    for f in files:
        if f.endswith(".parquet"):
            md = pq.ParquetFile(f).metadata
            rgs += md.num_row_groups
            rows += md.num_rows
    return len(files), n_bytes, rgs, rows


def generate(workload, seed, data):
    """Write the workload's inputs under `data`; return the manifest
    (per input: files, bytes, row groups, rows) and the seeded params."""
    params = GENERATORS[workload](seed, data)
    inputs = {}
    for name in sorted(os.listdir(data)):
        files, n_bytes, rgs, rows = file_stats(os.path.join(data, name))
        key = name[:-len(".parquet")] if name.endswith(".parquet") else name
        inputs[key] = {"path": name, "files": files, "bytes": n_bytes,
                       "row_groups": rgs, "rows": rows}
    if workload == "warehouse_scan":
        inputs["avro_orders"]["rows"] = inputs["orders"]["rows"]
    else:
        z = SIZES[workload]
        inputs["documents"]["near_dup_share"] = z["near_dup_share"]
        inputs["documents"]["exact_dup_share"] = z["exact_dup_share"]
        inputs["stream"]["dup_share"] = z["stream_dup_share"]
    manifest = {"workload": workload, "seed": seed, "inputs": inputs,
                "params": params}
    with open(f"{data}/manifest.json", "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
