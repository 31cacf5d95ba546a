"""Seeded input generators for the three benchmark workloads.

Every generator draws from one ``numpy.random.Generator`` seeded with the
run's ``--seed``, so the same seed always gives the same rows. graft only
ever sees the parquet files and YAML configs written here.

- ``star``: a TPC-H-shaped star (nation, customer, orders, lineitem).
- ``versioned``: a base table plus one small arrival batch per round.
- ``corpus``: a document corpus with planted near-duplicate families.
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes (rows) -----------------------------------------------------------

STAR_ORDERS = 400_000          # lineitem is ~4x this
STAR_FILES = 8                 # lineitem / orders are split into this many files
BASE_ROWS = 100_000            # versioned base table
ARRIVAL_ROWS = 500             # per round: 0.5% of the base table
MAX_ROUNDS = 240               # arrival batches pre-generated per run
HOT_SPAN = 5_000               # updates hit the newest keys of the table
DELETE_SPAN = 1_000            # key range one round's delete touches
BUCKETS = 8                    # b = k % BUCKETS, the aggregate read's group
CORPUS_DOCS = 10_000
FAMILY_MIN, FAMILY_MAX = 2, 8  # planted family sizes, far below maxBucket
MAX_BUCKET = 64                # Dedup.minhashLshCapped's cap
FAMILY_DOC_SHARE = 0.35        # share of the corpus that sits in a family
DOC_WORDS = (50, 90)
VOCAB = 30_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = ["A", "N", "R"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
EPOCH_1992 = 8035              # 1992-01-01 as days since 1970-01-01
ORDER_DAYS = 2405              # orders fall in 1992-01-01 .. 1998-08-02


def rng_for(seed, stream):
    """An independent generator per input stream, all derived from one seed."""
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _write_split(table, path, files):
    _fresh(path)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def _date32(days):
    return pa.array(days.astype(np.int32), type=pa.int32()).cast(pa.date32())


def star_tables(seed, orders=STAR_ORDERS):
    rng = rng_for(seed, 1)
    n_cust = max(orders // 10, 1)
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int64)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int64)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int64)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    okeys = np.arange(1, orders + 1, dtype=np.int64)
    odate = EPOCH_1992 + rng.integers(0, ORDER_DAYS, orders)
    order_tbl = pa.table({
        "o_orderkey": pa.array(okeys),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, orders, dtype=np.int64)),
        "o_orderdate": _date32(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, orders)]),
    })
    lines = rng.integers(1, 8, orders)
    n_lines = int(lines.sum())
    l_okey = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_lines) - starts + 1).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_okey),
        "l_linenumber": pa.array(l_linenumber),
        "l_partkey": pa.array(rng.integers(1, 20_001, n_lines, dtype=np.int64)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines, dtype=np.int64)),
        "l_extendedprice_cents": pa.array(rng.integers(90_000, 10_500_000, n_lines, dtype=np.int64)),
        "l_discount_pct": pa.array(rng.integers(0, 11, n_lines, dtype=np.int64)),
        "l_shipdate": _date32(np.repeat(odate, lines) + rng.integers(1, 122, n_lines)),
        "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, n_lines)]),
    })
    return {"nation": nation, "customer": customer, "orders": order_tbl, "lineitem": lineitem}


def write_star(seed, in_dir):
    tables = star_tables(seed)
    for name, t in tables.items():
        files = STAR_FILES if name in ("lineitem", "orders") else 1
        _write_split(t, os.path.join(in_dir, name), files)
    return {name: t.num_rows for name, t in tables.items()}


def versioned_inputs(seed, base_rows=BASE_ROWS, arrival_rows=ARRIVAL_ROWS, rounds=MAX_ROUNDS):
    """Base table, per-round arrival batches and per-round delete ranges.

    Half of each batch updates keys in the newest HOT_SPAN keys of the
    table, half inserts new keys above the current maximum, so a merge
    touches only the table's newest files."""
    rng = rng_for(seed, 2)
    base_k = np.arange(base_rows, dtype=np.int64)
    base = pa.table({
        "k": pa.array(base_k),
        "v": pa.array(rng.integers(0, 1_000_000, base_rows, dtype=np.int64)),
        "b": pa.array((base_k % BUCKETS).astype(np.int32)),
    })
    arrivals, deletes = [], []
    top = base_rows
    half = arrival_rows // 2
    for _ in range(rounds):
        hot_lo = max(top - HOT_SPAN, 0)
        upd = rng.choice(np.arange(hot_lo, top, dtype=np.int64), half, replace=False)
        ins = np.arange(top, top + arrival_rows - half, dtype=np.int64)
        k = np.concatenate([upd, ins])
        arrivals.append(pa.table({
            "k": pa.array(k),
            "v": pa.array(rng.integers(0, 1_000_000, k.size, dtype=np.int64)),
            "b": pa.array((k % BUCKETS).astype(np.int32)),
        }))
        top += arrival_rows - half
        lo = int(rng.integers(max(top - HOT_SPAN, 0), top - DELETE_SPAN))
        deletes.append((lo, lo + DELETE_SPAN))
    return base, arrivals, deletes


def write_versioned(seed, in_dir):
    base, arrivals, deletes = versioned_inputs(seed)
    _write_split(base, os.path.join(in_dir, "base"), 4)
    staged = os.path.join(in_dir, "arrivals")
    _fresh(staged)
    for r, t in enumerate(arrivals):
        pq.write_table(t, os.path.join(staged, f"arrival-{r:05d}.parquet"))
    return {"base": base.num_rows, "arrival": arrivals[0].num_rows, "rounds": len(arrivals)}, deletes


def corpus_table(seed, docs=CORPUS_DOCS):
    """Docs of random words plus planted families: each family is one base
    text and variants that swap a single word, so every variant's 3-word
    shingle Jaccard with the base is about 0.9 while unrelated docs share
    no shingles. Returns the table and the families (lists of doc ids)."""
    rng = rng_for(seed, 3)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(letters[rng.integers(0, 26, int(n))])
                      for n in rng.integers(4, 10, VOCAB)])
    texts, family_of = [], []
    fam_docs = int(docs * FAMILY_DOC_SHARE)
    families = 0
    while len(texts) < fam_docs:
        size = int(rng.integers(FAMILY_MIN, FAMILY_MAX + 1))
        words = vocab[rng.integers(0, VOCAB, int(rng.integers(*DOC_WORDS)))]
        texts.append(" ".join(words))
        for _ in range(size - 1):
            w = words.copy()
            w[int(rng.integers(3, w.size - 3))] = vocab[int(rng.integers(0, VOCAB))]
            texts.append(" ".join(w))
        family_of += [families] * size
        families += 1
    while len(texts) < docs:
        texts.append(" ".join(vocab[rng.integers(0, VOCAB, int(rng.integers(*DOC_WORDS)))]))
        family_of.append(-1)
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) + 1
    quality = rng.integers(0, 1000, n, dtype=np.int64)
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([texts[i] for i in order]),
        "quality": pa.array(quality[order]),
    })
    fam = {}
    for i, f in enumerate(family_of):
        if f >= 0:
            fam.setdefault(f, []).append(int(ids[i]))
    return table, [sorted(m) for m in fam.values()]


def write_corpus(seed, in_dir):
    table, families = corpus_table(seed)
    _write_split(table, os.path.join(in_dir, "corpus"), 8)
    return {"docs": table.num_rows, "families": len(families),
            "family_docs": sum(len(f) for f in families)}
