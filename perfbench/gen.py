"""Seeded input generator for the benchmark.

Writes the ten tables the catalog reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) at two sizes: `sf0.1` for the timed pass and `sf0.001` for
warm-up. Cardinalities follow the sf0.1 tables the catalog was built
against (5,000 documents, 2,000 embeddings, 600,000 lineitem rows) and
the relational shapes of `tools/gen_scale.py --relational`; the seed
salts every random choice, so the same seed gives byte-identical tables.

Document shape (what the text queries depend on): 10-100 words drawn
uniformly from a 30-word vocabulary, 5% of documents are a copy of an
earlier document's text plus the marker word " dup", `source` is
`src{doc_id % 20}`, `lang` is `en` 41% and `de/es/fr/zh` the rest.
Embeddings are unit-norm 64-dim gaussian vectors with a uniform label
in 0..9.

Usage: python3 perfbench/gen.py OUTDIR SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
assert len(VOCAB) == 30

# (documents, embeddings, events, customer, supplier, part, orders,
#  lineitem) per size
SIZES = {
    "sf0.1": (5_000, 2_000, 100_000, 15_000, 1_000, 20_000, 150_000, 600_000),
    "sf0.001": (500, 500, 1_000, 150, 10, 200, 1_500, 6_000),
}
PART_WORDS = ("blue red hot cold large small steel brass "
              "ring bolt gear nut pipe wire tube cap").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def documents(rng, n):
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), k)]))
    # near-duplicates: a copy of an earlier, non-copied document's text
    # plus one marker word
    is_dup = rng.random(n) < 0.05
    is_dup[0] = False
    for i in np.flatnonzero(is_dup):
        src = int(rng.integers(0, i))
        while is_dup[src]:
            src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])[rng.choice(
        5, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n):
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def events(rng, n, n_users):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n)].tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def write_size(out, rng, size):
    n_doc, n_vec, n_ev, n_cust, n_supp, n_part, n_ord, n_li = SIZES[size]
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)].tolist()})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    words = np.array(PART_WORDS)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            words[rng.integers(0, 8, n_part)],
            words[rng.integers(8, 16, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                            "ECONOMY", "PROMO"])[
            rng.integers(0, 6, n_part)].tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0,
                                  2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)].tolist()})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["O", "F"])[
            rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2498)})
    _write(out, "events", events(rng, n_ev, max(1, n_ev * 3 // 200)))
    _write(out, "documents", documents(rng, n_doc))
    _write(out, "embeddings", embeddings(rng, n_vec))


def generate(root, seed):
    """Write `root/sf0.1` and `root/sf0.001` for `seed`; each size has
    its own stream so the warm-up tables never shift the timed ones."""
    for i, size in enumerate(("sf0.1", "sf0.001")):
        write_size(os.path.join(root, size),
                   np.random.default_rng([seed, i]), size)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
