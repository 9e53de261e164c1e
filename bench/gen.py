"""Seeded input generators for the benchmark.

Every input the benchmark feeds the program comes from here, and the same
seed always gives byte-identical files.

* ``etl_inputs``: a Price-Paid-shaped CSV and a postcode -> local-authority
  lookup CSV for ``HousingEtlMain`` (shape in README.md, "etl_daily input").
* ``registry_tables``: the ten parquet tables the ``SparkEntry`` queries
  read (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the schemas and value ranges listed in
  FIXTURES.md section 1.
"""
import os

import numpy as np

# etl_daily shape. Scaled down from the production feed so one cold JVM, a
# first daily run and its warm re-runs fit a benchmark run; see README.md.
ETL_ROWS = 40_000
ETL_LAS = 60
ETL_POSTCODES = 4_000
ETL_FIRST_DAY = np.datetime64("2015-01-01")
ETL_DAYS = 3_652                      # 10 years -> ~522 Monday weeks
ETL_TYPES = np.array(["D", "S", "T", "F", "O"])
ETL_JUNK_PRICE = 0.005
ETL_BAD_DATE = 0.002
ETL_BLANK_POSTCODE = 0.01
ETL_UNMAPPED_POSTCODES = 0.02         # share of postcodes missing from lookup


def _postcodes(rng, n):
    letters = np.array(list("ABCDEFGHJKLMNPRSTUWYZ"))
    area = rng.choice(letters, size=(n, 2))
    out = set()
    res = []
    i = 0
    while len(res) < n:
        a = "".join(area[i % n])
        pc = f"{a}{rng.integers(1, 30)} {rng.integers(0, 10)}{''.join(rng.choice(letters, 2))}"
        if pc not in out:
            out.add(pc)
            res.append(pc)
        i += 1
    return np.array(res)


def etl_inputs(seed, out_dir, rows=ETL_ROWS):
    """Write ``pricepaid.csv`` and ``lookup.csv``; return their paths and
    the generated row count."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    pcs = _postcodes(rng, ETL_POSTCODES)
    las = np.array([f"LA{i:03d}" for i in range(ETL_LAS)])
    # Zipf-ish LA sizes: a few big authorities, a long tail of small ones.
    la_w = 1.0 / np.arange(1, ETL_LAS + 1) ** 0.8
    pc_la = rng.choice(las, size=ETL_POSTCODES, p=la_w / la_w.sum())
    mapped = rng.random(ETL_POSTCODES) >= ETL_UNMAPPED_POSTCODES
    lookup = os.path.join(out_dir, "lookup.csv")
    with open(lookup, "w") as f:
        f.write("postcode,local_authority\n")
        for pc, la in zip(pcs[mapped], pc_la[mapped]):
            f.write(f"{pc},{la}\n")

    ids = rng.integers(0, 2**63 - 1, size=rows, dtype=np.int64)
    price = np.round(rng.lognormal(12.4, 0.55, size=rows)).astype(np.int64)
    days = rng.integers(0, ETL_DAYS, size=rows)
    dates = (ETL_FIRST_DAY + days.astype("timedelta64[D]")).astype(str)
    minutes = rng.integers(0, 24 * 60, size=rows)
    pc_idx = rng.integers(0, ETL_POSTCODES, size=rows)
    # Raw postcodes arrive in mixed case and spacing; the ETL normalizes.
    style = rng.integers(0, 3, size=rows)
    types = rng.choice(ETL_TYPES, size=rows, p=[0.25, 0.28, 0.27, 0.15, 0.05])
    junk_price = rng.random(rows) < ETL_JUNK_PRICE
    bad_date = rng.random(rows) < ETL_BAD_DATE
    blank_pc = rng.random(rows) < ETL_BLANK_POSTCODE
    path = os.path.join(out_dir, "pricepaid.csv")
    with open(path, "w") as f:
        f.write("transaction_unique_identifier,price,date_of_transfer,"
                "postcode,property_type\n")
        for i in range(rows):
            pc = pcs[pc_idx[i]]
            if blank_pc[i]:
                pc = ""
            elif style[i] == 1:
                pc = pc.lower()
            elif style[i] == 2:
                pc = pc.replace(" ", "")
            d = "not-a-date" if bad_date[i] else \
                f"{dates[i]} {minutes[i] // 60:02d}:{minutes[i] % 60:02d}"
            p = "noprice" if junk_price[i] else str(price[i])
            f.write(f"{{{ids[i]:016X}}},{p},{d},{pc},{types[i]}\n")
    return path, lookup, rows


# registry shape: the sf0.001 row counts of the graded test data.
REGISTRY_ROWS = {"customer": 150, "supplier": 10, "part": 200,
                 "orders": 1_500, "lineitem": 6_000, "events": 1_000,
                 "documents": 500, "embeddings": 500}
WORDS = ("the stream query row fast small spark group customer line sort hash "
         "batch dup data filter value big key order table scan merge part "
         "window join slow agg column a vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "cold", "old", "new", "hot"]
PART_NOUN = ["widget", "bolt", "rod", "ring", "gizmo", "plate", "anvil", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
NEAR_DUP_SHARE = 0.05


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    span = (np.datetime64(last) - np.datetime64(first)).astype(int)
    return (np.datetime64(first, "us")
            + (rng.integers(0, span + 1, n) * 86_400_000_000).astype("timedelta64[us]"))


def registry_tables(seed, out_dir):
    """Write the ten registry tables as parquet under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    n = REGISTRY_ROWS
    os.makedirs(out_dir, exist_ok=True)
    i64 = lambda k: np.arange(k, dtype=np.int64)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5},
        "customer": {"c_custkey": i64(n["customer"]),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                     "c_mktsegment": rng.choice(SEGMENTS, n["customer"])},
        "supplier": {"s_suppkey": i64(n["supplier"]),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])},
        "part": {"p_partkey": i64(n["part"]),
                 "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(n["part"])],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                 "p_type": rng.choice(PART_TYPES, n["part"]),
                 "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)},
    }
    no = n["orders"]
    odate = _days(rng, "1995-01-01", "2001-08-01", no)
    tables["orders"] = {"o_orderkey": i64(no),
                        "o_custkey": rng.integers(0, n["customer"], no),
                        "o_orderstatus": rng.choice(["F", "O", "P"], no),
                        "o_totalprice": _money(rng, 1000, 500000, no),
                        "o_orderdate": odate,
                        "o_orderpriority": rng.choice(PRIORITIES, no)}
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    tables["lineitem"] = {
        "l_orderkey": lok, "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": odate[lok] + (rng.integers(1, 95, nl) * 86_400_000_000)
        .astype("timedelta64[us]")}
    ne = n["events"]
    month_us = 30 * 86_400_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, ne)).astype("timedelta64[us]")
    tables["events"] = {"event_id": i64(ne), "ts": ts,
                        "user_id": rng.integers(0, 15, ne),
                        "event_type": rng.choice(EVENT_TYPES, ne),
                        "value": np.round(rng.exponential(40.0, ne) + 0.01, 2),
                        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}
    nd = n["documents"]
    # About 5 % of the documents are near-copies of an earlier one (one or
    # two words replaced or inserted), as in the graded test data, so the
    # dedup and similarity operators find pairs.
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 3)):
                pos = rng.integers(0, len(words))
                if rng.random() < 0.5:
                    words[pos] = rng.choice(WORDS)
                else:
                    words.insert(pos, rng.choice(WORDS))
        else:
            words = rng.choice(WORDS, rng.integers(8, 100))
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": i64(nd), "text": texts,
        "lang": rng.choice(LANGS, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {"vec_id": i64(nv),
                            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                            "label": labels}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
