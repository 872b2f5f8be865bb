"""Seeded input generator for the repo benchmark.

Every input the benchmarked program sees is written here, from the seed
alone; the program receives only the generated files. The same
(workload, seed) always yields byte-identical inputs, so a cached copy is
reused across runs. Generation time is never part of a metric.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import sys
import zipfile
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- ingest_burst ----------------------------------------------------------
BURST_FILES = 100          # files per burst (assumed): ten lie beyond p90
LARGE_FILES = 1            # one file in the burst holds >= 10k rows
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)

# ---- catalog_mix -----------------------------------------------------------
WORDS = ("join hash row batch scan column customer filter small slow merge order vector line "
         "table data agg value key stream window a spark part group big sort query fast the").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def md5_60(s):
    """First 60 bits of md5(s): the per-row term of the order-free content hash."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def cents(c):
    return str(Decimal(int(c)).scaleb(-2))


def iso_ms(ms):
    return (EPOCH + dt.timedelta(milliseconds=int(ms))).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def ms_of(ms):
    return int((EPOCH + dt.timedelta(milliseconds=int(ms))).timestamp() * 1000)


def sizes(rng, draw, n):
    """n sizes from one fixed multiset (drawn once from seed 0), in an
    order set by `rng`: every seed gets the same amount of work, and the
    seed decides which input carries which share of it."""
    return rng.permutation(draw(np.random.default_rng(0), n))


def oid(rng):
    return "".join("%02x" % b for b in rng.integers(0, 256, 12))


def gen_ingest(rng, out):
    """100 zips in the FIXTURES B1/B2 shape (metadata.json + one ext-JSON
    lines member per entity), contacts from customer-shaped rows and
    transactions from orders-shaped rows. Sizes are heavy-tailed: most
    files hold tens of rows, one holds 11k. The burst size and the size
    distribution are assumed: neither the reference nor this repository
    records the sizes of the files that land. `expected.json` holds, per
    zip and entity, the row count and the order-free content hash of the
    rows the pipeline must land (mapping + enrichment applied)."""
    zdir = os.path.join(out, "zips")
    os.makedirs(zdir)
    # the large files sit at fixed positions of the dispatch order, so the
    # burst's shape (and its land-time distribution) is the same per seed
    small = sizes(rng, lambda r, k: np.clip(r.lognormal(np.log(30), 0.6, k), 5, 400).astype(int),
                  BURST_FILES - LARGE_FILES)
    large = {BURST_FILES * (i + 1) // (LARGE_FILES + 1): 11000 for i in range(LARGE_FILES)}
    expected = {}
    cust, order = 0, 0
    for f in range(BURST_FILES):
        n = large[f] if f in large else int(small[f - sum(1 for x in large if x < f)])
        company = "c-%03d" % (f % 17)
        contacts, transactions = [], []
        c_hash = t_hash = 0
        keys = np.arange(cust, cust + n)
        cust += n
        segs = rng.integers(0, len(SEGMENTS), n)
        bal = rng.integers(-99999, 1000000, n)
        created = rng.integers(0, 6 * 365 * 86400 * 1000, n)
        for i in range(n):
            k, seg = int(keys[i]), SEGMENTS[segs[i]]
            o, name = oid(rng), "Customer#%09d" % k
            email = "customer%d@%s.example" % (k, seg.lower())
            contacts.append(json.dumps({
                "_id": {"$oid": o}, "external_id": "cust-%d" % k, "company_id": company,
                "name": name, "email": email, "segment": seg,
                "acctbal": {"$numberDecimal": cents(bal[i])}, "created_at": {"$date": iso_ms(created[i])}}))
            c_hash += md5_60("|".join([o, "cust-%d" % k, company, name.upper(), email, seg,
                                        cents(bal[i]), str(ms_of(created[i])), seg.lower() + ".example"]))
        m = n + n // 4
        owners = rng.integers(0, n, m)
        price = rng.integers(101370, 49997859, m)
        st = rng.integers(0, 3, m)
        pr = rng.integers(0, 5, m)
        when = rng.integers(0, 6 * 365 * 86400 * 1000, m)
        for i in range(m):
            k, o = order, oid(rng)
            order += 1
            amount = cents(price[i])
            band = "high" if price[i] >= 10000000 else "mid" if price[i] >= 1000000 else "low"
            transactions.append(json.dumps({
                "_id": {"$oid": o}, "external_id": "ord-%d" % k, "company_id": company,
                "contact_external_id": "cust-%d" % int(keys[owners[i]]),
                "amount": {"$numberDecimal": amount}, "status": STATUSES[st[i]],
                "priority": PRIORITIES[pr[i]], "ts": {"$date": iso_ms(when[i])}}))
            t_hash += md5_60("|".join([o, "ord-%d" % k, company, "cust-%d" % int(keys[owners[i]]), amount,
                                        STATUSES[st[i]], PRIORITIES[pr[i]], str(ms_of(when[i])), band]))
        name = "drop-%04d.zip" % f
        with zipfile.ZipFile(os.path.join(zdir, name), "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("metadata.json", json.dumps({"workflow_system_name": "crm_x", "company_id": company}))
            z.writestr("contact.json", "\n".join(contacts))
            z.writestr("transaction.json", "\n".join(transactions))
        expected[name] = {"contact": [n, str(c_hash)], "transaction": [m, str(t_hash)]}
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh)


def gen_catalog(rng, out):
    """The ten catalog tables, in the TESTDATA schemas, at sf0.01 row counts."""
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir)
    ts = pa.timestamp("us")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(tdir, name + ".parquet"))

    def days(lo, n):
        return pa.array((np.datetime64(lo) + rng.integers(0, 2400, n).astype("timedelta64[D]")).astype("datetime64[us]"), ts)

    n_cust, n_ord, n_li, n_part, n_supp = 1500, 15000, 60000, 2000, 100
    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    write("customer", {"c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                       "c_name": ["Customer#%09d" % i for i in range(n_cust)],
                       "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                       "c_acctbal": pa.array(rng.integers(-99999, 1000000, n_cust) / 100.0),
                       "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {"s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                       "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
                       "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                       "s_acctbal": pa.array(rng.integers(-99999, 1000000, n_supp) / 100.0)})
    adj = "cold small large red hot blue old new".split()
    noun = "widget bolt plate ring rod gizmo nut gear".split()
    write("part", {"p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                   "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                   "p_brand": ["Brand#%d" % i for i in rng.integers(1, 26, n_part)],
                   "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i] for i in rng.integers(0, 6, n_part)],
                   "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                   "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    write("orders", {"o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
                     "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
                     "o_totalprice": pa.array(rng.integers(101370, 49997859, n_ord) / 100.0),
                     "o_orderdate": days("1995-01-01", n_ord),
                     "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    write("lineitem", {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
                       "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
                       "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
                       "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                       "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                       "l_extendedprice": pa.array(rng.integers(90182, 10499788, n_li) / 100.0),
                       "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                       "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                       "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
                       "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
                       "l_shipdate": days("1995-01-02", n_li)})
    n_ev = 10000
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    write("events", {"event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                     "ts": pa.array(ev_ts, pa.int64()).cast(ts),
                     "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
                     "event_type": [["click", "error", "purchase", "signup", "view"][i] for i in rng.integers(0, 5, n_ev)],
                     "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2) + 0.01),
                     "props": ['{"k": %d}' % i for i in rng.integers(0, 100, n_ev)]})
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near-duplicate of an earlier doc
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))))
    write("documents", {"doc_id": pa.array(np.arange(n_doc, dtype=np.int64)), "text": texts,
                        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
                        "source": ["src%d" % (i % 20) for i in range(n_doc)],
                        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    n_vec, dim = 500, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 0.12, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 0.06, (n_vec, dim))).astype(np.float32)
    write("embeddings", {"vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                         "label": pa.array(labels.astype(np.int32))})


GENERATORS = {"ingest_burst": gen_ingest, "catalog_mix": gen_catalog}


def generate(workload, seed, out):
    """Write the inputs of (workload, seed) to `out` unless a complete copy is there."""
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    salt = sorted(GENERATORS).index(workload)
    GENERATORS[workload](np.random.default_rng([seed, salt]), out)
    open(done, "w").close()
    return out


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
