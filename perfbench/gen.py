"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files, another seed writes different rows
of the same shape and count.

* `gen_tables` writes the engine's gate schema (TPC-H-ish star tables, the
  `events` stream table, `documents` and `embeddings`) as one parquet file
  per table, in the value ranges of the gate's own test data.
* `replicate_corpus` widens documents and embeddings into R disjoint
  replicas, the same scaling model `graft.tools.ScaleCorpus` uses.
* `gen_medallion` stages the regulators' raw feeds for the paper's
  bronze -> silver -> gold job (FDIC JSON, NCUA CSV) including the dirty
  rows the silver cleanse must quarantine, and returns the closed-form
  silver rows the cleanse must produce from them.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

STATES = {
    "AL": "Alabama", "AK": "Alaska", "AZ": "Arizona", "AR": "Arkansas",
    "CA": "California", "CO": "Colorado", "CT": "Connecticut",
    "DE": "Delaware", "DC": "District Of Columbia", "FL": "Florida",
    "GA": "Georgia", "HI": "Hawaii", "ID": "Idaho", "IL": "Illinois",
    "IN": "Indiana", "IA": "Iowa", "KS": "Kansas", "KY": "Kentucky",
    "LA": "Louisiana", "ME": "Maine", "MD": "Maryland",
    "MA": "Massachusetts", "MI": "Michigan", "MN": "Minnesota",
    "MS": "Mississippi", "MO": "Missouri", "MT": "Montana",
    "NE": "Nebraska", "NV": "Nevada", "NH": "New Hampshire",
    "NJ": "New Jersey", "NM": "New Mexico", "NY": "New York",
    "NC": "North Carolina", "ND": "North Dakota", "OH": "Ohio",
    "OK": "Oklahoma", "OR": "Oregon", "PA": "Pennsylvania",
    "RI": "Rhode Island", "SC": "South Carolina", "SD": "South Dakota",
    "TN": "Tennessee", "TX": "Texas", "UT": "Utah", "VT": "Vermont",
    "VA": "Virginia", "WA": "Washington", "WV": "West Virginia",
    "WI": "Wisconsin", "WY": "Wyoming", "AS": "American Samoa",
    "GU": "Guam", "MP": "Northern Mariana Islands", "PR": "Puerto Rico",
    "VI": "Virgin Islands"}


def _write(table, path):
    # one row group, no dictionary surprises: the files are a function of
    # the rows alone, so equal seeds give equal bytes
    pq.write_table(table, path, compression="snappy")


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "us")
    off = rng.integers(0, n_days * 86_400_000_000, n)
    return base + off.astype("timedelta64[us]")


def _picks(rng, n, share):
    """Exactly round(share * n) distinct indices below n, so the amount of
    each kind of row is the same for every seed and only which rows differs."""
    return set(rng.permutation(n)[:round(share * n)].tolist())


def _docs(rng, n):
    """Documents of 10-99 words (the same multiset of lengths for every
    seed); 5% are near duplicates (an earlier original plus one word) and
    0.4% exact duplicates of an earlier original."""
    lengths = rng.permutation(np.linspace(10, 99, n).round().astype(int))
    dups = sorted(11 + i for i in _picks(rng, n - 11, 0.054))
    exact = set(dups[::14])
    texts, originals = [], []
    for i in range(n):
        if dups and i == dups[0]:
            dups.pop(0)
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            texts.append(src if i in exact else src + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i])))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def gen_tables(out_dir, seed, sf, docs, vecs):
    """The gate schema at scale factor `sf` (lineitem = 6e6 * sf rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(names)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust).tolist())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = ["red", "small", "large", "cold", "hot", "old", "new", "blue"]
    noun = ["widget", "bolt", "rod", "plate", "ring", "anvil", "gear", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(np.datetime64("1995-01-01", "us") + (
            rng.integers(0, 2404, n_ord) * 86_400_000_000).astype("timedelta64[us]")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord).tolist())})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": pa.array(np.datetime64("1995-01-02", "us") + (
            rng.integers(0, 2498, n_line) * 86_400_000_000).astype("timedelta64[us]"))})
    ts = np.sort(_ts("2024-01-01", 30, rng, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(n_cust, 1), n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = _docs(rng, docs)
    t["embeddings"] = _embeddings(rng, vecs)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def replicate_corpus(dir_, replicas):
    """Widen documents/embeddings in `dir_` to R disjoint replicas: replica
    r suffixes every token with `x<r>` (no shared shingles across replicas)
    and rotates each embedding by r coordinates (an orthogonal map, so
    intra-replica geometry is preserved exactly)."""
    docs = pq.read_table(os.path.join(dir_, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(dir_, "embeddings.parquet"))
    out_d = {k: [] for k in docs}
    for r in range(replicas):
        for i in range(len(docs["doc_id"])):
            text = docs["text"][i] if r == 0 else " ".join(
                f"{w}x{r}" for w in docs["text"][i].split(" "))
            out_d["doc_id"].append(docs["doc_id"][i] + r * 10_000_000)
            out_d["text"].append(text)
            out_d["lang"].append(docs["lang"][i])
            out_d["source"].append(docs["source"][i])
            out_d["n_chars"].append(len(text))
    _write(pa.table(out_d, schema=pq.read_schema(
        os.path.join(dir_, "documents.parquet")).remove_metadata()),
        os.path.join(dir_, "documents.parquet"))
    x = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    ids = emb.column("vec_id").to_numpy()
    labels = emb.column("label").to_numpy()
    xs = [np.roll(x, r, axis=1) for r in range(replicas)]
    _write(pa.table({
        "vec_id": pa.array(np.concatenate([ids + r * 10_000_000 for r in range(replicas)])),
        "embedding": pa.array(list(np.concatenate(xs)), pa.list_(pa.float32())),
        "label": pa.array(np.concatenate([labels] * replicas))}),
        os.path.join(dir_, "embeddings.parquet"))


# --------------------------------------------------------------- medallion

def quarter_ends(first_year, n):
    out, y, q = [], first_year, 1
    for _ in range(n):
        m = 3 * q
        d = 31 if m in (3, 12) else 30
        out.append(dt.date(y, m, d))
        y, q = (y + 1, 1) if q == 4 else (y, q + 1)
    return out


def _name(rng, k=2):
    return " ".join("".join(chr(97 + c) for c in rng.integers(0, 26, int(rng.integers(4, 9))))
                    for _ in range(k))


def gen_medallion(out_dir, seed, banks, cus, quarters, states=len(STATES)):
    """Stage the raw feeds under `out_dir` and return the closed form:
    {"silver": [row tuples], "staged_rows": n, ...}. Silver rows are
    (charter_number, city, name, quarter_date, state, website,
    assets_total, deposits_total, institution_type). Institutions are
    spread over `states` of the 56 state codes."""
    rng = np.random.default_rng(seed)
    qs = quarter_ends(2015, quarters)
    abbrevs = sorted(STATES)[::len(STATES) // states][:states]
    fdic = os.path.join(out_dir, "fdic")
    os.makedirs(os.path.join(fdic, "institutions"), exist_ok=True)
    os.makedirs(os.path.join(fdic, "financials"), exist_ok=True)
    for t in ("foicu", "fs220", "fs220d"):
        os.makedirs(os.path.join(out_dir, "ncua", t), exist_ok=True)
    silver = []
    staged = 0

    # FDIC banks: one institutions record each, one financials record per
    # quarter. Inactive banks and malformed report dates are quarantined;
    # empty or missing websites are imputed, not quarantined.
    # Every kind of dirty row comes in an exact count, and every state
    # holds the same number of institutions, so only which rows differs
    # between seeds.
    inst_lines = []
    fin_lines = {q: [] for q in qs}
    inactive = _picks(rng, banks, 0.08)
    no_web, empty_web = _picks(rng, banks, 0.04), _picks(rng, banks, 0.06)
    bad_fin = _picks(rng, banks * quarters, 0.02)
    bank_state = rng.permutation([abbrevs[i % states] for i in range(banks)])
    for b in range(banks):
        cert = 10_000 + b
        active = b not in inactive
        city, name = _name(rng, 1), _name(rng, 2)
        stname = STATES[bank_state[b]]
        web = None if b in no_web else ("" if b in empty_web else f"WWW.BANK{cert}.COM")
        rec = {"ACTIVE": "1" if active else "0", "CERT": str(cert),
               "CITY": city.upper(), "ID": str(cert), "NAME": name.title(),
               "REPDTE": f"{qs[-1].month}/{qs[-1].day}/{qs[-1].year}",
               "STNAME": stname.upper()}
        if web is not None:
            rec["WEBADDR"] = web
        inst_lines.append(json.dumps({"data": rec}))
        for k, q in enumerate(qs):
            staged += 1
            asset = int(rng.integers(10_000, 5_000_000))
            dep = int(asset * rng.uniform(0.5, 0.95))
            bad = b * quarters + k in bad_fin
            repdte = q.isoformat() if bad else q.strftime("%Y%m%d")
            fin_lines[q].append(json.dumps({"data": {
                "ASSET": asset, "CERT": str(cert), "DEP": dep,
                "ID": f"{cert}_{q:%Y%m%d}", "REPDTE": repdte}}))
            if active and not bad:
                silver.append((cert, city.title(), name.upper(), q, stname.title(),
                               web.lower() if web else "Not Provided",
                               asset, dep, "bank"))
    with open(os.path.join(fdic, "institutions", "part-0.json"), "w") as f:
        f.write("\n".join(inst_lines) + "\n")
    for q in qs:
        with open(os.path.join(fdic, "financials", f"{q:%Y%m%d}.json"), "w") as f:
            f.write("\n".join(fin_lines[q]) + "\n")

    # NCUA credit unions: FOICU (identity), FS220 (balances) and FS220D
    # (website) per quarter, joined on (CU_NUMBER, CYCLE_DATE). Unknown
    # state codes and malformed cycle dates are quarantined.
    cu_rows = {q: ([], [], []) for q in qs}
    unknown = _picks(rng, cus, 0.03)
    empty_cu_web = _picks(rng, cus, 0.10)
    bad_foicu_rows = _picks(rng, cus * quarters, 0.02)
    bad_fs220_rows = _picks(rng, cus * quarters, 0.01)
    cu_state = rng.permutation([abbrevs[i % states] for i in range(cus)])
    for c in range(cus):
        cu = 1_000_000 + c
        city, name = _name(rng, 1), _name(rng, 2)
        unknown_state = c in unknown
        st = "ZZ" if unknown_state else cu_state[c]
        web = "" if c in empty_cu_web else f"WWW.CU{cu}.ORG"
        for k, q in enumerate(qs):
            staged += 1
            good = f"{q.month}/{q.day:02d}/{q.year} 0:00:00"
            bad_foicu = c * quarters + k in bad_foicu_rows
            bad_fs220 = c * quarters + k in bad_fs220_rows
            assets = int(rng.integers(1_000, 2_000_000))
            deps = int(assets * rng.uniform(0.6, 0.95))
            foicu, fs220, fs220d = cu_rows[q]
            foicu.append([cu, name.upper(), city.upper(), st,
                          q.isoformat() if bad_foicu else good])
            fs220.append([cu, q.isoformat() if bad_fs220 else good, assets, deps,
                          "N/A" if rng.random() < 0.5 else str(int(rng.integers(0, 99)))])
            fs220d.append([cu, good, web])
            if not (unknown_state or bad_foicu or bad_fs220):
                silver.append((cu, city.title(), name.upper(), q, STATES[st],
                               web.lower() if web else "Not Provided",
                               assets, deps, "credit union"))
    heads = (["CU_NUMBER", "CU_NAME", "CITY", "STATE", "CYCLE_DATE"],
             ["CU_NUMBER", "CYCLE_DATE", "ACCT_010", "ACCT_018", "ACCT_671"],
             ["CU_NUMBER", "CYCLE_DATE", "Acct_891"])
    for q in qs:
        for t, head, rows in zip(("foicu", "fs220", "fs220d"), heads, cu_rows[q]):
            with open(os.path.join(out_dir, "ncua", t, f"{q:%Y%m}.csv"), "w") as f:
                f.write(",".join(head) + "\n")
                for r in rows:
                    f.write(",".join(str(v) for v in r) + "\n")
    return {"silver": silver, "staged_rows": staged, "quarters": qs}
