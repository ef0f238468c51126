"""Seeded input generators for the benchmark workloads.

Every table is drawn from one numpy PCG64 stream seeded by the workload
seed, so the same seed writes byte-identical files and another seed
writes other values and another row order. Each generator returns a
manifest (seed, table -> row count) that is also written next to the
data as MANIFEST.json.

Star/corpus tables follow the harness test-data schemas (FIXTURES.md
group B); the ETL raw directory follows the reference's raw-data formats
(FIXTURES.md A1-A10).
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _write(table, path):
    # fixed writer options: the output bytes depend only on the data
    pq.write_table(table, path, compression="snappy")


def _manifest(out, seed, counts, **extra):
    m = {"seed": seed, "rows": counts, **extra}
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


def _dates(rng, n, lo_day, span_days):
    days = rng.integers(0, span_days, n)
    return EPOCH_1995 + (lo_day + days) * np.timedelta64(DAY_US, "us")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def star_tables(rng, sf, fact_copies=1):
    """TPC-H-shaped star tables at scale `sf`; orders and lineitem are
    `fact_copies` times larger with disjoint order keys per copy, the
    dimensions stay 1x (a star schema grows in its facts)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf) * fact_copies
    n_li = int(6_000_000 * sf) * fact_copies
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    price = np.round(900.0 + (pk % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(rng.permutation(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, 0, 2405),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    part_of = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(part_of, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[part_of], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, 1, 2499)})
    return t


def corpus_tables(rng, sf):
    """events, documents and embeddings at scale `sf`. 5% of documents
    are near-duplicates (another document's text plus " dup"), so the
    dedup operators find work; embeddings are unit vectors."""
    n_ev, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    t = {}
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    ids = rng.permutation(n_doc)
    texts = [texts[i] for i in ids]
    t["documents"] = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(rng.permutation(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def tables(out, seed, sf, fact_copies=1):
    """All ten harness tables under `out`, one parquet file each."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    t = star_tables(rng, sf, fact_copies)
    t.update(corpus_tables(rng, sf))
    for name, tab in t.items():
        _write(tab, os.path.join(out, f"{name}.parquet"))
    return _manifest(out, seed, {k: v.num_rows for k, v in t.items()},
                     sf=sf, fact_copies=fact_copies)


# ---- ETL raw directory (FIXTURES.md A1-A10) ------------------------------

# names the repo's temperature fixture joins on (FIXTURES.md A10)
FIXTURE_COUNTRIES = ["Afghanistan", "Albania", "Algeria", "Brazil", "China",
                     "Germany", "India", "Japan", "Mexico", "United States"]
STATE_CODES = ["AK", "AL", "AR", "AZ", "CA", "CO", "CT", "DC", "DE", "FL", "GA",
               "HI", "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME",
               "MI", "MN", "MO", "MS", "MT", "NC", "ND", "NE", "NH", "NJ", "NM",
               "NV", "NY", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX",
               "UT", "VA", "VT", "WA", "WI", "WV", "WY"]
RACES = ["White", "Hispanic or Latino", "Asian", "Black or African-American",
         "American Indian and Alaska Native"]
VISATYPES = ["B1", "B2", "CP", "E2", "F1", "GMT", "M1", "WB", "WT"]
SAS_2016 = 20454  # 2016-01-01 as a SAS day offset from 1960-01-01


def _letters(rng, n, k):
    a = rng.integers(0, 26, (n, k)) + ord("A")
    return ["".join(map(chr, row)) for row in a]


def _lines(path, lines):
    # the reference's text extracts have no trailing newline
    with open(path, "w") as f:
        f.write("\n".join(lines))


def _csv(path, header, rows, sep=","):
    with open(path, "w") as f:
        f.write(sep.join(header) + "\n")
        for r in rows:
            f.write(sep.join(r) + "\n")


def etl_raw(out, seed, n_fact, temperature_csv):
    """Raw-data dir in the reference formats; `n_fact` I94 rows."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    counts = {}

    # A3 internal country codes: 236 lines `999 =  'NAME'`; the last 33
    # carry names the ISO file lacks and are corrected by A5
    n_int = 236
    codes = np.sort(rng.choice(np.arange(100, 800), n_int, replace=False))
    names = FIXTURE_COUNTRIES + [f"Country {i}" for i in range(n_int - len(FIXTURE_COUNTRIES))]
    names = [names[i] for i in rng.permutation(n_int)]
    unmatched = set(range(n_int - 33, n_int))
    int_names = [(f"NO COUNTRY CODE ({c})" if i in unmatched else n.upper())
                 for i, (c, n) in enumerate(zip(codes, names))]
    _lines(os.path.join(out, "internal_country_codes.txt"),
           [f"{c} =  '{n}'" for c, n in zip(codes, int_names)])
    counts["internal_country_codes"] = n_int

    # A5 manual corrections, actual name sometimes empty (initcap fallback)
    rows = []
    for i in sorted(unmatched):
        actual = "" if rng.random() < 0.3 else names[i]
        rows.append([str(codes[i]), int_names[i], actual, "synthetic"])
    _csv(os.path.join(out, "unmatched_countries_updated.csv"),
         ["int_country_code", "int_country_name", "actual_country_name", "comment"], rows)
    counts["unmatched_countries_updated"] = len(rows)

    # A2 country codes: 240 rows; phone codes, `AA / AAA` ISO pairs, GDP text
    cc_names = names[: n_int - 33] + [f"Island {i}" for i in range(240 - (n_int - 33))]
    iso2, iso3 = _letters(rng, 240, 2), _letters(rng, 240, 3)
    rows = []
    for i, n in enumerate(cc_names):
        gdp = f"{rng.integers(1, 99999) / 100:.2f} {'Billion' if rng.random() < 0.7 else 'Million'}"
        rows.append([n, str(rng.integers(1, 999)), f"{iso2[i]} / {iso3[i]}",
                     str(rng.integers(10_000, 1_400_000_000)),
                     str(rng.integers(100, 17_000_000)), gdp])
    _csv(os.path.join(out, "country_codes.csv"),
         ["COUNTRY", "COUNTRY CODE", "ISO CODES", "POPULATION", "AREA KM2", "GDP $USD"], rows)
    counts["country_codes"] = len(rows)

    # A4 ports: 591 lines `'XXX'\t=\t'NAME, ST '`
    ports = sorted(set(_letters(rng, 800, 3)))[:591]
    _lines(os.path.join(out, "port_of_entry.txt"),
           [f"'{p}'\t=\t'CITY {p}, {STATE_CODES[rng.integers(0, 51)]} '" for p in ports])
    counts["port_of_entry"] = len(ports)

    # A6 demographics: 2,891 rows, ';'-separated, some empty counts
    rows = []
    for i in range(2891):
        st = STATE_CODES[rng.integers(0, 51)]
        male, female = rng.integers(10_000, 900_000, 2)
        vets = "" if rng.random() < 0.01 else str(rng.integers(100, 90_000))
        rows.append([f"City {i // 5}", f"State {st}", f"{rng.integers(220, 480) / 10:.1f}",
                     str(male), str(female), str(male + female), vets,
                     str(rng.integers(100, 500_000)), f"{rng.integers(180, 400) / 100:.2f}",
                     st, RACES[i % 5], str(rng.integers(50, 500_000))])
    _csv(os.path.join(out, "us-cities-demographics.csv"),
         ["City", "State", "Median Age", "Male Population", "Female Population",
          "Total Population", "Number of Veterans", "Foreign-born",
          "Average Household Size", "State Code", "Race", "Count"], rows, sep=";")
    counts["us-cities-demographics"] = len(rows)

    # A7 airlines: 1,652 rows, quoted names with commas
    alnum = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
    air = sorted({"".join(c) for c in alnum[rng.integers(0, 36, (4000, 3))]})[:1652]
    _csv(os.path.join(out, "airlines.csv"), ["Code", "Airline"],
         [[a, f'"Airline {a}, Inc"'] for a in air])
    counts["airlines"] = len(air)

    # A8/A9: small files the ETL does not read, kept for format parity
    _lines(os.path.join(out, "states.txt"), [f"'{s}'='STATE {s}'" for s in STATE_CODES])
    _csv(os.path.join(out, "visa_categories.csv"), ["visa_code", "visa_name"],
         [["1", "Business"], ["2", "Pleasure"], ["3", "Student"]])

    # A10 temperatures: the repo's deterministic fixture
    shutil.copyfile(temperature_csv, os.path.join(out, "GlobalLandTemperaturesByCountry.csv"))

    # A1 sas_data: the I94 fact source, every numeric a double
    n = n_fact
    arr = SAS_2016 + rng.integers(0, 366, n).astype(np.float64)
    dep = arr + rng.integers(0, 60, n)
    dep[rng.random(n) < 0.05] = np.nan
    month = (np.datetime64("1960-01-01") + arr.astype(np.int64).astype("timedelta64[D]")).astype("datetime64[M]")
    month = (month.astype(int) % 12 + 1).astype(np.float64)
    cit = codes[rng.integers(0, n_int, n)].astype(np.float64)
    res = codes[rng.integers(0, n_int, n)].astype(np.float64)
    birth = rng.integers(0, 95, n).astype(np.float64)
    insnum = np.where(rng.random(n) < 0.9, None,
                      np.where(rng.random(n) < 0.8,
                               rng.integers(1000, 99999, n).astype(str), "FREE TEXT"))
    cols = {
        "cicid": rng.permutation(n).astype(np.float64) + 1.0,
        "i94yr": np.full(n, 2016.0), "i94mon": month,
        "i94cit": cit, "i94res": res,
        "i94port": np.array(ports)[rng.integers(0, len(ports), n)],
        "arrdate": arr,
        "i94mode": np.array([1.0, 2.0, 3.0, 9.0])[rng.choice(4, n, p=[0.9, 0.05, 0.04, 0.01])],
        "i94addr": np.where(rng.random(n) < 0.05, None,
                            np.array(STATE_CODES)[rng.integers(0, 51, n)]),
        "depdate": dep, "i94bir": birth,
        "i94visa": rng.integers(1, 4, n).astype(np.float64),
        "count": np.ones(n), "dtadfile": np.full(n, "20160422"),
        "visapost": np.where(rng.random(n) < 0.6, None, np.array(_letters(rng, 64, 3))[rng.integers(0, 64, n)]),
        "occup": np.where(rng.random(n) < 0.99, None, "STU"),
        "entdepa": np.full(n, "G"),
        "entdepd": np.where(rng.random(n) < 0.05, None, "O"),
        "entdepu": np.full(n, None),
        "matflag": np.where(np.isnan(dep), None, "M"),
        "biryear": 2016.0 - birth, "dtaddto": np.full(n, "10292016"),
        "gender": np.where(rng.random(n) < 0.1, None,
                           np.array(["M", "F"])[rng.integers(0, 2, n)]),
        "insnum": insnum,
        "airline": np.array(air)[rng.integers(0, len(air), n)],
        "admnum": np.round(rng.uniform(1e9, 9.9e10, n)),
        "fltno": rng.integers(1, 9999, n).astype(str),
        "visatype": np.array(VISATYPES)[rng.integers(0, len(VISATYPES), n)],
    }
    types = {k: (pa.float64() if isinstance(v, np.ndarray) and v.dtype == np.float64
                 else pa.string()) for k, v in cols.items()}
    sas = pa.table({k: pa.array(v, types[k]) for k, v in cols.items()})
    os.makedirs(os.path.join(out, "sas_data"), exist_ok=True)
    parts = 4
    step = -(-n // parts)
    for p in range(parts):
        _write(sas.slice(p * step, step), os.path.join(out, "sas_data", f"part-{p:05d}.parquet"))
    counts["sas_data"] = n
    return _manifest(out, seed, counts)
