"""Seeded input generators for the benchmark workloads.

Everything the program reads is a pure function of the seed and the scale:
the same seed writes byte-identical files.

- `tables`: the star schema the query workloads read (region nation customer
  supplier part orders lineitem events documents embeddings), with the column
  names, parquet physical types and value domains of the fixture tables the
  queries were written against.
- `etl_inputs`: the three I94 pipeline inputs -- an I94-shaped CSV, a SAS
  `proc format` labels file and a `;`-delimited demographics CSV -- plus the
  dimension truth the DuckDB side of the check joins against.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
          "order part query row scan slow small sort spark stream table the value vector window").split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(np.int64), n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, seed, sf):
    """Write the ten query tables at scale factor `sf` (sf=0.01: 60k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 25), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_emb = int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(19, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05")})
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, max(n_ev // 67, 1), n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 100, n_doc)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=[0.14, 0.44, 0.14, 0.14, 0.14])],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# ---- I94 pipeline inputs ---------------------------------------------------

_STATES = [("AL", "ALABAMA"), ("AK", "ALASKA"), ("AZ", "ARIZONA"), ("CA", "CALIFORNIA"),
           ("CO", "COLORADO"), ("FL", "FLORIDA"), ("GA", "GEORGIA"), ("HI", "HAWAII"),
           ("IL", "ILLINOIS"), ("MA", "MASSACHUSETTS"), ("NJ", "NEW JERSEY"), ("NV", "NEVADA"),
           ("NY", "NEW YORK"), ("TX", "TEXAS"), ("WA", "WASHINGTON"), ("99", "All Other Codes")]
_MODES = [(1, "Air"), (2, "Sea"), (3, "Land"), (9, "Not reported")]


def _labels(rng):
    """Country, port and state code tables, and the SAS `proc format` text for them."""
    countries = [(int(c), f"COUNTRY {c}") for c in sorted(rng.choice(np.arange(100, 760), 60, replace=False))]
    countries[3] = (countries[3][0], "COTE D'IVOIRE")  # a quoted quote in the SAS source
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    codes = sorted({"".join(letters[rng.integers(0, 26, 3)]) for _ in range(80)})
    ports = []
    for i, code in enumerate(codes):
        if i % 9 == 4:  # no ", ST" suffix: the parser keeps the label as the city
            ports.append((code, f"PORT {code} MEXICO", f"PORT {code} MEXICO", None))
        else:
            st = _STATES[i % (len(_STATES) - 1)][0]
            ports.append((code, f"CITY {code}, {st}", f"CITY {code}", st))
    q = lambda s: s.replace("'", "''")
    src = ["/* I94 labels, generated */", "libname library 'Your file location' ;",
           "proc format library=library ;", "",
           "/* I94CIT & I94RES - valid and invalid codes */", "  value i94cntyl"]
    src += [f"   {c} =  '{q(n)}'" for c, n in countries]
    src += ["   -1 =  'INVALID: NOT REPORTED'", ";", "",
            "/* I94PORT - valid and invalid codes */", "  value $i94prtl"]
    src += [f"\t'{c}'\t=\t'{q(n)}     '" for c, n, _, _ in ports]
    src += [";", "", "/* I94MODE */", "\tvalue i94model"]
    src += [f"\t{c} = '{n}'" for c, n in _MODES]
    src += [";", "", "/* I94ADDR - states */", "\tvalue i94addrl"]
    src += [f"\t'{c}'='{n}'" for c, n in _STATES]
    src += [";", "", "/* I94VISA - Visa codes collapsed into three categories:",
            "   1 = Business", "   2 = Pleasure", "   3 = Student", "*/", ""]
    return countries, ports, "\n".join(src)


def etl_inputs(out_dir, seed, rows):
    """Write `i94.csv` (`rows` lines), `labels.sas`, `demographics.csv` and the
    dimension truth `ports.csv` / `states.csv`. Returns the input byte count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    countries, ports, sas = _labels(rng)
    with open(os.path.join(out_dir, "labels.sas"), "w") as f:
        f.write(sas)
    with open(os.path.join(out_dir, "ports.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["code", "city", "state"])
        w.writerows((c, city, st) for c, _, city, st in ports)
    with open(os.path.join(out_dir, "states.csv"), "w", newline="") as f:
        csv.writer(f).writerows([("code",)] + [(c,) for c, _ in _STATES])

    # ~2% of lines repeat an earlier line's record (a duplicate cicid, identical
    # in every field, so whichever copy dedup keeps gives the same result)
    n_uniq = int(rows * 0.98)
    src = np.concatenate([np.arange(n_uniq), rng.integers(0, n_uniq, rows - n_uniq)])
    cicid = rng.permutation(np.arange(1, 10 * n_uniq))[:n_uniq]
    month = rng.integers(1, 5, n_uniq)
    first = (np.array(["2016-%02d-01" % m for m in month], dtype="datetime64[D]") -
             np.datetime64("1960-01-01", "D")).astype(np.int64)
    arr = first + rng.integers(0, 28, n_uniq)
    stay = rng.integers(0, 120, n_uniq)
    dep = np.where(rng.random(n_uniq) < 0.05, -1, arr + stay)  # -1: null depdate
    state_codes = np.array([c for c, _ in _STATES[:-1]] + ["XX", "ZZ", ""])  # invalid and empty states
    addr = state_codes[rng.integers(0, len(state_codes), n_uniq)]
    port = np.array([p[0] for p in ports])[rng.zipf(1.6, n_uniq) % len(ports)]
    ccodes = np.array([c for c, _ in countries])
    cit, res = ccodes[rng.integers(0, len(ccodes), (2, n_uniq))]
    mode = np.array([1, 1, 1, 2, 3, 9])[rng.integers(0, 6, n_uniq)]
    age = rng.integers(1, 90, n_uniq)
    visa = rng.integers(1, 4, n_uniq)
    ds = rng.random(n_uniq) < 0.1
    gender = np.array(["F", "M", ""])[rng.integers(0, 3, n_uniq)]
    airline = np.array(["AA", "BA", "DL", "LH", "QF", "UA"])[rng.integers(0, 6, n_uniq)]
    visatype = np.array(["B1", "B2", "WT", "WB", "F1", "E2"])[rng.integers(0, 6, n_uniq)]
    admnum = rng.integers(10**10, 10**11, n_uniq)
    fltno = rng.integers(1, 9999, n_uniq)
    arr_day = np.datetime64("1960-01-01", "D") + arr
    yyyymmdd = [d.replace("-", "") for d in np.datetime_as_string(arr_day).tolist()]
    until = np.datetime_as_string(arr_day + 180).tolist()
    dtaddto = ["D/S" if s else f"{d[5:7]}{d[8:10]}{d[:4]}" for s, d in zip(ds.tolist(), until)]

    def num(a):
        return [f"{v}.0" for v in a.tolist()]

    def const(v):
        return [v] * n_uniq

    cols = [
        num(cicid), const("2016.0"), num(month), num(cit), num(res), port.tolist(), num(arr),
        num(mode), addr.tolist(), [f"{v}.0" if v >= 0 else "" for v in dep.tolist()], num(age),
        num(visa), const("1.0"), yyyymmdd, const(""), const(""), const("G"),
        np.where(dep >= 0, "O", "").tolist(), const(""), const("M"), num(2016 - age),
        dtaddto, gender.tolist(), const(""), airline.tolist(),
        num(admnum), [f"{v:05d}" for v in fltno.tolist()], visatype.tolist()]
    records = [",".join(r) for r in zip(*cols)]
    header = ",".join([""] + ("cicid i94yr i94mon i94cit i94res i94port arrdate i94mode i94addr depdate "
                              "i94bir i94visa count dtadfile visapost occup entdepa entdepd entdepu matflag "
                              "biryear dtaddto gender insnum airline admnum fltno visatype").split())
    with open(os.path.join(out_dir, "i94.csv"), "w") as f:
        f.write(header + "\n")
        f.writelines(f"{row_no},{records[i]}\n" for row_no, i in enumerate(src))

    cities = []
    for j, (code, name) in enumerate(_STATES[:-1]):
        for k in range(int(rng.integers(2, 6))):
            city = f"CITY {code}{k}"
            for race in ["White", "Asian", "Hispanic or Latino"]:
                pop = int(rng.integers(50_000, 900_000))
                # ages in halves: their sums are exact in any order, so the
                # engines' averages agree to the last bit
                cities.append([city, name.title(), f"{rng.integers(50, 90) / 2:.1f}", pop // 2, pop - pop // 2,
                               pop, pop // 20, int(pop * rng.uniform(0.05, 0.4)),
                               f"{rng.uniform(2, 3.5):.2f}", code, race, int(pop * rng.uniform(0.1, 0.6))])
    with open(os.path.join(out_dir, "demographics.csv"), "w", newline="") as f:
        w = csv.writer(f, delimiter=";")
        w.writerow(["City", "State", "Median Age", "Male Population", "Female Population",
                    "Total Population", "Number of Veterans", "Foreign-born",
                    "Average Household Size", "State Code", "Race", "Count"])
        w.writerows(cities)
    return sum(os.path.getsize(os.path.join(out_dir, n)) for n in ("i94.csv", "labels.sas", "demographics.csv"))
