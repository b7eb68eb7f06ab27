"""Seeded input generator for the benchmark workloads.

Everything the program reads is made here from the seed: the TPC-H-ish
tables plus `events`, `documents` and `embeddings` for the query suites,
and the profile changelog, mapping table and bookmark seed for the sync
jobs. The expected delivery for the sync jobs is computed here too,
independently of the program, from the same generated rows.
"""
import csv
import datetime as dt
import io
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic properties per size. "full" is what BENCHMARK.json measures;
# "tiny" is the benchmark's own smoke test (test_tiny.py).
SYNC = {
    "full": {
        "sync_backfill": {"keys": 36000, "rows": 360000, "hot_share": 0.03,
                          "files": 8},
        "sync_nightly": {"keys": 40000, "nights": 30, "files_per_night": 2,
                         "delta_fraction": 0.015},
    },
    "tiny": {
        "sync_backfill": {"keys": 400, "rows": 4000, "hot_share": 0.03,
                          "files": 2},
        "sync_nightly": {"keys": 2000, "nights": 30, "files_per_night": 1,
                         "delta_fraction": 0.015},
    },
}
SYNC_COMMON = {"delete_share": 0.05, "blank_share": 0.001, "tie_share": 0.05,
               "attributes": ["mobile", "reward", "dob", "city", "note"]}
QUERY_SCALE = {"full": {"customers": 1500, "orders": 15000, "lineitem": 60000,
                        "events": 10000, "users": 150, "documents": 500},
               "tiny": {"customers": 300, "orders": 1500, "lineitem": 6000,
                        "events": 1000, "users": 30, "documents": 120}}

EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------- queries

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def query_tables(out, seed, size):
    """The eight TPC-H-ish tables plus documents/embeddings, one parquet
    file each under `out`, in the schemas the queries read."""
    rng = np.random.default_rng(seed)
    s = QUERY_SCALE[size]
    nc, no, nl, ne, nu, nd = (s["customers"], s["orders"], s["lineitem"],
                              s["events"], s["users"], s["documents"])
    npart, nsupp = max(nc * 4 // 3, 50), max(nc // 15, 10)
    ts = pa.timestamp("us")
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           f"{out}/nation.parquet")
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                    "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": seg[rng.integers(0, 5, nc)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(nsupp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
        "s_nationkey": pa.array(rng.integers(0, 25, nsupp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, nsupp), 2)}),
        f"{out}/supplier.parquet")
    adj = np.array("red small hot old large blue big cold".split())
    noun = np.array("plate widget ring rod bolt gizmo gear nut".split())
    _write(pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 1)}),
        f"{out}/part.parquet")
    day0 = _micros(dt.datetime(1995, 1, 1))
    days = 2404  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(day0 + rng.integers(0, days, no)
                                * 86_400_000_000, ts),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, no)]}), f"{out}/orders.parquet")
    okey = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, nsupp, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(day0 + rng.integers(1, days + 95, nl)
                               * 86_400_000_000, ts)}),
        f"{out}/lineitem.parquet")
    ev0 = _micros(dt.datetime(2024, 1, 1))
    _write(pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(np.sort(ev0 + rng.integers(0, 30 * 86_400_000_000, ne)),
                       ts),
        "user_id": pa.array(rng.integers(0, nu, ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.02, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(nd):
        if i % 20 == 19:  # planted near-duplicate: exactly 5% of documents
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(
                0, len(WORDS), int(rng.integers(8, 100)))]))
    _write(pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "zh", "es", "de", "fr"])[
            rng.integers(0, 6, nd)],
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    emb = rng.normal(0, 0.12, (nd, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(nd), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nd), pa.int32())}),
        f"{out}/embeddings.parquet")


# ------------------------------------------------------------------- sync

CITIES = ["Mumbai", "New Delhi, NCR", 'Bengaluru "Silicon" Valley', "Pune",
          "Kolkata", "Chennai, TN", "Jaipur"]


def _attr_values(rng, n):
    """Messy raw attribute strings in the shapes the sanity transforms
    handle (FIXTURES.md): float-artifact and short mobiles, unparseable
    rewards, pre-1900 / BC / garbage dates, free text with commas and
    quotes."""
    ten = rng.integers(6_000_000_000, 9_999_999_999, n)
    form = rng.integers(0, 10, n)
    mobile = [str(t) if f < 6 else f"91{t}" if f < 8 else f"{t}.0" if f < 9
              else str(t % 100000) for t, f in zip(ten, form)]
    rwd = rng.integers(0, 10_000_000, n)
    reward = [f"{r // 100}.{r % 100:02d}" if r % 50 else "n/a" for r in rwd]
    y = rng.integers(1950, 2006, n)
    m = rng.integers(1, 13, n)
    d = rng.integers(1, 29, n)
    dform = rng.integers(0, 20, n)
    dob = []
    for yy, mm, dd, f in zip(y, m, d, dform):
        if f < 14:
            dob.append(f"{yy}-{mm:02d}-{dd:02d}")
        elif f < 17:
            dob.append(f"{yy}-{mm:02d}-{dd:02d} 10:00:00")
        elif f == 17:
            dob.append(f"18{yy % 100:02d}-{mm:02d}-{dd:02d}")
        elif f == 18:
            dob.append(f"0{yy % 1000:03d}-{mm:02d}-{dd:02d} BC")
        else:
            dob.append("unknown")
    city = [CITIES[c] for c in rng.integers(0, len(CITIES), n)]
    wn = rng.integers(0, len(WORDS), (n, 4))
    note = [f'{WORDS[a]} {WORDS[b]}, "{WORDS[c]}" {WORDS[e]}'
            for a, b, c, e in wn]
    return {"mobile": mobile, "reward": reward, "dob": dob, "city": city,
            "note": note}


def _changelog_table(ids, ts_us, version, ctype, attrs):
    return pa.table({
        "customer_id": ids,
        **attrs,
        "segment": ["seg" + str(len(i) % 3) for i in ids],  # not mapped
        "_change_type": ctype,
        "_commit_timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "_commit_version": pa.array(version, pa.int64())})


def _write_split(table, dirpath, nfiles, rng, stem):
    os.makedirs(dirpath, exist_ok=True)
    part = rng.integers(0, nfiles, table.num_rows)
    for f in range(nfiles):
        idx = np.nonzero(part == f)[0]
        pq.write_table(table.take(pa.array(idx)),
                       f"{dirpath}/{stem}-{f:03d}.parquet")


def _versions(rng, keys, rows, hot_share):
    """Zipf-skewed versions per key: rank r gets ceil(hot·rows / r) head
    versions (so the top few keys each carry ≥1% of rows), plus a
    geometric tail spreading the remaining rows over every key."""
    rank = np.arange(1, keys + 1)
    head = np.ceil(hot_share * rows / rank).astype(np.int64)
    head[head < 2] = 0
    rest = max(rows - int(head.sum()), keys)
    tail = rng.geometric(min(1.0, keys / rest), keys)
    v = head + tail
    return v[rng.permutation(keys)]


def sync_inputs(out, workload, seed, size):
    """Writes the changelog, mapping table and (nightly) bookmark seed.
    Returns the job spec for the harness and a function that computes the
    expected delivery (called after the measured run, so the check's
    cost stays out of the set-up time)."""
    rng = np.random.default_rng(seed)
    p = dict(SYNC[size][workload], **SYNC_COMMON)
    base = _micros(dt.datetime(2024, 1, 1))
    day = 86_400_000_000
    if workload == "sync_backfill":
        vers = _versions(rng, p["keys"], p["rows"], p["hot_share"])
        key_of = np.repeat(np.arange(p["keys"]), vers)
        n = len(key_of)
        # per-key increasing commit times over 30 days, with ties
        ts = base + rng.integers(0, 30 * day, n)
        order = np.lexsort((ts, key_of))
        key_of, ts = key_of[order], ts[order]
        first = np.r_[True, key_of[1:] != key_of[:-1]]
        tie = (~first) & (rng.random(n) < p["tie_share"])
        ts = np.where(tie, np.r_[ts[:1], ts[:-1]], ts)
        version = np.arange(n) - np.maximum.accumulate(
            np.where(first, np.arange(n), 0))
        bookmark = None
        files = {"changelog": p["files"]}
    else:
        nights = p["nights"]
        delta = max(1, int(p["keys"] * p["delta_fraction"]))
        parts = [(np.arange(p["keys"]), np.zeros(p["keys"], np.int64))]
        for night in range(1, nights + 1):
            k = rng.choice(p["keys"], delta, replace=False)
            k = np.repeat(k, rng.integers(1, 4, delta))
            parts.append((k, np.full(len(k), night)))
        key_of = np.concatenate([a for a, _ in parts])
        night_of = np.concatenate([b for _, b in parts])
        ts = (base + night_of * day + 1_000_000
              + rng.integers(0, day - 2_000_000, len(key_of)))
        order = np.lexsort((ts, key_of))
        key_of, ts, night_of = key_of[order], ts[order], night_of[order]
        first = np.r_[True, key_of[1:] != key_of[:-1]]
        version = np.arange(len(key_of)) - np.maximum.accumulate(
            np.where(first, np.arange(len(key_of)), 0))
        n = len(key_of)
        # every repetition replays the last night past this bookmark
        bookmark = base + nights * day
        files = {"nights": nights, "files_per_night": p["files_per_night"]}
    ids = np.array([str(100000 + k) for k in key_of], dtype=object)
    blank = rng.random(n) < p["blank_share"]
    ids[blank] = np.where(rng.random(int(blank.sum())) < 0.5, "", "  ")
    ctype = np.where(version == 0, "insert", "update_postimage").astype(object)
    deletes = (version > 0) & (rng.random(n) < p["delete_share"])
    ctype[deletes] = "delete"
    attrs = _attr_values(rng, n)
    table = _changelog_table(list(ids), ts, version, list(ctype), attrs)
    log = f"{out}/changelog"
    if workload == "sync_backfill":
        shuffled = table.take(pa.array(rng.permutation(n)))
        _write_split(shuffled, log, p["files"], rng, "part")
    else:
        for night in range(p["nights"] + 1):
            idx = np.nonzero(night_of == night)[0]
            _write_split(table.take(pa.array(idx)), log,
                         1 if night == 0 else p["files_per_night"], rng,
                         f"night-{night:03d}")
    platform = "clevertap" if workload == "sync_backfill" else "netcore"
    _write(pa.table({
        "property_name": SYNC_COMMON["attributes"] + ["unused_col", "segment"],
        "clevertap": [True] * 6 + [False], "netcore": [True] * 6 + [False]}),
        f"{out}/mapping/part-0.parquet")
    spec = {"workload": workload, "root": out, "platform": platform,
            "bookmark_us": bookmark, "rows": int(n), "keys": int(p["keys"]),
            **files}
    return spec, lambda: expected_delivery(ids, ts, version, ctype, attrs,
                                           bookmark)


# ------------------------------------------- independent expected delivery

def _mobile(s):
    try:
        t = str(int(float(s)))[-10:]
    except (ValueError, OverflowError):
        return None
    return t if re.fullmatch(r"[0-9]{10}", t) else None


def _reward(s):
    try:
        return str(int(float(s) * 100))
    except (ValueError, OverflowError):
        return None


def _dob(s):
    s = re.sub(" BC$", "", s)
    m = re.fullmatch(r"(\d{4})-(\d{2})-(\d{2})( \d{2}:\d{2}:\d{2})?", s)
    if not m:
        return None
    y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if y < 1900:
        y = 1952
    return f"{y:04d}-{mo:02d}-{d:02d}"


TRANSFORMS = {"mobile": _mobile, "reward": _reward, "dob": _dob,
              "city": lambda s: s, "note": lambda s: s}


def expected_delivery(ids, ts, version, ctype, attrs, bookmark):
    """Latest insert/update per key past the bookmark (ties broken by
    version), transformed; keyed by identity. Also the new bookmark and
    the count of invalid (blank-identity) keys."""
    keep = np.isin(ctype, ["insert", "update_postimage"])
    if bookmark is not None:
        keep &= ts > bookmark
    idx = np.nonzero(keep)[0]
    latest = {}
    for i in idx:
        k = ids[i]
        j = latest.get(k)
        if j is None or (ts[i], version[i]) > (ts[j], version[j]):
            latest[k] = i
    rows, invalid = {}, 0
    for k, i in latest.items():
        ident = k.strip()
        if ident in ("", "0", "0.0"):
            invalid += 1
            continue
        rows[ident] = {a: TRANSFORMS[a](attrs[a][i])
                       for a in SYNC_COMMON["attributes"]}
    new_bm = int(ts[idx].max()) if len(idx) else bookmark
    return {"rows": rows, "invalid": invalid, "bookmark_us": new_bm}


def check_ledger(path, platform, expected):
    """Compares the stub's delivery ledger of the priming run with the
    expected delivery. Returns (missing, duplicated, wrong) counts."""
    seen, dup, wrong = set(), 0, 0
    attrs = SYNC_COMMON["attributes"]
    with open(path, encoding="utf-8") as f:
        for line in f:
            if platform == "clevertap":
                rec = json.loads(line)
                ident = rec["identity"]
                got = rec["profileData"]
                want = {a: v for a, v in
                        expected["rows"].get(ident, {}).items()
                        if v is not None}
            else:
                header, row = line.rstrip("\n").split("\t", 1)
                cols = next(csv.reader(io.StringIO(header)))
                vals = next(csv.reader(io.StringIO(row)))
                rec = dict(zip(cols, vals))
                ident = rec.pop("identity_id").strip()
                got = rec
                want = {a: v if v is not None else ""
                        for a, v in expected["rows"].get(ident, {}).items()}
                want = {a: want[a] for a in attrs if a in want}
            if ident in seen:
                dup += 1
                continue
            seen.add(ident)
            if ident not in expected["rows"] or got != want:
                wrong += 1
    missing = len(set(expected["rows"]) - seen)
    return missing, dup, wrong
