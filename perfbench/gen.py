"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(kind, seed, scale)``: the same
arguments give byte-identical files (``content_hash`` proves it, see
``python3 perfbench/gen.py --check``). Inputs are written under the
benchmark's work directory, outside the tracked tree, and cached by
``(kind, seed, scale)`` so repeated runs with one seed generate once.

Kinds:

- ``star``: reference-shaped raw CSVs (FIXTURES.md §1) — ticket sales with
  ``M/D/YYYY`` dates, dirty section casing/whitespace and invalid rows,
  section capacity, hourly weather and the markets dimension — plus
  ``truth.json`` with the valid-ticket total the generator knows.
- ``tpch``: TPC-H-schema parquet (FIXTURES.md §3): region, nation,
  customer, supplier, part, orders, lineitem and events.
- ``corpus``: a Zipfian multi-language, multi-source document corpus with
  planted exact copies, near-duplicates at known edit rates and
  contaminated eval passages; ``truth.json`` lists every planted item.
- ``index``: documents with text and clustered embeddings for the
  serving workload; change batches are derived from the same seed by
  :func:`change_batch`.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MARKETS = [
    ("BOS_01", "Boston", "Boston Arena", "US", 42.3601, -71.0589, "America/New_York"),
    ("MIN_01", "Minnesota", "Minnesota Arena", "US", 44.9778, -93.2650, "America/Chicago"),
    ("MTL_01", "Montreal", "Montreal Arena", "CA", 45.5017, -73.5673, "America/Toronto"),
    ("NYC_01", "New York", "New York Arena", "US", 40.7128, -74.0060, "America/New_York"),
    ("OTT_01", "Ottawa", "Ottawa Arena", "CA", 45.4215, -75.6972, "America/Toronto"),
    ("TOR_01", "Toronto", "Toronto Arena", "CA", 43.6532, -79.3832, "America/Toronto"),
    ("SEA_01", "Seattle", "Seattle Arena", "US", 47.6062, -122.3321, "America/Los_Angeles"),
    ("VAN_01", "Vancouver", "Vancouver Arena", "CA", 49.2827, -123.1207, "America/Vancouver"),
]
SECTIONS = ["Lower Bowl", "Upper Bowl", "Club", "Suite", "Standing Room"]
CHANNELS = ["Mobile App", "Group Sales", "Box Office", "Online"]
PRICES = [25.0, 35.0, 50.0, 65.0, 80.0, 120.0, 250.0]

# stopword markers per language, matching the language-ID heuristic's
# marker vocabulary, so generated text carries a recoverable language
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "les", "des", "est", "une"],
}
LANG_SHARE = {"en": 0.55, "es": 0.2, "de": 0.15, "fr": 0.1}
SOURCES = ["web", "books", "forum", "news"]
NEAR_DUP_RATES = (0.02, 0.05, 0.1, 0.2)

SCALES = {
    # kind -> scale name -> size knobs
    "star": {
        "tiny": {"sales": 600, "days": 4},
        "full": {"sales": 25_000, "days": 60},
    },
    "tpch": {
        "tiny": {"orders": 400, "customers": 60, "parts": 80, "suppliers": 10, "events": 400, "users": 4},
        "full": {"orders": 12_000, "customers": 1_500, "parts": 2_000, "suppliers": 100, "events": 12_000, "users": 12},
    },
    "corpus": {
        "tiny": {"docs": 240, "eval": 6},
        "full": {"docs": 2_000, "eval": 24},
    },
    "index": {
        "tiny": {"docs": 300, "dim": 16, "clusters": 8},
        "full": {"docs": 2_000, "dim": 32, "clusters": 48},
    },
}


def _rng(seed: int, *tags) -> np.random.Generator:
    """Independent deterministic stream per (seed, tag) — adding a table
    never shifts another table's values."""
    h = hashlib.sha256(repr((seed, *tags)).encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def content_hash(path: str) -> str:
    """sha256 over every file's relative name and bytes, in sorted order."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f == "_DONE":
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(",".join(header) + "\n")
        for r in rows:
            fh.write(",".join(r) + "\n")


def _write_parquet(path: str, table: pa.Table, parts: int = 1) -> None:
    """One file, or — for the big tables, as a warehouse lays them out — a
    directory of ``parts`` files of consecutive rows."""
    if parts == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet", compression="snappy")


def _raw_date(rng, d) -> str:
    """Raw date in M/D/YYYY (the reference's form) or, for ~10%, ISO."""
    if rng.random() < 0.1:
        return d.isoformat()
    return f"{d.month}/{d.day}/{d.year}"


def _dirty_section(rng, s: str) -> str:
    form = rng.integers(0, 4)
    if form == 0:
        return s
    if form == 1:
        return s.lower()
    if form == 2:
        return "  " + s.upper().replace(" ", "   ") + " "
    return s.lower().replace(" ", "  ")


def gen_star(out: str, seed: int, size: dict) -> None:
    import datetime as dt

    rng = _rng(seed, "star")
    days = [dt.date(2025, 1, 1) + dt.timedelta(days=i) for i in range(size["days"])]

    _write_csv(
        f"{out}/markets.csv",
        ["venue_id", "market", "venue", "country", "lat", "lon", "timezone"],
        [(v, m, ve, c, repr(la), repr(lo), tz) for v, m, ve, c, la, lo, tz in MARKETS],
    )

    cap_rows = []
    for d in days:
        for s in SECTIONS:
            cap_rows.append((_raw_date(rng, d), _dirty_section(rng, s), str(int(rng.integers(400, 3000)))))
    _write_csv(f"{out}/section_capacity.csv", ["event_date", "section", "section_capacity"], cap_rows)

    valid_tickets = 0
    n = size["sales"]
    day_i = rng.integers(0, len(days), n)
    sec_i = rng.integers(0, len(SECTIONS), n)
    price_i = rng.integers(0, len(PRICES), n)
    tickets = rng.integers(1, 9, n)
    chan_i = rng.integers(0, len(CHANNELS), n)
    bad = rng.random(n)
    rows = []
    for i in range(n):
        price = PRICES[price_i[i]]
        nt = int(tickets[i])
        nt_s, price_s, spend_s = str(nt), repr(price), repr(round(price * nt, 2))
        if bad[i] < 0.01:
            nt_s, spend_s = "n/a", ""          # unparsable ticket count
        elif bad[i] < 0.02:
            price_s, spend_s = "TBD", "abc"    # unparsable money
            valid_tickets += nt
        else:
            valid_tickets += nt
        rows.append((
            _raw_date(rng, days[day_i[i]]),
            _dirty_section(rng, SECTIONS[sec_i[i]]),
            str(int(rng.integers(1, 40))),
            str(int(rng.integers(1, 30))),
            price_s,
            ("  " if bad[i] > 0.97 else "") + CHANNELS[chan_i[i]],
            f"ACCT{20000 + int(rng.integers(0, 5000))}",
            nt_s,
            spend_s,
        ))
    _write_csv(
        f"{out}/ticket_sales.csv",
        ["event_date", "section", "row", "seat", "ticket_price", "purchase_channel",
         "acct_id", "num_tickets", "total_spend"],
        rows,
    )

    wx = []
    for _, market, venue, *_ in MARKETS:
        base = float(rng.normal(-2.0, 6.0))
        for d in days:
            day_shift = float(rng.normal(0.0, 4.0))
            for h in range(24):
                wx.append((
                    f"{d.isoformat()}T{h:02d}:00",
                    repr(round(base + day_shift + 4.0 * np.sin((h - 8) / 24 * 2 * np.pi) + float(rng.normal(0, 1)), 1)),
                    repr(float(rng.integers(40, 100))),
                    repr(round(float(rng.gamma(2.0, 3.0)), 1)),
                    repr(round(float(rng.exponential(0.4)) if rng.random() < 0.25 else 0.0, 1)),
                    market,
                    venue,
                ))
    _write_csv(
        f"{out}/weather_hourly.csv",
        ["time", "temperature_2m", "relative_humidity_2m", "wind_speed_10m",
         "precipitation", "market", "venue"],
        wx,
    )
    with open(f"{out}/truth.json", "w") as fh:
        json.dump({"valid_tickets": valid_tickets, "n_markets": len(MARKETS)}, fh)


def gen_tpch(out: str, seed: int, size: dict) -> None:
    rng = _rng(seed, "tpch")
    n_nat, n_cust, n_part, n_supp, n_ord = 25, size["customers"], size["parts"], size["suppliers"], size["orders"]
    _write_parquet(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write_parquet(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(n_nat), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nat)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32()),
    }))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write_parquet(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        # nations 1 and 2 are over-represented so the Q7 nation pair has rows
        "c_nationkey": pa.array(np.where(rng.random(n_cust) < 0.2, rng.integers(1, 3, n_cust), rng.integers(0, n_nat, n_cust)), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }))
    _write_parquet(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(np.where(rng.random(n_supp) < 0.2, rng.integers(1, 3, n_supp), rng.integers(0, n_nat, n_supp)), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }))
    words = np.array(["small", "red", "large", "blue", "ring", "widget", "bolt", "green"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write_parquet(f"{out}/part.parquet", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(words[rng.integers(0, 8, n_part)], words[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }))
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 6 * 365, n_ord).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    n_lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(np.arange(n_ord), n_lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n_li = len(lk)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = odate[lk] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    total = np.zeros(n_ord)
    np.add.at(total, lk, price * (1 + tax) * (1 - disc))
    _write_parquet(f"{out}/orders.parquet", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(total, 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }), parts=4)
    _write_parquet(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    }), parts=4)
    n_ev, n_users = size["events"], size["users"]
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write_parquet(f"{out}/events.parquet", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        # nanosecond timestamps, as the warehouse's event feed stores them
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }), parts=4)


def _vocab(seed: int, lang: str, n: int) -> list[str]:
    """Deterministic pseudo-words for one language: consonant-vowel
    syllables, distinct, with a per-language suffix so languages share
    no content words."""
    rng = _rng(seed, "vocab", lang)
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    words, seen = [], set()
    while len(words) < n:
        w = "".join(cons[rng.integers(0, 16)] + vows[rng.integers(0, 5)] for _ in range(int(rng.integers(2, 4))))
        w += {"en": "", "es": "o", "de": "en", "fr": "e"}[lang]
        if w not in seen and w not in LANG_MARKERS[lang]:
            seen.add(w)
            words.append(w)
    return words


def _zipf_text(rng, vocab: list[str], markers: list[str], n_tok: int) -> list[str]:
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    toks = [vocab[i] for i in rng.choice(len(vocab), n_tok, p=p)]
    for j in rng.choice(n_tok, max(1, n_tok // 6), replace=False):
        toks[j] = markers[int(rng.integers(0, len(markers)))]
    return toks


def gen_corpus(out: str, seed: int, size: dict) -> None:
    rng = _rng(seed, "corpus")
    vocabs = {lang: _vocab(seed, lang, 3000) for lang in LANG_MARKERS}
    langs = list(LANG_SHARE)
    n = size["docs"]
    n_exact = n * 3 // 100
    n_near = n * 6 // 100
    n_base = n - n_exact - n_near
    docs: list[tuple[int, str, str, str]] = []
    for i in range(n_base):
        lang = langs[int(rng.choice(len(langs), p=list(LANG_SHARE.values())))]
        toks = _zipf_text(rng, vocabs[lang], LANG_MARKERS[lang], int(rng.integers(40, 160)))
        docs.append((i, " ".join(toks), lang, SOURCES[int(rng.integers(0, len(SOURCES)))]))

    # eval passages (fresh text), each planted into two base documents
    n_eval = size["eval"]
    evals, contaminated = [], {}
    hosts = rng.choice(n_base, 2 * n_eval, replace=False)
    for e in range(n_eval):
        toks = _zipf_text(rng, vocabs["en"], LANG_MARKERS["en"], 30)
        evals.append((10_000_000 + e, " ".join(toks)))
        for h in hosts[2 * e: 2 * e + 2]:
            i, text, lang, src = docs[h]
            words = text.split(" ")
            cut = int(rng.integers(0, len(words)))
            docs[h] = (i, " ".join(words[:cut] + toks + words[cut:]), lang, src)
            contaminated[int(i)] = 10_000_000 + e

    # exact copies: same normalized text, different case / inner spacing;
    # ids above every base id so dedup keeps the original
    exact_pairs = []
    for j, src_i in enumerate(rng.choice(n_base, n_exact, replace=False)):
        i, text, lang, src = docs[src_i]
        words = text.split(" ")
        k = int(rng.integers(1, len(words)))
        copy = " ".join(words[:k]).upper() + "   " + " ".join(words[k:])
        new_id = n_base + j
        docs.append((new_id, copy, lang, src))
        exact_pairs.append((int(i), new_id))

    # near-duplicates: token substitutions at known rates (at least one)
    near = []
    for j, src_i in enumerate(rng.choice(n_base, n_near, replace=False)):
        i, text, lang, src = docs[src_i]
        rate = NEAR_DUP_RATES[j % len(NEAR_DUP_RATES)]
        words = text.split(" ")
        k = max(1, int(round(rate * len(words))))
        for p in rng.choice(len(words), k, replace=False):
            words[p] = vocabs[lang][int(rng.integers(0, len(vocabs[lang])))] + "x"
        new_id = n_base + n_exact + j
        docs.append((new_id, " ".join(words), lang, src))
        near.append((int(i), new_id, rate))

    order = rng.permutation(len(docs))
    docs = [docs[o] for o in order]
    _write_parquet(f"{out}/docs.parquet", pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "source": [d[3] for d in docs],
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
    }), parts=4)
    _write_parquet(f"{out}/eval.parquet", pa.table({
        "doc_id": pa.array([e[0] for e in evals], pa.int64()),
        "text": [e[1] for e in evals],
    }))
    with open(f"{out}/truth.json", "w") as fh:
        json.dump({
            "exact_pairs": exact_pairs,
            "near_pairs": near,
            "contaminated": {str(k): v for k, v in sorted(contaminated.items())},
        }, fh)


def _embed(rng, centers: np.ndarray, n: int) -> np.ndarray:
    c = rng.integers(0, len(centers), n)
    return np.round(centers[c] + rng.normal(0.0, 0.35, (n, centers.shape[1])), 4)


def index_centers(seed: int, size: dict) -> np.ndarray:
    return _rng(seed, "centers").normal(0.0, 1.0, (size["clusters"], size["dim"]))


def gen_index(out: str, seed: int, size: dict) -> None:
    rng = _rng(seed, "index")
    vocab = _vocab(seed, "en", 4000)
    n = size["docs"]
    texts = [" ".join(_zipf_text(rng, vocab, LANG_MARKERS["en"], int(rng.integers(20, 80)))) for _ in range(n)]
    emb = _embed(rng, index_centers(seed, size), n)
    _write_parquet(f"{out}/docs.parquet", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "embedding": pa.array([list(map(float, v)) for v in emb], pa.list_(pa.float64())),
    }), parts=4)
    qrng = _rng(seed, "queries")
    queries = {
        "bm25": [" ".join(vocab[int(i)] for i in qrng.integers(0, 400, 3)) for _ in range(64)],
        "vec": _embed(qrng, index_centers(seed, size), 64).tolist(),
    }
    with open(f"{out}/queries.json", "w") as fh:
        json.dump(queries, fh)


def batch_token(b: int) -> str:
    """The token only change batch ``b``'s documents carry."""
    return f"qzbatch{b:05d}"


def change_batch(seed: int, size: dict, b: int, n_new: int, live_ids: list[int]):
    """Change batch ``b``: ``n_new`` fresh documents (ids above the base
    corpus) carrying the batch's unique token, and the ids to delete —
    a mix of base documents and the previous batch's documents. Pure in
    (seed, size, b, live_ids)."""
    rng = _rng(seed, "batch", b)
    vocab = _vocab(seed, "en", 4000)
    base = size["docs"] + b * n_new
    rows = []
    emb = _embed(rng, index_centers(seed, size), n_new)
    for j in range(n_new):
        toks = _zipf_text(rng, vocab, LANG_MARKERS["en"], int(rng.integers(20, 60)))
        toks.insert(int(rng.integers(0, len(toks))), batch_token(b))
        rows.append((base + j, " ".join(toks), [float(x) for x in emb[j]]))
    prev = [i for i in live_ids if i >= size["docs"]]
    old = [i for i in live_ids if i < size["docs"]]
    dels = sorted(
        [int(x) for x in rng.choice(old, min(len(old), n_new // 2), replace=False)]
        + [int(x) for x in rng.choice(prev, min(len(prev), 2), replace=False)]
    ) if old else []
    return rows, dels


GENERATORS = {"star": gen_star, "tpch": gen_tpch, "corpus": gen_corpus, "index": gen_index}


def ensure(work: str, kind: str, seed: int, scale: str) -> str:
    """Generate (or reuse) one input set, cached by kind, seed and size;
    returns its directory."""
    size = SCALES[kind][scale]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(work, "inputs", f"{kind}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[kind](tmp, seed, size)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write(content_hash(tmp))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _check_determinism(work: str) -> int:
    """Generate every kind twice from one seed into fresh directories and
    compare content hashes; a different seed must give a different hash."""
    bad = 0
    for kind in GENERATORS:
        hashes = []
        for rep, seed in ((0, 7), (1, 7), (2, 8)):
            out = os.path.join(work, "determinism", f"{kind}-{rep}")
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            GENERATORS[kind](out, seed, SCALES[kind]["tiny"])
            hashes.append(content_hash(out))
        ok = hashes[0] == hashes[1] != hashes[2]
        bad += not ok
        print(f"{kind}: seed 7 -> {hashes[0][:16]} / {hashes[1][:16]}, seed 8 -> {hashes[2][:16]}: {'ok' if ok else 'MISMATCH'}")
    shutil.rmtree(os.path.join(work, "determinism"), ignore_errors=True)
    return bad


if __name__ == "__main__":
    if sys.argv[1:] != ["--check"]:
        sys.exit("usage: python3 perfbench/gen.py --check")
    sys.exit(1 if _check_determinism(os.path.join(os.getcwd(), ".perfbench_work")) else 0)
