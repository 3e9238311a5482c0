"""Seeded input generators for the three workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed and writes plain files (parquet, CSV, JSON lines) with no Spark
involved, so the same seed yields byte-identical inputs. The generators
also return the ground truth the output checks compare against.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
from collections import Counter
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# star schema tables (the shapes plans/relational.py and plans/olap.py read)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings: no timestamps or library versions that vary
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def star_tables(rng, out_dir: str, sf: float) -> dict[str, int]:
    """TPC-H-shaped tables plus ``events``, with the value domains the
    registry's filters and oracles expect. Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})
    # (l_orderkey, l_linenumber) is unique, as in TPC-H
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    lineno = np.arange(n_line) - np.repeat(first, np.diff(np.r_[first, n_line])) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)})
    gaps = rng.integers(1, 520_000_000, n_ev)  # microseconds, ~4.3 min mean
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_ev // 67), n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# ---------------------------------------------------------------------------
# curation corpus: documents + embeddings with stated duplicate shares
# ---------------------------------------------------------------------------

_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _vocabulary(rng, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    return sorted(words)


_VOCAB, _ZIPF, _DIM = 3000, 1.05, 64  # words, Zipf exponent, embedding width


def corpus(rng, out_dir: str, n_docs: int, n_vecs: int, exact_share: float,
           near_share: float) -> dict:
    """``documents`` and ``embeddings`` tables. ``exact_share`` of the rows
    copy an earlier original verbatim; ``near_share`` copy one with a few
    token edits (documents) or a small perturbation (vectors)."""
    os.makedirs(out_dir, exist_ok=True)
    vocab, dim = _VOCAB, _DIM
    words = _vocabulary(rng, vocab)
    zipf = 1.0 / np.arange(1, vocab + 1) ** _ZIPF
    zipf /= zipf.sum()
    kinds = rng.choice(3, n_docs, p=[1 - exact_share - near_share, exact_share, near_share])
    kinds[0] = 0
    texts: list[str] = []
    originals: list[int] = []
    for i, kind in enumerate(kinds):
        if kind == 0:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(words[j] for j in rng.choice(vocab, n, p=zipf)))
            originals.append(i)
            continue
        toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
        if kind == 2:
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = words[int(rng.choice(vocab, p=zipf))]
        texts.append(" ".join(toks))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vkinds = rng.choice(3, n_vecs, p=[1 - exact_share - near_share, exact_share, near_share])
    vkinds[0] = 0
    vecs = np.empty((n_vecs, dim), dtype=np.float64)
    vorig: list[int] = []
    for i, kind in enumerate(vkinds):
        if kind == 0:
            v = rng.normal(size=dim)
            vorig.append(i)
        else:
            v = vecs[vorig[int(rng.integers(0, len(vorig)))]].copy()
            if kind == 2:
                v = v + rng.normal(scale=0.05, size=dim)
        vecs[i] = v / np.linalg.norm(v)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs,
            "doc_exact_dups": int((kinds == 1).sum()), "doc_near_dups": int((kinds == 2).sum()),
            "vec_exact_dups": int((vkinds == 1).sum()), "vec_near_dups": int((vkinds == 2).sum())}


# ---------------------------------------------------------------------------
# ETL drop: six dirty CSV files plus the quarantine ground truth
# ---------------------------------------------------------------------------

_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _csv_text(header: list[str] | None, rows: list[list[str]]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    if header:
        w.writerow(header)
    for r in rows:
        w.writerow(r)
    return buf.getvalue()


def _std_pax(raw: str | None) -> str | None:
    """functions.cleaning.standardize_passenger_key, for generated forms."""
    if not raw or "P" not in raw:
        return None
    digits = "".join(ch for ch in raw if ch.isdigit())
    return "P" + digits[-3:] if len(digits) >= 3 else None


def _date_forms(rng, day: dt.date) -> str:
    form = int(rng.integers(0, 3))
    if form == 0:
        return day.isoformat()
    if form == 1:
        return day.strftime("%m/%d/%Y")
    return f"{day.day:02d}-{_MONTHS[day.month - 1]}-{day.year % 100:02d}"


def _money_str(rng, cents: int) -> str:
    s = f"{cents / 100:.2f}"
    if int(rng.integers(0, 2)):
        whole, frac = s.split(".")
        s = "$" + f"{int(whole):,}" + "." + frac
    return s


def etl_drop(rng, out_dir: str, sales_rows: int, dirty: float = 0.06) -> dict:
    """Write passengers, airports, airlines, flights, two travel-agency
    sales files and one headerless corporate file. Returns the ground
    truth: quarantine counts per (source_table, error_reason), dimension
    and fact row counts, the fact's total_amount sum, and fact rows per
    flight key."""
    os.makedirs(out_dir, exist_ok=True)
    q: Counter = Counter()
    pick = lambda p: rng.random() < p  # noqa: E731

    # passengers: keys standardize to 'P' + last three digits, so at most
    # 1000 distinct keys survive; later collisions are duplicates
    rows, seen = [], set()
    n_pax = max(1200, sales_rows // 20)
    for _ in range(n_pax):
        r = rng.random()
        if r < dirty / 2:
            raw = ["X" + str(rng.integers(1000, 9999)), "P12", "Coffee spill", "",
                   "PassengerKey"][int(rng.integers(0, 5))]
        else:
            raw = "P" + str(rng.integers(1, 9)) + f"{int(rng.integers(0, 1000)):03d}"
        std = _std_pax(raw)
        if std is None:
            q["passengers", "Invalid passenger key"] += 1
        elif std in seen:
            q["passengers", "Duplicate passenger key"] += 1
        else:
            seen.add(std)
        if raw in ("Coffee spill",):
            rows.append([raw])
        elif raw == "PassengerKey":
            rows.append(["PassengerKey", "FullName", "Email", "LoyaltyStatus"])
        else:
            first, last = f"F{rng.integers(0, 999)}", f"L{rng.integers(0, 999)}"
            email = f"{first}.{last}@example.com" if pick(0.7) else "bad-email"
            rows.append([raw, f"{first} {last}", email,
                         ["Gold", "SILV", "plat", "Bronze", ""][int(rng.integers(0, 5))]])
    passengers = sorted(seen)
    files = {"passengers.csv": _csv_text(["PassengerKey", "FullName", "Email", "LoyaltyStatus"], rows)}

    # airports: 3-letter keys, keep-first on the upper-cased trimmed key
    n_air = max(400, sales_rows // 50)
    codes = sorted({"".join(_LETTERS[i] for i in rng.integers(0, 26, 3)) for _ in range(n_air)})
    rows, seen = [], set()
    for _ in range(n_air + n_air // 10):
        if pick(dirty / 2):
            raw = ["JK", "ABCD", ""][int(rng.integers(0, 3))]
            q["airports", "Invalid airport key"] += 1
        else:
            raw = codes[int(rng.integers(0, len(codes)))]
            if raw in seen:
                q["airports", "Duplicate airport key"] += 1
            seen.add(raw)
            raw = raw.lower() if pick(0.1) else raw
        country = ["USA", "US", "United Kingdom", "uk", "France", "Japan", "Iceland"][int(rng.integers(0, 7))]
        rows.append([raw, f"Airport {raw}", f"City{rng.integers(0, 500)}", country])
    airports = sorted(seen)
    files["airports.csv"] = _csv_text(["AirportKey", "AirportName", "City", "Country"], rows)

    # airlines: unique two-letter keys; blank keys are dropped, not quarantined
    carriers = sorted({"".join(_LETTERS[i] for i in rng.integers(0, 26, 2)) for _ in range(200)})
    rows = [[c, f"Airline {c}", ["Oneworld", "Star Alliance", "SkyTeam", "N/A"][int(rng.integers(0, 4))]]
            for c in carriers]
    rows.insert(len(rows) // 2, ["", "Nameless", "N/A"])
    files["airlines.csv"] = _csv_text(["AirlineKey", "AirlineName", "Alliance"], rows)

    # flights: unique keys; some rows miss a required field; unknown airport
    # codes become placeholder airports
    n_fl = max(1000, sales_rows // 10)
    fkeys = sorted({carriers[int(rng.integers(0, len(carriers)))] + str(rng.integers(100, 9999))
                    for _ in range(n_fl)})
    rows, flights = [], []
    for k in fkeys:
        o = airports[int(rng.integers(0, len(airports)))]
        d = "ZZ" + _LETTERS[int(rng.integers(0, 26))] if pick(0.02) else airports[int(rng.integers(0, len(airports)))]
        if pick(dirty / 2):
            k, o, d = [("", o, d), (k, "", d), (k, o, "")][int(rng.integers(0, 3))]
            q["flights", "Missing required flight data"] += 1
        else:
            flights.append((k, o, d))
        rows.append([k, o, d, ["Boeing 737", "A320", "B777", ""][int(rng.integers(0, 4))]])
    files["flights.csv"] = _csv_text(
        ["FlightKey", "OriginAirportKey", "DestinationAirportKey", "AircraftType"], rows)
    fl_keys = [f[0] for f in flights]
    placeholders = ({f[1] for f in flights} | {f[2] for f in flights}) - set(airports)

    # sales: the JS rejection order (passenger key, flight key, date), then
    # keep-first on the synthesized transaction id per file, then across
    # the two travel-agency files
    fact_rows: dict[str, tuple[str, int]] = {}  # txn -> (flight, total cents)
    days = (dt.date(2024, 12, 31) - dt.date(2023, 1, 1)).days

    def sales(prefix: str, n: int, id_base: int, reuse: list[int], headerless: bool):
        out, clean_ids = [], []
        for i in range(n):
            tid = reuse[int(rng.integers(0, len(reuse)))] if reuse and pick(0.02) else id_base + i
            if i > 10 and pick(0.02):
                tid = id_base + int(rng.integers(0, i))  # within-file duplicate
            num = int(rng.integers(0, 1000))
            pax = (f"P{num:05d}" if pick(0.5) else f"P{num:03d}")
            flight = fl_keys[int(rng.integers(0, len(fl_keys)))]
            day = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, days + 1)))
            date = day.strftime("%Y%m%d") if headerless else _date_forms(rng, day)
            if i > 0 and pick(dirty):  # the corporate file's first row stays clean for detection
                which = int(rng.integers(0, 3))
                if which == 0:
                    pax = ["", "X00101"][int(rng.integers(0, 2))]
                elif which == 1:
                    flight = ""
                else:
                    date = (["20231301", "2023-13-45"] if headerless else ["not a date", "2023-13-45"])[int(rng.integers(0, 2))]
            t, x, b = int(rng.integers(5000, 200000)), int(rng.integers(0, 30000)), int(rng.integers(0, 10000))
            amounts = [t, x, b, t + x + b]
            if _std_pax(pax) is None:
                q[f"{prefix}_sales", "Invalid passenger key"] += 1
            elif not flight:
                q[f"{prefix}_sales", "Missing flight key"] += 1
            elif date in ("not a date", "2023-13-45", "20231301"):
                q[f"{prefix}_sales", "Invalid date"] += 1
            elif tid in clean_ids:
                q[f"{prefix}_sales", "Duplicate transaction ID"] += 1
            else:
                clean_ids.append(tid)
                txn = ("TA" if prefix == "travel_agency" else "CO") + f"{tid:06d}"
                if txn in fact_rows:
                    q["fact_sales", "Duplicate transaction ID (cross-file)"] += 1
                else:
                    fact_rows[txn] = (flight, t + x + b)
            if headerless:
                out.append([str(tid), " " + date, f" '{pax}'", f" '{flight}'"]
                           + [f" {a / 100:.2f}" for a in amounts])
            else:
                out.append([str(tid), date, pax, flight] + [_money_str(rng, a) for a in amounts])
        return out, clean_ids

    ta_header = ["TransactionID", "TransactionDate", "PassengerID", "FlightID",
                 "TicketPrice", "Taxes", "BaggageFees", "TotalAmount"]
    half = sales_rows // 3
    rows, ids1 = sales("travel_agency", half, 40000, [], False)
    files["ta_sales_001.csv"] = _csv_text(ta_header, rows)
    rows, _ = sales("travel_agency", half, 40000 + half, ids1, False)
    files["ta_sales_002.csv"] = _csv_text(ta_header, rows)
    rows, _ = sales("corporate", sales_rows - 2 * half, 10000, [], True)
    files["corporate_sales.csv"] = _csv_text(None, rows)

    for name, text in files.items():
        with open(os.path.join(out_dir, name), "w", newline="") as f:
            f.write(text)
    per_flight = Counter(fl for fl, _ in fact_rows.values())
    return {
        "csv_rows": sum(t.count("\n") for t in files.values())
        - sum(1 for n in files if n != "corporate_sales.csv"),
        "csv_bytes": sum(len(t.encode()) for t in files.values()),
        "quarantine": {f"{s}|{r}": n for (s, r), n in sorted(q.items())},
        "dim_passenger": len(passengers),
        "dim_airport": len(airports) + len(placeholders),
        "dim_airline": len(carriers),
        "dim_flight": len(flights),
        "fact_rows": len(fact_rows),
        "fact_total": str(sum(Decimal(c) / 100 for _, c in fact_rows.values())),
        "fact_rows_per_flight": dict(per_flight),
    }


# ---------------------------------------------------------------------------
# status feed: kafka-wire JSON files landed by the open-loop generator
# ---------------------------------------------------------------------------

_STATUSES = ["on-time", "boarding", "delayed", "cancelled"]


def status_files(rng, flight_keys: list[str], n_files: int, per_file: int) -> tuple[list[str], dict]:
    """``n_files`` JSON-lines payloads of ``per_file`` messages each, in
    the kafka wire shape (key, value). Timestamps strictly increase, so
    the latest message per flight is unique. Returns the payloads and the
    ground truth: latest (status, delay) per flight and the set of flights
    with any delay above the insurance threshold."""
    base = dt.datetime(2024, 6, 1)
    latest: dict[str, tuple[str, int]] = {}
    eligible: set[str] = set()
    payloads = []
    pool = [flight_keys[int(i)] for i in rng.choice(len(flight_keys), min(len(flight_keys), 400), replace=False)]
    seq = 0
    for _ in range(n_files):
        lines = []
        for _ in range(per_file):
            fk = pool[int(rng.integers(0, len(pool)))]
            status = _STATUSES[int(rng.integers(0, 4))]
            delay = int(rng.integers(241, 600)) if rng.random() < 0.15 else int(rng.integers(0, 240))
            ts = (base + dt.timedelta(seconds=seq)).strftime("%Y-%m-%dT%H:%M:%SZ")
            seq += 1
            msg = {"flight_key": fk, "status": status, "delay_minutes": delay, "update_timestamp": ts}
            lines.append(json.dumps({"key": fk, "value": json.dumps(msg)}))
            latest[fk] = (status, delay)
            if delay > 240:
                eligible.add(fk)
        payloads.append("\n".join(lines) + "\n")
    return payloads, {"latest": latest, "eligible": sorted(eligible), "pool": pool}
