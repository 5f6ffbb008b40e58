"""Seeded input generators: every file the engine reads is made here.

Same seed, same bytes. Nothing here imports Spark or the engine, so the
generators are testable on their own and the engine only ever sees the
files (and DataFrames read from them) that these functions write.

Reference parameters that size the fraud loop (BASELINE.md, SURVEY §2.4):
``POLL_CAP`` listings per poll, ``ANALYST_CAP`` corpus listings behind
the market stats, ``BUFFER_MIN`` minutes of late data and
``REALERT_MIN`` minutes of realert suppression. The workloads scale the
two caps down by one stated factor so a run fits its time box.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POLL_CAP = 5_000  # MAX_ITEMS_TO_FETCH (poller)
ANALYST_CAP = 50_000  # MAX_ITEMS_LIMIT (analyst poller)
BUFFER_MIN = 15  # elastalert buffer_time
REALERT_MIN = 30  # elastalert realert
RISK_THRESHOLD = 80  # high_risk.yaml

# Alert events sit in the future so the engine's 2-day staleness filter
# (a current_timestamp() compare) never depends on when a run happens.
EVENT_EPOCH = dt.datetime(2090, 1, 1)
_EPOCH_US = (EVENT_EPOCH - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)

# -- listing text (FIXTURES.md §5 cases) --------------------------------------
_CPUS = [
    ("Intel Core i7 11th gen", 650), ("i5 10210U", 420), ("i3", 250),
    ("ryzen-7 5800H", 700), ("AMD Ryzen 5 5500U", 480), ("Celeron N4020", 150),
    ("MacBook Pro M2 Pro", 1500), ("MacBook Air M1", 750), ("Surface SQ2", 600),
    ("core i9", 1100), ("Pentium Silver", 170), ("Xeon workstation", 900),
]
_GPUS = [
    ("", 0), ("", 0), ("", 0), ("RTX3060", 350), ("gtx 1650ti", 200),
    ("Radeon RX 5500M", 220), ("NVIDIA RTX 4070", 600), ("Quadro", 400),
]
_RAMS = ["8GB RAM", "16GB RAM, 512 GB SSD", "6 gigas", "32 gb", "4GB", "", "13GB"]
_MODELS = [
    "Portatil", "Portátil HP", "Lenovo ThinkPad", "Asus ZenBook", "Dell XPS",
    "HP Spectre", "Chromebook", "MSI gaming", "Acer Aspire", "Toshiba",
]
_CONDITIONS = [
    ("", 1.0), ("como nuevo", 1.05), ("precintado", 1.2), ("roto pantalla", 0.3),
    ("nuevo", 1.15), ("funciona perfecto", 1.0), ("para piezas roto nuevo", 0.25),
]
_DESC = [
    "Vendo por cambio de equipo, bateria aguanta bien.",
    "Envio a toda España, pago en mano.",
    "Incluye cargador original y funda.",
    "Teclado español, pantalla sin rayas.\nFactura disponible.",
    "Contactar por whatsapp 612345678 para mas info.",
    "Urge vender, envio ya.",
    "Precio negociable.\nrtx gtx amd intel ryzen i7 ps5 xbox\nlinea de spam final",
    "Usado pero bien cuidado, sin golpes.",
]
_API_CONDITIONS = [None, None, "new", "as_good_as_new", "good", "fair", "has_given_it_all"]


def _listing(rng: random.Random, lid: str | None, n_users: int) -> dict:
    cpu, cpu_v = rng.choice(_CPUS)
    gpu, gpu_v = rng.choice(_GPUS)
    cond, cond_f = rng.choice(_CONDITIONS)
    title = " ".join(x for x in (rng.choice(_MODELS), cpu, gpu, rng.choice(_RAMS), cond) if x)
    desc = " ".join(rng.sample(_DESC, rng.randint(1, 3)))
    value = (cpu_v + gpu_v + 80) * cond_f
    roll = rng.random()
    if roll < 0.04:
        price = 1.0  # symbolic price with the real one in the text
        desc += f" vendo por {int(value)}€"
    elif roll < 0.10:
        price = round(value * rng.uniform(0.15, 0.45), 2)  # anomalously cheap
    else:
        price = round(value * rng.uniform(0.7, 1.3), 2)
    return {
        "id": lid,
        "title": title,
        "description": desc,
        "price": max(price, 1.0),
        "api_condition": rng.choice(_API_CONDITIONS),
        "is_refurbished": rng.random() < 0.05,
        "user_id": int(min(n_users - 1, rng.paretovariate(1.2) - 1)),
        "latitude": round(rng.uniform(36.0, 43.5), 5),
        "longitude": round(rng.uniform(-9.0, 3.0), 5),
    }


_CATEGORIES = ["APPLE", "CHROMEBOOK", "GAMING", "GENERICO", "PREMIUM_ULTRABOOK", "SURFACE", "WORKSTATION"]
_COMPONENTS = {
    "cpu": ["APPLE M1", "APPLE M2 PRO", "AMD RYZEN 5", "AMD RYZEN 7", "INTEL CELERON", "INTEL I3",
            "INTEL I5", "INTEL I7", "INTEL I9", "INTEL PENTIUM", "INTEL XEON", "QUALCOMM SQ2"],
    "gpu": ["AMD RX 5500M", "NVIDIA GTX 1650TI", "NVIDIA RTX 3060", "NVIDIA RTX 4070"],
    "ram": ["4GB", "6GB", "8GB", "16GB", "32GB"],
}


def write_market_stats(prime_path: str, comp_path: str, seed: int, n_listings: int) -> None:
    """Flat market-stats dims (FIXTURES.md §2) as an analyst corpus of
    ``n_listings`` would yield them: one prime row per category and
    condition, one component row per category, condition and component
    the spec extractor names for the generated titles."""
    rng = random.Random(f"stats:{seed}")
    prime = {k: [] for k in ("category", "condition", "mean", "median", "stdev", "count")}
    comp = {k: [] for k in ("category", "condition", "comp_type", "comp_name",
                            "mean", "median", "stdev", "count")}
    cells = [(c, k) for c in _CATEGORIES for k in ("NEW", "LIKE_NEW", "USED")]

    def stats(n):
        mean = rng.uniform(300, 1500)
        return (round(mean, 2), round(mean * rng.uniform(0.9, 1.1), 2),
                round(mean * rng.uniform(0.2, 0.6), 2), n)

    for cat, cond in cells:
        n = max(2, n_listings // len(cells) + rng.randint(-20, 20))
        for key, v in zip(("category", "condition", "mean", "median", "stdev", "count"),
                          (cat, cond, *stats(n))):
            prime[key].append(v)
        for ctype, names in _COMPONENTS.items():
            for name in names:
                row = (cat, cond, ctype, name, *stats(max(2, n // len(names))))
                for key, v in zip(comp, row):
                    comp[key].append(v)
    for path, cols in ((prime_path, prime), (comp_path, comp)):
        pq.write_table(pa.table(cols).cast(pa.schema([
            (k, pa.int64() if k == "count" else pa.float64()
             if k in ("mean", "median", "stdev") else pa.string()) for k in cols
        ])), path)


def write_dims(users_path: str, reviews_path: str, seed: int, n_users: int) -> None:
    """User and review dims (FIXTURES.md §3) as parquet."""
    rng = random.Random(f"dims:{seed}")
    users = {"user_id": [], "register_days": [], "badges": [], "user_type": [], "scam_reports": []}
    reviews = {"user_id": [], "scoring": []}
    for u in range(n_users):
        users["user_id"].append(u)
        users["register_days"].append(rng.choice([1, 2, 30, 200, 400, 900]))
        users["badges"].append(["TOP_SELLER"] if rng.random() < 0.05 else [])
        users["user_type"].append("pro" if rng.random() < 0.03 else None)
        users["scam_reports"].append(1 if rng.random() < 0.02 else 0)
        for _ in range(rng.choice([0, 0, 1, 3, 8, 15])):
            reviews["user_id"].append(u)
            reviews["scoring"].append(rng.choice([20, 60, 80, 100, 100]))
    pq.write_table(
        pa.table(users, schema=pa.schema([
            ("user_id", pa.int64()), ("register_days", pa.int32()),
            ("badges", pa.list_(pa.string())), ("user_type", pa.string()),
            ("scam_reports", pa.int32()),
        ])),
        users_path,
    )
    pq.write_table(
        pa.table(reviews, schema=pa.schema([("user_id", pa.int64()), ("scoring", pa.int32())])),
        reviews_path,
    )


def sink_rejects(seed: int, doc_id: str, per_mille: int) -> bool:
    """Whether the fake bulk sink refuses ``doc_id`` (a stable hash rule,
    so the expected count is known before delivery)."""
    return zlib.crc32(f"{seed}:{doc_id}".encode()) % 1000 < per_mille


def write_landing_batch(
    path: str, seed: int, cycle: int, n: int, n_users: int, sink_per_mille: int
) -> dict:
    """One poll's landing NDJSON: ``n`` lines of which about 2% are
    corrupt JSON and about 3% are mapping rejects (geo out of range or a
    missing id). Returns the expected outcome counts."""
    rng = random.Random(f"landing:{seed}:{cycle}")
    exp = {"lines": n, "corrupt": 0, "dead": 0, "valid": 0, "sink_rejects": 0}
    with open(path, "w") as f:
        for i in range(n):
            roll = rng.random()
            if roll < 0.02:
                f.write('{"id": "broken-%d", "title": "Portatil i7\n' % i)
                exp["corrupt"] += 1
                continue
            lid = f"l{cycle}-{i}"
            row = _listing(rng, lid, n_users)
            if roll < 0.04:
                row["latitude"] = 400.0
                exp["dead"] += 1
            elif roll < 0.05:
                row["id"] = None
                exp["dead"] += 1
            else:
                exp["valid"] += 1
                exp["sink_rejects"] += sink_rejects(seed, lid, sink_per_mille)
            f.write(json.dumps(row) + "\n")
    return exp


def alert_events(seed: int, cycle: int, n: int, n_ids: int, span_min: float) -> list[dict]:
    """Enriched alert events for one poll cycle (FIXTURES.md §4).

    Cycle ``c`` covers event time ``[c*span, (c+1)*span)`` minutes after
    ``EVENT_EPOCH``; each event arrives up to ``BUFFER_MIN`` minutes late
    (never quite the full buffer), so no event ever falls behind the
    watermark. Ids repeat within and across cycles so the realert rule
    both suppresses and re-fires."""
    rng = random.Random(f"alerts:{seed}:{cycle}")
    out = []
    used_us: set[int] = set()
    for i in range(n):
        arrival = (cycle + rng.random()) * span_min
        late = rng.uniform(0, BUFFER_MIN - 0.5) if rng.random() < 0.3 else 0.0
        # millisecond resolution: the JSON reader's default timestamp
        # pattern keeps milliseconds
        ts_us = int(max(cycle * span_min - (BUFFER_MIN - 0.5), arrival - late) * 60e3) * 1000
        while ts_us in used_us:  # distinct event times keep replay order total
            ts_us += 1000
        used_us.add(ts_us)
        iid = f"it{rng.randrange(n_ids)}"
        out.append({
            "id": iid,
            "title": f"Listing {iid}",
            "web_slug": f"slug-{iid}",
            "risk_score": rng.choice([10, 35, 60, 79, 80, 85, 90, 99]),
            "risk_factors": ["External Contact", "Statistically Cheap (Z=-1.80) [USED]"],
            "crawl_timestamp": (EVENT_EPOCH + dt.timedelta(microseconds=ts_us)).isoformat(
                timespec="milliseconds"
            ),
            "_ts_us": _EPOCH_US + ts_us,  # Unix epoch microseconds
        })
    return out


def write_alert_events(path: str, events: list[dict]) -> None:
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_ts_us"}) + "\n")


def replay_realert(batches: list[list[dict]]) -> set[tuple[str, int]]:
    """Pure-Python ST1/ST6 rule: per id, an event at or above the risk
    threshold fires when no earlier alert for that id lies within
    ``REALERT_MIN`` minutes. State carries across micro-batches and each
    batch is taken in event-time order, as the streaming operator does."""
    window_us = REALERT_MIN * 60_000_000
    last: dict[str, int] = {}
    fired: set[tuple[str, int]] = set()
    for batch in batches:
        hits = sorted(
            (e["_ts_us"], e["id"]) for e in batch if e["risk_score"] >= RISK_THRESHOLD
        )
        for ts, iid in hits:
            prev = last.get(iid)
            if prev is None or ts >= prev + window_us:
                fired.add((iid, ts))
                last[iid] = ts
    return fired


# -- testdata-shaped tables the dashboard panels read (TESTDATA.md) -----------
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
_LANGS = (["en"] * 8) + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]


def _doc_text(rng: np.random.Generator) -> str:
    n_chars = int(rng.integers(44, 578))
    words = rng.choice(_WORDS, size=n_chars // 3)
    return " ".join(words)[:n_chars].rstrip()


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """``orders``, ``lineitem``, ``events`` and ``documents`` with the
    testdata schemas and value ranges (TESTDATA.md) at scale factor ``sf``,
    one single-row-group parquet file each. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_orders = max(150, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    t = {}
    day = np.timedelta64(1, "D")
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2404, n_orders) * day
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(15, n_orders // 10), n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(20, n_orders // 7), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, n_orders // 150), n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            (odate[okey] + rng.integers(-60, 122, n_li) * day).astype("datetime64[us]")
        ),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_events),
        "value": np.round(rng.exponential(50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [_doc_text(rng) for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return {name: table.num_rows for name, table in t.items()}
