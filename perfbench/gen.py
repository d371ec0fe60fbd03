"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The engine only ever sees the files written here.

- `tables`: the ten star-schema tables the query registry reads, shaped
  like the engine's test data (same columns, types, value domains and
  row counts per scale), with the document corpus optionally cloned
  into near-duplicate copies.
- `forecasts`: OpenWeatherMap-shaped forecast JSON, one city per line,
  plus the report rows the weather checks compare against.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["hot", "cold", "new", "old", "red", "blue", "small", "large"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n, copies):
    """`n` base documents (about 5% are an earlier document plus a
    trailing " dup" marker), then `copies - 1` clone copies. A clone
    copy keeps a seeded 90% of the base rows and perturbs each kept
    text by replacing one word, so every kept document gains a
    near-identical twin per copy."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(WORDS, k)))
    langs = rng.choice(LANGS, n, p=LANG_P)
    sources = [f"src{s}" for s in rng.integers(0, 20, n)]
    ids, out_t, out_l, out_s = list(range(n)), list(texts), list(langs), sources[:]
    for c in range(1, copies):
        keep = np.flatnonzero(rng.random(n) < 0.9)
        for i in keep:
            words = texts[i].split(" ")
            words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
            ids.append(c * n + int(i))
            out_t.append(" ".join(words))
            out_l.append(langs[i])
            out_s.append(sources[i])
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_t, pa.string()),
        "lang": pa.array(out_l, pa.string()),
        "source": pa.array(out_s, pa.string()),
        "n_chars": pa.array([len(t) for t in out_t], pa.int64()),
    }


def _embeddings(rng, n, copies):
    """Unit vectors around ten labelled centres; clone copies add a
    small seeded jitter to a kept 90% of the base vectors."""
    centres = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(0, 1.2, (n, 64))
    ids, out_v, out_l = list(range(n)), [vecs], [labels]
    for c in range(1, copies):
        keep = np.flatnonzero(rng.random(n) < 0.9)
        ids.extend(c * n + keep)
        out_v.append(vecs[keep] + rng.normal(0, 0.05, (len(keep), 64)))
        out_l.append(labels[keep])
    v = np.concatenate(out_v)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(out_l).astype(np.int32)),
    }


def tables(out, seed, sf, docs, vecs, copies=1):
    """The registry's ten tables at scale factor `sf` (sf0.01 = 60,000
    lineitems), with `docs` documents and `vecs` embeddings cloned into
    `copies` near-duplicate copies."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev, n_users = int(10_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US)})
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", _docs(rng, docs, copies))
    _write(out, "embeddings", _embeddings(rng, vecs, copies))


# ---- weather ---------------------------------------------------------------

FORECAST_START = 1_704_067_200  # 2024-01-01T00:00:00Z
STEP_S = 3 * 3600
ENTRIES = 40
DESCRIPTIONS = ["clear sky", "few clouds", "scattered clouds", "light rain",
                "moderate rain", "overcast clouds", "snow", "mist"]


def forecasts(out, seed, cities, loads):
    """`loads + 1` forecast batches of `cities` cities x 40 three-hourly
    entries. Batch b starts b steps after batch 0, so each incremental
    batch carries exactly one new entry per city (the last one) and 39
    already-loaded ones. Writes `batch_<b>.json` (one city document per
    line), and as `expected_weekly.parquet` / `expected_humidity.parquet`
    the report rows a correct pipeline appends when it full-loads batch 0
    and incrementally loads the rest; `expected_versions.csv` holds the
    row count and humidity sum of each version of the fact table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    names = [f"City{seed % 1000:03d}_{i:05d}" for i in range(cities)]
    countries = rng.choice(["GB", "US", "IN", "DE", "FR", "JP", "BR", "ZA"],
                           cities)
    lat = np.round(rng.uniform(-60, 70, cities), 4)
    lon = np.round(rng.uniform(-180, 180, cities), 4)
    n_steps = ENTRIES + loads
    # per (city, step) values, shared by every batch that carries the step
    temp = np.round(rng.uniform(250.0, 310.0, (cities, n_steps)), 2)
    hum = rng.integers(10, 101, (cities, n_steps))
    wind = np.round(rng.uniform(0.0, 20.0, (cities, n_steps)), 2)
    desc = rng.integers(0, len(DESCRIPTIONS), (cities, n_steps))
    for b in range(loads + 1):
        with open(os.path.join(out, f"batch_{b}.json"), "w") as f:
            for c in range(cities):
                entries = [{
                    "dt": FORECAST_START + s * STEP_S,
                    "main": {"temp": float(temp[c, s]), "humidity": int(hum[c, s])},
                    "wind": {"speed": float(wind[c, s])},
                    "weather": [{"description": DESCRIPTIONS[desc[c, s]]}],
                } for s in range(b, b + ENTRIES)]
                f.write(json.dumps({"list": entries, "city": {
                    "name": names[c], "country": str(countries[c]),
                    "coord": {"lat": float(lat[c]), "lon": float(lon[c])}}}))
                f.write("\n")
    # The report rows a correct pipeline appends over the whole sequence,
    # in its exact arithmetic: Celsius rounded half-up to 2dp, then
    # integer-cent means rounded half away from zero. The full load
    # reports all 40 steps of batch 0; incremental load b keeps only its
    # newest step (b + 39), which lies outside the humidity period.
    cents = np.floor(np.round((temp - 273.15) * 100, 6) + 0.5).astype(np.int64)
    week = [_iso_week(s) for s in range(n_steps)]
    period = [s for s in range(ENTRIES) if s * STEP_S < PERIOD_DAYS * 86_400]
    weekly, humidity = [], []
    for c in range(cities):
        key = [str(countries[c]), names[c]]
        for w in sorted(set(week[:ENTRIES])):
            idx = [s for s in range(ENTRIES) if week[s] == w]
            weekly.append(key + [w, _cents_mean(int(cents[c, idx].sum()), len(idx))])
        for b in range(1, loads + 1):
            s = b + ENTRIES - 1
            weekly.append(key + [week[s], _cents_mean(int(cents[c, s]), 1)])
        humidity.append(key + [_cents_mean(int(hum[c, period].sum()) * 100,
                                           len(period))])
    _write(out, "expected_weekly", {
        "country": pa.array([r[0] for r in weekly]),
        "city": pa.array([r[1] for r in weekly]),
        "week": pa.array([r[2] for r in weekly], pa.int32()),
        "average_temperature": pa.array([r[3] for r in weekly], pa.float64())})
    # fact table versions: v1 holds batch 0, v(b+1) adds step b + 39
    with open(os.path.join(out, "expected_versions.csv"), "w") as f:
        f.write("version,rows,humidity_sum\n")
        rows, hsum = cities * ENTRIES, int(hum[:, :ENTRIES].sum())
        f.write(f"1,{rows},{hsum}\n")
        for b in range(1, loads + 1):
            rows, hsum = rows + cities, hsum + int(hum[:, b + ENTRIES - 1].sum())
            f.write(f"{b + 1},{rows},{hsum}\n")
    day0 = np.datetime64(FORECAST_START, "s").astype("datetime64[D]")
    _write(out, "expected_humidity", {
        "country": pa.array([r[0] for r in humidity]),
        "city": pa.array([r[1] for r in humidity]),
        "average_humidity": pa.array([r[2] for r in humidity], pa.float64()),
        "start_date": pa.array(np.full(cities, day0)),
        "end_date": pa.array(np.full(cities, day0 + PERIOD_DAYS))})


def _iso_week(step):
    day = np.datetime64(FORECAST_START + step * STEP_S, "s").astype("datetime64[D]")
    return int(day.item().isocalendar()[1])


PERIOD_DAYS = 3  # humidity report period: the first three forecast days


def _cents_mean(cents, n):
    q = (abs(cents) + n // 2) // n
    return (q if cents >= 0 else -q) / 100.0

