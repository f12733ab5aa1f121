"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, size)``: the same
arguments give byte-identical files. Each also returns the values a
correct run must produce, computed here in plain Python/pandas and
never through the engine under test. Generated files are cached under
``<work>/inputs`` keyed by seed and size, so repeated runs with one
seed skip generation; generation always happens outside every timer.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# ride CSV (the paper's own input: one month of Citi Bike trips)
# ---------------------------------------------------------------------------

RIDE_HEADER = (
    "ride_id;rideable_type;started_at;ended_at;start_station_name;"
    "start_station_id;end_station_name;end_station_id;start_lat;start_lng;"
    "end_lat;end_lng;member_casual"
)
N_STATIONS = 140
EARTH_RADIUS_KM = 6371.0

# the two pinned rides whose measures are checked by hand
PIN_MEASURE = ("2025-01-10 08:00:00.500", "2025-01-10 08:20:30.750")
PIN_NULL_COORDS = ("2025-01-13 11:00:00.250", "2025-01-13 11:45:00.750")


def _stations(rng: np.random.Generator) -> list[tuple[str, str, float, float]]:
    lat = np.round(40.70 + rng.random(N_STATIONS) * 0.06, 6)
    lng = np.round(-74.10 + rng.random(N_STATIONS) * 0.08, 6)
    return [
        (
            f"Station {i:03d}",
            f"{'JC' if i % 2 else 'HB'}{i:03d}",
            float(lat[i]),
            float(lng[i]),
        )
        for i in range(N_STATIONS)
    ]


def haversine_km(lat1, lng1, lat2, lng2) -> float:
    dlat = math.radians(lat2 - lat1)
    dlng = math.radians(lng2 - lng1)
    a = math.sin(dlat / 2) ** 2 + math.cos(math.radians(lat1)) * math.cos(
        math.radians(lat2)
    ) * math.sin(dlng / 2) ** 2
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


def _stamps(ms: np.ndarray, frac: np.ndarray) -> np.ndarray:
    """``YYYY-MM-DD HH:MM:SS.mmm`` for ``ms`` after 2025-01-01, without
    the fraction where ``frac`` is false."""
    t = np.datetime64("2025-01-01", "ms") + ms.astype("timedelta64[ms]")
    s = np.datetime_as_string(t, unit="ms")  # ...THH:MM:SS.mmm
    s.view(np.uint32).reshape(len(s), -1)[:, 10] = ord(" ")
    return np.where(frac, s, s.astype("<U19"))


def ride_csv(path: str, n_rows: int, seed: int) -> dict:
    """Write a ride CSV shaped like the reference dump and return the
    expected star-schema facts. Edge shares follow the dump: ~0.2%
    fraction-less timestamps, ~0.2% null end stations (coordinates
    kept), ~0.04% fully null ends (no coordinates, so speed = 0) and a
    few zero-duration rides."""
    rng = np.random.default_rng(seed)
    st = _stations(rng)
    n = n_rows
    s_idx = rng.integers(0, N_STATIONS, n)
    e_idx = rng.integers(0, N_STATIONS, n)
    start_ms = rng.integers(0, 31 * 86400 * 1000, n)
    dur_ms = rng.integers(60_000, 3_600_000, n)
    rideable = rng.integers(0, 2, n)
    member = rng.random(n) < 0.8
    kind = rng.random(n)
    nofrac = kind < 0.002
    null_end = (kind >= 0.002) & (kind < 0.004)
    null_coords = (kind >= 0.004) & (kind < 0.0044)
    zero = np.zeros(n, dtype=bool)
    zero[rng.choice(n, size=max(3, n // 50_000), replace=False)] = True
    zero &= ~(nofrac | null_end | null_coords)
    start_ms[nofrac] -= start_ms[nofrac] % 1000
    dur_ms[nofrac] -= dur_ms[nofrac] % 1000
    dur_ms[zero] = 0

    # the two pinned rides whose measures are checked by hand lead the
    # file: station 0 -> station 3, and station 0 -> no end at all
    pins = pd.DataFrame(
        [
            ["pin0000000000000", "classic_bike", *PIN_MEASURE, *st[0][:2], *st[3][:2],
             repr(st[0][2]), repr(st[0][3]), repr(st[3][2]), repr(st[3][3]), "member"],
            ["pin0000000000001", "classic_bike", *PIN_NULL_COORDS, *st[0][:2], "", "",
             repr(st[0][2]), repr(st[0][3]), "", "", "member"],
        ],
        columns=RIDE_HEADER.split(";"),
    )
    k = n - len(pins)
    s_idx, e_idx, start_ms, dur_ms = s_idx[:k], e_idx[:k], start_ms[:k], dur_ms[:k]
    nofrac, null_end, null_coords = nofrac[:k], null_end[:k], null_coords[:k]
    name, sid, lat, lng = (
        np.array([x[j] if j < 2 else repr(x[j]) for x in st], dtype=object) for j in range(4)
    )
    blank = np.full(k, "", dtype=object)
    no_name = null_end | null_coords
    body = pd.DataFrame(
        {
            "ride_id": [f"{seed:06d}{i:010x}" for i in range(k)],
            "rideable_type": np.array(["classic_bike", "electric_bike"], dtype=object)[
                rideable[:k]
            ],
            "started_at": _stamps(start_ms, ~nofrac),
            "ended_at": _stamps(start_ms + dur_ms, ~nofrac),
            "start_station_name": name[s_idx],
            "start_station_id": sid[s_idx],
            "end_station_name": np.where(no_name, blank, name[e_idx]),
            "end_station_id": np.where(no_name, blank, sid[e_idx]),
            "start_lat": lat[s_idx],
            "start_lng": lng[s_idx],
            "end_lat": np.where(null_coords, blank, lat[e_idx]),
            "end_lng": np.where(null_coords, blank, lng[e_idx]),
            "member_casual": np.where(member[:k], "member", "casual").astype(object),
        }
    )
    rows = pd.concat([pins, body], ignore_index=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(RIDE_HEADER + "\n")
        cols = [rows[c].astype(str).tolist() for c in rows.columns]
        fh.writelines(";".join(r) + "\n" for r in zip(*cols))
    os.replace(tmp, path)
    return _ride_expected(rows)


def _ride_expected(rows: pd.DataFrame) -> dict:
    """Dimension and fact cardinalities and the pinned ride's measures,
    from the CSV's own strings (a station is its name and coordinates,
    an empty field is null; a timestamp is its instant)."""
    start = rows[["start_station_name", "start_lat", "start_lng"]].set_axis(
        ["name", "lat", "lng"], axis=1
    )
    end = rows[["end_station_name", "end_lat", "end_lng"]].set_axis(
        ["name", "lat", "lng"], axis=1
    )
    ended = (end != "").any(axis=1)
    a = pd.to_datetime(rows["started_at"], format="ISO8601")
    b = pd.to_datetime(rows["ended_at"], format="ISO8601")
    fact = pd.concat(
        [rows[["member_casual", "rideable_type"]], start, end.add_prefix("e_")], axis=1
    ).assign(a=a, b=b)
    s, e = rows.loc[0, ["start_lat", "start_lng"]], rows.loc[0, ["end_lat", "end_lng"]]
    dist = haversine_km(*map(float, (*s, *e)))
    pa_, pb_ = (datetime.fromisoformat(x) for x in PIN_MEASURE)
    dur = (pb_ - pa_).total_seconds()
    return {
        "n_rows": len(rows),
        "member_dimension": int(rows["member_casual"].nunique()),
        "rideable_dimension": int(rows["rideable_type"].nunique()),
        "station_dimension": len(pd.concat([start, end[ended]]).drop_duplicates()),
        "date_dimension": int(pd.concat([a, b]).nunique()),
        "ride_fact": len(fact.drop_duplicates()),
        "n_null_distance": int((rows["end_lat"] == "").sum()),
        "n_zero_duration": int((a == b).sum()),
        "pinned": {"trip_duration": int(dur), "distance": dist, "speed": dist / (dur / 3600.0)},
    }


# ---------------------------------------------------------------------------
# TPC-H-shaped warehouse tables (the analyst query mix's input)
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
P_WORDS = ("small", "red", "blue", "big", "green", "steel", "brass", "tiny")
P_NOUNS = ("ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring")


def _days(rng, n, start: str, n_days: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def warehouse_tables(scale: float, seed: int) -> dict[str, pd.DataFrame]:
    """The ten tables of the repo's query catalog, TPC-H shaped. At
    ``scale=1`` the row counts match the repo's sf0.01 test data
    (lineitem 60,000 rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(10, int(k * scale)) for k in (1500, 100, 2000))
    n_ord, n_li, n_ev = (int(k * scale) for k in (15000, 60000, 10000))
    n_doc = n_vec = max(50, int(500 * scale))
    n_users = max(10, int(150 * scale))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{P_WORDS[a]} {P_NOUNS[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2500),
        }
    )
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // max(1, n_ev), n_ev)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us")
            + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, 31))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, 31, int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(("en", "en", "zh", "es", "de", "fr"), n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    v = centers[labels] + rng.normal(scale=1.5, size=(n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": list(v),
            "label": labels.astype("int32"),
        }
    )
    return t


def write_warehouse(sf_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` files (one each) and return row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, df in warehouse_tables(scale, seed).items():
        if name == "embeddings":
            tbl = pa.table(
                {
                    "vec_id": df["vec_id"],
                    "embedding": pa.array(
                        [x.tolist() for x in df["embedding"]], pa.list_(pa.float32())
                    ),
                    "label": df["label"],
                }
            )
        else:
            tbl = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = len(df)
    return counts


# ---------------------------------------------------------------------------
# commit stream for the versioned-table workload
# ---------------------------------------------------------------------------

CDC_KEY = "o_orderkey"


def cdc_base(n_rows: int, seed: int) -> pd.DataFrame:
    """The source table at version 1: an orders-shaped table keyed by
    ``o_orderkey`` = 0..n-1."""
    return warehouse_tables(n_rows / 15000, seed)["orders"].head(n_rows).copy()


def _changed(rng, keys: np.ndarray, base_cols: pd.DataFrame) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype("int64"),
            "o_custkey": rng.integers(0, 1500, n).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), n),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
            "o_orderdate": _days(rng, n, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )[base_cols.columns]


def cdc_stream(n_rows: int, seed: int) -> tuple[pd.DataFrame, list[dict]]:
    """Return (base table, ops), in stream order: the band, the upsert,
    the empty batch, the delete, the compaction. Each op is one of
    ``{"kind": "merge", "rows": df}`` (updates a key band of 0.1% of the
    rows, or upserts 5% across the tail: half updates, half inserts),
    ``{"kind": "delete",
    "keys": ndarray}`` (merge-on-read delete of 1%), ``{"kind": "merge",
    "rows": <empty df>}`` (an empty micro-batch) or ``{"kind":
    "compact"}``, plus ``reads``, the key ranges read and checked after
    the op: the band it touched and a 1% band elsewhere. Bands are drawn
    inside the live key range."""
    rng = np.random.default_rng(seed + 1)
    base = cdc_base(n_rows, seed)
    tail = n_rows
    # the delete comes late, so only the reads right after it pay for a
    # delete set and the reads' median falls inside the other group
    plan = ["band:0.001", "upsert:0.05", "empty", "delete:0.01", "compact"]
    ops = []
    for step in plan:
        kind, _, share = step.partition(":")
        w = max(1, int(float(share or 0) * n_rows))
        if kind == "band":
            lo = int(rng.integers(0, tail - w))
            op = {"kind": "merge", "rows": _changed(rng, np.arange(lo, lo + w), base)}
        elif kind == "upsert":
            lo = tail - w // 2
            op = {"kind": "merge", "rows": _changed(rng, np.arange(lo, lo + w), base)}
            tail = lo + w
        elif kind == "delete":
            lo = int(rng.integers(0, tail - 4 * w))
            keys = np.sort(rng.choice(np.arange(lo, lo + 4 * w), w, replace=False))
            op = {"kind": "delete", "keys": keys.astype("int64")}
        elif kind == "empty":
            lo = 0
            op = {"kind": "merge", "rows": base.iloc[0:0]}
        else:
            lo = 0
            op = {"kind": "compact"}
        other = int(rng.integers(0, tail - n_rows // 100))
        op["reads"] = [(lo, lo + max(w, n_rows // 100)), (other, other + n_rows // 100)]
        op["name"] = step
        ops.append(op)
    return base, ops


def cdc_model(base: pd.DataFrame, ops: list[dict]) -> list[pd.DataFrame]:
    """Apply the ops in pandas: the expected table state after each."""
    state = base.set_index(CDC_KEY, drop=False)
    out = []
    for op in ops:
        if op["kind"] == "merge" and len(op["rows"]):
            rows = op["rows"].set_index(CDC_KEY, drop=False)
            state = pd.concat([state.drop(rows.index, errors="ignore"), rows])
        elif op["kind"] == "delete":
            state = state.drop(op["keys"], errors="ignore")
        out.append(state)
    return out


def read_expected(state: pd.DataFrame, lo: int, hi: int) -> tuple[int, float]:
    band = state[(state[CDC_KEY] >= lo) & (state[CDC_KEY] <= hi)]
    return int(len(band)), round(float(band["o_totalprice"].sum()), 2)


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a frame's rows (column order fixed
    by name), used to compare engine output with a model."""
    import hashlib

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
    rows = sorted(map(repr, df.itertuples(index=False, name=None)))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


# bump when a generator's output changes, so stale cached inputs are
# not reused
VERSION = 7


def cached(work: str, kind: str, seed: int, size, make) -> tuple[str, dict]:
    """Run ``make(path) -> expected`` once per (kind, seed, size) and
    reuse the files afterwards; returns (path, expected)."""
    root = os.path.join(work, "inputs")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{kind}_v{VERSION}_s{seed}_n{size}")
    meta = path + ".json"
    if os.path.exists(meta):
        with open(meta) as fh:
            return path, json.load(fh)
    expected = make(path)
    with open(meta + ".tmp", "w") as fh:
        json.dump(expected, fh)
    os.replace(meta + ".tmp", meta)
    return path, expected
