"""Seeded input generators.  The same seed gives the same inputs; nothing
here touches Spark, so the program under test receives only files and
in-memory frames."""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Tribute stream: reference-shaped dimensions (16 tributes, 1 game) + events
# ---------------------------------------------------------------------------

N_TRIBUTES = 16
GAME_ID = "1"
GAME_BOUNDS = {"maxXCoordinate": 100.0, "maxYCoordinate": 100.0,
               "minXCoordinate": 0.0, "minYCoordinate": 0.0}
_FIRST_NAMES = (
    "Marvel", "Glimmer", "Cato", "Clove", "Foxface", "Jason", "Rue", "Thresh",
    "Katniss", "Peeta", "Cash", "Velvet", "Bristle", "Coral", "Lapis", "Sage",
)


def write_tribute_dims(rng: np.random.Generator, base: str) -> list[dict]:
    """Write ``staticData/s3/tributeData.csv`` (16 rows, every value quoted,
    header) and ``staticData/dynamo/gameData.json`` (one object) under
    ``base`` in the reference's layout, typed as ``schemas.TRIBUTE_DIM_SCHEMA``
    / ``GAME_CONFIG_SCHEMA``.  Returns the tribute rows."""
    tributes = []
    for i in range(N_TRIBUTES):
        tributes.append({
            "tributeId": str(i + 1),
            "district": str(i // 2 + 1),
            "firstName": _FIRST_NAMES[i],
            "age": str(int(rng.integers(12, 19))),
            "gender": "F" if i % 2 else "M",
            "minHydrationThreshold": f"{rng.uniform(1.0, 4.0):.2f}",
            "maxHungerThreshold": f"{rng.uniform(6.0, 9.0):.2f}",
            "maxPainThreshold": f"{rng.uniform(4.0, 8.0):.2f}",
        })
    csv_dir = os.path.join(base, "staticData", "s3")
    json_dir = os.path.join(base, "staticData", "dynamo")
    os.makedirs(csv_dir)
    os.makedirs(json_dir)
    with open(os.path.join(csv_dir, "tributeData.csv"), "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(tributes[0]), quoting=csv.QUOTE_ALL)
        w.writeheader()
        w.writerows(tributes)
    with open(os.path.join(json_dir, "gameData.json"), "w") as f:
        json.dump({"gameid": GAME_ID, **GAME_BOUNDS}, f, indent=2)
    return tributes


def tribute_events(rng: np.random.Generator, file_idx: int, n: int, seq0: int) -> list[dict]:
    """``n`` events for one event file.  Measures straddle every CASE
    threshold (heart rate 0 ⇒ DEAD, coordinates past the 0..100 bounds)."""
    tid = rng.integers(1, N_TRIBUTES + 1, n)
    dead = rng.random(n) < 0.1
    heart = np.where(dead, 0.0, np.round(rng.uniform(40, 180, n), 2))
    cols = {name: np.round(rng.uniform(0, 10, n), 2)
            for name in ("painlevel", "hydrationlevel", "hungerlevel")}
    x = np.round(rng.uniform(-5, 105, n), 2)
    y = np.round(rng.uniform(-5, 105, n), 2)
    return [
        {
            "streamingeventid": f"{file_idx:05d}-{i:05d}",
            "gameid": GAME_ID,
            "tributeid": str(int(tid[i])),
            "heartrate": float(heart[i]),
            "painlevel": float(cols["painlevel"][i]),
            "hydrationlevel": float(cols["hydrationlevel"][i]),
            "hungerlevel": float(cols["hungerlevel"][i]),
            "xcoordinate": float(x[i]),
            "ycoordinate": float(y[i]),
            "seq": seq0 + i,
        }
        for i in range(n)
    ]


def tribute_status(event: dict, tribute: dict) -> dict:
    """Pure-Python model of the five CASE rules and the sink projection
    (``operators.tribute``), for one event joined to its tribute."""
    h, hu, p = event["hydrationlevel"], event["hungerlevel"], event["painlevel"]
    x, y = event["xcoordinate"], event["ycoordinate"]
    min_h = float(tribute["minHydrationThreshold"])
    max_hu = float(tribute["maxHungerThreshold"])
    max_p = float(tribute["maxPainThreshold"])
    b = GAME_BOUNDS
    if x > b["maxXCoordinate"] or x < b["minXCoordinate"] or y > b["maxYCoordinate"] or y < b["minYCoordinate"]:
        location = "OUT OF BOUNDS"
    elif (b["maxXCoordinate"] - x < 5 or b["maxYCoordinate"] - y < 5
          or x - b["minXCoordinate"] < 5 or y - b["minYCoordinate"] < 5):
        location = "APPROACHING THE BOUNDARY"
    else:
        location = "IN BOUNDS"
    return {
        "tributeId": event["tributeid"],
        "name": tribute["firstName"],
        "district": int(tribute["district"]),
        "age": int(tribute["age"]),
        "status": "DEAD" if event["heartrate"] == 0 else "ALIVE",
        "heartRate": event["heartrate"],
        "painStatus": "INJURED" if p > max_p else "OK",
        "hydrationStatus": ("DEHYDRATED" if h < min_h
                            else "APPROACHING DEHYDRATION" if h - min_h < 0.5 else "OK"),
        "hungerStatus": ("HUNGRY" if hu > max_hu
                         else "GETTING HUNGRY" if max_hu - hu < 0.5 else "OK"),
        "xCoordinate": x,
        "yCoordinate": y,
        "locationStatus": location,
        "seq": event["seq"],
    }


# ---------------------------------------------------------------------------
# Keyed upsert: skewed key batches
# ---------------------------------------------------------------------------

def keyed_batch(rng: np.random.Generator, n_rows: int, n_keys: int, seq0: int) -> pd.DataFrame:
    """``n_rows`` upserts: 60% of rows hit a hot 2% of the key space
    (so keys repeat inside a batch), 35% are uniform over it and 5% are
    new keys just past it.  ``seq`` rises across and within batches."""
    hot = max(1, n_keys // 50)
    kind = rng.random(n_rows)
    keys = np.where(
        kind < 0.60, rng.integers(0, hot, n_rows),
        np.where(kind < 0.95, rng.integers(0, n_keys, n_rows),
                 n_keys + rng.integers(0, max(1, n_rows // 10), n_rows)),
    ).astype(np.int64)
    return pd.DataFrame({
        "k": keys,
        "seq": np.arange(seq0, seq0 + n_rows, dtype=np.int64),
        "v": np.round(rng.normal(0, 100, n_rows), 3),
        "tag": np.array(["a", "b", "c", "d"])[rng.integers(0, 4, n_rows)],
    })


# ---------------------------------------------------------------------------
# Query mix: the registry's synthetic star schema, scaled by ``sf``
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "small", "hot", "old", "large", "cold", "new", "blue"]
_PART_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gear", "pipe", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(df: pd.DataFrame, path: str, schema=None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def write_star_schema(rng: np.random.Generator, out: str, sf: float) -> None:
    """The ten tables the registry reads (``region nation customer supplier
    part orders lineitem events documents embeddings``), with the column
    names and types of the repository's synthetic test tables (FIXTURES.md §B)."""
    import pyarrow as pa

    os.makedirs(out)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
           f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{out}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }), f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    lines_per_order = rng.integers(1, 8, n_ord)
    n_li = int(lines_per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per_order]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
    }), f"{out}/lineitem.parquet")
    n_users = max(15, n_events // 66)
    _write(pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(100, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), f"{out}/events.parquet")

    texts = []
    for i in range(n_docs):
        if i % 20 == 19:  # plant a near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")

    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] + rng.normal(0, 0.6, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(emb),
                      "label": label.astype(np.int32)}),
        f"{out}/embeddings.parquet",
        schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                          ("label", pa.int32())]),
    )
