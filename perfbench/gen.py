"""Seeded synthetic inputs for the benchmark workloads.

Everything the engine reads during a run is produced here from the
workload seed, so the same seed gives byte-identical inputs and the engine
never sees anything else:

- ``write_star_schema``: the catalog's parquet star schema (``region`` …
  ``embeddings``), one file per table, with the shapes and value ranges of
  the catalog's sf-scaled test tables: ``lineitem`` has ~6M×sf rows keyed
  by uniformly drawn orders, ``documents`` carries planted exact and
  near-duplicates, ``events`` spans 30 days.
- ``tracking_plays``: normalized tracking frames for the EPPA kernel —
  P plays of 20 players + QB + ball with jittered positions and velocities,
  a ``ball_snap`` and a ``pass_forward`` placed so that exactly F frames per
  play are EPPA-eligible.
- ``shuffled``: the seed-driven pass order of the query mix.

Pure NumPy/pandas/pyarrow: nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENTS_START = np.datetime64("2024-01-01", "us")
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "shiny"]
_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "nut", "spring", "valve"]
_VOCAB = np.array(
    "a the data spark table column row key value hash join sort merge group agg "
    "filter scan query window stream batch part line order customer vector fast "
    "slow big small".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

N_PLAYERS = 20  # 10 OFF + 10 DEF; QB and ball rows come on top
MIN_T_FRAME = 14  # first EPPA-eligible frame after the snap (kernels.eppa)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(_VOCAB[words[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    # 5% near-duplicates (an earlier document plus one token) and a few
    # exact copies, so the dedup operators find real clusters
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_star_schema(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf`` into ``out_dir``;
    return the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables: dict[str, tuple[pd.DataFrame, pa.Schema]] = {}

    tables["region"] = (
        pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    tables["nation"] = (
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    tables["customer"] = (
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]),
    )
    tables["supplier"] = (
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]),
    )
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = (
        pd.DataFrame(
            {
                "p_partkey": pk,
                "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
            }
        ),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]),
    )
    order_day = rng.integers(0, _ORDER_DAYS, n_ord)
    tables["orders"] = (
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _EPOCH_1995 + order_day * _DAY_US,
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]),
    )
    l_order = rng.integers(0, n_ord, n_line)
    tables["lineitem"] = (
        pd.DataFrame(
            {
                "l_orderkey": l_order,
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
                "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
                "l_shipdate": _EPOCH_1995
                + (order_day[l_order] + rng.integers(1, 96, n_line)) * _DAY_US,
            }
        ),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]),
    )
    offsets_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    tables["events"] = (
        pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": _EVENTS_START + offsets_us,
                "user_id": rng.integers(0, n_users, n_events),
                "event_type": rng.choice(_EVENT_TYPES, n_events),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]),
    )
    tables["documents"] = (
        _documents(rng, n_docs),
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]),
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = (
        pd.DataFrame(
            {
                "vec_id": np.arange(n_vecs, dtype=np.int64),
                "embedding": list(vecs),
                "label": labels.astype(np.int32),
            }
        ),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]),
    )
    for name, (df, schema) in tables.items():
        _write(out_dir, name, df, schema)
    return {name: len(df) for name, (df, _) in tables.items()}


def tracking_plays(seed: int, n_plays: int, n_frames: int) -> pd.DataFrame:
    """Normalized tracking rows for ``n_plays`` plays, each with exactly
    ``n_frames`` EPPA-eligible frames (snap at frame 1, pass_forward at
    frame ``1 + MIN_T_FRAME + n_frames - 1``). Columns are the ones
    ``kernels.eppa`` reads: keys, event, nflId (0 = ball), position,
    team_pos, x, y, v_x, v_y."""
    rng = np.random.default_rng(seed)
    throw = 1 + MIN_T_FRAME + n_frames - 1
    frames = np.arange(1, throw + 1)
    events = np.full(throw, None, dtype=object)
    events[0], events[-1] = "ball_snap", "pass_forward"
    blocks = []
    for play in range(1, n_plays + 1):
        slot = np.arange(N_PLAYERS)
        is_off = slot % 2 == 0
        lane = slot // 2
        x0 = 20.0 + 4.0 * lane + np.where(is_off, 0.0, 3.0) + rng.uniform(-2, 2, N_PLAYERS)
        y0 = 3.0 + 4.8 * lane + rng.uniform(-1.5, 1.5, N_PLAYERS)
        vx = np.where(is_off, 4.0, -2.0) + rng.normal(0.0, 0.8, N_PLAYERS)
        vy = rng.normal(0.0, 1.0, N_PLAYERS)
        los = 25.0 + rng.uniform(-5, 5)
        t = (frames - 1) * 0.1
        # players drift along their velocity, with per-frame jitter
        px = x0[None, :] + vx[None, :] * t[:, None] + rng.normal(0, 0.05, (throw, N_PLAYERS))
        py = y0[None, :] + vy[None, :] * t[:, None] + rng.normal(0, 0.05, (throw, N_PLAYERS))
        n = throw * N_PLAYERS
        blocks.append(
            pd.DataFrame(
                {
                    "playId": play,
                    "frameId": np.repeat(frames, N_PLAYERS),
                    "event": np.repeat(events, N_PLAYERS),
                    "nflId": np.tile(1000 + slot, throw),
                    "position": np.tile(np.where(is_off, "WR", "CB"), throw),
                    "team_pos": np.tile(np.where(is_off, "OFF", "DEF"), throw),
                    "x": px.ravel(),
                    "y": np.clip(py.ravel(), 0.0, 53.3),
                    "v_x": np.tile(vx, throw) + rng.normal(0, 0.1, n),
                    "v_y": np.tile(vy, throw) + rng.normal(0, 0.1, n),
                }
            )
        )
        for nfl, pos, team, dx in ((0, None, "FTBL", 0.0), (999, "QB", "OFF", -5.0)):
            blocks.append(
                pd.DataFrame(
                    {
                        "playId": play,
                        "frameId": frames,
                        "event": events,
                        "nflId": nfl,
                        "position": pos,
                        "team_pos": team,
                        "x": los + dx - 0.2 * t,
                        "y": 26.65 + rng.normal(0, 0.1, throw),
                        "v_x": -2.0,
                        "v_y": 0.0,
                    }
                )
            )
    out = pd.concat(blocks, ignore_index=True)
    out.insert(0, "gameId", 1)
    return out.astype(
        {"gameId": "int64", "playId": "int64", "frameId": "int32", "nflId": "int64"}
    )


def shuffled(names: list[str], seed: int) -> list[str]:
    """``names`` in a seed-shuffled order."""
    return [names[i] for i in np.random.default_rng(seed).permutation(len(names))]
