"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes the same bytes. Nothing here imports ``datapipeline_spark``; the
program under test only ever sees the files written below.

- ``write_project``  a serve project (sources, streams, dataset, profile)
- ``write_tables``   the ten TPC-H-like tables the registry queries read
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
HOUR_US = 3_600_000_000
#: leading ticks whose rolling_slope (window 3) is still undefined
SLOPE_WARMUP = 2
#: per-partition features; the target `load` is unpartitioned
PARTITIONED_FEATURES = ("temp_roll", "slope")


@dataclass(frozen=True)
class ProjectShape:
    partitions: int
    ticks: int

    @property
    def cutoff_tick(self) -> int:
        """First tick of the test interval (70 % of the history trains)."""
        return int(self.ticks * 0.7)

    def expected_rows(self) -> dict[tuple[str, str], int]:
        """Rows per (fold, role): every tick after the slope warm-up. The
        adjusted stream starts after the warm-up, and the `intersection`
        window clips every output to it, so no sample holds
        a null (`iter_model_batches(strict_finite=True)` accepts them)."""
        return {
            ("f0", "train"): self.cutoff_tick - SLOPE_WARMUP,
            ("f0", "test"): self.ticks - self.cutoff_tick,
        }

    def expected_columns(self) -> set[str]:
        cols = {"time", "load"}
        for f in PARTITIONED_FEATURES:
            cols.update(f"{f}__@station:{s}" for s in station_names(self.partitions))
        return cols


def station_names(n: int) -> list[str]:
    return [f"st{i:04d}" for i in range(n)]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us", tz="UTC"))


def _write(path: Path, text: str) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


def _kept_ticks(rng: np.random.Generator, ticks: int, drop: float) -> np.ndarray:
    """Tick indices that carry a record. Gaps are single ticks and never the
    first or last one, so a trailing `fill` window of 3 always has data."""
    gone = rng.random(ticks) < drop
    gone[0] = gone[-1] = False
    gone[1:] &= ~gone[:-1]
    return np.flatnonzero(~gone)


def _walk(rng: np.random.Generator, n: int, start: float, step: float) -> np.ndarray:
    return start + np.cumsum(rng.normal(0.0, step, n))


def write_project(root: Path, shape: ProjectShape, seed: int) -> int:
    """Write a serve project under `root`; returns the raw record count.

    Streams use the reference grammar end to end: a partitioned source with
    sub-hour jitter and duplicates (`floor_time` + `collapse`), single-tick
    gaps (`ensure_cadence` + `fill`), a `rolling` mean, a broadcast-combined
    stream with `rolling_slope`, a scaled feature, a time-split fold and a
    parquet serve profile with `artifact_mode: AUTO`."""
    rng = np.random.default_rng(seed)
    t_, s_, v_ = [], [], []
    for i, st in enumerate(station_names(shape.partitions)):
        kept = _kept_ticks(rng, shape.ticks, 0.06)
        vals = _walk(rng, kept.size, 15.0 + (i % 17), 0.4)
        jitter = rng.integers(0, 59 * 60, kept.size) * 1_000_000
        t_.append(kept * HOUR_US + jitter)
        s_.append(np.full(kept.size, st))
        v_.append(vals)
        dup = rng.random(kept.size) < 0.05  # a later reading in the same hour
        t_.append(kept[dup] * HOUR_US + 59 * 60 * 1_000_000 + 30_000_000)
        s_.append(np.full(int(dup.sum()), st))
        v_.append(vals[dup] + rng.normal(0.0, 0.1, int(dup.sum())))
    t = np.concatenate(t_) + int(T0.timestamp()) * 1_000_000
    order = rng.permutation(t.size)  # raw rows arrive unordered
    sensor = pa.table(
        {
            "time": _ts(t[order]),
            "station": pa.array(np.concatenate(s_)[order]),
            "value": pa.array(np.concatenate(v_)[order]),
        }
    )
    base_t = np.arange(shape.ticks) * HOUR_US + int(T0.timestamp()) * 1_000_000
    baseline = pa.table(
        {"time": _ts(base_t), "value": pa.array(_walk(rng, shape.ticks, 100.0, 1.0))}
    )
    kept = _kept_ticks(rng, shape.ticks, 0.04)
    load = pa.table(
        {
            "time": _ts(base_t[kept]),
            "value": pa.array(np.abs(_walk(rng, kept.size, 500.0, 5.0))),
        }
    )
    for name, tbl in (("sensor", sensor), ("baseline", baseline), ("load", load)):
        (root / "data").mkdir(parents=True, exist_ok=True)
        pq.write_table(tbl, root / "data" / f"{name}.parquet")

    iso = lambda h: (T0 + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M:%SZ")  # noqa: E731
    cutoff, warm = iso(shape.cutoff_tick), iso(SLOPE_WARMUP)
    _write(root / "project.yaml", "schema_version: 3\nname: perfbench\n")
    for name in ("sensor", "baseline", "load"):
        _write(
            root / "sources" / f"{name}.yaml",
            f"id: raw.{name}\n"
            "parser: { entrypoint: core.temporal_record }\n"
            f"loader: {{ transport: fs, path: data/{name}.parquet, "
            "reader: { format: parquet } }\n",
        )
    _write(
        root / "streams" / "sensor.yaml",
        """id: s.sensor
from: { source: raw.sensor }
partition_by: [station]
transforms:
  - { operation: floor_time, cadence: 1h }
  - { operation: collapse, keep: last }
  - { operation: ensure_cadence, cadence: 1h }
  - { operation: fill, field: value, statistic: median, window: 3, min_samples: 1 }
  - { operation: rolling, field: value, window: 3, statistic: mean, min_samples: 1, to: roll3 }
""",
    )
    _write(
        root / "streams" / "baseline.yaml",
        """id: s.baseline
from: { source: raw.baseline }
transforms:
  - { operation: ensure_cadence, cadence: 1h }
""",
    )
    _write(
        root / "streams" / "adjusted.yaml",
        f"""id: s.adjusted
from:
  stream: s.sensor
  broadcast: s.baseline
combine:
  entrypoint: select
  args:
    fields:
      station: s.sensor.station
      temp: s.sensor.value
      baseline: s.baseline.value
    derive:
      - {{ to: value, left: temp, operator: sub, right_field: baseline }}
transforms:
  - {{ operation: rolling_slope, x: baseline, y: temp, window: 3, to: slope }}
  - {{ operation: where, operator: ge, field: time, comparand: "{warm}" }}
""",
    )
    _write(
        root / "streams" / "load.yaml",
        """id: s.load
from: { source: raw.load }
transforms:
  - { operation: ensure_cadence, cadence: 1h }
  - { operation: fill, field: value, statistic: mean, window: 3, min_samples: 1 }
""",
    )
    _write(
        root / "dataset.yaml",
        f"""sample:
  cadence: 1h
features:
  - {{ id: temp_roll, stream: s.sensor, field: roll3, scale: true }}
  - {{ id: slope, stream: s.adjusted, field: slope }}
targets:
  - {{ id: load, stream: s.load, field: value }}
split:
  mode: time
  intervals:
    - {{ id: early, until: "{cutoff}" }}
    - {{ id: late }}
  folds:
    - {{ id: f0, train: [early], validation: [], test: [late] }}
metadata:
  window_mode: intersection
""",
    )
    _write(
        root / "profiles" / "serve.parquet.yaml",
        "artifact_mode: AUTO\noutput: { transport: fs, format: parquet, directory: out }\n",
    )
    return sensor.num_rows + baseline.num_rows + load.num_rows


# --------------------------------------------------------------------------- #
# registry tables
# --------------------------------------------------------------------------- #

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
               "new", "old", "plate", "red", "ring", "rod", "small", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge", "order",
              "part", "query", "row", "scan", "slow", "small", "sort", "spark",
              "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng: np.random.Generator, n: int, start: dt.date, span: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def write_tables(out: Path, lineitems: int, seed: int) -> dict[str, int]:
    """The registry's ten tables (schemas of the TPC-H-like test set) with
    `lineitems` line items; row counts of the others scale with it."""
    rng = np.random.default_rng(seed)
    n_ord = lineitems // 4
    n_cust, n_part, n_supp = max(lineitems // 40, 50), max(lineitems // 30, 50), 100
    n_ev, n_doc, n_vec = lineitems // 6, max(lineitems // 120, 100), max(lineitems // 120, 100)
    r2 = lambda x: np.round(x, 2)  # noqa: E731 — cents, as the test set stores
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": r2(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": r2(rng.uniform(-999.99, 9999.99, n_supp)),
        }),
    }
    retail = r2(900.0 + rng.integers(0, 1000, n_part) / 10.0)
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_WORDS, n_part),
                                                rng.choice(_PART_WORDS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": retail,
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": r2(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    okey = np.sort(rng.integers(0, n_ord, lineitems))
    _, first = np.unique(okey, return_index=True)
    linenum = np.arange(lineitems) - np.repeat(first, np.diff(np.append(first, lineitems)))
    qty = rng.integers(1, 51, lineitems).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, lineitems),
        "l_suppkey": rng.integers(0, n_supp, lineitems),
        "l_linenumber": pa.array((linenum + 1).astype("int32")),
        "l_quantity": qty,
        "l_extendedprice": r2(qty * rng.uniform(900.0, 2100.0, lineitems)),
        "l_discount": np.round(rng.integers(0, 11, lineitems) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, lineitems) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
        "l_linestatus": rng.choice(["F", "O"], lineitems),
        "l_shipdate": _days(rng, lineitems, dt.date(1995, 1, 2), 2500),
    })
    ev_us = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86400 * 1_000_000, n_ev).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(np.sort(ev_us), type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": r2(rng.uniform(0.01, 490.0, n_ev)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.14, 0.44, 0.14, 0.13, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    emb = rng.normal(0.0, 0.125, (n_vec, 64)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype("int32")),
    })
    out.mkdir(parents=True, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")
    return {name: tbl.num_rows for name, tbl in tables.items()}
