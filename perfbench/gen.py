"""Seeded benchmark inputs.

Two input families, both a pure function of ``seed``:

- :func:`write_i94_inputs` — the i94 ETL's three reference-shaped inputs
  (SAS labels text, ``;`` demographics CSV, immigration fact Parquet)
  plus the ground-truth dim Parquets the DuckDB twins read. Labels,
  demographics and dims come from the engine's own fixture writers; the
  fact is regenerated here at benchmark scale with the fixture's
  dirty-data traits (junk country/port/state codes, day-0 and NULL SAS
  dates, NULL modes, genders and airlines) drawn from ``seed``, written
  as :data:`FACT_FILES` files of :data:`FACT_ROW_GROUPS` row groups each
  because scan parallelism follows row groups.
- :func:`write_orders` — the ``orders`` table of the engine's TPC-H-ish
  catalog, which the change-log streams replay.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FACT_FILES = 2
FACT_ROW_GROUPS = 4


def _pick(rng, options, n, junk=None, junk_rate=0.02):
    out = np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]
    if junk is not None:
        out[rng.random(n) < junk_rate] = junk
    return out


def immigration_frame(seed: int, n_rows: int) -> pd.DataFrame:
    """The fixture's immigration columns and traits, vectorized."""
    from udacity_data_engineer_capstone_spark.sources import i94_fixtures as fx

    rng = np.random.default_rng(seed)
    countries = [float(c) for c, _ in fx._countries()]
    ports = [c for c, _ in fx._ports(rng)]
    states = [s for s, _ in fx.STATES]
    arrdate = rng.integers(20454, 20575, n_rows).astype(float)
    arrdate[rng.random(n_rows) < 0.01] = 0.0  # day-0 quirk rows
    depdate = arrdate + rng.integers(0, 90, n_rows)
    arrdate[rng.random(n_rows) < 0.01] = np.nan
    depdate[rng.random(n_rows) < 0.2] = np.nan
    return pd.DataFrame(
        {
            "i94yr": np.full(n_rows, 2016.0),
            "i94mon": rng.integers(1, 13, n_rows).astype(float),
            "i94cit": _pick(rng, countries, n_rows, junk=999.0).astype(float),
            "i94res": _pick(rng, countries, n_rows, junk=999.0).astype(float),
            "i94port": _pick(rng, ports, n_rows, junk="ZZZ"),
            "arrdate": arrdate,
            "i94mode": rng.choice(
                [1.0, 2.0, 3.0, 9.0, np.nan], n_rows, p=[0.7, 0.1, 0.1, 0.05, 0.05]
            ),
            "i94addr": _pick(rng, states, n_rows, junk="XX"),
            "depdate": depdate,
            "i94bir": rng.integers(0, 96, n_rows).astype(float),
            "i94visa": rng.choice([1.0, 2.0, 3.0], n_rows),
            "occup": np.where(rng.random(n_rows) < 0.9, None, "OCC"),
            "gender": rng.choice(
                np.array(["M", "F", None], dtype=object), n_rows, p=[0.45, 0.45, 0.1]
            ),
            "biryear": 2016.0 - rng.integers(0, 96, n_rows),
            "dtaddto": np.full(n_rows, "04152017", dtype=object),
            "airline": rng.choice(np.array(["AB", "CD", "EF", None], dtype=object), n_rows),
            "admnum": rng.integers(10**9, 10**10, n_rows).astype(float),
            "fltno": rng.integers(1, 9999, n_rows).astype(str).astype(object),
            "visatype": rng.choice(np.array(["B1", "B2", "F1", "WT"], dtype=object), n_rows),
        }
    )


def write_i94_inputs(base_dir: str, seed: int, n_rows: int) -> dict[str, str]:
    """Write the i94 inputs under ``base_dir``; returns the fixture-style
    path map (``labels``, ``demographics``, ``immigration``, ``output``
    and the ``dim_*`` ground-truth Parquets)."""
    from udacity_data_engineer_capstone_spark.sources import i94_fixtures as fx

    os.makedirs(base_dir, exist_ok=True)
    paths = {
        "labels": os.path.join(base_dir, "labels.SAS"),
        "demographics": os.path.join(base_dir, "demographics.csv"),
        "immigration": os.path.join(base_dir, "immigration"),
        "output": os.path.join(base_dir, "out"),
    }
    fx.write_labels_file(paths["labels"])
    fx.write_demographics_csv(paths["demographics"])
    table = pa.Table.from_pandas(immigration_frame(seed, n_rows), preserve_index=False)
    os.makedirs(paths["immigration"])
    per_file = -(-n_rows // FACT_FILES)
    for i in range(FACT_FILES):
        pq.write_table(
            table.slice(i * per_file, per_file),
            os.path.join(paths["immigration"], f"part-{i:03d}.parquet"),
            row_group_size=-(-per_file // FACT_ROW_GROUPS),
        )
    paths.update(fx.write_dim_parquets(base_dir))
    return paths


def write_orders(sf_dir: str, seed: int, sf: float) -> int:
    """Write the catalog's ``orders`` table at scale ``sf`` (``sf=0.1``
    ≙ 150k orders over 15k customers) with the seed-42 test data's
    column types and value distributions; returns its row count."""
    rng = np.random.default_rng(seed)
    n = int(1_500_000 * sf)
    os.makedirs(sf_dir, exist_ok=True)
    pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, int(150_000 * sf), n),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], n),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
            "o_orderdate": np.datetime64("1995-01-01", "us")
            + rng.integers(0, 2404, n).astype("timedelta64[D]"),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    ).to_parquet(os.path.join(sf_dir, "orders.parquet"), index=False)
    return n
