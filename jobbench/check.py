"""Correctness checks for rollup_job / refresh_job outputs.

The expected store is recomputed in DuckDB straight from the input parquet
files (corpus plus every absorbed delta), never from the engine's own
output:

* z-score parameters over the rows the persisted split boundaries put in
  d1+d2 (mean, sample std);
* the prepared series: per source, ordered by (ts, doc_id), the z-scored
  n_tok minus its trailing 5-row mean;
* every tier: count, sum, sum of squares, min and max per bucket, dense per
  source from floor(t0) to floor(t1), empty buckets as (0, NULL...).

Method properties are checked next to it: Σ n_points equals the rows
absorbed at every tier, and the 5-minute blocks decode to exactly the
non-empty 5-minute rows. Row sets are compared as multisets: both sides are
sorted on every column and compared row by row, so a duplicated row cannot
stand in for a missing one.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pandas as pd

TIERS = {"5m": 300, "1h": 3600, "1d": 86400}
MA_WINDOW = 5
STATS = ["n", "s", "ss", "mn", "mx"]


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}/*.parquet'" for p in paths) + "]"


def _epoch(text: str) -> str:
    return f"epoch(TIMESTAMP '{text}')::BIGINT"


class Expected:
    """The store a correct job leaves after absorbing ``inputs``."""

    def __init__(self, con, inputs: list[str], split_params: str):
        self.con = con
        with open(split_params) as fh:
            bounds = json.load(fh)["params"]["boundaries"]
        fit_rows = " OR ".join(
            f"(tss BETWEEN {_epoch(bounds[k]['start_time'])} "
            f"AND {_epoch(bounds[k]['end_time'])})"
            for k in ("d1", "d2") if k in bounds
        )
        con.execute(
            "CREATE OR REPLACE TEMP TABLE src AS SELECT source, doc_id, n_tok, "
            f"epoch(ts)::BIGINT AS tss FROM read_parquet({_files(inputs)})"
        )
        self.rows = con.execute("SELECT count(*) FROM src").fetchone()[0]
        mean, std = con.execute(
            "SELECT avg(n_tok::DOUBLE), stddev_samp(n_tok::DOUBLE) "
            f"FROM src WHERE {fit_rows}"
        ).fetchone()
        # zero variance divides by 1, as the engine's Normalizer does
        self.mean, self.std = mean, (std if std else 1.0)
        con.execute(
            "CREATE OR REPLACE TEMP TABLE prep AS SELECT source, tss, z - avg(z) "
            "OVER (PARTITION BY source ORDER BY tss, doc_id ROWS BETWEEN "
            f"{MA_WINDOW - 1} PRECEDING AND CURRENT ROW) AS v FROM "
            f"(SELECT source, tss, doc_id, (n_tok - {self.mean!r}) / {self.std!r} "
            "AS z FROM src)"
        )
        self.prepared = con.execute("SELECT source, tss, v FROM prep").df()
        self.tiers = {name: self._tier(step) for name, step in TIERS.items()}

    def _tier(self, step: int) -> pd.DataFrame:
        return self.con.execute(
            f"""
            WITH agg AS (
              SELECT source, tss - tss % {step} AS b, count(v) AS n, sum(v) AS s,
                     sum(v * v) AS ss, min(v) AS mn, max(v) AS mx
              FROM prep GROUP BY 1, 2),
            edges AS (
              SELECT source, min(tss) - min(tss) % {step} AS lo,
                     max(tss) - max(tss) % {step} AS hi
              FROM prep GROUP BY 1),
            spine AS (
              SELECT source, unnest(range(lo, hi + {step}, {step})) AS b FROM edges)
            SELECT spine.source, spine.b, coalesce(agg.n, 0) AS n, agg.s, agg.ss,
                   agg.mn, agg.mx
            FROM spine LEFT JOIN agg USING (source, b)
            """
        ).df()


def read_tier(con, out: str, name: str) -> pd.DataFrame:
    return con.execute(
        "SELECT source, epoch(bucket_start)::BIGINT AS b, n_points AS n, "
        "sum_v AS s, sum_sq AS ss, min_v AS mn, max_v AS mx FROM read_parquet("
        f"'{out}/tier_{name}/*/*.parquet', hive_partitioning = true)"
    ).df()


def read_prepared(con, out: str) -> pd.DataFrame:
    return con.execute(
        f"SELECT source, tss, n_tok_z AS v FROM read_parquet('{out}/prepared/*.parquet')"
    ).df()


def compare_multiset(actual: pd.DataFrame, expected: pd.DataFrame, keys: list[str],
                     values: list[str], what: str, atol: float = 1e-7,
                     rtol: float = 1e-9) -> list[str]:
    """Problems found comparing two row multisets: keys must match exactly,
    values within ``atol + rtol·|expected|`` (NULL only against NULL)."""
    if len(actual) != len(expected):
        return [f"{what}: {len(actual)} rows, expected {len(expected)}"]
    cols = keys + values
    a = actual[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    e = expected[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    problems = []
    for k in keys:
        bad = (a[k].to_numpy() != e[k].to_numpy()).nonzero()[0]
        if len(bad):
            i = bad[0]
            problems.append(f"{what}: key {k} differs at row {i}: "
                            f"{a.loc[i, keys].tolist()} vs {e.loc[i, keys].tolist()}")
            return problems
    for v in values:
        av = pd.to_numeric(a[v], errors="coerce").to_numpy(dtype="float64", na_value=np.nan)
        ev = pd.to_numeric(e[v], errors="coerce").to_numpy(dtype="float64", na_value=np.nan)
        nan_a, nan_e = np.isnan(av), np.isnan(ev)
        close = np.abs(av - ev) <= atol + rtol * np.abs(ev)
        bad = ((nan_a != nan_e) | (~nan_a & ~nan_e & ~close)).nonzero()[0]
        if len(bad):
            i = bad[0]
            problems.append(f"{what}: {v} differs at {a.loc[i, keys].tolist()}: "
                            f"{av[i]!r} vs {ev[i]!r} ({len(bad)} rows)")
    return problems


def check_params(out: str, exp: Expected) -> list[str]:
    with open(os.path.join(out, "norm_params.json")) as fh:
        p = json.load(fh)["params"]["per_column"]["n_tok_z"]
    problems = []
    for k, want in (("mean", exp.mean), ("std", exp.std)):
        if not abs(p[k] - want) <= 1e-9 * max(1.0, abs(want)):
            problems.append(f"z-score {k}: {p[k]!r}, expected {want!r}")
    return problems


def check_store(con, out: str, exp: Expected) -> list[str]:
    """Params, prepared series and all tiers against the recomputation,
    plus Σ n_points == rows absorbed at every tier."""
    problems = check_params(out, exp)
    problems += compare_multiset(read_prepared(con, out), exp.prepared,
                                 ["source", "tss"], ["v"], "prepared")
    for name in TIERS:
        got = read_tier(con, out, name)
        problems += compare_multiset(got, exp.tiers[name], ["source", "b"],
                                     STATS, f"tier {name}")
        total = int(got["n"].sum())
        if total != exp.rows:
            problems.append(f"tier {name}: Σ n_points {total} != {exp.rows} rows absorbed")
    return problems


def check_blocks(decoded: pd.DataFrame, tier5m: pd.DataFrame) -> list[str]:
    """Blocks must decode, bit for bit, to the non-empty 5-minute rows."""
    return compare_multiset(decoded, tier5m[tier5m["n"] > 0], ["source", "b"],
                            STATS, "blocks", atol=0.0, rtol=0.0)


def decoded_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """decode_tier_blocks output (toPandas) in the checker's column names."""
    return pd.DataFrame({
        "source": pdf["source"],
        "b": pd.to_datetime(pdf["bucket_start"]).astype("int64") // 10**9,
        "n": pdf["n_points"].astype("int64"),
        "s": pdf["sum_v"], "ss": pdf["sum_sq"], "mn": pdf["min_v"], "mx": pdf["max_v"],
    })


def touched_buckets(con, delta: str, step: int) -> int:
    """Distinct (source, bucket) cells the delta's rows fall in."""
    return con.execute(
        f"SELECT count(DISTINCT (source, epoch(ts)::BIGINT - epoch(ts)::BIGINT % {step})) "
        f"FROM read_parquet('{delta}/*.parquet')"
    ).fetchone()[0]


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``, Spark's hidden .crc files aside."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if not f.startswith("."))


def count_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
