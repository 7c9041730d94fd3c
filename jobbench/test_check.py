"""The checkers must reject broken stores. A correct store is written from
the DuckDB recomputation itself, in the layout rollup_job writes, then one
fault at a time is put in. Runs without Spark:

    python -m pytest jobbench/test_check.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


def _write_tier(out: str, name: str, df: pd.DataFrame) -> None:
    root = os.path.join(out, f"tier_{name}")
    shutil.rmtree(root, ignore_errors=True)
    rows = pd.DataFrame({
        "bucket_start": pd.to_datetime(df["b"], unit="s"),
        "n_points": df["n"].astype("int64"),
        "sum_v": df["s"], "sum_sq": df["ss"], "min_v": df["mn"], "max_v": df["mx"],
    })
    for source, part in rows.groupby(df["source"]):
        os.makedirs(os.path.join(root, f"source={source}"))
        part.to_parquet(os.path.join(root, f"source={source}", "part-0.parquet"), index=False)


def _write_prepared(out: str, df: pd.DataFrame) -> None:
    root = os.path.join(out, "prepared")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    df.rename(columns={"v": "n_tok_z"})[["tss", "source", "n_tok_z"]].to_parquet(
        os.path.join(root, "part-0.parquet"), index=False)


@pytest.fixture
def store(tmp_path):
    corpus, out = str(tmp_path / "corpus"), str(tmp_path / "out")
    gen.write_corpus(corpus, 20_000, seed=3, files=2)
    os.makedirs(out)
    split = os.path.join(out, "split_params.json")
    with open(split, "w") as fh:
        json.dump({"params": {"boundaries": {
            "d1": {"start_time": "2024-01-01 00:00:00", "end_time": "2024-01-01 02:59:59"},
            "d2": {"start_time": "2024-01-01 03:00:00", "end_time": "2024-01-01 03:59:59"},
        }}}, fh)
    con = check.connect(2)
    exp = check.Expected(con, [corpus], split)
    with open(os.path.join(out, "norm_params.json"), "w") as fh:
        json.dump({"params": {"per_column": {"n_tok_z": {"mean": exp.mean, "std": exp.std}}}}, fh)
    _write_prepared(out, exp.prepared)
    for name, tier in exp.tiers.items():
        _write_tier(out, name, tier)
    return con, out, exp


def test_correct_store_passes(store):
    con, out, exp = store
    assert check.check_store(con, out, exp) == []
    tier5m = check.read_tier(con, out, "5m")
    assert (tier5m["n"] == 0).any(), "fixture must contain gap-filled buckets"
    assert check.check_blocks(tier5m[tier5m["n"] > 0], tier5m) == []


def _tier(con, out, name):
    return check.read_tier(con, out, name).sort_values(["source", "b"]).reset_index(drop=True)


@pytest.mark.parametrize("name", list(check.TIERS))
def test_rejects_dropped_tier_row(store, name):
    con, out, exp = store
    t = _tier(con, out, name)
    _write_tier(out, name, t.drop(index=len(t) // 2))
    assert check.check_store(con, out, exp)


def test_rejects_duplicate_standing_in_for_missing_row(store):
    con, out, exp = store
    t = _tier(con, out, "1h")
    t.loc[5] = t.loc[4]  # same row count, one bucket twice and one missing
    _write_tier(out, "1h", t)
    problems = check.check_store(con, out, exp)
    assert any("tier 1h" in p for p in problems)


def test_rejects_perturbed_sum(store):
    con, out, exp = store
    t = _tier(con, out, "5m")
    i = t.index[t["n"] > 0][3]
    t.loc[i, "s"] += 1e-4
    _write_tier(out, "5m", t)
    assert any("s differs" in p for p in check.check_store(con, out, exp))


def test_rejects_missing_gap_fill_bucket(store):
    con, out, exp = store
    t = _tier(con, out, "5m")
    _write_tier(out, "5m", t.drop(index=t.index[t["n"] == 0][0]))
    assert any("tier 5m" in p for p in check.check_store(con, out, exp))


def test_rejects_prepared_duplicate_for_missing(store):
    con, out, exp = store
    p = check.read_prepared(con, out).sort_values(["source", "tss"]).reset_index(drop=True)
    p.loc[10] = p.loc[11]
    _write_prepared(out, p)
    assert any("prepared" in x for x in check.check_store(con, out, exp))


def test_rejects_wrong_params(store):
    con, out, exp = store
    with open(os.path.join(out, "norm_params.json"), "w") as fh:
        json.dump({"params": {"per_column": {"n_tok_z": {
            "mean": exp.mean * (1 + 1e-6), "std": exp.std}}}}, fh)
    assert any("mean" in p for p in check.check_store(con, out, exp))


def test_rejects_blocks_of_another_tier(store):
    con, out, _ = store
    tier5m, tier1h = _tier(con, out, "5m"), _tier(con, out, "1h")
    assert check.check_blocks(tier1h[tier1h["n"] > 0], tier5m)


def test_rejects_blocks_with_changed_bits(store):
    con, out, _ = store
    tier5m = _tier(con, out, "5m")
    decoded = tier5m[tier5m["n"] > 0].copy()
    decoded.iloc[0, decoded.columns.get_loc("mx")] += 1e-12
    assert check.check_blocks(decoded, tier5m)
