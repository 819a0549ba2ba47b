"""Output checks for the benchmark workloads. Each returns a list of
problem strings; an empty list means the output is correct."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


# ---------------------------------------------------------------------------
# query_mix: order-insensitive value hash against the DuckDB oracle
# ---------------------------------------------------------------------------

def _kind(s: pd.Series) -> str:
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        return "timestamp_tz"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "timestamp"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def frame_hash(pdf: pd.DataFrame) -> str:
    """Hash of (schema kinds, row count, values) that ignores column and
    row order, the comparison ``tools/check_oracle.py`` makes: floats
    compare bit-exactly (NaN payloads canonicalized), timestamps at µs
    resolution, everything else by its string form."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    kinds = [f"{c}:{_kind(pdf[c])}" for c in pdf.columns]
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            v = s.to_numpy(dtype="float64").copy()
            v[np.isnan(v)] = np.nan
            pdf[c] = v.view(np.int64)
        elif pd.api.types.is_datetime64_any_dtype(s) and not isinstance(
            s.dtype, pd.DatetimeTZDtype
        ):
            pdf[c] = s.astype("datetime64[us]").astype(str)
        else:
            pdf[c] = s.astype(str)
    rows = sorted(map(repr, pdf.itertuples(index=False, name=None)))
    h = hashlib.sha256(repr((kinds, len(rows))).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def check_queries(spark, con, names, queries, oracles, data_dir) -> dict[str, str]:
    """Run each query once more outside the timed loop and compare its
    hash with the oracle's. Returns {query: problem} for mismatches."""
    bad = {}
    for name in names:
        try:
            got = frame_hash(queries[name](spark, data_dir).toPandas())
            want = frame_hash(con.execute(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001 - any failure is a wrong output
            bad[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
            continue
        if got != want:
            bad[name] = "value hash differs from the DuckDB oracle"
    return bad


# ---------------------------------------------------------------------------
# sensor_batch
# ---------------------------------------------------------------------------

def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def check_reformat(out: str, exp: dict, d_time: int) -> list[str]:
    problems = []
    if d_time != 900_000:
        problems.append(f"clock skew applied {d_time} ms, expected 900000")
    meas = _read(os.path.join(out, "measurements"))
    got = meas.groupby("kind").size().to_dict()
    if got != exp["kinds"]:
        problems.append(f"per-kind measurement rows {got} != {exp['kinds']}")
    n_ac = len(_read(os.path.join(out, "ac")))
    if n_ac != exp["ac_rows"]:
        problems.append(f"ac rows {n_ac} != {exp['ac_rows']}")
    n_ppg = len(_read(os.path.join(out, "ppg")))
    if n_ppg != exp["ppg_rows"]:
        problems.append(f"ppg rows {n_ppg} != {exp['ppg_rows']}")
    return problems


def check_acc(out: str, exp: dict) -> list[str]:
    acc = _read(out)
    problems = []
    if len(acc) == 0 or len(acc) % 5:
        problems.append(f"{len(acc)} resampled rows, expected a positive multiple of 5")
    if acc["g_force"].isna().any():
        problems.append("null g_force")
    return problems


def check_filter(out: str, exp: dict) -> list[str]:
    kept = _read(out)
    problems = []
    hr = kept[kept["kind"] == "hr"]
    flat = pd.to_datetime(pd.Series(exp["flatline_ms"]), unit="ms", utc=True)
    times = pd.to_datetime(hr["date_time"], utc=True)
    if times.isin(flat).any():
        problems.append("planted flatline hr rows survived the filter")
    if len(hr) != exp["hr_kept"]:
        problems.append(f"{len(hr)} hr rows kept, expected {exp['hr_kept']}")
    for kind, lo in exp["out_of_range"].items():
        if (kept.loc[kept["kind"] == kind, "data"] < lo).any():
            problems.append(f"out-of-range {kind} rows survived the filter")
    return problems


def check_activity(out: str) -> list[str]:
    final = _read(os.path.join(out, "activity_categorized"))
    problems = []
    if len(final) == 0:
        return ["no categorized intervals"]
    cats = set(final["category"])
    if not cats <= {"high active", "low active", "rest", "sleep"} or "sleep" not in cats:
        problems.append(f"categories {sorted(cats)}")
    # closed intervals: zero-width pieces are part of the contract
    # (subtract_intervals keeps them for reference parity)
    if (final["start_time"] > final["end_time"]).any():
        problems.append("interval with start_time > end_time")
    for cat, g in final.sort_values("start_time").groupby("category"):
        if (g["start_time"].to_numpy()[1:] < g["end_time"].to_numpy()[:-1]).any():
            problems.append(f"overlapping {cat} intervals")
    for part in ("acc_category", "sleep_acc_thresholds"):
        if not os.path.exists(os.path.join(out, part)):
            problems.append(f"{part} not written")
    return problems


def load_expected(inputs: str) -> dict:
    with open(os.path.join(inputs, "expected.json")) as f:
        return json.load(f)
