"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and writes plain files
(JSON uploads and parquet) with numpy/pyarrow only, so the program under
test sees nothing but the generated files. ``ensure_inputs`` caches each
(workload, seed) under the work directory and returns the cached copy on
a repeat call; generation is never part of a timed metric.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sensor_batch cohort shape: subjects × one overnight recording each
SUBJECTS = 2
NIGHT_HOURS = 2
#: raw upload granularity (one JSON file per hour, as the watch app does)
UPLOAD_SECONDS = 3600
#: the vendor clock runs 15 min behind; reformat corrects it by 900 000 ms
CLOCK_SKEW_MS = 900_000
#: planted flatline hr runs per subject, each longer than the 20-sample limit
FLATLINE_RUNS = 3
FLATLINE_LEN = 25
#: >1 s accelerometer gaps per night; the rest are continuous sessions
ACC_GAPS = 2

#: corpus layers (traced query_mix run): base corpus size and
#: disjoint-token-space replica count
CORPUS_BASE_DOCS = 1250
CORPUS_REPLICAS = 4
CORPUS_EVAL_DOCS = 100

#: query_mix table scale, relative to the TPC-H-ish sf=1 row counts below
QUERY_SF = 0.02
_SF1_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}

_UTC = timezone.utc
_MS = 1000


def ensure_inputs(work: str, workload: str, seed: int) -> str:
    """Return the input directory for (workload, seed), generating it on
    a cache miss. A finished directory carries a ``.done`` marker, so a
    run killed mid-generation regenerates instead of reading half a
    dataset. Older seeds of the same workload are pruned to keep the
    cache small."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    GENERATORS[workload](out, seed)
    open(os.path.join(out, ".done"), "w").close()
    _prune(root, workload, keep=out)
    return out


def _prune(root: str, workload: str, keep: str, max_kept: int = 3) -> None:
    dirs = sorted(
        (os.path.join(root, d) for d in os.listdir(root)
         if d.startswith(workload + "-")),
        key=os.path.getmtime,
    )
    for d in [d for d in dirs if d != keep][: max(0, len(dirs) - max_kept)]:
        shutil.rmtree(d, ignore_errors=True)


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def _ts(ms: np.ndarray, tz=True) -> pa.Array:
    """Epoch-ms array → parquet timestamp(us). ``tz=True`` stores it
    UTC-adjusted (Spark reads TIMESTAMP); naive matches the TESTDATA.md
    tables, which ``load_table`` normalizes."""
    return pa.array(
        np.asarray(ms, dtype=np.int64) * 1000,
        type=pa.timestamp("us", tz="UTC" if tz else None),
    )


# ---------------------------------------------------------------------------
# sensor_batch
# ---------------------------------------------------------------------------

def _night_plan(rng, night_start_ms: int):
    """Shared timeline of one subject-night: active bouts (steps,
    bursty motion) inside an otherwise asleep recording."""
    dur_ms = NIGHT_HOURS * 3600 * _MS
    bouts = []
    for _ in range(3):
        s = int(rng.integers(30, NIGHT_HOURS * 60 - 40)) * 60 * _MS
        bouts.append((night_start_ms + s,
                      night_start_ms + s + int(rng.integers(10, 25)) * 60 * _MS))
    return dur_ms, bouts


def _in_bouts(t: np.ndarray, bouts) -> np.ndarray:
    m = np.zeros(len(t), dtype=bool)
    for a, b in bouts:
        m |= (t >= a) & (t < b)
    return m


def _gen_subject(out: str, sub: int, rng) -> dict:
    day = int(rng.integers(1, 28))
    night_start_ms = int(
        datetime(2024, 3, day, 22, 0, tzinfo=_UTC).timestamp() * _MS
    )
    dur_ms, bouts = _night_plan(rng, night_start_ms)
    exp: dict = {"night_start_ms": night_start_ms, "kinds": {}}

    # ---- raw JSON uploads (reformat input) ----
    recs: list[tuple[int, str, str]] = []  # (true ms, kind, data json)

    def every(step_s, jitter_ms=400):
        n = dur_ms // (step_s * _MS)
        t = night_start_ms + np.arange(n, dtype=np.int64) * step_s * _MS
        return t + rng.integers(0, jitter_ms, n)

    def add(kind, times, payloads, out_kinds):
        for t, p in zip(times.tolist(), payloads):
            recs.append((t, kind, p))
        for k in out_kinds:
            exp["kinds"][k] = exp["kinds"].get(k, 0) + len(times)

    t = every(60)
    hr = np.round(rng.normal(62, 6, len(t)))
    add("hr", t, [f"[{v:.1f}]" for v in hr], ["hr"])
    t = every(600)
    add("hr current", t, [f"[{v:.1f}]" for v in np.round(rng.normal(62, 6, len(t)))],
        ["hr current"])
    t = every(300)
    add("spo2", t, [f"[{v:.1f}]" for v in np.round(rng.normal(96, 1.5, len(t)))], ["spo2"])
    t = every(300)
    add("st", t, [f"[{v:.2f}]" for v in rng.normal(34.5, 0.6, len(t))], ["st"])
    t = every(1800)
    add("bp", t, [f"[{s:.0f}, {d:.0f}]" for s, d in
                  zip(rng.normal(118, 8, len(t)), rng.normal(76, 6, len(t)))],
        ["bp_sys", "bp_dia"])
    t = every(60)
    act = _in_bouts(t, bouts)
    step = np.where(act, rng.integers(20, 120, len(t)), 0)
    add("activity", t, [f"[{s}, {c:.1f}, {li}, {de}, {aw}]" for s, c, li, de, aw in zip(
        step.tolist(), rng.uniform(0.5, 4, len(t)), rng.integers(0, 2, len(t)).tolist(),
        rng.integers(0, 2, len(t)).tolist(), act.astype(int).tolist())],
        ["step", "Calories", "sleep_light", "sleep_deep", "awake"])
    t = every(900)
    add("multi measure", t, [f"[{h:.0f}, {o:.0f}, [{s:.0f}, {d:.0f}], {x:.2f}]"
                             for h, o, s, d, x in zip(
        rng.normal(62, 6, len(t)), rng.normal(96, 1.5, len(t)),
        rng.normal(118, 8, len(t)), rng.normal(76, 6, len(t)),
        rng.normal(34.5, 0.6, len(t)))],
        ["mm_hr", "mm_spo2", "mm_bp_sys", "mm_bp_dia", "mm_st"])
    t = every(600)
    add("ppg", t, [json.dumps(np.round(rng.normal(0, 1, 8), 3).tolist()) for _ in t], [])
    exp["ppg_rows"] = len(t)

    # accelerometer: 2 Hz 5-sample bursts per axis; overnight sessions
    # are continuous except for a few planted >1 s gaps
    n_slots = dur_ms // 500
    slot_t = night_start_ms + np.arange(n_slots, dtype=np.int64) * 500
    keep = np.ones(n_slots, dtype=bool)
    gap_at = np.sort(rng.choice(np.arange(n_slots // 10, n_slots - 20),
                                ACC_GAPS, replace=False))
    for g in gap_at:
        keep[g: g + int(rng.integers(3, 10))] = False
    slot_t = slot_t[keep]
    moving = _in_bouts(slot_t, bouts)
    n_acc = 0
    for axis, mean in (("acx", 0.0), ("acy", 0.0), ("acz", 1.0)):
        sd = np.where(moving, 0.35, 0.01)[:, None]
        samples = mean + rng.normal(0, 1, (len(slot_t), 5)) * sd
        ts = slot_t + rng.integers(0, 40, len(slot_t))
        # dropped axis records (that slot cannot align) and duplicate
        # reports inside the tolerance (the alignment keeps one). Drops
        # hit even slots only: two unaligned slots in a row would be a
        # >1 s gap and split the night into more sessions than planted
        present = (rng.random(len(ts)) > 0.006) | (np.arange(len(ts)) % 2 == 1)
        dup = rng.random(len(ts)) < 0.003
        rows = np.concatenate([np.flatnonzero(present), np.flatnonzero(dup & present)])
        offs = np.concatenate([np.zeros(present.sum(), np.int64),
                               np.full((dup & present).sum(), 50, np.int64)])
        for i, off in zip(rows.tolist(), offs.tolist()):
            recs.append((int(ts[i]) + off, axis,
                         "[" + ", ".join(f"{v:.4f}" for v in samples[i]) + "]"))
        n_acc += len(rows)
    exp["ac_rows"] = n_acc

    raw_dir = os.path.join(out, f"s{sub}", "raw")
    os.makedirs(raw_dir)
    recs.sort()
    bounds = np.arange(night_start_ms, night_start_ms + dur_ms + 1, UPLOAD_SECONDS * _MS)
    times = np.array([r[0] for r in recs], dtype=np.int64)
    for a, b in zip(bounds[:-1], bounds[1:]):
        lo, hi = np.searchsorted(times, [a, b])
        name = datetime.fromtimestamp(a / _MS, _UTC).strftime("upload %Y-%m-%d %H-%M-%S.json")
        with open(os.path.join(raw_dir, name), "w") as f:
            # one JSON array on one line, as the watch app uploads it
            f.write("[" + ", ".join(
                f'{{"time": {tm - CLOCK_SKEW_MS}, "kind": "{k}", "data": {d}}}'
                for tm, k, d in recs[lo:hi]) + "]")
    exp["uploads"] = len(bounds) - 1
    exp["ref_time_s"] = night_start_ms / _MS

    # ---- ac extract (acc input): as reformat writes it, data as JSON text ----
    ac = [r for r in recs if r[1] in ("acx", "acy", "acz")]
    ac_ms = np.array([r[0] for r in ac], dtype=np.int64)
    jname = _upload_names(ac_ms, night_start_ms)
    pq.write_table(pa.table({
        "jname": pa.array(jname), "kind": pa.array([r[1] for r in ac]),
        "data": pa.array([r[2] for r in ac]), "date_time": _ts(ac_ms),
    }), _mkfile(out, sub, "ac"))

    # ---- measurements (filter + activity input) ----
    _gen_measurements(out, sub, rng, night_start_ms, dur_ms, bouts, exp)
    # ---- aligned 10 Hz accelerometer (activity input) ----
    _gen_acc_reformatted(out, sub, rng, night_start_ms, dur_ms, bouts)
    return exp


def _upload_names(ms: np.ndarray, night_start_ms: int) -> list[str]:
    hour = (ms - night_start_ms) // (UPLOAD_SECONDS * _MS)
    start = night_start_ms + hour * UPLOAD_SECONDS * _MS
    return [datetime.fromtimestamp(s / _MS, _UTC).strftime("%Y-%m-%d %H-%M-%S")
            for s in start.tolist()]


def _mkfile(out: str, sub: int, name: str) -> str:
    d = os.path.join(out, f"s{sub}", name)
    os.makedirs(d)
    return os.path.join(d, "part-0.parquet")


def _gen_measurements(out, sub, rng, night_start_ms, dur_ms, bouts, exp) -> None:
    rows: dict[str, list] = {"kind": [], "data": [], "ms": []}

    def put(kind, ms, vals):
        rows["kind"] += [kind] * len(ms)
        rows["data"] += list(map(float, vals))
        rows["ms"] += list(map(int, ms))

    minute = night_start_ms + np.arange(dur_ms // 60_000, dtype=np.int64) * 60_000
    hr = np.round(rng.normal(62, 6, len(minute)))
    hr = np.clip(hr, 51, None)
    # planted flatlines: FLATLINE_LEN identical hr reports in a row
    starts = np.sort(rng.choice(np.arange(10, len(minute) - FLATLINE_LEN - 10, FLATLINE_LEN + 5),
                                FLATLINE_RUNS, replace=False))
    flat_ms: list[int] = []
    for s in starts:
        hr[s: s + FLATLINE_LEN] = 70.0
        hr[s - 1] = 71.0 if hr[s - 1] == 70.0 else hr[s - 1]
        hr[s + FLATLINE_LEN] = 69.0 if hr[s + FLATLINE_LEN] == 70.0 else hr[s + FLATLINE_LEN]
        flat_ms += minute[s: s + FLATLINE_LEN].tolist()
    # out-of-range hr reports outside the flatlines
    free = np.setdiff1d(np.arange(len(minute)),
                        np.concatenate([np.arange(s - 1, s + FLATLINE_LEN + 1) for s in starts]))
    low = rng.choice(free, 6, replace=False)
    hr[low] = 40.0 + np.arange(6)
    put("hr", minute, hr)
    exp["flatline_ms"] = flat_ms
    exp["hr_kept"] = int(len(minute) - FLATLINE_LEN * FLATLINE_RUNS - len(low))

    five = night_start_ms + np.arange(dur_ms // 300_000, dtype=np.int64) * 300_000 + 7_000
    spo2 = np.round(rng.normal(96, 1.5, len(five)))
    spo2[rng.choice(len(five), 2, replace=False)] = 75.0
    put("spo2", five, spo2)
    st = np.round(rng.normal(34.5, 0.6, len(five)), 2)
    st[rng.choice(len(five), 2, replace=False)] = 25.0
    put("st", five, st)
    half = night_start_ms + np.arange(dur_ms // 1_800_000, dtype=np.int64) * 1_800_000 + 11_000
    put("bp_sys", half, np.round(rng.normal(118, 8, len(half))))
    dia = np.round(rng.normal(76, 6, len(half)))
    dia[0] = 55.0
    put("bp_dia", half, dia)
    exp["out_of_range"] = {"hr": 50.0, "spo2": 80.0, "st": 30.0, "bp_dia": 60.0, "bp_sys": 80.0}

    act = _in_bouts(minute, bouts)
    put("step", minute + 3_000, np.where(act, rng.integers(20, 120, len(minute)), 0))
    # resetting cumulative sleep counter: the previous night's tail ends
    # >12 h before this night starts, so the counter resets in between
    prev = night_start_ms - 30 * 3600 * _MS + np.arange(6, dtype=np.int64) * 300_000
    put("sleep_total", prev, 400 + 5 * np.arange(6))
    asleep_min = np.cumsum(np.where(_in_bouts(five, bouts), 0, 5))
    put("sleep_total", five + 20_000, asleep_min)

    ms = np.array(rows["ms"], dtype=np.int64)
    dt = [datetime.fromtimestamp(m / _MS, _UTC) for m in ms.tolist()]
    pq.write_table(pa.table({
        "jname": pa.array(_upload_names(np.maximum(ms, night_start_ms), night_start_ms)),
        "kind": pa.array(rows["kind"]),
        "data": pa.array(rows["data"], type=pa.float64()),
        "date_time": _ts(ms),
        "date": pa.array([d.date() for d in dt], type=pa.date32()),
        "time": pa.array([d.strftime("%H:%M:%S.%f") for d in dt]),
    }), _mkfile(out, sub, "measurements"))


def _gen_acc_reformatted(out, sub, rng, night_start_ms, dur_ms, bouts) -> None:
    ms = night_start_ms + np.arange(dur_ms // 100, dtype=np.int64) * 100
    moving = _in_bouts(ms, bouts)
    sd = np.where(moving, 0.35, 0.01)
    acx = rng.normal(0, 1, len(ms)) * sd
    acy = rng.normal(0, 1, len(ms)) * sd
    acz = 1.0 + rng.normal(0, 1, len(ms)) * sd
    sec = ((ms // _MS) % 86400).astype(np.float64) + (ms % _MS) / 1000.0
    pq.write_table(pa.table({
        "acx": acx, "acy": acy, "acz": acz, "date_time": _ts(ms),
        "seconds": sec, "bin": (sec // 300).astype(np.int64),
        "g_force": np.sqrt(acx**2 + acy**2 + acz**2),
    }), _mkfile(out, sub, "acc_reformatted"))


def gen_sensor(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    exp = {f"s{s}": _gen_subject(out, s, rng) for s in range(SUBJECTS)}
    _write_json(os.path.join(out, "expected.json"), exp)


# ---------------------------------------------------------------------------
# documents (the query_mix table and its traced corpus)
# ---------------------------------------------------------------------------

_VOCAB = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _documents(rng, n: int, id0: int = 0) -> pa.Table:
    """A ``documents``-shaped table: bag-of-words text over a small
    vocabulary, with the structure the corpus stages act on — near
    duplicates (a copy plus a marker word), exact duplicates, PII-like
    spans, and degenerate repetitive documents."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
        elif r < 0.08:
            w = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join([w] * int(rng.integers(8, 40))))
        else:
            words = rng.choice(_VOCAB, int(rng.integers(8, 96))).tolist()
            if r < 0.11:
                words.insert(len(words) // 2, f"user{i}@example.com")
            elif r < 0.13:
                words.insert(len(words) // 3, f"+1 555 {int(rng.integers(1000000, 9999999))}")
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def gen_corpus(out: str, seed: int) -> None:
    """Base corpus grown by disjoint-token-space replicas (word → word~r
    for replica r > 0), the ``tools/scale_rehearsal.py`` scheme: the
    vocabulary grows with the corpus and every replica repeats the base
    corpus's duplicate structure."""
    rng = np.random.default_rng([seed, 2])
    base = _documents(rng, CORPUS_BASE_DOCS)
    parts = [base]
    texts = base.column("text").to_pylist()
    for r in range(1, CORPUS_REPLICAS):
        parts.append(base.set_column(
            0, "doc_id", pa.array(base.column("doc_id").to_numpy() + r * CORPUS_BASE_DOCS)
        ).set_column(1, "text", pa.array(
            [" ".join(w + f"~{r}" for w in t.split(" ")) for t in texts])))
    docs = pa.concat_tables(parts)
    os.makedirs(os.path.join(out, "documents"))
    pq.write_table(docs, os.path.join(out, "documents", "part-0.parquet"),
                   row_group_size=len(docs) // 8 + 1)
    evals = docs.take(rng.choice(len(docs), CORPUS_EVAL_DOCS, replace=False))
    os.makedirs(os.path.join(out, "eval"))
    pq.write_table(evals.select(["doc_id", "text"]),
                   os.path.join(out, "eval", "part-0.parquet"))
    _write_json(os.path.join(out, "expected.json"),
                {"docs": len(docs), "eval_docs": CORPUS_EVAL_DOCS})


# ---------------------------------------------------------------------------
# query_mix: TPC-H-ish star schema + events + documents + embeddings
# ---------------------------------------------------------------------------

def gen_tables(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 3])
    n = {k: max(10, int(v * QUERY_SF)) for k, v in _SF1_ROWS.items()}

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    write("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], c).tolist(),
    })
    s = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    })
    p = n["part"]
    adj = ["large", "hot", "blue", "old", "small", "red", "shiny", "cold"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
    write("part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL",
                              "STANDARD"], p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
    })
    day0 = np.datetime64("1995-01-01", "ms").astype(np.int64)
    o = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], o).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts(day0 + rng.integers(0, 2405, o) * 86_400_000, tz=False),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o).tolist(),
    })
    li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], li).tolist(),
        "l_shipdate": _ts(day0 + 86_400_000 + rng.integers(0, 2499, li) * 86_400_000, tz=False),
    })
    e = n["events"]
    ev_ms = np.datetime64("2024-01-01", "ms").astype(np.int64) + np.sort(
        rng.choice(30 * 86_400_000, e, replace=False))
    write("events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ev_ms * 1000 + rng.integers(0, 1000, e),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(2, e // 66), e, dtype=np.int64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], e).tolist(),
        "value": np.round(rng.exponential(50, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    pq.write_table(_documents(rng, n["documents"]), os.path.join(out, "documents.parquet"))
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.6, (m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def gen_query_mix(out: str, seed: int) -> None:
    gen_tables(out, seed)
    os.makedirs(os.path.join(out, "corpus"))
    gen_corpus(os.path.join(out, "corpus"), seed)


GENERATORS = {
    "sensor_batch": gen_sensor,
    "query_mix": gen_query_mix,
}
