"""Seeded input generators for the perfbench workloads.

Every generated input is a pure function of (workload, seed, small): the
same arguments always produce byte-identical files. analytics_mix also
reads the repo's fixed TPC-H-shaped tables from perfbench/data. The
engine under test never sees the generator; it receives only the files
written here plus an `expected.json` the harness checks outputs against.

Input properties (query list, planted-dup shares, store vs batch size)
are documented in perfbench/WORKLOADS.md and echoed into
`expected.json["properties"]`.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

SIZES = {
    # analytics_mix: the metrics store (models × weeks × 1–3 evaluations)
    "analytics": dict(models=6, weeks=52),
    "analytics_small": dict(models=4, weeks=12),
    # dedup_ingest: base store vs batches
    "dedup": dict(base=2000, batch=100, batches=24),
    "dedup_small": dict(base=600, batch=60, batches=24),
}

# analytics_mix reads the repo's fixed TPC-H-shaped test tables, copied
# under perfbench/data (sf0.1: 600k lineitem rows; sf0.01 for --small)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# analytics_mix op kinds: (op name, family). SparkEntry keys are run
# through SparkEntry.queries and checked against SparkEntry.oracleSql;
# `metrics_*` ops run graft.metrics.Analytics over the metrics store.
ANALYTICS_OPS = [
    ("q1_agg", "scan_agg"), ("q5_local_supplier", "join"),
    ("j3_semi_join", "join"), ("j4_anti_join", "join"),
    ("j5_asof_join", "join"), ("j6_range_join", "join"),
    ("w1_row_number", "window"),
    ("a_cube", "olap"), ("a_rollup", "olap"), ("a9_percentile", "olap"),
    ("metrics_summary", "metrics"), ("metrics_recent_weeks", "metrics"),
    ("metrics_best_model", "metrics"),
]

NEAR_SHARE = 0.20       # dedup: planted near-dups of landed docs
WITHIN_SHARE = 0.10     # dedup: within-batch near-dup partners


def _rng(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


# ------------------------------------------------------- analytics_mix

def gen_analytics(out, seed, small):
    """The seeded metrics store; the TPC-H tables are fixed (DATA)."""
    z = SIZES["analytics_small" if small else "analytics"]
    r = _rng(seed, 1)
    os.makedirs(out, exist_ok=True)
    tables = os.path.join(DATA, "sf0.01" if small else "sf0.1")
    # metrics store (FIXTURES.md §6): models × weeks × 1–3 evaluations
    nm, nw = z["models"], z["weeks"]
    wk0 = dt.date(2023, 1, 1)
    rows = {k: [] for k in ("id", "evaluation_date", "week_date",
                            "model_name", "accuracy", "macro_f1",
                            "weighted_f1", "total_samples")}
    rid = 0
    for w in range(nw):
        week = wk0 + dt.timedelta(days=7 * w)
        for m in range(nm):
            for e in range(int(r.integers(1, 4))):
                rows["id"].append(rid)
                rows["evaluation_date"].append(dt.datetime.combine(
                    week, dt.time()) + dt.timedelta(hours=int(24 * e + m)))
                rows["week_date"].append(week.strftime("%Y_%m_%d"))
                rows["model_name"].append(f"model_{m}")
                rows["accuracy"].append(round(float(r.uniform(0.6, 0.95)), 4))
                rows["macro_f1"].append(round(float(r.uniform(0.5, 0.9)), 4))
                rows["weighted_f1"].append(round(float(r.uniform(0.5, 0.9)), 4))
                rows["total_samples"].append(int(r.integers(1000, 5000)))
                rid += 1
    i64, s = pa.int64(), pa.string()
    _write_parquet(pa.table({
        "id": pa.array(rows["id"], i64),
        "evaluation_date": pa.array(rows["evaluation_date"], pa.timestamp("us")),
        "week_date": pa.array(rows["week_date"], s),
        "model_name": pa.array(rows["model_name"], s),
        "accuracy": pa.array(rows["accuracy"], pa.float64()),
        "macro_f1": pa.array(rows["macro_f1"], pa.float64()),
        "weighted_f1": pa.array(rows["weighted_f1"], pa.float64()),
        "total_samples": pa.array(rows["total_samples"], pa.int32())}),
        os.path.join(out, "metrics_store.parquet"))
    return {"ops": [{"name": n, "family": f} for n, f in ANALYTICS_OPS],
            "tables": tables,
            "properties": {"tables": os.path.basename(tables),
                           "metrics_store_rows": rid}}


# -------------------------------------------------------- dedup_ingest

def _text(r, vocab, n):
    return [f"t{w}" for w in r.integers(0, vocab, n)]


def _near(r, words, vocab):
    """One mid-document token swap: with 3-gram shingles a doc of n ≥ 40
    tokens keeps jaccard (n-5)/(n+1) ≥ 0.85 to its source, above the
    ingest loop's 0.8 threshold."""
    out = list(words)
    i = int(r.integers(len(out) // 4, 3 * len(out) // 4))
    out[i] = f"z{int(r.integers(0, vocab))}"
    return out


def gen_dedup(out, seed, small):
    z = SIZES["dedup_small" if small else "dedup"]
    r = _rng(seed, 3)
    vocab = 50000
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    nb, bs = z["base"], z["batch"]
    base = [_text(r, vocab, int(r.integers(40, 81))) for _ in range(nb)]
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(nb), pa.int64()),
        "text": pa.array([" ".join(t) for t in base], pa.string())}),
        os.path.join(out, "base.parquet"))
    landed = list(range(nb))           # ids whose text is in the store
    texts = {i: t for i, t in enumerate(base)}
    next_id = nb
    batches = []
    n_near = int(round(bs * NEAR_SHARE))
    n_pairs = int(round(bs * WITHIN_SHARE / 2))
    for b in range(z["batches"]):
        ids, docs, novel, near, within = [], [], [], [], []
        for _ in range(n_near):
            src = landed[int(r.integers(0, len(landed)))]
            ids.append(next_id); docs.append(_near(r, texts[src], vocab))
            near.append(next_id); next_id += 1
        for _ in range(n_pairs):
            t = _text(r, vocab, int(r.integers(40, 81)))
            ids.append(next_id); docs.append(t); novel.append(next_id)
            texts[next_id] = t
            ids.append(next_id + 1); docs.append(_near(r, t, vocab))
            within.append(next_id + 1); next_id += 2
        for _ in range(bs - n_near - 2 * n_pairs):
            t = _text(r, vocab, int(r.integers(40, 81)))
            ids.append(next_id); docs.append(t); novel.append(next_id)
            texts[next_id] = t; next_id += 1
        perm = r.permutation(len(ids))
        _write_parquet(pa.table({
            "doc_id": pa.array([ids[i] for i in perm], pa.int64()),
            "text": pa.array([" ".join(docs[i]) for i in perm], pa.string())}),
            os.path.join(out, "batches", f"b{b:04d}.parquet"))
        # survivors land after their trigger: later batches may plant
        # near-dups of them
        landed.extend(novel)
        batches.append({"file": f"b{b:04d}.parquet", "novel": novel,
                        "near": near, "within": within})
    input_bytes = sum(os.path.getsize(os.path.join(out, "batches", f))
                      for f in os.listdir(os.path.join(out, "batches")))
    input_bytes += os.path.getsize(os.path.join(out, "base.parquet"))
    return {"batches": batches, "base_docs": nb, "input_bytes": input_bytes,
            "properties": {"base_docs": nb, "batch_docs": bs,
                           "batch_files": z["batches"],
                           "near_dup_share": NEAR_SHARE,
                           "within_batch_dup_share": WITHIN_SHARE,
                           "base_to_batch_ratio": nb / bs}}


GENERATORS = {"analytics_mix": gen_analytics,
              "dedup_ingest": gen_dedup}


def generate(workload, out, seed, small):
    """Write the workload's inputs under `out`; return the expected.json
    dict (also written to `out/expected.json`)."""
    expected = GENERATORS[workload](out, seed, small)
    expected.update({"workload": workload, "seed": seed, "small": small})
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected
