"""The benchmark workloads and layer probes: inputs, operations and
output checks.

Each operation is run through the engine's public registry
(``plans.QUERIES[op](spark, sf_dir)``) and its result is compared with
``reference.py``. The stream probe runs ``streaming.transforms
.hrv_windowed_features`` under a watermark into a parquet sink; the text
probe calls ``operators.textops``/``graph``/``similarity`` directly. A
check returns an error string, or None when the output is right.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import reference as ref

HRV_OPS = ["hrv_pipeline_full", "hrv_time_domain", "hrv_time_domain_sliding",
           "hrv_freq_domain", "hrv_sampen"]

# (records, beats per record, start spread in s) per size
SIZES = {
    "hrv_long": {"full": (8, (2000, 2400), 6 * 3_600.0),
                 "tiny": (2, (400, 500), 3_600.0)},
    "hrv_short": {"full": (128, (280, 320), 6 * 3_600.0),
                  "tiny": (6, (280, 320), 3_600.0)},
}
TEXT_SIZES = {"full": (500, 250), "tiny": (60, 40)}  # (documents, vectors)
STREAM_SLICES = {"full": 4, "tiny": 3}
STREAM_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
WATERMARK = "1 hour"


@dataclass
class Inputs:
    sf_dir: str
    rows: int
    expected: dict = field(default_factory=dict)
    records: list = field(default_factory=list)
    corpus: object = None
    slices: list = field(default_factory=list)


# ------------------------------------------------------------ comparing

def close(a, b, tol: float = 2e-6) -> bool:
    """Equal within ``tol`` absolute plus 1e-9 relative; None ≡ NaN."""
    a_none = a is None or (isinstance(a, float) and math.isnan(a))
    b_none = b is None or (isinstance(b, float) and math.isnan(b))
    if a_none or b_none:
        return a_none and b_none
    return abs(float(a) - float(b)) <= tol + 1e-9 * abs(float(b))


def compare_rows(got: pd.DataFrame, want: dict, key: list[str],
                 cols: list[str]) -> str | None:
    """``want`` maps key tuples to value tuples in ``cols`` order."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for row in got[key + cols].itertuples(index=False):
        k = tuple(int(v) for v in row[:len(key)])
        k = k if len(key) > 1 else k[0]
        if k not in want:
            return f"unexpected key {k}"
        for c, g, w in zip(cols, row[len(key):], want[k]):
            if not close(None if g is None else float(g), w):
                return f"{k} {c}: got {g}, expected {w}"
    return None


# ------------------------------------------------------------ HRV inputs

def hrv_inputs(workload: str, size: str, seed: int, work: str) -> Inputs:
    n_rec, beats, spread = SIZES[workload][size]
    recs = gen.cohort(seed, n_rec, beats, spread)
    sf = os.path.join(work, "sf")
    rows = gen.write_events(recs, sf)
    return Inputs(sf, rows, expected=hrv_expected(recs), records=recs)


def hrv_expected(recs) -> dict:
    exp = {op: {} for op in HRV_OPS + ["nn_groups"]}
    td_cols = list(ref.time_domain(np.array([800.0, 810.0, 790.0])))
    for r in recs:
        m = ref.valid(r.rri)
        nn, ts = r.rri[m], r.ts_us[m]
        rid = r.record_id
        td = ref.time_domain(nn)
        exp["hrv_time_domain"][rid] = tuple(td[c] for c in td_cols)
        for ws, v in ref.sliding_time_domain(ts, nn).items():
            exp["hrv_time_domain_sliding"][(rid, ws)] = v
        exp["hrv_freq_domain"][rid] = (len(nn),)
        exp["hrv_sampen"][rid] = (ref.sampen_count(len(nn)),)
        clean = ref.clean_nn(r.rri)
        exp["nn_groups"][rid] = pd.DataFrame({
            "record_id": rid, "beat_ts": np.arange(len(clean)), "rri": clean})
        ctd = ref.time_domain(clean)
        exp["hrv_pipeline_full"][rid] = (
            len(clean), ctd["mean_nni"], ctd["sdnn"], ctd["rmssd"],
            ctd["nni_50"])
    # planted records the kernel ops add to every run (see plans/q_hrv.py)
    exp["hrv_freq_domain"].update({-101: (256,), -102: (256,)})
    exp["hrv_sampen"].update({-401: (200,), -402: (200,)})
    exp["td_cols"] = td_cols
    return exp


def check_hrv(op: str, got: pd.DataFrame, inp: Inputs) -> str | None:
    e = inp.expected[op]
    if op == "hrv_time_domain":
        return compare_rows(got, e, ["record_id"], inp.expected["td_cols"])
    if op == "hrv_time_domain_sliding":
        return compare_rows(got, e, ["record_id", "ws_us"],
                            ["n_beats", "mean_nni", "sdnn", "rmssd", "nni_50"])
    if op == "hrv_pipeline_full":
        return compare_rows(got, e, ["record_id"],
                            ["n_beats", "mean_nni", "sdnn", "rmssd", "nni_50"])
    claims = {"hrv_freq_domain": ["computed_ok", "internal_ok", "band_ok"],
              "hrv_sampen": ["nonneg_ok", "null_guard_ok", "ordering_ok"]}[op]
    for c in claims:
        if not got[c].astype(bool).all():
            return f"claim {c} false for {int((~got[c].astype(bool)).sum())} rows"
    return compare_rows(got, e, ["record_id"], ["n_beats"])


def kernel_groups(recs) -> list[tuple[pd.DataFrame, pd.DataFrame]]:
    """The per-record groups the two kernel ops hand to their kernels:
    valid beats for the Welch kernel, the stride subsample for SampEn."""
    out = []
    for r in recs:
        m = ref.valid(r.rri)
        ts, v = r.ts_us[m], r.rri[m]
        stride = -(-len(v) // ref.SAMPEN_CAP)
        out.append((pd.DataFrame({"record_id": r.record_id, "beat_ts": ts,
                                  "rri": v}),
                    pd.DataFrame({"record_id": r.record_id,
                                  "beat_ts": ts[::stride],
                                  "rri": v[::stride]})))
    return out


def check_lf_over_hf(inp: Inputs) -> str | None:
    """The Welch kernel, called directly on each record's cleaned NN
    series, must put more power in LF (the 0.1 Hz planted oscillation
    is the larger one) than in HF."""
    from data_ingestor_and_features_creator_spark.features import kernels
    for rid, g in inp.expected["nn_groups"].items():
        o = kernels.freq_domain_kernel(g).iloc[0]
        if not o["lf"] > o["hf"]:
            return f"record {rid}: lf {o['lf']} <= hf {o['hf']}"
    return None


# ------------------------------------------------------------ text probe

def text_inputs(size: str, seed: int, work: str) -> Inputs:
    n_docs, n_vecs = TEXT_SIZES[size]
    c = gen.corpus(seed, n_docs, n_vecs)
    sf = os.path.join(work, "sf_text")
    rows = gen.write_corpus(c, sf)
    exp = {"knn": ref.knn(c.vecs, c.vec_ids, list(range(5)), 10)}
    return Inputs(sf, rows, expected=exp, corpus=c)


def check_pairs(pairs: pd.DataFrame, c) -> str | None:
    """Every verified near-duplicate pair's Jaccard, recomputed from the
    raw text, equals the reported one and meets the 0.3 threshold."""
    for a, b, jac in pairs[["a", "b", "jaccard"]].itertuples(index=False):
        want = ref.jaccard(c.texts[int(a)], c.texts[int(b)])
        if not (a < b and want >= 0.3 and close(jac, want)):
            return f"pair ({a}, {b}) jaccard {jac}, recomputed {want}"
    return None


def check_knn(got: pd.DataFrame, inp: Inputs) -> str | None:
    """Ranks 1..k, cosines recomputed from the vectors, and nothing
    outside the result beats its k-th (numpy brute force)."""
    c = inp.corpus
    for q, want in inp.expected["knn"].items():
        g = got[got["qid"] == q].sort_values("rnk")
        if list(g["rnk"]) != list(range(1, len(want) + 1)):
            return f"query {q}: ranks {list(g['rnk'])}"
        cos = [ref.cosine(c.vecs[q], c.vecs[int(cid)]) for cid in g["cid"]]
        if not all(close(a, b) for a, b in zip(g["cosine"], cos)):
            return f"query {q}: cosines {list(g['cosine'])} vs {cos}"
        if min(cos) < want[-1][1] - 1e-9 or any(
                x < y - 1e-9 for x, y in zip(cos, cos[1:])):
            return f"query {q}: not the top {len(want)}"
    return None


# ---------------------------------------------------------------- stream

def stream_inputs(inp: Inputs, size: str, work: str) -> Inputs:
    """The batch cohort replayed as time slices, with the numpy
    per-(record, hour) aggregates the sink must equal."""
    slices = gen.write_time_slices(inp.records, os.path.join(work, "feed"),
                                   STREAM_SLICES[size])
    want = {}
    for r in inp.records:
        for ws, v in ref.hourly_stream(r.ts_us, r.rri).items():
            want[(ws, r.record_id)] = v
    return Inputs("", sum(n for _, n in slices), expected={"hourly": want},
                  records=inp.records, slices=slices)


@dataclass
class StreamPass:
    trigger_s: list
    drain_s: float
    progress: list
    sink_bytes: int
    error: str | None


def stream_pass(spark, inp: Inputs, work: str, tag: str, tracer) -> StreamPass:
    """One closed-loop replay: a fresh query over an empty source dir;
    each slice is linked in and the next only after
    ``processAllAvailable`` returns (its trigger has committed)."""
    from data_ingestor_and_features_creator_spark.streaming import transforms
    base = os.path.join(work, tag)
    src, sink = os.path.join(base, "src"), os.path.join(base, "sink")
    os.makedirs(src)
    with tracer.span("streaming.start"):
        sdf = (spark.readStream.schema(STREAM_SCHEMA)
                    .option("maxFilesPerTrigger", 1).parquet(src))
        feats = transforms.hrv_windowed_features(
            sdf.withWatermark("ts", WATERMARK))
        q = (feats.writeStream.format("parquet").outputMode("append")
                  .option("path", sink)
                  .option("checkpointLocation", os.path.join(base, "ck"))
                  .start())
    times = []
    t0 = time.perf_counter()
    try:
        for path, _ in inp.slices:
            os.link(path, os.path.join(src, os.path.basename(path)))
            t = time.perf_counter()
            with tracer.span("streaming.trigger"):
                q.processAllAvailable()
            times.append(time.perf_counter() - t)
        drain = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    with tracer.span("check.stream"):
        sink_bytes = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(sink) for f in fs
                         if f.endswith(".parquet"))
        err = check_stream(pq.read_table(sink).to_pandas(), inp)
    shutil.rmtree(base, ignore_errors=True)
    return StreamPass(times, drain, progress, sink_bytes, err)


def check_stream(got: pd.DataFrame, inp: Inputs) -> str | None:
    """Every 1 h window the watermark closed (all of them, after the
    sentinel) must equal the numpy per-(record, hour) aggregates."""
    return compare_rows(got, inp.expected["hourly"], ["ws_us", "record_id"],
                        ["n_beats", "mean_nni", "sdnn", "mean_hr"])
