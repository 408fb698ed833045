"""Independent numpy/Python recomputations the benchmark checks the
engine's outputs against.

Nothing here imports the engine: every expected value is computed from
the generator's in-memory arrays with the hrvanalysis formulas
(time-domain features per record, per sliding window and per hour),
and plain set and
vector arithmetic for the text operators.
"""

from __future__ import annotations

import math

import numpy as np

Q15_US = 900_000_000
HOUR_US = 3_600_000_000
SAMPEN_CAP = 2000
OUTLIER_RANGE = (300.0, 2000.0)  # hrvanalysis remove_outliers defaults
MALIK = 0.2


def valid(rri: np.ndarray) -> np.ndarray:
    """The operators' input filter: value > 0 and not NaN."""
    return (rri > 0) & ~np.isnan(rri)


def time_domain(nn: np.ndarray) -> dict:
    """hrvanalysis get_time_domain_features over one NN series (diffs
    taken between consecutive beats of ``nn``)."""
    d = np.diff(nn)
    n = len(nn)
    mean = nn.mean()
    sdnn = nn.std(ddof=1)
    rmssd = math.sqrt(np.mean(d * d))
    hr = 60000.0 / nn
    nni_50 = int((np.abs(d) > 50).sum())
    nni_20 = int((np.abs(d) > 20).sum())
    return {
        "mean_nni": mean, "sdnn": sdnn, "sdsd": d.std(), "rmssd": rmssd,
        "median_nni": float(np.median(nn)), "range_nni": nn.max() - nn.min(),
        "cvsd": rmssd / mean, "cvnni": sdnn / mean,
        "nni_50": nni_50, "pnni_50": 100.0 * nni_50 / n,
        "nni_20": nni_20, "pnni_20": 100.0 * nni_20 / n,
        "mean_hr": hr.mean(), "max_hr": hr.max(), "min_hr": hr.min(),
        "std_hr": hr.std(),
    }


def sliding_time_domain(ts_us: np.ndarray, nn: np.ndarray) -> dict:
    """{ws_us: (n_beats, mean_nni, sdnn, rmssd, nni_50)} over 1 h windows
    sliding by 15 min; diffs only between beats inside the same window
    (the series is sliced before diffing)."""
    out = {}
    first = (ts_us // Q15_US) * Q15_US
    for ws in np.unique(np.concatenate([first - g * Q15_US for g in range(4)])):
        m = (ts_us >= ws) & (ts_us < ws + 4 * Q15_US)
        x = nn[m]
        d = np.diff(x)
        out[int(ws)] = (
            len(x), x.mean(),
            x.std(ddof=1) if len(x) > 1 else None,
            math.sqrt(np.mean(d * d)) if len(d) else None,
            int((np.abs(d) > 50).sum()),
        )
    return out


def sampen_count(n: int) -> int:
    """Beats the sample-entropy op keeps: a stride-ceil(n/cap) subsample."""
    stride = -(-n // SAMPEN_CAP)
    return -(-n // stride)


def interpolate_linear(v: np.ndarray) -> np.ndarray:
    """Linear fill of NaNs by position; leading/trailing NaNs take the
    nearest observed value (edge hold)."""
    ok = ~np.isnan(v)
    if not ok.any():
        return v
    idx = np.arange(len(v))
    return np.interp(idx, idx[ok], v[ok])


def clean_nn(rri: np.ndarray) -> np.ndarray:
    """The cleaning pipeline hrv_pipeline_full documents, with
    hrvanalysis's outlier range: values outside 300-2000 ms become NaN,
    NaNs are filled by linear interpolation, then a beat is dropped when
    it differs from the previous (interpolated) beat by more than 20 %."""
    v = np.where((rri >= OUTLIER_RANGE[0]) & (rri <= OUTLIER_RANGE[1]),
                 rri, np.nan)
    v = np.round(interpolate_linear(v), 6)
    keep = np.ones(len(v), bool)
    keep[1:] = np.abs(v[1:] - v[:-1]) <= MALIK * v[:-1]
    return v[keep]


def hourly_stream(ts_us: np.ndarray, rri: np.ndarray) -> dict:
    """{hour_start_us: (n_beats, mean_nni, sdnn, mean_hr)} over 1 h
    tumbling windows of the valid beats (the streaming feature set)."""
    m = rri > 0
    ts_us, rri = ts_us[m], rri[m]
    ws = (ts_us // HOUR_US) * HOUR_US
    out = {}
    for w in np.unique(ws):
        x = rri[ws == w]
        out[int(w)] = (len(x), x.mean(),
                       x.std(ddof=1) if len(x) > 1 else None,
                       (60000.0 / x).mean())
    return out


# ------------------------------------------------------------------ text

def shingle_set(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    n = max(1, len(toks) - (k - 1))
    return {" ".join(toks[i:i + k]) for i in range(n)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def cosine(x: np.ndarray, y: np.ndarray) -> float:
    x, y = x.astype(np.float64), y.astype(np.float64)
    return float(x @ y / (math.sqrt(x @ x) * math.sqrt(y @ y)))


def knn(vecs: np.ndarray, ids: np.ndarray, qids: list[int],
        k: int) -> dict:
    """{qid: [(cid, cosine), ...]} exact top-k by cosine, ties by cid."""
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for q in qids:
        cos = v @ v[q]
        order = sorted((c for c in range(len(ids)) if c != q),
                       key=lambda c: (-cos[c], ids[c]))
        out[q] = [(int(ids[c]), float(cos[c])) for c in order[:k]]
    return out
