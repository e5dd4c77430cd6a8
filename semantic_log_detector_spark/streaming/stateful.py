"""Custom stateful streaming operator: per-key rolling drift.

The reference's drift monitor keeps an in-process deque of recent scores
and compares against a fixed baseline (`src/monitoring/drift.py:18-47`) —
single-process state, lost on restart. The Spark-native recast is
``applyInPandasWithState``: per-partition histogram state lives in the
streaming state store (checkpointed, exactly-once, survives restarts and
rescaling), each micro-batch updates its key's accumulated histogram and
emits the PSI of the batch against the accumulated PRIOR distribution —
"has this partition's data started looking different from everything it
has sent so far".

Same fixed-bin + Laplace-smoothed PSI math as the batch drift check
(checks/drift.py), so thresholds are portable between the modes.

Two operators: ``stream_rolling_drift`` scores a scalar column (cheap
proxy, e.g. dur_ms); ``stream_feature_drift`` decodes the audio payloads
inside the stateful operator and scores every MFCC/rms/centroid feature
histogram — full parity with the batch drift check's representation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..checks.drift import BinSpec, smoothed_psi

_OUT_SCHEMA = (
    "part_id int, batch_rows long, total_rows long, psi double, flagged boolean"
)
_STATE_SCHEMA = "counts array<long>, total long"


def stream_rolling_drift(
    stream_df: DataFrame,
    value_col: str = "dur_ms",
    key_col: str = "part_id",
    bins: BinSpec = BinSpec(0.0, 12000.0, 24),
    psi_threshold: float = 0.2,
) -> DataFrame:
    """Per-key rolling drift on a stream.

    State per key: (histogram counts, total rows). Each micro-batch bins
    ``value_col``, scores PSI(batch ‖ accumulated-prior), then folds the
    batch into the state. Emits one row per (key, micro-batch):
    (part_id, batch_rows, total_rows, psi, flagged). First batch of a key
    has no prior → psi 0.0, unflagged.
    """
    lo, hi, nb = bins.lo, bins.hi, bins.n

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            counts_list, total = state.get
            counts = np.asarray(counts_list, dtype=np.int64)
        else:
            counts, total = np.zeros(nb, dtype=np.int64), 0
        new = np.zeros(nb, dtype=np.int64)
        n_batch = 0
        for pdf in pdfs:
            v = pd.to_numeric(pdf[value_col], errors="coerce").to_numpy(dtype=float)
            v = v[np.isfinite(v)]
            if len(v):
                idx = np.clip(
                    ((v - lo) / (hi - lo) * nb).astype(int), 0, nb - 1
                )
                new += np.bincount(idx, minlength=nb)
            n_batch += len(v)
        psi = float(smoothed_psi(new, counts)) if total > 0 and n_batch > 0 else 0.0
        counts = counts + new
        total = int(total) + n_batch
        state.update((counts.tolist(), total))
        yield pd.DataFrame(
            [
                {
                    "part_id": int(key[0]),
                    "batch_rows": n_batch,
                    "total_rows": total,
                    "psi": round(psi, 6),
                    "flagged": bool(psi > psi_threshold),
                }
            ]
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        fn, _OUT_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


_FEAT_OUT_SCHEMA = (
    "part_id int, feature string, batch_rows long, batch_errors long, "
    "total_rows long, psi double, flagged boolean"
)


def stream_feature_drift(
    stream_df: DataFrame,
    key_col: str = "part_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
    bins: dict[str, BinSpec] | None = None,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """Per-key rolling drift on DECODED AUDIO FEATURES of a clip stream.

    The streaming twin of the batch drift check's feature path
    (checks/drift.py::stats_record_batch → drift_scores_local): each
    micro-batch decodes its payloads (decode_batch), featurizes
    (clip_features: mean MFCC + rms + centroid), bins every feature with the
    SAME BinSpec grid and scores the SAME Laplace-smoothed PSI
    (checks/drift.py::smoothed_psi) as the batch check — so a
    psi_threshold calibrated offline on the batch path is directly portable
    to the stream, per feature, not just for a scalar proxy column.

    State per key: one flattened histogram (Σ feature bins) + total rows,
    checkpointed in the state store (survives restart/rescale). Emits one
    row per (key, feature) per micro-batch; rows that fail to decode are
    counted in ``batch_errors`` and excluded from the histograms (mirroring
    the batch path's R060 exclusion). First batch of a key has no prior →
    psi 0.0, unflagged.

    Reference seam: src/monitoring/drift.py:18-47 scores a deque of recent
    embedding anomaly scores; here the scored representation is the audio
    feature vector itself, decoded inside the stateful operator.
    """
    from ..checks.drift import DEFAULT_BINS, FEATURE_NAMES, N_MFCC
    from ..functions.audio import clip_features, decode_batch

    if bins is None:
        bins = DEFAULT_BINS
    feats = list(bins.keys())
    col_idx = [FEATURE_NAMES.index(f) for f in feats]  # → clip_features order
    offs = np.cumsum([0] + [bins[f].n for f in feats]).tolist()
    total_bins = int(offs[-1])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            counts_list, total = state.get
            counts = np.asarray(counts_list, dtype=np.int64)
        else:
            counts, total = np.zeros(total_bins, dtype=np.int64), 0
        new = np.zeros(total_bins, dtype=np.int64)
        n_batch = 0
        n_err = 0
        for pdf in pdfs:
            fv_rows = []
            for r in decode_batch(pa.array(pdf[payload_col], pa.binary()),
                                  pdf[codec_col].tolist()):
                try:
                    if isinstance(r, Exception):
                        raise r
                    pcm, sr, _fake = r
                    fv = clip_features(pcm, sr, n_mfcc=N_MFCC)
                    if not np.isfinite(fv).all():
                        raise ValueError("non-finite features")
                    fv_rows.append(fv)
                except Exception:
                    n_err += 1
            if fv_rows:
                fmat = np.vstack(fv_rows)
                for j, f in enumerate(feats):
                    b = bins[f]
                    idx = np.clip(
                        ((fmat[:, col_idx[j]] - b.lo) / (b.hi - b.lo) * b.n)
                        .astype(int), 0, b.n - 1,
                    )
                    new[offs[j]:offs[j + 1]] += np.bincount(idx, minlength=b.n)
                n_batch += len(fv_rows)
        out = []
        for j, f in enumerate(feats):
            nb_, pr = new[offs[j]:offs[j + 1]], counts[offs[j]:offs[j + 1]]
            psi = float(smoothed_psi(nb_, pr)) if total > 0 and n_batch > 0 else 0.0
            out.append(
                {
                    "part_id": int(key[0]),
                    "feature": f,
                    "batch_rows": n_batch,
                    "batch_errors": n_err,
                    "total_rows": int(total) + n_batch,
                    "psi": round(psi, 6),
                    "flagged": bool(psi > psi_threshold),
                }
            )
        state.update(((counts + new).tolist(), int(total) + n_batch))
        yield pd.DataFrame(out)

    return stream_df.groupBy(key_col).applyInPandasWithState(
        fn, _FEAT_OUT_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
