"""Single-core, in-process profile of the extraction body (operators.vchunk).

Runs the columnar body over the same pandas batches the workload's Spark
tasks receive, with no Spark in the loop: this is the baseline that
``fused.body_efficiency`` divides the end-to-end docs/s by.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

REPS = 3
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py


def split_batches(pdf: pd.DataFrame, task_col: str) -> list[pd.DataFrame]:
    """One frame per Spark task, cut to Arrow batch size."""
    out = []
    for _, grp in pdf.groupby(task_col, sort=True):
        grp = grp.drop(columns=[task_col]).reset_index(drop=True)
        for i in range(0, len(grp), ARROW_BATCH):
            out.append(grp.iloc[i : i + ARROW_BATCH].reset_index(drop=True))
    return out


def _timed(fn):
    """Median wall of REPS runs of ``fn``, and its last result."""
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def profile(batches: list[pd.DataFrame], canon: dict | None) -> dict:
    """Phase timings (median of REPS passes over all batches) and counts.

    The fused pass runs with the canonical map, as the timed builds do;
    ``link_s`` is its cost minus that of the pass without the map."""
    from naruhodo_spark import lang as L
    from naruhodo_spark import schemas as S
    from naruhodo_spark.operators import vchunk as V

    prof = L.get_profile("en")
    stop = set(prof.get("stop_mains", ()))
    n_docs = sum(len(b) for b in batches)

    split_s, splits = _timed(lambda: [V._split_sentences_batch(b, prof) for b in batches])
    chunk_s, chunks = _timed(
        lambda: [V.chunk_arrays_en(np.arange(len(s)), s, prof) for _, _, s in splits]
    )
    plain_s, _ = _timed(lambda: [V.fused_batch(b, prof, stop, None) for b in batches])
    fused_s, linked = _timed(lambda: [V.fused_batch(b, prof, stop, canon) for b in batches])

    out = pd.concat(linked)
    args = pd.concat([out["subj"], out["obj"]]).str.lower()
    canon_args = pd.concat([out["subj_canon"], out["obj_canon"]])
    present = args.notna().to_numpy()
    rewrites = int((present & (args.to_numpy() != canon_args.to_numpy())).sum())
    pro = pd.concat([out["subj_pro"], out["obj_pro"]]).fillna(S.PRO_NONE)
    return {
        "vchunk.split_s": split_s,
        "vchunk.chunk_s": chunk_s,
        "vchunk.roles_coref_s": max(plain_s - split_s - chunk_s, 0.0),
        "vchunk.link_s": max(fused_s - plain_s, 0.0),
        "vchunk.fused_batch_s": fused_s,
        "vchunk.docs_per_core_s": n_docs / fused_s if fused_s > 0 else 0.0,
        "vchunk.sentences": sum(len(s) for _, _, s in splits),
        "vchunk.chunks": sum(len(c) for c in chunks),
        "vchunk.triples": len(out),
        "vchunk.pronoun_args": int((pro != S.PRO_NONE).sum()),
        "vchunk.carryover_fills": int((out["subj_id"].isna() & out["subj"].notna()).sum()),
        "vchunk.link_rewrites": rewrites,
        "vchunk.link_hit_ratio": rewrites / int(present.sum()) if present.any() else 0.0,
    }
