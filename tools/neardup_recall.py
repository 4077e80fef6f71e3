"""Measured SRP-banding recall for x_embed_cosine_neardup against
EXACT all-pairs ground truth.

The query's DuckDB oracle replicates the banding, so CORRECTNESS
proves implementation parity, not retrieval quality: a pair the bands
never co-bucket is invisible to both engines. The docstring's
"146/146 recall at sf0.01" was prose. This tool makes it a number at
every decade we can afford ground truth for: it computes the true
float cosine for ALL O(N^2) augmented-vector pairs (blocked numpy
matmul on the driver — evidence tooling, not engine code; 162k
vectors = ~1.3e10 cosines = seconds of BLAS) and compares the
>= 0.9 set against the registry query's output.

Why decades matter: planes-per-band r scales with the corpus
(srp_planes_for, occupancy ~8), and per-band collision probability
for a cosine-c pair is (1 - acos(c)/pi)^r — recall FALLS as r grows.
The NEARDUP_BANDS comment claims capture >= 0.99 for cos ~0.99 pairs
up to r = 16; x10 (r = 15) is the first corpus that actually tests
that claim. The artifact records the analytic prediction next to the
measurement so the model itself is checked, per pair-cosine observed.

Usage: python tools/neardup_recall.py --out RECALL.json [dir ...]
       (default: sf0.01, sf0.1, /tmp/cosmoz_scale_x10 if present)
Writes only ``--out``; to refresh the committed record, pass the
checkout's own NEARDUP_RECALL.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmoz_data_pipeline_spark.functions.similarity import srp_planes_for  # noqa: E402
from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists  # noqa: E402
from cosmoz_data_pipeline_spark.plans.catalog_ext import (  # noqa: E402
    NEARDUP_BANDS,
    _emb_aug,
)
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402

THRESHOLD = 0.9
BLOCK = 4096  # ground-truth matmul row block (BLOCK x N doubles resident)
# above this, O(N^2) ground truth is off the table (~minutes of BLAS at
# 260k; ~hours at 2.6M) and truth falls back to the INJECTED pair set:
# the augmentation is constructive (base, +off exact copy, +2*off
# perturbed copy), so every planted near-dup pair is enumerable in
# O(N) by grouping on the base id. Accidental cross-base pairs are not
# enumerated in this mode — instead every pair the query DID return is
# exactly re-scored, so precision stays exact and only never-found
# accidental pairs are invisible (at x100, the largest corpus with full
# ground truth, there were zero such pairs).
ALLPAIRS_MAX_N = 300_000


def true_pairs(ids: np.ndarray, mat: np.ndarray) -> dict[tuple[int, int], float]:
    """All (id_lo, id_hi) -> cosine for pairs with cosine >= THRESHOLD,
    exact float arithmetic, no banding, no quantization."""
    nrm = np.linalg.norm(mat, axis=1)
    unit = mat / nrm[:, None]
    n = len(ids)
    out: dict[tuple[int, int], float] = {}
    for lo in range(0, n, BLOCK):
        hi = min(lo + BLOCK, n)
        cos = unit[lo:hi] @ unit.T  # (block, n)
        bi, bj = np.nonzero(cos >= THRESHOLD)
        for i, j in zip(bi.tolist(), bj.tolist()):
            gi = lo + i
            if gi >= j:  # keep strict upper triangle (and drop self)
                continue
            a, b = int(ids[gi]), int(ids[j])
            out[(a, b) if a < b else (b, a)] = float(cos[i, j])
    return out


def injected_pairs(ids: np.ndarray, mat: np.ndarray) -> dict[tuple[int, int], float]:
    """O(N) constructive ground truth: the planted (base, copy,
    perturbed) within-group pairs with true cosine >= THRESHOLD."""
    # recover the copy-id offset (profile.IdStats.aug_offset): off =
    # 10^len(str(max base id)), and the max augmented id is 2*off + m
    # with m < off, so off = 10^(digits-1)
    off = 10 ** (len(str(int(ids.max()))) - 1)
    idx = {int(i): k for k, i in enumerate(ids.tolist())}
    nrm = np.linalg.norm(mat, axis=1)
    out: dict[tuple[int, int], float] = {}
    for i, k in idx.items():
        if i >= off:
            continue  # only base rows seed groups
        has_copy = i % 11 == 0 and (i + off) in idx
        has_pert = i % 5 == 0 and (i + 2 * off) in idx
        if has_copy:
            out[(i, i + off)] = 1.0
        if has_pert:
            kp = idx[i + 2 * off]
            c = float(mat[k] @ mat[kp] / (nrm[k] * nrm[kp]))
            if c >= THRESHOLD:
                out[(i, i + 2 * off)] = c
                if has_copy:
                    out[(i + off, i + 2 * off)] = c
    return out


def exact_cosine(pairs, ids: np.ndarray, mat: np.ndarray) -> dict:
    """Exact float cosine for an explicit pair list (re-scores the
    query's found set so precision is exact even in injected mode)."""
    idx = {int(i): k for k, i in enumerate(ids.tolist())}
    nrm = np.linalg.norm(mat, axis=1)
    out = {}
    for a, b in pairs:
        ka, kb = idx[a], idx[b]
        out[(a, b)] = float(mat[ka] @ mat[kb] / (nrm[ka] * nrm[kb]))
    return out


def predicted_recall(cosines: list[float], r: int, bands: int) -> float:
    """Mean over true pairs of 1 - (1 - p^r)^bands, p = 1 - acos(c)/pi."""
    if not cosines:
        return 1.0
    tot = 0.0
    for c in cosines:
        p = 1.0 - math.acos(max(-1.0, min(1.0, c))) / math.pi
        tot += 1.0 - (1.0 - p**r) ** bands
    return tot / len(cosines)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("dirs", nargs="*")
    p.add_argument("--out", required=True, help="the JSON file to write")
    args = p.parse_args()
    dirs = args.dirs or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        "/tmp/cosmoz_scale_x10",
    ]
    dirs = [d for d in dirs if os.path.isdir(d)]
    spark = build_session(app_name="neardup-recall")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"metric": "neardup_banding_recall", "threshold": THRESHOLD,
           "bands": NEARDUP_BANDS, "corpora": {}}
    for d in dirs:
        t0 = time.time()
        rows = _emb_aug(spark, d).collect()
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        mat = np.array([r["v"] for r in rows], dtype=np.float64)
        mode = "all_pairs" if len(ids) <= ALLPAIRS_MAX_N else "injected"
        truth = true_pairs(ids, mat) if mode == "all_pairs" else injected_pairs(ids, mat)
        found = {
            (r["vec_a"], r["vec_b"])
            for r in REGISTRY["x_embed_cosine_neardup"].run(spark, d).collect()
        }
        release_persists()
        missed = sorted(set(truth) - found)
        # pairs found but not in the truth set: in all_pairs mode these
        # can only be quantization drift (expect none); in injected
        # mode they may be legitimate accidental near-dups, so re-score
        # them exactly and only flag the ones that are truly < 0.9
        extra_scored = exact_cosine(sorted(found - set(truth)), ids, mat)
        extra = sorted(p for p, c in extra_scored.items() if c < THRESHOLD)
        r_planes = srp_planes_for(len(ids))
        rec = {
            "n_aug_vectors": int(len(ids)),
            "planes_per_band": r_planes,
            "truth_mode": mode,
            "all_pairs": int(len(ids)) * (int(len(ids)) - 1) // 2,
            "true_pairs": len(truth),
            "found_pairs": len(found),
            "missed_pairs": len(missed),
            "extra_pairs": len(extra),
            "accidental_true_found": sum(
                1 for c in extra_scored.values() if c >= THRESHOLD
            ),
            "recall": round(1.0 - len(missed) / len(truth), 6) if truth else None,
            "predicted_recall": round(
                predicted_recall(list(truth.values()), r_planes, NEARDUP_BANDS), 6
            ),
            "min_true_cosine": round(min(truth.values()), 6) if truth else None,
            "missed_examples": [
                {"pair": list(p), "cosine": round(truth[p], 6)} for p in missed[:5]
            ],
            "t_sec": round(time.time() - t0, 1),
        }
        out["corpora"][d] = rec
        print(f"{d}: n={rec['n_aug_vectors']} r={r_planes} "
              f"true={rec['true_pairs']} found={rec['found_pairs']} "
              f"recall={rec['recall']} (predicted {rec['predicted_recall']}) "
              f"extra={rec['extra_pairs']} [{rec['t_sec']}s]", flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
