"""Run-based 8-connected component labeling, pure numpy, array-at-a-time.

This is the engine's replacement for `cv2.findContours` in the detection
postprocess (reference
`doctr/models/detection/differentiable_binarization/base.py:95-140` finds
contours of the binarized probability map and scores each one). We label
components over horizontal runs: one `np.diff` + one `flatnonzero` over the
padded mask yields every run, runs in adjacent rows that overlap or touch
diagonally become edges, and hook-and-shortcut passes over that edge list
label each component with its smallest run index. Cost is O(runs) per pass
with tiny constants — ink on synthetic pages is sparse, so this is far
cheaper than pixel-level labeling.
"""

from __future__ import annotations

import numpy as np


def _min_label_components(n: int, pi: np.ndarray, pj: np.ndarray) -> np.ndarray:
    """Connected components over edge list (pi, pj); returns, per node, the
    smallest node index of its component.

    Hook-and-shortcut: every pass hooks each root onto the smallest label
    among its neighbours (one `np.minimum.at` over the symmetric edge list),
    then pointer-jumps until every node points at a root. A label only ever
    moves to a smaller index of the same component, so the trees stay
    acyclic and the fixpoint is the component minimum. Edges whose ends
    already share a label stay merged and are dropped from later passes."""
    labels = np.arange(n, dtype=np.int64)
    src = np.concatenate((pi, pj))
    dst = np.concatenate((pj, pi))
    while True:
        ls, ld = labels[src], labels[dst]
        live = ls != ld
        if not live.any():
            return labels
        src, dst, ls, ld = src[live], dst[live], ls[live], ld[live]
        down = ld < ls  # each undirected edge appears once in each direction
        np.minimum.at(labels, ls[down], ld[down])
        while True:
            jumped = labels[labels]
            if np.array_equal(jumped, labels):
                break
            labels = jumped


def label_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Extract horizontal runs of True pixels.

    Returns (rows, starts, ends, labels) where ends are exclusive, runs are
    in row-major order, and labels give each run the smallest run index of
    its 8-connected component.

    Adjacency is computed without any per-row loop: runs are globally sorted
    row-major, so shifting coordinates by row*(w+2) turns "overlapping or
    diagonally touching run in the previous row" into a single pair of
    searchsorted range queries over the whole run list at once.
    """
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    # every row starts and ends False, so its value changes alternate
    # start, end — one scan yields both, already in row-major order
    edges = np.flatnonzero(np.diff(padded, axis=1))
    rows, starts = np.divmod(edges[0::2], w + 1)
    ends = edges[1::2] - rows * (w + 1)  # exclusive

    n = rows.shape[0]
    if n == 0:
        return rows, starts, ends, np.empty(0, dtype=np.int64)

    # 8-connectivity with exclusive ends: run j (row r-1) touches run i
    # (row r) iff s_j <= e_i and e_j >= s_i
    stride = w + 2
    key_s = rows * stride + starts  # globally ascending
    key_e = rows * stride + ends  # globally ascending
    q_lo = (rows - 1) * stride + starts
    q_hi = (rows - 1) * stride + ends
    j_lo = np.searchsorted(key_e, q_lo, side="left")
    j_hi = np.searchsorted(key_s, q_hi, side="right")
    counts = np.maximum(j_hi - j_lo, 0)
    total = int(counts.sum())
    if total:
        pi = np.repeat(np.arange(n, dtype=np.int64), counts)
        cum = np.concatenate(([0], np.cumsum(counts)))
        pj = np.arange(total, dtype=np.int64) - np.repeat(cum[:-1], counts) + np.repeat(j_lo, counts)
        labels = _min_label_components(n, pi, pj)
    else:
        labels = np.arange(n, dtype=np.int64)
    return rows, starts, ends, labels


def component_boxes(prob: np.ndarray, bin_thresh: float) -> tuple[np.ndarray, np.ndarray]:
    """Binarize a probability map and return per-component (boxes, scores).

    boxes: (N, 4) int64 abs pixel coords (xmin, ymin, xmax, ymax), max
    exclusive; scores: (N,) mean probability over the component's ink pixels
    (the reference scores the contour region the same way,
    `detection/core.py:36-58`). ``prob`` may be any numeric dtype scaled so
    that dividing by ``prob_scale`` yields probabilities — detection passes
    the uint8 page directly with scale 255 to avoid a float page copy.
    """
    mask = prob >= bin_thresh
    rows, starts, ends, labels = label_runs(mask)
    n = rows.shape[0]
    if n == 0:
        return np.empty((0, 4), dtype=np.int64), np.empty(0, dtype=np.float64)

    # prob[mask] is every ink pixel in row-major order, i.e. run after run;
    # integer pages sum exactly in int64
    run_px = ends - starts
    run_off = np.concatenate(([0], np.cumsum(run_px[:-1])))
    ink = prob[mask]
    run_sum = np.add.reduceat(ink, run_off, dtype=np.int64 if ink.dtype.kind in "uib" else None)

    # labels are the smallest run index of each component, so the roots are
    # the runs labelled with themselves, in ascending component order; a
    # root is its component's first run in row-major order
    root = labels == np.arange(n)
    comp = (np.cumsum(root) - 1)[labels]
    grouped = np.argsort(comp, kind="stable")  # row-major within a component
    counts = np.bincount(comp)
    first = np.concatenate(([0], np.cumsum(counts[:-1])))
    xmin = np.minimum.reduceat(starts[grouped], first)
    xmax = np.maximum.reduceat(ends[grouped], first)
    ymin = rows[root]
    ymax = rows[grouped][first + counts - 1] + 1
    scores = np.bincount(comp, weights=run_sum) / np.bincount(comp, weights=run_px)

    boxes = np.stack([xmin, ymin, xmax, ymax], axis=1)
    # deterministic output order: top-to-bottom, left-to-right
    order = np.lexsort((boxes[:, 0], boxes[:, 1]))
    return boxes[order], scores[order]
