"""Crop orientation classification + rectification.

Reference: `OrientationPredictor` classifies word crops among
{0, 90, 180, 270} degrees and `_rectify_crops` rot90s them upright
(`doctr/models/classification/predictor/pytorch.py:17-70`,
`doctr/models/predictor/base.py:198-215`). The deterministic stand-in
scores each of the four rotations by the fraction of glyph cells whose
marker bar is intact — the barcode font makes a wrong orientation
unreadable, so the classifier is a 4-way argmax over real evidence, with
confidence = the winning validity fraction (ties prefer the smaller
rotation, so upright crops always report 0).
"""

from __future__ import annotations

import numpy as np

from ..config import GLYPH_H, GLYPH_W

ORIENTATIONS = (0, 90, 180, 270)


def _validity(crop: np.ndarray) -> float:
    """Fraction of complete glyph cells readable in this orientation.
    Crops from higher-resolution scans go through the preprocessor resize
    first (`normalize_crop_height`), so the score stays meaningful on 2x/4x
    pages; the weak-ink threshold tolerates resampling halo."""
    from .glyphs import _WEAK_INK, normalize_crop_height

    crop = normalize_crop_height(crop)
    if crop is None:
        return 0.0
    h, w = crop.shape
    n = w // GLYPH_W
    if n == 0:
        return 0.0
    cells = crop[:, : n * GLYPH_W].reshape(h, n, GLYPH_W)
    valid = (cells[:, :, 0] >= _WEAK_INK).all(axis=0)
    return float(valid.sum()) / n


def estimate_crop_orientation(crop: np.ndarray) -> tuple[int, float]:
    """Return (angle, confidence); angle is how far the crop is rotated
    from upright (counter-clockwise), i.e. rot90(crop, angle//90 * -1 ...)
    restores it — use `rectify_crop` to apply. Batches should clear their
    upright crops with `upright_crops` first."""
    best_angle, best_score = 0, -1.0
    for k, angle in enumerate(ORIENTATIONS):
        score = _validity(np.rot90(crop, -k) if k else crop)
        if score > best_score:
            best_angle, best_score = angle, score
        if score == 1.0:  # fully readable: no other orientation can beat it
            break
    return best_angle, max(best_score, 0.0)


def upright_crops(crops: list) -> np.ndarray:
    """Batched upright check: True exactly where a crop is native height
    and every glyph cell's marker column is complete. That is the
    `_validity == 1.0` short-circuit of `estimate_crop_orientation` at
    k=0 (`normalize_crop_height` is the identity at GLYPH_H), so a True
    crop's orientation is (0, 1.0) without scoring any rotation. The
    native-height crops are concatenated side by side, every cell's marker
    column is gathered at once, and the per-cell verdicts are and-reduced
    per crop — the classifier sees the chunk as one batch, like the
    reference `OrientationPredictor`."""
    from .glyphs import _WEAK_INK

    out = np.zeros(len(crops), dtype=bool)
    idx = [i for i, c in enumerate(crops) if c.shape[0] == GLYPH_H and c.shape[1] >= GLYPH_W]
    if not idx:
        return out
    native = [crops[i] for i in idx]
    widths = np.array([c.shape[1] for c in native])
    cells = widths // GLYPH_W
    # column of cell j of crop i in the concatenation: offset_i + j*GLYPH_W
    first_cell = np.cumsum(cells) - cells
    offsets = np.cumsum(widths) - widths
    cell_crop = np.repeat(np.arange(len(native)), cells)
    cols = offsets[cell_crop] + (np.arange(cells.sum()) - first_cell[cell_crop]) * GLYPH_W
    marked = (np.concatenate(native, axis=1)[:, cols] >= _WEAK_INK).all(axis=0)
    out[idx] = np.logical_and.reduceat(marked, first_cell)
    return out


def rectify_crop(crop: np.ndarray, angle: int) -> np.ndarray:
    """Undo a detected rotation (reference `_rectify_crops` rot90 path)."""
    k = ORIENTATIONS.index(angle)
    return np.rot90(crop, -k) if k else crop


def estimate_page_orientation(
    page: np.ndarray, max_samples: int = 8, upright_boxes: np.ndarray | None = None
) -> tuple[int, float]:
    """Page-level orientation among {0, 90, 180, 270}.

    Reference analogue: the page orientation classifier + straighten loop
    (`doctr/models/classification/predictor/pytorch.py:17-70`,
    `doctr/models/predictor/pytorch.py:110-142` re-detects after
    straightening). Here each candidate rotation is scored by the mean
    glyph readability of up to ``max_samples`` detected word crops; upright
    pages short-circuit at score 1.0.

    ``upright_boxes``: a default-threshold detection of ``page`` the caller
    already has — scores the k=0 candidate without re-detecting (the detect
    stage detects the page anyway; sharing that pass halves the per-page
    detection cost for the upright common case).
    """
    from .detection import detect_words, extract_crops

    best_angle, best_score = 0, -1.0
    for k, angle in enumerate(ORIENTATIONS):
        candidate = np.rot90(page, -k) if k else page
        if k == 0 and upright_boxes is not None:
            abs_boxes = upright_boxes
        else:
            abs_boxes, _, _ = detect_words(candidate)
        if abs_boxes.shape[0] == 0:
            score = 0.0
        else:
            crops = extract_crops(candidate, abs_boxes[:max_samples])
            scores = [_validity(c) for c in crops]
            score = float(np.mean(scores))
        if score > best_score:
            best_angle, best_score = angle, score
        if score == 1.0:
            break
    return best_angle, max(best_score, 0.0)


def straighten_page(page: np.ndarray, angle: int) -> np.ndarray:
    """Rotate a page upright (`straighten_page`/`rotate_image` right-angle
    path, `doctr/utils/geometry.py:333-460`)."""
    k = ORIENTATIONS.index(angle)
    return np.ascontiguousarray(np.rot90(page, -k)) if k else page
