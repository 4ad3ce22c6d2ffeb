"""Property-based tests (hypothesis) for the exact-match-critical kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from doctr_spark.config import BIN_THRESH, GLYPH_H
from doctr_spark.kernels.cc import component_boxes, label_runs
from doctr_spark.kernels.glyphs import draw_word, word_width
from doctr_spark.kernels.recognition import recognize_crop
from doctr_spark.kernels.vocab import DEFAULT_VOCAB, decode_sequence, encode_string

_WORDS = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=60)


@given(_WORDS)
@settings(max_examples=60, deadline=None)
def test_recognition_roundtrip_any_word(word):
    """Any vocab word, any length (incl. the split/merge path) decodes exactly."""
    canvas = np.zeros((GLYPH_H, word_width(word)), dtype=np.uint8)
    draw_word(canvas, 0, 0, word)
    value, conf = recognize_crop(canvas)
    assert value == word
    assert conf > 0.9


@given(st.text(alphabet=DEFAULT_VOCAB, max_size=50))
@settings(max_examples=100, deadline=None)
def test_vocab_roundtrip(s):
    assert decode_sequence(encode_string(s)) == s


def _flood_fill_labels(mask):
    """Brute-force 8-connected component labels (oracle for the run-based
    CC): 0 is background, components are numbered 1.. in scan order."""
    h, w = mask.shape
    comp = np.zeros(mask.shape, dtype=np.int64)
    k = 0
    for sy in range(h):
        for sx in range(w):
            if not mask[sy, sx] or comp[sy, sx]:
                continue
            k += 1
            stack = [(sy, sx)]
            comp[sy, sx] = k
            while stack:
                y, x = stack.pop()
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ny, nx = y + dy, x + dx
                        if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and not comp[ny, nx]:
                            comp[ny, nx] = k
                            stack.append((ny, nx))
    return comp


def _check_cc(prob, thresh):
    """component_boxes and label_runs agree with the flood-fill oracle:
    same boxes, each score the mean of prob over the component's pixels,
    and every run labelled with the smallest run index of its component."""
    mask = prob >= thresh
    comp = _flood_fill_labels(mask)
    expected = []
    for k in range(1, comp.max() + 1):
        ys, xs = np.nonzero(comp == k)
        box = (xs.min(), ys.min(), xs.max() + 1, ys.max() + 1)
        expected.append((box, prob[ys, xs].astype(np.float64).mean()))
    expected.sort()
    boxes, scores = component_boxes(prob, thresh)
    got = sorted(zip(map(tuple, boxes.tolist()), scores.tolist()))
    assert [b for b, _ in got] == [b for b, _ in expected]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in expected], rtol=1e-12)

    rows, starts, ends, labels = label_runs(mask)
    assert int((ends - starts).sum()) == int(mask.sum())
    run_comp = comp[rows, starts]
    smallest = {}
    for i, c in enumerate(run_comp.tolist()):
        smallest.setdefault(c, i)
    assert labels.tolist() == [smallest[c] for c in run_comp.tolist()]


def _serpentine(h, w):
    """Full-width bars on even rows joined at alternating ends: one long
    path, the slowest shape for label propagation."""
    m = np.zeros((h, w), dtype=bool)
    m[0::2] = True
    m[1::4, -1] = True
    m[3::4, 0] = True
    return m


def _spiral(n):
    """Square spiral walking inward with a one-pixel gap between turns."""
    m = np.zeros((n, n), dtype=bool)
    y, x, dy, dx = 0, 0, 0, 1
    m[y, x] = True
    while True:
        for _ in range(2):  # a turn needs two free cells ahead
            ny, nx = y + dy, x + dx
            if not (0 <= ny + dy < n and 0 <= nx + dx < n) or m[ny + dy, nx + dx]:
                break
            y, x = ny, nx
            m[y, x] = True
        else:
            continue
        dy, dx = dx, -dy
        ny, nx = y + dy, x + dx
        if not (0 <= ny + dy < n and 0 <= nx + dx < n) or m[ny + dy, nx + dx]:
            return m


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_cc_matches_flood_fill(seed):
    rng = np.random.default_rng(seed)
    mask = rng.random((14, 18)) < 0.35
    _check_cc(np.where(mask, rng.random(mask.shape), 0.0) + mask * 0.5, 0.5)
    # the detection path: uint8 pages binarized at BIN_THRESH * 255
    t = BIN_THRESH * 255.0
    ink = rng.integers(int(t) + 1, 256, size=mask.shape)
    page = np.where(mask, ink, rng.integers(0, int(t), size=mask.shape)).astype(np.uint8)
    _check_cc(page, t)


def test_cc_serpentine_and_spiral():
    for mask in (_serpentine(31, 24), _spiral(29), _spiral(30).T[::-1]):
        assert (_flood_fill_labels(mask) <= 1).all()  # one component each
        _check_cc(mask.astype(np.float64), 0.5)
        _check_cc(mask.astype(np.uint8) * np.uint8(200), BIN_THRESH * 255.0)


@given(st.integers(0, 2**31 - 1), st.integers(2, 12))
@settings(max_examples=30, deadline=None)
def test_resolve_lines_partitions_all_words(seed, n):
    """resolve_lines output is a partition of the input indices."""
    from doctr_spark.kernels.builder import resolve_lines

    rng = np.random.default_rng(seed)
    x0 = rng.random(n) * 0.8
    y0 = rng.random(n) * 0.8
    boxes = np.stack([x0, y0, x0 + 0.05 + rng.random(n) * 0.1, y0 + 0.0625], axis=1)
    lines = resolve_lines(boxes, shape=(256, 512))
    flat = sorted(i for line in lines for i in line)
    assert flat == list(range(n))
    assert all(len(line) > 0 for line in lines)
