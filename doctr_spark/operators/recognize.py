"""Stage 3 — recognition: crop rows -> (value, confidence).

Spark analogue of `RecognitionPredictor.forward`
(`doctr/models/recognition/predictor/pytorch.py:44-85`): wide crops are
split into overlapping windows, each window goes through the model forward
+ CTC best-path decode, and the window predictions are merged back — all
inside the kernel, local to one crop, so no extra shuffle.

Before the UDF the crops are re-keyed onto a uniform hash partitioning:
detection's output partitioning follows *pages* (few, heavy rows), while
recognition wants *crops* (many, tiny rows) spread evenly — including the
crops of pathologically long conversations, which hash-on-full-key
de-skews (the salting policy from SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.imgcodec import decode_page
from ..kernels.recognition import recognize_crops_batched

WORDS_SCHEMA = (
    "conv_id string, turn_idx int, page_idx int, page_h int, page_w int, "
    "page_orient int, page_orient_conf double, "
    "word_idx int, xmin double, ymin double, xmax double, ymax double, "
    "score double, aux string, value string, confidence double, "
    "crop_orient int, crop_orient_conf double"
)
_PASS = ["conv_id", "turn_idx", "page_idx", "page_h", "page_w", "page_orient", "page_orient_conf",
         "word_idx", "xmin", "ymin", "xmax", "ymax", "score", "aux"]  # fmt: skip


def recognize_crop_arrays(
    crops: list, detect_orientation: bool, arch: str = "ctc", vocab_name: str = "french"
) -> tuple[list[str], list[float], list[int], list[float]]:
    """Recognize a list of real crop ARRAYS -> (values, confs, crop_orients,
    crop_orient_confs). The per-crop semantics (orientation classify +
    rectify, then the fixed-size batched forward) are shared by the staged
    `recognize` stage and the fused single-stage pipeline
    (`operators.pipeline`) — bit-identical per crop in both. One batched
    upright check clears the common case; only the crops it rejects are
    classified (and rectified) one by one."""
    from ..kernels.orientation import estimate_crop_orientation, rectify_crop, upright_crops
    from ..kernels.vocab import VOCABS

    vocab = VOCABS[vocab_name]
    rect = list(crops)
    orients = [0] * len(rect)
    oconfs = [1.0] * len(rect)
    if detect_orientation:
        for i in np.flatnonzero(~upright_crops(rect)).tolist():
            angle, oconfs[i] = estimate_crop_orientation(rect[i])
            if angle:
                rect[i] = rectify_crop(rect[i], angle)
            orients[i] = angle
    preds = recognize_crops_batched(rect, vocab=vocab, arch=arch)
    return [v for v, _ in preds], [c for _, c in preds], orients, oconfs


def _make_recognizer(detect_orientation: bool, arch: str = "ctc", vocab_name: str = "french"):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # phase 1: decode, collecting real crops for the fixed-size
            # batched forward (RECO_BATCH padded tensors — the NN swap-in
            # boundary, see kernels.recognition.forward_logits_batch)
            values: list[str | None] = []
            confs, orients, oconfs = [], [], []
            todo: list = []
            todo_pos: list[int] = []
            for i, blob in enumerate(pdf["crop"]):
                if blob is None:  # empty-page sentinel passes through
                    values.append(None)
                    confs.append(0.0)
                    orients.append(0)
                    oconfs.append(0.0)
                    continue
                values.append("")
                confs.append(0.0)
                orients.append(0)
                oconfs.append(0.0)
                todo.append(decode_page(bytes(blob)))
                todo_pos.append(len(values) - 1)
            t_values, t_confs, t_orients, t_oconfs = recognize_crop_arrays(
                todo, detect_orientation, arch, vocab_name
            )
            for pos, v, c, a, oc in zip(todo_pos, t_values, t_confs, t_orients, t_oconfs):
                values[pos] = v
                confs[pos] = c
                orients[pos] = a
                oconfs[pos] = oc
            out = pdf[_PASS].copy()
            out["value"] = values
            out["confidence"] = confs
            out["crop_orient"] = orients
            out["crop_orient_conf"] = oconfs
            yield out

    return fn


def recognize(
    crops: DataFrame,
    num_partitions: int | None = None,
    detect_orientation: bool = True,
    arch: str = "ctc",
    vocab: str = "french",
) -> DataFrame:
    """Recognize every crop; optionally rebalance onto ``num_partitions``.

    ``detect_orientation`` enables the crop-orientation classifier +
    rectification (the reference's ``detect_crop_orientation`` predictor
    option); disabled it reports 0deg/1.0 like the identity predictor
    (`classification/predictor/pytorch.py:47-50`). ``vocab`` names the
    recognition vocabulary (`kernels.vocab.VOCABS` — the reference's
    per-language model vocab selection, `datasets/vocabs.py:238-350`).
    """
    if num_partitions:
        crops = crops.repartition(
            num_partitions, F.xxhash64("conv_id", "turn_idx", "page_idx", "word_idx")
        )
    return crops.mapInPandas(
        _make_recognizer(detect_orientation, arch, vocab), schema=WORDS_SCHEMA
    )
