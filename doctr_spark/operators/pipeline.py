"""The full extraction pipeline: the Spark analogue of
`OCRPredictor.forward` + `Document.render()`
(`/root/reference/doctr/models/predictor/pytorch.py:90-206`,
`/root/reference/doctr/io/exporters.py:416-433`).

Physical plan (round-7 fused default — ONE heavyweight Arrow stage, zero
shuffles after the de-skew repartition):

    scan transcripts
      -> filter contains('<doc:')  [pushed to scan] + project 3 cols
      -> repartition xxhash64(conv_id, turn_idx)  [de-skews; 1 task/core]
      -> mapInPandas fused decode+detect+recognize+build+assemble
         (everything downstream of decode is a pure function of the turn's
          own row, so pages/crops/words never cross task boundaries and
          are never codec-encoded between stages)
      [-> optional left join back to all turns]

The fused stage runs one Python task per core slot (`fused_source`):
starting a Python task costs ~0.3-0.4 s of worker CPU on Python 3.11,
mostly PySpark's worker calling `importlib.invalidate_caches()`, which
makes the zipimporter re-read the ~1,300-entry `pyspark.zip` directory.
A no-op mapInPandas on local[4] takes 3.5 s as 32 tasks and 0.6 s as 4,
so the former 8 tasks per core spent more CPU starting tasks than
running the kernel. At scale the start-ups amortize but 8 per core still
loses: q2 at sf0.1 (11,683 payload turns) on local[4] took a median
28.3 s at 1 task per core against 30.6 s at 8, and 32.6 s against 40.4 s
with a CPU hog pinned to one core (BENCH.md). Coarser tasks hold more
turns per Arrow batch; the kernel's crop budget (`config.CROP_BUDGET`)
keeps their memory bounded.

When ``loc_hooks`` are given, the pre-round-7 staged plan runs instead
(hooks splice DataFrame transforms between detection and recognition):

    ... -> mapInPandas decode -> mapInPandas detect+crop
      -> repartition xxhash64(full key) -> mapInPandas recognize
      -> groupBy (conv,turn,page) applyInPandas build
      -> groupBy (conv,turn) native collect/sort/concat_ws

Both paths share the same per-stage kernels and are parity-tested
bit-for-bit (tests/test_fused_pipeline.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from .. import config
from .build import assemble_documents, build_pages
from .decode import decode_pages
from .detect import detect_and_crop
from .recognize import recognize

DOC_SCHEMA = (
    "conv_id string, turn_idx int, extracted_text string, "
    "n_pages int, n_words int, pages_json array<string>"
)
PAGE_ROW_SCHEMA = (
    "conv_id string, turn_idx int, page_idx int, n_words int, page_text string, page_json string"
)


def fused_source(transcripts: DataFrame, crop_partitions: int | None = None) -> DataFrame:
    """Input of a fused stage: the payload-bearing turns' (conv_id,
    turn_idx, text), hash-repartitioned on (conv_id, turn_idx) into
    ``crop_partitions`` partitions — by default ``defaultParallelism``,
    one Python task per core slot (see the module docstring for the
    per-task cost). The hash spreads a long conversation's turns apart,
    so this one repartition is the stage's only balancing point."""
    from ..fixtures.payloads import PAYLOAD_MARK

    if crop_partitions is None:
        crop_partitions = transcripts.sparkSession.sparkContext.defaultParallelism
    src = transcripts.where(F.col("text").contains(PAYLOAD_MARK)).select(
        "conv_id", "turn_idx", "text"
    )
    return src.repartition(crop_partitions, F.xxhash64("conv_id", "turn_idx"))


def crop_chunks(pdf, process_page):
    """Phase A of the fused kernels — decode + detect — over one Arrow
    batch, cut into chunks bounded by ``config.CROP_BUDGET``.

    Per turn: render the payload pages, run ``process_page`` and copy the
    word crops out, so the page buffer is freed at once (crop area <<
    page area). A turn whose payload fails to decode is skipped, as the
    staged decode quarantines it. Whenever the held crops reach the
    budget after a whole turn, and once at the end, yields
    ``(turns, crops)``: each turn is ``(conv_id, turn_idx, recs)`` with
    one record per page, ``(page_idx, (h, w), orient, orient_conf,
    regions, tables, rel_boxes, scores, start, n)``, whose crops are
    ``crops[start : start + n]``. Recognition is per crop, so the chunk
    boundaries change no output row and no row order."""
    import numpy as np

    from ..fixtures.payloads import decode_payload
    from ..kernels.detection import extract_crops

    turns: list = []
    crops: list = []
    for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        try:
            pages = decode_payload(text)
        except NotImplementedError:
            raise  # disclosed env gates must fail loudly
        except Exception:
            continue  # quarantine the corrupt turn (same as staged decode)
        recs = []
        for page_idx, img in enumerate(pages):
            img, orient, orient_conf, regions, tables, abs_boxes, rel_boxes, scores = (
                process_page(img)
            )
            page_crops = extract_crops(img, abs_boxes)
            recs.append((
                page_idx,
                (int(img.shape[0]), int(img.shape[1])),
                orient, float(orient_conf),
                regions, tables, rel_boxes, scores,
                len(crops), len(page_crops),
            ))
            crops.extend(np.ascontiguousarray(c) for c in page_crops)
        if recs:
            turns.append((conv_id, int(turn_idx), recs))
        if len(crops) >= config.CROP_BUDGET:
            yield turns, crops
            turns, crops = [], []
    if turns:
        yield turns, crops


def _make_fused_extractor(
    resolve_lines: bool = True,
    resolve_blocks: bool = False,
    paragraph_break: float = 0.035,
    detect_crop_orientation: bool = True,
    keep_reading_order: bool = False,
    mask_region_labels: tuple[str, ...] | None = None,
    straighten_pages: bool = False,
    reco_arch: str = "ctc",
    reco_vocab: str = "french",
    det_arch: str = "db_like",
    text_direction: str | None = None,
    include_furniture: bool = True,
    det_input_size: tuple[int, int] | None = None,
    det_preserve_aspect_ratio: bool = True,
    det_symmetric_pad: bool = True,
    emit: str = "docs",
):
    """The whole per-turn pipeline (decode -> detect -> recognize -> build
    -> assemble) as ONE mapInPandas kernel. ``emit="pages"`` stops before
    the per-turn assembly and yields one built-page row per page (the
    `build_pages` output contract, used by the export surface).

    Everything downstream of payload decode depends only on data produced
    from that turn's own row: a turn's pages, crops, words and page builds
    never mix with another turn's. The staged pipeline still shuffled the
    heavy intermediates twice (crop bytes to re-balance recognition, word
    rows into the per-page groupBy) plus a third exchange for per-turn
    assembly; hashing on (conv_id, turn_idx) BEFORE decode already spreads
    turns uniformly — including skewed long conversations, whose turns
    hash apart — so the fused kernel computes the final document row with
    ZERO further shuffles and no page/crop codec round-trips (guide §2.4 /
    §8: decide with small rows, move heavy bytes never). Per-stage
    semantics are the exact shared kernels the staged operators use
    (`detect.make_page_processor`, `recognize.recognize_crop_arrays`,
    `build.build_page_record`), so fused == staged bit-for-bit; the staged
    path remains for `loc_hooks` (which splice user DataFrame transforms
    between detection and recognition). Each Arrow batch is processed in
    crop-budgeted chunks (:func:`crop_chunks`), one output frame per chunk.
    """
    import json

    import pandas as pd

    from ..kernels.builder import PAGE_BREAK
    from .build import build_page_record
    from .detect import make_page_processor
    from .recognize import recognize_crop_arrays

    _COLS = ["conv_id", "turn_idx", "extracted_text", "n_pages", "n_words", "pages_json"]
    _PAGE_COLS = ["conv_id", "turn_idx", "page_idx", "n_words", "page_text", "page_json"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        process_page = make_page_processor(
            mask_region_labels, straighten_pages, det_arch, keep_reading_order,
            det_input_size, det_preserve_aspect_ratio, det_symmetric_pad,
        )
        for pdf in batches:
            for turns, crops in crop_chunks(pdf, process_page):
                # phase B — recognition over every crop of the chunk in one
                # fixed-size batched forward (same batching as the staged stage)
                values, confs, orients, oconfs = recognize_crop_arrays(
                    crops, detect_crop_orientation, reco_arch, reco_vocab
                )
                # phase C — per-page build + per-turn assembly
                rows = []
                for conv_id, turn_idx, recs in turns:
                    page_texts, page_jsons = [], []
                    n_words_total = 0
                    for (page_idx, dims, orient, orient_conf, regions, tables,
                         rel_boxes, scores, start, n) in recs:  # fmt: skip
                        # identical wire format to the staged aux JSON sideband
                        raw_tables = json.loads(json.dumps(tables)) if tables else []
                        layout_regions = (
                            json.loads(json.dumps({
                                "boxes": regions["boxes"].tolist(),
                                "class_names": regions["class_names"],
                            }))
                            if keep_reading_order
                            else None
                        )
                        n_words, text, page_json = build_page_record(
                            rel_boxes,
                            scores,
                            values[start : start + n],
                            confs[start : start + n],
                            list(zip(orients[start : start + n], oconfs[start : start + n])),
                            dims,
                            page_idx,
                            raw_tables,
                            layout_regions,
                            {"value": int(orient), "confidence": float(orient_conf)},
                            resolve_lines=resolve_lines,
                            resolve_blocks=resolve_blocks,
                            paragraph_break=paragraph_break,
                            keep_reading_order=keep_reading_order,
                            text_direction=text_direction,
                            include_furniture=include_furniture,
                        )
                        if emit == "pages":
                            rows.append((conv_id, turn_idx, page_idx, n_words, text, page_json))
                            continue
                        page_texts.append(text)
                        page_jsons.append(page_json)
                        n_words_total += n_words
                    if emit != "pages":
                        rows.append((
                            conv_id, turn_idx, PAGE_BREAK.join(page_texts),
                            len(recs), n_words_total, page_jsons,
                        ))
                yield pd.DataFrame(rows, columns=_PAGE_COLS if emit == "pages" else _COLS)

    return fn


def extract_documents(
    transcripts: DataFrame,
    crop_partitions: int | None = None,
    include_all_turns: bool = False,
    resolve_lines: bool = True,
    resolve_blocks: bool = False,
    paragraph_break: float = 0.035,
    detect_crop_orientation: bool = True,
    keep_reading_order: bool = False,
    mask_region_labels: tuple[str, ...] | None = None,
    straighten_pages: bool = False,
    loc_hooks: Sequence[Callable[[DataFrame], DataFrame]] | None = None,
    reco_arch: str = "ctc",
    reco_vocab: str = "french",
    det_arch: str = "db_like",
    text_direction: str | None = None,
    include_furniture: bool = True,
    det_input_size: tuple[int, int] | None = None,
    det_preserve_aspect_ratio: bool = True,
    det_symmetric_pad: bool = True,
) -> DataFrame:
    """Run the detection->recognition->reconstruction pipeline.

    Returns one row per payload-bearing turn:
    ``(conv_id, turn_idx, extracted_text, n_pages, n_words, pages_json)``,
    or one row per input turn (nulls for prose turns) when
    ``include_all_turns``.

    ``loc_hooks`` is the Spark analogue of `OCRPredictor.add_hook`
    (`doctr/models/predictor/base.py:310-316`): DataFrame -> DataFrame
    transforms applied to the localization/crop rows between detection and
    recognition (e.g. filtering or rewriting boxes). Word sentinel rows
    (word_idx < 0) must be passed through.
    """
    if not loc_hooks:
        # fused single-stage path (the default): one de-skew hash
        # repartition on (conv_id, turn_idx), then the whole
        # decode->detect->recognize->build->assemble chain runs inside one
        # mapInPandas — no crop/word/page exchanges, no intermediate page
        # or crop codec round-trips. `loc_hooks` needs the staged crops
        # DataFrame, so hooked calls take the staged path below.
        docs = fused_source(transcripts, crop_partitions).mapInPandas(
            _make_fused_extractor(
                resolve_lines,
                resolve_blocks,
                paragraph_break,
                detect_crop_orientation,
                keep_reading_order,
                mask_region_labels,
                straighten_pages,
                reco_arch,
                reco_vocab,
                det_arch,
                text_direction,
                include_furniture,
                det_input_size,
                det_preserve_aspect_ratio,
                det_symmetric_pad,
            ),
            schema=DOC_SCHEMA,
        )
        if include_all_turns:
            keys = transcripts.select("conv_id", "turn_idx")
            docs = keys.join(docs, on=["conv_id", "turn_idx"], how="left")
        return docs

    if crop_partitions is None:
        # staged path: its crop shuffle re-balances recognition, at the
        # historical 2 tasks per core
        crop_partitions = transcripts.sparkSession.sparkContext.defaultParallelism * 2
    pages = decode_pages(transcripts)
    crops = detect_and_crop(
        pages,
        mask_region_labels=mask_region_labels,
        straighten_pages=straighten_pages,
        det_arch=det_arch,
        # reading order is layout-aware: the builder needs the layout
        # predictor's (label, box) regions to rank roles + attach captions
        carry_layout=keep_reading_order,
        # optional PreProcessor letterbox (fixed model input size with
        # aspect-preserving resize + symmetric pad) before detection
        det_input_size=det_input_size,
        det_preserve_aspect_ratio=det_preserve_aspect_ratio,
        det_symmetric_pad=det_symmetric_pad,
    )
    for hook in loc_hooks or ():
        crops = hook(crops)
    words = recognize(
        crops,
        num_partitions=crop_partitions,
        detect_orientation=detect_crop_orientation,
        arch=reco_arch,
        vocab=reco_vocab,
    )
    built = build_pages(
        words,
        resolve_lines=resolve_lines,
        resolve_blocks=resolve_blocks,
        paragraph_break=paragraph_break,
        keep_reading_order=keep_reading_order,
        text_direction=text_direction,
        include_furniture=include_furniture,
    )
    docs = assemble_documents(built)

    if include_all_turns:
        keys = transcripts.select("conv_id", "turn_idx")
        docs = keys.join(docs, on=["conv_id", "turn_idx"], how="left")
    return docs


def extract_pages(
    transcripts: DataFrame,
    crop_partitions: int | None = None,
    resolve_lines: bool = True,
    resolve_blocks: bool = False,
    paragraph_break: float = 0.035,
    detect_crop_orientation: bool = True,
) -> DataFrame:
    """Fused pipeline stopping at BUILT PAGES: one row per page with the
    `operators.build.build_pages` output contract
    ``(conv_id, turn_idx, page_idx, n_words, page_text, page_json)`` —
    the shared input of the export surface, computed in one Arrow stage
    instead of the staged decode/detect/recognize/groupBy chain."""
    return fused_source(transcripts, crop_partitions).mapInPandas(
        _make_fused_extractor(
            resolve_lines, resolve_blocks, paragraph_break, detect_crop_orientation, emit="pages"
        ),
        schema=PAGE_ROW_SCHEMA,
    )


def ordered(docs: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) output ordering — the north-rule invariant
    is defined under this window ordering."""
    return docs.orderBy("conv_id", "turn_idx")
