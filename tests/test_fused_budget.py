"""Crop budget and partition count of the fused extraction stage.

The fused kernels (`pipeline._make_fused_extractor`, `kie._make_fused_kie`)
cut each Arrow batch into chunks of about `config.CROP_BUDGET` crops
(`pipeline.crop_chunks`). Recognition is per crop, so the chunking must
change no row and no row order: the kernel tests run the kernels in this
process, without Spark, at budget 1 and at a budget no batch reaches. The
Spark tests pin the fused stage's default partition count (one task per
core slot) and that it gives the same rows as an explicit count.
"""

from __future__ import annotations

import pandas as pd
import pytest

from doctr_spark import config
from doctr_spark.fixtures.payloads import PAYLOAD_MARK
from doctr_spark.fixtures.transcripts import gen_conversation
from doctr_spark.operators.detect import make_page_processor
from doctr_spark.operators.kie import _make_fused_kie, kie_extract
from doctr_spark.operators.pipeline import (
    _make_fused_extractor,
    crop_chunks,
    extract_documents,
    extract_pages,
)

UNREACHED = 10**9


@pytest.fixture(scope="module")
def batches():
    """Two Arrow-batch-shaped frames of payload turns from the synthetic
    parity fixture (PNG/zlib/PDF/table payloads, rotated words), with a
    corrupt payload in the middle of the first."""
    rows = pd.DataFrame([r for c in range(6) for r in gen_conversation(c, 42)[0]])
    pdf = rows[rows["text"].str.contains(PAYLOAD_MARK, regex=False)]
    pdf = pdf[["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    corrupt = pd.DataFrame(
        {"conv_id": ["bad"], "turn_idx": [0], "text": ["<doc:img>not-base64!!</doc:img>"]}
    )
    half = len(pdf) // 2
    first = pd.concat([pdf.iloc[: half // 2], corrupt, pdf.iloc[half // 2 : half]])
    return [first.reset_index(drop=True), pdf.iloc[half:].reset_index(drop=True)]


def _run(kernel, batches, monkeypatch, budget):
    monkeypatch.setattr(config, "CROP_BUDGET", budget)
    return list(kernel(iter(batches)))


@pytest.mark.parametrize(
    "make_kernel",
    [
        _make_fused_extractor,
        lambda: _make_fused_extractor(emit="pages"),
        lambda: _make_fused_extractor(keep_reading_order=True),
        _make_fused_kie,
    ],
    ids=["docs", "pages", "docs_reading_order", "kie"],
)
def test_crop_budget_changes_no_row(batches, monkeypatch, make_kernel):
    whole = _run(make_kernel(), batches, monkeypatch, UNREACHED)
    chunked = _run(make_kernel(), batches, monkeypatch, 1)
    assert len(whole) == len(batches)  # one frame per batch
    assert len(chunked) > len(batches)
    a = pd.concat(whole, ignore_index=True)
    b = pd.concat(chunked, ignore_index=True)
    assert list(a.columns) == list(b.columns)
    assert a.values.tolist() == b.values.tolist()
    assert len(a) > 0 and "bad" not in set(a["conv_id"])


def test_crop_chunks_bounded_by_budget(batches, monkeypatch):
    """Every chunk holds fewer than budget + (its last turn's crops)
    crops: the budget, not the Arrow batch, bounds a task's crop memory."""
    monkeypatch.setattr(config, "CROP_BUDGET", 50)
    process_page = make_page_processor(None)
    chunks = list(crop_chunks(batches[0], process_page))
    assert len(chunks) > 1
    for turns, crops in chunks:
        last = sum(n for *_, n in turns[-1][2])
        assert len(crops) - last < 50
        assert sum(n for _, _, recs in turns for *_, n in recs) == len(crops)


@pytest.fixture(scope="module")
def tdf(spark):
    from doctr_spark.fixtures.transcripts import generate_transcripts

    df = generate_transcripts(spark, 20).persist()
    df.count()
    yield df
    df.unpersist()


def _rows(df):
    def plain(v):
        if isinstance(v, list):
            return tuple(v)
        return tuple(sorted(v.items())) if isinstance(v, dict) else v

    return sorted(tuple(plain(v) for v in r) for r in df.collect())


def test_fused_default_partitions_same_rows(tdf):
    """The default partition count gives the same rows as an explicit one."""
    for run in (extract_documents, extract_pages, kie_extract):
        default = _rows(run(tdf))
        assert len(default) > 0
        assert default == _rows(run(tdf, crop_partitions=8))


def test_fused_stage_one_partition_per_core(spark, tdf):
    n = spark.sparkContext.defaultParallelism
    for df in (extract_documents(tdf), extract_pages(tdf), kie_extract(tdf)):
        assert df.rdd.getNumPartitions() == n
    assert extract_documents(tdf, crop_partitions=3).rdd.getNumPartitions() == 3
