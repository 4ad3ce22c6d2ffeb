"""Seeded benchmark inputs, generated once per (workload, seed, size).

Every input is a parquet directory under ``perfbench/.work/inputs``. A
directory is written to a temporary name and renamed when complete, so a
run that is cut short never leaves a half-written input behind. Nothing
here is timed.

* ``documents`` / ``embeddings`` match the sf0.1 test tables' shape:
  20 sources, 10-100 words (about 40-580 characters) per document, about
  5% near-duplicates (an earlier document plus one word), mixed languages
  with a few non-Latin texts that clean to the empty string and so render
  as blank pages, and 64-dim unit embeddings around 10 label centres.
* ``transcripts`` are rows of :func:`doctr_spark.fixtures.transcripts.
  gen_conversation`, the per-conversation generator that
  ``generate_transcripts`` distributes, with its ground truth. Whole
  conversations are taken in order until a fixed number of payload turns
  is reached (the last conversation is cut there), so every seed carries
  the same amount of OCR work while keeping the 1% of 50x conversations.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_FRAC = 0.05
NON_LATIN_FRAC = 0.02  # of non-English documents: text that cleans to ""
EMB_DIM = 64
N_LABELS = 10


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def make_documents(seed: int, docs_per_source: int) -> pd.DataFrame:
    rng = _rng(seed, "documents")
    n = N_SOURCES * docs_per_source
    texts: list[str] = []
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    for i in range(n):
        if i and rng.random() < DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif langs[i] != "en" and rng.random() < NON_LATIN_FRAC:
            cps = rng.integers(0x4E00, 0x9FA5, int(rng.integers(15, 60)))
            texts.append("".join(chr(c) for c in cps))
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs.astype(str),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_embeddings(seed: int, n: int) -> pd.DataFrame:
    rng = _rng(seed, "embeddings")
    centres = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    emb = centres[labels] + 1.5 * rng.normal(size=(n, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(emb), "label": labels})


def make_transcripts(seed: int, payload_turns: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    from doctr_spark.fixtures.transcripts import gen_conversation

    rows: list[dict] = []
    gts: list[dict] = []
    conv_no = 0
    while len(gts) < payload_turns:
        r, g, _media = gen_conversation(conv_no, seed)
        need = payload_turns - len(gts)
        if len(g) > need:  # cut the last conversation after its last needed payload turn
            last = g[need - 1]["turn_idx"]
            r = [x for x in r if x["turn_idx"] <= last]
            g = g[:need]
        rows.extend(r)
        gts.extend(g)
        conv_no += 1
    tdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    tdf["turn_idx"] = tdf["turn_idx"].astype(np.int32)
    tdf["ts"] = pd.to_datetime(tdf["ts"]).astype("datetime64[us]")
    gdf = pd.DataFrame(gts, columns=["conv_id", "turn_idx", "gt_text", "n_pages", "n_words"])
    gdf = gdf.astype({"turn_idx": np.int32, "n_pages": np.int32, "n_words": np.int32})
    return tdf, gdf


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, "part-0.parquet"))


def content_hash(directory: str) -> str:
    """sha256 over every file under ``directory``, in path order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(directory):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, directory).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(base: str, name: str, seed: int, sizes: dict[str, int]) -> dict:
    """Make (or reuse) one set of inputs. ``sizes`` holds
    ``docs_per_source`` and ``embeddings`` for the analytics tables,
    ``ocr_docs_per_source`` for the documents-derived OCR input (the first
    documents of every source), or ``payload_turns`` for generated
    transcripts. Returns the directory, its row counts and content hash."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = os.path.join(base, f"{name}-s{seed}-{tag}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        if "docs_per_source" in sizes:
            docs = make_documents(seed, sizes["docs_per_source"])
            _write(docs, f"{tmp}/analytics/documents.parquet")
            _write(make_embeddings(seed, sizes["embeddings"]), f"{tmp}/analytics/embeddings.parquet")
            ocr = docs[docs["doc_id"] < N_SOURCES * sizes["ocr_docs_per_source"]]
            _write(ocr, f"{tmp}/ocr_docs/documents.parquet")
        else:
            tdf, gdf = make_transcripts(seed, sizes["payload_turns"])
            _write(tdf, f"{tmp}/transcripts")
            _write(gdf, f"{tmp}/ground_truth")
        os.rename(tmp, out)
    rows = {}
    for root, _dirs, files in os.walk(out):
        for f in files:
            rows[os.path.relpath(root, out)] = pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return {"dir": out, "rows": dict(sorted(rows.items())), "sha256": content_hash(out)}
