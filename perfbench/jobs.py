"""The timed jobs and their oracles.

Each job writes its output to parquet, the way the production job writes
a table:

* ``docs``   the fused OCR extraction (``operators.pipeline.extract_documents``;
             on documents-derived input, the ``ocr_extract_documents`` query);
* ``kie``    ``operators.kie.kie_extract`` (one row per page, per-class
             predictions);
* ``staged`` ``extract_documents`` with a pass-through ``loc_hooks`` entry,
             which takes the staged decode/detect/recognize/build chain;
* ``lsh_pairs``, ``topk``, ``simhash``: ``dedup.minhash_lsh_pairs``,
             ``similarity.cosine_topk`` and ``dedup.simhash`` over the
             documents and embeddings tables.

Each oracle is independent of the code under test: DuckDB running the
``__spark_entry__.oracle_sql()`` twins over the generated tables, or the
transcript generator's ground truth. Checks return (attempted, failed)
output units keyed on (conv_id, turn_idx), doc pairs, (query_id, rank) or
doc_id; an extra, missing or different unit is one failure.
"""

from __future__ import annotations

import functools
import math
import re
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq


def _pass_through(crops):
    """A ``loc_hooks`` entry that changes nothing: any hook sends
    ``extract_documents`` down the staged chain."""
    return crops


@dataclass
class Inputs:
    """Where one workload's tables live: ``ocr_docs`` for documents-derived
    OCR input plus ``analytics`` (documents and embeddings), or generated
    ``transcripts`` with their ``ground_truth``."""

    ocr_docs: str | None = None
    analytics: str | None = None
    transcripts: str | None = None
    ground_truth: str | None = None


def transcripts(spark, inp: Inputs):
    if inp.ocr_docs:
        from doctr_spark.io.sources import transcripts_from_documents

        return transcripts_from_documents(spark, inp.ocr_docs)
    return spark.read.parquet(inp.transcripts)


def job_frame(spark, name: str, inp: Inputs):
    """The DataFrame job ``name`` writes. Building it may run Spark jobs
    (``minhash_lsh_pairs`` materializes its band table eagerly)."""
    from doctr_spark.operators import dedup, similarity
    from doctr_spark.operators.kie import kie_extract
    from doctr_spark.operators.pipeline import extract_documents

    if name == "docs":
        if inp.ocr_docs:
            import __spark_entry__

            return __spark_entry__.ocr_extract_documents(spark, inp.ocr_docs)
        return extract_documents(transcripts(spark, inp))
    if name == "kie":
        return kie_extract(transcripts(spark, inp))
    if name == "staged":
        return extract_documents(transcripts(spark, inp), loc_hooks=[_pass_through])
    if name == "lsh_pairs":
        return dedup.minhash_lsh_pairs(spark, inp.analytics)
    if name == "topk":
        return similarity.cosine_topk(spark, inp.analytics)
    if name == "simhash":
        return dedup.simhash(spark, inp.analytics)
    raise ValueError(name)


def run_job(spark, name: str, inp: Inputs, out: str) -> None:
    job_frame(spark, name, inp).write.mode("overwrite").parquet(out)


def after_job(spark, name: str) -> None:
    """Untimed clean-up: ``minhash_lsh_pairs`` returns a persisted frame."""
    if name == "lsh_pairs":
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _duck(directory: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{directory}/{t}.parquet/*.parquet')")
    return con


def _compare(expected: dict, got: pd.DataFrame, key: list[str], value: Callable) -> tuple[int, int]:
    seen, failed = set(), 0
    for row in got.itertuples(index=False):
        k = tuple(getattr(row, c) for c in key) if len(key) > 1 else getattr(row, key[0])
        if k in seen or k not in expected or not value(expected[k], row):
            failed += 1
        seen.add(k)
    failed += len(set(expected) - seen)
    return len(set(expected) | seen), failed


def _flat(text) -> str:
    return re.sub("\n+", " ", text or "")


class Oracle:
    """Expected outputs of one workload's inputs, computed outside every
    timing (the analytics ones on first use) and checked after each job."""

    def __init__(self, inp: Inputs) -> None:
        import __spark_entry__

        self.inp = inp
        self.sql = sql = __spark_entry__.oracle_sql()
        if inp.ocr_docs:
            con = _duck(inp.ocr_docs, ("documents",))
            text = {(c, t): f for c, t, f in con.execute(sql["ocr_extract_documents"]).fetchall()}
            words = {(c, t): n for c, t, n in con.execute(sql["ocr_word_stats"]).fetchall()}
            con.close()
            # documents-derived turns: the oracle is the flattened token stream
            self.text, self.words, self.norm = text, words, _flat
        else:
            gt = pd.read_parquet(inp.ground_truth)
            keys = list(zip(gt["conv_id"], gt["turn_idx"]))
            self.text = dict(zip(keys, gt["gt_text"]))
            self.words = dict(zip(keys, gt["n_words"]))
            self.norm = lambda t: t or ""

    def _analytics(self, name: str) -> list[tuple]:
        con = _duck(self.inp.analytics, ("documents", "embeddings"))
        try:
            return con.execute(self.sql[name]).fetchall()
        finally:
            con.close()

    @functools.cached_property
    def lsh(self) -> set:
        return {tuple(r) for r in self._analytics("dedup_minhash_lsh_pairs")}

    @functools.cached_property
    def topk(self) -> dict:
        return {(q, r): (v, c) for q, v, c, r in self._analytics("similarity_cosine_topk")}

    @functools.cached_property
    def simhash(self) -> dict:
        return dict(self._analytics("dedup_simhash"))

    def check(self, name: str, out: str) -> tuple[int, int]:
        got = pq.read_table(out).to_pandas()
        key = ["conv_id", "turn_idx"]
        if name in ("docs", "staged"):
            col = "flat_text" if "flat_text" in got.columns else "extracted_text"
            return _compare(self.text, got, key, lambda e, r: self.norm(getattr(r, col)) == e)
        if name == "kie":
            got["n"] = [sum(v for _k, v in (m or [])) for m in got["class_counts"]]
            per_turn = got.groupby(key, sort=False)["n"].sum().reset_index()
            return _compare(self.words, per_turn, key, lambda e, r: r.n == e)
        if name == "lsh_pairs":
            return _compare(dict.fromkeys(self.lsh, 1), got, ["doc_a", "doc_b"], lambda e, r: True)
        if name == "topk":
            return _compare(
                self.topk, got, ["query_id", "rank"],
                lambda e, r: e[0] == r.vec_id and math.isclose(e[1], r.cos, abs_tol=1e-6),
            )  # fmt: skip
        if name == "simhash":
            return _compare(self.simhash, got, ["doc_id"], lambda e, r: e == r.simhash)
        raise ValueError(name)

    def check_replay(self, rows: list) -> tuple[int, int]:
        got = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
        return _compare(self.text, got, ["conv_id", "turn_idx"], lambda e, r: self.norm(r.text) == e)
