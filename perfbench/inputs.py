"""Seeded benchmark inputs.

One fixed base corpus shaped like the sf0.1 ``documents`` test table
of TESTDATA.md (30-word vocabulary, 10-100 words per document, the
same language and source shares, 5% planted near-copies ending in
`` dup``), generated here because a run reads only its checkout, so every
seed sees the same texts.  The workload seed only drives a bijection
over the document ids: scenario assignment (``turn_idx % 9``) and the
near-dup mirrors (``doc_id % 4/5/10``) land on other texts while their
shares stay fixed.

Everything downstream goes through the package's own entry points:
``sources.transcripts.synth_transcripts`` turns the seeded
``documents.parquet`` into the transcripts table, written as a
multi-file parquet table that ``sources.tables.read_transcripts``
scans.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SCENARIOS = 9  # sources.transcripts: scenario = turn_idx % 9
TRANSCRIPT_FILES = 8


def base_corpus(n_docs: int) -> list[tuple[str, str]]:
    """(text, lang) per base document; identical for every seed."""
    rng = np.random.default_rng(BASE_SEED)
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    # every 20th document is a near-copy of a random other one
    for i in range(0, n_docs, 20):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    return [(t, LANGS[k]) for t, k in zip(texts, langs)]


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """The seeded ``documents.parquet``: base document i gets id
    perm[i] of a seed-driven permutation of ``range(n_docs)``."""
    perm = np.random.default_rng(seed).permutation(n_docs)
    rows = sorted(
        zip(perm.tolist(), base_corpus(n_docs)), key=lambda r: r[0]
    )
    ids = [r[0] for r in rows]
    texts = [r[1][0] for r in rows]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": [r[1][1] for r in rows],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def build_transcripts(
    spark, docs_dir: str, out_dir: str, turns_per_doc: int
) -> None:
    """documents.parquet -> multi-file transcripts table, contiguous
    turn ranges per file like a table filled by successive drops."""
    from pdfextract_spark.sources.transcripts import synth_transcripts

    (
        synth_transcripts(spark, docs_dir, turns_per_doc=turns_per_doc)
        .repartitionByRange(TRANSCRIPT_FILES, "turn_idx")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def transcript_shape(path: str) -> dict:
    """Input shape of a transcripts table, read without Spark."""
    t = pq.read_table(path, columns=["turn_idx", "text"])
    n = t.num_rows
    chars = sum(len(x or "") for x in t.column("text").to_pylist())
    counts = np.bincount(
        np.asarray(t.column("turn_idx")) % SCENARIOS, minlength=SCENARIOS
    )
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return {
        "rows": n,
        "input_files": len(files),
        "mean_chars_per_turn": chars / max(n, 1),
        "scenario_shares": [round(c / max(n, 1), 4) for c in counts],
    }


def dir_bytes(path: str) -> int:
    """Bytes of the visible files under ``path`` (Spark's hidden
    ``.crc`` checksums are not output)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(".")
        )
    return total


def count_files(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
