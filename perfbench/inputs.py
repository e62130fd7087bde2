"""Seeded input generation for the benchmark workloads.

Every input is a parquet file written with pyarrow, so generating inputs
runs no Spark job and the program under test receives only files. The
same ``seed`` gives byte-identical files.

``tools/gen_scale_data.py`` seeds one generator per (table, sf) and takes
no seed of its own; ``seeded_scale_data`` swaps its ``_rng`` for one that
also mixes in the benchmark seed, leaving the tool itself unchanged.
"""

from __future__ import annotations

import contextlib
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools import gen_scale_data as gen
from tools.make_fixtures import CHUNK_PA, DOCUMENT_PA, ENTITY_PA, write

# Tables the registry queries read, at the sf0.01 shape (60k lineitem
# rows, 500 documents, 500 embeddings).
SUITE_SF = 0.01
# Documents in the pipelines workload's crawl corpus and screening corpus.
CORPUS_DOCS = 600
LLM_DOCS = 100
# Files the crawl corpus is spooled into for the ingest phase, one
# micro-batch each.
SPOOL_FILES = 3


def _mix(seed: int, *parts) -> int:
    key = "|".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.md5(key).digest()[:8], "little") % (1 << 63)


@contextlib.contextmanager
def seeded_scale_data(seed: int):
    """Run ``tools.gen_scale_data`` generators with ``seed`` mixed in."""
    original = gen._rng
    gen._rng = lambda table, sf: np.random.default_rng(_mix(seed, table, round(sf, 6)))
    try:
        yield gen
    finally:
        gen._rng = original


def suite_tables(out: str, seed: int) -> None:
    """All ten registry tables at SUITE_SF."""
    os.makedirs(out, exist_ok=True)
    sf = SUITE_SF
    with seeded_scale_data(seed) as g:
        g.gen_region_nation(out)
        n_cust = g.gen_customer(out, sf)
        n_supp = g.gen_supplier(out, sf)
        n_part = g.gen_part(out, sf)
        order_day = g.gen_orders(out, sf, n_cust)
        g.gen_lineitem(out, sf, order_day, n_part, n_supp)
        g.gen_events(out, sf)
        g.gen_documents(out, sf)
        g.gen_embeddings(out, sf)


def corpus_files(out: str, seed: int) -> None:
    """``docs.parquet`` (crawl-shaped documents with a per-source
    boilerplate paragraph), ``eval.parquet`` (the decontamination set:
    every 13th doc) and ``embeddings.parquet`` (id-aligned with doc_id)."""
    os.makedirs(out, exist_ok=True)
    sf = CORPUS_DOCS / 50_000
    with seeded_scale_data(seed) as g:
        g.gen_documents(out, sf)
        g.gen_embeddings(out, sf)
    docs = pq.read_table(os.path.join(out, "documents.parquet"))
    os.remove(os.path.join(out, "documents.parquet"))
    text = pc.binary_join_element_wise(
        pc.binary_join_element_wise("BOILERPLATE-", docs["source"], ""),
        docs["text"],
        "\n",
    )
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    docs = docs.select(["doc_id", "text", "lang", "source"])
    pq.write_table(docs, os.path.join(out, "docs.parquet"))
    is_eval = pa.array(docs["doc_id"].to_numpy() % 13 == 0)
    pq.write_table(docs.filter(is_eval), os.path.join(out, "eval.parquet"))


def spool(corpus_dir: str, staging: str, n_files: int) -> None:
    """Split ``docs.parquet`` into ``n_files`` doc_id-ordered files under
    ``staging``, one micro-batch each."""
    os.makedirs(staging, exist_ok=True)
    docs = pq.read_table(os.path.join(corpus_dir, "docs.parquet"))
    per = -(-docs.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(docs.slice(i * per, per), os.path.join(staging, f"part-{i:03d}.parquet"))


def llm_corpus(out: str, seed: int) -> None:
    """entities/documents/chunks parquet from ``generate_corpus``."""
    from bigdata_cookbook_spark.sources.fixtures import generate_corpus

    os.makedirs(out, exist_ok=True)
    ents, docs, chunks = generate_corpus(n_docs=LLM_DOCS, seed=seed)
    chunks = [
        (d, ci, sid, txt, [{"key": k, "start": s, "end": e} for (k, s, e) in ments or []], emb)
        for (d, ci, sid, txt, ments, emb) in chunks
    ]
    write(ents, ENTITY_PA, os.path.join(out, "entities.parquet"))
    write(docs, DOCUMENT_PA, os.path.join(out, "documents.parquet"))
    write(chunks, CHUNK_PA, os.path.join(out, "chunks.parquet"))


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def parquet_files(path: str) -> dict[str, int]:
    """{file path: size} of every parquet data file under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out
