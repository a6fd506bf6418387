"""Seeded span corpora for the benchmark workloads.

Every corpus is a pure function of ``(workload, seed, size)`` and is written
as a parquet table with the engine's span schema (``doc_id``, ``spans``).
Documents come from :func:`sources.corpus.synth_doc`, the generator behind
``synth_docs_df``, with the same ``doc%07d`` ids and contents.
``skewed_docs`` keeps the synth mix but fills a fixed quota per page-size
class (memo, short, long, report), so two seeds give corpora of nearly the
same total work.  Without the quotas the 200-400-page reports, under 1% of
docs but a quarter of the spans, swing the total by ~6% between seeds.

Corpora are written with pyarrow in this process; no Spark session is
needed to build them.
"""

from __future__ import annotations

import os
from typing import Any, Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extraction_and_query_spark.sources.corpus import synth_doc

Doc = Tuple[str, List[Dict[str, Any]]]

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
        pa.field("page", pa.int32()),
        pa.field("font_size", pa.float64()),
        pa.field("bold", pa.bool_()),
    ]
)
SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(SPAN_TYPE), nullable=False),
    ]
)

# page-count classes of synth_doc and their expected shares of docs
# (memo archetype 1/5 always small; otherwise r < .55 / .9 / .99 / 1)
SIZE_CLASSES = ((1, 3, 0.64), (4, 12, 0.28), (20, 60, 0.072), (200, 400, 0.008))


def n_pages(spans: List[Dict[str, Any]]) -> int:
    return sum(1 for s in spans if s["kind"] == "page_marker")


def _doc_id(i: int) -> str:
    return f"doc{i:07d}"


def skewed_docs(n_docs: int, seed: int) -> List[Doc]:
    """``n_docs`` synth docs whose page-size classes hold fixed quotas."""
    quotas = [round(share * n_docs) for _, _, share in SIZE_CLASSES[1:]]
    quotas.insert(0, n_docs - sum(quotas))
    docs: List[Doc] = []
    i = 0
    while len(docs) < n_docs:
        doc_id = _doc_id(i)
        i += 1
        spans = synth_doc(doc_id, seed)
        pages = n_pages(spans)
        for c, (lo, hi, _) in enumerate(SIZE_CLASSES):
            if lo <= pages <= hi and quotas[c] > 0:
                quotas[c] -= 1
                docs.append((doc_id, spans))
                break
    return docs


def write_docs(docs: List[Doc], path: str, rows_per_file: int = 512) -> None:
    """Write ``docs`` as a parquet directory of several files, so the scan
    splits across tasks."""
    os.makedirs(path, exist_ok=True)
    for k in range(0, len(docs), rows_per_file):
        chunk = docs[k : k + rows_per_file]
        table = pa.Table.from_pydict(
            {"doc_id": [d for d, _ in chunk], "spans": [s for _, s in chunk]},
            schema=SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{k // rows_per_file:05d}.parquet"))


def read_docs(path: str) -> List[Doc]:
    table = pq.read_table(path, schema=SCHEMA)
    return list(zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()))

