"""Correctness of the job's sink, read with pyarrow (no Spark).

A document passes when its sink rows, ordered by ``order``, equal the eager
kernel's output (``core.docpipe.extract_document``) span for span: kind,
text, media_ref and order.  Each check returns the set of doc ids that
failed, so the callers can count failures against docs attempted instead of
raising.
"""

from __future__ import annotations

import random
from typing import Dict, Iterable, List, Set, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig, extract_document
from pdf_extraction_and_query_spark.plans.extract import HYBRID_SPAN_THRESHOLD

from corpus import SCHEMA

Span = Tuple[int, str, str, str]  # order, kind, text, media_ref
SINK_COLUMNS = ["doc_id", "order", "kind", "text", "media_ref"]


def sink_sequences(sink_dir: str) -> Dict[str, List[Span]]:
    t = pq.read_table(sink_dir, columns=SINK_COLUMNS).sort_by(
        [("doc_id", "ascending"), ("order", "ascending")]
    )
    out: Dict[str, List[Span]] = {}
    for d, o, k, x, m in zip(*(t.column(c).to_pylist() for c in SINK_COLUMNS)):
        out.setdefault(d, []).append((o, k, x, m))
    return out


def eager_sequence(spans, cfg: ExtractConfig = ExtractConfig()) -> List[Span]:
    return [(r["order"], r["kind"], r["text"], r["media_ref"]) for r in extract_document(spans, cfg)]


def sample_ids(corpus_dir: str, n: int, seed: int) -> List[str]:
    """A seeded sample of ``n`` doc ids plus every doc above the hybrid
    threshold (the whales)."""
    t = pq.read_table(corpus_dir, schema=SCHEMA)
    ids = t.column("doc_id").to_pylist()
    sizes = pc.list_value_length(t.column("spans")).to_pylist()
    whales = [d for d, n_spans in zip(ids, sizes) if n_spans > HYBRID_SPAN_THRESHOLD]
    rest = sorted(set(ids) - set(whales))
    picked = random.Random(seed).sample(rest, min(n, len(rest)))
    return sorted(picked + whales)


def read_spans(corpus_dir: str, doc_ids: Iterable[str]) -> Dict[str, list]:
    t = pq.read_table(corpus_dir, schema=SCHEMA)
    t = t.filter(pc.is_in(t.column("doc_id"), value_set=pa.array(list(doc_ids), pa.string())))
    return dict(zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()))


def check_against_kernel(
    sink: Dict[str, List[Span]], corpus_dir: str, all_ids: Iterable[str], sampled: Iterable[str]
) -> Set[str]:
    """Sampled docs not equal to the kernel, plus docs missing from the sink
    although the kernel gives them output, plus docs the corpus lacks."""
    all_ids = set(all_ids)
    missing = all_ids - set(sink)
    to_run = set(sampled) | missing
    spans = read_spans(corpus_dir, to_run)
    failed = {d for d in to_run if sink.get(d, []) != eager_sequence(spans[d])}
    return failed | (set(sink) - all_ids)


def diff_sinks(a: Dict[str, List[Span]], b: Dict[str, List[Span]]) -> Set[str]:
    """Docs whose span sequences differ between two sinks."""
    return {d for d in set(a) | set(b) if a.get(d) != b.get(d)}
