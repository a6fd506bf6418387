#!/usr/bin/env python3
"""Benchmark of the shipped extraction job.

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 20 --trace 0

End-to-end (``--trace 0``): the production entry ``scripts/run_extract_job.py``
is submitted unchanged with ``spark-submit --py-files`` at ``local[4]``, ledger
and partitioned sink included.  Submits are a closed loop: one at a time from
this process.  Job submits repeat on fresh state until ``--seconds`` have
passed; then the same job is re-submitted once over its finished ledger,
which skips every bucket, to time set-up alone.  One re-submit, not several:
a submit costs ~13 s of JVM and session start on a 4-core box, and a full
pass of 48 runs (ten per workload twice, plus traced runs) must fit in 57
minutes.

Traced (``--trace 1``): an untraced and an event-logged submit (for the
tracing overhead), on ``skewed`` also a ``local[1]`` submit (for
``scaling_eff``), then the in-process layer pass of ``layers.py``.

Workloads (the job sees only the generated parquet):

* ``skewed`` - the synth mix in one wave; no doc crosses the hybrid
  threshold, so every doc runs through the fused eager kernel and the
  checkpoint machinery runs once.
* ``resume`` - a smaller corpus of the same shape at the production 64
  buckets, 16 per wave (4 waves).  Half the waves are done in-process
  beforehand (untimed, cached per seed); the timed submit resumes the rest.

Every run checks the sink span for span against the eager kernel on a seeded
sample of docs, and that no doc is missing; a traced run also compares every
doc across ``local[1]`` and ``local[4]`` (``skewed``) or against an
uninterrupted run (``resume``).  Failures are counted, never raised.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it print every metric by name
and unit.  ``mismatch_frac`` (failed docs over docs attempted) and
``recomputed_buckets`` are printed there and recorded, but carried in the
last line only as ``failed``, ``attempted`` and ``correct``: both are 0 for a
correct program.  ``scaling_eff`` is measured by traced ``skewed`` runs only.
The full record, with cpus, ``cal_ms``, seed, corpus shape, commit and Spark
version, goes to ``data/perfbench/results/``.  Corpora and resume state are cached under
``data/perfbench/cache/``; each run works in its own directory under
``data/perfbench/runs/``, removed at the end unless something failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Dict, List, Optional, Set

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "pdf_extraction_and_query_spark")
JOB_SCRIPT = os.path.join(ROOT, "scripts", "run_extract_job.py")
DATA = os.path.join(ROOT, "data", "perfbench")

CORES = min(4, os.cpu_count() or 1)
SAMPLE_DOCS = 256  # docs checked against the eager kernel per submit
KERNEL_DOCS = 1200  # docs timed through core.docpipe in the layer pass
STAGED_DOCS = 4  # largest docs timed through the staged path
DEADLINE_S = 165  # every run must exit within 180 s


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_buckets: int
    buckets_per_wave: int
    prep_waves: int  # waves done in-process before the timed submit
    scaling: bool  # traced runs add a local[1] submit for scaling_eff


WORKLOADS = {
    "skewed": Workload(
        "skewed", n_docs=2400, n_buckets=64, buckets_per_wave=64, prep_waves=0, scaling=True
    ),
    "resume": Workload(
        "resume", n_docs=800, n_buckets=64, buckets_per_wave=16, prep_waves=2, scaling=False
    ),
}

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "core.docpipe.doc_ms.p50": "ms",
    "core.docpipe.doc_ms.p99": "ms",
    "core.docpipe.lines_s": "s",
    "core.docpipe.fold_s": "s",
    "core.docpipe.clean_s": "s",
    "core.docpipe.chunk_s": "s",
    "core.docpipe.spans_in": "count",
    "core.docpipe.lines_kept": "count",
    "core.docpipe.boiler_dropped": "count",
    "core.docpipe.chunks_out": "count",
    "operators.extraction.fused_s": "s",
    "operators.extraction.fused_task_s": "s",
    "operators.extraction.fused_gc_s": "s",
    "operators.extraction.staged_s": "s",
    "operators.extraction.staged_shuffle_mb": "MB",
    "plans.extract.probe_s": "s",
    "plans.extract.hybrid_s": "s",
    "plans.checkpoint.ledger_read_s": "s",
    "plans.checkpoint.machinery_s": "s",
    "plans.checkpoint.wave_s.p50": "s",
    "plans.checkpoint.wave_s.max": "s",
    "plans.checkpoint.waves": "count",
    "sources.tables.overwrite_s": "s",
    "sources.tables.append_s": "s",
    "sources.tables.files_out": "count",
    "sources.tables.mb_out": "MB",
    "trace.overhead_pct": "%",
}

# end-to-end figures the contract line does not carry: printed and recorded
EXTRA_UNITS = {
    "scaling_eff": "ratio",
    "local1_vs_local4_mismatched_docs": "count",
    "resumed_vs_uninterrupted_mismatched_docs": "count",
    "mismatch_frac": "ratio",
    "recomputed_buckets": "count",
}


def cal_probe() -> float:
    """Single-core CPU probe in ms (the numpy mix of bench.py's cal_probe):
    measures the box, not the program."""
    import numpy as np

    a = np.arange(2_000_000, dtype=np.int64)
    m = np.linspace(0.0, 1.0, 256 * 256, dtype=np.float64).reshape(256, 256)
    t0 = time.monotonic()
    acc = 0
    for _ in range(4):
        acc ^= int((a * 1103515245 + 12345).sum())
        m = m @ m % 1.0 + 1e-9
    return (time.monotonic() - t0) * 1000.0


def source_digest() -> str:
    """sha256 over the package and job sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [JOB_SCRIPT]
    for d, _, files in os.walk(PACKAGE):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> Optional[str]:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def build_dir(path: str, build) -> str:
    """``build(tmp)`` fills a sibling of ``path`` that is then renamed into
    place, so an interrupted build never leaves a half-made cache entry."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.building{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


def build_prep(corpus_dir: str, out: str, wl: Workload, job_id: str) -> None:
    """Untimed resume prep in ``out``: the first ``wl.prep_waves`` waves of
    the job, done in-process with the job's settings (``out/out`` and
    ``out/ledger``)."""
    from inproc import local_spark
    from pdf_extraction_and_query_spark.plans.checkpoint import run_checkpointed

    with local_spark(out, CORES) as spark:
        run_checkpointed(
            spark, spark.read.parquet(corpus_dir), os.path.join(out, "out"),
            os.path.join(out, "ledger"), job_id=job_id, n_buckets=wl.n_buckets,
            buckets_per_wave=wl.buckets_per_wave, max_waves=wl.prep_waves, mode="hybrid",
        )
    shutil.rmtree(os.path.join(out, "local"), ignore_errors=True)


def ledger_rows(ledger_dir: str, run_id: Optional[str] = None) -> List[dict]:
    import pyarrow.parquet as pq

    rows = pq.read_table(ledger_dir, columns=["run_id", "bucket", "n_docs", "wall_sec"]).to_pylist()
    return [r for r in rows if run_id is None or r["run_id"] == run_id]


class Bench:
    def __init__(self, wl: Workload, seed: int, trace: bool) -> None:
        import corpus
        import check

        self.corpus_mod, self.check = corpus, check
        self.wl, self.seed, self.trace = wl, seed, trace
        self.t_start = time.monotonic()
        self.job_id = f"perfbench-{wl.name}"
        self.cal_ms: List[float] = []
        self.failed: Set[str] = set()
        self.attempted = 0
        self.problems: List[str] = []
        self.recomputed = 0
        os.makedirs(os.path.join(DATA, "runs"), exist_ok=True)
        self.run_dir = tempfile.mkdtemp(
            prefix=f"{wl.name}-seed{seed}-", dir=os.path.join(DATA, "runs")
        )
        self.cache = os.path.join(DATA, "cache", f"{wl.name}-seed{seed}-docs{wl.n_docs}")
        os.makedirs(self.cache, exist_ok=True)
        # the package zip and every Python temp file stay in the run dir
        os.environ["TMPDIR"] = self.run_dir
        tempfile.tempdir = self.run_dir

    # ---- inputs -----------------------------------------------------------

    def prepare(self) -> None:
        from pdf_extraction_and_query_spark.sources.packaging import build_package_zip

        self.corpus_dir = build_dir(
            os.path.join(self.cache, "corpus"),
            lambda out: self.corpus_mod.write_docs(
                self.corpus_mod.skewed_docs(self.wl.n_docs, self.seed), out
            ),
        )
        self.prep_dir = None
        if self.wl.prep_waves:
            self.prep_dir = build_dir(
                os.path.join(
                    self.cache,
                    f"prep-b{self.wl.n_buckets}-w{self.wl.buckets_per_wave}-p{self.wl.prep_waves}",
                ),
                lambda out: build_prep(self.corpus_dir, out, self.wl, self.job_id),
            )
            self.prep_done = {r["bucket"] for r in ledger_rows(os.path.join(self.prep_dir, "ledger"))}
        else:
            self.prep_done = set()
        import pyarrow.parquet as pq

        self.all_ids = pq.read_table(self.corpus_dir, columns=["doc_id"]).column("doc_id").to_pylist()
        self.sample = self.check.sample_ids(self.corpus_dir, SAMPLE_DOCS, self.seed)
        self.zip_path = build_package_zip(self.run_dir)

    def fresh_state(self, tag: str):
        d = os.path.join(self.run_dir, tag)
        out, led = os.path.join(d, "out"), os.path.join(d, "ledger")
        if self.prep_dir:
            shutil.copytree(os.path.join(self.prep_dir, "out"), out)
            shutil.copytree(os.path.join(self.prep_dir, "ledger"), led)
        return d, out, led

    # ---- submits ----------------------------------------------------------

    def remaining(self) -> float:
        return DEADLINE_S - (time.monotonic() - self.t_start)

    def submit(self, tag: str, state, cores: int = CORES, event_log: bool = False):
        import submit as S

        d, out, led = state
        self.cal_ms.append(cal_probe())
        return S.submit(
            ROOT, self.zip_path, os.path.join(d, tag), self.corpus_dir, out, led, self.job_id,
            cores, self.wl.n_buckets, self.wl.buckets_per_wave, max(10.0, self.remaining()),
            event_log_dir=os.path.join(d, tag, "eventlog") if event_log else None,
        )

    def job(self, tag: str, cores: int = CORES, event_log: bool = False) -> dict:
        """A job submit on fresh state, its sink checked; returns its figures."""
        state = self.fresh_state(tag)
        r = self.submit("job", state, cores, event_log)
        _, out, led = state
        self.attempted += len(self.all_ids)
        rec = {"tag": tag, "cores": cores, "ok": r.ok, "job_s": r.job_s,
               "peak_rss_mb": r.peak_rss_mb, "report": r.report, "state": state}
        if not r.ok:
            self.problems.append(f"{tag}: submit failed, see {r.log_path}")
            self.failed |= {f"{tag}:{d}" for d in self.all_ids}
            return rec
        rows = ledger_rows(led, r.report["run_id"])
        rec["n_docs"] = sum(x["n_docs"] for x in rows)
        rec["docs_per_s"] = rec["n_docs"] / r.report["extract_wall_sec"]
        wall = {x["bucket"]: x["wall_sec"] for x in rows}
        rec["buckets"] = sorted(wall)
        # every bucket of a wave carries the wave's wall_sec
        rec["wave_s"] = [wall[b] for b in rec["buckets"][:: self.wl.buckets_per_wave]]
        recomputed = sum(1 for x in rows if x["bucket"] in self.prep_done)
        self.recomputed += recomputed
        rec["recomputed_buckets"] = recomputed
        sink = self.check.sink_sequences(out)
        bad = self.check.check_against_kernel(sink, self.corpus_dir, self.all_ids, self.sample)
        rec["mismatched_docs"] = len(bad)
        self.failed |= {f"{tag}:{d}" for d in bad}
        return rec

    def setup(self, state) -> float:
        """One re-submit over a finished ledger: set-up only, no extraction."""
        r = self.submit("setup", state)
        if not r.ok:
            self.problems.append(f"setup: submit failed, see {r.log_path}")
            return 0.0
        self.recomputed += r.report["processed_buckets"]
        return r.job_s

    # ---- runs -------------------------------------------------------------

    def run_untraced(self, seconds: int) -> Dict[str, float]:
        t0 = time.monotonic()
        jobs = [self.job("job0")]
        # another repetition only while --seconds has not passed and the
        # previous one's length still fits before the deadline
        while (
            time.monotonic() - t0 < seconds
            and jobs[-1]["ok"]
            and self.remaining() > jobs[-1]["job_s"] * 3
        ):
            jobs.append(self.job(f"job{len(jobs)}"))
        setup = self.setup(jobs[-1]["state"]) if jobs[-1]["ok"] else 0.0
        self.cal_ms.append(cal_probe())
        ok = [j for j in jobs if j["ok"]]
        self.record = {"jobs": [_public(j) for j in jobs], "setup_s": setup}
        med = lambda k: statistics.median(j[k] for j in ok) if ok else 0.0  # noqa: E731
        return {
            "docs_per_s": med("docs_per_s"),
            "job_s": med("job_s"),
            "setup_s": setup,
            "peak_rss_mb": med("peak_rss_mb"),
        }

    def run_traced(self) -> Dict[str, float]:
        import eventlog
        import layers
        from inproc import local_spark

        check = self.check
        plain = self.job("untraced")
        traced = self.job("traced", event_log=True)
        extra: Dict[str, float] = {}
        self.record = {"jobs": [_public(plain), _public(traced)]}
        if self.wl.scaling and plain["ok"]:
            single = self.job("local1", cores=1)
            self.record["jobs"].append(_public(single))
            if single["ok"]:
                extra["scaling_eff"] = plain["docs_per_s"] / (CORES * single["docs_per_s"])
                a = check.sink_sequences(plain["state"][1])
                b = check.sink_sequences(single["state"][1])
                diff = check.diff_sinks(a, b)
                extra["local1_vs_local4_mismatched_docs"] = len(diff)
                self.failed |= {f"local1-vs-local4:{d}" for d in diff}
        if not traced["ok"]:
            return {k: 0.0 for k in PER_LAYER_UNITS}

        d, out, led = traced["state"]
        self.record["submit_eventlog"] = {
            g: row.as_dict() for g, row in eventlog.fold_dir(os.path.join(d, "job", "eventlog")).items()
        }
        docs = self.corpus_mod.read_docs(self.corpus_dir)
        metrics = layers.docpipe_layer(random.Random(self.seed).sample(docs, min(len(docs), KERNEL_DOCS)))
        if metrics["core.docpipe.stage_mismatch"]:
            self.problems.append("core.docpipe stages do not recompose extract_document")
        big = [doc_id for doc_id, _ in sorted(docs, key=lambda x: -len(x[1]))[:STAGED_DOCS]]
        del docs
        layer_dir = os.path.join(self.run_dir, "layers")
        log_dir = os.path.join(layer_dir, "eventlog")
        with local_spark(layer_dir, CORES, event_log_dir=log_dir) as spark:
            metrics.update(
                layers.spark_layers(
                    spark, self.corpus_dir, big, out, led, traced["report"]["run_id"],
                    traced["buckets"][: self.wl.buckets_per_wave], self.job_id,
                    self.wl.n_buckets, self.wl.buckets_per_wave, layer_dir,
                )
            )
            if self.prep_dir:
                whole = self.uninterrupted(spark, os.path.join(layer_dir, "uninterrupted"))
        if self.prep_dir:
            diff = check.diff_sinks(check.sink_sequences(out), check.sink_sequences(whole))
            extra["resumed_vs_uninterrupted_mismatched_docs"] = len(diff)
            self.failed |= {f"resumed-vs-uninterrupted:{d}" for d in diff}
        groups = eventlog.fold_dir(log_dir)
        self.record["layer_eventlog"] = {g: row.as_dict() for g, row in groups.items()}
        fused, staged = groups.get(layers.FUSED), groups.get(layers.STAGED)
        metrics["operators.extraction.fused_task_s"] = fused.run_s if fused else 0.0
        metrics["operators.extraction.fused_gc_s"] = fused.gc_s if fused else 0.0
        metrics["operators.extraction.staged_shuffle_mb"] = staged.shuffle_write_mb if staged else 0.0
        waves = traced["wave_s"]
        metrics["plans.checkpoint.wave_s.p50"] = statistics.median(waves)
        metrics["plans.checkpoint.wave_s.max"] = max(waves)
        metrics["plans.checkpoint.waves"] = len(waves)
        files = [os.path.join(p, f) for p, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
        metrics["sources.tables.files_out"] = len(files)
        metrics["sources.tables.mb_out"] = sum(os.path.getsize(f) for f in files) / 2**20
        metrics["trace.overhead_pct"] = (
            (traced["job_s"] - plain["job_s"]) / plain["job_s"] * 100.0 if plain["ok"] else 0.0
        )
        self.record["layers_extra"] = {k: v for k, v in metrics.items() if k not in PER_LAYER_UNITS}
        self.record["e2e_extra"] = extra
        return {k: metrics[k] for k in PER_LAYER_UNITS}

    def uninterrupted(self, spark, workdir: str) -> str:
        """The same job run in one wave without interruption, untimed;
        returns its sink."""
        from pdf_extraction_and_query_spark.plans.checkpoint import run_checkpointed

        spark.sparkContext.setJobGroup("perfbench.untimed", "untimed")
        out = os.path.join(workdir, "out")
        run_checkpointed(
            spark, spark.read.parquet(self.corpus_dir), out, os.path.join(workdir, "ledger"),
            job_id=self.job_id, n_buckets=self.wl.n_buckets,
            buckets_per_wave=self.wl.n_buckets, mode="hybrid",
        )
        return out

    def finish(self, metrics: Dict[str, float], units: Dict[str, str], seconds: int) -> int:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        import pyspark

        mismatch_frac = len(self.failed) / max(1, self.attempted)
        correct = not self.failed and not self.problems and self.recomputed == 0
        docs = pq.read_table(self.corpus_dir)
        sizes = pc.list_value_length(docs.column("spans"))
        extra = self.record.pop("e2e_extra", {})
        extra["mismatch_frac"] = mismatch_frac
        extra["recomputed_buckets"] = self.recomputed
        full = {
            "workload": self.wl.name,
            "seed": self.seed,
            "seconds": seconds,
            "trace": int(self.trace),
            "cpus": os.cpu_count(),
            "cores": CORES,
            "cal_ms": self.cal_ms,
            "cal_ms_median": statistics.median(self.cal_ms) if self.cal_ms else None,
            "corpus": {
                "docs": docs.num_rows,
                "spans": pc.sum(sizes).as_py(),
                "max_spans_per_doc": pc.max(sizes).as_py(),
                "n_buckets": self.wl.n_buckets,
                "buckets_per_wave": self.wl.buckets_per_wave,
                "prep_waves": self.wl.prep_waves,
            },
            "commit": git_commit(),
            "source_sha256": source_digest(),
            "spark_version": pyspark.__version__,
            "metrics": metrics,
            "extra": extra,
            "problems": self.problems,
            "failed_docs": sorted(self.failed)[:50],
            **self.record,
        }
        os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
        path = os.path.join(
            DATA, "results", f"{self.wl.name}-seed{self.seed}-trace{int(self.trace)}.json"
        )
        with open(path, "w") as fh:
            json.dump(full, fh, indent=1, default=str)
        for k, v in metrics.items():
            print(f"{self.wl.name} {k} {v:.6g} {units[k]}")
        for k, v in extra.items():
            print(f"{self.wl.name} {k} {v:.6g} {EXTRA_UNITS[k]}")
        for p in self.problems:
            print(f"problem: {p}", file=sys.stderr)
        if correct:
            shutil.rmtree(self.run_dir, ignore_errors=True)
        else:
            print(f"kept run dir {self.run_dir}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": self.attempted,
                    "failed": len(self.failed),
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0


def _public(job: dict) -> dict:
    return {k: v for k, v in job.items() if k != "state"}


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(JOB_SCRIPT) and os.path.isdir(PACKAGE)):
        print(
            f"perfbench: the job to measure is missing ({JOB_SCRIPT} and {PACKAGE} are required)",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]
    bench = Bench(WORKLOADS[args.workload], args.seed, bool(args.trace))
    bench.prepare()
    if args.trace:
        return bench.finish(bench.run_traced(), PER_LAYER_UNITS, args.seconds)
    return bench.finish(bench.run_untraced(args.seconds), END_TO_END_UNITS, args.seconds)


if __name__ == "__main__":
    sys.exit(main())
