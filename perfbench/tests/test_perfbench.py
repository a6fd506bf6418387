"""Self-tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import corpus  # noqa: E402
import eventlog  # noqa: E402


RECORDED_LOG = os.path.join(HERE, "fixtures", "eventlog")


def test_reducer_folds_recorded_event_log():
    """The log was recorded from a local[2] session that ran a shuffle
    under job group 'g.shuffle' and a parquet write under 'g.write'."""
    rows = eventlog.fold_dir(RECORDED_LOG)
    shuffle, write = rows["g.shuffle"], rows["g.write"]
    for row in (shuffle, write):
        assert row.jobs >= 1 and row.tasks >= 1
        assert 0 < row.wall_s and 0 < row.run_s
        assert 0 < row.cpu_s
    assert shuffle.shuffle_write_mb > 0 and shuffle.output_mb == 0
    assert write.output_mb > 0


def test_union_of_job_intervals():
    assert eventlog._union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert eventlog._union_ms([(0, 10), (2, 3)]) == 10


def test_skewed_quotas_fix_the_size_mix():
    docs = corpus.skewed_docs(500, seed=9)
    pages = [corpus.n_pages(s) for _, s in docs]
    assert len(docs) == 500
    assert sum(1 for p in pages if p >= 200) == 4  # round(0.008 * 500)
    assert sum(1 for p in pages if 20 <= p <= 60) == 36


def _write_sink(path, rows):
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pylist(
            [dict(zip(check.SINK_COLUMNS, r)) for r in rows],
            schema=pa.schema(
                [("doc_id", pa.string()), ("order", pa.int32()), ("kind", pa.string()),
                 ("text", pa.string()), ("media_ref", pa.string())]
            ),
        ),
        os.path.join(path, "part-0.parquet"),
    )


def test_corrupted_sink_row_shows_in_mismatch(tmp_path):
    docs = corpus.skewed_docs(20, seed=2)
    corpus_dir = str(tmp_path / "corpus")
    corpus.write_docs(docs, corpus_dir)
    ids = [d for d, _ in docs]
    rows = [(d, *span) for d, spans in docs for span in check.eager_sequence(spans)]

    _write_sink(str(tmp_path / "good"), rows)
    good = check.sink_sequences(str(tmp_path / "good"))
    assert check.check_against_kernel(good, corpus_dir, ids, ids) == set()

    victim = rows[7]
    bad_rows = [r if r is not victim else (*r[:3], r[3] + "!", r[4]) for r in rows]
    _write_sink(str(tmp_path / "bad"), bad_rows)
    bad = check.sink_sequences(str(tmp_path / "bad"))
    failed = check.check_against_kernel(bad, corpus_dir, ids, ids)
    assert failed == {victim[0]}
    assert len(failed) / len(ids) == pytest.approx(1 / 20)

    # a doc missing from the sink fails even when it is not sampled
    _write_sink(str(tmp_path / "missing"), [r for r in rows if r[0] != ids[3]])
    missing = check.sink_sequences(str(tmp_path / "missing"))
    assert check.check_against_kernel(missing, corpus_dir, ids, []) == {ids[3]}
    assert check.diff_sinks(good, missing) == {ids[3]}


def test_resume_prep_leaves_expected_buckets_done(tmp_path, monkeypatch):
    import tempfile

    import run

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    wl = run.Workload(
        "tiny", n_docs=24, n_buckets=8, buckets_per_wave=2, prep_waves=2, scaling=False
    )
    docs = corpus.skewed_docs(wl.n_docs, seed=4)
    corpus_dir = str(tmp_path / "corpus")
    corpus.write_docs(docs, corpus_dir)
    out = str(tmp_path / "prep")
    os.makedirs(out)
    run.build_prep(corpus_dir, out, wl, "tiny-job")

    done = {r["bucket"] for r in run.ledger_rows(os.path.join(out, "ledger"))}
    assert done == {0, 1, 2, 3}  # the first two waves of two buckets
    half = check.sink_sequences(os.path.join(out, "out"))
    assert half and set(half) < {d for d, _ in docs}
    assert check.check_against_kernel(half, corpus_dir, half, half) == set()


def test_metric_tables_match_benchmark_json():
    import json

    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_exits_nonzero_without_the_job(tmp_path, monkeypatch, capsys):
    import run

    monkeypatch.setattr(run, "JOB_SCRIPT", str(tmp_path / "missing.py"))
    assert run.main(["--workload", "skewed", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
