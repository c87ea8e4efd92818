"""Fast tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import fixtures, metrics  # noqa: E402
from perfbench.stats import ab_decision, digest, summarize, tail_percentile  # noqa: E402
from perfbench.tracing import JobIdGap, JobRecord, Span, attribute_jobs, check_contiguous  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---- tail percentile --------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (10, None), (19, None), (20, 50), (21, 52), (40, 75), (100, 90),
     (110, 90), (1000, 99), (10_000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10
        if p < 99:
            assert n * (100 - (p + 1)) / 100 < 10


def test_summarize_reports_the_supported_tail_only():
    assert "p50" not in summarize([1.0] * 19)
    s = summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and "p90" in s and "p91" not in s
    assert s["median"] == pytest.approx(49.5)


# ---- digest ---------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    cols = ["b", "a", "c"]
    rows = [(1, "x", 0.1), (2, "y", 0.2), (3, "z", 0.30000000000000004)]
    base = digest(cols, rows)
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert digest(cols, shuffled) == base
    swapped = [(a, b, c) for (b, a, c) in rows]
    assert digest(["a", "b", "c"], swapped) == base
    assert base[0] == 3


def test_digest_sees_a_changed_value_and_a_dropped_row():
    cols = ["k", "v"]
    rows = [(1, 1.5), (2, 2.5)]
    assert digest(cols, [(1, 1.5), (2, 2.6)]) != digest(cols, rows)
    assert digest(cols, rows[:1]) != digest(cols, rows)


def test_digest_rounds_floats_to_nine_significant_digits():
    assert digest(["v"], [(0.1 + 0.2,)]) == digest(["v"], [(0.3,)])


# ---- job attribution ---------------------------------------------------------


def _span(sid, name, start, end, parent=None):
    return Span(name, f"op{sid}", sid, parent, start, end)


def _job(jid, ms, group=None):
    return JobRecord(jid, group, ms, ms + 5, [jid])


def test_ungrouped_jobs_go_to_the_innermost_span_by_submission_time():
    spans = [
        _span(1, "pass", 10.0, 20.0),
        _span(2, "ingest", 11.0, 13.0, parent=1),
        _span(3, "write", 12.0, 12.5, parent=2),
    ]
    jobs = [_job(0, 11_500), _job(1, 12_200), _job(2, 15_000), _job(3, 25_000)]
    attribute_jobs(jobs, spans, {})
    assert [(j.owner, j.by) for j in jobs] == [
        (2, "window"), (3, "window"), (1, "window"), (None, "none"),
    ]


def test_grouped_jobs_stay_under_their_group_span():
    # span 4 runs concurrently in another thread; a job of group 1 submitted
    # inside its window still belongs under span 1
    spans = [
        _span(1, "query", 10.0, 20.0),
        _span(2, "build", 10.0, 11.0, parent=1),
        _span(4, "other", 14.0, 16.0),
    ]
    jobs = [_job(0, 10_500, "g1"), _job(1, 15_000, "g1"), _job(2, 15_000, "stream-run-id")]
    attribute_jobs(jobs, spans, {"g1": 1})
    assert [(j.owner, j.by) for j in jobs] == [(2, "group"), (1, "group"), (4, "window")]


def test_a_gap_in_harvested_job_ids_fails_loudly():
    check_contiguous(5, {5, 6, 7})
    with pytest.raises(JobIdGap):
        check_contiguous(5, {5, 7})
    with pytest.raises(JobIdGap):
        check_contiguous(3, {5, 6})


# ---- A/B decision rule --------------------------------------------------------


def test_ab_gain_needs_nine_of_ten_wins_and_medians_apart():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    change = [p - 1.0 for p in parent]
    change[3] = parent[3] + 0.5  # one loss still leaves 9 of 10
    d = ab_decision(parent, change, "lower", 0.2)
    assert d["wins"] == 9 and d["verdict"] == "gain"


def test_ab_eight_wins_is_not_a_gain():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    change = [p - 1.0 for p in parent]
    change[3] = parent[3] + 0.5
    change[5] = parent[5] + 0.5
    assert ab_decision(parent, change, "lower", 0.2)["verdict"] == "no change"


def test_ab_medians_within_the_parent_spread_are_no_change():
    parent = [9.0, 11.0, 9.2, 10.8, 9.4, 10.6, 9.6, 10.4, 9.8, 10.2]
    change = [p - 0.1 for p in parent]  # wins every pair, by less than the IQR
    d = ab_decision(parent, change, "lower", 0.5)
    assert d["wins"] == 10 and d["verdict"] == "no change"


def test_ab_higher_is_better_and_regressions():
    parent = [100.0 + i for i in range(10)]
    assert ab_decision(parent, [p * 1.5 for p in parent], "higher", 0.2)["verdict"] == "gain"
    assert ab_decision(parent, [p * 0.5 for p in parent], "higher", 0.2)["verdict"] == "regression"


def test_ab_spread_beyond_the_bound_is_unresolved():
    parent = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
    change = [p + 0.5 for p in parent]
    assert ab_decision(parent, change, "lower", 0.1)["verdict"] == "unresolved"


def test_ab_needs_ten_pairs():
    with pytest.raises(ValueError):
        ab_decision([1.0] * 9, [1.0] * 9, "lower", 0.2)


# ---- fixtures and declared metrics ----------------------------------------------


def _tree_hash(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_fixtures_depend_only_on_the_seed(tmp_path):
    fixtures.write_tables(7, str(tmp_path / "a"))
    fixtures.write_tables(7, str(tmp_path / "b"))
    fixtures.write_tables(8, str(tmp_path / "c"))
    assert _tree_hash(tmp_path / "a") == _tree_hash(tmp_path / "b")
    assert _tree_hash(tmp_path / "a") != _tree_hash(tmp_path / "c")


def test_ingest_increments_lie_above_the_previous_watermark(tmp_path):
    import pyarrow.parquet as pq

    src = fixtures.IngestSources(3, str(tmp_path))
    for system in ("sap", "lims", "c1"):
        src.append(system)
        src.append(system)
    sap = [pq.read_table(f"{tmp_path}/sap/part-{k:05d}.parquet").to_pydict() for k in (0, 1)]
    refs = [[d + t for d, t in zip(p["ERDAT"], p["ERZET"])] for p in sap]
    assert max(refs[0]) < min(refs[1])
    lims = [pq.read_table(f"{tmp_path}/lims/part-{k:05d}.parquet").column("MODIFIED_ON")
            for k in (0, 1)]
    assert max(v for v in lims[0].to_pylist() if v) < min(v for v in lims[1].to_pylist() if v)


def test_stream_files_plant_base_copies():
    import numpy as np

    docs = fixtures.StreamDocs(5)
    t = docs.batch(0, np.zeros(fixtures.STREAM_FILE_DOCS))
    texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    assert docs.planted and all(texts[i] in docs.base_texts for i in docs.planted)


def test_unplanted_stream_docs_have_no_near_duplicate():
    """The run checks that exactly the unplanted docs are admitted; that
    holds only if no unplanted doc is near another once the boilerplate's
    shingles, which the base corpus puts over the df cap, are dropped."""
    import numpy as np

    docs = fixtures.StreamDocs(5)
    texts = dict(zip(docs.base_ids, docs.base_texts))
    for k in range(6):
        t = docs.batch(k, np.zeros(fixtures.STREAM_FILE_DOCS))
        texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    def shingles(text):
        w = text.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    hot = shingles(docs.boilerplate)
    sets = {i: shingles(t) - hot for i, t in texts.items()}
    by_shingle = {}
    for i, sh in sets.items():
        for x in sh:
            by_shingle.setdefault(x, set()).add(i)
    unplanted = set(docs.offered) - docs.planted
    worst = 0.0
    for i in unplanted:
        for j in set().union(*(by_shingle[x] for x in sets[i])) - {i}:
            worst = max(worst, len(sets[i] & sets[j]) / len(sets[i] | sets[j]))
    assert worst < 0.1


def test_benchmark_json_lists_the_declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [m[0] for m in metrics.END_TO_END]
    assert [m["name"] for m in bench["per_layer"]] == [m[0] for m in metrics.PER_LAYER]
    for m, (name, unit, better, bound) in zip(bench["end_to_end"], metrics.END_TO_END):
        assert (m["unit"], m["better"], m["bound"]) == (unit, better, bound)
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
