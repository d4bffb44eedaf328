"""Tests for the benchmark's own arithmetic and input caching: python3 -m pytest perfbench"""

import statistics
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

from measure import (  # noqa: E402
    Span, error_rate, percentile, quartile_spread, same_ranking, self_times, tail,
)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile([7.0], 90) == 7.0


def test_tail_is_p90_only_with_100_samples():
    xs = [float(i) for i in range(1, 101)]
    pct, value, n = tail(xs)
    assert (pct, n) == (90.0, 100)
    assert value == pytest.approx(percentile(xs, 90))
    # exactly 10 samples lie above the reported value
    assert sum(x > value for x in xs) == 10


def test_tail_drops_to_the_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    pct, value, n = tail(xs)
    assert n == 40
    assert pct == pytest.approx(75.0)
    assert sum(x > value for x in xs) == 10


def test_tail_refuses_runs_too_short_for_a_tail():
    assert tail([1.0] * 19) is None
    assert tail([]) is None
    assert tail([1.0] * 20)[0] == pytest.approx(50.0)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 11.5, 9.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_self_time_subtracts_covered_child_interval():
    spans = [
        Span(0, None, "request", 0.0, 10.0),
        Span(1, 0, "plan", 1.0, 4.0),
        Span(2, 1, "parse", 1.5, 2.0),
        Span(3, 0, "exec", 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.5, 2: 0.5, 3: 4.0})
    # nested spans: self times add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        Span(0, None, "request", 0.0, 10.0),
        Span(1, 0, "a", 2.0, 6.0),
        Span(2, 0, "b", 4.0, 8.0),  # overlaps a on [4, 6]
        Span(3, 0, "c", 9.0, 12.0),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_error_rate_base_is_operations_not_checks():
    assert error_rate(40, 0) == 0.0
    # one batch that failed three checks is one failed operation
    assert error_rate(40, 1) == pytest.approx(0.025)
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(3, 4)


def test_oracle_answers_keep_kth_ties_and_are_cached(tmp_path):
    import pandas as pd

    from inputs import oracle_answers

    calls = []

    def score(spec):
        calls.append(spec)
        return pd.DataFrame({"doc_id": [4, 1, 2, 3, 0], "score": [5.0, 3.0, 2.0, 2.0, 1.0]})

    flat = {"a b": {"op": "AND", "terms": ["a", "b"]}}
    got = oracle_answers(tmp_path, 10, 1, flat, score, k=3)
    # the 3rd best score ties with the 4th: both are kept
    assert got == {"a b": {"row": [4, 1, 2, 3], "score": [5.0, 3.0, 2.0, 2.0]}}
    assert oracle_answers(tmp_path, 10, 1, flat, score, k=3) == got
    assert len(calls) == 1


def test_query_stream_holds_each_shape_once_per_block():
    from fixtures.gen_corpus import gen_corpus
    from inputs import SHAPES, TermIndex, query_stream

    pdf = gen_corpus(300, seed=3)
    ix = TermIndex(pdf["content"].str.lower().str.split())
    stream = query_stream(ix, seed=3, n=4 * len(SHAPES))
    for b in range(4):
        block = stream[b * len(SHAPES):(b + 1) * len(SHAPES)]
        assert sorted(shape for shape, _t, _s in block) == sorted(SHAPES)
    assert stream == query_stream(ix, seed=3, n=4 * len(SHAPES))


def test_same_ranking_allows_reorder_only_within_float_ties():
    exp = [(1, 9.0), (2, 8.0), (3, 6.418732909314401), (4, 6.418732909314401), (5, 5.0)]
    assert same_ranking([(1, 9.0), (2, 8.0), (3, 6.4187329093144)], exp, k=3)
    # two docs whose scores agree up to rounding may swap ranks...
    assert same_ranking([(1, 9.0), (2, 8.0), (4, 6.418732909314402)], exp, k=3)
    assert same_ranking(
        [(1, 9.0), (2, 8.0), (4, 6.418732909314402), (3, 6.4187329093144)], exp, k=4
    )
    # ...but not docs whose scores differ beyond it
    assert not same_ranking([(2, 8.0 - 1e-9), (1, 8.0)], [(1, 8.0), (2, 8.0 - 1e-9)], k=2)
    assert not same_ranking([(1, 9.0), (5, 5.0)], exp, k=2)
    # wrong length, a repeated doc, or a score outside tol
    assert not same_ranking([(1, 9.0)], exp, k=2)
    assert not same_ranking([(3, 6.418732909314401), (3, 6.418732909314401)], exp[2:4], k=2)
    assert not same_ranking([(1, 9.0 + 1e-5)], exp, k=1)


def test_stop_descendants_reaps_orphaned_grandchildren():
    # in a child interpreter, so this process does not become a subreaper:
    # a shell starts a sleep in the background and exits at once, leaving
    # the sleep orphaned; the subreaper inherits it and must stop it
    import subprocess

    script = (
        "import subprocess, time, run\n"
        "run._prctl(run._PR_SET_CHILD_SUBREAPER, 1)\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "time.sleep(0.2)\n"
        "before = run.descendants()\n"
        "assert before, 'the orphaned sleep was not re-parented'\n"
        "assert run.stop_descendants(grace_s=5.0) == before\n"
        "assert not run.descendants()\n"
        "print('ok')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=HERE, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
