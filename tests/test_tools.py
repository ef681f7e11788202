"""The summary that tools/bench_loop.py prints over interleaved bench.py runs."""

from tools.bench_loop import summarize


def test_ab_summary_keeps_the_given_side_order():
    # The first side's path sorts after the second's; the rounds rotate the
    # order as bench_loop runs them.
    a, b = "/x/repo_parent", "/x/repo"
    times = {a: [(1.0, 0.5), (2.0, 0.6), (3.0, 0.7)],
             b: [(1.5, 0.4), (1.8, 0.9), (2.5, 0.8)]}
    runs = [{"side": side, "value": round(p + q, 3), "queries": {"p": p, "q": q}}
            for k, order in enumerate([(a, b), (b, a), (a, b)])
            for side in order
            for p, q in [times[side][k]]]
    lines = summarize(runs).splitlines()
    assert lines[0].split() == ["repo_parent", "repo"]
    assert lines[1].split() == ["query", "min", "med", "min", "med", "won"]
    rows = {ln.split()[0]: ln.split()[1:] for ln in lines[2:5]}
    assert rows == {"p": ["1.000", "2.000", "1.500", "1.800", "2/3"],
                    "q": ["0.500", "0.600", "0.400", "0.800", "1/3"],
                    "total": ["1.500", "2.600", "1.900", "2.700", "1/3"]}
