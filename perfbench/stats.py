"""Trace arithmetic of the benchmark: span self times and per-pass medians."""
import statistics


def self_times(spans):
    """Self time (ns) of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once). `spans` are dicts with id, parent, start_ns, end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s['parent'], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for c in sorted(children.get(s['id'], []), key=lambda c: c['start_ns']):
            a, b = max(c['start_ns'], s['start_ns']), min(c['end_ns'], s['end_ns'])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s['id']] = (s['end_ns'] - s['start_ns']) - covered
    return out


def per_run(spans, value, names):
    """{run id: summed value(span) over the run's spans whose name is in
    `names`}, for every run that has at least one span at all."""
    runs = {}
    for s in spans:
        runs.setdefault(s['run'], 0)
        if s['name'] in names:
            runs[s['run']] += value(s)
    return runs


def median_per_run(spans, value, names, runs=None):
    """Median over runs of the per-run sum; 0 when no run exists.
    `runs` restricts the runs considered (e.g. runs that carry a pass)."""
    by = per_run(spans, value, names)
    vals = [v for r, v in by.items() if runs is None or r in runs]
    return statistics.median(vals) if vals else 0
