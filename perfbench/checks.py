"""Output checks, one per workload. Each returns a list of problems (empty
when the output is correct)."""
import json
import math
import re

PATH_POINTS = 51   # Paths.expand emits maxCount + 1 = 51 points per pair


def _eq(problems, what, got, want):
    if got != want:
        problems.append(f'{what}: got {_short(got)}, want {_short(want)}')


def _short(v):
    s = repr(v)
    return s if len(s) < 200 else s[:200] + '...'


def check_envelope(problems, text, truth):
    """The unfiltered jumps envelope against the planted jumps: per person
    the rels in serving order, real rels interleaved with dummies that
    carry the previous rel's studio."""
    env = json.loads(text)
    got = {d['id']: (d['name'], [(r['matchedCompanyName'], r['dummy'],
                                  r['personMappedRole']) for r in d['rels']])
           for d in env['jumps']}
    want = {}
    for pid, doc in truth['jumps'].items():
        rels = []
        for i, r in enumerate(doc['rels']):
            rels.append((r[0], False, r[4]))
            if i + 1 < len(doc['rels']):
                rels.append((r[0], True, r[4]))
        want[pid] = (doc['name'], rels)
    _eq(problems, 'envelope people', len(got), len(want))
    bad = [p for p in want if got.get(p) != want[p]]
    if bad:
        problems.append(f'envelope rels differ for {len(bad)} people, e.g. {bad[0]}: '
                        f'{_short(got.get(bad[0]))} vs {_short(want[bad[0]])}')
    served = sorted({r[0] for d in truth['jumps'].values() for r in d['rels']})
    _eq(problems, 'envelope locations', sorted(env['locations']), served)


def check_dww_rebuild(out, truth):
    p = []
    for got, want in [('fact_rows', 'rows_out'), ('fact_mapped', 'mapped'),
                      ('fact_ratio_below_100', 'ratio_below_100'),
                      ('fact_empty_true_role', 'empty_true_role')]:
        _eq(p, got, out.get(got), truth[want])
    if 'envelope' not in out:
        return p + ['no completed pass']
    check_envelope(p, out['envelope'], truth)
    _eq(p, 'density totals', {f'{c}|{y}': t for c, y, t in out['density']},
        truth['density_totals'])
    _eq(p, 'role index', {r: n for r, n in out['role_index']}, truth['role_paths'])
    pairs = sum(truth['role_paths'].values())
    _eq(p, 'path points', out['paths_rows'], pairs * PATH_POINTS)
    g = truth['graph']
    _eq(p, 'graph edges', out['graph_edges'], g['edges'])
    _eq(p, 'graph weight', out['graph_weight'], float(g['weight']))
    _eq(p, 'pagerank nodes', out['pagerank_nodes'], g['nodes'])
    if not math.isclose(out['pagerank_sum'], 1.0, abs_tol=1e-6):
        p.append(f"pagerank mass {out['pagerank_sum']} != 1")
    _eq(p, 'label propagation nodes', len(out['labels'].split(';')), g['nodes'])
    return p


def _canon_val(v):
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, 'item'):          # numpy scalar
        return _canon_val(v.item())
    return v


def materialized(sql):
    """The oracle text with every non-recursive CTE marked MATERIALIZED.
    DuckDB otherwise re-evaluates a CTE at each reference; the result is
    the same (16 s -> 0.2 s on 500 documents)."""
    out, last = [], 0
    for m in re.finditer(r'(?m)^(\w+) AS \(', sql):
        depth, k = 1, m.end()
        while depth:
            depth += {'(': 1, ')': -1}.get(sql[k], 0)
            k += 1
        if not re.search(rf'\b{m.group(1)}\b', sql[m.end():k]):   # not recursive
            out.append(sql[last:m.end() - 1] + 'MATERIALIZED (')
            last = m.end()
    return ''.join(out) + sql[last:]


def oracle_rows(documents_parquet, sql):
    """Columns and rows of the DuckDB oracle over the generated corpus."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents_parquet}'")
        rows = con.execute(materialized(sql)).fetchall()
        return [d[0] for d in con.description], rows
    finally:
        con.close()


def check_llm_curation(out, documents_parquet):
    """The registry's DuckDB oracle for e2e_llm_pipeline replayed on the
    generated corpus, compared the way tools/check.py compares results:
    columns sorted by name, rows sorted, floats to 1e-9."""
    if 'rows' not in out:
        return ['no completed pass']
    with open(out['oracle_sql']) as f:
        tcols, theirs = oracle_rows(documents_parquet, f.read())
    mcols = out['columns']
    p = []
    _eq(p, 'columns', sorted(mcols), sorted(tcols))
    if p:
        return p
    order = sorted(mcols)

    def canon(rows, cols):
        idx = [cols.index(c) for c in order]
        return sorted(tuple(_canon_val(r[i]) for i in idx) for r in rows)
    a, b = canon(out['rows'], mcols), canon(theirs, tcols)
    _eq(p, 'row count', len(a), len(b))
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    if bad:
        p.append(f'{len(bad)} rows differ from the oracle, e.g. {_short(bad[0])}')
    return p
