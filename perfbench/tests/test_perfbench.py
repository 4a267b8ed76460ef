"""The benchmark's own tests: generator determinism, the self-time
arithmetic and the output checks.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks        # noqa: E402
import gen_credits   # noqa: E402
import stats         # noqa: E402


def digests(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), 'rb').read()).hexdigest()
            for f in sorted(os.listdir(d))}


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in [('a', 5), ('b', 5), ('c', 6)]:
            d = os.path.join(cls.tmp.name, name)
            gen_credits.generate(d, seed, n_credits=1500)
            cls.dirs[name] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_inputs(self):
        self.assertEqual(digests(self.dirs['a']), digests(self.dirs['b']))

    def test_different_seeds_give_different_inputs(self):
        a, c = digests(self.dirs['a']), digests(self.dirs['c'])
        for f in ('raw_credits.parquet', 'company_map.parquet', 'truth.json'):
            self.assertNotEqual(a[f], c[f], f)

    def test_dimension_shapes(self):
        import pyarrow.parquet as pq
        cm = pq.read_table(os.path.join(self.dirs['a'], 'company_map.parquet')).to_pylist()
        rm = pq.read_table(os.path.join(self.dirs['a'], 'role_map.parquet')).to_pylist()
        self.assertEqual(len(cm), gen_credits.N_COMPANY_SEARCH)
        self.assertEqual(len(rm), gen_credits.N_ROLE_SEARCH)
        canon = {r['name'] for r in rm if not r['name'].startswith('zzz_baddata')}
        self.assertEqual(len(canon), gen_credits.N_ROLES)
        self.assertTrue(any(r['name'].startswith('zzz_baddata') for r in cm))
        # suffixed or misspelled search strings: the fuzzy matcher scores < 100
        self.assertTrue(any(r['search'] != r['name'].lower() and r['id'].startswith('c')
                            for r in cm))

    def test_truth_counts_add_up(self):
        t = json.load(open(os.path.join(self.dirs['a'], 'truth.json')))
        self.assertEqual(t['rows_in'], 1500)
        self.assertEqual(t['rows_in'] - t['sentinel_dropped'] - t['dedup_dropped'], t['rows_out'])
        self.assertGreater(t['sentinel_dropped'], 0)
        self.assertGreater(t['dedup_dropped'], 0)
        self.assertGreater(t['ratio_below_100'], 0)
        pairs = sum(len(d['rels']) - 1 for d in t['jumps'].values())
        self.assertEqual(sum(t['role_paths'].values()), pairs)
        self.assertEqual(t['graph']['weight'], pairs)


def span(i, parent, start, end, name='x', run='r'):
    return {'id': i, 'parent': parent, 'start_ns': start, 'end_ns': end, 'name': name, 'run': run}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 2, 12, 18)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40)   # [10,50) covered by two overlapping children
        self.assertEqual(st[2], 20 - 6)     # grandchild counts against its parent only
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 6)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)

    def test_median_per_run(self):
        spans = [span(1, 0, 0, 10, 'a', 'p0'), span(2, 0, 0, 30, 'a', 'p1'),
                 span(3, 0, 0, 20, 'a', 'p2'), span(4, 0, 0, 5, 'b', 'p2')]
        dur = lambda s: s['end_ns'] - s['start_ns']  # noqa: E731
        self.assertEqual(stats.median_per_run(spans, dur, ['a']), 20)
        self.assertEqual(stats.median_per_run(spans, dur, ['b']), 0)


class RebuildCheckTest(unittest.TestCase):
    """The rebuild check accepts outputs that match the planted truth and
    names the stage whose output does not."""
    TRUTH = {
        'rows_out': 3, 'mapped': 3, 'ratio_below_100': 1, 'empty_true_role': 1,
        'jumps': {'p1': {'name': 'Ann', 'rels': [
            ['A', 'c1', 'london', 'europe', 'Lead', '2001-01-02', '1,1'],
            ['B', 'c2', 'paris', 'europe', '', '2002-03-04', '2,2']]}},
        'density_totals': {'A|2001': 1, 'B|2002': 0}, 'role_paths': {'Lead': 1},
        'graph': {'nodes': 2, 'edges': 1, 'weight': 1}}

    def outputs(self):
        env = {'jumps': [{'id': 'p1', 'name': 'Ann', 'rels': [
            {'matchedCompanyName': 'A', 'dummy': False, 'personMappedRole': 'Lead'},
            {'matchedCompanyName': 'A', 'dummy': True, 'personMappedRole': 'Lead'},
            {'matchedCompanyName': 'B', 'dummy': False, 'personMappedRole': ''}]}],
            'locations': {'A': '1,1', 'B': '2,2'}}
        return {'fact_rows': 3, 'fact_mapped': 3, 'fact_ratio_below_100': 1,
                'fact_empty_true_role': 1, 'envelope': json.dumps(env),
                'density': [['A', 2001, 1], ['B', 2002, 0]], 'role_index': [['Lead', 1]],
                'paths_rows': 51, 'graph_edges': 1, 'graph_weight': 1.0,
                'pagerank_nodes': 2, 'pagerank_sum': 1.0, 'labels': '1|1;2|1'}

    def test_matching_outputs_pass(self):
        self.assertEqual(checks.check_dww_rebuild(self.outputs(), self.TRUTH), [])

    def test_each_wrong_stage_is_reported(self):
        for key, bad, word in [('density', [['A', 2001, 2], ['B', 2002, 0]], 'density'),
                               ('role_index', [['Lead', 2]], 'role index'),
                               ('paths_rows', 50, 'path points'),
                               ('pagerank_sum', 0.9, 'pagerank'),
                               ('fact_mapped', 2, 'fact_mapped')]:
            out = self.outputs()
            out[key] = bad
            problems = checks.check_dww_rebuild(out, self.TRUTH)
            self.assertEqual(len(problems), 1, problems)
            self.assertIn(word, problems[0])
        out = self.outputs()
        out['envelope'] = out['envelope'].replace('"dummy": true', '"dummy": false')
        self.assertIn('envelope rels', checks.check_dww_rebuild(out, self.TRUTH)[0])


class OracleTextTest(unittest.TestCase):
    def test_only_non_recursive_ctes_are_materialized(self):
        sql = ('WITH RECURSIVE\na AS (SELECT 1 AS x),\n'
               'r AS (\n  SELECT x FROM a\n  UNION\n  SELECT x + 1 FROM r WHERE x < 3)\n'
               'SELECT * FROM r')
        m = checks.materialized(sql)
        self.assertIn('a AS MATERIALIZED (SELECT 1', m)
        self.assertIn('r AS (\n', m)
        import duckdb
        self.assertEqual(sorted(duckdb.sql(m).fetchall()), sorted(duckdb.sql(sql).fetchall()))


if __name__ == '__main__':
    unittest.main()
