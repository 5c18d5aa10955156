import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import layers  # noqa: E402

UNIT_RE = layers.re.compile(r'^[A-Za-z0-9_/%.-]{1,16}$')


def span(i, name, parent, start, end, jobs=0, cpu=0):
    return {'id': i, 'name': name, 'parent': parent, 'start_ns': start, 'end_ns': end, 'plan_ms': 0,
            'counters': {'jobs': jobs, 'tasks': 0, 'cpu_ns': cpu, 'gc_ms': 0, 'shuffle_write_bytes': 0,
                         'fetch_wait_ms': 0, 'spill_bytes': 0}}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(layers.self_time(span(1, 'a', 0, 10, 50), []), 40)

    def test_disjoint_children(self):
        kids = [span(2, 'b', 1, 10, 20), span(3, 'c', 1, 30, 35)]
        self.assertEqual(layers.self_time(span(1, 'a', 0, 0, 100), kids), 85)

    def test_overlapping_children_count_once(self):
        kids = [span(2, 'b', 1, 10, 30), span(3, 'c', 1, 20, 40), span(4, 'd', 1, 40, 45)]
        self.assertEqual(layers.self_time(span(1, 'a', 0, 0, 100), kids), 65)

    def test_children_clipped_to_parent(self):
        kids = [span(2, 'b', 1, -5, 10), span(3, 'c', 1, 90, 120)]
        self.assertEqual(layers.self_time(span(1, 'a', 0, 0, 100), kids), 80)

    def test_self_plus_children_account_for_each_span(self):
        spans = [span(1, 'pass', 0, 0, 100), span(2, 'ingest', 1, 0, 30), span(3, 'table.commit', 2, 5, 25),
                 span(4, 'algo.pagerank', 1, 30, 90), span(5, 'algo.pagerank.iter', 4, 40, 60),
                 span(6, 'algo.pagerank.iter', 4, 60, 85)]
        by_name = layers.Trace({'spans': spans}).self_times()
        self.assertAlmostEqual(sum(by_name.values()), 100 / 1e9)
        self.assertAlmostEqual(by_name['algo.pagerank'], 15 / 1e9)
        self.assertAlmostEqual(by_name['algo.pagerank.iter'], 45 / 1e9)

    def test_inclusive_counts_sum_descendants(self):
        spans = [span(1, 'pass', 0, 0, 100, jobs=1), span(2, 'algo.cc', 1, 0, 50, jobs=3, cpu=7),
                 span(3, 'x', 2, 0, 10, jobs=2, cpu=1)]
        tr = layers.Trace({'spans': spans})
        self.assertEqual(tr.inclusive(spans[0], 'jobs'), 6)
        self.assertEqual(tr.inclusive(spans[1], 'cpu_ns'), 8)
        self.assertEqual([s['id'] for s in tr.in_passes('x')], [3])


class Names(unittest.TestCase):
    def test_metric_names_and_units_are_valid_and_unique(self):
        names = [n for n, _ in layers.END_TO_END + layers.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n, u in layers.END_TO_END + layers.PER_LAYER:
            self.assertRegex(n, layers.NAME_RE)
            self.assertRegex(u, UNIT_RE)

    def test_benchmark_json_matches_the_metrics_reported(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), 'BENCHMARK.json')
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m['name'], m['unit']) for m in spec['end_to_end']], layers.END_TO_END)
        self.assertEqual([(m['name'], m['unit']) for m in spec['per_layer']], list(layers.PER_LAYER))
        for m in spec['per_layer']:
            want = 'higher' if m['name'] in layers.HIGHER_IS_BETTER else 'lower'
            self.assertEqual(m['better'], want, m['name'])
        for w in spec['workloads']:
            self.assertRegex(w['name'], layers.NAME_RE)


if __name__ == '__main__':
    unittest.main()
