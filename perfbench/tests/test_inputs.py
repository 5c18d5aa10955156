"""Seeded link-graph inputs: the same seed must give the same manifest
partition checksums.  Builds the benchmark and starts one Spark JVM per
workload, so it takes about a minute."""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class InputDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.build_dir = os.path.join(ROOT, '.bench_build')
        cls.jars = run.spark_jars()
        cls.jar = run.build(ROOT, cls.build_dir, cls.jars)
        cls.tmp = os.path.join(cls.build_dir, 'test-inputs')
        shutil.rmtree(cls.tmp, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def prepare(self, workload, seed, n_dirs):
        dirs = [os.path.join(self.tmp, f'{workload}-{seed}-{i}') for i in range(n_dirs)]
        for d in dirs:
            os.makedirs(d)
        cmd, env = run.java(self.jar, self.jars, os.path.join(self.tmp, 'jvm'))
        out = subprocess.run(cmd + ['prepare', workload, str(seed)] + dirs, env=env, cwd=self.tmp,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        return [json.loads(l) for l in out.stdout.splitlines() if l.startswith('{')]

    def check(self, workload):
        a, b = self.prepare(workload, 5, 2)
        self.assertTrue(a and all(parts for parts in a.values()), a)
        self.assertEqual(a, b)
        (c,) = self.prepare(workload, 6, 1)
        self.assertNotEqual(sorted(a.values()), sorted(c.values()))

    def test_pages_table(self):
        self.check('crawl_pagerank')

    def test_power_law_edges(self):
        self.check('linkgraph_scale')


if __name__ == '__main__':
    unittest.main()
