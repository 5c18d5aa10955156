import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import tables  # noqa: E402


class TablesDeterminism(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = tables.make_tables(7, 0.0005), tables.make_tables(7, 0.0005)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = tables.make_tables(7, 0.0005), tables.make_tables(8, 0.0005)
        self.assertFalse(a['orders'].equals(b['orders']))
        self.assertFalse(a['events'].equals(b['events']))

    def test_schema_of_the_query_tables(self):
        t = tables.make_tables(1, 0.0005)
        self.assertEqual(str(t['orders'].schema.field('o_orderdate').type), 'timestamp[us]')
        self.assertEqual(str(t['customer'].schema.field('c_nationkey').type), 'int32')
        self.assertEqual(str(t['lineitem'].schema.field('l_suppkey').type), 'int64')
        self.assertEqual(t['orders'].num_rows, 10 * t['customer'].num_rows)
        ts = t['events'].column('ts').to_pylist()
        self.assertEqual(ts, sorted(ts))


if __name__ == '__main__':
    unittest.main()
