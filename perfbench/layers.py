"""Metric names and the arithmetic that turns a run's spans into them.

A span is {"id", "name", "parent", "start_ns", "end_ns", "plan_ms",
"counters"}; its counters hold the Spark work of the jobs submitted while
it was the innermost open span.  A layer's self time is its span's duration
minus the part of that interval its child spans cover.  Every per-layer
figure is an average over the run's timed passes, so runs of different
length compare.
"""
import json
import os
import re
import statistics

NAME_RE = re.compile(r'^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$')
CORES = 4

SWEEP_FAMILIES = {
    'mine': ['f_lwg_mine_absimp'],
    'kernel': ['f_ts_modes', 'f_tpk_patterns', 'f_spanning_trees'],
    'smallgraph': ['g_cc', 'g_triangles_per_vertex', 'g_common_neighbors'],
    'stream': ['e_dedup_stream'],
}
SWEEP_QUERIES = [q for qs in SWEEP_FAMILIES.values() for q in qs]

END_TO_END = [('setup_s', 's'), ('wall_s', 's'), ('peak_rss_mb', 'MB')]

# (name, unit); every per-layer figure is better lower except a rate
PER_LAYER = (
    [('ingest.s', 's'), ('ingest.commit_s', 's'), ('ingest.task_cpu_s', 's'),
     ('ingest.shuffle_write_mb', 'MB'), ('table.commit_mb', 'MB'),
     ('algo.pagerank.s', 's'), ('algo.pagerank.edges_per_s', '1/s'), ('algo.pagerank.setup_s', 's'),
     ('algo.pagerank.iterations', 'count'), ('algo.pagerank.iter_s_p50', 's'),
     ('algo.pagerank.jobs_per_iter', 'count'), ('algo.pagerank.task_cpu_s_per_iter', 's'),
     ('algo.pagerank.shuffle_write_mb_per_iter', 'MB'), ('algo.pagerank.gc_s', 's'),
     ('run.checkpoint.write_s', 's'), ('run.checkpoint.snapshots', 'count'),
     ('run.checkpoint.bytes_mb', 'MB')]
    + [(f'algo.{a}.{m}', u) for a in ('cc', 'lp', 'triangles')
       for m, u in (('s', 's'), ('jobs', 'count'), ('task_cpu_s', 's'),
                    ('shuffle_write_mb', 'MB'), ('spill_mb', 'MB'))]
    + [(f'queries.{q}.{m}', u) for q in SWEEP_QUERIES
       for m, u in (('s', 's'), ('jobs', 'count'), ('task_cpu_s', 's'), ('plan_s', 's'))]
    + [(f'queries.{f}_s', 's') for f in SWEEP_FAMILIES]
    + [('spark.jobs', 'count'), ('spark.tasks', 'count'), ('spark.task_cpu_s', 's'),
       ('spark.gc_s', 's'), ('spark.fetch_wait_s', 's'), ('spark.spill_mb', 'MB'),
       ('spark.driver_idle_frac', 'fraction'), ('jvm.cpu_s', 's'), ('host.steal_frac', 'fraction'),
       ('trace.wall_s', 's')])
HIGHER_IS_BETTER = {'algo.pagerank.edges_per_s'}


def self_time(span, children):
    """Duration of `span` not covered by any of its `children` (ns)."""
    lo, hi = span['start_ns'], span['end_ns']
    covered, cur_lo, cur_hi = 0, None, None
    for c in sorted(children, key=lambda c: c['start_ns']):
        a, b = max(lo, c['start_ns']), min(hi, c['end_ns'])
        if a >= b:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


class Trace:
    """Spans of one run, indexed for inclusive counts and self times."""

    def __init__(self, doc):
        self.spans = doc['spans']
        self.by_id = {s['id']: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s['parent'], []).append(s)

    def named(self, name):
        return [s for s in self.spans if s['name'] == name]

    def in_passes(self, name):
        """Spans called `name` that sit inside a timed pass."""
        out = []
        for s in self.named(name):
            p = s
            while p['parent'] in self.by_id:
                p = self.by_id[p['parent']]
                if p['name'] == 'pass':
                    out.append(s)
                    break
        return out

    def inclusive(self, span, key):
        total = span['counters'][key] if key != 'plan_ms' else span['plan_ms']
        for c in self.children.get(span['id'], []):
            total += self.inclusive(c, key)
        return total

    def total(self, spans, key):
        return sum(self.inclusive(s, key) for s in spans)

    def self_times(self):
        """Self time (s) per span name, summed over the whole run."""
        out = {}
        for s in self.spans:
            kids = self.children.get(s['id'], [])
            own = self_time(s, kids)
            out[s['name']] = out.get(s['name'], 0.0) + own / 1e9
        return out


def per_layer(workload, doc, jvm):
    """Per-layer metrics of a traced run and the trace document to keep."""
    tr = Trace(doc)
    passes = tr.named('pass')
    n = max(len(passes), 1)
    dur = lambda spans: sum(s['end_ns'] - s['start_ns'] for s in spans) / 1e9 / n
    cnt = lambda spans, key: tr.total(spans, key) / n
    mb = 1e6
    m = {name: 0.0 for name, _ in PER_LAYER}

    ingest = tr.in_passes('ingest')
    iters = tr.in_passes('algo.pagerank.iter')
    pr = tr.in_passes('algo.pagerank')
    n_iter = max(len(iters), 1)
    if workload == 'crawl_pagerank':
        m.update({
            'ingest.s': dur(ingest),
            'ingest.commit_s': dur(tr.in_passes('table.commit')),
            'ingest.task_cpu_s': cnt(ingest, 'cpu_ns') / 1e9,
            'ingest.shuffle_write_mb': cnt(ingest, 'shuffle_write_bytes') / mb,
            'table.commit_mb': jvm['commit_mb'],
            'algo.pagerank.s': dur(pr),
            'algo.pagerank.edges_per_s': jvm['pr_edges_per_s'],
            'algo.pagerank.setup_s': jvm['pr_setup_s'],
            'algo.pagerank.iterations': jvm['pr_iterations'],
            'algo.pagerank.iter_s_p50': jvm['pr_iter_s_p50'],
            'algo.pagerank.jobs_per_iter': tr.total(iters, 'jobs') / n_iter,
            'algo.pagerank.task_cpu_s_per_iter': tr.total(iters, 'cpu_ns') / 1e9 / n_iter,
            'algo.pagerank.shuffle_write_mb_per_iter': tr.total(iters, 'shuffle_write_bytes') / mb / n_iter,
            'algo.pagerank.gc_s': cnt(pr, 'gc_ms') / 1e3,
            'run.checkpoint.write_s': jvm['checkpoint_write_s'],
            'run.checkpoint.snapshots': jvm['checkpoint_snapshots'],
            'run.checkpoint.bytes_mb': jvm['checkpoint_mb'],
        })
    for a in ('cc', 'lp', 'triangles'):
        spans = tr.in_passes(f'algo.{a}')
        if spans:
            m.update({
                f'algo.{a}.s': dur(spans),
                f'algo.{a}.jobs': cnt(spans, 'jobs'),
                f'algo.{a}.task_cpu_s': cnt(spans, 'cpu_ns') / 1e9,
                f'algo.{a}.shuffle_write_mb': cnt(spans, 'shuffle_write_bytes') / mb,
                f'algo.{a}.spill_mb': cnt(spans, 'spill_bytes') / mb,
            })
    for fam, qs in SWEEP_FAMILIES.items():
        for q in qs:
            spans = tr.in_passes(f'queries.{q}')
            if spans:
                m.update({
                    f'queries.{q}.s': dur(spans),
                    f'queries.{q}.jobs': cnt(spans, 'jobs'),
                    f'queries.{q}.task_cpu_s': cnt(spans, 'cpu_ns') / 1e9,
                    f'queries.{q}.plan_s': cnt(spans, 'plan_ms') / 1e3,
                })
        m[f'queries.{fam}_s'] = sum(m[f'queries.{q}.s'] for q in qs)
    wall = dur(passes)
    cpu = cnt(passes, 'cpu_ns') / 1e9
    m.update({
        'spark.jobs': cnt(passes, 'jobs'),
        'spark.tasks': cnt(passes, 'tasks'),
        'spark.task_cpu_s': cpu,
        'spark.gc_s': cnt(passes, 'gc_ms') / 1e3,
        'spark.fetch_wait_s': cnt(passes, 'fetch_wait_ms') / 1e3,
        'spark.spill_mb': cnt(passes, 'spill_bytes') / mb,
        'spark.driver_idle_frac': 1 - cpu / (wall * CORES) if wall > 0 else 0.0,
        'jvm.cpu_s': jvm['jvm_cpu_s'],
        'host.steal_frac': jvm['steal_frac'],
        'trace.wall_s': jvm['wall_s'],
    })
    trace_doc = {
        'run_id': doc['run_id'],
        'workload': workload,
        'passes': len(passes),
        'self_s_by_layer': tr.self_times(),
        'metrics': m,
        'jvm_medians': jvm,
        'unattributed': doc['unattributed'],
        'spans': doc['spans'],
    }
    return m, trace_doc


def remember(build_dir, workload, wall_s):
    """Append an untraced run's wall_s (when given) and return the median of
    those kept for `workload`, or None."""
    path = os.path.join(build_dir, 'untraced_wall_s.json')
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if wall_s is not None:
        seen.setdefault(workload, []).append(wall_s)
        with open(path, 'w') as f:
            json.dump(seen, f)
    vals = seen.get(workload)
    return statistics.median(vals) if vals else None
