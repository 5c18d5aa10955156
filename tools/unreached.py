#!/usr/bin/env python3
"""Print each public main method that no entry point reaches.

    python3 tools/unreached.py [CLASSES_DIR]

Run it from the repository root after `sbt compile`.  CLASSES_DIR defaults to
target/scala-2.13/classes.  perfbench/scala is compiled against those classes
into a temporary directory with the Scala compiler in Spark's jars
($SPARK_HOME, default /opt/spark), because perfbench's driver is a root too.

The roots are every method of `graft.SparkEntry` and the `main` of
`graft.Verify`, of each `graft.Bench*` object and of `graft.perfbench.Main`.
Reachability is read from `javap -c -p -v` of the compiled classes:
- a static or special call reaches the named method of its class;
- a virtual or interface call reaches a method of that name in every class
  that reached code loads (names a class constant, a static member or a
  constructor of), and in that class's supertypes;
- a lambda's bootstrap target counts as a call from the method that makes it;
- a loaded class's overrides of a library supertype's methods are reached,
  since the library calls them (an Aggregator's `reduce`, a Rule's `apply`).

Compiler-made methods (lambda bodies, default-argument getters, case-class
members, accessors of a class's own fields) are not listed.  Each line is
`package.Object.method`; the exit code is 0 whether or not lines print.
"""
import glob
import os
import re
import subprocess
import sys
import tempfile

SPARK_JARS = os.path.join(os.environ.get('SPARK_HOME', '/opt/spark'), 'jars', '*')
ROOT_MAINS = re.compile(r'graft/(Verify|Bench\w*|perfbench/Main)\$?$')
ENTRY = re.compile(r'graft/SparkEntry\$?$')
BOILERPLATE = {'apply', 'unapply', 'copy', 'canEqual', 'equals', 'hashCode', 'toString',
               'productArity', 'productElement', 'productElementName', 'productElementNames',
               'productIterator', 'productPrefix', 'readResolve', 'writeReplace', 'tupled', 'curried',
               'andThen', 'compose'}

DECL = re.compile(r'^  (?:[\w$<>\[\],.? ]+ )?([\w$.]+)\((.*)\)(?: throws [\w.$, ]+)?;$')
CLASS_DECL = re.compile(r'^(?:[a-z]+ )*(?:class|interface) ([\w.$]+)(?:<.*?>)?'
                        r'(?: extends (.*?))?(?: implements (.*?))?(?: \{)?$')
FLAGS = re.compile(r'^    flags: \(0x[0-9a-f]+\) (.*)$')
CODE_REF = re.compile(r'\s(invoke\w+|getstatic|putstatic|getfield|putfield|new|ldc\w*|checkcast|instanceof|anewarray)'
                      r'\s+#\d+(?:,\s+\d+)?\s+// (Method|InterfaceMethod|Field|class|InvokeDynamic) (.*)$')
BSM_HEAD = re.compile(r'^  (\d+): #\d+ ')
BSM_TARGET = re.compile(r'^      #\d+ REF_\w+ ([\w/$]+)\.("?[\w$<>]+"?):')


def strip_generics(t):
    depth, out = 0, []
    for ch in t:
        depth += ch == '<'
        if depth == 0:
            out.append(ch)
        depth -= ch == '>'
    return ''.join(out)


def split_types(s):
    return [strip_generics(t).strip().replace('.', '/') for t in split_top(s) if t.strip()]


def split_top(s):
    parts, depth, cur = [], 0, ''
    for ch in s:
        depth += (ch == '<') - (ch == '>')
        if ch == ',' and depth == 0:
            parts.append(cur)
            cur = ''
        else:
            cur += ch
    return parts + [cur]


class Cls:
    def __init__(self, name, supers):
        self.name, self.supers = name, supers
        self.methods = {}  # name -> {'public', 'synthetic', 'calls', 'virtual', 'loads', 'indy'}
        self.fields = set()
        self.bsm = {}      # bootstrap index -> [(owner, name)]


def javap(paths, classpath=None):
    out = []
    for i in range(0, len(paths), 200):
        cmd = ['javap', '-c', '-p', '-v'] if classpath is None else ['javap', '-cp', classpath]
        r = subprocess.run(cmd + paths[i:i + 200], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        out.append(r.stdout)
    return '\n'.join(out)


def parse(text, classes):
    cur, meth, bsm_idx = None, None, None
    for line in text.splitlines():
        if line.startswith('Classfile '):
            cur = None
            continue
        m = CLASS_DECL.match(line)
        if m and not line.startswith(' '):
            name = m.group(1).replace('.', '/')
            ext = split_types(m.group(2) or '')
            impl = split_types(m.group(3) or '')
            cur = classes.setdefault(name, Cls(name, ext + impl))
            meth, bsm_idx = None, None
            continue
        if cur is None:
            continue
        if line.startswith('  super_class:'):
            sup = line.split('// ')[-1].strip()
            if sup not in cur.supers:
                cur.supers.insert(0, sup)
            continue
        d = DECL.match(line)
        if (d or line.endswith(' static {};')) and not line.startswith('   '):
            # a constructor is declared under its class's dotted name
            mname = '<clinit>' if not d else '<init>' if '.' in d.group(1) else d.group(1)
            meth = cur.methods.setdefault(mname, {'public': False, 'synthetic': True, 'calls': set(),
                                                  'virtual': set(), 'loads': set(), 'indy': set()})
            continue
        if line.startswith('  ') and not line.startswith('   ') and line.rstrip().endswith(';') and '(' not in line:
            cur.fields.add(line.rstrip(';').split()[-1])
            meth = None
            continue
        f = FLAGS.match(line)
        if f and meth is not None:
            flags = f.group(1)
            meth['public'] = meth['public'] or 'ACC_PUBLIC' in flags
            meth['synthetic'] = meth['synthetic'] and ('ACC_SYNTHETIC' in flags or 'ACC_BRIDGE' in flags)
            continue
        c = CODE_REF.search(line)
        if c and meth is not None:
            op, kind, ref = c.groups()
            ref = ref.strip()
            if kind == 'InvokeDynamic':
                meth['indy'].add(int(ref.split(':')[0].lstrip('#')))
                continue
            if kind == 'class':
                meth['loads'].add(ref.strip('"').lstrip('[').lstrip('L').rstrip(';'))
                continue
            target = ref.split(':')[0]
            owner, _, member = target.rpartition('.')
            owner = owner or cur.name
            member = member.strip('"')
            if kind == 'Field':
                if op in ('getstatic', 'putstatic'):
                    meth['loads'].add(owner)
            elif op in ('invokevirtual', 'invokeinterface'):
                meth['virtual'].add(member)
            else:
                meth['calls'].add((owner, member))
                meth['loads'].add(owner)
            continue
        if line.startswith('BootstrapMethods:'):
            meth = None
            continue
        b = BSM_HEAD.match(line)
        if b:
            bsm_idx = int(b.group(1))
            cur.bsm.setdefault(bsm_idx, [])
            continue
        t = BSM_TARGET.match(line)
        if t and bsm_idx is not None:
            cur.bsm[bsm_idx].append((t.group(1), t.group(2).strip('"')))


def library_names(classes):
    """Method names declared by each supertype outside the compiled classes."""
    pending = sorted({s for c in classes.values() for s in c.supers if s not in classes})
    names, seen = {}, set()
    while pending:
        batch = [p for p in pending if p not in seen]
        seen.update(batch)
        if not batch:
            break
        text = javap([p.replace('/', '.') for p in batch], classpath=SPARK_JARS)
        pending, cur = [], None
        for line in text.splitlines():
            m = CLASS_DECL.match(line)
            if m and not line.startswith(' '):
                cur = m.group(1).replace('.', '/')
                names[cur] = set()
                names[cur + '#supers'] = set(split_types(m.group(2) or '') + split_types(m.group(3) or ''))
                pending += [s for s in names[cur + '#supers'] if s not in seen]
                continue
            d = DECL.match(line)
            if d and cur:
                names[cur].add(d.group(1))
    def all_names(t, acc):
        acc |= names.get(t, set())
        for s in names.get(t + '#supers', ()):
            all_names(s, acc)
        return acc
    return lambda t: all_names(t, set())


def reach(classes):
    lib = library_names(classes)
    reached, live, virtual = set(), set(), set()
    work = []

    def mark(owner, name):
        c = classes.get(owner)
        while c is not None and name not in c.methods and name not in ('<init>', '<clinit>'):
            c = classes.get(c.supers[0]) if c.supers else None
        if c is not None and name in c.methods and (c.name, name) not in reached:
            reached.add((c.name, name))
            work.append((c.name, name))

    def load(name):
        c = classes.get(name)
        if c is None or name in live:
            return
        live.add(name)
        mark(name, '<clinit>')
        for s in c.supers:
            if s in classes:
                load(s)
        inherited = set().union(*(lib(s) for s in c.supers if s not in classes))
        for n in (virtual | inherited) & set(c.methods):
            mark(name, n)

    for c in classes.values():
        if ENTRY.search(c.name):
            load(c.name)
            for n in c.methods:
                mark(c.name, n)
        elif ROOT_MAINS.search(c.name) and 'main' in c.methods:
            load(c.name)
            mark(c.name, 'main')
    while work:
        owner, name = work.pop()
        m = classes[owner].methods[name]
        for t in m['loads']:
            load(t)
        for o, n in m['calls']:
            mark(o, n)
        for i in m['indy']:
            for o, n in classes[owner].bsm.get(i, ()):
                load(o)
                mark(o, n)
        for n in m['virtual'] - virtual:
            virtual.add(n)
            for cn in live:
                if n in classes[cn].methods:
                    mark(cn, n)
    return reached


def listed(cls, name, meth):
    simple = cls.name.rsplit('/', 1)[-1]
    return (meth['public'] and not meth['synthetic'] and '$' not in name and not name.startswith('<')
            and name not in BOILERPLATE and name not in cls.fields
            and '$$' not in simple and not re.search(r'\$\d', simple))


def main():
    classes_dir = sys.argv[1] if len(sys.argv) > 1 else 'target/scala-2.13/classes'
    main_files = sorted(glob.glob(os.path.join(classes_dir, '**/*.class'), recursive=True))
    if not main_files:
        sys.exit(f'unreached: no classes under {classes_dir}; run `sbt compile` first')
    with tempfile.TemporaryDirectory() as tmp:
        sources = sorted(glob.glob('perfbench/scala/**/*.scala', recursive=True))
        r = subprocess.run(['java', '-Xss8m', '-Xmx1g', '-cp', SPARK_JARS, 'scala.tools.nsc.Main', '-nowarn',
                            '-d', tmp, '-cp', f'{classes_dir}:{SPARK_JARS}'] + sources,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.exit('unreached: compiling perfbench/scala failed:\n' + r.stdout[-2000:])
        bench_files = sorted(glob.glob(os.path.join(tmp, '**/*.class'), recursive=True))
        classes = {}
        parse(javap(main_files), classes)
        main_names = set(classes)
        parse(javap(bench_files), classes)
    reached = reach(classes)
    out = set()
    for cn in main_names:
        c = classes[cn]
        for name, meth in c.methods.items():
            if (cn, name) not in reached and listed(c, name, meth):
                forwarded = cn + '$' in classes and (cn + '$', name) in reached
                if not forwarded:
                    out.add(cn.rstrip('$').replace('/', '.') + '.' + name)
    for line in sorted(out):
        print(line)


if __name__ == '__main__':
    main()
