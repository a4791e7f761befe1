#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
median and spread (quartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) next to its
bound.

    python3 perfbench/spread.py --workload e2e_lazy --seeds 1-10

``--check-manifest`` only verifies that BENCHMARK.json lists the
metrics perfbench/metrics.py defines.  Runs go one after another,
never concurrently, and every result line is kept under perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def manifest_problems() -> list[str]:
    sys.path.insert(0, ROOT)
    from perfbench.metrics import END_TO_END, per_layer
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        bench = json.load(f)
    want_e2e = [{'name': n, 'unit': u, 'better': b, 'bound': bd}
                for n, u, b, bd in END_TO_END]
    want_layer = [{'name': n, 'unit': u, 'better': b}
                  for n, u, b in per_layer()]
    problems = []
    if bench['end_to_end'] != want_e2e:
        problems.append('end_to_end differs from metrics.END_TO_END')
    if bench['per_layer'] != want_layer:
        problems.append('per_layer differs from metrics.per_layer()')
    return problems


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition('-')
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload')
    ap.add_argument('--seeds', default='1-10')
    ap.add_argument('--check-manifest', action='store_true')
    args = ap.parse_args()

    problems = manifest_problems()
    for p in problems:
        print(p)
    if args.check_manifest or problems:
        return 1 if problems else 0

    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        bench = json.load(f)
    cmd = bench['command']
    os.makedirs(os.path.join(HERE, 'out'), exist_ok=True)
    log = os.path.join(HERE, 'out',
                       f'spread_{args.workload}_{int(time.time())}.jsonl')
    values: dict = {}
    for seed in seeds(args.seeds):
        load = os.getloadavg()[0]
        t0 = time.time()
        p = subprocess.run(
            cmd + ['--workload', args.workload, '--seed', str(seed),
                   '--seconds', str(bench['run_seconds']), '--trace', '0'],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        last = lines[-1] if lines else ''
        summary = [ln[len('summary '):] for ln in lines
                   if ln.startswith('summary ')]
        with open(log, 'a') as f:
            f.write(json.dumps({'seed': seed, 'rc': p.returncode,
                                'wall_s': wall, 'load': load,
                                'summary': summary[0] if summary else None,
                                'result': last}) + '\n')
        if p.returncode != 0:
            print(f'seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}')
            return 1
        res = json.loads(last)
        for k, v in res['metrics'].items():
            values.setdefault(k, []).append(v['value'])
        print(f'seed {seed}: {wall:.1f}s load {load:.2f} ' + ' '.join(
            f"{k}={v['value']:.4g}" for k, v in res['metrics'].items()),
            flush=True)
    bounds = {m['name']: m['bound'] for m in bench['end_to_end']}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float('inf')
        print(f'{k:16s} median {med:12.5g}  spread {spread:6.3f}  '
              f'bound {bounds[k]}  bound/3 {bounds[k] / 3:.3f}')
    print(f'log: {os.path.relpath(log, ROOT)}')
    return 0


if __name__ == '__main__':
    sys.exit(main())
