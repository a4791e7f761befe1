"""Measurement from outside the package: spans, Spark job groups, the
driver's status REST API, the UDF profiler, py4j call counts and
process-tree RSS.

Nothing here edits the program.  A ``Tracer`` names every operation
with a Spark job group (cheap, so timing runs set it too) and, when
tracing is on, also wraps the catalog's public functions with timers,
counts py4j commands and switches on Spark's per-UDF perf profiler.
Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import glob
import json
import os
import pstats
import threading
import time
import urllib.request

UDF_PROFILER_CONF = 'spark.sql.pyspark.udf.profiler'


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.datetime.strptime(s.replace('GMT', ''),
                                    '%Y-%m-%dT%H:%M:%S.%f')
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def cover_s(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def descendants(pid: int) -> list[int]:
    children: dict = {}
    for stat in glob.glob('/proc/[0-9]*/stat'):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(
            int(stat.split('/')[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f'/proc/{pid}/statm') as f:
            return int(f.read().split()[1]) * os.sysconf('SC_PAGE_SIZE')
    except OSError:
        return 0


class RssSampler:
    """Peak RSS of this process's descendants, sampled from /proc: in
    total, of the JVM, and of the Python worker daemon and workers."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak = {'total': 0, 'jvm': 0, 'python_workers': 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        now = {'total': 0, 'jvm': 0, 'python_workers': 0}
        for pid in descendants(os.getpid()):
            rss = _rss_bytes(pid)
            now['total'] += rss
            try:
                with open(f'/proc/{pid}/comm') as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if comm == 'java':
                now['jvm'] += rss
            elif comm.startswith('python'):
                now['python_workers'] += rss
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Rest:
    """The driver's local status REST API."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(':', 1)[1]
        self.base = (f'http://127.0.0.1:{port}/api/v1/applications/'
                     f'{sc.applicationId}')

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, job_ids: list, timeout_s: float = 30.0) -> list:
        """Job records for ``job_ids`` once the listener has recorded
        every one of them as finished."""
        want = set(job_ids)
        deadline = time.time() + timeout_s
        while True:
            got = [j for j in self.get('/jobs') if j['jobId'] in want]
            if len(got) == len(want) and all(
                    j.get('completionTime') for j in got):
                return got
            if time.time() > deadline:
                raise RuntimeError(f'REST API never finished jobs {want}')
            time.sleep(0.05)

    def stages(self, stage_ids: set, timeout_s: float = 30.0) -> list:
        """Records of the stages in ``stage_ids`` that ran, once none of
        them is still pending or active (a stage whose shuffle output
        was reused is SKIPPED and did no work)."""
        deadline = time.time() + timeout_s
        while True:
            got = [s for s in self.get('/stages?details=false')
                   if s['stageId'] in stage_ids]
            if all(s['status'] in ('COMPLETE', 'FAILED', 'SKIPPED')
                   for s in got) or time.time() > deadline:
                return [s for s in got if s['status'] != 'SKIPPED']
            time.sleep(0.05)

    def task_skew(self, stage: dict) -> float:
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                     '/taskSummary?quantiles=0.5,1.0')
        med, mx = q['executorRunTime']
        return mx / med if med > 0 else 1.0


class Py4jCounter:
    """Counts commands sent over the py4j gateway (one per JVM call)."""

    def __init__(self, sc) -> None:
        self.client = sc._gateway._gateway_client
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        orig = self._orig = self.client.send_command

        @functools.wraps(orig)
        def counted(*a, **kw):
            self.calls += 1
            return orig(*a, **kw)
        self.client.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            self.client.send_command = self._orig
            self._orig = None


def profile_totals(spark, dump_dir: str) -> tuple[float, int]:
    """(Python seconds, UDF calls) over every UDF profiled since the
    last clear, which this also does; one call of a pandas UDF is one
    Arrow batch."""
    os.makedirs(dump_dir, exist_ok=True)
    for old in glob.glob(os.path.join(dump_dir, '*.pstats')):
        os.remove(old)
    spark.profile.dump(dump_dir, type='perf')
    spark.profile.clear(type='perf')
    secs, calls = 0.0, 0
    for path in glob.glob(os.path.join(dump_dir, '*.pstats')):
        st = pstats.Stats(path)
        secs += st.total_tt
        # entries without callers are the per-batch UDF invocations
        calls += sum(nc for (_cc, nc, _tt, _ct, callers)
                     in st.stats.values() if not callers)
    return secs, calls


def _interval(job: dict) -> tuple[float, float]:
    return _rest_time(job['submissionTime']), _rest_time(job['completionTime'])


class Tracer:
    """Spans named by Spark job groups.  With ``traced`` on, spans also
    get py4j call counts, per-UDF Python time, and catalog call timings;
    ``counters`` then reads the span's jobs, stages and tasks from the
    REST API."""

    def __init__(self, spark, run_id: str, traced: bool,
                 work_dir: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.traced = traced
        self.work_dir = work_dir
        self.rest = Rest(self.sc)
        self.py4j = Py4jCounter(self.sc)
        self.spans: list[dict] = []
        self.catalog_calls: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list = []
        if traced:
            self.py4j.install()
            self._patch_catalog()

    @contextlib.contextmanager
    def span(self, name: str, traced: bool | None = None):
        """One named operation under its own job group."""
        traced = self.traced if traced is None else traced
        parent = self._stack[-1] if self._stack else None
        outermost_traced = traced and not (parent and parent['traced'])
        rec = {'id': len(self.spans), 'name': name,
               'parent': parent['id'] if parent else None,
               'run_id': self.run_id, 'traced': traced,
               'group': f'{self.run_id}:{len(self.spans)}:{name}'}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec['group'], name)
        if outermost_traced:
            self.spark.conf.set(UDF_PROFILER_CONF, 'perf')
        calls0, ncat = self.py4j.calls, len(self.catalog_calls)
        rec['start'] = time.time()
        try:
            yield rec
        finally:
            rec['end'] = time.time()
            self._stack.pop()
            if traced:
                rec['py4j_calls'] = self.py4j.calls - calls0
                rec['catalog'] = self.catalog_calls[ncat:]
            if outermost_traced:
                self.spark.conf.unset(UDF_PROFILER_CONF)
                rec['udf_python_s'], rec['arrow_batches'] = profile_totals(
                    self.spark, os.path.join(self.work_dir, 'udf_profile'))
            if parent is not None:
                self.sc.setJobGroup(parent['group'], parent['name'])
            else:
                for key in ('spark.jobGroup.id', 'spark.job.description'):
                    self.sc.setLocalProperty(key, None)

    def tree(self, rec: dict) -> list[dict]:
        """``rec`` and every span opened inside it."""
        out, ids = [rec], {rec['id']}
        for s in self.spans[rec['id'] + 1:]:
            if s['parent'] in ids:
                out.append(s)
                ids.add(s['id'])
        return out

    def jobs_of(self, rec: dict) -> list:
        """Jobs run under ``rec``'s job group or a nested span's."""
        st = self.sc.statusTracker()
        ids = [j for s in self.tree(rec)
               for j in st.getJobIdsForGroup(s['group'])]
        return self.rest.jobs(ids)

    def job_counts(self, rec: dict) -> tuple[int, int]:
        """(jobs, tasks run) of a finished span."""
        jobs = self.jobs_of(rec)
        return len(jobs), sum(j['numCompletedTasks'] for j in jobs)

    def counters(self, rec: dict, cores: int) -> dict:
        """Job, stage, task, shuffle, spill and driver counters of a
        finished traced span; read before the REST API's retention
        limits evict its stages."""
        jobs = self.jobs_of(rec)
        stage_ids = {s for j in jobs for s in j['stageIds']}
        stages = self.rest.stages(stage_ids)
        wall = rec['end'] - rec['start']
        run_s = sum(s['executorRunTime'] for s in stages) / 1e3
        cover = cover_s([_interval(j) for j in jobs], rec['start'], rec['end'])
        longest = max(stages, key=lambda s: s['executorRunTime'],
                      default=None)
        c = {
            'wall_s': wall,
            'jobs': len(jobs),
            'stages': len(stages),
            'tasks': sum(s['numCompleteTasks'] for s in stages),
            'shuffle_write_bytes': sum(s['shuffleWriteBytes'] for s in stages),
            'shuffle_records': sum(s['shuffleWriteRecords'] for s in stages),
            'spill_bytes': sum(s['memoryBytesSpilled'] + s['diskBytesSpilled']
                               for s in stages),
            'executor_run_s': run_s,
            'executor_cpu_s': sum(s['executorCpuTime'] for s in stages) / 1e9,
            'task_skew': self.rest.task_skew(longest) if longest else 1.0,
            'core_busy_ratio': run_s / (wall * cores) if wall > 0 else 0.0,
            'job_cover_s': cover,
            'gap_s': max(wall - cover, 0.0),
            'build_s': sum(s.get('build_s', 0.0) for s in self.tree(rec)),
            'py4j_calls': rec.get('py4j_calls', 0),
            'udf_python_s': rec.get('udf_python_s', 0.0),
            'arrow_batches': rec.get('arrow_batches', 0),
        }
        c.update(self._catalog_counters(rec, jobs))
        rec['counters'] = c
        return c

    # -- catalog timers ----------------------------------------------------
    def _patch_catalog(self) -> None:
        """Time every catalog.run_stage / is_complete call the program
        makes (both are looked up on the module at call time)."""
        from jionlp_spark.sources import catalog

        from perfbench.inputs import dir_stats
        calls = self.catalog_calls

        def wrap(name, fn):
            @functools.wraps(fn)
            def timed(*a, **kw):
                t0 = time.time()
                try:
                    return fn(*a, **kw)
                finally:
                    entry = {'fn': name, 'start': t0, 'end': time.time()}
                    if name == 'run_stage':
                        path = a[1] if len(a) > 1 else kw['path']
                        entry['stage'] = a[2] if len(a) > 2 else kw['stage']
                        entry['path'] = path
                        manifest = os.path.join(path, catalog.MANIFEST)
                        # a resumed stage leaves its manifest untouched
                        entry['published'] = (
                            os.path.exists(manifest) and
                            os.path.getmtime(manifest) >= t0)
                        if entry['published']:
                            entry['files'], entry['bytes'] = dir_stats(path)
                    calls.append(entry)
            return timed

        for name in ('run_stage', 'is_complete'):
            orig = getattr(catalog, name)
            self._patches.append((catalog, name, orig))
            setattr(catalog, name, wrap(name, orig))

    def _catalog_counters(self, rec: dict, jobs: list) -> dict:
        publish: dict = {}
        resume = gap = files = size = 0.0
        for c in rec.get('catalog', []):
            if c['fn'] != 'run_stage':
                continue
            wall = c['end'] - c['start']
            if not c['published']:
                resume += wall
                continue
            publish[c['stage']] = publish.get(c['stage'], 0.0) + wall
            gap += wall - cover_s([_interval(j) for j in jobs],
                                  c['start'], c['end'])
            files += c['files']
            size += c['bytes']
        return {
            'publish_s': publish,
            'resume_s': resume,
            'commit_gap_s': gap,
            'is_complete_s': sum(c['end'] - c['start']
                                 for c in rec.get('catalog', [])
                                 if c['fn'] == 'is_complete'),
            'files_written': files,
            'bytes_written': size,
        }

    def close(self) -> None:
        self.py4j.uninstall()
        for mod, name, orig in reversed(self._patches):
            setattr(mod, name, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, 'w') as f:
            json.dump({'run_id': self.run_id, 'spans': self.spans, **extra},
                      f, indent=1, default=str)
