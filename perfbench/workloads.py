"""The benchmark's workloads: what one closed-loop operation is, how its
set-up is repeated, and how its outputs are checked.

Each workload object offers ``setup(rep, reps)`` (called ``reps`` times
and timed by the runner), ``warmup(tracer)`` (untimed operations),
``op(tracer, traced)`` (one timed operation) and ``check(tracer)``
(correctness cross-checks made once per run, outside the timed loop).
Outputs are compared by ``digest``.  ``build_s`` on a span is the time
spent inside the program's entry call (run_pipeline or a query
builder): planning for a lazy plan, planning plus the eager publishes
for the staged one.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.metrics import QUERIES


def digest(df) -> tuple[int, str]:
    """(rows, order-independent hash) over the columns in name order.

    The per-row xxhash64 is summed as decimal(38,0), which cannot
    overflow under ANSI mode; naming the columns in sorted order makes
    the digest independent of column position (a partitioned read-back
    moves the partition column last).  Collecting the aggregate forces
    every column of the plan."""
    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(f'`{c}`') for c in cols]).cast('decimal(38,0)')
    row = df.agg(F.count(F.lit(1)).alias('n'),
                 F.sum(h).alias('h')).collect()[0]
    return int(row['n']), str(row['h'])


def kernel_slice(spark, seed: int, n: int) -> list:
    """[(html bytes, warc_ts)] of ``n`` Chinese pages from the seeded
    page generator, collected to the driver for kernel timing."""
    from jionlp_spark.sources.pages import generate_pages
    rows = (generate_pages(spark, 3 * n, seed=seed)
            .filter(F.col('lang') == 'zh').limit(n)
            .select('html', 'warc_ts').collect())
    return [(bytes(r['html']), r['warc_ts']) for r in rows]


class Outcome:
    """One operation's result: rows out, whether every output matched
    its reference, and the spans it ran under."""

    def __init__(self, rows: int, ok: bool, span: dict,
                 parts: dict | None = None) -> None:
        self.rows, self.ok, self.span = rows, ok, span
        self.parts = parts or {}


# ---------------------------------------------------------------------------
# the KG pipeline over a seeded page corpus

class E2ELazy:
    """One op: read.parquet(slice) → run_pipeline(no out_dir), the fused
    single-plan pipeline → triples digest, each op over a slice of
    pages no op of the run has read before.

    The kernels memoize time and money strings per worker process, and
    which worker meets which partition is up to the scheduler; re-reading
    one corpus would make every op a little warmer than the one before.
    Fresh slices measure what a crawl pipeline does (each page once) at
    a steady rate once the JVM is warm.  The first slice is the
    untimed warm-up; the last timed slice is re-run through the split-
    operator path (and, in a traced run, the staged path), which must
    reproduce its digest."""

    name = 'e2e_lazy_1k'
    slice_pages = 1000
    slices = 6
    warmup_ops = 2
    partitions = 16
    min_ops = 4
    measures_first = False

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.slice_files: list = []
        self.digests: dict = {}
        self.ref = None
        self.unsteady: dict = {}

    def setup(self, rep: int, reps: int) -> None:
        """Repetition ``rep`` of ``reps`` writes its share of the slices
        as one corpus, the generator's pages under seed 16·seed + rep."""
        per = self.slices // reps
        path = inputs.materialize_corpus(
            self.spark, self.ctx.dir('corpus'), per * self.slice_pages,
            16 * self.ctx.seed + rep, per * self.partitions,
            self.ctx.provenance['source'])
        self.slice_files += [tuple(files) for files in
                       inputs.split_corpus(path, per, self.slice_pages)]

    def _read(self, files: tuple):
        return self.spark.read.parquet(*files)

    def _lazy_triples(self, files: tuple):
        from jionlp_spark.plans.pipeline import run_pipeline
        return run_pipeline(self.spark, self._read(files))['triples']

    def _staged(self, tracer, files: tuple) -> dict:
        """Four catalog publishes, write_triples to the pred-partitioned
        layout and a digest of its read-back, then a second run_pipeline
        that resumes from the manifests; all in a fresh out_dir that is
        deleted afterwards.  → {step: ((rows, digest), span)}."""
        from jionlp_spark.operators.triples import write_triples
        from jionlp_spark.plans.pipeline import run_pipeline

        out = self.ctx.dir('staged', fresh=True)
        fp = ','.join(os.path.basename(f) for f in files)
        res = {}
        try:
            with tracer.span('publish') as rec:
                t0 = time.time()
                r = run_pipeline(self.spark, self._read(files), out_dir=out,
                                 input_fingerprint=fp)
                rec['build_s'] = time.time() - t0
            res['publish'] = (None, rec)
            with tracer.span('write_triples') as rec:
                layout = os.path.join(out, 'triples_by_pred')
                write_triples(r['triples'], layout)
                res['write_triples'] = (
                    digest(self.spark.read.parquet(layout)), rec)
            with tracer.span('resume') as rec:
                t0 = time.time()
                r2 = run_pipeline(self.spark, self._read(files), out_dir=out,
                                  input_fingerprint=fp)
                rec['build_s'] = time.time() - t0
                res['resume'] = (digest(r2['triples']), rec)
            self.ctx.facts['stored_bytes'] = inputs.tree_bytes(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return res

    def _split_triples(self, files: tuple):
        """The staged pipeline's operators composed without the catalog:
        separate clean, mention and link UDFs instead of the fused one."""
        from jionlp_spark.functions.udfs import build_location_trie
        from jionlp_spark.operators.clean import clean_pages
        from jionlp_spark.operators.link import build_bundle, link_mentions
        from jionlp_spark.operators.mentions import extract_mentions
        from jionlp_spark.operators.triples import build_triples

        clean = clean_pages(self._read(files))
        mentions = extract_mentions(
            clean, lexicon_trie_broadcast=build_location_trie(self.spark))
        return build_triples(link_mentions(mentions,
                                           build_bundle(self.spark)))

    def _checked(self, name: str, got) -> bool:
        if got == self.ref:
            return True
        self.ctx.log(f'{self.name} {name}: (rows, digest) {got} != '
                     f'reference {self.ref}')
        return False

    def warmup(self, tracer) -> list:
        """Untimed ops over the first slice while the JVM compiles the
        hot paths; each must reproduce the first."""
        out = []
        for _ in range(self.warmup_ops):
            with tracer.span('warmup', traced=False):
                got = digest(self._lazy_triples(self.slice_files[0]))
            first = self.digests.setdefault(self.slice_files[0], got)
            out.append(got[0] > 0 and got == first)
        return out

    def op(self, tracer, traced: bool) -> Outcome | None:
        """None once every slice has been read."""
        if len(self.digests) == len(self.slice_files):
            return None
        files = self.slice_files[len(self.digests)]
        with tracer.span('pipeline', traced=traced) as rec:
            t0 = time.time()
            triples = self._lazy_triples(files)
            rec['build_s'] = time.time() - t0
            got = digest(triples)
        self.digests[files] = got
        return Outcome(got[0], got[0] > 0, rec)

    def check(self, tracer) -> list:
        """→ [(name, ok, span)] for the last slice an op read."""
        files = list(self.digests)[-1]
        self.ref = self.digests[files]
        with tracer.span('split_operators') as rec:
            res = [('split_operators',
                    self._checked('split_operators',
                                  digest(self._split_triples(files))), rec)]
        if tracer.traced:
            staged = self._staged(tracer, files)
            res += [(step, got is None or self._checked(step, got), rec)
                    for step, (got, rec) in staged.items()]
        return res

    def scan(self):
        return self._read(self.slice_files[0]).agg(
            F.sum(F.length('html')), F.sum(F.length('text')),
            F.count('url'), F.max('warc_ts'), F.count('lang'))

    def input_files(self) -> tuple:
        """The input of one op."""
        return self.slice_files[0]


# ---------------------------------------------------------------------------
# iterative driver-bound queries

def _norm(v) -> str:
    if isinstance(v, float):
        return 'nan' if math.isnan(v) else format(v, '.6f')
    return '' if v is None else str(v)


def _row_set(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted('\x01'.join(_norm(r[i]) for i in order) for r in rows)


class IterativeQueries:
    """One op = one pass over the driver-bound queries in order, each
    collected to the driver and compared with its DuckDB oracle.  The
    timed pass is the first over its table, so it fills the queries' own
    caches, as in a driver that meets a new table; an untimed pass over
    a small table of its own comes first, while the JVM compiles the
    queries' code paths.  A traced run adds passes, from the second of
    which on each query's (jobs, tasks) must repeat."""

    name = 'iterative_1k'
    docs = 1000
    warmup_docs = 200
    measures_first = True

    def __init__(self, ctx) -> None:
        import __spark_entry__ as entry
        self.ctx = ctx
        self.spark = ctx.spark
        self.entry = entry
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.sf_dir = None
        self.ref: dict = {}
        self.counts: list = []
        self.unsteady: dict = {}
        self._cached: list = []
        self._patch_entry()

    def _patch_entry(self) -> None:
        """The entry module hard-codes /tmp for its package zip and its
        catalog work dirs.  The workers import the package through
        PYTHONPATH (config.get_spark exports it), so the zip is marked
        shipped, and work dirs are made inside the benchmark's own work
        directory instead — the same fresh, empty, per-process dir."""
        ctx = self.ctx
        self.entry._SHIPPED.add(self.spark.sparkContext.applicationId)

        def work_dir(prefix: str, sf_dir: str) -> str:
            key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
            return ctx.dir(f'entry/{prefix}_{os.getpid()}_{key}', fresh=True)
        self.entry._work_dir = work_dir

    def setup(self, rep: int, reps: int) -> None:
        """Write the documents table into a fresh sf dir and build the
        shared caches the queries read.  The caches are keyed by sf dir,
        so each repetition gets its own; only the last one is kept."""
        for df in self._cached:
            df.unpersist()
        self.sf_dir = inputs.write_documents(
            self.ctx.dir(f'sf{rep}', fresh=True), self.ctx.seed,
            self.docs)
        self._cached = [self.entry._web_links(self.spark, self.sf_dir)]
        for df in self._cached:
            df.count()

    def warmup(self, tracer) -> list:
        sf_dir = inputs.write_documents(self.ctx.dir('sf_warmup', fresh=True),
                                        self.ctx.seed, self.warmup_docs)
        _rec, results = self._pass(tracer, False, sf_dir)
        return [self._oracle_ok(q, cols, got, sf_dir)[0]
                for q, (cols, got) in results.items()]

    def _oracle_ok(self, q: str, cols: list, got: list,
                   sf_dir: str) -> tuple[bool, list]:
        """→ (rows equal the DuckDB oracle's over the same table, the
        normalized row set)."""
        import duckdb
        con = duckdb.connect()
        try:
            con.execute("create view documents as select * from "
                        f"read_parquet('{sf_dir}/documents.parquet')")
            res = con.execute(self.oracles[q])
            want_cols = [d[0] for d in res.description]
            want = res.fetchall()
        finally:
            con.close()
        mine = _row_set([tuple(r) for r in got], cols)
        ok = sorted(cols) == sorted(want_cols) and \
            mine == _row_set(want, want_cols)
        if not ok:
            self.ctx.log(f'{q}: result differs from its DuckDB oracle')
        return ok, mine

    def _pass(self, tracer, traced: bool, sf_dir: str) -> tuple:
        """→ (pass span, {query: (columns, rows)}).  Each query's rows
        come back to the driver inside its span."""
        with tracer.span('pass', traced=traced) as prec:
            results = {}
            for q in QUERIES:
                with tracer.span(q, traced=traced) as rec:
                    t0 = time.time()
                    df = self.queries[q](self.spark, sf_dir)
                    rec['build_s'] = time.time() - t0
                    results[q] = (df.columns, df.collect())
        return prec, results

    def op(self, tracer, traced: bool) -> Outcome:
        """One pass; the checks against the oracle and the first pass
        come after its span."""
        prec, results = self._pass(tracer, traced, self.sf_dir)
        per_q = {s['name']: s for s in tracer.tree(prec)[1:]}
        ok, rows = True, 0
        for q, (cols, got) in results.items():
            q_ok, mine = self._oracle_ok(q, cols, got, self.sf_dir)
            dig = hashlib.sha256('\n'.join(mine).encode()).hexdigest()
            if self.ref.setdefault(q, dig) != dig:
                self.ctx.log(f'{q}: result differs from the first pass')
                q_ok = False
            ok &= q_ok
            rows += len(got)
        self._steady_check({q: tracer.job_counts(per_q[q]) for q in QUERIES})
        return Outcome(rows, ok, prec, per_q)

    def _steady_check(self, counts: dict) -> None:
        """The first pass fills the queries' own caches; from the second
        pass on each query's (jobs, tasks) must repeat exactly.  A query
        whose work changes is reported, not silently timed."""
        self.counts.append(counts)
        if len(self.counts) < 3:
            return
        for q in QUERIES:
            seen = [c[q] for c in self.counts[1:]]
            if len(set(seen)) > 1:
                if q not in self.unsteady:
                    self.ctx.log(f'{q}: (jobs, tasks) per pass changed '
                                 f'from the second pass on: {seen}')
                self.unsteady[q] = seen

    def check(self, tracer) -> list:
        return []

    def scan(self):
        df = self.spark.read.parquet(f'{self.sf_dir}/documents.parquet')
        return df.agg(F.sum(F.length('text')), F.count('doc_id'),
                      F.count('lang'), F.count('source'), F.sum('n_chars'))

    def input_files(self) -> tuple:
        return (os.path.join(self.sf_dir, 'documents.parquet'),)



WORKLOADS = {w.name: w for w in (E2ELazy, IterativeQueries)}
