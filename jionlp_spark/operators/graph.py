"""Graph operators over the KG edge table: weighted PageRank.

After co-occurrence edge extraction (``kg_cooccurrence``), the next KG
construction step is ranking entities by graph centrality — PageRank
over the weighted co-occurrence graph is the standard importance prior
for entity salience, seed selection, and triple-confidence weighting.

Engine-parity design (every iteration is DuckDB-mirrorable):

- per-edge contribution ``pr(u) * w / wdeg(u)`` is a per-row double
  tree over exact integer weights and the previous iteration's pr
  (itself engine-identical by induction) → bit-identical in both
  engines;
- the per-target reduction routes through ``decimal(38,18)`` via
  string (exact and order-independent — a cross-row double sum would
  be partitioning-dependent);
- teleport and damping constants enter as Python-float literals on the
  Spark side and ``cast('<repr>' as double)`` on the SQL side (DuckDB
  would otherwise parse ``0.85`` as DECIMAL and compute ``1.0 - 0.85``
  exactly where IEEE doubles give 0.15000000000000002).

Scale shape: at small scale an iterative graph job costs driver
scheduling (one job per shuffle stage per round), not compute, so
``pagerank`` and ``pagerank_warm`` first try a bounded driver-local
solve.  ``_bounded_rows`` runs ONE ``limit(cutoff + 1)`` collect of the
edge table, and that collect is also the exact size test: at most
``_DRIVER_EDGE_CUTOFF`` rows are solved on the driver by
``_pagerank_local`` (the same IEEE per-edge doubles, the same
decimal(38,18) rounding and exact per-target sums, so the scores are
bit-identical) and come back through ``createDataFrame``.  Inputs whose
Spark behaviour only the distributed rounds reproduce fall back to
them: null sources or weights, negative weights, zero or
long-overflowing out-weight, non-finite or decimal-overflowing
contributions, a prior with a duplicate node, node keys that are not
strings or integers, and src/dst/prior keys of different types.
``dedup.dedup_components`` shares the helper and the cutoff for its
union-find path.

Above the cutoff the distributed rounds run unchanged, after one extra
bounded job (the collect reads the checkpointed edge table, so its
upstream is not recomputed): the edge table (with precomputed
out-weight) is persisted once and reused every round; each round is ONE
join (edges × pr, both keyed on the node id — co-partitionable) + ONE
map-side-combined aggregation, with a ``localCheckpoint`` per round so
the iterative plan never nests.  Rounds are a fixed small count; state
is node-table-sized, never corpus-sized.  Hot hub nodes skew the
groupBy key — AQE skew-join applies; extreme hubs can ride the salted
two-phase pattern of operators/link.entity_counts.

Reference: JioNLP has no graph runtime — this is KG-side functionality
the pipeline adds on top of the reference's extraction operators.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Edge tables with at most this many rows are solved on the driver (see
# the module docstring); larger ones run the distributed rounds.  Shared
# by pagerank/pagerank_warm and dedup.dedup_components.  Timed at
# local[4] on a 4-core host (median of 3), the driver path won at every
# size measured: PageRank 3 rounds 0.8/0.6/2.1 s vs 2.1/1.1/2.9 s at
# 1k/10k/100k edges, 14 rounds 0.6/0.7/5.5 s vs 4.9/3.8/7.2 s;
# components 0.5/0.5/1.6 s vs 6.5/5.7/10.2 s.  The 14-round times
# extrapolate to a crossover near 200k edges; 100k keeps a margin and
# bounds what the driver holds.
_DRIVER_EDGE_CUTOFF = 100_000

_LONG_MAX = 2 ** 63 - 1
# cast(<double as string> as decimal(38,18)) rounds HALF_UP to 18
# places; decimal(38,18) holds |x| < 10^20
_DEC_CTX = Context(prec=60, rounding=ROUND_HALF_UP)
_Q18 = Decimal('1e-18')
_DEC_MAX = Decimal('1e20')


def _bounded_rows(df: DataFrame) -> list | None:
    """→ ``df``'s rows when it has at most ``_DRIVER_EDGE_CUTOFF`` of
    them, else None.  One ``limit(cutoff + 1)`` collect is both the
    fetch and the exact size test, so the cost above the cutoff is one
    job that reads at most cutoff + 1 rows."""
    rows = df.limit(_DRIVER_EDGE_CUTOFF + 1).collect()
    return rows if len(rows) <= _DRIVER_EDGE_CUTOFF else None


def _weighted_edges(edges: DataFrame, src_col: str, dst_col: str,
                    weight_col: str) -> DataFrame:
    """(src, dst, w: long), checkpointed: the bounded collect and, above
    the cutoff, the distributed rounds read the same materialized
    table."""
    return (edges.select(F.col(src_col).alias('src'),
                         F.col(dst_col).alias('dst'),
                         F.col(weight_col).cast('long').alias('w'))
            .localCheckpoint(eager=False))


def _pagerank_local(e: DataFrame, p0: DataFrame | None, iters: int,
                    damping: float) -> DataFrame | None:
    """The driver twin of ``_pagerank_rounds`` over (src, dst, w) edges
    ``e`` and an optional (v, _prior) start vector → (v, pr), or None
    when the graph is over the cutoff or outside the cases the twin
    reproduces bit for bit.  Per-edge ``pr * w / wdeg`` is the same
    IEEE double expression; each contribution is rounded as Spark's
    double → string → decimal(38,18) cast rounds it (the shortest
    repr, HALF_UP); the per-target sum is exact, as the decimal sum
    is; and ``float(str(s))`` is the decimal → string → double cast."""
    key = e.schema['src'].dataType
    # keys whose Spark join equality is Python ==, the same type on
    # every side (Spark would coerce mixed types)
    if not (key == T.StringType() or isinstance(key, T.IntegralType)) \
            or e.schema['dst'].dataType != key \
            or (p0 is not None and p0.schema['v'].dataType != key):
        return None
    rows = _bounded_rows(e)
    if rows is None:
        return None
    wdeg: dict = {}
    for src, _dst, w in rows:
        if src is None or w is None or w < 0:
            return None
        wdeg[src] = wdeg.get(src, 0) + w
    if any(d == 0 or d > _LONG_MAX for d in wdeg.values()):
        return None
    n = len(wdeg)
    start: dict = {}
    if p0 is not None:
        prior = _bounded_rows(p0)
        if prior is None:
            return None
        for v, x in prior:
            if v in start:
                return None
            start[v] = x
    pr = {v: 1.0 / n if start.get(v) is None else start[v] for v in wdeg}
    tele = 1.0 - damping
    for _ in range(iters):
        s: dict = {}
        for src, dst, w in rows:
            if dst in wdeg:
                c = pr[src] * w / wdeg[src]
                if not (0.0 <= c < math.inf):
                    return None
                q = Decimal(repr(c)).quantize(_Q18, context=_DEC_CTX)
                s[dst] = _DEC_CTX.add(s.get(dst, 0), q)
        if any(x >= _DEC_MAX for x in s.values()):
            return None
        pr = {v: tele / n + damping * float(str(s.get(v, 0.0)))
              for v in wdeg}
    schema = T.StructType([T.StructField('v', key),
                           T.StructField('pr', T.DoubleType())])
    return e.sparkSession.createDataFrame(list(pr.items()), schema)


def _out_weighted(e: DataFrame) -> tuple:
    """→ (ew, nodes, n_nodes): the persisted edge table with each
    source's out-weight ``wdeg``, the checkpointed node set (every
    source), and the one-row node count — the static side of the
    distributed rounds."""
    wdeg = e.groupBy('src').agg(F.sum('w').alias('wdeg'))
    ew = e.join(wdeg, 'src').persist()
    nodes = ew.select(F.col('src').alias('v')).distinct().localCheckpoint(eager=False)
    n_nodes = nodes.agg(F.count('*').cast('long').alias('n'))
    return ew, nodes, n_nodes


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             src_col: str = 'src', dst_col: str = 'dst',
             weight_col: str = 'weight') -> DataFrame:
    """→ (v, pr) — weighted PageRank after ``iters`` rounds.

    ``edges`` must be out-degree-complete: every node appears as a
    source at least once (symmetrized co-occurrence graphs are, by
    construction).  Dangling-node mass redistribution is deliberately
    out of scope — feed both directions of an undirected graph.

    Edge tables of at most ``_DRIVER_EDGE_CUTOFF`` rows — decided
    exactly by the one bounded collect that also fetches them — are
    solved on the driver with bit-identical scores.  Null sources or
    weights, negative weights, a source with zero out-weight, and the
    other cases listed in the module docstring take the distributed
    rounds instead, so they keep their null and ANSI-error behaviour.
    """
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    local = _pagerank_local(e, None, iters, damping)
    if local is not None:
        return local
    ew, nodes, n_nodes = _out_weighted(e)
    pr = (nodes.crossJoin(F.broadcast(n_nodes))
          .select('v', (F.lit(1.0) / F.col('n')).alias('pr'))
          .localCheckpoint(eager=False))
    pr = _pagerank_rounds(ew, nodes, n_nodes, pr, iters, damping)
    ew.unpersist()
    return pr


def _pagerank_rounds(ew: DataFrame, nodes: DataFrame, n_nodes: DataFrame,
                     pr: DataFrame, iters: int,
                     damping: float) -> DataFrame:
    """The shared power-iteration body of ``pagerank`` /
    ``pagerank_warm``: ``iters`` rounds of contribute → decimal-reduce →
    teleport+damp over a persisted out-weighted edge table ``ew``, a
    checkpointed node set, and a broadcastable node-count scalar.
    Per-round localCheckpoint keeps the iterative plan flat.
    ``_pagerank_local`` is its driver twin."""
    tele = 1.0 - damping
    for _ in range(iters):
        contrib = (
            ew.join(pr, ew['src'] == pr['v'])
            .select(F.col('dst'),
                    (F.col('pr') * F.col('w') / F.col('wdeg')).alias('c'))
            .groupBy('dst')
            .agg(F.sum(F.col('c').cast('string').cast('decimal(38,18)'))
                 .alias('s')))
        pr = (nodes.join(contrib, nodes['v'] == contrib['dst'], 'left')
              .crossJoin(F.broadcast(n_nodes))
              .select(nodes['v'],
                      (F.lit(tele) / F.col('n')
                       + F.lit(damping)
                       * F.coalesce(F.col('s').cast('string')
                                    .cast('double'), F.lit(0.0)))
                      .alias('pr'))
              .localCheckpoint(eager=False))
    return pr


def pagerank_warm(edges: DataFrame, prior: DataFrame, iters: int = 2,
                  damping: float = 0.85, src_col: str = 'src',
                  dst_col: str = 'dst', weight_col: str = 'weight',
                  prior_v_col: str = 'v',
                  prior_pr_col: str = 'pr') -> DataFrame:
    """→ (v, pr) — WARM-START PageRank: resume the power iteration from
    a prior score vector instead of the uniform vector.

    The index-maintenance move for the graph ANALYTICS layer, pairing
    with ``extend_edge_index`` on the storage layer: after a crawl
    delta extends the edge table, yesterday's published scores already
    sit near the new fixed point, so a couple of warm rounds recover
    what a cold start needs many more rounds (and shuffles) to reach —
    the power iteration is a damping-contraction (error shrinks by ≥ d
    per round from ANY starting vector), so warm-starting changes only
    the distance travelled, never the destination.

    Nodes absent from ``prior`` (entities first seen in the delta)
    enter at the uniform mass ``1/n`` over the NEW node set; prior mass
    is used as-is, not renormalized — total-mass drift decays as d^k
    through the same contraction.

    Engine parity and scale shape are exactly ``pagerank``'s (shared
    round body ``_pagerank_rounds`` and its driver twin
    ``_pagerank_local``): per-edge contributions are per-row double
    trees, per-target reductions ride decimal(38,18) via varchar.  At
    most ``_DRIVER_EDGE_CUTOFF`` edges, the graph is solved on the
    driver after two bounded collects, the edges and then the prior
    (which is entity-vocabulary-sized); a prior over the cutoff takes
    the distributed rounds, where each round is one co-partitionable
    join + one map-side-combined aggregation + a localCheckpoint, and
    the prior BROADCASTs onto the node set.  Same out-degree-complete
    contract and fallbacks as ``pagerank``; ``prior`` should be unique
    per node (pagerank output is — a duplicate v fans out the start
    vector through the left join, the asof_join right-uniqueness rule;
    such a prior always takes the distributed rounds, which keep that
    fan-out).

    Reference: JioNLP has no graph runtime — KG-side functionality
    added on top of the reference's extraction operators.
    """
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    p0 = prior.select(F.col(prior_v_col).alias('v'),
                      F.col(prior_pr_col).cast('double').alias('_prior'))
    local = _pagerank_local(e, p0, iters, damping)
    if local is not None:
        return local
    ew, nodes, n_nodes = _out_weighted(e)
    pr = (nodes.join(F.broadcast(p0), 'v', 'left')
          .crossJoin(F.broadcast(n_nodes))
          .select('v',
                  F.coalesce(F.col('_prior'),
                             F.lit(1.0) / F.col('n')).alias('pr'))
          .localCheckpoint(eager=False))
    pr = _pagerank_rounds(ew, nodes, n_nodes, pr, iters, damping)
    ew.unpersist()
    return pr


def edge_association(mentions: DataFrame, doc_col: str = 'doc_id',
                     ent_col: str = 'obj') -> DataFrame:
    """→ (ent_a, ent_b, n_ab, n_a, n_b, pmi, npmi) — co-occurrence edges
    scored by pointwise mutual information.

    The KG edge-significance step between co-occurrence extraction
    (``kg_cooccurrence``) and centrality ranking (``pagerank``): raw
    support ``n_ab`` over-ranks pairs of individually-frequent entities,
    so edges are scored ``pmi = ln(n_ab·N / (n_a·n_b))`` and its
    normalized form ``npmi = pmi / ln(N / n_ab)`` (Bouma 2009; +1 = only
    ever together, 0 = independent).  ``npmi`` is null when ``n_ab = N``
    (a pair present in every document — its denominator is ln 1 = 0).

    Engine parity: counts are exact bigints; pmi/npmi are per-row double
    trees over those counts written identically in the DuckDB oracle
    (per-row float-parity rule) — ratios are formed as
    ``cast(int·int as double) / cast(int·int as double)`` so both
    engines round the same products once.

    Scale shape: ONE distinct shuffle on (doc, entity), a per-doc
    self-join co-partitioned on ``doc_col`` (k² per doc, never
    corpus-quadratic), a map-side-combined edge aggregation, and the
    per-entity document-frequency table joined back by BROADCAST (the
    entity vocabulary is orders of magnitude smaller than the corpus).
    The scalar N rides a broadcast crossJoin.  Hot entities skew the
    edge groupBy — AQE skew-join applies, and extreme hubs can ride the
    salted two-phase pattern of operators/link.entity_counts.

    Reference: JioNLP has no graph runtime — this is KG-side
    functionality added on top of the reference's extraction operators.
    """
    # localCheckpoint, not persist: m feeds FOUR consumers (N, df, both
    # self-join sides) — a cached-but-lazy plan re-derives the distinct
    # subtree per consumer (plans are trees; first cut: 5 scans / 18
    # exchanges → 2 / 8 checkpointed)
    m = (mentions.select(F.col(doc_col).alias('doc_id'),
                         F.col(ent_col).alias('ent'))
         .distinct().localCheckpoint(eager=False))
    n_total = m.select(F.countDistinct('doc_id').cast('long').alias('n'))
    df = m.groupBy('ent').agg(F.countDistinct('doc_id').cast('long')
                              .alias('n_ent'))
    a, b = m.alias('a'), m.alias('b')
    edges = (a.join(b, 'doc_id')
             .filter(F.col('a.ent') < F.col('b.ent'))
             .groupBy(F.col('a.ent').alias('ent_a'),
                      F.col('b.ent').alias('ent_b'))
             .agg(F.countDistinct('doc_id').cast('long').alias('n_ab')))
    scored = (edges
              .join(F.broadcast(df.select(F.col('ent').alias('ent_a'),
                                          F.col('n_ent').alias('n_a'))),
                    'ent_a')
              .join(F.broadcast(df.select(F.col('ent').alias('ent_b'),
                                          F.col('n_ent').alias('n_b'))),
                    'ent_b')
              .crossJoin(F.broadcast(n_total)))
    pmi = F.log((F.col('n_ab') * F.col('n')).cast('double')
                / (F.col('n_a') * F.col('n_b')).cast('double'))
    npmi = F.when(F.col('n_ab') == F.col('n'), F.lit(None).cast('double')) \
        .otherwise(pmi / F.log(F.col('n').cast('double')
                               / F.col('n_ab').cast('double')))
    return scored.select('ent_a', 'ent_b', 'n_ab', 'n_a', 'n_b',
                         pmi.alias('pmi'), npmi.alias('npmi'))


def edge_confidence(mentions: DataFrame, iters: int = 3,
                    damping: float = 0.85, doc_col: str = 'doc_id',
                    ent_col: str = 'obj') -> DataFrame:
    """→ (ent_a, ent_b, n_ab, confidence) — the composed KG edge-scoring
    artifact: ``confidence = (pr(a) + pr(b)) · max(npmi, 0)``.

    Support alone over-ranks frequent-entity pairs; npmi fixes that but
    ignores how central the endpoints are.  The product ranks edges
    that are BOTH statistically associated and anchored at salient
    entities — the ordering a triple-extraction stage consumes when
    deciding which relation candidates to keep.

    Composition of the two oracle-proven parts over ONE mention table:
    ``edge_association`` (exact counts + npmi trees) and ``pagerank``
    over the same symmetrized edge set (so both see identical weights).
    The association table is persisted — it feeds both the PageRank
    edge input and the final join.  The per-edge confidence tree
    multiplies two engine-identical doubles (each endpoint's pr and the
    clamped npmi), so it is itself engine-identical.  PageRank output
    is node-table-sized; the final joins are entity-keyed (AQE
    broadcasts them when the vocabulary is small).
    """
    # checkpoint: assoc feeds the two union sides of the PageRank edge
    # input AND the final join — lazy reuse re-derives the whole
    # association subtree per consumer (first cut: 20 scans / 52
    # exchanges → flat after checkpointing here and in edge_association)
    assoc = edge_association(mentions, doc_col, ent_col).localCheckpoint(eager=False)
    edges = (assoc.select(F.col('ent_a').alias('src'),
                          F.col('ent_b').alias('dst'),
                          F.col('n_ab').alias('w'))
             .union(assoc.select(F.col('ent_b').alias('src'),
                                 F.col('ent_a').alias('dst'),
                                 F.col('n_ab').alias('w'))))
    pr = pagerank(edges, iters=iters, damping=damping, weight_col='w')
    npmi_pos = F.when(F.col('npmi') > 0, F.col('npmi')) \
        .otherwise(F.lit(0.0))
    out = (assoc
           .join(pr.select(F.col('v').alias('ent_a'),
                           F.col('pr').alias('pr_a')), 'ent_a')
           .join(pr.select(F.col('v').alias('ent_b'),
                           F.col('pr').alias('pr_b')), 'ent_b')
           .select('ent_a', 'ent_b', 'n_ab',
                   ((F.col('pr_a') + F.col('pr_b')) * npmi_pos)
                   .alias('confidence')))
    return out


def entity_neighbor_similarity(mentions: DataFrame,
                               doc_col: str = 'doc_id',
                               ent_col: str = 'obj',
                               max_hub_degree: int | None = None,
                               min_cos: float = 0.0) -> DataFrame:
    """→ (ent_a, ent_b, n_shared, dot, cos) — entity pairs scored by the
    cosine of their weighted co-occurrence neighbor vectors: the KG
    alias/duplicate-candidate detector (two surface forms of one entity
    co-occur with the SAME neighbors even though they rarely co-occur
    with each other — distributional similarity over the graph).

    dot and the squared norms are exact bigint sums of edge-weight
    products, so the cosine is ONE per-row double tree over exact
    integers — engine-identical with no decimal routing needed.

    Scale shape: pairs are generated per shared NEIGHBOR (join the
    symmetric edge table with itself on the neighbor key) — cost is
    Σ_z deg(z)², quadratic only in per-neighbor degree, never corpus
    size.  Hub neighbors dominate that sum, and a hub shared by
    everything carries no alias signal (it is the graph analog of a
    stopword): ``max_hub_degree`` drops intermediaries above the cap
    from BOTH the pair generation and the norms, keeping the cosine
    consistent within the capped neighbor space.  The norms table is
    entity-vocabulary-sized and joins back broadcast-or-AQE.
    """
    m = (mentions.select(F.col(doc_col).alias('doc_id'),
                         F.col(ent_col).alias('ent'))
         .distinct().localCheckpoint(eager=False))
    a, b = m.alias('a'), m.alias('b')
    prs = (a.join(b, 'doc_id')
           .filter(F.col('a.ent') < F.col('b.ent'))
           .groupBy(F.col('a.ent').alias('ea'), F.col('b.ent').alias('eb'))
           .agg(F.countDistinct('doc_id').cast('long').alias('w')))
    edges = (prs.select(F.col('ea').alias('z'), F.col('eb').alias('x'), 'w')
             .union(prs.select(F.col('eb').alias('z'),
                               F.col('ea').alias('x'), 'w')))
    if max_hub_degree is not None:
        deg = edges.groupBy('z').agg(F.count('*').alias('_deg'))
        edges = (edges.join(deg.filter(F.col('_deg') <= max_hub_degree)
                            .select('z'), 'z'))
    edges = edges.localCheckpoint(eager=False)

    norms = edges.groupBy('x').agg(
        F.sum(F.col('w') * F.col('w')).cast('long').alias('sq'))
    e1, e2 = edges.alias('e1'), edges.alias('e2')
    dots = (e1.join(e2, 'z')
            .filter(F.col('e1.x') < F.col('e2.x'))
            .groupBy(F.col('e1.x').alias('ent_a'),
                     F.col('e2.x').alias('ent_b'))
            .agg(F.count('*').cast('long').alias('n_shared'),
                 F.sum(F.col('e1.w') * F.col('e2.w')).cast('long')
                 .alias('dot')))
    cos = (F.col('dot').cast('double')
           / (F.sqrt(F.col('sa').cast('double'))
              * F.sqrt(F.col('sb').cast('double'))))
    return (dots
            .join(norms.select(F.col('x').alias('ent_a'),
                               F.col('sq').alias('sa')), 'ent_a')
            .join(norms.select(F.col('x').alias('ent_b'),
                               F.col('sq').alias('sb')), 'ent_b')
            .select('ent_a', 'ent_b', 'n_shared', 'dot',
                    cos.alias('cos'))
            .filter(F.col('cos') >= F.lit(float(min_cos))))


def canonicalize_entities(mentions: DataFrame,
                          doc_col: str = 'doc_id',
                          ent_col: str = 'obj',
                          min_cos: float = 0.6,
                          min_shared: int = 2,
                          max_direct: int = 0,
                          max_hub_degree: int | None = None,
                          max_iter: int = 20) -> DataFrame:
    """→ (ent, canon, cluster_size, df) — the alias-resolution step of
    KG construction: surface forms whose co-occurrence NEIGHBOR vectors
    are near-parallel (cos ≥ ``min_cos`` over ≥ ``min_shared`` shared
    neighbors) but that (almost) never co-occur DIRECTLY (≤
    ``max_direct`` shared docs — two spellings of one entity appear in
    different documents, unlike genuinely related entities) are
    clustered with star connected components, and every member maps to
    the cluster's canonical surface = the member with the highest
    document frequency (ties → lexicographically smallest).  Joining
    this table against the mention table ON the surface rewrites the
    corpus to canonical entity ids; surfaces in no cluster are absent
    (identity mapping).

    Scale shape: candidate pairs come from entity_neighbor_similarity
    (Σ_z deg(z)², hub-cappable); the direct-co-occurrence exclusion is
    a pair-keyed anti-join against the doc-co-occurrence edge table;
    components run over the (tiny) alias-pair graph; df is one
    map-side-combined distinct-count over mentions; the canonical pick
    is a window over CLUSTER-sized partitions.  Nothing here is
    corpus-quadratic.
    """
    from pyspark.sql import Window
    from jionlp_spark.operators.dedup import dedup_components
    sim = entity_neighbor_similarity(
        mentions, doc_col=doc_col, ent_col=ent_col,
        max_hub_degree=max_hub_degree, min_cos=min_cos)
    pairs = (sim.filter(F.col('n_shared') >= int(min_shared))
             .select('ent_a', 'ent_b'))
    m = (mentions.select(F.col(doc_col).alias('doc_id'),
                         F.col(ent_col).alias('ent'))
         .distinct().localCheckpoint(eager=False))
    a, b = m.alias('a'), m.alias('b')
    direct = (a.join(b, 'doc_id')
              .filter(F.col('a.ent') < F.col('b.ent'))
              .groupBy(F.col('a.ent').alias('ent_a'),
                       F.col('b.ent').alias('ent_b'))
              .agg(F.countDistinct('doc_id').alias('n_direct'))
              .filter(F.col('n_direct') > int(max_direct))
              .select('ent_a', 'ent_b'))
    pairs = pairs.join(direct, ['ent_a', 'ent_b'], 'left_anti')
    comp = dedup_components(pairs, 'ent_a', 'ent_b', max_iter=max_iter)
    dfreq = (m.groupBy('ent')
             .agg(F.countDistinct('doc_id').cast('long').alias('df')))
    members = (comp.select(F.col('doc_id').alias('ent'), 'cluster')
               .join(dfreq, 'ent'))
    w = Window.partitionBy('cluster').orderBy(F.col('df').desc(),
                                              F.col('ent').asc())
    return (members
            .select('ent',
                    F.first('ent').over(w).alias('canon'),
                    F.count('*').over(Window.partitionBy('cluster'))
                    .cast('long').alias('cluster_size'),
                    'df'))


def k_core(edges: DataFrame, k: int = 2, src_col: str = 'src',
           dst_col: str = 'dst', max_rounds: int = 30) -> DataFrame:
    """→ (v, deg): the k-core of an undirected graph — the maximal
    subgraph where every vertex keeps degree ≥ k — with each survivor's
    in-core degree.  The KG periphery-pruning step: entities outside the
    2-core are chains and pendants (single-document noise), while core
    membership is the standard robustness filter before community /
    centrality analysis.

    Contract: ``edges`` is a SYMMETRIC, deduplicated edge list (both
    directions present, no parallel edges, no self-loops) — the shape
    the co-occurrence builders emit after symmetrization — so out-degree
    = degree and one groupBy(src) counts it.

    Scale shape: classic iterative peeling — each round is ONE map-side-
    combined degree count + two semi-joins against the (node-sized) keep
    list, ``localCheckpoint``'ed so the plan never nests (CLAUDE.md
    iterative-driver rule).  Rounds = peel depth (the longest chain of
    cascading removals), NOT diameter: dense cores converge in a few
    rounds, adversarial paths peel one tip per round — hence
    ``max_rounds`` raises rather than silently returning a half-peeled
    graph (the dedup_components convergence policy).  Shuffles are
    edge-table-sized and shrink monotonically."""
    cur = (edges.select(F.col(src_col).alias('src'),
                        F.col(dst_col).alias('dst'))
           .localCheckpoint(eager=False))
    n_edges = cur.count()
    for _ in range(max_rounds):
        deg = cur.groupBy('src').agg(F.count('*').alias('deg'))
        keep = deg.filter(F.col('deg') >= k).select(
            F.col('src').alias('v'))
        nxt = (cur.join(keep.withColumnRenamed('v', 'src'), 'src',
                        'left_semi')
                  .join(keep.withColumnRenamed('v', 'dst'), 'dst',
                        'left_semi')
                  .localCheckpoint(eager=False))
        n_next = nxt.count()
        if n_next == n_edges:
            return (cur.groupBy('src').agg(
                F.count('*').cast('long').alias('deg'))
                .select(F.col('src').alias('v'), 'deg'))
        cur, n_edges = nxt, n_next
    raise RuntimeError(
        f'k_core did not converge in {max_rounds} rounds — adversarial '
        f'peel depth; raise max_rounds')


def entity_timeline(entities: DataFrame, times: DataFrame,
                    doc_col: str = 'doc_id', entity_col: str = 'obj',
                    type_col: str = 'obj_type',
                    date_col: str = 'day') -> DataFrame:
    """→ (entity, type, day, n_docs): temporal fact edges — an entity
    mentioned in the same document as a parsed time expression is
    evidence the entity was ACTIVE on that date (the KG timeline /
    event-grounding step; the temporal dual of kg_cooccurrence's
    entity-entity edges, with parse_time's normalized date as the
    second endpoint).

    Scale shape: the join is co-partitioned on doc_id and k_e × k_t
    PER DOC (mentions per doc are few — never corpus-quadratic, the
    kg_cooccurrence argument), and the (entity, day) aggregation
    map-side combines.  Hot dates (breaking-news days concentrate
    mentions) skew the groupBy key — AQE skew handling applies, and
    extreme cases ride the salted two-phase pattern of
    operators/link.entity_counts."""
    return (entities.select(doc_col, entity_col, type_col)
            .join(times.select(doc_col, date_col), doc_col)
            .groupBy(entity_col, type_col, date_col)
            .agg(F.countDistinct(doc_col).cast('long').alias('n_docs')))


def label_propagation(edges: DataFrame, seeds: DataFrame,
                      rounds: int = 3, weight_col: str | None = None,
                      src_col: str = 'src',
                      dst_col: str = 'dst') -> DataFrame:
    """→ (v, label, is_seed): semi-supervised entity typing — seed
    labels spread over the co-occurrence graph by synchronous weighted
    neighbor vote (Zhu & Ghahramani 2002 / Raghavan et al. 2007's LPA
    with the randomness removed).  The KG step after canonicalization:
    a handful of typed seed entities (from lexicons — cities, persons)
    type the untyped rest via co-occurrence evidence.

    Determinism contract (both the known LPA failure mode and the
    oracle's requirement): updates are SYNCHRONOUS (round r reads only
    round r−1 labels), the vote is argmax of the exact-integer weight
    sum with ties broken label-asc, and seeds are CLAMPED (a seed
    never changes — the semi-supervised variant).  Unlabeled nodes
    with no labeled neighbor stay absent until a label reaches them.

    Contract: ``edges`` symmetric + deduplicated (the k_core shape).
    Scale shape: each round is ONE label-table join against the edge
    table (both keyed on node ids) + a map-side-combined vote sum +
    one node-keyed window; state is node-sized, ``localCheckpoint``
    per round (iterative-driver rule).  Fixed ``rounds`` — label
    radius = rounds, the caller's knob, not a convergence loop (LPA
    oscillates on bipartite structures; a fixed horizon is the
    deterministic choice)."""
    from pyspark.sql.window import Window as _W
    w = (F.col(weight_col) if weight_col is not None
         else F.lit(1)).cast('long')
    e = (edges.select(F.col(src_col).alias('src'),
                      F.col(dst_col).alias('dst'), w.alias('w'))
         .persist())
    seeds = seeds.select('v', 'label').localCheckpoint(eager=False)
    labels = seeds
    win = _W.partitionBy('src').orderBy(
        F.col('wt').desc(), F.col('label').asc())
    for _ in range(rounds):
        votes = (e.join(labels.select(F.col('v').alias('dst'), 'label'),
                        'dst')
                 .groupBy('src', 'label')
                 .agg(F.sum('w').alias('wt')))
        best = (votes.withColumn('_rn', F.row_number().over(win))
                .filter(F.col('_rn') == 1)
                .select(F.col('src').alias('v'), 'label'))
        labels = (seeds.unionByName(
            best.join(seeds.select('v'), 'v', 'left_anti'))
            .localCheckpoint(eager=False))
    return labels.join(
        seeds.select('v', F.lit(True).alias('_s')), 'v', 'left') \
        .select('v', 'label',
                F.coalesce(F.col('_s'), F.lit(False)).alias('is_seed'))


def negative_samples(edges: DataFrame, k: int = 3, draws: int = 6,
                     src_col: str = 'src',
                     dst_col: str = 'dst') -> DataFrame:
    """→ (src, dst, neg, draw_i): deterministic corrupted-tail negative
    sampling — for every positive edge, up to ``k`` entities that are
    NOT neighbors of ``src`` (and neither endpoint), the training-pair
    prep step for KG-embedding objectives (TransE-family corrupted
    triples, word2vec-style negative sampling) with the RNG replaced by
    an md5 draw rule (the random_walks determinism scheme).

    Draw i ∈ [0, draws) proposes the entity whose dense index is
    w32(md5(src ‖ dst ‖ i)) mod V; proposals hitting an endpoint or an
    existing (src, ·) edge are REJECTED (one pair-keyed anti-join — the
    standard rejection step), and the surviving draws keep their first
    ``k`` by draw order.  Hubs adjacent to most of the graph reject
    most proposals and may yield FEWER than k negatives — by design:
    oversample via ``draws`` rather than scanning the V-sized
    complement (which is edges × V at web scale; this is edges × draws,
    linear).

    The dense entity index is one window over the V-sized node table
    (entity asc — a total order both engines cut identically); the
    node table broadcasts into the index lookup."""
    from jionlp_spark.operators.sketches import hll_w32_sql
    from pyspark.sql.window import Window as _W
    # the edge table feeds the node build, the proposal explode, AND the
    # rejection anti-join — checkpoint it once or each consumer
    # re-derives the caller's (often corpus-sized) edge construction
    e = (edges.select(F.col(src_col).alias('src'),
                      F.col(dst_col).alias('dst'))
         .localCheckpoint(eager=False))
    nodes = (e.select(F.col('src').alias('v'))
             .union(e.select('dst')).distinct()
             .withColumn('idx', F.row_number().over(
                 _W.orderBy(F.col('v').asc())) - 1)
             .localCheckpoint(eager=False))          # V-sized; single-reducer window
    n_nodes = nodes.count()
    props = (e.select(
        'src', 'dst',
        F.explode(F.array(*[F.lit(i) for i in range(draws)]))
        .alias('draw_i'))
        .selectExpr('src', 'dst', 'draw_i',
                    "md5(concat(src, '|', dst, '|', "
                    "cast(draw_i as string))) as h")
        .selectExpr('src', 'dst', 'draw_i',
                    f"{hll_w32_sql('h')} % {n_nodes} as idx"))
    cand = (props.join(F.broadcast(nodes), 'idx')
            .select('src', 'dst', 'draw_i', F.col('v').alias('neg'))
            .filter((F.col('neg') != F.col('src'))
                    & (F.col('neg') != F.col('dst'))))
    surviving = cand.join(
        e.select(F.col('src'), F.col('dst').alias('neg')).distinct(),
        ['src', 'neg'], 'left_anti')
    # two draws can propose the same entity: keep the earliest, then
    # cut to k by draw order — both windows mirrored in the oracle
    wd = _W.partitionBy('src', 'dst', 'neg').orderBy('draw_i')
    w = _W.partitionBy('src', 'dst').orderBy('draw_i')
    return (surviving
            .withColumn('_rd', F.row_number().over(wd))
            .filter(F.col('_rd') == 1)
            .withColumn('_rn', F.row_number().over(w))
            .filter(F.col('_rn') <= k)
            .select('src', 'dst', 'neg',
                    F.col('draw_i').cast('long').alias('draw_i')))


def triangle_stats(edges: DataFrame, a_col: str = 'ent_a',
                   b_col: str = 'ent_b') -> DataFrame:
    """→ (ent, degree, triangles, clustering) — per-vertex triangle
    count and local clustering coefficient 2·T/(d·(d-1)) over an
    undirected edge table: the KG graph-quality signal (a high-cc
    entity sits in a tight community; cc≈0 hubs are connectors —
    routing for alias detection and relation confidence).

    Scale shape: the classic degree-ordered orientation (Cohen 2009
    MapReduce triangles; Suri & Vassilvitskii WWW'11) — every edge
    points from the (degree, id)-smaller endpoint to the larger, each
    triangle is enumerated exactly ONCE at its smallest vertex, and
    the wedge join's cost drops from Σ deg² (quadratic in hub degree)
    to O(m^1.5), because a hub's out-degree under the orientation is
    bounded by the number of HIGHER-degree vertices.  Three shuffles:
    wedge self-join on the apex, the closing equi-join on the oriented
    (b, c) edge, and the per-vertex rollup.  The clustering division
    is one per-row double tree over exact bigints.
    """
    canon = (edges.select(F.least(a_col, b_col).alias('x'),
                          F.greatest(a_col, b_col).alias('y'))
             .filter(F.col('x') != F.col('y'))
             .distinct().localCheckpoint(eager=False))
    deg = (canon.select(F.col('x').alias('v'))
           .union(canon.select(F.col('y').alias('v')))
           .groupBy('v').agg(F.count('*').cast('long').alias('d'))
           .localCheckpoint(eager=False))
    ed = (canon
          .join(deg.select(F.col('v').alias('x'),
                           F.col('d').alias('dx')), 'x')
          .join(deg.select(F.col('v').alias('y'),
                           F.col('d').alias('dy')), 'y'))
    x_first = (F.col('dx') < F.col('dy')) | \
              ((F.col('dx') == F.col('dy')) & (F.col('x') < F.col('y')))
    oriented = (ed.select(
        F.when(x_first, F.col('x')).otherwise(F.col('y')).alias('src'),
        F.when(x_first, F.col('y')).otherwise(F.col('x')).alias('dst'),
        F.when(x_first, F.col('dy')).otherwise(F.col('dx')).alias('dd'))
        .localCheckpoint(eager=False))
    o1, o2 = oriented.alias('o1'), oriented.alias('o2')
    b_first = (F.col('o1.dd') < F.col('o2.dd')) | \
              ((F.col('o1.dd') == F.col('o2.dd'))
               & (F.col('o1.dst') < F.col('o2.dst')))
    wedges = (o1.join(o2, 'src')
              .filter(F.col('o1.dst') != F.col('o2.dst'))
              .filter(b_first)
              .select(F.col('src').alias('a'),
                      F.col('o1.dst').alias('b'),
                      F.col('o2.dst').alias('c')))
    closing = oriented.select(F.col('src').alias('b'),
                              F.col('dst').alias('c'))
    tris = wedges.join(closing, ['b', 'c'])
    per_vertex = (tris.select(F.explode(F.array('a', 'b', 'c'))
                              .alias('v'))
                  .groupBy('v').agg(F.count('*').cast('long')
                                    .alias('t')))
    cc = (F.lit(2.0) * F.col('triangles')
          / (F.col('degree') * (F.col('degree') - F.lit(1))))
    return (deg.join(per_vertex, 'v', 'left')
            .select(F.col('v').alias('ent'),
                    F.col('d').alias('degree'),
                    F.coalesce('t', F.lit(0)).cast('long')
                    .alias('triangles'))
            .withColumn('clustering',
                        F.when(F.col('degree') >= 2, cc)))


def link_predictions(edges: DataFrame, a_col: str = 'ent_a',
                     b_col: str = 'ent_b',
                     min_shared: int = 1,
                     max_hub_degree: int | None = None) -> DataFrame:
    """→ (ent_a, ent_b, n_shared, aa_score) — Adamic-Adar link
    prediction over the co-occurrence graph: NON-adjacent entity pairs
    scored by Σ_z 1/ln(deg(z)) over their shared neighbors z — the KG
    COMPLETION step (an edge the corpus hasn't witnessed yet but the
    graph structure predicts; rare shared neighbors count more than
    hubs, which is the whole point of the 1/ln damping).

    Exactness: deg(z) is an exact bigint, each term is a per-row
    double tree, and the cross-row sum routes through
    decimal(38,18)-via-string (order-independent → engine-identical;
    a raw double sum would be partitioning-dependent).  ln(deg) is
    always positive here: a shared neighbor has degree ≥ 2 by
    construction, so no division by zero exists to guard.

    Scale shape: pair generation is the Σ_z deg(z)² shared-neighbor
    join (same budget as entity_neighbor_similarity — hubs dominate
    and carry no signal; ``max_hub_degree`` drops them from the wedge
    AND the score consistently); the adjacency exclusion is a
    pair-keyed anti-join on the (far smaller) edge table.
    """
    canon = (edges.select(F.least(a_col, b_col).alias('x'),
                          F.greatest(a_col, b_col).alias('y'))
             .filter(F.col('x') != F.col('y'))
             .distinct().localCheckpoint(eager=False))
    sym = (canon.select(F.col('x').alias('z'), F.col('y').alias('n'))
           .union(canon.select(F.col('y').alias('z'),
                               F.col('x').alias('n'))))
    deg = sym.groupBy('z').agg(F.count('*').cast('long').alias('d'))
    if max_hub_degree is not None:
        deg = deg.filter(F.col('d') <= int(max_hub_degree))
    # neighbor lists keyed by the shared-neighbor z: nbr(z → n)
    nbr = (sym.select(F.col('n').alias('z'), F.col('z').alias('x'))
           .join(deg, 'z'))
    e1, e2 = nbr.alias('e1'), nbr.alias('e2')
    term = F.lit(1.0) / F.log(F.col('e1.d').cast('double'))
    pairs = (e1.join(e2, 'z')
             .filter(F.col('e1.x') < F.col('e2.x'))
             .groupBy(F.col('e1.x').alias('ent_a'),
                      F.col('e2.x').alias('ent_b'))
             .agg(F.count('*').cast('long').alias('n_shared'),
                  F.sum(term.cast('string').cast('decimal(38,18)'))
                  .alias('s'))
             .filter(F.col('n_shared') >= int(min_shared)))
    return (pairs.join(canon,
                       (pairs['ent_a'] == canon['x'])
                       & (pairs['ent_b'] == canon['y']), 'left_anti')
            .select('ent_a', 'ent_b', 'n_shared',
                    F.col('s').cast('string').cast('double')
                    .alias('aa_score')))


def entity_profiles(mentions: DataFrame, k: int = 3,
                    doc_col: str = 'doc_id',
                    ent_col: str = 'obj') -> DataFrame:
    """→ (ent, rnk, other, n_ab, npmi) — each entity's top-``k`` most
    ASSOCIATED co-occurring entities by NPMI: the KG entity-context
    profile (what an entity "is about" — the association-ranked
    neighborhood a disambiguation or summarization stage consumes;
    raw-support ranking would hand every profile to the corpus hubs).

    Ranking order is total — (npmi desc NULLS LAST, n_ab desc, other
    asc) — so row_number is deterministic and engine-identical; npmi
    nulls (pairs spanning every document) rank last explicitly
    because the engines' default null placement differs.

    Scale shape: inherits edge_association's budget (per-doc self-join
    co-partitioned on the doc key, broadcast df joins); the top-k
    window partitions per ENTITY — partition size is the entity's
    graph degree, bounded by the entity vocabulary, never the corpus.
    """
    from pyspark.sql import Window
    # checkpoint at the edge-table boundary: the symmetric union reads
    # the association table TWICE, and plans are trees — lazy reuse
    # re-derives the whole per-doc self-join per branch (measured 17
    # exchanges → 5 checkpointed)
    assoc = edge_association(mentions, doc_col, ent_col).localCheckpoint(eager=False)
    sym = (assoc.select(F.col('ent_a').alias('ent'),
                        F.col('ent_b').alias('other'), 'n_ab', 'npmi')
           .union(assoc.select(F.col('ent_b').alias('ent'),
                               F.col('ent_a').alias('other'),
                               'n_ab', 'npmi')))
    w = Window.partitionBy('ent').orderBy(
        F.col('npmi').desc_nulls_last(), F.col('n_ab').desc(),
        F.col('other').asc())
    return (sym.withColumn('rnk', F.row_number().over(w).cast('long'))
            .filter(F.col('rnk') <= int(k))
            .select('ent', 'rnk', 'other', 'n_ab', 'npmi'))


def random_walks(edges: DataFrame, walk_len: int = 3,
                 src_col: str = 'src', dst_col: str = 'dst') -> DataFrame:
    """Deterministic pseudo-random walks over a directed edge table —
    the node2vec/DeepWalk corpus-preparation step (Grover & Leskovec
    2016; Perozzi et al. 2014), with the RNG replaced by a hash rule so
    walks are reproducible run-to-run and engine-to-engine: from the
    walk's current node, the next hop is the out-neighbor minimizing
    md5(start || '|step|' || candidate) (ties by candidate) — uniform
    pseudo-random per (walk, step), no RNG state to ship.

    → (start, step, node) rows, step 0 = the start itself; one walk per
    distinct source node.  A walk reaching a dangling node (no
    out-edges) simply ends — shorter walks keep their prefix rows.

    Scale shape: one frontier-sized join + per-start window per step,
    localCheckpoint per round (iterative-driver rule: the lineage would
    otherwise nest walk_len plans deep).  The frontier is one row per
    walk, so each round's shuffle is walks-sized, never edges-sized;
    hub destinations skew the join key — AQE skew-join applies."""
    adj = edges.select(F.col(src_col).alias('node'),
                       F.col(dst_col).alias('_dst'))
    cur = (adj.select('node').distinct()
           .select(F.col('node').alias('start'),
                   F.lit(0).alias('step'), 'node')
           .localCheckpoint(eager=False))
    paths = [cur]
    for t in range(1, walk_len + 1):
        from pyspark.sql.window import Window
        w = Window.partitionBy('start').orderBy('_r', '_dst')
        cur = (cur.join(adj, 'node')
               .withColumn('_r', F.md5(F.concat(
                   F.col('start'), F.lit(f'|{t}|'), F.col('_dst'))))
               .withColumn('_rn', F.row_number().over(w))
               .filter(F.col('_rn') == 1)
               .select('start', F.lit(t).alias('step'),
                       F.col('_dst').alias('node'))
               .localCheckpoint(eager=False))
        paths.append(cur)
    out = paths[0]
    for p in paths[1:]:
        out = out.union(p)
    return out


# ---------------------------------------------------------------------------
# KG-embedding training step: deterministic hash embeddings + TransE scoring
# ---------------------------------------------------------------------------

# 2^32 — the w32 hash range; a component is w32/2^32 - 0.5 ∈ [-0.5, 0.5)
_EMB_DENOM = '4294967296.0'


def emb_component_sql(hex_col: str) -> str:
    """One deterministic embedding component from a precomputed md5 hex
    column: ``w32(hex)/2^32 - 0.5`` as ONE per-row double tree —
    bit-identical in Spark and DuckDB (constants enter as
    ``cast('<repr>' as double)``; DuckDB parses bare float literals as
    DECIMAL).  Callers materialize the hex column once per (entity,
    dim) so the 8-nibble w32 fold hashes once, not once per nibble."""
    from jionlp_spark.operators.sketches import hll_w32_sql
    return (f"(cast({hll_w32_sql(hex_col)} as double)"
            f" / cast('{_EMB_DENOM}' as double)"
            f" - cast('0.5' as double))")


def emb_hex_sql(ent_expr: str, j: int) -> str:
    """The md5 hex feeding component ``j`` of entity ``ent_expr``'s
    hash embedding: ``md5('emb|' || entity || '|' || j)`` — the
    'emb|' tag keeps the draw domain disjoint from negative_samples'
    md5(src|dst|i) proposals."""
    return f"md5(concat('emb|', {ent_expr}, '|', '{j}'))"


def transe_l1_sql(pa: str, pb: str, dim: int) -> str:
    """L1 distance between two hash embeddings whose hex columns are
    ``{pa}0..{pa}{dim-1}`` / ``{pb}0..``: a fixed-order (j asc) left
    fold of per-component absolute differences — one per-row double
    tree, engine-identical by construction."""
    terms = ' + '.join(
        f"abs({emb_component_sql(f'{pa}{j}')}"
        f" - {emb_component_sql(f'{pb}{j}')})"
        for j in range(dim))
    return f"({terms})"


def transe_scores(negatives: DataFrame, dim: int = 4, margin: float = 1.0,
                  src_col: str = 'src', dst_col: str = 'dst',
                  neg_col: str = 'neg') -> DataFrame:
    """→ (src, dst, neg, pos_score, neg_score, loss): the TransE-family
    margin-ranking evaluation step (Bordes et al. 2013) over positive
    edges and their corrupted-tail negatives (``negative_samples``
    output) — score(h, t) = ‖e_h − e_t‖₁ with the single untyped
    relation vector at 0 (co-occurrence edges carry no relation type),
    loss = max(0, margin + pos_score − neg_score).  The row's loss > 0
    means the corrupted triple is not yet separated by the margin —
    the quantity a training loop would reduce (cross-row reduction is
    the caller's move, via the decimal-through-string route).

    Embeddings are DETERMINISTIC hash embeddings — component j of
    entity v is w32(md5('emb|' v '|' j))/2³² − 0.5 — the random-init
    scheme with the RNG replaced by md5 (the random_walks /
    negative_samples determinism rule): reproducible run-to-run,
    engine-to-engine, and with no V×dim parameter table to ship.  The
    one real-training divergence (learned weights) is exactly the
    model-state boundary, as with the multimodal embedding stub.

    Scale shape: ZERO shuffle over the negatives table — hex columns
    are one projection (3·dim md5 calls per row, each hashed once),
    scores a second, loss a third; everything stays in whole-stage
    codegen and scales embarrassingly with executors.
    """
    hexes = [f"{emb_hex_sql(c, j)} as {p}{j}"
             for p, c in (('hs', src_col), ('ht', dst_col),
                          ('hn', neg_col))
             for j in range(dim)]
    t = negatives.selectExpr(f'{src_col} as src', f'{dst_col} as dst',
                             f'{neg_col} as neg', *hexes)
    scored = t.selectExpr(
        'src', 'dst', 'neg',
        f"{transe_l1_sql('hs', 'ht', dim)} as pos_score",
        f"{transe_l1_sql('hs', 'hn', dim)} as neg_score")
    return scored.selectExpr(
        'src', 'dst', 'neg', 'pos_score', 'neg_score',
        f"greatest(cast('{margin!r}' as double)"
        " + pos_score - neg_score, cast('0.0' as double)) as loss")


def hits(edges: DataFrame, iters: int = 2, src_col: str = 'src',
         dst_col: str = 'dst', weight_col: str | None = None) -> DataFrame:
    """→ (v, hub, auth): weighted HITS (Kleinberg 1999) after ``iters``
    mutual-reinforcement rounds over a DIRECTED edge table — the
    complement of PageRank for crawl seeding: authorities are pages
    worth fetching, hubs are directories worth re-crawling for URL
    discovery.

    Unnormalized exact-integer formulation: hub₀ = 1 for every node;
    auth_k(v) = Σ_{u→v} w·hub_{k−1}(u); hub_k(v) = Σ_{v→w} w·auth_k(w).
    Skipping the per-round normalization keeps every score an exact
    bigint (the ranking is identical — normalization only rescales),
    so there is NO float surface anywhere and both engines agree
    bit-for-bit.  Overflow bound: scores grow like (w·deg)^(2·iters);
    at the default iters=2 a host graph with 10⁸ hosts and hub degree
    10⁵ stays under 2⁶³, and past that ANSI mode raises on the sum
    (crash, never corruption) — raise ``iters`` only with the bound in
    mind.

    Scale shape: the edge table is persisted once; each half-round is
    ONE node-keyed join + ONE map-side-combined aggregation with a
    ``localCheckpoint`` on the node-sized score table (iterative-driver
    rule).  Hub-degree skew on the join key rides AQE skew handling.
    """
    if iters < 1:
        raise ValueError('hits needs iters >= 1 (auth is undefined '
                         'before the first half-round)')
    w = (F.col(weight_col).cast('long') if weight_col is not None
         else F.lit(1).cast('long'))
    e = edges.select(F.col(src_col).alias('src'),
                     F.col(dst_col).alias('dst'),
                     w.alias('w')).persist()
    nodes = (e.select(F.col('src').alias('v'))
             .union(e.select('dst')).distinct().localCheckpoint(eager=False))
    hub = nodes.select('v', F.lit(1).cast('long').alias('hub'))
    auth = None
    for _ in range(iters):
        a = (e.join(hub, e['src'] == hub['v'])
             .groupBy('dst')
             .agg(F.sum(F.col('w') * F.col('hub')).alias('s')))
        auth = (nodes.join(a, nodes['v'] == a['dst'], 'left')
                .select(nodes['v'],
                        F.coalesce(F.col('s'), F.lit(0))
                        .cast('long').alias('auth'))
                .localCheckpoint(eager=False))
        h = (e.join(auth, e['dst'] == auth['v'])
             .groupBy('src')
             .agg(F.sum(F.col('w') * F.col('auth')).alias('s')))
        hub = (nodes.join(h, nodes['v'] == h['src'], 'left')
               .select(nodes['v'],
                       F.coalesce(F.col('s'), F.lit(0))
                       .cast('long').alias('hub'))
               .localCheckpoint(eager=False))
    e.unpersist()
    return (hub.join(auth, 'v')
            .select('v', 'hub', 'auth'))


def entity_salience(mentions: DataFrame, doc_col: str = 'doc_id',
                    ent_col: str = 'obj',
                    pos_col: str = 'pos') -> DataFrame:
    """→ (doc_id, entity, n_mentions, first_pos, salience): per-document
    entity salience — the weighting step between mention detection and
    edge aggregation, so KG edges can be weighted by how central each
    endpoint is to its documents rather than raw mention counts
    (frequency × earliness is the classic salience prior: lead
    mentions carry the document's topic).

    salience = 0.5·(n_mentions/n_doc) + 0.5·(1 − first_pos/n_doc),
    with n_doc the document's TOTAL mention count and first_pos the
    entity's earliest 0-based mention index — every input an exact
    bigint, the score ONE per-row double tree (engine-identical; no
    cross-row float aggregation anywhere).  first_pos < n_doc always,
    so salience ∈ (0, 1].

    Scale shape: one groupBy on (doc, entity) + one doc-partitioned
    window over the already-reduced per-entity rows (entities-per-doc
    sized, k per doc — never corpus-wide) = two exchanges total, both
    map-side-combinable; no hot keys beyond document size itself.
    """
    from pyspark.sql.window import Window as _W
    per = (mentions.select(F.col(doc_col).alias('doc_id'),
                           F.col(ent_col).alias('entity'),
                           F.col(pos_col).cast('long').alias('pos'))
           .groupBy('doc_id', 'entity')
           .agg(F.count('*').cast('long').alias('n_mentions'),
                F.min('pos').alias('first_pos')))
    nd = F.sum('n_mentions').over(_W.partitionBy('doc_id'))
    return (per.withColumn('_nd', nd)
            .selectExpr(
                'doc_id', 'entity', 'n_mentions', 'first_pos',
                "(cast(n_mentions as double) / cast(_nd as double))"
                " * cast('0.5' as double)"
                " + (cast('1.0' as double)"
                "    - cast(first_pos as double) / cast(_nd as double))"
                " * cast('0.5' as double) as salience"))


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          iters: int = 3, damping: float = 0.85,
                          src_col: str = 'src', dst_col: str = 'dst',
                          weight_col: str = 'weight',
                          seed_col: str = 'v') -> DataFrame:
    """→ (v, ppr) — personalized PageRank after ``iters`` rounds:
    teleport mass returns ONLY to the seed set (uniformly), so scores
    measure proximity to the seeds — the focused-crawl prioritization
    signal (fetch hosts near trusted seeds first: Gyöngyi et al. 2004
    TrustRank is exactly this shape) and the KG seed-expansion query
    (entities relevant to a topic seed set).

    Same engine-parity scheme as ``pagerank``: per-edge contributions
    are per-row double trees, per-target reductions route through
    decimal(38,18) via varchar, constants enter as cast('<repr>' as
    double); the seed indicator is decided by a null-check on a left
    join (both engines agree on join semantics), so pr₀ and every
    teleport term are engine-identical.  Non-seed nodes start at
    exactly 0.0 and receive only propagated mass.

    Scale shape: identical to ``pagerank`` — the out-weighted edge
    table persists once, each round is ONE co-partitionable join + ONE
    map-side-combined decimal aggregation + a localCheckpoint; the
    seed table is seed-set-sized and broadcasts.  Same
    out-degree-complete contract (callers pre-filter dangling nodes).
    """
    tele = 1.0 - damping

    e = edges.select(F.col(src_col).alias('src'),
                     F.col(dst_col).alias('dst'),
                     F.col(weight_col).cast('long').alias('w'))
    wdeg = e.groupBy('src').agg(F.sum('w').alias('wdeg'))
    ew = e.join(wdeg, 'src').persist()

    nodes = ew.select(F.col('src').alias('v')).distinct()
    sd = seeds.select(F.col(seed_col).alias('v'),
                      F.lit(True).alias('_s')).distinct()
    if sd.isEmpty():
        raise ValueError('personalized_pagerank needs a non-empty seed '
                         'set (zero seeds would silently return all-0.0 '
                         'scores)')
    nodes = (nodes.join(F.broadcast(sd), 'v', 'left')
             .select('v', F.coalesce(F.col('_s'), F.lit(False))
                     .alias('is_seed'))
             .localCheckpoint(eager=False))
    n_seeds = (nodes.filter('is_seed')
               .agg(F.count('*').cast('long').alias('n')))

    pr = (nodes.crossJoin(F.broadcast(n_seeds))
          .select('v', 'is_seed',
                  F.when(F.col('is_seed'),
                         F.lit(1.0) / F.col('n'))
                  .otherwise(F.lit(0.0)).alias('ppr'))
          .localCheckpoint(eager=False))
    for _ in range(iters):
        contrib = (
            ew.join(pr, ew['src'] == pr['v'])
            .select(F.col('dst'),
                    (F.col('ppr') * F.col('w') / F.col('wdeg'))
                    .alias('c'))
            .groupBy('dst')
            .agg(F.sum(F.col('c').cast('string').cast('decimal(38,18)'))
                 .alias('s')))
        pr = (nodes.join(contrib, nodes['v'] == contrib['dst'], 'left')
              .crossJoin(F.broadcast(n_seeds))
              .select(nodes['v'], 'is_seed',
                      (F.when(F.col('is_seed'),
                              F.lit(tele) / F.col('n'))
                       .otherwise(F.lit(0.0))
                       + F.lit(damping)
                       * F.coalesce(F.col('s').cast('string')
                                    .cast('double'), F.lit(0.0)))
                      .alias('ppr'))
              .localCheckpoint(eager=False))
    ew.unpersist()
    return pr.select('v', 'ppr')


def neighbor_agg(edges: DataFrame, dim: int = 4, max_neighbors: int = 8,
                 src_col: str = 'src', dst_col: str = 'dst',
                 weight_col: str = 'weight') -> DataFrame:
    """→ (v, deg, n_used, h_self0..{dim-1}, h_nbr0..{dim-1}) — the
    GraphSAGE-style neighborhood aggregation step (Hamilton et al.
    2017): each node's layer-1 input is its own feature vector next to
    the MEAN of its neighbors' feature vectors, with the neighborhood
    CAPPED at ``max_neighbors`` — GraphSAGE's neighbor sampling, made
    deterministic: keep the top neighbors by (weight desc, id asc), a
    total order both engines share, instead of a random sample.  The
    cap is what makes the operator scale-safe: a 10M-degree hub costs
    ``max_neighbors`` aggregation rows, not 10M (the max_hub_degree
    lesson from link_predictions applied to feature prep).

    Features are the deterministic hash embeddings of ``transe_scores``
    (component j of node v = w32(md5('emb|' v '|' j))/2³² − 0.5) — the
    random-init scheme with the RNG replaced by md5, so there is no
    V×dim parameter table to ship and both engines derive identical
    vectors; a real training loop swaps in its learned table at exactly
    this boundary (the transe/multimodal model-state seam).

    Engine parity: components are per-row double trees over md5 hex;
    the cross-neighbor mean routes its sum through decimal(38,18) via
    string (exact, order-independent — the pagerank reduction rule) and
    divides by the exact bigint ``n_used`` as one per-row double tree.

    Scale shape: ONE exchange on src — the row_number window that caps
    hubs (a hub's cost is its sort, bounded by its edge list, never a
    cross-join) — then the mean aggregation rides the SAME partitioning
    (groupBy on the window's partition key adds no exchange); degree
    comes from a count window in the same stage.  Zero Python anywhere.

    Node ids must be strings (they feed md5 concat), and ``edges`` must
    be unique per (src, dst) — an aggregated edge table (pair_counts /
    edge_association output) is; duplicates would make the top-k
    selection tie-order-dependent between engines.  Reference: JioNLP
    has no graph runtime — KG-side functionality added on top of the
    reference's extraction operators.
    """
    from pyspark.sql.window import Window

    e = edges.select(F.col(src_col).alias('src'),
                     F.col(dst_col).alias('dst'),
                     F.col(weight_col).cast('long').alias('w'))
    win = Window.partitionBy('src').orderBy(F.desc('w'), F.asc('dst'))
    t = e.select(
        'src', 'dst',
        F.row_number().over(win).alias('rk'),
        F.count('*').over(Window.partitionBy('src')).cast('long')
        .alias('deg'))
    capped = t.filter(F.col('rk') <= int(max_neighbors))
    hx = capped.selectExpr(
        'src', 'deg',
        *[f"{emb_hex_sql('dst', j)} as hn{j}" for j in range(dim)])
    comps = hx.selectExpr(
        'src', 'deg',
        *[f"{emb_component_sql(f'hn{j}')} as c{j}" for j in range(dim)])
    agg = comps.groupBy('src').agg(
        F.max('deg').alias('deg'),
        F.count('*').cast('long').alias('n_used'),
        *[F.sum(F.col(f'c{j}').cast('string').cast('decimal(38,18)'))
          .alias(f's{j}') for j in range(dim)])
    withself = agg.selectExpr(
        'src', 'deg', 'n_used',
        *[f's{j}' for j in range(dim)],
        *[f"{emb_hex_sql('src', j)} as hs{j}" for j in range(dim)])
    return withself.selectExpr(
        'src as v', 'deg', 'n_used',
        *[f"{emb_component_sql(f'hs{j}')} as h_self{j}"
          for j in range(dim)],
        *[f"cast(cast(s{j} as string) as double) / n_used as h_nbr{j}"
          for j in range(dim)])


# ---------------------------------------------------------------------------
# Persistent co-occurrence edge table through the catalog — the KG's
# daily-maintenance seam (the text/ANN/PQ index-extend pattern applied
# to the graph itself)
# ---------------------------------------------------------------------------

def pair_counts(mentions: DataFrame, doc_col: str = 'doc_id',
                ent_col: str = 'obj') -> DataFrame:
    """→ (ent_a, ent_b, n_ab): per-doc co-occurrence pair counts —
    distinct (doc, entity), per-doc self-join co-partitioned on the
    doc key (k² per doc, never corpus-quadratic), map-side-combined
    edge aggregation.  The delta unit of the edge index: counts over
    DISJOINT doc batches sum to the global count."""
    m = (mentions.select(F.col(doc_col).alias('doc_id'),
                         F.col(ent_col).alias('ent'))
         .distinct().localCheckpoint(eager=False))
    a, b = m.alias('a'), m.alias('b')
    return (a.join(b, 'doc_id')
            .filter(F.col('a.ent') < F.col('b.ent'))
            .groupBy(F.col('a.ent').alias('ent_a'),
                     F.col('b.ent').alias('ent_b'))
            .agg(F.countDistinct('doc_id').cast('long').alias('n_ab')))


def publish_edge_index(spark, base_path: str, mentions: DataFrame,
                       doc_col: str = 'doc_id', ent_col: str = 'obj',
                       input_fingerprint: str | None = None):
    """Publish the co-occurrence edge table through the catalog,
    BUCKETED on (ent_a, ent_b) — the persistent KG edge store a daily
    crawl maintains incrementally instead of re-deriving the per-doc
    self-join over ALL history (the publish_text_index pattern applied
    to the graph).  Bucketing on the pair key makes the reader's merge
    aggregation exchange-free, and snapshot versioning gives the edge
    table time travel like every other published artifact."""
    from jionlp_spark.sources import catalog
    return catalog.run_stage(
        spark, f'{base_path}/edges', 'kg_edges',
        lambda: pair_counts(mentions, doc_col, ent_col),
        input_fingerprint=input_fingerprint,
        bucket_by=('ent_a', 'ent_b'))


def extend_edge_index(spark, base_path: str, new_mentions: DataFrame,
                      batch_id: str, doc_col: str = 'doc_id',
                      ent_col: str = 'obj'):
    """Append a NEW document batch's co-occurrence counts to the
    published edge table without touching history: the batch's delta
    rows (pair counts over the batch's docs only) union into the
    bucketed table — O(batch · k²) per day, history never re-joined.
    Disjoint batches ⇒ per-batch distinct-doc counts SUM to the
    global count, so delta rows ∪ stored rows ≡ from-scratch (the
    reader merges).  Same new-doc-ids contract and batch_id
    idempotence as extend_text_index."""
    from jionlp_spark.sources import catalog
    stored = catalog.read_table(spark, f'{base_path}/edges')
    delta = pair_counts(new_mentions, doc_col, ent_col)
    updated = stored.union(delta.select(*stored.columns))
    return catalog.run_stage(
        spark, f'{base_path}/edges', 'kg_edges',
        lambda: updated, input_fingerprint=batch_id,
        bucket_by=('ent_a', 'ent_b'))


def read_edge_index(spark, base_path: str) -> DataFrame:
    """→ (ent_a, ent_b, weight): the merged edge view — per-batch delta
    rows summed per pair.  The scan is bucketed on (ent_a, ent_b), so
    the merge groupBy needs NO exchange (the groupBy key IS the bucket
    key — same plan guarantee as the BM25 df aggregate); weight sums
    are exact bigints."""
    from jionlp_spark.sources import catalog
    t = catalog.read_table(spark, f'{base_path}/edges')
    return (t.groupBy('ent_a', 'ent_b')
            .agg(F.sum('n_ab').cast('long').alias('weight')))


def predicate_schema(triples: DataFrame, subj_col: str = 'subj',
                     pred_col: str = 'pred', obj_col: str = 'obj',
                     subj_type_col: str = 'subj_type',
                     obj_type_col: str = 'obj_type') -> DataFrame:
    """→ (pred, n_triples, n_subj, n_obj, n_pairs, functionality,
    inv_functionality, top_signature, sig_share): schema induction over
    an extracted triple table — the KG-construction step that turns a
    raw (subj, pred, obj) pile into per-predicate cardinality facts an
    alignment/fusion stage consumes.

    ``functionality`` follows PARIS (Suchanek, Abiteboul & Senellart,
    VLDB 2012): fun(p) = #distinct subjects / #distinct (subj, obj)
    pairs — 1.0 means each subject carries exactly one object (the
    predicate behaves like a function); ``inv_functionality`` is the
    object-side mirror.  ``top_signature`` is the modal
    ``subj_type->obj_type`` pair with ties broken signature-asc, and
    ``sig_share`` its fraction of the predicate's triples — the type
    constraint an ontology-induction pass would declare.

    Engine parity: every count is an exact bigint; the two ratios and
    ``sig_share`` are single-division per-row double trees over those
    bigints (the float-parity rule — no cross-row double sums).

    Scale shape: ONE corpus-shuffle aggregation to (pred, subj, obj)
    grain (map-side combined), then everything downstream operates on
    distinct-triple and (pred, signature) grains — predicate-sized,
    never corpus-sized.  The final join is pred ⋈ pred: both sides tiny,
    broadcast.  No Python anywhere.
    """
    t = triples.select(F.col(pred_col).alias('pred'),
                       F.col(subj_col).alias('subj'),
                       F.col(obj_col).alias('obj'),
                       F.col(subj_type_col).alias('st'),
                       F.col(obj_type_col).alias('ot'))
    # one corpus shuffle: distinct-triple grain with per-triple support
    # and the modal type signature computed from the SAME reduction
    sup = (t.groupBy('pred', 'subj', 'obj')
           .agg(F.count('*').cast('long').alias('support')))
    base = (sup.groupBy('pred')
            .agg(F.sum('support').cast('long').alias('n_triples'),
                 F.countDistinct('subj').cast('long').alias('n_subj'),
                 F.countDistinct('obj').cast('long').alias('n_obj'),
                 F.count('*').cast('long').alias('n_pairs')))
    base = base.select(
        'pred', 'n_triples', 'n_subj', 'n_obj', 'n_pairs',
        (F.col('n_subj').cast('double')
         / F.col('n_pairs').cast('double')).alias('functionality'),
        (F.col('n_obj').cast('double')
         / F.col('n_pairs').cast('double')).alias('inv_functionality'))
    sig = (t.groupBy('pred', F.concat_ws('->', 'st', 'ot').alias('sig'))
           .agg(F.count('*').cast('long').alias('sig_n')))
    from pyspark.sql import Window
    w = Window.partitionBy('pred').orderBy(F.col('sig_n').desc(),
                                           F.col('sig').asc())
    top = (sig.withColumn('rk', F.row_number().over(w))
           .filter(F.col('rk') == 1)
           .select('pred', F.col('sig').alias('top_signature'), 'sig_n'))
    return (base.join(F.broadcast(top), 'pred')
            .select('pred', 'n_triples', 'n_subj', 'n_obj', 'n_pairs',
                    'functionality', 'inv_functionality', 'top_signature',
                    (F.col('sig_n').cast('double')
                     / F.col('n_triples').cast('double'))
                    .alias('sig_share')))


def conflict_resolution(triples: DataFrame, min_functionality: float = 0.8,
                        subj_col: str = 'subj', pred_col: str = 'pred',
                        obj_col: str = 'obj') -> DataFrame:
    """→ (pred, subj, obj, support, n_alternatives, is_winner): knowledge
    fusion over a functional predicate's conflicting assertions — the
    truth-discovery step (majority vote, the Dong et al. 2009 baseline)
    run after extraction has piled up contradicting (subj, pred, obj)
    rows from different pages.

    A predicate participates when its PARIS functionality (distinct
    subjects / distinct pairs, see ``predicate_schema``) is ≥
    ``min_functionality`` — near-functional predicates are exactly the
    ones where two objects for one subject signal a CONFLICT rather
    than legitimate multi-values.  For each conflicted (pred, subj)
    (>1 distinct object), every alternative is emitted with its vote
    count; the winner is the (support desc, obj asc) argmax — the
    deterministic majority vote with the repo-wide lexicographic tie
    rule.

    Engine parity: votes are exact bigints; the functionality gate is
    one bigint-division double compared against a literal threshold
    (identical expression trees both engines).

    Scale shape: ONE corpus shuffle to (pred, subj, obj) support grain
    (map-side combined); the functionality gate reduces that to
    pred-grain and comes back as a BROADCAST semi-join; the conflict
    window partitions on (pred, subj) — within-subject alternative
    lists are page-count-sized, never corpus-sized, and a hot
    subject is bounded by its own distinct-object count.  No Python.
    """
    t = triples.select(F.col(pred_col).alias('pred'),
                       F.col(subj_col).alias('subj'),
                       F.col(obj_col).alias('obj'))
    sup = (t.groupBy('pred', 'subj', 'obj')
           .agg(F.count('*').cast('long').alias('support'))
           .localCheckpoint(eager=False))
    fun = (sup.groupBy('pred')
           .agg(F.countDistinct('subj').cast('long').alias('n_subj'),
                F.count('*').cast('long').alias('n_pairs')))
    functional = fun.filter(
        (F.col('n_subj').cast('double') / F.col('n_pairs').cast('double'))
        >= F.lit(min_functionality)).select('pred')
    from pyspark.sql import Window
    grp = Window.partitionBy('pred', 'subj')
    w = grp.orderBy(F.col('support').desc(), F.col('obj').asc())
    return (sup.join(F.broadcast(functional), 'pred')
            .withColumn('n_alternatives',
                        F.count('*').over(grp).cast('long'))
            .filter(F.col('n_alternatives') > 1)
            .withColumn('is_winner', F.row_number().over(w) == 1)
            .select('pred', 'subj', 'obj', 'support', 'n_alternatives',
                    'is_winner'))


def hierarchy_closure(edges: DataFrame, max_depth: int = 16,
                      node_col: str = 'node',
                      parent_col: str = 'parent') -> DataFrame:
    """→ (node, ancestor, depth): the transitive ancestor closure of a
    parent forest (each node ≤ 1 parent — admin hierarchies, category
    trees, canonical-entity chains), computed by POINTER DOUBLING over
    ancestor SETS: round r joins the accumulated closure with itself
    (n→a at d₁, a→b at d₂ ⇒ n→b at d₁+d₂), so depth-D ancestry
    materializes in ⌈log₂ D⌉ rounds instead of the D sequential
    shuffles a hop-at-a-time walker (or a recursive CTE) pays — the
    redirect-resolution lesson applied to taxonomy expansion, but
    keeping EVERY intermediate ancestor instead of only the terminal.

    In a forest the n→b path is unique, so the same (node, ancestor)
    pair re-derived through different split points always carries the
    same exact-integer depth and the per-round ``distinct`` is a pure
    dedup, never a semantic choice.  Ancestors beyond ``max_depth``
    are cut (the cycle guard: a cycle would otherwise grow forever —
    on forest input none exists, on dirty input the cut bounds the
    damage and leaves cycle members with saturated depth rows).

    Scale shape: closure size is Σ_n depth(n) ≤ N·max_depth — node-
    table-sized with a small constant, never corpus-sized; each round
    is ONE self-join (both sides keyed on the join node) + distinct,
    ``localCheckpoint`` per round (iterative-driver rule).  Real
    hierarchies are shallow (admin trees: ≤ 5), so 3 rounds close them.
    """
    anc = (edges.select(F.col(node_col).alias('node'),
                        F.col(parent_col).alias('ancestor'))
           .filter(F.col('node') != F.col('ancestor'))
           .distinct()
           .withColumn('depth', F.lit(1).cast('long'))
           .localCheckpoint(eager=False))
    rounds = max(1, (max_depth - 1).bit_length())
    for _ in range(rounds):
        a, b = anc.alias('a'), anc.alias('b')
        ext = (a.join(b, F.col('a.ancestor') == F.col('b.node'))
               .select(F.col('a.node').alias('node'),
                       F.col('b.ancestor').alias('ancestor'),
                       (F.col('a.depth') + F.col('b.depth'))
                       .alias('depth'))
               .filter(F.col('depth') <= max_depth))
        anc = anc.union(ext).distinct().localCheckpoint(eager=False)
    return anc


_COS6 = (
    "round("
    "aggregate(zip_with({a}, {b}, (x,y)->cast(x as double)*cast(y as double)),"
    " cast(0.0 as double), (p,q)->p+q)"
    " / (sqrt(aggregate(transform({a}, x->cast(x as double)*cast(x as double)),"
    " cast(0.0 as double), (p,q)->p+q))"
    " * sqrt(aggregate(transform({b}, x->cast(x as double)*cast(x as double)),"
    " cast(0.0 as double), (p,q)->p+q))), 6)")


def disambiguate_mentions(mentions: DataFrame, senses: DataFrame,
                          emb: DataFrame, doc_col: str = 'doc_id',
                          surface_col: str = 'surface',
                          vec_col: str = 'embedding',
                          id_col: str = 'vec_id') -> DataFrame:
    """→ (doc_id, surface, sense_id, cos, is_best): embedding-based
    entity disambiguation — every ambiguous mention surface is scored
    against each KB sense's PROTOTYPE vector by cosine with the
    document's own embedding as context, and the best sense wins
    (cos desc, sense_id asc) — the linking step between surface-form
    canonicalization (``canonicalize_entities``, string-shape only)
    and the KG edge table, for surfaces where one string names many
    entities.

    ``senses`` is (surface, sense_id, proto: array<float>) — the KB
    sense inventory with one designated prototype vector per sense (a
    learned-centroid table is the model-state boundary, same contract
    as the multimodal embedding stub; any vector source works).
    ``emb`` supplies the context vector per document id.

    Engine parity: the cosine is the repo's proven per-row tree
    (sequential ``aggregate(zip_with(...))`` fold ≡ DuckDB
    ``list_dot_product``, both rounded to 6 — the ann_cosine_topk
    contract); ranking uses the ROUNDED value so both engines order
    identically, with sense_id breaking rounded ties.  Zero-norm
    vectors raise (ANSI DIVIDE_BY_ZERO) — the caller's contract, as
    with the Arrow cosine kernels.

    Scale shape: ONE corpus-sized co-keyed join (mentions ⋈ emb on the
    doc id), the sense inventory BROADCAST (KB-sized, not
    corpus-sized), cosine in whole-stage codegen (zero Python), and
    the argmax window partitioned on (doc, surface) — its input is
    candidates-per-mention (senses sharing the surface), bounded by
    the inventory's max ambiguity, never corpus-sized.
    """
    m = mentions.select(F.col(doc_col).alias('doc_id'),
                        F.col(surface_col).alias('surface'))
    e = emb.select(F.col(id_col).alias('doc_id'),
                   F.col(vec_col).alias('dvec'))
    s = senses.select('surface', 'sense_id', F.col('proto').alias('proto'))
    scored = (m.join(e, 'doc_id')
              .join(F.broadcast(s), 'surface')
              .selectExpr('doc_id', 'surface', 'sense_id',
                          _COS6.format(a='dvec', b='proto') + ' as cos'))
    from pyspark.sql import Window
    w = (Window.partitionBy('doc_id', 'surface')
         .orderBy(F.col('cos').desc(), F.col('sense_id').asc()))
    return (scored.withColumn('is_best', F.row_number().over(w) == 1)
            .select('doc_id', 'surface', 'sense_id', 'cos', 'is_best'))


def signature_violations(triples: DataFrame, min_share: float = 0.9,
                         subj_col: str = 'subj', pred_col: str = 'pred',
                         obj_col: str = 'obj',
                         subj_type_col: str = 'subj_type',
                         obj_type_col: str = 'obj_type') -> DataFrame:
    """→ (pred, subj, obj, sig, expected_signature, sig_share): the
    ontology type check — triples whose subj_type->obj_type signature
    deviates from their predicate's MODAL signature, for predicates
    where that signature is dominant (``sig_share`` ≥ ``min_share``) —
    the knowledge-cleaning consumer of ``predicate_schema``'s induced
    constraints (a predicate with a contested signature asserts no
    constraint, so its triples are never flagged; the analog of
    ``conflict_resolution``'s functionality gate on the type axis).

    Engine parity: the share gate is one bigint-division double
    against a literal; everything else is string equality.

    Scale shape: ``predicate_schema`` contributes the ONE corpus
    shuffle; the induced constraint table is pred-grain and comes back
    as a BROADCAST onto a second corpus scan — flagging itself is a
    zero-shuffle per-row filter.
    """
    schema = predicate_schema(triples, subj_col, pred_col, obj_col,
                              subj_type_col, obj_type_col)
    constraints = (schema
                   .filter(F.col('sig_share') >= F.lit(min_share))
                   .select('pred', 'top_signature', 'sig_share'))
    t = triples.select(F.col(pred_col).alias('pred'),
                       F.col(subj_col).alias('subj'),
                       F.col(obj_col).alias('obj'),
                       F.concat_ws('->', subj_type_col, obj_type_col)
                       .alias('sig'))
    return (t.join(F.broadcast(constraints), 'pred')
            .filter(F.col('sig') != F.col('top_signature'))
            .select('pred', 'subj', 'obj', 'sig',
                    F.col('top_signature').alias('expected_signature'),
                    'sig_share'))


def temporal_scoping(triples: DataFrame, subj_col: str = 'subj',
                     pred_col: str = 'pred', obj_col: str = 'obj',
                     ts_col: str = 'ts') -> DataFrame:
    """→ (pred, subj, obj, valid_from, valid_to, n_assertions,
    is_current): temporal scoping of functional facts — turn a pile of
    TIMESTAMPED assertions into validity INTERVALS per (pred, subj),
    the step that makes a KG answer "who was the value of p(s) in
    2019" instead of only "what is it now" (the YAGO2 extension of the
    fusion tier: conflict_resolution picks one winner per subject,
    this operator keeps the whole reign history).

    Semantics are run-length change detection: assertions for one
    (pred, subj) are ordered by (ts, obj) — obj breaks same-instant
    ties deterministically — and consecutive runs of the SAME object
    collapse into one interval.  ``valid_from`` is the run's first
    assertion time, ``valid_to`` the NEXT run's first time (the reign
    ends when the replacement is first asserted; null = still
    current), ``n_assertions`` the run's support.  An object that
    returns after an interruption (A, B, A) opens a NEW interval —
    re-assertion after replacement is new evidence, not a merge
    (interval semantics; dedup-by-object is conflict_resolution's
    job).  Feed it the near-functional predicates predicate_schema's
    gate admits — for multi-valued predicates "reigns" are undefined.

    Engine parity: timestamps pass through untouched, counts are exact
    bigints, the run segmentation is integer window arithmetic —
    identical trees both engines, no floats anywhere.

    Scale shape: ONE corpus shuffle to the (pred, subj) window (the
    lag + running-sum segmentation and the interval reduction reuse
    the SAME partitioning — Catalyst plans one Exchange), then a
    runs-grain window for valid_to.  A hot subject is bounded by its
    own assertion count (sort within one partition's key group);
    output is runs-grain ≤ assertions-grain.  No Python.
    """
    from pyspark.sql import Window
    t = triples.select(F.col(pred_col).alias('pred'),
                       F.col(subj_col).alias('subj'),
                       F.col(obj_col).alias('obj'),
                       F.col(ts_col).alias('ts'))
    w = Window.partitionBy('pred', 'subj').orderBy(F.col('ts').asc(),
                                                   F.col('obj').asc())
    runs = (t.withColumn(
                'chg',
                F.when(F.lag('obj').over(w).isNull()
                       | (F.lag('obj').over(w) != F.col('obj')),
                       F.lit(1)).otherwise(F.lit(0)))
            .withColumn('run_id', F.sum('chg').over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    iv = (runs.groupBy('pred', 'subj', 'run_id', 'obj')
          .agg(F.min('ts').alias('valid_from'),
               F.count('*').cast('long').alias('n_assertions')))
    w2 = Window.partitionBy('pred', 'subj').orderBy(F.col('run_id').asc())
    return (iv.withColumn('valid_to', F.lead('valid_from').over(w2))
            .select('pred', 'subj', 'obj', 'valid_from', 'valid_to',
                    'n_assertions',
                    F.col('valid_to').isNull().alias('is_current')))


def align_entities(kb_a: DataFrame, kb_b: DataFrame,
                   min_inv_functionality: float = 0.8,
                   max_bucket: int = 64,
                   subj_col: str = 'subj', pred_col: str = 'pred',
                   obj_col: str = 'obj') -> DataFrame:
    """→ (ent_a, ent_b, n_shared, is_best_a, is_best_b): cross-KB
    entity alignment — the FUSION step proper: two independently
    extracted KBs are matched entity-to-entity by the identifying
    (pred, obj) values they share, the PARIS principle (Suchanek,
    Abiteboul & Senellart, VLDB 2012): sharing the value of an
    INVERSE-FUNCTIONAL predicate (phone number, id-card, plate — one
    object names one subject) is alignment evidence; sharing a common
    multi-valued object (both "mention" the same city) is not.

    Identifying predicates are selected by PARIS inverse functionality
    (distinct objects / distinct pairs, see ``predicate_schema``)
    computed over the UNION of both KBs — the evidence pool the
    alignment will draw from — gated at ``min_inv_functionality``.
    Candidate pairs share ≥ 1 identifying (pred, obj); ``n_shared``
    counts the DISTINCT shared (pred, obj) values (assertion
    repetition is extraction noise, not evidence).  ``is_best_a``
    marks each A-entity's argmax (n_shared desc, ent_b asc — the
    repo-wide lexicographic tie rule), ``is_best_b`` the B-side
    mirror; a pair with both flags is a mutual best match, the
    high-precision accept of iterative aligners.

    Dirty-data bound: a (pred, obj) bucket asserted for more than
    ``max_bucket`` subjects per side (a placeholder phone, an empty-
    string id) is DROPPED from the evidence pool before the join —
    the hub-cap rule: without it one garbage value costs |A|×|B|
    pairs.  The cap is per-value honesty, not sampling: real
    identifying values have ~1 subject per side by the gate's own
    definition.

    Engine parity: counts are exact bigints; the gate is one
    bigint-division double against a literal threshold; ranking is
    integer + lexicographic.

    Scale shape: ONE shuffle per KB to distinct (pred, obj, subj)
    grain, ``localCheckpoint``'d because BOTH the gate pool and the
    capped evidence side read it (Spark plans no ReusedExchange across
    the differing projections — without the checkpoint each KB's
    corpus distinct runs twice; the conflict_resolution support-grain
    pattern); the gate table is pred-grain and BROADCAST back; the
    alignment join keys on (pred, obj) — with the inverse-functional
    gate each key carries ~1 subject per side, so join output ≈
    evidence size, and the cap bounds the adversarial case; the two
    argmax windows run on candidate-pair grain.  No Python.
    """
    from pyspark.sql import Window
    a = (kb_a.select(F.col(pred_col).alias('pred'),
                     F.col(obj_col).alias('obj'),
                     F.col(subj_col).alias('ent_a')).distinct()
         .localCheckpoint(eager=False))
    b = (kb_b.select(F.col(pred_col).alias('pred'),
                     F.col(obj_col).alias('obj'),
                     F.col(subj_col).alias('ent_b')).distinct()
         .localCheckpoint(eager=False))
    pairs_union = (a.select('pred', 'obj', F.col('ent_a').alias('subj'))
                   .union(b.select('pred', 'obj',
                                   F.col('ent_b').alias('subj')))
                   .distinct())
    inv = (pairs_union.groupBy('pred')
           .agg(F.countDistinct('obj').cast('long').alias('n_obj'),
                F.count('*').cast('long').alias('n_pairs')))
    identifying = inv.filter(
        (F.col('n_obj').cast('double') / F.col('n_pairs').cast('double'))
        >= F.lit(min_inv_functionality)).select('pred')
    aa = a.join(F.broadcast(identifying), 'pred')
    bb = b.join(F.broadcast(identifying), 'pred')
    cap = F.lit(max_bucket).cast('long')
    va = Window.partitionBy('pred', 'obj')
    aa = (aa.withColumn('bn', F.count('*').over(va).cast('long'))
          .filter(F.col('bn') <= cap).drop('bn'))
    bb = (bb.withColumn('bn', F.count('*').over(va).cast('long'))
          .filter(F.col('bn') <= cap).drop('bn'))
    cand = (aa.join(bb, ['pred', 'obj'])
            .groupBy('ent_a', 'ent_b')
            .agg(F.countDistinct('pred', 'obj').cast('long')
                 .alias('n_shared')))
    wa = Window.partitionBy('ent_a').orderBy(F.col('n_shared').desc(),
                                             F.col('ent_b').asc())
    wb = Window.partitionBy('ent_b').orderBy(F.col('n_shared').desc(),
                                             F.col('ent_a').asc())
    return (cand.withColumn('is_best_a', F.row_number().over(wa) == 1)
            .withColumn('is_best_b', F.row_number().over(wb) == 1)
            .select('ent_a', 'ent_b', 'n_shared', 'is_best_a',
                    'is_best_b'))


def mine_path_rules(triples: DataFrame, min_support: int = 2,
                    max_fanout: int = 1000,
                    subj_col: str = 'subj', pred_col: str = 'pred',
                    obj_col: str = 'obj',
                    _pool: DataFrame | None = None) -> DataFrame:
    """→ (head_pred, body_pred1, body_pred2, support, n_body_pairs,
    n_pca_pairs, confidence, pca_confidence): Horn-rule mining over
    the KG — every path rule of shape ``head(x, z) ⇐ body1(x, y) ∧
    body2(y, z)`` with both AMIE confidences (Galárraga, Teflioudi,
    Hose & Suchanek, WWW 2013) restricted to length-2 closed path
    rules — the KB-completion signal a fusion stage mines after
    alignment and conflict resolution have cleaned the triple pile.

    ``n_body_pairs`` counts DISTINCT (x, z) pairs the body derives,
    ``support`` the subset that exist as head assertions, and
    ``confidence = support / n_body_pairs`` (standard, closed-world).
    ``pca_confidence = support / n_pca_pairs`` restricts the
    denominator to body pairs whose x carries SOME head assertion —
    AMIE's partial-completeness assumption, the right score on an
    open-world KG where an absent head is unknown, not false
    (support ≤ n_pca_pairs ≤ n_body_pairs, so pca ≥ standard).
    Rules below ``min_support`` are cut (AMIE's head-coverage
    pruning analog).

    Dirty-data bound: the body join's shared variable y is a hub risk
    (a country node appearing as object of 10⁶ born_in triples and
    subject of 10³ located_in triples costs 10⁹ body pairs); per
    (pred, y), sides with more than ``max_fanout`` distinct partners
    are DROPPED from the body pool — the align_entities/containment
    hub-cap honesty rule (documented cut, not silent sampling).

    Engine parity: counts are exact bigints; confidence is one
    bigint division per rule row.

    Scale shape: ONE corpus shuffle to distinct-triple grain
    (``localCheckpoint``'d — three projections read it); the body
    join keys on y (both sides fanout-capped, so output ≤
    max_fanout × pool, never pool²); body dedup + size aggregation
    reuse the (q, r, x, z) grain; the head join keys on (x, z) with
    heads distinct-grain; rule rows are pred³-bounded — tiny.  No
    Python.

    ``_pool`` lets a composing caller (``infer_triples``) pass an
    already-checkpointed distinct pool so the corpus shuffle runs
    once, not twice.
    """
    from pyspark.sql import Window
    t = _pool if _pool is not None else (
        triples.select(F.col(pred_col).alias('pred'),
                       F.col(subj_col).alias('subj'),
                       F.col(obj_col).alias('obj'))
        .distinct().localCheckpoint(eager=False))
    cap = F.lit(max_fanout).cast('long')
    q_side = (t.select(F.col('pred').alias('q'), F.col('subj').alias('x'),
                       F.col('obj').alias('y'))
              .withColumn('deg', F.count('*').over(
                  Window.partitionBy('q', 'y')).cast('long'))
              .filter(F.col('deg') <= cap).drop('deg'))
    r_side = (t.select(F.col('pred').alias('r'), F.col('subj').alias('y'),
                       F.col('obj').alias('z'))
              .withColumn('deg', F.count('*').over(
                  Window.partitionBy('r', 'y')).cast('long'))
              .filter(F.col('deg') <= cap).drop('deg'))
    body = (q_side.join(r_side, 'y')
            .select('q', 'r', 'x', 'z').distinct())
    bsize = (body.groupBy('q', 'r')
             .agg(F.count('*').cast('long').alias('n_body_pairs')))
    heads = t.select(F.col('pred').alias('head_pred'),
                     F.col('subj').alias('x'), F.col('obj').alias('z'))
    support = (body.join(heads, ['x', 'z'])
               .groupBy('head_pred', 'q', 'r')
               .agg(F.count('*').cast('long').alias('support')))
    # PCA denominator (AMIE §4.2): body pairs whose x carries SOME
    # head assertion — the partial-completeness reading that a subject
    # with any head value has all of them, so only those pairs can
    # witness a counterexample
    head_subj = heads.select('head_pred', 'x').distinct()
    pca = (body.join(head_subj, 'x')
           .groupBy('head_pred', 'q', 'r')
           .agg(F.count('*').cast('long').alias('n_pca_pairs')))
    return (support.join(pca, ['head_pred', 'q', 'r'])
            .join(F.broadcast(bsize), ['q', 'r'])
            .filter(F.col('support') >= F.lit(min_support).cast('long'))
            .select('head_pred', F.col('q').alias('body_pred1'),
                    F.col('r').alias('body_pred2'), 'support',
                    'n_body_pairs', 'n_pca_pairs',
                    (F.col('support').cast('double')
                     / F.col('n_body_pairs').cast('double'))
                    .alias('confidence'),
                    (F.col('support').cast('double')
                     / F.col('n_pca_pairs').cast('double'))
                    .alias('pca_confidence')))


def infer_triples(triples: DataFrame, min_support: int = 2,
                  min_confidence: float = 0.5, max_fanout: int = 1000,
                  subj_col: str = 'subj', pred_col: str = 'pred',
                  obj_col: str = 'obj') -> DataFrame:
    """→ (pred, subj, obj, body_pred1, body_pred2, confidence): KB
    completion — apply the rules ``mine_path_rules`` admits (support ≥
    ``min_support``, confidence ≥ ``min_confidence``) back onto the KG
    and emit the head triples the body DERIVES but the KG does not yet
    assert, each with its rule provenance (the fusion loop's last
    step: aligned, conflict-resolved, type-checked triples in —
    high-confidence candidate facts out, carrying the evidence a
    curator or a downstream truth-discovery pass needs).

    One inferred fact may arrive through several rules — one row per
    (fact, rule): provenance is the point, and a consumer dedups on
    (pred, subj, obj) at whatever confidence policy it runs.

    Engine parity: the admission compares are a bigint threshold and
    one double-vs-literal; everything else is exact joins.

    Scale shape: rule mining's shuffles (see ``mine_path_rules``) plus
    ONE body re-derivation under the admitted-rule BROADCAST
    (rules are pred³-bounded) and ONE anti-join against the
    distinct-head grain keyed (pred, x, z).  No Python.
    """
    from pyspark.sql import Window
    t = (triples.select(F.col(pred_col).alias('pred'),
                        F.col(subj_col).alias('subj'),
                        F.col(obj_col).alias('obj'))
         .distinct().localCheckpoint(eager=False))
    rules = (mine_path_rules(triples, min_support=min_support,
                             max_fanout=max_fanout, _pool=t)
             .filter(F.col('confidence') >= F.lit(min_confidence))
             .select('head_pred', 'body_pred1', 'body_pred2',
                     'confidence'))
    cap = F.lit(max_fanout).cast('long')
    q_side = (t.select(F.col('pred').alias('body_pred1'),
                       F.col('subj').alias('x'), F.col('obj').alias('y'))
              .withColumn('deg', F.count('*').over(
                  Window.partitionBy('body_pred1', 'y')).cast('long'))
              .filter(F.col('deg') <= cap).drop('deg'))
    r_side = (t.select(F.col('pred').alias('body_pred2'),
                       F.col('subj').alias('y'), F.col('obj').alias('z'))
              .withColumn('deg', F.count('*').over(
                  Window.partitionBy('body_pred2', 'y')).cast('long'))
              .filter(F.col('deg') <= cap).drop('deg'))
    derived = (q_side.join(r_side, 'y')
               .join(F.broadcast(rules), ['body_pred1', 'body_pred2'])
               .select(F.col('head_pred').alias('pred'),
                       F.col('x').alias('subj'), F.col('z').alias('obj'),
                       'body_pred1', 'body_pred2', 'confidence')
               .distinct())
    return derived.join(t, ['pred', 'subj', 'obj'], 'left_anti')


def truth_discovery(claims: DataFrame, iters: int = 2,
                    init_trust: float = 0.5,
                    subj_col: str = 'subj', pred_col: str = 'pred',
                    obj_col: str = 'obj',
                    source_col: str = 'source') -> DataFrame:
    """→ (pred, subj, obj, n_sources, n_alternatives, confidence,
    is_winner): iterative source-trust truth discovery — the upgrade
    of ``conflict_resolution``'s majority vote to the Dong, Berti-
    Équille & Srivastava (VLDB 2009) / TruthFinder family: fact
    confidence and source trustworthiness reinforce each other, so a
    VOTE TIE resolves toward the sources the rest of the KG proved
    reliable instead of falling to the lexicographic rule, and a
    majority of copy-paste junk hosts can lose to a trusted minority.

    Per round: ``confidence(f) = Σ trust(s)`` over the DISTINCT
    sources asserting f; normalized per (pred, subj) by the window
    max; ``trust(s)`` = mean of s's facts' normalized confidences.
    ``iters`` rounds from a flat ``init_trust`` (round 1 ≡ weighted
    majority; differentiation enters at round 2).  Conflicted facts
    (>1 alternative) are emitted with the final confidence; winner =
    (confidence desc, obj asc).

    Engine parity: the two cross-row reductions (per-fact trust sum,
    per-source nconf sum) ride decimal(38,18) via string (exact,
    order-independent — the pagerank rule); the normalization is one
    per-row double division by an exact window max; trust is one
    division by a bigint count.  Values are engine-identical by
    induction round over round.

    Scale shape: claims dedup to (fact, source) grain ONCE
    (checkpointed); each round is claims ⋈ trust (source-keyed; the
    source table is hosts-sized) → fact-grain aggregation (map-side
    combined) → (pred, subj) window on fact grain → claims ⋈ nconf
    (fact-keyed) → source-grain aggregation, all claims-bounded, with
    a ``localCheckpoint`` per round (iterative-driver rule).  Hot
    facts/hosts are groupBy skew — AQE applies.  No Python.
    """
    from pyspark.sql import Window
    c = (claims.select(F.col(pred_col).alias('pred'),
                       F.col(subj_col).alias('subj'),
                       F.col(obj_col).alias('obj'),
                       F.col(source_col).alias('source'))
         .distinct().localCheckpoint(eager=False))
    trust = (c.select('source').distinct()
             .withColumn('trust', F.lit(float(init_trust))))
    grp = Window.partitionBy('pred', 'subj')
    nconf = None
    n_iters = max(1, iters)
    for i in range(n_iters):
        conf = (c.join(trust, 'source')
                .groupBy('pred', 'subj', 'obj')
                .agg(F.sum(F.col('trust').cast('string')
                           .cast('decimal(38,18)')).alias('cs'),
                     F.count('*').cast('long').alias('n_sources'))
                .withColumn('confidence',
                            F.col('cs').cast('string').cast('double'))
                .drop('cs'))
        nconf = conf.withColumn(
            'nconf', F.col('confidence') / F.max('confidence').over(grp))
        if i == n_iters - 1:
            # only nconf is consumed after the loop — the final trust
            # update was one wasted claims-join + source aggregation job
            # per call (ADVICE r7)
            break
        trust = (c.join(nconf.select('pred', 'subj', 'obj', 'nconf'),
                        ['pred', 'subj', 'obj'])
                 .groupBy('source')
                 .agg((F.sum(F.col('nconf').cast('string')
                             .cast('decimal(38,18)'))
                       .cast('string').cast('double')
                       / F.count('*').cast('double')).alias('trust'))
                 .localCheckpoint(eager=False))
    wk = grp.orderBy(F.col('confidence').desc(), F.col('obj').asc())
    return (nconf
            .withColumn('n_alternatives',
                        F.count('*').over(grp).cast('long'))
            .filter(F.col('n_alternatives') > 1)
            .withColumn('is_winner', F.row_number().over(wk) == 1)
            .select('pred', 'subj', 'obj', 'n_sources', 'n_alternatives',
                    'confidence', 'is_winner'))


def align_entities_iterated(kb_a: DataFrame, kb_b: DataFrame,
                            rounds: int = 2,
                            min_inv_functionality: float = 0.8,
                            max_bucket: int = 64, min_accept: int = 1,
                            subj_col: str = 'subj',
                            pred_col: str = 'pred',
                            obj_col: str = 'obj') -> DataFrame:
    """→ (ent_a, ent_b, n_shared, is_best_a, is_best_b): PARIS-style
    ITERATED alignment — ``align_entities`` is round 1; each further
    round takes the accepted matches (mutual best with ``n_shared ≥
    min_accept``) and REWRITES KB-B's entity-valued objects into
    KB-A's namespace through them, so relations pointing AT matched
    entities become shared evidence for the entities pointing at
    them.  This is the fixpoint step of PARIS (Suchanek et al., VLDB
    2012 §5): two people with no shared literal align once their
    employers do — evidence literal matching alone can never see.
    The final round's full candidate table is returned (it supersedes
    earlier rounds; every earlier accepted pair re-derives from the
    same evidence plus the unlocked relations).

    Rewrites go OBJECT-side only and always from the ORIGINAL kb_b
    under the latest match map: subjects keep their B identity (they
    are what is being matched), and literals never collide with
    entity ids under the caller's namespace discipline.

    Engine parity and the per-round scale shape are
    ``align_entities``'s; the match map is matched-pair-sized and
    BROADCAST into the rewrite, so each round adds one broadcast
    projection over kb_b plus a fresh alignment — rounds are a small
    fixed count (PARIS converges in a handful).
    """
    # canonicalize BOTH KBs to (pred, subj, obj) once at entry: rounds >= 2
    # re-call align_entities with default column names, which silently
    # mis-selected (or raised) for callers using non-default columns
    # (ADVICE r7); with default names the rename is a no-op projection
    a_raw = kb_a.select(F.col(pred_col).alias('pred'),
                        F.col(subj_col).alias('subj'),
                        F.col(obj_col).alias('obj'))
    b_raw = kb_b.select(F.col(pred_col).alias('pred'),
                        F.col(subj_col).alias('subj'),
                        F.col(obj_col).alias('obj'))
    out = align_entities(a_raw, b_raw, min_inv_functionality,
                         max_bucket, 'subj', 'pred', 'obj')
    for _ in range(max(1, rounds) - 1):
        accepted = (out.filter(F.col('is_best_a') & F.col('is_best_b')
                               & (F.col('n_shared')
                                  >= F.lit(min_accept).cast('long')))
                    .select('ent_a', 'ent_b'))
        b2 = (b_raw.join(F.broadcast(accepted),
                         b_raw['obj'] == accepted['ent_b'], 'left')
              .select('pred', 'subj',
                      F.coalesce('ent_a', 'obj').alias('obj')))
        out = align_entities(a_raw, b2, min_inv_functionality,
                             max_bucket, 'subj', 'pred', 'obj')
    return out


def _rule_side(t: DataFrame, pred_as: str, s_as: str, o_as: str,
               cap_key: str, max_fanout: int) -> DataFrame:
    """One fanout-capped body atom for the rule miners: the distinct
    pool projected to (pred_as, s_as, o_as) with rows dropped where
    the predicate's ``cap_key``-side partner count exceeds
    ``max_fanout`` (the hub-join guard)."""
    from pyspark.sql import Window
    return (t.select(F.col('pred').alias(pred_as),
                     F.col('subj').alias(s_as),
                     F.col('obj').alias(o_as))
            .withColumn('deg', F.count('*').over(
                Window.partitionBy(pred_as, cap_key)).cast('long'))
            .filter(F.col('deg') <= F.lit(max_fanout).cast('long'))
            .drop('deg'))


def mine_path_rules3(triples: DataFrame, min_support: int = 2,
                     max_fanout: int = 1000,
                     subj_col: str = 'subj', pred_col: str = 'pred',
                     obj_col: str = 'obj') -> DataFrame:
    """→ (head_pred, body_pred1, body_pred2, body_pred3, support,
    n_body_pairs, n_pca_pairs, confidence, pca_confidence): length-3
    closed path rules ``head(x, w) ⇐ b1(x, y) ∧ b2(y, z) ∧ b3(z, w)``
    — the depth-3 extension of ``mine_path_rules`` (same AMIE
    measures, same distinct-pair semantics, same PCA denominator).

    Both shared variables (y and z) are hub risks, so BOTH carry the
    per-(pred, node) ``max_fanout`` cap on each joining side — the
    second cap stage a 3-atom body needs (without it a single hub z
    multiplies an already-joined (x, z) pair set).  The rule space is
    pred⁴-bounded; prune aggressively with ``min_support`` — real
    miners also restrict the predicate sets per slot, which a caller
    does by filtering ``triples`` before the call.

    Scale shape: ONE corpus shuffle to the checkpointed distinct
    pool; two y-/z-keyed body joins (each side capped, output ≤
    max_fanout × previous stage); body dedup on (b1, b2, b3, x, w);
    head join on (x, w); everything downstream body-grain.  No
    Python.
    """
    t = (triples.select(F.col(pred_col).alias('pred'),
                        F.col(subj_col).alias('subj'),
                        F.col(obj_col).alias('obj'))
         .distinct().localCheckpoint(eager=False))
    from pyspark.sql import Window
    q_side = _rule_side(t, 'q', 'x', 'y', 'y', max_fanout)
    # the middle atom joins through BOTH its variables — cap each
    r_side = (_rule_side(t, 'r', 'y', 'z', 'y', max_fanout)
              .withColumn('deg2', F.count('*').over(
                  Window.partitionBy('r', 'z')).cast('long'))
              .filter(F.col('deg2') <= F.lit(max_fanout).cast('long'))
              .drop('deg2'))
    s_side = _rule_side(t, 's', 'z', 'w', 'z', max_fanout)
    body = (q_side.join(r_side, 'y')
            .select('q', 'r', 'x', 'z')
            .join(s_side, 'z')
            .select('q', 'r', 's', 'x', 'w').distinct())
    bsize = (body.groupBy('q', 'r', 's')
             .agg(F.count('*').cast('long').alias('n_body_pairs')))
    heads = t.select(F.col('pred').alias('head_pred'),
                     F.col('subj').alias('x'), F.col('obj').alias('w'))
    support = (body.join(heads, ['x', 'w'])
               .groupBy('head_pred', 'q', 'r', 's')
               .agg(F.count('*').cast('long').alias('support')))
    head_subj = heads.select('head_pred', 'x').distinct()
    pca = (body.join(head_subj, 'x')
           .groupBy('head_pred', 'q', 'r', 's')
           .agg(F.count('*').cast('long').alias('n_pca_pairs')))
    return (support.join(pca, ['head_pred', 'q', 'r', 's'])
            .join(F.broadcast(bsize), ['q', 'r', 's'])
            .filter(F.col('support') >= F.lit(min_support).cast('long'))
            .select('head_pred', F.col('q').alias('body_pred1'),
                    F.col('r').alias('body_pred2'),
                    F.col('s').alias('body_pred3'), 'support',
                    'n_body_pairs', 'n_pca_pairs',
                    (F.col('support').cast('double')
                     / F.col('n_body_pairs').cast('double'))
                    .alias('confidence'),
                    (F.col('support').cast('double')
                     / F.col('n_pca_pairs').cast('double'))
                    .alias('pca_confidence')))
