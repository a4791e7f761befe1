"""Driver-local per-kernel cost of the fused mention pass.

Replays, in this process, the kernel calls that
``functions.udfs.make_linked_mentions_udf`` makes per page (HTML
cleaning, normalization, the rule sweep, money, time, the location
trie, and the canonicalizing parsers behind linking), through the
kernels' public getters.  The slice is timed twice: the first pass
starts from empty time/money memos, the repeat pass finds them warm.
"""

from __future__ import annotations

import time

from perfbench.metrics import KERNELS


def _link_cost(bundle, ex, plate_parse, mentions) -> None:
    for mtype, text in mentions:
        if mtype in ('cell_phone', 'landline_phone'):
            bundle.phone.locate(text)
            bundle.phone.canonical_number(text)
        elif mtype == 'id_card':
            bundle.idcard.parse(text)
        elif mtype == 'email':
            ex.email_domain(text)
        elif mtype == 'licence_plate':
            plate_parse(text)
        elif mtype == 'location':
            bundle.location.parse(text)


def time_kernels(pages: list) -> dict:
    """``pages``: [(html bytes, warc_ts datetime)].  → {pass: {kernel:
    microseconds per page}} for the 'first' and 'repeat' passes."""
    from jionlp_spark import lexicons
    from jionlp_spark.functions.udfs import LexiconBundle
    from jionlp_spark.kernels.cleaner import get_cleaner
    from jionlp_spark.kernels.extractors import get_extractor
    from jionlp_spark.kernels.html_clean import clean_html
    from jionlp_spark.kernels.money_extract import get_money_extractor
    from jionlp_spark.kernels.plate import parse_licence_plate
    from jionlp_spark.kernels.time_extract import get_time_extractor
    from jionlp_spark.kernels.trie import build_trie

    bundle = LexiconBundle()
    trie = build_trie({'location': lexicons.location_ner_words()})
    cleaner, ex = get_cleaner(), get_extractor()
    mex, tex = get_money_extractor(), get_time_extractor()
    clock = time.perf_counter

    out = {}
    for pass_name in ('first', 'repeat'):
        acc = dict.fromkeys(KERNELS, 0.0)
        for html, ts in pages:
            t0 = clock()
            body, _meta = clean_html(html.decode('utf-8', errors='replace'))
            t1 = clock()
            text = cleaner.clean_text(
                body, remove_html_tag=False, remove_parentheses=False,
                remove_url=False, remove_email=False,
                remove_phone_number=False)
            t2 = clock()
            swept = ex.sweep(text)
            t3 = clock()
            mex.extract(text, with_parsing=True)
            t4 = clock()
            tex.extract(text, ts, with_parsing=True)
            t5 = clock()
            hits = trie.scan_fmm(text)
            t6 = clock()
            _link_cost(bundle, ex, parse_licence_plate,
                       [(m['type'], m['text']) for m in swept + hits])
            t7 = clock()
            for k, a, b in (('html_clean', t0, t1), ('normalize', t1, t2),
                            ('sweep', t2, t3), ('money', t3, t4),
                            ('time', t4, t5), ('lexicon_trie', t5, t6),
                            ('link', t6, t7), ('total', t0, t7)):
                acc[k] += b - a
        out[pass_name] = {k: v * 1e6 / max(len(pages), 1)
                          for k, v in acc.items()}
    return out
