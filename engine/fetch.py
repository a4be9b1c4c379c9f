"""F6 fetch + X1 parse + X2 extract + C1 canonicalize — one fused Arrow
crossing (UD2).

SURVEY.md §3.1 notes stages 4-5 form a narrow chain with no shuffle between
them; fusing fetch/parse/extract into a single ``mapInPandas`` removes a
JVM↔Python Arrow round-trip per epoch (the hot path of the URLs/sec
north-star).  C1 rides the same crossing: each document's raw ``outlinks``
are resolved against its URL and canonicalized here, into ``links``, so the
candidate extraction downstream (engine/parse.py) is JVM-only and no
separate canonicalization UDF runs per link.  The content source is the
deterministic synthetic graph (engine/synthgraph.py, shared with the pyref
oracle — FIXTURES.md §2); in production this function body is the HTTP
client + HTML tokenizer, with the same batch signature.

Politeness delay bookkeeping (min_delay_s): the pop order within a host IS
the fetch order (F5's fetch_seq_in_host), so each row's logical fetch time
is ``fetch_at_s = fetch_seq_in_host * min_delay_s`` — computed vectorized
inside the batch and guaranteed <= cfg.epoch_window_s because the F5 pop
caps k at floor(window/delay)+1 (engine/crawl.py delay_cap_expr; parity
with pyref under nonzero delays pinned by tests/test_politeness_delay.py).
In production the batch loop additionally sleeps to the fetch_at_s
schedule per host — rows arrive host-clustered after F5's shuffle, so the
serialization is local to a task (SURVEY.md §2.1 F6); with the synthetic
zero-latency fetcher the schedule is bookkeeping only.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from engine.canonicalize import CANONICAL_FAST_RE
from engine.schemas import FETCHED
from engine.synthgraph import GraphConfig, fetch_fails, synth_doc
from engine.urlnorm import canonicalize_url

_FAST = re.compile(CANONICAL_FAST_RE)


def canonical_links(outlinks: list[str], base: str) -> list[str]:
    """C1 for one document: its raw outlinks resolved against ``base`` and
    canonicalized, in raw order, unusable links dropped.  A link
    CANONICAL_FAST_RE proves canonical is its own canonical form, so it
    skips the full normalization."""
    fast = _FAST.match
    out = []
    for u in outlinks:
        c = u if fast(u) else canonicalize_url(u, base=base)
        if c is not None:
            out.append(c)
    return out


def fetch_parse(popped: DataFrame, cfg: GraphConfig) -> DataFrame:
    """(url_hash, url, host, depth, retries[, fetch_seq_in_host,
    min_delay_s]) → FETCHED schema rows: ``outlinks`` holds the raw links,
    ``links`` their canonical forms (:func:`canonical_links`).  The two
    optional columns drive the fetch_at_s delay schedule; absent (e.g. the
    synth_fetch_spans parity query feeds a raw frontier), the schedule is
    all-zero."""
    has_delay = {"fetch_seq_in_host", "min_delay_s"} <= set(popped.columns)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, spans_col, outlinks_col, links_col = [], [], [], []
            for url, retries in zip(pdf["url"], pdf["retries"]):
                if fetch_fails(url, int(retries), cfg):
                    oks.append(False)
                    spans_col.append(None)
                    outlinks_col.append(None)
                    links_col.append(None)
                    continue
                spans, outlinks = synth_doc(url, cfg)
                oks.append(True)
                spans_col.append(
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for (k, t, m, o) in spans
                    ]
                )
                outlinks_col.append(outlinks)
                links_col.append(canonical_links(outlinks, url))
            if has_delay:
                fetch_at = (
                    pdf["fetch_seq_in_host"].astype("float64") * pdf["min_delay_s"]
                )
            else:
                fetch_at = 0.0
            yield pd.DataFrame(
                {
                    "url_hash": pdf["url_hash"],
                    "url": pdf["url"],
                    "host": pdf["host"],
                    "depth": pdf["depth"],
                    "retries": pdf["retries"],
                    "ok": oks,
                    "spans": spans_col,
                    "outlinks": outlinks_col,
                    "links": links_col,
                    "fetch_at_s": fetch_at,
                }
            )

    cols = ["url_hash", "url", "host", "depth", "retries"]
    if has_delay:
        cols += ["fetch_seq_in_host", "min_delay_s"]
    return popped.select(*cols).mapInPandas(run, FETCHED)
