"""C1/C2/C3 — URL canonicalization, fingerprint, host bucketing (SURVEY.md §2.1).

C1 is the shared pure function (engine/urlnorm.py) — the same code the
pyref oracle runs, so the URL-seen set matches by construction.  Seeds
cross into it through the Arrow-batched ``canonicalize_udf``; a crawl's
outlinks are canonicalized inside the fused fetch crossing
(engine/fetch.py ``canonical_links``).  C2 is Spark's built-in
``F.xxhash64`` (exact spec match, BASELINE.json:6; JVM-side, codegen'd).
C3 derives host/path with native regexp_extract so Catalyst can fold/prune
them (no Python).
No per-row ``F.udf`` anywhere (BASELINE.json:15 discipline).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from engine.urlnorm import canonicalize_url

# Canonical URLs produced by C1: scheme://host[:port]/path[?query]
_HOST_RE = r"^[a-z]+://([^/:?]+)"
_PATH_RE = r"^[a-z]+://[^/]+(/[^?]*)"

# Fast-path test: URLs matching this are FIXED POINTS of canonicalize_url
# (lowercase scheme+host, no port/userinfo/query/fragment/percent-escapes,
# and a path alphabet that cannot contain dot-segments), so they skip the
# full normalization.  Conservative by construction: any URL this regex
# cannot prove canonical takes the full canonicalize_url path.  On
# web-shaped link distributions the fast path covers the large majority of
# outlinks — the dominant per-epoch Python cost at scale.
CANONICAL_FAST_RE = r"^https?://[a-z0-9]([a-z0-9.-]*[a-z0-9])?/[A-Za-z0-9_/-]*$"


@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """C1 for absolute URLs (seed ingest)."""
    return urls.map(lambda u: canonicalize_url(u) if u is not None else None)


def host_expr() -> Column:
    """C3: registrable host of the already-canonical ``url`` (JVM-side)."""
    return F.regexp_extract(F.col("url"), _HOST_RE, 1)


def path_expr() -> Column:
    """Path component (no query) of the already-canonical ``url`` (JVM-side)."""
    return F.regexp_extract(F.col("url"), _PATH_RE, 1)


def host_bucket_expr(n_buckets: int) -> Column:
    """Frontier host bucket of the ``host`` column: the key that spreads the
    pending cell's rows over its write tasks (engine/crawl.py
    ``_write_cells``)."""
    return F.pmod(F.xxhash64(F.col("host")), F.lit(n_buckets)).cast("int")


def with_url_keys(df: DataFrame, n_buckets: int) -> DataFrame:
    """C2 + C3: url_hash, host, host_bucket columns from the canonical ``url``."""
    return (
        df.withColumn("url_hash", F.xxhash64(F.col("url")))
        .withColumn("host", host_expr())
        .withColumn("host_bucket", host_bucket_expr(n_buckets))
    )
