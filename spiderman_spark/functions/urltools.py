"""URL canonicalization + request fingerprinting — shared by the Spark engine
and the reference simulator so dedup semantics match bit-for-bit.

Reference parity: scrapy-redis RFPDupeFilter computes sha1 over
(method, canonical url, body) — `SP/settings.py:103` pins
scrapy_redis==0.6.8 whose filter delegates to scrapy's
request_fingerprint.  We reproduce the skeleton (sha1 over
method + canonicalized URL; our synthetic requests carry no body) and keep the
whole thing a pure function so it can run driver-side (simulator) and inside
the engine's Arrow parse stage (operators/parse.py) unchanged.

Scale note: the persistent URL-seen table is keyed by ``xxhash64(canonical)``
(8 bytes vs 40-hex sha1) per the north rule; the sha1 fingerprint column is
retained for reference parity. Both derive from the same canonical form.
"""

# NOTE: no `from __future__ import annotations` here — stringified type hints
# break pandas_udf signature inference inside register_udfs().
import hashlib
from urllib.parse import urljoin as _urljoin


def canonical(url: str) -> str:
    """w3lib-lite canonicalization: lowercase scheme+netloc, drop fragment,
    strip a bare trailing '?'.  Sufficient for the synthetic URL space; the
    rule set is centralized here so widening it changes every consumer."""
    url = url.split("#", 1)[0].rstrip("?")
    if "://" in url:
        scheme, rest = url.split("://", 1)
        if "/" in rest:
            netloc, path = rest.split("/", 1)
            return f"{scheme.lower()}://{netloc.lower()}/{path}"
        return f"{scheme.lower()}://{rest.lower()}"
    return url


def fingerprint(method: str, url: str, body: str = "") -> str:
    """sha1 over (method, canonical url, request body) hexdigest — the dedup
    key.  Matches scrapy's request_fingerprint skeleton, which hashes the
    body too (`SP/utils/base.py:18-25` carries ``body`` on ScheduledRequest;
    `SP/spiders/SPRedisSpider.py:39-50` builds FormRequests from it): two
    POSTs to one URL with different payloads are different requests.

    Each component is length-prefixed before hashing (scrapy feeds them as
    separate update() calls for the same reason): URLs legally contain the
    would-be delimiter, so a joined string lets distinct (url, body) pairs
    collide — e.g. ('http://h/a:b', '') vs ('http://h/a', 'b:')."""
    h = hashlib.sha1()
    for part in (method, canonical(url), body or ""):
        b = part.encode()
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    return h.hexdigest()


def urljoin(base: str, link: str) -> str:
    """Resolve a possibly-relative link against the response URL (F10,
    `SP/spiders/zhifang.py:76,125` response.urljoin)."""
    return _urljoin(base, link)


def host_of(url: str) -> str:
    return url.split("/", 3)[2] if "://" in url else url.split("/", 1)[0]


# ------------------------------------------------------------ pandas UDFs

_UDF_CACHE: tuple[str, dict] | None = None


def register_udfs():
    """Column-level vectorized versions. Imported lazily so the pure functions
    above stay usable without pyspark on the path.  The crawl engine does not
    use them (parse_pages computes fp/canon in its own Python pass); they
    serve callers that fingerprint an existing DataFrame.  Memoized PER
    SparkContext (a UserDefinedFunction caches its JVM handle against the
    context that first used it, so a process that restarts sessions must not
    reuse stale handles): pandas_udf construction is driver/py4j work a
    per-round caller would otherwise repay on every call."""
    global _UDF_CACHE
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    # no active session → no applicationId to memoize against: build fresh
    # handles and do NOT cache them (two sessionless callers in different
    # restarted contexts must never share JVM handles via an "" key)
    key = active.sparkContext.applicationId if active is not None else None
    if key is not None and _UDF_CACHE is not None and _UDF_CACHE[0] == key:
        return _UDF_CACHE[1]
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def canonical_udf(urls: pd.Series) -> pd.Series:
        return urls.map(canonical)

    @F.pandas_udf(StringType())
    def fingerprint_udf(
        methods: pd.Series, urls: pd.Series, bodies: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [fingerprint(m, u, b) for m, u, b in zip(methods, urls, bodies)],
            dtype="object",
        )

    @F.pandas_udf(StringType())
    def urljoin_udf(bases: pd.Series, links: pd.Series) -> pd.Series:
        return pd.Series([_urljoin(b, l) for b, l in zip(bases, links)], dtype="object")

    udfs = {
        "canonical": canonical_udf,
        "fingerprint": fingerprint_udf,
        "urljoin": urljoin_udf,
    }
    if key is not None:
        _UDF_CACHE = (key, udfs)
    return udfs
