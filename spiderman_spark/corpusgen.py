"""Deterministic synthetic-web generator (the sandbox's "network").

Mirrors the page structure of the reference's zhifang demo — list pages link to
detail pages link to image files (`/root/reference/SP/spiders/zhifang.py:63-132`)
— as a pure function of ``(spec.seed, url)``: any row is recomputable
independently, so the corpus can be generated distributedly with
``mapInPandas`` (scale path) or enumerated driver-side (simulator path) and the
two agree byte-for-byte.

Two tables come out (FIXTURES.md §1):

- ``crawl_corpus(url, host, kind, http_status, body, body_size, out_links)``
  — one row per fetchable URL; ``body`` is the JSON "response" the parse UDFs
  consume (relative links inside, to exercise urljoin); ``out_links`` is the
  absolute ground truth used only by the simulator/tests.
- ``image_corpus(image_id, url, bytes, w, h, fmt, caption, phash)`` — the
  image+caption corpus with exactly the input_hint shape (BASELINE.json:15).

Skew: host assignment sends ~1/3 of URLs to host 0 (the mega-host), the rest
uniformly across the others, to exercise per-host salting (SURVEY.md §4 skew
row).  Failures: a seeded minority of URLs get retryable HTTP codes
(`SP/settings.py:121-124`) or undersized bodies (`SPMiddleWare.py:145-153`);
these are *persistent* (pure function of URL), so retry semantics are
observable: 3 attempts then failed.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from . import imagecodec

RETRY_HTTP_CODES = (500, 502, 503, 504, 522, 524, 408, 400, 403, 404)
_FAIL_CODES = (500, 503, 404)  # seeded failure codes used by the generator


@dataclass(frozen=True)
class CorpusSpec:
    """Scale + determinism knobs.  FIXTURES.md §8 suggested scales."""

    seed: int = 42
    hosts: int = 3
    list_pages: int = 5
    details_per_page: int = 4
    images_per_detail: int = 2
    overlap: int = 1  # details of page p-1 re-linked from page p (dup pressure)
    fail_mod: int = 37  # ~1/37 URLs get a retryable http_status
    small_mod: int = 53  # ~1/53 URLs get body_size < minsize
    minsize: int = 64  # body-size retry threshold (MINSIZE)
    img_lo: int = 16  # image dimension range (px)
    img_hi: int = 64
    # True (default): ~1/3 of URLs land on host 0 (exercises per-host skew
    # salting).  False: uniform hosts — the regime of a real 10^7-host web,
    # where the largest host is far below any worker's share.
    mega_host: bool = True

    @property
    def total_urls(self) -> int:
        p, d, i = self.list_pages, self.details_per_page, self.images_per_detail
        return p + p * d + p * d * i


UNIT = CorpusSpec()
CORRECTNESS = CorpusSpec(hosts=17, list_pages=50, details_per_page=10, images_per_detail=3)
BENCH = CorpusSpec(hosts=64, list_pages=500, details_per_page=20, images_per_detail=4)


def _h32(spec: CorpusSpec, key: str) -> int:
    return int(hashlib.md5(f"{spec.seed}:{key}".encode()).hexdigest()[:8], 16)


def _host_idx(spec: CorpusSpec, kind: str, p: int, j: int, m: int) -> int:
    if spec.hosts == 1:
        return 0
    raw = _h32(spec, f"host:{kind}:{p}:{j}:{m}")
    if not spec.mega_host:
        return raw % spec.hosts
    if raw % 3 == 0:  # mega-host: ~1/3 of all URLs
        return 0
    return 1 + raw % (spec.hosts - 1)


def _host_name(idx: int) -> str:
    return f"h{idx}.example.test"


def list_url(spec: CorpusSpec, p: int) -> str:
    return f"http://{_host_name(_host_idx(spec, 'list', p, 0, 0))}/list/{p}"


def detail_url(spec: CorpusSpec, p: int, j: int) -> str:
    return f"http://{_host_name(_host_idx(spec, 'detail', p, j, 0))}/detail/{p}/{j}"


def image_url(spec: CorpusSpec, p: int, j: int, m: int) -> str:
    return f"http://{_host_name(_host_idx(spec, 'image', p, j, m))}/img/{p}/{j}/{m}.png"


def host_of(url: str) -> str:
    return url.split("/", 3)[2]


def http_status(spec: CorpusSpec, url: str) -> int:
    raw = _h32(spec, f"st:{url}")
    if raw % spec.fail_mod == 0:
        return _FAIL_CODES[(raw // spec.fail_mod) % len(_FAIL_CODES)]
    return 200


def _rel_or_abs(child_abs: str, parent_abs: str) -> str:
    """Same-host links rendered relative (exercises urljoin, F10); cross-host absolute."""
    if host_of(child_abs) == host_of(parent_abs):
        return "/" + child_abs.split("/", 3)[3]
    return child_abs


def _pad_body(spec: CorpusSpec, url: str, body: str) -> str:
    small = _h32(spec, f"sz:{url}") % spec.small_mod == 0
    if small:
        return body  # left undersized on purpose → size-retry path (P5)
    if len(body) < spec.minsize:
        body += " " * (spec.minsize - len(body))
    return body


def md5_upper(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest().upper()


def list_out_links(spec: CorpusSpec, p: int) -> list[str]:
    links = [detail_url(spec, p, j) for j in range(1, spec.details_per_page + 1)]
    if p > 1:  # duplicate pressure: re-link some of the previous page's details
        links += [detail_url(spec, p - 1, j) for j in range(1, min(spec.overlap, spec.details_per_page) + 1)]
    return links


def detail_out_links(spec: CorpusSpec, p: int, j: int) -> list[str]:
    return [image_url(spec, p, j, m) for m in range(1, spec.images_per_detail + 1)]


def list_body(spec: CorpusSpec, p: int) -> str:
    url = list_url(spec, p)
    rows = []
    for link in list_out_links(spec, p):
        raw = _h32(spec, f"item:{link}")
        rows.append(
            {
                "title": f"listing {link.rsplit('/', 2)[-2]}-{link.rsplit('/', 1)[-1]}",
                "desc": f"desc {raw % 1000}",
                "location": f"block-{raw % 50}",
                "price": f"单价{3000 + raw % 9000}元",  # kafka_mon.py:27 regex target
                "detail_url": _rel_or_abs(link, url),
            }
        )
    return _pad_body(spec, url, json.dumps({"kind": "list", "pagenum": p, "rows": rows}))


def detail_body(spec: CorpusSpec, p: int, j: int) -> str:
    url = detail_url(spec, p, j)
    raw = _h32(spec, f"detail:{url}")
    fields = {
        "type1": f"t{raw % 5}",
        "type2": f"u{raw % 7}",
        "type3": f"v{raw % 3}",
        "plot_name": f"plot-{raw % 200}",
        "area": f"{40 + raw % 160}㎡",
        "look_time": f"2024-0{1 + raw % 9}-{10 + raw % 19}",
        "source_id": str(raw % 100000),
    }
    imgs = [_rel_or_abs(u, url) for u in detail_out_links(spec, p, j)]
    return _pad_body(
        spec, url, json.dumps({"kind": "detail", "fields": fields, "image_urls": imgs})
    )


def corpus_row(spec: CorpusSpec, kind: str, p: int, j: int = 0, m: int = 0) -> dict:
    if kind == "list":
        url, body, links = list_url(spec, p), list_body(spec, p), list_out_links(spec, p)
    elif kind == "detail":
        url, body, links = detail_url(spec, p, j), detail_body(spec, p, j), detail_out_links(spec, p, j)
    elif kind == "image":
        url, body, links = image_url(spec, p, j, m), "", []
    else:
        raise ValueError(kind)
    return {
        "url": url,
        "host": host_of(url),
        "kind": kind,
        "http_status": http_status(spec, url),
        "body": body,
        "body_size": len(body),
        "out_links": links,
    }


def iter_keys(spec: CorpusSpec):
    """Flat deterministic enumeration of every (kind, p, j, m) key."""
    for p in range(1, spec.list_pages + 1):
        yield ("list", p, 0, 0)
    for p in range(1, spec.list_pages + 1):
        for j in range(1, spec.details_per_page + 1):
            yield ("detail", p, j, 0)
    for p in range(1, spec.list_pages + 1):
        for j in range(1, spec.details_per_page + 1):
            for m in range(1, spec.images_per_detail + 1):
                yield ("image", p, j, m)


def key_from_ordinal(spec: CorpusSpec, i: int) -> tuple[str, int, int, int]:
    """Ordinal → key, matching iter_keys order (enables spark.range generation)."""
    p_, d_, im = spec.list_pages, spec.details_per_page, spec.images_per_detail
    if i < p_:
        return ("list", i + 1, 0, 0)
    i -= p_
    if i < p_ * d_:
        return ("detail", i // d_ + 1, i % d_ + 1, 0)
    i -= p_ * d_
    per_page = d_ * im
    return ("image", i // per_page + 1, (i % per_page) // im + 1, (i % per_page) % im + 1)


def image_corpus_row(spec: CorpusSpec, p: int, j: int, m: int) -> dict:
    url = image_url(spec, p, j, m)
    image_id = md5_upper(url)
    w, h = imagecodec.gen_dims(spec.seed, image_id, spec.img_lo, spec.img_hi)
    fmt = imagecodec.pick_fmt(spec.seed, image_id)
    px = imagecodec.gen_pixels(spec.seed, image_id, w, h)
    return {
        "image_id": image_id,
        "url": url,
        "bytes": imagecodec.encode(px, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": imagecodec.gen_caption(spec.seed, image_id),
        "phash": imagecodec.average_phash(px),
    }


# ------------------------------------------------------------ Spark builders

CRAWL_CORPUS_DDL = (
    "url string, host string, kind string, http_status int,"
    " body string, body_size int, out_links array<string>"
)
IMAGE_CORPUS_DDL = (
    "image_id string, url string, bytes binary, w int, h int,"
    " fmt string, caption string, phash long"
)


def build_crawl_corpus(spark, spec: CorpusSpec, partitions: int | None = None):
    """Distributed corpus generation: spark.range over ordinals → mapInPandas.

    Each task recomputes its rows from (seed, ordinal) alone — no driver-side
    materialization, so this is the path that scales to a 10^10-URL corpus.
    """
    import pandas as pd

    n = spec.total_urls
    parts = partitions or max(4, min(64, n // 2000 + 1))

    def gen(batches):
        for pdf in batches:
            rows = [corpus_row(spec, *key_from_ordinal(spec, int(i))) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, CRAWL_CORPUS_DDL)


def build_image_corpus(spark, spec: CorpusSpec, partitions: int | None = None):
    import pandas as pd

    p_, d_, im = spec.list_pages, spec.details_per_page, spec.images_per_detail
    n = p_ * d_ * im
    parts = partitions or max(4, min(64, n // 1000 + 1))
    base = p_ + p_ * d_

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                _, p, j, m = key_from_ordinal(spec, base + int(i))
                rows.append(image_corpus_row(spec, p, j, m))
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, IMAGE_CORPUS_DDL)
