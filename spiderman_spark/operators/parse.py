"""Parse stage — the UDTF surface (SURVEY.md U2) as a mapInPandas operator.

The reference's parse callbacks are row→many-rows functions with *two* output
relations: items and new requests (`SP/spiders/zhifang.py:63-132`).  Spark-side
this is one Arrow-batched ``mapInPandas`` pass emitting a discriminated union
(``out_kind`` ∈ {'item','request'}); the caller splits it with two cheap
filters.  Item payloads travel as JSON strings and are re-typed JVM-side with
``from_json`` against the per-table schema, so the Python stage stays a single
narrow pass and everything downstream is codegen'd.

Child ordering: each emitted request carries (parent_seq, child_idx) — the
deterministic key that reproduces the reference's "children pushed in DOM
order within a page, pages in FIFO order" (SURVEY.md §4.1.1) without any
dependence on partitioning or scheduling.

Each request row also carries its dedup key ``fp`` and ``canon``, computed in
the same Python loop by the shared ``urltools`` functions, so the crawl round
needs no second Python stage to fingerprint its children (item rows carry
NULL).  A Python task's fixed start-up cost, not its rows, dominates this
stage at crawl-round sizes (see plans/crawl.py).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urltools import canonical, fingerprint
from ..parselib import parse_body

PARSE_OUT_DDL = (
    "out_kind string, tablename string, item_json string,"
    " url string, method string, callback string, body string,"
    " meta_json string, parent_seq long, child_idx int, parent_url string,"
    " fp string, canon string"
)
_PARSE_OUT_COLS = [c.split()[0] for c in PARSE_OUT_DDL.split(",")]


def parse_pages(fetched_ok: DataFrame, parse_fn=None) -> DataFrame:
    """fetched_ok: (seq, url, body, ...) page rows that fetched successfully.

    ``parse_fn``: the spider's pure parse callback (defaults to the zhifang
    demo's) — must be a picklable module-level function.
    Returns the discriminated-union DataFrame per PARSE_OUT_DDL.
    """
    import pandas as pd

    parse_fn = parse_fn or parse_body

    def run(batches):
        for pdf in batches:
            out = []
            for seq, url, body in zip(pdf["seq"], pdf["url"], pdf["body"]):
                items, children = parse_fn(url, body)
                for tb, item in items:
                    out.append(
                        {
                            "out_kind": "item",
                            "tablename": tb,
                            "item_json": json.dumps(item),
                            "url": None,
                            "method": None,
                            "callback": None,
                            "body": None,
                            "meta_json": None,
                            "parent_seq": int(seq),
                            "child_idx": 0,
                            "parent_url": url,
                            "fp": None,
                            "canon": None,
                        }
                    )
                for idx, child in enumerate(children):
                    curl = child["url"]
                    method = child.get("method", "GET")
                    cbody = child.get("body", "") or ""
                    out.append(
                        {
                            "out_kind": "request",
                            "tablename": None,
                            "item_json": None,
                            "url": curl,
                            "method": method,
                            "callback": child["callback"],
                            "body": cbody,
                            "meta_json": json.dumps(child.get("meta", {})),
                            "parent_seq": int(seq),
                            "child_idx": idx,
                            "parent_url": url,
                            "fp": fingerprint(method, curl, cbody),
                            "canon": canonical(curl),
                        }
                    )
            yield pd.DataFrame(out, columns=_PARSE_OUT_COLS)

    return fetched_ok.select("seq", "url", "body").mapInPandas(run, PARSE_OUT_DDL)


def items_of(parsed: DataFrame, tablename: str, ddl: str) -> DataFrame:
    """Split one item table out of the union and re-type it JVM-side."""
    return (
        parsed.where((F.col("out_kind") == "item") & (F.col("tablename") == tablename))
        .select(
            F.from_json("item_json", ddl).alias("it"),
            F.col("item_json"),
            F.col("parent_seq"),
            F.col("parent_url"),
        )
        .select("it.*", "item_json", "parent_seq", "parent_url")
    )


def requests_of(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col("out_kind") == "request").select(
        "url", "method", "callback", "body", "meta_json", "parent_seq",
        "child_idx", "fp", "canon",
    )
