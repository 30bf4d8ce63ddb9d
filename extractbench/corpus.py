"""Seeded workload inputs and the check of every timed call's rows.

The seed picks a row-id range of the package's deterministic page
generator (``spark.synth``); the program receives only the generated
pages. Class counts are fixed quotas of the FIXTURES.md mix, so two
seeds differ in which pages they draw but not in how much of each kind
of work they carry.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from ragflow_ocr_spark.config import DEFAULT
from ragflow_ocr_spark.spark import stages, synth

# job defaults of jobs/extract.py
N_BUCKETS = 256
GROUP_SIZE = 8

# FIXTURES.md §1 weights scaled to the docs per call (largest remainder)
JOB_MIX = {
    "html_simple": 205,
    "html_boilerplate_heavy": 102,
    "html_edge": 51,
    "image_png": 77,
    "pdf_stub": 51,
    "null_invalid": 26,
}
# the two OCR classes at their 15:10 FIXTURES ratio
OCR_MIX = {"image_png": 288, "pdf_stub": 192}

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def id_base(seed: int) -> int:
    """First row id of the seed's range; urls carry 9-digit ids."""
    return 10_000_000 + (seed % 900) * 1_000_000


def url_of(row_id: int) -> str:
    """The generator's url for a row id, without generating the page
    (checked against ``synth.make_row`` for every page drawn)."""
    return f"https://site{row_id % 1000:04d}.example/p/{row_id:09d}"


def _take(ids: Iterable[int], quotas: dict[str, int]) -> list[int]:
    left = dict(quotas)
    out = []
    for i in ids:
        cls = synth.row_class(i)
        if left.get(cls, 0) > 0:
            left[cls] -= 1
            out.append(i)
            if not any(left.values()):
                return out
    raise ValueError(f"id range too short for the quotas, missing {left}")


def _pages(ids: list[int]) -> pd.DataFrame:
    df = synth.truth_batch(ids)
    bad = [i for i, u in zip(ids, df["url"]) if u != url_of(i)]
    if bad:
        raise ValueError(f"generator url format changed (row ids {bad[:3]})")
    return df


def group_buckets(seed: int) -> list[int]:
    g = seed % (N_BUCKETS // GROUP_SIZE)
    return list(range(g * GROUP_SIZE, (g + 1) * GROUP_SIZE))


def job_pages(spark, seed: int) -> pd.DataFrame:
    """Pages whose ``pmod(xxhash64(url), 256)`` buckets are one group of
    eight, so the CLI-default job runs exactly one bucket group."""
    from pyspark.sql import functions as F

    want = set(group_buckets(seed))
    base = id_base(seed)
    span = sum(JOB_MIX.values()) * (N_BUCKETS // GROUP_SIZE) * 3
    ids = pd.DataFrame({"id": range(base, base + span)})
    ids["url"] = [url_of(i) for i in ids["id"]]
    ids = spark.createDataFrame(ids)
    rows = ids.select(
        "id", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int").alias("b")
    ).collect()
    in_group = sorted(r["id"] for r in rows if r["b"] in want)
    return _pages(_take(in_group, JOB_MIX))


def ocr_pages(seed: int) -> pd.DataFrame:
    base = id_base(seed)
    return _pages(_take(range(base, base + 50 * sum(OCR_MIX.values())), OCR_MIX))


def warmup_pages(seed: int, n: int) -> pd.DataFrame:
    """``n`` small page images for set-up's warm-up extract, one per
    worker, so every worker imports the package and builds the nets."""
    return _pages(_take(range(id_base(seed) + 900_000, id_base(seed) + 999_999),
                        {"image_png": n}))


class Expected:
    """What each url of a workload must come out as.

    - a constructive truth (``expected_text``) must match byte for byte;
    - null/invalid pages must come out as NULL text with an ``error:*``
      status;
    - regression-only pages (no constructive truth) must match the
      Spark stage's own per-row routing, at the default config, run in
      this process on the same bytes.
    """

    def __init__(self, pages: pd.DataFrame):
        self.text: dict[str, str | None] = {}
        self.must_error: set[str] = set()
        for url, cls, truth, html in zip(
            pages["url"], pages["row_class"], pages["expected_text"], pages["html"]
        ):
            if cls == "null_invalid":
                self.must_error.add(url)
                self.text[url] = None
            elif truth is not None:
                self.text[url] = truth
            else:
                self.text[url] = stages._extract_one(html, DEFAULT)[0]

    def mismatches(self, rows: Iterable[tuple[str, str | None, str]]) -> list[str]:
        """Urls whose (url, text, status) row is wrong, missing, extra
        or duplicated."""
        bad = []
        seen: set[str] = set()
        for url, text, status in rows:
            if url in seen or url not in self.text:
                bad.append(url)
                continue
            seen.add(url)
            if text != self.text[url]:
                bad.append(url)
            elif url in self.must_error and not (status or "").startswith("error:"):
                bad.append(url)
        bad.extend(sorted(set(self.text) - seen))
        return bad
