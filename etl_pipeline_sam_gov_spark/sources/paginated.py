"""Paginated-API source as a first-class Spark Python DataSource
(SURVEY.md §2.1 S1 — the reference's driver-side pagination loop,
``lambda_function.py:24-54``, promoted to ``spark.read.format(...)``).

Spark 4's Python DataSource API puts the fetch on EXECUTORS with one
input partition per page range: a 10 000-page backfill becomes a
parallel scan instead of a serial driver loop, and Catalyst sees an
ordinary relation (limits and column pruning compose on top). The
reference's stopping semantics (page size 100, cap 500) live in
``pipeline.ingest.paginate`` for the driver-side form; here the page
space is declared up front (``n_pages`` option) the way a warehouse
backfill enumerates its date range.

Two fetch lanes share the seam: the deterministic in-process page
synthesizer (the default — no external network exists in CI), and a
LIVE HTTP lane (``base_url`` option) that GETs ``?offset=&limit=``
with the reference's exact error semantics (lambda_function.py:40-54):
10-second timeout, non-200 ⇒ stop paginating and keep what arrived,
short page ⇒ end of feed — plus a bounded-retry lane for transient
5xx/timeouts (the reference's single-shot ``requests.get`` has no
second chance; a warehouse backfill needs one). stdlib ``urllib``
keeps the lane dependency-free. Registered under the short name
``paginated_opportunities``.

Cost per action: at small page counts an action on this source is
bound by Spark<->Python round trips, not by pages. Each is one Python
worker request, in this order:

1. ``load()`` asks a planner worker for the schema and the
   ``DataSource`` instance (``PaginatedApiDataSource.schema``);
2. planning the scan asks one more for the partitions
   (``PaginatedReader.partitions``);
3. each partition is one task on an executor's Python worker
   (``PaginatedReader.read``).

Each of the three starts its own Python daemon, and the session's
first ``spark.read.format`` lookup starts a fourth
(``lookup_data_sources``), so the first action pays four daemon starts,
one after another. ``session.get_spark`` starts each through one
launcher, which drops SPARK_HOME's ``pyspark.zip`` (compiled from
source, no ``.pyc``) when the installed pyspark is its release. A
daemon on the zip takes 0.37-0.55 s from start to fork; through the
launcher, 0.13-0.15 s for ``lookup_data_sources`` and
``create_data_source``, 0.15-0.20 s for ``plan_data_source_read`` and
0.12-0.14 s for the executor daemon (4 cores, CPython 3.11, Spark
4.1). Fork to first call is 0.1-0.2 s:
unpickling this module imports the engine package, which runs only
``pyworker``. A cold 200-page read on a fresh session took 4.0-4.1 s,
against 4.9-5.2 s with the three planners on the zip; warm reads are
unchanged. Workers are reused, and ``pyworker`` keeps a reused worker
from re-reading the spark-core jar at the start of every request.
"""

from __future__ import annotations

import json as _json
import math
import os
import time as _time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

PAGE_SIZE = 100  # lambda_function.py:12
HTTP_TIMEOUT_S = 10.0  # lambda_function.py:40 (timeout=10)
HTTP_MAX_RETRIES = 2  # transient-failure lane (5xx / timeout) only
SCHEMA_FIELDS = (
    "noticeId",
    "title",
    "typeOfSetAsideDescription",
    "postedDate",
)


def _fetch_page(page_id: int, page_size: int = PAGE_SIZE) -> list[tuple]:
    """Deterministic synthetic page (stands in for the HTTPS GET at
    lambda_function.py:40): rows keyed by global offset."""
    base = page_id * page_size
    return [
        (
            f"N-{base + i:08d}",
            f"Opportunity {base + i}",
            ["Veteran-Owned Small Business Set-Aside", "8(a) Set-Aside", None][
                (base + i) % 3
            ],
            f"2026-08-{(base + i) % 28 + 1:02d}",
        )
        for i in range(page_size)
    ]


def _fetch_page_http(
    base_url: str,
    page_id: int,
    page_size: int = PAGE_SIZE,
    timeout: float = HTTP_TIMEOUT_S,
    max_retries: int = HTTP_MAX_RETRIES,
    backoff_s: float = 0.05,
) -> tuple[list[tuple], bool]:
    """Live page fetch with the reference's error semantics
    (lambda_function.py:40-54). Returns ``(rows, stop)``:

    - 200 → parse ``opportunitiesData``; ``stop`` iff the page is short
      (fewer than ``page_size`` rows ⇒ end of feed).
    - non-200 (4xx) → ``([], True)``: the reference logs and breaks,
      keeping everything fetched so far — never an exception.
    - 5xx / timeout / connection error → retried up to ``max_retries``
      with linear backoff; still failing ⇒ ``([], True)`` (break).
    """
    qs = urllib.parse.urlencode({"offset": page_id * page_size, "limit": page_size})
    url = f"{base_url}?{qs}"
    for attempt in range(max_retries + 1):
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                payload = _json.loads(resp.read().decode("utf-8"))
            break
        except urllib.error.HTTPError as e:
            if e.code < 500 or attempt == max_retries:
                return [], True  # non-200: log-and-break semantics
        except (urllib.error.URLError, TimeoutError, OSError):
            if attempt == max_retries:
                return [], True
        _time.sleep(backoff_s * (attempt + 1))
    results = payload.get("opportunitiesData", [])
    rows = [tuple(r.get(f) for f in SCHEMA_FIELDS) for r in results]
    return rows, len(rows) < page_size


def _make_fetcher(
    options: dict,
) -> Callable[[int, int], tuple[list[tuple], bool]]:
    """The fetch seam: ``base_url`` option ⇒ live HTTP lane, else the
    deterministic synthetic page. Both return ``(rows, stop)``."""
    base_url = options.get("base_url")
    if base_url:
        timeout = float(options.get("http_timeout_s", HTTP_TIMEOUT_S))
        retries = int(options.get("http_max_retries", HTTP_MAX_RETRIES))
        backoff = float(options.get("http_backoff_s", "0.05"))
        return lambda page_id, page_size: _fetch_page_http(
            base_url, page_id, page_size, timeout, retries, backoff
        )
    return lambda page_id, page_size: (_fetch_page(page_id, page_size), False)


class _PagePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class PaginatedReader(DataSourceReader):
    """``pages_per_task`` defaults to one task per core of the driver's
    host: each task is one Python worker request, and a 200-page read
    planned at 2 pages a task (100 tasks) took 1.47-1.69 s warm against
    0.14-0.15 s at 50 (4 cores)."""

    def __init__(self, options: dict):
        self.n_pages = int(options.get("n_pages", "5"))
        self.pages_per_task = int(
            options.get("pages_per_task", max(1, math.ceil(self.n_pages / (os.cpu_count() or 1))))
        )
        self.options = dict(options)

    def partitions(self):
        return [
            _PagePartition(s, min(s + self.pages_per_task, self.n_pages))
            for s in range(0, self.n_pages, self.pages_per_task)
        ]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        fetch = _make_fetcher(self.options)
        for page_id in range(partition.start, partition.end):
            rows, stop = fetch(page_id, PAGE_SIZE)
            yield from rows
            if stop:  # short page / non-200: end of feed for this range
                return


class PaginatedApiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paginated_opportunities"

    def schema(self) -> str:
        return (
            "noticeId string, title string, "
            "typeOfSetAsideDescription string, postedDate string"
        )

    def reader(self, schema) -> PaginatedReader:
        return PaginatedReader(self.options)

    def simpleStreamReader(self, schema) -> "PaginatedStreamReader":
        return PaginatedStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PaginatedApiDataSource)


class PaginatedStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the paginated source: each micro-batch reads
    the pages that 'arrived' since the last offset — the reference's
    daily EventBridge re-poll (README.md:15,28) as a real incremental
    stream with exactly-once page accounting via offsets. ``max_pages``
    bounds the synthetic feed so tests terminate; a live API feed
    would return an unchanged offset when no new page exists."""

    def __init__(self, options: dict):
        self.max_pages = int(options.get("max_pages", "6"))
        self.pages_per_batch = int(options.get("pages_per_batch", "2"))

    def initialOffset(self) -> dict:
        return {"page": 0}

    def read(self, start: dict):
        first = start["page"]
        last = min(first + self.pages_per_batch, self.max_pages)
        rows = [r for p in range(first, last) for r in _fetch_page(p)]
        return iter(rows), {"page": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [r for p in range(start["page"], end["page"]) for r in _fetch_page(p)]
        )
