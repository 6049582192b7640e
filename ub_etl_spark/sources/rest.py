"""Paginated REST source (SURVEY.md A1) as a Spark 4 Python DataSource.

The reference fetches pages serially in-process with sleep-based pacing
and ad-hoc retry (scripts/course_catalog.py:178-224,
scripts/user_course_activity.py:129-162; policy README.md:128-140).  The
Spark-native design:

  - **partitioned fetch**: the page space is split into page-ranges, one
    InputPartition per range, so a 1000-executor cluster fetches in
    parallel instead of one page at a time (the reference's ceiling was
    ~1.9 records/s — SURVEY.md §6).
  - **retry with bounded backoff** per request inside the partition
    reader (classes of the reference's handle_http_error: retryable
    statuses get exponential backoff, capped; others raise).
  - **token-bucket pacing** per reader replaces the global modulo
    sleeps: `min_request_interval_s` bounds request rate per reader.
  - cursor-style APIs (opaque `next` URLs) degrade to a single partition
    (cursor chains are inherently serial); offset/page APIs parallelize.

Every reader sends its requests through one `_Client`: page-URL
building, pacing, retry, `next`-link following and row projection.

Registration:
    spark.dataSource.register(RestPaginatedDataSource)
    df = (spark.read.format("rest_paginated")
          .schema(record_schema)
          .option("url", "http://host/api/courses")
          .option("pages", 100)            # total pages to fetch
          .option("page_size", 20)
          .option("partitions", 8)         # page-ranges fetched in parallel
          .load())

Options:
    url                     endpoint (required)
    pages                   pages to fetch in batch page mode (default 1;
                            0 reads nothing, negative is an error)
    page_size               records per page (default 20)
    partitions              batch page-ranges fetched in parallel (default 4)
    backoff_s               first retry delay, doubled per retry (default 0.1)
    min_request_interval_s  pacing: least seconds between two requests of
                            one reader (default 0, no pacing)
    mode                    "pages" or "cursor" (default "pages")
    max_pages               batch cursor mode request cap (default 10000)
    pages_per_batch         streaming pages per micro-batch (default 10)

Constants: TIMEOUT_S (10.0 s per request), MAX_RETRIES (3),
RESULTS_KEY ("results", the record list) and NEXT_KEY ("next", the link
to the following page).

Streaming (`spark.readStream.format("rest_paginated")`): a
SimpleDataSourceStreamReader whose checkpointed offset IS the page
cursor — each micro-batch pulls `pages_per_batch` pages, recovery
replays the exact page window (readBetweenOffsets), and the offset pins
when the API drains so `trigger(availableNow)` terminates.  This is the
Spark-native form of the reference's incremental-refresh contract
(README.md:156-163) feeding the idempotent merge sinks (A10/A11).

Cursor mode (`.option("mode", "cursor")`): for APIs whose `next` is an
opaque token/URL rather than a page number.  One InputPartition (cursor
chains are inherently serial — each response reveals the next URL);
follows `next` until null or `max_pages` requests.  Relative `next`
values resolve against the request URL (urljoin).

The HTTP layer is urllib-only (stdlib); tests drive it against a local
http.server stub — no external network involved.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from urllib.parse import urljoin

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

RETRYABLE_STATUSES = {429, 503, 524}  # scripts/user_course_activity.py:165-178
TIMEOUT_S = 10.0
MAX_RETRIES = 3
RESULTS_KEY = "results"
NEXT_KEY = "next"


@dataclass
class PageRange(InputPartition):
    start_page: int  # 1-based, inclusive
    end_page: int  # exclusive


@dataclass
class CursorChain(InputPartition):
    start_url: str


def fetch_json(url: str, timeout: float, max_retries: int, backoff_s: float):
    """GET+parse with bounded exponential backoff on retryable failures.

    Mirrors the reference's retry classes (JSON decode error and HTTP
    429/503/524 retry; everything else aborts) but with sane backoff
    instead of fixed 30-60 min sleeps.
    """
    attempt = 0
    while True:
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            if e.code not in RETRYABLE_STATUSES or attempt >= max_retries:
                raise
        except (json.JSONDecodeError, urllib.error.URLError, TimeoutError):
            if attempt >= max_retries:
                raise
        time.sleep(min(backoff_s * (2**attempt), 30.0))
        attempt += 1


class _Client:
    """The request path all three readers share.  Pacing state lives here,
    so it is per reader instance: each batch task unpickles its own reader
    and paces its own page range; a stream reader paces across batches."""

    def __init__(self, schema, options):
        self.url = options["url"]
        self.page_size = int(options.get("page_size", 20))
        self.backoff_s = float(options.get("backoff_s", 0.1))
        self.min_interval = float(options.get("min_request_interval_s", 0.0))
        self.fields = [f.name for f in schema.fields]
        self.last_request = 0.0

    def page(self, n: int) -> str:
        sep = "&" if "?" in self.url else "?"
        return f"{self.url}{sep}page={n}&page_size={self.page_size}"

    def get(self, url: str):
        # token-bucket pacing (replaces modulo sleeps,
        # scripts/course_catalog.py:216-221)
        if self.min_interval > 0:
            wait = self.min_interval - (time.monotonic() - self.last_request)
            if wait > 0:
                time.sleep(wait)
        self.last_request = time.monotonic()
        return fetch_json(url, TIMEOUT_S, MAX_RETRIES, self.backoff_s)

    def rows(self, data) -> list[tuple]:
        return [tuple(rec.get(f) for f in self.fields) for rec in data.get(RESULTS_KEY, [])]

    @staticmethod
    def next_url(url: str, data) -> str | None:
        """The absolute link after `url`'s page, or None at the chain's end."""
        nxt = data.get(NEXT_KEY)
        return urljoin(url, nxt) if nxt else None

    def walk(self, url: str, limit: int):
        """Follow up to `limit` links; yield (url, data) per request."""
        for _ in range(limit):
            data = self.get(url)
            yield url, data
            url = self.next_url(url, data)
            if url is None:
                return


class RestPaginatedReader(DataSourceReader):
    def __init__(self, schema, options):
        self.client = _Client(schema, options)
        self.pages = int(options.get("pages", 1))
        if self.pages < 0:
            raise ValueError(f"rest_paginated option 'pages' must be >= 0, got {self.pages}")
        self.n_partitions = int(options.get("partitions", 4))
        self.mode = options.get("mode", "pages")  # "pages" | "cursor"
        # cursor mode: hard request cap so a server that always returns a
        # `next` link can't loop the reader forever.  Cursor APIs advertise
        # no page count, so the cap must not fall back to `pages`.
        self.max_pages = int(options.get("max_pages", 10000))

    def partitions(self):
        if self.mode == "cursor":
            # opaque-next chains are serial by construction: degrade to ONE
            # partition rather than fabricating page numbers the API never
            # promised (doc header; reference pagination contract
            # scripts/course_catalog.py:204-208)
            return [CursorChain(self.client.url)]
        n = max(1, min(self.n_partitions, self.pages))
        per = max(1, (self.pages + n - 1) // n)
        # pages=0 reads nothing, through one empty range
        return [
            PageRange(start, min(start + per, self.pages + 1))
            for start in range(1, self.pages + 1, per)
        ] or [PageRange(1, 1)]

    def read(self, partition):
        if isinstance(partition, CursorChain):
            for _, data in self.client.walk(partition.start_url, self.max_pages):
                yield from self.client.rows(data)
            return
        for page in range(partition.start_page, partition.end_page):
            yield from self.client.rows(self.client.get(self.client.page(page)))


class RestStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch incremental REST ingestion — the Spark-native shape of
    the reference's refresh contract (README.md:156-163): each trigger
    pulls the next `pages_per_batch` pages, the page cursor IS the
    checkpointed offset, and failure recovery replays the exact page
    window via readBetweenOffsets (deterministic: page-addressed APIs
    return the same window for the same offsets — exactly-once lands on
    the idempotent sink, A10/A17).

    When a page reports no `next` link the offset stops advancing, so
    `trigger(availableNow=True)` drains the API and terminates — the
    batch-job usage — while a processing-time trigger keeps polling for
    newly published pages (the incremental-refresh usage, A18).
    """

    def __init__(self, schema, options):
        self.client = _Client(schema, options)
        self.pages_per_batch = int(options.get("pages_per_batch", 10))

    def initialOffset(self) -> dict:
        return {"page": 1}

    def read(self, start: dict):
        first = start["page"]
        rows: list[tuple] = []
        page = first
        while page < first + self.pages_per_batch:
            data = self.client.get(self.client.page(page))
            recs = self.client.rows(data)
            if not recs and not data.get(NEXT_KEY):
                # drained: do NOT consume this page — the offset pins here,
                # which is what lets trigger(availableNow) terminate and a
                # processing-time trigger pick up pages published later
                break
            rows.extend(recs)
            page += 1
            if not data.get(NEXT_KEY):
                break
        if page == first:
            return iter(()), start
        return iter(rows), {"page": page}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of [start.page, end.page) after recovery."""
        for page in range(start["page"], end["page"]):
            yield from self.client.rows(self.client.get(self.client.page(page)))


class RestCursorStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch incremental ingestion for OPAQUE-cursor APIs: the
    checkpointed offset is the next unconsumed URL itself, not a page
    number (a page-numbered offset cannot address an API whose `next` is
    an opaque token).  Each trigger follows up to `pages_per_batch` links
    from the checkpointed URL; recovery replay (readBetweenOffsets)
    re-walks the chain from start URL to end URL — deterministic as long
    as the server's chain is stable for already-served cursors, which is
    the same contract page-mode replay assumes of page contents.

    When the chain ends the offset records done=True and pins, so
    `trigger(availableNow)` terminates; a later run with a processing-time
    trigger re-probes the LAST url for a newly-published `next` link
    (cursor APIs extend the chain at the tail)."""

    def __init__(self, schema, options):
        self.client = _Client(schema, options)
        self.pages_per_batch = int(options.get("pages_per_batch", 10))

    def initialOffset(self) -> dict:
        return {"url": self.client.url, "done": False}

    def _after_tail(self, url: str) -> str | None:
        """The link a pinned (done) tail URL has grown since, or None.  The
        tail's own records were consumed by the batch that pinned it."""
        return self.client.next_url(url, self.client.get(url))

    def read(self, start: dict):
        url = start["url"]
        if start.get("done"):
            # a drained chain can grow a new `next` after later publishes
            url = self._after_tail(url)
            if url is None:
                return iter(()), start
            start = {"url": url, "done": False}
        rows: list[tuple] = []
        last_url, last_data = url, None
        for last_url, last_data in self.client.walk(url, self.pages_per_batch):
            rows.extend(self.client.rows(last_data))
        if last_data is None:
            return iter(()), start
        nxt = self.client.next_url(last_url, last_data)
        end = {"url": nxt, "done": False} if nxt else {"url": last_url, "done": True}
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay [start.url, end.url) — or through end.url itself when end
        is a pinned done-offset (a done offset's records WERE consumed by
        the batch that pinned it; an open offset's belong to the next)."""
        if start.get("done"):
            # replay begins at the link the start's tail grew afterwards
            if start["url"] == end["url"]:
                return
            begin = self._after_tail(start["url"])
            if begin is None:
                return
        else:
            begin = start["url"]
        if begin == end["url"] and not end.get("done"):
            return
        for url, data in self.client.walk(begin, 10_000_000):
            if not end.get("done") and url == end["url"]:
                return
            yield from self.client.rows(data)
            if end.get("done") and url == end["url"]:
                return


class RestPaginatedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest_paginated"

    def reader(self, schema) -> DataSourceReader:
        return RestPaginatedReader(schema, self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        if self.options.get("mode", "pages") == "cursor":
            return RestCursorStreamReader(schema, self.options)
        return RestStreamReader(schema, self.options)
