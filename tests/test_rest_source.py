"""Paginated-REST DataSource test against a local http.server stub
(SURVEY.md A1: pagination, parallel page-ranges, retry on 429/503)."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ub_etl_spark.sources.rest import (
    PageRange,
    RestCursorStreamReader,
    RestPaginatedDataSource,
    RestPaginatedReader,
    RestStreamReader,
)

N_PAGES = 7
PAGE_SIZE = 5


class StubHandler(BaseHTTPRequestHandler):
    fail_first_hits: dict[int, int] = {}  # page -> remaining failures
    n_pages = N_PAGES  # subclasses override for longer chains

    def log_message(self, *a):  # silence
        pass

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query)
        page = int(q["page"][0])
        size = int(q["page_size"][0])
        if StubHandler.fail_first_hits.get(page, 0) > 0:
            StubHandler.fail_first_hits[page] -= 1
            self.send_response(429)
            self.end_headers()
            return
        base = (page - 1) * size
        # pages beyond the dataset are empty with no next link — the shape
        # a drained API reports, and what pins the streaming offset
        n_pages = type(self).n_pages
        results = (
            [{"rec_id": base + i, "name": f"r{base + i}"} for i in range(size)]
            if page <= n_pages
            else []
        )
        nxt = None if page >= n_pages else f"?page={page + 1}&page_size={size}"
        body = json.dumps({"next": nxt, "results": results}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def stub_url():
    server = HTTPServer(("127.0.0.1", 0), StubHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}/api"
    server.shutdown()


def test_rest_source_reads_all_pages_in_parallel(spark, stub_url):
    spark.dataSource.register(RestPaginatedDataSource)
    df = (
        spark.read.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", stub_url)
        .option("pages", N_PAGES)
        .option("page_size", PAGE_SIZE)
        .option("partitions", 3)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == N_PAGES * PAGE_SIZE
    assert {r.rec_id for r in rows} == set(range(N_PAGES * PAGE_SIZE))


def test_rest_source_retries_429(spark, stub_url):
    StubHandler.fail_first_hits = {2: 2}  # page 2 fails twice, then succeeds
    df = (
        spark.read.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", stub_url)
        .option("pages", 3)
        .option("page_size", PAGE_SIZE)
        .option("partitions", 1)
        .option("backoff_s", 0.01)
        .load()
    )
    assert df.count() == 3 * PAGE_SIZE


def test_rest_source_cursor_chain_serial(spark, stub_url):
    """Opaque-`next` cursor mode: one partition, follows relative next
    links (urljoin) until null — the serial-degradation path documented in
    sources/rest.py."""
    StubHandler.fail_first_hits = {}
    spark.dataSource.register(RestPaginatedDataSource)
    df = (
        spark.read.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", f"{stub_url}?page=1&page_size={PAGE_SIZE}")
        .option("mode", "cursor")
        .option("max_pages", 100)
        .load()
    )
    assert df.rdd.getNumPartitions() == 1
    rows = df.collect()
    assert {r.rec_id for r in rows} == set(range(N_PAGES * PAGE_SIZE))


def test_rest_source_cursor_default_follows_whole_chain(spark, stub_url):
    """Cursor mode with NO max_pages/pages options must follow the chain
    to the end (default cap 10000), not inherit the page-mode default of
    1 page — the silent-truncation regression guarded here."""
    StubHandler.fail_first_hits = {}
    spark.dataSource.register(RestPaginatedDataSource)
    df = (
        spark.read.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", f"{stub_url}?page=1&page_size={PAGE_SIZE}")
        .option("mode", "cursor")
        .load()
    )
    assert {r.rec_id for r in df.collect()} == set(range(N_PAGES * PAGE_SIZE))


def test_rest_source_cursor_chain_request_cap(spark, stub_url):
    """max_pages bounds a never-ending chain: exactly max_pages requests'
    worth of rows come back, no infinite loop."""
    StubHandler.fail_first_hits = {}
    spark.dataSource.register(RestPaginatedDataSource)
    df = (
        spark.read.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", f"{stub_url}?page=1&page_size={PAGE_SIZE}")
        .option("mode", "cursor")
        .option("max_pages", 2)
        .load()
    )
    assert df.count() == 2 * PAGE_SIZE


def test_rest_stream_restarts_resume_from_checkpoint(spark, stub_url, tmp_path):
    """Streaming REST source: each availableNow start processes the next
    prefetched page window from the checkpointed offset; restarting the
    query resumes where the last run committed, every record lands
    exactly once, and the offset pins on the drained (empty) page so
    later runs are no-ops."""
    spark.dataSource.register(RestPaginatedDataSource)
    sdf = (
        spark.readStream.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", stub_url)
        .option("page_size", PAGE_SIZE)
        .option("pages_per_batch", 3)
        .load()
    )
    got: list[int] = []
    n_nonempty: list[int] = []

    def sink(df, batch_id):
        rows = df.collect()
        if rows:
            n_nonempty.append(batch_id)
        got.extend(r.rec_id for r in rows)

    for _ in range(5):  # 7 pages / 3 per batch -> 3 productive runs
        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    assert sorted(got) == list(range(N_PAGES * PAGE_SIZE))
    assert len(got) == len(set(got))  # exactly once across restarts
    assert len(n_nonempty) >= 3  # really incremental, not one giant pull


def test_rest_cursor_stream_restarts_resume_from_checkpoint(spark, stub_url, tmp_path):
    """Opaque-cursor streaming (VERDICT r2 ask #8): the checkpointed
    offset is the next unconsumed URL.  Restarting the availableNow query
    resumes mid-chain from the committed cursor, every record lands
    exactly once across restarts, and the offset pins (done=True) when
    the chain ends so later runs are no-ops."""
    spark.dataSource.register(RestPaginatedDataSource)
    sdf = (
        spark.readStream.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", f"{stub_url}?page=1&page_size={PAGE_SIZE}")
        .option("mode", "cursor")
        .option("pages_per_batch", 3)
        .load()
    )
    got: list[int] = []
    n_nonempty: list[int] = []

    def sink(df, batch_id):
        rows = df.collect()
        if rows:
            n_nonempty.append(batch_id)
        got.extend(r.rec_id for r in rows)

    for _ in range(5):  # 7-link chain / 3 per batch -> 3 productive runs
        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_cursor"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    assert sorted(got) == list(range(N_PAGES * PAGE_SIZE))
    assert len(got) == len(set(got))  # exactly once across restarts
    assert len(n_nonempty) >= 3  # incremental, not one giant pull


def test_rest_cursor_reader_replay_matches_read():
    """readBetweenOffsets must reproduce exactly the rows read() produced
    for the same offset pair — the recovery contract — including the
    pinned (done) final offset, whose own URL's records were consumed."""
    import threading as _t
    from http.server import HTTPServer as _S

    from pyspark.sql.types import StructType

    from ub_etl_spark.sources.rest import RestCursorStreamReader

    server = _S(("127.0.0.1", 0), StubHandler)
    t = _t.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{server.server_port}/api?page=1&page_size={PAGE_SIZE}"
        schema = StructType.fromDDL("rec_id long, name string")
        r = RestCursorStreamReader(schema, {"url": url, "pages_per_batch": "3"})
        off = r.initialOffset()
        all_rows, all_offsets = [], [off]
        for _ in range(4):
            rows, nxt = r.read(off)
            rows = list(rows)
            all_rows.append(rows)
            all_offsets.append(nxt)
            if nxt == off:
                break
            off = nxt
        flat = [rid for batch in all_rows for rid, _ in batch]
        assert flat == list(range(N_PAGES * PAGE_SIZE))
        assert all_offsets[-1]["done"] is True
        # every adjacent offset pair replays to exactly its batch
        for i, rows in enumerate(all_rows):
            replay = list(r.readBetweenOffsets(all_offsets[i], all_offsets[i + 1]))
            assert replay == rows, f"batch {i} replay mismatch"
        # pinned offset: no further data, offset unchanged
        again, same = r.read(all_offsets[-1])
        assert list(again) == [] and same == all_offsets[-1]
    finally:
        server.shutdown()


def _serve(handler_cls):
    server = HTTPServer(("127.0.0.1", 0), handler_cls)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server


def test_rest_cursor_replay_matches_read_long_chain():
    """replay-equals-read at a 50-link chain (r13 verdict task 6): the
    toy 7-page tests exercise 3 offset transitions; a 50-page chain at 3
    pages per batch drives 17 adjacent offset pairs through
    readBetweenOffsets, pinning the recovery contract where cursor
    arithmetic (batch boundaries, mid-chain URLs, the pinned done
    offset) has real room to drift."""
    from pyspark.sql.types import StructType

    from ub_etl_spark.sources.rest import RestCursorStreamReader

    class LongChainHandler(StubHandler):
        n_pages = 50

    StubHandler.fail_first_hits = {}  # shared class state — no order coupling
    server = _serve(LongChainHandler)
    try:
        url = f"http://127.0.0.1:{server.server_port}/api?page=1&page_size={PAGE_SIZE}"
        schema = StructType.fromDDL("rec_id long, name string")
        r = RestCursorStreamReader(schema, {"url": url, "pages_per_batch": "3"})
        off = r.initialOffset()
        all_rows, all_offsets = [], [off]
        for _ in range(25):  # 50 pages / 3 per batch -> 17 productive reads
            rows, nxt = r.read(off)
            rows = list(rows)
            all_rows.append(rows)
            all_offsets.append(nxt)
            if nxt == off:
                break
            off = nxt
        flat = [rid for batch in all_rows for rid, _ in batch]
        assert flat == list(range(50 * PAGE_SIZE))
        assert all_offsets[-1]["done"] is True
        assert len([b for b in all_rows if b]) == 17
        for i, rows in enumerate(all_rows):
            replay = list(r.readBetweenOffsets(all_offsets[i], all_offsets[i + 1]))
            assert replay == rows, f"batch {i} replay mismatch"
    finally:
        server.shutdown()


def test_rest_cursor_stream_restarts_long_chain(spark, tmp_path):
    """availableNow restart-replay at the 50-link chain: restarting the
    query mid-chain from the committed cursor keeps exactly-once across
    restarts at a depth where many offsets commit per run (10 pages per
    batch, 5 productive restarts)."""
    class LongChainHandler(StubHandler):
        n_pages = 50

    StubHandler.fail_first_hits = {}  # shared class state — no order coupling
    server = _serve(LongChainHandler)
    try:
        url = f"http://127.0.0.1:{server.server_port}/api?page=1&page_size={PAGE_SIZE}"
        spark.dataSource.register(RestPaginatedDataSource)
        sdf = (
            spark.readStream.format("rest_paginated")
            .schema("rec_id long, name string")
            .option("url", url)
            .option("mode", "cursor")
            .option("pages_per_batch", 10)
            .load()
        )
        got: list[int] = []
        n_nonempty: list[int] = []

        def sink(df, batch_id):
            rows = df.collect()
            if rows:
                n_nonempty.append(batch_id)
            got.extend(r.rec_id for r in rows)

        for _ in range(7):  # 50-link chain / 10 per batch -> 5 productive runs
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / "ckpt_cursor50"))
                .trigger(availableNow=True)
                .start()
            )
            # awaitTermination(timeout) returns False WITHOUT raising on
            # timeout; starting the next query against the same
            # checkpoint while this one still runs would interleave
            # sinks — fail loudly instead
            assert q.awaitTermination(120), "availableNow run timed out"
        assert sorted(got) == list(range(50 * PAGE_SIZE))
        assert len(got) == len(set(got))  # exactly once across restarts
        assert len(n_nonempty) >= 5  # incremental, not one giant pull
    finally:
        server.shutdown()


# built without a session: the tests below drive the readers directly
_SCHEMA = StructType([StructField("rec_id", LongType()), StructField("name", StringType())])


class _LoggingHandler(StubHandler):
    """StubHandler that records `time.monotonic()` as each request arrives."""

    hits: list[float] = []

    def do_GET(self):
        type(self).hits.append(time.monotonic())
        super().do_GET()


def test_rest_source_zero_pages_reads_nothing():
    """pages=0 plans one empty page range, reads no rows and sends no
    request; a negative page count is rejected by name."""
    StubHandler.fail_first_hits = {}
    _LoggingHandler.hits = []
    server = _serve(_LoggingHandler)
    try:
        url = f"http://127.0.0.1:{server.server_port}/api"
        r = RestPaginatedReader(_SCHEMA, {"url": url, "pages": "0", "partitions": "4"})
        parts = r.partitions()
        assert parts == [PageRange(1, 1)]
        assert [row for p in parts for row in r.read(p)] == []
        assert _LoggingHandler.hits == []
        with pytest.raises(ValueError, match="pages"):
            RestPaginatedReader(_SCHEMA, {"url": url, "pages": "-1"}).partitions()
    finally:
        server.shutdown()


def _batch_reader_pages(url, options):
    r = RestPaginatedReader(_SCHEMA, {"url": url, "pages": "3", **options})
    return list(r.read(PageRange(1, 4)))


def _page_stream_pages(url, options):
    r = RestStreamReader(_SCHEMA, {"url": url, "pages_per_batch": "3", **options})
    return list(r.read(r.initialOffset())[0])


def _cursor_stream_pages(url, options):
    url = f"{url}?page=1&page_size={PAGE_SIZE}"
    r = RestCursorStreamReader(_SCHEMA, {"url": url, "pages_per_batch": "3", **options})
    return list(r.read(r.initialOffset())[0])


@pytest.mark.parametrize(
    "read_three_pages", [_batch_reader_pages, _page_stream_pages, _cursor_stream_pages]
)
def test_rest_readers_pace_requests(read_three_pages):
    """min_request_interval_s spaces consecutive requests of every reader:
    the batch reader over one page range and both stream readers' reads."""
    interval, eps = 0.05, 0.01
    StubHandler.fail_first_hits = {}
    _LoggingHandler.hits = []
    server = _serve(_LoggingHandler)
    try:
        url = f"http://127.0.0.1:{server.server_port}/api"
        options = {"page_size": str(PAGE_SIZE), "min_request_interval_s": str(interval)}
        rows = read_three_pages(url, options)
        assert [rid for rid, _ in rows] == list(range(3 * PAGE_SIZE))
        hits = _LoggingHandler.hits
        assert len(hits) == 3
        gaps = [b - a for a, b in zip(hits, hits[1:])]
        assert min(gaps) >= interval - eps, gaps
    finally:
        server.shutdown()
