"""etl_refresh: the paper's own job, end to end.

REST pages (seeded loopback stub) -> ``pipelines.course_catalog`` (13
tables) and ``pipelines.user_activity`` (typed facts) -> a first load
(course tables as parquet, activity store bucketed via
``operators.storage.write_bucketed``) -> refresh batches through
``operators.storage.merge_into_bucketed``, each applied to its own copy
of the first-load store and followed by a serving read, so every timed
batch does the same work.  Traced runs add the course refresh:
overlapping course pages into all 13 tables through
``operators.merge.insert_if_absent``.

The set-up is the robustness run: its endpoints answer 429/503 on fixed
pages and serve one activity page twice.  Every store a run builds is
checked against a DuckDB replay of the pages it was served.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from perfbench.common import OpLoop, median, modes, noop_write, p90
from perfbench.restsim import EtlData, PageSet, RestStub
from ub_etl_spark.operators.merge import insert_if_absent, upsert_latest_wins
from ub_etl_spark.operators.storage import (
    BUCKET_COL,
    merge_into_bucketed,
    read_table,
    write_bucketed,
)
from ub_etl_spark.pipelines.course_catalog import COURSE_SCHEMA, normalize
from ub_etl_spark.pipelines.user_activity import RAW_SCHEMA, typed_facts
from ub_etl_spark.sources.rest import RestPaginatedDataSource

N_BUCKETS = 16
ACT_KEYS = ["user_id", "course_id"]
ACT_ORDER = ["course_last_accessed_date"]
TS_COLS = [
    "course_enroll_date",
    "course_start_date",
    "course_completion_date",
    "course_first_completion_date",
    "course_last_accessed_date",
]

# conflict target of each course table (its natural key)
COURSE_KEYS = {
    "courses": ["id"],
    "categories": ["title"],
    "subcategories": ["title"],
    "course_categories": ["course_id"],
    "course_subcategories": ["course_id"],
    "topics": ["course_id", "topic_id"],
    "promo_videos": ["course_id", "type", "label", "file"],
    "caption_locales": ["course_id", "locale"],
    "instructors": ["course_id", "instructor_name"],
    "requirements": ["course_id", "requirement"],
    "what_you_will_learn": ["course_id", "learning_outcome"],
    "caption_languages": ["course_id", "language"],
    "images": ["course_id", "size"],
}

SIZES = dict(
    n_courses=400,
    n_first_activity=5000,
    batch_records=5000,
    overlap_docs=100,
)
# batch 1 (robustness endpoints) and batch 2 run in the set-up
WARM_BATCHES = 2
# nominal seconds of one timed batch on a 4-core box
BATCH_S = 2.5


def n_batches(seconds: float) -> int:
    """Timed batches for a phase of about ``seconds``: a fixed count, not a
    clock cutoff, so every run times the same batches."""
    return max(1, round(seconds / BATCH_S))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith(".")
    )


def bucket_files(path: str) -> dict[str, set[str]]:
    """Bucket directory -> its data file names."""
    out = {}
    for d in os.listdir(path):
        if d.startswith(BUCKET_COL):
            out[d] = {f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")}
    return out


class Store:
    """One store's on-disk tables: course tables in numbered generations
    (insert-if-absent reads the current one and writes the next) and the
    bucketed activity store.  ``applied`` lists the page sets it was built
    from, for the replay."""

    def __init__(self, spark, root: str, gen: int = 0, applied=()):
        self.spark = spark
        self.root = root
        self.gen = gen
        self.act = os.path.join(root, "activity")
        self.applied: list[tuple[str, str]] = list(applied)

    @classmethod
    def empty(cls, spark, root: str) -> Store:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        return cls(spark, root)

    def fork(self, root: str) -> Store:
        """A copy of this store's files at ``root`` (replacing what is there)."""
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.root, root)
        return Store(self.spark, root, self.gen, self.applied)

    def course_path(self, table: str, gen: int | None = None) -> str:
        return os.path.join(self.root, "courses", f"g{self.gen if gen is None else gen}", table)

    def course(self, table: str):
        return self.spark.read.parquet(self.course_path(table))

    def drop_gen(self, gen: int) -> None:
        shutil.rmtree(os.path.join(self.root, "courses", f"g{gen}"), ignore_errors=True)


class EtlWorkload:
    name = "etl_refresh"

    def __init__(self, spark, work: str, seed: int, tracer, loop: OpLoop, cores: int,
                 traced_run: bool, seconds: float):
        self.spark = spark
        self.traced_run = traced_run
        self.work = work
        self.tracer = tracer
        self.loop = loop
        self.cores = cores
        spark.dataSource.register(RestPaginatedDataSource)
        n_timed = n_batches(seconds)
        d = self.data = EtlData(seed, n_batches=WARM_BATCHES + n_timed, **SIZES)
        self.stub = RestStub(workers=cores)
        ep = self.stub.endpoints
        for prefix in ("", "r"):
            ep[f"{prefix}courses0"] = PageSet(d.first_courses)
            ep[f"{prefix}activity0"] = PageSet(d.first_activity)
            ep[f"{prefix}courses_overlap"] = PageSet(d.course_overlap)
        for i, act in enumerate(d.batches):
            ep[f"activity{i + 1}"] = PageSet(act)
        # robustness: activity batch 1 with its first page served twice
        ep["ractivity1"] = PageSet(d.batches[0] + [d.batches[0][0]])
        # fixed pages answer 429/503 first (the set-up sees them all)
        self.stub.faults = {
            ("rcourses0", 3): [429, 429],
            ("ractivity0", 2): [503],
            ("ractivity1", 1): [429],
        }
        if traced_run:
            self.stub.faults[("rcourses_overlap", 1)] = [503]
        self.n_faults = sum(len(v) for v in self.stub.faults.values())
        self.checked: list[Store] = []  # stores the gate compares in full
        self._replays: dict[tuple, Replay] = {}
        # untraced ops only: traced ones cache each layer, which hides
        # the refetches these count
        self.first_load_s: list[float] = []
        self.rpp_first: list[float] = []
        self.rpp_batch: list[float] = []

    def rest(self, endpoint: str, schema):
        ps = self.stub.endpoints[endpoint]
        return (
            self.spark.read.format("rest_paginated")
            .schema(schema)
            .option("url", self.stub.url(endpoint))
            .option("pages", ps.n_pages)
            .option("page_size", len(ps.records[0]))
            .option("partitions", min(self.cores, ps.n_pages))
            .option("backoff_s", 0.05)
            .load()
        )

    # -- the pipeline --------------------------------------------------------
    def _materialized(self, df, span: str):
        """Traced runs cut lazy layers at their boundary so each span has
        its own time; untraced runs pass the lazy frame through."""
        if not self.tracer.enabled:
            return df
        with self.tracer.span(span):
            df = df.cache()
            df.count()
        return df

    def _normalized(self, endpoint: str) -> dict:
        courses = self._materialized(self.rest(endpoint, COURSE_SCHEMA), "rest.fetch")
        tables = normalize(courses)
        if self.tracer.enabled:
            tables = {k: self._materialized(v, "course_catalog.normalize") for k, v in tables.items()}
        return tables

    def _facts(self, endpoint: str):
        raw = self._materialized(self.rest(endpoint, RAW_SCHEMA), "rest.fetch")
        return self._materialized(typed_facts(raw), "user_activity.typed_facts")

    def first_load(self, store: Store, prefix: str = "") -> None:
        tables = self._normalized(f"{prefix}courses0")
        with self.tracer.span("storage.write_courses"):
            for name, df in tables.items():
                df.write.mode("overwrite").parquet(store.course_path(name))
        facts = self._facts(f"{prefix}activity0")
        with self.tracer.span("storage.write_bucketed"):
            write_bucketed(facts, store.act, ACT_KEYS, n_buckets=N_BUCKETS)
        store.applied.append(("first", prefix))

    def course_refresh(self, store: Store, prefix: str = "") -> None:
        """Overlapping course pages into all 13 tables, insert-if-absent."""
        tables = self._normalized(f"{prefix}courses_overlap")
        old = store.gen
        with self.tracer.span("merge.insert_if_absent"):
            for name, df in tables.items():
                merged = insert_if_absent(store.course(name), df, COURSE_KEYS[name])
                merged.write.mode("overwrite").parquet(store.course_path(name, old + 1))
        store.gen = old + 1
        store.drop_gen(old)
        store.applied.append(("courses", f"{prefix}courses_overlap"))

    def refresh(self, store: Store, batch: int, prefix: str = "") -> None:
        """One activity batch: fetch, type, latest-wins merge into the store."""
        facts = self._facts(f"{prefix}activity{batch}")
        with self.tracer.span("storage.merge_into_bucketed"):
            merge_into_bucketed(self.spark, store.act, facts, ACT_KEYS,
                                order_by=ACT_ORDER, n_buckets=N_BUCKETS)
        store.applied.append(("batch", f"{prefix}activity{batch}"))

    def upsert_alone(self, store: Store, batch: int) -> None:
        """Traced runs only, as an op of its own: the upsert operator over
        the whole activity store of ``store`` (every bucket is touched at
        this batch size) with a noop write, apart from the bucketed
        storage write.  ``store`` is not changed."""
        facts = self._facts(f"activity{batch}")
        with self.tracer.span("merge.upsert"):
            noop_write(upsert_latest_wins(read_table(self.spark, store.act), facts,
                                          ACT_KEYS, order_by=ACT_ORDER))

    def serving_read(self, store: Store):
        """Activity joined to courses and categories, aggregated per category."""
        with self.tracer.span("storage.read"):
            act = read_table(self.spark, store.act)
            out = (
                act.join(store.course("courses").select(F.col("id").alias("course_id")), "course_id")
                .join(store.course("course_categories"), "course_id")
                .join(store.course("categories").withColumnRenamed("id", "category_id"), "category_id")
                .groupBy("title")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.countDistinct("user_id").alias("n_users"),
                    F.max("course_last_accessed_date").alias("last_access"),
                )
                .collect()
            )
        return [tuple(r) for r in out]

    # -- phases ----------------------------------------------------------------
    def setup(self) -> None:
        """Every timed plan once, untimed, as the robustness run.  The
        first load comes from endpoints that answer 429/503 on fixed pages;
        it is the base store every batch starts from.  A copy of it takes
        batch 1 from an endpoint that also serves one page twice (a traced
        run first adds the course refresh, whose plans no untraced op
        uses).  Batch 2 and the serving read run once more as timed: the
        first warm batch still runs on a JVM that is compiling."""
        base = self.base = Store.empty(self.spark, os.path.join(self.work, "base"))
        self.loop.run("warmup_first_load", self.first_load, base, "r")
        robust = base.fork(os.path.join(self.work, "robust"))
        if self.traced_run:
            self.loop.run("warmup_course_refresh", self.course_refresh, robust, "r")
        self.loop.run("warmup_batch", self.refresh, robust, 1, "r")
        warm = base.fork(os.path.join(self.work, "live"))
        self.loop.run("warmup_batch", self.refresh, warm, 2)
        self.loop.run("warmup_read", self.serving_read, warm)
        self.checked += [base, robust]

    def _fresh_store(self) -> None:
        """Traced runs: a clean first load into a new store, untimed and
        timed as first_load_s, then traced with the course refresh for
        their layer spans."""
        eps = ("courses0", "activity0")
        pages = sum(self.stub.endpoints[e].n_pages for e in eps)
        for traced in (False, True):
            self.tracer.enabled = traced
            store = Store.empty(self.spark, os.path.join(self.work, f"fresh{traced:d}"))
            r0 = self.stub.count(eps)
            dt, _ = self.loop.run("first_load", self.first_load, store)
            if traced:
                self.loop.run("course_refresh", self.course_refresh, store)
            else:
                self.first_load_s.append(dt)
                self.rpp_first.append((self.stub.count(eps) - r0) / pages)
            self.checked.append(store)
        self.tracer.enabled = False

    def timed(self, seconds: float, paired: bool = False) -> None:
        """``n_batches(seconds)`` refresh batches, each applied to its own
        copy of the base store (the copy is not timed) and followed by the
        serving read, so every batch does the same work.  ``paired``
        (traced runs) runs each batch untraced and traced (see
        ``common.modes``), a traced batch followed by the upsert alone, and
        then ``_fresh_store``."""
        self.samples = {t: {"batch": [], "read": []} for t in (False, True)}
        self.bucket_ratio, self.rewrite_ratio = [], []
        self.files_written, self.busy_batch = [], []
        before = bucket_files(self.base.act)
        for i in range(n_batches(seconds)):
            b = WARM_BATCHES + 1 + i
            ep = f"activity{b}"
            ps = self.stub.endpoints[ep]
            for traced in modes(i, paired):
                self.tracer.enabled = traced
                samples = self.samples[traced]
                store = self.base.fork(os.path.join(self.work, "live"))
                r0, busy0 = self.stub.count([ep]), self.stub.busy_s
                dt, _ = self.loop.run("batch", self.refresh, store, b)
                samples["batch"].append(dt)
                if not traced:
                    self.rpp_batch.append((self.stub.count([ep]) - r0) / ps.n_pages)
                    self.busy_batch.append(self.stub.busy_s - busy0)
                after = bucket_files(store.act)
                touched = [k for k, fs in after.items() if fs != before.get(k)]
                self.bucket_ratio.append(len(touched) / max(len(after), 1))
                self.rewrite_ratio.append(
                    sum(dir_bytes(os.path.join(store.act, k)) for k in touched) / ps.n_bytes
                )
                self.files_written.append(sum(len(after[k] - before.get(k, set())) for k in touched))
                if traced:
                    self.loop.run("upsert", self.upsert_alone, self.base, b)
                dt, rows = self.loop.run("read", self.serving_read, store)
                samples["read"].append(dt)
        self.tracer.enabled = False
        self.last, self.last_read = store, rows
        if paired:
            self._fresh_store()

    # -- correctness -------------------------------------------------------------
    def _replay(self, steps) -> Replay:
        """DuckDB replay of the pages each step was served (memoized)."""
        key = tuple(steps)
        if key not in self._replays:
            ep = self.stub.endpoints
            replay = Replay()
            for step, arg in steps:
                if step == "first":
                    replay.load_first(ep[f"{arg}courses0"].records, ep[f"{arg}activity0"].records)
                elif step == "courses":
                    replay.apply_courses(ep[arg].records)
                else:
                    replay.apply_activity(ep[arg].records)
            self._replays[key] = replay
        return self._replays[key]

    def check(self) -> tuple[bool, list[str], dict]:
        """The last timed store and its serving read, the base store (the
        fault-injected first load), the robustness store and the fresh
        stores of a traced run must equal their replays.  (Every timed
        batch runs the same plans on a copy of the same base store; the
        replay's DO UPDATE costs about 0.7 s a batch, so only the last is
        replayed.)"""
        msgs: list[str] = []
        ok = sorted(self.last_read) == sorted(self._replay(self.last.applied).serving_read())
        if not ok:
            msgs.append("last serving read differs from the replay")
        for store in self.checked + [self.last]:
            smsgs: list[str] = []
            ok = compare_tables(store, self._replay(store.applied), smsgs) and ok
            msgs.extend(f"{os.path.basename(store.root)}: {m}" for m in smsgs)
        if self.stub.faults_served != self.n_faults:
            ok = False
            msgs.append(f"robustness run: {self.stub.faults_served} faults served, "
                        f"expected {self.n_faults}")
        replay = self._replay(self.last.applied)
        counts = {**replay.counts, "rest.retries": self.stub.faults_served}
        self.stored_ratio = dir_bytes(self.last.root) / self._served_bytes(self.last)
        return ok, msgs, counts

    def _served_bytes(self, store: Store) -> int:
        ep = self.stub.endpoints
        total = 0
        for step, arg in store.applied:
            names = [f"{arg}courses0", f"{arg}activity0"] if step == "first" else [arg]
            total += sum(ep[n].n_bytes for n in names)
        return total

    def close(self) -> None:
        self.stub.close()

    # -- metrics -----------------------------------------------------------------
    def end_to_end(self, traced: bool = False) -> dict[str, float]:
        s = self.samples[traced]
        out = {
            "records_per_s": SIZES["batch_records"] * len(s["batch"]) / sum(s["batch"]),
            "op_p50_s": median(s["batch"]),
            "op_p90_s": p90(s["batch"]),
            "n_ops": len(s["batch"]),
            "timed_s": sum(s["batch"]),
            "read_p50_s": median(s["read"]),
            "stored_bytes_per_input_byte": getattr(self, "stored_ratio", 0.0),
        }
        if self.first_load_s:  # a fresh first load is timed in traced runs only
            out["first_load_s"] = median(self.first_load_s)
        return out

    def layer_metrics(self, self_times: dict[str, list[float]], counts: dict) -> dict[str, float]:
        op = self.tracer.per_op
        return {
            "rest.fetch_s": op("rest.fetch", "batch"),
            "rest.requests_per_page": median(self.rpp_batch),
            "rest.requests_per_page_first_load": median(self.rpp_first),
            "rest.retries": counts["rest.retries"],
            "rest.server_busy_s": median(self.busy_batch),
            "course_catalog.normalize_s": op("course_catalog.normalize", "first_load"),
            "course_catalog.rows_out": counts["course_catalog.rows_out"],
            "user_activity.typed_facts_s": op("user_activity.typed_facts", "batch"),
            "merge.upsert_s": op("merge.upsert", "upsert"),
            "merge.insert_if_absent_s": op("merge.insert_if_absent", "course_refresh"),
            "merge.rows_inserted": counts["merge.rows_inserted"],
            "merge.rows_updated": counts["merge.rows_updated"],
            "merge.rows_ignored": counts["merge.rows_ignored"],
            "storage.write_bucketed_s": op("storage.write_bucketed", "first_load"),
            "storage.merge_into_bucketed_s": op("storage.merge_into_bucketed", "batch"),
            "storage.bytes_rewritten_per_batch_byte": median(self.rewrite_ratio),
            "storage.buckets_touched_ratio": median(self.bucket_ratio),
            "storage.read_s": op("storage.read", "read"),
            "storage.files_written": median(self.files_written),
        }


# ---------------------------------------------------------------------------
# DuckDB replay
# ---------------------------------------------------------------------------

COURSE_COLS = {
    "courses": [
        ("id", "INTEGER"), ("title", "VARCHAR"), ("description", "VARCHAR"), ("url", "VARCHAR"),
        ("estimated_content_length", "INTEGER"), ("num_lectures", "INTEGER"),
        ("num_videos", "INTEGER"), ("mobile_native_deeplink", "VARCHAR"),
        ("is_practice_test_course", "BOOLEAN"), ("num_quizzes", "INTEGER"),
        ("num_practice_tests", "INTEGER"), ("has_closed_caption", "BOOLEAN"),
        ("last_update_date", "DATE"), ("xapi_activity_id", "VARCHAR"), ("is_custom", "BOOLEAN"),
        ("is_imported", "BOOLEAN"), ("headline", "VARCHAR"), ("level", "VARCHAR"),
        ("locale", "VARCHAR"),
    ],
    "categories": [("id", "BIGINT"), ("title", "VARCHAR"), ("url", "VARCHAR")],
    "subcategories": [("id", "BIGINT"), ("title", "VARCHAR"), ("url", "VARCHAR")],
    "course_categories": [("course_id", "INTEGER"), ("category_id", "BIGINT")],
    "course_subcategories": [("course_id", "INTEGER"), ("subcategory_id", "BIGINT")],
    "topics": [("course_id", "INTEGER"), ("topic_id", "INTEGER"), ("title", "VARCHAR"), ("url", "VARCHAR")],
    "promo_videos": [("course_id", "INTEGER"), ("type", "VARCHAR"), ("label", "VARCHAR"), ("file", "VARCHAR")],
    "caption_locales": [("course_id", "INTEGER"), ("locale", "VARCHAR"), ("title", "VARCHAR"),
                        ("english_title", "VARCHAR")],
    "instructors": [("course_id", "INTEGER"), ("instructor_name", "VARCHAR")],
    "requirements": [("course_id", "INTEGER"), ("requirement", "VARCHAR")],
    "what_you_will_learn": [("course_id", "INTEGER"), ("learning_outcome", "VARCHAR")],
    "caption_languages": [("course_id", "INTEGER"), ("language", "VARCHAR")],
    "images": [("course_id", "INTEGER"), ("size", "VARCHAR"), ("url", "VARCHAR")],
}

ACT_TYPES = {
    "user_id": "BIGINT", "course_id": "BIGINT", "course_duration": "DOUBLE",
    "completion_ratio": "DOUBLE", "num_video_consumed_minutes": "DOUBLE",
    "last_activity_date": "DATE", "is_assigned": "BOOLEAN", "user_is_deactivated": "BOOLEAN",
}
ACT_COLS = [(f.name, "TIMESTAMP" if f.name in TS_COLS else ACT_TYPES.get(f.name, "VARCHAR"))
            for f in RAW_SCHEMA.fields]


def normalize_rows(docs: list[dict]) -> dict[str, list[tuple]]:
    """Independent Python statement of the 13-table normalization of one
    page set: first copy of a course id wins (duplicates are identical),
    dims get contiguous ids over (title, url) order, children dedup on
    their natural key."""
    by_id: dict[int, dict] = {}
    for d in docs:
        by_id.setdefault(d["id"], d)
    cs = list(by_id.values())
    out: dict[str, dict] = {t: {} for t in COURSE_COLS}

    def add(table, row):
        key = tuple(row[[c for c, _ in COURSE_COLS[table]].index(k)] for k in _dedup_key(table))
        out[table].setdefault(key, row)

    for c in cs:
        add("courses", tuple(
            c.get(k) if k != "locale" else (c.get("locale") or {}).get("locale")
            for k, _ in COURSE_COLS["courses"]
        ))
    for dim, field, bridge in (("categories", "primary_category", "course_categories"),
                               ("subcategories", "primary_subcategory", "course_subcategories")):
        urls: dict[str, str] = {}
        for c in cs:
            s = c.get(field) or {}
            if s.get("title") is not None:
                u = s.get("url")
                cur = urls.get(s["title"], None)
                urls[s["title"]] = u if cur is None else (min(cur, u) if u is not None else cur)
        ids = {t: i + 1 for i, t in enumerate(sorted(urls, key=lambda t: (t, urls[t] or "")))}
        for t, i in ids.items():
            add(dim, (i, t, urls[t]))
        for c in cs:
            t = (c.get(field) or {}).get("title")
            if t in ids:
                add(bridge, (c["id"], ids[t]))
    for c in cs:
        cid = c["id"]
        for t in c.get("topics") or []:
            add("topics", (cid, t["id"], t["title"], t["url"]))
        for v in c.get("promo_video_url") or []:
            add("promo_videos", (cid, v["type"], v["label"], v["file"]))
        for cl in c.get("caption_locales") or []:
            add("caption_locales", (cid, cl["locale"], cl["title"], cl["english_title"]))
        for n in c.get("instructors") or []:
            add("instructors", (cid, n))
        for r in (c.get("requirements") or {}).get("list") or []:
            add("requirements", (cid, r))
        for o in (c.get("what_you_will_learn") or {}).get("list") or []:
            add("what_you_will_learn", (cid, o))
        for lang in c.get("caption_languages") or []:
            add("caption_languages", (cid, lang))
        for size, url in (c.get("images") or {}).items():
            add("images", (cid, size, url))
    return {t: list(rows.values()) for t, rows in out.items()}


def _dedup_key(table: str) -> list[str]:
    """The key normalize() deduplicates each table on."""
    return {
        "course_categories": ["course_id", "category_id"],
        "course_subcategories": ["course_id", "subcategory_id"],
        "categories": ["title", "url"],
        "subcategories": ["title", "url"],
    }.get(table, COURSE_KEYS[table])


class Replay:
    """The reference semantics in DuckDB: course tables take each page
    set's normalized rows with INSERT ... ON CONFLICT DO NOTHING; activity
    takes each batch with ON CONFLICT DO UPDATE, latest
    course_last_accessed_date wins and a tie keeps the stored row.
    ``counts`` are the merge's row outcomes: activity inserted, updated and
    ignored per batch record; course rows inserted and ignored."""

    def __init__(self):
        self.con = duckdb.connect()
        self.counts = dict.fromkeys(
            ("merge.rows_inserted", "merge.rows_updated", "merge.rows_ignored",
             "merge.rows_inserted_courses", "merge.rows_ignored_courses",
             "course_catalog.rows_out"), 0)
        for t, cols in COURSE_COLS.items():
            self.con.execute(
                f"CREATE TABLE {t} ({', '.join(f'{c} {ty}' for c, ty in cols)}, "
                f"PRIMARY KEY ({', '.join(COURSE_KEYS[t])}))"
            )
        self.con.execute(
            f"CREATE TABLE activity ({', '.join(f'{c} {ty}' for c, ty in ACT_COLS)}, "
            f"PRIMARY KEY ({', '.join(ACT_KEYS)}))"
        )

    def _courses(self, pages, first: bool) -> None:
        rows = normalize_rows([d for p in pages for d in p])
        for t, rs in rows.items():
            self.counts["course_catalog.rows_out"] += len(rs)
            if not rs:
                continue
            cols = COURSE_COLS[t]
            df = pd.DataFrame(rs, columns=[c for c, _ in cols])  # noqa: F841 - read by DuckDB
            sel = ", ".join(f"CAST({c} AS {ty}) AS {c}" for c, ty in cols)
            before = self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            self.con.execute(f"INSERT INTO {t} SELECT {sel} FROM df ON CONFLICT DO NOTHING")
            ins = self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] - before
            if not first:
                self.counts["merge.rows_inserted_courses"] += ins
                self.counts["merge.rows_ignored_courses"] += len(rs) - ins

    def _activity_df(self, pages):
        recs = [r for p in pages for r in p]
        df = pd.DataFrame(recs, columns=[c for c, _ in ACT_COLS])
        sel = ", ".join(
            f"strptime({c}, '%Y-%m-%dT%H:%M:%SZ') AS {c}" if c in TS_COLS
            else f"CAST({c} AS {ty}) AS {c}"
            for c, ty in ACT_COLS
        )
        return df, sel, len(recs)

    def load_first(self, course_pages, activity_pages) -> None:
        self._courses(course_pages, first=True)
        df, sel, _ = self._activity_df(activity_pages)  # noqa: F841 - df read by DuckDB
        self.con.execute(f"INSERT INTO activity SELECT {sel} FROM df")

    def apply_courses(self, course_pages) -> None:
        self._courses(course_pages, first=False)

    def apply_activity(self, activity_pages) -> None:
        df, sel, n = self._activity_df(activity_pages)  # noqa: F841 - df read by DuckDB
        self.con.execute(
            f"CREATE OR REPLACE TEMP TABLE b AS SELECT * FROM (SELECT {sel} FROM df) "
            "QUALIFY row_number() OVER (PARTITION BY user_id, course_id "
            "ORDER BY course_last_accessed_date DESC) = 1"
        )
        n_new, n_newer = self.con.execute(
            "SELECT count(*) FILTER (WHERE a.user_id IS NULL), "
            "count(*) FILTER (WHERE b.course_last_accessed_date > a.course_last_accessed_date) "
            "FROM b LEFT JOIN activity a USING (user_id, course_id)"
        ).fetchone()
        sets = ", ".join(f"{c} = EXCLUDED.{c}" for c, _ in ACT_COLS if c not in ACT_KEYS)
        self.con.execute(
            f"INSERT INTO activity SELECT * FROM b ON CONFLICT (user_id, course_id) "
            f"DO UPDATE SET {sets} "
            "WHERE EXCLUDED.course_last_accessed_date > activity.course_last_accessed_date"
        )
        self.counts["merge.rows_inserted"] += n_new
        self.counts["merge.rows_updated"] += n_newer
        self.counts["merge.rows_ignored"] += n - n_new - n_newer

    def serving_read(self):
        return [tuple(r) for r in self.con.execute(
            "SELECT cat.title, count(*), count(DISTINCT a.user_id), max(a.course_last_accessed_date) "
            "FROM activity a JOIN courses c ON a.course_id = c.id "
            "JOIN course_categories cc ON a.course_id = cc.course_id "
            "JOIN categories cat ON cat.id = cc.category_id GROUP BY cat.title"
        ).fetchall()]


def compare_tables(store: Store, replay: Replay, msgs: list[str]) -> bool:
    """Every stored table equals its replay as a multiset of rows.  DuckDB
    reads the parquet files the store holds, so no row goes through the
    driver."""
    ok = True
    tables = {t: (store.course_path(t), [c for c, _ in cols]) for t, cols in COURSE_COLS.items()}
    tables["activity"] = (store.act, [c for c, _ in ACT_COLS])
    for t, (path, cols) in tables.items():
        sel = ", ".join(cols)
        stored = f"(SELECT {sel} FROM read_parquet('{path}/**/*.parquet'))"
        n_stored, n_extra, n_missing = replay.con.execute(
            f"SELECT (SELECT count(*) FROM {stored}), "
            f"(SELECT count(*) FROM (FROM {stored} EXCEPT ALL SELECT {sel} FROM {t})), "
            f"(SELECT count(*) FROM (SELECT {sel} FROM {t} EXCEPT ALL FROM {stored}))"
        ).fetchone()
        if n_extra or n_missing:
            ok = False
            msgs.append(f"{t}: {n_stored} rows stored, {n_extra} not in the replay, "
                        f"{n_missing} of the replay's missing")
    return ok
