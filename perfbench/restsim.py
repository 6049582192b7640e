"""Seeded loopback REST stub for the etl_refresh workload.

Pages are generated and JSON-serialized once, at set-up; the handler only
writes pre-built bytes.  The server answers on a fixed pool of ``nproc``
threads, so the stub never runs more threads than the Spark session has
cores.  Fault injection (status codes on fixed pages) is used by the
untimed robustness run only.
"""

from __future__ import annotations

import json
import random
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

COURSE_PAGE_SIZE = 20
ACTIVITY_PAGE_SIZE = 500

CATEGORIES = [
    ("Development", [("Web", 4), ("Data Science", 3), ("Mobile", 2)]),
    ("Business", [("Finance", 3), ("Sales", 2)]),
    ("Design", [("Graphic", 2), ("UX", 3)]),
    ("IT & Software", [("Network", 2), ("Security", 4)]),
]
LOCALES = ["en_US", "es_ES", "de_DE", "fr_FR", "pt_BR", "ja_JP"]
WORDS = (
    "python spark data web design cloud sales finance security network mobile "
    "advanced basics complete guide project master practical modern bootcamp"
).split()


_DAYS: dict[int, str] = {}


def _iso(ts: int) -> str:
    """ISO-8601 UTC with a 'Z' suffix (the API's timestamp format)."""
    day, sec = divmod(ts, 86400)
    if day not in _DAYS:
        _DAYS[day] = time.strftime("%Y-%m-%d", time.gmtime(day * 86400))
    return f"{_DAYS[day]}T{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}Z"


def course_doc(rng: random.Random, cid: int) -> dict:
    """One nested course document: structs, arrays of structs, a map and
    (for ~1 in 5 courses) a null ``requirements``."""
    cat, subs = CATEGORIES[cid % len(CATEGORIES)]
    sub = subs[rng.randrange(len(subs))][0]
    title = " ".join(rng.choice(WORDS) for _ in range(4)).title()
    n_topics = rng.randint(1, 4)
    topic_ids = rng.sample(range(1, 400), n_topics)
    return {
        "id": cid,
        "title": title,
        "description": f"{title} course {cid}",
        "url": f"/course/{cid}/",
        "estimated_content_length": rng.randint(30, 3000),
        "num_lectures": rng.randint(5, 300),
        "num_videos": rng.randint(5, 300),
        "mobile_native_deeplink": f"app://course/{cid}",
        "is_practice_test_course": rng.random() < 0.1,
        "num_quizzes": rng.randint(0, 20),
        "num_practice_tests": rng.randint(0, 3),
        "has_closed_caption": rng.random() < 0.7,
        "last_update_date": f"20{rng.randint(18, 24)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        "xapi_activity_id": f"xapi-{cid}",
        "is_custom": False,
        "is_imported": rng.random() < 0.2,
        "headline": f"Learn {title}",
        "level": rng.choice(["Beginner", "Intermediate", "Expert", "All Levels"]),
        "locale": {"locale": rng.choice(LOCALES)},
        "primary_category": {"title": cat, "url": f"/cat/{cat.lower()}/"},
        "primary_subcategory": {"title": f"{cat}/{sub}", "url": f"/sub/{sub.lower()}/"},
        "topics": [
            {"id": t, "title": f"topic {t}", "url": f"/topic/{t}/"} for t in topic_ids
        ],
        "promo_video_url": [
            {"type": "video/mp4", "label": q, "file": f"/v/{cid}/{q}.mp4"}
            for q in rng.sample(["360", "480", "720", "1080"], rng.randint(0, 3))
        ],
        "instructors": [f"Instructor {rng.randrange(300)}" for _ in range(rng.randint(1, 2))],
        "requirements": None
        if rng.random() < 0.2
        else {"list": [f"req {rng.randrange(50)}" for _ in range(rng.randint(0, 3))]},
        "what_you_will_learn": {
            "list": [f"outcome {cid}-{i}" for i in range(rng.randint(1, 4))]
        },
        "images": {
            size: f"/img/{cid}/{size}.jpg"
            for size in rng.sample(["img_48x27", "img_240x135", "img_480x270", "img_750x422"], 2)
        },
        "caption_languages": rng.sample(["English", "Spanish", "German", "French"], rng.randint(0, 2)),
        "caption_locales": [
            {"locale": loc, "title": loc, "english_title": loc}
            for loc in rng.sample(LOCALES, rng.randint(0, 2))
        ],
    }


def revised(rng: random.Random, doc: dict) -> dict:
    """A later revision of a course: retitled, one instructor added.  Under
    insert-if-absent the retitle is ignored; the new instructor row is new."""
    out = json.loads(json.dumps(doc))
    out["title"] = doc["title"] + " (2nd edition)"
    out["instructors"] = doc["instructors"] + [f"Instructor {300 + rng.randrange(100)}"]
    return out


def activity_record(rng: random.Random, user: int, course: int, ts: int, course_title: str) -> dict:
    """One flat user-activity record (the 22-field source document)."""
    enroll = ts - rng.randint(86400, 90 * 86400)
    done = rng.random() < 0.4
    return {
        "user_id": user,
        "user_name": f"name{user}",
        "user_surname": f"surname{user}",
        "user_email": f"user{user}@example.com",
        "user_role": "User",
        "user_external_id": f"ext-{user}",
        "course_id": course,
        "course_title": course_title,
        "course_category": "Development",
        "course_duration": round(rng.uniform(0.5, 40.0), 2),
        "completion_ratio": round(rng.uniform(0.0, 100.0), 2),
        "num_video_consumed_minutes": round(rng.uniform(0.0, 900.0), 2),
        "course_enroll_date": _iso(enroll),
        "course_start_date": _iso(enroll + 3600),
        "course_completion_date": _iso(ts) if done else None,
        "course_first_completion_date": _iso(ts) if done else None,
        "course_last_accessed_date": _iso(ts),
        # the JSON feed carries no date type; the field stays null
        "last_activity_date": None,
        "is_assigned": rng.random() < 0.3,
        "assigned_by": None,
        "user_is_deactivated": False,
        "lms_user_id": None,
    }


class EtlData:
    """All pages of one etl_refresh run, generated from ``seed``.

    - ``first_courses``: the first-load course pages; ~5% of courses are
      served twice (identical duplicate docs on different pages).
    - ``first_activity``: distinct (user, course) keys.
    - ``batches[i]``: activity pages mixing new keys, strictly newer
      updates, late (older) updates, exact recency ties with changed
      content, and in-batch duplicate keys (with distinct recency).  Every
      batch is drawn against the first-load state, so each one can be
      applied to a copy of the first-load store and does the same amount
      of work.
    - ``course_overlap``: first-load docs served again, ~30% of them as
      later revisions -- the insert-if-absent fixpoint's input.
    """

    def __init__(self, seed: int, n_courses: int, n_first_activity: int,
                 n_batches: int, batch_records: int, overlap_docs: int):
        rng = random.Random(seed)
        docs = [course_doc(rng, cid) for cid in range(1, n_courses + 1)]
        served = docs + [docs[i] for i in rng.sample(range(n_courses), n_courses // 20)]
        rng.shuffle(served)
        self.first_courses = _pages(served, COURSE_PAGE_SIZE)
        picked = rng.sample(range(n_courses), overlap_docs)
        self.course_overlap = _pages(
            [revised(rng, docs[i]) if rng.random() < 0.3 else docs[i] for i in picked],
            COURSE_PAGE_SIZE,
        )
        titles = {d["id"]: d["title"] for d in docs}
        course_ids = list(titles)

        n_users = max(1, n_first_activity // 4)
        t0 = 1_700_000_000
        state: dict[tuple[int, int], int] = {}
        first = []
        while len(first) < n_first_activity:
            key = (rng.randrange(n_users * 2), rng.choice(course_ids))
            if key in state:
                continue
            ts = t0 + rng.randrange(30 * 86400)
            state[key] = ts
            first.append(activity_record(rng, key[0], key[1], ts, titles[key[1]]))
        self.first_activity = _pages(first, ACTIVITY_PAGE_SIZE)

        self.batches = []
        keys = list(state)
        for b in range(n_batches):
            recs = []
            seen: dict[tuple[int, int], set[int]] = {}
            while len(recs) < batch_records:
                r = rng.random()
                if r < 0.35:  # new key
                    key = (rng.randrange(n_users * 4), rng.choice(course_ids))
                    ts = t0 + (31 + b) * 86400 + rng.randrange(86400)
                else:
                    key = keys[rng.randrange(len(keys))]
                    cur = state[key]
                    if r < 0.75:  # newer update
                        ts = cur + rng.randint(1, 86400)
                    elif r < 0.9:  # late update, older than the stored row
                        ts = cur - rng.randint(1, 86400)
                    else:  # tie: same recency, changed content
                        ts = cur
                if ts in seen.setdefault(key, set()):
                    continue  # in-batch duplicates need distinct recency
                dup = r < 0.2 and len(recs) + 1 < batch_records  # in-batch duplicate, later
                for t in (ts, ts + rng.randint(1, 3600)) if dup else (ts,):
                    seen[key].add(t)
                    recs.append(activity_record(rng, key[0], key[1], t, titles[key[1]]))
            self.batches.append(_pages(recs, ACTIVITY_PAGE_SIZE))


def _pages(records: list[dict], size: int) -> list[list[dict]]:
    return [records[i : i + size] for i in range(0, len(records), size)]


class PageSet:
    """Pre-serialized bodies of one endpoint's pages (1-based page numbers)."""

    def __init__(self, pages: list[list[dict]]):
        self.records = pages
        n = len(pages)
        self.bodies = [
            json.dumps(
                {"next": f"?page={i + 2}" if i + 1 < n else None, "results": recs}
            ).encode()
            for i, recs in enumerate(pages)
        ]

    @property
    def n_pages(self) -> int:
        return len(self.bodies)

    @property
    def n_bytes(self) -> int:
        return sum(len(b) for b in self.bodies)

    @property
    def n_records(self) -> int:
        return sum(len(r) for r in self.records)


class _PooledHTTPServer(HTTPServer):
    """HTTPServer that hands each connection to a fixed thread pool."""

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self.pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - one broken connection must not stop the stub
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


class RestStub:
    """Loopback server over named ``PageSet`` endpoints.

    Counters: requests per endpoint, handler busy seconds, and faults
    served.  ``faults`` maps (endpoint, page) -> list of status codes to
    return before the page is served normally.
    """

    def __init__(self, workers: int):
        self.endpoints: dict[str, PageSet] = {}
        self.faults: dict[tuple[str, int], list[int]] = {}
        self.requests: Counter = Counter()
        self.faults_served = 0
        self.busy_s = 0.0
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):
                t0 = time.perf_counter()
                u = urlparse(self.path)
                name = u.path.strip("/")
                page = int(parse_qs(u.query)["page"][0])
                with stub._lock:
                    stub.requests[name] += 1
                    pending = stub.faults.get((name, page))
                    status = pending.pop(0) if pending else 200
                    if status != 200:
                        stub.faults_served += 1
                ps = stub.endpoints.get(name)
                if status != 200:
                    self.send_response(status)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                elif ps is None or not 1 <= page <= ps.n_pages:
                    body = b'{"next": null, "results": []}'
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                else:
                    body = ps.bodies[page - 1]
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                dt = time.perf_counter() - t0
                with stub._lock:
                    stub.busy_s += dt

        self.server = _PooledHTTPServer(("127.0.0.1", 0), Handler, workers)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def url(self, name: str) -> str:
        return f"http://127.0.0.1:{self.server.server_port}/{name}"

    def count(self, names) -> int:
        """Requests served so far to the named endpoints."""
        with self._lock:
            return sum(self.requests[n] for n in names)

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)
