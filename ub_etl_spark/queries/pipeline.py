"""The reference's course-normalization pipeline under the driver gate.

pipelines/course_catalog.normalize() is golden-tested in
tests/test_course_pipeline.py; this query additionally runs it against a
deterministic in-code fixture and value-checks the child tables against a
literal VALUES oracle — struct access, array/map explosion, the
requirements null guard, duplicate-document dedup, and the dim/bridge
join all under the hash diff (scripts/course_catalog.py:90-167).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.pipelines.course_catalog import COURSE_SCHEMA, normalize
from ub_etl_spark.registry import register

_BASE = {
    "description": "d",
    "url": "/c",
    "estimated_content_length": 1,
    "num_lectures": 1,
    "num_videos": 1,
    "mobile_native_deeplink": None,
    "is_practice_test_course": False,
    "num_quizzes": 0,
    "num_practice_tests": 0,
    "has_closed_caption": False,
    "last_update_date": "2024-05-01",
    "xapi_activity_id": "x",
    "is_custom": False,
    "is_imported": False,
    "headline": "h",
    "level": "Beginner",
    "locale": {"locale": "en_US"},
    "primary_subcategory": {"title": "Engineering", "url": "/sub/eng"},
    "promo_video_url": [],
    "what_you_will_learn": {"list": []},
    "caption_languages": [],
    "caption_locales": [],
}

_C101 = {
    **_BASE,
    "id": 101,
    "title": "Spark Fundamentals",
    "primary_category": {"title": "Data", "url": "/cat/data"},
    "topics": [
        {"id": 7, "title": "Spark", "url": "/t/7"},
        {"id": 8, "title": "SQL", "url": "/t/8"},
    ],
    "instructors": ["Ada", "Grace"],
    "requirements": {"list": ["laptop", "python"]},
    "images": {"480x270": "/i/480.jpg", "100x100": "/i/100.jpg"},
    "promo_video_url": [{"type": "video/mp4", "label": "720p", "file": "/v/101.mp4"}],
    "what_you_will_learn": {"list": ["spark basics", "joins"]},
    "caption_languages": ["English", "French"],
    "caption_locales": [
        {"locale": "en_US", "title": "English", "english_title": "English"},
        {"locale": "fr_FR", "title": "Français", "english_title": "French"},
    ],
}

_C102 = {
    **_BASE,
    "id": 102,
    "title": "DuckDB Deep Dive",
    "primary_category": {"title": "Data", "url": "/cat/data"},
    "primary_subcategory": {"title": "Databases", "url": "/sub/db"},
    "topics": [{"id": 9, "title": "Ducks", "url": "/t/9"}],
    "instructors": ["Ada"],
    "requirements": None,  # the :138 null guard — no requirements rows
    "images": {},
}

# exact duplicate of 101: re-ingesting an overlapping page must be a
# fixpoint (README.md:156-163 refresh contract)
_FIXTURE = [_C101, _C102, dict(_C101)]


@register(
    "pipeline_course_normalize",
    tier="A",
    oracle="""
    SELECT * FROM (VALUES
      ('courses',             101, 'Spark Fundamentals|en_US|Beginner'),
      ('courses',             102, 'DuckDB Deep Dive|en_US|Beginner'),
      ('categories',            1, 'Data|/cat/data'),
      ('subcategories',         1, 'Databases|/sub/db'),
      ('subcategories',         2, 'Engineering|/sub/eng'),
      ('topics',              101, 'Spark'),
      ('topics',              101, 'SQL'),
      ('topics',              102, 'Ducks'),
      ('instructors',         101, 'Ada'),
      ('instructors',         101, 'Grace'),
      ('instructors',         102, 'Ada'),
      ('requirements',        101, 'laptop'),
      ('requirements',        101, 'python'),
      ('what_you_will_learn', 101, 'spark basics'),
      ('what_you_will_learn', 101, 'joins'),
      ('caption_languages',   101, 'English'),
      ('caption_languages',   101, 'French'),
      ('caption_locales',     101, 'en_US=English'),
      ('caption_locales',     101, 'fr_FR=French'),
      ('promo_videos',        101, 'video/mp4|720p|/v/101.mp4'),
      ('images',              101, '480x270=/i/480.jpg'),
      ('images',              101, '100x100=/i/100.jpg'),
      ('course_categories',   101, 'Data'),
      ('course_categories',   102, 'Data'),
      ('course_subcategories',101, 'Engineering'),
      ('course_subcategories',102, 'Databases')
    ) AS t(tbl, course_id, item)
    """,
    cost_note=(
        "13 normalized dimension/bridge outputs in one union plan; the oracle "
        "emits a literal result set. Decomposition: plan construction "
        "0.65-0.75 s warm (normalize()'s 13 eagerly-analyzed table builds "
        "0.3-0.4 s + 13 shaped projections 0.18 s + 12 unions 0.13 s, the "
        "declarative-API driver-side cost that is the A-tier proof) + "
        "execution 1.75 s across 35 AQE stage-jobs (~50 ms each, already "
        "overlapping). Measured non-change: materializing the 13 branches "
        "from a 3-thread pool read 1.99 s, 6-thread 1.73 s, union coalesce(1) "
        "1.76 s vs baseline 1.79 s min-of-5 rotated; AQE already materializes "
        "independent branch stages concurrently, so a driver thread pool "
        "re-buys existing overlap (parity 26/26 rows on all variants). A "
        "tree-shaped union equals a chained union at n=13 (0.12 s both)"
    ),
)
def pipeline_course_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fixture enters as a from_json LocalRelation, NOT createDataFrame:
    # a python-parallelize frame pays python-worker launches in EVERY one
    # of the 13 downstream branches (measured ~7 s total behind
    # coalesce(1), ~3.5 s single-sliced); a literal relation parsed
    # JVM-side costs no worker at all (~0.5 s for the whole pipeline).
    import json as _json

    # parameterized literals: interpolating json.dumps output into a
    # single-quoted SQL literal would corrupt any fixture string holding
    # a double quote/backslash/newline (Spark's literal unescape mangles
    # the JSON escapes); named args bypass literal parsing entirely
    marks = ", ".join(f"(:j{i})" for i in range(len(_FIXTURE)))
    args = {f"j{i}": _json.dumps(d) for i, d in enumerate(_FIXTURE)}
    courses = (
        spark.sql(f"SELECT * FROM VALUES {marks} AS t(j)", args=args)
        .select(F.from_json("j", COURSE_SCHEMA).alias("c"))
        .select("c.*")
    )
    tables = normalize(courses)

    def shaped(name: str, item: F.Column, id_col: str = "course_id") -> DataFrame:
        return tables[name].select(
            F.lit(name).alias("tbl"),
            F.col(id_col).cast("int").alias("course_id"),
            item.alias("item"),
        )

    # bridge rows joined back to the dim so the check is on natural keys,
    # not surrogate ids
    def bridge(name: str, dim: str, fk: str) -> DataFrame:
        return (
            tables[name]
            .join(tables[dim].select(F.col("id").alias(fk), "title"), fk)
            .select(
                F.lit(name).alias("tbl"),
                F.col("course_id").cast("int").alias("course_id"),
                F.col("title").alias("item"),
            )
        )

    # the dims themselves ride under the check keyed by surrogate id, which
    # also locks the deterministic id assignment (row_number over title)
    return (
        shaped("courses", F.concat_ws("|", "title", "locale", "level"), id_col="id")
        .unionByName(shaped("categories", F.concat_ws("|", "title", "url"), id_col="id"))
        .unionByName(shaped("subcategories", F.concat_ws("|", "title", "url"), id_col="id"))
        .unionByName(shaped("topics", F.col("title")))
        .unionByName(shaped("instructors", F.col("instructor_name")))
        .unionByName(shaped("requirements", F.col("requirement")))
        .unionByName(shaped("what_you_will_learn", F.col("learning_outcome")))
        .unionByName(shaped("caption_languages", F.col("language")))
        .unionByName(
            shaped("caption_locales", F.concat_ws("=", F.col("locale"), F.col("english_title")))
        )
        .unionByName(
            shaped("promo_videos", F.concat_ws("|", F.col("type"), F.col("label"), F.col("file")))
        )
        .unionByName(shaped("images", F.concat_ws("=", F.col("size"), F.col("url"))))
        .unionByName(bridge("course_categories", "categories", "category_id"))
        .unionByName(bridge("course_subcategories", "subcategories", "subcategory_id"))
    )


# A11/A12/A18 end-to-end: the reference's SECOND job
# (scripts/user_course_activity.py) under the driver hash, like
# pipeline_course_normalize covers the first.  A deterministic two-
# generation fixture runs the full typed-facts + latest-wins-merge
# pipeline: ISO-8601 'Z' strings parse with null-through (A12), the
# newer generation's row wins per (user_id, course_id) (A11), and
# batch-only keys insert (A18's incremental contract).
@register(
    "pipeline_user_activity",
    tier="A",
    oracle="""
    SELECT * FROM (VALUES
      (1, 101, CAST(0.8 AS DOUBLE), TIMESTAMP '2024-01-05 09:30:00',
                    TIMESTAMP '2024-02-01 10:00:00'),
      (2, 101, CAST(0.3 AS DOUBLE), CAST(NULL AS TIMESTAMP),
                    TIMESTAMP '2024-01-02 08:00:00'),
      (3, 202, CAST(1.0 AS DOUBLE), TIMESTAMP '2024-01-03 12:00:00',
                    TIMESTAMP '2024-02-02 11:00:00')
    ) AS t(user_id, course_id, completion_ratio, course_enroll_date,
           course_last_accessed_date)
    """,
)
def pipeline_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.pipelines.user_activity import (
        RAW_SCHEMA,
        merge_activity,
        typed_facts,
    )

    def row(**kw):
        base = {f.name: None for f in RAW_SCHEMA.fields}
        base.update(kw)
        return base

    gen1 = spark.createDataFrame(
        [
            row(
                user_id=1,
                course_id=101,
                completion_ratio=0.2,
                course_enroll_date="2024-01-05T09:30:00Z",
                course_last_accessed_date="2024-01-01T10:00:00Z",
            ),
            row(
                user_id=2,
                course_id=101,
                completion_ratio=0.3,
                course_enroll_date=None,  # null-through cast (A12)
                course_last_accessed_date="2024-01-02T08:00:00Z",
            ),
        ],
        RAW_SCHEMA,
    )
    gen2 = spark.createDataFrame(
        [
            row(
                user_id=1,
                course_id=101,
                completion_ratio=0.8,
                course_enroll_date="2024-01-05T09:30:00Z",
                course_last_accessed_date="2024-02-01T10:00:00Z",
            ),
            row(
                user_id=3,
                course_id=202,
                completion_ratio=1.0,
                course_enroll_date="2024-01-03T12:00:00Z",
                course_last_accessed_date="2024-02-02T11:00:00Z",
            ),
        ],
        RAW_SCHEMA,
    )
    merged = merge_activity(typed_facts(gen1), typed_facts(gen2))
    return merged.select(
        "user_id",
        "course_id",
        "completion_ratio",
        "course_enroll_date",
        "course_last_accessed_date",
    )
