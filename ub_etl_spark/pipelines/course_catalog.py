"""Course-catalog normalization pipeline — the reference's first job
(scripts/course_catalog.py:90-167) as one declarative Spark plan.

The reference walks each nested course document imperatively and issues
~10+N INSERTs per course.  Here the whole normalization is a set of lazy
DataFrame transformations over a single scan of the nested documents:
struct projection (A3), array/map explosion (A4-A6), null guards (A7),
dedup + surrogate-key dims (A8), broadcast FK bridges (A9).  Catalyst
fuses the 13 outputs into a handful of stages; at 100 TB each child table
is an independent narrow pipeline off the same scan (no shuffle except
the two tiny dim builds + optional dedup).

Schema contract: FIXTURES.md §2 (mirrors course_catalog_database.sql,
using the (id,title,url) form of categories — the duplicate-DDL defect at
course_catalog_database.sql:23-27 is intentionally NOT replicated, see
SURVEY.md §1.4).  Child-table idempotence is explicit: dropDuplicates on
the natural key before write (the reference's ON CONFLICT DO NOTHING
cannot fire without a unique constraint — SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ub_etl_spark.operators.dedup import build_dim
from ub_etl_spark.session import tracked_persist

# Explicit source schema (never inference at scale — SURVEY.md §1.3).
# Mirrors the document read by insert_course_data
# (scripts/course_catalog.py:94-161); every `.get()`-tolerated field is
# nullable.
COURSE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("estimated_content_length", T.IntegerType(), True),
        T.StructField("num_lectures", T.IntegerType(), True),
        T.StructField("num_videos", T.IntegerType(), True),
        T.StructField("mobile_native_deeplink", T.StringType(), True),
        T.StructField("is_practice_test_course", T.BooleanType(), True),
        T.StructField("num_quizzes", T.IntegerType(), True),
        T.StructField("num_practice_tests", T.IntegerType(), True),
        T.StructField("has_closed_caption", T.BooleanType(), True),
        T.StructField("last_update_date", T.StringType(), True),
        T.StructField("xapi_activity_id", T.StringType(), True),
        T.StructField("is_custom", T.BooleanType(), True),
        T.StructField("is_imported", T.BooleanType(), True),
        T.StructField("headline", T.StringType(), True),
        T.StructField("level", T.StringType(), True),
        T.StructField("locale", T.StructType([T.StructField("locale", T.StringType(), True)]), True),
        T.StructField(
            "primary_category",
            T.StructType(
                [T.StructField("title", T.StringType(), True), T.StructField("url", T.StringType(), True)]
            ),
            True,
        ),
        T.StructField(
            "primary_subcategory",
            T.StructType(
                [T.StructField("title", T.StringType(), True), T.StructField("url", T.StringType(), True)]
            ),
            True,
        ),
        T.StructField(
            "topics",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.IntegerType(), True),
                        T.StructField("title", T.StringType(), True),
                        T.StructField("url", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "promo_video_url",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType(), True),
                        T.StructField("label", T.StringType(), True),
                        T.StructField("file", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("instructors", T.ArrayType(T.StringType()), True),
        T.StructField(
            "requirements",
            T.StructType([T.StructField("list", T.ArrayType(T.StringType()), True)]),
            True,
        ),
        T.StructField(
            "what_you_will_learn",
            T.StructType([T.StructField("list", T.ArrayType(T.StringType()), True)]),
            True,
        ),
        T.StructField("images", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("caption_languages", T.ArrayType(T.StringType()), True),
        T.StructField(
            "caption_locales",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("locale", T.StringType(), True),
                        T.StructField("title", T.StringType(), True),
                        T.StructField("english_title", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("next", T.StringType(), True),
        T.StructField("results", T.ArrayType(COURSE_SCHEMA), True),
    ]
)


def courses_from_pages(pages: DataFrame) -> DataFrame:
    """Page envelope {next, results:[course]} -> one row per course
    (scripts/course_catalog.py:204,208)."""
    return pages.select(F.explode("results").alias("c")).select("c.*")


def _dim_and_bridge(courses: DataFrame, struct_col: str, fk: str) -> tuple[DataFrame, DataFrame]:
    """The {id, title, url} dim of one {title, url} struct column and its
    (course_id, fk) bridge (A8/A9; scripts/course_catalog.py:111-120).

    The dim key is title alone, matching the reference's get_or_insert
    lookup (scripts/course_catalog.py:69-71): a title must never map to
    two surrogate ids, or the title-keyed bridge join fans out.  min(url)
    is the deterministic stand-in for the reference's first-writer-wins
    url.
    """
    title = F.col(f"{struct_col}.title").alias("title")
    src = (
        courses.select(title, F.col(f"{struct_col}.url").alias("url"))
        .filter(F.col("title").isNotNull())
        .groupBy("title")
        .agg(F.min("url").alias("url"))
    )
    dim = build_dim(src, ["title", "url"], contiguous=True).withColumnRenamed(
        "dim_id", "id"
    ).select("id", "title", "url")
    bridge = (
        courses.select(F.col("id").alias("course_id"), title)
        .join(F.broadcast(dim), "title", "inner")
        .select("course_id", F.col("id").alias(fk))
        .dropDuplicates(["course_id", fk])
    )
    return dim, bridge


def normalize(courses: DataFrame) -> dict[str, DataFrame]:
    """Nested course documents -> the 13 relational tables.

    Returns {table_name: DataFrame}; all outputs are deduplicated on their
    natural keys so re-running the pipeline over overlapping pages is a
    fixpoint (README.md:156-163 refresh contract).
    """
    # feeds all 13 tables; tracked, so release_persisted() frees it
    courses = tracked_persist(courses.dropDuplicates(["id"]))
    cid = F.col("id").alias("course_id")

    # hub table: scalar + struct-access projection (A3;
    # scripts/course_catalog.py:94-108)
    courses_tbl = courses.select(
        "id",
        "title",
        "description",
        "url",
        "estimated_content_length",
        "num_lectures",
        "num_videos",
        "mobile_native_deeplink",
        "is_practice_test_course",
        "num_quizzes",
        "num_practice_tests",
        "has_closed_caption",
        F.col("last_update_date").cast("date").alias("last_update_date"),
        "xapi_activity_id",
        "is_custom",
        "is_imported",
        "headline",
        "level",
        F.col("locale.locale").alias("locale"),
    )

    # dims + bridges
    categories, course_categories = _dim_and_bridge(courses, "primary_category", "category_id")
    subcategories, course_subcategories = _dim_and_bridge(
        courses, "primary_subcategory", "subcategory_id"
    )

    # array-of-struct children (A4; scripts/course_catalog.py:123-130,159-161)
    topics = (
        courses.select(cid, F.explode("topics").alias("t"))
        .select("course_id", F.col("t.id").alias("topic_id"), F.col("t.title").alias("title"),
                F.col("t.url").alias("url"))
        .dropDuplicates(["course_id", "topic_id"])
    )
    promo_videos = (
        courses.select(cid, F.explode("promo_video_url").alias("v"))
        .select("course_id", F.col("v.type").alias("type"), F.col("v.label").alias("label"),
                F.col("v.file").alias("file"))
        .dropDuplicates(["course_id", "type", "label", "file"])
    )
    caption_locales = (
        courses.select(cid, F.explode("caption_locales").alias("cl"))
        .select("course_id", F.col("cl.locale").alias("locale"), F.col("cl.title").alias("title"),
                F.col("cl.english_title").alias("english_title"))
        .dropDuplicates(["course_id", "locale"])
    )

    # array-of-scalar children (A5; scripts/course_catalog.py:133-146,154-156)
    instructors = (
        courses.select(cid, F.explode("instructors").alias("instructor_name"))
        .dropDuplicates(["course_id", "instructor_name"])
    )
    # requirements.list is optional -> explicit null guard (A7, :138)
    requirements = (
        courses.filter(F.col("requirements.list").isNotNull())
        .select(cid, F.explode("requirements.list").alias("requirement"))
        .dropDuplicates(["course_id", "requirement"])
    )
    what_you_will_learn = (
        courses.filter(F.col("what_you_will_learn.list").isNotNull())
        .select(cid, F.explode("what_you_will_learn.list").alias("learning_outcome"))
        .dropDuplicates(["course_id", "learning_outcome"])
    )
    caption_languages = (
        courses.select(cid, F.explode("caption_languages").alias("language"))
        .dropDuplicates(["course_id", "language"])
    )

    # map child (A6; scripts/course_catalog.py:149-151)
    images = (
        courses.select(cid, F.explode("images").alias("size", "url"))
        .dropDuplicates(["course_id", "size"])
    )

    return {
        "courses": courses_tbl,
        "categories": categories,
        "subcategories": subcategories,
        "course_categories": course_categories,
        "course_subcategories": course_subcategories,
        "topics": topics,
        "promo_videos": promo_videos,
        "caption_locales": caption_locales,
        "instructors": instructors,
        "requirements": requirements,
        "what_you_will_learn": what_you_will_learn,
        "caption_languages": caption_languages,
        "images": images,
    }
