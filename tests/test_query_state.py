"""The registry-wide release invariant: a registered query holds no
state once its result is materialized and session.release_persisted()
has run.  No clearCache between queries: a frame persisted or
checkpointed outside tracked_persist / tracked_checkpoint shows up here
as a leak."""

from __future__ import annotations

from ub_etl_spark.registry import load_all
from ub_etl_spark.session import release_persisted


def test_every_query_frees_its_state_with_release_persisted(spark, sf_dir):
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    # start from a clean session: earlier tests may have cached frames
    release_persisted()
    spark.catalog.clearCache()
    before = persisted()
    leaks = []
    for name, spec in load_all().items():
        spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_persisted()
        left = persisted() - before
        if left or not cache_manager.isEmpty():
            leaks.append(
                f"{name}: {len(left)} persisted RDDs left, CacheManager "
                f"{'empty' if cache_manager.isEmpty() else 'not empty'}"
            )
            # only so the next query is judged on what it alone leaves
            spark.catalog.clearCache()
            before = persisted()
    assert not leaks, f"{len(leaks)} queries leaked state:\n" + "\n".join(leaks)
