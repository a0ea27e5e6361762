"""The session defaults that keep a steady crawl round's fixed costs
off: a codegen cache sized for the crawl's working set, and no
per-call DataFrame origin capture (see ``session``)."""


def test_session_defaults(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert is_debugging_enabled() is False
