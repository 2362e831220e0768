"""Session factory: package shipping is idempotent per SparkContext."""

import sys

from ner_extractor_spark.session import _ship_package


def test_ship_package_twice_is_a_noop(spark):
    # the fixture's get_spark already shipped the zip once; every
    # further call (one per input spread) must not re-add it
    sc = spark.sparkContext
    includes, path = list(sc._python_includes), list(sys.path)
    _ship_package(spark)
    _ship_package(spark)
    assert sc._python_includes == includes
    assert sys.path == path
    assert any(name.startswith("ner_extractor_spark-")
               for name in includes)
