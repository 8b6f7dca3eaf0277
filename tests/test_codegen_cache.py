"""Generated-class cache: ``session.get_spark`` sizes Spark's codegen
cache (``spark.sql.codegen.cache.maxEntries``, default 100) above the
working set of a dashboard tour or a backend cycle.

Spark keeps compiled classes in an LRU cache keyed by their source. A
cycle that compiles more distinct classes than the cache holds evicts
each one before its next use, so every later cycle compiles them all
again. The setting is static, so the test launches its own session in
a subprocess, where it is sure to take effect and to start with an
empty cache."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: two passes over 150 queries that differ only in an inlined literal,
#: so each compiles its own classes (two per query); prints the
#: compiles per pass, read from Spark's codegen metrics
_SESSION = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from reddit_can_bigdata_spark import session
spark = session.get_spark("codegen-cache-test")
spark.sparkContext.setLogLevel("ERROR")
compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source \\
    .CodegenMetrics.METRIC_COMPILATION_TIME()
passes = []
for _ in range(2):
    before = compiles.getCount()
    for i in range(150):
        spark.range(3).select((F.col("id") * F.lit(i + 7)).alias("x")).collect()
    passes.append(compiles.getCount() - before)
print(json.dumps({
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "passes": passes,
}))
"""


def test_a_repeated_working_set_of_300_classes_compiles_once():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, str(REPO)],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.splitlines()[-1])
    assert got["max_entries"] == "1000"
    first, second = got["passes"]
    assert first >= 150, got
    assert second < 10, got
