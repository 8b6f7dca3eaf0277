"""Case mapping: ``session.get_spark`` turns Spark's ICU case mappings
off, so ``lower``/``upper`` use the JDK's Unicode tables.

With ICU on, the first ``lower`` in a JVM runs the static initializer of
``CollationAwareUTF8String``, which calls ``UCharacter.toTitleCase`` on
every code point to build a lookup table (about 0.7 cpu-s per
application). Whether that class was initialized can only be read in a
JVM where no ICU case mapping has run yet, so that test starts its own
session in a subprocess: the exhaustive comparison below turns ICU on in
the suite's shared JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
ICU = "spark.sql.icu.caseMappings.enabled"

#: one session: lower/upper in a codegen stage and inside a transform
#: lambda (interpreted), then whether the ICU helper class is still
#: uninitialized and what the codegen stage calls
_SESSION = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from reddit_can_bigdata_spark import session
spark = session.get_spark("case-mapping-test")
spark.sparkContext.setLogLevel("ERROR")
jvm = spark.sparkContext._jvm
s = F.concat(F.lit("Straße ΣΑΣ İstanbul ǅ "), F.col("id").cast("string"))
codegen = spark.range(4).select(F.lower(s).alias("lo"), F.upper(s).alias("up"))
words = F.split(s, " ")
lambdas = spark.range(4).select(
    F.transform(words, lambda t: F.lower(t)).alias("lo"),
    F.transform(words, lambda t: F.upper(t)).alias("up"),
)
rows = [df.collect()[0].asDict() for df in (codegen, lambdas)]
cls = jvm.java.lang.Class.forName(
    "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String", False,
    jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader(),
)
field = jvm.java.lang.Class.forName("sun.misc.Unsafe").getDeclaredField("theUnsafe")
field.setAccessible(True)
print(json.dumps({
    "icu_uninitialized": field.get(None).shouldBeInitialized(cls),
    "codegen": jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        codegen._jdf.queryExecution(), "codegen"),
    "rows": rows,
}))
"""


def test_fixture_session_maps_case_with_the_jdk(spark):
    assert spark.conf.get(ICU) == "false"


def test_lower_upper_never_initialize_the_icu_table():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, str(REPO)],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.splitlines()[-1])
    assert got["icu_uninitialized"], "CollationAwareUTF8String was initialized"
    assert "CollationSupport.Lower.execBinary(" in got["codegen"], got["codegen"]
    assert "CollationSupport.Upper.execBinary(" in got["codegen"], got["codegen"]
    assert "execBinaryICU" not in got["codegen"]
    # the JDK's full mappings: final sigma, İ -> i + U+0307, ß -> SS, ǅ
    assert got["rows"] == [
        {"lo": "straße σας i̇stanbul ǆ 0", "up": "STRASSE ΣΑΣ İSTANBUL Ǆ 0"},
        {"lo": ["straße", "σας", "i̇stanbul", "ǆ", "0"],
         "up": ["STRASSE", "ΣΑΣ", "İSTANBUL", "Ǆ", "0"]},
    ]


#: each code point alone, after a cased letter (the final-sigma
#: context) and before a space and a word
_CONTEXTS = {"alone": "c", "after": "'A' || c", "before": "c || ' x'"}


def test_jdk_case_mapping_is_duckdbs_wherever_icu_differs(spark, tmp_path):
    """Every code point (surrogates excluded) in every context, lower
    and upper, under both settings. Where the ICU and JDK results
    differ, DuckDB's result is the JDK's. On JDK 17 (Unicode 13) with
    Spark 4.1.2's ICU 77 they differ on 134 code points, all case pairs
    added in Unicode 14-16, which DuckDB 1.0 leaves unmapped as the JDK
    does; final sigma, İ, ß and ǅ map the same under both settings."""
    points = tmp_path / "points.parquet"
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT CAST(i AS INTEGER) AS cp, chr(CAST(i AS INTEGER)) AS c"
        " FROM range(1114112) t(i) WHERE i NOT BETWEEN 55296 AND 57343)"
        f" TO '{points}' (FORMAT PARQUET)"
    )
    base = spark.read.parquet(str(points)).select(
        "cp", *(F.expr(e).alias(ctx) for ctx, e in _CONTEXTS.items())
    )
    cols = [
        fn(F.col(ctx)).alias(f"{fn.__name__}_{ctx}")
        for fn in (F.lower, F.upper) for ctx in _CONTEXTS
    ]
    try:
        for flag in ("true", "false"):
            spark.conf.set(ICU, flag)
            base.select("cp", *cols).write.parquet(str(tmp_path / f"icu_{flag}"))
    finally:
        spark.conf.set(ICU, "false")
    diffs = con.execute(" UNION ALL ".join(
        f"SELECT cp, '{fn}_{ctx}' AS what, i.{fn}_{ctx} AS icu, j.{fn}_{ctx} AS jdk,"
        f" {fn}({e}) AS duck"
        f" FROM '{tmp_path}/icu_true/*.parquet' i JOIN '{tmp_path}/icu_false/*.parquet' j"
        f" USING (cp) JOIN '{points}' USING (cp)"
        f" WHERE i.{fn}_{ctx} IS DISTINCT FROM j.{fn}_{ctx}"
        for fn in ("lower", "upper") for ctx, e in _CONTEXTS.items()
    )).fetchall()
    assert diffs, "the ICU setting changed no mapping: it did not take effect"
    assert [d for d in diffs if d[4] != d[3]] == []
    differing = {d[0] for d in diffs}
    assert not differing & {0x3A3, 0x3C3, 0x130, 0xDF, 0x1C4, 0x1C5, 0x1C6}
