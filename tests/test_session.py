from tric_spark import synth
from tric_spark.pipeline import run_pipeline
from tric_spark.session import CODEGEN_CACHE_ENTRIES, session_conf

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_session_conf_sizes_codegen_cache():
    conf = session_conf()
    assert conf[CODEGEN_CACHE] == str(CODEGEN_CACHE_ENTRIES)
    # Spark's default holds 100 classes; one pipeline pass generates more
    assert CODEGEN_CACHE_ENTRIES > 100


def test_session_conf_master_only_when_given(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    assert "spark.master" not in session_conf()
    assert session_conf(cores=3)["spark.master"] == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "spark://head:7077")
    assert session_conf()["spark.master"] == "spark://head:7077"
    assert session_conf(cores=2)["spark.master"] == "local[2]"


def test_session_conf_extra_conf_overrides_defaults():
    conf = session_conf(shuffle_partitions=6, extra_conf={
        CODEGEN_CACHE: "50", "spark.sql.shuffle.partitions": "9", "spark.x": "y",
    })
    assert conf[CODEGEN_CACHE] == "50"
    assert conf["spark.sql.shuffle.partitions"] == "9"
    assert conf["spark.x"] == "y"
    assert session_conf(shuffle_partitions=6)["spark.sql.shuffle.partitions"] == "6"


def test_repeat_pipeline_run_compiles_no_code(spark, tmp_path):
    """A second identical run_pipeline finds every generated class in
    Spark's codegen cache. At Spark's 100-entry default a run evicts its own
    classes (it generates more than 100) and the repeat recompiles them."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    pages = synth.pages_table(spark, 200, seed=5)
    counts = []
    for i in range(2):
        spark.catalog.clearCache()
        before = compiles.getCount()
        run_pipeline(spark, pages, str(tmp_path / f"out{i}"),
                     checkpoint_dir=str(tmp_path / f"ck{i}"))
        counts.append(compiles.getCount() - before)
    spark.catalog.clearCache()
    assert counts[1] == 0, counts
