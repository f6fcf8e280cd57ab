"""The session's fixed-cost caches hold across calls: the codegen cache
fits a warm workload, and Python workers re-read a zip on the path only
when it changed."""

from __future__ import annotations

import os
import zipfile
import zipimport

from dataengineerchallenge_spark import pydaemon
from dataengineerchallenge_spark.registry import queries
from tests.conftest import SF_SMOKE

SF_DIR = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
# perfbench's curation workload: 103-107 codegen cache entries, over
# Spark's default cap of 100
CURATION = ["near_dup_jaccard", "doc_lang_id", "extract_main_text", "udf_user_trend"]


def _write_zip(path, names) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "x = 1\n")


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, ["a.py"])
    importer = zipimport.zipimporter(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )

    pydaemon.invalidate_caches(importer)  # first stamp reads once
    pydaemon.invalidate_caches(importer)
    assert len(reads) == 1

    _write_zip(archive, ["a.py", "b.py"])
    pydaemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("b") is not None
    pydaemon.invalidate_caches(importer)
    assert len(reads) == 2


def test_workers_run_the_engine_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        yield sys.version_info[:2], zipimport.zipimporter.invalidate_caches.__module__

    got = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect())
    assert len(got) == 1
    (version, module), = got
    if version < (3, 12):
        assert module == "dataengineerchallenge_spark.pydaemon"
    else:
        assert module == "zipimport"


def test_warm_curation_pass_compiles_nothing(spark):
    qs = queries()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def curation_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in CURATION:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    curation_pass()  # staged builds, first compiles
    curation_pass()  # first serve of each staged slot
    assert curation_pass() == 0  # at the default cap of 100: 32-60
