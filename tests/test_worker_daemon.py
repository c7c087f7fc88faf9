"""``worker_daemon.stable_archives``: Spark's own archives (named in the
worker's PYTHONPATH) are not re-read by ``importlib.invalidate_caches()``,
every other zip still is. The unit tests run in a subprocess each, because
the call changes the interpreter's import machinery for good."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)
    return str(path)


def _run(code: str, pythonpath: str | None, cwd=None) -> str:
    """Run ``code`` in a fresh interpreter whose PYTHONPATH is
    ``pythonpath`` (unset for None); the repo goes on ``sys.path`` at run
    time, so it is not an entry of PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath is not None:
        env["PYTHONPATH"] = pythonpath
    prelude = f"import sys\nsys.path.append({REPO!r})\n"
    res = subprocess.run(
        [sys.executable, "-c", prelude + textwrap.dedent(code)],
        env=env, cwd=cwd, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout


def test_listed_archive_is_not_reread(tmp_path):
    listed = _zip(tmp_path / "listed.zip", {"mod_a": "X = 1"})
    out = _run(
        f"""
        import importlib, zipimport
        import mod_a
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        importlib.invalidate_caches()
        before = reads.count({listed!r})
        from mk_kafka_connect_spark.worker_daemon import stable_archives
        del reads[:]
        stable_archives()
        importlib.invalidate_caches()
        print(before, reads.count({listed!r}))
        """,
        listed,
    )
    before, after = map(int, out.split())
    assert before >= 1  # the counter sees the plain importer's re-read
    assert after == 0


def test_unlisted_zip_is_still_reread(tmp_path):
    listed = _zip(tmp_path / "listed.zip", {"mod_a": "X = 1"})
    late = tmp_path / "late.zip"
    _zip(late, {"mod_b": "X = 2"})
    out = _run(
        f"""
        import importlib, zipfile
        sys.path.insert(0, {str(late)!r})
        import mod_b
        from mk_kafka_connect_spark.worker_daemon import stable_archives
        stable_archives()
        with zipfile.ZipFile({str(late)!r}, "a") as zf:
            zf.writestr("mod_c.py", "X = 3")
        importlib.invalidate_caches()
        import mod_c
        print(mod_b.X + mod_c.X)
        """,
        listed,
    )
    assert out.split() == ["5"]


def test_second_call_installs_nothing_more(tmp_path):
    listed = _zip(tmp_path / "listed.zip", {"mod_a": "X = 1"})
    out = _run(
        """
        import zipimport
        import mod_a
        from mk_kafka_connect_spark.worker_daemon import StableZipImporter, stable_archives
        stable_archives()
        hooks, cache = list(sys.path_hooks), dict(sys.path_importer_cache)
        stable_archives()
        assert sys.path_hooks == hooks and zipimport.zipimporter not in hooks
        assert hooks.count(StableZipImporter) == 1
        assert all(sys.path_importer_cache[k] is v for k, v in cache.items())
        print(sum(type(v) is StableZipImporter for v in cache.values()))
        """,
        listed,
    )
    assert int(out) >= 1


def test_noop_without_archives_on_pythonpath(tmp_path):
    out = _run(
        """
        import zipimport
        from mk_kafka_connect_spark.worker_daemon import stable_archives
        hooks, cache = list(sys.path_hooks), dict(sys.path_importer_cache)
        stable_archives()
        assert sys.path_hooks == hooks and zipimport.zipimporter in hooks
        assert sys.path_importer_cache == cache
        print("NOOP_OK")
        """,
        str(tmp_path),  # a directory: no archive
    )
    assert out.split() == ["NOOP_OK"]


# --- in a get_spark session ---------------------------------------------------


def test_udf_workers_hold_stable_pyspark_zip(spark):
    @F.udf("string")
    def importer_kinds(_):
        import sys

        return ",".join(sorted({
            type(v).__name__ for k, v in sys.path_importer_cache.items()
            if "pyspark.zip" in k
        }))

    row = spark.range(1).select(importer_kinds("id").alias("k")).first()
    assert row.k == "StableZipImporter"


def test_addpyfile_zip_after_first_task_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]
    late = _zip(tmp_path / "mkkc_late_pyfile.zip", {"mkkc_late_mod": "VALUE = 42"})
    sc.addPyFile(late)

    def use(_):
        import mkkc_late_mod

        return [mkkc_late_mod.VALUE]

    assert sc.parallelize([0], 1).mapPartitions(use).collect() == [42]


def test_get_spark_after_plain_session_reaches_workers():
    """An earlier plain session started the JVM without this package on
    its PYTHONPATH; get_spark's session must still give its workers the
    package (and so its daemon module)."""
    out = _run(
        """
        from pyspark.sql import SparkSession, functions as F
        plain = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        plain.stop()
        from mk_kafka_connect_spark.session import get_spark
        spark = get_spark(master="local[1]", extra_conf={
            "spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "1"})

        @F.udf("string")
        def base_url(_):
            from mk_kafka_connect_spark.sources.config import RestSourceConfig
            return RestSourceConfig.from_options({"url": "http://h"}).base_url

        print("RESULT", spark.range(1).select(base_url("id")).first()[0])
        spark.stop()
        """,
        None,
        cwd="/tmp",
    )
    assert "RESULT http://h" in out
