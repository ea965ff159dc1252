"""The Python workers that ``session.get_spark`` starts: where they
import pyspark from (``_daemon.worker_path``) and where they find this
package (``spark.executorEnv.PYTHONPATH``)."""

import os
import subprocess
import sys
import zipfile

from myodish_peak_analysis_spark._daemon import worker_path

from tests.conftest import SF001

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package(root, name, version=None):
    d = root / name
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    if version is not None:
        (d / "version.py").write_text(f"__version__: str = '{version}'\n")


def _spark_path(tmp_path, zipped, installed):
    """A worker's path as Spark builds it: pyspark.zip, the py4j zip and
    the core jar first, then the interpreter's entries. ``installed`` is
    the version of a non-zip pyspark after them, or None for none."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zipped}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    site = tmp_path / "site"
    site.mkdir()
    _package(site, "py4j")
    if installed is not None:
        _package(site, "pyspark", installed)
    stdlib_zip = str(tmp_path / "lib" / "python311.zip")
    return [str(tmp_path / "cwd"), str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
            str(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"), stdlib_zip, str(site)]


def test_guard_keeps_path_on_version_mismatch(tmp_path):
    path = _spark_path(tmp_path, zipped="4.1.2", installed="4.0.0")
    assert worker_path(path) is path


def test_guard_keeps_path_when_only_the_zip_has_pyspark(tmp_path):
    path = _spark_path(tmp_path, zipped="4.1.2", installed=None)
    assert worker_path(path) is path


def test_guard_strips_spark_archives_on_version_match(tmp_path):
    path = _spark_path(tmp_path, zipped="4.1.2", installed="4.1.2")
    # the interpreter's own zip is not Spark's and stays
    assert worker_path(path) == [path[0], path[4], path[5]]


def test_worker_imports_installed_pyspark(spark):
    """Holds where the installed pyspark has the version of
    ``$SPARK_HOME/python/lib/pyspark.zip``, as on the supported host."""

    def probe(_):
        import pyspark

        yield pyspark.__file__, list(sys.path)

    [(pyspark_file, path)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert ".zip" not in pyspark_file
    # only an existing archive gets a zip importer, whose directory every
    # task's importlib.invalidate_caches() re-reads
    assert [e for e in path if e.endswith((".zip", ".jar")) and os.path.isfile(e)] == []


def test_native_query_runs_from_outside_the_repo(spark, tmp_path):
    """The driver imports the package from a path entry of its own; its
    workers find it through ``spark.executorEnv.PYTHONPATH``, which
    keeps a caller's own entry after the package's."""
    from __spark_entry__ import queries

    key = "spark.executorEnv.PYTHONPATH"
    script = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from __spark_entry__ import queries\n"
        "from myodish_peak_analysis_spark.session import get_spark\n"
        f"s = get_spark('elsewhere', extra_conf={{{key!r}: {str(tmp_path)!r}}})\n"
        f"print(s.sparkContext.getConf().get({key!r}))\n"
        f"print(queries()['smooth'](s, {SF001!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    pythonpath, rows = out.stdout.split()[-2:]
    assert pythonpath == os.pathsep.join([REPO, str(tmp_path)])
    assert int(rows) == queries()["smooth"](spark, SF001).count() > 0
