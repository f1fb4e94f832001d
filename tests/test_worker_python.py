"""Python processes of a get_spark() session import the installed
pyspark, not Spark's pyspark.zip: UDF and mapInArrow tasks, and the
data source planners and read tasks of a cdc_replay read. None of them
keeps a zipimporter for Spark's own PYTHONPATH entries, so the
per-task ``importlib.invalidate_caches()`` re-reads no archive.
(tests/test_datasource.py reads the binlog in a ``newSession()``.)"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import zipimport
from types import SimpleNamespace

import pyarrow as pa
import pyspark
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition

from aurora_cdc_demo_spark.session import use_installed_pyspark, zip_free_workers
from aurora_cdc_demo_spark.sources.cdc_datasource import (
    CDCReplayBatchReader,
    CDCReplayDataSource,
    write_binlog_from_events,
)

WHERE_SCHEMA = "stage string, pyspark string, zip_importers array<string>, rows long"


def _where() -> tuple[str, list[str]]:
    """This process's pyspark/__init__.py and its cached zipimporters."""
    zips = sorted(
        path for path, imp in sys.path_importer_cache.items()
        if isinstance(imp, zipimport.zipimporter)
    )
    return pyspark.__file__, zips


class _WherePartition(InputPartition):
    def __init__(self, files, created, planned):
        super().__init__(files)
        self.files, self.created, self.planned = files, created, planned


class _WhereReader(CDCReplayBatchReader):
    def __init__(self, options, created):
        super().__init__(options)
        self.created = created

    def partitions(self):
        return [_WherePartition(p.files, self.created, _where()) for p in super().partitions()]

    def read(self, partition):
        rows = sum(getattr(b, "num_rows", 1) for b in super().read(partition))
        for stage, where in (
            ("create", partition.created),
            ("plan", partition.planned),
            ("read", _where()),
        ):
            yield (stage, *where, rows)


class _WhereReplay(CDCReplayDataSource):
    """cdc_replay reporting where each of its Python round trips ran:
    create_data_source builds the instance, plan_data_source_read the
    partitions, and the read task replays the log."""

    @classmethod
    def name(cls) -> str:
        return "cdc_replay_where"

    def __init__(self, options):
        super().__init__(options)
        self.created = _where()

    def schema(self):
        return WHERE_SCHEMA

    def reader(self, schema):
        return _WhereReader(self.options, self.created)


def test_python_processes_import_the_installed_pyspark(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    assert sc.pythonExec == os.path.join(sc._temp_dir, "python")
    log = tmp_path / "binlog"
    n = write_binlog_from_events(f"{sf_dir}/events.parquet", str(log), rows_per_file=300)

    where_udf = F.udf(lambda _: _where(), "struct<pyspark string, zip_importers array<string>>")
    udf_row = spark.range(1).select(where_udf("id").alias("w")).select("w.*").first()

    def where_batches(batches):
        for _ in batches:
            file, zips = _where()
            yield pa.RecordBatch.from_pylist([{"pyspark": file, "zip_importers": zips}])

    arrow_row = spark.range(1).mapInArrow(
        where_batches, "pyspark string, zip_importers array<string>"
    ).first()

    spark.dataSource.register(_WhereReplay)
    replay = spark.read.format("cdc_replay_where").option("path", str(log)).load().collect()
    assert {r["stage"] for r in replay} == {"create", "plan", "read"}
    assert sum(r["rows"] for r in replay if r["stage"] == "read") == n

    spark_entries = tuple(sc._jvm.PythonUtils.sparkPythonPath().split(os.pathsep))
    reports = [("udf", udf_row), ("mapInArrow", arrow_row)]
    reports += [(r["stage"], r) for r in replay]
    for stage, r in reports:
        assert os.path.realpath(r["pyspark"]) == os.path.realpath(pyspark.__file__), stage
        assert not any(part.endswith(".zip") for part in r["pyspark"].split(os.sep)), stage
        spark_zips = [z for z in r["zip_importers"] if z.startswith(spark_entries)]
        assert spark_zips == [], stage


DRIVER = os.path.realpath(pyspark.__file__)
V = pyspark.__version__


@pytest.mark.parametrize(
    "args, expected",
    [
        (("local[4]", V, V, DRIVER, DRIVER), True),
        (("local-cluster[2,1,1024]", V, V, DRIVER, DRIVER), True),
        # the JVM is another Spark version than the installed pyspark
        (("local[4]", "3.5.1", V, DRIVER, DRIVER), False),
        # the driver itself imported pyspark out of a zip
        (("local[4]", V, V, "/opt/spark/python/lib/pyspark.zip/pyspark/__init__.py",
          "/opt/spark/python/lib/pyspark.zip/pyspark/__init__.py"), False),
        # the launcher's interpreter (a PYSPARK_PYTHON) imports another pyspark
        (("local[4]", V, V, DRIVER, "/other/site-packages/pyspark/__init__.py"), False),
        # the launcher's interpreter could not be asked
        (("local[4]", V, V, DRIVER, None), False),
        # executors on other hosts
        (("spark://head:7077", V, V, DRIVER, DRIVER), False),
    ],
)
def test_zip_free_workers_decision(args, expected):
    assert zip_free_workers(*args) is expected


SPARK_ENTRIES = [
    "/opt/spark/python/lib/pyspark.zip",
    "/opt/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/opt/spark/jars/spark-core_2.13-4.1.2.jar",
]


def _session_stub(tmp_path, version=V):
    sc = SimpleNamespace(
        _temp_dir=str(tmp_path),
        _jvm=SimpleNamespace(
            PythonUtils=SimpleNamespace(sparkPythonPath=lambda: os.pathsep.join(SPARK_ENTRIES))
        ),
        pythonExec="python3",
        master="local[2]",
    )
    return SimpleNamespace(version=version, sparkContext=sc)


def _fake_python(tmp_path, reports: str) -> str:
    """An interpreter stand-in: records its PYTHONPATH and arguments,
    and answers the launcher's question with ``reports``."""
    fake = tmp_path / "fake python"
    fake.write_text(
        "#!/bin/sh\n"
        f"printf '%s\\n' \"$PYTHONPATH\" \"$@\" > '{tmp_path}/seen'\n"
        f"echo '{reports}'\n"
    )
    fake.chmod(0o755)
    return str(fake)


def test_user_pyspark_python_is_kept_as_is(tmp_path, monkeypatch):
    """A PYSPARK_PYTHON importing the driver's pyspark is what the
    launcher execs, with only Spark's entries dropped from PYTHONPATH."""
    monkeypatch.setenv("PYSPARK_PYTHON", _fake_python(tmp_path, DRIVER))
    monkeypatch.setenv("PYTHONPATH", "/repo:/x/python/lib/pyspark.zip.d:/y")
    stub = _session_stub(tmp_path)
    use_installed_pyspark(stub)
    launcher = os.path.join(str(tmp_path), "python")
    assert stub.sparkContext.pythonExec == launcher
    seen = (tmp_path / "seen").read_text().splitlines()
    assert seen[0] == "/repo:/x/python/lib/pyspark.zip.d:/y"
    assert seen[1] == "-c"
    with open(launcher) as fh:
        assert fh.read().rstrip().endswith(f"exec '{tmp_path}/fake python' \"$@\"")


def test_default_kept_when_pyspark_python_imports_another_pyspark(tmp_path, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", _fake_python(tmp_path, "/elsewhere/pyspark/__init__.py"))
    stub = _session_stub(tmp_path)
    use_installed_pyspark(stub)
    assert stub.sparkContext.pythonExec == "python3"


def test_driver_interpreter_unless_the_jvm_is_another_version(tmp_path, monkeypatch):
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    stub = _session_stub(tmp_path, version="3.5.1")
    use_installed_pyspark(stub)
    assert stub.sparkContext.pythonExec == "python3"
    stub = _session_stub(tmp_path)
    use_installed_pyspark(stub)  # the driver's own interpreter
    assert stub.sparkContext.pythonExec == os.path.join(str(tmp_path), "python")


def test_pyspark_python_wrapper_environment_reaches_the_worker(tmp_path, monkeypatch):
    """A PYSPARK_PYTHON wrapper that exports a variable before exec'ing
    the real interpreter is a deployment setting: the launcher execs
    the wrapper itself, so what it exports reaches every process."""
    wrapper = tmp_path / "wrapper python"
    wrapper.write_text(
        "#!/bin/sh\n"
        "AURORA_WRAPPER_MARK=set\nexport AURORA_WRAPPER_MARK\n"
        f"exec {shlex.quote(sys.executable)} \"$@\"\n"
    )
    wrapper.chmod(0o755)
    monkeypatch.setenv("PYSPARK_PYTHON", str(wrapper))
    monkeypatch.delenv("AURORA_WRAPPER_MARK", raising=False)
    stub = _session_stub(tmp_path)
    use_installed_pyspark(stub)
    launcher = os.path.join(str(tmp_path), "python")
    assert stub.sparkContext.pythonExec == launcher
    seen = subprocess.run(
        [launcher, "-c", "import os; print(os.environ.get('AURORA_WRAPPER_MARK'))"],
        capture_output=True, text=True, check=True,
    )
    assert seen.stdout.strip() == "set"
