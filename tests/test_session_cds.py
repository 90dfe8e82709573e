"""The driver JVM starts from a class-data-sharing archive (session.py).

Each case runs fresh Python processes, since only a new JVM can start from
an archive, each with its own ``XDG_CACHE_HOME`` so the archive the test
session itself uses is never touched."""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from tests.conftest import REPO

_PROBE = r"""
import json, os
from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark

cds_dir = os.path.join(os.environ["XDG_CACHE_HOME"], "fraudmart", "cds")
before = os.environ.get("SPARK_CONF_DIR")
spark = get_spark(app_name="cds-probe", master="local[1]",
                  extra_conf={"spark.driver.extraJavaOptions": "-Dfraudmart.probe=kept"})
jvm = spark._jvm
mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print("PROBE " + json.dumps({
    "rows": spark.range(3).count(),
    "shared": mx.getVMOption("UseSharedSpaces").getValue(),
    "archive": mx.getVMOption("SharedArchiveFile").getValue(),
    "dump": mx.getVMOption("ArchiveClassesAtExit").getValue(),
    "probe": jvm.java.lang.System.getProperty("fraudmart.probe"),
    "conf_dir_before": before,
    "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "archives_while_running":
        sorted(n for n in os.listdir(cds_dir) if n.endswith(".jsa")) if os.path.isdir(cds_dir) else [],
}), flush=True)
"""


def _probe(cache, cwd, **env):
    """Run the probe in a fresh process; its facts, read back from stdout."""
    full = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEM="1g",
                PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    full.pop("SPARK_CONF_DIR", None)
    full.update(env)
    proc = subprocess.run([sys.executable, "-c", _PROBE], cwd=str(cwd), env=full,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [l[6:] for l in proc.stdout.splitlines() if l.startswith("PROBE ")]
    assert len(lines) == 1, proc.stdout[-3000:]
    facts = json.loads(lines[0])
    assert facts["rows"] == 3
    assert facts["probe"] == "kept"  # the caller's extraJavaOptions reach the JVM
    assert facts["conf_dir_after"] == facts["conf_dir_before"]
    return facts


def _archives(cache):
    return sorted(glob.glob(os.path.join(str(cache), "fraudmart", "cds", "*.jsa")))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache whose archive one probe process built: (cache dir, archive)."""
    cache = tmp_path_factory.mktemp("cds_cache")
    facts = _probe(cache, cache)
    assert facts["dump"].endswith(".tmp") and facts["archive"] == ""
    assert facts["archives_while_running"] == []  # published only after the JVM exits
    (archive,) = _archives(cache)
    assert os.path.getsize(archive) > 32 << 20
    assert not glob.glob(os.path.join(str(cache), "fraudmart", "cds", "*.tmp"))
    return cache, archive


def test_second_process_maps_the_archive(built, tmp_path):
    cache, archive = built
    facts = _probe(cache, tmp_path)
    assert facts["shared"] == "true"
    assert facts["archive"] == archive
    assert facts["dump"] == ""
    assert facts["jvm_conf_dir"] == os.path.join(os.path.dirname(archive), "conf")
    assert facts["conf_dir_before"] is None
    assert _archives(cache) == [archive]


def test_real_conf_dir_is_restored(built, tmp_path):
    """A template-only SPARK_CONF_DIR set by the caller still gets CDS, and
    os.environ holds the caller's value again once the session exists."""
    cache, archive = built
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    facts = _probe(cache, tmp_path, SPARK_CONF_DIR=str(conf_dir))
    assert facts["archive"] == archive and facts["shared"] == "true"
    assert facts["conf_dir_before"] == facts["conf_dir_after"] == str(conf_dir)


@pytest.mark.parametrize("damage", ["truncated", "zeroed_header"])
def test_damaged_archive_still_starts_and_is_replaced(built, tmp_path, damage):
    """A truncated archive crashes the JVM at start-up; one with a zeroed
    header starts it with sharing off. Either way the session works, the
    damaged file is deleted, and the next process publishes a new one."""
    cache = tmp_path / "cache"
    shutil.copytree(built[0], cache)
    (archive,) = _archives(cache)
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as f:
        if damage == "truncated":
            f.truncate(1 << 20)
        else:
            f.write(bytes(64 << 10))
    first = _probe(cache, tmp_path)
    assert first["dump"] == ""
    assert _archives(cache) == []
    rebuilt = _probe(cache, tmp_path)
    assert rebuilt["dump"].endswith(".tmp")
    assert _archives(cache) == [archive] and os.path.getsize(archive) > 32 << 20


def test_non_template_conf_dir_means_no_cds(tmp_path):
    """Spark reads spark-defaults.conf and friends from the real conf dir, so
    a dir holding one is launched exactly as without CDS."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.fraudmart.from.conf dir\n")
    facts = _probe(tmp_path / "cache", tmp_path, SPARK_CONF_DIR=str(conf_dir))
    assert facts["archive"] == "" and facts["dump"] == ""
    assert facts["jvm_conf_dir"] == facts["conf_dir_after"] == str(conf_dir)
    assert not os.path.exists(tmp_path / "cache" / "fraudmart")
