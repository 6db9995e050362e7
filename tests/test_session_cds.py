"""Driver JVM start from the class-data-sharing (CDS) archive (session module
docstring, "JVM start").

Each subprocess test starts its own driver JVM with its own cache dir
(``XDG_CACHE_HOME``), so the archive it sees is the one the test made.  The
probe records ``session.cds_state()``, whether ``os.environ`` came back
unchanged (but for what pyspark itself exports), the ``SPARK_CONF_DIR`` and a conf value the JVM saw, and the row
count of one action.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# SparkContext.__init__ exports these two itself, with or without CDS.
_PYSPARK_OWN_ENV = {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}

_PROBE = """
import json, os, sys
sys.path.insert(0, {repo!r})
from datafusion_test_spark import session
before = dict(os.environ)
spark = session.get_session("cds-probe")
after = dict(os.environ)
env_same = all(
    before.get(k) == after.get(k)
    for k in set(before) | set(after) if k not in {own!r}
)
jvm = spark.sparkContext._jvm
print("CDS_PROBE " + json.dumps({{
    "state": session.cds_state(),
    "env_same": env_same,
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "probe_conf": spark.sparkContext.getConf().get("spark.dfts.cdsProbe", None),
    "rows": spark.range(10).count(),
}}))
"""


def _probe(cache, java_options: str = "", **env) -> dict:
    """Run get_session in a fresh process whose cache dir is ``cache``."""
    full = dict(
        os.environ,
        XDG_CACHE_HOME=str(cache),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '{java_options}' pyspark-shell"
            if java_options else "pyspark-shell"
        ),
        **env,
    )
    full.pop("PYSPARK_GATEWAY_PORT", None)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO, own=_PYSPARK_OWN_ENV)],
        env=full, capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("CDS_PROBE ")]
    assert out.returncode == 0 and lines, out.stdout[-3000:] + out.stderr[-3000:]
    return json.loads(lines[-1][len("CDS_PROBE "):])


def _archives(cache) -> list[str]:
    cds = os.path.join(str(cache), "datafusion_test_spark", "cds")
    return sorted(os.path.join(cds, n) for n in os.listdir(cds) if n.endswith(".jsa"))


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache dir after one cold start: (cache, probe record)."""
    cache = tmp_path_factory.mktemp("cds-cache")
    return cache, _probe(cache)


def test_first_start_dumps_and_publishes_archive(dumped):
    cache, rec = dumped
    assert rec["state"] == "dump" and rec["rows"] == 10
    assert rec["env_same"], "get_session must restore os.environ"
    (archive,) = _archives(cache)
    assert archive.endswith(f"-{os.path.getsize(archive)}.jsa")
    cds = os.path.dirname(archive)
    assert not [n for n in os.listdir(cds) if n.endswith(".part")]


def test_use_maps_spark_classes_from_archive(dumped, tmp_path):
    cache, _ = dumped
    log = tmp_path / "class-load.log"
    rec = _probe(cache, f"-Xlog:class+load=info:file={log}")
    assert rec["state"] == "use" and rec["rows"] == 10
    assert rec["env_same"], "get_session must restore os.environ"
    shared = [
        ln for ln in log.read_text().splitlines()
        if " org.apache.spark." in ln and "source: shared objects file (top)" in ln
    ]
    assert shared, "no Spark class was loaded from the dynamic archive"


def test_corrupt_archive_still_starts(dumped):
    """An archive of the right size but damaged contents is mapped unless
    verified: the start must fall back, and the archive go.  (A truncated
    one would crash HotSpot with SIGBUS; _prune never hands it over, see
    test_archive_dir_keeps_only_current_key.)  The damage is done in place,
    since the archive is only valid in the cache dir it was made in (its
    stand-in conf dir is on the recorded classpath), and undone after."""
    cache, _ = dumped
    (archive,) = _archives(cache)
    with open(archive, "rb") as f:
        good = f.read()
    mid = len(good) // 2
    bad = good[:mid] + bytes(b ^ 0xFF for b in good[mid : mid + 64]) + good[mid + 64 :]
    os.chmod(archive, 0o644)
    with open(archive, "wb") as f:
        f.write(bad)
    try:
        rec = _probe(cache)
        assert rec["state"] == "off:archive rejected by the JVM" and rec["rows"] == 10
        assert not os.path.exists(archive), "a rejected archive must be removed"
    finally:
        with open(archive, "wb") as f:
            f.write(good)


def test_conf_dir_with_real_files_keeps_conf_and_skips_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.dfts.cdsProbe on\n")
    (conf / "log4j2.properties.template").write_text("")
    rec = _probe(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert rec["state"] == "off:conf dir has non-template files"
    assert rec["jvm_conf_dir"] == str(conf) and rec["probe_conf"] == "on"
    assert rec["env_same"]


def test_unwritable_cache_dir_gives_plain_start(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")  # the cache dir would have to be made inside a file
    rec = _probe(blocker)
    assert rec["state"] == "off:cache dir not writable" and rec["rows"] == 10
    assert rec["env_same"]


def test_running_gateway_gets_no_flags_or_env_change(spark, tmp_path, monkeypatch):
    """A second get_session, and one in a process whose gateway someone else
    started (as a driver does), change no flag, no env var and no file."""
    from datafusion_test_spark import session

    cache = tmp_path / "cache"
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    flags = spark.conf.get("spark.driver.defaultJavaOptions", None)
    own = session.cds_state()
    for state, want in ((own, own), (None, "off:gateway already running")):
        monkeypatch.setattr(session, "_CDS_STATE", state)
        before = dict(os.environ)
        assert session.get_session("cds-second") is spark
        assert dict(os.environ) == before
        assert session.cds_state() == want
        assert spark.conf.get("spark.driver.defaultJavaOptions", None) == flags
    assert not cache.exists()
    assert own is not None  # the fixture's own start was recorded


def test_archive_dir_keeps_only_current_key(tmp_path):
    """Archives of another JDK/pyspark/jar set, archives shorter than their
    name says and dead dumps' temp files are pruned; a live dump's temp file
    and the current archive are kept."""
    from datafusion_test_spark import session

    key = "aaaaaaaaaaaaaaaa"
    (tmp_path / "0123456789abcdef-4.jsa").write_bytes(b"abcd")  # another key
    (tmp_path / f"{key}-9.jsa").write_bytes(b"abc")  # cut short
    (tmp_path / f"{key}.999999999.part").write_bytes(b"x")  # its writer is gone
    live = tmp_path / f"{key}.{os.getpid()}.part"
    live.write_bytes(b"x")
    assert session._prune(str(tmp_path), key) is None
    assert [p.name for p in tmp_path.iterdir()] == [live.name]
    good = tmp_path / f"{key}-3.jsa"
    good.write_bytes(b"abc")
    assert session._prune(str(tmp_path), key) == str(good)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted([good.name, live.name])
