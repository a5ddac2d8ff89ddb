"""The driver JVM's class-data-sharing archive (plans/session.py).

The decision table runs without a JVM. The end-to-end check starts its
sessions in fresh interpreters, because this process's ``spark`` fixture
has already launched its JVM.
"""

import glob
import json
import os
import shlex
import struct
import subprocess
import sys

from typhoon_ocr_spark.plans import session as S

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVE = "/cache/typhoon-ocr-spark/0123456789abcdef.jsa"
TMPDIR_OPT = "-Djava.io.tmpdir=/data/tmp"
TEMPLATES = ["spark-defaults.conf.template", "log4j2.properties.template"]


def plan(conf=None, env=None, conf_files=TEMPLATES, archive_ok=False, attempted=False):
    return S.plan_driver_jvm(conf or {}, env or {}, conf_files, ARCHIVE, archive_ok, attempted)


# ---------------------------------------------------------------------------
# decision table
# ---------------------------------------------------------------------------

def test_whole_archive_is_mapped():
    assert plan(archive_ok=True) == ("use", f"-XX:SharedArchiveFile={ARCHIVE}")


def test_missing_archive_is_written_then_mapped():
    assert plan() == ("create", f"-XX:SharedArchiveFile={ARCHIVE}")


def test_absent_conf_dir_is_eligible():
    assert plan(conf_files=[], archive_ok=True)[0] == "use"


def test_caller_options_are_kept_and_engine_flags_appended():
    conf = {S.JAVA_OPTIONS: TMPDIR_OPT}
    for archive_ok in (True, False):
        decision, options = plan(conf, archive_ok=archive_ok)
        assert decision in ("use", "create")
        assert options.startswith(TMPDIR_OPT + " ")


def test_failed_attempt_is_not_retried():
    conf = {S.JAVA_OPTIONS: TMPDIR_OPT}
    assert plan(conf, attempted=True) == ("off:dump-attempted", TMPDIR_OPT)
    # a whole archive written since is still used
    assert plan(conf, archive_ok=True, attempted=True)[0] == "use"


def test_real_conf_file_turns_it_off():
    for name in ("spark-defaults.conf", "log4j2.properties", "spark-env.sh"):
        assert plan(conf_files=TEMPLATES + [name], archive_ok=True) == ("off:spark-conf", None)


def test_extra_classpath_turns_it_off():
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        assert plan(env={var: "/etc/hadoop/conf"})[0] == "off:extra-classpath"
    assert plan({"spark.driver.extraClassPath": "/x"})[0] == "off:extra-classpath"


def test_caller_cds_flags_turn_it_off():
    for flags in ("-Xshare:off", "-XX:SharedArchiveFile=/a.jsa", "-XX:ArchiveClassesAtExit=/b.jsa"):
        conf = {S.JAVA_OPTIONS: f"{TMPDIR_OPT} {flags}"}
        assert plan(conf, archive_ok=True) == ("off:caller-cds", conf[S.JAVA_OPTIONS])
        assert plan(env={"JAVA_TOOL_OPTIONS": flags}, archive_ok=True)[0] == "off:caller-cds"


def test_path_with_space_is_quoted():
    # the launcher splits extraJavaOptions as a shell would
    decision, options = S.plan_driver_jvm({}, {}, [], "/my cache/k.jsa", True, False)
    assert shlex.split(options)[0] == "-XX:SharedArchiveFile=/my cache/k.jsa"


# ---------------------------------------------------------------------------
# archive check and key
# ---------------------------------------------------------------------------

def _archive_bytes(regions, magic=S._DYNAMIC_MAGIC, version=S._ARCHIVE_VERSION):
    head = S._HEADER.pack(magic, 0, version)
    for i in range(S._REGIONS):
        offset, used = regions[i] if i < len(regions) else (0, 0)
        head += S._REGION.pack(0, 0, 0, 0, 0, 0, offset, 0, used, 0, 0, 0)
    return head


def test_archive_complete(tmp_path):
    path = tmp_path / "k.jsa"
    assert not S.archive_complete(str(path))
    body = _archive_bytes([(4096, 8192), (12288, 4096)])
    whole = body + b"\0" * (16384 - len(body))
    for data, ok in [
        (whole, True),
        (whole[:16000], False),                     # truncated
        (b"\0" * 4096 + whole[4096:], False),       # header not yet written
        (os.urandom(16384), False),                 # garbage
        (whole[:100], False),                       # shorter than a header
        (_archive_bytes([(4096, 8192)], version=12).ljust(16384, b"\0"), False),
        (_archive_bytes([(4096, 8192)], magic=0xF00BABA2).ljust(16384, b"\0"), False),
    ]:
        path.write_bytes(data)
        assert S.archive_complete(str(path)) is ok, data[:16]


def test_archive_key_follows_jars_and_cache(tmp_path):
    java, jars, cache = tmp_path / "java", tmp_path / "jars", str(tmp_path / "cache")
    java.write_bytes(b"java")
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    key = S.archive_key(str(java), str(jars), cache)
    assert key == S.archive_key(str(java), str(jars), cache)
    # a moved cache records another conf/ path: a new archive
    assert S.archive_key(str(java), str(jars), cache + "-moved") != key
    (jars / "b.jar").write_bytes(b"b")
    assert S.archive_key(str(java), str(jars), cache) != key


def _launch_env(monkeypatch, cache):
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    # an absent conf directory: eligible whatever the install's holds
    monkeypatch.setenv("SPARK_CONF_DIR", str(cache) + "-spark-conf")
    for var in S._CLASSPATH_VARS + S._JVM_OPTION_VARS:
        monkeypatch.delenv(var, raising=False)


def _fake_dump(monkeypatch, ok):
    calls = []

    def write(archive, caller_options, empty_conf):
        calls.append((archive, caller_options, empty_conf))
        return ok
    monkeypatch.setattr(S, "_write_archive", write)
    return calls


def test_one_dump_per_key(tmp_path, monkeypatch):
    _launch_env(monkeypatch, tmp_path)
    calls = _fake_dump(monkeypatch, ok=False)
    conf = {S.JAVA_OPTIONS: TMPDIR_OPT}
    assert S._prepare_driver_jvm(conf) == ("off:dump-failed", TMPDIR_OPT, None)
    # the writing session gets the caller's options and the empty conf dir
    ((archive, caller_options, empty_conf),) = calls
    assert caller_options == TMPDIR_OPT and os.listdir(empty_conf) == []
    # no archive appeared: the next start leaves the JVM alone
    assert S._prepare_driver_jvm(conf) == ("off:dump-attempted", TMPDIR_OPT, None)
    assert len(calls) == 1


def test_written_archive_is_mapped_at_once(tmp_path, monkeypatch):
    _launch_env(monkeypatch, tmp_path)
    calls = _fake_dump(monkeypatch, ok=True)
    decision, options, conf_dir = S._prepare_driver_jvm({S.JAVA_OPTIONS: TMPDIR_OPT})
    ((archive, _, empty_conf),) = calls
    assert decision == "create" and conf_dir == empty_conf
    assert options == f"{TMPDIR_OPT} -XX:SharedArchiveFile={archive}"


def test_new_dump_drops_other_archives(tmp_path, monkeypatch):
    _launch_env(monkeypatch, tmp_path)
    _fake_dump(monkeypatch, ok=True)
    cache = tmp_path / S.CDS_CACHE
    cache.mkdir()
    for name in ("0000000000000000.jsa", "0000000000000000.dump", "1111111111111111.dump",
                 "2222222222222222.jsa.tmp"):
        (cache / name).write_bytes(b"old")
    assert S._prepare_driver_jvm({})[0] == "create"
    (marker,) = [n for n in os.listdir(cache) if n.endswith(".dump")]
    assert sorted(os.listdir(cache)) == sorted(["conf", marker])
    # a session that finds the claim taken deletes nothing
    (cache / "0000000000000000.jsa").write_bytes(b"old")
    assert S._prepare_driver_jvm({})[0] == "off:dump-attempted"
    assert "0000000000000000.jsa" in os.listdir(cache)


def test_unusable_cache_turns_it_off(tmp_path, monkeypatch):
    cache = tmp_path / "not-a-directory"
    cache.write_bytes(b"")
    _launch_env(monkeypatch, cache)
    assert S._prepare_driver_jvm({}) == ("off:cache-unusable", None, None)


def test_no_launch_leaves_jvm_and_env_alone(spark, tmp_path, monkeypatch):
    """getOrCreate reuses the fixture's context: no archive decision,
    no cache directory and no SPARK_CONF_DIR change."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    before = os.environ.get("SPARK_CONF_DIR")
    recorded = spark.sparkContext._typhoon_driver_jvm
    again = S.build_session(app_name="typhoon-ocr-spark-tests", master="local[4]",
                            shuffle_partitions=8)
    assert again.sparkContext is spark.sparkContext
    assert again.sparkContext._typhoon_driver_jvm == recorded
    assert os.environ.get("SPARK_CONF_DIR") == before
    assert os.listdir(tmp_path) == []


# ---------------------------------------------------------------------------
# end to end, in fresh interpreters
# ---------------------------------------------------------------------------

SESSION = """
import json, os, sys
from typhoon_ocr_spark.plans.session import build_session
spark = build_session(master="local[1]", shuffle_partitions=2,
                      extra_conf={"spark.driver.extraJavaOptions": sys.argv[1]})
rows = [r.id for r in spark.range(5).collect()]
print(json.dumps({"decision": spark.sparkContext._typhoon_driver_jvm, "rows": rows,
                  "conf_dir": os.environ.get("SPARK_CONF_DIR")}))
"""


def _session(tmp_path, name):
    """One session in a fresh interpreter; returns its decision, rows and
    the JVM's class-load log. ``run`` returns once the JVM has exited,
    because the JVM holds the captured pipes until then."""
    log = tmp_path / f"{name}.classload"
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT") + S._CLASSPATH_VARS}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), PYTHONPATH=REPO,
               SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", SESSION, f"-Xlog:class+load=info:file={log}"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["rows"] == [0, 1, 2, 3, 4]
    # the launch's conf directory does not leak into the driver process
    assert result["conf_dir"] is None
    return result["decision"], log.read_text()


def test_archive_is_written_then_mapped_and_a_broken_one_is_skipped(tmp_path):
    # the first session writes the archive from a session of its own,
    # then maps it; classes of the dynamic archive load from its "top" layer
    mapped = "org.apache.spark.SparkContext source: shared objects file (top)"
    decision, classes = _session(tmp_path, "first")
    assert decision == "create" and mapped in classes
    (archive,) = glob.glob(str(tmp_path / "cache" / "typhoon-ocr-spark" / "*.jsa"))
    assert S.archive_complete(archive)

    decision, classes = _session(tmp_path, "second")
    assert decision == "use" and mapped in classes

    os.chmod(archive, 0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(os.path.getsize(archive) // 2)
    decision, classes = _session(tmp_path, "third")
    assert decision == "off:dump-attempted"
    assert "shared objects file (top)" not in classes
    # the header still reads as a dynamic archive: only its size gives it away
    with open(archive, "rb") as fh:
        assert struct.unpack("<I", fh.read(4))[0] == S._DYNAMIC_MAGIC
