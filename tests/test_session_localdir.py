"""Orphaned-local-dir sweep (session.py): crashed JVMs leave spark-*/
blockmgr-* shuffle dirs behind on the tmpfs local dir; the sweep reaps them
at session startup iff no live JVM could own them. (Observed failure mode:
118 GiB of orphans from four dead bench children starved every later JVM
into allocation-failure death.)"""
import os

from geospatial_studio_pipelines_spark import session as S


def _setup(tmp_path, age=None):
    d = tmp_path / "spark-local"
    d.mkdir()
    (d / "spark-dead").mkdir()
    (d / "spark-dead" / "x.data").write_text("junk")
    (d / "blockmgr-dead").mkdir()
    (d / "unrelated").mkdir()
    if age is not None:
        old = os.stat(d).st_mtime - age
        for e in d.iterdir():
            os.utime(e, (old, old))
    return d


def test_sweep_removes_old_orphans_when_no_jvm(tmp_path, monkeypatch):
    d = _setup(tmp_path, age=S._SWEEP_MIN_AGE_SEC + 60)
    monkeypatch.setattr(S, "_any_java_alive", lambda: False)
    S._sweep_orphaned_local_dirs(str(d))
    assert sorted(os.listdir(d)) == ["unrelated"]


def test_sweep_spares_young_dirs(tmp_path, monkeypatch):
    """TOCTOU guard: a concurrent session's freshly created dirs (its JVM
    may not have exec'd yet when the liveness check ran) must survive."""
    d = _setup(tmp_path)  # mtimes = now
    monkeypatch.setattr(S, "_any_java_alive", lambda: False)
    S._sweep_orphaned_local_dirs(str(d))
    assert sorted(os.listdir(d)) == ["blockmgr-dead", "spark-dead", "unrelated"]


def test_sweep_keeps_everything_when_jvm_alive(tmp_path, monkeypatch):
    d = _setup(tmp_path)
    monkeypatch.setattr(S, "_any_java_alive", lambda: True)
    S._sweep_orphaned_local_dirs(str(d))
    assert sorted(os.listdir(d)) == ["blockmgr-dead", "spark-dead", "unrelated"]


def test_any_java_alive_detects_this_test_process_absence():
    # deterministic contract: returns a bool and doesn't raise
    assert S._any_java_alive() in (True, False)


def test_default_master_uses_the_host_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    master = S._default_master()
    assert master == "local[*]"
    assert S._parallelism_of(master) == os.cpu_count()
    assert S._parallelism_of("spark://host:7077") == os.cpu_count()
