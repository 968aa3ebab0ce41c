"""The SQLite model registry (SURVEY.md M4).

The reference's own default metadata DB is SQLite (``db_uri:
sqlite:///${AIFLOW_HOME}/aiflow.db``, reference README.md:39). These
tests pin the lifecycle, cross-process visibility, transactional
version allocation under concurrent writers, and the ``db_uri``
factory.
"""

import os
import subprocess
import sys
import textwrap

import pytest

from pravega_flink_ai_flow_spark.ml import (
    ModelRegistry, ModelVersionStage, open_registry,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_open_registry_routing(tmp_workdir):
    reg = open_registry(f"sqlite:///{tmp_workdir}/aiflow.db")
    assert isinstance(reg, ModelRegistry)


@pytest.mark.parametrize("uri", ["mysql://h/db", "mongodb://h/db",
                                 "docstore://h/db", "postgresql://h/db",
                                 "registry.json"],
                         ids=["mysql", "mongodb", "docstore", "postgresql",
                              "bare_path"])
def test_open_registry_rejects_other_schemes(tmp_path, monkeypatch, uri):
    """Only ``sqlite:///`` names a store; any other ``scheme://`` or a
    bare path fails at open time, naming the accepted form, and leaves
    nothing behind."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="use sqlite:///"):
        open_registry(uri)
    assert os.listdir(tmp_path) == []


def test_sqlite_lifecycle_matches_json_backend(tmp_workdir):
    """The reference's lifecycle semantics: stage machine GENERATED →
    VALIDATED → DEPLOYED → DEPRECATED, an event on every transition."""
    reg = ModelRegistry(os.path.join(tmp_workdir, "aiflow.db"))
    events = []
    reg.subscribe(lambda name, event, mv: events.append((event, mv.version)))

    reg.register_model("wide_and_deep", "demo model")
    v1 = reg.register_model_version("wide_and_deep", "/models/v1")
    v2 = reg.register_model_version("wide_and_deep", "/models/v2")
    assert (v1.version, v2.version) == (1, 2)
    assert reg.get_latest_generated_model_version("wide_and_deep").version == 2

    reg.update_model_version("wide_and_deep", 1, ModelVersionStage.DEPLOYED)
    assert reg.get_deployed_model_version("wide_and_deep").version == 1
    # v2 still the latest GENERATED, v1 no longer GENERATED
    assert reg.get_latest_generated_model_version("wide_and_deep").version == 2
    assert events == [("MODEL_GENERATED", 1), ("MODEL_GENERATED", 2),
                      ("MODEL_DEPLOYED", 1)]

    # unknown version: KeyError
    with pytest.raises(KeyError):
        reg.update_model_version("wide_and_deep", 99,
                                 ModelVersionStage.DEPLOYED)


def test_sqlite_cross_process_visibility(tmp_workdir):
    """A stage transition made by ANOTHER process is visible to this
    one without reopening."""
    db = os.path.join(tmp_workdir, "aiflow.db")
    reg = ModelRegistry(db)
    reg.register_model_version("m", "/p1")

    child = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {REPO!r})
        from pravega_flink_ai_flow_spark.ml import ModelRegistry
        r = ModelRegistry({db!r})
        r.register_model_version("m", "/p2")
        r.update_model_version("m", 1, "DEPLOYED")
    """)
    subprocess.run([sys.executable, "-c", child], check=True, timeout=60)

    assert [v.version for v in reg.versions("m")] == [1, 2]
    assert reg.get_deployed_model_version("m").version == 1
    assert reg.get_latest_generated_model_version("m").version == 2


def test_sqlite_concurrent_version_allocation(tmp_workdir):
    """N concurrent writer PROCESSES each register one version; the
    BEGIN IMMEDIATE transaction must allocate N distinct consecutive
    version numbers."""
    db = os.path.join(tmp_workdir, "aiflow.db")
    ModelRegistry(db)  # create schema up front
    child = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {REPO!r})
        from pravega_flink_ai_flow_spark.ml import ModelRegistry
        ModelRegistry({db!r}).register_model_version("m", "/p")
    """)
    procs = [subprocess.Popen([sys.executable, "-c", child])
             for _ in range(6)]
    for p in procs:
        assert p.wait(timeout=120) == 0
    versions = [v.version for v in ModelRegistry(db).versions("m")]
    assert versions == [1, 2, 3, 4, 5, 6]


def test_project_context_defaults_to_sqlite(tmp_workdir):
    """init_project without a db_uri uses sqlite:///<state>/aiflow.db —
    the reference's default store shape."""
    from pravega_flink_ai_flow_spark.engine.project import init_project

    yaml_path = os.path.join(tmp_workdir, "project.yaml")
    with open(yaml_path, "w") as f:
        f.write("project_name: demo\n")
    ctx = init_project(yaml_path, spark=object())
    assert isinstance(ctx.registry, ModelRegistry)
    ctx.registry.register_model_version("m", "/p")
    assert os.path.exists(os.path.join(tmp_workdir, ".project_state",
                                       "aiflow.db"))

    # explicit db_uri in project.yaml is honored
    with open(yaml_path, "w") as f:
        f.write(f"project_name: demo\ndb_uri: sqlite:///{tmp_workdir}/x.db\n")
    ctx2 = init_project(yaml_path, spark=object())
    ctx2.registry.register_model_version("m2", "/p")
    assert os.path.exists(os.path.join(tmp_workdir, "x.db"))
