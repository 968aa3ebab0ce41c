"""Project context (the reference's ``project.yaml`` entry file,
`pravega_project/project.yaml`): one object wiring together everything a
reference user touches through AI Flow's ``af.init_ai_flow_context()`` —
project name, dataset catalog (metadata server), model registry
(notification server), workflow operation (Airflow scheduler), and the
shared engine SparkSession.

The reference's YAML declares external service endpoints
(``server_uri``, ``notification_server_uri``, a blob manager class);
in-process there is nothing to dial, so those keys are accepted and
recorded — the capabilities they proxied ARE the catalog/registry/
workflow objects this context carries (SURVEY.md §3.1: the external
servers disappear, their roles don't).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .catalog import Catalog
from ..ml.registry import ModelRegistry, open_registry
from ..workflow import WorkflowOperation
from ..workflow.config import _load_yaml


@dataclass
class ProjectContext:
    project_name: str
    spark: SparkSession
    catalog: Catalog
    registry: ModelRegistry
    workflow_operation: WorkflowOperation
    properties: dict = field(default_factory=dict)   # recorded server_uri etc.


def init_project(yaml_path: str, *, spark: SparkSession | None = None,
                 state_dir: str | None = None) -> ProjectContext:
    """``af.init_ai_flow_context()`` analog: load ``project.yaml``,
    construct the shared session + catalog + registry + workflow
    operation. ``state_dir`` (default: alongside the yaml) holds the
    catalog JSON file and, unless ``db_uri`` names another database, the
    registry's SQLite ``aiflow.db``, so a reopened project sees its
    registrations, like the reference's metadata DB."""
    with open(yaml_path) as f:
        data = _load_yaml(f.read()) or {}
    name = str(data.get("project_name",
                        os.path.basename(os.path.dirname(yaml_path))
                        or "project"))
    if state_dir is None:
        state_dir = os.path.join(os.path.dirname(os.path.abspath(yaml_path)),
                                 ".project_state")
    os.makedirs(state_dir, exist_ok=True)
    if spark is None:
        from .session import get_spark
        spark = get_spark(name)
    props = {k: v for k, v in data.items() if k != "project_name"}
    return ProjectContext(
        project_name=name,
        spark=spark,
        catalog=Catalog(os.path.join(state_dir, "catalog.json")),
        # db_uri honors the reference's project-config key (README.md:39,
        # default sqlite:///${AIFLOW_HOME}/aiflow.db); projects without
        # one get the same sqlite default, rooted in state_dir
        registry=open_registry(str(data.get(
            "db_uri",
            "sqlite:///" + os.path.join(state_dir, "aiflow.db")))),
        workflow_operation=WorkflowOperation(),
        properties=props,
    )
