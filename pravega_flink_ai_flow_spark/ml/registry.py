"""Model registry with lifecycle stages (SURVEY.md M4).

Re-expresses the AI Flow model center the reference depends on:
``af.register_model`` (batch_train_batch_predict.py:77-78),
``af.register_model_version`` (processor.py:138),
``af.get_deployed_model_version`` / ``get_latest_generated_model_version``
(processor.py:165-166, 240), ``af.update_model_version`` with stages
GENERATED → VALIDATED → DEPLOYED → DEPRECATED (processor.py:26,
168-198).

The store is SQLite, the reference's own default metadata store
(``db_uri: sqlite:///${AIFLOW_HOME}/aiflow.db``, README.md:39):
every read hits the DB and every mutation is one ``BEGIN IMMEDIATE``
transaction, so version numbers are allocated under the write lock and
writers in separate processes are safe. ``open_registry(uri)`` accepts
``sqlite:///path/to/db`` and raises ``ValueError`` for anything else.

Every stage transition publishes an event to the in-process bus,
mirroring the notification-server events that drive the reference's
control edges (batch_train_batch_predict.py:115-120). Events fire in
the process that made the mutation, like the reference's notification
client.
"""

from __future__ import annotations

import contextlib
import os
import sqlite3
from dataclasses import dataclass, field
from typing import Callable, Optional


class ModelVersionStage:
    GENERATED = "GENERATED"
    VALIDATED = "VALIDATED"
    DEPLOYED = "DEPLOYED"
    DEPRECATED = "DEPRECATED"


class ModelEvent:
    MODEL_GENERATED = "MODEL_GENERATED"
    MODEL_VALIDATED = "MODEL_VALIDATED"
    MODEL_DEPLOYED = "MODEL_DEPLOYED"
    MODEL_DEPRECATED = "MODEL_DEPRECATED"

_STAGE_EVENT = {
    ModelVersionStage.GENERATED: ModelEvent.MODEL_GENERATED,
    ModelVersionStage.VALIDATED: ModelEvent.MODEL_VALIDATED,
    ModelVersionStage.DEPLOYED: ModelEvent.MODEL_DEPLOYED,
    ModelVersionStage.DEPRECATED: ModelEvent.MODEL_DEPRECATED,
}


@dataclass
class ModelVersion:
    model_name: str
    version: int
    model_path: str
    current_stage: str = ModelVersionStage.GENERATED


@dataclass
class ModelMeta:
    name: str
    model_desc: str = ""
    versions: list = field(default_factory=list)


class ModelRegistry:
    """SQLite-backed model registry over the database file ``db_path``."""

    def __init__(self, db_path: str):
        self._db_path = db_path
        self._listeners: list[Callable[[str, str, ModelVersion], None]] = []
        os.makedirs(os.path.dirname(os.path.abspath(db_path)), exist_ok=True)
        with self._conn() as con:
            con.execute("""CREATE TABLE IF NOT EXISTS models (
                name TEXT PRIMARY KEY, model_desc TEXT NOT NULL DEFAULT '')""")
            con.execute("""CREATE TABLE IF NOT EXISTS model_versions (
                model_name TEXT NOT NULL, version INTEGER NOT NULL,
                model_path TEXT NOT NULL,
                current_stage TEXT NOT NULL DEFAULT 'GENERATED',
                PRIMARY KEY (model_name, version))""")

    def _conn(self):
        # contextlib.closing: sqlite3's own context manager commits but
        # never CLOSES — per-op connections must not leak file handles
        con = sqlite3.connect(self._db_path, timeout=30.0,
                              isolation_level=None)  # explicit txns
        con.execute("PRAGMA journal_mode=WAL")
        return contextlib.closing(con)

    # -- event bus hookup ---------------------------------------------------

    def subscribe(self, cb: Callable[[str, str, ModelVersion], None]) -> None:
        """cb(model_name, event, version) fired on every registration /
        stage transition."""
        self._listeners.append(cb)

    def _emit(self, event: str, mv: ModelVersion) -> None:
        for cb in list(self._listeners):
            cb(mv.model_name, event, mv)

    # -- API mirroring the reference's af.* calls ---------------------------

    def register_model(self, model_name: str, model_desc: str = "") -> ModelMeta:
        with self._conn() as con:
            con.execute("BEGIN IMMEDIATE")
            con.execute("INSERT OR IGNORE INTO models(name, model_desc) "
                        "VALUES (?, ?)", (model_name, model_desc))
            con.execute("COMMIT")
            row = con.execute("SELECT name, model_desc FROM models "
                              "WHERE name = ?", (model_name,)).fetchone()
        meta = ModelMeta(row[0], row[1])
        meta.versions = self.versions(model_name)
        return meta

    def register_model_version(self, model_name: str, model_path: str) -> ModelVersion:
        """New version starts GENERATED and emits MODEL_GENERATED —
        the event the reference's validate job listens for
        (batch_train_batch_predict.py:115-117)."""
        with self._conn() as con:
            con.execute("BEGIN IMMEDIATE")   # version alloc under write lock
            con.execute("INSERT OR IGNORE INTO models(name) VALUES (?)",
                        (model_name,))
            (version,) = con.execute(
                "SELECT COALESCE(MAX(version), 0) + 1 FROM model_versions "
                "WHERE model_name = ?", (model_name,)).fetchone()
            con.execute(
                "INSERT INTO model_versions(model_name, version, model_path, "
                "current_stage) VALUES (?, ?, ?, ?)",
                (model_name, version, model_path, ModelVersionStage.GENERATED))
            con.execute("COMMIT")
        mv = ModelVersion(model_name, version, model_path)
        self._emit(ModelEvent.MODEL_GENERATED, mv)
        return mv

    def update_model_version(self, model_name: str, model_version: int,
                             current_stage: str) -> ModelVersion:
        with self._conn() as con:
            con.execute("BEGIN IMMEDIATE")
            cur = con.execute(
                "UPDATE model_versions SET current_stage = ? "
                "WHERE model_name = ? AND version = ?",
                (current_stage, model_name, model_version))
            if cur.rowcount == 0:
                con.execute("ROLLBACK")
                raise KeyError(f"{model_name} v{model_version} not registered")
            (model_path,) = con.execute(
                "SELECT model_path FROM model_versions "
                "WHERE model_name = ? AND version = ?",
                (model_name, model_version)).fetchone()
            con.execute("COMMIT")
        mv = ModelVersion(model_name, model_version, model_path, current_stage)
        self._emit(_STAGE_EVENT[current_stage], mv)
        return mv

    def get_deployed_model_version(self, model_name: str) -> Optional[ModelVersion]:
        for mv in self.versions(model_name):
            if mv.current_stage == ModelVersionStage.DEPLOYED:
                return mv
        return None

    def get_latest_generated_model_version(self, model_name: str) -> Optional[ModelVersion]:
        gen = [mv for mv in self.versions(model_name)
               if mv.current_stage == ModelVersionStage.GENERATED]
        return gen[-1] if gen else None

    def versions(self, model_name: str) -> list[ModelVersion]:
        with self._conn() as con:
            rows = con.execute(
                "SELECT model_name, version, model_path, current_stage "
                "FROM model_versions WHERE model_name = ? ORDER BY version",
                (model_name,)).fetchall()
        return [ModelVersion(*r) for r in rows]


def open_registry(uri: str) -> ModelRegistry:
    """Registry factory keyed by the reference's ``db_uri`` convention
    (README.md:39): ``sqlite:///path.db`` opens that database. Anything
    else raises ``ValueError`` before anything is created."""
    if not uri.startswith("sqlite:///"):
        raise ValueError(f"unsupported registry URI {uri!r}: use "
                         "sqlite:///path/to/db")
    return ModelRegistry(uri[len("sqlite:///"):])
