"""Model registry with lifecycle stages (SURVEY.md M4).

Re-expresses the AI Flow model center the reference depends on:
``af.register_model`` (batch_train_batch_predict.py:77-78),
``af.register_model_version`` (processor.py:138),
``af.get_deployed_model_version`` / ``get_latest_generated_model_version``
(processor.py:165-166, 240), ``af.update_model_version`` with stages
GENERATED → VALIDATED → DEPLOYED → DEPRECATED (processor.py:26,
168-198). Two storage backends, selected by ``open_registry(uri)``:

- ``sqlite:///path/to/db`` → :class:`SqliteModelRegistry` — the
  reference's own default metadata store (``db_uri:
  sqlite:///${AIFLOW_HOME}/aiflow.db``, README.md:39); transactional
  and multi-process-safe (every mutation is one IMMEDIATE
  transaction, version numbers allocated under the write lock).
- a bare file path → JSON-file :class:`ModelRegistry` (single-writer,
  human-readable — the demo/test default); each write replaces the
  whole file atomically.

Any other ``scheme://`` URI raises ``ValueError``.

Every stage transition publishes an event to the in-process bus,
mirroring the notification-server events that drive the reference's
control edges (batch_train_batch_predict.py:115-120).
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, asdict, field
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
    """In-process, optionally file-persisted model registry."""

    def __init__(self, path: str | None = None):
        self._path = path
        self._models: dict[str, ModelMeta] = {}
        self._listeners: list[Callable[[str, str, ModelVersion], None]] = []
        self._lock = threading.Lock()
        if path and os.path.exists(path):
            with open(path) as f:
                for m in json.load(f):
                    meta = ModelMeta(m["name"], m.get("model_desc", ""))
                    meta.versions = [ModelVersion(**v) for v in m["versions"]]
                    self._models[meta.name] = meta

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
        with self._lock:
            meta = self._models.setdefault(model_name, ModelMeta(model_name, model_desc))
            self._persist()
        return meta

    def register_model_version(self, model_name: str, model_path: str) -> ModelVersion:
        """New version starts GENERATED and emits MODEL_GENERATED —
        the event the reference's validate job listens for
        (batch_train_batch_predict.py:115-117)."""
        with self._lock:
            meta = self._models.setdefault(model_name, ModelMeta(model_name))
            version = len(meta.versions) + 1
            mv = ModelVersion(model_name, version, model_path)
            meta.versions.append(mv)
            self._persist()
        self._emit(ModelEvent.MODEL_GENERATED, mv)
        return mv

    def update_model_version(self, model_name: str, model_version: int,
                             current_stage: str) -> ModelVersion:
        with self._lock:
            mv = self._find(model_name, model_version)
            mv.current_stage = current_stage
            self._persist()
        self._emit(_STAGE_EVENT[current_stage], mv)
        return mv

    def get_deployed_model_version(self, model_name: str) -> Optional[ModelVersion]:
        for mv in self._versions(model_name):
            if mv.current_stage == ModelVersionStage.DEPLOYED:
                return mv
        return None

    def get_latest_generated_model_version(self, model_name: str) -> Optional[ModelVersion]:
        gen = [mv for mv in self._versions(model_name)
               if mv.current_stage == ModelVersionStage.GENERATED]
        return gen[-1] if gen else None

    def versions(self, model_name: str) -> list[ModelVersion]:
        return list(self._versions(model_name))

    # -- internals ----------------------------------------------------------

    def _versions(self, model_name: str) -> list[ModelVersion]:
        meta = self._models.get(model_name)
        return meta.versions if meta else []

    def _find(self, model_name: str, version: int) -> ModelVersion:
        for mv in self._versions(model_name):
            if mv.version == version:
                return mv
        raise KeyError(f"{model_name} v{version} not registered")

    def _persist(self) -> None:
        if not self._path:
            return
        data = [{"name": m.name, "model_desc": m.model_desc,
                 "versions": [asdict(v) for v in m.versions]}
                for m in self._models.values()]
        # temp-file + os.replace: a crash mid-write leaves the previous
        # file intact instead of a truncated one the next open cannot load
        tmp = f"{self._path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=2)
        os.replace(tmp, self._path)


class SqliteModelRegistry(ModelRegistry):
    """SQLite-backed registry — the reference's own default metadata
    store (``db_uri: sqlite:///${AIFLOW_HOME}/aiflow.db``, README.md:39).

    Unlike the JSON backend (load-once, write-whole-file), every read
    hits the DB and every mutation is one ``BEGIN IMMEDIATE``
    transaction, so concurrent writers in separate PROCESSES are safe:
    version numbers are allocated under SQLite's write lock, and stage
    transitions made by one process are visible to the next reader in
    another. The in-process event bus semantics are unchanged (events
    fire in the process that performed the mutation, exactly like the
    reference's notification client)."""

    def __init__(self, db_path: str):
        super().__init__(path=None)
        self._db_path = db_path
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
        import contextlib
        import sqlite3
        con = sqlite3.connect(self._db_path, timeout=30.0,
                              isolation_level=None)  # explicit txns
        con.execute("PRAGMA journal_mode=WAL")
        return contextlib.closing(con)

    # -- API (same surface as the JSON registry) ----------------------------

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

    def _versions(self, model_name: str) -> list[ModelVersion]:
        with self._conn() as con:
            rows = con.execute(
                "SELECT model_name, version, model_path, current_stage "
                "FROM model_versions WHERE model_name = ? ORDER BY version",
                (model_name,)).fetchall()
        return [ModelVersion(*r) for r in rows]


def open_registry(uri: str) -> ModelRegistry:
    """Registry factory keyed by the reference's ``db_uri`` convention
    (README.md:39): ``sqlite:///path.db`` → SQLite backend; a bare path
    → JSON-file backend. Any other ``scheme://`` raises ``ValueError``
    before anything is created."""
    if uri.startswith("sqlite:///"):
        return SqliteModelRegistry(uri[len("sqlite:///"):])
    if "://" in uri:
        raise ValueError(f"unsupported registry URI {uri!r}: use "
                         "sqlite:///path/to/db or a bare JSON file path")
    return ModelRegistry(uri)
