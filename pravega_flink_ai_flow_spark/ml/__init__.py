from .models import KNNClassifier, load_model, save_model
from .registry import (ModelRegistry, ModelVersionStage, ModelEvent,
                       open_registry)
from . import ops

__all__ = ["KNNClassifier", "load_model", "save_model",
           "ModelRegistry", "ModelVersionStage", "ModelEvent",
           "open_registry", "ops"]
