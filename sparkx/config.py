"""Config source (SURVEY S9): ``settings.json`` deep-merged over defaults.

Same contract as the reference's ``ConfigLoader``
(reference ``src/core/config.py:26-151``): fixed defaults dict, recursive
deep-merge of a user ``settings.json``, dot-notation ``get``.  The keys the
engine consumes keep the reference's names (``pipeline.max_context_chunks=8``,
``pipeline.chunk_size=800``, ``agents.confidence_threshold=0.5``).
"""

from __future__ import annotations

import json
import os
from typing import Any

_DEFAULTS: dict[str, Any] = {
    "pipeline": {
        "max_context_chunks": 8,
        "embedder_batch_size": 32,
        "chunk_size": 800,
    },
    "agents": {
        "confidence_threshold": 0.5,  # retry gate, base.py:42
        "accept_floor": 0.25,  # pipeline.py:292
    },
    "truncation": {  # the P5 family, each constant named (SURVEY §2.2)
        "structured_text": 2000,  # crewai_pipeline.py:155
        "ocr_text": 1000,  # extraction.py:275
        "validator_view": 1500,  # validation.py:183
        "validator_source": 2000,  # validation.py:194
        "source_repr": 600,  # validation.py:440,531
        "context_chunk": 800,  # orchestrator.py:238
        "serialized_text": 500,  # serialization.py:37
    },
}


class ConfigLoader:
    def __init__(self, settings_path: str | None = None):
        self.config = json.loads(json.dumps(_DEFAULTS))  # deep copy
        path = settings_path or os.environ.get("SPARKX_SETTINGS", "settings.json")
        if path and os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                self.config = self._deep_merge(self.config, json.load(f))

    @staticmethod
    def _deep_merge(base: dict, override: dict) -> dict:
        result = base.copy()
        for key, value in override.items():
            if isinstance(value, dict) and isinstance(result.get(key), dict):
                result[key] = ConfigLoader._deep_merge(result[key], value)
            else:
                result[key] = value
        return result

    def get(self, key: str, default: Any = None) -> Any:
        value: Any = self.config
        for part in key.split("."):
            if isinstance(value, dict):
                value = value.get(part)
            else:
                return default
        return value if value is not None else default
