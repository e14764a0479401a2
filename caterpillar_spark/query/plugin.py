"""Analytics plugin state store.

Reference parity: ``AnalyticsPlugin`` (processing/plugin.py:6-123) runs
arbitrary whole-index analytics and persists serialized state into the
index keyed by (plugin_type, settings); storage in
storage/_sqlite_v0_10_0_schema.py:206-220 with run/get/list in
storage/sqlite.py:341-362, 526-560.

Spark restatement: a plugin is any callable over an index handle whose
result tables are written under ``<index>/plugins/<name>/<settings_id>``
with a JSON registry entry carrying the settings, schema and revision
at run time.  State invalidation is by index revision (the reference
keeps stale state and lets callers compare; we record the revision for
the same purpose).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame

from caterpillar_spark.indexing.build import atomic_write_json


@dataclass
class AnalyticsPlugin:
    """A named whole-index analytics job.

    ``run`` receives the index handle and returns {table_name:
    DataFrame}; every table is persisted under the plugin's state dir.
    """

    name: str
    run: Callable[[object], Dict[str, DataFrame]]
    settings: dict = field(default_factory=dict)

    @property
    def settings_id(self) -> str:
        blob = json.dumps(self.settings, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


def _registry_path(index_path: str) -> str:
    return os.path.join(index_path, "plugins", "_registry.json")


def _load_registry(index_path: str) -> dict:
    try:
        with open(_registry_path(index_path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def run_plugin(index, plugin: AnalyticsPlugin, force: bool = False) -> dict:
    """Execute a plugin and persist its state; skip when state for the
    same (name, settings) already exists at the current index revision
    (the derived-state caching the reference's plugin store provides).

    Returns the registry entry."""
    registry = _load_registry(index.path)
    key = f"{plugin.name}/{plugin.settings_id}"
    revision = index.manifest.get("revision", 0)
    entry = registry.get(key)
    if entry and entry["revision"] == revision and not force:
        return entry

    state_dir = os.path.join(index.path, "plugins", plugin.name,
                             plugin.settings_id)
    outputs = plugin.run(index)
    tables = {}
    for tname, df in outputs.items():
        out = os.path.join(state_dir, tname)
        df.write.mode("overwrite").parquet(out)
        tables[tname] = df.schema.simpleString()

    entry = {
        "plugin": plugin.name,
        "settings": plugin.settings,
        "settings_id": plugin.settings_id,
        "revision": revision,
        "tables": tables,
    }
    registry[key] = entry
    atomic_write_json(_registry_path(index.path), registry, indent=2, sort_keys=True)
    return entry


def plugin_state(index, plugin_name: str, settings_id: str,
                 table: str) -> DataFrame:
    """Load a persisted plugin state table."""
    return index.spark.read.parquet(
        os.path.join(index.path, "plugins", plugin_name, settings_id, table)
    )


def list_plugins(index) -> Dict[str, dict]:
    """Registry listing (reference list_known_plugins analog)."""
    return _load_registry(index.path)
