"""Config model: YAML task/sink configs with reference-parity validation.

Mirrors the reference's config surface (all placeholders, never its
credentialed YAMLs):
- TaskConfig {sources, tables, dbAlias}  (reference: config/TaskConfig.java:16-18)
- SourceInfo {instanceName, serverId, host, port, username, password,
  fbNo, dbName}                          (reference: config/TaskConfig.java:21-31)
- SinkConfig {host, port, username, password, dbName, batchSize=100,
  flushIntervalMs=5000}                  (reference: config/SinkConfig.java:15-21)
- loader                                 (reference: config/ConfigLoader.java:16-27)
- validation: non-empty tables, non-empty sources, unique instance
  names                                  (reference: config/TaskConfigChecker.java:15-34)

`serverId` is a MySQL-replication artifact with no Spark analog; kept
as passthrough config (SURVEY.md S1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

try:
    import yaml
except ImportError:  # pragma: no cover - pyyaml is in the base image
    yaml = None


class ConfigError(ValueError):
    """Raised when a task config fails validation."""


class DuplicateInstanceError(ConfigError):
    """Two sources share an instanceName, so the instance -> fb_no
    lookup (AdbSink.java:43-47) would be ambiguous."""


@dataclass
class SourceInfo:
    instance_name: str
    fb_no: str
    db_name: str = "demo"
    host: str = "localhost"
    port: int = 3306
    username: str = "placeholder"
    password: str = "placeholder"
    server_id: str = ""

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "SourceInfo":
        return cls(
            instance_name=str(d.get("instanceName", d.get("instance_name", ""))),
            fb_no=str(d.get("fbNo", d.get("fb_no", ""))),
            db_name=str(d.get("dbName", d.get("db_name", "demo"))),
            host=str(d.get("host", "localhost")),
            port=int(d.get("port", 3306)),
            username=str(d.get("username", "placeholder")),
            password=str(d.get("password", "placeholder")),
            server_id=str(d.get("serverId", d.get("server_id", ""))),
        )


@dataclass
class TaskConfig:
    db_alias: str
    tables: list[str] = field(default_factory=list)
    sources: list[SourceInfo] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "TaskConfig":
        return cls(
            db_alias=str(d.get("dbAlias", d.get("db_alias", ""))),
            tables=[str(t) for t in (d.get("tables") or [])],
            sources=[SourceInfo.from_dict(s) for s in (d.get("sources") or [])],
        )

    def table_list(self) -> list[str]:
        """Fully-qualified `db.table` list per source, as the reference
        expands it (StartJob.java:55-57)."""
        return [f"{s.db_name}.{t}" for s in self.sources for t in self.tables]


@dataclass
class SinkConfig:
    host: str = "localhost"
    port: int = 0
    username: str = "placeholder"
    password: str = "placeholder"
    db_name: str = "del_history"
    batch_size: int = 100  # SinkConfig.java:20 default
    flush_interval_ms: int = 5000  # SinkConfig.java:21 default

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "SinkConfig":
        return cls(
            host=str(d.get("host", "localhost")),
            port=int(d.get("port", 0)),
            username=str(d.get("username", "placeholder")),
            password=str(d.get("password", "placeholder")),
            db_name=str(d.get("dbName", d.get("db_name", "del_history"))),
            batch_size=int(d.get("batchSize", d.get("batch_size", 100))),
            flush_interval_ms=int(
                d.get("flushIntervalMs", d.get("flush_interval_ms", 5000))
            ),
        )


def load_yaml(path: str | Path) -> dict[str, Any]:
    if yaml is None:  # pragma: no cover
        raise ImportError("pyyaml is required to load YAML configs")
    with open(path, "r", encoding="utf-8") as f:
        data = yaml.safe_load(f)
    if not isinstance(data, dict):
        raise ConfigError(f"config file {path} did not parse to a mapping")
    return data


def load_task_config(path: str | Path) -> TaskConfig:
    cfg = TaskConfig.from_dict(load_yaml(path))
    check_task_config(cfg)
    return cfg


def check_task_config(cfg: TaskConfig) -> None:
    """Reference-parity validation (TaskConfigChecker.java:15-34):
    non-empty tables, non-empty sources, unique instanceNames."""
    if not cfg.tables:
        raise ConfigError("task config: `tables` must be non-empty")
    if not cfg.sources:
        raise ConfigError("task config: `sources` must be non-empty")
    check_unique_instances(cfg)


def check_unique_instances(cfg: TaskConfig) -> None:
    """Raise DuplicateInstanceError if two sources share an instanceName."""
    names = [s.instance_name for s in cfg.sources]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise DuplicateInstanceError(
            f"task config: duplicate instanceName(s): {sorted(dupes)}"
        )


def demo_task_config(n_sources: int = 3, db_alias: str = "demo") -> TaskConfig:
    """Deterministic placeholder config used by tests and the synthetic
    envelope generator (FIXTURES.md §2)."""
    return TaskConfig(
        db_alias=db_alias,
        tables=["t_orders", "t_items"],
        sources=[
            SourceInfo(instance_name=f"src-{i}", fb_no=f"FB{i}")
            for i in range(n_sources)
        ],
    )
