"""Typed engine config mirroring the reference's YAML
(application.origin.yaml:1-43 — see SURVEY.md O30). It holds only the keys
the engine reads; defaults are the reference's published values. The
reference's other keys still load from a YAML file and are ignored.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class IngestConfig:
    max_flush_data_attempts: int = 3          # yaml:15
    sleep_on_reconnect_ms: int = 500          # yaml:18


@dataclass
class DiscoveryConfig:
    flush_timeout_sec: int = 15               # yaml:26


@dataclass
class FlowCycles:
    upload_flow_sec: int = 30                 # yaml:36
    cleanup_hours: int = 3                    # yaml:41


@dataclass
class EngineConfig:
    ingest: IngestConfig = field(default_factory=IngestConfig)
    discovery: DiscoveryConfig = field(default_factory=DiscoveryConfig)
    cycles: FlowCycles = field(default_factory=FlowCycles)

    @staticmethod
    def from_yaml(path: str) -> "EngineConfig":
        import yaml

        with open(path) as fh:
            raw = yaml.safe_load(fh) or {}
        cfg = EngineConfig()
        for section, obj in (("ingest", cfg.ingest),
                             ("discovery", cfg.discovery),
                             ("cycles", cfg.cycles)):
            for k, v in (raw.get(section) or {}).items():
                if hasattr(obj, k):
                    setattr(obj, k, v)
        return cfg
