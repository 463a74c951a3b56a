"""Typed pipeline configuration + YAML round-trip (reference parity:
/root/reference/src/config.py:9-63 dataclass tree + loader; S8 config
compile, /root/reference/src/ui/app.py:804-879).

The config is a plain broadcastable object — plan-time parameters only,
never data-plane state. Model/device knobs from the reference map to the
deterministic kernel's knobs; ones with no analog are accepted and ignored
(a reference config.yaml loads unchanged).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field

import yaml


@dataclass
class OCRConfig:
    """OCR stage (reference OCRConfig, /root/reference/src/config.py:9-19)."""

    max_side_limit: int = 1500
    ocr_timeout: int = 400  # per-batch wall budget, seconds


@dataclass
class RefineConfig:
    """Second-pass recognition (reference TransformerOCRConfig analog,
    /root/reference/src/config.py:22-29)."""

    enabled: bool = False
    refine_below: float = 0.9


@dataclass
class EntityExtractionConfig:
    """Entity stage (reference EntityExtractionConfig,
    /root/reference/src/config.py:32-40)."""

    entities: list[str] = field(default_factory=lambda: ["AddressEntityList"])
    line_threshold: float = 10.0
    gap_threshold: float = 40.0


@dataclass
class AppConfig:
    """Top-level config (reference AppConfig, /root/reference/src/config.py:43-50)."""

    ocr: OCRConfig = field(default_factory=OCRConfig)
    refine: RefineConfig = field(default_factory=RefineConfig)
    entity_extraction: EntityExtractionConfig = field(
        default_factory=EntityExtractionConfig
    )
    queries: list[dict] = field(default_factory=list)


def _known(cls, raw: dict) -> dict:
    names = {f for f in cls.__dataclass_fields__}  # noqa: C416
    return {k: v for k, v in (raw or {}).items() if k in names}


def load_config(yaml_text: str) -> AppConfig:
    """YAML -> AppConfig; unknown keys (reference GPU/model knobs with no
    deterministic-kernel analog) are ignored, not errors."""
    raw = yaml.safe_load(yaml_text) or {}
    return AppConfig(
        ocr=OCRConfig(**_known(OCRConfig, raw.get("ocr", {}))),
        refine=RefineConfig(**_known(RefineConfig, raw.get("refine", {}))),
        entity_extraction=EntityExtractionConfig(
            **_known(EntityExtractionConfig, raw.get("entity_extraction", {}))
        ),
        queries=raw.get("queries", []),
    )


def compile_config(config: AppConfig) -> str:
    """AppConfig -> runnable YAML (S8 round-trip,
    /root/reference/src/ui/app.py:804-854)."""
    return yaml.safe_dump(asdict(config), sort_keys=False)
