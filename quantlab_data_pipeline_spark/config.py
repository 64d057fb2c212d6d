"""Data-root resolution and YAML config loading.

Behavioral parity with the reference's path contract
(``/root/reference/src/data_pipeline/config.py:16-90``): the base data
directory resolves as env var ``QUANTLAB_DATA_ROOT`` -> sibling of the
repo named ``quantlab_data`` -> ``cwd/quantlab_data``; a pipeline
subdirectory ``quantlab_data_pipeline`` is appended unless the path
already is that subdir or already contains a legacy data layout.
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Any

import yaml

from .schemas import META_DIR, PROCESSED_DIR, RAW_DIR

DATA_ROOT_ENV_VAR = "QUANTLAB_DATA_ROOT"
DEFAULT_DATA_ROOT_NAME = "quantlab_data"
PIPELINE_SUBDIR_NAME = "quantlab_data_pipeline"
LEGACY_DATA_DIRS = (PROCESSED_DIR, META_DIR, RAW_DIR, "reference")

DEFAULT_START = "2000-01-01"
DEFAULT_END = "2025-01-01"


def _repo_root() -> Path | None:
    """Nearest ancestor of this file containing a pyproject.toml."""
    here = Path(__file__).resolve()
    return next((p for p in here.parents if (p / "pyproject.toml").is_file()), None)


def _base_root() -> Path:
    env = os.getenv(DATA_ROOT_ENV_VAR)
    if env:
        return Path(env).expanduser().resolve()
    repo = _repo_root()
    base = repo.parent if repo is not None else Path.cwd()
    return (base / DEFAULT_DATA_ROOT_NAME).resolve()


def _apply_pipeline_subdir(base: Path) -> Path:
    """Append the pipeline subdir unless ``base`` is it or holds a legacy layout."""
    if base.name == PIPELINE_SUBDIR_NAME:
        return base
    if any((base / d).exists() for d in LEGACY_DATA_DIRS):
        return base
    return (base / PIPELINE_SUBDIR_NAME).resolve()


def default_data_root() -> Path:
    """Pipeline-specific data root under the shared quant data folder."""
    return _apply_pipeline_subdir(_base_root())


def resolve_data_root(root: Path | str | None = None) -> Path:
    """Normalize a user-supplied base path to the pipeline output folder."""
    if root is None:
        return default_data_root()
    return _apply_pipeline_subdir(Path(root).expanduser().resolve())


def load_config(path: str | Path) -> dict[str, Any]:
    """Load a YAML configuration file into a dict."""
    with Path(path).expanduser().resolve().open("r", encoding="utf-8") as fh:
        return yaml.safe_load(fh)
