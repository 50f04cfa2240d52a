"""Job configuration (SURVEY §2.1 S9).

The reference validates YAML config into dataclasses and REJECTS unknown
keys (reference: config/config_manager.py:200-205,259-278; pinned by its
test_config_manager.py::test_unknown_fields_are_rejected). Same contract
here, minus Hydra: plain YAML → dataclasses, unknown keys raise, simple
type checks. Config stays a driver-side concern — it never enters the
data plane.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from typing import Any


@dataclass
class VoterConfig:
    method: str = "weighted"  # weighted | majority | highest_confidence
    weights: dict[str, float] = field(default_factory=dict)
    num_samples: int = 1


@dataclass
class ExtractionJobConfig:
    input_path: str = ""
    table_root: str = ""
    partitions: int | None = None
    voter: VoterConfig = field(default_factory=VoterConfig)


_VOTER_METHODS = {"weighted", "majority", "highest_confidence"}


# postponed annotations make dataclass f.type a string — scalar field
# types mapped explicitly (the docstring's "simple type checks"; bool
# precedes int in the isinstance checks because bool IS int in Python)
_FIELD_TYPES: dict[str, tuple] = {
    "method": (str,), "num_samples": (int,), "input_path": (str,),
    "table_root": (str,), "partitions": (int, type(None)), "weights": (dict,),
}


def _build(cls, data: dict[str, Any], path: str = ""):
    """dict → dataclass; unknown keys and wrong-typed scalars raise
    (reference contract: config_manager.py:200-205 rejects unknown fields;
    the dataclass types are the schema). Without the checks,
    ``num_samples: "three"`` loads fine and only explodes deep inside
    Spark."""
    if not isinstance(data, dict):
        raise ValueError(
            f"config section '{path or '.'}' must be a mapping, "
            f"got {type(data).__name__}: {data!r}"
        )
    known = {f.name: f for f in dataclasses.fields(cls)}
    unknown = set(data) - set(known)
    if unknown:
        raise ValueError(
            f"unknown config key(s) {sorted(unknown)} at '{path or '.'}' "
            f"(expected: {sorted(known)})"
        )
    # postponed annotations make f.type a string — map nested dataclass
    # fields explicitly by name
    nested = {"voter": VoterConfig}
    kwargs = {}
    for name in known:
        if name not in data:
            continue
        v = data[name]
        if name in nested:
            if v is not None and not isinstance(v, dict):
                raise ValueError(
                    f"config key '{path}{name}' must be a mapping, "
                    f"got {type(v).__name__}: {v!r}"
                )
            v = _build(nested[name], v or {}, f"{path}{name}.")
        else:
            want = _FIELD_TYPES.get(name)
            bad = want is not None and (
                not isinstance(v, want)
                or (bool not in want and isinstance(v, bool))
            )
            if bad:
                names = "/".join(
                    t.__name__ if t is not type(None) else "null" for t in want
                )
                raise ValueError(
                    f"config key '{path}{name}' must be {names}, "
                    f"got {type(v).__name__}: {v!r}"
                )
        kwargs[name] = v
    return cls(**kwargs)


def _deep_merge(base: dict, override: dict) -> dict:
    """Later wins; mappings merge recursively, scalars/lists replace —
    the reference's Hydra defaults-composition semantics
    (config_manager.py:214-227)."""
    out = dict(base)
    for k, v in override.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def _load_raw(path: str, seen: frozenset[str] = frozenset()) -> dict[str, Any]:
    """YAML + ``defaults:`` composition: each listed file (resolved relative
    to the including file) loads first, in order, deep-merged left→right;
    the including file's own keys win last. Cycles raise."""
    import os

    import yaml

    apath = os.path.abspath(path)
    if apath in seen:
        raise ValueError(f"config defaults cycle at {apath}")
    with open(apath) as fh:
        raw = yaml.safe_load(fh) or {}
    if not isinstance(raw, dict):
        raise ValueError(f"config root must be a mapping, got {type(raw).__name__}")
    defaults = raw.pop("defaults", [])
    if isinstance(defaults, str):
        defaults = [defaults]
    if not isinstance(defaults, list):
        raise ValueError(
            f"config 'defaults' in {apath} must be a path or list of paths, "
            f"got {type(defaults).__name__}"
        )
    merged: dict[str, Any] = {}
    for rel in defaults:
        if not isinstance(rel, str):
            # a Hydra-style dict entry ({group: option}) or any other YAML
            # type would otherwise surface as an opaque TypeError from
            # os.path.isabs — name the file and the offending entry instead
            raise ValueError(
                f"config 'defaults' entry in {apath} must be a relative or "
                f"absolute path string, got {rel!r}"
            )
        dpath = rel if os.path.isabs(rel) else os.path.join(os.path.dirname(apath), rel)
        merged = _deep_merge(merged, _load_raw(dpath, seen | {apath}))
    return _deep_merge(merged, raw)


def load_config(path: str) -> ExtractionJobConfig:
    raw = _load_raw(path)
    cfg = _build(ExtractionJobConfig, raw)
    if not cfg.input_path or not cfg.table_root:
        raise ValueError("config requires input_path and table_root")
    if cfg.voter.method not in _VOTER_METHODS:
        raise ValueError(
            f"voter.method '{cfg.voter.method}' not in {sorted(_VOTER_METHODS)}"
        )
    return cfg
