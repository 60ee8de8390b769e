"""Job definition: YAML spec with the reference's exact config surface.

Parity target (cited against /root/reference):
- required keys ``id, erb_filepath, backend_endpoint, model,
  output_label`` — ``lib/job_processor.rb:68-74``;
- optional ``system_erb_filepath, params, use_images, json_mode,
  json_schema, json_schema_filepath`` — ``README.md:49-138``;
- referenced files resolve relative to the YAML's directory, absolute
  paths pass through, ``..`` normalizes — ``lib/job_processor.rb:99-109``
  (pinned by ``spec/relative_path_spec.rb``);
- fail-fast validation with the *resolved* path in the message —
  ``lib/job_processor.rb:77-96``;
- response_format precedence: inline ``json_schema`` >
  ``json_schema_filepath`` > bare ``json_mode`` —
  ``lib/job_processor.rb:181-205``.

Templates are Jinja2 (the Spark-idiomatic stand-in for ERB; every
template shipped with the reference only reads ``texts[...]``/key
counts, which Jinja2 expresses 1:1).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

import yaml


class JobSpecError(ValueError):
    """Config-time validation failure (the reference exits 1 on these)."""


REQUIRED_KEYS = ("id", "erb_filepath", "backend_endpoint", "model", "output_label")

# optional scalar keys, coerced to their field's type when present
_COERCED = {
    "use_images": bool,
    "json_mode": bool,
    "request_timeout": float,
    "concurrency": int,
    "max_retries": int,
}


def _resolve(base_dir: str, path: str) -> str:
    """Absolute paths as-is; relative paths against the YAML's dir; '..' normalized."""
    if os.path.isabs(path):
        return os.path.normpath(path)
    return os.path.normpath(os.path.join(base_dir, path))


@dataclass
class JobSpec:
    id: str
    erb_filepath: str | None
    backend_endpoint: str
    model: str
    output_label: str
    system_erb_filepath: str | None = None
    params: dict[str, Any] = field(default_factory=dict)
    use_images: bool = False
    json_mode: bool = False
    json_schema: dict[str, Any] | None = None
    json_schema_filepath: str | None = None
    # engine extensions (absent from the reference, safe defaults):
    request_timeout: float = 240.0  # reference: lib/job_processor.rb:64
    # in-flight requests per Arrow batch (reference: 1); a job keeps task
    # slots x concurrency requests in flight, and the CLI spreads an input
    # with fewer scan splits than task slots over every slot
    concurrency: int = 8
    max_retries: int = 2
    erb_source: str | None = None
    system_erb_source: str | None = None

    @classmethod
    def from_dict(cls, cfg: dict[str, Any], base_dir: str = ".") -> "JobSpec":
        # engine extension: an inline template source (no file
        # indirection) stands in for erb_filepath
        required = [
            k
            for k in REQUIRED_KEYS
            if not (k == "erb_filepath" and cfg.get("erb_source"))
        ]
        missing = [k for k in required if k not in cfg or cfg[k] in (None, "")]
        if missing:
            raise JobSpecError(
                "Missing required configuration keys: " + ", ".join(missing)
            )
        spec = cls(
            id=str(cfg["id"]),
            erb_filepath=(
                _resolve(base_dir, str(cfg["erb_filepath"]))
                if cfg.get("erb_filepath")
                else None
            ),
            backend_endpoint=str(cfg["backend_endpoint"]),
            model=str(cfg["model"]),
            output_label=str(cfg["output_label"]),
            system_erb_filepath=(
                _resolve(base_dir, str(cfg["system_erb_filepath"]))
                if cfg.get("system_erb_filepath")
                else None
            ),
            params=dict(cfg.get("params") or {}),
            json_schema=cfg.get("json_schema"),
            json_schema_filepath=(
                _resolve(base_dir, str(cfg["json_schema_filepath"]))
                if cfg.get("json_schema_filepath")
                else None
            ),
            erb_source=cfg.get("erb_source"),
            system_erb_source=cfg.get("system_erb_source"),
            # an absent key keeps the dataclass default
            **{k: cast(cfg[k]) for k, cast in _COERCED.items() if k in cfg},
        )
        spec._validate_files()
        return spec

    @classmethod
    def from_yaml(cls, path: str) -> "JobSpec":
        if not os.path.exists(path):
            raise JobSpecError(f"Job definition file not found: {path}")
        with open(path, encoding="utf-8") as f:
            cfg = yaml.safe_load(f)
        if not isinstance(cfg, dict):
            raise JobSpecError(f"Job definition is not a mapping: {path}")
        return cls.from_dict(cfg, base_dir=os.path.dirname(os.path.abspath(path)))

    def _validate_files(self) -> None:
        if self.erb_filepath is not None and not os.path.exists(self.erb_filepath):
            raise JobSpecError(f"Template file not found: {self.erb_filepath}")
        if self.system_erb_filepath and not os.path.exists(self.system_erb_filepath):
            raise JobSpecError(
                f"System template file not found: {self.system_erb_filepath}"
            )
        if self.json_schema_filepath and not os.path.exists(self.json_schema_filepath):
            raise JobSpecError(
                f"JSON schema file not found: {self.json_schema_filepath}"
            )

    # --- response_format (reference A8: inline > file > bare json_mode) ---
    def response_format(self) -> dict[str, Any] | None:
        if self.json_schema is not None:
            return {"type": "json_object", "schema": self.json_schema}
        if self.json_schema_filepath:
            with open(self.json_schema_filepath, encoding="utf-8") as f:
                schema = yaml.safe_load(f)
            return {"type": "json_object", "schema": schema}
        if self.json_mode:
            return {"type": "json_object"}
        return None

    def user_template_source(self) -> str:
        if self.erb_source is not None:
            return self.erb_source
        with open(self.erb_filepath, encoding="utf-8") as f:  # type: ignore[arg-type]
            return f.read()

    def system_template_source(self) -> str | None:
        if self.system_erb_source is not None:
            return self.system_erb_source
        if not self.system_erb_filepath:
            return None
        with open(self.system_erb_filepath, encoding="utf-8") as f:
            return f.read()
