"""Env-driven settings (reference settings.py:44-110 surface, minus the
Postgres/Neo4j/Datadog connection knobs that don't exist in this engine).

Plain stdlib parsing instead of pydantic-settings: every field reads an
environment variable of the same (upper-cased) name, with the reference's
aliases honored where they exist (``NPE_DURATION`` for
incremental_duration). ``initialize()`` applies the same defaulting rules
the reference does: v2 -> 300 s windows on the farcaster schema, v3 ->
1 s windows on nindexer, UTC everywhere (session.get_spark already pins
the Spark session to UTC).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field


def _env_str(name: str, default: str) -> str:
    return os.environ.get(name, default)


def _env_int(name: str, default: int) -> int:
    raw = os.environ.get(name)
    return int(raw) if raw not in (None, "") else default


def _env_bool(name: str, default: bool) -> bool:
    raw = os.environ.get(name)
    if raw in (None, ""):
        return default
    return raw.strip().lower() in ("1", "true", "yes", "on")


def _env_csv(name: str, default: str = "") -> tuple[str, ...]:
    raw = os.environ.get(name, default)
    return tuple(t.strip() for t in raw.split(",") if t.strip())


@dataclass
class Settings:
    """Import-daemon configuration. Field names follow the reference so an
    operator's env file carries over: TABLES, VIEWS, NPE_VERSION,
    NPE_DURATION, PARQUET_S3_SCHEMA, POSTGRES_SCHEMA, LOCAL_INPUT_DIR,
    EXIT_AFTER_MAX_WAIT, FILTER_FILE."""

    tables: tuple[str, ...] = field(default_factory=lambda: _env_csv("TABLES"))
    views: tuple[str, ...] = field(default_factory=lambda: _env_csv("VIEWS"))
    npe_version: str = field(default_factory=lambda: _env_str("NPE_VERSION", "v2"))
    incremental_duration: int = field(
        default_factory=lambda: _env_int("NPE_DURATION", 0)
    )
    parquet_s3_bucket: str = field(
        default_factory=lambda: _env_str("PARQUET_S3_BUCKET", "public-postgres")
    )
    parquet_s3_schema: str = field(
        default_factory=lambda: _env_str("PARQUET_S3_SCHEMA", "")
    )
    postgres_schema: str = field(
        default_factory=lambda: _env_str("POSTGRES_SCHEMA", "public")
    )
    local_input_dir: str = field(
        default_factory=lambda: _env_str("LOCAL_INPUT_DIR", "./data/parquet")
    )
    sink_dir: str = field(default_factory=lambda: _env_str("SINK_DIR", "./data/lake"))
    exit_after_max_wait: bool = field(
        default_factory=lambda: _env_bool("EXIT_AFTER_MAX_WAIT", False)
    )
    filter_file: str | None = field(
        default_factory=lambda: os.environ.get("FILTER_FILE")
    )

    def initialize(self) -> "Settings":
        """The reference's defaulting rules (settings.py:96-110): schema
        and window duration follow npe_version unless set explicitly."""
        if not self.npe_version:
            self.npe_version = "v2"
        if not self.parquet_s3_schema:
            self.parquet_s3_schema = (
                "farcaster" if self.npe_version == "v2" else "nindexer"
            )
        if not self.incremental_duration:
            if self.npe_version == "v2":
                self.incremental_duration = 300
            elif self.npe_version == "v3":
                self.incremental_duration = 1
            else:
                raise ValueError("no incremental duration set!")
        os.environ.setdefault("TZ", "UTC")
        try:
            time.tzset()
        except AttributeError:  # non-POSIX
            pass
        return self

    def filter_doc(self) -> dict | None:
        """FILTER_FILE -> parsed filter DSL document (filters.example.json
        shape; one top-level key per table)."""
        if not self.filter_file:
            return None
        import json

        with open(self.filter_file) as fh:
            return json.load(fh)

    def selected_tables(self) -> dict[str, "object"]:
        """TABLES env (comma-separated) resolved against the registry for
        the configured (bucket, schema) coordinates — C8 table selection
        (main.py:105-127). Empty selection means every known table."""
        from .catalog import ALL_TABLES

        registry = ALL_TABLES[(self.parquet_s3_bucket, self.parquet_s3_schema)]
        if not self.tables:
            return dict(registry)
        missing = [t for t in self.tables if t not in registry]
        if missing:
            raise KeyError(
                f"unknown tables {missing} for schema {self.parquet_s3_schema!r}; "
                f"known: {sorted(registry)}"
            )
        return {t: registry[t] for t in self.tables}
