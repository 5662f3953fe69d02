"""Env-config loader (reference O29: stream_cdc/config/loader.py:19-41,
env surface .env.example:1-26, component selection stream_cdc/main.py:35-43).

The reference selects components (STREAM_TYPE/DS_TYPE/STATE_MANAGER_TYPE)
and tuning (BATCH_SIZE/FLUSH_INTERVAL) from env. Here the source of the
default mode is DS_TYPE (default cdc_replay), the sink and state come
from main.py's PIPELINE row, and the tuning knobs map onto Spark's
streaming configuration:
  BATCH_SIZE      -> source rate limit (maxFilesPerTrigger / maxOffsetsPerTrigger)
  FLUSH_INTERVAL  -> Trigger.ProcessingTime seconds
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class AppConfig:
    log_level: str = "INFO"
    batch_size: int = 10
    flush_interval: float = 5.0
    source_type: str = "cdc_replay"

    @classmethod
    def load(cls, env: dict[str, str] | None = None) -> "AppConfig":
        e = dict(os.environ) if env is None else env
        return cls(
            log_level=e.get("LOG_LEVEL", "INFO"),
            batch_size=int(e.get("BATCH_SIZE", "10")),
            flush_interval=float(e.get("FLUSH_INTERVAL", "5.0")),
            source_type=e.get("DS_TYPE", cls.source_type),
        )

    def trigger(self) -> dict[str, str]:
        """Flush policy -> Spark trigger (O15 mapping, SURVEY §4)."""
        return {"processingTime": f"{self.flush_interval} seconds"}
