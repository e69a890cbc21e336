"""Sources: bronze WAL log, small-dimension ingestion."""

from .bronze import BronzeLog
from .dims import tool_catalog

__all__ = ["BronzeLog", "tool_catalog"]
