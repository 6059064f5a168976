"""spark_cdc.sources — testdata registry + deterministic fixtures."""

from spark_cdc.sources.registry import TESTDATA_TABLES, load_tables, register_views
from spark_cdc.sources.changelog import (
    generate_change_log,
    generate_transcripts,
)

__all__ = [
    "TESTDATA_TABLES",
    "load_tables",
    "register_views",
    "generate_change_log",
    "generate_transcripts",
]
