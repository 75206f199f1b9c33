"""Sources & sinks: synthetic pages corpus, gazetteer reader, checkpointed stages."""

from address_parser_spark.sources.pages import (
    PAGES_SCHEMA,
    GOLD_SCHEMA,
    render_page,
    synth_pages_local,
    synth_pages_spark,
)

__all__ = [
    "PAGES_SCHEMA",
    "GOLD_SCHEMA",
    "render_page",
    "synth_pages_local",
    "synth_pages_spark",
]
