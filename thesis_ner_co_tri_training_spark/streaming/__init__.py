from .ingest import (  # noqa: F401
    append_batch_to_catalog,
    dedup_against_index_stream,
    dedup_pages_stream,
    mention_rates_stream,
    mentions_stream,
    read_pages_stream,
    run_kg_batch,
    sessions_stream,
    start_catalog_sink,
    start_kg_sink,
)
from .stateful import domain_mention_state_stream  # noqa: F401
