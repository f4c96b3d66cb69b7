from .jobs import (  # noqa: F401
    read_pages_stream,
    stream_dedup_exact,
    stream_extract,
    stream_index_warc,
    stream_quality_windows,
    stream_sessionize,
    stream_welford_by_lang,
)
