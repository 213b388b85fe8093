from .ops import (
    events_stream,
    tumbling_counts,
    sliding_counts,
    session_stats,
    foreach_batch_upsert,
    run_to_memory,
)

__all__ = [
    "events_stream",
    "tumbling_counts",
    "sliding_counts",
    "session_stats",
    "foreach_batch_upsert",
    "run_to_memory",
]
