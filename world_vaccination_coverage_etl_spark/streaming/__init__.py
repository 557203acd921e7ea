from .event_windows import (
    tumbling_event_counts,
    sliding_event_counts,
    sessionize,
)

__all__ = [
    "tumbling_event_counts",
    "sliding_event_counts",
    "sessionize",
]
