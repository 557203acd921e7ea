from .refresh import streaming_refresh_available_now
from .event_windows import (
    tumbling_event_counts,
    sliding_event_counts,
    sessionize,
)

__all__ = [
    "streaming_refresh_available_now",
    "tumbling_event_counts",
    "sliding_event_counts",
    "sessionize",
]
