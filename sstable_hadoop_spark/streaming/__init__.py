from .windows import session_counts, sliding_counts, tumbling_counts
from .compaction import flush_stream_to_sstables
from .dedup import dedup_events_stream

__all__ = ["session_counts", "sliding_counts", "tumbling_counts",
           "flush_stream_to_sstables", "dedup_events_stream"]
