from .state_merge import conversation_graph_deltas
from .sink import ExactlyOnceParquetSink
from .pipeline import build_ingest_stream, read_transcript_stream
from .rules_stage import StreamingRuleStage

__all__ = [
    "conversation_graph_deltas",
    "ExactlyOnceParquetSink",
    "build_ingest_stream",
    "read_transcript_stream",
    "StreamingRuleStage",
]
