"""Source/sink layer: the reference's task-line source, per-row URL
fetch and report sink, bucketed and idempotent-stream sinks, and a
Python DataSource source and sink (SURVEY.md §2 B.1, ref A1/A12)."""
