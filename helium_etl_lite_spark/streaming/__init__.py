"""foreachBatch consumers behind the registry's stream_* queries."""
