"""Consumers behind the registry's stream_* queries: change-feed
followers over snapshot stores (mirror.py follow_changes) and
foreachBatch consumers of file streams."""
