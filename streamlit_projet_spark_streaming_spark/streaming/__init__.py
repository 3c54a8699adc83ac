"""The package's one streaming job: the reconstructed Consumer
(``consumer.py``) — file-drop ingest into enriched silver plus the gold
refresh that keeps the reference's views fresh."""
