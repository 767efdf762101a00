"""Structured-Streaming half of the engine (SURVEY §2.9 T1-T9, §2.1
S5-S12): subscription filter compiler, ingest pipeline, mergeable state
store and missed-block detection. The history->live switchover is
served by :meth:`..api.http_server.HyperionAPI.stream_rows`.
"""
