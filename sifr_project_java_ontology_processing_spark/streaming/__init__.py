"""Structured Streaming surface.

The reference has no streaming operators (SURVEY.md §2.9: its
checkpoint/resume requirement maps to snapshot-based batch stages, not
Structured Streaming). This module provides the streaming twins of the
batch operators for continuously-arriving documents/events: windowed
event aggregation with watermarks, exact dedup, curation and
entailment.
"""
