"""Oracles of queries/streaming.py, keyed by query name."""

from __future__ import annotations

from oracles import oracle
from oracles.training import _qd_score_oracle


@oracle("stream_quality_scores")
def _stream_quality_oracle() -> str:
    return _qd_score_oracle()
