"""Data sources: deterministic synthetic transcripts + table dims, and
the batch raw-log DataSource (logtext)."""

from . import logfiles
from .transcripts import (transcripts, write_transcripts, role_dim, tool_dim,
                          severity_dim)

__all__ = ["logfiles", "transcripts", "write_transcripts", "role_dim",
           "tool_dim", "severity_dim"]
