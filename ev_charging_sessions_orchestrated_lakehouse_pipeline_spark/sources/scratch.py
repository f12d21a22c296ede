"""Run-scoped scratch directories for queries that build throwaway tables."""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager
from typing import Iterator


@contextmanager
def scratch_dir(tag: str) -> Iterator[str]:
    """Yield a fresh ``evlake_<tag>_*`` directory under
    ``tempfile.gettempdir()``, removed on exit even if the body raises.
    Each call gets its own path, so concurrent runs never collide."""
    path = tempfile.mkdtemp(prefix=f"evlake_{tag}_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
