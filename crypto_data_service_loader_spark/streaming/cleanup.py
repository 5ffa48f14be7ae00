"""Cleanup job (reference Flow 4 / O23-O24, SURVEY.md §3).

Candidate selection is pure Spark (operators.registry.cleanup_candidates);
the deletes are driver-side side effects on a collected candidate list —
deliberately outside the data plane, exactly like the reference
(CleanupUploadedFilesFlow.java:116-188). ERROR files are kept on disk for
manual inspection; emptied date-dirs are removed.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame

from ..operators.registry import cleanup_candidates, retention_guard

logger = logging.getLogger(__name__)


def run_cleanup(
    registry: DataFrame,
    fs: DataFrame,
    root: str,
    today: str,
) -> dict:
    """Returns counters {skipped, deleted, dirs_removed}. Honors the
    retention guard (min==max / min==today / min+1==today -> skip); the
    guard's max FINISHED date is the last uploaded date."""
    guard = retention_guard(registry, today).first()
    if guard is None or guard["skip_cleanup"] or guard["min_date"] is None:
        return {"skipped": True, "deleted": 0, "dirs_removed": 0}

    cands = cleanup_candidates(fs, registry, str(guard["max_date"])).collect()
    deleted, touched_dirs = 0, set()
    for row in cands:
        d = str(row["create_date"])
        p = os.path.join(root, d, row["filename"])
        if os.path.exists(p):
            os.remove(p)
            deleted += 1
            touched_dirs.add(os.path.join(root, d))
    dirs_removed = 0
    for dirpath in touched_dirs:
        if os.path.isdir(dirpath) and not os.listdir(dirpath):
            os.rmdir(dirpath)
            dirs_removed += 1
    logger.info("cleanup: deleted=%d dirs_removed=%d", deleted, dirs_removed)
    return {"skipped": False, "deleted": deleted, "dirs_removed": dirs_removed}
