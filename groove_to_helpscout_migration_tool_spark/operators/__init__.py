"""Engine operators: error side-channel, lookup joins, dedup, group-back,
similarity. These are the composable building blocks the pipelines in
plans/ assemble."""

from .cache import persist_artifact, unpersist_artifacts
from .errors import (
    group_error_report,
    write_error_csv,
)
from .joins import (
    validation_anti_join,
    dedup_anti_join,
    run_validations,
    ValidationError,
)

__all__ = [
    "persist_artifact",
    "unpersist_artifacts",
    "group_error_report",
    "write_error_csv",
    "validation_anti_join",
    "dedup_anti_join",
    "run_validations",
    "ValidationError",
]
